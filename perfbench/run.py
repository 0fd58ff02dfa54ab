#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload dashboard_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), starts the engine JVM and the load-generator JVM,
measures for --seconds, checks every output, and prints the metrics. The
last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Lines before it name each metric with its
unit and base count, plus the host load sampled during the run.
See perfbench/README.md for the workloads and metric definitions.
"""

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
# the workloads BENCHMARK.json lists; dashboard_serve runs the same way but
# is left out of the gated set (README.md, "Workloads")
WORKLOADS = ("live_ingest", "corpus_pipeline")
ALL_WORKLOADS = ("dashboard_serve",) + WORKLOADS
# (name, unit, better) of every metric BENCHMARK.json lists
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p90_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
]
PER_LAYER = [
    ("serve.live_relay_ms", "ms", "lower"),
    ("query.analysis_ms", "ms", "lower"),
    ("query.optimization_ms", "ms", "lower"),
    ("query.planning_ms", "ms", "lower"),
    ("query.rows_scanned_per_row_returned", "ratio", "lower"),
    ("rollup.tier_req_p50_ms", "ms", "lower"),
    ("rollup.tier_routed_ratio", "ratio", "higher"),
    ("rollup.append_ms", "ms", "lower"),
    ("storage.files_read_per_op", "files", "lower"),
    ("storage.bytes_read_per_op", "bytes", "lower"),
    ("storage.files_written_per_batch", "files", "lower"),
    ("storage.bytes_per_row", "B/row", "lower"),
    ("storage.write_ms", "ms", "lower"),
    ("catalog.register_ms", "ms", "lower"),
    ("catalog.resolve_ms", "ms", "lower"),
    ("catalog.new_streams_per_batch", "count", "lower"),
    ("ingest.normalize_ms", "ms", "lower"),
    ("streaming.batch_ms_p50", "ms", "lower"),
    ("streaming.batch_ms_p90", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.list_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.rows_per_batch", "rows", "lower"),
    ("streaming.idle_share", "ratio", "higher"),
    ("streaming.backlog_files_end", "files", "lower"),
    ("pipeline.exact_dedup_s", "s", "lower"),
    ("pipeline.near_dedup_s", "s", "lower"),
    ("pipeline.decontaminate_s", "s", "lower"),
    ("pipeline.quality_cut_s", "s", "lower"),
    ("pipeline.pii_redact_s", "s", "lower"),
    ("pipeline.split_s", "s", "lower"),
    ("pipeline.cache_bytes_peak", "bytes", "lower"),
    ("pipeline.pins_left", "count", "lower"),
    ("functions.minhash_sig_s", "s", "lower"),
    ("functions.doc_stats_s", "s", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.driver_gap_ms", "ms", "lower"),
    ("spark.task_wait_ms", "ms", "lower"),
    ("spark.exec_run_ms", "ms", "lower"),
    ("spark.exec_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.core_utilization", "ratio", "higher"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("bench.gen_late_p90_ms", "ms", "lower"),
    ("bench.tracing_overhead", "ratio", "lower"),
]
# measured only by dashboard_serve, printed by its traced runs
DASHBOARD_LAYERS = [
    ("serve.ttfb_ms", "ms", "lower"),
    ("serve.drain_ms", "ms", "lower"),
    ("serve.reply_bytes", "bytes", "lower"),
    ("serve.encode_ms", "ms", "lower"),
    ("serve.wire_overhead_ms", "ms", "lower"),
    ("serve.history_req_p50_ms", "ms", "lower"),
    ("query.build_ms", "ms", "lower"),
    ("query.raw_req_p50_ms", "ms", "lower"),
]
JVM_OPTS = [
    *[x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # no hsperfdata file in the system temp directory: the benchmark writes
    # only inside its checkout
    "-XX:-UsePerfData",
]
ENGINE_HEAP = "3g"
ENGINE_JVM_OPTS = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", f"-Xms{ENGINE_HEAP}",
                   "-XX:+AlwaysPreTouch"]


def now_ms():
    return time.time() * 1000.0


class Jvm:
    """A child JVM speaking the line handshake on stdin/stdout."""

    def __init__(self, cp, main, args, work, name, heap, opts=()):
        self.name = name
        self.log_path = os.path.join(work, f"{name}.log")
        self.log = open(self.log_path, "w")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", *JVM_OPTS, *opts,
               "-cp", cp, main]
        cmd += [str(a) for a in args]
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, cwd=work)
        self.lines = queue.Queue()
        self.marks = [(f"{name}.spawn", time.time())]
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, prefix, timeout):
        deadline = time.time() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.time()))
            except queue.Empty:
                raise RuntimeError(f"{self.name}: no '{prefix}' within {timeout:.0f}s"
                                   + self._tail())
            if line is None:
                raise RuntimeError(f"{self.name} exited before '{prefix}'" + self._tail())
            if line.startswith(prefix):
                self.marks.append((f"{self.name}.{prefix.lower()}", time.time()))
                return line[len(prefix):].strip()

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def _tail(self):
        self.log.flush()
        with open(self.log_path) as f:
            return "\n" + "".join(f.readlines()[-25:])

    def wait(self, timeout):
        self.p.wait(timeout=timeout)

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.log.close()


class HostLoad:
    """Samples the 1-minute load average and the CPU share used by
    processes other than this benchmark's (hypervisor steal included, and
    also shown on its own), throughout the run."""

    def __init__(self, pids_fn, period=0.5):
        self.pids_fn = pids_fn
        self.period = period
        self.load = []
        self.other = []
        self.steal = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _cpu():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        steal = v[7] if len(v) > 7 else 0
        return sum(v[:8]), sum(v[:8]) - idle, steal

    @staticmethod
    def _ticks(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            return int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            return 0

    def _ours(self):
        return {p: self._ticks(p) for p in [os.getpid(), *self.pids_fn()]}

    def _run(self):
        total0, busy0, steal0 = self._cpu()
        ours0 = self._ours()
        while not self._stop.wait(self.period):
            total, busy, steal = self._cpu()
            ours = self._ours()
            # a process that exited between samples drops out of both sides
            mine = sum(max(0, t - ours0.get(p, 0)) for p, t in ours.items())
            if total > total0:
                self.other.append(min(1.0, max(0.0, (busy - busy0 - mine) / (total - total0))))
                self.steal.append((steal - steal0) / (total - total0))
            total0, busy0, steal0, ours0 = total, busy, steal, ours
            with open("/proc/loadavg") as f:
                self.load.append(float(f.read().split()[0]))

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    def line(self):
        def mx(xs):
            return max(xs) if xs else 0.0
        return (f"host_load samples={len(self.load)} loadavg1_mean={mean(self.load):.2f} "
                f"loadavg1_max={mx(self.load):.2f} other_cpu_share_mean={mean(self.other):.3f} "
                f"other_cpu_share_max={mx(self.other):.3f} "
                f"steal_share_mean={mean(self.steal):.3f}")


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def read_json(path):
    with open(path) as f:
        return json.load(f)


def closed_loop_rate(ops, start_at):
    """Requests per second of a closed loop: per client thread, completed
    requests over the time to its last completion (both end on a request
    boundary, so the op in flight when the window closes adds no phase
    noise), summed over threads."""
    by = {}
    for o in ops:
        by.setdefault(o.get("thread", 0), []).append(o["end"])
    return sum(len(e) / ((max(e) - start_at) / 1000.0) for e in by.values())


def setup_s(rec):
    """Session start, the median of the repeated input loads, and warm-up."""
    return (rec["session_ms"] + stats.percentile(rec["rep_ms"], 50) + rec["warm_ms"]) / 1000.0


class Run:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".bench_work", args.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.inputs = os.path.join(self.work, "inputs")
        self.jvms = []
        self.lines = []  # info lines printed before the result
        self.e2e = {}
        self.layer = {}

    def jvm(self, main, args, name, heap):
        # the engine JVM's heap is fixed in size and touched up front, so its
        # peak RSS does not depend on when the collector grows or promotes
        # into it (without, runs of one workload differed by up to 30%);
        # what moves it is memory outside the heap
        opts = ENGINE_JVM_OPTS + [f"-Xlog:gc:file={self.work}/gc-{name}.log"] \
            if name in ("server", "driver") else ()
        j = Jvm(self.cp, main, args, self.work, name, heap, opts)
        self.jvms.append(j)
        return j

    def pids(self):
        return [j.p.pid for j in self.jvms if j.p.poll() is None]

    def info(self, name, value, unit, base=None, note=None):
        self.lines.append(stats.metric_line(name, round(value, 6), unit, base, note))

    def put_layer(self, name, value, unit, base):
        assert (name, unit) in {(n, u) for n, u, _ in PER_LAYER + DASHBOARD_LAYERS}, name
        self.layer[name] = (value, unit)
        self.info(name, value, unit, base)

    # ---- workloads -------------------------------------------------------

    def dashboard(self):
        a = self.args
        trace = int(a.trace)
        server = self.jvm("graft.perfbench.DashServer",
                          ["--t0", now_ms(), "--work", self.work, "--inputs", self.inputs,
                           "--trace", trace, "--cores", CORES, "--reps", SETUP_REPS],
                          "server", ENGINE_HEAP)
        client = self.jvm("graft.perfbench.DashClient",
                          ["--inputs", self.inputs, "--work", self.work, "--trace", trace,
                           "--seconds", a.seconds], "client", "512m")
        port = server.expect("READY", 170)
        start_at = now_ms() + 500
        mid = start_at + a.seconds * 500
        if trace:
            server.send(f"TRACE_AT {mid}")
        client.send(f"GO {port} {start_at}")
        client.expect("CLIENT_DONE", a.seconds + 120)
        client.wait(30)
        server.send("VERIFY")
        server.expect("DONE", 150)
        server.wait(30)
        srv = read_json(os.path.join(self.work, "server.json"))
        ops = read_jsonl(os.path.join(self.work, "client_ops.jsonl"))
        checks = {c["op"]: c["ok"] for c in srv["checks"]}
        failed = sum(1 for o in ops if not checks.get(o["op"], False))
        lat = [o["end"] - o["start"] for o in ops]
        rate = closed_loop_rate(ops, start_at)
        s = stats.summarize(lat)
        self.e2e = {"setup_s": (setup_s(srv), "s"), "peak_rss_mb": (srv["rss_mb"], "MB"),
                    "latency_p50_ms": (s["p50"], "ms"),
                    "latency_p90_ms": (stats.percentile(lat, 90), "ms"),
                    "throughput_per_s": (rate, "1/s")}
        self.info("req_p50_ms", s["p50"], "ms", s["n"])
        self.info(f"req_p{s['tail_pct']:.0f}_ms", s["tail"], "ms", s["n"],
                  f"beyond={s['beyond']}")
        self.info("req_per_s", rate, "req/s", len(ops))
        if trace:
            self.dashboard_layers(srv, ops, mid)
        return len(ops), failed

    def spans(self, path):
        recs = read_jsonl(path)
        jobs = [r for r in recs if r["kind"] == "job"]
        stages = [r for r in recs if r["kind"] == "stage"]
        return recs, jobs, stages

    def spark_layers(self, op_spans, jobs, stages, base_name):
        """Parent jobs to the op in flight and stages to their job; report
        the per-op Spark counts, self time and task accounting."""
        by_job = {}
        for st in stages:
            by_job.setdefault(st["job"], []).append(st)
        per_op = []
        tree = []
        for op_id, (s, e), batch in op_spans:
            if batch is not None:
                js = [j for j in jobs if j.get("batch") == str(batch)]
            else:
                js = [j for j in jobs if j.get("batch") is None and s <= j["start"] <= e]
            sts = [st for j in js for st in by_job.get(j["id"], [])]
            tree.append({"span": f"op:{op_id}", "name": base_name, "op": op_id, "parent": None,
                         "start": s, "end": e, "self_ms": stats.self_time(
                             (s, e), [(j["start"], j["end"]) for j in js])})
            for j in js:
                kids = [(st["start"], st["end"]) for st in by_job.get(j["id"], [])]
                tree.append({"span": f"job:{j['id']}", "name": "spark.job", "op": op_id,
                             "parent": f"op:{op_id}", "start": j["start"], "end": j["end"],
                             "self_ms": stats.self_time((j["start"], j["end"]), kids)})
                tree += [{"span": f"stage:{st['id']}", "name": "spark.stage", "op": op_id,
                          "parent": f"job:{j['id']}", "start": st["start"], "end": st["end"],
                          "self_ms": st["end"] - st["start"]}
                         for st in by_job.get(j["id"], [])]
            per_op.append({
                "wall": e - s, "jobs": len(js), "stages": len(sts),
                "tasks": sum(st["tasks"] for st in sts),
                "gap": stats.self_time((s, e), [(j["start"], j["end"]) for j in js]),
                **{k: sum(st[k] for st in sts) for k in
                   ("wait_ms", "run_ms", "cpu_ms", "gc_ms", "shuffle_write", "shuffle_read",
                    "spill")}})
        with open(os.path.join(self.work, "spans.jsonl"), "w") as f:
            f.writelines(json.dumps(t, sort_keys=True) + "\n" for t in tree)
        n = len(per_op)

        def m(k):
            return mean([p[k] for p in per_op])
        P = self.put_layer
        P("spark.jobs_per_op", m("jobs"), "count", n)
        P("spark.stages_per_op", m("stages"), "count", n)
        P("spark.tasks_per_op", m("tasks"), "count", n)
        P("spark.driver_gap_ms", m("gap"), "ms", n)
        P("spark.task_wait_ms", m("wait_ms"), "ms", n)
        P("spark.exec_run_ms", m("run_ms"), "ms", n)
        P("spark.exec_cpu_ms", m("cpu_ms"), "ms", n)
        P("spark.gc_ms", m("gc_ms"), "ms", n)
        wall = sum(p["wall"] for p in per_op)
        P("spark.core_utilization",
          sum(p["run_ms"] for p in per_op) / (wall * CORES) if wall else 0.0, "ratio", n)
        P("spark.shuffle_write_bytes", m("shuffle_write"), "bytes", n)
        P("spark.shuffle_read_bytes", m("shuffle_read"), "bytes", n)
        P("spark.spill_bytes", m("spill"), "bytes", n)
        self.info("ops_traced", n, "count", n, f"({base_name})")

    def dashboard_layers(self, srv, ops, mid):
        _, jobs, stages = self.spans(os.path.join(self.work, "server_spans.jsonl"))
        a_ops = [o for o in ops if o["start"] < mid]
        b_ops = [o for o in ops if o["start"] >= mid]
        reqs = {r["req"]: r for r in srv["requests"]}
        lat = {o["op"]: o["end"] - o["start"] for o in b_ops}
        self.spark_layers([(o["op"], (o["start"], o["end"]), None) for o in b_ops],
                          jobs, stages, "dashboard requests")
        P = self.put_layer
        n = len(b_ops)

        def per_op(k):
            return mean([reqs[o["req"]][k] for o in b_ops])
        P("serve.ttfb_ms", mean([o["first"] - o["start"] for o in b_ops]), "ms", n)
        P("serve.drain_ms", mean([o["end"] - o["first"] for o in b_ops]), "ms", n)
        P("serve.reply_bytes", mean([o["bytes"] for o in b_ops]), "bytes", n)
        P("serve.encode_ms", per_op("encode_ms"), "ms", n)
        P("serve.wire_overhead_ms",
          mean([lat[o["op"]] - reqs[o["req"]]["drain_ms"] for o in b_ops]), "ms", n)
        hist = [lat[o["op"]] for o in b_ops if o["kind"] == "subscribe"]
        P("serve.history_req_p50_ms", stats.percentile(hist, 50) if hist else 0.0, "ms",
          len(hist))
        P("query.build_ms", per_op("build_ms"), "ms", n)
        for ph in ("analysis", "optimization", "planning"):
            P(f"query.{ph}_ms", per_op(f"{ph}_ms"), "ms", n)
        raw = [lat[o["op"]] for o in b_ops if o["kind"] == "aggregate_raw"]
        P("query.raw_req_p50_ms", stats.percentile(raw, 50) if raw else 0.0, "ms", len(raw))
        scanned = sum(reqs[o["req"]]["rows_scanned"] for o in b_ops)
        returned = sum(reqs[o["req"]]["result_rows"] for o in b_ops)
        P("query.rows_scanned_per_row_returned", scanned / returned if returned else 0.0,
          "ratio", returned)

        def routed(r):
            return any(srv["tier_root"] in root for root in r["roots"])
        eligible = [o for o in b_ops if o["kind"] in ("matrix", "aggregate_tier")]
        tier_ops = [o for o in b_ops if routed(reqs[o["req"]])]
        tier_lat = [lat[o["op"]] for o in tier_ops]
        P("rollup.tier_req_p50_ms", stats.percentile(tier_lat, 50) if tier_lat else 0.0, "ms",
          len(tier_lat))
        P("rollup.tier_routed_ratio",
          sum(1 for o in eligible if routed(reqs[o["req"]])) / len(eligible) if eligible
          else 0.0, "ratio", len(eligible))
        P("storage.files_read_per_op", per_op("files_read"), "files", n)
        P("storage.bytes_read_per_op", per_op("bytes_read"), "bytes", n)
        la = [o["end"] - o["start"] for o in a_ops]
        self.overhead(stats.percentile(lat.values(), 50), stats.percentile(la, 50),
                      len(b_ops), len(a_ops))

    def overhead(self, traced, untraced, nb, na):
        r = traced / untraced if untraced else 0.0
        self.put_layer("bench.tracing_overhead", r, "ratio", nb)
        self.info("tracing_overhead_latency_p50", r, "ratio", na,
                  "(traced second half / untraced first half of the window)")

    def live(self):
        a = self.args
        trace = int(a.trace)
        meta = self.meta
        server = self.jvm("graft.perfbench.LiveServer",
                          ["--t0", now_ms(), "--work", self.work, "--inputs", self.inputs,
                           "--trace", trace, "--cores", CORES, "--reps", SETUP_REPS,
                           "--trigger-ms", meta["trigger_ms"]], "server", ENGINE_HEAP)
        client = self.jvm("graft.perfbench.LiveClient",
                          ["--inputs", self.inputs, "--work", self.work,
                           "--seconds", a.seconds], "client", "512m")
        port, landing = server.expect("READY", 170).split()
        # the subscriber connects and backfills before the window opens
        start_at = now_ms() + 1500
        mid = start_at + a.seconds * 500
        if trace:
            server.send(f"TRACE_AT {mid}")
        client.send(f"GO {port} {landing} {start_at}")
        client.expect("LANDED", a.seconds + 60)
        server.send("DRAIN")
        server.expect("DRAINED", 120)
        client.send("FINISH")
        client.expect("CLIENT_DONE", 60)
        client.wait(30)
        server.send("VERIFY")
        server.expect("DONE", 170)
        server.wait(30)
        srv = read_json(os.path.join(self.work, "server.json"))
        cli = read_json(os.path.join(self.work, "client.json"))
        committed = read_jsonl(os.path.join(self.work, "committed.jsonl"))

        # the generated rows of every landed file: value -> (tuple, ts, file)
        interval = cli["interval_ms"]
        landed = len(cli["landed_at"])
        gen_rows = {}
        warm = [os.path.join("warm", f"w{i:06d}.json") for i in range(1, meta["warm_files"] + 1)]
        for i, path in [(0, p) for p in ["initial.json"] + warm] + [
                (i, os.path.join("files", f"f{i:06d}.json")) for i in range(1, landed + 1)]:
            for r in read_jsonl(os.path.join(self.inputs, path)):
                gen_rows[r["value"]] = ((r["source"], r["destination"], r["command"]),
                                        r["timestamp"], i)
        # storage: every generated row exactly once, with its own tuple
        seen = {}
        for src, dst, cmd, ts, value, sid in committed:
            seen.setdefault(value, []).append(((src, dst, cmd), ts, sid))
        bad_rows = sum(1 for v, g in gen_rows.items()
                       if len(seen.get(v, [])) != 1 or seen[v][0][:2] != g[:2])
        bad_rows += sum(len(x) for v, x in seen.items() if v not in gen_rows)
        sid_of = {x[0][0]: x[0][2] for x in seen.values()}
        # subscriber: every row of a subscribed stream exactly once, in
        # timestamp order per stream
        subscribed = set(meta["subscribed"])
        want = {v for v, g in gen_rows.items() if sid_of.get(g[0]) in subscribed}
        got = [h[0] for h in cli["history"]] + [r[0] for r in cli["received"]]
        counts = {}
        for v in got:
            counts[v] = counts.get(v, 0) + 1
        bad_sub = sum(1 for v in want if counts.get(v) != 1)
        bad_sub += sum(c for v, c in counts.items() if v not in want)
        last = {}
        for v, sid, ts, *_ in cli["history"] + cli["received"]:
            if ts <= last.get(sid, -1):
                bad_sub += 1
            last[sid] = ts
        reads = cli["reads"]
        bad_reads = sum(1 for r in reads if not r["ok"])
        attempted = len(gen_rows) + len(want) + len(reads)
        failed = bad_rows + bad_sub + bad_reads

        start = cli["start_at"]

        def sched(i):
            return start + (i - 1) * interval
        fresh = [(sched(gen_rows[v][2]), t - sched(gen_rows[v][2]))
                 for v, _, _, t in cli["received"] if v in gen_rows and gen_rows[v][2] > 0]
        f = stats.summarize([x for _, x in fresh])
        late = [t - sched(i + 1) for i, t in enumerate(cli["landed_at"])]
        # rows committed per batch, from the files the source log says it
        # read (progress numInputRows counts every re-scan of the batch)
        file_rows = {}
        for v, (_, _, i) in gen_rows.items():
            file_rows[i] = file_rows.get(i, 0) + 1
        committed_rows = {int(k): sum(file_rows.get(int(n[1:7]), 0) for n in names
                                      if n.startswith("f"))
                          for k, names in srv["batch_files"].items()}
        batches = sorted((b for b in srv["batches"]
                          if b["rows"] > 0 and start <= b["start"] <= srv["window_end"]),
                         key=lambda b: b["start"])
        rows_in = [committed_rows.get(b["batch"], 0) for b in batches]
        # batch i commits the files landed since batch i-1 listed, so the
        # rows of batches 2..k over the time between the first and the last
        # commit is the committed rate (batch starts would give exactly the
        # offered rate, since the trigger starts batches on fixed boundaries)
        if len(batches) >= 2:
            rate = sum(rows_in[1:]) / ((batches[-1]["end"] - batches[0]["end"]) / 1000.0)
        else:
            rate = sum(rows_in) / a.seconds
        rl = stats.summarize([r["end"] - r["start"] for r in reads])
        self.e2e = {"setup_s": (setup_s(srv), "s"), "peak_rss_mb": (srv["rss_mb"], "MB"),
                    "latency_p50_ms": (f["p50"], "ms"),
                    "latency_p90_ms": (stats.percentile([x for _, x in fresh], 90), "ms"),
                    "throughput_per_s": (rate, "1/s")}
        self.info("freshness_p50_ms", f["p50"], "ms", f["n"])
        self.info(f"freshness_p{f['tail_pct']:.0f}_ms", f["tail"], "ms", f["n"],
                  f"beyond={f['beyond']}")
        self.info("ingest_rows_per_s", rate, "rows/s", sum(rows_in),
                  f"offered={meta['offered_rows_per_s']}")
        self.info("req_p50_ms", rl["p50"], "ms", rl["n"], "(reader)")
        self.info(f"req_p{rl['tail_pct']:.0f}_ms", rl["tail"], "ms", rl["n"],
                  f"beyond={rl['beyond']} (reader)")
        self.info("req_per_s", closed_loop_rate(reads, start), "req/s", len(reads), "(reader)")
        self.info("gen_late_p90_ms", stats.percentile(late, 90) if late else 0.0, "ms",
                  len(late))
        if trace:
            self.live_layers(srv, cli, reads, fresh, late, mid, gen_rows)
        return attempted, failed

    def live_layers(self, srv, cli, reads, fresh, late, mid, gen_rows):
        recs, jobs, stages = self.spans(os.path.join(self.work, "server_spans.jsonl"))
        P = self.put_layer
        # micro-batches that start in the traced half, the drain included
        b = [x for x in srv["batches"] if x["rows"] > 0 and x["start"] >= mid]
        self.spark_layers([(x["batch"], (x["start"], x["end"]), x["batch"]) for x in b],
                          jobs, stages, "micro-batches")
        d = [x["durations"] for x in b]
        te = [x.get("triggerExecution", 0) for x in d]
        n = len(b)
        P("streaming.batch_ms_p50", stats.percentile(te, 50) if te else 0.0, "ms", n)
        P("streaming.batch_ms_p90", stats.percentile(te, 90) if te else 0.0, "ms", n)
        P("streaming.add_batch_ms", mean([x.get("addBatch", 0) for x in d]), "ms", n)
        P("streaming.list_ms", mean([x.get("latestOffset", 0) + x.get("getBatch", 0)
                                     for x in d]), "ms", n)
        P("streaming.commit_ms", mean([x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                       for x in d]), "ms", n)
        P("streaming.rows_per_batch", mean([x["rows"] for x in b]), "rows", n)
        inside = [x["durations"].get("triggerExecution", 0) for x in b
                  if x["end"] <= srv["window_end"]]
        span = srv["window_end"] - mid
        P("streaming.idle_share", max(0.0, 1.0 - sum(inside) / span) if span > 0 else 0.0,
          "ratio", len(inside))
        P("streaming.backlog_files_end",
          float(srv["landed_at_end"] - srv["committed_files_at_end"]), "files", 1)
        rep = [r for r in srv["replay"] if r["batch"] > 0]
        m = len(rep)

        def rmean(k):
            return mean([r[k] for r in rep])
        P("catalog.register_ms", rmean("register_ms"), "ms", m)
        P("catalog.resolve_ms", rmean("resolve_ms"), "ms", m)
        P("catalog.new_streams_per_batch", rmean("new_streams"), "count", m)
        P("ingest.normalize_ms", rmean("normalize_ms"), "ms", m)
        P("storage.write_ms", mean([r["ingest_ms"] - r["register_ms"] - r["normalize_ms"]
                                    for r in rep]), "ms", m)
        P("rollup.append_ms", rmean("append_ms"), "ms", m)
        nb = len(srv["batch_files"])
        P("storage.files_written_per_batch",
          (srv["data_files"] + srv["tier_files"]) / nb if nb else 0.0, "files", nb)
        rows = len(gen_rows)
        P("storage.bytes_per_row", srv["disk_bytes"] / rows if rows else 0.0, "B/row", rows)
        pub = {}
        for p in srv["published"]:
            for v in p["values"]:
                pub.setdefault(v, p["t"])
        relay = [t - pub[v] for v, _, _, t in cli["received"] if v in pub]
        P("serve.live_relay_ms", mean(relay), "ms", len(relay))
        rb = [r for r in reads if r["start"] >= mid]
        lat = [r["end"] - r["start"] for r in rb]
        queries = [q for q in recs if q["kind"] == "query" and q["func"] == "collect"
                   and any(srv["tier_root"] in root for root in q["roots"])]
        per = []
        for r in rb:
            qs = [q for q in queries if r["start"] <= q["end"] <= r["end"]]
            per.append(qs[0] if qs else None)
        hit = [q for q in per if q]
        P("rollup.tier_req_p50_ms", stats.percentile(lat, 50) if lat else 0.0, "ms", len(lat))
        P("rollup.tier_routed_ratio", len(hit) / len(rb) if rb else 0.0, "ratio", len(rb))
        for ph in ("analysis", "optimization", "planning"):
            P(f"query.{ph}_ms", mean([q[f"{ph}_ms"] for q in hit]), "ms", len(hit))
        returned = sum(r.get("rows", 0) for r, q in zip(rb, per) if q)
        P("query.rows_scanned_per_row_returned",
          sum(q["rows_scanned"] for q in hit) / returned if returned else 0.0, "ratio", returned)
        P("storage.files_read_per_op", mean([q["files_read"] for q in hit]), "files", len(hit))
        P("storage.bytes_read_per_op", mean([q["bytes_read"] for q in hit]), "bytes", len(hit))
        P("bench.gen_late_p90_ms", stats.percentile(late, 90) if late else 0.0, "ms", len(late))
        fb = [x for s, x in fresh if s >= mid]
        fa = [x for s, x in fresh if s < mid]
        self.overhead(stats.percentile(fb, 50) if fb else 0.0,
                      stats.percentile(fa, 50) if fa else 0.0, len(fb), len(fa))

    def corpus(self):
        a = self.args
        trace = int(a.trace)
        drv = self.jvm("graft.perfbench.Corpus",
                       ["--t0", now_ms(), "--work", self.work, "--inputs", self.inputs,
                        "--trace", trace, "--cores", CORES, "--reps", SETUP_REPS,
                        "--seconds", a.seconds], "driver", ENGINE_HEAP)
        drv.expect("READY", 170)
        drv.expect("DONE", a.seconds + 150)
        drv.wait(30)
        srv = read_json(os.path.join(self.work, "server.json"))
        chains = srv["chains"]
        ref = chains[0]["split_checksum"]
        attempted = failed = 0
        for c in chains:
            attempted += len(c["stages"])
            failed += (c["exact_groups"] != srv["distinct_texts"]) + \
                (c["contaminated_left"] != 0) + (c["split_checksum"] != ref)
        runs = [c["stages"][-1]["end"] - c["stages"][0]["start"] for c in chains]
        wall = (chains[-1]["stages"][-1]["end"] - srv["start_at"]) / 1000.0
        r = stats.summarize(runs)
        self.e2e = {"setup_s": (setup_s(srv), "s"), "peak_rss_mb": (srv["rss_mb"], "MB"),
                    "latency_p50_ms": (r["p50"], "ms"),
                    "latency_p90_ms": (stats.percentile(runs, 90), "ms"),
                    "throughput_per_s": (srv["docs"] * len(chains) / wall, "1/s")}
        self.info("run_s", r["p50"] / 1000.0, "s", r["n"])
        self.info("docs_per_s", srv["docs"] * len(chains) / wall, "docs/s", len(chains))
        if trace:
            self.corpus_layers(srv, chains)
        return attempted, failed

    def corpus_layers(self, srv, chains):
        _, jobs, stages = self.spans(os.path.join(self.work, "server_spans.jsonl"))
        tc = [c for c in chains if c["traced"]]
        uc = [c for c in chains if not c["traced"]]
        ops = [(f"{c['chain']}.{s['name']}", (s["start"], s["end"]), None)
               for c in tc for s in c["stages"]]
        self.spark_layers(ops, jobs, stages, "pipeline stages")
        P = self.put_layer
        n = len(tc)
        for name in ("exact_dedup", "near_dedup", "decontaminate", "quality_cut",
                     "pii_redact", "split"):
            P(f"pipeline.{name}_s", mean([(s["end"] - s["start"]) / 1000.0 for c in tc
                                          for s in c["stages"] if s["name"] == name]), "s", n)
        P("pipeline.cache_bytes_peak", float(max([c["cache_bytes_peak"] for c in tc] or [0])),
          "bytes", n)
        P("pipeline.pins_left", mean([c["pins_left"] for c in tc]), "count", n)
        P("functions.minhash_sig_s", mean([c["minhash_sig_s"] for c in tc]), "s", n)
        P("functions.doc_stats_s", mean([c["doc_stats_s"] for c in tc]), "s", n)

        def run(c):
            return c["stages"][-1]["end"] - c["stages"][0]["start"]
        self.overhead(stats.percentile([run(c) for c in tc], 50) if tc else 0.0,
                      stats.percentile([run(c) for c in uc], 50) if uc else 0.0, len(tc), len(uc))

    # ---- driver ----------------------------------------------------------

    def run(self):
        a = self.args
        t0 = time.time()
        self.cp = build.classpath()
        t1 = time.time()
        meta = self.meta = gen.generate(a.workload, a.seed, self.inputs, a.seconds)
        with HostLoad(self.pids) as load:
            attempted, failed = {"dashboard_serve": self.dashboard,
                                 "live_ingest": self.live,
                                 "corpus_pipeline": self.corpus}[a.workload]()
        self.lines.append(load.line())
        marks = sorted(m for j in self.jvms for m in j.marks)
        self.lines.append(f"wall_s build={t1 - t0:.1f} run={time.time() - t1:.1f} " +
                          " ".join(f"{k}=+{t - t1:.1f}" for k, t in marks))
        self.info("fail_ratio", failed / attempted if attempted else 1.0, "ratio", attempted)
        for k, (v, u) in self.e2e.items():
            self.info(k, v, u)
        if a.trace:
            # a layer this workload does not exercise reads 0 with base 0
            for name, unit, _ in PER_LAYER:
                if name not in self.layer:
                    self.put_layer(name, 0.0, unit, 0)
        metrics = self.layer if a.trace else self.e2e
        return meta, attempted, failed, metrics

    def close(self):
        for j in self.jvms:
            j.stop()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated runner still stops and reaps its JVMs (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    r = Run(a)
    try:
        _, attempted, failed, metrics = r.run()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    finally:
        r.close()
    for l in r.lines:
        print(l)
    print(stats.result_object(failed == 0, max(1, attempted), failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
