"""Seeded input generators for the three workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files (tests/test_gen.py checks this). The engine only ever
sees these files; it never sees the seed.
"""

import json
import os
import random

# One month of AMP results, aligned to the 3600 s rollup tier and to days.
T0 = 1696118400  # 2023-10-01T00:00:00Z
DAY = 86400
TIER = 3600
COLLECTION = "amp-external"

# dashboard_serve sizes
DASH_SOURCES = 6
DASH_DESTS = 20
DASH_DAYS = 30
DASH_PERIOD_S = 1800
DASH_POOL = 24
DASH_SEQ_LEN = 4000
DASH_MIX = [("matrix", 25), ("aggregate_tier", 25), ("aggregate_raw", 20),
            ("subscribe", 20), ("streams", 10)]

# live_ingest sizes
LIVE_SOURCES = 6
LIVE_DESTS = 25
LIVE_FILE_INTERVAL_MS = 200
LIVE_ROWS_PER_FILE = 30
LIVE_NEW_STREAM_SHARE = 0.03
LIVE_STEP_S = 60
LIVE_SUBSCRIBED = 10
# above the ~2 s micro-batch: a processing-time trigger starts batches on
# interval boundaries, so at 1 s the period flipped between 2 and 3 s with
# batch time and freshness medians moved by a third between runs
LIVE_TRIGGER_MS = 3000
LIVE_WARM_BATCHES = 3
LIVE_WARM_FILES_PER_BATCH = 3

# corpus_pipeline sizes
CORPUS_DOCS = 3000
CORPUS_VOCAB = 3000
CORPUS_EXACT_DUP = 0.05
CORPUS_NEAR_DUP = 0.08
CORPUS_PII = 0.10
CORPUS_EVAL_ITEMS = 40
CORPUS_EVAL_WORDS = 20
CORPUS_CONTAMINATED = 0.02


def zipf_weights(n, s=1.1):
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def stream_tuples(sources, dests, command="ping"):
    return [(f"amp-src{s:02d}", f"host{d:03d}.example.net", command)
            for s in range(sources) for d in range(dests)]


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
        f.write("\n")


def _labels(rng, popularity, n_labels, per_label):
    """Label groups of exactly `per_label` distinct stream ids each, drawn
    Zipf over stream ids 1..len(popularity): the seed moves which streams
    a request reads, not how much it reads."""
    ids = list(range(1, len(popularity) + 1))
    out = {}
    for i in range(n_labels):
        picked = set()
        while len(picked) < per_label:
            picked.add(rng.choices(ids, weights=popularity)[0])
        out[f"g{i}"] = sorted(picked)
    return out


def gen_dashboard(seed, out):
    """AMP collection (CSV, one row per result) plus a request pool and
    one request sequence per client thread."""
    rng = random.Random(f"dashboard_serve:{seed}")
    os.makedirs(out, exist_ok=True)
    streams = stream_tuples(DASH_SOURCES, DASH_DESTS)
    steps = DASH_DAYS * DAY // DASH_PERIOD_S
    rows = 0
    with open(os.path.join(out, "rows.csv"), "w") as f:
        f.write("source,destination,command,timestamp,value\n")
        for src, dst, cmd in streams:
            base = rng.randint(5, 300)
            prefix = f"{src},{dst},{cmd},"
            lines = []
            for k in range(steps):
                ts = T0 + k * DASH_PERIOD_S + rng.randrange(60)
                lines.append(f"{prefix}{ts},{base + rng.randrange(40)}\n")
            f.write("".join(lines))
            rows += steps
    # stream ids are assigned in unique-column order on the first load
    popularity = zipf_weights(len(streams))
    rng.shuffle(popularity)
    kinds = [k for k, _ in DASH_MIX]
    # every thread cycles one fixed order of request kinds holding the mix
    # exactly per 20 requests (threads start 7 apart), and the pool holds
    # it too: the seed moves which streams and windows each request reads,
    # not the mix or which kinds run side by side
    order = ["matrix", "aggregate_tier", "aggregate_raw", "subscribe", "matrix",
             "streams", "aggregate_tier", "subscribe", "aggregate_raw", "matrix",
             "aggregate_tier", "matrix", "aggregate_raw", "subscribe", "aggregate_tier",
             "streams", "matrix", "subscribe", "aggregate_tier", "aggregate_raw"]
    pool_kinds = [k for k, w in DASH_MIX for _ in range(round(DASH_POOL * w / 100))]
    aggs = [["value", "avg"], ["value", "max"], ["value", "count"]]
    pool = []
    for i, kind in enumerate(pool_kinds):
        if kind == "matrix":
            req = {"labels": _labels(rng, popularity, 3, 2), "aggs": aggs,
                   "start": T0, "stop": T0 + DASH_DAYS * DAY}
        elif kind == "aggregate_tier":
            day = rng.randrange(DASH_DAYS - 7)
            req = {"labels": _labels(rng, popularity, 2, 1), "aggs": aggs,
                   "start": T0 + day * DAY, "stop": T0 + (day + 7) * DAY,
                   "binsize": TIER * (1, 4, 24)[i % 3]}
        elif kind == "aggregate_raw":
            day = rng.randrange(DASH_DAYS - 2)
            req = {"labels": _labels(rng, popularity, 2, 1), "aggs": aggs,
                   "start": T0 + day * DAY, "stop": T0 + (day + 2) * DAY,
                   "binsize": 1500}
        elif kind == "subscribe":
            day = rng.randrange(DASH_DAYS - 7)
            req = {"labels": _labels(rng, popularity, 1, 2), "columns": ["value"],
                   "start": T0 + day * DAY, "stop": T0 + (day + 7) * DAY}
        else:
            req = {"minid": 0}
        req["type"] = kind
        req["id"] = i
        pool.append(req)
    with open(os.path.join(out, "requests.jsonl"), "w") as f:
        for r in pool:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n")
    by_kind = {k: [r["id"] for r in pool if r["type"] == k] for k in kinds}
    seqs = []
    for t in range(3):
        seqs.append([rng.choice(by_kind[order[(7 * t + i) % len(order)]])
                     for i in range(DASH_SEQ_LEN)])
    meta = {"collection": COLLECTION, "rows": rows, "streams": len(streams),
            "requests": len(pool), "tier_s": TIER, "t0": T0,
            "days": DASH_DAYS, "sequences": seqs}
    _write_json(os.path.join(out, "meta.json"), meta)
    return meta


def _live_row(seq, stream, ts):
    src, dst, cmd = stream
    return (f'{{"source":"{src}","destination":"{dst}","command":"{cmd}",'
            f'"timestamp":{ts},"value":{seq}}}\n')


def gen_live(seed, out, seconds):
    """Initial result file (registers the base streams) plus one file per
    landing slot, each row carrying a unique sequence number as `value`
    so freshness and exactly-once can be checked per row."""
    rng = random.Random(f"live_ingest:{seed}")
    os.makedirs(os.path.join(out, "files"), exist_ok=True)
    base = stream_tuples(LIVE_SOURCES, LIVE_DESTS)
    popularity = zipf_weights(len(base))
    rng.shuffle(popularity)
    seq = 0
    with open(os.path.join(out, "initial.json"), "w") as f:
        for s in base:
            seq += 1
            f.write(_live_row(seq, s, T0))
    n_files = (seconds * 1000) // LIVE_FILE_INTERVAL_MS
    n_warm = LIVE_WARM_BATCHES * LIVE_WARM_FILES_PER_BATCH
    os.makedirs(os.path.join(out, "warm"), exist_ok=True)
    new_streams = 0
    rows = 0
    # warm-up files (w*, landed at set-up) come first in time, then the
    # window's files (f*, landed on schedule by the generator)
    for k in range(1, n_warm + n_files + 1):
        warm = k <= n_warm
        i = k if warm else k - n_warm
        ts = T0 + k * LIVE_STEP_S
        n_new = sum(1 for _ in range(LIVE_ROWS_PER_FILE)
                    if rng.random() < LIVE_NEW_STREAM_SHARE)
        picked = set()
        while len(picked) < LIVE_ROWS_PER_FILE - n_new:
            picked.add(rng.choices(range(len(base)), weights=popularity)[0])
        lines = []
        for j in sorted(picked):
            seq += 1
            lines.append(_live_row(seq, base[j], ts))
        for _ in range(n_new):
            new_streams += 1
            seq += 1
            lines.append(_live_row(
                seq, (f"amp-new{new_streams:05d}", "host-new.example.net", "ping"), ts))
        if not warm:
            rows += len(lines)
        name = os.path.join("warm", f"w{i:06d}.json") if warm else \
            os.path.join("files", f"f{i:06d}.json")
        with open(os.path.join(out, name), "w") as f:
            f.write("".join(lines))
    top = sorted(range(len(base)), key=lambda j: -popularity[j])[:LIVE_SUBSCRIBED]
    # the initial load registers base streams in unique-column order
    order = sorted(range(len(base)), key=lambda j: base[j])
    sid = {j: order.index(j) + 1 for j in range(len(base))}
    reader_labels = [_labels(rng, [popularity[order[k]] for k in range(len(base))], 3, 2)
                     for _ in range(16)]
    meta = {"collection": COLLECTION, "t0": T0, "tier_s": TIER,
            "base_streams": len(base), "initial_rows": len(base),
            "files": n_files, "rows": rows, "new_streams": new_streams,
            "warm_batches": LIVE_WARM_BATCHES, "warm_files": n_warm,
            "file_interval_ms": LIVE_FILE_INTERVAL_MS,
            "offered_rows_per_s": LIVE_ROWS_PER_FILE * 1000 / LIVE_FILE_INTERVAL_MS,
            "trigger_ms": LIVE_TRIGGER_MS, "step_s": LIVE_STEP_S,
            "subscribed": sorted(sid[j] for j in top),
            "reader_labels": reader_labels,
            "reader_stop": T0 + TIER * (((n_warm + n_files) * LIVE_STEP_S) // TIER + 2)}
    _write_json(os.path.join(out, "meta.json"), meta)
    return meta


def _word(rng):
    letters = "abcdefghijklmnopqrstuvwxyz"
    return "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))


def gen_corpus(seed, out):
    """Training corpus with injected exact and near duplicates, PII spans
    and a contamination set of eval items inserted into some documents."""
    rng = random.Random(f"corpus_pipeline:{seed}")
    os.makedirs(out, exist_ok=True)
    vocab = sorted({_word(rng) for _ in range(CORPUS_VOCAB)})
    weights = zipf_weights(len(vocab), 0.9)
    rng.shuffle(weights)

    def sentence(n):
        return rng.choices(vocab, weights=weights, k=n)

    evals = [" ".join(sentence(CORPUS_EVAL_WORDS)) for _ in range(CORPUS_EVAL_ITEMS)]
    docs = []
    # copies are made of original documents only, so every near-duplicate
    # component is a star and its size, not the seed, sets the work
    originals = []
    for i in range(CORPUS_DOCS):
        words = sentence(rng.randint(60, 160))
        r = rng.random()
        if originals and r < CORPUS_EXACT_DUP:
            docs.append(rng.choice(originals))
            continue
        if originals and r < CORPUS_EXACT_DUP + CORPUS_NEAR_DUP:
            words = rng.choice(originals).split(" ")
            for k in range(len(words)):
                if rng.random() < 0.04:
                    words[k] = rng.choice(vocab)
        if rng.random() < CORPUS_PII:
            pii = rng.choice([
                f"{rng.choice(vocab)}@{rng.choice(vocab)}.org",
                f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
                f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"])
            words.insert(rng.randrange(len(words)), pii)
        docs.append(" ".join(words))
        if r >= CORPUS_EXACT_DUP + CORPUS_NEAR_DUP:
            originals.append(docs[-1])
    contaminated = []
    for i in sorted(rng.sample(range(CORPUS_DOCS), int(CORPUS_DOCS * CORPUS_CONTAMINATED))):
        words = docs[i].split(" ")
        at = rng.randrange(len(words))
        docs[i] = " ".join(words[:at] + [rng.choice(evals)] + words[at:])
        contaminated.append(i + 1)
    with open(os.path.join(out, "docs.jsonl"), "w") as f:
        for i, t in enumerate(docs):
            f.write(json.dumps({"id": i + 1, "text": t}, separators=(",", ":")) + "\n")
    with open(os.path.join(out, "eval.jsonl"), "w") as f:
        for i, t in enumerate(evals):
            f.write(json.dumps({"id": i + 1, "text": t}, separators=(",", ":")) + "\n")
    meta = {"docs": len(docs), "distinct_texts": len(set(docs)),
            "eval_items": len(evals), "contaminated": contaminated,
            "vocab": len(vocab)}
    _write_json(os.path.join(out, "meta.json"), meta)
    return meta


def generate(workload, seed, out, seconds):
    if workload == "dashboard_serve":
        return gen_dashboard(seed, out)
    if workload == "live_ingest":
        return gen_live(seed, out, seconds)
    if workload == "corpus_pipeline":
        return gen_corpus(seed, out)
    raise ValueError(f"unknown workload {workload}")
