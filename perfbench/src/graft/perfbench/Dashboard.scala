package graft.perfbench

import java.io.{DataInputStream, DataOutputStream, File}
import java.net.Socket

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.ingest.Normalizers
import graft.query.{AggSpec, QueryEngine}
import graft.schema.Collections
import graft.serve.{JsonMini, Service, Wire, WireClient, WireServer}
import graft.storage.Layout
import graft.streaming.RollupStream

/** One request of the generated mix (see gen.py `gen_dashboard`). */
final case class DashRequest(
    id: Int,
    kind: String,
    labels: Map[String, Seq[Long]],
    aggs: Seq[(String, String)],
    columns: Seq[String],
    start: Long,
    stop: Long,
    binsize: Long) {

  def json: String = kind match {
    case "matrix" =>
      s"""{"request":"matrix","collection":"${Dash.Coll}","labels":${Dash.labelsJson(labels)},""" +
        s""""start":$start,"stop":$stop,"aggs":${Dash.aggsJson(aggs)}}"""
    case "aggregate_tier" | "aggregate_raw" =>
      s"""{"request":"aggregate","collection":"${Dash.Coll}","labels":${Dash.labelsJson(labels)},""" +
        s""""start":$start,"stop":$stop,"binsize":$binsize,"aggs":${Dash.aggsJson(aggs)}}"""
    case "subscribe" =>
      s"""{"request":"subscribe","collection":"${Dash.Coll}","labels":${Dash.labelsJson(labels)},""" +
        s""""columns":${columns.map(JsonMini.str).mkString("[", ",", "]")},"start":$start,"stop":$stop}"""
    case "streams" =>
      s"""{"request":"streams","collection":"${Dash.Coll}","minid":${Int.MinValue}}"""
  }
}

object Dash {
  val Coll = "amp-external"
  val Spec = Collections.ampExternal
  val Tier = 3600L
  // 2 stream buckets keep the month at 60 partition files; the engine
  // default (64) would spread 120 streams over ~1,700 tiny files
  val Buckets = 2

  def labelsJson(l: Map[String, Seq[Long]]): String =
    l.toSeq.sortBy(_._1).map { case (k, v) => s"${JsonMini.str(k)}:${v.mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")

  def aggsJson(a: Seq[(String, String)]): String =
    a.map { case (c, f) => s"[${JsonMini.str(c)},${JsonMini.str(f)}]" }.mkString("[", ",", "]")

  def readRequests(path: String): Vector[DashRequest] =
    Json.readLines(path).map { m =>
      def long(k: String) = m.get(k).map(JsonMini.asLong).getOrElse(0L)
      DashRequest(
        long("id").toInt,
        m("type").asInstanceOf[String],
        m.get("labels").map(_.asInstanceOf[Map[String, Any]].map { case (k, v) =>
          k -> v.asInstanceOf[Seq[Any]].map(JsonMini.asLong) }).getOrElse(Map.empty),
        m.get("aggs").map(_.asInstanceOf[Seq[Any]].map { p =>
          val s = p.asInstanceOf[Seq[Any]]; (s(0).toString, s(1).toString) }).getOrElse(Nil),
        m.get("columns").map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Nil),
        long("start"), long("stop"), long("binsize"))
    }.sortBy(_.id).toVector
}

/** The server JVM of `dashboard_serve`: loads the generated collection
  * through the engine's write paths, builds the 3600 s tier, serves it over
  * `WireServer`, and after the timed window checks every reply the client
  * recorded against a direct `Service` call.
  */
object DashServer {
  import Dash._

  final class Store(val dir: String, val service: Service, val server: WireServer,
      val data: DataFrame, val streams: DataFrame)

  def load(spark: SparkSession, inputs: String, dir: String, phases: Phases): Store = {
    val raw = spark.read.option("header", "true")
      .schema("source string, destination string, command string, timestamp long, value long")
      .csv(s"$inputs/rows.csv")
    // read once for both the registration and the data write
    val norm = Normalizers.external(raw).persist()
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Spec.streamSchema)
    phases("register")(Catalog.newStreams(empty, norm, Spec).write.parquet(s"$dir/streams"))
    val streams = spark.read.parquet(s"$dir/streams")
    val rows = Catalog.resolveStreamIds(norm, streams, Spec)
      .select(Spec.dataSchema.fieldNames.toIndexedSeq.map(col): _*)
    phases("layout_write")(Layout.writeData(rows, s"$dir/data", Buckets))
    norm.unpersist()
    val data = Layout.readData(spark, s"$dir/data")
      .withColumn("stream_id", col("stream_id").cast("long"))
    phases("tier_build")(
      RollupStream.appendPartials(data, Tier, "value", s"$dir/tier$Tier", epoch = 0))
    val service = new Service(spark,
      data = Map(Coll -> data), streams = Map(Coll -> streams),
      rollups = Map(Coll -> Service.RollupTiers("value", Map(Tier -> s"$dir/tier$Tier"))))
    val server = new WireServer(service, deadLetterPath = Some(s"$dir/deadletter"))
    new Store(dir, service, server, data, streams)
  }

  /** One wire request of each kind, so the JIT and Spark's code caches
    * are warm before timing.
    */
  def warm(store: Store, pool: Seq[DashRequest]): Unit = {
    val client = new WireClient("127.0.0.1", store.server.boundPort)
    pool.groupBy(_.kind).values.map(_.head).foreach(r => DashClient.viaClient(client, r))
  }

  /** The reply rows a direct `Service` call gives for a request, in wire
    * form, and how long draining that call took.
    */
  def direct(svc: Service, r: DashRequest): (Seq[Map[String, Any]], Double, Seq[Service.HistoryChunk]) = {
    val aggs = r.aggs.map { case (c, f) => AggSpec(c, f) }
    val t = System.nanoTime()
    val chunks: Seq[Service.HistoryChunk] = r.kind match {
      case "matrix" =>
        Seq(Service.HistoryChunk("", svc.matrix(Coll, r.labels, aggs, r.start, r.stop), false, 0))
      case "aggregate_tier" | "aggregate_raw" =>
        svc.aggregate(Coll, r.labels, aggs, r.start, r.stop, r.binsize).toVector
      case "subscribe" =>
        svc.history(Coll, r.labels, r.columns, r.start, r.stop).toVector
      case "streams" =>
        val pages = Vector.newBuilder[Service.HistoryChunk]
        var minid = Int.MinValue
        var more = true
        while (more) {
          val p = svc.streamsPage(Coll, minid)
          pages += Service.HistoryChunk("", p.rows, p.more, 0)
          more = p.more
          if (more) minid = p.rows.map(_.getAs[Int]("stream_id")).max
        }
        pages.result()
    }
    val ms = (System.nanoTime() - t) / 1e6
    (chunks.flatMap(c => Checksum.wireRows(c.rows)), ms, chunks)
  }

  /** The frame `Service` builds for a request, as its handler builds it. */
  def frame(store: Store, r: DashRequest): DataFrame = {
    val aggs = r.aggs.map { case (c, f) => AggSpec(c, f) }
    r.kind match {
      case "matrix" => store.service.matrixFrame(Coll, r.labels, aggs, r.start, r.stop)
      case "aggregate_tier" | "aggregate_raw" =>
        store.service.aggFrame(Coll, r.labels, aggs, r.start, r.stop, r.binsize)
      case "subscribe" =>
        QueryEngine.selectData(store.data, r.labels, r.columns, r.start, r.stop)
          .withColumn("binstart", col("timestamp"))
          .orderBy(QueryEngine.LabelCol, "timestamp")
      case "streams" =>
        store.streams.filter(col("stream_id") > Int.MinValue)
          .orderBy("stream_id").limit(Service.StreamsPageSize + 1)
    }
  }

  /** JSON + zlib + frame encoding of the reply chunks, as the server does it. */
  def encode(r: DashRequest, chunks: Seq[Service.HistoryChunk]): Unit = r.kind match {
    case "streams" => chunks.foreach(c =>
      Wire.pack(Wire.Streams, s"""{"rows":${JsonMini.rows(c.rows)},"more":${c.more}}""".getBytes("UTF-8")))
    case "matrix" => chunks.foreach(c =>
      Wire.pack(Wire.History, Wire.compress(s"""{"rows":${JsonMini.rows(c.rows)}}""".getBytes("UTF-8"))))
    case _ => chunks.foreach { c =>
      val body = s"""{"label":${JsonMini.str(c.label)},"more":${c.more},""" +
        s""""freq":${c.freq},"rows":${JsonMini.rows(c.rows)}}"""
      Wire.pack(Wire.History, Wire.compress(body.getBytes("UTF-8")))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val t0 = a.double("t0")
    val work = a.str("work")
    val inputs = a.str("inputs")
    val trace = a.bool("trace")
    val spark = LocalSession(a.int("cores", 4), work)
    val sessionMs = Clock.ms() - t0
    val pool = readRequests(s"$inputs/requests.jsonl")
    // set-up repeated: each rep loads the collection into a fresh store and
    // starts a server; the last rep's store is warmed and served
    val reps = a.int("reps", 3)
    var store: Store = null
    val phases = new Phases
    val repMs = (1 to reps).map { i =>
      if (store != null) { store.server.close(); Proc.deleteRecursively(new File(store.dir)) }
      val t = System.nanoTime()
      store = load(spark, inputs, s"$work/store$i", phases)
      (System.nanoTime() - t) / 1e6
    }
    val w0 = System.nanoTime()
    warm(store, pool)
    val warmMs = (System.nanoTime() - w0) / 1e6
    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(new SparkTrace(tracer))
      spark.listenerManager.register(new QueryTrace(tracer))
    }
    Handshake.say(s"READY ${store.server.boundPort}")
    if (trace) {
      // the first half of the window runs untraced, for the overhead ratio
      val at = Handshake.await("TRACE_AT").toDouble
      Clock.sleepUntil(at)
      tracer.on = true
    }
    Handshake.await("VERIFY")
    tracer.on = false
    val ops = Json.readLines(s"$work/client_ops.jsonl")
    val used = ops.map(o => JsonMini.asLong(o("req")).toInt).distinct.sorted
    // untraced runs check three requests at a time; traced runs one at a
    // time, since their drain times feed the wire-overhead split
    val checkers = java.util.concurrent.Executors.newFixedThreadPool(if (trace) 1 else 3)
    val expected = used
      .map(id => id -> checkers.submit(() => direct(store.service, pool(id))))
      .map { case (id, f) => id -> f.get() }.toMap
    checkers.shutdown()
    val checks = ops.map { o =>
      val id = JsonMini.asLong(o("req")).toInt
      val (rows, _, _) = expected(id)
      val ok = o("ok") == true && JsonMini.asLong(o("rows")) == rows.size &&
        JsonMini.asLong(o("checksum")) == Checksum.of(rows)
      Map("op" -> o("op"), "ok" -> ok)
    }
    // per-request layer breakdown from direct calls, issued one at a time
    val perReq = if (!trace) Nil else used.map { id =>
      val r = pool(id)
      val (rows, drainMs, chunks) = expected(id)
      val e0 = System.nanoTime()
      encode(r, chunks)
      val encodeMs = (System.nanoTime() - e0) / 1e6
      val b0 = System.nanoTime()
      val df = frame(store, r)
      val buildMs = (System.nanoTime() - b0) / 1e6
      val c0 = System.nanoTime()
      val qe = df.queryExecution
      val n = df.collect().length
      val q = QueryTrace.record("collect", qe, System.nanoTime() - c0)
      Map("req" -> id, "kind" -> r.kind, "rows" -> rows.size, "result_rows" -> n,
        "drain_ms" -> drainMs, "encode_ms" -> encodeMs, "build_ms" -> buildMs) ++
        q.filter { case (k, _) => !Set("kind", "start", "end", "func")(k) }
    }
    if (trace) tracer.dump(s"$work/server_spans.jsonl")
    Json.write(s"$work/server.json", Map(
      "session_ms" -> sessionMs, "rep_ms" -> repMs, "warm_ms" -> warmMs, "setup_phases_ms" -> phases.totals, "rss_mb" -> Proc.peakRssMb(),
      "checks" -> checks, "requests" -> perReq, "tier_root" -> s"tier$Tier"))
    store.server.close()
    Handshake.say("DONE")
    Handshake.exit()
  }
}

/** The load generator of `dashboard_serve`: closed-loop client threads,
  * each drawing its next request from its own generated sequence. Untraced
  * runs go through `WireClient`; traced runs read the frames themselves to
  * split a reply into time to first frame and drain.
  */
object DashClient {
  import Dash._

  def viaClient(c: WireClient, r: DashRequest): Seq[Map[String, Any]] = r.kind match {
    case "matrix" => c.matrix(Coll, r.labels, r.aggs, r.start, r.stop)
    case "aggregate_tier" | "aggregate_raw" =>
      c.aggregate(Coll, r.labels, r.aggs, r.start, r.stop, r.binsize).flatMap(_.rows)
    case "subscribe" =>
      val s = c.subscribe(Coll, r.labels, r.columns, r.start, r.stop)
      s.close()
      s.history.flatMap(_.rows)
    case "streams" => c.streams(Coll)
  }

  private def readFrame(in: DataInputStream): Option[Wire.Message] = {
    val first = in.read()
    if (first < 0) None
    else {
      val h = new Array[Byte](Wire.HeaderLen)
      h(0) = first.toByte
      in.readFully(h, 1, Wire.HeaderLen - 1)
      val len = java.nio.ByteBuffer.wrap(h, 3, 4).getInt
      val body = new Array[Byte](len)
      in.readFully(body)
      Some(Wire.Message(h(0) & 0xff, ((h(1) & 0xff) << 8) | (h(2) & 0xff), body))
    }
  }

  /** One request on a raw socket: (rows, send ms, first frame ms, bytes). */
  def viaSocket(port: Int, r: DashRequest): (Seq[Map[String, Any]], Double, Double, Long) = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(sock.getOutputStream)
      readFrame(in) // version-check greeting
      val send = Clock.ms()
      out.write(Wire.pack(0, r.json.getBytes("UTF-8")))
      out.flush()
      if (r.kind != "subscribe") sock.shutdownOutput()
      var first = 0.0
      var bytes = 0L
      val rows = Vector.newBuilder[Map[String, Any]]
      var open = true
      while (open) readFrame(in) match {
        case None => open = false
        case Some(m) =>
          if (first == 0.0) first = Clock.ms()
          bytes += Wire.HeaderLen + m.body.length
          m.msgType match {
            case Wire.QueryCancelled =>
              throw new IllegalStateException(new String(m.body, "UTF-8"))
            case Wire.Subscribe => open = false
            case Wire.Streams =>
              rows ++= JsonMini.parse(new String(m.body, "UTF-8"))("rows")
                .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
            case Wire.History =>
              rows ++= JsonMini.parse(new String(Wire.decompress(m.body), "UTF-8"))("rows")
                .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
            case other => throw new IllegalStateException(s"unexpected frame $other")
          }
      }
      (rows.result(), send, first, bytes)
    } finally sock.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val inputs = a.str("inputs")
    val work = a.str("work")
    val trace = a.bool("trace")
    val seconds = a.double("seconds")
    val pool = readRequests(s"$inputs/requests.jsonl")
    val seqs = Json.read(s"$inputs/meta.json")("sequences").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Seq[Any]].map(JsonMini.asLong(_).toInt))
    // started beside the server; the runner sends the port once it serves
    val Array(portS, startS) = Handshake.await("GO").split(" ")
    val port = portS.toInt
    val startAt = startS.toDouble
    // traced runs issue ops one at a time so Spark jobs attribute to one op
    val threads = if (trace) 1 else a.int("threads", 3)
    val end = startAt + seconds * 1000
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val opSeq = new java.util.concurrent.atomic.AtomicLong()
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        val client = new WireClient("127.0.0.1", port)
        Clock.sleepUntil(startAt)
        var i = 0
        while (Clock.ms() < end && i < seqs(t).size) {
          val r = pool(seqs(t)(i))
          val op = opSeq.incrementAndGet()
          val t0 = Clock.ms()
          val rec: Map[String, Any] =
            try {
              if (trace) {
                val (rows, send, first, bytes) = viaSocket(port, r)
                val e = Clock.ms()
                Map("ok" -> true, "rows" -> rows.size, "checksum" -> Checksum.of(rows),
                  "start" -> send, "first" -> first, "end" -> e, "bytes" -> bytes)
              } else {
                val rows = viaClient(client, r)
                Map("ok" -> true, "rows" -> rows.size, "checksum" -> Checksum.of(rows),
                  "start" -> t0, "end" -> Clock.ms())
              }
            } catch {
              case e: Throwable =>
                Map("ok" -> false, "error" -> String.valueOf(e.getMessage),
                  "start" -> t0, "end" -> Clock.ms())
            }
          ops.add(rec ++ Map("op" -> op, "req" -> r.id, "kind" -> r.kind, "thread" -> t))
          i += 1
        }
      }, s"dash-client-$t")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    Json.writeLines(s"$work/client_ops.jsonl", ops.asScala.toSeq.sortBy(o => JsonMini.asLong(o("op"))))
    Handshake.say("CLIENT_DONE")
  }
}
