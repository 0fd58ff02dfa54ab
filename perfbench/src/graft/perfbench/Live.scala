package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.catalog.Catalog
import graft.ingest.Normalizers
import graft.schema.Collections
import graft.serve.{JsonMini, Service, WireClient, WireServer}
import graft.streaming.{FilePoller, IngestStream, Markers, RollupStream}

object Live {
  val Coll = "amp-external"
  val Spec = Collections.ampExternal
  val Tier = 3600L
  val RawSchema = Spec.rawSchema
}

/** The engine JVM of `live_ingest`: the file poller with one rollup tier,
  * a marker bus and a live bus, served by `WireServer` to the generator's
  * subscriber and reader.
  */
object LiveServer {
  import Live._

  final class Store(val dir: String, val query: StreamingQuery)

  /** Known engine defect, worked around here so freshness can be measured:
    * `FilePoller` publishes committed rows with the collection's INT
    * `stream_id`, while `LiveRelay` reads `stream_id` with `getLong`, so the
    * relay throws ClassCastException on every batch and no live row reaches
    * a wire subscriber. The benchmark republishes each batch with
    * `stream_id` widened to long on the bus the server relays from.
    */
  def widened(poller: Markers.LiveBus, wire: Markers.LiveBus): Unit =
    poller.subscribe(Coll) { b =>
      val rows = b.rows.map { r =>
        val i = r.fieldIndex("stream_id")
        val schema = StructType(r.schema.fields.updated(i, r.schema.fields(i).copy(dataType = LongType)))
        val values = r.toSeq.toArray
        if (values(i) != null) values(i) = r.getAs[Number](i).longValue
        new GenericRowWithSchema(values, schema): Row
      }
      wire.publish(Markers.LiveBatch(b.collection, rows))
    }

  def start(spark: SparkSession, inputs: String, dir: String, trigger: Long,
      markers: Markers.MarkerBus, poller: Markers.LiveBus, live: Markers.LiveBus): Store = {
    new File(s"$dir/in").mkdirs()
    Files.copy(new File(s"$inputs/initial.json").toPath, new File(s"$dir/in/initial.json").toPath)
    val q = FilePoller.start(spark, s"$dir/in", RawSchema, Spec,
      s"$dir/streams", s"$dir/data", s"$dir/ckpt",
      normalize = Normalizers.external, format = "json",
      trigger = Trigger.ProcessingTime(trigger),
      rollupTiers = Seq(Tier -> s"$dir/tier$Tier"),
      markers = Some(Coll -> markers), liveBus = Some(Coll -> poller))
    q.processAllAvailable()
    new Store(dir, q)
  }

  /** The server over a store; built after the warm-up batches, because a
    * `Service` keeps the file listing it was built with.
    */
  def serve(spark: SparkSession, dir: String, markers: Markers.MarkerBus,
      live: Markers.LiveBus): WireServer = {
    val service = new Service(spark,
      data = Map(Coll -> IngestStream.readData(spark, s"$dir/data")
        .withColumn("stream_id", col("stream_id").cast("long"))),
      streams = Map(Coll -> IngestStream.readStreams(spark, s"$dir/streams", Spec)),
      rollups = Map(Coll -> Service.RollupTiers("value", Map(Tier -> s"$dir/tier$Tier"))))
    new WireServer(service, markers = Some(markers), live = Some(live),
      deadLetterPath = Some(s"$dir/deadletter"))
  }

  /** Micro-batch progress, kept for the run's throughput and the traced
    * streaming layer.
    */
  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(Map("batch" -> p.batchId, "start" -> start,
        "end" -> (start + d.getOrElse("triggerExecution", 0L)),
        "rows" -> p.numInputRows, "durations" -> d.toMap))
    }
  }

  /** Committed batch id → the landed files it read, from the file source's
    * log in the checkpoint (plain and compacted log files alike).
    */
  def batchFiles(dir: String): Map[Long, Seq[String]] = {
    val log = new File(s"$dir/ckpt/sources/0")
    Option(log.listFiles).toSeq.flatten.filter(_.getName.matches("\\d+(\\.compact)?"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.startsWith("{")).map(JsonMini.parse).toVector
        finally src.close()
      }
      .map(e => JsonMini.asLong(e("batchId")) -> e("path").toString)
      .distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
  }

  /** Replays each committed batch through the ingest layers as direct
    * calls, into fresh tables, to split a micro-batch by layer.
    */
  def replay(spark: SparkSession, dir: String, batches: Map[Long, Seq[String]]): Seq[Map[String, Any]] = {
    val rd = s"$dir/replay"
    def ms[T](body: => T): (T, Double) = {
      val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e6)
    }
    batches.toSeq.sortBy(_._1).filter(_._2.nonEmpty).map { case (id, files) =>
      val batch = spark.read.schema(RawSchema).json(files: _*)
      val existing = IngestStream.readStreams(spark, s"$rd/streams", Spec)
      val (_, normMs) = ms(Normalizers.external(batch).write.format("noop").mode("overwrite").save())
      val (nNew, regMs) = ms {
        val fresh = Catalog.newStreams(existing, batch, Spec).persist()
        try { fresh.write.mode("append").parquet(s"$rd/register"); fresh.count() }
        finally fresh.unpersist()
      }
      val (written, ingestMs) = ms(IngestStream.ingestBatch(
        batch, Spec, s"$rd/streams", s"$rd/data", Normalizers.external, Some(id)).persist())
      val streams = IngestStream.readStreams(spark, s"$rd/streams", Spec)
      val (_, resolveMs) = ms(Catalog.resolveStreamIds(Normalizers.external(batch), streams, Spec)
        .write.format("noop").mode("overwrite").save())
      val (_, appendMs) = ms(RollupStream.appendPartials(written, Tier, "value", s"$rd/tier", id))
      written.unpersist()
      Map("batch" -> id, "files" -> files.size, "normalize_ms" -> normMs, "register_ms" -> regMs,
        "new_streams" -> nNew, "ingest_ms" -> ingestMs, "resolve_ms" -> resolveMs,
        "append_ms" -> appendMs)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val t0 = a.double("t0")
    val work = a.str("work")
    val inputs = a.str("inputs")
    val trace = a.bool("trace")
    val trigger = a.int("trigger-ms", 1000).toLong
    val spark = LocalSession(a.int("cores", 4), work)
    val sessionMs = Clock.ms() - t0
    val progress = new Progress
    spark.streams.addListener(progress)
    val tracer = new Tracer
    val markers = new Markers.MarkerBus
    val poller = new Markers.LiveBus
    val live = new Markers.LiveBus
    widened(poller, live)
    // publish stamps of every live batch, for the relay time to the subscriber
    val published = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    live.subscribe(Coll) { b =>
      val t = Clock.ms()
      if (tracer.on) published.add(Map("t" -> t,
        "values" -> b.rows.map(r => r.getAs[Long]("value"))))
    }
    val reps = a.int("reps", 3)
    var store: Store = null
    val repMs = (1 to reps).map { i =>
      if (store != null) {
        store.query.stop()
        Proc.deleteRecursively(new File(store.dir))
      }
      val t = System.nanoTime()
      store = start(spark, inputs, s"$work/store$i", trigger, markers, poller, live)
      (System.nanoTime() - t) / 1e6
    }
    // warm-up: a few micro-batches of generated files (in the window's
    // first batches the JIT still cut batch time by a third), then the
    // server and one tier-routed matrix read over the wire
    val w0 = System.nanoTime()
    val meta = Json.read(s"$inputs/meta.json")
    val perBatch = JsonMini.asLong(meta("warm_files")).toInt / JsonMini.asLong(meta("warm_batches")).toInt
    (1 to JsonMini.asLong(meta("warm_files")).toInt).grouped(perBatch).foreach { group =>
      group.foreach(i => LiveClient.land(new File(f"$inputs/warm/w$i%06d.json"),
        new File(s"${store.dir}/in")))
      store.query.processAllAvailable()
    }
    val server = serve(spark, store.dir, markers, live)
    LiveClient.matrix(new WireClient("127.0.0.1", server.boundPort), meta, 0)
    val warmMs = (System.nanoTime() - w0) / 1e6
    val batchesBefore = progress.batches.size
    if (trace) {
      spark.sparkContext.addSparkListener(new SparkTrace(tracer))
      spark.listenerManager.register(new QueryTrace(tracer))
    }
    Handshake.say(s"READY ${server.boundPort} ${store.dir}/in")
    if (trace) {
      val at = Handshake.await("TRACE_AT").toDouble
      Clock.sleepUntil(at)
      tracer.on = true
    }
    Handshake.await("DRAIN")
    val windowEnd = Clock.ms()
    // landed files not yet in a committed batch when the window closed
    val landed = Option(new File(s"${store.dir}/in").list()).map(_.count(_.endsWith(".json"))).getOrElse(0)
    val committedAtEnd = batchFiles(store.dir).values.map(_.size).sum
    store.query.processAllAvailable()
    Handshake.say("DRAINED")
    Handshake.await("VERIFY")
    tracer.on = false
    store.query.stop()
    val spans = if (trace) tracer.records.asScala.toVector else Vector.empty
    // every committed row with its stream tuple, for the exactly-once check
    val streams = IngestStream.readStreams(spark, s"${store.dir}/streams", Spec)
    val rows = IngestStream.readData(spark, s"${store.dir}/data")
      .join(streams, "stream_id")
      .select("source", "destination", "command", "timestamp", "value", "stream_id")
      .collect().map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    Json.writeLines(s"$work/committed.jsonl", rows.toSeq)
    val files = batchFiles(store.dir)
    val extra: Map[String, Any] = if (!trace) Map.empty else {
      val (dataBytes, _) = Proc.du(new File(s"${store.dir}/data"))
      val (tierBytes, _) = Proc.du(new File(s"${store.dir}/tier$Tier"))
      Map("replay" -> replay(spark, store.dir, files),
        "data_files" -> Proc.dataFiles(new File(s"${store.dir}/data")).size,
        "tier_files" -> Proc.dataFiles(new File(s"${store.dir}/tier$Tier")).size,
        "disk_bytes" -> (dataBytes + tierBytes), "published" -> published.asScala.toVector)
    }
    if (trace) Json.writeLines(s"$work/server_spans.jsonl", spans)
    Json.write(s"$work/server.json", Map(
      "session_ms" -> sessionMs, "rep_ms" -> repMs, "warm_ms" -> warmMs,
      "rss_mb" -> Proc.peakRssMb(), "window_end" -> windowEnd,
      "landed_at_end" -> landed, "committed_files_at_end" -> committedAtEnd,
      "batches" -> progress.batches.asScala.toVector.drop(batchesBefore),
      "batch_files" -> files.map { case (k, v) => k.toString -> v.map(p => new File(p).getName) },
      "tier_root" -> s"tier$Tier") ++ extra)
    server.close()
    Handshake.say("DONE")
    Handshake.exit()
  }
}

/** The load generator of `live_ingest`, one process with three threads:
  * the lander moves each generated file into the landing zone at its
  * scheduled time (open loop); the subscriber holds one live subscription
  * (stop = 0) and stamps every row it decodes; the reader issues
  * tier-routed matrix requests back to back (closed loop).
  */
object LiveClient {
  import Live._

  /** Atomic landing: copy under a hidden name, then rename into place. */
  def land(src: File, dir: File): Unit = {
    val tmp = new File(dir, s".${src.getName}.tmp")
    Files.copy(src.toPath, tmp.toPath)
    Files.move(tmp.toPath, new File(dir, src.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def matrix(c: WireClient, meta: Map[String, Any], i: Int): Seq[Map[String, Any]] = {
    val labels = meta("reader_labels").asInstanceOf[Seq[Any]]
    val l = labels(i % labels.size).asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Seq[Any]].map(JsonMini.asLong) }
    val t0 = JsonMini.asLong(meta("t0"))
    c.matrix(Coll, l, Seq("value" -> "count", "value" -> "max", "value" -> "avg"),
      t0, JsonMini.asLong(meta("reader_stop")))
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val inputs = a.str("inputs")
    val work = a.str("work")
    // started beside the server; the runner sends the port once it serves
    val Array(portS, landing, startS) = Handshake.await("GO").split(" ")
    val port = portS.toInt
    val startAt = startS.toDouble
    val end = startAt + a.double("seconds") * 1000
    val meta = Json.read(s"$inputs/meta.json")
    val interval = JsonMini.asLong(meta("file_interval_ms"))
    val nFiles = JsonMini.asLong(meta("files")).toInt
    val client = new WireClient("127.0.0.1", port)
    val subscribed = meta("subscribed").asInstanceOf[Seq[Any]].map(JsonMini.asLong)
    val sub = client.subscribe(Coll, subscribed.map(id => s"s$id" -> Seq(id)).toMap,
      Seq("value"), 0L, 0L)
    val history = sub.history.flatMap(_.rows).map(r => Seq(JsonMini.asLong(r("value")),
      JsonMini.asLong(r("stream_id")), JsonMini.asLong(r("timestamp"))))
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    val subscriber = new Thread(() => {
      try while (true) sub.next() match {
        case WireClient.LiveRows(_, rows) =>
          val t = Clock.ms()
          rows.foreach(r => received.add(Seq(JsonMini.asLong(r("value")),
            JsonMini.asLong(r("stream_id")), JsonMini.asLong(r("timestamp")), t)))
        case _ => ()
      } catch { case _: Throwable => () } // closed at the end of the run
    }, "live-subscriber")
    subscriber.start()
    val landedAt = new Array[Double](nFiles + 1)
    val lander = new Thread(() => {
      var i = 1
      while (i <= nFiles && startAt + (i - 1) * interval < end) {
        Clock.sleepUntil(startAt + (i - 1) * interval)
        land(new File(f"$inputs/files/f$i%06d.json"), new File(landing))
        landedAt(i) = Clock.ms()
        i += 1
      }
    }, "live-lander")
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val reader = new Thread(() => {
      Clock.sleepUntil(startAt)
      var i = 0
      while (Clock.ms() < end) {
        val s = Clock.ms()
        val rec: Map[String, Any] =
          try {
            val rows = matrix(client, meta, i)
            Map("ok" -> true, "rows" -> rows.size,
              "count" -> rows.map(r => JsonMini.asLong(r("value_count"))).sum)
          } catch { case e: Throwable => Map("ok" -> false, "error" -> String.valueOf(e.getMessage)) }
        reads.add(rec ++ Map("op" -> i, "start" -> s, "end" -> Clock.ms()))
        i += 1
      }
    }, "live-reader")
    lander.start(); reader.start()
    lander.join(); reader.join()
    Handshake.say("LANDED")
    Handshake.await("FINISH")
    // the engine has published every committed batch; let the socket drain
    Thread.sleep(300)
    sub.close()
    subscriber.join()
    Json.write(s"$work/client.json", Map(
      "start_at" -> startAt, "interval_ms" -> interval,
      "landed_at" -> landedAt.drop(1).takeWhile(_ > 0).toSeq,
      "history" -> history, "received" -> received.asScala.toVector,
      "reads" -> reads.asScala.toVector))
    Handshake.say("CLIENT_DONE")
  }
}
