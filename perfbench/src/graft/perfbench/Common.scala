package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.serve.JsonMini

/** `--key value` command-line arguments. */
final class Args(args: Array[String]) {
  private val m: Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def str(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
  def double(k: String): Double = str(k).toDouble
  def bool(k: String): Boolean = m.get(k).contains("1")
}

object Clock {
  /** Wall-clock epoch milliseconds with microsecond resolution: spans
    * recorded in different JVMs (client, server) share this time base.
    */
  def ms(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  def sleepUntil(t: Double): Unit = {
    var left = t - ms()
    while (left > 0) {
      Thread.sleep(math.max(1L, math.min(left.toLong, 50L)))
      left = t - ms()
    }
  }
}

/** Minimal JSON writer for the result files the runner reads. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => JsonMini.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => JsonMini.str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => JsonMini.str(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val tmp = new File(path + ".tmp")
    val w = new PrintWriter(tmp, "UTF-8")
    try w.print(apply(v)) finally w.close()
    tmp.renameTo(new File(path))
  }

  def writeLines(path: String, vs: Iterable[Any]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try vs.foreach(v => w.println(apply(v))) finally w.close()
  }

  def read(path: String): Map[String, Any] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try JsonMini.parse(src.mkString) finally src.close()
  }

  def readLines(path: String): Seq[Map[String, Any]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(JsonMini.parse).toVector finally src.close()
  }
}

/** Order-insensitive checksum of reply rows in their wire form (values as
  * `JsonMini` parses them), so a wire reply and a direct `Service` call
  * compare equal exactly when they carry the same rows.
  */
object Checksum {
  private def canon(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> canon(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k=$x" }.mkString("{", "\u0001", "}")
    case s: Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case other => other.toString
  }

  def of(rows: Iterable[Map[String, Any]]): Long =
    rows.iterator.map { r =>
      val s = canon(r)
      (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
    }.foldLeft(0L)(_ + _)

  /** Engine rows → their wire form. */
  def wireRows(rows: Seq[Row]): Seq[Map[String, Any]] =
    if (rows.isEmpty) Nil
    else JsonMini.parse(s"""{"r":${JsonMini.rows(rows)}}""")("r")
      .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
}

object Proc {
  /** Peak resident set (`VmHWM`) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Sum of file sizes and file count under a directory. */
  def du(f: File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else Option(f.listFiles).toSeq.flatten
      .map(du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Data files (not checksums or markers) under a directory. */
  def dataFiles(f: File): Seq[String] =
    if (!f.exists) Nil
    else if (f.isFile) {
      if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
    } else Option(f.listFiles).toSeq.flatten.flatMap(dataFiles)
}

object LocalSession {
  /** The engine's local session at a fixed core count, with every scratch
    * directory Spark writes kept under `work`.
    */
  def apply(cores: Int, work: String): SparkSession = {
    val s = graft.core.Sessions.localBuilder(cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Accumulated wall time per named set-up phase, summed over reps. */
final class Phases {
  private val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally acc(name) = acc.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e6
  }
  def totals: Map[String, Double] = acc.toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Spark job, stage and query records kept in memory during the traced
  * half of a run and written out once at the end. The runner parents them
  * to the op in flight (by streaming batch id when the job carries one,
  * otherwise by time, because traced ops are issued one at a time) and
  * writes the span tree with self times to `spans.jsonl`.
  */
final class Tracer {
  val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var on = false

  def add(r: Map[String, Any]): Unit = if (on) records.add(r)

  def dump(path: String): Unit = Json.writeLines(path, records.asScala)
}

/** Spark job/stage/task accounting for the traced run. Task metrics are
  * folded into their stage so memory stays bounded by the stage count.
  */
final class SparkTrace(tracer: Tracer) extends SparkListener {
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var queueMs = 0L
    var shW = 0L; var shR = 0L; var spill = 0L
  }
  private val accs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()
  private val submitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.on) {
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    jobStart.put(e.jobId, (e.time.toDouble, batch.orNull))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStart.remove(e.jobId)
    if (st != null) tracer.add(Map("kind" -> "job", "id" -> e.jobId, "start" -> st._1,
      "end" -> e.time.toDouble, "batch" -> st._2,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    submitted.put((i.stageId, i.attemptNumber()), i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.on) {
    val key = (e.stageId, e.stageAttemptId)
    val a = accs.computeIfAbsent(key, _ => new StageAcc)
    val ti = e.taskInfo
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      val sub = submitted.getOrDefault(key, ti.launchTime)
      a.queueMs += math.max(0L, ti.launchTime - sub)
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - ti.gettingResultTime)
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val a = accs.remove(key)
    submitted.remove(key)
    if (a != null && tracer.on) tracer.add(Map(
      "kind" -> "stage", "id" -> s"${i.stageId}.${i.attemptNumber()}",
      "job" -> stageJob.getOrDefault(i.stageId, -1),
      "start" -> i.submissionTime.getOrElse(0L).toDouble,
      "end" -> i.completionTime.getOrElse(0L).toDouble,
      "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6,
      "gc_ms" -> a.gcMs, "wait_ms" -> (a.schedMs + a.queueMs),
      "shuffle_write" -> a.shW, "shuffle_read" -> a.shR, "spill" -> a.spill))
  }
}

/** Catalyst phase times and scan metrics of every finished Dataset action,
  * with the file-scan roots so a reply can be judged tier-served or raw.
  */
final class QueryTrace(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracer.on) tracer.add(QueryTrace.record(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object QueryTrace {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def record(funcName: String, qe: QueryExecution, durationNs: Long): Map[String, Any] = {
    val end = Clock.ms()
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val ss = scans(qe.executedPlan)
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    Map("kind" -> "query", "func" -> funcName, "start" -> (end - durationNs / 1e6), "end" -> end,
      "analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "files_read" -> ss.map(metric(_, "numFiles")).sum,
      "bytes_read" -> ss.map(metric(_, "filesSize")).sum,
      "rows_scanned" -> ss.map(metric(_, "numOutputRows")).sum,
      "roots" -> ss.flatMap(_.relation.location.rootPaths.map(_.toString)).distinct)
  }
}

/** Line-oriented handshake with the runner over stdin/stdout. */
object Handshake {
  private val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
  def say(msg: String): Unit = { System.out.println(msg); System.out.flush() }
  /** Ends the JVM once its results are written and DONE is said: Spark's
    * orderly shutdown adds seconds per run and leaves nothing the runner
    * reads.
    */
  def exit(): Unit = { System.out.flush(); Runtime.getRuntime.halt(0) }

  def await(expect: String): String = {
    val l = in.readLine()
    if (l == null || !l.startsWith(expect))
      throw new IllegalStateException(s"expected '$expect' from the runner, got '$l'")
    l.drop(expect.length).trim
  }
}
