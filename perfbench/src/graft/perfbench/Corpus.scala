package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Splits, TextAnalysis}
import graft.serve.JsonMini

/** The driver of `corpus_pipeline`: the training-data prep chain over the
  * generated corpus, repeated for the timed window. Each stage writes
  * parquet that the next stage reads.
  */
object Corpus {
  val Weights = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)

  /** Loads the generated JSON through Spark's writer into parquet. */
  def load(spark: SparkSession, inputs: String, dir: String): Unit = {
    spark.read.schema("id long, text string").json(s"$inputs/docs.jsonl")
      .write.parquet(s"$dir/input")
    spark.read.schema("id long, text string").json(s"$inputs/eval.jsonl")
      .write.parquet(s"$dir/eval")
  }

  final case class ChainOut(stages: Seq[(String, Double, Double)], exactGroups: Long,
      contaminatedLeft: Long, splitChecksum: Long, cachePeak: Long, pinsLeft: Int,
      extra: Map[String, Double])

  /** One pass of the chain from `in` to the written split under `out`. */
  def chain(spark: SparkSession, in: String, eval: String, out: String,
      contaminated: Seq[Long], traced: Boolean): ChainOut = {
    val sc = spark.sparkContext
    val stages = Vector.newBuilder[(String, Double, Double)]
    var cachePeak = 0L
    val extra = scala.collection.mutable.Map.empty[String, Double]
    def stage(name: String)(body: => Unit): Unit = {
      val s = Clock.ms()
      body
      val e = Clock.ms()
      stages += ((name, s, e))
      if (traced) cachePeak = math.max(cachePeak,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    def timed(key: String)(body: => Unit): Unit = {
      val t = System.nanoTime(); body; extra(key) = (System.nanoTime() - t) / 1e9
    }
    val docs = spark.read.parquet(in)
    var exactGroups = 0L
    stage("exact_dedup") {
      val groups = Dedup.exact(docs, "text", "id").persist()
      try {
        exactGroups = groups.count()
        docs.join(groups.select(col("canonical_id").as("id")), Seq("id"), "left_semi")
          .write.parquet(s"$out/s1_exact")
      } finally groups.unpersist()
    }
    val s1 = spark.read.parquet(s"$out/s1_exact")
    stage("near_dedup") {
      Dedup.minhashLshPairs(s1, "id", "text").write.parquet(s"$out/pairs")
      Dedup.dedupByComponents(s1, "id", spark.read.parquet(s"$out/pairs"))
        .write.parquet(s"$out/s2_near")
    }
    if (traced) timed("minhash_sig_s")(
      Dedup.minhashSignatures(s1, "id", "text", 3, 64).write.format("noop").mode("overwrite").save())
    val s2 = spark.read.parquet(s"$out/s2_near")
    stage("decontaminate") {
      Dedup.decontaminated(s2, spark.read.parquet(eval), "id", "text", 8)
        .write.parquet(s"$out/s3_decon")
    }
    val s3 = spark.read.parquet(s"$out/s3_decon")
    stage("quality_cut") {
      val keep = TextAnalysis.cutByQuantileOf(TextAnalysis.docStats(s3, "id", "text"), "quality", 0.2)
      s3.join(keep.select("id"), Seq("id"), "left_semi").write.parquet(s"$out/s4_quality")
    }
    if (traced) timed("doc_stats_s")(
      TextAnalysis.docStats(s3, "id", "text").write.format("noop").mode("overwrite").save())
    stage("pii_redact") {
      spark.read.parquet(s"$out/s4_quality")
        .withColumn("text", TextAnalysis.piiRedact(col("text")))
        .write.parquet(s"$out/s5_pii")
    }
    stage("split") {
      Splits.leakageSafeSplit(spark.read.parquet(s"$out/s5_pii"), "id",
        spark.read.parquet(s"$out/pairs"), Weights)
        .write.parquet(s"$out/s6_split")
    }
    val pinsLeft = sc.getPersistentRDDs.size
    Dedup.unpersistIntermediates()
    // checks, untimed
    val left = s3.filter(col("id").isin(contaminated: _*)).count()
    val split = spark.read.parquet(s"$out/s6_split")
    val splitCol = split.columns.find(c => c != "id" && c != "text").getOrElse("split")
    val checksum = split.select(col("id"), col(splitCol).cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .map { case (i, s) => scala.util.hashing.MurmurHash3.stringHash(s"$i:$s").toLong }.sum
    ChainOut(stages.result(), exactGroups, left, checksum, cachePeak, pinsLeft, extra.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val t0 = a.double("t0")
    val work = a.str("work")
    val inputs = a.str("inputs")
    val trace = a.bool("trace")
    val seconds = a.double("seconds")
    val spark = LocalSession(a.int("cores", 4), work)
    val sessionMs = Clock.ms() - t0
    val meta = Json.read(s"$inputs/meta.json")
    val contaminated = meta("contaminated").asInstanceOf[Seq[Any]].map(JsonMini.asLong)
    val reps = a.int("reps", 3)
    val repMs = (1 to reps).map { i =>
      val dir = s"$work/load$i"
      if (i > 1) Proc.deleteRecursively(new File(s"$work/load${i - 1}"))
      val t = System.nanoTime()
      load(spark, inputs, dir)
      (System.nanoTime() - t) / 1e6
    }
    val data = s"$work/load$reps"
    // warm-up: the whole chain once; a cold first pass varied by a third
    // between runs with JIT progress, and a warm-up over a tenth of the
    // corpus still left the first timed pass 10-25% slower than the next
    val w0 = System.nanoTime()
    val tracer = new Tracer
    chain(spark, s"$data/input", s"$data/eval", s"$work/warm", contaminated,
      traced = false)
    val warmMs = (System.nanoTime() - w0) / 1e6
    if (trace) spark.sparkContext.addSparkListener(new SparkTrace(tracer))
    Handshake.say("READY")
    val startAt = Clock.ms()
    val end = startAt + seconds * 1000
    val chains = Vector.newBuilder[Map[String, Any]]
    // passes run back to back while the next one is expected to end inside
    // the window; traced runs alternate untraced and traced passes (at
    // least one of each) for the overhead ratio
    var k = 0
    var last = 0.0
    while (k == 0 || (trace && k < 2) || Clock.ms() + last <= end) {
      val traced = trace && k % 2 == 1
      tracer.on = traced
      val c0 = Clock.ms()
      val c = chain(spark, s"$data/input", s"$data/eval", s"$work/chain$k", contaminated,
        traced)
      tracer.on = false
      last = Clock.ms() - c0
      chains += Map("chain" -> k, "traced" -> traced,
        "stages" -> c.stages.map { case (n, s, e) => Map("name" -> n, "start" -> s, "end" -> e) },
        "exact_groups" -> c.exactGroups, "contaminated_left" -> c.contaminatedLeft,
        "split_checksum" -> c.splitChecksum, "cache_bytes_peak" -> c.cachePeak,
        "pins_left" -> c.pinsLeft) ++ c.extra
      Proc.deleteRecursively(new File(s"$work/chain$k"))
      k += 1
    }
    // the reference count for exact dedup: a plain Scala distinct
    val src = scala.io.Source.fromFile(s"$inputs/docs.jsonl", "UTF-8")
    val distinct = try src.getLines().map(l => JsonMini.parse(l)("text")).toSet.size finally src.close()
    if (trace) Json.writeLines(s"$work/server_spans.jsonl", tracer.records.asScala)
    Json.write(s"$work/server.json", Map(
      "session_ms" -> sessionMs, "rep_ms" -> repMs, "warm_ms" -> warmMs,
      "rss_mb" -> Proc.peakRssMb(), "start_at" -> startAt, "distinct_texts" -> distinct,
      "docs" -> JsonMini.asLong(meta("docs")), "chains" -> chains.result()))
    Handshake.say("DONE")
    Handshake.exit()
  }
}
