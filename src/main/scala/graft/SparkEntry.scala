package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/** Driver contract — see SURVEY.md §7.
  *
  * The gate registry: each [[graft.gates.Gate]] exercises one operator
  * family from SURVEY.md §2 on the driver's parquet corpus and carries the
  * equivalent DuckDB SQL, so results are hash-compared. Gates live in one
  * module per family; `queries` and `oracleSql` are views of `gates`.
  */
object SparkEntry {

  /** Query window covering the events table (Jan 2024, epoch seconds). */
  private[graft] val Start = SeriesGates.Start
  private[graft] val Stop = SeriesGates.Stop

  /** Standard label map, memoized per data dir (see SeriesGates). */
  private[graft] def labelsFor(spark: SparkSession, dir: String): Map[String, Seq[Long]] =
    SeriesGates.labelsFor(spark, dir)

  val gates: Seq[Gate] = distinctNames(Seq(
    TpchGates.gates, SeriesGates.gates, TokenizerGates.gates, TextGates.gates,
    DedupGates.gates, SelectionGates.gates, EmbeddingGates.gates, MediaGates.gates,
    AvGates.gates).flatten)

  /** `gates`, rejecting a name declared twice (a Map would keep the last). */
  private[graft] def distinctNames(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  /** Every gate's DuckDB SQL for the corpus at `dir`. Oracles that inline a
    * trained model train it here if no query on `dir` has yet.
    */
  def oracleSql(spark: SparkSession, dir: String): Map[String, String] =
    gates.map(g => g.name -> g.oracle(spark, dir)).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_bins")(spark, "/root/testdata/sf0.001")
}
