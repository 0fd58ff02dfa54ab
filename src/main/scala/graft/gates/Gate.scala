package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: the Spark query under test and the DuckDB SQL it
  * is hash-compared against, both rendered for a corpus dir. Column names
  * and float handling follow `graft.core.OracleParity`.
  *
  * Most oracles are constant SQL. An oracle that inlines a trained model
  * (IVF centroids, PCA components, PQ codebooks) reads the same [[PerDir]]
  * memo as its query, so it renders the same SQL whether or not the query
  * ran first.
  */
final case class Gate(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: (SparkSession, String) => String)

object Gate {
  def apply(
      name: String, query: (SparkSession, String) => DataFrame, oracle: => String): Gate =
    Gate(name, query, (_: SparkSession, _: String) => oracle)
}

/** A value computed once per corpus dir and reused (the corpora are
  * immutable): label maps, trained tokenizers and trained models.
  */
final class PerDir[A](compute: (SparkSession, String) => A) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, A]()

  def apply(spark: SparkSession, dir: String): A =
    memo.computeIfAbsent(dir, d => compute(spark, d))
}
