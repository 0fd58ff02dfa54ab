package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's query result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Columns whose cells the driver's pandas comparator cannot row-sort:
    * arrays/maps/structs anywhere in the type (r9 shipped two red rows as
    * `TypeError: unhashable type: 'numpy.ndarray'` from exactly this).
    */
  private[graft] def unsortableCols(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def complex(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    }
    schema.fields.collect { case f if complex(f.dataType) => f.name }.toSeq
  }

  /** Dump every gate's query result (or the `only` subset) to `outDir`.
    *
    * A failed query must leave a VISIBLE artifact: its result dir contains
    * only `_ERROR.txt` (unreadable as parquet → the driver records an `err`
    * row) and the failure is listed in the `errors.json` sidecar. Round 8's
    * silent-skip shrank the correctness file 62→41 entries with zero err
    * rows. Returns the error map so callers (and the spec) can assert on it.
    *
    * Every gate is hash-compared, so every result is also schema-checked
    * at dump time: an array/map/struct column would pass every local stage
    * and die only in the driver's row sort, so it is rejected HERE with a
    * prescriptive message (round 9's only red rows).
    */
  private[graft] def dump(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      only: Set[String] = Set.empty,
      gates: Seq[graft.gates.Gate] = SparkEntry.gates): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    gates
      .filter(g => only.isEmpty || only(g.name))
      .foreach { g =>
      val name = g.name
      try {
        val df = g.query(spark, sfDir)
        val bad = unsortableCols(df.schema)
        if (bad.nonEmpty) throw new IllegalStateException(
          s"gated output has unsortable column(s) ${bad.mkString(", ")}: " +
            "the driver's comparator row-sorts raw cells and crashes on " +
            "array/map/struct values — pivot them to scalar columns in " +
            "the gate's query (see SeriesGates.pivotSmokeGrid / q_smoke) " +
            "and mirror the pivot in its oracle")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = new java.io.File(s"$outDir/$name")
        // replace any stale/partial parquet output with the marker alone
        Option(d.listFiles()).foreach(_.foreach(_.delete()))
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg)
      }
      finally graft.pipeline.Dedup.unpersistIntermediates()
    }
    val errJson = errors
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional: further args restrict the dump to the named queries
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the shared engine session (graft.core.Sessions) so the correctness
    // dump certifies exactly the bench's plans
    val spark = graft.core.Sessions.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errors = dump(spark, sfDir, outDir, only)
    val json = SparkEntry.oracleSql(spark, sfDir)
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // loud but rc-0: the error signal rides the artifacts (marker dirs +
    // errors.json) — a nonzero rc here could make the driver skip the
    // DuckDB compare entirely, which is the opposite of visibility
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
  }
}
