package graft

import org.apache.spark.sql.types._
import graft.catalog.Catalog
import graft.schema.{Collections, ColumnSpec}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("all 14 collections declare stream + data schemas") {
    assert(Collections.all.size === 14)
    Collections.all.foreach { c =>
      assert(c.streamSchema.fieldNames.head === "stream_id")
      assert(c.dataSchema.fieldNames.take(2).toSeq === Seq("stream_id", "timestamp"))
      assert(c.uniqueColumns.forall(c.streamSchema.fieldNames.contains))
    }
  }

  test("type mapping covers the reference inventory (SURVEY §1.3)") {
    assert(ColumnSpec.toSpark("integer[]") === ArrayType(IntegerType))
    assert(ColumnSpec.toSpark("inet") === StringType)
    assert(ColumnSpec.toSpark("timestamp") === LongType)
    assert(ColumnSpec.toSpark("smallint") === ShortType)
  }

  test("registerStreams: dedupe on unique tuple, monotonically allocated ids") {
    val spec = Collections.ampExternal // unique: source, destination, command
    val existing = Seq((1, "s1", "d1", "cmd"))
      .toDF("stream_id", "source", "destination", "command")
    val incoming = Seq(
      ("s1", "d1", "cmd"),   // already registered → no new id
      ("s2", "d1", "cmd"),   // new
      ("s2", "d1", "cmd"),   // duplicate within batch → one id
      ("s0", "d9", "cmd"))   // new
      .toDF("source", "destination", "command")
    val updated = Catalog.registerStreams(existing, incoming, spec)
    val rows = updated.orderBy("stream_id").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    // deterministic assignment by unique-column order: (s0,d9) < (s2,d1)
    assert(rows(1).getString(1) === "s0")
    assert(rows(2).getString(1) === "s2")
  }

  test("Ids.assignSequential: row_number-identical ids, no 1-partition funnel") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 1000 keys across many partitions
    val df = spark.range(1000).select(
      concat(lit("k"), format_string("%04d", pmod(col("id") * 37, lit(1000)))).as("k"))
    val viaWindow = df
      .withColumn("id", row_number().over(Window.orderBy("k")) + 100)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // AQE rightly coalesces a 1000-row shuffle to one partition; disable
    // coalescing to show the allocation itself is partition-parallel
    // (the old row_number window was ALWAYS one partition, whatever the size)
    val advisoryKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(advisoryKey, "true")
    spark.conf.set(advisoryKey, "false")
    val (distributed, got) =
      try {
        val d = graft.catalog.Ids.assignSequential(df, Seq("k"), 100L, "id")
        (d, d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      } finally spark.conf.set(advisoryKey, prev)
    assert(distributed.rdd.getNumPartitions > 1)
    assert(got.view.mapValues(_.toInt).toMap === viaWindow)
    // repeated runs allocate identically (determinism)
    val again = graft.catalog.Ids.assignSequential(df, Seq("k"), 100L, "id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("allocateStreams: driver ids equal newStreams' (known, new, duplicate, UTF-8 order)") {
    val spec = Collections.ampExternal
    val existing = Seq((1, "s1", "d1", "cmd"), (2, "b", "d", "cmd"))
      .toDF("stream_id", "source", "destination", "command")
    val incoming = Seq(
      ("s1", "d1", "cmd"),  // known
      ("Ａ", "d", "cmd"),    // U+FF21: first in UTF-8 byte order …
      ("😀", "d", "cmd"),   // … though String.compareTo puts the surrogate pair first
      ("Ａ", "d", "cmd"),    // duplicate within the batch
      ("a", "d", "cmd"),
      ("s1", "d2", "cmd"))
      .toDF("source", "destination", "command")
    assert("Ａ".compareTo("😀") > 0)
    val distributed = Catalog.newStreams(existing, incoming, spec).collect().map(_.toSeq).toSet
    val known = existing.collect().toSeq
    val fresh = Catalog.allocateStreams(known, incoming.collect().toSeq, spec)
    assert(fresh.map(_.toSeq).toSet === distributed)
    assert(fresh.map(r => r.getString(1) -> r.getInt(0)) ===
      Seq("a" -> 3, "s1" -> 4, "Ａ" -> 5, "😀" -> 6))
    // a replay against the grown dimension registers nothing
    assert(Catalog.allocateStreams(known ++ fresh, incoming.collect().toSeq, spec).isEmpty)
    // an empty dimension allocates from 1, as newStreams does
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), spec.streamSchema)
    assert(Catalog.allocateStreams(Nil, incoming.collect().toSeq, spec).map(_.toSeq).toSet ===
      Catalog.newStreams(empty, incoming, spec).collect().map(_.toSeq).toSet)
  }

  test("collectionsTable lists the registry with stable ids") {
    val ct = Catalog.collectionsTable(spark).collect()
    assert(ct.length === 14)
    assert(ct.map(_.getInt(0)).toSeq === (1 to 14))
  }
}
