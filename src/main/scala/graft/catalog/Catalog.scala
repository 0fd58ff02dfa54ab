package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema.{Collections, CollectionSpec}

/** Collection/stream catalog — the Spark-native registry replacing the
  * reference's `collections` table and per-collection streams tables
  * (/root/reference/libnntsc/database.py:296-364, 558-618).
  *
  * Streams tables are broadcast-size dimensions (thousands of rows); the
  * fact tables are partitioned by stream_id bucket + time, so stream
  * membership predicates prune partitions instead of synthesizing UNIONs
  * (dbselect.py:633-647 → obsolete).
  */
object Catalog {

  /** The collections registry (id, module, modsubtype) — ids assigned by
    * registry order, as the reference's serial column would.
    */
  def collectionsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Collections.all.zipWithIndex
      .map { case (s, i) => (i + 1, s.module, s.modsubtype) }
      .toDF("id", "module", "modsubtype")
  }

  /** Stream registration with property-tuple dedupe (X6,
    * database.py:731-787): incoming candidate streams are anti-joined
    * against the existing dimension on the collection's unique columns;
    * genuinely-new tuples get ids above the current maximum, assigned
    * deterministically by unique-column order. Returns the updated streams
    * table. Run inside the ingest `foreachBatch` transaction at scale.
    */
  def registerStreams(
      existing: DataFrame,
      incoming: DataFrame,
      spec: CollectionSpec): DataFrame =
    existing.unionByName(newStreams(existing, incoming, spec))

  /** Just the genuinely-new streams of a batch, with ids assigned above the
    * existing maximum — distributed, for bulk registration of frames that
    * need not fit on the driver. The ingest hot path allocates the same
    * ids on the driver instead ([[allocateStreams]]).
    */
  def newStreams(
      existing: DataFrame,
      incoming: DataFrame,
      spec: CollectionSpec): DataFrame = {
    val keys = spec.uniqueColumns
    val fresh = incoming
      .select(keys.map(col): _*)
      .distinct()
      .join(existing, keys, "left_anti")
    val maxId = existing
      .agg(coalesce(max(col("stream_id")), lit(0)).as("m"))
      .collect()(0).getAs[Number]("m").intValue()
    // distributed deterministic allocation (no single-partition window —
    // first backfill may register millions of streams in one batch)
    Ids
      .assignSequential(fresh, keys, maxId.toLong, "stream_id")
      .withColumn("stream_id", col("stream_id").cast("int"))
      .select(existing.columns.toIndexedSeq.map(col): _*)
  }

  /** Driver-side twin of [[newStreams]] for the ingest micro-batch: from
    * the collected dimension (`known`, rows in `spec.streamSchema` layout)
    * and a batch's key tuples (`incoming`, `spec.uniqueColumns` order),
    * the new dimension rows with the ids [[newStreams]] assigns — max id
    * + 1, … in ascending key order. The order is Spark's own
    * (catalyst's ordering over the key types), so strings compare as
    * UTF-8 bytes, not as `String.compareTo`'s UTF-16 units. Runs no
    * Spark job; the dimension is broadcast to resolve ids anyway, so
    * collecting it adds no driver bound.
    *
    * Tuples with a NULL key are skipped: an equi-join never resolves
    * them, and the anti-join would register them again on every batch.
    * Non-key stream columns of a new row are NULL.
    */
  def allocateStreams(known: Seq[Row], incoming: Seq[Row], spec: CollectionSpec): Seq[Row] = {
    val schema = spec.streamSchema
    val keyIdx = spec.uniqueColumns.map(schema.fieldIndex)
    val keySchema = StructType(keyIdx.map(schema.fields(_)))
    val registered = known.map(r => Row.fromSeq(keyIdx.map(r.get))).toSet
    val maxId = known.map(_.getInt(0)).maxOption.getOrElse(0)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keySchema)
    val fresh = incoming.distinct
      .filterNot(r => r.anyNull || registered(r))
      .sortBy(r => toCatalyst(r).asInstanceOf[InternalRow])(
        InterpretedOrdering.forSchema(keySchema.map(_.dataType)))
    fresh.zipWithIndex.map { case (k, i) =>
      val values = new Array[Any](schema.length)
      values(0) = maxId + i + 1
      keyIdx.zipWithIndex.foreach { case (j, n) => values(j) = k.get(n) }
      Row.fromSeq(values.toSeq)
    }
  }

  /** Resolve stream ids for result rows by their property tuple (the
    * ingest-path lookup, parsers/common.py:177-215) — a broadcast join.
    */
  def resolveStreamIds(
      rows: DataFrame,
      streams: DataFrame,
      spec: CollectionSpec): DataFrame =
    rows.join(broadcast(streams), spec.uniqueColumns)
}
