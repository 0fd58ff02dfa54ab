package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.schema.CollectionSpec

/** S2 — the file-scraper ingest path, the Spark-native form of the
  * reference's RRD poller loop (/root/reference/libnntsc/parsers/
  * rrd.py:107-238): poll on a timer, read whatever new data appeared since
  * the last committed position, normalize, insert, announce.
  *
  * Structured Streaming's file source replaces every piece of the
  * reference's bookkeeping:
  *   - `lasttimestamp` / `rejig_ts` window arithmetic → checkpointed file
  *     offsets (a file is consumed exactly once, restart-safe);
  *   - the poll timer → `Trigger.ProcessingTime("30 seconds")`;
  *   - commit-then-announce → `foreachBatch` over
  *     [[IngestStream.ingestBatch]]: the epoch-idempotent data commit, then
  *     live fan-out (`onLive`, the LiveBus), then the rollup-tier appends,
  *     then the X3 push marker — the reference's insert → export_live →
  *     export_push order, its rollups being continuous queries that run
  *     outside that path. The marker comes last, after the tiers, so
  *     "all data <= T delivered" holds for tier reads too.
  *
  * The consumers read the committed rows from the pin `ingestBatch` fills
  * during the data write, and the marker's max timestamp is observed by
  * that write, so a batch that registers new streams runs at most ten
  * Spark jobs with one tier (StreamingSpec pins the budget): dimension
  * read, distinct keys (map stage and result under AQE), dimension
  * append, the dimension broadcast, the pin's fill (its own stage under
  * AQE) and the data write, live collect, and the tier's aggregate and
  * write.
  *
  * At scale the same query shape runs against an object-store landing
  * prefix with thousands of files per trigger; `maxFilesPerTrigger` caps
  * batch size.
  */
object FilePoller {

  /** Ready-made decode hook for JSON-lines sources: parses against the
    * collection's raw schema and appends undecodable lines to
    * `deadLetterPath` (epoch-keyed, so replays don't duplicate them)
    * before passing the good rows on — the corrupt-message guard with an
    * audit trail instead of a log line.
    */
  def jsonDecoder(
      spec: CollectionSpec,
      deadLetterPath: String): (DataFrame, Long) => DataFrame = {
    (batch: DataFrame, epochId: Long) =>
      val (good, dead) = IngestStream.decodeJson(batch, spec)
      dead
        .withColumn(IngestStream.EpochCol, org.apache.spark.sql.functions.lit(epochId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(IngestStream.EpochCol)
        .parquet(deadLetterPath)
      good
  }

  def start(
      spark: SparkSession,
      inDir: String,
      schema: StructType,
      spec: CollectionSpec,
      streamsPath: String,
      dataPath: String,
      checkpointPath: String,
      normalize: DataFrame => DataFrame = identity,
      // message decoding (S1): applied to the raw batch (with its epoch id)
      // BEFORE stream registration. For `format = "text"` the JSON-lines
      // decoder with dead-letter capture is wired by DEFAULT (an
      // undecodable message must never be silently dropped — the
      // reference nacks it back to the queue, amp.py:254-262; here it
      // lands in the audit table at `deadLetterPath`); pass a custom
      // decode to override — including an explicit `(b, _) => b` to
      // restore raw identity pass-through for a text source (the default
      // is detected by REFERENCE equality, so any explicitly-passed
      // lambda, identity included, disables the JSON decoding +
      // dead-letter capture).
      decode: (DataFrame, Long) => DataFrame = DefaultDecode,
      // audit table for undecodable text messages; defaults to
      // `<dataPath>_deadletter` beside the collection's landing zone
      deadLetterPath: Option[String] = None,
      format: String = "parquet",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      // X4: rollup tiers maintained with ingest, like the reference's
      // continuous queries (influx.py:183-195) — each committed batch
      // appends its exact partials per (binsize, path) tier under the
      // batch's epoch (replay-idempotent like the data itself; fold with
      // RollupStream.compact, read with readTier)
      rollupTiers: Seq[(Long, String)] = Nil,
      rollupValueCol: String = "value",
      // the reference's CQs roll up a column LIST (influx.py:158-173):
      // extra stat columns + mode-map columns ride the same tier append
      rollupExtraCols: Seq[String] = Nil,
      rollupModeCols: Seq[String] = Nil,
      // X3: (collection name, bus) — a marker is published after each
      // batch's data and tiers commit, carrying the batch's max timestamp
      markers: Option[(String, Markers.MarkerBus)] = None,
      // NNTSC_LIVE over the wire: committed rows are collected and
      // published as a LiveBatch right after the data commit, before the
      // tier appends and the push marker; WireServer relays them to
      // subscribed sockets
      liveBus: Option[(String, Markers.LiveBus)] = None,
      // live fan-out: receives the normalized, id-resolved rows that were
      // just committed (exporter.export_live analog)
      onLive: DataFrame => Unit = _ => ()): StreamingQuery = {
    val decoder =
      if (!(decode eq DefaultDecode)) decode
      else if (format == "text")
        jsonDecoder(spec, deadLetterPath.getOrElse(s"${dataPath}_deadletter"))
      else decode
    spark.readStream
      .schema(schema)
      .format(format)
      .load(inDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        IngestStream.ingestBatch(
          decoder(batch, epochId), spec, streamsPath, dataPath, normalize, Some(epochId),
          onCommit = { committed =>
            val written = committed.rows
            onLive(written)
            liveBus.foreach { case (collection, bus) =>
              // collected on the driver: foreachBatch frames die with their
              // batch, and the export fan-out is driver-side by construction
              // (one socket per client) — same shape as the reference exporter
              val rows = written.collect().toSeq
              if (rows.nonEmpty) bus.publish(Markers.LiveBatch(collection, rows))
            }
            rollupTiers.foreach { case (binsize, tierPath) =>
              RollupStream.appendPartials(
                written, binsize, rollupValueCol, tierPath, epochId,
                rollupExtraCols, rollupModeCols)
            }
            for ((collection, bus) <- markers; t <- committed.maxTimestamp)
              bus.publish(Markers.Marker(collection, t, epochId))
          })
        ()
      }
      .start()
  }

  /** Identity decode sentinel — `start` detects "caller did not override"
    * by reference to wire the text-format dead-letter default.
    */
  private val DefaultDecode: (DataFrame, Long) => DataFrame = (b, _) => b
}
