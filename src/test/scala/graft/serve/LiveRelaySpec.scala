package graft.serve

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Markers

/** The wire twin of the per-label seam (X1/X3, exporter.py:907-956), driven
  * deterministically: LiveRelay is exercised directly against a byte sink,
  * so "rows published mid-backfill" is not a socket race but a plain call
  * ordering. Covers the two round-4/5 fixes the socket specs cannot pin
  * down: per-label lasthist release and PUSH markers ordered AFTER the
  * buffered rows they cover.
  */
class LiveRelaySpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("stream_id", LongType), StructField("timestamp", LongType),
    StructField("value", DoubleType)))
  private def row(sid: Long, ts: Long, v: Double = 1.0) =
    new GenericRowWithSchema(Array[Any](sid, ts, v), schema)

  /** Drain the sink into (msgType, body-string) frames. */
  private def frames(buf: ByteArrayOutputStream): Seq[(Int, String)] = {
    var bytes = buf.toByteArray
    val out = Seq.newBuilder[(Int, String)]
    while (bytes.length >= Wire.HeaderLen) {
      val m = Wire.unpack(bytes)
      out += ((m.msgType, new String(m.body, "UTF-8")))
      bytes = bytes.drop(Wire.HeaderLen + m.body.length)
    }
    out.result()
  }

  test("per-label seam: early-ending and history-less labels keep their buffered rows") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external",
      Map("a" -> Seq(1L), "b" -> Seq(2L), "c" -> Seq(3L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink))

    // mid-backfill batch: a's history will end at 1000, b's at 2000, c has
    // none — rows (1,1500) and (3,500) are exactly what a global gate
    // (max lasthist = 2000) used to drop
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(
      row(1L, 900L), row(1L, 1500L),
      row(2L, 1500L), row(2L, 2500L),
      row(3L, 500L))))
    assert(frames(sink).isEmpty) // everything buffered while backfilling

    relay.finish(Map("a" -> 1000L, "b" -> 2000L)) // c absent: no history
    val released = frames(sink)
    assert(released.forall(_._1 == Wire.Live))
    def tsFor(label: String): Seq[Long] =
      released.filter(_._2.contains(s""""label":"$label"""")).flatMap(f =>
        """"timestamp":(\d+)""".r.findAllMatchIn(f._2).map(_.group(1).toLong))
    assert(tsFor("a") === Seq(1500L)) // 900 <= a's own lasthist, 1500 released
    assert(tsFor("b") === Seq(2500L)) // 1500 was served by b's history
    assert(tsFor("c") === Seq(500L))  // no history → everything released
  }

  test("PUSH markers published mid-backfill arrive AFTER the buffered rows they cover") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("a" -> Seq(1L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink))

    // reference ordering (exporter.py:928-956): the marker PUSH(1500)
    // promises "all data <= 1500 delivered" — it must not overtake the
    // buffered row at 1500 across the seam
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(row(1L, 1500L))))
    relay.onMarker(1500L, Wire.pack(Wire.Push,
      """{"collection":"amp-external","timestamp":1500}""".getBytes("UTF-8")))
    assert(frames(sink).isEmpty)

    relay.finish(Map("a" -> 1000L))
    val seam = frames(sink)
    assert(seam.map(_._1) === Seq(Wire.Live, Wire.Push))
    assert(seam.head._2.contains(""""timestamp":1500"""))
    assert(seam.last._2.contains(""""timestamp":1500"""))

    // live mode: rows and markers pass straight through, in call order
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(row(1L, 1600L))))
    relay.onMarker(1600L, Wire.pack(Wire.Push,
      """{"collection":"amp-external","timestamp":1600}""".getBytes("UTF-8")))
    val after = frames(sink).drop(seam.length)
    assert(after.map(_._1) === Seq(Wire.Live, Wire.Push))
  }

  private def push(t: Long): Array[Byte] = Wire.pack(Wire.Push,
    s"""{"collection":"amp-external","timestamp":$t}""".getBytes("UTF-8"))

  test("buffered markers interleave with released rows per timestamp group") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("a" -> Seq(1L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink))

    // backfill buffers rows at 1200/1500/1800 and markers at 1200/1500;
    // the reference replay (exporter.py:928-956) yields
    //   Live[1200] PUSH(1200) Live[1500] PUSH(1500) Live[1800]
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(row(1L, 1200L))))
    relay.onMarker(1200L, push(1200L))
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(row(1L, 1500L), row(1L, 1800L))))
    relay.onMarker(1500L, push(1500L))
    assert(frames(sink).isEmpty)

    relay.finish(Map("a" -> 1000L))
    val seam = frames(sink)
    assert(seam.map(_._1) === Seq(Wire.Live, Wire.Push, Wire.Live, Wire.Push, Wire.Live))
    def stamps(body: String): Seq[Long] =
      """"timestamp":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    assert(stamps(seam(0)._2) === Seq(1200L))
    assert(stamps(seam(1)._2) === Seq(1200L))
    assert(stamps(seam(2)._2) === Seq(1500L))
    assert(stamps(seam(3)._2) === Seq(1500L))
    assert(stamps(seam(4)._2) === Seq(1800L))
  }

  test("marker buffer overflow collapses to the newest; coverage promise holds") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("a" -> Seq(1L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink),
      maxBufferedMarkers = 3)

    relay.onBatch(Markers.LiveBatch("amp-external", Seq(
      row(1L, 1100L), row(1L, 1200L), row(1L, 1300L), row(1L, 1400L))))
    relay.onMarker(1100L, push(1100L))
    relay.onMarker(1200L, push(1200L))
    relay.onMarker(1300L, push(1300L)) // buffer full
    relay.onMarker(1400L, push(1400L)) // overflow: backlog COLLAPSES to 1300

    relay.finish(Map.empty)
    val seam = frames(sink)
    // one coarse PUSH(1300) covers the whole pre-overflow era (1100/1200
    // replay as part of its group, their markers gone — not merely the
    // oldest dropped); fine granularity resumes with PUSH(1400)
    assert(seam.map(_._1) === Seq(Wire.Live, Wire.Push, Wire.Live, Wire.Push))
    assert(seam(0)._2.contains(""""timestamp":1100""") &&
      seam(0)._2.contains(""""timestamp":1200""") &&
      seam(0)._2.contains(""""timestamp":1300"""))
    assert(seam(1)._2.contains(""""timestamp":1300"""))
    assert(seam(2)._2.contains(""""timestamp":1400"""))
    assert(seam(3)._2.contains(""""timestamp":1400"""))
  }

  test("zero-capacity marker buffer: overflow on an empty backlog never throws") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("a" -> Seq(1L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink),
      maxBufferedMarkers = 0)
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(row(1L, 1100L))))
    // the first marker arrives with an EMPTY backlog already "over"
    // capacity — the old collapse called .last and threw here
    relay.onMarker(1100L, push(1100L))
    relay.onMarker(1200L, push(1200L))
    relay.finish(Map.empty)
    val seam = frames(sink)
    // coverage promise intact: the row replays, a marker covering it
    // follows (coarse granularity is fine at capacity 0)
    assert(seam.head._1 === Wire.Live &&
      seam.head._2.contains(""""timestamp":1100"""))
    assert(seam.exists { case (t, b) => t === Wire.Push && b.contains("1200") })
  }

  test("INT stream ids (the poller's dimension type) relay like LONG ones") {
    val intSchema = StructType(Seq(
      StructField("stream_id", IntegerType), StructField("timestamp", LongType),
      StructField("value", DoubleType)))
    def intRow(sid: Int, ts: Long) =
      new GenericRowWithSchema(Array[Any](sid, ts, 1.0), intSchema)
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("a" -> Seq(1L), "b" -> Seq(2L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink))
    // buffered during backfill, released at the seam …
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(intRow(1, 1100L), intRow(3, 1100L))))
    relay.finish(Map.empty)
    // … and passed straight through once live
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(intRow(2, 1200L))))
    val out = frames(sink)
    assert(out.map(_._1) === Seq(Wire.Live, Wire.Live))
    assert(out(0)._2.contains(""""label":"a"""") && out(0)._2.contains(""""stream_id":1"""))
    assert(out(1)._2.contains(""""label":"b"""") && out(1)._2.contains(""""stream_id":2"""))
    assert(!out.exists(_._2.contains(""""stream_id":3"""))) // not subscribed
    assert(relay.unsubscribe(Seq(1L)) === 1L)
  }

  test("unsubscribe mid-backfill drops the stream's buffered rows at the seam") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("x" -> Seq(1L, 2L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink))
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(
      row(1L, 1100L), row(2L, 1200L))))
    assert(relay.streamCount === 2)
    assert(relay.unsubscribe(Seq(1L)) === 1L) // one stream remains
    relay.finish(Map("x" -> 1000L))
    val released = frames(sink)
    // stream 1's buffered row never reaches the socket; stream 2's does
    assert(released.nonEmpty)
    assert(!released.exists(_._2.contains(""""stream_id":1""")))
    assert(released.exists(_._2.contains(""""stream_id":2""")))
  }

  test("unsubscribe in live mode stops that stream immediately; others flow") {
    val sink = new ByteArrayOutputStream()
    val relay = new LiveRelay(
      "amp-external", Map("x" -> Seq(1L), "y" -> Seq(2L)),
      Seq("value"), start = 0L, stop = 0L, new DataOutputStream(sink))
    relay.finish(Map.empty) // straight to live mode
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(
      row(1L, 1100L), row(2L, 1100L))))
    assert(relay.unsubscribe(Seq(2L)) === 1L)
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(
      row(1L, 1200L), row(2L, 1200L))))
    val out = frames(sink)
    // before: both streams; after: only stream 1 (and its gate kept
    // advancing — 1200 follows 1100)
    val s1 = out.filter(_._2.contains(""""stream_id":1"""))
    val s2 = out.filter(_._2.contains(""""stream_id":2"""))
    assert(s1.size === 2 && s2.size === 1)
    assert(relay.streamCount === 1)
    assert(relay.unsubscribe(Seq(1L)) === 0L)
    relay.onBatch(Markers.LiveBatch("amp-external", Seq(row(1L, 1300L))))
    assert(frames(sink).size === out.size) // nothing new on the socket
  }
}
