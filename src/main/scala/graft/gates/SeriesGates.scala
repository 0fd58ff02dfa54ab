package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{OracleParity, Tables}
import graft.ingest.Normalize
import graft.query.{AggSpec, Frequency, QueryEngine, TimeSeriesOps}
import graft.rollup.Rollup

/** NNTSC time-series gates over the events table: raw history, binned and
  * matrix aggregation, the rollup tier, frequency inference, as-of joins,
  * detectors and sessionization.
  */
private[graft] object SeriesGates {

  /** Query window covering the events table (Jan 2024, epoch seconds). */
  private[graft] val Start = 1704067200L // 2024-01-01T00:00:00Z
  private[graft] val Stop  = 1706745600L // 2024-02-01T00:00:00Z

  /** Standard label map: streams grouped by user_id % 3 → g0/g1/g2
    * (explicit id lists, as NNTSC clients pass them; the oracle mirrors it
    * with a CASE expression — dbselect.py:615-630). Memoized per data dir —
    * label resolution is a client-side constant, not a per-query job.
    */
  private[graft] val labelsFor = new PerDir((spark, dir) =>
    Tables
      .tsEvents(spark, dir)
      .select("stream_id")
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSeq
      .groupBy(id => s"g${id % 3}")
      .view
      .mapValues(_.sorted)
      .toMap)

  /** Gate-shape pivot: the driver's pandas comparator sorts rows on raw
    * cell values and crashes on ArrayType cells (r9: `TypeError: unhashable
    * type: 'numpy.ndarray'`), so any gated query carrying a smoke grid
    * replaces the array with 20 scalar columns `smoke_01..smoke_20`
    * (slot i == grid position i; NULL array → all-NULL slots via
    * try_element_at). The library API keeps the array shape — this pivot
    * exists only in the gate lambdas, mirrored in their oracle SQL.
    */
  private def pivotSmokeGrid(df: DataFrame, arrCol: String): DataFrame = {
    val cols = df.columns.toSeq.flatMap {
      case c if c == arrCol =>
        (1 to 20).map(i =>
          try_element_at(col(arrCol), lit(i)).as(f"smoke_$i%02d"))
      case c => Seq(col(c))
    }
    df.select(cols: _*)
  }

  /** DuckDB side of `labelsFor` + `Tables.tsEvents` — the width-pinning
    * casts mirror the adapter's (Tables.tsEvents), so both engines keep
    * the (BIGINT ids, DOUBLE value) contract under corpus-schema drift.
    */
  private val OracleEvents =
    """SELECT CASE WHEN user_id % 3 = 0 THEN 'g0'
      |            WHEN user_id % 3 = 1 THEN 'g1'
      |            ELSE 'g2' END AS nntsclabel,
      |       CAST(user_id AS BIGINT) AS stream_id,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS "timestamp",
      |       CAST(event_id AS BIGINT) AS event_id, event_type,
      |       CAST(value AS DOUBLE) AS value, props
      |FROM events""".stripMargin

  private def oracleEventsWindow: String =
    s"""SELECT * FROM ($OracleEvents) WHERE "timestamp" BETWEEN $Start AND $Stop"""

  // ---- Interpolated tier smoke, shared by q_matrix_tier_smoke and
  //      q_agg_tier_bins: a per-(stream, bin) percentile grid (DuckDB's
  //      quantile_cont and Spark's percentile share the weighted form),
  //      merged by count weight over DECIMAL(18,6)-quantized slots, packed
  //      as smoke_01..smoke_20 with the window max as the 20th slot.

  /** Grid columns g1..g19 of one tier bin. */
  private val TierSmokeGrid =
    (1 to 19).map(k => s"quantile_cont(value, $k/20.0) AS g$k").mkString(", ")

  /** Merged slots p1..p19. */
  private val TierSmokeSlots = (1 to 19)
    .map(k =>
      s"${OracleParity.Sql.decToDouble(s"sum(CAST(g$k AS DECIMAL(18,6)) * cnt)")} / sum(cnt) AS p$k")
    .mkString(", ")

  /** The packed grid, NULL where the merge `t` saw no value. */
  private def tierSmokePack(t: String): String =
    (1 to 19).map(k => f"CASE WHEN $t.n > 0 THEN p$k END AS smoke_$k%02d").mkString(", ") +
      s", CASE WHEN $t.n > 0 THEN mxx END AS smoke_20"

  /** As-of join semantics, shared by the DataFrame form and the custom
    * physical operator.
    */
  private val AsofOracle =
    s"""WITH ev AS (
       |  SELECT * FROM ($oracleEventsWindow)
       |), clicks AS (
       |  SELECT stream_id, "timestamp", event_id, value
       |  FROM ev WHERE event_type = 'click'
       |), purchases AS (
       |  SELECT stream_id, "timestamp", value AS purchase_value FROM (
       |    SELECT stream_id, "timestamp", value,
       |           row_number() OVER (PARTITION BY stream_id, "timestamp"
       |                              ORDER BY event_id DESC) AS rn
       |    FROM ev WHERE event_type = 'purchase') WHERE rn = 1
       |)
       |SELECT c.stream_id, c."timestamp", c.event_id, c.value,
       |       p."timestamp" AS asof_timestamp,
       |       p.purchase_value AS asof_purchase_value
       |FROM clicks c ASOF JOIN purchases p
       |  ON c.stream_id = p.stream_id AND c."timestamp" >= p."timestamp"
       |ORDER BY c.stream_id, c."timestamp", c.event_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- NNTSC raw history: P1 projection + P2 time range + P3 streams
    //      + J1 broadcast label join (dbselect.py:390-532)
    Gate("q_raw_select", (s, dir) => {
      val labels = labelsFor(s, dir).view.filterKeys(Set("g0", "g1")).toMap
      // no rounding: raw passthrough doubles are bit-identical in both engines
      QueryEngine
        .selectData(
          Tables.tsEvents(s, dir), labels,
          Seq("event_id", "event_type", "value"),
          Start + 7 * 86400, Start + 14 * 86400)
        .orderBy("nntsclabel", "timestamp", "event_id")
    }, {
      val lo = Start + 7 * 86400; val hi = Start + 14 * 86400
      s"""SELECT nntsclabel, "timestamp", stream_id, event_id, event_type, value
         |FROM ($OracleEvents)
         |WHERE "timestamp" BETWEEN $lo AND $hi AND nntsclabel IN ('g0','g1')
         |ORDER BY nntsclabel, "timestamp", event_id""".stripMargin
    }),

    // ---- Binned aggregation: A1 std aggs + A8 binning + A9 bin
    //      timestamps + A10/A11 grouping & renaming (dbselect.py:208-387)
    Gate("q_agg_bins", (s, dir) => {
      val aggs = Seq(
        AggSpec("value", "avg"), AggSpec("value", "max"), AggSpec("value", "min"),
        AggSpec("value", "sum"), AggSpec("value", "count"), AggSpec("value", "stddev"))
      QueryEngine.selectAggregatedData(
        Tables.tsEvents(s, dir), labelsFor(s, dir), aggs,
        Start, Stop, binsize = 21600, parity = true)
    }, {
      import OracleParity.Sql._
      s"""SELECT nntsclabel,
         |  "timestamp" - ("timestamp" % 21600) AS binstart,
         |  ${exactAvg("value")} AS value_avg,
         |  max(value) AS value_max,
         |  min(value) AS value_min,
         |  ${exactSum("value")} AS value_sum,
         |  count(value) AS value_count,
         |  ${exactStddev("value")} AS value_stddev,
         |  max("timestamp") AS "timestamp"
         |FROM ($oracleEventsWindow)
         |GROUP BY 1, 2
         |ORDER BY nntsclabel, binstart""".stripMargin
    }),

    // ---- A10 groupcols + A11 renaming: extra group column, agg on a
    //      column that is also grouped → `col_func` naming
    Gate("q_groupcols", (s, dir) => {
      QueryEngine.selectAggregatedData(
        Tables.tsEvents(s, dir), labelsFor(s, dir),
        Seq(AggSpec("value", "avg"), AggSpec("event_type", "count")),
        Start, Stop, binsize = 7 * 86400, groupcols = Seq("event_type"),
        parity = true)
    },
      s"""SELECT nntsclabel, event_type,
         |  "timestamp" - ("timestamp" % ${7 * 86400}) AS binstart,
         |  ${OracleParity.Sql.exactAvg("value")} AS value,
         |  count(event_type) AS event_type_count,
         |  max("timestamp") AS "timestamp"
         |FROM ($oracleEventsWindow)
         |GROUP BY 1, 2, 3
         |ORDER BY nntsclabel, event_type, binstart""".stripMargin),

    // ---- A2 `most` (mode) aggregation, deterministic tie-break
    Gate("q_most", (s, dir) => {
      QueryEngine.selectAggregatedData(
        Tables.tsEvents(s, dir), labelsFor(s, dir),
        Seq(AggSpec("value", "count"), AggSpec("event_type", "most")),
        Start, Stop, binsize = 7 * 86400)
    },
      s"""WITH b AS (
         |  SELECT nntsclabel, "timestamp" - ("timestamp" % ${7 * 86400}) AS binstart,
         |         "timestamp", event_type, value
         |  FROM ($oracleEventsWindow)
         |), base AS (
         |  SELECT nntsclabel, binstart, count(value) AS value,
         |         max("timestamp") AS "timestamp"
         |  FROM b GROUP BY 1, 2
         |), m AS (
         |  SELECT nntsclabel, binstart, event_type,
         |         row_number() OVER (PARTITION BY nntsclabel, binstart
         |                            ORDER BY count(*) DESC, event_type ASC) AS rn
         |  FROM b WHERE event_type IS NOT NULL GROUP BY 1, 2, 3
         |)
         |SELECT base.nntsclabel, base.binstart, base.value, base."timestamp",
         |       m.event_type
         |FROM base LEFT JOIN m
         |  ON base.nntsclabel = m.nntsclabel AND base.binstart = m.binstart AND m.rn = 1
         |ORDER BY base.nntsclabel, base.binstart""".stripMargin),

    // ---- A3 `most_array` + A6 `arraysize` (dbselect.py:824-829): mode
    // and max-length over an array-valued column, here an AS-path-like
    // digit array derived from the props payload. The winning array is
    // emitted '|'-joined (string, engine-neutral) because the driver's
    // comparator cannot sort ArrayType columns; arraysize is cast to long
    // (Spark size() is INT, DuckDB len() is BIGINT).
    Gate("q_most_array", (s, dir) => {
      val withPath = Tables.tsEvents(s, dir)
        .withColumn(
          "path",
          array_remove(split(regexp_replace(col("props"), "[^0-9]", ""), ""), ""))
      QueryEngine
        .selectAggregatedData(
          withPath, labelsFor(s, dir),
          Seq(
            AggSpec("path", "most_array"), AggSpec("path", "arraysize"),
            AggSpec("value", "count")),
          Start, Stop, binsize = 7 * 86400)
        .select(
          col("nntsclabel"), col("binstart"),
          concat_ws("|", col("path_most_array")).as("path_most_array"),
          col("path_arraysize").cast("long").as("path_arraysize"),
          col("value"), col("timestamp"))
    },
      s"""WITH b AS (
         |  SELECT nntsclabel, "timestamp" - ("timestamp" % ${7 * 86400}) AS binstart,
         |         "timestamp", value,
         |         array_to_string(
         |           string_split(regexp_replace(props, '[^0-9]', '', 'g'), ''),
         |           '|') AS pstr,
         |         CAST(len(string_split(regexp_replace(props, '[^0-9]', '', 'g'), ''))
         |              AS BIGINT) AS plen
         |  FROM ($oracleEventsWindow)
         |), base AS (
         |  SELECT nntsclabel, binstart, count(value) AS value,
         |         max(plen) AS path_arraysize,
         |         max("timestamp") AS "timestamp"
         |  FROM b GROUP BY 1, 2
         |), m AS (
         |  SELECT nntsclabel, binstart, pstr,
         |         row_number() OVER (PARTITION BY nntsclabel, binstart
         |                            ORDER BY count(*) DESC, pstr ASC) AS rn
         |  FROM b WHERE pstr IS NOT NULL GROUP BY 1, 2, 3
         |)
         |SELECT base.nntsclabel, base.binstart, m.pstr AS path_most_array,
         |       base.path_arraysize, base.value, base."timestamp"
         |FROM base LEFT JOIN m
         |  ON base.nntsclabel = m.nntsclabel AND base.binstart = m.binstart AND m.rn = 1
         |ORDER BY base.nntsclabel, base.binstart""".stripMargin),

    // ---- traceroute_pathlen shape (amp_traceroute_pathlen.py:61-157):
    // fractional path-length adjustment over hop arrays with trailing
    // no-response hops, then per-(label, bin) mode. Hop arrays are derived
    // from the props digits ('0' = unanswered hop), exercising the real
    // AmpTraceroutePathlen operators end-to-end.
    Gate("q_pathlen", (s, dir) => {
      import graft.ingest.AmpTraceroutePathlen
      val withPath = QueryEngine
        .attachLabels(
          QueryEngine.filterTime(Tables.tsEvents(s, dir), Start, Stop),
          labelsFor(s, dir))
        .withColumn("__digits", regexp_replace(col("props"), "[^0-9]", ""))
        .withColumn(
          "path",
          transform(
            array_remove(split(col("__digits"), ""), ""),
            c => when(c === "0", lit(null)).otherwise(c)))
        .withColumn(
          "path_length",
          AmpTraceroutePathlen.ipPathLength(col("path"), size(col("path"))))
        .withColumn("binstart", col("timestamp") - col("timestamp") % (7 * 86400))
      AmpTraceroutePathlen
        .reduce(withPath, Seq("nntsclabel", "binstart"), "path_length")
        .orderBy("nntsclabel", "binstart")
    },
      s"""WITH b AS (
         |  SELECT nntsclabel, "timestamp" - ("timestamp" % ${7 * 86400}) AS binstart,
         |         regexp_replace(props, '[^0-9]', '', 'g') AS digits
         |  FROM ($oracleEventsWindow)
         |), adj AS (
         |  SELECT nntsclabel, binstart,
         |         CASE WHEN len(digits) = 0 THEN 0.5
         |              WHEN digits LIKE '%0'
         |                THEN len(digits) + 0.5 - (len(digits) - len(rtrim(digits, '0')))
         |              ELSE CAST(len(digits) AS DOUBLE) END AS path_length
         |  FROM b
         |), counted AS (
         |  SELECT nntsclabel, binstart, path_length, count(*) AS "count"
         |  FROM adj GROUP BY 1, 2, 3
         |), win AS (
         |  SELECT *, row_number() OVER (PARTITION BY nntsclabel, binstart
         |             ORDER BY "count" DESC, path_length ASC NULLS LAST) AS rn
         |  FROM counted
         |)
         |SELECT nntsclabel, binstart, path_length, "count"
         |FROM win WHERE rn = 1
         |ORDER BY nntsclabel, binstart""".stripMargin),

    // ---- A4 `smoke` (ntile-20 sketch) + W1 ntile window.
    // The library API returns the sketch as an ordered array (A5 consumes it
    // that way); for the oracle gate the array is pivoted into 20 scalar
    // double columns (smoke_01..smoke_20) because the driver's pandas
    // comparator cannot sort ArrayType columns. ntile buckets are contiguous
    // 1..min(n,20), so position i == bucket i; exact doubles, no
    // cross-engine stringification.
    Gate("q_smoke", (s, dir) => {
      val arr = QueryEngine.selectAggregatedData(
        Tables.tsEvents(s, dir), labelsFor(s, dir),
        Seq(AggSpec("value", "smoke"), AggSpec("value", "count")),
        Start, Stop, binsize = 7 * 86400, parity = true)
      val buckets = (1 to 20).map(i =>
        try_element_at(col("value_smoke"), lit(i)).as(f"smoke_$i%02d"))
      arr.select(
        Seq(col("nntsclabel"), col("binstart")) ++ buckets ++
          Seq(col("value_count"), col("timestamp")): _*)
    },
      s"""WITH b AS (
         |  SELECT nntsclabel, "timestamp" - ("timestamp" % ${7 * 86400}) AS binstart,
         |         "timestamp", value
         |  FROM ($oracleEventsWindow)
         |), base AS (
         |  SELECT nntsclabel, binstart, count(value) AS value_count,
         |         max("timestamp") AS "timestamp"
         |  FROM b GROUP BY 1, 2
         |), t AS (
         |  SELECT nntsclabel, binstart, value,
         |         ntile(20) OVER (PARTITION BY nntsclabel, binstart ORDER BY value) AS bucket
         |  FROM b WHERE value IS NOT NULL
         |), ba AS (
         |  SELECT nntsclabel, binstart, bucket,
         |         ${OracleParity.Sql.exactAvg("value")} AS bavg
         |  FROM t GROUP BY 1, 2, 3
         |), sm AS (
         |  SELECT nntsclabel, binstart,
         |         ${(1 to 20).map(i => s"max(CASE WHEN bucket = $i THEN bavg END) AS smoke_${f"$i%02d"}").mkString(",\n         ")}
         |  FROM ba GROUP BY 1, 2
         |)
         |SELECT base.nntsclabel, base.binstart,
         |       ${(1 to 20).map(i => f"sm.smoke_$i%02d").mkString(", ")},
         |       base.value_count, base."timestamp"
         |FROM base LEFT JOIN sm
         |  ON base.nntsclabel = sm.nntsclabel AND base.binstart = sm.binstart
         |ORDER BY base.nntsclabel, base.binstart""".stripMargin),

    // ---- A5 `smokearray` (dbselect.py:824-829 array form of the smoke
    // sketch): per-row ping arrays (digits of props, as the smokeping
    // pings column) flattened then ntile-20 sketched; output pivoted to
    // scalar columns like q_smoke.
    Gate("q_smokearray", (s, dir) => {
      val withArr = Tables.tsEvents(s, dir).withColumn(
        "pings",
        transform(
          array_remove(split(regexp_replace(col("props"), "[^0-9]", ""), ""), ""),
          c => c.cast("int")))
      val arr = QueryEngine.selectAggregatedData(
        withArr, labelsFor(s, dir),
        Seq(AggSpec("pings", "smokearray"), AggSpec("value", "count")),
        Start, Stop, binsize = 7 * 86400, parity = true)
      val buckets = (1 to 20).map(i =>
        try_element_at(col("pings"), lit(i)).as(f"pings_$i%02d"))
      arr.select(
        Seq(col("nntsclabel"), col("binstart")) ++ buckets ++
          Seq(col("value"), col("timestamp")): _*)
    },
      s"""WITH b AS (
         |  SELECT nntsclabel, "timestamp" - ("timestamp" % ${7 * 86400}) AS binstart,
         |         "timestamp", value, props
         |  FROM ($oracleEventsWindow)
         |), base AS (
         |  SELECT nntsclabel, binstart, count(value) AS value,
         |         max("timestamp") AS "timestamp"
         |  FROM b GROUP BY 1, 2
         |), x AS (
         |  SELECT nntsclabel, binstart,
         |         unnest(list_transform(
         |           string_split(regexp_replace(props, '[^0-9]', '', 'g'), ''),
         |           c -> CAST(c AS INT))) AS sv
         |  FROM b
         |), t AS (
         |  SELECT nntsclabel, binstart, sv,
         |         ntile(20) OVER (PARTITION BY nntsclabel, binstart ORDER BY sv) AS bucket
         |  FROM x WHERE sv IS NOT NULL
         |), ba AS (
         |  SELECT nntsclabel, binstart, bucket,
         |         ${OracleParity.Sql.exactAvg("sv")} AS bavg
         |  FROM t GROUP BY 1, 2, 3
         |), sm AS (
         |  SELECT nntsclabel, binstart,
         |         ${(1 to 20).map(i => s"max(CASE WHEN bucket = $i THEN bavg END) AS pings_${f"$i%02d"}").mkString(",\n         ")}
         |  FROM ba GROUP BY 1, 2
         |)
         |SELECT base.nntsclabel, base.binstart,
         |       ${(1 to 20).map(i => f"sm.pings_$i%02d").mkString(", ")},
         |       base.value, base."timestamp"
         |FROM base LEFT JOIN sm
         |  ON base.nntsclabel = sm.nntsclabel AND base.binstart = sm.binstart
         |ORDER BY base.nntsclabel, base.binstart""".stripMargin),

    // ---- A12 matrix (whole-period single bin) + A9 min_timestamp
    Gate("q_matrix", (s, dir) => {
      QueryEngine.selectMatrixData(
        Tables.tsEvents(s, dir), labelsFor(s, dir),
        Seq(
          AggSpec("value", "avg"), AggSpec("value", "max"),
          AggSpec("value", "count")),
        Start, Stop, parity = true)
    },
      s"""SELECT nntsclabel, CAST($Start AS BIGINT) AS binstart,
         |  ${OracleParity.Sql.exactAvg("value")} AS value_avg,
         |  max(value) AS value_max,
         |  count(value) AS value_count,
         |  max("timestamp") AS "timestamp",
         |  min("timestamp") AS min_timestamp
         |FROM ($oracleEventsWindow)
         |GROUP BY 1
         |ORDER BY nntsclabel""".stripMargin),

    // ---- A12 matrix served FROM the rollup tier (influx.py:384-517):
    //      partial→matrix math over 1-h pre-aggregates; the oracle
    //      recomputes from raw rows over the same [Start, Stop) bins
    Gate("q_matrix_tier", (s, dir) => {
      val tier = Rollup.build(Tables.tsEvents(s, dir), 3600, "value")
      Rollup.matrixFromTier(
        tier, labelsFor(s, dir),
        Seq(
          AggSpec("value", "avg"), AggSpec("value", "sum"),
          AggSpec("value", "min"), AggSpec("value", "max"),
          AggSpec("value", "count"), AggSpec("value", "stddev")),
        Start, Stop)
    },
      s"""SELECT nntsclabel, CAST($Start AS BIGINT) AS binstart,
         |  ${OracleParity.Sql.exactAvg("value")} AS value_avg,
         |  ${OracleParity.Sql.exactSum("value")} AS value_sum,
         |  min(value) AS value_min,
         |  max(value) AS value_max,
         |  count(value) AS value_count,
         |  ${OracleParity.Sql.exactStddev("value")} AS value_stddev,
         |  max("timestamp") AS "timestamp",
         |  min("timestamp") AS min_timestamp
         |FROM ($OracleEvents)
         |WHERE "timestamp" - ("timestamp" % 3600) >= $Start
         |  AND "timestamp" - ("timestamp" % 3600) < $Stop
         |GROUP BY 1
         |ORDER BY nntsclabel""".stripMargin),

    // ---- A12/A13 MULTI-COLUMN + MODE tier: the reference's CQs roll up
    //      a column LIST per collection (influx.py:158-173) and the
    //      matrix merges `most` from per-bin rollup counts
    //      (influx.py:492-511) — here exact per-value count maps, so the
    //      tier-served mode equals the raw mostByGroup answer and the
    //      oracle recomputes everything from raw rows over the same bins
    Gate("q_matrix_tier_multi", (s, dir) => {
      val tier = Rollup.buildMulti(
        Tables.tsEvents(s, dir), 3600,
        Seq("value", "event_id"), Seq("event_type"))
      Rollup.matrixFromTier(
        tier, labelsFor(s, dir),
        Seq(
          AggSpec("value", "avg"), AggSpec("value", "count"),
          AggSpec("event_id", "avg"), AggSpec("event_id", "max"),
          AggSpec("event_type", "most")),
        Start, Stop, primaryCol = "value")
    },
      s"""WITH w AS (
         |  SELECT * FROM ($OracleEvents)
         |  WHERE "timestamp" - ("timestamp" % 3600) >= $Start
         |    AND "timestamp" - ("timestamp" % 3600) < $Stop
         |), base AS (
         |  SELECT nntsclabel,
         |    ${OracleParity.Sql.exactAvg("value")} AS value_avg,
         |    count(value) AS value_count,
         |    ${OracleParity.Sql.exactAvg("event_id")} AS event_id_avg,
         |    max(event_id) AS event_id_max,
         |    max("timestamp") AS "timestamp",
         |    min("timestamp") AS min_timestamp
         |  FROM w GROUP BY 1
         |), m AS (
         |  SELECT nntsclabel, event_type,
         |    row_number() OVER (PARTITION BY nntsclabel
         |                       ORDER BY count(*) DESC, event_type ASC) AS rn
         |  FROM w WHERE event_type IS NOT NULL GROUP BY 1, 2
         |)
         |SELECT b.nntsclabel, CAST($Start AS BIGINT) AS binstart,
         |  b.value_avg, b.value_count, b.event_id_avg, b.event_id_max,
         |  m.event_type, b."timestamp", b.min_timestamp
         |FROM base b
         |LEFT JOIN m ON b.nntsclabel = m.nntsclabel AND m.rn = 1
         |ORDER BY b.nntsclabel""".stripMargin),

    // ---- A4/A12 SMOKE served FROM the rollup tier: the reference's
    //      Influx path computes a percentile grid (5..95 step 5 + max,
    //      influx.py:663-668) and packs it post-query (:694-735); here
    //      the tier stores the bin grids count-weighted as exact decimals
    //      and the matrix merge is order-free. Exact ntile-20 over raw
    //      (q_smoke) stays canonical — this gates the documented grid
    //      twin, like A7's engine-wide ntile decision. Gate shape: the
    //      grid is pivoted to smoke_01..smoke_20 scalars (the driver's
    //      comparator cannot sort ArrayType cells); the library API
    //      (Rollup.matrixFromTier) keeps the array.
    Gate("q_matrix_tier_smoke", (s, dir) => {
      val tier = Rollup.buildMulti(
        Tables.tsEvents(s, dir), 3600, Seq("value"), smokeCols = Seq("value"))
      pivotSmokeGrid(Rollup.matrixFromTier(
        tier, labelsFor(s, dir),
        Seq(
          AggSpec("value", "smoke"), AggSpec("value", "avg"),
          AggSpec("value", "count")),
        Start, Stop, primaryCol = "value"), "value_smoke")
    }, {
      // tier smoke: per-(stream, bin) percentile grid (weighted form —
      // DuckDB's quantile_cont and Spark's percentile share it), quantized
      // to DECIMAL(18,6), count-weighted merge, window max as the 20th slot;
      // grid emitted as smoke_01..smoke_20 scalars (gate-shape pivot — the
      // driver comparator cannot sort arrays)
      s"""WITH w AS (
         |  SELECT * FROM ($OracleEvents)
         |  WHERE "timestamp" - ("timestamp" % 3600) >= $Start
         |    AND "timestamp" - ("timestamp" % 3600) < $Stop
         |), b AS (
         |  SELECT nntsclabel, stream_id,
         |    "timestamp" - ("timestamp" % 3600) AS bin,
         |    count(value) AS cnt, max(value) AS mx, $TierSmokeGrid
         |  FROM w GROUP BY 1, 2, 3
         |), m AS (
         |  SELECT nntsclabel, $TierSmokeSlots, max(mx) AS mxx, sum(cnt) AS n
         |  FROM b GROUP BY 1
         |), base AS (
         |  SELECT nntsclabel,
         |    ${OracleParity.Sql.exactAvg("value")} AS value_avg,
         |    count(value) AS value_count,
         |    max("timestamp") AS "timestamp",
         |    min("timestamp") AS min_timestamp
         |  FROM w GROUP BY 1
         |)
         |SELECT base.nntsclabel, CAST($Start AS BIGINT) AS binstart,
         |  ${tierSmokePack("m")},
         |  base.value_avg, base.value_count, base."timestamp",
         |  base.min_timestamp
         |FROM base JOIN m ON base.nntsclabel = m.nntsclabel
         |ORDER BY base.nntsclabel""".stripMargin
    }),

    // ---- A8 binned history served FROM the tier (beyond-reference
    //      serving economy: the reference's Influx backend re-aggregates
    //      RAW points for graph history, influx.py:574-575 — here a
    //      6-h-bin graph folds 1-h tier partials per bin, raw untouched;
    //      Service.aggFrame routes, this gates the fold math: stats +
    //      mode maps + smoke grids all re-grouped onto the coarser grid)
    Gate("q_agg_tier_bins", (s, dir) => {
      val tier = Rollup.buildMulti(
        Tables.tsEvents(s, dir), 3600,
        Seq("value"), Seq("event_type"), Seq("value"))
      pivotSmokeGrid(Rollup.aggregatedFromTier(
        tier, labelsFor(s, dir),
        Seq(
          AggSpec("value", "avg"), AggSpec("value", "count"),
          AggSpec("value", "stddev"), AggSpec("event_type", "most"),
          AggSpec("value", "smoke")),
        Start, Stop, binsize = 21600, primaryCol = "value"), "value_smoke")
    }, {
      // binned tier serve: same per-tier-bin grid/count/mode partials as the
      // matrix oracles, re-grouped onto the requested 6-h absolute grid;
      // grid emitted as smoke_01..smoke_20 scalars (gate-shape pivot)
      s"""WITH w AS (
         |  SELECT *, "timestamp" - ("timestamp" % 21600) AS rb
         |  FROM ($OracleEvents)
         |  WHERE "timestamp" - ("timestamp" % 3600) >= $Start
         |    AND "timestamp" - ("timestamp" % 3600) < $Stop
         |), b AS (
         |  SELECT nntsclabel, rb, stream_id,
         |    "timestamp" - ("timestamp" % 3600) AS bin,
         |    count(value) AS cnt, max(value) AS mx, $TierSmokeGrid
         |  FROM w GROUP BY 1, 2, 3, 4
         |), sm AS (
         |  SELECT nntsclabel, rb, $TierSmokeSlots, max(mx) AS mxx, sum(cnt) AS n
         |  FROM b GROUP BY 1, 2
         |), mo AS (
         |  SELECT nntsclabel, rb, event_type,
         |    row_number() OVER (PARTITION BY nntsclabel, rb
         |                       ORDER BY count(*) DESC, event_type ASC) AS rn
         |  FROM w WHERE event_type IS NOT NULL GROUP BY 1, 2, 3
         |), base AS (
         |  SELECT nntsclabel, rb,
         |    ${OracleParity.Sql.exactAvg("value")} AS value_avg,
         |    count(value) AS value_count,
         |    ${OracleParity.Sql.exactStddev("value")} AS value_stddev,
         |    max("timestamp") AS "timestamp"
         |  FROM w GROUP BY 1, 2
         |)
         |SELECT b.nntsclabel, b.rb AS binstart,
         |  b.value_avg, b.value_count, b.value_stddev,
         |  mo.event_type,
         |  ${tierSmokePack("sm")},
         |  b."timestamp"
         |FROM base b
         |JOIN sm ON b.nntsclabel = sm.nntsclabel AND b.rb = sm.rb
         |LEFT JOIN mo ON b.nntsclabel = mo.nntsclabel AND b.rb = mo.rb AND mo.rn = 1
         |ORDER BY b.nntsclabel, b.rb""".stripMargin
    }),

    // ---- A7/A13 byte-parity smoke mode, gated (r9 verdict): the tier
    //      built with Influx percentile() semantics — nearest-rank,
    //      1-based index floor(n·p + 0.5), a sparse bin leaves its
    //      low-percentile slots NULL (influx.py:694-722) — and served
    //      with the sparse clamp. A 600 s tier under a 6 h request grid
    //      keeps most tier bins at n 1..3 (sf0.01), so this exercises for
    //      real: per-slot denominators (Σ(cnt | slot populated), the r9
    //      advice fix — a shared Σcnt would bias every merged percentile
    //      low), the 100/n-stepped clamp on the merged window count, and
    //      the reference's non-None pack (NULL slots drop). The default
    //      interpolated grid (q_matrix_tier_smoke) stays canonical.
    Gate("q_tier_smoke_nr", (s, dir) => {
      val tier = Rollup.buildMulti(
        Tables.tsEvents(s, dir), 600, Seq("value"), smokeCols = Seq("value"),
        smokeNearestRank = true)
      pivotSmokeGrid(Rollup.aggregatedFromTier(
        tier, labelsFor(s, dir),
        Seq(
          AggSpec("value", "avg"), AggSpec("value", "count"),
          AggSpec("value", "smoke")),
        Start, Stop, binsize = 21600, primaryCol = "value",
        sparseClamp = true, smokeNearestRank = true), "value_smoke")
    }, {
      // nearest-rank tier smoke (Influx percentile() byte parity): per
      // (stream, 600 s bin) grids via 1-based index floor(n·p + 0.5) into
      // the sorted values (index 0 → NULL slot, influx.py:694-722); merged
      // onto the 6 h grid with PER-SLOT denominators (Σ(cnt | slot
      // populated) — the r9 advice fix); clamped to the 100/n percentile
      // step by the merged window count (influx.py:694-712); NULL slots
      // dropped (the reference's non-None pack) before the scalar pivot
      val grid = (1 to 19)
        .map(k =>
          s"CASE WHEN floor(cnt * ($k/20.0) + 0.5) >= 1 THEN " +
            s"sv[CAST(floor(cnt * ($k/20.0) + 0.5) AS INTEGER)] END AS g$k")
        .mkString(", ")
      val slots = (1 to 19)
        .map(k =>
          s"${OracleParity.Sql.decToDouble(s"sum(CAST(g$k AS DECIMAL(18,6)) * cnt)")} / " +
            s"sum(CASE WHEN floor(cnt * ($k/20.0) + 0.5) >= 1 THEN cnt END) AS p$k")
        .mkString(", ")
      val full = ((1 to 19).map(k => s"p$k") :+ "mxx").mkString(", ")
      val clamp = (2 to 19)
        .map { k =>
          val ps = Rollup.clampPercents(k).map(p => s"p${p / 5}")
          s"WHEN n = $k THEN [${(ps :+ "mxx").mkString(", ")}]"
        }
        .mkString(" ")
      val pivot = (1 to 20).map(i => f"l[$i] AS smoke_$i%02d").mkString(", ")
      s"""WITH w AS (
         |  SELECT *, "timestamp" - ("timestamp" % 21600) AS rb,
         |         "timestamp" - ("timestamp" % 600) AS bin
         |  FROM ($OracleEvents)
         |  WHERE "timestamp" - ("timestamp" % 600) >= $Start
         |    AND "timestamp" - ("timestamp" % 600) < $Stop
         |), b AS (
         |  SELECT nntsclabel, rb, stream_id, bin,
         |    count(value) AS cnt, max(value) AS mx,
         |    list_sort(list(value) FILTER (WHERE value IS NOT NULL)) AS sv
         |  FROM w GROUP BY 1, 2, 3, 4
         |), g AS (
         |  SELECT *, $grid FROM b
         |), m AS (
         |  SELECT nntsclabel, rb, $slots, max(mx) AS mxx, sum(cnt) AS n
         |  FROM g GROUP BY 1, 2
         |), packed AS (
         |  SELECT nntsclabel, rb,
         |    list_filter(
         |      CASE WHEN n <= 1 THEN [mxx] $clamp ELSE [$full] END,
         |      x -> x IS NOT NULL) AS l
         |  FROM m
         |), base AS (
         |  SELECT nntsclabel, rb,
         |    ${OracleParity.Sql.exactAvg("value")} AS value_avg,
         |    count(value) AS value_count,
         |    max("timestamp") AS "timestamp"
         |  FROM w GROUP BY 1, 2
         |)
         |SELECT base.nntsclabel, base.rb AS binstart,
         |  base.value_avg, base.value_count, $pivot, base."timestamp"
         |FROM base
         |JOIN packed ON base.nntsclabel = packed.nntsclabel AND base.rb = packed.rb
         |ORDER BY base.nntsclabel, base.rb""".stripMargin
    }),

    // ---- A13 rollup build + partial→final merge (matrix pipeline) -----
    Gate("q_rollup_merge", (s, dir) => {
      val ro = Rollup.build(Tables.tsEvents(s, dir), 3600, "value")
      Rollup.merge(ro, labelsFor(s, dir), Start, Stop, "value")
    },
      s"""WITH r AS (
         |  SELECT stream_id, nntsclabel,
         |         "timestamp" - ("timestamp" % 3600) AS binstart,
         |         count(value) AS cnt,
         |         sum(CAST(value AS DECIMAL(18,6))) AS s1,
         |         sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2,
         |         min(value) AS mn, max(value) AS mx, max("timestamp") AS ts
         |  FROM ($OracleEvents)
         |  GROUP BY 1, 2, 3
         |), v AS (
         |  SELECT *,
         |         CASE WHEN cnt >= 2 THEN
         |           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / cnt) / (cnt - 1)
         |         END AS var
         |  FROM r WHERE binstart BETWEEN $Start AND ${Stop - 1}
         |)
         |SELECT nntsclabel,
         |  CAST(sum(s1) AS DOUBLE) / sum(cnt) AS value_avg,
         |  CAST(sum(s1) AS DOUBLE) AS value_sum,
         |  min(mn) AS value_min, max(mx) AS value_max,
         |  CAST(sum(cnt) AS BIGINT) AS value_count,
         |  CASE WHEN sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) > 0 THEN
         |    round(sqrt(sum(CASE WHEN cnt >= 2 THEN var * cnt ELSE 0.0 END)
         |               / sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)), 6)
         |  END AS value_stddev,
         |  max(ts) AS "timestamp"
         |FROM v GROUP BY 1 ORDER BY nntsclabel""".stripMargin),

    // ---- W3 frequency inference over a binned history ----------------
    Gate("q_freq", (s, dir) => {
      val binned = QueryEngine.selectAggregatedData(
        Tables.tsEvents(s, dir), labelsFor(s, dir),
        Seq(AggSpec("value", "count")), Start, Stop, binsize = 600,
        ordered = false) // infer() re-partitions by label immediately
      Frequency.infer(binned, 600)
    },
      s"""WITH agg AS (
         |  SELECT nntsclabel, "timestamp" - ("timestamp" % 600) AS binstart,
         |         max("timestamp") AS ts
         |  FROM ($oracleEventsWindow) GROUP BY 1, 2
         |), d0 AS (
         |  SELECT nntsclabel,
         |         ts - lag(ts) OVER (PARTITION BY nntsclabel ORDER BY ts) AS tsdiff,
         |         binstart - lag(binstart) OVER (PARTITION BY nntsclabel ORDER BY ts) AS bindiff,
         |         ts
         |  FROM agg
         |), d AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nntsclabel ORDER BY ts) AS rn
         |    FROM d0 WHERE tsdiff IS NOT NULL)
         |  WHERE rn <= 200
         |), stats AS (
         |  SELECT nntsclabel, count(*) AS total,
         |         sum(CASE WHEN bindiff = 600 THEN 1 ELSE 0 END) AS perfect,
         |         CAST(sum(tsdiff) AS DOUBLE) / count(*) AS mean
         |  FROM d GROUP BY 1
         |), byd AS (
         |  SELECT nntsclabel, tsdiff, count(*) AS cnt FROM d GROUP BY 1, 2
         |), strong AS (
         |  SELECT nntsclabel, tsdiff AS strongmode FROM (
         |    SELECT b.nntsclabel, b.tsdiff,
         |           row_number() OVER (PARTITION BY b.nntsclabel
         |                              ORDER BY b.cnt DESC, b.tsdiff) AS rn
         |    FROM byd b JOIN stats s ON b.nntsclabel = s.nntsclabel
         |    WHERE b.cnt * 2 >= s.total)
         |  WHERE rn = 1
         |), prom AS (
         |  SELECT b.nntsclabel, min(b.tsdiff) AS prominent
         |  FROM byd b JOIN stats s ON b.nntsclabel = s.nntsclabel
         |  WHERE b.cnt * 5 >= s.total GROUP BY 1
         |), lbls AS (SELECT DISTINCT nntsclabel FROM agg)
         |SELECT l.nntsclabel,
         |  CAST(CASE
         |    WHEN s.total IS NULL OR s.total = 0 THEN 300
         |    WHEN CAST(s.perfect AS DOUBLE) / s.total > 0.9 THEN 600
         |    WHEN st.strongmode IS NOT NULL THEN st.strongmode
         |    WHEN p.prominent IS NOT NULL THEN p.prominent
         |    WHEN s.mean <= 10 THEN 10
         |    WHEN s.mean <= 60 THEN floor((floor(s.mean) + 5) / 10) * 10
         |    WHEN s.mean <= 300 THEN floor((floor(s.mean) + 30) / 60) * 60
         |    WHEN s.mean <= 3600 THEN floor((floor(s.mean) + 150) / 300) * 300
         |    ELSE floor((floor(s.mean) + 1800) / 3600) * 3600
         |  END AS BIGINT) AS freq
         |FROM lbls l
         |LEFT JOIN stats s ON l.nntsclabel = s.nntsclabel
         |LEFT JOIN strong st ON l.nntsclabel = st.nntsclabel
         |LEFT JOIN prom p ON l.nntsclabel = p.nntsclabel
         |ORDER BY l.nntsclabel""".stripMargin),

    // ---- U3 missing-label anti-join (labels with no data → empty) -----
    Gate("q_missing_labels", (s, dir) => {
      val labels = labelsFor(s, dir) + ("ghost" -> Seq(10000000L))
      QueryEngine.missingLabels(
        Tables.tsEvents(s, dir), labels, Start, Start + 86400)
    },
      s"""WITH all_l AS (
         |  SELECT unnest(['g0', 'g1', 'g2', 'ghost']) AS nntsclabel
         |), obs AS (
         |  SELECT DISTINCT nntsclabel FROM ($OracleEvents)
         |  WHERE "timestamp" BETWEEN $Start AND ${Start + 86400}
         |)
         |SELECT nntsclabel FROM all_l
         |WHERE nntsclabel NOT IN (SELECT nntsclabel FROM obs)
         |ORDER BY nntsclabel""".stripMargin),

    // ---- A15 ingest-time aggregation: int-truncating median, loss -----
    Gate("q_ingest_median", (s, dir) => {
      val ev = QueryEngine
        .filterTime(Tables.tsEvents(s, dir), Start, Stop)
        .withColumn("v", col("value").cast("int"))
        .withColumn("binstart", col("timestamp") - (col("timestamp") % 21600))
      ev.groupBy("stream_id", "binstart")
        .agg(
          Normalize.medianInt(col("v")).as("median"),
          count(col("v")).as("results"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("loss"))
        .withColumn("lossrate", col("loss").cast("double") / col("results"))
        .orderBy("stream_id", "binstart")
    },
      s"""WITH d AS (
         |  SELECT stream_id, "timestamp" - ("timestamp" % 21600) AS binstart,
         |         CAST(trunc(value) AS INTEGER) AS v, event_type
         |  FROM ($oracleEventsWindow)
         |), g AS (
         |  SELECT stream_id, binstart, list(v ORDER BY v) AS l,
         |         count(v) AS results,
         |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS loss
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT stream_id, binstart,
         |  CAST(CASE WHEN results % 2 = 1 THEN l[CAST(results // 2 AS INTEGER) + 1]
         |       ELSE (l[CAST(results // 2 AS INTEGER)] + l[CAST(results // 2 AS INTEGER) + 1]) // 2
         |  END AS INTEGER) AS median,
         |  results, loss,
         |  CAST(loss AS DOUBLE) / results AS lossrate
         |FROM g ORDER BY stream_id, binstart""".stripMargin),

    // ---- F-series scalar functions: JSON props, unit conv, safe rate --
    Gate("q_scalar_funcs", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      QueryEngine
        .filterTime(Tables.tsEvents(s, dir), Start, Stop)
        .select(
          col("stream_id"), col("timestamp"), col("event_id"),
          k.as("k"),
          (col("value") * 1000).as("value_ms"),
          Normalize.safeRate(col("value"), k).as("rate"))
        .orderBy("event_id")
    },
      s"""SELECT stream_id, "timestamp", event_id,
         |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |  value * 1000 AS value_ms,
         |  CASE WHEN CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL
         |            AND CAST(json_extract_string(props, '$$.k') AS BIGINT) != 0
         |       THEN value / CAST(json_extract_string(props, '$$.k') AS BIGINT)
         |  END AS rate
         |FROM ($oracleEventsWindow)
         |ORDER BY event_id""".stripMargin),

    // ---- Approximate sketches for 100 TB interactive profiling: HLL
    //      distinct + KLL-style quantiles per label (rows-only check —
    //      sketch internals differ across engines by construction).
    //      Quantiles are emitted as scalar p50/p95/p99 columns: the driver's
    //      pandas comparator cannot sort ArrayType output.
    // sketch internals differ across engines by construction, so the
    // oracle check is TOLERANCE-BANDED through the exact-hash gate: the
    // exact columns (n, nd_exact) hash-compare directly, and each sketch
    // estimate is emitted as an in-band BOOLEAN (HLL within its 1%-config
    // x5 margin; approx percentiles inside exact +/-1%-rank bands) that
    // the oracle pins to TRUE — a sketch drifting out of bounds flips the
    // boolean and fails the hash, so no output cell goes unverified.
    Gate("q_sketches", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = QueryEngine
        .attachLabels(
          QueryEngine.filterTime(Tables.tsEvents(s, dir), Start, Stop),
          labelsFor(s, dir))
        .select(col("nntsclabel"), col("value"))
      // Exact distinct via TWO-LEVEL aggregation, NOT countDistinct in the
      // same agg as the sketches: mixing a distinct aggregate with the
      // object-buffer sketch aggregates (HLL, percentile_approx) makes
      // Catalyst's distinct rewrite drag both sketch buffers through the
      // Expand + sort path — measured 17.9 s vs 0.3 + 1 s split apart at
      // sf0.1. Two-level (group by (label, value), then count groups) is
      // also the shape that survives skewed labels at 100 TB: the first
      // level map-side-combines per value, no single hot distinct set.
      val byValue = ev.groupBy("nntsclabel", "value").agg(count(lit(1)).as("__c"))
      // count(value), not count(*): a NULL-value group must not count as a
      // distinct value — countDistinct and the oracle's count(DISTINCT
      // value) both ignore NULLs, and counting the NULL group here would
      // shift nd_exact (and the hll band around it) off by one.
      val exact = byValue.groupBy("nntsclabel")
        .agg(sum("__c").as("n"), count(col("value")).as("nd_exact"))
      val approxAggs = ev
        .groupBy("nntsclabel")
        .agg(
          approx_count_distinct(col("value"), 0.01).as("__hll"),
          percentile_approx(col("value"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000))
            .as("__pcts"))
      val sketches = exact.join(approxAggs, "nntsclabel")
      // Exactness bands as DISCRETE order statistics from one ranked
      // pass: a distributed sort per label instead of the exact
      // `percentile` buffer it replaces (whose per-group value map took
      // 17.8 s at sf0.1 vs ~2 s for this). percentile_approx's rank
      // error (1/accuracy = 1e-4) is far inside the ±0.01-quantile
      // bands, so the in-band booleans the oracle asserts stay TRUE.
      // (Band-checking is a verification query: the 3-label window sort
      // is one task per label — fine here; a production-scale rank needs
      // range partitioning, which the gate's tiny label count defeats.)
      // __n as a WINDOW count over the SAME per-label partitioning the
      // rank already establishes (r20, guide §2.4 shared exchange): the
      // r19 shape computed it as a separate groupBy pass over ev — a
      // whole extra scan + label-attach join — and broadcast it back in.
      // The count window reuses the rank window's exchange and sort
      // (unbounded frame, no added order), so q_sketches drops from 4
      // full passes over events to 3.
      val rn = row_number().over(
        Window.partitionBy("nntsclabel").orderBy("value"))
      def bandAt(q: Double) = max(when(
        col("rn") === greatest(lit(1L), ceil(col("__n") * lit(q)).cast("long")),
        col("value")))
      val bands = ev
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("nntsclabel")))
        .withColumn("rn", rn)
        .groupBy("nntsclabel")
        .agg(
          bandAt(0.49).as("__b49"), bandAt(0.51).as("__b51"),
          bandAt(0.94).as("__b94"), bandAt(0.96).as("__b96"),
          bandAt(0.98).as("__b98"), bandAt(1.0).as("__b100"))
      sketches.join(bands, "nntsclabel")
        .select(
          col("nntsclabel"), col("n"), col("nd_exact"),
          (abs(col("__hll") - col("nd_exact")) <= col("nd_exact") * 0.05)
            .as("hll_within_5pct"),
          try_element_at(col("__pcts"), lit(1))
            .between(col("__b49"), col("__b51")).as("p50_in_band"),
          try_element_at(col("__pcts"), lit(2))
            .between(col("__b94"), col("__b96")).as("p95_in_band"),
          try_element_at(col("__pcts"), lit(3))
            .between(col("__b98"), col("__b100")).as("p99_in_band"))
        .orderBy("nntsclabel")
    },
      // exact columns verified directly; the in-band booleans are pinned to
      // TRUE — the Spark side computes them against ITS sketches, so a
      // sketch out of bounds flips a cell and fails the hash
      s"""SELECT nntsclabel, count(*) AS n, count(DISTINCT value) AS nd_exact,
         |  TRUE AS hll_within_5pct, TRUE AS p50_in_band,
         |  TRUE AS p95_in_band, TRUE AS p99_in_band
         |FROM ($oracleEventsWindow)
         |GROUP BY 1
         |ORDER BY nntsclabel""".stripMargin),

    // ---- As-of join: each click aligned with the latest prior purchase
    //      of the same stream (union + carry-forward window, one shuffle)
    Gate("q_asof_join", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = QueryEngine.filterTime(Tables.tsEvents(s, dir), Start, Stop)
      val clicks = ev.filter(col("event_type") === "click")
        .select("stream_id", "timestamp", "event_id", "value")
      // dedupe purchases to one per (stream, ts) — keep max event_id — so
      // the as-of match is well-defined in both engines
      val wDedup = Window.partitionBy("stream_id", "timestamp").orderBy(desc("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1)
        .select("stream_id", "timestamp", "value")
      TimeSeriesOps.asofJoin(
          clicks, purchases.withColumnRenamed("value", "purchase_value"),
          Seq("stream_id"), "timestamp", Seq("purchase_value"))
        .orderBy("stream_id", "timestamp", "event_id")
    },
      AsofOracle),

    // ---- Same as-of semantics through the CUSTOM PHYSICAL OPERATOR
    //      (rung (c): AsOfJoinNode + strategy + sort-merge AsOfJoinExec);
    //      shares q_asof_join's oracle SQL — both must hash-match it.
    Gate("q_asof_native", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = QueryEngine.filterTime(Tables.tsEvents(s, dir), Start, Stop)
      val clicks = ev.filter(col("event_type") === "click")
        .select("stream_id", "timestamp", "event_id", "value")
      val wDedup = Window.partitionBy("stream_id", "timestamp").orderBy(desc("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1)
        .select("stream_id", "timestamp", "value")
      TimeSeriesOps.asofJoinNative(
          clicks, purchases.withColumnRenamed("value", "purchase_value"),
          Seq("stream_id"), "timestamp", Seq("purchase_value"))
        .orderBy("stream_id", "timestamp", "event_id")
    },
      // the custom physical operator must match the exact same oracle
      AsofOracle),

    // ---- Rolling z-score anomaly detection (the netevmon-style event
    //      detector as a relational operator): per-stream 20-row
    //      trailing baseline, quantized exact window sums, |z| >= 2.5.
    //      sqrt is IEEE correctly-rounded, so even the z values are
    //      bit-reproducible cross-engine ------------------------------
    Gate("q_anomaly", (s, dir) => {
      TimeSeriesOps.rollingZScore(
          Tables.tsEvents(s, dir)
            .select("stream_id", "timestamp", "event_id", "value"),
          "stream_id", "timestamp", "event_id", "value",
          windowRows = 20, minN = 10, threshold = 2.5)
        .orderBy("stream_id", "timestamp", "event_id")
    },
      // identical expression dag: quantized BIGINT window sums (exact),
      // then mean/var/z as the same single-IEEE-op chain; sqrt is
      // correctly rounded in both engines, so no rounding step is needed
      s"""WITH e AS (
         |  SELECT stream_id, "timestamp", event_id, value,
         |         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS q
         |  FROM ($OracleEvents)
         |), w AS (
         |  SELECT stream_id, "timestamp", event_id, value, q,
         |         count(*) OVER win AS n,
         |         CAST(sum(q) OVER win AS BIGINT) AS s1,
         |         CAST(sum(q * q) OVER win AS BIGINT) AS s2
         |  FROM e
         |  WINDOW win AS (PARTITION BY stream_id ORDER BY "timestamp", event_id
         |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
         |), z AS (
         |  SELECT stream_id, "timestamp", event_id, value, n, q, s1, s2,
         |         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) AS var,
         |         (CAST(q AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
         |           / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS zscore
         |  FROM w
         |)
         |SELECT stream_id, "timestamp", event_id, value,
         |       CAST(n AS BIGINT) AS n_history, zscore
         |FROM z
         |WHERE n >= 10 AND var > 0.0 AND abs(zscore) >= 2.5
         |ORDER BY stream_id, "timestamp", event_id""".stripMargin),

    // ---- Plateau detection: maximal runs at/above a level, >= minRun
    //      rows, via the gaps-and-islands row_number identity ----------
    Gate("q_plateau", (s, dir) => {
      TimeSeriesOps.plateaus(
          Tables.tsEvents(s, dir)
            .select("stream_id", "timestamp", "event_id", "value"),
          "stream_id", "timestamp", "event_id", "value",
          level = 100.0, minRun = 2)
        .orderBy("stream_id", "t_start")
    },
      s"""WITH e AS (
         |  SELECT stream_id, "timestamp", event_id, value FROM ($OracleEvents)
         |), q AS (
         |  SELECT *, row_number() OVER (PARTITION BY stream_id
         |                               ORDER BY "timestamp", event_id) AS rn
         |  FROM e
         |), f AS (
         |  SELECT *, rn - row_number() OVER (PARTITION BY stream_id
         |                                    ORDER BY "timestamp", event_id) AS isl
         |  FROM q WHERE value >= 100.0
         |)
         |SELECT stream_id,
         |       min("timestamp") AS t_start,
         |       max("timestamp") AS t_end,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       max(value) AS peak
         |FROM f GROUP BY stream_id, isl
         |HAVING count(*) >= 2
         |ORDER BY stream_id, t_start""".stripMargin),

    // ---- CUSUM changepoint detection: the sequential recursion as a
    //      relational prefix scan (g = S − running-min S); EXACT integer
    //      arithmetic end to end — no float reduction anywhere ---------
    Gate("q_cusum", (s, dir) => {
      TimeSeriesOps.cusum(
          Tables.tsEvents(s, dir)
            .select("stream_id", "timestamp", "event_id", "value"),
          "stream_id", "timestamp", "event_id", "value",
          k = 60.0, h = 500.0)
        .orderBy("stream_id", "timestamp", "event_id")
    },
      // the same scan identity: S = running sum of (q − k·quant), g = S −
      // min(running-min S, 0); all BIGINT — g/quant is the only double
      s"""WITH e AS (
         |  SELECT stream_id, "timestamp", event_id, value,
         |         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS q
         |  FROM ($OracleEvents)
         |), w AS (
         |  SELECT stream_id, "timestamp", event_id, value,
         |         CAST(sum(q - 60000) OVER win AS BIGINT) AS s
         |  FROM e
         |  WINDOW win AS (PARTITION BY stream_id ORDER BY "timestamp", event_id
         |                 ROWS UNBOUNDED PRECEDING)
         |), g AS (
         |  SELECT stream_id, "timestamp", event_id, value,
         |         s - least(CAST(min(s) OVER win2 AS BIGINT), 0) AS gg
         |  FROM w
         |  WINDOW win2 AS (PARTITION BY stream_id ORDER BY "timestamp", event_id
         |                  ROWS UNBOUNDED PRECEDING)
         |)
         |SELECT stream_id, "timestamp", event_id, value,
         |       CAST(gg AS DOUBLE) / 1000.0 AS cusum
         |FROM g WHERE gg >= 500000
         |ORDER BY stream_id, "timestamp", event_id""".stripMargin),

    // ---- Fixed-point Holt-Winters forecast-deviation detector: the
    //      one genuinely-sequential recursion, made oracle-gatable by
    //      an all-integer state (level/trend/dev as scaled longs, each
    //      step exact muls + ONE half-up rounding floor-div) — the
    //      DuckDB oracle replays it with a recursive CTE. Input bounded
    //      (50 series x 120 rows) to keep the oracle recursion shallow;
    //      the operator itself is unbounded (one fold per series) ------
    Gate("q_hw", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val w = Window.partitionBy("stream_id").orderBy("timestamp", "event_id")
      val bounded = Tables.tsEvents(s, dir)
        .select("stream_id", "timestamp", "event_id", "value")
        .filter(col("stream_id") < 50)
        .withColumn("__i", row_number().over(w))
        .filter(col("__i") <= 120)
        .drop("__i")
        .as[graft.streaming.StreamingDetect.SeriesRow]
      graft.streaming.StreamingDetect.holtWintersFixedBatch(
          s, bounded, alpha = 0.3, beta = 0.1, gamma = 0.3,
          m = 3.0, minN = 10L, minDev = 0.001, quant = 1e6)
        .toDF()
        .orderBy("stream_id", "timestamp", "event_id")
    },
      // the fixed-point recursion replayed verbatim: state in scaled longs,
      // each step exact integer muls + one half-up rounding floor-div —
      // floorDiv(y, C) spelled portably as (y − pmod(y, C)) / C. The CTE
      // iterates once per series position (depth = 120 by the input bound).
      s"""WITH RECURSIVE e AS (
         |  SELECT stream_id, "timestamp", event_id, value,
         |         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS q,
         |         row_number() OVER (PARTITION BY stream_id
         |                            ORDER BY "timestamp", event_id) AS i
         |  FROM ($OracleEvents) WHERE stream_id < 50
         |), s AS (SELECT * FROM e WHERE i <= 120),
         |rec AS (
         |  SELECT stream_id, i, q AS level, CAST(0 AS BIGINT) AS trend,
         |         CAST(1000 AS BIGINT) AS dev, CAST(1 AS BIGINT) AS n,
         |         FALSE AS alarmed, CAST(NULL AS BIGINT) AS a_ts,
         |         CAST(NULL AS BIGINT) AS a_eid, CAST(NULL AS DOUBLE) AS a_val,
         |         CAST(NULL AS BIGINT) AS fq, CAST(NULL AS BIGINT) AS aq
         |  FROM s WHERE i = 1
         |  UNION ALL
         |  SELECT stream_id, i, lvl2 AS level,
         |         ((100 * (lvl2 - lvl) + 900 * tr) + 500
         |          - (((((100 * (lvl2 - lvl) + 900 * tr) + 500) % 1000) + 1000) % 1000)) // 1000 AS trend,
         |         ((300 * aerr + 700 * dv) + 500
         |          - (((((300 * aerr + 700 * dv) + 500) % 1000) + 1000) % 1000)) // 1000 AS dev,
         |         n + 1 AS n,
         |         alarmed, a_ts, a_eid, a_val, fq, aq
         |  FROM (
         |    SELECT *,
         |           ((300 * q + 700 * (lvl + tr)) + 500
         |            - (((((300 * q + 700 * (lvl + tr)) + 500) % 1000) + 1000) % 1000)) // 1000 AS lvl2
         |    FROM (
         |      SELECT s.stream_id, s.i, rec.level AS lvl, rec.trend AS tr,
         |             rec.dev AS dv, rec.n, s.q,
         |             s."timestamp" AS a_ts, s.event_id AS a_eid, s.value AS a_val,
         |             rec.level + rec.trend AS fq,
         |             abs(s.q - (rec.level + rec.trend)) AS aerr,
         |             abs(s.q - (rec.level + rec.trend)) AS aq,
         |             (rec.n >= 10 AND abs(s.q - (rec.level + rec.trend)) * 1000
         |                > 3000 * greatest(rec.dev, 1000)) AS alarmed
         |      FROM rec JOIN s ON s.stream_id = rec.stream_id AND s.i = rec.i + 1
         |    )
         |  )
         |)
         |SELECT stream_id, a_ts AS "timestamp", a_eid AS event_id, a_val AS value,
         |       fq AS forecast_q, aq AS deviation_q
         |FROM rec WHERE alarmed
         |ORDER BY stream_id, "timestamp", event_id""".stripMargin),

    // ---- Gap-based sessionization (window-function suite) -------------
    Gate("q_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("stream_id").orderBy("timestamp", "event_id")
      QueryEngine
        .filterTime(Tables.tsEvents(s, dir), Start, Stop)
        .withColumn("prev", lag("timestamp", 1).over(w))
        .withColumn(
          "newsess",
          when(col("prev").isNull || col("timestamp") - col("prev") > 1800, 1L)
            .otherwise(0L))
        .withColumn(
          "session_id",
          sum("newsess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("stream_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("timestamp").as("t_start"),
          max("timestamp").as("t_end"))
        .withColumn("duration", col("t_end") - col("t_start"))
        .orderBy("stream_id", "session_id")
    },
      s"""WITH e AS (
         |  SELECT stream_id, "timestamp", event_id FROM ($oracleEventsWindow)
         |), d AS (
         |  SELECT stream_id, "timestamp", event_id,
         |         lag("timestamp") OVER w AS prev
         |  FROM e WINDOW w AS (PARTITION BY stream_id ORDER BY "timestamp", event_id)
         |), s AS (
         |  SELECT stream_id, "timestamp", event_id,
         |         CAST(sum(CASE WHEN prev IS NULL OR "timestamp" - prev > 1800
         |                       THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY stream_id ORDER BY "timestamp", event_id
         |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM d
         |)
         |SELECT stream_id, session_id, count(*) AS n_events,
         |       min("timestamp") AS t_start, max("timestamp") AS t_end,
         |       max("timestamp") - min("timestamp") AS duration
         |FROM s GROUP BY 1, 2 ORDER BY stream_id, session_id""".stripMargin)
  )
}
