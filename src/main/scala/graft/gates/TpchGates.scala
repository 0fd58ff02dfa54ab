package graft.gates

import org.apache.spark.sql.functions._

import graft.core.{OracleParity, Tables}

/** TPC-H-style analytics over the lineitem/orders/part schema: scan-
  * aggregates, multi-way joins and broadcast dimension joins.
  */
private[graft] object TpchGates {

  val gates: Seq[Gate] = Seq(
    // ---- TPC-H-style analytics (bench headliners) --------------------
    Gate("q1_pricing", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          OracleParity.decSum(col("l_quantity")).as("sum_qty"),
          OracleParity.decSum(col("l_extendedprice")).as("sum_base_price"),
          OracleParity.decOut(
            sum(OracleParity.dec(col("l_extendedprice")) *
              (OracleParity.dec(lit(1.0)) - OracleParity.dec(col("l_discount"))))
          ).as("sum_disc_price"),
          OracleParity.exactAvg(col("l_quantity")).as("avg_qty"),
          OracleParity.exactAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |  (CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity)) AS avg_qty,
        |  (CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount)) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- TPC-H Q6-style forecasting-revenue scan-aggregate ------------
    Gate("q6_forecast", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24)
        .agg(
          OracleParity.decOut(
            sum(OracleParity.dec(col("l_extendedprice")) * OracleParity.dec(col("l_discount")))
          ).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |                 * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // ---- TPC-H Q5-style local-supplier revenue (5-way join) -----------
    // Partial aggregation pushed BELOW the wide join: the group key
    // (region, nation) is a function of the ORDER alone, so lineitem
    // folds to one compact (orderkey, rev, n) row per order — map-side
    // combined — before the only big shuffle, instead of shuffling every
    // item row into an items⋈orders SMJ (~4× the bytes; the difference
    // between "shuffle 100 TB of items" and "shuffle the order keys" at
    // scale). Decimal partial sums are exact, so the two-level sum is
    // bit-identical to the single-pass one and the oracle is unchanged.
    // Supplier stays a 1:1 FK broadcast probe on the item side
    // (enrichment only — it feeds neither measures nor keys).
    Gate("q5_region_revenue", (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      val perOrder = l
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .groupBy(col("l_orderkey"))
        .agg(
          sum(OracleParity.dec(col("l_extendedprice")) *
            (OracleParity.dec(lit(1.0)) - OracleParity.dec(col("l_discount"))))
            .as("__rev"),
          count(lit(1)).as("__n"))
      val orderGeo = o
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("o_orderkey"), col("r_name"), col("n_name"))
      perOrder
        .join(orderGeo, perOrder("l_orderkey") === orderGeo("o_orderkey"))
        .groupBy("r_name", "n_name")
        .agg(
          OracleParity.decOut(sum(col("__rev"))).as("revenue"),
          sum(col("__n")).as("n_items"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // ---- TPC-H Q3-style shipping-priority join (bench headliner) ------
    Gate("q3_shipping", (s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("timestamp_ltz").cast("long").as("od_epoch"),
          col("o_orderpriority"))
        .agg(
          OracleParity.decOut(
            sum(OracleParity.dec(col("l_extendedprice")) *
              (OracleParity.dec(lit(1.0)) - OracleParity.dec(col("l_discount"))))
          ).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_epoch,
        |  o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    // ---- TPC-H Q18 shape: big-big shuffle join gated by a semi join on
    //      an aggregate (large-volume orders). lineitem⋈orders shuffle on
    //      orderkey; the HAVING set re-joins as a broadcast-able semi
    //      side; customer broadcasts.
    Gate("q18_big_orders", (s, dir) => {
      // the HAVING aggregate IS the output aggregate: sum_qty per final
      // group (keyed by o_orderkey) equals the per-order sum already
      // computed for the > 250 gate — so lineitem is scanned ONCE, the
      // tiny gated order set broadcasts into orders/customer, and the
      // round-2 semi-join + second scan + re-aggregation disappear
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).select("c_custkey", "c_name")
      val big = l.groupBy("l_orderkey")
        .agg(OracleParity.decSum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      broadcast(big)
        .join(o, big("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(
          col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ltz").cast("long").as("od_epoch"),
          OracleParity.decOut(col("o_totalprice").cast("decimal(18,6)")).as("o_totalprice"),
          col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    },
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_epoch,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) AS o_totalprice,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey
        |    HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) > 250)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // ---- J2-style dimension left joins (broadcast dims) ---------------
    Gate("q_dims_join", (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val su = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "left_outer")
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"), "left_outer")
        .groupBy("p_brand", "s_name")
        .agg(
          count(lit(1)).as("n_items"),
          OracleParity.decSum(col("l_extendedprice")).as("sum_price"))
        .orderBy("p_brand", "s_name")
    },
      """SELECT p_brand, s_name, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem
        |LEFT JOIN part ON l_partkey = p_partkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2
        |ORDER BY p_brand, s_name""".stripMargin)
  )
}
