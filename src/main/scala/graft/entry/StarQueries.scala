package graft
package entry

import Fixtures._
import org.apache.spark.sql.functions._

/** Star-schema analytics over the TPC-H tables. */
private[graft] object StarQueries {

  val all: Seq[Query] = Seq(
    // Extension: KMV set-operation sketches — the distinct-count SET
    // ALGEBRA the HLL registers can't do: how many orders shipped lines
    // in BOTH 1996 and 1997 (|A∩B|, Jaccard), estimated purely from two
    // stored 64-row sketches (membership of the merged sketch in each
    // side), never a rescan — truth at sf0.01: 6702/6617 per year,
    // 10357 union, J≈0.29. Exact counterparts ride along.
    Query("star_kmv_order_overlap", (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"),
          year(col("l_shipdate")).cast("string").as("ship_year"))
        .filter(col("ship_year").isin("1996", "1997"))
      graft.ops.Sketches.kmvSetOps(li,
        col("l_orderkey").cast("string"), "ship_year", "1996", "1997")
    },
      // KMV is md5-deterministic end to end: DuckDB rebuilds both 64-row
      // sketches, the merged sketch, the membership ratio, and the exact
      // arithmetic chain of the estimator.
      """WITH keyed AS MATERIALIZED (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS k,
        |    CAST(year(l_shipdate) AS VARCHAR) AS shard FROM lineitem
        |  WHERE year(l_shipdate) IN (1996, 1997)),
        |hashed AS MATERIALIZED (
        |  SELECT shard, CAST(CONCAT('0x', substring(md5(k), 1, 13)) AS BIGINT) AS h
        |  FROM keyed GROUP BY 1, 2),
        |sk AS MATERIALIZED (
        |  SELECT shard, h FROM (
        |    SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rnk
        |    FROM hashed) WHERE rnk <= 64),
        |mg AS MATERIALIZED (
        |  SELECT h FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rnk
        |    FROM (SELECT DISTINCT h FROM sk)) WHERE rnk <= 64),
        |rho AS MATERIALIZED (
        |  SELECT count(*) AS n_both FROM mg
        |  WHERE h IN (SELECT h FROM sk WHERE shard = '1996')
        |    AND h IN (SELECT h FROM sk WHERE shard = '1997')),
        |stats AS MATERIALIZED (SELECT count(*) AS m_rows, max(h) AS m_hk FROM mg),
        |pers AS MATERIALIZED (
        |  SELECT shard, count(*) AS nrows, max(h) AS hk FROM sk GROUP BY 1),
        |ex AS MATERIALIZED (
        |  SELECT count(DISTINCT CASE WHEN shard = '1996' THEN k END) AS nd_a,
        |    count(DISTINCT CASE WHEN shard = '1997' THEN k END) AS nd_b,
        |    count(DISTINCT k) AS nd_union
        |  FROM keyed)
        |SELECT '1996' AS shard_a, '1997' AS shard_b,
        |  round(CASE WHEN a.nrows < 64 THEN CAST(a.nrows AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 4503599627370496.0::DOUBLE / CAST(a.hk AS DOUBLE) END, 4) AS est_a,
        |  round(CASE WHEN b.nrows < 64 THEN CAST(b.nrows AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 4503599627370496.0::DOUBLE / CAST(b.hk AS DOUBLE) END, 4) AS est_b,
        |  round(CASE WHEN s.m_rows < 64 THEN CAST(s.m_rows AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 4503599627370496.0::DOUBLE / CAST(s.m_hk AS DOUBLE) END, 4) AS est_union,
        |  round(r.n_both / s.m_rows, 6) AS jaccard_est,
        |  round(r.n_both / s.m_rows *
        |    (CASE WHEN s.m_rows < 64 THEN CAST(s.m_rows AS DOUBLE)
        |     ELSE 63.0::DOUBLE * 4503599627370496.0::DOUBLE / CAST(s.m_hk AS DOUBLE) END), 4) AS est_intersection,
        |  ex.nd_a, ex.nd_b, ex.nd_union,
        |  ex.nd_a + ex.nd_b - ex.nd_union AS nd_intersection
        |FROM (SELECT * FROM pers WHERE shard = '1996') a,
        |  (SELECT * FROM pers WHERE shard = '1997') b, stats s, rho r, ex""".stripMargin),

    // Extension: classic star-schema OLAP — fact⋈fact shuffle join on the
    // natural key, fixed-size dims broadcast, filters pushed to the scans.
    Query("star_revenue_by_nation", (s, dir) =>
      graft.ops.Star.revenueByNation(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"), table(s, dir, "nation"),
        "1996-01-01", "1998-01-01"),
      // Money sums route through DECIMAL(18,6) on both engines, so the
      // star rollups hash-match despite double inputs.
      """SELECT n_name, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin),

    // Extension: top-k orders by revenue for one segment — the ranking is
    // a TakeOrderedAndProject over the per-order aggregate.
    Query("star_top_orders", (s, dir) =>
      graft.ops.Star.topOrdersBySegment(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"),
        "BUILDING", "1997-01-01", "1996-06-30", 10),
      """SELECT o_orderkey, epoch_ms(o_orderdate) AS orderdate_ms, o_orderpriority,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS order_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY 1, 2, 3
        |ORDER BY order_revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // Extension: single-fact pricing rollup (Q1 flavor) — one shuffle on
    // the grouping pair, DECIMAL-routed money sums.
    Query("star_pricing_summary", (s, dir) =>
      graft.ops.Star.pricingSummary(table(s, dir, "lineitem"), "2000-12-01"),
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY 1, 2""".stripMargin),

    // Extension: Q5-flavor local-supplier volume — the 6-table join chain
    // with nation⋈region pre-collapsed into one ≤25-row broadcast.
    Query("star_local_supplier", (s, dir) =>
      graft.ops.Star.localSupplierVolume(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"), table(s, dir, "supplier"),
        table(s, dir, "nation"), table(s, dir, "region"),
        "ASIA", "1996-01-01", "1997-01-01"),
      """SELECT n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),

    // Extension: Q14-flavor promo revenue share — conditional-sum ratio
    // over the lineitem⋈part shuffle join, one scalar row out.
    Query("star_promo_share", (s, dir) =>
      graft.ops.Star.promoRevenueShare(
        table(s, dir, "lineitem"), table(s, dir, "part"),
        "PROMO", "1997-09-01", "1997-10-01"),
      """SELECT
        |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_share_pct,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin),

    // Extension: Q15-flavor top supplier — two-phase max (per-supplier agg,
    // 1-row max broadcast back), ties surface like `= (SELECT max …)`.
    Query("star_top_supplier", (s, dir) =>
      graft.ops.Star.topSupplier(
        table(s, dir, "lineitem"), table(s, dir, "supplier"),
        "1996-01-01", "1996-04-01"),
      """WITH rev AS (
        |  SELECT l_suppkey, sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin),

    // Extension: Q9-flavor product-line profit by supplier nation and
    // order year (unit cost modeled as 60% of retail price — no partsupp
    // in this schema). Name filter pushed to the part scan, nation
    // broadcast, profit folded in DECIMAL before the one rollup shuffle.
    Query("star_profit_by_nation", (s, dir) =>
      graft.ops.Star.profitByNation(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "supplier"), table(s, dir, "part"),
        table(s, dir, "nation"), "an"),
      // Same DECIMAL-folded profit expression, same 60%-of-retail cost
      // model, same (nation, year) rollup.
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_profit,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND contains(p_name, 'an')
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin),

    // Extension: Q18-flavor large-volume orders — per-order quantity
    // rollup on the fact's own key, HAVING cut before any join, top-k
    // as a TakeOrderedAndProject.
    Query("star_large_orders", (s, dir) =>
      graft.ops.Star.largeOrderCustomers(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"), minQty = 200.0, k = 20),
      // Per-order quantity sums in DECIMAL, HAVING > 200, value-ranked
      // top-20 with the orderkey tiebreak.
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS qty
        |  FROM lineitem GROUP BY 1 HAVING qty > 200)
        |SELECT c_custkey, c_name, o_orderkey,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  round(CAST(qty AS DOUBLE), 2) AS total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY orders.o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // Extension: Q21-flavor lone late suppliers — the exists/not-exists
    // pair collapsed into ONE per-order aggregate (distinct suppliers vs
    // distinct LATE suppliers), so the census is two hash aggregates and
    // an equi-join instead of correlated subqueries.
    Query("star_lone_late_supplier", (s, dir) =>
      graft.ops.Star.loneLateSuppliers(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "supplier"), lateDays = 90, k = 10),
      // Same one-aggregate collapse of the exists/not-exists pair.
      """WITH l AS (SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS ns,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl
        |  FROM l GROUP BY 1),
        |t AS (SELECT l.l_suppkey, CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS numwait
        |  FROM l JOIN po ON l.l_orderkey = po.ok AND po.ns > 1 AND po.nl = 1
        |  WHERE l.late GROUP BY 1)
        |SELECT s_suppkey, s_name, numwait
        |FROM t JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY numwait DESC, s_suppkey LIMIT 10""".stripMargin),

    // Extension: Q6-flavor forecast revenue change — the pure scan query:
    // all three predicates push to parquet, one-row map-side aggregate.
    Query("star_forecast_revenue", (s, dir) =>
      graft.ops.Star.forecastRevenueChange(
        table(s, dir, "lineitem"), "1996-01-01", "1997-01-01",
        0.04, 0.06, 24.0),
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue_effect,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin),

    // Extension: Q4-flavor late-shipment census — the existence test is a
    // LEFT SEMI join (equi on orderkey, lateness as the join residual).
    Query("star_late_priority", (s, dir) =>
      graft.ops.Star.latePriorityCensus(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        "1997-01-01", "1997-07-01", 90),
      """SELECT o_orderpriority, count(*) AS late_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin),

    // Extension: Q7-flavor bi-national trade volume — the 2-nation slice
    // broadcasts against both sf-scaled dims BEFORE any fact join.
    Query("star_trade_volume", (s, dir) =>
      graft.ops.Star.tradeVolume(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"), table(s, dir, "supplier"),
        table(s, dir, "nation"),
        "NATION_3", "NATION_7", "1996-01-01", "1998-01-01"),
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS ship_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3""".stripMargin),

    // Extension: Q8-flavor market share — conditional-sum ratio in ONE
    // aggregate over the 7-table chain, dims broadcast, part shuffled.
    Query("star_market_share", (s, dir) =>
      graft.ops.Star.marketShare(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"), table(s, dir, "supplier"),
        table(s, dir, "part"), table(s, dir, "nation"),
        table(s, dir, "region"),
        "EUROPE", "NATION_5", "ECONOMY", "1996-01-01", "1998-01-01"),
      """WITH base AS (
        |  SELECT year(o_orderdate) AS order_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS rev,
        |    sn.n_name AS supp_nation
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT order_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share,
        |  count(*) AS n_items
        |FROM base GROUP BY 1""".stripMargin),

    // Extension: Q10-flavor returned-item losers — returnflag pushed to
    // the fact scan, top-k via TakeOrderedAndProject with a key tiebreak.
    Query("star_returned_customers", (s, dir) =>
      graft.ops.Star.returnedItemTopCustomers(
        table(s, dir, "lineitem"), table(s, dir, "orders"),
        table(s, dir, "customer"), table(s, dir, "nation"),
        "R", "1996-10-01", "1997-01-01", 20),
      """SELECT c_custkey, c_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // Extension: Q13-flavor order-count histogram — LEFT OUTER with the
    // priority exclusion inside the join condition so zero-order
    // customers survive into the count-of-counts.
    Query("star_order_distribution", (s, dir) =>
      graft.ops.Star.orderCountDistribution(
        table(s, dir, "orders"), table(s, dir, "customer"), "5-LOW"),
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC
        |LIMIT 100""".stripMargin),

    // Extension: Q17-flavor small-quantity revenue — the correlated
    // per-part average is a window reusing the join's partkey shuffle.
    Query("star_small_qty_revenue", (s, dir) =>
      graft.ops.Star.smallQuantityRevenue(
        table(s, dir, "lineitem"), table(s, dir, "part"), "Brand#1"),
      """WITH b AS (
        |  SELECT l_quantity, l_extendedprice,
        |    avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1')
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_small
        |FROM b WHERE l_quantity < 0.2 * avg_qty""".stripMargin),

    // Extension: Q19-flavor OR-of-ANDs revenue — the disjunction's
    // per-table envelope pushes to both scans, exact predicate post-join.
    Query("star_special_revenue", (s, dir) =>
      graft.ops.Star.specialDiscountRevenue(
        table(s, dir, "lineitem"), table(s, dir, "part"),
        Seq(("Brand#1", (1, 10), (1.0, 15.0)),
          ("Brand#2", (11, 20), (10.0, 25.0)),
          ("Brand#3", (21, 35), (20.0, 40.0)))),
      """SELECT round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    // Extension: Q22-flavor dormant high-balance customers — 1-row avg
    // broadcast back + LEFT ANTI join against date-filtered orders.
    Query("star_dormant_customers", (s, dir) =>
      graft.ops.Star.dormantHighBalance(
        table(s, dir, "customer"), table(s, dir, "orders"),
        table(s, dir, "nation"), "1999-01-01"),
      """SELECT n_name, count(*) AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS totacctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin)
  )
}
