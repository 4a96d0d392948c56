package graft
package registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{AsOfJoin, BloomJoin, DistinctSketch, EventTime, Graph,
  Layout, ProductQuant, Quantiles, RangeJoin, Similarity, Skew, Stats,
  TextAnalysis, TimeSeries}
import graft.streaming.EventStream

import Shared._

/** Relational analytics: TPC-H-style aggregation, joins, windows and
  * top-k, SQL-surface paths, time-series rollups, sketches and
  * quantiles, plus the pre-flight join audits, layout and graph queries.
  */
object Analytics {

  private def revenue: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Exact-decimal per-row revenue: price and discount are 2-decimal
    * values, so the true product is an exact 4-decimal rational; the
    * IEEE product sits within ~1 ulp of it, far from any 4th-decimal
    * midpoint, so round-to-4 recovers the exact rational IDENTICALLY on
    * any engine. Summing those as DECIMAL makes a 6M-row revenue total
    * independent of summation order — the double-sum form drifts ±0.01
    * at sf1 magnitudes (~1e10) because ulp(1e10) ≈ 2e-6 accumulates
    * order-dependently across partitions.
    */
  private def revenueDec: Column =
    round(revenue, 4).cast("decimal(18,4)")

  /** The same exact 4-decimal revenue as [[revenueDec]], scaled to LONG
    * ten-thousandths: the true revenue is an exact 4-decimal rational v,
    * the IEEE product ×10⁴ sits within a few ulps of the integer v·10⁴
    * (ulp(1.1e9) ≈ 2.4e-7 — nowhere near a .5 midpoint), so half-up
    * round recovers v·10⁴ identically on any engine. Summing LONGs is
    * exact and order-free like the DECIMAL sum, but stays inside
    * whole-stage codegen primitive arithmetic — the DECIMAL(18,4)
    * aggregate cost ~0.6 s per query at sf0.1 (round-9 measurement).
    * Range: |row| ≤ ~1.1e9, so overflow needs ~8e9 rows PER GROUP;
    * [[l4Guarded]] makes the bound loud instead of silent.
    */
  private def revenueL4: Column =
    round(revenue * 10000, 0).cast("long")

  /** Loud overflow guard for LONG ten-thousandths sums (the corrMatrix
    * pattern — checked once on the aggregate output via the conservative
    * bound |sum| ≤ max|x|·n, costs an abs/max per input row, nothing
    * else): fails the query instead of silently wrapping past 2⁶³.
    */
  private def l4Guarded(sumL4: Column, maxAbs: Column, n: Column): Column =
    when(maxAbs.cast("double") * n.cast("double") > 9.0e18,
      raise_error(format_string(
        "long-scaled revenue sum may exceed 2^63 (max|x4| %d over %d " +
          "rows); switch this group to the decimal path", maxAbs, n)))
      .otherwise(sumL4)

  /** Half-up ten-thousandths → cents for positive revenue sums:
    * floor((x+50)/100) via exact decimal division + truncating cast —
    * no double ever touches the value (a double path would lose
    * exactness past 2⁵³ ≈ 9e15, reachable at sf10 totals). Runs only
    * on GROUP-sized aggregate outputs, so the decimal cost is nil.
    */
  private def l4ToCents(c: Column): Column =
    ((c + 50).cast("decimal(20,0)") / lit(100)).cast("long")

  val queries: Seq[Query] = Seq(
    // --- analytics: aggregation / join / window / top-k -------------------
    Query("q1_agg", (s, dir) => {
      // sum_base_price / sum_disc_price as exact integer cents /
      // ten-thousandths (the revenueL4 palette): the double sums
      // drifted past the cent at sf100's ~2.8e12 per-group totals —
      // the cube_sales/rollup_sales stratum, one decade later.
      // sum_qty stays a double sum (integral quantities, total
      // 1.4e9 ≪ 2^53, exact); the 4-decimal averages are n-divided
      // and stable.
      val baseC = round(col("l_extendedprice") * 100, 0).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          sum(baseC).as("__bc"), max(abs(baseC)).as("__bm"),
          sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__rm"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          (l4Guarded(col("__bc"), col("__bm"), col("count_order"))
            .cast("double") / 100.0).as("sum_base_price"),
          (l4ToCents(l4Guarded(col("__r4"), col("__rm"), col("count_order")))
            .cast("double") / 100.0).as("sum_disc_price"),
          col("avg_qty"), col("avg_price"), col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q3_topk", (s, dir) => {
      broadcast(t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"))
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(revenue), 2).as("rev"))
        .select("l_orderkey", "rev", "o_orderdate")
        .orderBy(col("rev").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev,
        |  o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin),
    Query("q5_region", (s, dir) => {
      broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
        .join(broadcast(t(s, dir, "nation")), col("r_regionkey") === col("n_regionkey"))
        .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("n_name")
        // exact long-ten-thousandths revenue (the cube_sales palette):
        // the double sum drifted a cent at sf100's ~1.3e12 nation totals
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__m"),
          count(lit(1)).as("__n"))
        .select(col("n_name"),
          (l4ToCents(l4Guarded(col("__r4"), col("__m"), col("__n")))
            .cast("double") / 100.0).as("rev"))
        .orderBy(col("rev").desc, col("n_name"))
    },
      """SELECT n_name,
        |  CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY rev DESC, n_name""".stripMargin),
    Query("q7_volume", (s, dir) => {
      // Scale shape: tag + FILTER the dimension sides down to the two
      // nations BEFORE touching lineitem — Catalyst cannot push the OR'd
      // cross-side pair predicate below the joins itself, so composing it
      // this way is the difference between scanning 2/25ths of suppliers'
      // lineitems and scanning all of them.
      val nations = Seq("NATION_1", "NATION_2")
      val supN = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(nations: _*))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val custN = broadcast(t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(nations: _*))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation")))
      t(s, dir, "lineitem")
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(revenueDec), 2).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      // exact 4-decimal per-row revenue summed as DECIMAL (order-free),
      // mirroring the engine side — see revenueDec
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |        CAST(round(l.l_extendedprice * (1 - l.l_discount), 4)
        |          AS DECIMAL(18,4)) AS volume
        |      FROM lineitem l
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |      JOIN orders o ON o.o_orderkey = l.l_orderkey
        |      JOIN customer c ON c.c_custkey = o.o_custkey
        |      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) sub
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Query("q10_returns", (s, dir) => {
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round(sum(revenue), 2).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c.c_custkey, c.c_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |  n.n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Query("q18_large", (s, dir) => {
      // the aggregated-subquery semi-join shape: find the ~0.1% of orders
      // over the quantity threshold FIRST (one partial-agg pass over
      // lineitem), left_semi the orders fact against that tiny set, and
      // only then join customers and re-aggregate. The semi-join output
      // is small enough that everything after the having-filter is cheap.
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
        .filter(col("qty") > 300)
        .select("l_orderkey")
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === big("l_orderkey"), "left_semi")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH big AS (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  o.o_orderdate, o.o_totalprice,
        |  round(sum(l.l_quantity), 2) AS total_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    Query("q4_priority", (s, dir) => {
      // the EXISTS shape: per-priority order counts where some lineitem
      // shipped >90 days after the order date. left_semi with the extra
      // non-equi predicate keeps lineitem out of the aggregate entirely.
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q6_forecast", (s, dir) => {
      // the pure scan-filter-agg shape: every predicate must reach the
      // parquet scan (PushedFilters), output is a single global
      // aggregate. price×discount is an exact 4-decimal rational →
      // long ten-thousandths (the double sum drifted 0.07 at sf100's
      // 2.6e11 total).
      val fc4 = round(col("l_extendedprice") * col("l_discount") * 10000, 0)
        .cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(fc4).as("__r4"), max(abs(fc4)).as("__m"),
          count(lit(1)).as("n"))
        .select(
          (l4ToCents(l4Guarded(col("__r4"), col("__m"), col("n")))
            .cast("double") / 100.0).as("revenue"),
          col("n"))
    },
      """SELECT
        |  CAST(round(sum(CAST(round(l_extendedprice * l_discount, 4)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    Query("q14_promo", (s, dir) => {
      // conditional-aggregate share: one joined scan, both sums in the
      // same partial aggregate, ratio + rounding above the agg
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-03-01")))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0)))
            / sum(rev), 4).as("promo_share"),
          count(lit(1)).as("n"))
    },
      """SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-03-01'""".stripMargin),
    Query("q19_disjunct", (s, dir) => {
      // disjunctive cross-table predicate: Catalyst must extract the
      // per-side common factors (brand IN set, quantity envelope) for
      // pushdown while keeping the OR as the join residual
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 30) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 40)
      // exact long ten-thousandths sum (revenueL4): the double sum
      // drifted a cent at sf100's ~5.5e11 total — same stratum as
      // bloom_join, found by the wave-4 gate
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__ma"),
          count(lit(1)).as("n"))
        .select(
          (l4ToCents(l4Guarded(col("__r4"), col("__ma"), col("n")))
            .cast("double") / 100.0).as("revenue"),
          col("n"))
    },
      // exact 4-decimal revenue summed as DECIMAL (cube_sales
      // discipline) — cent-stable at sf100's ~5.5e11 total
      """SELECT CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount),
        |    4) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity >= 1 AND l.l_quantity <= 30)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity >= 10 AND l.l_quantity <= 40)""".stripMargin),
    Query("q8_share", (s, dir) => {
      // national-market-share shape (TPC-H Q8 on the available columns):
      // 8-relation join where every dimension side collapses before the
      // facts are touched. part is pre-filtered + broadcast; supplier
      // carries its nation name in via a broadcast pre-join (as in q7);
      // customers are pre-filtered to the region through broadcast
      // nation/region dims, then joined by key — customer is a fact-sized
      // relation at scale, so it stays on the shuffle path (NOT broadcast).
      val custAsia = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      val suppNat = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select(
          col("n_nationkey").as("sn_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_nationkey"))
        .select(col("s_suppkey"), col("supp_nation")))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", revenue).otherwise(lit(0)))
            / sum(revenue), 4).as("mkt_share"))
        .orderBy("o_year")
    },
      """SELECT o_year, round(sum(CASE WHEN supp_nation = 'NATION_3'
        |    THEN volume ELSE 0 END) / sum(volume), 4) AS mkt_share
        |FROM (
        |  SELECT year(o.o_orderdate) AS o_year,
        |         l.l_extendedprice * (1 - l.l_discount) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM part p, supplier s, lineitem l, orders o, customer c,
        |       nation n1, nation n2, region r
        |  WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        |    AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |    AND c.c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |    AND s.s_nationkey = n2.n_nationkey AND p.p_type = 'PROMO')
        |GROUP BY o_year ORDER BY o_year""".stripMargin),
    Query("q13_custdist", (s, dir) => {
      // customer order-count distribution (TPC-H Q13): the left join and
      // the per-customer count shuffle on the SAME key, so the second
      // hangs off the first exchange; the distribution aggregate after it
      // is |distinct counts|-sized — trivial at any scale.
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q17_smallqty", (s, dir) => {
      // small-quantity-order revenue (TPC-H Q17): restrict lineitem to the
      // brand's parts FIRST (broadcast semi filter — prunes ~99% before
      // any aggregation), compute the per-part quantity stats over that
      // same pruned relation, broadcast the tiny stats back. The
      // "quantity < 0.2 * avg" predicate is restated in exact integer
      // arithmetic (5*qty*cnt < sum; quantities are integral so both
      // sides are exact doubles) — the float form has rows sitting
      // EXACTLY on the threshold, where a last-ulp difference in avg()
      // summation order would flip membership between engines.
      val brandParts = broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#12").select("p_partkey"))
      val li = t(s, dir, "lineitem")
        .join(brandParts, col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy("l_partkey")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sq"))
      li.join(broadcast(perPart), Seq("l_partkey"))
        .filter(lit(5.0) * col("l_quantity") * col("cnt") < col("sq"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    },
      """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN (SELECT l2.l_partkey, CAST(count(*) AS BIGINT) AS cnt,
        |             sum(l2.l_quantity) AS sq
        |      FROM lineitem l2
        |      JOIN part p2 ON p2.p_partkey = l2.l_partkey
        |      WHERE p2.p_brand = 'Brand#12' GROUP BY 1) pa
        |  ON pa.l_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#12'
        |  AND 5.0 * l.l_quantity * pa.cnt < pa.sq""".stripMargin),
    Query("q22_balance", (s, dir) => {
      // dormant-high-balance customers (TPC-H Q22 without the phone
      // column: nation stands in for the country code, "no orders since
      // 2001" for "no orders"). The global avg is a 1-row broadcast
      // (margin to the nearest acctbal measured: 6.7 — a last-ulp avg()
      // difference cannot flip membership); the anti join stays on the
      // shuffle path because the order side is fact-sized at scale.
      val cust = t(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg("c_acctbal").as("ab"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01")))
        .select("o_custkey")
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"),
          round(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("n_name")
    },
      """WITH a AS (SELECT avg(c_acctbal) AS ab FROM customer
        |           WHERE c_acctbal > 0.0)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
        |       round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey, a
        |WHERE c.c_acctbal > a.ab
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),
    Query("q2_mincost", (s, dir) => {
      // TPC-H Q2 shape — the correlated min-cost scalar subquery — over
      // the lineitem-derived supply relation (this corpus has no partsupp
      // table): per (part, supplier) the supply cost is
      // min(l_extendedprice), EXACT (no float summation), and the
      // correlated "= (SELECT min(cost) WHERE partkey = ...)" becomes a
      // window min over the part key: one shuffle, no self-join, exact
      // equality on both engines.
      val supply = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min("l_extendedprice").as("cost"))
      val best = supply
        .withColumn("mc", min("cost").over(Window.partitionBy("l_partkey")))
        .filter(col("cost") === col("mc"))
      best
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") === "STANDARD" && col("p_size") <= 15)),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("n_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("r_regionkey") === col("n_regionkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      """WITH supply AS (SELECT l_partkey, l_suppkey,
        |                  min(l_extendedprice) AS cost
        |                FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_partkey, l_suppkey, cost,
        |        min(cost) OVER (PARTITION BY l_partkey) AS mc
        |      FROM supply)
        |SELECT s_acctbal, s_name, n_name, p_partkey, cost
        |FROM m
        |JOIN part p ON p.p_partkey = m.l_partkey
        |JOIN supplier s ON s.s_suppkey = m.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE cost = mc AND p_type = 'STANDARD' AND p_size <= 15
        |  AND r_name = 'EUROPE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
    Query("q9_profit", (s, dir) => {
      // TPC-H Q9 (product-line profit by nation and year): 6-relation
      // join, dims broadcast, the one big-big join (lineitem x orders) on
      // the shuffle path. Supply cost proxied at 60% of retail (no
      // partsupp). The per-row amount is an exact 4-decimal rational
      // (4-dec revenue minus 0.6×2-dec×int = 3-dec); round-to-4 recovers
      // it identically on both engines (the IEEE value is ~1e-9 off, the
      // tie distance 5e-5), and the DECIMAL sum is order-independent —
      // the double sum drifted ±0.01 at sf1 magnitudes.
      val amount = round(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.6) * col("p_retailprice") * col("l_quantity"), 4)
        .cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_name").contains("red"))),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("n_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(amount), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      // exact 4-decimal per-row amount summed as DECIMAL (order-free)
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |      - 0.6 * p.p_retailprice * l.l_quantity, 4) AS DECIMAL(18,4))),
        |    2) AS DOUBLE) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),
    Query("q11_value", (s, dir) => {
      // TPC-H Q11 (inventory-share HAVING against a global-total scalar
      // subquery) in EXACT integer arithmetic: "value above 1.5x the mean
      // part value" as 2*value*n_parts > 3*total on BIGINTs — no float
      // boundary to straddle (unlike the classic fraction-of-sum form),
      // and mean-relative so the predicate keeps selecting rows at any
      // scale factor (a fixed 1/1000-of-total fraction empties out as the
      // part count grows). Total and count ride one single-partition
      // window over the (part-bounded) aggregate, the q15 pattern.
      val sup = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name") === "NATION_3")),
          col("n_nationkey") === col("s_nationkey")))
      val parts = t(s, dir, "lineitem")
        .join(sup, col("s_suppkey") === col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("value"))
      val all = Window.partitionBy()
      parts
        .withColumn("total", sum("value").over(all))
        .withColumn("np", count(lit(1)).over(all))
        .filter(col("value") * 2 * col("np") > col("total") * 3)
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },
      """WITH parts AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS value
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  WHERE n.n_name = 'NATION_3' GROUP BY 1)
        |SELECT l_partkey, value
        |FROM parts,
        |  (SELECT sum(value) AS total, count(*) AS np FROM parts) t
        |WHERE value * 2 * np > total * 3
        |ORDER BY value DESC, l_partkey""".stripMargin),
    Query("q12_priority", (s, dir) => {
      // TPC-H Q12 shape (shipment priority classification; l_returnflag
      // stands in for l_shipmode and the ship-lag window for the
      // commit/receipt dates this corpus lacks). Exact integer counts.
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q16_suppcnt", (s, dir) => {
      // TPC-H Q16 (supplier count per part attribute): the NOT-IN
      // complaints exclusion becomes an anti join against the (tiny,
      // broadcast) negative-balance supplier list.
      //
      // NO pre-`distinct()` on (l_partkey, l_suppkey) (round-16,
      // guide §2.4 "remove shuffles outright"): the SQL's DISTINCT-
      // pairs subquery is subsumed by count(DISTINCT l_suppkey) itself
      // — duplicates pass the anti join identically, the part join is
      // key-unique (p_partkey is the PK) so multiplicity never changes
      // a group's supplier SET, and countDistinct's own two-level
      // aggregate dedupes (brand, type, size, suppkey) map-side before
      // its exchange. The explicit distinct paid one extra full-width
      // Exchange + aggregate over every lineitem row for rows the
      // count-distinct partial would dedupe anyway (one fewer wide
      // Exchange in the plan; A/B numbers in OPTIMIZATION_r16.md).
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(t(s, dir, "part").filter(col("p_brand") =!= "Brand#1" &&
            col("p_type") =!= "PROMO" && col("p_size") <= 25),
          col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part p ON p.p_partkey = ps.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size <= 25
        |  AND ps.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Query("q20_qtyshare", (s, dir) => {
      // TPC-H Q20 (correlated double-aggregate semi-join chain): suppliers
      // who concentrated >20% of a small-part's lifetime shipments into
      // 1997 — "5 * qty_1997 > qty_all" in exact BIGINTs (quantities are
      // integral, so the sums are order-independent exact).
      val pp = t(s, dir, "part").filter(col("p_name").startsWith("small"))
        .select("p_partkey")
      val concentrated = t(s, dir, "lineitem")
        .join(broadcast(pp), col("p_partkey") === col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(when(year(col("l_shipdate")) === 1997, col("l_quantity"))
            .otherwise(lit(0.0))).cast("long").as("q97"),
          sum("l_quantity").cast("long").as("qall"))
        .filter(col("q97") * 5 > col("qall"))
        .select("l_suppkey").distinct()
      t(s, dir, "supplier")
        .join(concentrated, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy("s_name")
    },
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |sh AS (SELECT l_partkey, l_suppkey,
        |         CAST(sum(CASE WHEN year(l_shipdate) = 1997
        |                       THEN l_quantity ELSE 0 END) AS BIGINT) AS q97,
        |         CAST(sum(l_quantity) AS BIGINT) AS qall
        |       FROM lineitem JOIN pp ON l_partkey = p_partkey GROUP BY 1, 2)
        |SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM sh WHERE 5 * q97 > qall)
        |ORDER BY s_name""".stripMargin),
    Query("q21_waiting", (s, dir) => {
      // TPC-H Q21, the 4-way exists/not-exists stress shape: suppliers who
      // were the ONLY >365-day-late supplier on a finished multi-supplier
      // order. EXISTS = semi join against all other-supplier lines of the
      // order; NOT EXISTS = anti join against other-supplier LATE lines.
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val late = li
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 365 DAYS"))
        .select("l_orderkey", "l_suppkey")
      val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val lateOthers = late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      late
        .join(others, col("o2") === col("l_orderkey") &&
          col("s2") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers, col("o3") === col("l_orderkey") &&
          col("s3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
      """WITH late AS (SELECT l_orderkey, l_suppkey FROM lineitem l
        |              JOIN orders o ON o.o_orderkey = l.l_orderkey
        |              WHERE o.o_orderstatus = 'F'
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late t1 JOIN supplier s ON s.s_suppkey = t1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = t1.l_orderkey
        |                AND l2.l_suppkey <> t1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late t3
        |                  WHERE t3.l_orderkey = t1.l_orderkey
        |                    AND t3.l_suppkey <> t1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin),
    Query("q15_top", (s, dir) => {
      // scalar-subquery shape: the max is a global-window column over the
      // SAME aggregated relation (one evaluation, exchange reused), so
      // the equality can't be broken by a re-aggregated ulp; ties all
      // surface, as in TPC-H q15
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01")))
        .groupBy("l_suppkey").agg(sum(revenue).as("total"))
      val withMax = rev.withColumn("mx",
        max(col("total")).over(Window.partitionBy()))
      t(s, dir, "supplier")
        .join(withMax.filter(col("total") === col("mx")),
          col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total"), 2).as("total_rev"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (SELECT l_suppkey,
        |    sum(l_extendedprice * (1 - l_discount)) AS total
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, round(rev.total, 2) AS total_rev
        |FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
        |WHERE rev.total = (SELECT max(total) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    Query("outliers", (s, dir) => {
      // per-type z-score outliers: moments are a tiny broadcast joined
      // back map-side. The >3σ cut sits 0.0016σ from the nearest row at
      // sf0.01 (checked), far beyond cross-engine summation ulps.
      val ev = t(s, dir, "events")
      val st = ev.groupBy("event_type").agg(
        (sum("value").cast("double") / count(lit(1))).as("mu"),
        stddev_samp(col("value")).as("sigma"))
      ev.join(broadcast(st), "event_type")
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"), round(col("z"), 4).as("z"))
        .orderBy("event_id")
    },
      """WITH st AS (SELECT event_type,
        |    CAST(sum(value) AS DOUBLE) / count(*) AS mu,
        |    stddev_samp(value) AS sigma
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
        |  round((e.value - st.mu) / st.sigma, 4) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((e.value - st.mu) / st.sigma) > 3.0
        |ORDER BY event_id""".stripMargin),
    Query("moving_avg", (s, dir) => {
      val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val frame = order.rowsBetween(-3, 0)
      t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(frame), 4).as("mov_avg"),
          row_number().over(order).cast("long").as("rn"))
        .orderBy("user_id", "rn")
    },
      """SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS BIGINT) AS rn
        |FROM events WHERE user_id < 50 ORDER BY user_id, rn""".stripMargin),
    Query("bloom_join", (s, dir) => {
      // large-large join with the probe side bloom-pruned before its
      // shuffle: lineitem rows whose order is not urgent drop at the scan.
      // The oracle is the PLAIN join — false positives must not survive.
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      // revenue summed as exact long ten-thousandths (revenueL4): the
      // double sum drifted past the cent at sf100's ~2.0e12 per-flag
      // totals — the cube_sales/q1_agg stratum, found by the wave-4 gate
      BloomJoin.join(t(s, dir, "lineitem"), urgent,
          "l_orderkey", "o_orderkey", expectedKeys = 20000L)
        .groupBy("l_returnflag")
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__ma"),
          count(lit(1)).as("n_items"))
        .select(col("l_returnflag"),
          (l4ToCents(l4Guarded(col("__r4"), col("__ma"), col("n_items")))
            .cast("double") / 100.0).as("rev"),
          col("n_items"))
        .orderBy("l_returnflag")
    },
      // exact 4-decimal per-row revenue summed as DECIMAL (the
      // cube_sales discipline): order-free, engine-identical at sf100's
      // ~2.0e12 per-flag totals
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      withOrders.select(lit("with_orders").as("bucket"), col("c_custkey"))
        .unionByName(withoutOrders.select(lit("no_orders").as("bucket"), col("c_custkey")))
        .groupBy("bucket").agg(count(lit(1)).as("n_customers"))
        .orderBy("bucket")
    },
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n_customers FROM (
        |  SELECT 'with_orders' AS bucket, c_custkey FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'no_orders' AS bucket, c_custkey FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |GROUP BY bucket ORDER BY bucket""".stripMargin),
    Query("pivot_status", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("cube_sales", (s, dir) =>
      // revenue summed as exact long ten-thousandths (see revenueL4):
      // the double sum drifted a cent at sf10's ~1.5e12 grand-total
      // magnitude (ulp(1.5e12) = 2.4e-4 accumulates order-dependently)
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__ma"),
          count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          (l4ToCents(l4Guarded(col("__r4"), col("__ma"), col("n")))
            .cast("double") / 100.0).as("rev"),
          col("n"), col("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
        |    AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    Query("rollup_sales", (s, dir) =>
      // same exact-cents discipline as cube_sales
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__ma"),
          count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          (l4ToCents(l4Guarded(col("__r4"), col("__ma"), col("n")))
            .cast("double") / 100.0).as("rev"),
          col("n"), col("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
        |    AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
    // SQL-surface path: authored via spark.sql over temp views — the same
    // Catalyst plans as the DataFrame API, proving the engine's SQL
    // entry point end-to-end (and covering the supplier/part tables).
    Query("sql_supplier_rev", (s, dir) => {
      Tables.names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT n.n_name AS nation, sup.s_name AS supplier,
          |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
          |FROM lineitem l
          |JOIN supplier sup ON l.l_suppkey = sup.s_suppkey
          |JOIN nation n ON sup.s_nationkey = n.n_nationkey
          |GROUP BY n.n_name, sup.s_name
          |ORDER BY rev DESC, supplier LIMIT 20""".stripMargin)
    },
      """SELECT n.n_name AS nation, sup.s_name AS supplier,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS rev
        |FROM lineitem l
        |JOIN supplier sup ON l.l_suppkey = sup.s_suppkey
        |JOIN nation n ON sup.s_nationkey = n.n_nationkey
        |GROUP BY n.n_name, sup.s_name
        |ORDER BY rev DESC, supplier LIMIT 20""".stripMargin),
    Query("sql_running_total", (s, dir) => {
      // SQL-text surface for the running-total report shape: monthly
      // sums accumulate as exact DECIMAL inside the ordered window
      // (both engines add the same exact values in the same month
      // order), cast to double only on output
      Tables.names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
          |    sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
          |  FROM orders GROUP BY 1)
          |SELECT month,
          |  CAST(rev AS DOUBLE) AS month_rev,
          |  CAST(sum(rev) OVER (ORDER BY month
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS DOUBLE) AS running_rev
          |FROM m ORDER BY month""".stripMargin)
    },
      // identical text shape: exact-decimal accumulation inside the
      // ordered window, double only on output
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
        |    sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT month,
        |  CAST(rev AS DOUBLE) AS month_rev,
        |  CAST(sum(rev) OVER (ORDER BY month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS running_rev
        |FROM m ORDER BY month""".stripMargin),
    Query("gap_fill", (s, dir) =>
      // regular-grid resampling (the time_bucket_gapfill surface): a
      // complete hourly spine per event type, gaps filled by linear
      // interpolation between observed neighbors; the fill windows run
      // over the BUCKETED grid (wall-clock-bounded per group), never
      // raw events
      TimeSeries.gapFillHourly(t(s, dir, "events"),
        "event_type", "ts", "value"),
      // same exact-cents pipeline: integer cent-sums + counts through
      // the windows, ONE IEEE division at the end (no intermediate
      // rounding anywhere — a float re-round splits engines on the
      // .00005 halves a gap midpoint produces)
      """WITH obs AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cs,
        |    CAST(count(value) AS BIGINT) AS cn
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |  HAVING count(value) > 0),
        |sp AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT event_type, min(hour) AS h0, max(hour) AS h1
        |        FROM obs GROUP BY 1)),
        |j AS (SELECT sp.event_type, sp.hour, obs.cs, obs.cn,
        |    CAST(epoch_ms(sp.hour) / 3600000 AS BIGINT) AS h
        |  FROM sp LEFT JOIN obs USING (event_type, hour)),
        |f AS (SELECT *,
        |    last_value(cs IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS pcs,
        |    last_value(cn IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS pcn,
        |    last_value(CASE WHEN cs IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |    first_value(cs IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hour ROWS BETWEEN CURRENT ROW AND
        |      UNBOUNDED FOLLOWING) AS ncs,
        |    first_value(cn IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hour ROWS BETWEEN CURRENT ROW AND
        |      UNBOUNDED FOLLOWING) AS ncn,
        |    first_value(CASE WHEN cs IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM j)
        |SELECT event_type, hour,
        |  CASE WHEN cs IS NOT NULL
        |    THEN CAST(cs AS DOUBLE) / CAST(cn * 100 AS DOUBLE)
        |    ELSE CAST(pcs * ncn * (nh - h) + ncs * pcn * (h - ph)
        |           AS DOUBLE)
        |      / CAST(pcn * ncn * (nh - ph) * 100 AS DOUBLE)
        |  END AS value,
        |  CASE WHEN cs IS NOT NULL THEN 'observed'
        |    ELSE 'interpolated' END AS src
        |FROM f ORDER BY event_type, hour""".stripMargin),
    Query("seasonality", (s, dir) =>
      // traffic seasonality profile: events per (day-of-week, hour)
      // with an index vs the uniform-cell expectation — one exact-count
      // aggregate, totals broadcast back; engine-identical divisions
      t(s, dir, "events")
        .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("__tot", sum(col("n_events")).over(Window.partitionBy()))
        .withColumn("__cells", count(lit(1)).over(Window.partitionBy()))
        .select(col("dow"), col("hr"), col("n_events"),
          round(col("n_events").cast("double") * col("__cells") /
            col("__tot").cast("double"), 6).as("idx"))
        .orderBy("dow", "hr"),
      // DuckDB dayofweek is 0-based Sunday; +1 matches Spark's 1-based
      """WITH c AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS cells FROM c)
        |SELECT dow, hr, n_events,
        |  round(CAST(n_events AS DOUBLE) * cells / CAST(tot AS DOUBLE), 6)
        |    AS idx
        |FROM c CROSS JOIN t ORDER BY dow, hr""".stripMargin),
    Query("share_report", (s, dir) => {
      // ratio-to-report: nation revenue share within region + rank —
      // the windows run over the 25-row aggregate, never raw rows.
      // Revenue stays EXACT and order-free through the aggregate AND
      // the region-total window (the double form drifted ±0.01 at sf1)
      // as LONG ten-thousandths → cents (codegen-primitive; the
      // DECIMAL(18,4) form this replaces cost ~0.6 s at sf0.1), with
      // ONE double division for the share. The two division operands
      // are cast from exact cents LONGs, so they equal the DECIMAL
      // casts bit-for-bit (both are the nearest double to the same
      // 2-decimal rational).
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__ma"),
          count(lit(1)).as("__n"))
        .withColumn("__cents",
          l4ToCents(l4Guarded(col("__r4"), col("__ma"), col("__n"))))
      val byRegion = Window.partitionBy("r_name")
      rev
        .withColumn("region_cents", sum(col("__cents")).over(byRegion))
        .withColumn("rank", rank().over(
          byRegion.orderBy(col("__cents").desc, col("n_name"))).cast("long"))
        .select(col("r_name"), col("n_name"),
          (col("__cents").cast("double") / 100.0).as("rev"),
          round((col("__cents").cast("double") / 100.0) /
            (col("region_cents").cast("double") / 100.0), 6).as("share"),
          col("rank"))
        .orderBy("r_name", "rank", "n_name")
    },
      // revenue exact DECIMAL through the aggregate AND the region
      // window (order-free); one double division for the share
      """WITH rev AS (SELECT r_name, n_name,
        |    round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |      AS DECIMAL(18,4))), 2) AS revd
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, CAST(revd AS DOUBLE) AS rev,
        |  round(CAST(revd AS DOUBLE) /
        |    CAST(sum(revd) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS share,
        |  CAST(rank() OVER (PARTITION BY r_name
        |    ORDER BY revd DESC, n_name) AS BIGINT) AS rank
        |FROM rev ORDER BY r_name, rank, n_name""".stripMargin),
    Query("gsets_mix", (s, dir) => {
      // GROUPING SETS with mixed arities + grouping flags — the
      // generalized rollup the report layer compiles to. The sets are
      // all subsets of the finest one, so the scan-side pass is an
      // ordinary partial-aggregable groupBy to (flag, status) — 9 rows
      // — and Catalyst's Expand (×4 per row, the GROUPING SETS plan
      // shape) runs over the GROUP-SIZED relation, not the raw rows.
      // Expanding first would put 4× the table through the aggregate's
      // map side (measured ~7× q1_agg on the same table; at 100 TB it
      // is 4× the scan volume through Expand for identical answers) —
      // exact decimal sums make the two plans bit-equal, so the cheap
      // one is the right one. grouping() flags are computed over the
      // pre-aggregate's group columns, same values by construction.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(round(col("l_extendedprice"), 2).cast("decimal(18,2)"))
            .as("__rev"))
        .createOrReplaceTempView("__gsets_base")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
          |  CAST(sum(__n) AS BIGINT) AS n,
          |  CAST(sum(__rev) AS DOUBLE) AS rev
          |FROM __gsets_base
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), (l_linestatus), ())
          |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS rev
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin),
    Query("unpivot_measures", (s, dir) =>
      // UNPIVOT (melt): wide measure columns to (measure, value) rows —
      // stack() is a codegen'd generator at the scan, no shuffle before
      // the output sort; the reshape every metrics store ingests
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(3,
            'quantity', l_quantity,
            'extendedprice', l_extendedprice,
            'discount', l_discount) AS (measure, value)"""))
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      // the UNION ALL spelling of the same melt
      """WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
        |SELECT l_orderkey, l_linenumber,
        |  'quantity' AS measure, l_quantity AS value FROM f
        |UNION ALL SELECT l_orderkey, l_linenumber,
        |  'extendedprice', l_extendedprice FROM f
        |UNION ALL SELECT l_orderkey, l_linenumber,
        |  'discount', l_discount FROM f
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),
    Query("trailing_7d", (s, dir) =>
      // RANGE-frame window (value-based, not row-based): 7-day trailing
      // revenue — on a daily grain the integer epoch-day range frame is
      // exactly the oracle's INTERVAL range frame; sums stay exact
      // decimal inside the window, double on output; the window runs
      // over the days-sized aggregate, never raw rows
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice"), 2).cast("decimal(18,2)"))
          .as("__rev"))
        .withColumn("__d", datediff(col("day"),
          lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("trailing_7d",
          sum(col("__rev")).over(Window.orderBy(col("__d"))
            .rangeBetween(-6, 0)).cast("double"))
        .select(col("day"), col("__rev").cast("double").as("day_rev"),
          col("trailing_7d"))
        .orderBy("day"),
      // the INTERVAL range frame ≡ the engine's epoch-day range frame
      // on a daily grain
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS day_rev,
        |  CAST(sum(rev) OVER (ORDER BY day
        |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS trailing_7d
        |FROM d ORDER BY day""".stripMargin),
    Query("mom_change", (s, dir) =>
      // month-over-month growth: lag over the months-sized aggregate,
      // exact-decimal sums, one IEEE division for the rate
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(round(col("o_totalprice"), 2).cast("decimal(18,2)"))
          .as("__rev"))
        .withColumn("__prev",
          lag(col("__rev"), 1).over(Window.orderBy(col("month"))))
        .select(col("month"), col("__rev").cast("double").as("month_rev"),
          round((col("__rev").cast("double") - col("__prev").cast("double"))
            / col("__prev").cast("double"), 6).as("mom_pct"))
        .orderBy("month"),
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
        |    sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT month, CAST(rev AS DOUBLE) AS month_rev,
        |  round((CAST(rev AS DOUBLE)
        |      - CAST(lag(rev, 1) OVER (ORDER BY month) AS DOUBLE))
        |    / CAST(lag(rev, 1) OVER (ORDER BY month) AS DOUBLE), 6)
        |    AS mom_pct
        |FROM m ORDER BY month""".stripMargin),
    Query("sql_part_stats", (s, dir) => {
      Tables.names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      // avg in EXACT integer space: the double avg rounded to 4 landed on
      // a ten-thousandth midpoint at sf10 (949.70625) and the two
      // engines' order-dependent sums rounded opposite ways. Half-up of
      // the exact rational (200*cents+n) div (2n), one exact division.
      s.sql(
        """SELECT p_brand, p_type,
          |  CAST(count(*) AS BIGINT) AS n_parts,
          |  CAST((200 * sum(CAST(round(p_retailprice * 100, 0) AS BIGINT))
          |        + count(*)) DIV (2 * count(*)) AS DOUBLE) / 10000.0
          |    AS avg_price,
          |  CAST(max(p_size) AS INTEGER) AS max_size
          |FROM part GROUP BY p_brand, p_type
          |ORDER BY p_brand, p_type""".stripMargin)
    },
      // same exact integer half-up as the engine side
      """SELECT p_brand, p_type,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST((200 * sum(CAST(round(p_retailprice * 100, 0) AS BIGINT))
        |        + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0
        |    AS avg_price,
        |  CAST(max(p_size) AS INTEGER) AS max_size
        |FROM part GROUP BY p_brand, p_type
        |ORDER BY p_brand, p_type""".stripMargin),
    Query("window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Query("events_hourly", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("hopping_agg", (s, dir) =>
      // SLIDING (hopping) event-time windows — window(ts, width, slide)
      // assigns each event to width/slide overlapping windows at the
      // scan (a codegen'd explode, no self-join), then it's an ordinary
      // partial-aggregable groupBy; the oracle spells the same 2h/1h
      // assignment as a two-way UNION ALL. Exact-decimal sums as the
      // hourly twin; the smoothing a dashboard wants without computing
      // each hour twice from raw rows
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value"), 2).cast("decimal(18,2)"))
            .cast("double").as("sum_value"))
        .select(col("w.start").as("wstart"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("wstart", "event_type"),
      // 2h-wide / 1h-slide windows: an event at t belongs to the
      // windows starting at trunc(t) and trunc(t) − 1h — spelled as a
      // UNION ALL of the two shifted assignments
      """WITH w AS (
        |  SELECT date_trunc('hour', ts) AS wstart, event_type, value
        |  FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value
        |  FROM events)
        |SELECT wstart, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |       AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),
    Query("jsonl_ingest", (s, dir) => {
      // JSON-lines interchange surface: documents written as Spark
      // JSONL (the format LLM corpora ship in), read back under the
      // EXPLICIT parquet schema (inference would re-scan and can widen
      // types), and rolled up with per-group min/max content
      // fingerprints — md5(doc_id:text) pins byte-level text fidelity
      // through the JSON escape/unescape round trip, not just counts.
      // Per-PROCESS unique scratch dir (createTempDirectory), pinned
      // result, tree deleted before returning — the fileReplay
      // pattern; a path derived only from the sf dir would race two
      // concurrent verify/bench processes on the same scale factor
      // (one could read the other's half-overwritten tree).
      import scala.jdk.CollectionConverters._
      val docs = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_")
      val data = s"$tmp/docs"
      docs.write.json(data)
      val fp = md5(concat(col("doc_id").cast("string"), lit(":"),
        col("text")))
      val out = s.read.schema(docs.schema).json(data)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min(fp).as("min_fp"), max(fp).as("max_fp"))
        .localCheckpoint(true)
      val walked = java.nio.file.Files.walk(tmp)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walked.close()
      out.orderBy("source", "lang")
    },
      // the round trip must be invisible: same rollup + content
      // fingerprints straight off the parquet table
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(md5(CAST(doc_id AS VARCHAR) || ':' || text)) AS min_fp,
        |  max(md5(CAST(doc_id AS VARCHAR) || ':' || text)) AS max_fp
        |FROM documents GROUP BY 1, 2 ORDER BY source, lang""".stripMargin),
    Query("asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      // tieBreak on the unique event id: if two purchases ever share a
      // (user, ts), last-by-id wins deterministically on both engines
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts",
        tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          EventTime.ms(col("ts")).as("ts_ms"),
          EventTime.ms(col("r_ts")).as("p_ts_ms"),
          round(col("r_value"), 2).as("p_value"))
        .orderBy("event_id")
    },
      """WITH a AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |b AS (SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT a.event_id, a.user_id, epoch_ms(a.ts) AS ts_ms,
        |  epoch_ms(b.ts) AS p_ts_ms, round(b.value, 2) AS p_value
        |FROM a ASOF JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY event_id""".stripMargin),
    Query("range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      RangeJoin.timeRangeJoin(clicks, purchases, Seq("user_id"),
        "ts", "ts", lowerMs = 0L, upperMs = 600000L)
        .select(col("event_id"), col("user_id"),
          col("r_event_id").as("purchase_id"),
          round(col("r_value"), 2).as("p_value"))
        .orderBy("event_id", "purchase_id")
    },
      """WITH a AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |b AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT a.event_id, a.user_id, b.event_id AS purchase_id,
        |  round(b.value, 2) AS p_value
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND epoch_ms(b.ts) >= epoch_ms(a.ts)
        |  AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 600000
        |ORDER BY a.event_id, purchase_id""".stripMargin),
    Query("asof_outer", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      // outer variant: clicks with no prior purchase kept with null p_*
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts",
        inner = false, tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          EventTime.ms(col("ts")).as("ts_ms"),
          EventTime.ms(col("r_ts")).as("p_ts_ms"),
          round(col("r_value"), 2).as("p_value"))
        .orderBy("event_id")
    },
      """WITH a AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |b AS (SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT a.event_id, a.user_id, epoch_ms(a.ts) AS ts_ms,
        |  epoch_ms(b.ts) AS p_ts_ms, round(b.value, 2) AS p_value
        |FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY event_id""".stripMargin),
    Query("heavy_hitters", (s, dir) =>
      // k=16 > the 5 distinct event types, so the Misra–Gries sketch holds
      // EXACT counts (no decrement ever fires) and the result is
      // oracle-hashable — while still exercising the full partial/merge/
      // serialize path of the TypedImperativeAggregate.
      t(s, dir, "events")
        .agg(TextAnalysis.heavyHitters(col("event_type"), 16).as("hh"))
        .select(explode(col("hh")).as(Seq("item", "cnt")))
        .orderBy("item"),
      """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY item""".stripMargin),
    Query("salted_join", (s, dir) => {
      val items = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      val brands = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      // revenue summed as LONG ten-thousandths (exact + order-free like
      // the DECIMAL sum it replaces, but codegen-primitive — the
      // DECIMAL(18,4) aggregate cost ~0.6 s here at sf0.1), with the
      // loud 2^63 guard on the group outputs
      graft.ops.Skew.saltedJoin(items, brands, Seq("l_partkey"), saltFactor = 8)
        .groupBy("p_brand")
        .agg(sum(revenueL4).as("__r4"), max(abs(revenueL4)).as("__ma"),
          count(lit(1)).as("n_items"))
        .select(col("p_brand"),
          (l4ToCents(l4Guarded(col("__r4"), col("__ma"), col("n_items")))
            .cast("double") / 100.0).as("rev"),
          col("n_items"))
        .orderBy("p_brand")
    },
      // exact-decimal revenue sum, order-free — see revenueDec
      """SELECT p.p_brand,
        |  CAST(round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount),
        |    4) AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin),
    Query("ivf_topk", (s, dir) => {
      // k-means cell CONTENTS are not reproducible across engines, so the
      // raw top-k rows can't be oracle-hashed. What CAN be hashed are the
      // index's correctness invariants, recomputed inside the query as
      // booleans whose expected value is a guaranteed property, not a
      // statistical threshold:
      //  - full_probe_exact: probing every cell must reproduce the exact
      //    brute-force top-k row-for-row (same scoring, same rounding,
      //    same tie-break — candidate union over all cells = whole corpus);
      //  - recall_monotone: probe sets nest (4 nearest cells ⊆ all cells),
      //    and top-k hits against the exact answer are monotone in the
      //    candidate set (an exact-top-k member in the candidates can be
      //    displaced only by the <k rows that beat it globally).
      // Oracle = the same query ids with both booleans literally true.
      // Each ANN pass is referenced ONCE (logical plans are trees — a
      // DataFrame reused N times re-executes N times): bf widens with
      // left-join indicator columns from both IVF passes, and one
      // aggregate computes every gate.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val k = 5
      val bf = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k)
      val cells = Some(Similarity.trainIvf(e, "vec_id", "embedding", nCells = 16))
      val ivfAll = Similarity.ivfTopK(q, e, "vec_id", "embedding", k,
          nCells = 16, nProbe = 16, trained = cells)
        .select(col("query_id"), col("neighbor_id"),
          col("cos").as("a_cos"), col("rn").as("a_rn"))
      val ivf4 = Similarity.ivfTopK(q, e, "vec_id", "embedding", k,
          nCells = 16, nProbe = 4, trained = cells)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__h4"))
      bf.join(ivfAll, Seq("query_id", "neighbor_id"), "left")
        .join(ivf4, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_bf"),
          count(when(col("a_rn") === col("rn") && col("a_cos") === col("cos"),
            1)).as("n_eq"),
          count(col("a_rn")).as("hall"),
          count(col("__h4")).as("h4"))
        .select(col("query_id"), lit(k.toLong).as("k"),
          (col("n_eq") === col("n_bf")).as("full_probe_exact"),
          (col("h4") <= col("hall")).as("recall_monotone"))
        .orderBy("query_id")
    },
      // The four approximate operators emit invariant/accuracy gates as
      // booleans (plus whatever exact values DuckDB can recompute), so the
      // oracle is the same relation with the gates literally true — a
      // hash-checked driver-visible pass/fail instead of a rows-only check.
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k,
        |  true AS full_probe_exact, true AS recall_monotone
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin),
    Query("pq_topk", (s, dir) => {
      // PQ-compressed ANN shortlist (32x smaller corpus vectors) scored
      // by true ADC: per-query lookup tables, m lookups per pair, no
      // reconstruction. The codebook is engine-specific, so the shortlist
      // rows can't hash against DuckDB — but the operator's invariants
      // can, recomputed inside the query:
      //  - adc_eq_decode: the ADC lookup-table path must rank identically
      //    to the reconstruct-then-dot path (both round to 4 decimals
      //    before ranking; codebook training is a deterministic
      //    driver-side Lloyd's on an md5-ordered sample, so this is
      //    partition- and run-invariant);
      //  - recall_ge_100x_random: shortlist recall@20 against the exact
      //    top-20, aggregated over all queries, gated against a
      //    SCALE-STABLE bar: least(0.2, 100 * depth/n). Absolute recall
      //    of a 32x-lossy code on UNIFORM RANDOM vectors (the hardest
      //    case; clustered real data ranks far better, see the spec's
      //    fixture) legitimately falls with corpus size — measured
      //    0.32-0.48 at sf<=0.1, 0.21 at sf1 (20k vecs), 0.095 at sf10
      //    (200k vecs) — so a FIXED threshold is a miscalibrated gate
      //    (the round-9 0.2 bar passed sf1 by 0.01 and failed sf10,
      //    caught by the sf10 gate). A broken encoder scores the random
      //    baseline depth/n (1x), so 100x random separates working from
      //    broken with >=9x margin at every measured SF while the 0.2
      //    cap keeps the bar meaningful at tiny n where 100*depth/n > 1.
      // Oracle = one row of literals (+ the DuckDB-computable query count).
      // Single pass per ANN path (reused DataFrames re-execute): widen
      // adc with indicator columns from the decode twin and the exact
      // top-list, then one aggregate computes every gate. Both PQ paths
      // and brute force emit exactly `depth` rows per query (corpus >>
      // depth at every SF), so n_bf == n_adc and the recall denominator
      // is the adc row count.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val depth = 20
      val model = ProductQuant.train(e, "vec_id", "embedding", k = 64)
      val adc = ProductQuant.pqTopKAdc(q, e, "vec_id", "embedding", depth, model)
      val dec = ProductQuant.pqTopK(q, e, "vec_id", "embedding", depth, model)
        .select(col("query_id"), col("rn"),
          col("neighbor_id").as("d_nid"), col("cos").as("d_cos"))
      val bf = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", depth)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      val nCorpus = broadcast(e.agg(count(lit(1)).as("__nc")))
      adc.join(dec, Seq("query_id", "rn"), "left")
        .join(bf, Seq("query_id", "neighbor_id"), "left")
        .crossJoin(nCorpus)
        .agg(max(col("__nc")).as("__nc"),
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_adc"),
          count(when(col("d_nid") === col("neighbor_id") &&
            col("d_cos") === col("cos"), 1)).as("n_eq"),
          count(col("__hit")).as("n_hits"))
        .select(col("n_queries"),
          (col("n_eq") === col("n_adc")).as("adc_eq_decode"),
          (col("n_hits").cast("double") >= col("n_adc").cast("double") *
            least(lit(0.2), lit(100.0 * depth) / col("__nc").cast("double")))
            .as("recall_ge_100x_random"))
    },
      """SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |  true AS adc_eq_decode, true AS recall_ge_100x_random
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    Query("json_props", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), round(avg("k"), 4).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
        |    AS avg_k,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("quantiles", (s, dir) =>
      // grouped distributed selection (exactSelect): parallel total
      // order + positional extraction, not a per-group sequential
      // window — bit-equal to exact()/quantile_cont, 12s -> ~3s at sf1
      Quantiles.exactSelect(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
        .select(col("l_returnflag"),
          round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("winsorize", (s, dir) =>
      // heavy-tail taming for training-data statistics: per-group exact
      // [P1, P99] clip — groups-sized bounds broadcast back, the clip
      // is map-side, the data never shuffles
      Quantiles.winsorize(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice_w"), 2).as("w_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      """WITH b AS (SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.01) lo,
        |  quantile_cont(l_extendedprice, 0.99) hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  round(least(greatest(l.l_extendedprice, b.lo), b.hi), 2) AS w_price
        |FROM lineitem l JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("linreg", (s, dir) =>
      // grouped OLS from exact per-group sufficient statistics — ONE
      // map-side-combined aggregate, float only in the final per-group
      // closed form (see Stats.linReg); the mergeable moment form is
      // also the incremental/rollup form at 100 TB
      Stats.linReg(t(s, dir, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice"),
      // exact HUGEINT sufficient statistics mirroring Stats.linReg:
      // each sum casts to DOUBLE first, then the identical closed-form
      // double arithmetic — bit-reproducible across engines
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)) AS sx,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)) AS sy,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)
        |      * CAST(round(l_quantity*100) AS HUGEINT)) AS sxx,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)
        |      * CAST(round(l_extendedprice*100) AS HUGEINT)) AS sxy,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)
        |      * CAST(round(l_extendedprice*100) AS HUGEINT)) AS syy
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM s)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 9) AS slope,
        |  round((syd - (nd*sxyd - sxd*syd)/(nd*sxxd - sxd*sxd)*sxd)
        |    / (nd*100), 9) AS intercept,
        |  round((nd*sxyd - sxd*syd)*(nd*sxyd - sxd*syd)
        |    / ((nd*sxxd - sxd*sxd)*(nd*syyd - syd*syd)), 9) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin),
    Query("linreg_ivm", (s, dir) => {
      // the storable-moments path made driver-visible: sufficient
      // statistics per (returnflag, ship-month) — the table a pipeline
      // would PERSIST — rolled up to per-returnflag fits by exact
      // decimal addition; lossless merge ⇒ the refit must be
      // bit-identical to the direct fit, proven here against the
      // independent engine (oracle = the direct-fit SQL)
      val li = t(s, dir, "lineitem")
        .withColumn("__m", date_trunc("month", col("l_shipdate")))
      Stats.linRegFit(
        Stats.linRegMoments(li, Seq("l_returnflag", "__m"),
          "l_quantity", "l_extendedprice"),
        Seq("l_returnflag"))
    },
      // the rollup refit must equal the DIRECT fit — same oracle SQL
      // as linreg: a lossless moment merge is exactly this claim
      """WITH s AS (SELECT l_returnflag,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)) AS sx,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)) AS sy,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)
        |      * CAST(round(l_quantity*100) AS HUGEINT)) AS sxx,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)
        |      * CAST(round(l_extendedprice*100) AS HUGEINT)) AS sxy,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)
        |      * CAST(round(l_extendedprice*100) AS HUGEINT)) AS syy
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM s)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 9) AS slope,
        |  round((syd - (nd*sxyd - sxd*syd)/(nd*sxxd - sxd*sxd)*sxd)
        |    / (nd*100), 9) AS intercept,
        |  round((nd*sxyd - sxd*syd)*(nd*sxyd - sxd*syd)
        |    / ((nd*sxxd - sxd*sxd)*(nd*syyd - syd*syd)), 9) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin),
    Query("pct_norm", (s, dir) =>
      // cross-source score normalization: percent rank computed from a
      // distinct-value histogram + exact-long division, never a
      // row-level sort-per-source window (see Quantiles.percentileNormalize)
      Quantiles.percentileNormalize(t(s, dir, "documents"),
        "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("n_chars_pct").as("pct"))
        .orderBy("doc_id"),
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("pct_norm_cont", (s, dir) =>
      // the CONTINUOUS-score path: events.value is mostly distinct, so
      // the unbinned histogram would be row-sized — the degenerate case
      // percentileNormalize's premise excludes. Binning first
      // (floor(value*10) — floor on the shared IEEE product is
      // bit-identical across engines, unlike decimal rounding of
      // arbitrary doubles) bounds the histogram by the VALUE RANGE, and
      // ranks are percent_rank over the bin with ties sharing the min
      // rank — exact-long division, engine-identical
      Quantiles.percentileNormalize(
          t(s, dir, "events")
            .select(col("event_id"), col("event_type"), col("value"))
            .withColumn("__bin", floor(col("value") * 10).cast("long")),
          "event_type", "__bin")
        .select(col("event_id"), col("event_type"), col("value"),
          col("__bin_pct").as("pct"))
        .orderBy("event_id"),
      // same floor(value*10) bin: floor of the shared IEEE product is
      // bit-identical on both engines; percent_rank ties = bin ties
      """SELECT event_id, event_type, value,
        |  percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY CAST(floor(value * 10) AS BIGINT)) AS pct
        |FROM events ORDER BY event_id""".stripMargin),
    Query("quantiles_hist", (s, dir) =>
      // the distinct-value-histogram exact form on a LOW-cardinality
      // measure (l_quantity: 50 distinct in 600k rows) — the shape where
      // the sequential window shrinks from rows to distinct values
      Quantiles.exactHistogram(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_quantity", Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
        .select(col("l_returnflag"),
          round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("quantiles_dist", (s, dir) =>
      // distributed-selection exact quantiles of one giant continuous
      // column: parallel range-sort, offsets pass, rank-selection pass —
      // the shape where neither the per-group window nor the value
      // histogram survives (single group, near-all-distinct values)
      Quantiles.exactDistributed(t(s, dir, "lineitem"), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
        .select(round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90")),
      """SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem""".stripMargin),
    Query("quantiles_approx", (s, dir) => {
      // The scale path Quantiles.scala documents: Greenwald–Khanna sketch,
      // mergeable partials, parallelism NOT bounded by group count (the
      // exact form's limit). The gate is GK's own DETERMINISTIC rank
      // guarantee, checked by two plain counting aggregates per quantile
      // — no sort, no window: the exact-rank interval (count(<v),
      // count(<=v)] of each returned value must reach the target rank
      // widened by 2ε·n (ε = 1/accuracy, doubled to absorb the 0/1-based
      // rank convention — still only ~120 rows of slack in 600k). The
      // round-4 spelling instead re-derived the EXACT quantiles inside
      // the timed query (a full per-group sort that the suite already
      // hashes in `quantiles`/`kll_quantiles`); the exact values hashed
      // here are the cheap scan aggregates n_vals/min/max.
      val acc = 10000
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("__v"))
        .filter(col("__v").isNotNull)
      // the sketch output is 3 rows of model metadata — collect it (the
      // exactDistributed posture: bounded driver state, never data) and
      // inline the thresholds as literals, so the gate pass is a plain
      // codegen'd counting scan with no join stage at all
      val ap = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("__v"),
          array(lit(0.25), lit(0.5), lit(0.9)), lit(acc)).as("ps"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      def thr(q: Int): Column = {
        val m = ap.map { case (f, ps) => (f, ps(q)) }
        m.tail.foldLeft(when(col("l_returnflag") === m.head._1,
          lit(m.head._2))) { case (c, (f, v)) =>
          c.when(col("l_returnflag") === f, lit(v))
        }
      }
      val counted = li
        .select(col("l_returnflag"), col("__v"),
          thr(0).as("a25"), thr(1).as("a50"), thr(2).as("a90"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_vals"),
          round(min(col("__v")), 4).as("min_price"),
          round(max(col("__v")), 4).as("max_price"),
          sum(when(col("__v") < col("a25"), 1L).otherwise(0L)).as("lt25"),
          sum(when(col("__v") <= col("a25"), 1L).otherwise(0L)).as("le25"),
          sum(when(col("__v") < col("a50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("__v") <= col("a50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("__v") < col("a90"), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("__v") <= col("a90"), 1L).otherwise(0L)).as("le90"))
      def ok(p: Double, ltc: Column, lec: Column): Column = {
        val n = col("n_vals").cast("double")
        val eps = 2.0 / acc
        ltc.cast("double") <= (lit(p) + lit(eps)) * n &&
          lec.cast("double") >= (lit(p) - lit(eps)) * n
      }
      counted.select(col("l_returnflag"), col("n_vals"),
          col("min_price"), col("max_price"),
          ok(0.25, col("lt25"), col("le25")).as("p25_ok"),
          ok(0.5, col("lt50"), col("le50")).as("p50_ok"),
          ok(0.9, col("lt90"), col("le90")).as("p90_ok"))
        .orderBy("l_returnflag")
    },
      // exact quantiles already hash in `quantiles`/`kll_quantiles`; here
      // the hashable exact values are the scan aggregates, and the GK
      // rank-guarantee gates are literally true
      """SELECT l_returnflag,
        |  CAST(count(l_extendedprice) AS BIGINT) AS n_vals,
        |  round(min(l_extendedprice), 4) AS min_price,
        |  round(max(l_extendedprice), 4) AS max_price,
        |  true AS p25_ok, true AS p50_ok, true AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("kll_quantiles", (s, dir) => {
      // store-once / re-aggregate-forever QUANTILES: per-(returnflag,
      // linestatus) KLL sketches materialize once; the per-returnflag
      // answer merges sketch BYTES — no second scan of raw rows. Sketch
      // estimates are implementation-specific, so the query emits the
      // exact quantiles (oracle-hashable, same as `quantiles`) next to
      // 2%-relative gates on the merged estimates (k=400 ⇒ ~0.87%
      // two-sided rank error; the value error on this distribution is
      // well inside 2%).
      val li = t(s, dir, "lineitem")
      val parts = Quantiles.sketch(li,
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice")
      val est = Quantiles.mergeSketches(parts, Seq("l_returnflag"),
        Seq("a25" -> 0.25, "a50" -> 0.5, "a90" -> 0.9))
      val ex = Quantiles.exactSelect(li, Seq("l_returnflag"),
        "l_extendedprice", Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
      def ok(a: Column, e: Column): Column = abs(a - e) <= abs(e) * 0.02
      ex.join(est, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"),
          ok(col("a25"), col("p25")).as("p25_ok"),
          ok(col("a50"), col("p50")).as("p50_ok"),
          ok(col("a90"), col("p90")).as("p90_ok"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  true AS p25_ok, true AS p50_ok, true AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("click_attrib", (s, dir) => {
      // batch twin of the stream-stream interval join (EventStream.
      // intervalJoinStream — clicks ⋈ purchases by the same user within
      // 10 minutes): StreamingSpec proves two MemoryStreams produce
      // exactly these rows; this oracle row makes the shared join logic
      // driver-visible. Watermarks are no-ops in batch mode, so the
      // SAME function body runs here
      val ev = t(s, dir, "events")
      EventStream.intervalJoinStream(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy("event_id", "purchase_id")
    },
      """SELECT c.event_id, c.user_id, p.event_id AS purchase_id,
        |  round(p.value, 2) AS p_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY c.event_id, purchase_id""".stripMargin),
    Query("kmeans_fit", (s, dir) => {
      // fully distributed Lloyd's over every embedding row (the
      // sampled-training counterpart is ivf_topk): per-iteration
      // gates are the guaranteed invariants — every row is assigned
      // each iteration (exact, hashable) and the start-of-iteration
      // SSE never increases (Lloyd's monotonicity, 1e-9 relative
      // tolerance for float summation order)
      import s.implicits._
      val fit = graft.ops.Clustering.kmeansFit(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 3)
      val h = fit.history
      h.zip((1, Double.MaxValue, 0L) +: h).map {
        case ((it, sse, n), (_, prev, _)) =>
          (it.toLong, n, sse <= prev * (1 + 1e-9))
      }.toDF("iter", "n_assigned", "sse_nonincreasing").orderBy("iter")
    },
      // centroid coordinates are engine-specific; the hashable facts are
      // the row count reached by every iteration's assignment and
      // Lloyd's SSE monotonicity
      """SELECT CAST(i AS BIGINT) AS iter,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_assigned,
        |  true AS sse_nonincreasing
        |FROM range(1, 4) t(i) ORDER BY iter""".stripMargin),
    Query("hll_users", (s, dir) => {
      // materialize per-(event_type, day) HLL sketches, then answer the
      // per-type distinct-user question from sketch bytes alone — the
      // store-once / re-aggregate-forever shape. The estimate itself is
      // DataSketches-specific and can't hash against DuckDB, so the query
      // emits the EXACT count (oracle-computable) next to a relative-error
      // gate on the sketch estimate: lgK=12 HLL has ~1.6% standard error,
      // so 5% is a ~3 sigma bound — and the sketch hash is seedless, so
      // the estimate is deterministic for fixed data, not a coin flip.
      val ev = t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
      val daily = DistinctSketch.sketch(ev, Seq("event_type", "day"), "user_id")
      val est = DistinctSketch.estimate(daily, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx_distinct") - col("n_exact")) <=
            col("n_exact") * 0.05).as("rel_err_le_5pct"))
        .orderBy("event_type")
    },
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  true AS rel_err_le_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("theta_overlap", (s, dir) => {
      // theta sketches: distinct counting WITH set operations — per-type
      // sketches of "heavy" users (per-user event count above the type
      // mean, stated in exact integer arithmetic: n·n_users > n_events,
      // no float boundary), then |A ∩ B| and |A \ B| STRAIGHT FROM THE
      // SKETCH BYTES. HLL cannot intersect; theta intersects the
      // retained bottom-k hash sets directly. Exact counts ride along;
      // gates bound the sketch answers (below k=4096 distincts theta is
      // exact, so these hold with margin at every test SF).
      val cnt = t(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      val stats = cnt.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"))
      val heavy = cnt.join(broadcast(stats), "event_type")
        .filter(col("n") * col("n_users") > col("n_events"))
        .select("event_type", "user_id")
      val sk = DistinctSketch.thetaSketch(heavy, Seq("event_type"), "user_id")
      val pairs = sk.as("a")
        .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("a_type"),
          col("b.event_type").as("b_type"),
          DistinctSketch.thetaIntersect(col("a.sketch"), col("b.sketch"))
            .as("est_both"),
          DistinctSketch.thetaANotB(col("a.sketch"), col("b.sketch"))
            .as("est_onlya"))
      val exactBoth = heavy.as("x").join(heavy.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .select(col("x.event_type").as("a_type"),
          col("y.event_type").as("b_type"))
        .groupBy("a_type", "b_type").agg(count(lit(1)).as("n_both"))
      val nA = heavy.groupBy("event_type").agg(count(lit(1)).as("n_a"))
        .withColumnRenamed("event_type", "a_type")
      val nB = nA.select(col("a_type").as("b_type"), col("n_a").as("n_b"))
      // Estimator-aware gate. In estimating mode a theta set-op answer is
      // a sample estimate: the op samples at θ = min(θ_A, θ_B) ≈
      // k/max(|A|,|B|) and retains ~|result|·θ of the k min-hashes, so
      // its absolute standard error is ≈ sqrt(|result|·scope/k) with
      // scope = |A∪B| for ∩ and max(|A|,|B|) for A\B (the intersection
      // result additionally passes through the union's θ). The round-11
      // flat 5% band was ~2.3σ for the sf100 "error\purchase" pair (352k
      // distinct, σ≈7.6k) and missed on a sampling fluctuation — a gate
      // calibration artifact, not a sketch defect; and the first A\B
      // band used scope=|A|, which under-covers by sqrt(|A|/|B|) when
      // |B|>|A| (round-12 ADVICE). 4.6σ puts per-gate miss odds ~4e-6
      // across every decade; in exact mode (<k distincts) the error is 0
      // and the old and new gates agree, so all sf≤10 outputs are
      // bit-identical. k is derived from the sketch's own lgK so a
      // future lgK change re-calibrates the band automatically.
      val k = DistinctSketch.DefaultK.toDouble
      def ok(est: Column, exact: Column, scope: Column): Column =
        abs(est - exact) <= greatest(lit(1.0),
          sqrt(exact.cast("double") * scope.cast("double") / k) * 4.6)
      pairs.join(exactBoth, Seq("a_type", "b_type"))
        .join(nA, Seq("a_type")).join(nB, Seq("b_type"))
        .select(col("a_type"), col("b_type"), col("n_both"),
          (col("n_a") - col("n_both")).as("n_only_a"),
          ok(col("est_both"), col("n_both"),
            col("n_a") + col("n_b") - col("n_both")).as("both_ok"),
          ok(col("est_onlya"), col("n_a") - col("n_both"),
            greatest(col("n_a"), col("n_b"))).as("onlya_ok"))
        .orderBy("a_type", "b_type")
    },
      """WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n_users,
        |  CAST(sum(n) AS BIGINT) n_events FROM c GROUP BY 1),
        |h AS (SELECT c.event_type, c.user_id FROM c JOIN st USING (event_type)
        |  WHERE c.n * st.n_users > st.n_events),
        |p AS (SELECT a.event_type a_type, b.event_type b_type,
        |  CAST(count(*) AS BIGINT) n_both
        |  FROM h a JOIN h b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |na AS (SELECT event_type a_type, CAST(count(*) AS BIGINT) n_a
        |  FROM h GROUP BY 1)
        |SELECT a_type, b_type, n_both, n_a - n_both AS n_only_a,
        |  TRUE AS both_ok, TRUE AS onlya_ok
        |FROM p JOIN na USING (a_type)
        |ORDER BY a_type, b_type""".stripMargin),
    Query("distinct_users", (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // --- round-7 additions: pre-flight join audits, layout, graph ----------
    Query("skew_audit", (s, dir) =>
      // pre-flight shuffle-key audit: hottest keys + skew factor vs the
      // uniform expectation — the "do I need saltedJoin" question answered
      // from one aggregate before the 100 TB join runs
      Skew.keySkewAudit(t(s, dir, "lineitem"), "l_suppkey", topK = 20),
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS nkeys FROM c)
        |SELECT l_suppkey, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |  round(CAST(cnt AS DOUBLE) * CAST(nkeys AS DOUBLE)
        |    / CAST(total AS DOUBLE), 4) AS skew
        |FROM c, t ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin),
    Query("join_size_est", (s, dir) => {
      // exact equi-join output cardinality WITHOUT the join (Σ cnt_a·cnt_b
      // over matching keys): the explosion/hot-key check for a planned
      // self-join, from two distinct-keys-sized aggregates
      val l = t(s, dir, "lineitem")
      Skew.joinSizeEstimate(l, "l_partkey", l, "l_partkey")
    },
      """WITH c AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |f AS (SELECT k, CAST(n AS HUGEINT) * n AS fan FROM c)
        |SELECT CAST(sum(fan) AS DOUBLE) AS est_rows,
        |  CAST(count(*) AS BIGINT) AS n_match_keys,
        |  CAST(max(fan) AS DOUBLE) AS max_fanout,
        |  (SELECT k FROM f ORDER BY fan DESC, k LIMIT 1) AS hot_key
        |FROM f""".stripMargin),
    Query("zorder_skip", (s, dir) => {
      // Z-order layout vs single-column clustering, measured the way a
      // parquet reader actually prunes: per-file min/max envelopes vs a
      // 2-D box predicate. Coordinates are 8-bit price/quantity buckets;
      // the z layout's files are the 16x16-cell Morton grid (top-4-bit
      // interleave — what repartitionByRange(zValue) yields at scale),
      // the linear layout clusters on price alone at the same file
      // granularity. Map-only bit arithmetic + one mergeable groupBy per
      // layout; the z layout must scan strictly fewer rows (spec-gated).
      val li = t(s, dir, "lineitem")
      val x = least(floor(col("l_extendedprice") / 500), lit(255)).cast("long")
      val y = floor(col("l_quantity") * 5).cast("long")
      val box = (64L, 95L, 100L, 149L)
      val zs = Layout.skippingSummary(Layout.skippingStats(li,
        Layout.zFile(x, y, bitsPerDim = 8, gridBits = 4), x, y,
        box._1, box._2, box._3, box._4), "zorder")
      val ls = Layout.skippingSummary(Layout.skippingStats(li,
        x, x, y, box._1, box._2, box._3, box._4), "linear")
      zs.unionByName(ls).orderBy("layout")
    },
      // identical Morton shift/mask chain as Layout.spreadBits16; masks
      // in decimal (0x00FF00FF00FF00FF, 0x0F0F..., 0x3333..., 0x5555...)
      """WITH pts AS (SELECT
        |    least(CAST(floor(l_extendedprice / 500) AS BIGINT), 255) AS x,
        |    CAST(floor(l_quantity * 5) AS BIGINT) AS y
        |  FROM lineitem),
        |s1 AS (SELECT x, y,
        |    ((x | (x << 8)) & 71777214294589695) AS sx,
        |    ((y | (y << 8)) & 71777214294589695) AS sy FROM pts),
        |s2 AS (SELECT x, y,
        |    ((sx | (sx << 4)) & 1085102592571150095) AS sx,
        |    ((sy | (sy << 4)) & 1085102592571150095) AS sy FROM s1),
        |s3 AS (SELECT x, y,
        |    ((sx | (sx << 2)) & 3689348814741910323) AS sx,
        |    ((sy | (sy << 2)) & 3689348814741910323) AS sy FROM s2),
        |s4 AS (SELECT x, y,
        |    ((sx | (sx << 1)) & 6148914691236517205) AS sx,
        |    ((sy | (sy << 1)) & 6148914691236517205) AS sy FROM s3),
        |f AS (SELECT x, y, ((sx | (sy << 1)) >> 8) AS zfile FROM s4),
        |zstats AS (SELECT zfile, count(*) AS n,
        |    min(x) AS min_x, max(x) AS max_x,
        |    min(y) AS min_y, max(y) AS max_y,
        |    sum(CASE WHEN x BETWEEN 64 AND 95 AND y BETWEEN 100 AND 149
        |        THEN 1 ELSE 0 END) AS n_match
        |  FROM f GROUP BY 1),
        |lstats AS (SELECT x AS lfile, count(*) AS n,
        |    min(x) AS min_x, max(x) AS max_x,
        |    min(y) AS min_y, max(y) AS max_y,
        |    sum(CASE WHEN x BETWEEN 64 AND 95 AND y BETWEEN 100 AND 149
        |        THEN 1 ELSE 0 END) AS n_match
        |  FROM f GROUP BY 1),
        |zsum AS (SELECT 'zorder' AS layout,
        |    CAST(count(*) AS BIGINT) AS files_total,
        |    CAST(sum(CASE WHEN NOT (max_x < 64 OR min_x > 95
        |      OR max_y < 100 OR min_y > 149) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS files_scanned,
        |    CAST(sum(CASE WHEN NOT (max_x < 64 OR min_x > 95
        |      OR max_y < 100 OR min_y > 149) THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_scanned,
        |    CAST(sum(n_match) AS BIGINT) AS rows_matching FROM zstats),
        |lsum AS (SELECT 'linear' AS layout,
        |    CAST(count(*) AS BIGINT) AS files_total,
        |    CAST(sum(CASE WHEN NOT (max_x < 64 OR min_x > 95
        |      OR max_y < 100 OR min_y > 149) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS files_scanned,
        |    CAST(sum(CASE WHEN NOT (max_x < 64 OR min_x > 95
        |      OR max_y < 100 OR min_y > 149) THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_scanned,
        |    CAST(sum(n_match) AS BIGINT) AS rows_matching FROM lstats)
        |SELECT * FROM zsum UNION ALL SELECT * FROM lsum
        |ORDER BY layout""".stripMargin),
    Query("pagerank", (s, dir) =>
      // damped PageRank over the supplier↔part bipartite graph (distinct
      // lineitem pairs), 3 rounds of integer-mass propagation — bit-exact
      // across engines, one rank-sized shuffle per round over a cached
      // edge layout. Part nodes map to -(p+1): the testdata keys are
      // 0-BASED, so a bare negation collides part 0 with supplier 0 into
      // one node — a degenerate self-loop the two engines then count
      // differently (caught by the sf0.001 gate, where edge (s=0, p=0)
      // actually occurs)
      Graph.pageRank(t(s, dir, "lineitem")
        .select(col("l_suppkey").as("src"),
          (-col("l_partkey") - 1).as("dst")),
        "src", "dst", iters = 3, topK = 30),
      // the same integer-mass recurrence unrolled: every step is `//`
      // (integral division), so the ranks are bit-identical to Spark's
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |  FROM lineitem),
        |adj AS (SELECT s AS src, -p - 1 AS dst FROM e0
        |        UNION ALL SELECT -p - 1 AS src, s AS dst FROM e0),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |r0 AS (SELECT node, CAST(10000000000 AS BIGINT) AS r, deg FROM deg),
        |c1 AS (SELECT a.dst AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS m
        |       FROM adj a JOIN r0 r ON a.src = r.node GROUP BY 1),
        |r1 AS (SELECT d.node,
        |         CAST(1500000000 + (c1.m * 85) // 100 AS BIGINT) AS r, d.deg
        |       FROM deg d JOIN c1 ON d.node = c1.node),
        |c2 AS (SELECT a.dst AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS m
        |       FROM adj a JOIN r1 r ON a.src = r.node GROUP BY 1),
        |r2 AS (SELECT d.node,
        |         CAST(1500000000 + (c2.m * 85) // 100 AS BIGINT) AS r, d.deg
        |       FROM deg d JOIN c2 ON d.node = c2.node),
        |c3 AS (SELECT a.dst AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS m
        |       FROM adj a JOIN r2 r ON a.src = r.node GROUP BY 1),
        |r3 AS (SELECT d.node,
        |         CAST(1500000000 + (c3.m * 85) // 100 AS BIGINT) AS r, d.deg
        |       FROM deg d JOIN c3 ON d.node = c3.node)
        |SELECT node, r AS rank, deg FROM r3
        |ORDER BY rank DESC, node LIMIT 30""".stripMargin)
  )
}
