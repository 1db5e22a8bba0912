package graft.suite

import graft.core.Tables._
import graft.suite.Shared._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational rows: aggregations, projections and filters, joins,
  * sorts and windows, and set operations (SURVEY.md §2.1-§2.6).
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object RelationalRows {

  // q40/q142 share one oracle: the J5 composite anti-join, plain vs
  // bloom-fast-path.
  private lazy val compositeAntiOracle: String =
    """SELECT l_orderkey, count(*) AS n FROM lineitem li
       WHERE NOT EXISTS (
         SELECT 1 FROM lineitem e
         WHERE e.l_shipdate >= TIMESTAMP '1996-01-01'
           AND e.l_orderkey = li.l_orderkey AND e.l_suppkey = li.l_suppkey)
       GROUP BY l_orderkey ORDER BY l_orderkey"""

  val specs: Seq[QuerySpec] = Seq(
    // ---- aggregations (A1-A6) -------------------------------------
    QuerySpec("q01_agg_pricing", (s, d) => {
      // TPC-H Q1 shape: the reference's A-family aggregate surface.
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
         sum(CAST(round_even(l_quantity*10000, 0) AS BIGINT)) / 10000.0 AS sum_qty,
         sum(CAST(round_even(l_extendedprice*10000, 0) AS BIGINT)) / 10000.0 AS sum_base_price,
         sum(CAST(round_even(l_extendedprice*(1.0-l_discount)*10000, 0) AS BIGINT)) / 10000.0 AS sum_disc_price,
         sum(CAST(round_even(l_quantity*10000, 0) AS BIGINT)) / 10000.0 / count(l_quantity) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    QuerySpec("q07_string_agg", (s, d) => {
      // A1 GROUP_CONCAT with canonical sorted order.
      val n = nation(s, d); val r = region(s, d)
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_regionkey"), col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy(col("r_regionkey"))
    },
      """SELECT r_regionkey, r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_regionkey, r_name ORDER BY r_regionkey"""),
    QuerySpec("q08_distinct", (s, d) =>
      // A2/O4: sorted distinct list.
      customer(s, d).select(col("c_mktsegment")).where(col("c_mktsegment").isNotNull)
        .distinct().orderBy(col("c_mktsegment")),
      """SELECT DISTINCT c_mktsegment FROM customer
         WHERE c_mktsegment IS NOT NULL ORDER BY c_mktsegment"""),
    QuerySpec("q09_explode_having", (s, d) => {
      // A3/G2: join-string then split/explode/trim/group/countDistinct/having.
      val sup = supplier(s, d); val nat = nation(s, d)
      val joined = sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_nationkey"))
        .agg(concat_ws(",", collect_list(col("s_name"))).as("names"))
      joined
        .select(col("n_nationkey"), explode(split(col("names"), ",")).as("sname"))
        .withColumn("sname", trim(col("sname")))
        .where(col("sname") =!= "")
        .groupBy(col("sname"))
        .agg(countDistinct(col("n_nationkey")).as("n_nations"))
        .where(col("n_nations") >= 1)
        .orderBy(col("sname"))
    },
      """WITH joined AS (
           SELECT n_nationkey, string_agg(s_name, ',') AS names
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_nationkey),
         exploded AS (
           SELECT n_nationkey, trim(u.sname) AS sname
           FROM joined, LATERAL unnest(string_split(names, ',')) AS u(sname))
         SELECT sname, count(DISTINCT n_nationkey) AS n_nations
         FROM exploded WHERE sname <> ''
         GROUP BY sname HAVING count(DISTINCT n_nationkey) >= 1
         ORDER BY sname"""),
    QuerySpec("q56_cube", (s, d) =>
      // Grouping-sets surface: CUBE over returnflag x linestatus.
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
         sum(CAST(round_even(l_quantity*100, 0) AS BIGINT)) / 100.0 AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    QuerySpec("q57_percentile", (s, d) =>
      // Exact interpolated percentiles per group.
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"))
        .orderBy(col("o_orderpriority")),
      """SELECT o_orderpriority,
         round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // ---- projections / filters (P1-P10) ---------------------------
    QuerySpec("q02_filter_range", (s, d) =>
      // P1/P2/P4: projection + numeric and timestamp-range predicates;
      // pushed to the parquet scan.
      lineitem(s, d)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
               col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice*(1.0-l_discount), 4) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_quantity < 24
         ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q37_filter_compiler", (s, d) => {
      // P3/P5/P7/P8: structured FilterSpec -> Column compilation.
      import graft.query.FilterSpec._
      val spec = And(Seq(
        In("o_orderpriority", Seq("1-URGENT", "2-HIGH")),
        Or(Seq(
          IContains("o_orderstatus", "f"),
          Gte("o_totalprice", 200000.0))),
        Gt("o_orderdate", java.sql.Timestamp.valueOf("1994-01-01 00:00:00"))))
      orders(s, d).where(graft.query.FilterSpec.compile(spec))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
           AND (lower(o_orderstatus) LIKE '%f%' OR o_totalprice >= 200000.0)
           AND o_orderdate > TIMESTAMP '1994-01-01'
         ORDER BY o_orderkey"""),

    // ---- joins (J1-J7) --------------------------------------------
    QuerySpec("q03_join_revenue", (s, d) => {
      // J1 star join (dims broadcast) + grouped revenue.
      val o = orders(s, d); val c = customer(s, d); val n = nation(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
         sum(CAST(round_even(o_totalprice*10000, 0) AS BIGINT)) / 10000.0 AS revenue,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),
    QuerySpec("q04_left_join_counts", (s, d) => {
      // J2 left outer: customers with zero orders kept.
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    QuerySpec("q05_semi_join", (s, d) => {
      // J6-style semi join: customers having >= 1 urgent order.
      val c = customer(s, d)
      val urgent = orders(s, d).where(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey"""),
    QuerySpec("q06_anti_join", (s, d) => {
      // J4 set-difference via anti join: customers with no orders.
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("q40_composite_anti", (s, d) => {
      // J5 composite-key anti-join (incremental-resume shape): line items
      // whose (orderkey, linenumber) has no 1995+ shipment sibling line.
      val li = lineitem(s, d)
      val existing = li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("e_ok"), col("l_suppkey").as("e_sk"))
      li.join(existing,
          li("l_orderkey") === existing("e_ok") && li("l_suppkey") === existing("e_sk"),
          "left_anti")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_orderkey"))
    },
      compositeAntiOracle),
    QuerySpec("q142_bloom_anti", (s, d) => {
      // q40's J5 composite anti-join through the BLOOM FAST PATH:
      // definite-new rows (bloom miss) bypass the anti-join shuffle as
      // a map-only filter; only might-contain rows verify exactly.
      // Same full-value oracle as q40 pins exactness; the plan carries
      // ONE join (the candidate arm) instead of shuffling every row.
      // NOTE this row is the CORRECTNESS pin, not the fast path's
      // showcase: with the filter built in-query over a store ~half
      // the probe side, measured sf10m floors are 16.7s vs q40's 7.8s
      // — the win requires the amortized prebuilt-filter deployment
      // (see Load.bloomAntiJoin's Scaladoc for the measured
      // break-even).
      val li = lineitem(s, d)
      val existing = li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("e_ok"), col("l_suppkey").as("e_sk"))
      val nKeys = math.max(1L, existing.count())
      val bloom = graft.ops.Sketches.bloomBuild(
        existing.select(struct(col("e_ok"), col("e_sk")).as("__k")), "__k", nKeys, 0.01)
      graft.etl.Load.bloomAntiJoin(li, existing, bloom,
        Seq("l_orderkey" -> "e_ok", "l_suppkey" -> "e_sk"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_orderkey"))
    },
      // q142: the same J5 result through the bloom fast path — identical
      // oracle, so bloom-accelerated == plain anti-join is a full-value pin.
      compositeAntiOracle),

    // ---- range joins ----------------------------------------------
    QuerySpec("q97_interval_join", (s, d) => {
      // Point-in-interval range join with NO equi key — naively a
      // BroadcastNestedLoopJoin (|points|·|windows| comparisons; ~1e12
      // at 100x). RangeJoin bins time at the window width, explodes
      // each window to its <= 2 covered bins, and equi-joins on the
      // bin — an ordinary hash join whose work tracks the true match
      // volume. Every sparse error window (event_id % 97 picks ~1% of
      // errors) aggregates the events inside [ts, ts+10min); the sum
      // is decimal-exact then cast (deterministic cross-engine).
      val ev = events(s, d)
      val wins = ev
        .where(col("event_type") === "error" && col("event_id") % 97 === 0)
        .select(col("event_id").as("wid"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      val pts = ev.select(col("ts"), col("value"))
      graft.ops.RangeJoin
        .pointInIntervalJoin(pts, "ts", wins, "w_start", "w_end", 600L)
        .groupBy(col("wid"))
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
        .orderBy(col("wid"))
    },
      // q97: the oracle states the range join DECLARATIVELY (BETWEEN-style
      // theta join) — DuckDB plans it however it likes; only the result
      // must match the binned plan.
      """WITH w AS (SELECT event_id AS wid, ts AS w_start,
           ts + INTERVAL 10 MINUTE AS w_end
           FROM events WHERE event_type = 'error' AND event_id % 97 = 0)
         SELECT wid, count(*) AS n_events,
           sum(CAST(round_even(value*100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM w JOIN events p ON p.ts >= w.w_start AND p.ts < w.w_end
         GROUP BY wid ORDER BY wid"""),
    QuerySpec("q100_interval_join_rule", (s, d) => {
      // The DECLARATIVE point-in-interval join: q97's predicate written
      // as a plain theta join, which would plan as a
      // BroadcastNestedLoopJoin; the always-on IntervalBinJoinRule
      // re-plans it as the binned equi-join (RangeJoin's shape), with
      // the bin width DERIVED from the interval relation's
      // max(end−start) — no session knobs at all. The rewrite is
      // EXACT, so this is a FULL-VALUE oracle row — same oracle SQL as
      // q97. The builder hard-asserts the nested loop is gone.
      val ev = events(s, d)
      val wins = ev
        .where(col("event_type") === "error" && col("event_id") % 97 === 0)
        .select(col("event_id").as("wid"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      val pts = ev.select(col("ts"), col("value"))
      val joined = pts.join(wins,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "IntervalBinJoinRule did not engage — declarative range join would run all-pairs")
      joined.groupBy(col("wid"))
        .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
        .orderBy(col("wid"))
    },
      // q100: exact rewrite of the declarative form — same oracle as q97.
      """WITH w AS (SELECT event_id AS wid, ts AS w_start,
           ts + INTERVAL 10 MINUTE AS w_end
           FROM events WHERE event_type = 'error' AND event_id % 97 = 0)
         SELECT wid, count(*) AS n_events,
           sum(CAST(round_even(value*100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM w JOIN events p ON p.ts >= w.w_start AND p.ts < w.w_end
         GROUP BY wid ORDER BY wid"""),

    // ---- sorts / top-k / windows (O1-O5) --------------------------
    QuerySpec("q11_topk_orders", (s, d) =>
      // O2-lite: global top-k -> TakeOrderedAndProject, no full sort.
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    QuerySpec("q10_window_topk", (s, d) => {
      // O2 keep-best-per-key via row_number (NOT dropDuplicates).
      val c = customer(s, d); val o = orders(s, d)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },
      """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders JOIN customer ON o_custkey = c_custkey) t
         WHERE rn <= 3 ORDER BY c_mktsegment, rn"""),
    QuerySpec("q41_window_running", (s, d) => {
      // Window frame surface: per-customer running order total.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .withColumn("running_total", scaledSum2(col("o_totalprice")).over(w) / lit(100.0))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
         sum(CAST(round_even(o_totalprice*100, 0) AS BIGINT)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q42_lag_lead", (s, d) => {
      // lag/lead surface: gap in days between consecutive orders per customer.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")))
        .select(col("o_custkey"), col("o_orderkey"), col("gap_days"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
         datediff('day',
           CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS gap_days
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q98_zorder_key", (s, d) => {
      // Z-order clustering key: morton-interleave (custkey, price/32)
      // so one sort key localizes BOTH dimensions for min/max file
      // skipping. Pure shift/mask bit algebra — the DuckDB oracle
      // recomputes every code; RangeLayoutSpec measures the actual pruning
      // win (files overlapping a 2D predicate box, z-layout vs
      // single-column sort).
      val o = orders(s, d)
      o.select(col("o_orderkey"),
          graft.ops.ZOrder.mortonKey(
            col("o_custkey"),
            floor(col("o_totalprice") / lit(32.0)).cast("long"),
            bits = 16).as("zkey"))
        .orderBy(col("o_orderkey"))
    },
      // q98: the identical mask-ladder bit algebra, spelled in SQL.
      """WITH q AS (SELECT o_orderkey,
           o_custkey & 65535 AS x,
           CAST(floor(o_totalprice / 32.0) AS BIGINT) & 65535 AS y
           FROM orders),
         s AS (SELECT o_orderkey,
           ((x | (x << 8)) & 16711935) AS x1, ((y | (y << 8)) & 16711935) AS y1
           FROM q),
         t AS (SELECT o_orderkey,
           ((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2
           FROM s),
         u AS (SELECT o_orderkey,
           ((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3
           FROM t),
         v AS (SELECT o_orderkey,
           ((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4
           FROM u)
         SELECT o_orderkey, x4 | (y4 << 1) AS zkey FROM v ORDER BY o_orderkey"""),

    // ---- set ops (§2.6) -------------------------------------------
    QuerySpec("q12_setops", (s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      val buildersKeys = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bigBal = c.where(col("c_acctbal") > 5000).select(col("c_custkey"))
      val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
      buildersKeys.intersect(bigBal).except(noOrders).orderBy(col("c_custkey"))
    },
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         EXCEPT
         SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    QuerySpec("q13_rollup", (s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
         sum(CAST(round_even(l_quantity*100, 0) AS BIGINT)) / 100.0 AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
  )
}
