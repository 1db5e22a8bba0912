package graft

import graft.core.Tables._
import graft.functions.{IsoDurationSeconds, TextFunctions, TimeFunctions}
import graft.functions.VectorFunctions._
import graft.ops.{Dedup, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver contract: the declared operator inventory (SURVEY.md §2), one
  * query per operator, each with a DuckDB-equivalent oracle SQL.
  *
  * Determinism rules used throughout (so driver hash-compare is exact):
  *  - money/measure sums go through `decimal` so the sum is exact and
  *    order-independent, then cast back to double;
  *  - every query ends in an ORDER BY on a unique key;
  *  - column names are identical between Spark and oracle SQL.
  */
object SparkEntry {

  /** Exact, order-independent sum of a double column: snap each value
    * onto the 1e-4 grid as a LONG (`rint` = IEEE half-even; the data is
    * grid-exact so this equals the old per-row decimal HALF_UP path —
    * DuckDB mirror is `round_even(x*10000, 0)`), sum plain longs, emit
    * double. The previous `round(c,4).cast(decimal(20,4))` allocated
    * BigDecimals per input row and dominated whole aggregation queries
    * at scale (q01 at ~6M rows: 13s -> ~1s); the long sum is exact
    * integer math, map-side combinable, fully codegen. ANSI overflow
    * bound: |sum| < 9.2e18 unscaled, i.e. ~9e14 in value at 4dp — fine
    * past sf100 for this data, and it throws rather than wraps.
    */
  private def dsum(c: Column): Column =
    sum(rint(c * lit(10000.0)).cast("long")) / lit(10000.0)

  private def davg(c: Column): Column =
    sum(rint(c * lit(10000.0)).cast("long")) / lit(10000.0) / count(c)

  /** Grid-scaled long sum aggregate (1e-2 grid), pre-division — use
    * directly with `.over(w)` for window sums.
    */
  private def scaledSum2(c: Column): Column =
    sum(rint(c * lit(100.0)).cast("long"))

  /** dsum on the 1e-2 grid (2dp money columns). */
  private def dsum2(c: Column): Column = scaledSum2(c) / lit(100.0)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** Score-verification envelope for ANN top-k results (q51/q60): the
    * queries are corpus vectors and the corpus holds no duplicate or
    * parallel embeddings (max off-diagonal cosine ~0.42 at every SF),
    * so the query's own vector is the unique cosine-1.0 maximum AND is
    * guaranteed to be a candidate (identical vectors share an LSH
    * bucket / coarse-centroid assignment by construction) — top-1 MUST
    * be self at score 1.0, both exact values the DuckDB oracle
    * recomputes. Every returned score is re-verified through an
    * independent join back to the embeddings table (checks id->score
    * attribution, not just monotonicity), and rank/distinctness/order
    * invariants are booleans the oracle pins TRUE. Recall floors
    * (probabilistic, data-shape-dependent) stay asserted in OpsSpec —
    * the envelope pins soundness.
    */
  /** Per-label soundness envelope for near-dup pair results (q67/q68):
    * every emitted pair re-verified against the raw embeddings table —
    * ordered, distinct, exact cosine >= threshold (the zero-false-
    * positive claim as an oracle row). Labels with no pairs still emit
    * a row (left join + coalesce), so the row set is exactly the
    * DuckDB-mirrorable label domain. Completeness is probabilistic by
    * design (LSH recall); the floors stay asserted in OpsSpec/PlansSpec.
    */
  /** Plane count for the LSH near-dup queries, tracking corpus size:
    * with a FIXED plane count, growing the corpus 10x grows every
    * bucket 10x and in-bucket candidate pairs 100x — the quadratic
    * creep the operator doc warns about. One extra plane per corpus
    * doubling keeps expected bucket size (and so per-row candidate
    * cost) constant; floors at 6 so every correctness-gate SF keeps the
    * exact plane count its oracle rows were pinned with.
    */
  private def adaptivePlanes(nRows: Long, targetBucket: Double = 250.0): Int =
    // max(1, n): an empty corpus must floor to 6 planes, not feed
    // log(0) = -Inf into the ceil.
    math.max(6, math.ceil(
      math.log(math.max(1L, nRows).toDouble / targetBucket) / math.log(2.0)).toInt)

  /** BM25 top-k for the fixed bench query terms (q70, and q72's sparse
    * half — one definition so the two cannot desynchronize): per-term
    * scores snap onto a 1e-6 grid and sum as exact longs
    * (order-independent across engines; a raw double sum would be
    * FP-order-dependent), top-k on the grid sum with id tie-break.
    * orderBy+limit plans as TakeOrderedAndProject (bounded per-partition
    * heaps); rank attribution is windowed AFTER the limit, over only the
    * k surviving rows — a no-partition Window over the full matched set
    * would single-partition-sort the corpus (PlansSpec asserts the
    * TakeOrderedAndProject shape). Columns: (id, score_g, rank).
    */
  private def bm25GridRanks(docs: DataFrame, k: Int): DataFrame = {
    val post = graft.ops.Lexical.bm25Postings(docs, "text", "doc_id")
    post.where(col("term").isin("join", "hash", "filter", "scan", "merge"))
      .groupBy(col("id"))
      .agg((sum(rint(col("score") * lit(1000000.0)).cast("long")) / lit(1000000.0))
        .as("score_g"))
      .orderBy(col("score_g").desc, col("id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_g").desc, col("id"))))
  }

  /** DuckDB mirror of [[bm25GridRanks]] up to the grid-summed
    * aggregate — shared CTE text for the q70 and q72 oracles.
    */
  private val bm25OracleCtes: String =
    """toks AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '')) AS term FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS n_docs, sum(dl)*1.0/count(*) AS avgdl FROM dl),
         sc AS (SELECT tf.doc_id, tf.term,
            ln(1 + (st.n_docs - dfr.df + 0.5)/(dfr.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/st.avgdl)) AS score
          FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         agg AS (SELECT doc_id,
            sum(CAST(round_even(score*1000000, 0) AS BIGINT))/1000000.0 AS score_g
          FROM sc WHERE term IN ('join','hash','filter','scan','merge')
          GROUP BY doc_id)"""

  /** Prefix-filtered EXACT Jaccard pair CTE chain for oracle SQL —
    * the AllPairs/PPJoin theorem applied inside DuckDB so the oracle's
    * own cost is candidates, not all-pairs (the naive self-join form
    * was ~n² list intersections: 131s for one sf0.1 query, unbounded
    * at larger replays). EXACTNESS is unchanged: candidates are
    * complete under DuckDB's OWN lexicographic list_sort order (any
    * fixed total order satisfies the published prefix theorem — the
    * engine under test uses a different order and a different engine),
    * and every emitted pair still carries the fully recomputed
    * Jaccard; the final `jac >= t` filter is identical to the naive
    * form's. Empty shingle sets drop (their pairs have J = 0 < t).
    *
    * Expects a prior CTE `src`(id, text); yields `pv`(id_a, id_b, jac)
    * with id_a < id_b covering every pair that can reach `t`.
    * Internal CTE names are `pfx`-prefixed to stay collision-free.
    */
  private def jaccardPrefixSelfCtes(src: String, t: Double): String =
    s"""pfxtoks AS (SELECT id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM $src),
         pfxsh AS (SELECT id,
           list_sort(list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
             i -> array_to_string(t[i:i+2], ' ')))) AS sh FROM pfxtoks),
         pfxsz AS (SELECT id, sh, len(sh) AS sz FROM pfxsh WHERE len(sh) > 0),
         pfxpref AS (SELECT id, sz,
           unnest(sh[1 : CAST(sz - ceil($t*sz - 1e-9) + 1 AS INT)]) AS tok FROM pfxsz),
         pfxcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM pfxpref a JOIN pfxpref b ON a.tok = b.tok AND a.id < b.id
           WHERE least(a.sz, b.sz) >= $t*greatest(a.sz, b.sz) - 1e-9),
         pv AS (SELECT id_a, id_b,
           len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
           FROM pfxcand JOIN pfxsz a ON a.id = id_a JOIN pfxsz b ON b.id = id_b)"""

  /** Cross-relation (R-S) variant of [[jaccardPrefixSelfCtes]]:
    * expects CTEs `lsrc`(id, text) and `rsrc`(id, text); yields
    * `pv`(id_l, id_r, jac) covering every cross pair that can reach
    * `t` (the prefix theorem holds for any pair under one global
    * order regardless of which relation each side comes from).
    */
  private def jaccardPrefixRsCtes(lsrc: String, rsrc: String, t: Double): String = {
    def side(tag: String, src: String): String =
      s"""pfx${tag}toks AS (SELECT id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM $src),
         pfx${tag}sh AS (SELECT id,
           list_sort(list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
             i -> array_to_string(t[i:i+2], ' ')))) AS sh FROM pfx${tag}toks),
         pfx${tag}sz AS (SELECT id, sh, len(sh) AS sz FROM pfx${tag}sh WHERE len(sh) > 0),
         pfx${tag}pref AS (SELECT id, sz,
           unnest(sh[1 : CAST(sz - ceil($t*sz - 1e-9) + 1 AS INT)]) AS tok FROM pfx${tag}sz)"""
    s"""${side("l", lsrc)},
         ${side("r", rsrc)},
         pfxcand AS (SELECT DISTINCT l.id AS id_l, r.id AS id_r
           FROM pfxlpref l JOIN pfxrpref r ON l.tok = r.tok
           WHERE least(l.sz, r.sz) >= $t*greatest(l.sz, r.sz) - 1e-9),
         pv AS (SELECT id_l, id_r,
           len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
           FROM pfxcand JOIN pfxlsz a ON a.id = id_l JOIN pfxrsz b ON b.id = id_r)"""
  }

  private def pairSoundnessEnvelope(
      emb: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    val ver = pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("label")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .withColumn("re_cos", vecCosine(col("emb_a"), col("emb_b")))
    val perLabel = ver.groupBy(col("label"))
      .agg(every(col("id_a") < col("id_b")).as("ordered_raw"),
        (count_distinct(struct(col("id_a"), col("id_b"))) === count(lit(1)))
          .as("distinct_raw"),
        every(col("re_cos") >= lit(threshold)).as("threshold_raw"))
    // corpus_has_pairs pins >= 1 emitted pair on the gate corpora (59
    // true pairs at 0.4; recall floors in OpsSpec guarantee some are
    // found) — without it a total recall collapse would pass every
    // per-label boolean vacuously through the coalesce(TRUE) arm.
    val total = pairs.agg((count(lit(1)) > 0).as("has_pairs_raw"))
    emb.select(col("label")).distinct()
      .join(perLabel, Seq("label"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("label"),
        coalesce(col("ordered_raw"), lit(true)).as("pairs_ordered"),
        coalesce(col("distinct_raw"), lit(true)).as("pairs_distinct"),
        coalesce(col("threshold_raw"), lit(true)).as("threshold_ok"),
        col("has_pairs_raw").as("corpus_has_pairs"))
      .orderBy(col("label"))
  }

  private def annEnvelope(result: DataFrame, emb: DataFrame): DataFrame = {
    val byRank = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    val ver = result
      .withColumn("prev_score", lag(col("score"), 1).over(byRank))
      .join(emb.select(col("vec_id"), col("embedding").as("r_emb")), "vec_id")
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .withColumn("rescore", vecCosine(col("r_emb"), col("q_emb")))
    ver.groupBy(col("q_id"))
      .agg(
        min_by(col("vec_id"), col("rank")).as("top1_vec_id"),
        round(min_by(col("score"), col("rank")), 4).as("top1_score"),
        every(abs(col("score") - col("rescore")) < lit(1e-9)).as("scores_exact"),
        (max(col("rank")) === count(lit(1)) && min(col("rank")) === lit(1) &&
          count_distinct(col("rank")) === count(lit(1))).as("ranks_contiguous"),
        (count_distinct(col("vec_id")) === count(lit(1))).as("ids_distinct"),
        every(col("prev_score").isNull || col("prev_score") >= col("score"))
          .as("scores_desc"))
      .orderBy(col("q_id"))
  }

  /** The rows Bench and Verify run, in name order: every row, or only
    * the comma-separated names in `SPARK_GRAFT_ONLY` when it is set.
    */
  def suite(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations (A1-A6) --------------------------------------
    "q01_agg_pricing" -> ((s, d) => {
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
    }),
    "q07_string_agg" -> ((s, d) => {
      // A1 GROUP_CONCAT with canonical sorted order.
      val n = nation(s, d); val r = region(s, d)
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_regionkey"), col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy(col("r_regionkey"))
    }),
    "q08_distinct" -> ((s, d) =>
      // A2/O4: sorted distinct list.
      customer(s, d).select(col("c_mktsegment")).where(col("c_mktsegment").isNotNull)
        .distinct().orderBy(col("c_mktsegment"))),
    "q09_explode_having" -> ((s, d) => {
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
    }),

    // ---- projections / filters (P1-P10) ----------------------------
    "q02_filter_range" -> ((s, d) =>
      // P1/P2/P4: projection + numeric and timestamp-range predicates;
      // pushed to the parquet scan.
      lineitem(s, d)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
               col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
               col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q37_filter_compiler" -> ((s, d) => {
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
    }),

    // ---- joins (J1-J7) ---------------------------------------------
    "q03_join_revenue" -> ((s, d) => {
      // J1 star join (dims broadcast) + grouped revenue.
      val o = orders(s, d); val c = customer(s, d); val n = nation(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),
    "q04_left_join_counts" -> ((s, d) => {
      // J2 left outer: customers with zero orders kept.
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),
    "q05_semi_join" -> ((s, d) => {
      // J6-style semi join: customers having >= 1 urgent order.
      val c = customer(s, d)
      val urgent = orders(s, d).where(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q06_anti_join" -> ((s, d) => {
      // J4 set-difference via anti join: customers with no orders.
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
    "q40_composite_anti" -> ((s, d) => {
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
    }),

    // ---- sorts / top-k / windows (O1-O5) ---------------------------
    "q11_topk_orders" -> ((s, d) =>
      // O2-lite: global top-k -> TakeOrderedAndProject, no full sort.
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),
    "q10_window_topk" -> ((s, d) => {
      // O2 keep-best-per-key via row_number (NOT dropDuplicates).
      val c = customer(s, d); val o = orders(s, d)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),
    "q41_window_running" -> ((s, d) => {
      // Window frame surface: per-customer running order total.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .withColumn("running_total", scaledSum2(col("o_totalprice")).over(w) / lit(100.0))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),
    "q42_lag_lead" -> ((s, d) => {
      // lag/lead surface: gap in days between consecutive orders per customer.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")))
        .select(col("o_custkey"), col("o_orderkey"), col("gap_days"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- set ops (§2.6) --------------------------------------------
    "q12_setops" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      val buildersKeys = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bigBal = c.where(col("c_acctbal") > 5000).select(col("c_custkey"))
      val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
      buildersKeys.intersect(bigBal).except(noOrders).orderBy(col("c_custkey"))
    }),
    "q13_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- scalar functions (F1-F20) ---------------------------------
    "q14_month_partition" -> ((s, d) =>
      // F6 year/month partition derivation over order dates.
      orders(s, d)
        .withColumn("epoch", unix_timestamp(col("o_orderdate")))
        .select(TimeFunctions.partitionYear(col("epoch")).as("year"),
          TimeFunctions.partitionMonth(col("epoch")).as("month"))
        .groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("year"), col("month"))),
    "q15_duration_format" -> ((s, d) =>
      // F5 h:mm:ss render (value treated as seconds).
      events(s, d)
        .select(col("event_id"), TimeFunctions.hms(col("value")).as("hms"))
        .orderBy(col("event_id"))),
    "q17_url_build" -> ((s, d) =>
      // F7: timestamp buffer + watch URL assembly.
      events(s, d)
        .withColumn("t", (floor(col("value")) + 10).cast("long"))
        .select(col("event_id"),
          concat(lit("https://www.youtube.com/watch?v=u"), col("user_id"),
            lit("&t="), col("t"), lit("s")).as("url"))
        .orderBy(col("event_id"))),
    "q18_epoch_convert" -> ((s, d) =>
      // F1/F2: timestamp -> epoch seconds (floor semantics).
      events(s, d)
        .select(col("event_id"), unix_timestamp(col("ts")).as("epoch"))
        .orderBy(col("event_id"))),
    "q19_json_default" -> ((s, d) =>
      // F19 + JSON access: extract props.k with default 0.
      events(s, d)
        .select(col("event_id"),
          coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L)).as("k"))
        .orderBy(col("event_id"))),
    "q20_chunk_explode" -> ((s, d) =>
      // S6/F18: duration -> per-chunk rows (explode(sequence)).
      // n_chunks >= 1 guard: a non-positive duration has ZERO chunks,
      // but sequence(0, -1) steps BACKWARD and emits [0, -1] — two
      // phantom rows per such event (DuckDB's generate_series(0,-1) is
      // empty). Invisible at sf0.01 (no non-positive values there);
      // caught by the sf0.1 strict replay.
      events(s, d)
        .withColumn("n_chunks",
          TimeFunctions.chunkCount(col("value") * 100, 7200))
        .where(col("n_chunks") >= 1)
        .select(col("event_id"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .withColumn("chunk_start", col("chunk_idx") * 7200)
        .orderBy(col("event_id"), col("chunk_idx"))),
    "q16_clean_text" -> ((s, d) =>
      // F8/F13 cleaning chain over documents.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.cleanTextChunk(
            concat(lit("  >> "), col("text"), lit(" [Music] ​"))).as("cleaned"))
        .orderBy(col("doc_id"))),

    // ---- streaming-shaped windows over events (§2.9) ---------------
    "q21_tumbling_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))),
    "q22_sliding_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("n"))
        .orderBy(col("window_start"))),

    // ---- dedup / text-analysis extensions (§2.11) ------------------
    "q24_dedup_exact" -> ((s, d) =>
      Dedup.exact(documents(s, d), "text", "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),
    "q31_token_count" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_computed"))
        .orderBy(col("doc_id"))),
    "q32_lang_stats" -> ((s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")) / count(lit(1))).cast("double").as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))),
    "q33_quality_score" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.meanWordLength(col("text")).as("mean_word_len"))
        .withColumn("punct_ratio", round(col("punct_ratio"), 4))
        .withColumn("mean_word_len", round(col("mean_word_len"), 4))
        .orderBy(col("doc_id"))),
    "q34_stopword_ratio" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.stopwordRatio(col("text")), 4).as("stopword_ratio"))
        .orderBy(col("doc_id"))),

    // ---- vector similarity (O5 + extension) ------------------------
    "q28_cosine_topk" -> ((s, d) => {
      // Single-query top-k with the query vector supplied as a
      // broadcast 1-row join (no driver-side collection in the builder).
      val emb = embeddings(s, d)
      val qvec = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      emb.crossJoin(broadcast(qvec))
        .withColumn("score", vecCosine(col("embedding"), col("q_embedding")))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(100)
        .select(col("vec_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),
    "q29_cosine_topk_per_query" -> ((s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      graft.query.Retriever.neighbors(emb, queries, 5)
        .select(col("q_id"), col("vec_id"), round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ---- near-dedup verification (§2.11) ---------------------------
    "q23_near_dedup" -> ((s, d) =>
      // MinHash-LSH banded candidates verified by true trigram Jaccard —
      // the scale path (no all-pairs ever materializes). The oracle
      // computes exact all-pairs Jaccard >= 0.8. NOTE: agreement is
      // empirically gated per dataset, not semantically guaranteed —
      // 8x4 banding recall is ~0.985 for a pair at Jaccard exactly 0.8
      // and approaches 1 only as similarity -> 1. It holds here because
      // the generator's near-dup pairs all sit >= 0.9 (recall >= 0.9998)
      // and the gate re-confirms every round at both verify scales.
      Dedup.nearDuplicates(documents(s, d), "text", "doc_id", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    // ---- scalar functions: oracle rows for the unit-only set --------
    "q25_iso_duration" -> ((s, d) => {
      // F3 iso_duration_seconds (custom Catalyst Expression): build an
      // ISO-8601 duration string from the value column, parse it back.
      val t = floor(col("value")).cast("long")
      val h = (t / 3600).cast("long"); val m = ((t % 3600) / 60).cast("long")
      val sec = (t % 60).cast("long")
      events(s, d)
        .withColumn("dur", concat(lit("PT"), h.cast("string"), lit("H"),
          m.cast("string"), lit("M"), sec.cast("string"), lit("S")))
        .select(col("event_id"), col("dur"),
          IsoDurationSeconds.isoDurationSeconds(col("dur")).as("secs"))
        .orderBy(col("event_id"))
    }),
    "q26_epoch_parse" -> ((s, d) =>
      // F1/F2: ISO `...Z` string -> epoch seconds; unparsable -> 0.
      events(s, d)
        .withColumn("iso", when(col("event_id") % 10 === 0, lit("not-a-date"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")))
        .select(col("event_id"),
          TimeFunctions.isoToEpoch(col("iso")).as("epoch_parsed"))
        .orderBy(col("event_id"))),
    "q27_format_duration" -> ((s, d) =>
      // F4 format_duration pluralized H/M/S render (integer seconds so
      // the %.2f render is cross-engine exact).
      events(s, d)
        .select(col("event_id"),
          TimeFunctions.formatDuration(floor(col("value")).cast("long").cast("double"))
            .as("formatted"))
        .orderBy(col("event_id"))),
    "q35_llm_clean" -> ((s, d) =>
      // F9/F10: strip LLM preamble/think markers, CHUNK tags, smart quotes.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.cleanLlmResponse(
            concat(lit("<think>deliberating</think>Here is the cleaned chunk: <CHUNK>"),
              col("text"), lit("</CHUNK>"))).as("cleaned"))
        .orderBy(col("doc_id"))),
    "q36_like_escape" -> ((s, d) =>
      // P6/F12: LIKE-wildcard escaping.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.escapeLikeWildcards(concat(col("source"), lit("_pct%")))
            .as("escaped"))
        .orderBy(col("doc_id"))),
    "q38_hosts_roundtrip" -> ((s, d) => {
      // F11: comma-string <-> array round trip with ''/null -> [] guard.
      val hostsStr = when(col("doc_id") % 7 === 0, lit(""))
        .otherwise(concat_ws(",", col("source"), col("lang")))
      documents(s, d)
        .withColumn("hosts_str", hostsStr)
        .select(col("doc_id"),
          size(TextFunctions.splitHosts(col("hosts_str"))).as("n_hosts"),
          TextFunctions.joinHosts(TextFunctions.splitHosts(col("hosts_str"))).as("rejoined"))
        .orderBy(col("doc_id"))
    }),
    "q39_record_json" -> ((s, d) =>
      // F15 record -> JSON string + F14 brace escaping for templating.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.escapeBraces(
            to_json(struct(col("doc_id"), col("source"), col("lang")))).as("rec"))
        .orderBy(col("doc_id"))),
    "q43_subword_upper" -> ((s, d) =>
      // §2.11 text analysis: subword (BPE-ish) count + uppercase ratio.
      documents(s, d)
        .withColumn("mixed", concat_ws(" ", upper(col("source")), col("text")))
        .select(col("doc_id"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"),
          round(TextAnalysis.uppercaseRatio(col("mixed")), 4).as("upper_ratio"))
        .orderBy(col("doc_id"))),
    "q44_langid_quality" -> ((s, d) =>
      // §2.11: stopword-vote language ID + composite quality score.
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),
    "q45_fingerprint" -> ((s, d) =>
      // §2.11: polynomial rolling-hash fingerprint (11-char prefix so the
      // DuckDB BIGINT mirror cannot overflow; full-text form is the same
      // fold and stays unit-tested).
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.rollingHashFingerprint(substring(col("text"), 1, 11)).as("fp"))
        .orderBy(col("doc_id"))),

    // ---- ETL catalog + citation path (SURVEY §3.1/§3.3) -------------
    "q46_catalog" -> ((s, d) => {
      // J1+J2+A1 catalog query as a composed unit over the star schema:
      // orders (facts) ⋈ customer (dim) ⟕ lineitem (bridge) ⟕ part (attr).
      val o = orders(s, d).where(col("o_orderkey") < 320)
      graft.catalog.CatalogQueries.catalog(
        o, customer(s, d), lineitem(s, d), part(s, d),
        "o_orderkey", "o_custkey", "c_custkey", "c_name",
        "l_orderkey", "l_partkey", "p_partkey", "p_name")
        .orderBy(col("o_orderkey"))
    }),
    "q47_citations" -> ((s, d) => {
      // J7 (two independent semi-joins, bug-for-bug) + A4 (sorted cited
      // timestamp set per id) over the events table.
      val e = events(s, d)
      val retrieved = e.where(col("event_type") === "click")
        .select(col("user_id"), floor(col("value")).cast("int").as("t"))
      val cited = e.where(col("event_type") === "purchase")
        .select(col("user_id"), floor(col("value")).cast("int").as("t"))
      val docs = graft.query.Citations.citedDocuments(retrieved, cited, "user_id", "t")
      graft.query.Citations.groupCitations(docs, "user_id", "t")
        .select(col("user_id"),
          array_join(col("timestamps"), ",").as("cited_ts"), col("n_cites"))
        .orderBy(col("user_id"))
    }),
    "q48_prompt" -> ((s, d) =>
      // F20 prompt assembly (metadata + chunk -> prompt column).
      documents(s, d)
        .select(col("doc_id"),
          format_string("System: You clean transcript chunks.\nShow: %s\nHosts: %s\n---\n%s",
            col("source"), col("lang"), col("text")).as("prompt"))
        .orderBy(col("doc_id"))),

    // ---- multimodal binary columns (builder brief) ------------------
    "q49_binary_sniff" -> ((s, d) =>
      // Opaque binary column plumbing: byte length + magic-prefix hex.
      documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          hex(substring(col("payload"), 1, 4)).as("magic"))
        .orderBy(col("doc_id"))),

    "q61_length_histogram" -> ((s, d) =>
      // §2.11 text analysis: document length histogram (100-char buckets).
      documents(s, d)
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")) / count(lit(1))).cast("double").as("avg_chars"))
        .orderBy(col("bucket"))),
    "q59_embedding_dedup" -> ((s, d) =>
      // Embedding-cosine near-dup pairs blocked by label (exact within
      // block; LSH buckets replace the block at corpus scale).
      Dedup.embeddingNearDuplicates(embeddings(s, d), "embedding", "vec_id", "label", 0.4)
        .orderBy(col("id_a"), col("id_b"))),
    "q55_session_window" -> ((s, d) => {
      // §2.9 session windows: per-user gap-merged sessions (10-minute
      // inactivity closes a session). The driver-generated events table
      // holds no event pair at exactly gap distance, so the raw table
      // alone never exercises merge-on-touching (Spark session_window
      // windows are [ts, ts+gap) and TOUCHING windows merge). Derive
      // one touching pair per user IN the query — an event at exactly
      // max(ts) + gap — so this oracle row itself pins the >= / > seam
      // at every SF (q73 pins it with an inline fixture as well): a
      // strict-> regression in either engine's decomposition moves the
      // last session's count and fails the hash gate.
      val e = events(s, d).select(col("user_id"), col("ts"))
      val touching = e.groupBy(col("user_id"))
        .agg((max(col("ts")) + expr("INTERVAL 10 MINUTES")).as("ts"))
      e.unionByName(touching)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "q56_cube" -> ((s, d) =>
      // Grouping-sets surface: CUBE over returnflag x linestatus.
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "q57_percentile" -> ((s, d) =>
      // Exact interpolated percentiles per group.
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"))
        .orderBy(col("o_orderpriority"))),
    "q58_asof_join" -> ((s, d) => {
      // As-of join: latest purchase at-or-before each click, per user —
      // union+window composition (one shuffle, no range cross join).
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      graft.ops.AsOfJoin.asofMatchedTs(clicks, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("matched_ts"))
        .orderBy(col("event_id"))
    }),
    "q54_format_sniff" -> ((s, d) => {
      // Multimodal: magic-byte format sniff over constructed binary
      // payloads (png/jpeg prefixes spliced onto text bytes).
      val pngPrefix = lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
      val jpegPrefix = lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte))
      documents(s, d)
        .withColumn("payload",
          when(col("doc_id") % 3 === 0, concat(pngPrefix, col("text").cast("binary")))
            .when(col("doc_id") % 3 === 1, concat(jpegPrefix, col("text").cast("binary")))
            .otherwise(col("text").cast("binary")))
        .select(col("doc_id"),
          graft.multimodal.MultiModal.sniffFormat(col("payload")).as("format"),
          length(col("payload")).as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ---- rows-only entries (not SQL-expressible: hash fns / typed
    //      flatMap; driver records the weaker rows>0 check) ------------
    "q30_minhash_pairs" -> ((s, d) => {
      // Candidate-generation completeness as an oracle row: the EXACT
      // prefix-filter join (deterministic, complete — Dedup.
      // jaccardJoinExact) computes every true >= 0.8 pair and its
      // Jaccard value (both DuckDB-recomputable), and each pair is
      // flagged `covered` iff the MinHash-LSH candidate generator also
      // produced it. The oracle recomputes the pairs + values and pins
      // covered TRUE — banding recall on this corpus is empirically
      // total (same caveat as q23: guaranteed-in-distribution, not in
      // adversarial worst case; see the q23 note).
      val docs = documents(s, d)
      val exact = Dedup.jaccardJoinExact(docs, "text", "doc_id", 0.8)
      val cands = Dedup.minhashCandidates(docs, "text", "doc_id")
        .withColumn("cand", lit(true))
      exact.join(cands, Seq("id_a", "id_b"), "left_outer")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"),
          coalesce(col("cand"), lit(false)).as("covered"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q50_simhash" -> ((s, d) => {
      // §2.11 document fingerprinting: 64-bit SimHash per document,
      // FULL-VALUE oracle. The production tokenizer hashes tokens with
      // xxhash64 (no DuckDB mirror — that made this row the suite's one
      // no-oracle entry through r5); here the SAME native vote-loop
      // expression (SimHash64Expr — the operator under test) runs over
      // md5-derived 60-bit token hashes, which DuckDB recomputes
      // exactly: per bit j, set iff 2*sum(bit_j) > n_tokens (ties
      // clear). The xxhash64-hash production path stays pinned by
      // q62/q65's banding envelopes and the FunctionsSpec vote-loop
      // goldens; empty docs fingerprint to 0 on both engines.
      val toks = filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")
      val hashes = transform(toks,
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.SimHashOps.simhash64FromHashes(hashes).as("simhash"),
          size(toks).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q62_simhash_pairs" -> ((s, d) => {
      // SimHash banded near-dup, verified against the in-engine
      // brute-force all-pairs Hamming join over the SAME
      // engine-computed simhashes (cheap at gate scale; an explicitly
      // labeled oracle form, like q30/q64). The simhash values have no
      // DuckDB mirror, so the output is the corpus-level envelope:
      // recomputable doc count + agreement booleans DuckDB pins TRUE.
      // The reference's distance is written bit_count(~(a^b)) >= 61
      // (same predicate as bit_count(a^b) <= 3) so HammingBandJoinRule
      // — always-on once q65 registers it on the shared session —
      // cannot re-plan the REFERENCE into the very banding it
      // verifies.
      // The quadratic reference is bounded to a deterministic
      // sub-corpus (doc_id < 5000): complete coverage of every
      // correctness-gate SF and the per-round bench SF, while the
      // oracle form cannot go quadratic at the scaled bench inputs (an
      // UNbounded all-pairs reference would itself be the scale-killer
      // the operator exists to avoid). The banded side runs the real
      // full-corpus operator and is compared on the same sub-corpus
      // (pair membership is per-pair deterministic, so full-corpus
      // banding restricted to the subset equals subset banding).
      val cap = 5000L
      val docs = documents(s, d)
      val sh = docs.where(col("doc_id") < cap)
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      val bandedAll = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val banded = bandedAll
        .where(col("id_b") < cap) // id_a < id_b, so both ends are in the sub-corpus
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val brute = a.join(b,
          bit_count(bitwise_not(col("sh_a").bitwiseXOR(col("sh_b")))) >= lit(61) &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      // Full outer join of the two pair sets: equality = no side-only
      // rows. has_pairs guards the vacuous-empty arm (both gate SFs
      // have planted near-dup pairs).
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)), Seq("id_a", "id_b"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      // Distinctness pinned over the FULL corpus pairs: the set-equality
      // join above is blind to duplicate emission (a pair emitted once
      // per agreeing band entry would still match its brute counterpart),
      // so a broken first-agreeing-entry filter needs its own boolean.
      val dup = bandedAll.agg(
        (count_distinct(struct(col("id_a"), col("id_b"))) === count(lit(1)))
          .as("banded_distinct"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(cmp)).crossJoin(broadcast(dup))
    }),
    "q65_hamming_join_rule" -> ((s, d) => {
      // The DECLARATIVE Hamming join — a user writes bit_count(xor)<=3
      // against a nested-loop plan; HammingBandJoinRule re-plans it as
      // the banded equi-join (exact: pigeonhole recall + first-band
      // dedup). The envelope pins rule == hand-banded operator as an
      // oracle row (q62 pins operator == brute force, so the chain
      // reaches ground truth); the plan hard-assert keeps the rewrite
      // engaged at every scale the gate/bench runs.
      val docs = documents(s, d)
      val sh = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val viaRule = a.join(b, bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(3) &&
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val plan = viaRule.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "HammingBandJoinRule did not engage — declarative Hamming join would run all-pairs")
      val viaOp = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val cmp = viaRule.withColumn("in_rule", lit(1))
        .join(viaOp.withColumn("in_op", lit(1)), Seq("id_a", "id_b"), "full")
        .agg(
          coalesce(every(col("in_rule").isNotNull && col("in_op").isNotNull),
            lit(true)).as("rule_equals_operator"),
          (count(lit(1)) > 0).as("has_pairs"))
      // Exactly-once emission pinned separately — set equality alone
      // cannot see duplicated pairs (q62 pins the operator side).
      val dup = viaRule.agg(
        (count_distinct(struct(col("id_a"), col("id_b"))) === count(lit(1)))
          .as("rule_distinct"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(cmp)).crossJoin(broadcast(dup))
    }),
    "q51_lsh_ann" -> ((s, d) => {
      // LSH ANN through the score-verification envelope (see
      // [[annEnvelope]]): hash-derived buckets have no DuckDB mirror,
      // but self-is-top1 at 1.0 plus re-verified scores/ranks are
      // hard oracle rows.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      annEnvelope(Similarity.lshTopK(emb, qs, k = 5, numPlanes = 8), emb)
    }),
    "q52_ivf_assign" -> ((s, d) => {
      // IVF assignment through an argmax-verification envelope: the
      // centroid ids themselves are hash-picked (no DuckDB mirror),
      // but "every vector's assigned centroid beats all 15 others on
      // cosine (ties toward the lower id)" is a per-vector boolean the
      // oracle pins TRUE — verified by scoring ALL centroids per
      // vector, not by re-running the assignment's max_by.
      val emb = embeddings(s, d)
      val cents = Similarity.pickCentroids(emb, 16, "embedding", "vec_id")
      val assign = Similarity.ivfAssign(emb, nlist = 16, centroidsOpt = Some(cents))
        .withColumnRenamed("centroid_id", "assigned")
      val scored = emb.crossJoin(broadcast(cents))
        .withColumn("sim", vecCosine(col("embedding"), col("centroid_emb")))
        .select(col("vec_id"), col("centroid_id"), col("sim"))
      val w = Window.partitionBy(col("vec_id"))
      scored.join(assign, "vec_id")
        .withColumn("asim",
          max(when(col("centroid_id") === col("assigned"), col("sim"))).over(w))
        .groupBy(col("vec_id"))
        .agg(
          every(col("sim") < col("asim") ||
            (col("sim") === col("asim") && col("centroid_id") >= col("assigned")))
            .as("assigned_argmax"),
          (count(lit(1)) === lit(16)).as("scored_all_centroids"))
        .orderBy(col("vec_id"))
    }),
    "q64_ivf_exact" -> ((s, d) => {
      // IVF exactness property: probing EVERY list (nprobe == nlist)
      // must return exactly the brute-force top-k — which DuckDB can
      // compute — so the whole assign/probe/rank machinery gets a hard
      // oracle signal; q60 keeps the partial-probe (approximate) form.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopK(emb, qs, nlist = 16, nprobe = 16, k = 5)
        .select(col("q_id"), col("vec_id"), round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }),
    "q60_ivf_topk" -> ((s, d) => {
      // Partial-probe IVF through the score-verification envelope: a
      // corpus query's best centroid IS its own vector's assigned list
      // (same cosine, same tie-break), so self is always probed and
      // top-1 must be self at 1.0; q64 keeps the full-probe == brute
      // force hard-equality oracle.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      annEnvelope(Similarity.ivfTopK(emb, qs, nlist = 16, nprobe = 4, k = 5), emb)
    }),
    "q67_embedding_dedup_lsh" -> ((s, d) => {
      // Corpus-scale embedding near-dup (LSH sign-pattern blocking),
      // projected onto a per-label soundness envelope the oracle pins:
      // each emitted pair is re-verified against the raw embeddings
      // table (ordered, distinct, exact cosine >= threshold — the
      // zero-false-positive claim as an oracle row). Completeness is
      // probabilistic by design, so the recall floor stays asserted in
      // OpsSpec; q59 is the oracle-checked exact blocked form.
      val emb = embeddings(s, d)
      // Plane count sized from parquet footer metadata — query
      // construction must not launch a scan job (the eager count()
      // here was a round-4 finding).
      val pairs = Dedup.embeddingNearDuplicatesLsh(emb, "embedding", "vec_id",
        threshold = 0.4,
        numPlanes = adaptivePlanes(parquetRowCount(s, s"$d/embeddings.parquet")))
      pairSoundnessEnvelope(emb, pairs, 0.4)
    }),
    "q68_cosine_join_rule" -> ((s, d) => {
      // The DECLARATIVE cosine-threshold join: a user writes
      // vec_cosine(a, b) >= t against what would plan as a
      // BroadcastNestedLoopJoin; with the opt-in session knob,
      // CosineBandJoinRule re-plans it as the multi-probe bucketed
      // equi-join (q67's hand-built shape, derived automatically).
      // The knob is set on a child session (which carries the same
      // extensions) so it can never leak into any other query's
      // planning; the builder hard-asserts the nested loop is gone
      // before returning. Same per-label soundness envelope (and
      // oracle) as q67.
      val s2 = s.newSession()
      s2.conf.set("spark.graft.cosineJoin.rewrite", "true")
      val emb = embeddings(s2, d)
      s2.conf.set("spark.graft.cosineJoin.numPlanes",
        adaptivePlanes(parquetRowCount(s2, s"$d/embeddings.parquet")).toString)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      val pairs = a.join(b,
          vecCosine(col("emb_a"), col("emb_b")) >= lit(0.4) &&
          col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val plan = pairs.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "CosineBandJoinRule did not engage — declarative cosine join would run all-pairs")
      pairSoundnessEnvelope(emb, pairs, 0.4)
    }),
    "q69_jaccard_join_rule" -> ((s, d) => {
      // The DECLARATIVE Jaccard-threshold join: jaccard_sim(a, b) >= t
      // written against what would plan as a BroadcastNestedLoopJoin;
      // JaccardPrefixJoinRule (always-on — the rewrite is EXACT)
      // re-plans it as the prefix-filtered token equi-join. Because the
      // rewrite is exact this is a FULL-VALUE oracle row: DuckDB
      // recomputes the same pairs and Jaccard values from all-pairs.
      val sets = documents(s, d)
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
      val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val pairs = a.join(b,
          Dedup.jaccard(col("sh_a"), col("sh_b")) >= lit(0.8) &&
          col("id_a") < col("id_b"))
      val plan = pairs.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        "JaccardPrefixJoinRule did not engage — declarative jaccard join would run all-pairs")
      pairs
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q70_bm25" -> ((s, d) => {
      // Lexical retrieval (BM25): the keyword half of hybrid RAG
      // retrieval. Closed-form math over token counts, so this is a
      // full-value oracle row (grid-summed scores; see bm25GridRanks).
      bm25GridRanks(documents(s, d), 20)
        .select(col("id").as("doc_id"), round(col("score_g"), 4).as("score"), col("rank"))
        .orderBy(col("rank"))
    }),
    "q72_hybrid_rrf" -> ((s, d) => {
      // Hybrid retrieval capstone: dense cosine top-20 and sparse BM25
      // top-20 fused by reciprocal-rank fusion (Lexical.rrfFuse) —
      // rank-based, so the two incomparable score scales need no
      // calibration. Deterministic across engines: the dense list
      // ranks on the 4dp-rounded cosine (raw-double ordering could
      // flip near-ties on a last-ulp engine difference — Spark computes
      // sqrt(sa)*sqrt(sb), DuckDB sqrt(sa*sb)) with id tie-break, the
      // sparse list on exact grid sums, and each fused score is a sum
      // of at most two exact 1/(60+rank) doubles. The synthetic corpus
      // shares one id space between vec_id and doc_id.
      val emb = embeddings(s, d)
      val qvec = emb.where(col("vec_id") === 0).select(col("embedding").as("q_embedding"))
      // Dense top-20 via orderBy+limit (TakeOrderedAndProject), rank
      // windowed over the 20 survivors — same fix as bm25GridRanks.
      val dense = emb.crossJoin(broadcast(qvec))
        .withColumn("cos4", round(vecCosine(col("embedding"), col("q_embedding")), 4))
        .orderBy(col("cos4").desc, col("vec_id"))
        .limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cos4").desc, col("vec_id"))))
        .select(col("vec_id").as("id"), col("rank"))
      val sparse = bm25GridRanks(documents(s, d), 20)
        .select(col("id"), col("rank"))
      val wr = Window.orderBy(col("rrf_score").desc, col("id"))
      graft.ops.Lexical.rrfFuse(Seq(dense, sparse))
        .withColumn("rank", row_number().over(wr))
        .where(col("rank") <= 10)
        .select(col("id"), round(col("rrf_score"), 6).as("rrf"),
          col("n_lists"), col("rank"))
        .orderBy(col("rank"))
    }),
    "q71_approx_distinct" -> ((s, d) => {
      // Corpus vocabulary size per language via HyperLogLog — at
      // 100 TB the exact countDistinct shuffles every token, the HLL
      // sketch is the scale path (map-side mergeable, constant size).
      // The sketch value itself has no DuckDB mirror, so the envelope
      // emits the EXACT count (oracle-recomputable) plus a pinned
      // within-5%-relative-error boolean for the sketch (default rsd
      // 0.05; the fixed corpus makes the realized error deterministic).
      // KNOWN FRAGILITY (accepted): the pinned boolean couples to
      // Spark's HLL++ implementation — a Spark upgrade that changes the
      // sketch internals or default rsd could flip it on some lang
      // group with no code change here. If this row fails right after
      // an upgrade, suspect that coupling before hunting a regression.
      val toks = documents(s, d)
        .select(col("lang"), explode(graft.ops.Lexical.tokens(col("text"))).as("term"))
      toks.groupBy(col("lang"))
        .agg(countDistinct(col("term")).as("n_exact"),
          approx_count_distinct(col("term")).as("n_hll"))
        .select(col("lang"), col("n_exact"),
          (abs(col("n_hll") - col("n_exact")).cast("double") / col("n_exact") <= lit(0.05))
            .as("hll_within_5pct"))
        .orderBy(col("lang"))
    }),
    "q53_chunk_transcript" -> ((s, d) => {
      // G1 chunker inside the plan — through the SQL-surface Generator
      // (Spark plans a per-row Generate, no shuffle) — projected onto a
      // DuckDB-checkable invariant envelope per video: char totals and
      // the first chunk's start are EXACT cross-checks (the oracle
      // recomputes both from the raw documents), chunk-count bounds and
      // size/start/non-emptiness invariants are engine-computed
      // predicates the oracle pins to TRUE. Raw chunk-row equality
      // between this Generator and the typed flatMap is asserted in
      // SqlSurfaceSpec; chunk text content itself is covered by the
      // splitter goldens + property suites.
      val docs = documents(s, d)
      val transcripts = docs
        .groupBy(col("source"))
        .agg(array_sort(collect_list(struct(
          (col("doc_id").cast("double") * 10.0).as("start"),
          col("text").as("text"),
          lit(5.0).as("duration")))).as("snippets"))
        .select(col("source").as("video_id"), col("snippets"))
      val chunks = transcripts.select(col("video_id"),
        graft.chunk.ChunkTranscriptGen.chunkTranscriptGen(col("snippets"), 1000, 200))
      val cstats = chunks.groupBy(col("video_id"))
        .agg(count(lit(1)).as("n_chunks"),
          min(col("start")).as("min_chunk_start"),
          max(col("start")).as("max_chunk_start"),
          min(length(col("text"))).as("min_len"),
          max(length(col("text"))).as("max_len"))
      // Full-text length per video: each snippet contributes
      // len(trim(text)) + 1 (the appended join space).
      val dstats = docs.groupBy(col("source").as("video_id"))
        .agg(sum(length(trim(col("text"))) + 1).as("n_chars"),
          (min(col("doc_id")).cast("double") * 10.0).as("min_snip_start"),
          (max(col("doc_id")).cast("double") * 10.0).as("max_snip_start"))
      val lo = ceil(col("n_chars") / 1000.0).cast("long")
      val hi = (ceil(col("n_chars") / 800.0) + 1).cast("long")
      cstats.join(dstats, "video_id")
        .select(col("video_id"),
          col("n_chars").cast("long").as("n_chars"),
          lo.as("lo"), hi.as("hi"),
          // First chunk starts at char 0 => its start IS the first
          // snippet's start; all other chunk starts are >= it.
          col("min_chunk_start").as("min_start"),
          col("n_chunks").between(lo, hi).as("count_in_bounds"),
          (col("max_chunk_start") <= col("max_snip_start")).as("max_start_ok"),
          (col("min_len") > 0).as("nonempty_ok"),
          (col("max_len") <= 1000).as("max_len_ok"))
        .orderBy(col("video_id"))
    }),

    // ---- ETL enrichment merge (J3, right-wins) ----------------------
    "q66_enrich_merge" -> ((s, d) => {
      // J3: catalog row ∪ API metadata with right-wins on conflicting
      // columns (reference dict(video) | youtube_api_data[id]) — the
      // conflicting `lang` must come out as the API side's uppercase
      // value, and ids missing on the API side drop (inner).
      val docs = documents(s, d)
      val work = docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val api = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), upper(col("lang")).as("lang"),
          (col("n_chars") * 2).as("api_chars"))
      graft.etl.Extract.enrich(work, api, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"), col("api_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- structured LLM output (SURVEY §1.3: Pydantic -> from_json) --
    "q63_structured_output" -> ((s, d) => {
      // Schema-on-read parse of a raw LLM-answer column into the
      // AgentResponse struct: fenced/preamble responses recovered,
      // malformed JSON -> null fields, missing keys -> null fields.
      // Response strings are synthesized deterministically so the
      // DuckDB oracle builds byte-identical input.
      val id = col("doc_id").cast("string")
      val body = concat(
        lit("{\"query_response\": \"Answer "), id,
        lit("\", \"sources\": [{\"video_id\": \"v"), id,
        lit("\", \"start_time\": "), (col("doc_id") % 100).cast("string"),
        lit(".5}, {\"video_id\": \"w"), id, lit("\", \"start_time\": 0.25}]}"))
      val fenced = concat(
        lit("Let me think.\n```json\n{\"query_response\": \"Answer "), id,
        lit("\", \"sources\": [{\"video_id\": \"v"), id,
        lit("\", \"start_time\": "), (col("doc_id") % 100).cast("string"),
        lit(".5}]}\n```"))
      documents(s, d)
        .withColumn("resp",
          when(col("doc_id") % 7 === 0, lit("{\"query_response\": \"broken\", \"sources\": "))
            .when(col("doc_id") % 11 === 3, lit("{\"query_response\": \"no sources here\"}"))
            .when(col("doc_id") % 5 === 1, fenced)
            .otherwise(body))
        .withColumn("p", graft.query.StructuredOutput.parseAgentResponse(col("resp")))
        .select(col("doc_id"),
          col("p.query_response").as("query_response"),
          size(col("p.sources")).cast("long").as("n_sources"),
          get(col("p.sources"), lit(0)).getField("video_id").as("first_video"),
          get(col("p.sources"), lit(0)).getField("start_time").as("first_start"))
        .orderBy(col("doc_id"))
    }),
    "q73_session_boundary" -> ((s, _) => {
      // §2.9 session-window BOUNDARY pin. The driver-generated events
      // fixture holds no event pair at exactly gap distance, so q55's
      // oracle row never exercises the merge-on-touching semantics
      // (its documented caveat). This row builds the boundary inline:
      // user 1 fires at 0 / +10:00 (EXACTLY the gap — Spark
      // session_window windows are [ts, ts+gap) and TOUCHING windows
      // merge, so this pair is ONE session) / +30:00 (past the merged
      // window's end -> new session); user 2 at 0 / +10:01 (one second
      // past -> two sessions); user 3 at 0 / +09:59 (inside -> one).
      // The DuckDB oracle recomputes sessions with the strict->-break
      // decomposition, so a regression in either direction of the
      // >= / > boundary now fails the hash gate at every SF.
      import s.implicits._
      val fixture = Seq(
        (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
        (1L, "2024-01-01 00:30:00"),
        (2L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:10:01"),
        (3L, "2024-01-01 00:00:00"), (3L, "2024-01-01 00:09:59"))
        .toDF("user_id", "ts_s")
        .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
      fixture
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "q74_repetition" -> ((s, d) =>
      // §2.11 Gopher-style repetition quality filters (Rae et al.
      // 2021, A1.1): per-document top-bigram fraction and duplicate-
      // trigram fraction, flagged against the paper-shaped thresholds.
      // One-pass native expression per row — a per-document statistic
      // never shuffles the corpus at n-gram grain.
      documents(s, d)
        // Stats land in their own projection so each one-pass vector
        // is evaluated ONCE (CollapseProject keeps non-cheap exprs in
        // a separate Project rather than inlining them per reference;
        // the fused form cost ~2x in codegen without guaranteed CSE).
        .select(col("doc_id"),
          graft.ops.TextAnalysis.ngramRepetition(col("text"), 2).as("s2"),
          graft.ops.TextAnalysis.ngramRepetition(col("text"), 3).as("s3"))
        .select(col("doc_id"),
          round(when(col("s2").getItem(0) === 0, lit(0.0))
            .otherwise(col("s2").getItem(1).cast("double") / col("s2").getItem(0)), 4)
            .as("top2_frac"),
          round(when(col("s3").getItem(0) === 0, lit(0.0))
            .otherwise(col("s3").getItem(2).cast("double") / col("s3").getItem(0)), 4)
            .as("dup3_frac"),
          (when(col("s2").getItem(0) === 0, lit(0.0))
            .otherwise(col("s2").getItem(1).cast("double") / col("s2").getItem(0)) > 0.18 ||
            when(col("s3").getItem(0) === 0, lit(0.0))
              .otherwise(col("s3").getItem(2).cast("double") / col("s3").getItem(0)) > 0.30)
            .as("repetitive"))
        .orderBy(col("doc_id"))),
    "q75_stratified_split" -> ((s, d) =>
      // §2.11 deterministic train/val/test split: membership is a pure
      // function of md5(salt || doc_id), so it is reproducible across
      // engines (the oracle recomputes it), stable under corpus
      // appends, and uniform within every stratum with no per-stratum
      // pass. Cuts in 1/65536 units: 80% / 10% / 10%.
      documents(s, d)
        .withColumn("split", Sampling.assignSplit(col("doc_id"), "graft_v1",
          Seq("train" -> 52429, "val" -> 58982, "test" -> 65536)))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("split"))),
    "q76_ngram_topk" -> ((s, d) =>
      // §2.11 corpus-level n-gram heavy hitters: top-25 word bigrams.
      // Map-side partial agg at token grain + TakeOrderedAndProject —
      // no global sort, no single-partition Window.
      documents(s, d)
        .select(explode(TextAnalysis.ngrams(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(25)),
    "q77_approx_quantile" -> ((s, d) =>
      // §2.11 sketch-quantile envelope (q71's HLL pattern for order
      // statistics): the oracle recomputes the EXACT interpolated
      // median; the approx_percentile sketch value must land inside
      // the exact [q45, q55] band — the RANK-error bound the sketch
      // actually guarantees (accuracy 1000 => rank error <= 0.1%), so
      // the envelope is immune to value sparsity around the median
      // (approx returns a real element; exact interpolates, and in a
      // small group adjacent elements can sit >1% apart in VALUE).
      // KNOWN FRAGILITY (accepted, as q71): a Spark upgrade changing
      // the percentile sketch could flip the boolean with no code
      // change here; suspect that coupling before hunting a regression.
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_exact"),
          (expr("approx_percentile(o_totalprice, 0.5, 1000)")
            .between(expr("percentile(o_totalprice, 0.45)"),
              expr("percentile(o_totalprice, 0.55)"))).as("approx_rank_ok"))
        .orderBy(col("o_orderpriority"))),
    "q78_shard_packing" -> ((s, d) => {
      // §2.11 training-shard packing: exclusive prefix sum of n_chars
      // in doc_id order, 20k-char shards — computed with the
      // two-phase distributed scan (per-partition totals + broadcast
      // offsets), NOT a no-partition global Window; the oracle
      // recomputes the same assignment with the window form at gate
      // scale. Per-shard manifest: count, chars, id range.
      val docs = documents(s, d)
      val shards = graft.ops.Packing.assignShards(docs, "doc_id", "n_chars", 20000L)
      shards.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    }),
    "q79_decontamination" -> ((s, d) => {
      // §2.11 benchmark decontamination: docs with doc_id % 97 == 0
      // stand in for the eval benchmark; every remaining training doc
      // is flagged with its count of distinct eval-shared word
      // trigrams. Eval n-gram set broadcast; the corpus side is
      // map-only explode + hash probe.
      val docs = documents(s, d)
      val eval = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      graft.ops.Decontaminate.ngramOverlap(train, eval, "text", "doc_id", 3)
        .orderBy(col("doc_id"))
    }),
    "q80_incremental_dedup" -> ((s, d) => {
      // §2.11 incremental (R-S) dedup: docs with doc_id % 10 == 7 play
      // the incoming append batch; the rest are the standing corpus.
      // Exact cross-corpus prefix-filtered Jaccard join at 0.8; every
      // incoming doc is emitted with its best corpus match (0 when
      // clean) so the gate row count is batch-stable and the oracle
      // recomputes every value from all-pairs at gate scale.
      val docs = documents(s, d)
      val incoming = docs.filter(col("doc_id") % 10 === 7)
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val best = Dedup.jaccardJoinAgainst(incoming, corpus, "text", "doc_id", 0.8)
        .groupBy(col("id_in").as("doc_id"))
        .agg(round(max(col("jaccard")), 4).as("best_jaccard"))
      incoming.select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
          (coalesce(col("best_jaccard"), lit(0.0)) >= 0.8).as("is_dup"))
        .orderBy(col("doc_id"))
    }),
    "q81_span_dedup" -> ((s, d) =>
      // §2.11 cross-document repeated-span profile (exact-substring
      // dedup signal, Lee et al. 2021): 6-token spans hashed scan-side,
      // duplicated-span fraction per document. Shuffles only skinny
      // (hash, id, count) tuples; the 47 planted near-duplicate docs
      // in the fixture surface at dup_frac ~0.98 while organic docs
      // stay low — the bimodal shape the operator exists to find.
      graft.ops.SpanDedup.spanDedupStats(
          documents(s, d), "text", "doc_id", k = 6, minDocs = 2, flagFrac = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),
    "q82_lm_perplexity" -> ((s, d) => {
      // §2.11 CCNet-style statistical quality filter: add-1 smoothed
      // bigram LM trained on the corpus, every document scored by mean
      // negative log-prob under it (self-scoring — the model-fit use;
      // scoreDocs equally scores held-out text via its unseen path).
      // Per-bigram log-probs ride the 1e-6 grid as longs, so the
      // DuckDB oracle recomputes avg_nll bit-for-bit.
      val docs = documents(s, d)
      val lm = graft.ops.LanguageModel.bigramLm(docs, "text", alpha = 1.0)
      graft.ops.LanguageModel.scoreDocs(docs, lm, "text", "doc_id", alpha = 1.0)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q83_temperature_mixture" -> ((s, d) => {
      // §2.11 temperature-balanced language mixture (mC4/PaLM, T = 2,
      // constant corpus size): the dominant 'en' slice is downsampled
      // toward sqrt-proportions while minority languages hit the
      // keep-all cap — both branches of the rate formula on real skew.
      // Membership is the md5 16-bit draw, so DuckDB recomputes every
      // count exactly.
      val docs = documents(s, d)
      val cuts = graft.ops.Sampling.temperatureCuts(
        docs, "lang", temperature = 2.0, targetFraction = 1.0)
      val after = graft.ops.Sampling.temperatureSample(
          docs, "lang", col("doc_id"), "graft_mix_v1", cuts)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      cuts.join(after, cuts("source") === after("lang"), "left")
        .select(cuts("source").as("lang"), col("n_docs"), col("cut"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("lang"))
    }),
    "q84_dup_components" -> ((s, d) => {
      // §2.11 transitive duplicate grouping: near-dup similarity is not
      // transitive, so the pair relation (q30's exact >= 0.8 Jaccard
      // join) must be closed under connectivity before a keep/drop
      // decision — A~B and B~C must land A, B, C in ONE cluster or the
      // pipeline keeps two of the three. Iterative min-label
      // propagation (one partial-agg shuffle per round, rounds bounded
      // by cluster diameter ~2 for near-clique dup groups); every doc
      // gets its cluster id, size, and the canonical-survivor verdict.
      // The oracle recomputes the closure with a recursive CTE.
      val docs = documents(s, d)
      val pairs = Dedup.jaccardJoinExact(docs, "text", "doc_id", 0.8)
      graft.ops.Components.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .orderBy(col("doc_id"))
    }),
    "q85_pii_redaction" -> ((s, d) => {
      // §2.11 PII scrub: the synthetic corpus carries no organic PII,
      // so the fixture text is BUILT deterministically from customer
      // columns (emails from names, +CC-NNN-NNN-NNNN phones and
      // dotted-quad IPs from custkey arithmetic, each present only on
      // its own modulus so counts vary 0-2 per row and absent families
      // exercise the no-match path), then scrubbed with the portable
      // regex families — redaction and counts are map-only codegen'd
      // regexp built-ins, and the oracle rebuilds the same text and
      // mirrors the scrub with RE2.
      val c = customer(s, d)
      val key = col("c_custkey")
      val email1 = concat(lower(regexp_replace(col("c_name"), lit("#"), lit("."))),
        lit("@example.org"))
      val email2 = concat(lit("ops."), key.cast("string"), lit("@corp.example.com"))
      val phone = concat(lit("+"), (key % 89 + 1).cast("string"), lit("-"),
        (key * 7 % 900 + 100).cast("string"), lit("-"),
        (key * 13 % 900 + 100).cast("string"), lit("-"),
        (key * 31 % 9000 + 1000).cast("string"))
      val ip = concat(lit("10."), (key % 223).cast("string"), lit("."),
        (key * 3 % 256).cast("string"), lit("."),
        (key * 5 % 254 + 1).cast("string"))
      val raw = concat(lit("note for "), col("c_name"),
        lit(" segment "), col("c_mktsegment"),
        when(key % 2 === 0, concat(lit(" contact "), email1)).otherwise(lit("")),
        when(key % 3 === 0, concat(lit(" call "), phone)).otherwise(lit("")),
        when(key % 5 === 0, concat(lit(" host "), ip)).otherwise(lit("")),
        when(key % 7 === 0, concat(lit(" cc "), email2)).otherwise(lit("")))
      c.select(key.as("c_custkey"), raw.as("raw"))
        .select(col("c_custkey"),
          graft.ops.Pii.redactAll(col("raw")).as("redacted"),
          graft.ops.Pii.countEmails(col("raw")).as("n_emails"),
          graft.ops.Pii.countPhones(col("raw")).as("n_phones"),
          graft.ops.Pii.countIpv4(col("raw")).as("n_ips"))
        .orderBy(col("c_custkey"))
    }),
    "q86_quality_funnel" -> ((s, d) => {
      // §2.11 quality-filter funnel: ordered Gopher-style rules, every
      // dropped doc attributed to the FIRST rule it failed (so per-rule
      // counts sum to the drop total — the datasheet a pipeline
      // publishes). Verdicts are one map-only codegen'd projection with
      // integer-exact thresholds (cross-multiplied, no float ratios),
      // so the oracle pins every per-doc verdict.
      val docs = documents(s, d)
      graft.ops.QualityFilter.funnel(docs, "text", "doc_id",
          graft.ops.QualityFilter.gopherRules(col("text")))
        .orderBy(col("doc_id"))
    }),
    "q87_leakage_safe_split" -> ((s, d) => {
      // §2.11 leakage-safe split: train/val/test membership hashed on
      // the duplicate CLUSTER id (q84's transitive closure), not the
      // doc id — a near-duplicate pair split across train and test is
      // eval contamination, and the per-doc q75 split cannot rule it
      // out. `would_leak` marks the docs whose naive per-id draw lands
      // outside their cluster's split — the contamination this operator
      // removes (nonzero on this corpus; the oracle recomputes every
      // row from the recursive closure + md5 draws).
      val docs = documents(s, d)
      val pairs = Dedup.jaccardJoinExact(docs, "text", "doc_id", 0.8)
      graft.ops.Components.leakageSafeSplit(docs, "doc_id", pairs,
          "id_a", "id_b", "graft_v1",
          Seq("train" -> 52429, "val" -> 58982, "test" -> 65536))
        .orderBy(col("doc_id"))
    }),
    "q88_semantic_clusters" -> ((s, d) => {
      // §2.11 SemDeDup-style semantic dedup: duplicate clusters over
      // embedding-cosine pairs (q59's blocked exact form — the LSH
      // bucket replaces the block at corpus scale) closed under
      // connectivity, one canonical doc kept per semantic group. Same
      // closure operator as q84 on a completely different pair family;
      // the oracle recomputes pairs with list_cosine_similarity and
      // the closure with the recursive CTE.
      val emb = embeddings(s, d)
      val pairs = Dedup.embeddingNearDuplicates(emb, "embedding", "vec_id", "label", 0.4)
      graft.ops.Components.dedupClusters(emb, "vec_id", pairs, "id_a", "id_b")
        .orderBy(col("vec_id"))
    }),
    "q89_embedding_quantization" -> ((s, d) => {
      // §2.11 int8 embedding quantization (symmetric absmax, SQ8-style):
      // 4x storage/bandwidth on the vector store — at 100 TB the
      // difference between a scan-bound and a network-bound ANN
      // pipeline. Codes and scales are deterministic double arithmetic
      // (floats widen before any multiply; round is half-away-from-zero
      // in both engines), so the oracle recomputes every code exactly;
      // reconstruction quality is pinned via cosine(original,
      // reconstructed). Map-only — no shuffle before the output sort.
      // Each intermediate binds in its own projection (single eval).
      val e = embeddings(s, d)
      e.select(col("vec_id"), col("embedding"),
          graft.ops.Quantize.int8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("embedding"), col("scale"),
          graft.ops.Quantize.int8Codes(col("embedding"), col("scale")).as("codes"))
        .select(col("vec_id"), col("embedding"), col("scale"), col("codes"),
          graft.ops.Quantize.int8Reconstruct(col("codes"), col("scale")).as("recon"))
        // codes rendered as a comma-joined string: the gate's pandas
        // row-sort can't order raw array cells (unhashable ndarray);
        // the join is lossless for int8 codes so the check stays exact.
        .select(col("vec_id"),
          concat_ws(",", col("codes")).as("codes"), col("scale"),
          round(vecCosine(col("embedding"), col("recon")), 6).as("cos_recon"),
          (round(vecCosine(col("embedding"), col("recon")), 6) >= 0.999)
            .as("within_tol"))
        .orderBy(col("vec_id"))
    }),
    "q90_pq_exact" -> ((s, d) => {
      // Product quantization (Jégou 2011) in exact mode: ADC shortlist
      // covering the whole store + exact re-rank must return precisely
      // the brute-force cosine top-k — which DuckDB computes — so the
      // train/encode/LUT/ADC/shortlist/re-rank machinery gets a hard
      // full-value oracle (q64's pattern for IVF). q91 pins the
      // quantizer internals the oracle can't recompute.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      graft.ops.ProductQuantize.pqTopK(emb, qs, m = 4, ksub = 16, dim = 64,
          k = 5, shortlist = Int.MaxValue,
          codebooksOpt = Some(sharedPqCodebooks(s, d)))
        .select(col("q_id"), col("vec_id"), round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }),
    "q91_pq_encode" -> ((s, d) => {
      // PQ internals through the argmax/identity envelope (q52's
      // pattern): codebooks are k-means products with no DuckDB mirror,
      // but (a) "every assigned code is the L2 argmin over all 16 codes
      // in its subspace, ties toward the lower id" is verified by
      // scoring ALL codes per subvector independently of the encoder's
      // min_by, and (b) "the ADC table-sum equals the inner product of
      // the query with the vector's reconstruction" (algebraic
      // identity; 1e-9 covers double re-association only) is checked
      // for 5 corpus queries against every vector. Both are per-vector
      // booleans the oracle pins TRUE.
      //
      // COST CAP: the envelope deliberately re-scores every (vector,
      // code) pair both ways — 16x the production encode work (q90 is
      // the production path). Since the guarantee is PER-VECTOR, a
      // deterministic md5 sample (4/16 of vectors, same expression in
      // the DuckDB oracle) keeps the check non-vacuous for every
      // emitted row at 1/4 the verification cost; codebook TRAINING
      // still sees the full corpus, so the encoder under test is
      // unchanged. (r5 driver wall: 60s — the suite's single most
      // expensive row.)
      import graft.ops.ProductQuantize
      val emb = embeddings(s, d)
      val books = sharedPqCodebooks(s, d)
      val sampled = emb.where(substring(
        md5(concat(lit("q91s"), col("vec_id").cast("string"))), 1, 1)
        .isin("0", "1", "2", "3"))
      // Three consumers below (argmax check, ADC, reconstruction).
      val codes = graft.core.Caches.persistTracked(
        ProductQuantize.encode(sampled, books, m = 4, dim = 64))
      val sv = sampled.select(col("vec_id").as("id"),
          vecL2Normalize(col("embedding")).as("__u"))
        .select(col("id"), explode(array((0 until 4).map(sub =>
          struct(lit(sub).as("sub"),
            slice(col("__u"), sub * 16 + 1, 16).as("svec"))): _*)).as("__e"))
        .select(col("id"), col("__e.sub").as("sub"), col("__e.svec").as("svec"))
      val argmaxOk = sv.join(broadcast(books), "sub")
        .withColumn("__d2", aggregate(zip_with(col("svec"), col("cent"),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x))
        .join(codes, Seq("id", "sub"))
        .withColumn("__ad2", max(when(col("code_id") === col("code"), col("__d2")))
          .over(Window.partitionBy(col("id"), col("sub"))))
        .groupBy(col("id"))
        .agg(every(col("__d2") > col("__ad2") ||
            (col("__d2") === col("__ad2") && col("code_id") >= col("code")))
          .as("encoded_argmin"),
          (countDistinct(col("sub")) === lit(4)).as("all_subspaces"))
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      val lut = ProductQuantize.adcLut(qs, books, m = 4, dim = 64)
      val adc = ProductQuantize.adcScores(codes, lut)
      val recon = ProductQuantize.reconstruct(codes, books)
      val qn = qs.select(col("q_id"), vecL2Normalize(col("q_embedding")).as("__qu"))
      val adcOk = adc.join(recon, "id").join(broadcast(qn), "q_id")
        .withColumn("__ip", aggregate(zip_with(col("__qu"), col("recon"),
          (x, y) => x * y), lit(0.0d), (acc, x) => acc + x))
        .groupBy(col("id"))
        .agg(every(abs(col("adc") - col("__ip")) < 1e-9).as("adc_matches_recon"),
          (count(lit(1)) === lit(5)).as("scored_all_queries"))
      argmaxOk.join(adcOk, "id")
        .select(col("id").as("vec_id"), col("encoded_argmin"), col("all_subspaces"),
          col("adc_matches_recon"), col("scored_all_queries"))
        .orderBy(col("vec_id"))
    }),
    "q92_importance_sampling" -> ((s, d) => {
      // DSIR data selection (Xie 2023): the 25 raw docs that look most
      // like the English subcorpus under hashed-unigram importance
      // weights, Gumbel-sampled. FULL-VALUE oracle: buckets are md5
      // prefixes, ratios/Gumbels are micro-nat longs on the round_even
      // grid, so DuckDB recomputes every weight, draw, and the exact
      // top-k. Rank attributes AFTER the limit (k-row window, q70's
      // shape — never a corpus-wide Window).
      val docs = documents(s, d)
      val sel = graft.ops.ImportanceSampling.resample(
        docs, docs.where(col("lang") === "en"),
        "text", "doc_id", n = 1, k = 25, salt = "dsir1")
      val w = Window.orderBy(col("total_micro").desc, col("id"))
      // rank as long: the oracle dialect's row_number() is 64-bit, and the
      // gate compares pandas dtypes strictly (int32 vs int64 = red row).
      sel.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("id").as("doc_id"), col("w_micro"), col("g_micro"),
          col("total_micro"), col("rank"))
        .orderBy(col("rank"))
    }),
    "q93_bloom_skip" -> ((s, d) => {
      // Bloom-accelerated incremental skip (S11/P10's resume anti-join
      // at ledger scale): processed = even doc ids, incoming = ids
      // divisible by 3; the new work is odd multiples of 3 — a set the
      // oracle recomputes exactly, because the bloom only routes rows
      // between the free path and the verified path, never changes the
      // result. Envelope booleans (constant per corpus, cross-joined):
      // no_false_negatives re-checks the bloom's hard guarantee against
      // a full labeling join; fp_bounded pins the observed false-
      // positive count under 5x the configured fpp (deterministic for
      // a fixed corpus + Spark hash impl — a Spark upgrade changing
      // xxhash64/bloom internals could flip it; suspect that coupling
      // first after an upgrade, as q71/q89).
      val docs = documents(s, d)
      val processed = docs.where(col("doc_id") % 2 === 0).select("doc_id")
      val incoming = docs.where(col("doc_id") % 3 === 0).select("doc_id")
      val fpp = 0.01
      val bloom = graft.ops.Sketches.bloomBuild(
        processed, "doc_id",
        expectedItems = parquetRowCount(s, s"$d/documents.parquet") / 2 + 1, fpp)
      val hit = graft.ops.Sketches.bloomMightContain(bloom, col("doc_id"))
      // Output path — the scale shape: definite misses never join.
      val definitelyNew = incoming.where(!hit)
      val verifiedNew = incoming.where(hit)
        .join(processed, Seq("doc_id"), "left_anti")
      val newIds = definitelyNew.unionByName(verifiedNew)
      // Envelope path — bounded instrumentation, the q62/q65 pattern:
      // label every incoming row (hit x truly-processed) in one join.
      val stats = incoming.withColumn("__hit", hit)
        .join(processed.withColumn("__p", lit(1)), Seq("doc_id"), "left")
        .agg(
          sum(when(!col("__hit") && col("__p").isNotNull, 1L).otherwise(0L)).as("__fn"),
          sum(when(col("__hit") && col("__p").isNull, 1L).otherwise(0L)).as("__fp"),
          sum(when(col("__p").isNull, 1L).otherwise(0L)).as("__new"))
        .select(
          (col("__fn") === 0L).as("no_false_negatives"),
          (col("__fp") <= greatest(lit(50L),
            ceil(col("__new") * fpp * 5).cast("long"))).as("fp_bounded"))
      newIds.crossJoin(broadcast(stats)).orderBy(col("doc_id"))
    }),
    "q94_cms_heavy_hitters" -> ((s, d) => {
      // Count-min-sketch heavy hitters: exact top-25 corpus tokens
      // (full-value oracle: term/cnt/rank/n_total all DuckDB-
      // recomputed) probed against Spark's `count_min_sketch` binary —
      // the constant-size, map-side-mergeable shape that replaces a
      // token-grain shuffle for frequency ESTIMATES at 100 TB (the CMS
      // counterpart of q71's HLL). Envelope booleans pin the sketch
      // guarantee: estimates never undercount, and overcount at most
      // eps * n_total (deterministic for fixed corpus + seed; same
      // Spark-version fragility note as q71/q93).
      val eps = 0.001
      val toks = graft.core.Caches.persistTracked(
        documents(s, d)
          .select(explode(graft.ops.Lexical.tokens(col("text"))).as("term")))
      val sketch = toks.agg(
        expr(s"count_min_sketch(term, ${eps}d, 0.99d, 42)").as("__cms"),
        count(lit(1)).as("n_total"))
      val topk = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(25)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
      topk.crossJoin(broadcast(sketch))
        .withColumn("__est", {
          import org.apache.spark.sql.graftbridge.Bridge
          Bridge.column(graft.functions.CmsEstimateExpr(
            Bridge.expression(col("__cms")), Bridge.expression(col("term"))))
        })
        .select(col("term"), col("cnt"), col("rank"), col("n_total"),
          (col("__est") >= col("cnt")).as("est_ge_exact"),
          (col("__est") <= col("cnt") +
            ceil(col("n_total") * eps).cast("long")).as("est_within_eps"))
        .orderBy(col("rank"))
    }),
    "q95_segment_dedup" -> ((s, d) =>
      // C4-style boilerplate removal as a corpus REWRITE (q81 is the
      // signal; this is the transform): 8-token segments repeated in
      // >= 2 distinct docs are stripped everywhere, survivors
      // reassemble in order. FULL-VALUE oracle — segmentization,
      // inventory, removal, and reassembly are all exact string/count
      // computations DuckDB mirrors.
      graft.ops.SpanDedup.removeBoilerplateSegments(
          documents(s, d), "text", "doc_id", w = 8, minDocs = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),
    "q96_stratified_sample" -> ((s, d) =>
      // Exact-10-per-language uniform sample (deterministic reservoir):
      // md5-draw order with doc_id tie-break, so DuckDB recomputes the
      // identical selection AND ranks — a full-value oracle. The
      // operator's salted two-phase rank keeps hot strata off a single
      // reducer; the result is provably independent of the slicing.
      graft.ops.Sampling.stratifiedExactK(
          documents(s, d), "lang", col("doc_id"), k = 10, salt = "strat1")
        .select(col("lang"), col("doc_id"), col("rank"))
        .orderBy(col("lang"), col("rank"))),
    "q97_interval_join" -> ((s, d) => {
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
    }),
    "q98_zorder_key" -> ((s, d) => {
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
    }),
    "q99_source_topshare" -> ((s, d) =>
      // Cumulative-share ("which sources are 60% of my chars") over
      // the documents corpus: one partial-agg shuffle to source grain,
      // then the ranking window runs on the 20-row source relation —
      // never the corpus. Selection boundary is exact integer
      // cross-multiplication, so the oracle reproduces it bit-for-bit.
      graft.ops.Sampling
        .cumulativeShareSelect(documents(s, d), "source", "n_chars",
          shareNum = 3L, shareDen = 5L)
        .withColumnRenamed("group", "source")
        .orderBy(col("weight").desc, col("source"))),
    "q100_interval_join_rule" -> ((s, d) => {
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
    }),
    "q101_incremental_stats" -> ((s, d) => {
      // §2.11 incremental mergeable stats: the corpus split into two
      // disjoint shards (doc_id parity standing in for ingest
      // batches), each aggregated ONCE to per-lang partials, partials
      // merged — counts/sums exactly, the distinct-source dimension as
      // a DataSketches HLL register union. The oracle recomputes the
      // exact columns from the full corpus; merged_est_matches_direct
      // pins that union-of-sketches == sketch-of-union (lossless
      // register max), est_within_5pct bounds the estimate against the
      // exact distinct count. Like q71/q93, the booleans are
      // deterministic for a fixed corpus + Spark sketch version (a
      // sketch-library upgrade flipping them is expected fragility,
      // not a regression).
      val docs = documents(s, d)
      val parts = graft.ops.IncrementalStats
        .shardStats(docs.where(col("doc_id") % 2 === 0), "lang", "n_chars", "source")
        .unionByName(graft.ops.IncrementalStats
          .shardStats(docs.where(col("doc_id") % 2 === 1), "lang", "n_chars", "source"))
      val merged = graft.ops.IncrementalStats
        .withEstimate(graft.ops.IncrementalStats.mergeStats(parts, "lang"))
        .select(col("lang"), col("n_rows"), col("w_sum"),
          col("n_distinct_est").as("merged_est"))
      val direct = docs.groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("source"))).as("direct_est"),
          countDistinct(col("source")).as("n_sources_exact"))
      merged.join(direct, Seq("lang"))
        .select(col("lang"),
          col("n_rows").cast("long").as("n_docs"),
          col("w_sum").cast("long").as("total_chars"),
          col("n_sources_exact"),
          (col("merged_est") === col("direct_est")).as("merged_est_matches_direct"),
          (abs(col("merged_est") - col("n_sources_exact")) <=
            col("n_sources_exact") * 0.05).as("est_within_5pct"))
        .orderBy(col("lang"))
    }),
    "q102_scd2_versions" -> ((s, d) =>
      // §2.11 SCD2 versioning: each user's event_type stream becomes
      // validity intervals (no-op repeats suppressed, end-exclusive
      // tiling, lead() closes each version). Both windows partition by
      // user_id — one key-shuffle, per-key sorted streams, no global
      // sort. The oracle replays the same lag/lead decomposition.
      graft.ops.Scd2
        .fromChangeLog(events(s, d), "user_id", "ts", "event_id", "event_type")
        .orderBy(col("user_id"), col("valid_from"))),
    "q103_unicode_norm" -> ((s, d) => {
      // Unicode canonical normalization: the synthetic corpus is
      // ASCII, so the fixture text is BUILT with both spellings of an
      // accented word — composed U+00E9 and decomposed e+U+0301, which
      // are different byte strings every exact-dedup hash would keep
      // as distinct documents. normKey (NFD -> strip marks -> NFC ->
      // lower, a codegen'd native NFC/NFD expression) collapses them;
      // the oracle mirrors with lower(strip_accents()) and
      // nfc_normalize(). keys_match is an actual cross-spelling
      // comparison in BOTH engines, not a pinned literal.
      val c = customer(s, d)
      val composed = concat(lit("Caf\u00e9 "), col("c_name"))
      val decomposed = concat(lit("Cafe\u0301 "), col("c_name"))
      import graft.functions.UnicodeNormOps.{nfc, normKey}
      c.select(col("c_custkey"),
          normKey(composed).as("fold_key"),
          (normKey(composed) === normKey(decomposed)).as("keys_match"),
          length(nfc(decomposed)).as("nfc_chars"),
          length(decomposed).as("raw_chars"))
        .orderBy(col("c_custkey"))
    }),
    "q104_blocklist" -> ((s, d) => {
      // §2.11 URL/domain blocklist curation: deterministic URLs of
      // varied shape (scheme/userinfo/port/path present by doc_id
      // modulus) are canonicalized to hosts with RE2-compatible regex
      // algebra the oracle runs verbatim, membership is a broadcast
      // anti-probe (the corpus never shuffles), and the C4-style
      // badwords density is a per-row literal-array intersection. The
      // boolean is a real blocklist-join outcome in both engines.
      val docs = documents(s, d)
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("https://"))
          .when(col("doc_id") % 3 === 1, lit("http://user:pw@"))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".example.org"),
        when(col("doc_id") % 5 === 0, lit(":8443")).otherwise(lit("")),
        lit("/watch?v="), col("doc_id"))
      val host = graft.ops.Blocklist.urlHost(url)
      import s.implicits._
      val blocked = Seq("src1.example.org", "src7.example.org",
        "src13.example.org").toDF("h")
      docs.select(col("doc_id"), url.as("url"), host.as("host"),
          // Half-even grid snap (rint), not round(): a power-of-two
          // distinct-word count makes exact .xxxx5 halves, where
          // HALF_UP conventions differ across engines.
          (rint(graft.ops.Blocklist.blockedWordRatio(col("text"),
            Seq("spark", "fast", "slow")) * 10000) / 10000).as("badword_ratio"))
        .join(broadcast(blocked), col("host") === col("h"), "left")
        .select(col("doc_id"), col("url"), col("host"),
          col("h").isNotNull.as("blocked"), col("badword_ratio"))
        .orderBy(col("doc_id"))
    }),
    "q105_negative_sampling" -> ((s, d) =>
      // §2.11 contrastive negative mining: md5-drawn bucket
      // representatives (bucket-grain relation, broadcast), k map-only
      // slot draws per query doc, same-source slots dropped as
      // in-domain false negatives. Fully deterministic — the oracle
      // recomputes every draw, election, and exclusion.
      graft.ops.Sampling
        .negativeSamples(documents(s, d), "doc_id", "source",
          k = 4, buckets = 64, salt = "neg1")
        .orderBy(col("doc_id"), col("slot"))),
    "q106_event_funnel" -> ((s, d) =>
      // §2.11 behavioral funnel: earliest view -> first click within
      // 2h -> first purchase within 2h of that, greedy
      // earliest-binding. One filtered scan + key-grain min-agg per
      // step (never an event-grain self-join, never a per-key sort);
      // the oracle replays the same greedy chain as CTEs.
      graft.ops.Funnel.funnelMatch(events(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"), 7200L)
        .orderBy(col("key"))),
    "q107_range_frame" -> ((s, d) => {
      // §2.9 event-TIME window frames (vs q41/q42's row frames): per
      // user, the trailing-1-hour activity count and exact decimal
      // sum. rangeBetween runs on unix_micros so the frame boundary is
      // microsecond-exact — identical to the oracle's
      // RANGE INTERVAL frame on the raw timestamps. Partitioned by
      // user: one key shuffle, per-key sorted scan, no global sort.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, d)
        .withColumn("__us", unix_micros(col("ts")))
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          (sum(rint(col("value") * 100).cast("long")).over(w) / 100.0).as("sum_1h"))
        .orderBy(col("event_id"))
    }),
    "q108_decayed_score" -> ((s, d) => {
      // §2.11 recency-weighted engagement: per-user decayed value sum
      // with a one-day half-life against a fixed reference instant.
      // The decay is 2^-days with an INTEGER day age, so every term is
      // the exact integer cents*2^(30-age) — the whole feature
      // aggregates in exact int64 on both engines and divides once at
      // the end (an exp()-based decay differs in the last ULP across
      // libm implementations; the pow-of-two ladder has no such seam).
      // Ages beyond 30 days decay below the grid and are dropped
      // scan-side. Map-only + one key-grain aggregation.
      val refUs = 1706745600000000L // 2024-02-01T00:00:00Z, after the corpus
      val age = ((lit(refUs) - unix_micros(col("ts"))) / lit(86400000000L))
        .cast("long")
      events(s, d)
        .where(age <= 30 && age >= 0)
        .select(col("user_id"),
          (rint(col("value") * 100).cast("long") *
            pow(lit(2.0), lit(30L) - age).cast("long")).as("__term"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("__term")).cast("double") / lit(100.0 * (1L << 30)))
            .as("decayed_value"))
        .orderBy(col("user_id"))
    }),
    "q109_column_profile" -> ((s, d) =>
      // §2.11 one-pass data-quality profile: rows/nulls/cardinality/
      // range/char-budget for every column of documents, as one
      // schema-stable table. Unpivot + single column-grain agg — the
      // scan is read once, no per-column job. Full-value oracle (the
      // string renderings are engine-portable).
      graft.ops.Profile.profile(
          documents(s, d), Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))),
    "q110_weighted_sample" -> ((s, d) =>
      // §2.11 Efraimidis-Spirakis weighted sampling without
      // replacement: 50 docs drawn proportionally to n_chars, as a
      // deterministic md5-seeded top-k (TakeOrderedAndProject — no
      // global sort; rank window runs over the 50 survivors). DuckDB
      // recomputes draw, snap, selection, and rank bit-for-bit.
      graft.ops.Sampling.weightedSampleK(
          documents(s, d).select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), k = 50, salt = "es1")
        .select(col("doc_id"), col("n_chars"), col("es_key_micro"), col("rank"))
        .orderBy(col("rank"))),
    "q111_equidepth_hist" -> ((s, d) =>
      // §2.11 equal-frequency histogram of events.value in 10 buckets:
      // exact interpolated decile boundaries (4-dp rounded, the q57
      // percentile precedent), broadcast, scan-side bucket assignment
      // — a map-only pass + bucket-grain agg, NOT the single-reducer
      // ntile() global window. Sum exact on the cents grid.
      graft.ops.Histogram.equiDepth(events(s, d), "value", buckets = 10)
        .orderBy(col("bucket"))),
    "q112_zscore_outliers" -> ((s, d) =>
      // §2.11 per-type anomaly gate: |v - mean| > 3 sigma evaluated in
      // EXACT integer arithmetic (cents grid, cleared denominators,
      // decimal(38,0) vs the oracle's HUGEINT) — no float stddev seam,
      // no reduction-order sensitivity. Group stats broadcast back;
      // row data never shuffles.
      graft.ops.Outliers.zscoreOutliers(events(s, d), "event_type", "value", z = 3)
        .orderBy(col("event_type"))),
    "q113_cohort_retention" -> ((s, d) =>
      // §2.11 weekly cohort retention: users bucketed by first-activity
      // week, distinct-active counted per (cohort, offset). One
      // user-grain agg + one user-key join + one cohort-grain distinct
      // — no window, no global sort; the user→cohort map is the small
      // join side at any corpus size.
      graft.ops.Retention.weeklyCohorts(events(s, d), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))),
    "q114_part_affinity" -> ((s, d) =>
      // §2.11 market-basket lift: co-order part pairs at min-support 2,
      // lift on the exact integer micro grid (IntegralDivide). Pair
      // cost is sum(basket^2) — bounded by basket size, linear in
      // baskets — and the support filter runs before the frequency
      // joins. Top-100 by (support, pair) is a total order.
      graft.ops.Affinity.basketLift(
          lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
        .limit(100)),
    "q115_copurchase_pagerank" -> ((s, d) => {
      // §2.11 graph authority over the co-order part graph (support-2
      // pairs, symmetric): 3 PageRank iterations on the exact integer
      // micro grid — every contribution and damped update is floor
      // division, so DuckDB's 3-CTE chain matches digit for digit. One
      // join + one key agg per iteration, composed into a single DAG.
      // Discovery = the SESSION-SHARED support-pair relation q114/q138
      // also consume (Affinity.supportPairs): built once per session,
      // the 3 iteration branches and the sibling queries all read the
      // cache.
      val pairs = graft.ops.Affinity.supportPairs(
        lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2)
      val edges = pairs.select(col("item_a").as("src"), col("item_b").as("dst"))
        .union(pairs.select(col("item_b").as("src"), col("item_a").as("dst")))
      graft.ops.PageRank.pageRankMicro(edges, "src", "dst", iterations = 3)
        .orderBy(col("rank_micro").desc, col("node")).limit(50)
    }),
    "q116_jl_projection" -> ((s, d) =>
      // §2.11 Johnson-Lindenstrauss ±1 projection to 8 dims, map-only
      // (the sign matrix is a pure md5-parity function — never
      // materialized, never joined). Components accumulate as exact
      // int64 micro sums, so DuckDB recomputes every output digit.
      graft.ops.RandomProjection.jlProject(
          embeddings(s, d), "vec_id", "embedding", outDims = 8, salt = "jl1")
        .orderBy(col("vec_id"), col("j"))),
    "q117_snapshot_diff" -> ((s, d) => {
      // §2.11 snapshot CDC: two corpus snapshots derived from the same
      // table (docs ending in 3 arrive only in the new snapshot, docs
      // ending in 4 were dropped, docs ending in 7 carried a truncated
      // old revision), diffed by one full-outer key join with null-safe
      // content comparison — added/removed/changed/unchanged per key.
      val docs = documents(s, d)
      val prev = docs.where(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 10 === 7, substring(col("text"), 1, 40))
            .otherwise(col("text")))
      val cur = docs.where(col("doc_id") % 10 =!= 4)
      graft.ops.SnapshotDiff.diff(prev, cur, "doc_id",
          Seq("text", "lang", "source"))
        .withColumnRenamed("key", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q118_retrieval_metrics" -> ((s, d) => {
      // §2.11 offline rank-eval: vec_ids < 10 are the query set, the
      // rest the candidate corpus, relevance = same cluster label.
      // Ranked lists come from the q29 brute-force cosine retriever;
      // hits@10 / recall@10 / RR reduce per query in exact integer
      // micro arithmetic (no nDCG — its log2 discount is a libm seam).
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
          col("label").as("q_label"))
      val cands = emb.where(col("vec_id") >= 10)
      val retrieved = graft.query.Retriever.neighbors(cands, queries, 10)
      val relevant = cands.select(col("vec_id"), col("label"))
        .join(broadcast(queries.select(col("q_id"), col("q_label"))),
          col("label") === col("q_label"))
        .select(col("q_id"), col("vec_id"))
      graft.ops.RankEval.rankEval(
          retrieved, relevant, "q_id", "vec_id", "rank", k = 10)
        .orderBy(col("q"))
    }),
    "q119_semantic_decontamination" -> ((s, d) => {
      // §2.11 cross-corpus semantic contamination probe: every 37th
      // vector OF THE BASE ID SPACE stands in for an eval benchmark —
      // the vec_id < 20000 cap models what a benchmark is (fixed-size
      // while the corpus grows), so the probe stays linear in the
      // corpus at any scale. The train side gets a map-only max-cosine
      // against the broadcast reference set (the paraphrase-robust
      // complement of q79's n-gram decontamination).
      val emb = embeddings(s, d)
      val ref = emb.where(col("vec_id") % 37 === 0 && col("vec_id") < 20000)
      val train = emb.where(col("vec_id") % 37 =!= 0 || col("vec_id") >= 20000)
      Dedup.cosineContaminationAgainst(train, ref, "embedding", "vec_id", 0.8)
        .select(col("id"), round(col("max_cos"), 6).as("max_cos"),
          col("contaminated"))
        .orderBy(col("id"))
    }),
    "q120_tfidf_keywords" -> ((s, d) =>
      // §2.11 per-source characteristic terms: group-grain TF × doc-
      // grain IDF on the micro grid (exact int64 scores — no float
      // ordering seam), top-5 per source with the rank filter adjacent
      // to the window so InferWindowGroupLimit prunes map-side.
      graft.ops.Lexical.tfidfKeywords(
          documents(s, d), "text", "doc_id", "source", k = 5)
        .orderBy(col("grp"), col("rnk"))),
    "q121_source_overlap" -> ((s, d) =>
      // §2.11 source-pair content-overlap matrix: Jaccard + containment
      // of trigram vocabularies, integer-exact micro ratios. The join
      // runs on the DISTINCT (source, shingle) relation, so per-key
      // fan-out is bounded by the source count, not document count.
      graft.ops.CorpusOverlap.sourceOverlap(documents(s, d), "text", "source", 3)
        .orderBy(col("grp_a"), col("grp_b"))),
    "q122_kl_drift" -> ((s, d) =>
      // §2.11 mixture-drift monitor: KL(source ‖ corpus) over unigram
      // distributions in micro-nats (per-term ln on the 1e-6 grid,
      // int64 weighted sum, floor-divided mean — all engine-exact).
      graft.ops.Drift.klDrift(documents(s, d), "text", "source")
        .orderBy(col("grp"))),
    "q123_token_entropy" -> ((s, d) =>
      // §2.11 lexical-diversity signal: per-document token-distribution
      // Shannon entropy in exact micro-nats, map-only over the scan.
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.tokenEntropyMicro(col("text")).as("entropy_micro"))
        .orderBy(col("doc_id"))),
    "q124_edit_distance_join" -> ((s, d) =>
      // §2.11 string-similarity join under edit distance (PassJoin
      // segment filtering) at DISTINCT-NAME grain — identical strings
      // collapse to (representative, count) before any similarity
      // work, the exact-dedup-first discipline that keeps the result
      // vocabulary-sized on duplicate-heavy catalogs. Constant-fan-out
      // explodes + one skinny-key hash join + exact verify — the
      // oracle's all-pairs levenshtein is what the operator avoids.
      graft.ops.EditDistanceJoin.editDistanceJoinDistinct(
          part(s, d), "p_name", "p_partkey", k = 1)
        .orderBy(col("id_a"), col("id_b"))),
    "q125_source_overlap_sketch" -> ((s, d) => {
      // §2.11 the PB-scale estimate path of q121: pairwise overlap
      // from MERGEABLE per-source MinHash signatures (128 perms,
      // constant bytes per source, no shingle join), enveloped against
      // the exact matrix — |est − exact| <= 0.25 pinned TRUE for every
      // pair including disjoint ones (~5.5σ at k=128).
      val docs = documents(s, d)
      val est = graft.ops.CorpusOverlap.sourceOverlapEstimate(
        docs, "text", "source", 3, 128)
      val exact = graft.ops.CorpusOverlap.sourceOverlap(docs, "text", "source", 3)
        .select(col("grp_a"), col("grp_b"), col("jaccard_micro"))
      est.join(exact, Seq("grp_a", "grp_b"), "left")
        .select(col("grp_a"), col("grp_b"),
          coalesce(col("jaccard_micro"), lit(0L)).as("jaccard_micro"),
          (abs(col("est_micro") - coalesce(col("jaccard_micro"), lit(0L)))
            <= 250000).as("est_ok"))
        .orderBy(col("grp_a"), col("grp_b"))
    }),
    "q126_markov_transitions" -> ((s, d) =>
      // §2.11 behavioral transition matrix: per-user next-event pairs
      // on the total (ts, event_id) order, (src,dst)-grain counts,
      // row-conditional probabilities on the exact micro grid. One
      // user-key shuffle; the src-grain totals broadcast.
      graft.ops.Markov.transitionMatrix(
          events(s, d), "user_id", "ts", "event_type", "event_id")
        .orderBy(col("src"), col("dst"))),
    "q127_hashed_classifier" -> ((s, d) =>
      // §2.11 fastText-style hashed linear scorer: md5 feature buckets
      // + hash-derived micro weights folded per row — model application
      // at pure scan cost, zero shuffles, one codegen stage.
      graft.ops.HashedClassifier.score(documents(s, d), "text", "doc_id")
        .orderBy(col("id"))),
    "q128_token_budget" -> ((s, d) =>
      // §2.11 per-source token-budget cap: longest-first prefix under
      // an 800-token budget per source; every doc ships its running
      // total and the kept/dropped decision.
      graft.ops.BudgetCap.tokenBudgetCap(
          documents(s, d), "text", "doc_id", "source", 800L)
        .orderBy(col("grp"), col("id"))),
    "q129_quantile_sketch" -> ((s, d) =>
      // §2.11 mergeable quantile sketch envelope: constant-size GK
      // summaries per group (the distributed-percentile path at scale)
      // with the rank-error guarantee pinned as booleans; exact
      // p50/p90 ride along as the full-value mirror.
      graft.ops.Sketches.quantileSketchBound(events(s, d), "event_type", "value")
        .orderBy(col("grp"))),
    "q130_bottomk_sample" -> ((s, d) =>
      // §2.11 mergeable bottom-k uniform sample: md5-draw bottom-k is
      // a sketch of the key set (per-shard samples union losslessly);
      // plans as TakeOrderedAndProject — per-partition heaps, no
      // global sort.
      graft.ops.Sampling.bottomKSample(
          documents(s, d).select(col("doc_id")), col("doc_id"), 100, "bk1")
        .orderBy(col("draw"), col("doc_id"))),
    "q131_entity_resolution" -> ((s, d) => {
      // §2.11 blocked record linkage: a deterministic dirty mirror
      // (every 7th customer re-spelled with a trailing-char typo) is
      // resolved against the originals — blocking on (nation, 6-digit
      // name prefix) keeps blocks ~corpus/150k-sized, levenshtein runs
      // only in-block, and the integer Fellegi-Sunter-style score
      // decides at 0.8: name-edit similarity alone can't match, name +
      // exact-balance agreement can.
      val c = customer(s, d).select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val dirty = c.where(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 17), lit("x")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val recs = c.unionByName(dirty)
        .withColumn("name_blk", substring(col("c_name"), 10, 6))
      graft.ops.EntityResolution.resolve(
          recs, "c_custkey", "c_name", Seq("c_nationkey", "name_blk"),
          "c_acctbal", "c_mktsegment", maxLev = 1, thresholdMicro = 800000L)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q132_dedup_cascade" -> ((s, d) => {
      // §2.11 staged dedup cascade over a corpus with planted exact
      // replicas (every 9th doc duplicated at id+100000): exact stage
      // first (one text-key shuffle), Jaccard near-dup ONLY over the
      // exact-distinct survivors — similarity cost bounded by distinct
      // content, immune to replication depth. Per-doc removal-stage
      // audit trail out.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val reps = docs0.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      graft.ops.DedupCascade.cascade(
          docs0.unionByName(reps), "text", "doc_id", 0.8, 3)
        .orderBy(col("id"))
    }),
    "q133_score_calibration" -> ((s, d) => {
      // §2.11 empirical-CDF score calibration: exact interpolated
      // 5%-quantile boundaries derived once (constant-size), broadcast
      // to a map-only bucket projection over the q127 scorer's output
      // — "top X% of THIS corpus" instead of a raw score threshold.
      val scored = graft.ops.HashedClassifier.score(documents(s, d), "text", "doc_id")
        .select(col("id"), col("score_micro"))
      graft.ops.Calibrate.scorePercentile(scored, "score_micro", "id", 20)
        .orderBy(col("id"))
    }),
    "q134_incremental_cascade" -> ((s, d) => {
      // §2.11 the daily-append form of q132: stage TODAY'S batch
      // against the STANDING corpus only (semi-join exact stage,
      // prefix-filtered R-S Jaccard near stage — never corpus
      // self-join). The batch plants exact corpus replays (%11, at
      // id+200000) and near-miss mutations (%13, one appended token,
      // at id+300000) so both removal stages decide real rows.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs0.where(col("doc_id") % 5 =!= 0)
      val fresh = docs0.where(col("doc_id") % 5 === 0)
      val replay = corpus.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val nearMiss = corpus.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      val batch = fresh.unionByName(replay).unionByName(nearMiss)
      graft.ops.DedupCascade.cascadeAgainst(batch, corpus, "text", "doc_id", 0.8, 3)
        .orderBy(col("id"))
    }),
    "q135_centroid_drift" -> ((s, d) =>
      // §2.11 embedding-space drift: per-label centroid mean shift
      // between two corpus slices (vec_id%3 split), integer-exact L1
      // and squared-L2 over grid-snapped per-dim means. The shuffle
      // carries |labels|x64 partial sums per partition, never vectors.
      graft.ops.CentroidDrift.centroidDrift(
          embeddings(s, d), "embedding", "label", col("vec_id") % 3 =!= 0)
        .orderBy(col("label"))),
    "q136_mad_outliers" -> ((s, d) =>
      // §2.11 robust outlier gate: Hampel median/MAD rule on the
      // doubled-median integer grid (2·dev2 > k·mad4 — no float
      // crosses the engine boundary). Heavy-tail-safe complement of
      // q112's z-score; same output contract.
      graft.ops.Outliers.madOutliers(events(s, d), "event_type", "value", k = 5)
        .orderBy(col("event_type"))),
    "q137_dq_report" -> ((s, d) => {
      // §2.11 Deequ-style ingest gate: one row per constraint with the
      // violation COUNT as metric (integer-exact). Orphans are
      // anti-joins, uniqueness is key-grain aggregation, ranges are
      // map-side conditional counts; the deliberately tight value<=100
      // check exercises the red path.
      import graft.ops.DataQuality._
      val o = orders(s, d); val c = customer(s, d)
      val l = lineitem(s, d); val e = events(s, d)
      report(Seq(
        orphanCount(o, "o_custkey", c, "c_custkey", "orders_customer_orphans"),
        orphanCount(l, "l_orderkey", o, "o_orderkey", "lineitem_orders_orphans"),
        duplicateKeyCount(o, Seq("o_orderkey"), "orders_pk_unique"),
        duplicateKeyCount(l, Seq("l_orderkey", "l_linenumber"), "lineitem_pk_unique"),
        nullCount(c, "c_name", "customer_name_complete"),
        rangeViolations(l, "l_quantity", 1, 50, "lineitem_qty_range"),
        rangeViolations(e, "value", 0, 500, "events_value_range"),
        rangeViolations(e, "value", 0, 100, "events_value_le_100")))
        .orderBy(col("check"))
    }),
    "q138_triangle_count" -> ((s, d) => {
      // §2.11 triangle census of the support-2 co-purchase graph via
      // degree-ordered orientation (Suri & Vassilvitskii): out-degree
      // bounded O(sqrt(m)), wedge volume O(m^1.5) — the hub-skew
      // discipline; each triangle counted exactly once. Edges = the
      // SESSION-SHARED support-pair discovery q114/q115 also consume.
      val pairs = graft.ops.Affinity.supportPairs(
          lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("item_a").as("pa"), col("item_b").as("pb"))
      graft.ops.Triangles.triangleCount(pairs, "pa", "pb")
    }),
    "q139_top_paths" -> ((s, d) => {
      // §2.11 behavioral path mining: per-(user, day) event-type
      // journey (deterministic (ts, event_id) order via the A4
      // sorted-collect idiom — collect_list alone is
      // partition-order-dependent), corpus-wide path frequencies,
      // top-20 by (count, path) as TakeOrderedAndProject.
      val e = events(s, d)
      val paths = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(array_join(transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          st => st.getField("event_type")), ">").as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    }),
    "q140_image_dhash_dedup" -> ((s, d) => {
      // Multimodal near-dedup: per-asset 64-bit perceptual dHash
      // (decode -> gray -> difference hash) fed into the SAME generic
      // two-level Hamming band join the text SimHash family uses —
      // image dedup as a first-class banded-join member, zero new join
      // code. Verified q62-style: banded == brute force over the SAME
      // engine-computed hashes on a bounded deterministic sub-corpus,
      // exactly-once emission pinned separately. Assets are documents'
      // bytes through the locality-preserving ByteGrayDecoder; 50
      // payload-identical clones (asset_id + 10M) plant distance-0
      // pairs at every SF, near-dup document texts plant the
      // small-Hamming tail. The brute predicate is written
      // bit_count(~(a^b)) >= 61 so HammingBandJoinRule cannot re-plan
      // the reference into the banding it verifies. Cost note: the
      // locality-preserving text-byte decode concentrates dHashes
      // (videoNearDuplicates' cost contract — q143 switched to the
      // hash-chain decode for exactly this), so this row's banded join
      // carries a genuinely denser-than-uniform bucket profile
      // (sf10m warm ~40 s); kept BECAUSE the near-pair tail is the
      // property under test here.
      import s.implicits._
      val cap = 5000L
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("text"))
      val clones = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val assets = base.unionByName(clones)
        .select(col("doc_id").as("asset_id"), lit("image").as("kind"),
          col("text").cast("binary").as("payload"),
          lit(0.0).as("duration_sec"))
        .as[graft.multimodal.MediaAsset]
      val dec = new graft.multimodal.ByteGrayDecoder(16, 16)
      val dh = graft.core.Caches.persistTracked(
        graft.multimodal.MultiModal.imageDHash(assets, dec))
      def inS(c: org.apache.spark.sql.Column) = c < cap || c >= 10000000L
      val bandedAll = Dedup.hammingNearDuplicates(dh, "dhash", "asset_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val banded = bandedAll.where(inS(col("id_a")) && inS(col("id_b")))
      val sub = dh.where(inS(col("asset_id")))
      val a = sub.select(col("asset_id").as("id_a"), col("dhash").as("h_a"))
      val b = sub.select(col("asset_id").as("id_b"), col("dhash").as("h_b"))
      val brute = a.join(b,
          bit_count(bitwise_not(col("h_a").bitwiseXOR(col("h_b")))) >= lit(61) &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)), Seq("id_a", "id_b"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      val dup = bandedAll.agg(
        (count_distinct(struct(col("id_a"), col("id_b"))) === count(lit(1)))
          .as("banded_distinct"))
      assets.toDF().agg(count(lit(1)).as("n_assets"))
        .crossJoin(broadcast(cmp)).crossJoin(broadcast(dup))
    }),
    "q141_index_cascade" -> ((s, d) => {
      // q134's EXACT scenario served by the MATERIALIZED corpus index:
      // writeCorpusIndex persists the corpus prefix/sets/texts as
      // bucketed tables, cascadeAgainstIndex runs the batch against
      // them — same full-value DuckDB oracle as q134, so index-backed
      // == direct is pinned row for row, not as an envelope. The
      // amortization story (batch joins with the corpus
      // tokenize/sort/explode scan gone) is measured by
      // COVERAGE.md Session-8; here the build runs in-query (fresh tables
      // per run keeps Verify/Bench/`Sweep respell` hermetic).
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs0.where(col("doc_id") % 5 =!= 0)
      val fresh = docs0.where(col("doc_id") % 5 === 0)
      val replay = corpus.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val nearMiss = corpus.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      val batch = fresh.unionByName(replay).unionByName(nearMiss)
      val store = runStore(s, "idx_q141", d, "")
      Dedup.writeCorpusIndex(corpus, "text", "doc_id", threshold = 0.8,
        shingleN = 3, tablePrefix = store.tablePrefix, basePath = store.basePath)
      graft.ops.DedupCascade.cascadeAgainstIndex(batch, "text", "doc_id", 0.8,
          store.tablePrefix)
        .orderBy(col("id"))
    }),
    "q142_bloom_anti" -> ((s, d) => {
      // q40's J5 composite anti-join through the BLOOM FAST PATH:
      // definite-new rows (bloom miss) bypass the anti-join shuffle as
      // a map-only filter; only might-contain rows verify exactly.
      // Same full-value oracle as q40 pins exactness; the plan carries
      // ONE join (the candidate arm) instead of shuffling every row.
      // NOTE this row is the CORRECTNESS pin, not the fast path's
      // showcase: with the filter built in-query over a store ~half
      // the probe side, measured sf10m floors are 16.7s vs q40's 7.8s
      // — the win requires the amortized prebuilt-filter deployment
      // (see Load.discoverNewChunksBloom's Scaladoc for the measured
      // break-even).
      val li = lineitem(s, d)
      val existing = li.where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("e_ok"), col("l_suppkey").as("e_sk"))
      val nKeys = math.max(1L, existing.count())
      val bloom = graft.ops.Sketches.bloomBuild(
        existing.select(struct(col("e_ok"), col("e_sk")).as("__k")), "__k", nKeys, 0.01)
      val hit = graft.ops.Sketches.bloomMightContain(bloom,
        struct(col("l_orderkey"), col("l_suppkey")))
      val misses = li.where(!hit)
      val verified = li.where(hit).join(existing,
        col("l_orderkey") === col("e_ok") && col("l_suppkey") === col("e_sk"),
        "left_anti")
      misses.unionByName(verified.select(misses.columns.map(col): _*))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_orderkey"))
    }),
    "q143_video_frame_dedup" -> ((s, d) => {
      // Scene-level video near-dedup: per-frame perceptual dHashes
      // through the SAME generic Hamming band join (q140's family),
      // aggregated to video pairs sharing >= 2 near-dup frames — the
      // footage-reuse/partial-copy operator content hashing can't see.
      // q62 discipline: banded operator over the FULL corpus == brute
      // force over the same engine-computed frame hashes on a bounded
      // deterministic sub-corpus; 50 payload-identical clones plant
      // all-frames-shared pairs at every SF. Durations derive from
      // n_chars (2-4 frames each), so frame volume rides corpus size
      // linearly.
      import s.implicits._
      val cap = 2000L
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("text"), col("n_chars"))
      val clones = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("n_chars"))
      val assetsDf = base.unionByName(clones)
        .select(col("doc_id").as("asset_id"), lit("video").as("kind"),
          col("text").cast("binary").as("payload"),
          (lit(6.0) + least(col("n_chars"), lit(700)).cast("double") / 50.0)
            .as("duration_sec"))
      val assets = assetsDf.as[graft.multimodal.MediaAsset]
      // Hash-chain stub decode (natural-image-like frame diversity):
      // raw text-bytes-as-pixels measured DEGENERATE at scale — their
      // dHashes concentrate so densely that the true near-dup pair set
      // goes quadratic (sf10m banded join ~900 s of genuine matches);
      // see videoNearDuplicates' cost contract.
      val dec = new graft.multimodal.HashGrayFrameDecoder(16, 16)
      val bandedAll = graft.multimodal.MultiModal.videoNearDuplicates(
        assets, dec, everySec = 5.0, maxHamming = 3, minSharedFrames = 2)
      def inS(c: org.apache.spark.sql.Column) = c < cap || c >= 10000000L
      val banded = bandedAll.where(inS(col("video_a")) && inS(col("video_b")))
      // Brute arm: same deterministic frame hashes on the sub-corpus,
      // all-pairs Hamming written bit_count(~xor) >= 61 (rule-proof).
      val subFrames = graft.core.Caches.persistTracked(
        graft.multimodal.MultiModal.frameDHashes(
          assetsDf.where(inS(col("asset_id"))).as[graft.multimodal.MediaAsset],
          dec, everySec = 5.0))
      val fa = subFrames.select(col("asset_id").as("va"), col("frame_idx").as("fa"),
        col("dhash").as("ha"))
      val fb = subFrames.select(col("asset_id").as("vb"), col("frame_idx").as("fb"),
        col("dhash").as("hb"))
      val brute = fa.join(fb,
          bit_count(bitwise_not(col("ha").bitwiseXOR(col("hb")))) >= lit(61) &&
            (col("va") * 1000000L + col("fa")) < (col("vb") * 1000000L + col("fb")) &&
            col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("video_a"),
          greatest(col("va"), col("vb")).as("video_b"))
        .groupBy(col("video_a"), col("video_b"))
        .agg(count(lit(1)).as("n_frame_pairs"))
        .where(col("n_frame_pairs") >= 2)
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)),
          Seq("video_a", "video_b", "n_frame_pairs"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      assetsDf.agg(count(lit(1)).as("n_videos")).crossJoin(broadcast(cmp))
    }),
    "q144_vector_index_search" -> ((s, d) => {
      // Materialized IVF vector index, searched at FULL probe: the
      // bucketed store path (write -> probe-pruned scan -> exact
      // rescore) must reproduce brute-force top-k exactly — pinned
      // against q29's DuckDB oracle at full value. Partial-probe
      // recall/I/O posture is q60/OpsSpec's pin; this row pins the
      // STORE machinery end to end (build + catalog + bucketed scan +
      // rank), fresh tables per run for hermetic Verify/Bench.
      val emb = embeddings(s, d)
      val store = runStore(s, "idx_q144", d, "")
      graft.ops.VectorIndex.writeIvfIndex(emb, "embedding", "vec_id",
        nlist = 16, refineIters = 1, tablePrefix = store.tablePrefix,
        basePath = store.basePath)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      graft.ops.VectorIndex.searchIvfIndex(queries, "q_embedding", "q_id",
          k = 5, nprobe = 16, tablePrefix = store.tablePrefix)
        .select(col("q_id"), col("vec_id"), round(col("score"), 4).as("score"),
          col("rank"))
        .orderBy(col("q_id"), col("rank"))
    }),
    "q145_cdc_segments" -> ((s, d) => {
      // Content-defined chunking dedup profile (LBFS rolling-window
      // residue cuts): segment identity is CONTENT-addressed, so the 50
      // planted prefix-shifted clones ('zzz ' prepended) resynchronize
      // with their originals after one window and share nearly all
      // segments — the stride segmentation (q95) would share ZERO.
      // FULL-VALUE oracle: boundaries are md5-residue draws DuckDB
      // recomputes exactly; the dup inventory groups by segment text.
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val shifted = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("zzz "), col("text")).as("text"))
      graft.ops.ContentDefinedChunking.cdcDedupStats(
          docs.unionByName(shifted), "text", "doc_id", w = 4, divisor = 8,
          minDocs = 2, flagFrac = 0.5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q146_audio_fingerprint_dedup" -> ((s, d) => {
      // Audio near-dedup: Haitsma-Kalker band-energy-difference
      // fingerprints per window, matched through the SAME generic
      // Hamming band join as images (q140) and video frames (q143) —
      // the multimodal triple closes on one join. q62/q143 discipline:
      // banded operator over the FULL corpus == brute force over the
      // same engine-computed fingerprints on a bounded deterministic
      // sub-corpus; 50 payload-identical clones plant all-windows-
      // shared pairs at every SF.
      import s.implicits._
      val cap = 2000L
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("text"), col("n_chars"))
      val clones = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          col("n_chars"))
      val assetsDf = base.unionByName(clones)
        .select(col("doc_id").as("asset_id"), lit("audio").as("kind"),
          col("text").cast("binary").as("payload"),
          (lit(6.0) + least(col("n_chars"), lit(700)).cast("double") / 50.0)
            .as("duration_sec"))
      val assets = assetsDf.as[graft.multimodal.MediaAsset]
      val dec = new graft.multimodal.HashPcmDecoder
      // ONE fingerprint pass (round 14): the per-window decode is the
      // row's dominant cost and both arms consumed it — the banded arm
      // internally, the brute arm on the sub-corpus (a per-asset-
      // deterministic derivation, so filtering the shared relation is
      // value-identical to re-deriving from filtered assets; pinned in
      // MultiModalSpec). Persisted once, handed to both.
      val allFps = graft.core.Caches.persistTracked(
        graft.multimodal.MultiModal.audioFingerprints(
          assets, dec, sampleRate = 512, frameLen = 512, hop = 1280))
      val bandedAll = graft.multimodal.MultiModal.audioNearDuplicates(
        assets, dec, maxHamming = 3, minSharedWindows = 2,
        sampleRate = 512, frameLen = 512, hop = 1280, fpsOpt = Some(allFps))
      val inS = (c: Column) => c < cap || (c >= 10000000L && c < 10000000L + cap)
      val banded = bandedAll.where(inS(col("audio_a")) && inS(col("audio_b")))
      // Brute arm: same deterministic fingerprints on the sub-corpus,
      // all-pairs Hamming written bit_count(~xor) >= 61 (rule-proof).
      val subFps = allFps.where(inS(col("asset_id")))
      val fa = subFps.select(col("asset_id").as("va"), col("window_idx").as("wa"),
        col("fp").as("ha"))
      val fb = subFps.select(col("asset_id").as("vb"), col("window_idx").as("wb"),
        col("fp").as("hb"))
      val brute = fa.join(fb,
          bit_count(bitwise_not(col("ha").bitwiseXOR(col("hb")))) >= lit(61) &&
            (col("va") * 1000000L + col("wa")) < (col("vb") * 1000000L + col("wb")) &&
            col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("audio_a"),
          greatest(col("va"), col("vb")).as("audio_b"))
        .groupBy(col("audio_a"), col("audio_b"))
        .agg(count(lit(1)).as("n_window_pairs"))
        .where(col("n_window_pairs") >= 2)
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)),
          Seq("audio_a", "audio_b", "n_window_pairs"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      assetsDf.agg(count(lit(1)).as("n_audios")).crossJoin(broadcast(cmp))
    }),
    "q147_kcore_dup_families" -> ((s, d) => {
      // §2.11 k-core density grading of the duplicate graph:
      // connected components (q84) answer "reachable at all"; the
      // k-core (Seidman 1983) answers "mutually dense" — template
      // families whose EVERY member near-duplicates >= k others, vs
      // incidental one-off pairs. Organic edges = q84's exact >= 0.8
      // Jaccard pairs; the q143 planting discipline adds a
      // deterministic scaffold (6-clique, triangle ladder, pendant
      // star on ids far above any doc_id) so both verdict arms AND a
      // deep one-vertex-per-round cascade are exercised at every SF.
      // Exactness rides the per-vertex certificate (ops/KCore.scala:
      // validity of every kept vertex + inductive exclusion
      // certificate of every removed vertex pins kept == k-core
      // exactly); the oracle recomputes full-graph degrees and pins
      // every certificate TRUE.
      import s.implicits._
      val docs = documents(s, d)
      val organic = Dedup.jaccardJoinExact(docs, "text", "doc_id", 0.8)
        .select(col("id_a"), col("id_b"))
      val planted = kcorePlantedEdges.toDF("id_a", "id_b")
      graft.ops.KCore.kCoreCertified(
          organic.unionByName(planted), "id_a", "id_b", k = 3)
        .select(col("id").as("doc_id"), col("degree"), col("certified"))
        .orderBy(col("doc_id"))
    }),
    "q148_multipattern_blocklist" -> ((s, d) => {
      // §2.11 PHRASE blocklist (the UT1 half q104's word-set
      // intersection cannot see): which lexicon entries occur in each
      // document as raw substrings — multi-word phrases, intra-word
      // and cross-word-boundary fragments, nested patterns included.
      // One Aho-Corasick pass per row (functions/MultiMatch.scala),
      // O(|text|) regardless of lexicon size; the oracle replays the
      // naive O(N*|text|) contains-filter, so equality pins the
      // automaton (fail links, dict-suffix chains, nesting) exactly.
      // The lexicon is written in the same order in both engines —
      // match output is list-ordered, never sorted.
      val m = graft.ops.Blocklist.phraseMatches(
        coalesce(col("text"), lit("")), phraseLexicon)
      documents(s, d)
        .select(col("doc_id"), array_join(m, "|").as("matched"),
          size(m).as("n_matched"))
        .orderBy(col("doc_id"))
    }),
    "q149_ensemble_dup_families" -> ((s, d) => {
      // §2.11 capstone: ONE provenance-tagged duplicate graph from
      // three independent signals — exact content (bit 1, star edges),
      // lexical Jaccard >= 0.8 (bit 2, the q30/q84 prefix-filtered
      // join), embedding cosine >= 0.4 within label blocks (bit 4,
      // q59's pair set) — closed under cross-signal connectivity, so a
      // family visible only transitively ACROSS detectors (A~B
      // lexically, B~C semantically) still lands in one family. Output
      // per doc: family, size, the bitmask of signals connecting the
      // family, canonical verdict. The oracle recomputes all three
      // edge sets (all-pairs exact — star vs all-pairs closure and
      // family-level signal presence are identical), the closure with
      // a recursive CTE, and the same bit_or rollups.
      val docs = documents(s, d)
      val emb = embeddings(s, d)
      graft.ops.EnsembleDedup.standardDupFamilies(docs, "text", "doc_id",
          emb, "embedding", "vec_id", "label",
          jaccardThreshold = 0.8, cosineThreshold = 0.4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q150_incremental_families" -> ((s, d) => {
      // §2.11 incremental form of q149: the corpus (doc_id % 10 < 8)
      // carries standing families; the batch (% 10 >= 8) is assigned
      // WITHOUT re-closing the corpus graph — batch-incident signals
      // only (R-S jaccard + batch self-join, hash-equality exact,
      // label-blocked cosine with one batch side), corpus endpoints
      // collapsed to family supernodes (exact: family id = min member
      // id, so the collapsed closure IS the full closure). The oracle
      // is the FULL q149 recompute over all documents restricted to
      // batch rows — incremental == from-scratch is the equivalence
      // that makes daily appends trustworthy. The prior is the
      // SESSION-SHARED relation (built once per session/dir, see
      // familyPrior) — a deployment reads it from the store, so only
      // the batch-grain stages remain per batch.
      val docs = documents(s, d)
      val batch = docs.where(isFamilyBatch(col("doc_id")))
      graft.ops.EnsembleDedup.assignToFamilies(batch, "doc_id",
          familyPrior(s, d), familyBatchSignals(s, d))
        .drop("n_absorbed")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q151_span_corruption" -> ((s, d) =>
      // §2.11 augmentation: deterministic T5-style span corruption —
      // each full 20-token block gets one 3-token span masked at an
      // md5-drawn offset (15% corruption, reproducible across engines,
      // epochs fold into the salt), sentinel in the corrupted text,
      // sentinel + masked tokens in the target. Block-local placement
      // keeps the construction closed-form array slices — map-only,
      // no shuffle, no sequential overlap scan — in BOTH engines, so
      // the oracle recomputes every string exactly.
      graft.ops.Augment.spanCorrupt(documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),
    "q152_sequence_packing" -> ((s, d) =>
      // §2.11 augmentation: GPT-style sequence packing — the corpus
      // concatenated in doc_id order with <eod> after every document
      // and cut into fixed 64-token training sequences that CROSS
      // document boundaries (q78 packs at doc grain; this is the
      // token-grain loader step). Global positions ride the two-phase
      // distributed prefix scan (per-partition totals + broadcast
      // offsets — bounded driver state), then ONE token-grain shuffle
      // to sequence ids; the oracle recomputes the same stream with a
      // window-form prefix at gate scale. Full-value: every sequence
      // string, token count, and doc-span count must match.
      graft.ops.SequencePack.pack(documents(s, d), "text", "doc_id", 64)
        .orderBy(col("seq_id"))),
    "q153_bpe_train" -> ((s, d) => {
      // §2.11 tokenization: distributed BPE training — ONE corpus scan
      // builds the distinct-word histogram; each of the 20 merge
      // rounds is a map-side-combined pair count over that histogram
      // plus a ONE-row argmax collect (bounded driver state, the
      // k-core discipline) and a map-only merge application. The
      // oracle replays all 20 rounds in chained CTEs: same pair
      // counts, same (count DESC, a, b) tie-break, same two-pass
      // replace fixpoint — the merge table must match round for round.
      val merges = sharedBpeMerges(s, d)
      import s.implicits._
      merges.map(m => (m.rank.toLong, m.a, m.b, m.count))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count")
        .orderBy(col("merge_rank"))
    }),
    "q154_bpe_sequence_packing" -> ((s, d) => {
      // q152's GPT packing with the whitespace convention replaced by
      // the TRAINED q153 tokenizer: every word maps through the full
      // merge sequence (nested codegen'd replace — map-only, no
      // dictionary join), <eod> separates documents, 64-token cuts
      // cross document boundaries. The oracle re-trains the vocab in
      // SQL, tokenizes via the final word table (training composition
      // == per-word fold, so the join-by-word form is exact), and
      // re-packs with the window-form prefix. Full-value: every
      // sequence string must match.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      graft.ops.SequencePack.packTokens(docs,
          concat(graft.ops.Bpe.tokenize(col("text"), merges),
            array(lit("<eod>"))), "doc_id", 64)
        .orderBy(col("seq_id"))
    }),
    "q155_classifier_train" -> ((s, d) =>
      // §2.11 training: full-batch gradient descent for the hashed
      // bag-of-words linear classifier in EXACT integer arithmetic —
      // micro-unit weights, hard-sigmoid link, floor-division updates
      // — so the DuckDB oracle replays the entire 3-epoch schedule
      // bit for bit (z -> residual -> gradient -> weight, all BIGINT).
      // Label: long documents (>= 250 chars). The doc-grain feature
      // relation is built once; each epoch is one Spark job (one
      // aggregate over it) and the 64 weights live on the driver.
      graft.ops.LinearTrainer.train(documents(s, d), "text", "doc_id",
        when(length(col("text")) >= 250, lit(1L)).otherwise(lit(0L)),
        buckets = 64, epochs = 3)),
    "q156_store_backed_families" -> ((s, d) => {
      // q150's incremental assignment with the prior read from a
      // WRITTEN STORE (COVERAGE.md Session-8 deployment shape): the q149
      // ensemble is computed once, written to parquet, and the
      // returned plan reads that table — the assign arm's plan
      // contains NO prior recompute (the store build runs eagerly at
      // construction, FROM the session-shared prior — one write of a
      // skinny id-grain relation; a deployment amortizes it across
      // batches). Same oracle as q150: store-backed == in-query ==
      // from-scratch.
      val docs = documents(s, d)
      val batch = docs.where(isFamilyBatch(col("doc_id")))
      val base = runStore(s, "fam_q156", d, "").basePath
      familyPrior(s, d).write.mode("overwrite").parquet(base)
      val prior = s.read.parquet(base)
      graft.ops.EnsembleDedup.assignToFamilies(batch, "doc_id", prior,
          familyBatchSignals(s, d))
        .drop("n_absorbed")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q157_json_schema" -> ((s, d) =>
      // q19's JSON extraction through a SCHEMA'D one-shot from_json
      // instead of per-access get_json_object — at event-log scan
      // grain the parse happens once per row into a typed struct, the
      // form that survives 100 TB (and the only one that does if more
      // than one key is ever read). Same oracle as q19: the rewrite
      // must be value-identical, malformed/missing keys -> 0.
      // k is read as STRING and cast — get_json_object (q19) and the
      // oracle's json_extract_string + CAST both coerce a quoted
      // numeric like {"k":"5"} to 5, which from_json(LongType) would
      // silently null out; StringType + cast matches that coercion on
      // every input, not just the generator's unquoted numerics.
      events(s, d)
        .select(col("event_id"),
          coalesce(from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.StringType))))
            .getField("k").cast("long"), lit(0L)).as("k"))
        .orderBy(col("event_id"))),
    "q158_exact_substring_spans" -> ((s, d) => {
      // §2.11 span dedup, EXACT form (Lee et al. 2022 ExactSubstr):
      // maximal token ranges covered by 12-grams appearing verbatim in
      // >= 2 distinct documents — gram-string grouping (collision-
      // free), semi-join probe, gaps-and-islands interval merge. The
      // corpus is augmented with PLANTED suffix clones (doc_id+700000
      // carrying tokens 6.. of every doc_id % 17 == 3 document) so
      // long partial overlaps exist by construction alongside the
      // organic exact-duplicate pairs. Oracle recomputes spans and
      // their text in full.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val toks = graft.ops.Lexical.tokens(col("text"))
      val planted = docs0.where(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 700000L).as("doc_id"),
          array_join(slice(toks, lit(6), greatest(size(toks) - 5, lit(0))), " ")
            .as("text"))
      graft.ops.SpanDedup.maximalDuplicatedSpans(
          docs0.unionByName(planted), "text", "doc_id", minLen = 12)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    }),
    "q159_mlm_mask" -> ((s, d) =>
      // §2.11 augmentation: deterministic BERT-style MLM masking —
      // 15% of positions drawn by md5(salt:doc:pos), 80/10/10
      // [MASK]/keep/in-doc-replacement split, all three draws
      // closed-form per token (map-only, zero shuffle). The oracle
      // recomputes every masked string, target list, and count.
      graft.ops.Augment.mlmMask(documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))),
    "q160_preference_pairs" -> ((s, d) => {
      // §2.11 post-training data: RLHF/DPO preference-pair
      // construction — per (source, lang) prompt-surrogate group, the
      // best/worst documents under the integer-exact hashed linear
      // score with (score, id) total-order tie-break; pairs below a
      // 1-micro margin (and degenerate groups) drop. One group-grain
      // shuffle, two windows on the same partitioning, group-grain
      // join. Oracle: q127's scorer CTE + the same windows.
      val docs = documents(s, d)
      val scored = graft.ops.HashedClassifier.score(docs, "text", "doc_id")
      val keyed = docs.select(col("doc_id").as("id"),
          col("source"), col("lang"))
        .join(scored.select(col("id"), col("score_micro")), Seq("id"))
      graft.ops.PreferencePairs.fromScores(keyed,
          Seq("source", "lang"), "id", "score_micro", minMargin = 1L)
        .orderBy(col("source"), col("lang"))
    }),
    "q162_family_store_updates" -> ((s, d) => {
      // §2.11: the STORE-UPDATE relation of the incremental family
      // assignment (assignToFamiliesWithUpdates._2) — one row per
      // standing family pulled into the batch closure, with its new
      // family id and the merged family's final size/bitmask; the
      // relation a writer applies to keep a standing family store
      // consistent. Oracle: full recompute — a standing (corpus-only
      // closure) family appears iff its full-closure component
      // contains a batch doc, new_family/size/signals read from the
      // full closure. Exact by the same supernode argument q150 pins.
      // Prior = the session-shared relation (familyPrior).
      val docs = documents(s, d)
      val batch = docs.where(isFamilyBatch(col("doc_id")))
      graft.ops.EnsembleDedup.assignToFamiliesWithUpdates(
          batch, "doc_id", familyPrior(s, d), familyBatchSignals(s, d))
        ._2
        .orderBy(col("old_family"))
    }),
    "q161_contrastive_triplets" -> ((s, d) =>
      // §2.11 training-data: contrastive (anchor, positive,
      // hard-negative) triplet mining — per anchor the strongest
      // same-label neighbor at cosine >= 0.4 and the hardest one
      // below it, ranked (cosine DESC, id) — q28/q29's tie
      // discipline, q59's label blocking (LSH buckets / ANN probes
      // are the documented corpus-scale stand-ins). Oracle recomputes
      // both extremes with the same windows; cosines on the 4-decimal
      // grid.
      graft.ops.ContrastivePairs.hardTriplets(embeddings(s, d),
          "embedding", "vec_id", "label", posThreshold = 0.4)
        .orderBy(col("anchor_id"))),
    "q163_preference_pairs_topk" -> ((s, d) => {
      // §2.11 post-training data: k-pair DPO mining — pair i = (i-th
      // best, i-th worst) per (source, lang) group, the outside-in
      // rank pairing of ranked-completion collection (k=3 here), same
      // integer scorer and margin discipline as q160. Crossed pairs
      // (i past the middle of a small group) and self-pairs drop via
      // the margin/identity guards. Same one-shuffle shape: both
      // rank-k windows share one group-grain partitioning and
      // WindowGroupLimit prunes past rank k before the pair join.
      val docs = documents(s, d)
      val scored = graft.ops.HashedClassifier.score(docs, "text", "doc_id")
      val keyed = docs.select(col("doc_id").as("id"),
          col("source"), col("lang"))
        .join(scored.select(col("id"), col("score_micro")), Seq("id"))
      graft.ops.PreferencePairs.fromScoresTopK(keyed,
          Seq("source", "lang"), "id", "score_micro", pairsPerGroup = 3,
          minMargin = 1L)
        .orderBy(col("source"), col("lang"), col("pair_rank"))
    }),
    "q164_classifier_minibatch" -> ((s, d) =>
      // §2.11 training: q155's integer-exact trainer in deterministic
      // MINI-BATCH form — each epoch is 4 sequential gradient steps
      // over md5-hash-assigned batches (no sampling, no example
      // order), learning rate 1/(16 × batch size), weights of buckets
      // absent from a batch carried unchanged (left-join update). The
      // oracle replays the full 2-epoch × 4-batch schedule in BIGINT
      // CTEs; numBatches=1 reduces exactly to q155's path (TrainSpec
      // pin).
      graft.ops.LinearTrainer.trainMiniBatch(documents(s, d), "text",
        "doc_id",
        when(length(col("text")) >= 250, lit(1L)).otherwise(lit(0L)),
        buckets = 64, epochs = 2, numBatches = 4)),
    "q165_bpe_dict_packing" -> ((s, d) => {
      // §2.11 tokenization: q154's train → tokenize → pack through the
      // BROADCAST-DICTIONARY tokenize path — distinct words pay the
      // merge fold ONCE in a distributed dictionary stage (cost ∝
      // vocabulary, not corpus), occurrences resolve by word join;
      // the large-vocabulary posture (a 50k-merge vocab degrades the
      // per-JVM word cache, never the dictionary join). Same oracle
      // as q154: native cache == dictionary == SQL word-table replay.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      val toked = graft.ops.Bpe.tokenizeByDict(docs, "text", "doc_id", merges)
      graft.ops.SequencePack.packTokens(toked,
          concat(col("tokens"), array(lit("<eod>"))), "doc_id", 64)
        .orderBy(col("seq_id"))
    }),
    "q166_bpe_budget_shards" -> ((s, d) => {
      // §2.11 end-to-end trained-tokenizer stream: train (q153) →
      // native tokenize → per-source token-budget cap (q128's op on
      // BPE counts instead of the whitespace convention) → shard
      // packing of the kept prefix (q78's two-phase exclusive scan,
      // weighted by BPE tokens). One window shuffle for the cap, one
      // range shuffle for the shards; the oracle replays training and
      // recomputes both prefix sums in window form.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      val toked = docs.select(col("doc_id"), col("source"),
        graft.ops.Bpe.tokenize(col("text"), merges).as("__toks"))
      val capped = graft.ops.BudgetCap.capByCount(toked,
        size(col("__toks")), "doc_id", "source", budgetTokens = 2000L)
      val kept = capped.where(col("kept"))
      val shards = graft.ops.Packing.assignShards(
        kept.select(col("id"), col("n_tokens")), "id", "n_tokens", 5000L)
      kept.join(shards, Seq("id"))
        .select(col("grp"), col("id"), col("n_tokens"), col("cum_tokens"),
          col("shard"))
        .orderBy(col("grp"), col("id"))
    }),
    "q167_contrastive_ann" -> ((s, d) => {
      // §2.11 training-data, CORPUS-SCALE form of q161: triplets for a
      // bounded anchor set with NO label blocking and NO Σ|block|²
      // stage — positives probed from LSH sign buckets (anchor-side
      // multi-probe R-S join), hard negatives from the vector index —
      // since round 12 through the IVFADC shortlist PAST the measured
      // break-even (see the dispatch below; q175 pins ADC == the
      // plain probe at a covering shortlist, and FLOORS measured the
      // un-prefiltered arm at 79.4s vs the ADC arm's ~24s at sf10m —
      // the round-11 #1 ask). Pair volume ∝
      // anchors × bucket size + anchors × shortlist (exact-cosine
      // stage; the PQ scan stays ∝ anchors × corpus × nprobe / nlist
      // but touches m=4 small ints per row). shortlist = 256 = 4×k:
      // ≥ the probed candidate count at gate scale (≤ ~1k vectors, so
      // ADC == plain there and the TrainSpec recall floor is
      // unchanged); beyond that it is the documented recall/scan-cut
      // knob — and the SHUFFLE knob: the shortlist rank's partial
      // top-k keeps `shortlist` rows per (anchor, partition), so
      // FLOORS.json q167 at sf10m measures sl256 at 59-64 s vs the exact
      // arm's 73-83 s while sl1024's 4× partial volume gives the win
      // back (71-117 s). LSH/IVF/ADC recall < 1 by design, so the oracle is the
      // q67-discipline SOUNDNESS envelope: every emitted triplet
      // re-verified against the raw embeddings (cosines exact on the
      // 4-decimal grid — the ADC rescore is exact, so soundness is
      // shortlist-independent; positive >= threshold > negative, ids
      // distinct, one triplet per anchor); the exact-parameter
      // equivalence to the blocked form is TrainSpec's pin.
      import graft.functions.VectorFunctions.vecCosine
      val emb = embeddings(s, d)
      val anchors = emb.where(col("vec_id") % 50 === 0)
      val nEmb = parquetRowCount(s, s"$d/embeddings.parquet")
      // STANDING index since round 13: the build is ensured once per
      // (run, dataset) and shared with q175's two arms — see
      // ensureStandingVectorIndex; geometry unchanged from the
      // measured round-12 sizing, so results are bit-identical to the
      // per-query-build spelling. Below the break-even this arm probes
      // PLAIN, so it requests only the coarse half (needPq) — the PQ
      // tables get layered on in place by the first ADC consumer
      // (q175, or this query past 2^16), keeping the small-scale cost
      // at the old writeIvfIndex level.
      val prefix = ensureStandingVectorIndex(s, d, nEmb,
        needPq = nEmb >= (1L << 16))
      // MEASURED DISPATCH (the Boilerplate/bloom break-even
      // discipline): the PQ half costs a flat few seconds of extra
      // index build + catalog writes (FLOORS.json q167, sf10m: build_ivf
      // 14-19 s vs build_ivfpq 19-22 s), and the ADC 4-lookup scan
      // undercuts the 64-dim cosine on the anchors × corpus ×
      // nprobe/nlist candidate stream (search 59-64 s vs 73-83 s at
      // sf10m, sl256) — but at small corpora the flat build/catalog
      // overhead dominates (sf0.1, 2k vectors: plain 3.0 s vs ADC
      // 10.5 s in-query). Break-even lands near corpus ≈ 64k at the
      // %50 anchor density, so below 2^16 vectors the plain probe IS
      // the right plan and above it the ADC shortlist is; a STANDING
      // index deployment amortizes the build and takes the ADC arm
      // earlier. Both arms share the soundness envelope (the rescore
      // is exact either way), so the oracle is arm-independent.
      val trip =
        if (nEmb < (1L << 16))
          graft.ops.ContrastivePairs.hardTripletsAnnIndexed(
            emb, "embedding", "vec_id", anchors, posThreshold = 0.4,
            numPlanes = adaptivePlanes(nEmb), nprobe = 4, k = 64,
            tablePrefix = prefix)
        else
          graft.ops.ContrastivePairs.hardTripletsAnnAdcIndexed(
            emb, "embedding", "vec_id", anchors, posThreshold = 0.4,
            numPlanes = adaptivePlanes(nEmb), nprobe = 4, k = 64,
            shortlist = 256, tablePrefix = prefix)
      val ver = trip
        .join(emb.select(col("vec_id").as("anchor_id"),
          col("embedding").as("__ea")), "anchor_id")
        .join(emb.select(col("vec_id").as("positive_id"),
          col("embedding").as("__ep")), "positive_id")
        .join(emb.select(col("vec_id").as("negative_id"),
          col("embedding").as("__en")), "negative_id")
        .select(col("anchor_id"),
          (round(vecCosine(col("__ea"), col("__ep")), 4) === col("pos_cos") &&
            vecCosine(col("__ea"), col("__ep")) >= 0.4).as("__pos_ok"),
          (round(vecCosine(col("__ea"), col("__en")), 4) === col("neg_cos") &&
            vecCosine(col("__ea"), col("__en")) < 0.4).as("__neg_ok"),
          (col("anchor_id") =!= col("positive_id") &&
            col("anchor_id") =!= col("negative_id") &&
            col("positive_id") =!= col("negative_id")).as("__ids_ok"))
      // Recall non-vacuity is a SPEC-level floor (TrainSpec runs this
      // exact parameterization over the sf0.01 corpus and asserts
      // triplets exist), not a hard oracle column: a hard TRUE
      // has_triplets would fail certification on any future gate
      // corpus where no anchor happens to clear both ANN arms even
      // though the implementation is correct (advisor round-10 note).
      anchors.agg(count(lit(1)).as("n_anchors"))
        .crossJoin(ver.agg(
          coalesce(every(col("__pos_ok")), lit(true)).as("pos_sound"),
          coalesce(every(col("__neg_ok")), lit(true)).as("neg_sound"),
          coalesce(every(col("__ids_ok")), lit(true)).as("ids_distinct"),
          (count_distinct(col("anchor_id")) === count(lit(1)))
            .as("anchors_unique")))
    }),
    "q168_bpe_vocab" -> ((s, d) => {
      // §2.11 tokenization: the trained VOCABULARY as (token, token_id)
      // — GPT-2's id convention re-derived: base symbols 0..B-1 in
      // binary order, merge r's symbol at B+r-1, duplicate merge
      // strings keep the earliest id. Both relations vocabulary-sized
      // (bounded id-assignment window, never corpus-proportional).
      // The oracle rebuilds the same ids from the training replay.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      graft.ops.Bpe.vocabTable(docs, "text", merges)
        .orderBy(col("token_id"), col("token"))
    }),
    "q169_bpe_token_ids" -> ((s, d) => {
      // §2.11 tokenization: encode to INTEGER IDS — the artifact the
      // training loader consumes: dictionary-join tokenize with the
      // per-word subword arrays mapped through the broadcast q168
      // vocabulary at DICTIONARY grain (the occurrence join pays
      // nothing extra). n_unk pins total coverage on the training
      // corpus (every emitted subword is a composition of base
      // symbols through the merge table, so -1 never appears here).
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      val vocab = graft.ops.Bpe.vocabTable(docs, "text", merges)
      graft.ops.Bpe.tokenizeToIds(docs, "text", "doc_id", merges, vocab)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), i => i.cast("string")),
            " ").as("ids_str"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), i => i < 0)).cast("long")
            .as("n_unk"))
        .orderBy(col("doc_id"))
    }),
    "q170_repetition_filter" -> ((s, d) => {
      // §2.11 quality: the Gopher REPETITION signals (Rae et al. 2021
      // Table A1) the length/stopword rules don't see — duplicate-line
      // fraction and top-2-gram occurrence fraction, all integers,
      // map-only (the bigram mode = longest equal-run of the sorted
      // bigram array, one linear HOF pass). PLANTED repeated-line docs
      // (doc_id + 2^40 — disjoint from any scaled id space, unlike a
      // small constant organic ScaleUp ids can reach; the first-6-token
      // line repeated 5x) guarantee both flags fire on the gate
      // corpora; flags cross-multiply exactly (Gopher's 30%/20% cuts).
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val toks = graft.ops.Lexical.tokens(col("text"))
      val planted = docs0.where(col("doc_id") % 23 === 1)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          array_join(array_repeat(array_join(slice(toks, 1, 6), " "), 5),
            "\n").as("text"))
      val st = graft.ops.QualityFilter.repetitionStats(col("text"))
      docs0.unionByName(planted)
        .select(col("doc_id"),
          st.getField("n_lines").as("n_lines"),
          st.getField("dup_lines").as("dup_lines"),
          st.getField("n_2grams").as("n_2grams"),
          st.getField("top_2gram_n").as("top_2gram_n"))
        .withColumn("dup_line_flag",
          col("dup_lines") * 100 > lit(30L) * col("n_lines"))
        .withColumn("top_2gram_flag",
          col("top_2gram_n") * 100 > lit(20L) * col("n_2grams"))
        .orderBy(col("doc_id"))
    }),
    "q171_boilerplate_lines" -> ((s, d) => {
      // §2.11 quality: CROSS-DOCUMENT boilerplate line removal (the
      // C4/MassiveText/RefinedWeb line filter) — lines in >= 3
      // distinct documents strip, order-preserving rebuild, decision
      // keyed on xxhash64 line hashes end to end (skinny shuffle; the
      // oracle replays the identical hash convention via the planted
      // footers' known text). PLANTED footer lines (appended to
      // doc_id % 7 == 2 and % 5 == 3 — two overlapping boilerplate
      // populations) guarantee removals on the gate corpora; organic
      // lines are a per-corpus question the lineStats relation
      // answers.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val withFooters = docs0.select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 7 === 2,
            lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 5 === 3,
            lit("\nall rights reserved worldwide")).otherwise(lit("")))
          .as("text"))
      graft.ops.Boilerplate.removeCommonLines(
          withFooters, "text", "doc_id", minDocs = 3L)
        .orderBy(col("doc_id"))
    }),
    "q172_topngram_filter" -> ((s, d) => {
      // §2.11 quality: Gopher's FULL top-n-gram family (Table A1 cuts
      // 20/18/16% for n = 2/3/4) — the within-document mode fraction
      // at each n, all integers, one linear sorted-run pass per n,
      // map-only. Planted docs repeat the FIRST-2-TOKEN line 8x (an
      // alternating a-b token stream whose mode fraction exceeds all
      // three cuts — q170's 6-token/5x shape lands BETWEEN the 18%
      // and 20% cuts and fires only some flags).
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val toks = graft.ops.Lexical.tokens(col("text"))
      val planted = docs0.where(col("doc_id") % 23 === 1)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          array_join(array_repeat(array_join(slice(toks, 1, 2), " "), 8),
            "\n").as("text"))
      // ONE native tokenize pass feeds all three stats
      // (MultiNgramStatsExpr: exact gram identity over interned token
      // ids — no per-gram string materialization, no sorts; the
      // round-10 HOF spelling re-tokenized and sorted string grams
      // per n, 3-4x the per-row constant). The two-stage select binds
      // the vector once; values are identical to the string-gram
      // oracle replay (exact identity, not a hash trade).
      val ns = Seq(2, 3, 4)
      docs0.unionByName(planted)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.multiNgramStats(col("text"), ns).as("__v"))
        .select(col("doc_id") +: ns.zipWithIndex.flatMap { case (n, k) => Seq(
          element_at(col("__v"), 3 + k * 5).as(s"n_${n}grams"),
          element_at(col("__v"), 4 + k * 5).as(s"top_${n}gram_n")) }: _*)
        .withColumn("flag_2", col("top_2gram_n") * 100 > lit(20L) * col("n_2grams"))
        .withColumn("flag_3", col("top_3gram_n") * 100 > lit(18L) * col("n_3grams"))
        .withColumn("flag_4", col("top_4gram_n") * 100 > lit(16L) * col("n_4grams"))
        .orderBy(col("doc_id"))
    }),
    "q173_segment_dup_filter" -> ((s, d) => {
      // §2.11 quality: the duplicate-LINE/PARAGRAPH halves of Gopher
      // Table A1 the count-only q170 doesn't cover — count AND
      // character fractions at the published 30/30/20/20 cuts, both
      // separators from one map-only pass each (sorted (hash, len)
      // fold — occurrences beyond the first of each distinct segment,
      // the documented convention). PLANTED repeated-line docs
      // (q170's shape) fire the line rules; repeated-paragraph plants
      // ("\n\n"-joined, the G1 separator) fire the paragraph rules.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val toks = graft.ops.Lexical.tokens(col("text"))
      val plantedLn = docs0.where(col("doc_id") % 23 === 1)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          array_join(array_repeat(array_join(slice(toks, 1, 6), " "), 5),
            "\n").as("text"))
      val plantedPg = docs0.where(col("doc_id") % 23 === 2)
        .select((col("doc_id") + (1L << 41)).as("doc_id"),
          array_join(array_repeat(array_join(slice(toks, 1, 8), " "), 4),
            "\n\n").as("text"))
      val ln = graft.ops.QualityFilter.segmentDupStats(col("text"), "\n")
      val pg = graft.ops.QualityFilter.segmentDupStats(col("text"), "\n\n")
      docs0.unionByName(plantedLn).unionByName(plantedPg)
        .select(col("doc_id"),
          ln.getField("n_segs").as("n_lines"),
          ln.getField("dup_segs").as("dup_lines"),
          ln.getField("total_chars").as("line_chars"),
          ln.getField("dup_chars").as("dup_line_chars"),
          pg.getField("n_segs").as("n_paras"),
          pg.getField("dup_segs").as("dup_paras"),
          pg.getField("total_chars").as("para_chars"),
          pg.getField("dup_chars").as("dup_para_chars"))
        .withColumn("dup_line_flag",
          col("dup_lines") * 100 > lit(30L) * col("n_lines"))
        .withColumn("dup_para_flag",
          col("dup_paras") * 100 > lit(30L) * col("n_paras"))
        .withColumn("dup_line_char_flag",
          col("dup_line_chars") * 100 > lit(20L) * col("line_chars"))
        .withColumn("dup_para_char_flag",
          col("dup_para_chars") * 100 > lit(20L) * col("para_chars"))
        .orderBy(col("doc_id"))
    }),
    "q174_dupgram_char_filter" -> ((s, d) => {
      // §2.11 quality: the CHARACTER-fraction n-gram rows of Gopher
      // Table A1 — top-{2,3,4}-gram char fractions (20/18/16%) and
      // duplicate-{5..10}-gram char fractions (15..10%), all from ONE
      // native multi-n pass (top_chars = count x token-char mass of
      // the argmax gram, ties toward larger mass; dup_chars = union
      // coverage of duplicate-gram windows — each token position
      // counted once). PLANTED docs: a 12-token prefix repeated 4x
      // (every 5..10-gram duplicated -> all six dup rules fire) and
      // q172's 2-token x8 plant (top rules fire).
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val toks = graft.ops.Lexical.tokens(col("text"))
      val plantedRun = docs0.where(col("doc_id") % 23 === 1)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          array_join(array_repeat(array_join(slice(toks, 1, 12), " "), 4),
            " ").as("text"))
      val plantedTop = docs0.where(col("doc_id") % 23 === 2)
        .select((col("doc_id") + (1L << 41)).as("doc_id"),
          array_join(array_repeat(array_join(slice(toks, 1, 2), " "), 8),
            " ").as("text"))
      val topNs = Seq(2, 3, 4)
      val dupNs = Seq(5, 6, 7, 8, 9, 10)
      val ns = topNs ++ dupNs
      val topCuts = Map(2 -> 20L, 3 -> 18L, 4 -> 16L)
      val dupCuts = Map(5 -> 15L, 6 -> 14L, 7 -> 13L, 8 -> 12L,
        9 -> 11L, 10 -> 10L)
      docs0.unionByName(plantedRun).unionByName(plantedTop)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.multiNgramStats(col("text"), ns).as("__v"))
        .select(Seq(col("doc_id"), element_at(col("__v"), 2).as("sum_chars")) ++
          topNs.map(n => element_at(col("__v"), 5 + ns.indexOf(n) * 5)
            .as(s"top_${n}gram_chars")) ++
          dupNs.map(n => element_at(col("__v"), 7 + ns.indexOf(n) * 5)
            .as(s"dup_${n}gram_chars")) ++
          topNs.map(n => (element_at(col("__v"), 5 + ns.indexOf(n) * 5) * 100 >
            lit(topCuts(n)) * element_at(col("__v"), 2)).as(s"flag_top_$n")) ++
          dupNs.map(n => (element_at(col("__v"), 7 + ns.indexOf(n) * 5) * 100 >
            lit(dupCuts(n)) * element_at(col("__v"), 2)).as(s"flag_dup_$n")): _*)
        .orderBy(col("doc_id"))
    }),
    "q177_bpe_byte_vocab" -> ((s, d) => {
      // §2.11 tokenization, BYTE-LEVEL convention (the GPT-2 family's,
      // RE2-safe — see Bpe.byteLevelPattern): category-regex pretokens
      // keep their leading space, symbols are UTF-8 bytes as hex
      // pairs, and the vocabulary's base alphabet is ALL 256 bytes
      // (ids 0..255 = the byte value) regardless of corpus — the
      // no-unk-by-construction property q178 pins. Merge ids follow
      // at 256 + rank - 1, earliest id winning duplicate strings.
      // Store-backed since round 13: the trained vocabulary is read
      // off the standing tokenization store (one train per run/corpus,
      // shared with q178/q180/q185/q189); the oracle replays the
      // train. needIds = false — this row reads only the tokenizer
      // half, so it must not be charged the corpus tokenize (the
      // store's expensive half, layered on by the first ids consumer).
      val prefix = ensureTokenStore(s, d, needIds = false)
      graft.ops.TokenStore.vocab(s, prefix)
        .orderBy(col("token_id"), col("token"))
    }),
    "q178_bpe_byte_ids" -> ((s, d) => {
      // §2.11 tokenization: byte-level encode to INTEGER IDS — q169's
      // dictionary-join shape under the byte-level convention. n_unk
      // pins 0 for EVERY document: every emission composes the 256
      // byte symbols through the merge table and the vocabulary
      // carries all 256 by construction (not just the corpus's).
      // Store-backed since round 13: (doc_id, token_ids) reads off the
      // standing tokenization store — the q176 discipline; the oracle
      // replays the full train + tokenize derivation store-free.
      val prefix = ensureTokenStore(s, d)
      graft.ops.TokenStore.ids(s, prefix)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), i => i.cast("string")),
            " ").as("ids_str"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), i => i < 0)).cast("long")
            .as("n_unk"))
        .orderBy(col("doc_id"))
    }),
    "q179_c4_line_filter" -> ((s, d) => {
      // §2.11 quality: the C4 line-heuristic pass (Raffel et al. 2020
      // §2.2) — terminal-punctuation + >=3-word + no-"javascript" line
      // retention, then the page funnel (< 5 sentences / lorem ipsum /
      // curly brace) in documented order. Map-only; sentence count =
      // terminal marks in the CLEANED text (documented convention,
      // mirrored in the oracle). PLANTS: %23==1 six well-formed
      // sentences (the keep path — organic synthetic text rarely ends
      // lines in terminals), %23==2 adds a lorem-ipsum line, %23==3
      // adds a curly-brace code line.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val toks = graft.ops.Lexical.tokens(col("text"))
      val sentence = concat(array_join(slice(toks, 1, 8), " "), lit("."))
      val sixLines = array_join(array_repeat(sentence, 6), "\n")
      val plantedGood = docs0.where(col("doc_id") % 23 === 1)
        .select((col("doc_id") + (1L << 40)).as("doc_id"),
          sixLines.as("text"))
      val plantedLorem = docs0.where(col("doc_id") % 23 === 2)
        .select((col("doc_id") + (1L << 41)).as("doc_id"),
          concat(sixLines, lit("\nLorem Ipsum dolor sit amet."))
            .as("text"))
      val plantedCurly = docs0.where(col("doc_id") % 23 === 3)
        .select((col("doc_id") + (1L << 42)).as("doc_id"),
          concat(sixLines, lit("\nif (x) { return 0; }")).as("text"))
      val st = graft.ops.C4Filter.lineCleanStats(col("text"))
      docs0.unionByName(plantedGood).unionByName(plantedLorem)
        .unionByName(plantedCurly)
        .select(col("doc_id"),
          st.getField("clean_text").as("clean_text"),
          st.getField("n_lines").as("n_lines"),
          st.getField("n_kept").as("n_kept"),
          st.getField("n_sentences").as("n_sentences"),
          graft.ops.QualityFilter.verdict(
            graft.ops.C4Filter.c4Rules(col("text"))).as("verdict"))
        .orderBy(col("doc_id"))
    }),
    "q176_boilerplate_store" -> ((s, d) => {
      // §2.11 quality: q171 against the MATERIALIZED line-stats store
      // — boilerplate counts as corpus-version state (the q141 corpus-
      // index discipline): half the corpus writes the store, the other
      // half APPENDS batch-grain partials (no history recount), and
      // removal runs against the bucket-locally merged standing
      // counts. Doc sets are disjoint, so merged counts == q171's
      // direct same-pass counts — the oracle is q171's verbatim.
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val withFooters = docs0.select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 7 === 2,
            lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
          when(col("doc_id") % 5 === 3,
            lit("\nall rights reserved worldwide")).otherwise(lit("")))
          .as("text"))
      val store = runStore(s, "linestats_q176", d, "")
      val prefix = store.tablePrefix
      graft.ops.Boilerplate.writeLineStats(
        withFooters.where(col("doc_id") % 2 === 0), "text", "doc_id",
        tablePrefix = prefix, basePath = store.basePath)
      graft.ops.Boilerplate.appendToLineStats(
        withFooters.where(col("doc_id") % 2 =!= 0), "text", "doc_id",
        tablePrefix = prefix)
      graft.ops.Boilerplate.removeAgainstLineStats(
          withFooters, "text", "doc_id", minDocs = 3L, tablePrefix = prefix)
        .orderBy(col("doc_id"))
    }),
    "q175_contrastive_ann_adc" -> ((s, d) => {
      // §2.11 training-data: the IVFADC negative arm (the q90/q91 PQ
      // machinery materialized into the vector index: probe scans m=4
      // codes per row, ADC top-shortlist, exact rescore only the
      // shortlist) EQUALITY-PINNED against the un-prefiltered plain
      // probe — since round 12 the ADC path is q167's default, and
      // THIS row is the proof it loses nothing: the scale-adaptive
      // max(2^20, nEmb) shortlist covers every probed candidate
      // (≈ nEmb × nprobe / nlist) at every scale by construction, so
      // ADC-prefiltered == the plain probe EXACTLY — the oracle pins
      // that equality (exceptAll both ways empty); production
      // shortlists (q167's 1024) trade negative-arm recall for the
      // scan cut (TrainSpec envelope; FLOORS measures the knob at
      // sf10m).
      val emb = embeddings(s, d)
      // Scale-adaptive anchor set: the equality pin needs only a
      // representative anchor sample, and this query runs BOTH arms
      // by design (2.5x q167's work) — at gate scales (<= 5k vectors)
      // the modulus stays 50 (q167's), beyond that it grows with the
      // corpus so the pinned double-mine stays a bounded-cost row
      // (~100 anchors) instead of 15% of the scale suite. The oracle
      // derives the same modulus from count(*).
      val nEmb = parquetRowCount(s, s"$d/embeddings.parquet")
      val anchorMod = math.max(50L, nEmb / 100L)
      val anchors = emb.where(col("vec_id") % anchorMod === 0)
      val np = adaptivePlanes(nEmb)
      // STANDING index since round 13 (shared with q167): BOTH arms
      // probe the SAME materialization, so the equality pin is now
      // also a same-centroids pin — before, each arm built its own
      // index (two of the suite's three redundant builds). Geometry
      // follows the standing sizing (nlist 16 -> 64 past 2^16); the
      // covering shortlist max(2^20, nEmb) >= probed-candidate count
      // at every nlist >= 4, so the pin's by-construction equality is
      // geometry-independent.
      val prefix = ensureStandingVectorIndex(s, d, nEmb)
      // SCALE-ADAPTIVE covering shortlist (advisor round-11): the
      // probed candidate count per anchor is ≈ nEmb × nprobe / nlist
      // = nEmb / 4, so max(2^20, nEmb) covers every probed candidate
      // at EVERY scale — a fixed 2^20 only covered it while
      // nEmb ≲ 4.2M, past which the equality pin would silently
      // truncate and flip false on a correct implementation.
      val covering = math.min(math.max(1L << 20, nEmb), Int.MaxValue.toLong).toInt
      val plain = graft.ops.ContrastivePairs.hardTripletsAnnIndexed(
        emb, "embedding", "vec_id", anchors, posThreshold = 0.4,
        numPlanes = np, nprobe = 4, k = 64, tablePrefix = prefix)
      val adc = graft.ops.ContrastivePairs.hardTripletsAnnAdcIndexed(
        emb, "embedding", "vec_id", anchors, posThreshold = 0.4,
        numPlanes = np, nprobe = 4, k = 64,
        shortlist = covering, tablePrefix = prefix)
      anchors.agg(count(lit(1)).as("n_anchors"))
        .crossJoin(
          adc.exceptAll(plain).agg(count(lit(1)).as("__d1"))
            .crossJoin(plain.exceptAll(adc).agg(count(lit(1)).as("__d2")))
            .select((col("__d1") === 0 && col("__d2") === 0)
              .as("adc_equals_exact")))
    }),
    "q180_token_decontamination" -> ((s, d) => {
      // §2.11 benchmark decontamination on TOKENIZER n-grams (GPT-3
      // App. C convention: overlap is defined on token n-grams of the
      // production tokenizer, not whitespace words): the corpus trains
      // the byte-level BPE (q177/q178's exact path), both splits
      // encode to integer ids at dictionary grain, and the eval set's
      // distinct id 4-grams broadcast against the map-only exploded
      // train side — q79's shape, one level below words. The word-
      // trigram arm (q79's op verbatim) rides along so the output
      // SHOWS the gap: the planted train docs (constant VALUES rows,
      // replayed verbatim by the oracle) cover BOTH word-blind
      // contamination modes — three rows share ONLY the rare word
      // "zqvxkwpthj" with the planted eval probe (a single shared
      // word can never span a word trigram), and a fourth shares the
      // TWO-word phrase "zqvxkwpthj rrthree" (still no three
      // consecutive shared words, but its id 4-grams STRADDLE the
      // word boundary inside the token stream) — so
      // tok_contaminated = true / word_contaminated = false on every
      // planted row at any scale.
      import s.implicits._
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val (plantTrain, plantEval) = decontPlants(s)
      val eval = docs.where(col("doc_id") % 97 === 0).unionByName(plantEval)
      val train = docs.where(col("doc_id") % 97 =!= 0).unionByName(plantTrain)
      // Store-backed since round 13 (the round-12 verdict's #1 ask —
      // this row's 53.4 s sf10m floor was ~2× a tokenize by
      // construction): corpus token ids read off the standing store;
      // only the PLANTED rows (constant, 5 docs) tokenize in-query
      // through the store's merges. The split restriction commutes
      // with tokenization (a doc's ids depend on the trained merges
      // only, never on other docs), so store-ids filtered by the
      // split predicate == tokenize-the-split — the oracle replays
      // the direct spelling and pins it.
      val prefix = ensureTokenStore(s, d)
      val merges = graft.ops.TokenStore.merges(s, prefix)
      val vocab = graft.ops.TokenStore.vocab(s, prefix)
      val storeIds = graft.ops.TokenStore.ids(s, prefix)
      val plantTrainIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantTrain, "text", "doc_id", merges, vocab)
      val plantEvalIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantEval, "text", "doc_id", merges, vocab)
      val tok = graft.ops.Decontaminate.tokenIdNgramOverlapFromIds(
        storeIds.where(col("doc_id") % 97 =!= 0).unionByName(plantTrainIds),
        storeIds.where(col("doc_id") % 97 === 0).unionByName(plantEvalIds),
        "doc_id", vocabSize = 256L + merges.length, n = 4)
      val word = graft.ops.Decontaminate.ngramOverlap(
        train, eval, "text", "doc_id", 3)
      tok.select(col("doc_id"), col("n_shared").as("n_tok_shared"),
          col("contaminated").as("tok_contaminated"))
        .join(word.select(col("doc_id"), col("n_shared").as("n_word_shared"),
          col("contaminated").as("word_contaminated")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q181_semantic_clusters_indexed" -> ((s, d) => {
      // §2.11 SemDeDup riding the MATERIALIZED IVFADC index (the
      // round-11 verdict's item 6): q88's cluster/keep relation with
      // the pair family mined by Components.dedupClustersIndexed —
      // index build → every vector probes as a query → ADC shortlist →
      // exact rescore → pairs at cosine ≥ 0.4 → closure. Run in EXACT
      // MODE (nprobe = nlist, k = shortlist = |subset|), so the pair
      // family is precisely every ≥-threshold pair and the closure
      // equals the UNBLOCKED exact form — which the oracle recomputes
      // in full value (the q90 exact-mode discipline; q88's label-
      // blocked closure is the recall-limited sibling this row
      // supersedes at corpus scale). SCALE-ADAPTIVE subset (the q175
      // anchor discipline): the double-arm pin is bounded at ~1000
      // vectors at every scale (mod = max(1, n/1000), identity at
      // gate scales — both engines' quadratic arms stay ~1M pairs,
      // ~7 s Spark / ~6 s DuckDB at sf0.1); production deployments
      // run the SAME operator
      // over the full corpus at production knobs, where emitted pairs
      // stay sound and a missed edge can only split a cluster, never
      // invent a merge (OpsSpec pins that envelope).
      // SESSION-SHARED stage-1 relation since round 13 (see
      // subsetSemClusters): q188's D4 stage 1 is this exact computation,
      // so the suite builds the subset index + probe + closure once and
      // both consume it. Same subset, same exact-mode knobs —
      // bit-identical to the per-query spelling this replaces.
      subsetSemClusters(s, d)._2.orderBy(col("vec_id"))
    }),
    "q182_wordpiece_train" -> ((s, d) => {
      // §2.11 tokenization: WORDPIECE training (Schuster & Nakajima
      // 2012; Wu et al. 2016 §4.1; the BERT convention) — the third
      // trained-tokenizer family: BPE's distributed merge loop with
      // the selection criterion swapped for the LIKELIHOOD-RATIO score
      // count(ab)/(count(a)*count(b)) on an exact 10^12 integer grid
      // (DECIMAL(38,0) DIV here, HUGEINT // in the oracle — a raw
      // double ratio could misorder near-ties) and '##'-prefixed
      // continuation symbols (the merged symbol strips b's prefix and
      // inherits a's form). Per round: symbol counts AND pair counts
      // (two map-side-combined aggs over the vocabulary-sized
      // histogram — the denominators shift as merges move mass), a
      // one-row argmax collect, map-only merge application. The oracle
      // replays every round; the merge table must match round for
      // round including the score column.
      val merges = sharedWpMerges(s, d)
      import s.implicits._
      merges.map(m => (m.rank.toLong, m.a, m.b, m.count, m.score))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count", "score")
        .orderBy(col("merge_rank"))
    }),
    "q183_wordpiece_ids" -> ((s, d) => {
      // §2.11 tokenization: WordPiece GREEDY LONGEST-MATCH encode to
      // integer ids, map-only: each row's words run through the BERT
      // inference algorithm (functions/WordPieceTokenize.scala) and
      // resolve to ids in one projection. Longest match is NOT the training
      // composition: the vocabulary is a string SET and longest match
      // can disagree with the merge decomposition on the same vocab,
      // so the oracle replays longest-match itself (an unrolled step
      // CTE chain, bounded by the 16-code-point [UNK]-wholesale cap;
      // each active step consumes >= 1 code point). PLANTS (the q180
      // discipline — constant rows replayed verbatim by the oracle): a
      // word over the length cap and a word whose code points the
      // training corpus never saw, both of which must emit exactly
      // ['[UNK]'] (id 0) — so n_unk > 0 rows exist at every scale,
      // unlike the byte-level family's unk-free-by-construction q178.
      import s.implicits._
      val vocab = sharedWpVocab(s, d).toDF("token", "token_id")
      plantedIds(s, documents(s, d).select(col("doc_id"), col("text")))(
        graft.ops.WordPiece.tokenizeToIds(_, "text", "doc_id", vocab,
          maxChars = wpMaxChars))
    }),
    "q184_unimax_mixture" -> ((s, d) =>
      // §2.11 mixtures: UniMax per-language budget allocation (Chung
      // et al. 2023) — the published alternative to q83's temperature
      // sampling: cap every language at 2 epochs of its own corpus and
      // waterfill the remaining budget (3/4 of total capacity by the
      // integer-grid convention) as uniformly as language caps allow.
      // The sequential waterfill collapses to a closed form (capped
      // set = the monotone ascending-capacity prefix), so the whole
      // allocation is one corpus token-count agg + windows over the
      // LANGUAGE-grain relation. The skewed lang distribution (en ~3x
      // any other) exercises both branches at every scale: the four
      // small languages cap, en takes the leftover.
      graft.ops.UniMax.allocate(documents(s, d), "lang", "text",
          epochCap = 2, budgetNum = 3L, budgetDen = 4L)
        .orderBy(col("grp"))),
    "q185_tokenizer_fertility" -> ((s, d) => {
      // §2.11 tokenization: tokenizer EFFICIENCY eval (Rust et al.
      // 2021) — per-source fertility (tokens per pretoken) and
      // compression (bytes per token) under the trained byte-level
      // vocabulary, both as exact milli-grid floor divisions of long
      // sums. Dictionary-grain: each distinct pretoken folds through
      // the native expression once; the per-occurrence side is one
      // broadcast join + a group-grain map-side-combinable agg. The
      // oracle re-trains in SQL and reads subword counts off the final
      // training word table (training corpus == scored corpus, the
      // q178 join-by-word exactness).
      // Store-backed since round 13: token counts read off the
      // standing store's (doc_id, token_ids) — size(ids) equals the
      // per-pretoken subword sum because tokenization concatenates per
      // pretoken; byte/pretoken counts stay map-side regex work. The
      // oracle re-derives everything store-free.
      val docs = documents(s, d)
      val prefix = ensureTokenStore(s, d)
      graft.ops.TokenizerEval.fertilityByGroupFromIds(docs, "text",
          "source", "doc_id", graft.ops.TokenStore.ids(s, prefix))
        .orderBy(col("grp"))
    }),
    "q186_prototype_pruning" -> ((s, d) =>
      // §2.11 embedding curation: D4's diversification half (Tirumala
      // et al. 2023; Sorscher et al. 2022's SSL prototypes) — k-means
      // the store (deterministic hash-sample seeds + 2 Lloyd rounds),
      // score each vector by cosine to its own centroid, drop the most
      // prototypical 1/10 of every cluster (exact integer floor at the
      // 1e-6 score grid, rank ties by id). Centroid values are float
      // means (engine-internal, the PQ-codebook situation), so the
      // oracle is the q52/q62 ENVELOPE: in-engine booleans pin that
      // assignment is the independent argmax, every cluster drops
      // exactly its floor share, dropped scores dominate kept scores
      // at grid grain, and kept+dropped partition the store. SemDeDup
      // (q88/q181) composes in front of this for the full D4 pipeline.
      graft.ops.Prototypes.pruneEnvelope(embeddings(s, d), "embedding",
        "vec_id", nClusters = 16, refineRounds = 2, epsNum = 1L,
        epsDen = 10L)),
    "q187_perplexity_buckets" -> ((s, d) =>
      // §2.11 quality: CCNet's head/middle/tail split (Wenzek et al.
      // 2020 §4.3 — the bucketing LLaMA's pipeline consumes): q82's
      // exact micro-nat LM scores ntile'd into per-language terciles,
      // head = most corpus-typical. The order (nll_micro, doc_id) is
      // total and ntile's remainder sizing matches across engines, so
      // the full assignment is value-checked; the oracle extends q82's
      // CTE chain with the same window.
      graft.ops.LanguageModel.perplexityBuckets(documents(s, d), "text",
          "doc_id", "lang", alpha = 1.0, nBuckets = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),
    "q188_d4_pipeline" -> ((s, d) => {
      // §2.11 embedding curation: the FULL D4 composition (Tirumala et
      // al. 2023 — SemDeDup THEN prototype pruning, §4.1's order; the
      // round-12 verdict's item 3): q181's index-backed exact-mode
      // SemDeDup keeps one canonical per duplicate family, the
      // SURVIVORS k-means + floor-share prune (q186's half). The
      // oracle is the composed envelope: n_vecs and n_survivors are
      // FULL-VALUE (exact mode makes the survivor count the unblocked
      // exact closure's canonical-family count, which DuckDB
      // recomputes via q181's recursive-CTE machinery), the four q186
      // soundness booleans run over the survivor set, and
      // pruned_domain_is_survivors pins the pipeline ORDER — a
      // composition that pruned the raw store instead of the
      // survivors reads FALSE. Scale-adaptive subset (q181's
      // discipline): the pinned row is bounded ~1000 vectors at every
      // scale; production runs the same operator at production knobs.
      // Stage 1 is the SESSION-SHARED subsetSemClusters relation since
      // round 13 — identical computation to q181's output, built once
      // per (session, dataset) and passed in via clustersOpt; the
      // index/probe/closure knobs below are therefore unused on the
      // shared path (k/shortlist covered by the build's own count).
      val (sub, clusters) = subsetSemClusters(s, d)
      graft.ops.Prototypes.d4Envelope(sub, "embedding", "vec_id",
        threshold = 0.4, nlist = 16, nprobe = 16, k = Int.MaxValue,
        shortlist = Int.MaxValue, m = 4, ksub = 16, dim = 64, nClusters = 16,
        refineRounds = 2, epsNum = 1L, epsDen = 10L,
        tablePrefix = s"graft_idx_q188_$runToken", basePath = null,
        clustersOpt = Some(clusters))
    }),
    "q189_token_decontamination_13gram" -> ((s, d) => {
      // §2.11 decontamination at GPT-3's PUBLISHED n (Brown et al.
      // 2020 App. C runs 13-grams): 276^13 >> 2^62, so the single
      // packed-long gram key is out of injective range — since round
      // 14 the operator takes the TWO-PACKED-LONGS tier (7+6 id split,
      // each half < 2^62 — injective, so join hits and distinct counts
      // are identical to any faithful key spelling; the oracle replays
      // space-joined id-string keys in DuckDB and the outputs match
      // row for row, TrainSpec pins packed == brute force in-engine).
      // Same standing-store plumbing and
      // plants as q180; at n = 13 the single-shared-word plants CANNOT
      // fire (their shared id run is bounded by the word's ~11 tokens)
      // while the straddling two-word plant's shared run can — all
      // values replayed by the oracle, nothing hard-coded.
      val (plantTrain, plantEval) = decontPlants(s)
      val prefix = ensureTokenStore(s, d)
      val merges = graft.ops.TokenStore.merges(s, prefix)
      val vocab = graft.ops.TokenStore.vocab(s, prefix)
      val storeIds = graft.ops.TokenStore.ids(s, prefix)
      val plantTrainIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantTrain, "text", "doc_id", merges, vocab)
      val plantEvalIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantEval, "text", "doc_id", merges, vocab)
      graft.ops.Decontaminate.tokenIdNgramOverlapFromIds(
          storeIds.where(col("doc_id") % 97 =!= 0)
            .unionByName(plantTrainIds),
          storeIds.where(col("doc_id") % 97 === 0)
            .unionByName(plantEvalIds),
          "doc_id", vocabSize = 256L + merges.length, n = 13)
        .orderBy(col("doc_id"))
    }),
    "q190_unigram_train" -> ((s, d) => {
      // §2.11 tokenization: UNIGRAM-LM training (Kudo 2018 — the
      // SentencePiece default; the FOURTH trained convention) —
      // substring seed, hard-EM on the exact micro-nat grid, HUGEINT
      // loss prune, post-prune recount (ops/Unigram.scala). FULL-VALUE
      // replay: the oracle re-derives seed scoring, every Viterbi EM
      // pass (unrolled DP CTEs with the (cost, pieces, longest-last)
      // tie-break carried forward), the prune argsort and the final
      // Laplace costs — token ids in binary piece order (no merge
      // rank; the SentencePiece sorted-table convention).
      import s.implicits._
      val pieces = sharedUnigramPieces(s, d)
      val vocab = graft.ops.Unigram.vocabTable(s, pieces)
      pieces.map(p => (p.token, p.count, p.costMicro))
        .toDF("token", "count", "cost_micro")
        .join(vocab, Seq("token"))
        .select(col("token_id"), col("token"), col("count"),
          col("cost_micro"))
        .orderBy(col("token_id"))
    }),
    "q191_unigram_ids" -> ((s, d) => {
      // §2.11 tokenization: unigram VITERBI encode to integer ids —
      // q183's map-only shape with the matcher swapped for the
      // min-cost DP (which can disagree with greedy longest-match:
      // UnigramSpec pins the structural cases). PLANTS (the q183
      // discipline): an over-length word and unseen code points, both
      // ['[UNK]'] (id 0) at every scale; Viterbi-TIE coverage is
      // organic — equal-count pieces are common at gate scales and
      // any cross-engine tie-break disagreement reads as a hash
      // mismatch here (tie plants can't be made scale-robust with
      // constant rows: a planted piece's constant seed count loses
      // the top-N race as organic counts grow — the q167 has_triplets
      // non-vacuity lesson, so the tie SEMANTICS pin lives in
      // UnigramSpec's hand corpora).
      val pieces = sharedUnigramPieces(s, d)
      val vocab = graft.ops.Unigram.vocabTable(s, pieces)
      plantedIds(s, documents(s, d).select(col("doc_id"), col("text")))(
        graft.ops.Unigram.tokenizeToIds(_, "text", "doc_id", pieces, vocab,
          ugMaxChars, ugMaxPieceLen))
    }),
    "q192_unigram_fertility" -> ((s, d) => {
      // §2.11 tokenization: q185's fertility/compression eval
      // PARAMETERIZED over the unigram vocabulary (Rust et al. 2021
      // compare tokenizer families exactly this way) — pretoken grain
      // is the suite word (what unigram trains on), token count = the
      // word's Viterbi piece count with [UNK]-wholesale words
      // counting 1. The oracle re-trains and re-segments in SQL.
      val docs = documents(s, d)
      val pieces = sharedUnigramPieces(s, d)
      graft.ops.TokenizerEval.fertilityByGroupUnigram(docs, "text",
          "source", pieces, ugMaxChars, ugMaxPieceLen)
        .orderBy(col("grp"))
    }),
  )

  /** q183/q191's ids row: `encode` over `docs` plus the two constant
    * [UNK] plants both oracles replay verbatim (an over-length word,
    * code points no training corpus holds), summarized per doc as
    * (doc_id, ids_str, n_tokens, n_unk) in doc_id order.
    */
  private def plantedIds(s: SparkSession, docs: DataFrame)(
      encode: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val planted = Seq(
      ((1L << 41) + 1L, "zz unmatchableverylongword zz"),
      ((1L << 41) + 2L, "ordinary ωμέγα words"))
      .toDF("doc_id", "text")
    encode(docs.unionByName(planted))
      .select(col("doc_id"),
        array_join(transform(col("token_ids"), i => i.cast("string")),
          " ").as("ids_str"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        size(filter(col("token_ids"), i => i === 0L)).cast("long")
          .as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** The q180/q189 decontamination plants (constant rows, replayed
    * verbatim by both oracles): train docs 1-3 share ONLY the rare
    * word "zqvxkwpthj" with the eval probe (word-blind mode 1 — a
    * single shared word never spans a word trigram), train doc 4
    * shares the two-word phrase "zqvxkwpthj rrthree" (mode 2 — id
    * n-grams straddling the word boundary).
    */
  private def decontPlants(s: org.apache.spark.sql.SparkSession)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    (Seq(
      ((1L << 41) + 1L, "qqalpha qqbeta zqvxkwpthj qqgamma qqdelta"),
      ((1L << 41) + 2L, "qqepsilon qqzeta zqvxkwpthj qqeta qqtheta"),
      ((1L << 41) + 3L, "qqiota qqkappa zqvxkwpthj qqlambda qqmu"),
      ((1L << 41) + 4L, "ssalpha ssbeta zqvxkwpthj rrthree ssgamma"))
      .toDF("doc_id", "text"),
      Seq(((1L << 42) + 1L, "rrone rrtwo zqvxkwpthj rrthree rrfour"))
        .toDF("doc_id", "text"))
  }

  /** BPE merge rounds shared by q153/q154 and their oracles. */
  private val bpeRounds = 20

  /** Unigram-LM knobs shared by q190/q191 and their oracles: seed =
    * alphabet + top-40 substrings (<= 4 cps), 2 hard-EM rounds, prune
    * the 10 lowest-loss multi-char pieces, 16-cp [UNK]-wholesale cap
    * (also the oracle's DP unroll bound).
    */
  private val ugSeedSize = 40
  private val ugPruneCount = 10
  private val ugMaxPieceLen = 4
  private val ugEmRounds = 2
  private val ugMaxChars = 16

  /** WordPiece merge rounds shared by q182/q183 and their oracles. */
  private val wpRounds = 10

  /** WordPiece [UNK]-wholesale word-length cap (code points) — also
    * the oracle's longest-match step-unroll bound (q183).
    */
  private val wpMaxChars = 16

  /** RUN-UNIQUE namespace token for every query that materializes
    * catalog tables / tmpdir paths (the index-writing rows q141, q144,
    * q156, q167, q175, q176, q181): two concurrent suite runs on one
    * host must not collide on `java.io.tmpdir` paths or on Derby-backed
    * catalog table names (advisor round-11 note — the prefixes were
    * fixed strings). Per-JVM stable so in-JVM re-runs of a query stay
    * idempotent (every writer uses overwrite mode); pid + nanotime
    * makes cross-JVM collision practically impossible. Naming only —
    * results never depend on it. The run's store files are run-scoped
    * too: one JVM shutdown hook deletes every `graft_*_<runToken>_*`
    * directory under `java.io.tmpdir`.
    */
  private[graft] val runToken: String = {
    val token = java.lang.Long.toHexString(ProcessHandle.current().pid()) + "t" +
      java.lang.Long.toHexString(System.nanoTime() & 0xffffffffL)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    sys.addShutdownHook {
      val mine = tmp.listFiles((_: java.io.File, name: String) =>
        name.startsWith("graft_") && name.contains(s"_${token}_"))
      if (mine != null) mine.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
    token
  }

  /** STANDING TOKENIZATION STORE per (run, data dir) — the round-13
    * amortization: q177/q178/q180/q185 all need the SAME trained
    * byte-level tokenizer and (for q178/q180/q185) the same corpus
    * tokenization; before the store each re-trained and re-tokenized
    * inside one suite run (q180 tokenized TWICE — its 53.4 s sf10m
    * floor, the suite's #1, was ~2× a tokenize by construction).
    * Consumers' oracles keep the direct train + tokenize spelling in
    * DuckDB, so the store's content is value-pinned by the gate every
    * round.
    */
  private def ensureTokenStore(
      s: org.apache.spark.sql.SparkSession, d: String,
      needIds: Boolean = true): String = {
    val store = runStore(s, "tokstore", d, "")
    graft.ops.TokenStore.ensure(documents(s, d), "text", "doc_id",
      bpeRounds, store.tablePrefix, store.basePath, needIds = needIds)
    store.tablePrefix
  }

  /** The run's standing store of `kind` over data dir `d`: catalog
    * prefix `graft_<kind>_<runToken>_<hex(d.hashCode)><suffix>`, files
    * under `java.io.tmpdir` by the same name. The DATASET hash is part
    * of the CATALOG prefix (not just the path): an ensure skips work
    * when the tables are live, so a store that silently "exists" for
    * the wrong corpus would be a cross-dataset correctness bug.
    */
  private def runStore(s: org.apache.spark.sql.SparkSession, kind: String,
      d: String, suffix: String): graft.core.StandingStore = {
    val prefix = s"graft_${kind}_${runToken}_" +
      java.lang.Integer.toHexString(d.hashCode) + suffix
    graft.core.StandingStore(s, prefix,
      s"${System.getProperty("java.io.tmpdir")}/$prefix")
  }

  /** STANDING IVFPQ INDEX per (run, data dir) — the round-13
    * amortization's vector half: q167's negative arm and BOTH of
    * q175's pinned arms probe the same embeddings at the same
    * geometry; before the share each built its own index (three full
    * builds per suite run — FLOORS.json q167, sf10m: 14-22 s each). One
    * [[graft.ops.VectorIndex.ensureIvfPqIndex]] build now serves all
    * three probes (q181 keeps its OWN index: it indexes the
    * scale-adaptive ~1000-vector SUBSET, a structurally different —
    * and bounded-cheap — vector set). Geometry is the measured q167
    * sizing (nlist 16 below 2^16 vectors, 64 above — the round-12 √n
    * correction) and is ENCODED IN THE PREFIX, so a scale change can
    * never silently reuse a mismatched materialization. Sharing one
    * index strengthens q175's ADC==plain pin: both arms now provably
    * score against the same centroids.
    */
  private def ensureStandingVectorIndex(
      s: org.apache.spark.sql.SparkSession, d: String, nEmb: Long,
      needPq: Boolean = true): String = {
    val nlist = if (nEmb < (1L << 16)) 16 else 64
    val store = runStore(s, "idx_std", d, s"_n$nlist")
    graft.ops.VectorIndex.ensureIvfPqIndex(embeddings(s, d), "embedding",
      "vec_id", nlist = nlist, m = 4, ksub = 16, dim = 64,
      refineIters = 1, pqIters = 2, tablePrefix = store.tablePrefix,
      basePath = store.basePath, needPq = needPq,
      booksOpt = if (needPq) Some(sharedPqCodebooks(s, d)) else None)
    store.tablePrefix
  }

  /** SESSION-SHARED PQ codebooks over the full embedding store at the
    * suite's one geometry (m=4, ksub=16, dim=64, 2 Lloyd rounds,
    * trainCap default) — q90, q91, and the standing index's PQ half
    * each trained this same relation per suite run; one build now
    * serves all three. Training is eager and driver-side, so the first
    * caller pays it when it builds its plan, and the shared entry is a
    * local relation (not persisted) that lives until releaseShared.
    * Correctness does not even require bit-equal float means across
    * builds: q90 runs a covering shortlist (exact re-rank decides
    * everything), q91/q175 pin in-engine self-consistency booleans, so
    * codebook values are engine-internal by the envelope discipline.
    * q181/q188's SUBSET books are a different vector set and keep their
    * own (already shared) build.
    */
  private def sharedPqCodebooks(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.core.Caches.shared(s"pq-codebooks:$d:m4:ksub16:dim64:it2") {
      graft.ops.ProductQuantize.trainCodebooks(
        embeddings(s, d), m = 4, ksub = 16, dim = 64, iters = 2)
    }

  /** SESSION-MEMOIZED trained tokenizers (driver-side merge/piece
    * tables — pure values bounded by the round/seed caps, NOT Spark
    * resources): the char-level BPE trains in SIX queries per suite run
    * (q153/q154/q165/q166/q168/q169), WordPiece in two (q182/q183;
    * q183 also keeps its vocabulary rows, whose base alphabet is one
    * more corpus aggregate), unigram-LM in three (q190/q191/q192) —
    * each train re-scanning the corpus for the same word histogram.
    * Training is deterministic per
    * (dataset, params), so one train per key serves every consumer;
    * each consumer's oracle still replays training from scratch in
    * DuckDB, value-pinning the memoized tables every round. Keys carry
    * the data dir (the standing-store contract: a corpus changed under
    * the same path within one session is out of scope for every shared
    * cache here).
    */
  private val trainedTokenizers =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def memoTrained[T <: AnyRef](key: String)(build: => T): T =
    trainedTokenizers.computeIfAbsent(key, _ => build).asInstanceOf[T]
  private def sharedBpeMerges(
      s: SparkSession, d: String): Seq[graft.ops.Bpe.Merge] =
    memoTrained(s"bpe:$d:$bpeRounds") {
      graft.ops.Bpe.train(documents(s, d), "text", bpeRounds)
    }
  private def sharedWpMerges(
      s: SparkSession, d: String): Seq[graft.ops.WordPiece.Merge] =
    memoTrained(s"wp:$d:$wpRounds") {
      graft.ops.WordPiece.train(documents(s, d), "text", wpRounds)
    }
  /** q183's vocabulary rows, kept beside the merges they extend. */
  private def sharedWpVocab(s: SparkSession, d: String): Seq[(String, Long)] = {
    val merges = sharedWpMerges(s, d)
    memoTrained(s"wpv:$d:$wpRounds") {
      import s.implicits._
      graft.ops.WordPiece.vocabTable(documents(s, d), "text", merges)
        .as[(String, Long)].collect().toSeq
    }
  }
  private def sharedUnigramPieces(
      s: SparkSession, d: String): Seq[graft.ops.Unigram.Piece] =
    memoTrained(s"ug:$d:$ugSeedSize:$ugMaxPieceLen:$ugEmRounds:" +
        s"$ugPruneCount:$ugMaxChars") {
      graft.ops.Unigram.train(documents(s, d), "text", ugSeedSize,
        ugMaxPieceLen, ugEmRounds, ugPruneCount, ugMaxChars)
    }

  /** The corpus/batch split shared by the q150/q156/q162 incremental
    * family suite (batch = doc_id % 10 >= 8).
    */
  private def isFamilyBatch(c: Column): Column = c % 10 >= 8

  /** SESSION-SHARED stage-1 SemDeDup cluster relation over the
    * scale-adaptive ~1000-vector subset — q181's entire output and
    * q188's D4 stage 1 are the IDENTICAL computation (same subset, same
    * exact-mode knobs); before the share each built its own IVFPQ index
    * and re-ran the probe + closure (two full builds per suite run).
    * One [[graft.core.Caches.shared]] build now serves both (the
    * familyPrior discipline); both oracles still re-derive the relation
    * independently in DuckDB, so its content stays value-pinned.
    * Returns (subset, clusters); the subset filter is cheap and rebuilt
    * per caller.
    */
  private def subsetSemClusters(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = embeddings(s, d)
    val nEmb = parquetRowCount(s, s"$d/embeddings.parquet")
    val mod = math.max(1L, nEmb / 1000L)
    val sub = emb.where(col("vec_id") % mod === 0)
    val clusters = graft.core.Caches.shared(
        s"semdedup-subset:$d:t0.4:nlist16:m4:ksub16") {
      // Exact-mode k must cover the measured subset (id distributions
      // under ScaleUp are not guaranteed uniform mod `mod`); one bounded
      // count() buys the by-construction equality — paid once per
      // (session, dataset) now that the relation is shared.
      val nSub = math.max(1L, sub.count())
      val kCap = math.min(nSub, Int.MaxValue.toLong).toInt
      // IN-MEMORY scratch index (round 14): this per-run bounded-subset
      // index has no cross-session consumer, and the five-table Derby
      // saveAsTable round-trip was ~10 s of q181's 11.4 s — the
      // relation-level build/search is the identical pipeline
      // (Components.dedupClustersIndexedInMemory; OpsSpec pins it
      // row-for-row against the catalog-backed spelling).
      graft.ops.Components.dedupClustersIndexedInMemory(sub, "embedding",
        "vec_id", threshold = 0.4, nlist = 16, nprobe = 16, k = kCap,
        shortlist = kCap, m = 4, ksub = 16, dim = 64)
    }
    (sub, clusters)
  }

  /** SESSION-SHARED standing-family prior for the incremental family
    * suite: the corpus-only (doc_id % 10 < 8) q149 ensemble, built and
    * persisted ONCE per (session, data dir) via [[graft.core.Caches
    * .shared]] — the `Affinity.supportPairs` discipline. q150 (in-query
    * prior), q156 (store-backed prior — it WRITES this relation), and
    * q162 (store-update relation) all consume the same standing
    * families; before the share each rebuilt the full ensemble closure
    * in-suite (3× the dominant stage, ~35% of the sf0.1 suite).
    * Keyed by the data dir (the inputs' identity here — the same
    * production contract as supportPairs: a corpus that changes under
    * the same path requires releaseShared). OpsSpec pins shared ==
    * fresh-unshared row-for-row.
    */
  private[graft] def familyPrior(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.shared(s"ensemble-family-prior:$d:0.8:0.4") {
      graft.ops.EnsembleDedup.standardDupFamilies(
        documents(s, d).where(!isFamilyBatch(col("doc_id"))), "text", "doc_id",
        embeddings(s, d).where(!isFamilyBatch(col("vec_id"))),
        "embedding", "vec_id", "label",
        jaccardThreshold = 0.8, cosineThreshold = 0.4)
    }

  /** The batch-incident signal relations (exact bit 1, Jaccard bit 2,
    * label-blocked cosine bit 4) shared VERBATIM by q150/q156/q162 —
    * each pair relation is SESSION-SHARED like the prior (they are
    * skinny (id_a, id_b) relations; the Jaccard arm's prefix-filtered
    * joins are the expensive piece, and the three consumers otherwise
    * rebuild all three relations per query).
    */
  private def familyBatchSignals(
      s: SparkSession, d: String): Seq[graft.ops.EnsembleDedup.Signal] = {
    import graft.functions.VectorFunctions.vecCosine
    val docs = documents(s, d)
    val emb = embeddings(s, d)
    val corpus = docs.where(!isFamilyBatch(col("doc_id")))
    val batch = docs.where(isFamilyBatch(col("doc_id")))
    val exactPairs = graft.core.Caches.shared(s"family-batch-exact:$d") {
      val bh = batch.select(col("doc_id").as("id_a"),
        xxhash64(col("text")).as("__h"))
      val ah = docs.select(col("doc_id").as("id_b"),
        xxhash64(col("text")).as("__h"))
      bh.join(ah, Seq("__h"))
        .where(col("id_a") =!= col("id_b")).select(col("id_a"), col("id_b"))
    }
    val jacPairs = graft.core.Caches.shared(s"family-batch-jaccard:$d") {
      Dedup.jaccardJoinAgainst(batch, corpus, "text", "doc_id", 0.8)
        .select(col("id_in").as("id_a"), col("id_corpus").as("id_b"))
        .unionByName(Dedup.jaccardJoinExact(batch, "text", "doc_id", 0.8)
          .select(col("id_a"), col("id_b")))
    }
    val cosPairs = graft.core.Caches.shared(s"family-batch-cosine:$d") {
      val ea = emb.where(isFamilyBatch(col("vec_id")))
        .select(col("label").as("blk"), col("vec_id").as("id_a"),
          col("embedding").as("emb_a"))
      val eb = emb.select(col("label").as("blk"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"))
      ea.join(eb, Seq("blk"))
        .where(col("id_a") =!= col("id_b"))
        .where(vecCosine(col("emb_a"), col("emb_b")) >= 0.4)
        .select(col("id_a"), col("id_b"))
    }
    Seq(
      graft.ops.EnsembleDedup.Signal(exactPairs, "id_a", "id_b", 1),
      graft.ops.EnsembleDedup.Signal(jacPairs, "id_a", "id_b", 2),
      graft.ops.EnsembleDedup.Signal(cosPairs, "id_a", "id_b", 4))
  }

  /** q148's phrase lexicon (shared verbatim with its oracle's list
    * literal): nested patterns (batch / batch batch / batch batch
    * batch) exercise dictionary-suffix chains, "ta ta" crosses a word
    * boundary ("data table"), "strea"/"olumn" are intra-word
    * fragments, and the last entry never occurs.
    */
  private lazy val phraseLexicon: Seq[String] = Seq(
    "batch", "batch batch", "batch batch batch", "slow merge",
    "key order sort", "customer data", "strea", "ta ta", "olumn",
    "zebra quartz")

  /** q147's planted scaffold (shared verbatim with its oracle's VALUES
    * list): a 6-clique that must survive k=3, a triangle ladder that
    * must cascade one vertex per round, a star that peels in two —
    * on ids no SF's doc_id space reaches.
    */
  private lazy val kcorePlantedEdges: Seq[(Long, Long)] = {
    val P = 1000000000L
    val clique = for { i <- 0 until 6; j <- i + 1 until 6 }
      yield (P + i, P + j)
    val ladder = (0 until 9).map(i => (P + 10 + i, P + 11 + i)) ++
      (0 until 8).map(i => (P + 10 + i, P + 12 + i)) ++
      Seq((P + 19, P + 0), (P + 19, P + 1), (P + 18, P + 0))
    val star = (31 to 35).map(l => (P + 30, P + l))
    clique ++ ladder ++ star
  }

  // q40/q142 share one oracle: the J5 composite anti-join, plain vs
  // bloom-fast-path.
  private lazy val compositeAntiOracle: String =
    """SELECT l_orderkey, count(*) AS n FROM lineitem li
       WHERE NOT EXISTS (
         SELECT 1 FROM lineitem e
         WHERE e.l_shipdate >= TIMESTAMP '1996-01-01'
           AND e.l_orderkey = li.l_orderkey AND e.l_suppkey = li.l_suppkey)
       GROUP BY l_orderkey ORDER BY l_orderkey"""

  /** Shared by q150 (in-query prior) and q156 (store-backed
    * prior): the full ensemble recompute restricted to batch rows.
    */
  private lazy val incrementalFamiliesOracle: String =
    s"""WITH RECURSIVE src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)},
         e_jac AS (SELECT id_a, id_b, 2 AS sig FROM pv WHERE jac >= 0.8),
         e_exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS sig
           FROM documents a JOIN documents b
             ON a.text = b.text AND a.doc_id < b.doc_id),
         e_cos AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, 4 AS sig
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4),
         edges AS (SELECT id_a, id_b, bit_or(sig) AS signals FROM (
             SELECT * FROM e_exact UNION ALL SELECT * FROM e_jac
             UNION ALL SELECT * FROM e_cos) u
           GROUP BY 1, 2),
         sym AS (SELECT id_a AS u, id_b AS v FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(v, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.v, sym.v FROM reach JOIN sym ON reach.r = sym.u),
         comp AS (SELECT v AS doc_id, min(r) AS family FROM reach GROUP BY v),
         sz AS (SELECT family, count(*) AS family_size FROM comp GROUP BY 1),
         fs AS (SELECT c.family, bit_or(e.signals) AS signals
           FROM edges e JOIN comp c ON e.id_a = c.doc_id GROUP BY 1)
         SELECT comp.doc_id, comp.family, sz.family_size,
           CAST(coalesce(fs.signals, 0) AS INTEGER) AS signals,
           comp.doc_id = comp.family AS is_canonical
         FROM comp JOIN sz USING (family) LEFT JOIN fs USING (family)
         WHERE comp.doc_id % 10 >= 8
         ORDER BY comp.doc_id"""

  // q134/q141 share one oracle: same batch derivation (exact replays +
  // one-token mutations), semi-join exact stage, all-pairs batch×corpus
  // Jaccard (the form the prefix-filtered operator avoids), same
  // trigram spelling and NULLIF empty-set guard as q132.
  private lazy val incrementalCascadeOracle: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 5 <> 0),
       batch AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         UNION ALL
         SELECT doc_id + 200000, text FROM corpus WHERE doc_id % 11 = 0
         UNION ALL
         SELECT doc_id + 300000, text || ' zz' FROM corpus
           WHERE doc_id % 13 = 0),
       ex AS (SELECT doc_id FROM batch
         WHERE text IN (SELECT text FROM corpus)),
       bsrc AS (SELECT doc_id AS id, text FROM batch
         WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
       csrc AS (SELECT doc_id AS id, text FROM corpus),
       ${jaccardPrefixRsCtes("bsrc", "csrc", 0.8)},
       nr AS (SELECT DISTINCT id_l AS doc_id FROM pv WHERE jac >= 0.8)
       SELECT b.doc_id AS id,
         CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_corpus'
              WHEN nr.doc_id IS NOT NULL THEN 'near_corpus'
              ELSE 'kept' END AS stage
       FROM batch b
       LEFT JOIN ex ON b.doc_id = ex.doc_id
       LEFT JOIN nr ON b.doc_id = nr.doc_id
       ORDER BY id"""

  /** q171's oracle, shared verbatim by q176 (the store-backed path
    * must be value-identical to the direct pass — disjoint batches, so
    * merged partial counts equal same-pass counts).
    */
  private val boilerplateOracleSql =
    """WITH src AS (SELECT doc_id,
       coalesce(text, '') ||
       CASE WHEN doc_id % 7 = 2
         THEN chr(10) || 'subscribe to our newsletter today'
         ELSE '' END ||
       CASE WHEN doc_id % 5 = 3
         THEN chr(10) || 'all rights reserved worldwide'
         ELSE '' END AS text
       FROM documents),
     dl AS (SELECT t.doc_id, u.i AS p, t.ls[u.i+1] AS l FROM (
         SELECT doc_id, list_filter(list_transform(
           string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
         FROM src) t,
       LATERAL unnest(range(len(t.ls))) AS u(i)),
     cnt AS (SELECT l, count(DISTINCT doc_id) AS n_docs
       FROM dl GROUP BY 1),
     fl AS (SELECT dl.doc_id, dl.p, dl.l, cnt.n_docs >= 3 AS rm
       FROM dl JOIN cnt USING (l)),
     agg AS (SELECT doc_id,
         string_agg(CASE WHEN NOT rm THEN l END, chr(10) ORDER BY p)
           AS clean_text,
         CAST(count(*) FILTER (WHERE NOT rm) AS BIGINT) AS n_kept,
         CAST(count(*) FILTER (WHERE rm) AS BIGINT) AS n_removed
       FROM fl GROUP BY 1)
     SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       coalesce(agg.n_kept, 0) AS n_kept,
       coalesce(agg.n_removed, 0) AS n_removed
     FROM documents d LEFT JOIN agg USING (doc_id)
     ORDER BY d.doc_id"""

  def oracleSql: Map[String, String] = Map(
    // q176: the store-backed incremental path must equal q171's direct
    // pass — same oracle verbatim.
    "q176_boilerplate_store" -> boilerplateOracleSql,
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         sum(CAST(round_even(l_quantity*10000, 0) AS BIGINT)) / 10000.0 AS sum_qty,
         sum(CAST(round_even(l_extendedprice*10000, 0) AS BIGINT)) / 10000.0 AS sum_base_price,
         sum(CAST(round_even(l_extendedprice*(1.0-l_discount)*10000, 0) AS BIGINT)) / 10000.0 AS sum_disc_price,
         sum(CAST(round_even(l_quantity*10000, 0) AS BIGINT)) / 10000.0 / count(l_quantity) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q07_string_agg" ->
      """SELECT r_regionkey, r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_regionkey, r_name ORDER BY r_regionkey""",
    "q08_distinct" ->
      """SELECT DISTINCT c_mktsegment FROM customer
         WHERE c_mktsegment IS NOT NULL ORDER BY c_mktsegment""",
    "q09_explode_having" ->
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
         ORDER BY sname""",
    "q02_filter_range" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice*(1.0-l_discount), 4) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_quantity < 24
         ORDER BY l_orderkey, l_linenumber""",
    "q37_filter_compiler" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
           AND (lower(o_orderstatus) LIKE '%f%' OR o_totalprice >= 200000.0)
           AND o_orderdate > TIMESTAMP '1994-01-01'
         ORDER BY o_orderkey""",
    "q03_join_revenue" ->
      """SELECT n_name,
         sum(CAST(round_even(o_totalprice*10000, 0) AS BIGINT)) / 10000.0 AS revenue,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q04_left_join_counts" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q05_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q06_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q40_composite_anti" -> compositeAntiOracle,
    // q142: the same J5 result through the bloom fast path — identical
    // oracle, so bloom-accelerated == plain anti-join is a full-value pin.
    "q142_bloom_anti" -> compositeAntiOracle,
    "q11_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q10_window_topk" ->
      """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders JOIN customer ON o_custkey = c_custkey) t
         WHERE rn <= 3 ORDER BY c_mktsegment, rn""",
    "q41_window_running" ->
      """SELECT o_custkey, o_orderkey,
         sum(CAST(round_even(o_totalprice*100, 0) AS BIGINT)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q42_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
         datediff('day',
           CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS gap_days
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q12_setops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         EXCEPT
         SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q13_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         sum(CAST(round_even(l_quantity*100, 0) AS BIGINT)) / 100.0 AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q14_month_partition" ->
      """SELECT CASE WHEN epoch(o_orderdate) = 0 THEN 'unknown'
                ELSE CAST(year(o_orderdate) AS VARCHAR) END AS year,
         CASE WHEN epoch(o_orderdate) = 0 THEN 'unknown'
                ELSE lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') END AS month,
         count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY year, month""",
    "q15_duration_format" ->
      """SELECT event_id,
         CASE WHEN CAST(floor(value) AS BIGINT) // 3600 > 0
           THEN printf('%d:%02d:%02d', CAST(floor(value) AS BIGINT) // 3600,
             (CAST(floor(value) AS BIGINT) % 3600) // 60,
             CAST(floor(value) AS BIGINT) % 60)
           ELSE printf('%d:%02d', (CAST(floor(value) AS BIGINT) % 3600) // 60,
             CAST(floor(value) AS BIGINT) % 60)
         END AS hms
         FROM events ORDER BY event_id""",
    "q17_url_build" ->
      """SELECT event_id,
         'https://www.youtube.com/watch?v=u' || CAST(user_id AS VARCHAR) ||
           '&t=' || CAST(CAST(floor(value) + 10 AS BIGINT) AS VARCHAR) || 's' AS url
         FROM events ORDER BY event_id""",
    "q18_epoch_convert" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch
         FROM events ORDER BY event_id""",
    "q19_json_default" ->
      """SELECT event_id,
         coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
         FROM events ORDER BY event_id""",
    "q20_chunk_explode" ->
      """SELECT event_id, u.chunk_idx, u.chunk_idx * 7200 AS chunk_start
         FROM events, LATERAL unnest(generate_series(0,
           CAST(ceil(value * 100 / 7200.0) AS BIGINT) - 1)) AS u(chunk_idx)
         ORDER BY event_id, chunk_idx""",
    "q16_clean_text" ->
      """SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace('  >> ' || text || ' [Music] ' || chr(8203),
                   '\[\s*__\s*\]', '****', 'g'),
                 chr(8203), '', 'g'),
               '>>', '', 'g'),
             '\[[^\]]*\]', '', 'g'),
           '\s+', ' ', 'g')) AS cleaned
         FROM documents ORDER BY doc_id""",
    "q21_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
         count(*) AS n,
         sum(CAST(round_even(value*100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q22_sliding_window" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) - k.k * INTERVAL '10 minutes' AS window_start,
         count(*) AS n
         FROM events, LATERAL unnest([0,1,2]) AS k(k)
         GROUP BY 1 ORDER BY window_start""",
    "q24_dedup_exact" ->
      """SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY sha256(text) ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn = 1 ORDER BY doc_id""",
    "q31_token_count" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         length(text) AS n_chars_computed
         FROM documents ORDER BY doc_id""",
    "q32_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) / count(*) AS DOUBLE) AS avg_chars,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "q33_quality_score" ->
      """SELECT doc_id,
         round(CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS punct_ratio,
         round(CASE WHEN length(trim(text)) = 0 THEN 0.0
           ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS mean_word_len
         FROM documents ORDER BY doc_id""",
    "q34_stopword_ratio" ->
      """SELECT doc_id,
         round(CASE WHEN length(trim(text)) = 0 THEN 0.0
           ELSE CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS stopword_ratio
         FROM documents ORDER BY doc_id""",
    "q28_cosine_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(
           CAST(embedding AS DOUBLE[]),
           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS score
         FROM embeddings
         ORDER BY score DESC, vec_id LIMIT 100""",
    "q29_cosine_topk_per_query" ->
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 10) t
         WHERE rank <= 5 ORDER BY q_id, rank""",
    "q23_near_dedup" ->
      s"""WITH src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)}
         SELECT id_a, id_b FROM pv WHERE jac >= 0.8
         ORDER BY id_a, id_b""",
    "q25_iso_duration" ->
      """WITH b AS (SELECT event_id,
           CAST(floor(value) AS BIGINT) // 3600 AS h,
           (CAST(floor(value) AS BIGINT) % 3600) // 60 AS m,
           CAST(floor(value) AS BIGINT) % 60 AS s FROM events)
         SELECT event_id,
           'PT' || h || 'H' || m || 'M' || s || 'S' AS dur,
           h*3600 + m*60 + s AS secs
         FROM b ORDER BY event_id""",
    "q26_epoch_parse" ->
      """SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN 0
              ELSE CAST(floor(epoch(ts)) AS BIGINT) END AS epoch_parsed
         FROM events ORDER BY event_id""",
    "q27_format_duration" ->
      """WITH b AS (SELECT event_id, CAST(floor(value) AS BIGINT) AS t FROM events)
         SELECT event_id,
           CASE WHEN t // 3600 > 0 THEN
             CAST(t // 3600 AS VARCHAR) ||
             CASE WHEN t // 3600 = 1 THEN ' hour, ' ELSE ' hours, ' END
             ELSE '' END ||
           CASE WHEN (t % 3600) // 60 > 0 THEN
             CAST((t % 3600) // 60 AS VARCHAR) ||
             CASE WHEN (t % 3600) // 60 = 1 THEN ' minute, ' ELSE ' minutes, ' END
             ELSE '' END ||
           printf('%.2f seconds', CAST(t % 60 AS DOUBLE)) AS formatted
         FROM b ORDER BY event_id""",
    "q35_llm_clean" ->
      """SELECT doc_id,
         trim(translate(
           regexp_replace(
             (regexp_split_to_array(
               '<think>deliberating</think>Here is the cleaned chunk: <CHUNK>' || text || '</CHUNK>',
               'Here is the cleaned chunk:|Here''s the cleaned chunk:|</think>'))[-1],
             '</?CHUNK>', '', 'g'),
           '‘’“”', '''''""')) AS cleaned
         FROM documents ORDER BY doc_id""",
    "q36_like_escape" ->
      """SELECT doc_id,
         regexp_replace(source || '_pct%', '([%_])', '\\\1', 'g') AS escaped
         FROM documents ORDER BY doc_id""",
    "q38_hosts_roundtrip" ->
      """WITH b AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '' ELSE source || ',' || lang END AS hosts_str
           FROM documents)
         SELECT doc_id,
           CASE WHEN hosts_str = '' THEN 0 ELSE len(string_split(hosts_str, ',')) END AS n_hosts,
           CASE WHEN hosts_str = '' THEN ''
                ELSE array_to_string(string_split(hosts_str, ','), ',') END AS rejoined
         FROM b ORDER BY doc_id""",
    "q39_record_json" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(
           to_json(struct_pack(doc_id := doc_id, source := source, lang := lang))::VARCHAR,
           '\{', '{{', 'g'), '\}', '}}', 'g') AS rec
         FROM documents ORDER BY doc_id""",
    "q43_subword_upper" ->
      """WITH b AS (SELECT doc_id, text, upper(source) || ' ' || text AS mixed FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text, '[\p{L}\p{N}]+')) +
             length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS n_subwords,
           round(CASE WHEN length(regexp_replace(mixed, '[^\p{L}]', '', 'g')) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(mixed, '[^\p{Lu}]', '', 'g')) AS DOUBLE)
               / length(regexp_replace(mixed, '[^\p{L}]', '', 'g')) END, 4) AS upper_ratio
         FROM b ORDER BY doc_id""",
    "q44_langid_quality" ->
      """WITH b AS (SELECT doc_id, text,
           string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, text,
           len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS s_en,
           len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','ein','nicht','mit','den','von'], t))) AS s_de,
           len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','es','los','por'], t))) AS s_es,
           len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','est','que','pour','dans'], t))) AS s_fr
           FROM b),
         q AS (SELECT doc_id, text,
           CASE WHEN s_en = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'en'
                WHEN s_de = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'de'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'es'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'fr'
                ELSE 'und' END AS lang_id,
           least(length(text) / 500.0, 1.0) AS len_score,
           least((CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0) AS punct_penalty,
           least((CASE WHEN length(regexp_replace(text, '[^\p{L}]', '', 'g')) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '[^\p{Lu}]', '', 'g')) AS DOUBLE)
               / length(regexp_replace(text, '[^\p{L}]', '', 'g')) END) * 3.0, 1.0) AS upper_penalty,
           CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) END AS mwl
           FROM s)
         SELECT doc_id, lang_id,
           round(greatest(0.0,
             len_score * 0.4 +
             (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3 +
             (1.0 - punct_penalty) * 0.2 +
             (1.0 - upper_penalty) * 0.1), 4) AS quality
         FROM q ORDER BY doc_id""",
    "q45_fingerprint" ->
      """WITH b AS (SELECT doc_id, substr(text, 1, 11) AS p FROM documents)
         SELECT doc_id,
           list_reduce(list_concat([CAST(7 AS BIGINT)],
             list_transform(range(1, length(p)+1),
               i -> CAST(ord(substr(p, i, 1)) AS BIGINT))),
             (acc, c) -> acc * 31 + c) AS fp
         FROM b ORDER BY doc_id""",
    "q46_catalog" ->
      """SELECT o.o_orderkey, c.c_name,
         coalesce(array_to_string(list_sort(list_filter(list(p.p_name), x -> x IS NOT NULL)), ','), '') AS names
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         LEFT JOIN part p ON l.l_partkey = p.p_partkey
         WHERE o.o_orderkey < 320
         GROUP BY o.o_orderkey, c.c_name
         ORDER BY o.o_orderkey""",
    "q47_citations" ->
      """WITH retrieved AS (
           SELECT user_id, CAST(floor(value) AS INT) AS t FROM events
           WHERE event_type = 'click'),
         cited AS (SELECT user_id, CAST(floor(value) AS INT) AS t FROM events
           WHERE event_type = 'purchase')
         SELECT user_id,
           array_to_string(list_sort(list_distinct(list(t))), ',') AS cited_ts,
           count(*) AS n_cites
         FROM retrieved
         WHERE user_id IN (SELECT user_id FROM cited)
           AND t IN (SELECT t FROM cited)
         GROUP BY user_id ORDER BY user_id""",
    "q48_prompt" ->
      """SELECT doc_id,
         printf('System: You clean transcript chunks.
Show: %s
Hosts: %s
---
%s', source, lang, text) AS prompt
         FROM documents ORDER BY doc_id""",
    "q49_binary_sniff" ->
      """SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         hex(encode(substr(text, 1, 4))) AS magic
         FROM documents ORDER BY doc_id""",
    // q50: full simhash recompute — same md5-derived 60-bit token hash,
    // same vote rule (bit j set iff 2*ones > n_tokens, ties clear);
    // docless/empty rows fingerprint to 0 via the left join.
    "q50_simhash" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         h AS (SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
         votes AS (SELECT doc_id, b.j, sum((h >> b.j) & 1) AS ones,
             count(*) AS total
           FROM h, LATERAL unnest(generate_series(0, 59)) AS b(j)
           GROUP BY 1, 2),
         sh AS (SELECT doc_id,
             sum(CASE WHEN 2 * ones > total
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
           FROM votes GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(sh.simhash, 0) AS BIGINT) AS simhash,
           CAST(COALESCE(len(toks.t), 0) AS BIGINT) AS n_tokens
         FROM documents d
         LEFT JOIN toks ON d.doc_id = toks.doc_id
         LEFT JOIN sh ON d.doc_id = sh.doc_id
         ORDER BY d.doc_id""",
    "q61_length_histogram" ->
      """SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket,
         count(*) AS n_docs,
         CAST(sum(n_chars) / count(*) AS DOUBLE) AS avg_chars
         FROM documents GROUP BY 1 ORDER BY bucket""",
    "q59_embedding_dedup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           CAST(b.embedding AS DOUBLE[])) >= 0.4
         ORDER BY id_a, id_b""",
    "q55_session_window" ->
      """WITH base AS (SELECT user_id, ts, event_id FROM events
           UNION ALL
           -- Derived touching pair per user (exactly gap after the last
           -- event): the table itself holds no pair at exactly gap
           -- distance, so this row makes the oracle exercise
           -- merge-on-touching directly (mirrors the Spark query).
           SELECT user_id, max(ts) + INTERVAL 10 MINUTE AS ts,
             -1 AS event_id FROM events GROUP BY user_id),
         o AS (SELECT user_id, ts, event_id,
           -- Strict > matches Spark session_window semantics exactly:
           -- each event's window is [ts, ts+gap) and TOUCHING windows
           -- merge, so an event at precisely gap distance CONTINUES the
           -- session (pinned by this row's derived touching pair and
           -- by q73's inline fixture).
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS brk
           FROM base),
         s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM o)
         SELECT user_id, min(ts) AS session_start, count(*) AS n
         FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""",
    "q56_cube" ->
      """SELECT l_returnflag, l_linestatus,
         sum(CAST(round_even(l_quantity*100, 0) AS BIGINT)) / 100.0 AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q57_percentile" ->
      """SELECT o_orderpriority,
         round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q58_asof_join" ->
      """SELECT c.event_id, c.user_id, p.ts AS matched_ts
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND p.ts <= c.ts
         ORDER BY c.event_id""",
    "q54_format_sniff" ->
      """WITH b AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB || encode(text)
                WHEN doc_id % 3 = 1 THEN '\xFF\xD8\xFF\xE0'::BLOB || encode(text)
                ELSE encode(text) END AS payload FROM documents)
         SELECT doc_id,
           CASE WHEN left(hex(payload), 16) = '89504E470D0A1A0A' THEN 'png'
                WHEN left(hex(payload), 6) = 'FFD8FF' THEN 'jpeg'
                WHEN left(hex(payload), 8) = '47494638' THEN 'gif'
                ELSE 'unknown' END AS format,
           octet_length(payload) AS n_bytes
         FROM b ORDER BY doc_id""",
    "q66_enrich_merge" ->
      """SELECT doc_id, source, n_chars, upper(lang) AS lang,
         n_chars * 2 AS api_chars
         FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""",
    "q63_structured_output" ->
      """WITH r AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '{"query_response": "broken", "sources": '
                WHEN doc_id % 11 = 3 THEN '{"query_response": "no sources here"}'
                WHEN doc_id % 5 = 1 THEN 'Let me think.
```json
{"query_response": "Answer ' || doc_id || '", "sources": [{"video_id": "v' || doc_id || '", "start_time": ' || (doc_id % 100) || '.5}]}
```'
                ELSE '{"query_response": "Answer ' || doc_id || '", "sources": [{"video_id": "v' || doc_id || '", "start_time": ' || (doc_id % 100) || '.5}, {"video_id": "w' || doc_id || '", "start_time": 0.25}]}'
           END AS resp FROM documents),
         x AS (SELECT doc_id, regexp_extract(resp, '(?s)\{.*\}', 0) AS j0 FROM r),
         p AS (SELECT doc_id, CASE WHEN json_valid(j0) THEN j0 END AS j FROM x)
         SELECT doc_id,
           json_extract_string(j, '$.query_response') AS query_response,
           CAST(json_array_length(j, '$.sources') AS BIGINT) AS n_sources,
           json_extract_string(j, '$.sources[0].video_id') AS first_video,
           CAST(json_extract_string(j, '$.sources[0].start_time') AS DOUBLE) AS first_start
         FROM p ORDER BY doc_id""",
    "q64_ivf_exact" ->
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 5) t
         WHERE rank <= 5 ORDER BY q_id, rank""",
    "q53_chunk_transcript" ->
      """WITH d AS (SELECT source AS video_id,
           sum(length(trim(text))+1) AS n_chars,
           min(doc_id)*10.0 AS min_snip
         FROM documents GROUP BY 1)
         SELECT video_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(ceil(n_chars/1000.0) AS BIGINT) AS lo,
           CAST(ceil(n_chars/800.0)+1 AS BIGINT) AS hi,
           CAST(min_snip AS DOUBLE) AS min_start,
           TRUE AS count_in_bounds, TRUE AS max_start_ok,
           TRUE AS nonempty_ok, TRUE AS max_len_ok
         FROM d ORDER BY video_id""",
    // q30: exact prefix-filter join pairs + Jaccard values are fully
    // DuckDB-recomputable; `covered` (MinHash candidate generator
    // produced the pair too) is pinned TRUE.
    "q30_minhash_pairs" ->
      s"""WITH src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)}
         SELECT id_a, id_b, round(jac, 4) AS jaccard, TRUE AS covered
         FROM pv WHERE jac >= 0.8 ORDER BY id_a, id_b""",
    // ANN envelopes (q51/q60): self is the unique cosine-1.0 maximum
    // and is guaranteed a candidate, so top-1 is pinned exactly; the
    // invariant booleans are engine-computed and pinned TRUE.
    "q51_lsh_ann" ->
      """SELECT vec_id AS q_id, vec_id AS top1_vec_id,
           CAST(1.0 AS DOUBLE) AS top1_score,
           TRUE AS scores_exact, TRUE AS ranks_contiguous,
           TRUE AS ids_distinct, TRUE AS scores_desc
         FROM embeddings WHERE vec_id < 5 ORDER BY q_id""",
    "q60_ivf_topk" ->
      """SELECT vec_id AS q_id, vec_id AS top1_vec_id,
           CAST(1.0 AS DOUBLE) AS top1_score,
           TRUE AS scores_exact, TRUE AS ranks_contiguous,
           TRUE AS ids_distinct, TRUE AS scores_desc
         FROM embeddings WHERE vec_id < 5 ORDER BY q_id""",
    "q67_embedding_dedup_lsh" ->
      """SELECT DISTINCT label,
           TRUE AS pairs_ordered, TRUE AS pairs_distinct, TRUE AS threshold_ok,
           TRUE AS corpus_has_pairs
         FROM embeddings ORDER BY label""",
    "q52_ivf_assign" ->
      """SELECT vec_id, TRUE AS assigned_argmax, TRUE AS scored_all_centroids
         FROM embeddings ORDER BY vec_id""",
    "q62_simhash_pairs" ->
      """SELECT count(*) AS n_docs, TRUE AS banded_equals_brute, TRUE AS has_pairs,
           TRUE AS banded_distinct
         FROM documents""",
    "q65_hamming_join_rule" ->
      """SELECT count(*) AS n_docs, TRUE AS rule_equals_operator, TRUE AS has_pairs,
           TRUE AS rule_distinct
         FROM documents""",
    "q70_bm25" ->
      s"""WITH $bm25OracleCtes,
         r AS (SELECT doc_id, score_g,
            row_number() OVER (ORDER BY score_g DESC, doc_id) AS rank FROM agg)
         SELECT doc_id, round(score_g, 4) AS score, rank
         FROM r WHERE rank <= 20 ORDER BY rank""",
    "q72_hybrid_rrf" ->
      s"""WITH dense AS (
           SELECT vec_id AS id, row_number() OVER (ORDER BY
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) DESC,
               vec_id) AS rank
           FROM embeddings e QUALIFY rank <= 20),
         $bm25OracleCtes,
         sparse AS (SELECT doc_id AS id,
            row_number() OVER (ORDER BY score_g DESC, doc_id) AS rank
          FROM agg QUALIFY rank <= 20),
         u AS (SELECT id, CAST(1.0 AS DOUBLE)/(60+rank) AS c FROM dense
               UNION ALL
               SELECT id, CAST(1.0 AS DOUBLE)/(60+rank) AS c FROM sparse),
         f AS (SELECT id, sum(c) AS rrf_score, count(*) AS n_lists FROM u GROUP BY id),
         r AS (SELECT id, rrf_score, n_lists,
            row_number() OVER (ORDER BY rrf_score DESC, id) AS rank FROM f)
         SELECT id, round(rrf_score, 6) AS rrf, n_lists, rank
         FROM r WHERE rank <= 10 ORDER BY rank""",
    "q71_approx_distinct" ->
      """WITH toks AS (SELECT lang,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '')) AS term FROM documents)
         SELECT lang, count(DISTINCT term) AS n_exact,
           TRUE AS hll_within_5pct
         FROM toks GROUP BY lang ORDER BY lang""",
    "q69_jaccard_join_rule" ->
      s"""WITH src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)}
         SELECT id_a, id_b, round(jac, 4) AS jaccard
         FROM pv WHERE jac >= 0.8 ORDER BY id_a, id_b""",
    "q68_cosine_join_rule" ->
      """SELECT DISTINCT label,
           TRUE AS pairs_ordered, TRUE AS pairs_distinct, TRUE AS threshold_ok,
           TRUE AS corpus_has_pairs
         FROM embeddings ORDER BY label""",
    "q73_session_boundary" ->
      """WITH ev(user_id, ts) AS (VALUES
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 00:00:00'),
           (1, TIMESTAMP '2024-01-01 00:10:00'),
           (1, TIMESTAMP '2024-01-01 00:30:00'),
           (2, TIMESTAMP '2024-01-01 00:00:00'),
           (2, TIMESTAMP '2024-01-01 00:10:01'),
           (3, TIMESTAMP '2024-01-01 00:00:00'),
           (3, TIMESTAMP '2024-01-01 00:09:59')),
         -- Strict > break: an event at EXACTLY gap distance continues
         -- the session (Spark merges touching [ts, ts+gap) windows).
         -- The inline pair (1, 00:10:00) exercises that boundary, so
         -- this oracle row fails if either engine's semantics drift.
         o AS (SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '10 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS brk
           FROM ev),
         s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM o)
         SELECT user_id, min(ts) AS session_start, count(*) AS n
         FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""",
    "q74_repetition" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         g2 AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             i -> array_to_string(t[i:i+1], ' '))) AS ng FROM toks),
         c2 AS (SELECT doc_id, ng, count(*) AS c FROM g2 GROUP BY doc_id, ng),
         a2 AS (SELECT doc_id, sum(c) AS total, max(c) AS top
           FROM c2 GROUP BY doc_id),
         g3 AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-2,0)+1),
             i -> array_to_string(t[i:i+2], ' '))) AS ng FROM toks),
         c3 AS (SELECT doc_id, ng, count(*) AS c FROM g3 GROUP BY doc_id, ng),
         a3 AS (SELECT doc_id, sum(c) AS total,
             sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
           FROM c3 GROUP BY doc_id)
         SELECT d.doc_id,
           round(COALESCE(a2.top * 1.0 / a2.total, 0), 4) AS top2_frac,
           round(COALESCE(a3.dup * 1.0 / a3.total, 0), 4) AS dup3_frac,
           (COALESCE(a2.top * 1.0 / a2.total, 0) > 0.18
             OR COALESCE(a3.dup * 1.0 / a3.total, 0) > 0.30) AS repetitive
         FROM documents d
         LEFT JOIN a2 ON d.doc_id = a2.doc_id
         LEFT JOIN a3 ON d.doc_id = a3.doc_id
         ORDER BY d.doc_id""",
    "q75_stratified_split" ->
      """SELECT lang,
           CASE WHEN substr(md5('graft_v1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                  THEN 'train'
                WHEN substr(md5('graft_v1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
         FROM documents GROUP BY lang, split ORDER BY lang, split""",
    "q76_ngram_topk" ->
      """WITH toks AS (SELECT
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         g AS (SELECT unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             i -> array_to_string(t[i:i+1], ' '))) AS ngram FROM toks)
         SELECT ngram, count(*) AS n FROM g GROUP BY ngram
         ORDER BY n DESC, ngram LIMIT 25""",
    "q77_approx_quantile" ->
      """SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_exact,
           TRUE AS approx_rank_ok
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q78_shard_packing" ->
      """WITH c AS (SELECT doc_id, n_chars,
           COALESCE(sum(n_chars) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
           FROM documents)
         SELECT CAST(before // 20000 AS BIGINT) AS shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars, min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
         FROM c GROUP BY shard ORDER BY shard""",
    "q79_decontamination" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         g AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-2,0)+1),
             i -> array_to_string(t[i:i+2], ' '))) AS ng FROM toks),
         ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
         m AS (SELECT g.doc_id, count(DISTINCT g.ng) AS n_shared
           FROM g JOIN ev ON g.ng = ev.ng
           WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
         SELECT d.doc_id, COALESCE(m.n_shared, 0) AS n_shared,
           COALESCE(m.n_shared, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""",
    "q80_incremental_dedup" ->
      s"""WITH bsrc AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 7),
         csrc AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 <> 7),
         ${jaccardPrefixRsCtes("bsrc", "csrc", 0.8)},
         m AS (SELECT id_l AS id_in, round(max(jac), 4) AS bj
           FROM pv WHERE jac >= 0.8 GROUP BY id_in)
         SELECT d.doc_id, COALESCE(m.bj, 0) AS best_jaccard,
           COALESCE(m.bj, 0) >= 0.8 AS is_dup
         FROM documents d LEFT JOIN m ON d.doc_id = m.id_in
         WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id""",
    "q81_span_dedup" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         sp AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-5,0)+1),
             i -> array_to_string(t[i:i+5], ' '))) AS s FROM toks),
         pd AS (SELECT doc_id, s, count(*) AS c FROM sp GROUP BY 1, 2),
         rep AS (SELECT s FROM pd GROUP BY s HAVING count(*) >= 2),
         dup AS (SELECT doc_id, sum(c) AS dup_spans
           FROM pd JOIN rep USING (s) GROUP BY 1),
         tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1)
         SELECT d.doc_id, COALESCE(tot.n_spans, 0) AS n_spans,
           CAST(COALESCE(dup.dup_spans, 0) AS BIGINT) AS dup_spans,
           round(COALESCE(dup.dup_spans * 1.0 / tot.n_spans, 0), 4) AS dup_frac,
           round(COALESCE(dup.dup_spans * 1.0 / tot.n_spans, 0), 4) > 0.5 AS flagged
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN dup ON d.doc_id = dup.doc_id
         ORDER BY d.doc_id""",
    "q82_lm_perplexity" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b FROM toks),
         db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS c
           FROM bg GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, sum(c) AS c12 FROM db GROUP BY 1, 2),
         c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
           FROM (SELECT unnest(t) AS tk FROM toks)),
         sc AS (SELECT db.doc_id,
             sum(db.c * CAST(round_even(
               -ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v)) * 1000000, 0)
               AS BIGINT)) AS s,
             sum(db.c) AS n
           FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
           GROUP BY db.doc_id)
         SELECT d.doc_id, CAST(COALESCE(sc.n, 0) AS BIGINT) AS n_bigrams,
           COALESCE(((2*sc.s + sc.n) // (2*sc.n)) / 1000000.0, 0) AS avg_nll
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         ORDER BY d.doc_id""",
    "q83_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT sum(n_docs) AS n FROM c),
         w AS (SELECT c.lang, c.n_docs,
             CAST(round_even(pow(c.n_docs * 1.0::DOUBLE / t.n, 0.5) * 1000000, 0)
               AS BIGINT) AS wq,
             CAST(round_even(1.0::DOUBLE * t.n, 0) AS BIGINT) AS ntarget
           FROM c CROSS JOIN t),
         ws AS (SELECT sum(wq) AS wsum FROM w),
         cuts AS (SELECT lang, n_docs,
             CAST(least(65536, (ntarget * wq * 65536) // (wsum * n_docs))
               AS BIGINT) AS cut
           FROM w CROSS JOIN ws),
         samp AS (SELECT d.lang, count(*) AS n_sampled
           FROM documents d JOIN cuts USING (lang)
           WHERE cut >= 65536
              OR substr(md5('graft_mix_v1' || CAST(doc_id AS VARCHAR)), 1, 4)
                 < lpad(lower(hex(cut)), 4, '0')
           GROUP BY 1)
         SELECT cuts.lang, cuts.n_docs, cuts.cut,
           COALESCE(samp.n_sampled, 0) AS n_sampled
         FROM cuts LEFT JOIN samp USING (lang) ORDER BY lang""",
    "q84_dup_components" ->
      s"""WITH RECURSIVE src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)},
         p AS (SELECT id_a, id_b FROM pv WHERE jac >= 0.8),
         e AS (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b AS u, id_a AS v FROM p),
         reach(v, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.v, e.v FROM reach JOIN e ON reach.r = e.u),
         comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
         sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
         SELECT comp.doc_id, comp.component, sz.cluster_size,
           comp.doc_id = comp.component AS is_canonical
         FROM comp JOIN sz USING (component)
         ORDER BY comp.doc_id""",
    "q85_pii_redaction" ->
      """WITH raw AS (SELECT c_custkey,
           'note for ' || c_name || ' segment ' || c_mktsegment
           || CASE WHEN c_custkey % 2 = 0 THEN ' contact ' ||
                lower(replace(c_name, '#', '.')) || '@example.org'
              ELSE '' END
           || CASE WHEN c_custkey % 3 = 0 THEN ' call +' ||
                CAST(c_custkey % 89 + 1 AS VARCHAR) || '-' ||
                CAST(c_custkey * 7 % 900 + 100 AS VARCHAR) || '-' ||
                CAST(c_custkey * 13 % 900 + 100 AS VARCHAR) || '-' ||
                CAST(c_custkey * 31 % 9000 + 1000 AS VARCHAR)
              ELSE '' END
           || CASE WHEN c_custkey % 5 = 0 THEN ' host 10.' ||
                CAST(c_custkey % 223 AS VARCHAR) || '.' ||
                CAST(c_custkey * 3 % 256 AS VARCHAR) || '.' ||
                CAST(c_custkey * 5 % 254 + 1 AS VARCHAR)
              ELSE '' END
           || CASE WHEN c_custkey % 7 = 0 THEN ' cc ops.' ||
                CAST(c_custkey AS VARCHAR) || '@corp.example.com'
              ELSE '' END AS raw
           FROM customer)
         SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+\d{1,3}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
           len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(raw,
             '\+\d{1,3}-\d{3}-\d{3}-\d{4}\b')) AS n_phones,
           len(regexp_extract_all(raw,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips
         FROM raw ORDER BY c_custkey""",
    "q86_quality_funnel" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         st AS (SELECT doc_id, len(t) AS n,
           length(array_to_string(t, '')) AS sl,
           len(list_filter(t,
             x -> x IN ('the','a','of','to','and','in','is','it'))) AS sw
           FROM toks),
         v AS (SELECT doc_id, n,
           CASE WHEN n < 15 THEN 'too_short'
                WHEN sl*10 < 30*n OR sl*10 > 80*n THEN 'word_length'
                WHEN sw < 2 THEN 'low_stopword'
                ELSE 'pass' END AS verdict
           FROM st)
         SELECT doc_id, n AS n_words, verdict, verdict = 'pass' AS passed
         FROM v ORDER BY doc_id""",
    "q87_leakage_safe_split" ->
      s"""WITH RECURSIVE src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)},
         p AS (SELECT id_a, id_b FROM pv WHERE jac >= 0.8),
         e AS (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b AS u, id_a AS v FROM p),
         reach(v, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.v, e.v FROM reach JOIN e ON reach.r = e.u),
         comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
         sp AS (SELECT doc_id, component,
           CASE WHEN substr(md5('graft_v1' || CAST(component AS VARCHAR)), 1, 4)
                  < 'cccd' THEN 'train'
                WHEN substr(md5('graft_v1' || CAST(component AS VARCHAR)), 1, 4)
                  < 'e666' THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN substr(md5('graft_v1' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < 'cccd' THEN 'train'
                WHEN substr(md5('graft_v1' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < 'e666' THEN 'val'
                ELSE 'test' END AS naive
           FROM comp)
         SELECT doc_id, component, split, naive <> split AS would_leak
         FROM sp ORDER BY doc_id""",
    "q88_semantic_clusters" ->
      """WITH RECURSIVE p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4),
         e AS (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b AS u, id_a AS v FROM p),
         reach(v, r) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT reach.v, e.v FROM reach JOIN e ON reach.r = e.u),
         comp AS (SELECT v AS vec_id, min(r) AS component FROM reach GROUP BY v),
         sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
         SELECT comp.vec_id, comp.component, sz.cluster_size,
           comp.vec_id = comp.component AS is_canonical
         FROM comp JOIN sz USING (component)
         ORDER BY comp.vec_id""",
    "q89_embedding_quantization" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         m AS (SELECT vec_id, v,
           list_aggregate(list_transform(v, x -> abs(x)), 'max') AS am FROM e),
         s AS (SELECT vec_id, v,
           CASE WHEN am > 0 THEN 127.0 / am END AS scale FROM m),
         q AS (SELECT vec_id, v, scale,
           list_transform(v, x -> CASE WHEN scale IS NULL THEN 0
             ELSE CAST(greatest(-127, least(127, round(x * scale)))
                  AS INTEGER) END) AS codes FROM s),
         r AS (SELECT vec_id, v, scale, codes,
           list_transform(codes, c -> CASE WHEN scale IS NULL THEN 0.0
             ELSE c / scale END) AS recon FROM q)
         SELECT vec_id, array_to_string(codes, ',') AS codes, scale,
           round(list_cosine_similarity(v, recon), 6) AS cos_recon,
           round(list_cosine_similarity(v, recon), 6) >= 0.999 AS within_tol
         FROM r ORDER BY vec_id""",
    // q90: exact-mode PQ (shortlist covers the store, re-rank is exact
    // cosine) — the oracle is plain brute-force top-k, q64's shape.
    "q90_pq_exact" ->
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 5) t
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // q91: quantizer-internals envelope — per-vector argmin/identity
    // booleans computed by independent in-engine scoring, pinned TRUE.
    "q91_pq_encode" ->
      """SELECT vec_id, TRUE AS encoded_argmin, TRUE AS all_subspaces,
           TRUE AS adc_matches_recon, TRUE AS scored_all_queries
         FROM embeddings
         WHERE substr(md5('q91s' || CAST(vec_id AS VARCHAR)), 1, 1)
           IN ('0', '1', '2', '3')
         ORDER BY vec_id""",
    // q92: full DSIR mirror — md5-prefix buckets, add-1 micro-nat
    // log-ratios (round_even == Spark rint), md5 Gumbel draws, top-k.
    "q92_importance_sampling" ->
      """WITH toks AS (SELECT doc_id, lang,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         f AS (SELECT doc_id, lang,
             substr(md5('dsir1' || u.tok), 1, 3) AS bucket
           FROM toks, LATERAL unnest(t) AS u(tok)),
         rawc AS (SELECT bucket, count(*) AS rc FROM f GROUP BY 1),
         tgtc AS (SELECT bucket, count(*) AS tc FROM f WHERE lang = 'en' GROUP BY 1),
         tot AS (SELECT (SELECT count(*) FROM f) AS nr,
                        (SELECT count(*) FROM f WHERE lang = 'en') AS nt),
         lr AS (SELECT bucket,
             CAST(round_even((ln(coalesce(tc, 0) + 1.0) - ln(nt + 4096.0)
               - ln(coalesce(rc, 0) + 1.0) + ln(nr + 4096.0)) * 1000000.0, 0)
               AS BIGINT) AS lr_micro
           FROM rawc LEFT JOIN tgtc USING (bucket), tot),
         w AS (SELECT d.doc_id,
             CAST(coalesce(sum(lr_micro), 0) AS BIGINT) AS w_micro
           FROM documents d
           LEFT JOIN f ON d.doc_id = f.doc_id
           LEFT JOIN lr USING (bucket)
           GROUP BY 1),
         g AS (SELECT doc_id, CAST(round_even(-ln(-ln(
               (('0x' || substr(md5('dsir1:g' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                 + 0.5) / 65536.0)) * 1000000.0, 0) AS BIGINT) AS g_micro
           FROM documents),
         s AS (SELECT w.doc_id, w_micro, g_micro,
             CAST(w_micro + g_micro AS BIGINT) AS total_micro
           FROM w JOIN g ON w.doc_id = g.doc_id)
         SELECT doc_id, w_micro, g_micro, total_micro,
           row_number() OVER (ORDER BY total_micro DESC, doc_id) AS rank
         FROM s ORDER BY total_micro DESC, doc_id LIMIT 25""",
    // q93: the bloom never changes the result set — new work is exactly
    // the anti-join the oracle computes; the sketch-dependent counters
    // surface only as pinned booleans.
    "q93_bloom_skip" ->
      """SELECT doc_id, TRUE AS no_false_negatives, TRUE AS fp_bounded
         FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0
         ORDER BY doc_id""",
    // q94: exact top-25 token counts (q70's tokenizer CTE); the CMS
    // estimates surface only as the pinned guarantee booleans.
    "q94_cms_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS n_total FROM toks)
         SELECT term, cnt,
           row_number() OVER (ORDER BY cnt DESC, term) AS rank,
           n_total, TRUE AS est_ge_exact, TRUE AS est_within_eps
         FROM tf, tot ORDER BY cnt DESC, term LIMIT 25""",
    // q95: full segment-dedup mirror — same tokenizer CTE as q70/q94,
    // scan-side segmentization via list slicing, cross-doc inventory,
    // anti-join removal, ordered reassembly.
    "q95_segment_dedup" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS t
           FROM documents),
         seg AS (SELECT doc_id, u.i AS seg_idx,
             array_to_string(t[u.i*8+1 : u.i*8+8], ' ') AS seg_text
           FROM toks, LATERAL unnest(range(CAST(ceil(len(t)/8.0) AS BIGINT))) AS u(i)),
         bp AS (SELECT seg_text FROM seg
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT s.doc_id, s.seg_idx, s.seg_text
           FROM seg s ANTI JOIN bp USING (seg_text)),
         re AS (SELECT doc_id,
             string_agg(seg_text, ' ' ORDER BY seg_idx) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY 1),
         ns AS (SELECT doc_id, count(*) AS n_segs FROM seg GROUP BY 1)
         SELECT d.doc_id, coalesce(re.clean_text, '') AS clean_text,
           coalesce(ns.n_segs, 0) AS n_segs,
           coalesce(ns.n_segs, 0) - coalesce(re.n_kept, 0) AS n_removed
         FROM documents d
         LEFT JOIN ns USING (doc_id) LEFT JOIN re USING (doc_id)
         ORDER BY d.doc_id""",
    // q96: the draw is the same md5 hex prefix as q75's split; the
    // (draw, doc_id) order is total, so selection and rank both mirror.
    "q96_stratified_sample" ->
      """WITH r AS (SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
             ORDER BY substr(md5('strat1' || CAST(doc_id AS VARCHAR)), 1, 4),
               doc_id) AS rank
         FROM documents)
         SELECT lang, doc_id, rank FROM r WHERE rank <= 10
         ORDER BY lang, rank""",
    // q97: the oracle states the range join DECLARATIVELY (BETWEEN-style
    // theta join) — DuckDB plans it however it likes; only the result
    // must match the binned plan.
    "q97_interval_join" ->
      """WITH w AS (SELECT event_id AS wid, ts AS w_start,
           ts + INTERVAL 10 MINUTE AS w_end
           FROM events WHERE event_type = 'error' AND event_id % 97 = 0)
         SELECT wid, count(*) AS n_events,
           sum(CAST(round_even(value*100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM w JOIN events p ON p.ts >= w.w_start AND p.ts < w.w_end
         GROUP BY wid ORDER BY wid""",
    // q98: the identical mask-ladder bit algebra, spelled in SQL.
    "q98_zorder_key" ->
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
         SELECT o_orderkey, x4 | (y4 << 1) AS zkey FROM v ORDER BY o_orderkey""",
    // q99: integer cross-multiplication for the share test — no float
    // division anywhere near the selection boundary.
    "q99_source_topshare" ->
      """WITH per AS (SELECT source, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS weight FROM documents GROUP BY source),
         c AS (SELECT *,
           CAST(sum(weight) OVER (ORDER BY weight DESC, source
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight,
           sum(weight) OVER () AS total FROM per)
         SELECT source, n_rows, weight, cum_weight,
           (cum_weight - weight) * 5 < total * 3 AS selected
         FROM c ORDER BY weight DESC, source""",
    // q100: exact rewrite of the declarative form — same oracle as q97.
    "q100_interval_join_rule" ->
      """WITH w AS (SELECT event_id AS wid, ts AS w_start,
           ts + INTERVAL 10 MINUTE AS w_end
           FROM events WHERE event_type = 'error' AND event_id % 97 = 0)
         SELECT wid, count(*) AS n_events,
           sum(CAST(round_even(value*100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM w JOIN events p ON p.ts >= w.w_start AND p.ts < w.w_end
         GROUP BY wid ORDER BY wid""",
    // q101: exact columns recomputed from the full corpus; sketch
    // booleans pinned (deterministic for a fixed corpus + sketch lib).
    "q101_incremental_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         count(DISTINCT source) AS n_sources_exact,
         TRUE AS merged_est_matches_direct,
         TRUE AS est_within_5pct
         FROM documents GROUP BY lang ORDER BY lang""",
    // q102: the same lag-suppress + lead-close decomposition in SQL.
    "q102_scd2_versions" ->
      """WITH c AS (SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         k AS (SELECT user_id, ts, event_id, event_type FROM c
           WHERE event_type IS DISTINCT FROM prev),
         v AS (SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
           FROM k)
         SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM v ORDER BY user_id, valid_from""",
    // q103: chr(233) = composed e-acute, chr(769) = combining acute.
    "q103_unicode_norm" ->
      """SELECT c_custkey,
         lower(strip_accents('Caf' || chr(233) || ' ' || c_name)) AS fold_key,
         lower(strip_accents('Caf' || chr(233) || ' ' || c_name)) =
           lower(strip_accents('Cafe' || chr(769) || ' ' || c_name)) AS keys_match,
         length(nfc_normalize('Cafe' || chr(769) || ' ' || c_name)) AS nfc_chars,
         length('Cafe' || chr(769) || ' ' || c_name) AS raw_chars
         FROM customer ORDER BY c_custkey""",
    // q104: identical RE2 pattern, identical blocklist membership,
    // half-even ratio grid.
    "q104_blocklist" ->
      """WITH u AS (SELECT doc_id, text,
           CASE WHEN doc_id % 3 = 0 THEN 'https://'
                WHEN doc_id % 3 = 1 THEN 'http://user:pw@' ELSE '' END ||
           CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
           source || '.example.org' ||
           CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END ||
           '/watch?v=' || doc_id AS url
           FROM documents),
         h AS (SELECT doc_id, url, text,
           regexp_replace(lower(regexp_extract(url,
             '^(?:[a-z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1)),
             '^www\.', '') AS host FROM u),
         w AS (SELECT *, list_distinct(
             regexp_split_to_array(lower(trim(text)), '\s+')) AS words FROM h)
         SELECT doc_id, url, host,
           host IN ('src1.example.org', 'src7.example.org',
                    'src13.example.org') AS blocked,
           round_even(CASE WHEN len(words) = 0 THEN 0.0
             ELSE len(list_intersect(words, ['spark', 'fast', 'slow'])) * 1.0
                  / len(words) END * 10000, 0) / 10000 AS badword_ratio
         FROM w ORDER BY doc_id""",
    // q105: same md5 draws, min-id election, and exclusions.
    "q105_negative_sampling" ->
      """WITH r0 AS (SELECT doc_id, source,
           (('0x' || substr(md5('neg1' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT)
             % 64 AS b
           FROM documents),
         reps AS (SELECT b, min(doc_id) AS neg_id FROM r0 GROUP BY b),
         repx AS (SELECT r.b, r.neg_id, d.source AS nsrc
           FROM reps r JOIN documents d ON d.doc_id = r.neg_id),
         slots AS (SELECT d.doc_id, d.source, s.slot,
           (('0x' || substr(md5('neg1' || CAST(d.doc_id AS VARCHAR) || ':'
              || CAST(s.slot AS VARCHAR)), 1, 4))::BIGINT) % 64 AS b
           FROM documents d, (SELECT unnest(range(1, 5)) AS slot) s)
         SELECT doc_id, slot, neg_id FROM slots JOIN repx USING (b)
         WHERE neg_id <> doc_id AND nsrc <> source
         ORDER BY doc_id, slot""",
    // q106: the same greedy earliest-binding chain as CTEs.
    "q106_event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS ts_1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS ts_2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.ts_1
             AND e.ts <= s1.ts_1 + INTERVAL 7200 SECOND
           WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS ts_3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.ts_2
             AND e.ts <= s2.ts_2 + INTERVAL 7200 SECOND
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT s1.user_id AS key,
           1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS steps_completed,
           ts_1, ts_2, ts_3
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
           LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY key""",
    // q107: RANGE INTERVAL frame on the raw timestamps — micros-exact
    // on both engines.
    "q107_range_frame" ->
      """SELECT event_id,
         count(*) OVER w AS n_1h,
         sum(CAST(round_even(value*100, 0) AS BIGINT)) OVER w / 100.0 AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 3600 SECOND PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    // q108: the same exact power-of-two ladder in int64.
    "q108_decayed_score" ->
      """WITH a AS (SELECT user_id, value,
           (1706745600000000 - epoch_us(ts)) // 86400000000 AS age
           FROM events)
         SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round_even(value*100, 0) AS BIGINT)
                    * CAST(pow(2, 30 - age) AS BIGINT)) AS DOUBLE)
             / (100.0 * 1073741824) AS decayed_value
         FROM a WHERE age <= 30 AND age >= 0
         GROUP BY user_id ORDER BY user_id""",
    // q109: the same unpivot, spelled as UNION ALL; every aggregate
    // that DuckDB widens (sum -> HUGEINT) is cast back to BIGINT.
    "q109_column_profile" ->
      """WITH u AS (
           SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
           UNION ALL SELECT 'lang', lang FROM documents
           UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
           UNION ALL SELECT 'source', source FROM documents
           UNION ALL SELECT 'text', text FROM documents)
         SELECT col_name, count(*) AS n_rows, count(v) AS n_vals,
           count(DISTINCT v) AS n_distinct, min(v) AS min_val,
           max(v) AS max_val,
           CAST(sum(coalesce(length(v), 0)) AS BIGINT) AS sum_chars
         FROM u GROUP BY col_name ORDER BY col_name""",
    // q110: identical draw (first 8 md5 hex digits as a 32-bit int),
    // identical ln/weight/1e-6 snap, identical (key desc, id) order.
    "q110_weighted_sample" ->
      """WITH d AS (SELECT doc_id, n_chars,
           CAST(round_even(
             ln((CAST(concat('0x', substr(md5('es1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
                / 4294967297.0)
             / n_chars * 1000000.0, 0) AS BIGINT) AS es_key_micro
           FROM documents WHERE n_chars > 0),
         r AS (SELECT doc_id, n_chars, es_key_micro,
           row_number() OVER (ORDER BY es_key_micro DESC, doc_id) AS rank
           FROM d)
         SELECT doc_id, n_chars, es_key_micro, rank
         FROM r WHERE rank <= 50 ORDER BY rank""",
    // q111: quantile_cont == Spark's interpolated percentile (q57
    // precedent), 4-dp rounded boundaries, strictly-below membership.
    "q111_equidepth_hist" ->
      """WITH b AS (SELECT list_transform(
             quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
             x -> round(x, 4)) AS bounds
           FROM events),
         a AS (SELECT value,
           len(list_filter(b.bounds, x -> x < value)) AS bucket
           FROM events, b WHERE value IS NOT NULL)
         SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
           min(value) AS min_val, max(value) AS max_val,
           CAST(sum(CAST(round_even(value*100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_val
         FROM a GROUP BY bucket ORDER BY bucket""",
    // q112: the cleared-denominator integer predicate in HUGEINT —
    // bit-identical to the decimal(38,0) evaluation.
    "q112_zscore_outliers" ->
      """WITH v AS (SELECT event_type,
           CAST(round_even(value*100, 0) AS BIGINT) AS v100 FROM events),
         st AS (SELECT event_type, count(*) AS n,
           CAST(sum(v100) AS HUGEINT) AS s, CAST(sum(v100*v100) AS HUGEINT) AS q
           FROM v GROUP BY event_type),
         f AS (SELECT v.event_type, v100,
           (n >= 2 AND
            (CAST(n AS HUGEINT)*v100 - s)*(CAST(n AS HUGEINT)*v100 - s)*(n - 1)
              > 9*CAST(n AS HUGEINT)*(CAST(n AS HUGEINT)*q - s*s)) AS is_out
           FROM v JOIN st USING (event_type))
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(sum(CASE WHEN is_out THEN v100 ELSE 0 END) AS BIGINT) / 100.0 AS outlier_sum
         FROM f GROUP BY event_type ORDER BY event_type""",
    // q113: date_trunc('week') agrees Monday-start across engines; the
    // offset is exact day arithmetic // 7 (non-negative, so Spark's
    // truncating cast matches DuckDB's floor division).
    "q113_cohort_retention" ->
      """WITH f AS (SELECT user_id,
           min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
           FROM events GROUP BY user_id),
         a AS (SELECT e.user_id, CAST(date_trunc('week', e.ts) AS DATE) AS w,
           f.cohort_week FROM events e JOIN f USING (user_id))
         SELECT cohort_week, CAST((w - cohort_week) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT user_id) AS n_users
         FROM a GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",
    // q114: identical pair/support/lift algebra; HUGEINT keeps the
    // micro-lift product exact, // is the same integral division.
    "q114_part_affinity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
         pairs AS (SELECT a.i AS item_a, bb.i AS item_b, count(*) AS n_ab
           FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
           GROUP BY 1, 2 HAVING count(*) >= 2),
         freq AS (SELECT i, count(*) AS n FROM items GROUP BY i),
         tot AS (SELECT count(DISTINCT b) AS total_b FROM items)
         SELECT item_a, item_b, n_ab, fa.n AS n_a, fb.n AS n_b,
           CAST((CAST(total_b AS HUGEINT) * n_ab * 1000000)
                // (CAST(fa.n AS HUGEINT) * fb.n) AS BIGINT) AS lift_micro
         FROM pairs
         JOIN freq fa ON fa.i = item_a
         JOIN freq fb ON fb.i = item_b, tot
         ORDER BY n_ab DESC, item_a, item_b LIMIT 100""",
    // q115: the same 3 integer-grid damped updates as CTE stages —
    // floor division everywhere, so the chain is exact on both engines.
    "q115_copurchase_pagerank" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
         pairs AS (SELECT a.i AS pa, bb.i AS pb
           FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
           GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS (SELECT pa AS src, pb AS dst FROM pairs
           UNION ALL SELECT pb, pa FROM pairs),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
         it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
         it1 AS (SELECT n.node,
           CAST(150000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, sum(p.r // d.out_deg) AS c
             FROM edges e JOIN it0 p ON p.node = e.src
             JOIN deg d ON d.src = e.src GROUP BY e.dst) s ON s.node = n.node),
         it2 AS (SELECT n.node,
           CAST(150000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, sum(p.r // d.out_deg) AS c
             FROM edges e JOIN it1 p ON p.node = e.src
             JOIN deg d ON d.src = e.src GROUP BY e.dst) s ON s.node = n.node),
         it3 AS (SELECT n.node,
           CAST(150000 + (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS r
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, sum(p.r // d.out_deg) AS c
             FROM edges e JOIN it2 p ON p.node = e.src
             JOIN deg d ON d.src = e.src GROUP BY e.dst) s ON s.node = n.node)
         SELECT node, r AS rank_micro FROM it3
         ORDER BY rank_micro DESC, node LIMIT 50""",
    // q116: the identical md5-nibble sign function and micro-grid
    // int64 accumulation (DuckDB lists are 1-based; i-1 re-aligns).
    "q116_jl_projection" ->
      """SELECT vec_id, CAST(r.j AS BIGINT) AS j,
           CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
             ((CAST(concat('0x', substr(md5('jl1' || r.j || ':' || (i - 1)), 1, 1)) AS BIGINT) % 2) * 2 - 1)
             * CAST(round_even(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)))
             AS BIGINT) AS out_micro
         FROM embeddings
         CROSS JOIN (SELECT unnest(range(0, 8)) AS j) r
         WHERE embedding IS NOT NULL
         ORDER BY vec_id, j""",
    // q117: the same two derived snapshots, full-outer joined; content
    // equality is per-field IS NOT DISTINCT FROM (the oracle spelling
    // of Spark's null-safe struct <=>).
    "q117_snapshot_diff" ->
      """WITH prev AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 7 THEN substr(text, 1, 40) ELSE text END AS text,
           lang, source FROM documents WHERE doc_id % 10 <> 3),
         cur AS (SELECT doc_id, text, lang, source FROM documents
           WHERE doc_id % 10 <> 4)
         SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'added'
                WHEN c.doc_id IS NULL THEN 'removed'
                WHEN p.text IS NOT DISTINCT FROM c.text
                 AND p.lang IS NOT DISTINCT FROM c.lang
                 AND p.source IS NOT DISTINCT FROM c.source THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
         ORDER BY doc_id""",
    // q118: DuckDB re-ranks the same candidate corpus per query (the
    // q29 CTE restricted to vec_id >= 10), rebuilds the same-label
    // judgment set, and reduces to the identical integer-micro metrics
    // (`//` ≡ Spark IntegralDivide).
    "q118_retrieval_metrics" ->
      """WITH ranked AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q
           WHERE q.vec_id < 10 AND e.vec_id >= 10),
         topk AS (SELECT * FROM ranked WHERE rank <= 10),
         rel AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id
           FROM embeddings e, embeddings q
           WHERE q.vec_id < 10 AND e.vec_id >= 10 AND e.label = q.label),
         tot AS (SELECT q_id, count(*) AS n_relevant FROM rel GROUP BY q_id),
         h AS (SELECT t.q_id, count(r.vec_id) AS hits,
             min(CASE WHEN r.vec_id IS NOT NULL THEN t.rank END) AS first_rank
           FROM topk t LEFT JOIN rel r
             ON t.q_id = r.q_id AND t.vec_id = r.vec_id
           GROUP BY t.q_id)
         SELECT tot.q_id AS q, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           tot.n_relevant,
           CAST((1000000 * COALESCE(h.hits, 0)) // tot.n_relevant AS BIGINT)
             AS recall_micro,
           CAST(COALESCE(1000000 // h.first_rank, 0) AS BIGINT) AS rr_micro
         FROM tot LEFT JOIN h ON tot.q_id = h.q_id
         ORDER BY q""",
    // q119: max cosine per train vector over the reference subset; the
    // contaminated flag compares the exact double pre-rounding, as the
    // engine does.
    "q119_semantic_decontamination" ->
      """WITH m AS (SELECT t.vec_id AS id,
           max(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
             CAST(r.embedding AS DOUBLE[]))) AS mc
           FROM embeddings t
           CROSS JOIN (SELECT embedding FROM embeddings
             WHERE vec_id % 37 = 0 AND vec_id < 20000) r
           WHERE t.vec_id % 37 <> 0 OR t.vec_id >= 20000
           GROUP BY t.vec_id)
         SELECT id, round(mc, 6) AS max_cos, mc >= 0.8 AS contaminated
         FROM m ORDER BY id""",
    // q120: identical tokenizer (q76/q82 spelling), group-grain tf,
    // doc-grain df, micro-grid ln idf (round_even ≡ rint), exact int64
    // product scores, same rank tie-break.
    "q120_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id, source,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '')) AS term FROM documents),
         tfg AS (SELECT source AS grp, term, count(*) AS tf
           FROM toks GROUP BY source, term),
         dfreq AS (SELECT term, count(*) AS df FROM
           (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         sc AS (SELECT grp, term, tf, df,
             tf * CAST(round_even(ln(n.n_docs * 1.0 / df) * 1000000, 0)
               AS BIGINT) AS score_micro
           FROM tfg JOIN dfreq USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY grp
             ORDER BY score_micro DESC, term) AS rnk FROM sc)
         SELECT grp, term, tf, df, score_micro, rnk
         FROM r WHERE rnk <= 5 ORDER BY grp, rnk""",
    // q121: identical trigram spelling (q76's slice idiom widened to
    // 3-grams), DISTINCT per source, exact integer micro ratios
    // (`//` ≡ IntegralDivide).
    "q121_source_overlap" ->
      """WITH toks AS (SELECT source,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         sh AS (SELECT DISTINCT source AS grp,
           unnest(list_transform(range(1, greatest(len(t)-2,0)+1),
             i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks),
         sizes AS (SELECT grp, count(*) AS n FROM sh GROUP BY grp),
         c AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.g = b.g AND a.grp < b.grp
           GROUP BY a.grp, b.grp)
         SELECT grp_a, grp_b, sa.n AS n_a, sb.n AS n_b, n_common,
           CAST((1000000 * n_common) // (sa.n + sb.n - n_common) AS BIGINT)
             AS jaccard_micro,
           CAST((1000000 * n_common) // least(sa.n, sb.n) AS BIGINT)
             AS containment_micro
         FROM c JOIN sizes sa ON c.grp_a = sa.grp
                JOIN sizes sb ON c.grp_b = sb.grp
         ORDER BY grp_a, grp_b""",
    // q122: same tokenizer, same micro-ln grid (round_even ≡ rint) on
    // the per-term probability ratio, HUGEINT-safe casts on the way
    // out.
    "q122_kl_drift" ->
      """WITH toks AS (SELECT source AS grp,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '')) AS term FROM documents),
         bg AS (SELECT grp, term, count(*) AS c_st FROM toks GROUP BY grp, term),
         bt AS (SELECT term, count(*) AS c_t FROM toks GROUP BY term),
         tot AS (SELECT count(*) AS n FROM toks),
         gt AS (SELECT grp, sum(c_st) AS n_s, count(*) AS n_terms
           FROM bg GROUP BY grp),
         w AS (SELECT bg.grp, gt.n_terms, gt.n_s,
             sum(bg.c_st * CAST(round_even(
               ln((bg.c_st * tot.n) * 1.0 / (gt.n_s * bt.c_t)) * 1000000, 0)
               AS BIGINT)) AS s
           FROM bg JOIN bt USING (term) JOIN gt USING (grp) CROSS JOIN tot
           GROUP BY bg.grp, gt.n_terms, gt.n_s)
         SELECT grp, CAST(n_terms AS BIGINT) AS n_terms,
           CAST(n_s AS BIGINT) AS n_tokens,
           CAST(s // n_s AS BIGINT) AS kl_micro
         FROM w ORDER BY grp""",
    // q123: per-document token histogram reduced to the exact
    // micro-nat entropy; empty documents coalesce to zero.
    "q123_token_entropy" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         u AS (SELECT doc_id, unnest(t) AS term FROM toks),
         k AS (SELECT doc_id, term, count(*) AS k FROM u GROUP BY doc_id, term),
         a AS (SELECT doc_id, sum(k) AS n,
             sum(k * CAST(round_even(ln(k) * 1000000, 0) AS BIGINT)) AS s
           FROM k GROUP BY doc_id)
         SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(CAST(round_even(ln(a.n) * 1000000, 0) AS BIGINT)
             - a.s // a.n, 0) AS BIGINT) AS entropy_micro
         FROM documents d LEFT JOIN a USING (doc_id)
         ORDER BY d.doc_id""",
    // q124: the all-pairs form over distinct names that the
    // segment-filtered join provably equals (and exists to avoid).
    "q124_edit_distance_join" ->
      """WITH g AS (SELECT p_name AS s, min(p_partkey) AS id,
             count(*) AS n FROM part GROUP BY p_name)
         SELECT a.id AS id_a, b.id AS id_b,
           levenshtein(a.s, b.s) AS d, a.n AS n_a, b.n AS n_b
         FROM g a JOIN g b ON a.id < b.id
         WHERE levenshtein(a.s, b.s) <= 1
         ORDER BY id_a, id_b""",
    // q125: DuckDB recomputes the EXACT overlap matrix over all source
    // pairs (disjoint ones coalesce to 0) and pins the sketch-accuracy
    // boolean TRUE; the MinHash estimate itself rides only inside the
    // boolean (XXH64 permutations aren't reproducible in SQL).
    "q125_source_overlap_sketch" ->
      """WITH toks AS (SELECT source,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         sh AS (SELECT DISTINCT source AS grp,
           unnest(list_transform(range(1, greatest(len(t)-2,0)+1),
             i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks),
         sizes AS (SELECT grp, count(*) AS n FROM sh GROUP BY grp),
         c AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.g = b.g AND a.grp < b.grp
           GROUP BY a.grp, b.grp)
         SELECT sa.grp AS grp_a, sb.grp AS grp_b,
           CAST(COALESCE((1000000 * c.n_common) // (sa.n + sb.n - c.n_common), 0)
             AS BIGINT) AS jaccard_micro,
           TRUE AS est_ok
         FROM sizes sa JOIN sizes sb ON sa.grp < sb.grp
         LEFT JOIN c ON c.grp_a = sa.grp AND c.grp_b = sb.grp
         ORDER BY grp_a, grp_b""",
    // q126: identical (ts, event_id) total order inside each user, so
    // lead() picks the same successor; counts are integers and the
    // conditional probability floor-divides on the micro grid (`//` is
    // truncating in both engines; operands non-negative here anyway).
    "q126_markov_transitions" ->
      """WITH t AS (SELECT user_id, event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS dst FROM events),
         c AS (SELECT src, dst, count(*) AS n FROM t
           WHERE dst IS NOT NULL GROUP BY src, dst),
         tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src
           FROM c GROUP BY src)
         SELECT c.src, c.dst, c.n, tot.n_src,
           CAST((1000000 * c.n) // tot.n_src AS BIGINT) AS p_micro
         FROM c JOIN tot USING (src) ORDER BY src, dst""",
    // q127: DuckDB recomputes the md5 bucket and the md5 weight per
    // token (same 15-hex-digit 60-bit integers), folds with list_sum,
    // and divides on the same truncating integer grid. Both engines'
    // `%` agrees because every operand is non-negative until the final
    // weight centering.
    "q127_hashed_classifier" ->
      """WITH toks AS (SELECT doc_id AS id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         w AS (SELECT id, len(t) AS n_tokens,
           COALESCE(list_sum(list_transform(t, tk ->
             (('0x' || substr(md5('hc1' || CAST(
                 (('0x' || substr(md5(tk), 1, 15))::BIGINT % 4096)
                 AS VARCHAR)), 1, 15))::BIGINT % 2000001) - 1000000)), 0)
             AS w_total FROM toks)
         SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE w_total // n_tokens END AS BIGINT) AS score_micro,
           (CASE WHEN n_tokens = 0 THEN 0
                ELSE w_total // n_tokens END) >= 0 AS label
         FROM w ORDER BY id""",
    // q128: same tokenizer, same (n_tokens DESC, id) total order, and
    // an EXPLICIT ROWS frame on both sides (the default RANGE frame
    // would merge ties and change the boundary).
    "q128_token_budget" ->
      """WITH t AS (SELECT source AS grp, doc_id AS id,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> x <> '')) AS n_tokens FROM documents),
         c AS (SELECT grp, id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY grp
             ORDER BY n_tokens DESC, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens FROM t)
         SELECT grp, id, n_tokens, cum_tokens, cum_tokens <= 800 AS kept
         FROM c ORDER BY grp, id""",
    // q129: the exact side mirrors in full (quantile_cont == Spark's
    // interpolated percentile, the q57-pinned identity); the sketched
    // values are partition-layout-dependent GK merges, so their
    // rank-error guarantee rides as booleans the oracle pins TRUE —
    // the q125 envelope discipline.
    "q129_quantile_sketch" ->
      """SELECT event_type AS grp, count(*) AS n,
         round(quantile_cont(value, 0.5), 4) AS p50_exact,
         round(quantile_cont(value, 0.9), 4) AS p90_exact,
         TRUE AS sketch_ok50, TRUE AS sketch_ok90
         FROM events GROUP BY event_type ORDER BY grp""",
    // q130: the draw is pure md5 — DuckDB recomputes the identical
    // bottom-k (hex draws sort identically as strings; doc_id breaks
    // would-be ties).
    "q130_bottomk_sample" ->
      """SELECT doc_id, substr(md5('bk1' || CAST(doc_id AS VARCHAR)), 1, 16)
           AS draw
         FROM documents ORDER BY draw, doc_id LIMIT 100""",
    // q131: same dirty-mirror derivation, same DISTINCT-RECORD
    // collapse (min-id representative + count), same block key,
    // levenshtein only in-block, same truncating integer score grid.
    "q131_entity_resolution" ->
      """WITH recs AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer
           UNION ALL
           SELECT c_custkey + 10000000, substr(c_name, 1, 17) || 'x',
             c_nationkey, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0),
         r AS (SELECT c_name, c_acctbal, c_mktsegment, c_nationkey,
             substr(c_name, 10, 6) AS name_blk,
             min(c_custkey) AS id, count(*) AS n
           FROM recs
           GROUP BY c_name, c_acctbal, c_mktsegment, c_nationkey,
             substr(c_name, 10, 6)),
         cand AS (SELECT a.id AS id_a, b.id AS id_b,
             levenshtein(a.c_name, b.c_name) AS lev,
             greatest(len(a.c_name), len(b.c_name)) AS maxlen,
             CASE WHEN a.c_acctbal = b.c_acctbal THEN 250000 ELSE 0 END
               + CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 150000
                 ELSE 0 END AS agree,
             a.n AS n_a, b.n AS n_b
           FROM r a JOIN r b
             ON a.c_nationkey = b.c_nationkey AND a.name_blk = b.name_blk
             AND a.id < b.id
           WHERE levenshtein(a.c_name, b.c_name) <= 1),
         sc AS (SELECT id_a, id_b, lev, n_a, n_b,
             (600000 * (maxlen - lev)) // maxlen + agree AS score_micro
           FROM cand)
         SELECT id_a, id_b, lev, CAST(score_micro AS BIGINT) AS score_micro,
           score_micro >= 800000 AS matched,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
         FROM sc ORDER BY id_a, id_b""",
    // q132: same replica derivation, same pair-dominance removal rule
    // (min id per text; then lower-id Jaccard >= 0.8 partner among
    // exact survivors). The pair arm uses the prefix-filtered CTEs —
    // empty sets drop there, equivalent to the old NULLIF guard.
    "q132_dedup_cascade" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 9 = 0),
         ex AS (SELECT id, text,
             min(id) OVER (PARTITION BY text) AS keep_id FROM base),
         surv AS (SELECT id, text FROM ex WHERE id = keep_id),
         ${jaccardPrefixSelfCtes("surv", 0.8)},
         p AS (SELECT DISTINCT id_b AS id FROM pv WHERE jac >= 0.8)
         SELECT e.id, CASE WHEN e.id <> e.keep_id THEN 'exact'
           WHEN p.id IS NOT NULL THEN 'near' ELSE 'kept' END AS stage
         FROM ex e LEFT JOIN p ON e.id = p.id ORDER BY e.id""",
    // q133: q127's score CTE verbatim, then quantile_cont boundaries
    // (== Spark's interpolated percentile, the q57/q111 identity) and
    // the same strict-less bucket count over the boundary list.
    "q133_score_calibration" ->
      """WITH toks AS (SELECT doc_id AS id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         w AS (SELECT id, len(t) AS n_tokens,
           COALESCE(list_sum(list_transform(t, tk ->
             (('0x' || substr(md5('hc1' || CAST(
                 (('0x' || substr(md5(tk), 1, 15))::BIGINT % 4096)
                 AS VARCHAR)), 1, 15))::BIGINT % 2000001) - 1000000)), 0)
             AS w_total FROM toks),
         sc AS (SELECT id, CAST(CASE WHEN n_tokens = 0 THEN 0
             ELSE w_total // n_tokens END AS BIGINT) AS score FROM w),
         b AS (SELECT quantile_cont(score,
             [0.05,0.1,0.15,0.2,0.25,0.3,0.35,0.4,0.45,0.5,
              0.55,0.6,0.65,0.7,0.75,0.8,0.85,0.9,0.95]) AS bnds FROM sc)
         SELECT sc.id, sc.score,
           CAST(1 + len(list_filter(b.bnds, x -> x < sc.score)) AS BIGINT)
             AS bucket
         FROM sc CROSS JOIN b ORDER BY sc.id""",
    // q134: same batch derivation (exact replays + one-token
    // mutations), semi-join exact stage, all-pairs batch×corpus
    // Jaccard (the form the prefix-filtered operator avoids), same
    // trigram spelling and NULLIF empty-set guard as q132.
    "q134_incremental_cascade" -> incrementalCascadeOracle,
    // q141: the SAME scenario through the materialized corpus index —
    // identical oracle, so index-backed == direct is a full-value pin.
    "q141_index_cascade" -> incrementalCascadeOracle,
    // q135: same 1e-6 grid snap (round_even on the float->double-exact
    // promotion), same truncating per-dim mean, same integer L1/L2²;
    // dims enumerated 0-based to match posexplode.
    "q135_centroid_drift" ->
      """WITH d AS (SELECT label, vec_id % 3 <> 0 AS is_old, i.dim AS dim,
           CAST(round_even(CAST(embedding[i.dim + 1] AS DOUBLE) * 1000000, 0)
             AS BIGINT) AS vm
           FROM embeddings, generate_series(0, 63) AS i(dim)),
         s AS (SELECT label, dim,
             sum(CASE WHEN is_old THEN vm ELSE 0 END) AS s_old,
             sum(CASE WHEN NOT is_old THEN vm ELSE 0 END) AS s_new,
             sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS n_old,
             sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS n_new
           FROM d GROUP BY label, dim),
         m AS (SELECT label, n_old, n_new,
             (s_new // n_new) - (s_old // n_old) AS delta
           FROM s WHERE n_old > 0 AND n_new > 0)
         SELECT label, CAST(n_old AS BIGINT) AS n_old,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(sum(abs(delta)) AS BIGINT) AS l1_drift_micro,
           CAST(sum(delta * delta) AS BIGINT) AS l2sq_drift
         FROM m GROUP BY label, n_old, n_new ORDER BY label""",
    // q136: cents grid, doubled medians exact on the half-integer
    // grid (quantile_cont == Spark percentile, the q57 identity; the
    // *2 lands on whole doubles so the BIGINT cast is lossless in
    // both engines), all-integer Hampel predicate.
    "q136_mad_outliers" ->
      """WITH v AS (SELECT event_type AS grp,
           CAST(round_even(value * 100, 0) AS BIGINT) AS v FROM events),
         med AS (SELECT grp, CAST(quantile_cont(v, 0.5) * 2 AS BIGINT)
             AS med2, count(*) AS n FROM v GROUP BY grp),
         d AS (SELECT v.grp, v.v, abs(2 * v.v - med.med2) AS dev2, med.n
           FROM v JOIN med USING (grp)),
         mad AS (SELECT grp, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT)
             AS mad4 FROM d GROUP BY grp)
         SELECT d.grp AS event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN d.n >= 2 AND 2 * d.dev2 > 5 * mad.mad4
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           sum(CASE WHEN d.n >= 2 AND 2 * d.dev2 > 5 * mad.mad4
             THEN d.v ELSE 0 END) / 100.0 AS outlier_sum
         FROM d JOIN mad USING (grp) GROUP BY d.grp ORDER BY event_type""",
    // q137: every metric is a plain integer count; NOT EXISTS for the
    // orphan checks (null-safe), sum(n-1) for uniqueness.
    "q137_dq_report" ->
      """WITH checks AS (
           SELECT 'orders_customer_orphans' AS chk, count(*) AS metric
             FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
           UNION ALL
           SELECT 'lineitem_orders_orphans', count(*)
             FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
           UNION ALL
           SELECT 'orders_pk_unique', COALESCE(sum(n - 1), 0) FROM
             (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
           UNION ALL
           SELECT 'lineitem_pk_unique', COALESCE(sum(n - 1), 0) FROM
             (SELECT count(*) AS n FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
           UNION ALL
           SELECT 'customer_name_complete',
             count(*) FILTER (c_name IS NULL) FROM customer
           UNION ALL
           SELECT 'lineitem_qty_range', count(*) FILTER
             (l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
             FROM lineitem
           UNION ALL
           SELECT 'events_value_range', count(*) FILTER
             (value IS NULL OR value < 0 OR value > 500) FROM events
           UNION ALL
           SELECT 'events_value_le_100', count(*) FILTER
             (value IS NULL OR value < 0 OR value > 100) FROM events)
         SELECT chk AS check, CAST(metric AS BIGINT) AS metric,
           metric = 0 AS passed
         FROM checks ORDER BY chk""",
    // q138: brute 3-way join over the canonical a<b edge list — the
    // all-wedges form the degree-ordered orientation exists to avoid.
    "q138_triangle_count" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
             FROM lineitem),
         pairs AS (SELECT a.i AS pa, bb.i AS pb
           FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS a, pb AS b FROM pairs),
         vs AS (SELECT a AS v FROM e UNION SELECT b FROM e)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM vs) AS n_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM e e1
              JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles""",
    // q139: ordered string_agg inside (user, day), same UTC day
    // boundary (CAST ts AS DATE == to_date under the UTC session),
    // same (n DESC, path) top-20.
    "q139_top_paths" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM events GROUP BY user_id, CAST(ts AS DATE))
         SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path
         ORDER BY n DESC, path LIMIT 20""",
    // q140: the dHash values have no DuckDB mirror (engine-computed
    // perceptual hashes), so the envelope pins the agreement booleans
    // TRUE and the recomputable asset count (docs + doc_id<50 clones).
    "q140_image_dhash_dedup" ->
      """SELECT (SELECT count(*) FROM documents) +
                (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_assets,
         TRUE AS banded_equals_brute, TRUE AS has_pairs, TRUE AS banded_distinct""",
    // q143: frame-hash values have no DuckDB mirror — envelope pins the
    // banded-vs-brute agreement and the recomputable video count.
    "q143_video_frame_dedup" ->
      """SELECT (SELECT count(*) FROM documents) +
                (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_videos,
         TRUE AS banded_equals_brute, TRUE AS has_pairs""",
    // q145: full CDC recompute — boundaries are the same md5-residue
    // draws (('0x'||hex)::BIGINT mirror, q50's bridge), segments the
    // same window slices; dup inventory groups by segment TEXT where
    // Spark groups by xxhash64 (2^-64 collision trade, documented).
    "q145_cdc_segments" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, 'zzz ' || text FROM documents
             WHERE doc_id < 50),
         toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS t
           FROM docs2),
         tn AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
         b AS (SELECT doc_id, t, list_filter(range(1, n + 1), i ->
             ((('0x' || substr(md5(array_to_string(
                 t[greatest(1, i - 3) : i], ' ')), 1, 8))::BIGINT % 8) = 0)
             OR i = n) AS bpos FROM tn),
         seg AS (SELECT doc_id,
             array_to_string(
               t[(CASE WHEN u.j = 0 THEN 0 ELSE bpos[u.j] END) + 1
                 : bpos[u.j + 1]], ' ') AS seg_text
           FROM b, LATERAL unnest(range(len(bpos))) AS u(j)),
         inv AS (SELECT seg_text FROM seg GROUP BY seg_text
           HAVING count(DISTINCT doc_id) >= 2),
         per AS (SELECT doc_id, count(*) AS n_segs,
             sum(CASE WHEN seg_text IN (SELECT seg_text FROM inv)
                 THEN 1 ELSE 0 END) AS dup_segs
           FROM seg GROUP BY doc_id)
         SELECT d.doc_id, coalesce(p.n_segs, 0) AS n_segs,
           coalesce(p.dup_segs, 0)::BIGINT AS dup_segs,
           round(CASE WHEN coalesce(p.n_segs, 0) = 0 THEN 0.0
             ELSE coalesce(p.dup_segs, 0)::DOUBLE / p.n_segs END, 4) AS dup_frac,
           round(CASE WHEN coalesce(p.n_segs, 0) = 0 THEN 0.0
             ELSE coalesce(p.dup_segs, 0)::DOUBLE / p.n_segs END, 4) > 0.5
             AS flagged
         FROM docs2 d LEFT JOIN per p USING (doc_id)
         ORDER BY doc_id""",
    // q146: fingerprint values have no DuckDB mirror — envelope pins
    // the banded-vs-brute agreement and the recomputable clip count
    // (the q143 discipline, audio for video).
    "q146_audio_fingerprint_dedup" ->
      """SELECT (SELECT count(*) FROM documents) +
                (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_audios,
         TRUE AS banded_equals_brute, TRUE AS has_pairs""",
    // q147: full-graph degrees are a plain SQL aggregate over the same
    // edge set (q84's prefix-filtered Jaccard pairs + the planted
    // scaffold's literal VALUES — generated from the same Scala seq);
    // both per-vertex exactness certificates are pinned TRUE.
    "q147_kcore_dup_families" ->
      s"""WITH src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)},
         organic AS (SELECT id_a, id_b FROM pv WHERE jac >= 0.8),
         planted(id_a, id_b) AS (VALUES
           ${kcorePlantedEdges.map(e => s"(${e._1}, ${e._2})").mkString(", ")}),
         alle AS (SELECT id_a, id_b FROM organic
                  UNION ALL SELECT id_a, id_b FROM planted),
         sym AS (SELECT id_a AS u, id_b AS v FROM alle WHERE id_a <> id_b
                 UNION SELECT id_b, id_a FROM alle WHERE id_a <> id_b)
         SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS degree,
           TRUE AS certified
         FROM sym GROUP BY u ORDER BY doc_id""",
    // q144: full-probe IVF store search == brute-force top-k — q29's
    // oracle verbatim (same cosine, same (score DESC, vec_id) ties).
    "q144_vector_index_search" ->
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 10) t
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // q148: the naive contains-filter IS the semantics; the Spark side
    // computes it in one Aho-Corasick pass. Same list order verbatim.
    "q148_multipattern_blocklist" -> {
      val lex = phraseLexicon.map(p => s"'$p'").mkString(", ")
      s"""SELECT doc_id,
           -- array_to_string([]) is NULL in DuckDB (Spark's array_join
           -- gives ''): coalesce the no-match rows to the empty string.
           coalesce(array_to_string(list_filter([$lex],
             p -> contains(coalesce(text, ''), p)), '|'), '') AS matched,
           CAST(len(list_filter([$lex],
             p -> contains(coalesce(text, ''), p))) AS BIGINT) AS n_matched
         FROM documents ORDER BY doc_id"""
    },
    // q149: the same three edge sets (exact as ALL-PAIRS within a
    // content group — the closure and family-level signal presence
    // are identical to the Spark side's star edges), q84's recursive
    // closure, and the same per-family bit_or rollups.
    "q149_ensemble_dup_families" ->
      s"""WITH RECURSIVE src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)},
         e_jac AS (SELECT id_a, id_b, 2 AS sig FROM pv WHERE jac >= 0.8),
         e_exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS sig
           FROM documents a JOIN documents b
             ON a.text = b.text AND a.doc_id < b.doc_id),
         e_cos AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, 4 AS sig
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4),
         edges AS (SELECT id_a, id_b, bit_or(sig) AS signals FROM (
             SELECT * FROM e_exact UNION ALL SELECT * FROM e_jac
             UNION ALL SELECT * FROM e_cos) u
           GROUP BY 1, 2),
         sym AS (SELECT id_a AS u, id_b AS v FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(v, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.v, sym.v FROM reach JOIN sym ON reach.r = sym.u),
         comp AS (SELECT v AS doc_id, min(r) AS family FROM reach GROUP BY v),
         sz AS (SELECT family, count(*) AS family_size FROM comp GROUP BY 1),
         fs AS (SELECT c.family, bit_or(e.signals) AS signals
           FROM edges e JOIN comp c ON e.id_a = c.doc_id GROUP BY 1)
         SELECT comp.doc_id, comp.family, sz.family_size,
           CAST(coalesce(fs.signals, 0) AS INTEGER) AS signals,
           comp.doc_id = comp.family AS is_canonical
         FROM comp JOIN sz USING (family) LEFT JOIN fs USING (family)
         ORDER BY comp.doc_id""",
    // q150/q156: the full q149 recompute restricted to batch rows —
    // the incremental supernode closure (in-query prior for q150,
    // store-backed prior for q156) must be indistinguishable from
    // rebuilding the ensemble from scratch.
    "q150_incremental_families" -> incrementalFamiliesOracle,
    "q156_store_backed_families" -> incrementalFamiliesOracle,
    // q151: identical block/offset arithmetic — DuckDB's inclusive
    // 1-based list slices mirror Spark's (start, length) slices; the
    // offset draw parses the same 4 md5 hex chars in both engines.
    "q151_span_corruption" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
             '\s+'), t -> t <> '') AS t FROM documents),
         base AS (SELECT doc_id, t, len(t) AS n, len(t)//20 AS nfull
           FROM toks),
         blk AS (SELECT doc_id, u.b AS b,
             CAST('0x' || substr(md5('corrupt1:' || doc_id || ':' || u.b),
               1, 4) AS INTEGER) % 18 AS s
           FROM base, LATERAL unnest(range(nfull)) AS u(b)),
         pieces AS (SELECT blk.doc_id, blk.b,
             array_to_string(list_concat(list_concat(
               base.t[blk.b*20+1 : blk.b*20+blk.s],
               ['<extra_id_' || blk.b || '>']),
               base.t[blk.b*20+blk.s+4 : blk.b*20+20]), ' ') AS block_str,
             '<extra_id_' || blk.b || '> ' ||
               array_to_string(base.t[blk.b*20+blk.s+1 : blk.b*20+blk.s+3],
                 ' ') AS target_str
           FROM blk JOIN base USING (doc_id)),
         agg AS (SELECT doc_id,
             string_agg(block_str, ' ' ORDER BY b) AS blocks_str,
             string_agg(target_str, ' ' ORDER BY b) AS target_text,
             count(*) AS n_spans
           FROM pieces GROUP BY doc_id)
         SELECT base.doc_id,
           array_to_string(list_filter([coalesce(agg.blocks_str, ''),
             array_to_string(base.t[base.nfull*20+1 : base.n], ' ')],
             p -> p <> ''), ' ') AS corrupted_text,
           coalesce(agg.target_text, '') AS target_text,
           CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans
         FROM base LEFT JOIN agg USING (doc_id)
         ORDER BY base.doc_id""",
    // q152: window-form exclusive prefix (the gate-scale mirror of the
    // two-phase scan), q95's index-range explode, same 64-cut.
    "q152_sequence_packing" ->
      """WITH toks AS (SELECT doc_id,
           list_concat(list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), t -> t <> ''),
             ['<eod>']) AS t
           FROM documents),
         off AS (SELECT doc_id, coalesce(SUM(len(t)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
           FROM toks),
         tok AS (SELECT toks.doc_id, off.o + u.i AS pos, toks.t[u.i+1] AS tk
           FROM toks JOIN off USING (doc_id),
           LATERAL unnest(range(len(toks.t))) AS u(i))
         -- the window-SUM offset is HUGEINT; cast the cut back to
         -- BIGINT or the driver's dtype-strict compare reads float64
         SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
           string_agg(tk, ' ' ORDER BY pos) AS seq_text,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM tok GROUP BY 1 ORDER BY 1""",
    // q153: the full 20-round training replay — same histogram, same
    // overlapping-position pair counts, same (count DESC, a, b)
    // argmax, same two-pass replace fixpoint. Early exhaustion
    // mirrors for free: an empty LIMIT 1 empties every later round.
    "q153_bpe_train" ->
      s"""WITH ${bpeTrainCtes(bpeRounds)}
         SELECT * FROM (${(1 to bpeRounds).map(r =>
           s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS pair_a, " +
             s"b AS pair_b, CAST(c AS BIGINT) AS pair_count FROM m$r")
           .mkString(" UNION ALL ")})
         ORDER BY merge_rank""",
    // q154: tokenize via the FINAL training word table (the per-word
    // merge fold equals the training composition, so join-by-word is
    // exact), then q152's window-prefix packing over the BPE stream.
    "q154_bpe_sequence_packing" -> bpeSequencePackingOracle,
    // q165: the dictionary-join tokenize path — the oracle's join-by-
    // word form IS this plan's shape, so q154's oracle pins it
    // verbatim (native-cache path == dictionary path == SQL replay).
    "q165_bpe_dict_packing" -> bpeSequencePackingOracle,
    // q166: train replay, per-doc BPE token counts via the final word
    // table (subword count per word, summed per doc), q128's ordered
    // prefix cap per source in window form, then the kept prefix's
    // exclusive scan // shardSize — the full trained-tokenizer stream.
    "q166_bpe_budget_shards" ->
      s"""WITH ${bpeTrainCtes(bpeRounds)},
         wx AS (SELECT doc_id, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         nt AS (SELECT d.doc_id, d.source,
             CAST(coalesce(m.s, 0) AS BIGINT) AS n_tokens
           FROM documents d LEFT JOIN (
             SELECT wx.doc_id, SUM(len(string_split(wr.w, ' '))) AS s
             FROM wx JOIN w$bpeRounds wr USING (word) GROUP BY 1) m
           USING (doc_id)),
         cap AS (SELECT source AS grp, doc_id AS id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
           FROM nt),
         kept AS (SELECT * FROM cap WHERE cum_tokens <= 2000),
         sh AS (SELECT id, CAST(coalesce(SUM(n_tokens) OVER (ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000
             AS BIGINT) AS shard FROM kept)
         SELECT k.grp, k.id, k.n_tokens, k.cum_tokens, sh.shard
         FROM kept k JOIN sh USING (id) ORDER BY grp, id""",
    // q155: the exact 3-epoch integer replay — h60-hashed buckets,
    // hard-sigmoid margins, pmod-spelled floor division (exact under
    // both engines' integer division since the remainder is removed
    // first), weight trajectory pinned per epoch per bucket.
    "q155_classifier_train" ->
      s"""WITH tok AS (SELECT doc_id,
             ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS b,
             CAST(count(*) AS BIGINT) AS x FROM (
             SELECT doc_id, unnest(list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), s -> s <> '')) AS t
             FROM documents) GROUP BY 1, 2),
         lab AS (SELECT doc_id,
             CASE WHEN length(text) >= 250 THEN 1 ELSE 0 END AS y
           FROM documents),
         n AS (SELECT greatest(16 * count(*), 1) AS lrd FROM documents),
         w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wt FROM tok),
         ${(1 to 3).map(e => s"""
         z$e AS (SELECT t.doc_id, CAST(SUM(t.x * w.wt) AS BIGINT) AS z
           FROM tok t JOIN w${e - 1} w USING (b) GROUP BY 1),
         r$e AS (SELECT z$e.doc_id,
             least(greatest((z - ((z % 4) + 4) % 4) // 4 + 500000, 0),
               1000000) - lab.y * 1000000 AS r
           FROM z$e JOIN lab USING (doc_id)),
         g$e AS (SELECT t.b, CAST(SUM(r$e.r * t.x) AS BIGINT) AS g
           FROM tok t JOIN r$e USING (doc_id) GROUP BY 1),
         w$e AS (SELECT w.b, CAST(w.wt -
             (g.g - ((g.g % n.lrd) + n.lrd) % n.lrd) // n.lrd AS BIGINT) AS wt
           FROM w${e - 1} w JOIN g$e g USING (b), n)""").mkString(",")}
         SELECT * FROM (${(1 to 3).map(e =>
           s"SELECT CAST($e AS BIGINT) AS epoch, b AS bucket, " +
             s"wt AS weight FROM w$e").mkString(" UNION ALL ")})
         ORDER BY epoch, bucket""",
    // q164: q155's replay at (epoch, batch) step grain — batch
    // membership an md5 hash of the id, per-step lrd from the batch's
    // doc count, LEFT-join weight carry for untouched buckets. w CTEs
    // MATERIALIZED: each step references the previous weight table
    // twice (margin + update), which would inline 2^8 ways otherwise.
    "q164_classifier_minibatch" ->
      s"""WITH tok AS MATERIALIZED (SELECT doc_id,
             ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS b,
             CAST(count(*) AS BIGINT) AS x FROM (
             SELECT doc_id, unnest(list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), s -> s <> '')) AS t
             FROM documents) GROUP BY 1, 2),
         mb AS MATERIALIZED (SELECT doc_id,
             ('0x' || substr(md5('mb1:' || CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % 4 AS m FROM documents),
         lab AS (SELECT doc_id,
             CASE WHEN length(text) >= 250 THEN 1 ELSE 0 END AS y
           FROM documents),
         nb AS MATERIALIZED (SELECT m, greatest(16 * count(*), 1) AS lrd
           FROM mb GROUP BY 1),
         w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wt FROM tok),
         ${(1 to 8).map { st =>
           val bs = (st - 1) % 4
           val es = (st - 1) / 4 + 1
           s"""
         z$st AS (SELECT t.doc_id, CAST(SUM(t.x * w.wt) AS BIGINT) AS z
           FROM tok t JOIN mb ON t.doc_id = mb.doc_id
           JOIN w${st - 1} w USING (b) WHERE mb.m = $bs GROUP BY 1),
         r$st AS (SELECT z$st.doc_id,
             least(greatest((z - ((z % 4) + 4) % 4) // 4 + 500000, 0),
               1000000) - lab.y * 1000000 AS r
           FROM z$st JOIN lab USING (doc_id)),
         g$st AS (SELECT t.b, CAST(SUM(r$st.r * t.x) AS BIGINT) AS g
           FROM tok t JOIN mb ON t.doc_id = mb.doc_id
           JOIN r$st ON r$st.doc_id = t.doc_id
           WHERE mb.m = $bs GROUP BY 1),
         w$st AS MATERIALIZED (SELECT w.b, CAST(w.wt - CASE
             WHEN g.g IS NULL THEN 0
             ELSE (g.g - ((g.g % n.lrd) + n.lrd) % n.lrd) // n.lrd END
             AS BIGINT) AS wt
           FROM w${st - 1} w
           LEFT JOIN g$st g USING (b)
           LEFT JOIN nb n ON n.m = $bs)"""
         }.mkString(",")}
         SELECT * FROM (${(1 to 8).map { st =>
           val bs = (st - 1) % 4
           val es = (st - 1) / 4 + 1
           s"SELECT CAST($es AS BIGINT) AS epoch, CAST($bs AS BIGINT) " +
             s"AS batch, b AS bucket, wt AS weight FROM w$st"
         }.mkString(" UNION ALL ")})
         ORDER BY epoch, batch, bucket""",
    // q168: base symbols from w0's char split (row_number ids in
    // binary order — DuckDB's default collation = Spark's UTF-8
    // comparison on this corpus), merge symbols at nb + r - 1 with
    // duplicate strings keeping the earliest id.
    "q168_bpe_vocab" ->
      s"""WITH ${bpeTrainCtes(bpeRounds)},
         base AS (SELECT DISTINCT tk AS token FROM (
             SELECT unnest(string_split(w, ' ')) AS tk FROM w0)
           WHERE tk <> ''),
         nb AS (SELECT count(*) AS n FROM base),
         bi AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1
             AS BIGINT) AS token_id FROM base),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(nb.n + r - 1) AS BIGINT) AS token_id
           FROM mg, nb GROUP BY token)
         SELECT token, token_id FROM bi
         UNION ALL SELECT token, token_id FROM mi
         ORDER BY token_id, token""",
    // q169: q154's word-table tokenize, each subword mapped through
    // the q168 vocabulary, ids string-aggregated in (word, subword)
    // order — the exact document-order id stream.
    "q169_bpe_token_ids" ->
      s"""WITH ${bpeTrainCtes(bpeRounds)},
         base AS (SELECT DISTINCT tk AS token FROM (
             SELECT unnest(string_split(w, ' ')) AS tk FROM w0)
           WHERE tk <> ''),
         nb AS (SELECT count(*) AS n FROM base),
         bi AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1
             AS BIGINT) AS token_id FROM base),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(nb.n + r - 1) AS BIGINT) AS token_id
           FROM mg, nb GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         mt AS (SELECT wx.doc_id, wx.wi, wr.w AS mw
           FROM wx JOIN w$bpeRounds wr USING (word)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT doc_id, wi, string_split(mw, ' ') AS s FROM mt) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si,
             coalesce(voc.token_id, -1) AS tid
           FROM sub LEFT JOIN voc ON voc.token = sub.token),
         agg AS (SELECT doc_id,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wi, si)
               AS ids_str,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE tid < 0) AS BIGINT) AS n_unk
           FROM ids GROUP BY 1)
         SELECT d.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_unk, 0) AS n_unk
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""",
    // q179: same plants; line retention via substr-last + word count +
    // contains, sentence count = terminal marks in the cleaned text,
    // page funnel as a CASE in documented order.
    "q179_c4_line_filter" ->
      """WITH toks0 AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '') AS t
           FROM documents),
         sent AS (SELECT doc_id, array_to_string(t[1:8], ' ') || '.' AS sl
           FROM toks0),
         pg AS (SELECT doc_id + 1099511627776 AS doc_id,
             array_to_string([sl, sl, sl, sl, sl, sl], chr(10)) AS text
           FROM sent WHERE doc_id % 23 = 1),
         pl AS (SELECT doc_id + 2199023255552 AS doc_id,
             array_to_string([sl, sl, sl, sl, sl, sl], chr(10)) ||
               chr(10) || 'Lorem Ipsum dolor sit amet.' AS text
           FROM sent WHERE doc_id % 23 = 2),
         pc AS (SELECT doc_id + 4398046511104 AS doc_id,
             array_to_string([sl, sl, sl, sl, sl, sl], chr(10)) ||
               chr(10) || 'if (x) { return 0; }' AS text
           FROM sent WHERE doc_id % 23 = 3),
         src AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pg
           UNION ALL SELECT doc_id, text FROM pl
           UNION ALL SELECT doc_id, text FROM pc),
         ln AS (SELECT doc_id, text, list_filter(list_transform(
             string_split(coalesce(text, ''), chr(10)), x -> trim(x)),
             x -> x <> '') AS ls FROM src),
         kp AS (SELECT doc_id, text, ls, list_filter(ls, l ->
             substr(l, length(l), 1) IN ('.', '!', '?', '"')
             AND len(list_filter(string_split_regex(l, '\s+'),
               w -> w <> '')) >= 3
             AND NOT contains(lower(l), 'javascript')) AS ks FROM ln),
         st AS (SELECT doc_id, text,
             -- DuckDB's array_to_string yields NULL on an empty list
             -- (Spark: '') — coalesce, or every cleaned-to-nothing doc
             -- NULL-falls through the CASE to 'pass'.
             coalesce(array_to_string(ks, chr(10)), '') AS clean_text,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(ks) AS BIGINT) AS n_kept,
             CAST(length(coalesce(array_to_string(ks, chr(10)), '')) -
               length(regexp_replace(
                 coalesce(array_to_string(ks, chr(10)), ''),
                 '[.!?]', '', 'g')) AS BIGINT) AS n_sentences
           FROM kp)
         SELECT doc_id, clean_text, n_lines, n_kept, n_sentences,
           CASE WHEN n_sentences < 5 THEN 'too_few_sentences'
             WHEN contains(lower(coalesce(text, '')), 'lorem ipsum')
               THEN 'lorem_ipsum'
             WHEN contains(text, '{') THEN 'curly_brace'
             ELSE 'pass' END AS verdict
         FROM st ORDER BY doc_id""",
    // q177: byte-level training replay (bpeByteTrainCtes); base ids =
    // the full 256 hex pairs at their byte values, merge ids at
    // 256 + r - 1 with earliest-id-wins on duplicate strings.
    "q177_bpe_byte_vocab" ->
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token)
         SELECT token, token_id FROM bi
         UNION ALL SELECT token, token_id FROM mi
         ORDER BY token_id, token""",
    // q178: q169's word-table tokenize under the byte-level
    // convention (regex pretokens with ordinality, no lowercase/empty
    // filter), ids through the q177 vocabulary.
    "q178_bpe_byte_ids" ->
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         mt AS (SELECT wx.doc_id, wx.wi, wr.w AS mw
           FROM wx JOIN w$bpeRounds wr USING (word)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT doc_id, wi, string_split(mw, ' ') AS s FROM mt) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si,
             coalesce(voc.token_id, -1) AS tid
           FROM sub LEFT JOIN voc ON voc.token = sub.token),
         agg AS (SELECT doc_id,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wi, si)
               AS ids_str,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE tid < 0) AS BIGINT) AS n_unk
           FROM ids GROUP BY 1)
         SELECT d.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_unk, 0) AS n_unk
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""",
    // q170: same planted union, lines via chr(10) split/trim/filter,
    // bigram mode via unnest + GROUP BY (Spark computes it as the
    // longest equal-run of the sorted array — same value), flags
    // cross-multiplied.
    "q170_repetition_filter" ->
      """WITH toks0 AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '') AS t
           FROM documents),
         pl AS (SELECT doc_id + 1099511627776 AS doc_id,
             array_to_string([ln, ln, ln, ln, ln], chr(10)) AS text FROM (
             SELECT doc_id, array_to_string(t[1:6], ' ') AS ln
             FROM toks0 WHERE doc_id % 23 = 1)),
         src AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pl),
         lines AS (SELECT doc_id, list_filter(list_transform(
             string_split(coalesce(text, ''), chr(10)), l -> trim(l)),
             l -> l <> '') AS ls FROM src),
         toks AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '') AS t
           FROM src),
         gr AS (SELECT toks.doc_id, toks.t[u.i+1] || ' ' || toks.t[u.i+2] AS g
           FROM toks, LATERAL unnest(range(greatest(len(t) - 1, 0))) AS u(i)),
         top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_2gram_n FROM (
             SELECT doc_id, g, count(*) AS c FROM gr GROUP BY 1, 2)
           GROUP BY 1),
         sig AS (SELECT l.doc_id,
             CAST(len(l.ls) AS BIGINT) AS n_lines,
             CAST(len(l.ls) - len(list_distinct(l.ls)) AS BIGINT)
               AS dup_lines,
             CAST(greatest(len(t.t) - 1, 0) AS BIGINT) AS n_2grams
           FROM lines l JOIN toks t USING (doc_id))
         SELECT sig.doc_id, sig.n_lines, sig.dup_lines, sig.n_2grams,
           coalesce(top.top_2gram_n, 0) AS top_2gram_n,
           sig.dup_lines * 100 > 30 * sig.n_lines AS dup_line_flag,
           coalesce(top.top_2gram_n, 0) * 100 > 20 * sig.n_2grams
             AS top_2gram_flag
         FROM sig LEFT JOIN top USING (doc_id) ORDER BY sig.doc_id""",
    // q171: same planted footers, line counts by the line STRING (the
    // Spark side keys on xxhash64 of the line — identical decision up
    // to a 2^-64 collision, the documented grouping trade), NULL-
    // skipping string_agg rebuild in position order.
    "q171_boilerplate_lines" -> boilerplateOracleSql,
    // q172: q170's planted union; per n the mode via unnest + GROUP BY
    // (Spark: longest equal-run of the sorted n-gram array), flags
    // cross-multiplied at Gopher's 20/18/16% cuts.
    "q172_topngram_filter" ->
      s"""WITH toks0 AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS t
           FROM documents),
         pl AS (SELECT doc_id + 1099511627776 AS doc_id,
             array_to_string([ln, ln, ln, ln, ln, ln, ln, ln], chr(10))
               AS text FROM (
             SELECT doc_id, array_to_string(t[1:2], ' ') AS ln
             FROM toks0 WHERE doc_id % 23 = 1)),
         src AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pl),
         toks AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS t
           FROM src),
         ${Seq(2, 3, 4).map { n =>
           val parts = (1 to n).map(k => s"toks.t[u.i+$k]").mkString(" || ' ' || ")
           s"""gr$n AS (SELECT toks.doc_id, $parts AS g
           FROM toks, LATERAL unnest(range(greatest(len(t) - ${n - 1}, 0)))
             AS u(i)),
         top$n AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS tg FROM (
             SELECT doc_id, g, count(*) AS c FROM gr$n GROUP BY 1, 2)
           GROUP BY 1)"""
         }.mkString(",\n         ")},
         sig AS (SELECT doc_id,
             ${Seq(2, 3, 4).map(n =>
               s"CAST(greatest(len(t) - ${n - 1}, 0) AS BIGINT) AS n_${n}grams")
               .mkString(", ")}
           FROM toks)
         SELECT sig.doc_id,
           ${Seq(2, 3, 4).map(n =>
             s"sig.n_${n}grams, coalesce(top$n.tg, 0) AS top_${n}gram_n")
             .mkString(", ")},
           ${Seq((2, 20), (3, 18), (4, 16)).map { case (n, pct) =>
             s"coalesce(top$n.tg, 0) * 100 > $pct * sig.n_${n}grams AS flag_$n"
           }.mkString(", ")}
         FROM sig
         ${Seq(2, 3, 4).map(n => s"LEFT JOIN top$n USING (doc_id)")
           .mkString(" ")}
         ORDER BY sig.doc_id""",
    // q173: same planted unions; per separator n - n_distinct (counts)
    // and total - distinct char mass (chars) — the occurrences-beyond-
    // first convention segmentDupStats documents; Spark keys on
    // xxhash64 (the 2^-64 grouping trade), the oracle on the strings.
    "q173_segment_dup_filter" ->
      """WITH toks0 AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '') AS t
           FROM documents),
         pln AS (SELECT doc_id + 1099511627776 AS doc_id,
             array_to_string([ln, ln, ln, ln, ln], chr(10)) AS text FROM (
             SELECT doc_id, array_to_string(t[1:6], ' ') AS ln
             FROM toks0 WHERE doc_id % 23 = 1)),
         ppg AS (SELECT doc_id + 2199023255552 AS doc_id,
             array_to_string([pg, pg, pg, pg], chr(10) || chr(10))
               AS text FROM (
             SELECT doc_id, array_to_string(t[1:8], ' ') AS pg
             FROM toks0 WHERE doc_id % 23 = 2)),
         src AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pln
           UNION ALL SELECT doc_id, text FROM ppg),
         seg AS (SELECT doc_id,
             list_filter(list_transform(string_split(coalesce(text, ''),
               chr(10)), x -> trim(x)), x -> x <> '') AS ls,
             list_filter(list_transform(string_split(coalesce(text, ''),
               chr(10) || chr(10)), x -> trim(x)), x -> x <> '') AS ps
           FROM src),
         sig AS (SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS dup_lines,
             CAST(coalesce(list_sum(list_transform(ls, x -> len(x))), 0)
               AS BIGINT) AS line_chars,
             CAST(coalesce(list_sum(list_transform(ls, x -> len(x))), 0)
               - coalesce(list_sum(list_transform(list_distinct(ls),
                   x -> len(x))), 0) AS BIGINT) AS dup_line_chars,
             CAST(len(ps) AS BIGINT) AS n_paras,
             CAST(len(ps) - len(list_distinct(ps)) AS BIGINT) AS dup_paras,
             CAST(coalesce(list_sum(list_transform(ps, x -> len(x))), 0)
               AS BIGINT) AS para_chars,
             CAST(coalesce(list_sum(list_transform(ps, x -> len(x))), 0)
               - coalesce(list_sum(list_transform(list_distinct(ps),
                   x -> len(x))), 0) AS BIGINT) AS dup_para_chars
           FROM seg)
         SELECT doc_id, n_lines, dup_lines, line_chars, dup_line_chars,
           n_paras, dup_paras, para_chars, dup_para_chars,
           dup_lines * 100 > 30 * n_lines AS dup_line_flag,
           dup_paras * 100 > 30 * n_paras AS dup_para_flag,
           dup_line_chars * 100 > 20 * line_chars AS dup_line_char_flag,
           dup_para_chars * 100 > 20 * para_chars AS dup_para_char_flag
         FROM sig ORDER BY doc_id""",
    // q174: same planted unions; per n the counts via unnest + GROUP
    // BY; top char mass = max(c * token chars of the gram) among grams
    // at the max count (len(g) - (n-1) = token chars — grams join by
    // single spaces); dup char mass = DISTINCT covered token positions
    // (union of duplicate-gram windows) joined back to token lengths.
    "q174_dupgram_char_filter" ->
      s"""WITH toks0 AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS t
           FROM documents),
         plr AS (SELECT doc_id + 1099511627776 AS doc_id,
             array_to_string([rn, rn, rn, rn], ' ') AS text FROM (
             SELECT doc_id, array_to_string(t[1:12], ' ') AS rn
             FROM toks0 WHERE doc_id % 23 = 1)),
         plt AS (SELECT doc_id + 2199023255552 AS doc_id,
             array_to_string([tp, tp, tp, tp, tp, tp, tp, tp], ' ')
               AS text FROM (
             SELECT doc_id, array_to_string(t[1:2], ' ') AS tp
             FROM toks0 WHERE doc_id % 23 = 2)),
         src AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM plr
           UNION ALL SELECT doc_id, text FROM plt),
         toks AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS t
           FROM src),
         base AS (SELECT doc_id, CAST(coalesce(list_sum(
             list_transform(t, x -> len(x))), 0) AS BIGINT) AS sum_chars
           FROM toks),
         ${(Seq(2, 3, 4, 5, 6, 7, 8, 9, 10)).map { n =>
           val parts = (1 to n).map(k => s"t[u.i+$k]").mkString(" || ' ' || ")
           s"""gr$n AS (SELECT doc_id, u.i AS i, $parts AS g
           FROM toks, LATERAL unnest(range(greatest(len(t) - ${n - 1}, 0)))
             AS u(i)),
         cnt$n AS (SELECT doc_id, g, count(*) AS c FROM gr$n GROUP BY 1, 2)"""
         }.mkString(",\n         ")},
         ${Seq(2, 3, 4).map { n =>
           s"""mx$n AS (SELECT doc_id, max(c) AS m FROM cnt$n GROUP BY 1),
         tc$n AS (SELECT c.doc_id, CAST(max(c.c * (len(c.g) - ${n - 1}))
             AS BIGINT) AS tc
           FROM cnt$n c JOIN mx$n m ON c.doc_id = m.doc_id AND c.c = m.m
           GROUP BY 1)"""
         }.mkString(",\n         ")},
         ${Seq(5, 6, 7, 8, 9, 10).map { n =>
           s"""dps$n AS (SELECT g.doc_id, g.i FROM gr$n g
           JOIN cnt$n c USING (doc_id, g) WHERE c.c >= 2),
         cov$n AS (SELECT DISTINCT d.doc_id, d.i + u.j AS p
           FROM dps$n d, LATERAL unnest(range($n)) AS u(j)),
         dc$n AS (SELECT cv.doc_id, CAST(sum(len(tk.t[cv.p + 1]))
             AS BIGINT) AS dc
           FROM cov$n cv JOIN toks tk USING (doc_id) GROUP BY 1)"""
         }.mkString(",\n         ")}
         SELECT b.doc_id, b.sum_chars,
           ${Seq(2, 3, 4).map(n =>
             s"coalesce(tc$n.tc, 0) AS top_${n}gram_chars").mkString(", ")},
           ${Seq(5, 6, 7, 8, 9, 10).map(n =>
             s"coalesce(dc$n.dc, 0) AS dup_${n}gram_chars").mkString(", ")},
           ${Seq((2, 20), (3, 18), (4, 16)).map { case (n, pct) =>
             s"coalesce(tc$n.tc, 0) * 100 > $pct * b.sum_chars AS flag_top_$n"
           }.mkString(", ")},
           ${Seq((5, 15), (6, 14), (7, 13), (8, 12), (9, 11), (10, 10))
             .map { case (n, pct) =>
               s"coalesce(dc$n.dc, 0) * 100 > $pct * b.sum_chars AS flag_dup_$n"
             }.mkString(", ")}
         FROM base b
         ${Seq(2, 3, 4).map(n => s"LEFT JOIN tc$n ON b.doc_id = tc$n.doc_id")
           .mkString(" ")}
         ${Seq(5, 6, 7, 8, 9, 10).map(n =>
           s"LEFT JOIN dc$n ON b.doc_id = dc$n.doc_id").mkString(" ")}
         ORDER BY b.doc_id""",
    // q157: q19's oracle verbatim — the schema'd rewrite must be
    // value-identical.
    "q157_json_schema" ->
      """SELECT event_id,
         coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
         FROM events ORDER BY event_id""",
    // q158: same plants, same 12-gram inventory (>= 2 distinct docs),
    // same running-max interval merge, same token-slice span text.
    "q158_exact_substring_spans" ->
      """WITH base AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), x -> x <> '') AS t
           FROM documents),
         plant AS (SELECT doc_id + 700000 AS doc_id, t[6:] AS t
           FROM base WHERE doc_id % 17 = 3),
         allt AS (SELECT doc_id, t FROM base
           UNION ALL SELECT doc_id, t FROM plant),
         grams AS (SELECT doc_id, u.i AS pos,
             array_to_string(t[u.i+1:u.i+12], ' ') AS g
           FROM allt, LATERAL unnest(range(len(t) - 11)) AS u(i)
           WHERE len(t) >= 12),
         dupg AS (SELECT g FROM grams GROUP BY g
           HAVING count(DISTINCT doc_id) >= 2),
         starts AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
         isl AS (SELECT doc_id, pos,
             SUM(CASE WHEN pe IS NULL OR pos > pe + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM (SELECT doc_id, pos, max(pos + 11) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
             FROM starts)),
         spans AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 11 AS e
           FROM isl GROUP BY 1, 2)
         SELECT sp.doc_id, CAST(sp.s AS BIGINT) AS span_start,
           CAST(sp.e AS BIGINT) AS span_end,
           CAST(sp.e - sp.s + 1 AS BIGINT) AS span_len,
           array_to_string(allt.t[sp.s+1:sp.e+1], ' ') AS span_text
         FROM spans sp JOIN allt ON sp.doc_id = allt.doc_id
         ORDER BY sp.doc_id, span_start""",
    // q159: per-position draws parse the same 4 md5 hex chars;
    // string_agg skips the NULL unmasked rows so the target list is
    // the masked tokens in position order.
    "q159_mlm_mask" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '') AS t
           FROM documents),
         pos AS (SELECT doc_id, u.i AS i, t[u.i+1] AS tok,
             CAST('0x' || substr(md5('mlm1:' || doc_id || ':' || u.i), 1, 4)
               AS INTEGER) % 100 < 15 AS sel,
             CAST('0x' || substr(md5('mlm1r:' || doc_id || ':' || u.i), 1, 4)
               AS INTEGER) % 10 AS br,
             t[(CAST('0x' || substr(md5('mlm1p:' || doc_id || ':' || u.i), 1, 4)
               AS INTEGER) % len(t)) + 1] AS rep
           FROM toks, LATERAL unnest(range(len(t))) AS u(i)),
         m AS (SELECT doc_id,
             string_agg(CASE WHEN NOT sel THEN tok
               WHEN br < 8 THEN '[MASK]'
               WHEN br = 8 THEN tok ELSE rep END, ' ' ORDER BY i)
               AS masked_text,
             string_agg(CASE WHEN sel THEN tok END, ' ' ORDER BY i)
               AS target_text,
             CAST(count(*) FILTER (WHERE sel) AS BIGINT) AS n_masked
           FROM pos GROUP BY doc_id)
         SELECT d.doc_id, coalesce(m.masked_text, '') AS masked_text,
           coalesce(m.target_text, '') AS target_text,
           coalesce(m.n_masked, 0) AS n_masked
         FROM documents d LEFT JOIN m USING (doc_id) ORDER BY doc_id""",
    // q160: q127's scorer CTE carrying (source, lang), then the same
    // (score DESC/ASC, id) row_number windows and group-grain join.
    "q160_preference_pairs" ->
      """WITH toks AS (SELECT doc_id AS id, source, lang,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         w AS (SELECT id, source, lang, len(t) AS n_tokens,
           COALESCE(list_sum(list_transform(t, tk ->
             (('0x' || substr(md5('hc1' || CAST(
                 (('0x' || substr(md5(tk), 1, 15))::BIGINT % 4096)
                 AS VARCHAR)), 1, 15))::BIGINT % 2000001) - 1000000)), 0)
             AS w_total FROM toks),
         sc AS (SELECT id, source, lang,
             CAST(CASE WHEN n_tokens = 0 THEN 0
               ELSE w_total // n_tokens END AS BIGINT) AS s FROM w),
         rk AS (SELECT *,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY s DESC, id) AS rb,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY s ASC, id) AS rw FROM sc),
         best AS (SELECT source, lang, id AS chosen_id,
             s AS chosen_score FROM rk WHERE rb = 1),
         worst AS (SELECT source, lang, id AS rejected_id,
             s AS rejected_score FROM rk WHERE rw = 1)
         SELECT b.source, b.lang, b.chosen_id, wo.rejected_id,
           b.chosen_score, wo.rejected_score,
           b.chosen_score - wo.rejected_score AS margin
         FROM best b JOIN worst wo USING (source, lang)
         WHERE b.chosen_id <> wo.rejected_id
           AND b.chosen_score - wo.rejected_score >= 1
         ORDER BY source, lang""",
    // q163: q160's scorer + rank-k windows joined on pair_rank —
    // the outside-in (i-th best, i-th worst) pairing.
    "q163_preference_pairs_topk" ->
      """WITH toks AS (SELECT doc_id AS id, source, lang,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         w AS (SELECT id, source, lang, len(t) AS n_tokens,
           COALESCE(list_sum(list_transform(t, tk ->
             (('0x' || substr(md5('hc1' || CAST(
                 (('0x' || substr(md5(tk), 1, 15))::BIGINT % 4096)
                 AS VARCHAR)), 1, 15))::BIGINT % 2000001) - 1000000)), 0)
             AS w_total FROM toks),
         sc AS (SELECT id, source, lang,
             CAST(CASE WHEN n_tokens = 0 THEN 0
               ELSE w_total // n_tokens END AS BIGINT) AS s FROM w),
         rk AS (SELECT *,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY s DESC, id) AS rb,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY s ASC, id) AS rw FROM sc),
         best AS (SELECT source, lang, CAST(rb AS INTEGER) AS pair_rank,
             id AS chosen_id, s AS chosen_score FROM rk WHERE rb <= 3),
         worst AS (SELECT source, lang, CAST(rw AS INTEGER) AS pair_rank,
             id AS rejected_id, s AS rejected_score FROM rk WHERE rw <= 3)
         SELECT b.source, b.lang, b.pair_rank, b.chosen_id,
           wo.rejected_id, b.chosen_score, wo.rejected_score,
           b.chosen_score - wo.rejected_score AS margin
         FROM best b JOIN worst wo USING (source, lang, pair_rank)
         WHERE b.chosen_id <> wo.rejected_id
           AND b.chosen_score - wo.rejected_score >= 1
         ORDER BY source, lang, pair_rank""",
    // q167: the ANN-triplet soundness envelope — booleans hold by
    // construction when the op is sound; n_anchors pins the anchor
    // set. Non-vacuous recall is a TrainSpec floor on the sf0.01
    // corpus (a hard TRUE here would be corpus-shape-dependent).
    "q167_contrastive_ann" ->
      """SELECT CAST(count(*) FILTER (WHERE vec_id % 50 = 0) AS BIGINT)
           AS n_anchors,
         TRUE AS pos_sound, TRUE AS neg_sound, TRUE AS ids_distinct,
         TRUE AS anchors_unique
         FROM embeddings""",
    // q175: the ADC==plain equality holds by construction at a
    // shortlist covering every probed candidate (see the query); the
    // oracle pins it plus the anchor count under the same scale-
    // adaptive modulus max(50, n/100).
    "q175_contrastive_ann_adc" ->
      """SELECT CAST(count(*) FILTER (WHERE vec_id %
             greatest(50, (SELECT count(*) FROM embeddings) // 100) = 0)
           AS BIGINT) AS n_anchors,
         TRUE AS adc_equals_exact
         FROM embeddings""",
    // q180: FULL-VALUE replay of train -> byte-level tokenize -> id
    // 4-gram overlap (the q177/q178 CTE machinery, plus a tv-chain
    // applying the learned merges to the PLANTED pretokens the
    // training corpus never saw) next to the q79 word-trigram arm —
    // the planted rows must read tok_contaminated=true,
    // word_contaminated=false.
    "q180_token_decontamination" ->
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         src AS (SELECT doc_id, text, doc_id % 97 = 0 AS is_eval
             FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(2199023255553 AS BIGINT),
              'qqalpha qqbeta zqvxkwpthj qqgamma qqdelta', FALSE),
             (CAST(2199023255554 AS BIGINT),
              'qqepsilon qqzeta zqvxkwpthj qqeta qqtheta', FALSE),
             (CAST(2199023255555 AS BIGINT),
              'qqiota qqkappa zqvxkwpthj qqlambda qqmu', FALSE),
             (CAST(2199023255556 AS BIGINT),
              'ssalpha ssbeta zqvxkwpthj rrthree ssgamma', FALSE),
             (CAST(4398046511105 AS BIGINT),
              'rrone rrtwo zqvxkwpthj rrthree rrfour', TRUE))
             v(doc_id, text, is_eval)),
         ${bpeByteApplyCtes(bpeRounds, "src")},
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM src) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT wx.doc_id, wx.wi, string_split(tv.w, ' ') AS s
             FROM wx JOIN tv$bpeRounds tv USING (word)) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si, voc.token_id AS tid
           FROM sub JOIN voc ON voc.token = sub.token),
         idl AS (SELECT doc_id, list(tid ORDER BY wi, si) AS ids
           FROM ids GROUP BY 1),
         tg AS (SELECT idl.doc_id,
             ((ids[u.i+1] * ${256 + bpeRounds} + ids[u.i+2])
               * ${256 + bpeRounds} + ids[u.i+3])
               * ${256 + bpeRounds} + ids[u.i+4] AS g
           FROM idl, LATERAL unnest(range(greatest(len(ids) - 3, 0)))
             AS u(i)),
         teg AS (SELECT DISTINCT tg.g FROM tg JOIN src USING (doc_id)
           WHERE src.is_eval),
         th AS (SELECT tg.doc_id, CAST(count(DISTINCT tg.g) AS BIGINT)
             AS n_tok
           FROM tg JOIN src USING (doc_id) JOIN teg ON teg.g = tg.g
           WHERE NOT src.is_eval GROUP BY 1),
         wtoks AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS t
           FROM src),
         wg AS (SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> array_to_string(t[i:i+2], ' '))) AS g FROM wtoks),
         weg AS (SELECT DISTINCT wg.g FROM wg JOIN src USING (doc_id)
           WHERE src.is_eval),
         wh AS (SELECT wg.doc_id, CAST(count(DISTINCT wg.g) AS BIGINT)
             AS n_word
           FROM wg JOIN src USING (doc_id) JOIN weg ON weg.g = wg.g
           WHERE NOT src.is_eval GROUP BY 1)
         SELECT s.doc_id, coalesce(th.n_tok, 0) AS n_tok_shared,
           coalesce(th.n_tok, 0) > 0 AS tok_contaminated,
           coalesce(wh.n_word, 0) AS n_word_shared,
           coalesce(wh.n_word, 0) > 0 AS word_contaminated
         FROM src s LEFT JOIN th USING (doc_id) LEFT JOIN wh USING (doc_id)
         WHERE NOT s.is_eval ORDER BY s.doc_id""",
    // q189: q180's train + tokenize machinery at n = 13 with the
    // STRING gram key (space-joined ids — the fallback the operator
    // takes when vocabSize^n >= 2^62); no word arm.
    "q189_token_decontamination_13gram" ->
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         src AS (SELECT doc_id, text, doc_id % 97 = 0 AS is_eval
             FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(2199023255553 AS BIGINT),
              'qqalpha qqbeta zqvxkwpthj qqgamma qqdelta', FALSE),
             (CAST(2199023255554 AS BIGINT),
              'qqepsilon qqzeta zqvxkwpthj qqeta qqtheta', FALSE),
             (CAST(2199023255555 AS BIGINT),
              'qqiota qqkappa zqvxkwpthj qqlambda qqmu', FALSE),
             (CAST(2199023255556 AS BIGINT),
              'ssalpha ssbeta zqvxkwpthj rrthree ssgamma', FALSE),
             (CAST(4398046511105 AS BIGINT),
              'rrone rrtwo zqvxkwpthj rrthree rrfour', TRUE))
             v(doc_id, text, is_eval)),
         ${bpeByteApplyCtes(bpeRounds, "src")},
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM src) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT wx.doc_id, wx.wi, string_split(tv.w, ' ') AS s
             FROM wx JOIN tv$bpeRounds tv USING (word)) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si, voc.token_id AS tid
           FROM sub JOIN voc ON voc.token = sub.token),
         idl AS (SELECT doc_id, list(tid ORDER BY wi, si) AS ids
           FROM ids GROUP BY 1),
         tg AS (SELECT idl.doc_id,
             array_to_string(ids[u.i+1:u.i+13], ' ') AS g
           FROM idl, LATERAL unnest(range(greatest(len(ids) - 12, 0)))
             AS u(i)),
         teg AS (SELECT DISTINCT tg.g FROM tg JOIN src USING (doc_id)
           WHERE src.is_eval),
         th AS (SELECT tg.doc_id, CAST(count(DISTINCT tg.g) AS BIGINT)
             AS n_tok
           FROM tg JOIN src USING (doc_id) JOIN teg ON teg.g = tg.g
           WHERE NOT src.is_eval GROUP BY 1)
         SELECT s.doc_id, coalesce(th.n_tok, 0) AS n_shared,
           coalesce(th.n_tok, 0) > 0 AS contaminated
         FROM src s LEFT JOIN th USING (doc_id)
         WHERE NOT s.is_eval ORDER BY s.doc_id""",
    // q190: the full unigram-LM train replay (see unigramTrainCtes) —
    // pieces in binary order with final counts + Laplace micro-nat
    // costs, row for row.
    "q190_unigram_train" ->
      s"""WITH ${unigramTrainCtes("documents", ugSeedSize, ugMaxPieceLen,
            ugEmRounds, ugPruneCount, ugMaxChars)}
         SELECT CAST(row_number() OVER (ORDER BY token) AS BIGINT)
             AS token_id,
           token, c AS "count", cost AS cost_micro
         FROM ugfinal ORDER BY token_id""",
    // q191: train replay + a fourth Viterbi chain over the corpus +
    // planted words under the FINAL cost table; [UNK]-wholesale rows
    // come from the LEFT JOIN's absent seg.
    "q191_unigram_ids" ->
      s"""WITH ${unigramTrainCtes("documents", ugSeedSize, ugMaxPieceLen,
            ugEmRounds, ugPruneCount, ugMaxChars)},
         ugsrc AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(2199023255553 AS BIGINT),
              'zz unmatchableverylongword zz'),
             (CAST(2199023255554 AS BIGINT),
              'ordinary ωμέγα words')) v(doc_id, text)),
         ugdw AS MATERIALIZED (SELECT doc_id, u.i AS wi, d.t[u.i+1]
             AS word
           FROM (SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')
               AS t
             FROM ugsrc) d,
           LATERAL unnest(range(len(d.t))) AS u(i)),
         ugiw AS MATERIALIZED (SELECT DISTINCT word FROM ugdw),
         ${ugViterbiCtes("ugvi", "ugiw", "ugcf", ugMaxChars,
            ugMaxPieceLen)},
         ugtok AS MATERIALIZED (SELECT w.word,
             coalesce(s.seg, ['[UNK]']) AS toks
           FROM ugiw w LEFT JOIN ugvi_seg s USING (word)),
         ugvoc AS MATERIALIZED (SELECT '[UNK]' AS token,
             CAST(0 AS BIGINT) AS tid
           UNION ALL SELECT token,
             CAST(row_number() OVER (ORDER BY token) AS BIGINT)
           FROM ugfinal),
         ugtokd AS (SELECT x.doc_id, x.wi, u.i AS si, x.toks[u.i+1]
             AS tok
           FROM (SELECT dw.doc_id, dw.wi, t.toks
             FROM ugdw dw JOIN ugtok t USING (word)) x,
           LATERAL unnest(range(len(x.toks))) AS u(i)),
         ugids AS (SELECT d.doc_id, list(v.tid ORDER BY d.wi, d.si)
             AS ids
           FROM ugtokd d JOIN ugvoc v ON v.token = d.tok GROUP BY 1)
         SELECT s.doc_id,
           coalesce(array_to_string(ids, ' '), '') AS ids_str,
           CAST(coalesce(len(ids), 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(list_filter(ids, x -> x = 0)), 0) AS BIGINT)
             AS n_unk
         FROM ugsrc s LEFT JOIN ugids USING (doc_id)
         ORDER BY s.doc_id""",
    // q192: train replay + one Viterbi chain over the corpus's FULL
    // word dictionary (over-length words included — they read as
    // absent segs -> 1 [UNK] token), then q185's group sums/grids at
    // suite-word pretoken grain.
    "q192_unigram_fertility" ->
      s"""WITH ${unigramTrainCtes("documents", ugSeedSize, ugMaxPieceLen,
            ugEmRounds, ugPruneCount, ugMaxChars)},
         ugwx AS MATERIALIZED (SELECT source, u.w AS word
           FROM (SELECT source, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')
               AS t
             FROM documents) d,
           LATERAL unnest(d.t) AS u(w)),
         ugaw AS MATERIALIZED (SELECT DISTINCT word FROM ugwx),
         ${ugViterbiCtes("ugvf", "ugaw", "ugcf", ugMaxChars,
            ugMaxPieceLen)},
         ugft AS MATERIALIZED (SELECT w.word,
             CAST(coalesce(len(s.seg), 1) AS BIGINT) AS nsub,
             CAST(strlen(w.word) AS BIGINT) AS nb
           FROM ugaw w LEFT JOIN ugvf_seg s USING (word)),
         ugagg AS (SELECT wx.source AS grp,
             CAST(count(*) AS BIGINT) AS n_pretokens,
             CAST(SUM(ft.nb) AS BIGINT) AS n_bytes,
             CAST(SUM(ft.nsub) AS BIGINT) AS n_tokens
           FROM ugwx wx JOIN ugft ft USING (word)
           GROUP BY 1)
         SELECT grp, n_pretokens, n_bytes, n_tokens,
           CAST(CASE WHEN n_tokens > 0 THEN (n_bytes * 1000) // n_tokens
             ELSE 0 END AS BIGINT) AS bytes_per_token_milli,
           CAST(CASE WHEN n_pretokens > 0
             THEN (n_tokens * 1000) // n_pretokens
             ELSE 0 END AS BIGINT) AS fertility_milli
         FROM ugagg ORDER BY grp""",
    // q181: exact-mode index-backed SemDeDup == the UNBLOCKED exact
    // closure over the same scale-adaptive subset (q88's recursive-CTE
    // machinery with a constant block and the mod filter).
    "q181_semantic_clusters_indexed" ->
      """WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % greatest(1,
             (SELECT count(*) FROM embeddings) // 1000) = 0),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4),
         e AS (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b AS u, id_a AS v FROM p),
         reach(v, r) AS (
           SELECT vec_id, vec_id FROM e0
           UNION
           SELECT reach.v, e.v FROM reach JOIN e ON reach.r = e.u),
         comp AS (SELECT v AS vec_id, min(r) AS component
           FROM reach GROUP BY v),
         sz AS (SELECT component, count(*) AS cluster_size
           FROM comp GROUP BY 1)
         SELECT comp.vec_id, comp.component, sz.cluster_size,
           comp.vec_id = comp.component AS is_canonical
         FROM comp JOIN sz USING (component)
         ORDER BY comp.vec_id""",
    // q182: the full WordPiece training replay — per-round symbol +
    // pair counts, HUGEINT cross-multiplied grid score, (score DESC,
    // count DESC, a, b) argmax, '##'-stripping merge application.
    "q182_wordpiece_train" ->
      s"""WITH ${wpTrainCtes(wpRounds)}
         SELECT * FROM (${(1 to wpRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS pair_a, " +
          s"b AS pair_b, CAST(c AS BIGINT) AS pair_count, " +
          s"CAST(score AS BIGINT) AS score FROM m$r")
        .mkString(" UNION ALL ")})
         ORDER BY merge_rank""",
    // q183: train replay + vocabulary ids + the unrolled greedy
    // longest-match chain over the distinct words of the PLANTED
    // corpus (the training side reads the unplanted documents table,
    // exactly the Spark arm), then doc-order id reassembly.
    "q183_wordpiece_ids" ->
      s"""WITH ${wpTrainCtes(wpRounds)},
         ${wpVocabCtes(wpRounds)},
         docs2 AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(${(1L << 41) + 1L} AS BIGINT), 'zz unmatchableverylongword zz'),
             (CAST(${(1L << 41) + 2L} AS BIGINT), 'ordinary ωμέγα words')) v(doc_id, text)),
         wx AS (SELECT doc_id, u.i AS wi, dw0.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM docs2) dw0,
           LATERAL unnest(range(len(dw0.ws))) AS u(i)),
         dw AS (SELECT DISTINCT word FROM wx),
         ${wpMatchCtes(wpMaxChars, wpMaxChars)},
         sub AS (SELECT wt.word, u.i AS si, wt.toks[u.i+1] AS token
           FROM wp_toks wt, LATERAL unnest(range(len(wt.toks))) AS u(i)),
         wid AS (SELECT sub.word, sub.si, coalesce(v.token_id, -1) AS tid
           FROM sub LEFT JOIN voc v USING (token)),
         agg AS (SELECT wx.doc_id,
             string_agg(CAST(wid.tid AS VARCHAR), ' ' ORDER BY wx.wi, wid.si)
               AS ids_str,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE wid.tid = 0) AS BIGINT) AS n_unk
           FROM wx JOIN wid USING (word) GROUP BY 1)
         SELECT d2.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_unk, 0) AS n_unk
         FROM docs2 d2 LEFT JOIN agg USING (doc_id)
         ORDER BY d2.doc_id""",
    // q184: the identical closed-form waterfill in window SQL —
    // HUGEINT cross-multiplied prefix test, floor-div base + first-rem
    // remainder spread, (capacity ASC, grp ASC) total order.
    "q184_unimax_mixture" ->
      """WITH g AS (SELECT lang AS grp, CAST(SUM(len(list_filter(
             string_split_regex(lower(trim(coalesce(text, ''))), '\s+'),
             t -> t <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         c AS (SELECT grp, n_tokens, n_tokens * 2 AS cap_tokens FROM g),
         t AS (SELECT CAST(coalesce(SUM(cap_tokens), 0) AS BIGINT) AS sum_cap,
             CAST(count(*) AS BIGINT) AS n FROM c),
         b AS (SELECT CAST(CAST(sum_cap AS HUGEINT) * 3 // 4 AS BIGINT)
             AS budget, n FROM t),
         r AS (SELECT grp, n_tokens, cap_tokens,
             CAST(row_number() OVER (ORDER BY cap_tokens, grp) AS BIGINT) AS i,
             CAST(coalesce(SUM(cap_tokens) OVER (ORDER BY cap_tokens, grp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cprev
           FROM c),
         f AS (SELECT r.*, b.budget, b.n,
             CAST(cap_tokens AS HUGEINT) * (b.n - r.i + 1) <=
               CAST(b.budget - r.cprev AS HUGEINT) AS capped
           FROM r, b),
         k AS (SELECT CAST(coalesce(SUM(cap_tokens) FILTER (WHERE capped), 0)
               AS BIGINT) AS ck,
             CAST(count(*) FILTER (WHERE capped) AS BIGINT) AS kk FROM f)
         SELECT grp, n_tokens, cap_tokens,
           CAST(CASE WHEN capped THEN cap_tokens
             ELSE (CASE WHEN f.n > k.kk
                 THEN (f.budget - k.ck) // (f.n - k.kk)
                 ELSE 0 END)
               + (CASE WHEN f.i - k.kk <= (CASE WHEN f.n > k.kk
                   THEN (f.budget - k.ck) % (f.n - k.kk) ELSE 0 END)
                 THEN 1 ELSE 0 END)
             END AS BIGINT) AS alloc_tokens,
           capped
         FROM f, k ORDER BY grp""",
    // q185: byte-level train replay; subword counts read off the final
    // training word table (training corpus == scored corpus), byte
    // counts are strlen (UTF-8 octets), milli-grid floor divisions.
    "q185_tokenizer_fertility" ->
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         wx AS (SELECT source, u.w AS word FROM (
             SELECT source, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM documents) d, LATERAL unnest(d.ws) AS u(w)),
         st AS (SELECT wx.source, CAST(strlen(wx.word) AS BIGINT) AS nb,
             CAST(len(string_split(wr.w, ' ')) AS BIGINT) AS nsub
           FROM wx JOIN w$bpeRounds wr ON wr.word = wx.word),
         agg AS (SELECT source AS grp,
             CAST(count(*) AS BIGINT) AS n_pretokens,
             CAST(SUM(nb) AS BIGINT) AS n_bytes,
             CAST(SUM(nsub) AS BIGINT) AS n_tokens
           FROM st GROUP BY 1)
         SELECT grp, n_pretokens, n_bytes, n_tokens,
           CAST(CASE WHEN n_tokens > 0 THEN (n_bytes * 1000) // n_tokens
             ELSE 0 END AS BIGINT) AS bytes_per_token_milli,
           CAST(CASE WHEN n_pretokens > 0
             THEN (n_tokens * 1000) // n_pretokens
             ELSE 0 END AS BIGINT) AS fertility_milli
         FROM agg ORDER BY grp""",
    // q187: q82's scoring CTEs verbatim, integer micro-nat mean, then
    // the per-language ntile with the same (nll_micro, doc_id) order.
    "q187_perplexity_buckets" ->
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b FROM toks),
         db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS c
           FROM bg GROUP BY 1, 2, 3),
         c12 AS (SELECT w1, w2, sum(c) AS c12 FROM db GROUP BY 1, 2),
         c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
         v AS (SELECT count(DISTINCT tk) AS v
           FROM (SELECT unnest(t) AS tk FROM toks)),
         sc AS (SELECT db.doc_id,
             sum(db.c * CAST(round_even(
               -ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v)) * 1000000, 0)
               AS BIGINT)) AS s,
             sum(db.c) AS n
           FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
           GROUP BY db.doc_id),
         scl AS (SELECT d.doc_id, d.lang AS grp,
             CAST(COALESCE(sc.n, 0) AS BIGINT) AS n_bigrams,
             CAST(COALESCE((2*sc.s + sc.n) // (2*sc.n), 0) AS BIGINT)
               AS nll_micro
           FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         SELECT doc_id, grp, n_bigrams, nll_micro,
           CAST(ntile(3) OVER (PARTITION BY grp
             ORDER BY nll_micro, doc_id) AS BIGINT) AS bucket
         FROM scl ORDER BY doc_id""",
    // q186: envelope — centroid values are engine-internal float means
    // (the q52/q62 discipline); the booleans are independent in-engine
    // soundness checks, pinned TRUE.
    "q186_prototype_pruning" ->
      """SELECT count(*) AS n_vecs, TRUE AS assigned_argmax,
           TRUE AS drop_count_exact,
           TRUE AS dropped_are_most_prototypical,
           TRUE AS kept_drop_partition
         FROM embeddings""",
    // q188: the composed D4 envelope — n_vecs and n_survivors full-
    // value (exact-mode SemDeDup survivors == the unblocked exact
    // closure's canonical families, q181's recursive-CTE machinery);
    // the prototype-stage booleans are in-engine (q186's envelope
    // discipline) plus the pipeline-order domain pin.
    "q188_d4_pipeline" ->
      """WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % greatest(1,
             (SELECT count(*) FROM embeddings) // 1000) = 0),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4),
         e AS (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b AS u, id_a AS v FROM p),
         reach(v, r) AS (
           SELECT vec_id, vec_id FROM e0
           UNION
           SELECT reach.v, e.v FROM reach JOIN e ON reach.r = e.u),
         comp AS (SELECT v AS vec_id, min(r) AS component
           FROM reach GROUP BY v)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_vecs,
           (SELECT CAST(count(*) AS BIGINT) FROM comp
             WHERE vec_id = component) AS n_survivors,
           TRUE AS assigned_argmax, TRUE AS drop_count_exact,
           TRUE AS dropped_are_most_prototypical,
           TRUE AS kept_drop_partition,
           TRUE AS pruned_domain_is_survivors""",
    // q161: same label-blocked pair set (q59's), same
    // (cosine DESC, id) windows for both extremes, 4-decimal grid.
    "q161_contrastive_triplets" ->
      """WITH p AS (SELECT a.vec_id AS anchor_id, b.vec_id AS idb,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) AS c
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id <> b.vec_id),
         pos AS (SELECT anchor_id, idb, c, row_number() OVER (
             PARTITION BY anchor_id ORDER BY c DESC, idb) AS rn
           FROM p WHERE c >= 0.4),
         neg AS (SELECT anchor_id, idb, c, row_number() OVER (
             PARTITION BY anchor_id ORDER BY c DESC, idb) AS rn
           FROM p WHERE c < 0.4)
         SELECT pos.anchor_id, pos.idb AS positive_id,
           neg.idb AS negative_id, round(pos.c, 4) AS pos_cos,
           round(neg.c, 4) AS neg_cos
         FROM pos JOIN neg USING (anchor_id)
         WHERE pos.rn = 1 AND neg.rn = 1
         ORDER BY anchor_id""",
    // q162: q150's full-closure CTEs + a SECOND corpus-only closure
    // for the standing families; a standing family emits an update
    // row iff its full component holds a batch doc (every signal edge
    // has a batch endpoint, so that IS "pulled into the closure").
    "q162_family_store_updates" ->
      s"""WITH RECURSIVE src AS (SELECT doc_id AS id, text FROM documents),
         ${jaccardPrefixSelfCtes("src", 0.8)},
         e_jac AS (SELECT id_a, id_b, 2 AS sig FROM pv WHERE jac >= 0.8),
         e_exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS sig
           FROM documents a JOIN documents b
             ON a.text = b.text AND a.doc_id < b.doc_id),
         e_cos AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, 4 AS sig
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])) >= 0.4),
         edges AS (SELECT id_a, id_b, bit_or(sig) AS signals FROM (
             SELECT * FROM e_exact UNION ALL SELECT * FROM e_jac
             UNION ALL SELECT * FROM e_cos) u
           GROUP BY 1, 2),
         sym AS (SELECT id_a AS u, id_b AS v FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(v, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.v, sym.v FROM reach JOIN sym ON reach.r = sym.u),
         comp AS (SELECT v AS doc_id, min(r) AS family FROM reach GROUP BY v),
         sz AS (SELECT family, count(*) AS family_size FROM comp GROUP BY 1),
         fs AS (SELECT c.family, bit_or(e.signals) AS signals
           FROM edges e JOIN comp c ON e.id_a = c.doc_id GROUP BY 1),
         csym AS (SELECT u, v FROM sym WHERE u % 10 < 8 AND v % 10 < 8),
         creach(v, r) AS (
           SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 < 8
           UNION
           SELECT creach.v, csym.v FROM creach JOIN csym
             ON creach.r = csym.u),
         pfam AS (SELECT v AS doc_id, min(r) AS old_family
           FROM creach GROUP BY v),
         pids AS (SELECT DISTINCT old_family FROM pfam),
         bfam AS (SELECT DISTINCT family FROM comp WHERE doc_id % 10 >= 8)
         SELECT pids.old_family, comp.family AS new_family,
           sz.family_size,
           CAST(coalesce(fs.signals, 0) AS INTEGER) AS signals
         FROM pids JOIN comp ON pids.old_family = comp.doc_id
         JOIN sz ON sz.family = comp.family
         LEFT JOIN fs ON fs.family = comp.family
         WHERE comp.family IN (SELECT family FROM bfam)
         ORDER BY old_family""",
  )

  /** Shared by q154 (native cached tokenize) and q165 (dictionary-join
    * tokenize): train replay, join-by-word tokenization via the final
    * word table, q152's window-prefix packing.
    */
  private lazy val bpeSequencePackingOracle: String =
    s"""WITH ${bpeTrainCtes(bpeRounds)},
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         mt AS (SELECT wx.doc_id, wx.wi, wr.w AS mw
           FROM wx JOIN w$bpeRounds wr USING (word)),
         dstr AS (SELECT doc_id, string_agg(mw, ' ' ORDER BY wi) AS s
           FROM mt GROUP BY doc_id),
         toks AS (SELECT d.doc_id,
             list_concat(list_filter(string_split(coalesce(ds.s, ''), ' '),
               t -> t <> ''), ['<eod>']) AS t
           FROM documents d LEFT JOIN dstr ds ON d.doc_id = ds.doc_id),
         off AS (SELECT doc_id, coalesce(SUM(len(t)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
           FROM toks),
         tok AS (SELECT toks.doc_id, off.o + u.i AS pos, toks.t[u.i+1] AS tk
           FROM toks JOIN off USING (doc_id),
           LATERAL unnest(range(len(toks.t))) AS u(i))
         SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
           string_agg(tk, ' ' ORDER BY pos) AS seq_text,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM tok GROUP BY 1 ORDER BY 1"""

  /** The q153/q154 training replay: w0 = the distinct-word histogram
    * with words as space-joined character sequences; round r = pair
    * count over w(r-1) (overlapping adjacent positions, freq-weighted),
    * ONE-row argmax m_r, and the two-pass padded replace into w_r.
    * `word` rides along so q154 can tokenize by joining the final
    * round's table.
    */
  private def bpeTrainCtes(n: Int): String =
    """w0 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(?s)(.)', '\1 ', 'g')) AS w, freq FROM (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '')) AS w
          FROM documents) GROUP BY 1))""" + bpeMergeRoundCtes(n)

  /** BYTE-LEVEL training replay: the w0 histogram pretokenizes with
    * [[graft.ops.Bpe.byteLevelPattern]] (no lowercase, no empty
    * filter — regex matches are non-empty) and splits pretokens into
    * uppercase hex byte pairs; the merge rounds are convention-
    * independent ([[bpeMergeRoundCtes]]).
    */
  private def bpeByteTrainCtes(n: Int): String =
    s"""w0 AS MATERIALIZED (SELECT word, trim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g')) AS w, freq FROM (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(regexp_extract_all(coalesce(text, ''), '${graft.ops.Bpe.byteLevelPattern}')) AS w
          FROM documents) GROUP BY 1))""" + bpeMergeRoundCtes(n)

  /** Apply the already-learned m1..mN merge relations to EVERY
    * distinct byte-level pretoken of `srcTable` — the TOKENIZE side of
    * the byte-level replay for inputs the training corpus never saw
    * (q180's planted rows): tv0 = the spaced-hex initial symbols of
    * the source's own pretoken vocabulary, tvR = round R's padded
    * two-pass replace. Unlike [[bpeByteTrainCtes]]'s w-chain (which
    * only carries the TRAINING corpus's words), the tv-chain covers
    * the full input vocabulary, mirroring
    * [[graft.ops.Bpe.tokenizeToIdsByteLevel]]'s dictionary build.
    */
  private def bpeByteApplyCtes(n: Int, srcTable: String): String = {
    val sb = new StringBuilder
    sb ++= s"""tv0 AS MATERIALIZED (SELECT word, trim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g')) AS w FROM (
        SELECT DISTINCT unnest(regexp_extract_all(coalesce(text, ''), '${graft.ops.Bpe.byteLevelPattern}')) AS word FROM $srcTable))"""
    for (r <- 1 to n) {
      sb ++= s""",
        tv$r AS MATERIALIZED (SELECT word, trim(replace(replace(' ' || w || ' ', ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ')) AS w FROM tv${r - 1}, m$r m)"""
    }
    sb.toString
  }

  /** The per-round argmax + padded two-pass replace CTE chain shared
    * by both conventions' training replays.
    */
  private def bpeMergeRoundCtes(n: Int): String = {
    val sb = new StringBuilder
    for (r <- 1 to n) {
      sb ++= s""",
        m$r AS MATERIALIZED (SELECT a, b, c FROM (
          SELECT t.sym[u.i+1] AS a, t.sym[u.i+2] AS b, CAST(SUM(t.freq) AS BIGINT) AS c
          FROM (SELECT string_split(w, ' ') AS sym, freq FROM w${r - 1}) t,
            LATERAL unnest(range(len(t.sym) - 1)) AS u(i)
          GROUP BY 1, 2)
        ORDER BY c DESC, a, b LIMIT 1),
        w$r AS MATERIALIZED (SELECT word, trim(replace(replace(' ' || w || ' ', ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ')) AS w, freq FROM w${r - 1}, m$r m)"""
    }
    sb.toString
  }

  /** WORDPIECE training replay (q182/q183): w0 is the suite-convention
    * histogram under the '##'-continuation initial split; each round
    * recomputes symbol counts (sc\$r — the likelihood denominators
    * shift as merges move mass), cross-multiplies the 10^12 grid score
    * in HUGEINT (exact floor, [[graft.ops.WordPiece.ScoreGrid]]), takes
    * the (score DESC, count DESC, a, b) argmax, and applies the
    * two-pass padded replace with the '##'-stripping concat — the
    * merged symbol inherits a's word-initial/continuation form.
    */
  private def wpTrainCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """w0 AS MATERIALIZED (SELECT word, replace(trim(regexp_replace(word, '(?s)(.)', '\1 ', 'g')), ' ', ' ##') AS w, freq FROM (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '')) AS w
          FROM documents) GROUP BY 1))"""
    for (r <- 1 to n) {
      val mergedSym =
        s"m.a || CASE WHEN m.b LIKE '##%' THEN substr(m.b, 3) ELSE m.b END"
      sb ++= s""",
        sc$r AS MATERIALIZED (SELECT u.s AS s, CAST(SUM(t.freq) AS BIGINT) AS cs
          FROM (SELECT string_split(w, ' ') AS sym, freq FROM w${r - 1}) t,
            LATERAL unnest(t.sym) AS u(s)
          GROUP BY 1),
        m$r AS MATERIALIZED (SELECT a, b, c, score FROM (
          SELECT p.a, p.b, p.c,
            CAST(CAST(p.c AS HUGEINT) * ${graft.ops.WordPiece.ScoreGrid} // (CAST(ca.cs AS HUGEINT) * CAST(cb.cs AS HUGEINT)) AS BIGINT) AS score
          FROM (SELECT t.sym[u.i+1] AS a, t.sym[u.i+2] AS b, CAST(SUM(t.freq) AS BIGINT) AS c
            FROM (SELECT string_split(w, ' ') AS sym, freq FROM w${r - 1}) t,
              LATERAL unnest(range(len(t.sym) - 1)) AS u(i)
            GROUP BY 1, 2) p
          JOIN sc$r ca ON ca.s = p.a JOIN sc$r cb ON cb.s = p.b)
        ORDER BY score DESC, c DESC, a, b LIMIT 1),
        w$r AS MATERIALIZED (SELECT word, trim(replace(replace(' ' || w || ' ', ' ' || m.a || ' ' || m.b || ' ', ' ' || $mergedSym || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || $mergedSym || ' ')) AS w, freq FROM w${r - 1}, m$r m)"""
    }
    sb.toString
  }

  /** WordPiece greedy LONGEST-MATCH replay over the distinct words of
    * `dw` (word) against the vocabulary `voc` (token, token_id):
    * unrolled step CTEs ws1..ws`steps` — each step takes the longest
    * vocabulary entry matching at the cursor (continuation positions
    * prepend '##'), a no-match marks the word bad ([UNK] wholesale),
    * and positions/lengths count code points (DuckDB's substr/length
    * grain, exactly [[graft.functions.WordPieceTokenizeOps]]'s
    * contract). Words over `maxChars` code points are bad upfront, so
    * `steps` = maxChars bounds the unroll by construction (every
    * active step consumes >= 1 code point). Emits wp_toks(word, toks).
    */
  private def wpMatchCtes(steps: Int, maxChars: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""ws0 AS MATERIALIZED (SELECT word, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks, length(word) > $maxChars AS bad FROM dw)"""
    for (k <- 1 to steps) {
      // MATERIALIZED is load-bearing (the q164 lesson): each step
      // references the previous one twice (scan + match), which would
      // inline 2^steps ways otherwise.
      sb ++= s""",
        wm$k AS MATERIALIZED (SELECT u.word, CAST(max(g.L) AS BIGINT) AS best
          FROM ws${k - 1} u,
            LATERAL unnest(range(1, length(u.word) - u.pos + 2)) AS g(L)
          JOIN voc v ON v.token = (CASE WHEN u.pos > 1 THEN '##' ELSE '' END) || substr(u.word, u.pos, g.L)
          WHERE NOT u.bad AND u.pos <= length(u.word)
          GROUP BY 1),
        ws$k AS MATERIALIZED (SELECT u.word,
            CASE WHEN u.bad OR u.pos > length(u.word) THEN u.pos
                 ELSE u.pos + coalesce(m.best, 0) END AS pos,
            CASE WHEN u.bad OR u.pos > length(u.word) OR m.best IS NULL THEN u.toks
                 ELSE list_append(u.toks, (CASE WHEN u.pos > 1 THEN '##' ELSE '' END) || substr(u.word, u.pos, m.best)) END AS toks,
            u.bad OR (u.pos <= length(u.word) AND m.best IS NULL) AS bad
          FROM ws${k - 1} u LEFT JOIN wm$k m USING (word))"""
    }
    sb ++= s""",
        wp_toks AS (SELECT word, CASE WHEN bad THEN ['[UNK]'] ELSE toks END AS toks FROM ws$steps)"""
    sb.toString
  }

  /** The WordPiece vocabulary replay (q183): [UNK] id 0, base symbols
    * of the initial split 1..B in binary order, merge r's '##'-joined
    * symbol B + r, duplicates collapsing to the smallest id across the
    * whole union ([[graft.ops.WordPiece.vocabTable]]).
    */
  private def wpVocabCtes(n: Int): String =
    s"""bsym AS (SELECT DISTINCT u.s AS token
          FROM (SELECT string_split(w, ' ') AS sym FROM w0) t,
            LATERAL unnest(t.sym) AS u(s)),
        bn AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bsym),
        bids AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid FROM bsym),
        mgw AS (${(1 to n).map(r =>
      s"SELECT a || CASE WHEN b LIKE '##%' THEN substr(b, 3) ELSE b END AS token, CAST($r AS BIGINT) AS r FROM m$r")
      .mkString(" UNION ALL ")}),
        voc AS (SELECT token, CAST(min(tid) AS BIGINT) AS token_id FROM (
            SELECT '[UNK]' AS token, CAST(0 AS BIGINT) AS tid
            UNION ALL SELECT token, tid FROM bids
            UNION ALL SELECT mgw.token, bn.nb + mgw.r AS tid FROM mgw, bn)
          GROUP BY token)"""

  // ------------------------------------------------------ unigram LM

  /** Laplace micro-nat cost table over a piece relation (token, c):
    * the [[graft.ops.Unigram]] grid — round_even(-ln((c+1)/(tot+V)) *
    * 1e6), IEEE double ln (the q82 cross-engine discipline).
    */
  private def ugCostCte(name: String, piecesRel: String): String =
    s"""$name AS MATERIALIZED (SELECT p.token,
          CAST(round_even(-ln((CAST(p.c AS DOUBLE) + 1.0) /
            (CAST(t.tot AS DOUBLE) + 1.0 * CAST(t.v AS DOUBLE))) * 1000000,
            0) AS BIGINT) AS cost
        FROM $piecesRel p, (SELECT CAST(coalesce(SUM(c), 0) AS BIGINT)
          AS tot, CAST(count(*) AS BIGINT) AS v FROM $piecesRel) t)"""

  /** One unrolled VITERBI DP chain `pfx`_0..`pfx`_`maxChars` over the
    * distinct words of `wordsRel` (word) under the cost table
    * `costRel` (token, cost) — the [[graft.functions
    * .UnigramViterbiExpr]] contract replayed: state (pos, cost, np,
    * seg) per word, transition = append any vocabulary piece of 1..
    * `maxPieceLen` code points ending at pos, winner by (cost ASC,
    * np ASC, L DESC) — the forward carry of the longest-last-piece
    * tie-break. Emits `pfx`_seg (word, seg) for words whose final
    * position is reached (unsegmentable/over-length words are simply
    * absent — the [UNK]-wholesale arm is the consumer's LEFT JOIN).
    * MATERIALIZED is load-bearing twice over: each step references
    * its predecessor twice (carry + transition) and the cost table at
    * every step.
    */
  private def ugViterbiCtes(pfx: String, wordsRel: String,
      costRel: String, maxChars: Int, maxPieceLen: Int): String = {
    val ls = (1 to maxPieceLen).mkString("[", ",", "]")
    val sb = new StringBuilder
    sb ++= s"""${pfx}_0 AS (SELECT word, 0 AS pos,
          CAST(0 AS BIGINT) AS cost, 0 AS np,
          CAST([] AS VARCHAR[]) AS seg FROM $wordsRel)"""
    for (k <- 1 to maxChars) {
      sb ++= s""",
        ${pfx}_$k AS MATERIALIZED (
          SELECT word, pos, cost, np, seg FROM ${pfx}_${k - 1}
          UNION ALL
          SELECT word, $k AS pos, cost, np, seg FROM (
            SELECT prev.word, prev.cost + vc.cost AS cost,
              prev.np + 1 AS np, list_append(prev.seg, vc.token) AS seg,
              row_number() OVER (PARTITION BY prev.word
                ORDER BY prev.cost + vc.cost, prev.np + 1, g.L DESC) AS rn
            FROM ${pfx}_${k - 1} prev, LATERAL unnest($ls) AS g(L),
              $costRel vc
            WHERE prev.pos = $k - g.L AND length(prev.word) >= $k
              AND vc.token = substr(prev.word, $k - g.L + 1, g.L))
          WHERE rn = 1)"""
    }
    sb ++= s""",
        ${pfx}_seg AS MATERIALIZED (SELECT word, seg FROM ${pfx}_$maxChars
          WHERE pos = length(word))"""
    sb.toString
  }

  /** The full unigram TRAIN replay over `src` (doc_id, text): suite
    * word histogram -> substring seed (alphabet + top-`seedSize` by
    * count * len) -> `emRounds` hard-EM Viterbi passes -> prune
    * `pruneCount` multi-char pieces by HUGEINT loss c * cost -> one
    * post-prune pass. Ends with ugfinal (token, c, cost) — the
    * [[graft.ops.Unigram.train]] output — plus ugcf, the final cost
    * table inference runs under, and ugh, the training histogram.
    */
  private def unigramTrainCtes(src: String, seedSize: Int,
      maxPieceLen: Int, emRounds: Int, pruneCount: Int,
      maxChars: Int): String = {
    val ls = (1 to maxPieceLen).mkString("[", ",", "]")
    val sb = new StringBuilder
    sb ++= s"""ugh AS MATERIALIZED (SELECT w AS word,
          CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(list_filter(string_split_regex(
              lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')) AS w
            FROM $src) GROUP BY 1 HAVING length(w) <= $maxChars),
        ugsub AS MATERIALIZED (SELECT substr(w.word, s.i + 1, l.L)
            AS token, CAST(l.L AS BIGINT) AS len,
            CAST(SUM(w.freq) AS BIGINT) AS c
          FROM ugh w, LATERAL unnest(range(length(w.word))) AS s(i),
            LATERAL unnest($ls) AS l(L)
          WHERE s.i + l.L <= length(w.word)
          GROUP BY 1, 2),
        ugp0 AS MATERIALIZED (
          SELECT token, c FROM ugsub WHERE len = 1
          UNION ALL
          SELECT token, c FROM (SELECT token, c FROM ugsub WHERE len >= 2
            ORDER BY c * len DESC, token LIMIT $seedSize)),
        ${ugCostCte("ugc1", "ugp0")}"""
    // EM rounds: pass r segments under ugc{r}, yielding counts ugcnt{r}
    // and the re-counted piece set ugp{r}.
    for (r <- 1 to emRounds) {
      sb ++= s""",
        ${ugViterbiCtes(s"ugv$r", "ugh", s"ugc$r", maxChars, maxPieceLen)},
        ugcnt$r AS MATERIALIZED (SELECT u.t AS token,
            CAST(SUM(h.freq) AS BIGINT) AS c
          FROM ugv${r}_seg s JOIN ugh h USING (word),
            LATERAL unnest(s.seg) AS u(t)
          GROUP BY 1),
        ugp$r AS MATERIALIZED (SELECT p.token,
            CAST(coalesce(cn.c, 0) AS BIGINT) AS c
          FROM ugp0 p LEFT JOIN ugcnt$r cn ON cn.token = p.token)"""
      if (r < emRounds) sb ++= s""",
        ${ugCostCte(s"ugc${r + 1}", s"ugp$r")}"""
    }
    val postEm = s"ugp$emRounds"
    val postR = emRounds + 1
    sb ++= s""",
        ${ugCostCte("ugcl", postEm)},
        ugdrop AS MATERIALIZED (SELECT token FROM (
            SELECT p.token,
              CAST(p.c AS HUGEINT) * CAST(cl.cost AS HUGEINT) AS loss
            FROM $postEm p JOIN ugcl cl USING (token)
            WHERE length(p.token) >= 2)
          ORDER BY loss, token LIMIT $pruneCount),
        ugps AS MATERIALIZED (SELECT token, c FROM $postEm
          WHERE token NOT IN (SELECT token FROM ugdrop)),
        ${ugCostCte(s"ugc$postR", "ugps")},
        ${ugViterbiCtes(s"ugv$postR", "ugh", s"ugc$postR", maxChars,
          maxPieceLen)},
        ugcnt$postR AS MATERIALIZED (SELECT u.t AS token,
            CAST(SUM(h.freq) AS BIGINT) AS c
          FROM ugv${postR}_seg s JOIN ugh h USING (word),
            LATERAL unnest(s.seg) AS u(t)
          GROUP BY 1),
        ugpf AS MATERIALIZED (SELECT p.token,
            CAST(coalesce(cn.c, 0) AS BIGINT) AS c
          FROM ugps p LEFT JOIN ugcnt$postR cn ON cn.token = p.token),
        ${ugCostCte("ugcf", "ugpf")},
        ugfinal AS MATERIALIZED (SELECT p.token, p.c, cf.cost
          FROM ugpf p JOIN ugcf cf USING (token))"""
    sb.toString
  }
}
