package graft.suite

import graft.core.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The analytics rows: mergeable sketches, statistics and data-quality
  * reports, and graph analytics.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object AnalyticsRows {

  val specs: Seq[QuerySpec] = Seq(
    // ---- sketches -------------------------------------------------
    QuerySpec("q71_approx_distinct", (s, d) => {
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
    },
      """WITH toks AS (SELECT lang,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '')) AS term FROM documents)
         SELECT lang, count(DISTINCT term) AS n_exact,
           TRUE AS hll_within_5pct
         FROM toks GROUP BY lang ORDER BY lang"""),
    QuerySpec("q77_approx_quantile", (s, d) =>
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
        .orderBy(col("o_orderpriority")),
      """SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_exact,
           TRUE AS approx_rank_ok
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QuerySpec("q94_cms_heavy_hitters", (s, d) => {
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
    },
      // q94: exact top-25 token counts (q70's tokenizer CTE); the CMS
      // estimates surface only as the pinned guarantee booleans.
      """WITH toks AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS n_total FROM toks)
         SELECT term, cnt,
           row_number() OVER (ORDER BY cnt DESC, term) AS rank,
           n_total, TRUE AS est_ge_exact, TRUE AS est_within_eps
         FROM tf, tot ORDER BY cnt DESC, term LIMIT 25"""),
    QuerySpec("q101_incremental_stats", (s, d) => {
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
    },
      // q101: exact columns recomputed from the full corpus; sketch
      // booleans pinned (deterministic for a fixed corpus + sketch lib).
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         count(DISTINCT source) AS n_sources_exact,
         TRUE AS merged_est_matches_direct,
         TRUE AS est_within_5pct
         FROM documents GROUP BY lang ORDER BY lang"""),
    QuerySpec("q125_source_overlap_sketch", (s, d) => {
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
    },
      // q125: DuckDB recomputes the EXACT overlap matrix over all source
      // pairs (disjoint ones coalesce to 0) and pins the sketch-accuracy
      // boolean TRUE; the MinHash estimate itself rides only inside the
      // boolean (XXH64 permutations aren't reproducible in SQL).
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
         ORDER BY grp_a, grp_b"""),
    QuerySpec("q129_quantile_sketch", (s, d) =>
      // §2.11 mergeable quantile sketch envelope: constant-size GK
      // summaries per group (the distributed-percentile path at scale)
      // with the rank-error guarantee pinned as booleans; exact
      // p50/p90 ride along as the full-value mirror.
      graft.ops.Sketches.quantileSketchBound(events(s, d), "event_type", "value")
        .orderBy(col("grp")),
      // q129: the exact side mirrors in full (quantile_cont == Spark's
      // interpolated percentile, the q57-pinned identity); the sketched
      // values are partition-layout-dependent GK merges, so their
      // rank-error guarantee rides as booleans the oracle pins TRUE —
      // the q125 envelope discipline.
      """SELECT event_type AS grp, count(*) AS n,
         round(quantile_cont(value, 0.5), 4) AS p50_exact,
         round(quantile_cont(value, 0.9), 4) AS p90_exact,
         TRUE AS sketch_ok50, TRUE AS sketch_ok90
         FROM events GROUP BY event_type ORDER BY grp"""),

    // ---- statistics and data quality ------------------------------
    QuerySpec("q99_source_topshare", (s, d) =>
      // Cumulative-share ("which sources are 60% of my chars") over
      // the documents corpus: one partial-agg shuffle to source grain,
      // then the ranking window runs on the 20-row source relation —
      // never the corpus. Selection boundary is exact integer
      // cross-multiplication, so the oracle reproduces it bit-for-bit.
      graft.ops.Sampling
        .cumulativeShareSelect(documents(s, d), "source", "n_chars",
          shareNum = 3L, shareDen = 5L)
        .withColumnRenamed("group", "source")
        .orderBy(col("weight").desc, col("source")),
      // q99: integer cross-multiplication for the share test — no float
      // division anywhere near the selection boundary.
      """WITH per AS (SELECT source, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS weight FROM documents GROUP BY source),
         c AS (SELECT *,
           CAST(sum(weight) OVER (ORDER BY weight DESC, source
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight,
           sum(weight) OVER () AS total FROM per)
         SELECT source, n_rows, weight, cum_weight,
           (cum_weight - weight) * 5 < total * 3 AS selected
         FROM c ORDER BY weight DESC, source"""),
    QuerySpec("q109_column_profile", (s, d) =>
      // §2.11 one-pass data-quality profile: rows/nulls/cardinality/
      // range/char-budget for every column of documents, as one
      // schema-stable table. Unpivot + single column-grain agg — the
      // scan is read once, no per-column job. Full-value oracle (the
      // string renderings are engine-portable).
      graft.ops.Profile.profile(
          documents(s, d), Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name")),
      // q109: the same unpivot, spelled as UNION ALL; every aggregate
      // that DuckDB widens (sum -> HUGEINT) is cast back to BIGINT.
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
         FROM u GROUP BY col_name ORDER BY col_name"""),
    QuerySpec("q133_score_calibration", (s, d) => {
      // §2.11 empirical-CDF score calibration: exact interpolated
      // 5%-quantile boundaries derived once (constant-size), broadcast
      // to a map-only bucket projection over the q127 scorer's output
      // — "top X% of THIS corpus" instead of a raw score threshold.
      val scored = graft.ops.HashedClassifier.score(documents(s, d), "text", "doc_id")
        .select(col("id"), col("score_micro"))
      graft.ops.Calibrate.scorePercentile(scored, "score_micro", "id", 20)
        .orderBy(col("id"))
    },
      // q133: q127's score CTE verbatim, then quantile_cont boundaries
      // (== Spark's interpolated percentile, the q57/q111 identity) and
      // the same strict-less bucket count over the boundary list.
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
         FROM sc CROSS JOIN b ORDER BY sc.id"""),
    QuerySpec("q136_mad_outliers", (s, d) =>
      // §2.11 robust outlier gate: Hampel median/MAD rule on the
      // doubled-median integer grid (2·dev2 > k·mad4 — no float
      // crosses the engine boundary). Heavy-tail-safe complement of
      // q112's z-score; same output contract.
      graft.ops.Outliers.madOutliers(events(s, d), "event_type", "value", k = 5)
        .orderBy(col("event_type")),
      // q136: cents grid, doubled medians exact on the half-integer
      // grid (quantile_cont == Spark percentile, the q57 identity; the
      // *2 lands on whole doubles so the BIGINT cast is lossless in
      // both engines), all-integer Hampel predicate.
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
         FROM d JOIN mad USING (grp) GROUP BY d.grp ORDER BY event_type"""),
    QuerySpec("q137_dq_report", (s, d) => {
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
    },
      // q137: every metric is a plain integer count; NOT EXISTS for the
      // orphan checks (null-safe), sum(n-1) for uniqueness.
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
         FROM checks ORDER BY chk"""),

    // ---- graphs ---------------------------------------------------
    QuerySpec("q114_part_affinity", (s, d) =>
      // §2.11 market-basket lift: co-order part pairs at min-support 2,
      // lift on the exact integer micro grid (IntegralDivide). Pair
      // cost is sum(basket^2) — bounded by basket size, linear in
      // baskets — and the support filter runs before the frequency
      // joins. Top-100 by (support, pair) is a total order.
      graft.ops.Affinity.basketLift(
          lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
        .limit(100),
      // q114: identical pair/support/lift algebra; HUGEINT keeps the
      // micro-lift product exact, // is the same integral division.
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
         ORDER BY n_ab DESC, item_a, item_b LIMIT 100"""),
    QuerySpec("q115_copurchase_pagerank", (s, d) => {
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
    },
      // q115: the same 3 integer-grid damped updates as CTE stages —
      // floor division everywhere, so the chain is exact on both engines.
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
         ORDER BY rank_micro DESC, node LIMIT 50"""),
    QuerySpec("q138_triangle_count", (s, d) => {
      // §2.11 triangle census of the support-2 co-purchase graph via
      // degree-ordered orientation (Suri & Vassilvitskii): out-degree
      // bounded O(sqrt(m)), wedge volume O(m^1.5) — the hub-skew
      // discipline; each triangle counted exactly once. Edges = the
      // SESSION-SHARED support-pair discovery q114/q115 also consume.
      val pairs = graft.ops.Affinity.supportPairs(
          lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("item_a").as("pa"), col("item_b").as("pb"))
      graft.ops.Triangles.triangleCount(pairs, "pa", "pb")
    },
      // q138: brute 3-way join over the canonical a<b edge list — the
      // all-wedges form the degree-ordered orientation exists to avoid.
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
              JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles"""),
  )
}
