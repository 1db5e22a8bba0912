package graft.suite

import graft.core.Tables._
import graft.functions.VectorFunctions._
import graft.ops.TextAnalysis
import graft.suite.Shared._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The text rows: text analysis, lexical retrieval and the quality
  * filters (§2.11).
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object TextRows {

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

  val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis (§2.11) ------------------------------------
    QuerySpec("q31_token_count", (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_computed"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         length(text) AS n_chars_computed
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q32_lang_stats", (s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")) / count(lit(1))).cast("double").as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) / count(*) AS DOUBLE) AS avg_chars,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang"""),
    QuerySpec("q33_quality_score", (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.meanWordLength(col("text")).as("mean_word_len"))
        .withColumn("punct_ratio", round(col("punct_ratio"), 4))
        .withColumn("mean_word_len", round(col("mean_word_len"), 4))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         round(CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS punct_ratio,
         round(CASE WHEN length(trim(text)) = 0 THEN 0.0
           ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS mean_word_len
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q34_stopword_ratio", (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.stopwordRatio(col("text")), 4).as("stopword_ratio"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         round(CASE WHEN length(trim(text)) = 0 THEN 0.0
           ELSE CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS stopword_ratio
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q61_length_histogram", (s, d) =>
      // §2.11 text analysis: document length histogram (100-char buckets).
      documents(s, d)
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")) / count(lit(1))).cast("double").as("avg_chars"))
        .orderBy(col("bucket")),
      """SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket,
         count(*) AS n_docs,
         CAST(sum(n_chars) / count(*) AS DOUBLE) AS avg_chars
         FROM documents GROUP BY 1 ORDER BY bucket"""),
    QuerySpec("q76_ngram_topk", (s, d) =>
      // §2.11 corpus-level n-gram heavy hitters: top-25 word bigrams.
      // Map-side partial agg at token grain + TakeOrderedAndProject —
      // no global sort, no single-partition Window.
      documents(s, d)
        .select(explode(TextAnalysis.ngrams(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(25),
      """WITH toks AS (SELECT
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t <> '') AS t FROM documents),
         g AS (SELECT unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             i -> array_to_string(t[i:i+1], ' '))) AS ngram FROM toks)
         SELECT ngram, count(*) AS n FROM g GROUP BY ngram
         ORDER BY n DESC, ngram LIMIT 25"""),
    QuerySpec("q120_tfidf_keywords", (s, d) =>
      // §2.11 per-source characteristic terms: group-grain TF × doc-
      // grain IDF on the micro grid (exact int64 scores — no float
      // ordering seam), top-5 per source with the rank filter adjacent
      // to the window so InferWindowGroupLimit prunes map-side.
      graft.ops.Lexical.tfidfKeywords(
          documents(s, d), "text", "doc_id", "source", k = 5)
        .orderBy(col("grp"), col("rnk")),
      // q120: identical tokenizer (q76/q82 spelling), group-grain tf,
      // doc-grain df, micro-grid ln idf (round_even ≡ rint), exact int64
      // product scores, same rank tie-break.
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
         FROM r WHERE rnk <= 5 ORDER BY grp, rnk"""),
    QuerySpec("q121_source_overlap", (s, d) =>
      // §2.11 source-pair content-overlap matrix: Jaccard + containment
      // of trigram vocabularies, integer-exact micro ratios. The join
      // runs on the DISTINCT (source, shingle) relation, so per-key
      // fan-out is bounded by the source count, not document count.
      graft.ops.CorpusOverlap.sourceOverlap(documents(s, d), "text", "source", 3)
        .orderBy(col("grp_a"), col("grp_b")),
      // q121: identical trigram spelling (q76's slice idiom widened to
      // 3-grams), DISTINCT per source, exact integer micro ratios
      // (`//` ≡ IntegralDivide).
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
         ORDER BY grp_a, grp_b"""),
    QuerySpec("q122_kl_drift", (s, d) =>
      // §2.11 mixture-drift monitor: KL(source ‖ corpus) over unigram
      // distributions in micro-nats (per-term ln on the 1e-6 grid,
      // int64 weighted sum, floor-divided mean — all engine-exact).
      graft.ops.Drift.klDrift(documents(s, d), "text", "source")
        .orderBy(col("grp")),
      // q122: same tokenizer, same micro-ln grid (round_even ≡ rint) on
      // the per-term probability ratio, HUGEINT-safe casts on the way
      // out.
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
         FROM w ORDER BY grp"""),
    QuerySpec("q123_token_entropy", (s, d) =>
      // §2.11 lexical-diversity signal: per-document token-distribution
      // Shannon entropy in exact micro-nats, map-only over the scan.
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.tokenEntropyMicro(col("text")).as("entropy_micro"))
        .orderBy(col("doc_id")),
      // q123: per-document token histogram reduced to the exact
      // micro-nat entropy; empty documents coalesce to zero.
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
         ORDER BY d.doc_id"""),

    // ---- lexical retrieval ----------------------------------------
    QuerySpec("q70_bm25", (s, d) => {
      // Lexical retrieval (BM25): the keyword half of hybrid RAG
      // retrieval. Closed-form math over token counts, so this is a
      // full-value oracle row (grid-summed scores; see bm25GridRanks).
      bm25GridRanks(documents(s, d), 20)
        .select(col("id").as("doc_id"), round(col("score_g"), 4).as("score"), col("rank"))
        .orderBy(col("rank"))
    },
      s"""WITH $bm25OracleCtes,
         r AS (SELECT doc_id, score_g,
            row_number() OVER (ORDER BY score_g DESC, doc_id) AS rank FROM agg)
         SELECT doc_id, round(score_g, 4) AS score, rank
         FROM r WHERE rank <= 20 ORDER BY rank"""),
    QuerySpec("q72_hybrid_rrf", (s, d) => {
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
    },
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
         FROM r WHERE rank <= 10 ORDER BY rank"""),

    // ---- quality filters ------------------------------------------
    QuerySpec("q74_repetition", (s, d) =>
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
        .orderBy(col("doc_id")),
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
         ORDER BY d.doc_id"""),
    QuerySpec("q82_lm_perplexity", (s, d) => {
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
    },
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
         ORDER BY d.doc_id"""),
    QuerySpec("q85_pii_redaction", (s, d) => {
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
    },
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
         FROM raw ORDER BY c_custkey"""),
    QuerySpec("q86_quality_funnel", (s, d) => {
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
    },
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
         FROM v ORDER BY doc_id"""),
    QuerySpec("q104_blocklist", (s, d) => {
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
    },
      // q104: identical RE2 pattern, identical blocklist membership,
      // half-even ratio grid.
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
         FROM w ORDER BY doc_id"""),
    QuerySpec("q148_multipattern_blocklist", (s, d) => {
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
    },
      // q148: the naive contains-filter IS the semantics; the Spark side
      // computes it in one Aho-Corasick pass. Same list order verbatim.
      {
      val lex = phraseLexicon.map(p => s"'$p'").mkString(", ")
      s"""SELECT doc_id,
           -- array_to_string([]) is NULL in DuckDB (Spark's array_join
           -- gives ''): coalesce the no-match rows to the empty string.
           coalesce(array_to_string(list_filter([$lex],
             p -> contains(coalesce(text, ''), p)), '|'), '') AS matched,
           CAST(len(list_filter([$lex],
             p -> contains(coalesce(text, ''), p))) AS BIGINT) AS n_matched
         FROM documents ORDER BY doc_id"""
    }),
    QuerySpec("q170_repetition_filter", (s, d) => {
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
    },
      // q170: same planted union, lines via chr(10) split/trim/filter,
      // bigram mode via unnest + GROUP BY (Spark computes it as the
      // longest equal-run of the sorted array — same value), flags
      // cross-multiplied.
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
         FROM sig LEFT JOIN top USING (doc_id) ORDER BY sig.doc_id"""),
    QuerySpec("q171_boilerplate_lines", (s, d) => {
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
    },
      // q171: same planted footers, line counts by the line STRING (the
      // Spark side keys on xxhash64 of the line — identical decision up
      // to a 2^-64 collision, the documented grouping trade), NULL-
      // skipping string_agg rebuild in position order.
      boilerplateOracleSql),
    QuerySpec("q172_topngram_filter", (s, d) => {
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
    },
      // q172: q170's planted union; per n the mode via unnest + GROUP BY
      // (Spark: longest equal-run of the sorted n-gram array), flags
      // cross-multiplied at Gopher's 20/18/16% cuts.
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
         ORDER BY sig.doc_id"""),
    QuerySpec("q173_segment_dup_filter", (s, d) => {
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
    },
      // q173: same planted unions; per separator n - n_distinct (counts)
      // and total - distinct char mass (chars) — the occurrences-beyond-
      // first convention segmentDupStats documents; Spark keys on
      // xxhash64 (the 2^-64 grouping trade), the oracle on the strings.
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
         FROM sig ORDER BY doc_id"""),
    QuerySpec("q174_dupgram_char_filter", (s, d) => {
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
    },
      // q174: same planted unions; per n the counts via unnest + GROUP
      // BY; top char mass = max(c * token chars of the gram) among grams
      // at the max count (len(g) - (n-1) = token chars — grams join by
      // single spaces); dup char mass = DISTINCT covered token positions
      // (union of duplicate-gram windows) joined back to token lengths.
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
         ORDER BY b.doc_id"""),
    QuerySpec("q176_boilerplate_store", (s, d) => {
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
    },
      // q176: the store-backed incremental path must equal q171's direct
      // pass — same oracle verbatim.
      boilerplateOracleSql),
    QuerySpec("q179_c4_line_filter", (s, d) => {
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
    },
      // q179: same plants; line retention via substr-last + word count +
      // contains, sentence count = terminal marks in the cleaned text,
      // page funnel as a CASE in documented order.
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
         FROM st ORDER BY doc_id"""),
    QuerySpec("q187_perplexity_buckets", (s, d) =>
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
        .orderBy(col("doc_id")),
      // q187: q82's scoring CTEs verbatim, integer micro-nat mean, then
      // the per-language ntile with the same (nll_micro, doc_id) order.
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
         FROM scl ORDER BY doc_id"""),
  )
}
