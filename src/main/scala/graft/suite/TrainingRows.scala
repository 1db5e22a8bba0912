package graft.suite

import graft.core.Tables._
import graft.functions.{IsoDurationSeconds, TextFunctions, TimeFunctions}
import graft.functions.VectorFunctions._
import graft.ops.{Dedup, Sampling, Similarity, TextAnalysis}
import graft.suite.Shared._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The training-data and training rows: splits, samples, mixtures,
  * packing and augmentation, decontamination, classifiers, preference and
  * contrastive pairs.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object TrainingRows {

  val specs: Seq[QuerySpec] = Seq(
    // ---- splits and samples ---------------------------------------
    QuerySpec("q75_stratified_split", (s, d) =>
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
        .orderBy(col("lang"), col("split")),
      """SELECT lang,
           CASE WHEN substr(md5('graft_v1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                  THEN 'train'
                WHEN substr(md5('graft_v1' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
         FROM documents GROUP BY lang, split ORDER BY lang, split"""),
    QuerySpec("q87_leakage_safe_split", (s, d) => {
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
    },
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
         FROM sp ORDER BY doc_id"""),
    QuerySpec("q96_stratified_sample", (s, d) =>
      // Exact-10-per-language uniform sample (deterministic reservoir):
      // md5-draw order with doc_id tie-break, so DuckDB recomputes the
      // identical selection AND ranks — a full-value oracle. The
      // operator's salted two-phase rank keeps hot strata off a single
      // reducer; the result is provably independent of the slicing.
      graft.ops.Sampling.stratifiedExactK(
          documents(s, d), "lang", col("doc_id"), k = 10, salt = "strat1")
        .select(col("lang"), col("doc_id"), col("rank"))
        .orderBy(col("lang"), col("rank")),
      // q96: the draw is the same md5 hex prefix as q75's split; the
      // (draw, doc_id) order is total, so selection and rank both mirror.
      """WITH r AS (SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
             ORDER BY substr(md5('strat1' || CAST(doc_id AS VARCHAR)), 1, 4),
               doc_id) AS rank
         FROM documents)
         SELECT lang, doc_id, rank FROM r WHERE rank <= 10
         ORDER BY lang, rank"""),
    QuerySpec("q110_weighted_sample", (s, d) =>
      // §2.11 Efraimidis-Spirakis weighted sampling without
      // replacement: 50 docs drawn proportionally to n_chars, as a
      // deterministic md5-seeded top-k (TakeOrderedAndProject — no
      // global sort; rank window runs over the 50 survivors). DuckDB
      // recomputes draw, snap, selection, and rank bit-for-bit.
      graft.ops.Sampling.weightedSampleK(
          documents(s, d).select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), k = 50, salt = "es1")
        .select(col("doc_id"), col("n_chars"), col("es_key_micro"), col("rank"))
        .orderBy(col("rank")),
      // q110: identical draw (first 8 md5 hex digits as a 32-bit int),
      // identical ln/weight/1e-6 snap, identical (key desc, id) order.
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
         FROM r WHERE rank <= 50 ORDER BY rank"""),
    QuerySpec("q130_bottomk_sample", (s, d) =>
      // §2.11 mergeable bottom-k uniform sample: md5-draw bottom-k is
      // a sketch of the key set (per-shard samples union losslessly);
      // plans as TakeOrderedAndProject — per-partition heaps, no
      // global sort.
      graft.ops.Sampling.bottomKSample(
          documents(s, d).select(col("doc_id")), col("doc_id"), 100, "bk1")
        .orderBy(col("draw"), col("doc_id")),
      // q130: the draw is pure md5 — DuckDB recomputes the identical
      // bottom-k (hex draws sort identically as strings; doc_id breaks
      // would-be ties).
      """SELECT doc_id, substr(md5('bk1' || CAST(doc_id AS VARCHAR)), 1, 16)
           AS draw
         FROM documents ORDER BY draw, doc_id LIMIT 100"""),
    QuerySpec("q92_importance_sampling", (s, d) => {
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
    },
      // q92: full DSIR mirror — md5-prefix buckets, add-1 micro-nat
      // log-ratios (round_even == Spark rint), md5 Gumbel draws, top-k.
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
         FROM s ORDER BY total_micro DESC, doc_id LIMIT 25"""),
    QuerySpec("q105_negative_sampling", (s, d) =>
      // §2.11 contrastive negative mining: md5-drawn bucket
      // representatives (bucket-grain relation, broadcast), k map-only
      // slot draws per query doc, same-source slots dropped as
      // in-domain false negatives. Fully deterministic — the oracle
      // recomputes every draw, election, and exclusion.
      graft.ops.Sampling
        .negativeSamples(documents(s, d), "doc_id", "source",
          k = 4, buckets = 64, salt = "neg1")
        .orderBy(col("doc_id"), col("slot")),
      // q105: same md5 draws, min-id election, and exclusions.
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
         ORDER BY doc_id, slot"""),

    // ---- mixtures -------------------------------------------------
    QuerySpec("q83_temperature_mixture", (s, d) => {
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
    },
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
         FROM cuts LEFT JOIN samp USING (lang) ORDER BY lang"""),
    QuerySpec("q184_unimax_mixture", (s, d) =>
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
        .orderBy(col("grp")),
      // q184: the identical closed-form waterfill in window SQL —
      // HUGEINT cross-multiplied prefix test, floor-div base + first-rem
      // remainder spread, (capacity ASC, grp ASC) total order.
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
         FROM f, k ORDER BY grp"""),

    // ---- packing and augmentation ---------------------------------
    QuerySpec("q78_shard_packing", (s, d) => {
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
    },
      """WITH c AS (SELECT doc_id, n_chars,
           COALESCE(sum(n_chars) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
           FROM documents)
         SELECT CAST(before // 20000 AS BIGINT) AS shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars, min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
         FROM c GROUP BY shard ORDER BY shard"""),
    QuerySpec("q128_token_budget", (s, d) =>
      // §2.11 per-source token-budget cap: longest-first prefix under
      // an 800-token budget per source; every doc ships its running
      // total and the kept/dropped decision.
      graft.ops.BudgetCap.tokenBudgetCap(
          documents(s, d), "text", "doc_id", "source", 800L)
        .orderBy(col("grp"), col("id")),
      // q128: same tokenizer, same (n_tokens DESC, id) total order, and
      // an EXPLICIT ROWS frame on both sides (the default RANGE frame
      // would merge ties and change the boundary).
      """WITH t AS (SELECT source AS grp, doc_id AS id,
           len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> x <> '')) AS n_tokens FROM documents),
         c AS (SELECT grp, id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY grp
             ORDER BY n_tokens DESC, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens FROM t)
         SELECT grp, id, n_tokens, cum_tokens, cum_tokens <= 800 AS kept
         FROM c ORDER BY grp, id"""),
    QuerySpec("q151_span_corruption", (s, d) =>
      // §2.11 augmentation: deterministic T5-style span corruption —
      // each full 20-token block gets one 3-token span masked at an
      // md5-drawn offset (15% corruption, reproducible across engines,
      // epochs fold into the salt), sentinel in the corrupted text,
      // sentinel + masked tokens in the target. Block-local placement
      // keeps the construction closed-form array slices — map-only,
      // no shuffle, no sequential overlap scan — in BOTH engines, so
      // the oracle recomputes every string exactly.
      graft.ops.Augment.spanCorrupt(documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id")),
      // q151: identical block/offset arithmetic — DuckDB's inclusive
      // 1-based list slices mirror Spark's (start, length) slices; the
      // offset draw parses the same 4 md5 hex chars in both engines.
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
         ORDER BY base.doc_id"""),
    QuerySpec("q152_sequence_packing", (s, d) =>
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
        .orderBy(col("seq_id")),
      // q152: window-form exclusive prefix (the gate-scale mirror of the
      // two-phase scan), q95's index-range explode, same 64-cut.
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
         FROM tok GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q159_mlm_mask", (s, d) =>
      // §2.11 augmentation: deterministic BERT-style MLM masking —
      // 15% of positions drawn by md5(salt:doc:pos), 80/10/10
      // [MASK]/keep/in-doc-replacement split, all three draws
      // closed-form per token (map-only, zero shuffle). The oracle
      // recomputes every masked string, target list, and count.
      graft.ops.Augment.mlmMask(documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id")),
      // q159: per-position draws parse the same 4 md5 hex chars;
      // string_agg skips the NULL unmasked rows so the target list is
      // the masked tokens in position order.
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
         FROM documents d LEFT JOIN m USING (doc_id) ORDER BY doc_id"""),

    // ---- decontamination ------------------------------------------
    QuerySpec("q79_decontamination", (s, d) => {
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
    },
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
         WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"""),
    QuerySpec("q119_semantic_decontamination", (s, d) => {
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
    },
      // q119: max cosine per train vector over the reference subset; the
      // contaminated flag compares the exact double pre-rounding, as the
      // engine does.
      """WITH m AS (SELECT t.vec_id AS id,
           max(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
             CAST(r.embedding AS DOUBLE[]))) AS mc
           FROM embeddings t
           CROSS JOIN (SELECT embedding FROM embeddings
             WHERE vec_id % 37 = 0 AND vec_id < 20000) r
           WHERE t.vec_id % 37 <> 0 OR t.vec_id >= 20000
           GROUP BY t.vec_id)
         SELECT id, round(mc, 6) AS max_cos, mc >= 0.8 AS contaminated
         FROM m ORDER BY id"""),

    // ---- classifiers ----------------------------------------------
    QuerySpec("q127_hashed_classifier", (s, d) =>
      // §2.11 fastText-style hashed linear scorer: md5 feature buckets
      // + hash-derived micro weights folded per row — model application
      // at pure scan cost, zero shuffles, one codegen stage.
      graft.ops.HashedClassifier.score(documents(s, d), "text", "doc_id")
        .orderBy(col("id")),
      // q127: DuckDB recomputes the md5 bucket and the md5 weight per
      // token (same 15-hex-digit 60-bit integers), folds with list_sum,
      // and divides on the same truncating integer grid. Both engines'
      // `%` agrees because every operand is non-negative until the final
      // weight centering.
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
         FROM w ORDER BY id"""),
    QuerySpec("q155_classifier_train", (s, d) =>
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
        buckets = 64, epochs = 3),
      // q155: the exact 3-epoch integer replay — h60-hashed buckets,
      // hard-sigmoid margins, pmod-spelled floor division (exact under
      // both engines' integer division since the remainder is removed
      // first), weight trajectory pinned per epoch per bucket.
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
         ORDER BY epoch, bucket"""),
    QuerySpec("q164_classifier_minibatch", (s, d) =>
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
        buckets = 64, epochs = 2, numBatches = 4),
      // q164: q155's replay at (epoch, batch) step grain — batch
      // membership an md5 hash of the id, per-step lrd from the batch's
      // doc count, LEFT-join weight carry for untouched buckets. w CTEs
      // MATERIALIZED: each step references the previous weight table
      // twice (margin + update), which would inline 2^8 ways otherwise.
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
         ORDER BY epoch, batch, bucket"""),

    // ---- preference and contrastive pairs -------------------------
    QuerySpec("q160_preference_pairs", (s, d) => {
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
    },
      // q160: q127's scorer CTE carrying (source, lang), then the same
      // (score DESC/ASC, id) row_number windows and group-grain join.
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
         ORDER BY source, lang"""),
    QuerySpec("q163_preference_pairs_topk", (s, d) => {
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
    },
      // q163: q160's scorer + rank-k windows joined on pair_rank —
      // the outside-in (i-th best, i-th worst) pairing.
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
         ORDER BY source, lang, pair_rank"""),
    QuerySpec("q161_contrastive_triplets", (s, d) =>
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
        .orderBy(col("anchor_id")),
      // q161: same label-blocked pair set (q59's), same
      // (cosine DESC, id) windows for both extremes, 4-decimal grid.
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
         ORDER BY anchor_id"""),
    QuerySpec("q167_contrastive_ann", (s, d) => {
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
    },
      // q167: the ANN-triplet soundness envelope — booleans hold by
      // construction when the op is sound; n_anchors pins the anchor
      // set. Non-vacuous recall is a TrainSpec floor on the sf0.01
      // corpus (a hard TRUE here would be corpus-shape-dependent).
      """SELECT CAST(count(*) FILTER (WHERE vec_id % 50 = 0) AS BIGINT)
           AS n_anchors,
         TRUE AS pos_sound, TRUE AS neg_sound, TRUE AS ids_distinct,
         TRUE AS anchors_unique
         FROM embeddings"""),
    QuerySpec("q175_contrastive_ann_adc", (s, d) => {
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
    },
      // q175: the ADC==plain equality holds by construction at a
      // shortlist covering every probed candidate (see the query); the
      // oracle pins it plus the anchor count under the same scale-
      // adaptive modulus max(50, n/100).
      """SELECT CAST(count(*) FILTER (WHERE vec_id %
             greatest(50, (SELECT count(*) FROM embeddings) // 100) = 0)
           AS BIGINT) AS n_anchors,
         TRUE AS adc_equals_exact
         FROM embeddings"""),
  )
}
