package graft.suite

import graft.core.Tables._
import graft.functions.VectorFunctions._
import graft.ops.{Dedup, Similarity}
import graft.suite.Shared._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The vector similarity rows: exact and ANN top-k, quantization, vector
  * indexes and semantic dedup.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object AnnRows {

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

  val specs: Seq[QuerySpec] = Seq(
    // ---- vector similarity (O5 + extension) -----------------------
    QuerySpec("q28_cosine_topk", (s, d) => {
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
    },
      """SELECT vec_id, round(list_cosine_similarity(
           CAST(embedding AS DOUBLE[]),
           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS score
         FROM embeddings
         ORDER BY score DESC, vec_id LIMIT 100"""),
    QuerySpec("q29_cosine_topk_per_query", (s, d) => {
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      graft.query.Retriever.neighbors(emb, queries, 5)
        .select(col("q_id"), col("vec_id"), round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    },
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 10) t
         WHERE rank <= 5 ORDER BY q_id, rank"""),
    QuerySpec("q51_lsh_ann", (s, d) => {
      // LSH ANN through the score-verification envelope (see
      // [[annEnvelope]]): hash-derived buckets have no DuckDB mirror,
      // but self-is-top1 at 1.0 plus re-verified scores/ranks are
      // hard oracle rows.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      annEnvelope(Similarity.lshTopK(emb, qs, k = 5, numPlanes = 8), emb)
    },
      // ANN envelopes (q51/q60): self is the unique cosine-1.0 maximum
      // and is guaranteed a candidate, so top-1 is pinned exactly; the
      // invariant booleans are engine-computed and pinned TRUE.
      """SELECT vec_id AS q_id, vec_id AS top1_vec_id,
           CAST(1.0 AS DOUBLE) AS top1_score,
           TRUE AS scores_exact, TRUE AS ranks_contiguous,
           TRUE AS ids_distinct, TRUE AS scores_desc
         FROM embeddings WHERE vec_id < 5 ORDER BY q_id"""),
    QuerySpec("q52_ivf_assign", (s, d) => {
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
    },
      """SELECT vec_id, TRUE AS assigned_argmax, TRUE AS scored_all_centroids
         FROM embeddings ORDER BY vec_id"""),
    QuerySpec("q60_ivf_topk", (s, d) => {
      // Partial-probe IVF through the score-verification envelope: a
      // corpus query's best centroid IS its own vector's assigned list
      // (same cosine, same tie-break), so self is always probed and
      // top-1 must be self at 1.0; q64 keeps the full-probe == brute
      // force hard-equality oracle.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      annEnvelope(Similarity.ivfTopK(emb, qs, nlist = 16, nprobe = 4, k = 5), emb)
    },
      """SELECT vec_id AS q_id, vec_id AS top1_vec_id,
           CAST(1.0 AS DOUBLE) AS top1_score,
           TRUE AS scores_exact, TRUE AS ranks_contiguous,
           TRUE AS ids_distinct, TRUE AS scores_desc
         FROM embeddings WHERE vec_id < 5 ORDER BY q_id"""),
    QuerySpec("q64_ivf_exact", (s, d) => {
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
    },
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 5) t
         WHERE rank <= 5 ORDER BY q_id, rank"""),
    QuerySpec("q116_jl_projection", (s, d) =>
      // §2.11 Johnson-Lindenstrauss ±1 projection to 8 dims, map-only
      // (the sign matrix is a pure md5-parity function — never
      // materialized, never joined). Components accumulate as exact
      // int64 micro sums, so DuckDB recomputes every output digit.
      graft.ops.RandomProjection.jlProject(
          embeddings(s, d), "vec_id", "embedding", outDims = 8, salt = "jl1")
        .orderBy(col("vec_id"), col("j")),
      // q116: the identical md5-nibble sign function and micro-grid
      // int64 accumulation (DuckDB lists are 1-based; i-1 re-aligns).
      """SELECT vec_id, CAST(r.j AS BIGINT) AS j,
           CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
             ((CAST(concat('0x', substr(md5('jl1' || r.j || ':' || (i - 1)), 1, 1)) AS BIGINT) % 2) * 2 - 1)
             * CAST(round_even(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)))
             AS BIGINT) AS out_micro
         FROM embeddings
         CROSS JOIN (SELECT unnest(range(0, 8)) AS j) r
         WHERE embedding IS NOT NULL
         ORDER BY vec_id, j"""),
    QuerySpec("q135_centroid_drift", (s, d) =>
      // §2.11 embedding-space drift: per-label centroid mean shift
      // between two corpus slices (vec_id%3 split), integer-exact L1
      // and squared-L2 over grid-snapped per-dim means. The shuffle
      // carries |labels|x64 partial sums per partition, never vectors.
      graft.ops.CentroidDrift.centroidDrift(
          embeddings(s, d), "embedding", "label", col("vec_id") % 3 =!= 0)
        .orderBy(col("label")),
      // q135: same 1e-6 grid snap (round_even on the float->double-exact
      // promotion), same truncating per-dim mean, same integer L1/L2²;
      // dims enumerated 0-based to match posexplode.
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
         FROM m GROUP BY label, n_old, n_new ORDER BY label"""),

    // ---- quantization ---------------------------------------------
    QuerySpec("q89_embedding_quantization", (s, d) => {
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
    },
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
         FROM r ORDER BY vec_id"""),
    QuerySpec("q90_pq_exact", (s, d) => {
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
    },
      // q90: exact-mode PQ (shortlist covers the store, re-rank is exact
      // cosine) — the oracle is plain brute-force top-k, q64's shape.
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 5) t
         WHERE rank <= 5 ORDER BY q_id, rank"""),
    QuerySpec("q91_pq_encode", (s, d) => {
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
    },
      // q91: quantizer-internals envelope — per-vector argmin/identity
      // booleans computed by independent in-engine scoring, pinned TRUE.
      """SELECT vec_id, TRUE AS encoded_argmin, TRUE AS all_subspaces,
           TRUE AS adc_matches_recon, TRUE AS scored_all_queries
         FROM embeddings
         WHERE substr(md5('q91s' || CAST(vec_id AS VARCHAR)), 1, 1)
           IN ('0', '1', '2', '3')
         ORDER BY vec_id"""),

    // ---- indexes and semantic dedup -------------------------------
    QuerySpec("q144_vector_index_search", (s, d) => {
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
    },
      // q144: full-probe IVF store search == brute-force top-k — q29's
      // oracle verbatim (same cosine, same (score DESC, vec_id) ties).
      """SELECT q_id, vec_id, round(score, 4) AS score, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) AS score,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q WHERE q.vec_id < 10) t
         WHERE rank <= 5 ORDER BY q_id, rank"""),
    QuerySpec("q88_semantic_clusters", (s, d) => {
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
    },
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
         ORDER BY comp.vec_id"""),
    QuerySpec("q181_semantic_clusters_indexed", (s, d) => {
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
    },
      // q181: exact-mode index-backed SemDeDup == the UNBLOCKED exact
      // closure over the same scale-adaptive subset (q88's recursive-CTE
      // machinery with a constant block and the mod filter).
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
         ORDER BY comp.vec_id"""),
    QuerySpec("q186_prototype_pruning", (s, d) =>
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
        epsDen = 10L),
      // q186: envelope — centroid values are engine-internal float means
      // (the q52/q62 discipline); the booleans are independent in-engine
      // soundness checks, pinned TRUE.
      """SELECT count(*) AS n_vecs, TRUE AS assigned_argmax,
           TRUE AS drop_count_exact,
           TRUE AS dropped_are_most_prototypical,
           TRUE AS kept_drop_partition
         FROM embeddings"""),
    QuerySpec("q188_d4_pipeline", (s, d) => {
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
    },
      // q188: the composed D4 envelope — n_vecs and n_survivors full-
      // value (exact-mode SemDeDup survivors == the unblocked exact
      // closure's canonical families, q181's recursive-CTE machinery);
      // the prototype-stage booleans are in-engine (q186's envelope
      // discipline) plus the pipeline-order domain pin.
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
           TRUE AS pruned_domain_is_survivors"""),
  )
}
