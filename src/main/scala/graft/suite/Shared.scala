package graft.suite

import graft.core.Tables._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The row builders' shared helpers, written once for every family:
  * the exact grid sums, the soundness envelopes, the run-scoped stores
  * and the session-shared relations and trained tokenizers.
  */
private[graft] object Shared {

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
  def dsum(c: Column): Column =
    sum(rint(c * lit(10000.0)).cast("long")) / lit(10000.0)

  def davg(c: Column): Column =
    sum(rint(c * lit(10000.0)).cast("long")) / lit(10000.0) / count(c)

  /** Grid-scaled long sum aggregate (1e-2 grid), pre-division — use
    * directly with `.over(w)` for window sums.
    */
  def scaledSum2(c: Column): Column =
    sum(rint(c * lit(100.0)).cast("long"))

  /** dsum on the 1e-2 grid (2dp money columns). */
  def dsum2(c: Column): Column = scaledSum2(c) / lit(100.0)

  /** Plane count for the LSH near-dup queries, tracking corpus size:
    * with a FIXED plane count, growing the corpus 10x grows every
    * bucket 10x and in-bucket candidate pairs 100x — the quadratic
    * creep the operator doc warns about. One extra plane per corpus
    * doubling keeps expected bucket size (and so per-row candidate
    * cost) constant; floors at 6 so every correctness-gate SF keeps the
    * exact plane count its oracle rows were pinned with.
    */
  def adaptivePlanes(nRows: Long, targetBucket: Double = 250.0): Int =
    // max(1, n): an empty corpus must floor to 6 planes, not feed
    // log(0) = -Inf into the ceil.
    math.max(6, math.ceil(
      math.log(math.max(1L, nRows).toDouble / targetBucket) / math.log(2.0)).toInt)

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
  def jaccardPrefixSelfCtes(src: String, t: Double): String =
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

  /** Per-label soundness envelope for near-dup pair results (q67/q68):
    * every emitted pair re-verified against the raw embeddings table —
    * ordered, distinct, exact cosine >= threshold (the zero-false-
    * positive claim as an oracle row). Labels with no pairs still emit
    * a row (left join + coalesce), so the row set is exactly the
    * DuckDB-mirrorable label domain. Completeness is probabilistic by
    * design (LSH recall); the floors stay asserted in OpsSpec/PlansSpec.
    */
  def pairSoundnessEnvelope(
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
  def annEnvelope(result: DataFrame, emb: DataFrame): DataFrame = {
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

  /** BPE merge rounds shared by q153/q154 and their oracles. */
  val bpeRounds = 20

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
  val runToken: String = {
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
  def ensureTokenStore(
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
  def runStore(s: org.apache.spark.sql.SparkSession, kind: String,
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
  def ensureStandingVectorIndex(
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
  def sharedPqCodebooks(
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
  val trainedTokenizers =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  def memoTrained[T <: AnyRef](key: String)(build: => T): T =
    trainedTokenizers.computeIfAbsent(key, _ => build).asInstanceOf[T]

  /** The corpus/batch split shared by the q150/q156/q162 incremental
    * family suite (batch = doc_id % 10 >= 8).
    */
  def isFamilyBatch(c: Column): Column = c % 10 >= 8

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
  def familyPrior(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.shared(s"ensemble-family-prior:$d:0.8:0.4") {
      graft.ops.EnsembleDedup.standardDupFamilies(
        documents(s, d).where(!isFamilyBatch(col("doc_id"))), "text", "doc_id",
        embeddings(s, d).where(!isFamilyBatch(col("vec_id"))),
        "embedding", "vec_id", "label",
        jaccardThreshold = 0.8, cosineThreshold = 0.4)
    }
}
