package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MATERIALIZED IVF vector index — the storage half of a 100 TB ANN
  * deployment, first-class (the measured layout study is COVERAGE.md's
  * "2-level IVFPQ store layout demo"; this is the operator API): the
  * store is written ONCE, bucketed by coarse list id, and every search reads
  * only its probed lists' buckets — I/O ∝ nprobe/nlist enforced by the
  * layout, not by trusting a filter.
  *
  * Tables under `tablePrefix` / `basePath`:
  *  - `_store`     (id, emb, centroid_id)  bucketed by centroid_id
  *  - `_centroids` (centroid_id, centroid_emb) — tiny, broadcast side
  *  - `_meta`      (nlist, num_buckets) — one row
  *
  * The tables are a [[graft.core.StandingStore]]: entries are
  * session-scoped, files are not, and a rebind of [[coarseTables]]
  * (plus [[pqTables]]) restores them after a restart.
  *
  * One build pipeline serves both index forms: [[buildCoarse]] trains
  * and assigns through [[Similarity]]'s ANN kernel, [[buildCodes]]
  * encodes, and a sink decides where each derived relation goes — the
  * store's tables for a standing index, `persistTracked` for a scratch
  * index over a bounded subset ([[buildIvfPqRelations]]).
  *
  * BUCKET PRUNING caveat: Spark's planner auto-disables bucketed
  * reading for scans with no bucket-key join/agg
  * (`spark.sql.sources.bucketing.autoBucketedScan.enabled`), which
  * also disables filter-based bucket pruning — [[searchIvfIndex]]
  * scopes that knob off around its own plan so the probed-list
  * `IN (...)` filter prunes at the scan (`SelectedBucketsCount` in the
  * plan; pinned by OpsSpec).
  */
object VectorIndex {
  import graft.core.{Caches, StandingStore}
  import graft.functions.VectorFunctions.vecCosine

  /** The coarse half's layout: table name -> bucket column. */
  val coarseTables: Seq[(String, Option[String])] =
    Seq("store" -> Some("centroid_id"), "centroids" -> None, "meta" -> None)

  /** The PQ half's layout, under the same prefix as the coarse half. */
  val pqTables: Seq[(String, Option[String])] =
    Seq("codes" -> Some("centroid_id"), "codebooks" -> None)

  /** Where a build puts each relation it derives (by table name); the
    * returned relation is what later steps read.
    */
  private type Sink = (String, DataFrame) => DataFrame

  private val scratchSink: Sink = (_, df) => Caches.persistTracked(df)

  private def tableSink(store: StandingStore, nlist: Int): Sink = (name, df) => {
    (coarseTables ++ pqTables).toMap.apply(name) match {
      case Some(c) => store.writeBucketed(name, df, c, nlist)
      case None => store.write(name, df)
    }
    store.table(name)
  }

  /** Train centroids ([[Similarity.trainCentroids]]: deterministic
    * coarse pick + `refineIters` Lloyd steps), assign every vector, and
    * hand both to `sink`; returns (centroids, store) as the sink gives
    * them back.
    */
  private def buildCoarse(vecs: DataFrame, embCol: String, idCol: String,
      nlist: Int, refineIters: Int, sink: Sink): (DataFrame, DataFrame) = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val centroids = Similarity.trainCentroids(vecs, nlist, refineIters, embCol, idCol)
    // The index's tables have a CANONICAL id spelling (LongType)
    // independent of the caller's parquet width — centroid ids are
    // driver-collected as longs at search time, and an append must
    // never fork the store schema because a batch arrived INT32.
    val cents = sink("centroids",
      centroids.select(col("centroid_id").cast("long").as("centroid_id"),
        col("centroid_emb")))
    (cents, sink("store", assign(vecs, cents, embCol, idCol)))
  }

  /** Each vector's [[Similarity.nearestCentroid]] in the store's (id,
    * emb, centroid_id) spelling — the build's and the append's one
    * assignment.
    */
  private def assign(vecs: DataFrame, centroids: DataFrame, embCol: String,
      idCol: String): DataFrame =
    Similarity.nearestCentroid(vecs, centroids, embCol,
      col(idCol).cast("long").as("id"), col(embCol).as("emb")).drop("centroid_sim")

  /** PQ-encode every stored vector against `books`, in ARRAY form (one
    * row per vector carrying m small ints) with its list id.
    */
  private def buildCodes(store: DataFrame, books: DataFrame, m: Int, dim: Int,
      sink: Sink): DataFrame =
    sink("codes", ProductQuantize.codesArray(
        ProductQuantize.encode(store, books, m, dim, "emb", "id"))
      .join(store.select(col("id"), col("centroid_id")), "id"))

  /** Train centroids, assign every vector, and write the bucketed store
    * (the coarse half of a standing index).
    */
  def writeIvfIndex(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      nlist: Int,
      refineIters: Int = 1,
      tablePrefix: String = "graft_vector_index",
      basePath: String = null): Unit = {
    val store = StandingStore(vecs.sparkSession, tablePrefix, basePath)
    buildCoarse(vecs, embCol, idCol, nlist, refineIters, tableSink(store, nlist))
    store.writeMeta("nlist" -> nlist, "num_buckets" -> nlist)
  }

  /** [[writeIvfIndex]] plus the PQ compression half of the FAISS-style
    * IVFADC layout ([[ProductQuantize]]'s machinery over the
    * materialized store): two more tables under the same prefix —
    *  - `_codebooks` (sub, code_id, cent)  m x ksub rows, broadcast side
    *  - `_codes`     (id, sub, code, centroid_id)  bucketed like the
    *                 store, so a probe reads nprobe/nlist of the CODES
    * and `_meta` gains (m, ksub, dim) so [[searchIvfIndexAdc]] is
    * self-describing. Codes are stored in ARRAY form — ONE row per
    * vector carrying m small ints (~16 bytes vs the 256+-byte raw
    * embedding): the probe's first-pass scan bytes drop ~dim/m x, and
    * scoring stays one fused call per (query, candidate) pair
    * ([[graft.functions.AdcLutScoreExpr]]) instead of the m-row join
    * the subvector-grain layout would force.
    */
  def writeIvfPqIndex(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      refineIters: Int = 1,
      pqIters: Int = 2,
      tablePrefix: String = "graft_vector_index",
      basePath: String = null): Unit = {
    writeIvfIndex(vecs, embCol, idCol, nlist, refineIters, tablePrefix, basePath)
    writePqHalf(StandingStore(vecs.sparkSession, tablePrefix, basePath), vecs,
      embCol, idCol, nlist, m, ksub, dim, pqIters, None)
  }

  /** The PQ compression half alone, layered onto the coarse half
    * already in `store` — the in-place UPGRADE path
    * ([[ensureIvfPqIndex]]'s `needPq` economics: a plain-probe consumer
    * builds the cheap IVF store; the first ADC consumer adds codebooks
    * + codes without re-clustering). `booksOpt`: already-trained
    * codebooks for the same (vecs, m, ksub, dim, pqIters) — the
    * session-shared amortization path; the stored table is identical
    * either way.
    */
  private def writePqHalf(store: StandingStore, vecs: DataFrame, embCol: String,
      idCol: String, nlist: Int, m: Int, ksub: Int, dim: Int, pqIters: Int,
      booksOpt: Option[DataFrame]): Unit = {
    store.writeMeta("nlist" -> nlist, "num_buckets" -> nlist, "m" -> m,
      "ksub" -> ksub, "dim" -> dim)
    val books = booksOpt.getOrElse(ProductQuantize.trainCodebooks(
      vecs, m, ksub, dim, pqIters, embCol, idCol))
    store.write("codebooks", books)
    buildCodes(store.table("store"), books, m, dim, tableSink(store, nlist))
  }

  /** Build-or-rebind a STANDING IVFPQ index — the amortized spelling
    * (round-13): q167/q175's arms all probe essentially the same index
    * of the same embeddings, and before this each consumer re-built it
    * per query (the flat build cost is exactly why q167's dispatch
    * keeps a plain arm at small corpora). Idempotent per session AND
    * across restarts: [[graft.core.StandingStore.ensure]] per half. The
    * GEOMETRY is part of the caller's prefix contract: a prefix must
    * encode everything that changes the index (dataset, nlist,
    * m/ksub/dim), because ensure trusts an existing materialization
    * under its prefix.
    */
  def ensureIvfPqIndex(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      refineIters: Int = 1,
      pqIters: Int = 2,
      tablePrefix: String = "graft_vector_index",
      basePath: String = null,
      needPq: Boolean = true,
      booksOpt: Option[DataFrame] = None): Unit = {
    val store = StandingStore(vecs.sparkSession, tablePrefix, basePath)
    // Coarse half first (bind or build) — every consumer needs it.
    store.ensure(coarseTables: _*)(
      writeIvfIndex(vecs, embCol, idCol, nlist, refineIters, tablePrefix, basePath))
    // PQ half: bind, or UPGRADE the existing store in place — a
    // plain-probe consumer below the ADC break-even builds only the
    // cheap coarse half; the first ADC consumer pays the codebook
    // train + code write exactly once, without re-clustering.
    if (needPq) store.ensure(pqTables: _*)(
      writePqHalf(store, vecs, embCol, idCol, nlist, m, ksub, dim, pqIters, booksOpt))
  }

  /** Assign NEW vectors to the EXISTING centroids and append — the
    * incremental path (centroids are fixed per index version; drift is
    * a rebuild decision the owner makes on [[CentroidDrift]] evidence).
    */
  def appendToIvfIndex(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      tablePrefix: String = "graft_vector_index"): Unit = {
    val store = StandingStore(vecs.sparkSession, tablePrefix, null)
    store.append(("store", assign(vecs, store.table("centroids"), embCol, idCol),
      "centroid_id"))
  }

  /** An IVFADC index as relations: the store's four tables (or a
    * scratch build's persisted relations) and its PQ geometry.
    */
  case class IvfPqRelations(
      store: DataFrame, centroids: DataFrame, books: DataFrame,
      codes: DataFrame, m: Int, ksub: Int, dim: Int)

  /** The relations of the [[writeIvfPqIndex]] materialization under
    * `tablePrefix`.
    */
  def relations(spark: SparkSession, tablePrefix: String): IvfPqRelations = {
    val store = StandingStore(spark, tablePrefix, null)
    val meta = store.meta
    IvfPqRelations(store.table("store"), store.table("centroids"),
      store.table("codebooks"), store.table("codes"), meta.getAs[Int]("m"),
      meta.getAs[Int]("ksub"), meta.getAs[Int]("dim"))
  }

  /** In-memory IVFADC relations for a BOUNDED subset — the same build
    * pipeline as [[writeIvfPqIndex]] (so every value matches the
    * materialized tables bit for bit) with the store/centroids/codes
    * kept as PERSISTED DATAFRAMES and the driver-trained codebooks as
    * their local relation. Round-14 motivation: q181's scale-adaptive
    * ~1000-vector subset index spent ~10 s of its 11.4 s in Derby
    * `saveAsTable` churn for five catalog tables plus their read-back —
    * pure fixed cost on a relation that fits in a handful of cache
    * blocks. A STANDING index over a full corpus keeps the catalog
    * contract ([[ensureIvfPqIndex]] — files survive the session,
    * consumers rebind after restarts); a per-run scratch index over a
    * bounded subset has no cross-session consumer, so the catalog
    * round-trip bought nothing. OpsSpec pins in-memory search ==
    * catalog-backed search row for row.
    */
  def buildIvfPqRelations(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      refineIters: Int = 1,
      pqIters: Int = 2): IvfPqRelations = {
    val (centroids, store) =
      buildCoarse(vecs, embCol, idCol, nlist, refineIters, scratchSink)
    val books = ProductQuantize.trainCodebooks(
      vecs, m, ksub, dim, pqIters, embCol, idCol)
    IvfPqRelations(store, centroids, books,
      buildCodes(store, books, m, dim, scratchSink), m, ksub, dim)
  }

  /** The probe step: [[Similarity.probeLists]], persisted, and the
    * sorted union of probed list ids. The union is a driver round-trip
    * over at most `nlist` longs — the price of turning a dynamic probe
    * set into a prunable literal (Spark has no dynamic bucket pruning);
    * bounded by construction, never data-sized.
    */
  private def probe(queries: DataFrame, qEmbCol: String, qIdCol: String,
      nprobe: Int, centroids: DataFrame): (DataFrame, Array[Long]) = {
    val probes = Caches.persistTracked(
      Similarity.probeLists(queries, qEmbCol, qIdCol, nprobe, centroids))
    (probes, probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted)
  }

  private def inLists(df: DataFrame, lists: Array[Long]): DataFrame =
    df.where(col("centroid_id").isin(lists.map(Long.box): _*))

  /** [[Similarity.topKPerQuery]] over scored (qIdCol, id, score) rows,
    * as (qIdCol, vec_id, score, rank).
    */
  private def topK(scored: DataFrame, qIdCol: String, k: Int): DataFrame =
    Similarity.topKPerQuery(scored, qIdCol, "id", k).withColumnRenamed("id", "vec_id")

  /** Execute `out` with bucketed scans forced on. The bucket-pruning
    * knob is read at PLANNING time, so the search executes eagerly
    * inside a scoped conf window (localCheckpoint — results are k rows
    * per query, never data-sized) and the session conf is restored
    * before returning; callers get a small materialized relation, not a
    * plan that silently loses pruning once the knob reverts.
    */
  private def withBucketPruning(out: DataFrame): DataFrame = {
    val spark = out.sparkSession
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try out.localCheckpoint()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Probe-pruned top-k search against the materialized store: each
    * query picks its `nprobe` nearest centroids, the UNION of probed
    * list ids becomes an `IN` literal filter on the bucketed scan
    * (bucket pruning — only those buckets' files are read), exact
    * cosine + per-query window rank on the probed rows. At
    * `nprobe = nlist` the result is EXACTLY brute-force top-k (q144's
    * full-value oracle pin); smaller `nprobe` trades recall for the
    * layout-enforced I/O cut.
    */
  def searchIvfIndex(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      tablePrefix: String = "graft_vector_index"): DataFrame = {
    val store = StandingStore(queries.sparkSession, tablePrefix, null)
    val (probes, lists) =
      probe(queries, qEmbCol, qIdCol, nprobe, store.table("centroids"))
    withBucketPruning(topK(
      inLists(store.table("store"), lists).join(broadcast(probes), Seq("centroid_id"))
        .withColumn("score", vecCosine(col("emb"), col(qEmbCol))),
      qIdCol, k))
  }

  /** IVFADC search against a [[writeIvfPqIndex]] materialization:
    * [[searchIvfAdcRelations]] over the store's [[relations]].
    */
  def searchIvfIndexAdc(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      shortlist: Int,
      tablePrefix: String = "graft_vector_index"): DataFrame =
    searchIvfAdcRelations(queries, qEmbCol, qIdCol, k, nprobe, shortlist,
      relations(queries.sparkSession, tablePrefix))

  /** IVFADC search: probe `nprobe` lists (bucket-pruned scan of the
    * CODES), ADC-score the probed codes against a per-query broadcast
    * LUT, keep the top-`shortlist` candidates per query by approximate
    * score, then exact-rescore ONLY the shortlist against the raw
    * store — the exact-cosine volume shrinks by the shortlist ratio
    * while the first pass scans m small codes per row instead of the
    * full embedding. `shortlist` >= the probed candidate count
    * degenerates to [[searchIvfIndex]] EXACTLY (the q175 oracle pin);
    * smaller shortlists trade recall for the scan cut, the standard
    * IVFADC knob (Jégou et al. 2011). Output (qIdCol, vec_id, score,
    * rank) — true cosines, identical contract to [[searchIvfIndex]].
    * One implementation for a standing index and a scratch one, so the
    * two spellings cannot drift.
    */
  def searchIvfAdcRelations(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      shortlist: Int,
      rel: IvfPqRelations): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k $k")
    val (m, ksub) = (rel.m, rel.ksub)
    val (probes, lists) = probe(queries, qEmbCol, qIdCol, nprobe, rel.centroids)
    // Per-query FLAT lut (m x ksub doubles, position sub * ksub +
    // code): the broadcast side of the scoring join; positions of
    // dropped k-means codes fill 0.0 (they never appear in a codes
    // array). ip coalesces to 0.0 BEFORE collect_list: a null-
    // embedding query yields null inner products, and collect_list
    // skips nulls while the key list keeps its positions — a
    // mismatched MapData crash (`Sweep null` catch). The 0 scores are
    // inert: such a query's exact rescore is null-cosine and drops at
    // every downstream threshold, exactly like the plain probe path.
    val lutArr = ProductQuantize.adcLut(
        queries.select(col(qIdCol), col(qEmbCol)), rel.books, m, rel.dim,
        queryEmbCol = qEmbCol, queryIdCol = qIdCol)
      .groupBy(col("q_id"))
      .agg(map_from_arrays(
        collect_list(col("sub") * ksub + col("code_id")),
        collect_list(coalesce(col("ip"), lit(0.0d)))).as("__lm"))
      .select(col("q_id"),
        transform(sequence(lit(0), lit(m * ksub - 1)),
          p => coalesce(element_at(col("__lm"), p), lit(0.0d))).as("__lut"))
    // Probed (query, list) restriction BEFORE scoring: a code row is
    // scored only for queries that probed its list; the score is ONE
    // fused m-lookup call per pair
    // (AdcLutScoreExpr) — the join-by-subspace spelling costs m rows
    // per pair and measurably loses to the raw cosine it should
    // undercut.
    val probedPairs = probes.select(col(qIdCol).as("__q"), col("centroid_id"))
      .join(lutArr, col("__q") === lutArr("q_id"))
      .select(col("__q"), col("centroid_id"), col("__lut"))
    val adcScore = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.AdcLutScoreExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("codes")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("__lut")),
        ksub))
    val cand = Similarity.topKPerQuery(inLists(rel.codes, lists)
        .join(broadcast(probedPairs), Seq("centroid_id"))
        .select(col("__q"), col("id"), adcScore.as("score")),
        "__q", "id", shortlist)
      .select(col("__q"), col("id"))
    val q2 = queries.select(col(qIdCol), col(qEmbCol))
    withBucketPruning(topK(
      cand.join(inLists(rel.store, lists).select(col("id"), col("emb")), Seq("id"))
        .join(broadcast(q2), cand("__q") === q2(qIdCol))
        .withColumn("score", vecCosine(col("emb"), col(qEmbCol))),
      qIdCol, k))
  }
}
