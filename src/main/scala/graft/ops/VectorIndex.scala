package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * Same catalog discipline as the corpus index
  * ([[Dedup.writeCorpusIndex]]): entries are session-scoped, files are
  * not; [[registerVectorIndex]] rebinds after a restart.
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
  import graft.functions.VectorFunctions.vecCosine

  /** Train centroids (deterministic coarse pick + `refineIters` Lloyd
    * steps — [[Similarity.pickCentroids]]/[[Similarity.refineCentroids]]),
    * assign every vector map-side, and write the bucketed store.
    */
  def writeIvfIndex(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      nlist: Int,
      refineIters: Int = 1,
      tablePrefix: String = "graft_vector_index",
      basePath: String = null): Unit = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val spark = vecs.sparkSession
    var centroids = Similarity.pickCentroids(vecs, nlist, embCol, idCol)
    for (_ <- 0 until refineIters)
      centroids = graft.core.Caches.persistTracked(
        Similarity.refineCentroids(vecs, centroids, embCol, idCol))
    // The index's tables have a CANONICAL id spelling (LongType)
    // independent of the caller's parquet width — centroid ids are
    // driver-collected as longs at search time, and an append must
    // never fork the store schema because a batch arrived INT32.
    centroids = centroids.select(col("centroid_id").cast("long").as("centroid_id"),
      col("centroid_emb"))
    val assigned = vecs.crossJoin(broadcast(centroids))
      .withColumn("__sim", vecCosine(col(embCol), col("centroid_emb")))
      .groupBy(col(idCol).cast("long").as("id"), col(embCol).as("emb"))
      .agg(max_by(col("centroid_id"), struct(col("__sim"), -col("centroid_id")))
        .as("centroid_id"))
    def path(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
        name: String) =
      if (basePath == null) w else w.option("path", s"$basePath/$name")
    path(assigned.write.mode("overwrite").format("parquet"), "store")
      .bucketBy(nlist, "centroid_id").sortBy("centroid_id")
      .saveAsTable(s"${tablePrefix}_store")
    path(centroids.write.mode("overwrite").format("parquet"), "centroids")
      .saveAsTable(s"${tablePrefix}_centroids")
    path(spark.createDataFrame(Seq((nlist, nlist))).toDF("nlist", "num_buckets")
      .write.mode("overwrite").format("parquet"), "meta")
      .saveAsTable(s"${tablePrefix}_meta")
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
    writePqHalf(vecs, embCol, idCol, nlist, m, ksub, dim, pqIters,
      tablePrefix, basePath)
  }

  /** The PQ compression half alone, layered onto an EXISTING
    * [[writeIvfIndex]] materialization under the same prefix — the
    * in-place UPGRADE path ([[ensureIvfPqIndex]]'s `needPq` economics:
    * a plain-probe consumer builds the cheap IVF store; the first ADC
    * consumer adds codebooks + codes without re-clustering).
    */
  def writePqHalf(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      pqIters: Int = 2,
      tablePrefix: String = "graft_vector_index",
      basePath: String = null,
      booksOpt: Option[DataFrame] = None): Unit = {
    val spark = vecs.sparkSession
    def path(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
        name: String) =
      if (basePath == null) w else w.option("path", s"$basePath/$name")
    path(spark.createDataFrame(Seq((nlist, nlist, m, ksub, dim)))
      .toDF("nlist", "num_buckets", "m", "ksub", "dim")
      .write.mode("overwrite").format("parquet"), "meta")
      .saveAsTable(s"${tablePrefix}_meta")
    // booksOpt: already-trained codebooks for the same (vecs, m, ksub,
    // dim, pqIters) — the session-shared amortization path; the stored
    // table is identical either way.
    val books = booksOpt.getOrElse(ProductQuantize.trainCodebooks(
      vecs, m, ksub, dim, pqIters, embCol, idCol))
    path(books.write.mode("overwrite").format("parquet"), "codebooks")
      .saveAsTable(s"${tablePrefix}_codebooks")
    val store = spark.table(s"${tablePrefix}_store")
    val codes = ProductQuantize.codesArray(
        ProductQuantize.encode(store, books, m, dim, "emb", "id"))
      .join(store.select(col("id"), col("centroid_id")), "id")
    path(codes.write.mode("overwrite").format("parquet"), "codes")
      .bucketBy(nlist, "centroid_id").sortBy("centroid_id")
      .saveAsTable(s"${tablePrefix}_codes")
  }

  /** IVFADC search against a [[writeIvfPqIndex]] materialization:
    * probe `nprobe` lists (bucket-pruned scan of the CODES table),
    * ADC-score the probed codes against a per-query broadcast LUT,
    * keep the top-`shortlist` candidates per query by approximate
    * score, then exact-rescore ONLY the shortlist against the raw
    * store — the exact-cosine volume shrinks by the shortlist ratio
    * while the first pass scans m small codes per row instead of the
    * full embedding. `shortlist` >= the probed candidate count
    * degenerates to [[searchIvfIndex]] EXACTLY (the q175 oracle pin);
    * smaller shortlists trade recall for the scan cut, the standard
    * IVFADC knob (Jégou et al. 2011). Output (qIdCol, vec_id, score,
    * rank) — true cosines, identical contract to [[searchIvfIndex]].
    */
  def searchIvfIndexAdc(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      shortlist: Int,
      tablePrefix: String = "graft_vector_index"): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.table(s"${tablePrefix}_meta").head()
    searchIvfAdcCore(queries, qEmbCol, qIdCol, k, nprobe, shortlist,
      store = spark.table(s"${tablePrefix}_store"),
      centroids = spark.table(s"${tablePrefix}_centroids"),
      books = spark.table(s"${tablePrefix}_codebooks"),
      codes = spark.table(s"${tablePrefix}_codes"),
      m = meta.getAs[Int]("m"), ksub = meta.getAs[Int]("ksub"),
      dim = meta.getAs[Int]("dim"))
  }

  /** The IVFADC search pipeline over explicit relations — shared by the
    * catalog-backed path ([[searchIvfIndexAdc]]) and the in-memory
    * subset path ([[buildIvfPqRelations]]); one implementation, so the
    * two spellings cannot drift.
    */
  private def searchIvfAdcCore(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      shortlist: Int,
      store: DataFrame,
      centroids: DataFrame,
      books: DataFrame,
      codes: DataFrame,
      m: Int,
      ksub: Int,
      dim: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k $k")
    val spark = queries.sparkSession
    val probeW = Window.partitionBy(col(qIdCol))
      .orderBy(col("__qsim").desc, col("centroid_id"))
    val probes = graft.core.Caches.persistTracked(
      queries.crossJoin(broadcast(centroids))
        .withColumn("__qsim", vecCosine(col(qEmbCol), col("centroid_emb")))
        .withColumn("__pr", row_number().over(probeW))
        .where(col("__pr") <= nprobe)
        .select(col(qIdCol), col(qEmbCol), col("centroid_id")))
    val probedLists = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val prunedCodes = codes
      .where(col("centroid_id").isin(probedLists.map(Long.box): _*))
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
        queries.select(col(qIdCol), col(qEmbCol)), books, m, dim,
        queryEmbCol = qEmbCol, queryIdCol = qIdCol)
      .groupBy(col("q_id"))
      .agg(map_from_arrays(
        collect_list(col("sub") * ksub + col("code_id")),
        collect_list(coalesce(col("ip"), lit(0.0d)))).as("__lm"))
      .select(col("q_id"),
        transform(sequence(lit(0), lit(m * ksub - 1)),
          p => coalesce(element_at(col("__lm"), p), lit(0.0d))).as("__lut"))
    // Probed (query, list) restriction BEFORE scoring (the ivfPqTopK
    // shape): a code row is scored only for queries that probed its
    // list; the score is ONE fused m-lookup call per pair
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
    val slW = Window.partitionBy(col("__q")).orderBy(col("adc").desc, col("id"))
    val cand = prunedCodes
      .join(broadcast(probedPairs), Seq("centroid_id"))
      .select(col("__q"), col("id"), adcScore.as("adc"))
      .withColumn("__sl", row_number().over(slW))
      .where(col("__sl") <= shortlist)
      .select(col("__q"), col("id"))
    val prunedStore = store
      .where(col("centroid_id").isin(probedLists.map(Long.box): _*))
    val rankW = Window.partitionBy(col(qIdCol))
      .orderBy(col("score").desc, col("id"))
    val q2 = queries.select(col(qIdCol), col(qEmbCol))
    val out = cand
      .join(prunedStore.select(col("id"), col("emb")), Seq("id"))
      .join(broadcast(q2), cand("__q") === q2(qIdCol))
      .withColumn("score", vecCosine(col("emb"), col(qEmbCol)))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
      .select(col(qIdCol), col("id").as("vec_id"), col("score"), col("rank"))
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try out.localCheckpoint()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** In-memory IVFADC relations for a BOUNDED subset — the same build
    * semantics as [[writeIvfPqIndex]] (identical centroid pick/refine,
    * assignment, codebook train, code encode expressions, so every
    * value matches the materialized tables bit for bit) with the
    * store/centroids/codebooks/codes kept as PERSISTED DATAFRAMES.
    * Round-14 motivation: q181's scale-adaptive ~1000-vector subset
    * index spent ~10 s of its 11.4 s in Derby `saveAsTable` churn for
    * five catalog tables plus their read-back — pure fixed cost on a
    * relation that fits in a handful of cache blocks. A STANDING index
    * over a full corpus keeps the catalog contract ([[ensureIvfPqIndex]]
    * — files survive the session, consumers rebind after restarts); a
    * per-run scratch index over a bounded subset has no cross-session
    * consumer, so the catalog round-trip bought nothing. OpsSpec pins
    * in-memory search == catalog-backed search row for row.
    */
  case class IvfPqRelations(
      store: DataFrame, centroids: DataFrame, books: DataFrame,
      codes: DataFrame, m: Int, ksub: Int, dim: Int)

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
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    var centroids = Similarity.pickCentroids(vecs, nlist, embCol, idCol)
    for (_ <- 0 until refineIters)
      centroids = graft.core.Caches.persistTracked(
        Similarity.refineCentroids(vecs, centroids, embCol, idCol))
    centroids = graft.core.Caches.persistTracked(
      centroids.select(col("centroid_id").cast("long").as("centroid_id"),
        col("centroid_emb")))
    val assigned = graft.core.Caches.persistTracked(
      vecs.crossJoin(broadcast(centroids))
        .withColumn("__sim", vecCosine(col(embCol), col("centroid_emb")))
        .groupBy(col(idCol).cast("long").as("id"), col(embCol).as("emb"))
        .agg(max_by(col("centroid_id"), struct(col("__sim"), -col("centroid_id")))
          .as("centroid_id")))
    val books = ProductQuantize.trainCodebooks(
      vecs, m, ksub, dim, pqIters, embCol, idCol)
    val codes = graft.core.Caches.persistTracked(
      ProductQuantize.codesArray(
          ProductQuantize.encode(assigned, books, m, dim, "emb", "id"))
        .join(assigned.select(col("id"), col("centroid_id")), "id"))
    IvfPqRelations(assigned, centroids, books, codes, m, ksub, dim)
  }

  /** [[searchIvfIndexAdc]] against [[buildIvfPqRelations]] output —
    * the same one pipeline ([[searchIvfAdcCore]]).
    */
  def searchIvfAdcRelations(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      shortlist: Int,
      rel: IvfPqRelations): DataFrame =
    searchIvfAdcCore(queries, qEmbCol, qIdCol, k, nprobe, shortlist,
      rel.store, rel.centroids, rel.books, rel.codes, rel.m, rel.ksub, rel.dim)

  /** Build-or-rebind a STANDING IVFPQ index — the amortized spelling
    * (round-13): q167/q175's arms all probe essentially the same index
    * of the same embeddings, and before this each consumer re-built it
    * per query (the flat build cost is exactly why q167's dispatch
    * keeps a plain arm at small corpora). Idempotent per session AND
    * across restarts: no-op when the catalog tables are live, rebind
    * from parquet when only the files exist, build otherwise — the
    * [[TokenStore.ensure]] discipline. The GEOMETRY is part of the
    * caller's prefix contract: a prefix must encode everything that
    * changes the index (dataset, nlist, m/ksub/dim), because ensure
    * trusts an existing materialization under its prefix.
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
    val spark = vecs.sparkSession
    // Coarse half first (bind or build) — every consumer needs it.
    val storeLive = spark.catalog.tableExists(s"${tablePrefix}_store")
    if (!storeLive && basePath != null && filesExist(spark, s"$basePath/store"))
      registerVectorIndex(spark, tablePrefix, basePath)
    else if (!storeLive && !spark.catalog.tableExists(s"${tablePrefix}_store"))
      writeIvfIndex(vecs, embCol, idCol, nlist, refineIters, tablePrefix,
        basePath)
    if (!needPq) return
    // PQ half: bind, or UPGRADE the existing store in place — a
    // plain-probe consumer below the ADC break-even builds only the
    // cheap coarse half; the first ADC consumer pays the codebook
    // train + code write exactly once, without re-clustering.
    if (spark.catalog.tableExists(s"${tablePrefix}_codes")) return
    if (basePath != null && filesExist(spark, s"$basePath/codes")) {
      registerVectorIndexPq(spark, tablePrefix, basePath)
      return
    }
    writePqHalf(vecs, embCol, idCol, nlist, m, ksub, dim, pqIters,
      tablePrefix, basePath, booksOpt)
  }

  /** [[registerVectorIndex]] plus the PQ tables (`_codebooks`,
    * `_codes`) — the restart path for a [[writeIvfPqIndex]]
    * materialization. Idempotent.
    */
  def registerVectorIndexPq(
      spark: SparkSession,
      tablePrefix: String,
      basePath: String): Unit = {
    registerVectorIndex(spark, tablePrefix, basePath)
    def ddl(name: String): String =
      spark.read.parquet(s"$basePath/$name").schema.toDDL
    val nb = spark.table(s"${tablePrefix}_meta").head().getAs[Int]("num_buckets")
    if (!spark.catalog.tableExists(s"${tablePrefix}_codebooks"))
      spark.sql(s"CREATE TABLE ${tablePrefix}_codebooks (${ddl("codebooks")}) " +
        s"USING PARQUET LOCATION '$basePath/codebooks'")
    if (!spark.catalog.tableExists(s"${tablePrefix}_codes"))
      spark.sql(s"CREATE TABLE ${tablePrefix}_codes (${ddl("codes")}) " +
        s"USING PARQUET " +
        s"CLUSTERED BY (centroid_id) SORTED BY (centroid_id) INTO $nb BUCKETS " +
        s"LOCATION '$basePath/codes'")
  }

  private def filesExist(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))
  }

  /** Rebind a [[writeIvfIndex]] materialization at `basePath` into THIS
    * session's catalog (restart path) — schema inferred from the files,
    * bucket spec restored from `_meta`. Idempotent.
    */
  def registerVectorIndex(
      spark: SparkSession,
      tablePrefix: String,
      basePath: String): Unit = {
    def ddl(name: String): String =
      spark.read.parquet(s"$basePath/$name").schema.toDDL
    if (!spark.catalog.tableExists(s"${tablePrefix}_meta"))
      spark.sql(s"CREATE TABLE ${tablePrefix}_meta (${ddl("meta")}) " +
        s"USING PARQUET LOCATION '$basePath/meta'")
    val nb = spark.table(s"${tablePrefix}_meta").head().getAs[Int]("num_buckets")
    if (!spark.catalog.tableExists(s"${tablePrefix}_centroids"))
      spark.sql(s"CREATE TABLE ${tablePrefix}_centroids (${ddl("centroids")}) " +
        s"USING PARQUET LOCATION '$basePath/centroids'")
    if (!spark.catalog.tableExists(s"${tablePrefix}_store"))
      spark.sql(s"CREATE TABLE ${tablePrefix}_store (${ddl("store")}) USING PARQUET " +
        s"CLUSTERED BY (centroid_id) SORTED BY (centroid_id) INTO $nb BUCKETS " +
        s"LOCATION '$basePath/store'")
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
    val spark = vecs.sparkSession
    val nb = spark.table(s"${tablePrefix}_meta").head().getAs[Int]("num_buckets")
    val centroids = spark.table(s"${tablePrefix}_centroids")
    vecs.crossJoin(broadcast(centroids))
      .withColumn("__sim", vecCosine(col(embCol), col("centroid_emb")))
      .groupBy(col(idCol).cast("long").as("id"), col(embCol).as("emb"))
      .agg(max_by(col("centroid_id"), struct(col("__sim"), -col("centroid_id")))
        .as("centroid_id"))
      .write.mode("append").format("parquet")
      .bucketBy(nb, "centroid_id").sortBy("centroid_id")
      .saveAsTable(s"${tablePrefix}_store")
  }

  /** Probe-pruned top-k search against the materialized store: each
    * query picks its `nprobe` nearest centroids, the UNION of probed
    * list ids becomes an `IN` literal filter on the bucketed scan
    * (bucket pruning — only those buckets' files are read), exact
    * cosine + per-query window rank on the probed rows. At
    * `nprobe = nlist` the result is EXACTLY brute-force top-k (q144's
    * full-value oracle pin); smaller `nprobe` trades recall for the
    * layout-enforced I/O cut.
    *
    * The probed-list collection is a driver round-trip over at most
    * `nlist` longs — the price of turning a dynamic probe set into a
    * prunable literal (Spark has no dynamic bucket pruning); bounded by
    * construction, never data-sized.
    */
  def searchIvfIndex(
      queries: DataFrame,
      qEmbCol: String,
      qIdCol: String,
      k: Int,
      nprobe: Int,
      tablePrefix: String = "graft_vector_index"): DataFrame = {
    val spark = queries.sparkSession
    val centroids = spark.table(s"${tablePrefix}_centroids")
    val probeW = Window.partitionBy(col(qIdCol))
      .orderBy(col("__qsim").desc, col("centroid_id"))
    val probes = graft.core.Caches.persistTracked(
      queries.crossJoin(broadcast(centroids))
        .withColumn("__qsim", vecCosine(col(qEmbCol), col("centroid_emb")))
        .withColumn("__pr", row_number().over(probeW))
        .where(col("__pr") <= nprobe)
        .select(col(qIdCol), col(qEmbCol), col("centroid_id")))
    val probedLists = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned = spark.table(s"${tablePrefix}_store")
      .where(col("centroid_id").isin(probedLists.map(Long.box): _*))
    val rankW = Window.partitionBy(col(qIdCol))
      .orderBy(col("score").desc, col("id"))
    val out = pruned.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("score", vecCosine(col("emb"), col(qEmbCol)))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
      .select(col(qIdCol), col("id").as("vec_id"), col("score"), col("rank"))
    // The bucket-pruning knob is read at PLANNING time, so the search
    // executes eagerly inside a scoped conf window (localCheckpoint —
    // results are k rows per query, never data-sized) and the session
    // conf is restored before returning; callers get a small
    // materialized relation, not a plan that silently loses pruning
    // once the knob reverts.
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try out.localCheckpoint()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
