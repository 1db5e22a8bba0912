package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row}

/** Product quantization (PQ) for the embedding store — the compressed
  * vector-store layout every corpus-scale ANN system converges on
  * (Jégou/Douze/Schmid 2011, "Product Quantization for Nearest
  * Neighbor Search"; the IVFADC layout FAISS popularized): split each
  * unit-normalized vector into `m` subvectors, learn a tiny per-
  * subspace k-means codebook (`ksub` entries), and store each vector
  * as `m` small code ids. At dim=64/m=4/ksub=16 a 256-byte float32
  * embedding becomes 4 codes — a 64x scan-byte reduction, which at
  * 100 TB turns the ANN scoring pass from I/O-bound on raw floats
  * into a scan over a few codes per row.
  *
  * Search is ADC (asymmetric distance computation): per query, one
  * tiny lookup table of subvector-vs-codebook inner products; a
  * store row's approximate cosine is the sum of `m` table lookups —
  * algebraically identical to the inner product of the query with the
  * vector's reconstruction, which is what q91's envelope pins.
  *
  * Scale shape: codebooks are (m*ksub) rows, a local relation that is
  * always broadcast; training collects the bounded `trainCap` sample
  * to the driver once and runs its Lloyd rounds there over plain
  * arrays (at most `trainCap * dim` doubles, 8 MiB at the defaults,
  * at any store size — the [[LinearTrainer]] discipline for
  * config-bounded state); encoding shuffles one skinny (id, sub,
  * code) row per subvector after a map-side min_by; ADC joins codes
  * against a broadcast LUT and partial-aggregates the per-pair sum
  * map-side. Flat-PQ ADC still
  * scores every store row per query (its win is bytes, not candidate
  * count) — [[VectorIndex.searchIvfAdcRelations]] composes the IVF
  * coarse pruning on top so probes touch `nprobe/nlist` of the codes,
  * the full IVFADC shape.
  *
  * Everything is deterministic: seeds are the `ksub` vectors with the
  * smallest `xxhash64(id)` (the [[Similarity.pickCentroids]] trick),
  * Lloyd iterations are fixed-count, all arithmetic is double, and
  * every argmin tie breaks toward the lower code id.
  *
  * Reference scope: the reference's vector store keeps raw float
  * embeddings (build_vector_store.py); PQ extends its similarity
  * surface the way SQ8 ([[Quantize]]) does, with the same oracle
  * discipline (q90 exact-mode full-value row, q91 argmax + ADC
  * identity envelope).
  */
object ProductQuantize {

  /** Subvector `sub` (0-based) of a unit-normalized double vector. */
  private def subvec(vec: org.apache.spark.sql.Column, sub: Int, dsub: Int) =
    slice(vec, sub * dsub + 1, dsub)

  // Native fused loop (codegen, zero allocation) with the HOF fold's
  // exact semantics and association order — the PQ hot loop; see
  // functions/VecL2Sq.scala. q91's envelope keeps its own inline HOF
  // distances so the oracle cross-checks two independent
  // implementations.
  private def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.VecL2SqOps.vecL2SqNative(a, b)

  /** Store exploded to subvector grain: (id, sub, svec) with svec a
    * slice of the UNIT-NORMALIZED vector — PQ on the unit sphere makes
    * ADC sums directly comparable to cosine.
    */
  private def subvectors(
      store: DataFrame, m: Int, dim: Int, embCol: String, idCol: String): DataFrame = {
    val dsub = dim / m
    val unit = vecL2Normalize(col(embCol))
    store.select(col(idCol).as("id"), unit.as("__u"))
      .select(col("id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), subvec(col("__u"), s, dsub).as("svec"))): _*)).as("__e"))
      .select(col("id"), col("__e.sub").as("sub"), col("__e.svec").as("svec"))
  }

  /** Train per-subspace codebooks: returns (sub, code_id, cent:
    * array<double>) as a local relation. The training sample is the
    * usable vectors among the `trainCap` store ids with the smallest
    * `xxhash64(id)`, in that hash order; a vector is usable when it is
    * non-null, has no null element and spans `m * (dim / m)` values.
    * Seeds are the subvectors of the first `ksub` sample vectors
    * (code_id = seed rank, shared across subspaces); `iters` Lloyd
    * rounds then re-center each code on the mean of its assigned
    * subvectors. Codes that attract no subvectors drop out (standard
    * k-means), leaving fewer, denser entries. A sample smaller than
    * `ksub` yields that many codes per subspace, an empty one an empty
    * relation.
    *
    * `trainCap` bounds the TRAINING SET, not the store: k-means quality
    * needs a bounded multiple of ksub points (FAISS trains PQ on tens
    * of points per centroid; 16384 is ~1000x ksub=16), so training cost
    * stays CONSTANT as the store grows.
    *
    * Training is eager and runs on the driver, like [[LinearTrainer]]:
    * two collects (the skinny top-`trainCap` ids, then their vectors
    * through one IN-set filter on those ids) bring the sample over, and
    * normalization and the Lloyd rounds run over plain arrays. Driver
    * memory is bounded by `trainCap * dim` doubles (8 MiB at the
    * defaults), and the fixed summation order makes the codebooks
    * independent of the store's partitioning. Ids must be a key of the
    * store.
    */
  def trainCodebooks(
      store: DataFrame,
      m: Int,
      ksub: Int,
      dim: Int,
      iters: Int = 2,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      trainCap: Int = 16384): DataFrame = {
    require(trainCap >= ksub, s"trainCap $trainCap must cover ksub $ksub seeds")
    val spark = store.sparkSession
    val dsub = dim / m
    val ids = store.select(col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(trainCap)
      .collect()
    val rank = ids.iterator.map(_.get(0)).zipWithIndex.toMap
    // The semi-join against those ids, written as an IN-set filter: a
    // join with a local relation of them would add a broadcast job.
    val sample = store.where(col(idCol).isin(rank.keys.toSeq: _*))
      .select(col(idCol), col(embCol))
      .collect()
      .flatMap { r =>
        val v = if (r.isNullAt(1)) null else r.getSeq[Any](1)
        if (v == null || v.length < m * dsub || v.contains(null)) None
        else Some(rank(r.get(0)) -> unitVector(v))
      }
      .sortBy(_._1).map(_._2)
    val nCodes = math.min(ksub, sample.length)
    val rows = (0 until m).flatMap { s =>
      val off = s * dsub
      val cents = Array.tabulate(nCodes)(c => sample(c).slice(off, off + dsub))
      val live = Array.fill(nCodes)(true)
      for (_ <- 0 until iters) {
        val sums = Array.ofDim[Double](nCodes, dsub)
        val counts = new Array[Int](nCodes)
        for (v <- sample) {
          val c = nearest(v, off, cents, live)
          counts(c) += 1
          var j = 0
          while (j < dsub) { sums(c)(j) += v(off + j); j += 1 }
        }
        for (c <- 0 until nCodes) {
          if (counts(c) == 0) live(c) = false
          else cents(c) = sums(c).map(_ / counts(c))
        }
      }
      (0 until nCodes).filter(live(_)).map(c => Row(s, c, cents(c).toSeq))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), CodebookSchema)
  }

  private val CodebookSchema = StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code_id", IntegerType, nullable = false),
    StructField("cent", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** [[vecL2Normalize]] on the driver, bit for bit: the squared norm
    * folds left to right in double, and a zero vector stays as it is.
    */
  private def unitVector(v: Seq[Any]): Array[Double] = {
    val x = v.iterator.map(_.asInstanceOf[Number].doubleValue).toArray
    var ss = 0.0
    x.foreach(e => ss += e * e)
    val n = math.sqrt(ss)
    if (n == 0.0) x else x.map(_ / n)
  }

  /** Live code nearest to the subvector at `v(off until off + dsub)`:
    * the squared L2 fold in ascending index order (VecL2Sq's
    * association), ties toward the lower code id, NaN never winning
    * over a number (the order of [[encode]]'s min_by).
    */
  private def nearest(
      v: Array[Double], off: Int, cents: Array[Array[Double]], live: Array[Boolean]): Int = {
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < cents.length) {
      if (live(c)) {
        val cent = cents(c)
        var d2 = 0.0
        var j = 0
        while (j < cent.length) { val d = v(off + j) - cent(j); d2 += d * d; j += 1 }
        if (best < 0 || java.lang.Double.compare(d2, bestD) < 0) { best = c; bestD = d2 }
      }
      c += 1
    }
    best
  }

  /** Encode the store against trained codebooks: one skinny (id, sub,
    * code) row per subvector — the relation ADC joins on directly (the
    * array-of-codes storage form is `codesArray`). The min_by argmin
    * pre-aggregates map-side; ties break toward the lower code id.
    */
  def encode(
      store: DataFrame,
      codebooks: DataFrame,
      m: Int,
      dim: Int,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    subvectors(store, m, dim, embCol, idCol)
      .join(broadcast(codebooks), "sub")
      .withColumn("__d2", l2sq(col("svec"), col("cent")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("code_id"), struct(col("__d2"), col("code_id"))).as("code"))

  /** Storage form: (id, codes array<int>) ordered by subspace. */
  def codesArray(codes: DataFrame): DataFrame =
    codes.groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Reconstruction: concatenate each assigned code's centroid in
    * subspace order — x̂ lives on (near) the unit sphere, so
    * IP(q̂, x̂) approximates cosine(q, x).
    */
  def reconstruct(codes: DataFrame, codebooks: DataFrame): DataFrame =
    codes.join(broadcast(codebooks),
        codes("sub") === codebooks("sub") && codes("code") === codebooks("code_id"))
      .groupBy(col("id"))
      .agg(flatten(transform(array_sort(collect_list(struct(codes("sub"), col("cent")))),
        s => s.getField("cent"))).as("recon"))

  /** Per-query ADC lookup table: (q_id, sub, code_id, ip) where ip is
    * the inner product of the query's unit-normalized subvector with
    * that code's centroid. Tiny (nq * m * ksub rows) — always the
    * broadcast side of the scoring join.
    */
  def adcLut(
      queries: DataFrame,
      codebooks: DataFrame,
      m: Int,
      dim: Int,
      queryEmbCol: String = "q_embedding",
      queryIdCol: String = "q_id"): DataFrame = {
    val dsub = dim / m
    val unit = vecL2Normalize(col(queryEmbCol))
    queries.select(col(queryIdCol).as("q_id"), unit.as("__qu"))
      .crossJoin(broadcast(codebooks))
      .withColumn("ip", aggregate(
        zip_with(slice(col("__qu"), col("sub") * dsub + 1, lit(dsub)),
          col("cent"), (x, y) => x * y), lit(0.0d), (acc, x) => acc + x))
      .select(col("q_id"), col("sub"), col("code_id"), col("ip"))
  }

  /** ADC scores for every (query, store) pair reachable from `codes`:
    * sum of m LUT lookups, grouped map-side (the m per-pair rows
    * combine before the shuffle; one skinny row per pair crosses).
    */
  def adcScores(codes: DataFrame, lut: DataFrame): DataFrame =
    codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("code_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("ip")).as("adc"))

  /** Flat-PQ top-k: ADC-score the whole code store per query, keep the
    * top `shortlist` candidates, then re-rank EXACTLY on the raw
    * embeddings (the standard refine step — the emitted scores are
    * true cosines, approximation affects only which candidates are
    * considered). `shortlist >= |store|` degenerates to exact brute
    * force, which is q90's hard-oracle mode.
    */
  def pqTopK(
      store: DataFrame,
      queries: DataFrame,
      m: Int,
      ksub: Int,
      dim: Int,
      k: Int,
      shortlist: Int,
      iters: Int = 2,
      storeEmbCol: String = "embedding",
      queryEmbCol: String = "q_embedding",
      storeIdCol: String = "vec_id",
      queryIdCol: String = "q_id",
      codebooksOpt: Option[DataFrame] = None): DataFrame = {
    // codebooksOpt: an already-trained codebook relation for the same
    // (store, m, ksub, dim, iters) — the session-shared amortization
    // path (several suite consumers train the identical books).
    val books = codebooksOpt.getOrElse(
      trainCodebooks(store, m, ksub, dim, iters, storeEmbCol, storeIdCol))
    val codes = encode(store, books, m, dim, storeEmbCol, storeIdCol)
    val lut = adcLut(queries, books, m, dim, queryEmbCol, queryIdCol)
    rerank(adcScores(codes, lut), store, queries, k, shortlist,
      storeEmbCol, queryEmbCol, storeIdCol, queryIdCol)
  }

  /** Exact re-rank of an ADC shortlist: prune to `shortlist` per
    * query on the approximate score, join the raw vectors back, emit
    * true-cosine top-k (both cuts [[Similarity.topKPerQuery]], ties
    * toward the lower id).
    */
  private def rerank(
      adc: DataFrame,
      store: DataFrame,
      queries: DataFrame,
      k: Int,
      shortlist: Int,
      storeEmbCol: String,
      queryEmbCol: String,
      storeIdCol: String,
      queryIdCol: String): DataFrame = {
    val cand = Similarity.topKPerQuery(adc.withColumnRenamed("adc", "score"),
        "q_id", "id", shortlist)
      .select(col("q_id"), col("id"))
    val q2 = queries.select(col(queryIdCol).as("__rq_id"), col(queryEmbCol).as("__rq_emb"))
    Similarity.topKPerQuery(cand
        .join(store.select(col(storeIdCol), col(storeEmbCol)),
          cand("id") === col(storeIdCol))
        .join(broadcast(q2), col("q_id") === col("__rq_id"))
        .withColumn("score", vecCosine(col(storeEmbCol), col("__rq_emb"))),
      "q_id", storeIdCol, k)
      .withColumnRenamed("q_id", queryIdCol)
  }
}
