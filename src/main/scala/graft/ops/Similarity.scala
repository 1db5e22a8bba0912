package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column. Baseline is exact brute force ([[graft.query.Retriever]]);
  * the scale paths here bound the comparison set:
  *
  *  - Random-hyperplane LSH: sign-pattern bucket key; only same-bucket
  *    pairs are scored. Shuffle is on the bucket key (uniform by
  *    construction), never all-pairs.
  *  - IVF: k coarse centroids (deterministically seeded sample), each
  *    vector assigned to its nearest centroid; queries probe `nprobe`
  *    nearest lists. At 100 TB the store is bucketed/partitioned by
  *    centroid id so a probe touches only those partitions.
  *
  * This object is the one ANN kernel: [[nearestCentroid]],
  * [[trainCentroids]], [[probeLists]], [[lshProbes]] and
  * [[topKPerQuery]] carry the tie policy every IVF/PQ/LSH operator
  * shares — a vector's centroid is the highest cosine, ties to the
  * lower centroid id; a query probes its `nprobe` nearest lists, ties
  * to the lower list id; top-k ties go to the lower vector id.
  * [[VectorIndex]], [[ProductQuantize]], [[Prototypes]] and the LSH arms
  * of [[Dedup]] and [[ContrastivePairs]] call it instead of spelling it.
  */
object Similarity {
  import graft.core.Caches

  /** Deterministic pseudo-random unit-ish hyperplane components derived
    * from (plane, dim) via a hash — no RNG, stable across runs/executors.
    */
  private def planeComponent(plane: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((plane, d))
    (h.toDouble / Int.MaxValue.toDouble)
  }

  /** Sign-pattern LSH bucket id from `numPlanes` fixed hyperplanes —
    * native codegen'd expression ([[graft.functions.LshBucketExpr]];
    * the HOF fold it replaces was interpreted per row and re-evaluated
    * per plan reference). The plane components are derived from the
    * array's own length.
    */
  def lshBucket(embCol: String, numPlanes: Int = 12) =
    graft.functions.LshBucketOps.lshBucketNative(col(embCol), numPlanes)

  /** The original HOF composition, kept as the bit-parity witness for
    * [[lshBucket]] (FunctionsSpec pins native == HOF on every edge).
    */
  private[graft] def lshBucketHof(embCol: String, dim: Int, numPlanes: Int) = {
    val bits = (0 until numPlanes).map { p =>
      val plane = array((0 until dim).map(d => lit(planeComponent(p, d))): _*)
      val dot = aggregate(
        zip_with(transform(col(embCol), x => x.cast("double")), plane, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The LSH multi-probe set: `bucket` plus every bucket at Hamming
    * distance 1 in sign-pattern space (one of `numPlanes` bits
    * flipped), as an array of 1 + numPlanes pairwise-distinct keys.
    */
  def lshProbes(bucket: Column, numPlanes: Int): Column =
    array(bucket +: (0 until numPlanes).map(p => bucket.bitwiseXOR(lit(1L << p))): _*)

  /** Per-query top-`k` of scored rows (a `score` column per (query,
    * vector) pair): highest score first, ties to the lower `idCol`, as
    * (qIdCol, idCol, score, rank). Plans as a WindowGroupLimit, so the
    * shuffle carries at most k rows per query and task.
    */
  def topKPerQuery(scored: DataFrame, qIdCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("score"), col("rank"))
  }

  /** ANN top-k per query via LSH buckets with MULTI-PROBE: each query
    * probes its own bucket plus every bucket at Hamming distance <=
    * `probeBits` (flip one sign bit), then scores only bucket-mates and
    * window-ranks per query. Multi-probe multiplies the probed buckets
    * (1 + numPlanes for probeBits=1) on the QUERY side only — the store
    * is never replicated — which is the standard recall lever that
    * avoids lowering numPlanes (which would grow every bucket).
    * Measured operating points (OpsSpec, deterministic fixtures):
    * on the near-uniform random test embeddings (LSH's worst case) at
    * numPlanes=8, recall@10 is 0.12 single-probe -> 0.19 multi-probe;
    * on a clustered fixture (8 clusters, the data shape ANN serves) at
    * numPlanes=6 multi-probe, recall@10 = 0.95. Plane count must track
    * log2(expected cluster count) — over-partitioning beyond the
    * natural cluster granularity is what kills recall, not store size.
    */
  def lshTopK(
      store: DataFrame,
      queries: DataFrame,
      k: Int,
      numPlanes: Int = 12,
      probeBits: Int = 1,
      storeEmbCol: String = "embedding",
      queryEmbCol: String = "q_embedding",
      storeIdCol: String = "vec_id",
      queryIdCol: String = "q_id"): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1, "probeBits 0 or 1 supported")
    val s = store.withColumn("__bucket", lshBucket(storeEmbCol, numPlanes))
    val base = lshBucket(queryEmbCol, numPlanes)
    val probes = if (probeBits == 0) array(base) else lshProbes(base, numPlanes)
    val q = queries.withColumn("__bucket", explode(probes))
    topKPerQuery(s.join(q, "__bucket")
        .withColumn("score", vecCosine(col(storeEmbCol), col(queryEmbCol))),
      queryIdCol, storeIdCol, k)
  }

  /** Deterministic coarse-centroid pick: the `nlist` vectors whose id
    * hash is smallest (a seeded sample without RNG). Persisted (tracked
    * via [[graft.core.Caches]] for release) — the relation is tiny and
    * every consumer broadcasts it, so recomputing the full-store sort
    * per reference would dominate.
    */
  def pickCentroids(
      store: DataFrame, nlist: Int, embCol: String, idCol: String): DataFrame =
    Caches.persistTracked(store
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy(col("__h"))
      .limit(nlist)
      .select(col(idCol).as("centroid_id"), col(embCol).as("centroid_emb")))

  /** The IVF coarse quantizer's assignment: each vector's nearest
    * centroid by cosine, ties to the lower centroid id, grouped by
    * `keys` — (keys..., centroid_id, centroid_sim), the winning
    * similarity as a second aggregate (a caller that does not read it
    * drops it, and Catalyst prunes it).
    *
    * The centroid set is tiny and broadcast; groupBy + max_by is
    * map-side combinable (partial aggregation), so the N*nlist scored
    * rows never shuffle — only one pre-aggregated row per key does.
    * (A window over the cross product would shuffle all N*nlist rows
    * keyed by vector id and sort them; at 100 TB that IS the job.)
    */
  def nearestCentroid(
      vecs: DataFrame, centroids: DataFrame, embCol: String, keys: Column*): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .withColumn("__sim", vecCosine(col(embCol), col("centroid_emb")))
      .groupBy(keys: _*)
      .agg(max_by(col("centroid_id"), struct(col("__sim"), -col("centroid_id")))
          .as("centroid_id"),
        max(col("__sim")).as("centroid_sim"))

  /** One Lloyd (k-means) refinement iteration over the coarse
    * centroids: assign every store vector to its nearest centroid, then
    * replace each centroid with the element-wise mean of its assigned
    * vectors. Better-centered lists raise recall at the same `nprobe`
    * (the sampled pick can land two seeds in one natural cluster and
    * none in another; the mean re-centers both).
    *
    * Scale shape: assignment is [[nearestCentroid]]'s broadcast
    * cross-score; the mean is posexplode to (centroid, dim) grain +
    * avg — partial-aggregated map-side, so the shuffle carries at most
    * nlist*dim pre-combined rows per task, never raw vectors. Centroids
    * that attract no vectors drop out (standard k-means), leaving
    * fewer, denser lists.
    */
  def refineCentroids(
      store: DataFrame,
      centroids: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    nearestCentroid(store, centroids, embCol, col(idCol), col(embCol))
      .select(col("centroid_id"), posexplode(col(embCol)).as(Seq("__pos", "__v")))
      .groupBy(col("centroid_id"), col("__pos"))
      .agg(avg(col("__v")).as("__m"))
      .groupBy(col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m")).as("centroid_emb"))

  /** Trained coarse centroids: [[pickCentroids]] plus `refineIters`
    * [[refineCentroids]] rounds, each persisted (tracked) so round N
    * does not recompute round N-1's assignment and every consumer
    * reads the last round from cache. `limit(nlist)` is a no-op on
    * values (a round keeps at most the nlist ids it was given) but
    * makes the bound STRUCTURAL: the broadcast side of every
    * assignment cross-join ends in a GlobalLimit the plan linter can
    * prove bounded.
    */
  def trainCentroids(
      vecs: DataFrame, nlist: Int, refineIters: Int, embCol: String,
      idCol: String): DataFrame =
    (0 until refineIters).foldLeft(pickCentroids(vecs, nlist, embCol, idCol)) { (c, _) =>
      Caches.persistTracked(refineCentroids(vecs, c, embCol, idCol).limit(nlist))
    }

  /** Each query's `nprobe` nearest lists (highest cosine to the list
    * centroid, ties to the lower list id) as (qIdCol, qEmbCol,
    * centroid_id). Lazy; the centroid side is broadcast.
    */
  def probeLists(queries: DataFrame, qEmbCol: String, qIdCol: String,
      nprobe: Int, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("__qsim").desc, col("centroid_id"))
    queries.crossJoin(broadcast(centroids))
      .withColumn("__qsim", vecCosine(col(qEmbCol), col("centroid_emb")))
      .withColumn("__pr", row_number().over(w))
      .where(col("__pr") <= nprobe)
      .select(col(qIdCol), col(qEmbCol), col("centroid_id"))
  }

  /** IVF assignment of `store` to `nlist` coarse lists: (idCol,
    * centroid_id) by [[nearestCentroid]]. Callers that already hold the
    * centroid relation pass it in — re-picking would duplicate the
    * full-store sort + cache AND make agreement between the two picks
    * load-bearing (q52's envelope).
    */
  def ivfAssign(
      store: DataFrame,
      nlist: Int,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOpt.getOrElse(pickCentroids(store, nlist, embCol, idCol))
    nearestCentroid(store, centroids, embCol, col(idCol)).drop("centroid_sim")
  }

  /** End-to-end IVF search: assign the store to `nlist` coarse lists
    * once, assign each query to its `nprobe` nearest lists, then score
    * only store vectors in probed lists and window-rank per query.
    *
    * At 100 TB the store side is written bucketed/partitioned by
    * `centroid_id`, so a probe reads `nprobe/nlist` of the data; here
    * the list join expresses the same pruning. Recall < 1 by design
    * (raise `nprobe` toward `nlist` for the exact result). Measured on
    * the clustered OpsSpec fixture (8 clusters, nlist=8): recall@10 =
    * 1.0 at nprobe=2; at nprobe=1, 0.91 with sampled centroids -> 0.96
    * after one Lloyd refinement iteration (`refineIters = 1`).
    */
  def ivfTopK(
      store: DataFrame,
      queries: DataFrame,
      nlist: Int,
      nprobe: Int,
      k: Int,
      storeEmbCol: String = "embedding",
      queryEmbCol: String = "q_embedding",
      storeIdCol: String = "vec_id",
      queryIdCol: String = "q_id",
      refineIters: Int = 0): DataFrame = {
    val centroids = trainCentroids(store, nlist, refineIters, storeEmbCol, storeIdCol)
    // The assignment carries the embedding through the groupBy so
    // probed lists can score without a re-join.
    val assigned = nearestCentroid(store, centroids, storeEmbCol,
      col(storeIdCol), col(storeEmbCol))
    topKPerQuery(probeLists(queries, queryEmbCol, queryIdCol, nprobe, centroids)
        .join(assigned, Seq("centroid_id"))
        .withColumn("score", vecCosine(col(storeEmbCol), col(queryEmbCol))),
      queryIdCol, storeIdCol, k)
  }
}
