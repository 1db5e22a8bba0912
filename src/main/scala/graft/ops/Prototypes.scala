package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.vecCosine

/** PROTOTYPICALITY pruning (§2.11 extensions, embedding-curation
  * family) — the diversification half of D4 (Tirumala et al. 2023,
  * "D4: Improving LLM Pretraining via Document De-Duplication and
  * Diversification", which runs SemDeDup THEN SSL-prototype pruning;
  * Sorscher et al. 2022, "Beyond neural scaling laws", the SSL
  * prototypes metric): cluster the embedding store with k-means, score
  * every vector by cosine to its own centroid (HIGH = prototypical =
  * redundant mass near the cluster core), and drop the most
  * prototypical `epsNum/epsDen` fraction of every cluster — keeping
  * the hard, diverse examples large-data regimes want.
  *
  * Scale shape: centroids are k rows ([[Similarity.trainCentroids]]:
  * the deterministic hash-sample pick, refined by Lloyd rounds whose
  * shuffles carry only map-side pre-aggregated (centroid, dim) means);
  * assignment is [[Similarity.nearestCentroid]]'s broadcast
  * cross-score with a map-side-combinable max_by — the store never
  * shuffles raw vectors; the per-cluster rank window
  * shuffles one skinny row per vector keyed by centroid. The drop
  * count is the exact integer floor(size * epsNum / epsDen) per
  * cluster, so the boundary is deterministic given the scores.
  *
  * Determinism: scores snap to the 1e-6 grid BEFORE ranking (rank ties
  * break by id), so the kept/dropped boundary is stable at grid grain
  * within the engine. Centroid VALUES are float means (engine-internal,
  * like [[ProductQuantize]]'s codebooks), so the cross-engine oracle is
  * the q52/q62 ENVELOPE: in-engine booleans pinning (a) assignment is
  * the independent argmax, (b) every cluster drops exactly its floor
  * share, (c) at grid grain every dropped score >= every kept score in
  * its cluster, (d) kept + dropped partition the store.
  */
object Prototypes {

  /** Per-vector prune relation: (vec_id, centroid_id, proto_micro,
    * rank, cluster_size, drop_n, kept). `centroidsOpt` lets a caller
    * that also scores against the centroids independently (the
    * [[pruneEnvelope]] argmax re-check, the [[Similarity.ivfAssign]]
    * pattern) thread ONE centroid relation through both, so a near-tie
    * assignment can't flip between two independently built Lloyd
    * chains on a ULP difference.
    */
  def prunePrototypical(
      store: DataFrame,
      embCol: String,
      idCol: String,
      nClusters: Int,
      refineRounds: Int,
      epsNum: Long,
      epsDen: Long,
      centroidsOpt: Option[DataFrame] = None): DataFrame = {
    require(nClusters >= 1 && refineRounds >= 0 && epsNum >= 0 && epsDen >= 1)
    val cents = centroidsOpt.getOrElse(
      Similarity.trainCentroids(store, nClusters, refineRounds, embCol, idCol))
    val assigned = assignBest(store, cents, embCol, idCol)
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("proto_micro").desc, col(idCol).asc)
    val sz = Window.partitionBy(col("centroid_id"))
    assigned
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cluster_size", count(lit(1)).over(sz))
      .withColumn("drop_n", expr(
        s"(cluster_size * $epsNum) DIV $epsDen"))
      .withColumn("kept", col("rank") > col("drop_n"))
  }

  /** [[Similarity.nearestCentroid]] with the chosen centroid's grid
    * score: (idCol, centroid_id, proto_micro). The max cosine equals
    * the chosen pair's cosine under ties by definition, so the winning
    * similarity is exact for the score column.
    */
  private def assignBest(
      store: DataFrame, cents: DataFrame,
      embCol: String, idCol: String): DataFrame =
    Similarity.nearestCentroid(store, cents, embCol, col(idCol))
      .select(col(idCol), col("centroid_id"),
        rint(col("centroid_sim") * lit(1000000.0)).cast("long").as("proto_micro"))

  /** The ENVELOPE row for the oracle (one row): n_vecs plus the four
    * in-engine soundness booleans (see object doc). `TRUE` on the
    * empty store (vacuous).
    */
  def pruneEnvelope(
      store: DataFrame,
      embCol: String,
      idCol: String,
      nClusters: Int,
      refineRounds: Int,
      epsNum: Long,
      epsDen: Long): DataFrame = {
    val cents = Similarity.trainCentroids(store, nClusters, refineRounds, embCol, idCol)
    val pruned = graft.core.Caches.persistTracked(
      prunePrototypical(store, embCol, idCol, nClusters, refineRounds,
        epsNum, epsDen, centroidsOpt = Some(cents)))
    val nv = store.agg(count(lit(1)).as("n_vecs"))
    nv.crossJoin(envelopeBools(store, cents, pruned, embCol, idCol))
  }

  /** The four in-engine soundness booleans over a (store, centroids,
    * pruned) triple — ONE row. Shared by [[pruneEnvelope]] and the D4
    * composition's [[d4Envelope]] (there `store` is the SemDeDup
    * survivor set). The centroid relation must be the SAME one the
    * pruned relation scored against (see [[prunePrototypical]]'s
    * centroidsOpt) or a near-tie can flip the argmax re-check.
    */
  private[graft] def envelopeBools(
      store: DataFrame, cents: DataFrame, pruned: DataFrame,
      embCol: String, idCol: String): DataFrame = {
    // (a) independent argmax, q52's spelling: score EVERY centroid per
    // vector (no max_by); the assigned centroid must be one of them,
    // beat each other one (ties toward the lower id) and carry its own
    // score on the grid.
    val perVec = Window.partitionBy(col(idCol))
    val argmaxOk = store.select(col(idCol), col(embCol))
      .join(pruned.select(col(idCol), col("centroid_id").as("__assigned"),
        col("proto_micro")), Seq(idCol))
      .crossJoin(broadcast(cents.select(col("centroid_id"), col("centroid_emb"))))
      .withColumn("__sim", vecCosine(col(embCol), col("centroid_emb")))
      .withColumn("__asim", max(when(col("centroid_id") === col("__assigned"),
        col("__sim"))).over(perVec))
      .groupBy(col(idCol))
      .agg((count(when(col("centroid_id") === col("__assigned"), lit(1))) === 1 &&
          every(col("__sim") < col("__asim") || (col("__sim") === col("__asim") &&
            col("centroid_id") >= col("__assigned"))) &&
          max(col("proto_micro")) ===
            rint(max(col("__asim")) * lit(1000000.0)).cast("long")).as("ok"))
    // (b)+(c): per-cluster drop counts and score boundary.
    val perCluster = pruned.groupBy(col("centroid_id"))
      .agg(
        max(col("drop_n")).as("dn"),
        count(when(!col("kept"), lit(1))).as("n_drop"),
        min(when(!col("kept"), col("proto_micro"))).as("min_drop"),
        max(when(col("kept"), col("proto_micro"))).as("max_keep"))
      .select(
        (col("n_drop") === col("dn")).as("drop_ok"),
        (coalesce(col("min_drop") >= col("max_keep"), lit(true)))
          .as("order_ok"))
    // (d) kept + dropped partition the store: no store id is missing
    // from the pruned relation, no other id is in it (null-safe
    // anti-joins both ways), and the row counts match, so no id repeats.
    val sIds = store.select(col(idCol).as("__sid"))
    val pIds = pruned.select(col(idCol).as("__pid"))
    val partitionOk = sIds.join(pIds, col("__sid") <=> col("__pid"), "left_anti")
      .agg(count(lit(1)).as("__missing"))
      .crossJoin(pIds.join(sIds, col("__pid") <=> col("__sid"), "left_anti")
        .agg(count(lit(1)).as("__extra")))
      .crossJoin(sIds.agg(count(lit(1)).as("__n_store")))
      .crossJoin(pIds.agg(count(lit(1)).as("__n_pruned")))
      .select((col("__missing") === 0 && col("__extra") === 0 &&
        col("__n_store") === col("__n_pruned")).as("kept_drop_partition"))
    argmaxOk.agg(coalesce(min(col("ok")), lit(true)).as("assigned_argmax"))
      .crossJoin(perCluster.agg(
        coalesce(min(col("drop_ok")), lit(true)).as("drop_count_exact"),
        coalesce(min(col("order_ok")), lit(true))
          .as("dropped_are_most_prototypical")))
      .crossJoin(partitionOk)
  }

  /** The FULL D4 pipeline (Tirumala et al. 2023 run SemDeDup THEN
    * SSL-prototype pruning — §4.1's composition order, which matters:
    * pruning's cluster geometry is computed over the DEDUPLICATED
    * store, so duplicate mass can't drag a centroid toward itself and
    * shield its copies from the prototypicality drop): index-backed
    * SemDeDup ([[Components.dedupClustersIndexed]] — pairs from the
    * materialized IVFADC probe, exact-rescored, closure) keeps one
    * canonical per duplicate family; the survivors then k-means +
    * floor-share prune ([[prunePrototypical]]).
    *
    * Output, one row per INPUT vector: (idCol, component, family_size,
    * is_canonical, centroid_id, proto_micro, kept) — SemDeDup's family
    * columns for every vector, prototype columns only for survivors
    * (null otherwise), and `kept` = survived BOTH stages. Scale shape
    * is the two halves' unchanged: banded/bucketed pair mining, k-row
    * centroid broadcasts, one skinny rank window.
    */
  def d4Prune(
      store: DataFrame,
      embCol: String,
      idCol: String,
      threshold: Double,
      nlist: Int,
      nprobe: Int,
      k: Int,
      shortlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      nClusters: Int,
      refineRounds: Int,
      epsNum: Long,
      epsDen: Long,
      tablePrefix: String,
      basePath: String): DataFrame = {
    val stages = d4Stages(store, embCol, idCol, threshold, nlist, nprobe,
      k, shortlist, m, ksub, dim, nClusters, refineRounds, epsNum, epsDen,
      tablePrefix, basePath)
    stages.clusters
      .select(col(idCol), col("component"),
        col("cluster_size").as("family_size"), col("is_canonical"))
      .join(stages.pruned.select(col(idCol), col("centroid_id"),
        col("proto_micro"), col("kept").as("__pk")), Seq(idCol), "left")
      .withColumn("kept",
        col("is_canonical") && coalesce(col("__pk"), lit(false)))
      .drop("__pk")
  }

  /** The D4 ENVELOPE row (one row) for the oracle: `n_vecs` and
    * `n_survivors` are FULL-VALUE (the SemDeDup half runs in exact
    * mode in the pinned row, so the survivor count equals the
    * unblocked exact closure's canonical count — DuckDB recomputes
    * it); the four [[pruneEnvelope]] booleans are evaluated over the
    * SURVIVOR set; and `pruned_domain_is_survivors` pins the
    * composition ORDER — the prototype stage's domain is exactly the
    * stage-1 survivor set, both directions (a pipeline that pruned the
    * raw store, or pruned before deduplicating, reads FALSE).
    */
  def d4Envelope(
      store: DataFrame,
      embCol: String,
      idCol: String,
      threshold: Double,
      nlist: Int,
      nprobe: Int,
      k: Int,
      shortlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      nClusters: Int,
      refineRounds: Int,
      epsNum: Long,
      epsDen: Long,
      tablePrefix: String,
      basePath: String,
      clustersOpt: Option[DataFrame] = None): DataFrame = {
    val stages = d4Stages(store, embCol, idCol, threshold, nlist, nprobe,
      k, shortlist, m, ksub, dim, nClusters, refineRounds, epsNum, epsDen,
      tablePrefix, basePath, clustersOpt)
    val survIds = stages.survivors.select(col(idCol))
    val prunedIds = stages.pruned.select(col(idCol))
    val domainOk = prunedIds.exceptAll(survIds)
      .agg(count(lit(1)).as("__d1"))
      .crossJoin(survIds.exceptAll(prunedIds).agg(count(lit(1)).as("__d2")))
      .select((col("__d1") === 0 && col("__d2") === 0)
        .as("pruned_domain_is_survivors"))
    store.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(stages.survivors.agg(count(lit(1)).as("n_survivors")))
      .crossJoin(envelopeBools(stages.survivors, stages.cents,
        stages.pruned, embCol, idCol))
      .crossJoin(domainOk)
  }

  private final case class D4Stages(clusters: DataFrame,
      survivors: DataFrame, cents: DataFrame, pruned: DataFrame)

  /** `clustersOpt`: an ALREADY-COMPUTED stage-1 SemDeDup relation (the
    * [[Components.dedupClustersIndexed]] output for the same store and
    * knobs) — the session-shared amortization path: q181 and q188 mine
    * the identical cluster relation, so the suite computes it once and
    * both consume it (the familyPrior discipline). When given, the
    * index build/probe/closure are skipped here entirely; results are
    * identical by construction and each query's oracle still re-derives
    * everything store-free.
    */
  private def d4Stages(
      store: DataFrame, embCol: String, idCol: String, threshold: Double,
      nlist: Int, nprobe: Int, k: Int, shortlist: Int, m: Int, ksub: Int,
      dim: Int, nClusters: Int, refineRounds: Int, epsNum: Long,
      epsDen: Long, tablePrefix: String, basePath: String,
      clustersOpt: Option[DataFrame] = None): D4Stages = {
    // EAGER localCheckpoint at the stage boundary (the q150 plan-growth
    // lesson): the SemDeDup relation embeds the closure's ITERATED
    // lineage, and the prototype stage references its survivors ~8x
    // (two Lloyd rounds of cross-scores, the prune windows, the argmax
    // re-check, both exceptAll directions) — composing by lineage
    // replicates that plan multiplicatively until even RENDERING it
    // OOMs (found by the null sweep: nulled embeddings deepen the
    // closure's iteration count and blew an 8g driver on 500 rows).
    // Checkpointing makes each stage a leaf; both relations are one
    // row per input vector, the op's working grain anyway.
    val clusters = clustersOpt.getOrElse(
      Components.dedupClustersIndexed(store, embCol, idCol,
        threshold, nlist, nprobe, k, shortlist, m, ksub, dim, tablePrefix,
        basePath)).localCheckpoint()
    val survivors = store.select(col(idCol), col(embCol))
      .join(clusters.where(col("is_canonical")).select(col(idCol)),
        Seq(idCol))
      .localCheckpoint()
    val cents = Similarity.trainCentroids(survivors, nClusters, refineRounds, embCol, idCol)
    val pruned = graft.core.Caches.persistTracked(
      prunePrototypical(survivors, embCol, idCol, nClusters, refineRounds,
        epsNum, epsDen, centroidsOpt = Some(cents)))
    D4Stages(clusters, survivors, cents, pruned)
  }
}
