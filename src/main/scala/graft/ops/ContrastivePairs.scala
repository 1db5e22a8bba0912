package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CONTRASTIVE TRIPLET mining (§2.11 extensions, training-data family):
  * per anchor vector, its strongest same-block POSITIVE (cosine at or
  * above the positive threshold) and its HARDEST NEGATIVE (the
  * highest-cosine neighbor still BELOW it) — the
  * (anchor, positive, hard-negative) triplets contrastive embedding
  * training consumes (InfoNCE/triplet losses; E5 and SimCSE both
  * document that hard negatives, not random ones, carry the training
  * signal — the random-negative form is [[Sampling]]'s q105 op).
  *
  * Determinism: candidate ranking is (cosine DESC, id ASC) — the
  * q28/q29 tie discipline — so the mined triplets are reproducible and
  * the DuckDB oracle recomputes them exactly (cosines reported on the
  * 4-decimal grid, the established cross-engine float contract).
  *
  * Scale shape: candidate pairs are BLOCKED (label here, exactly
  * [[Dedup.embeddingNearDuplicates]]'s shape — pair volume is
  * Σ|block|², never |corpus|²); both extremes come from ONE
  * row_number window family over the anchor partition. At corpus
  * scale the block swaps for the LSH bucket
  * ([[Dedup.embeddingNearDuplicatesLsh]]) for positives and an ANN
  * probe ([[VectorIndex]]) for hard negatives — same downstream
  * ranking, documented trade (banding can miss a borderline hardest
  * negative; the threshold semantics are unchanged).
  */
object ContrastivePairs {

  /** One triplet per anchor that has BOTH a positive and a negative:
    * (anchor_id, positive_id, negative_id, pos_cos, neg_cos) with
    * cosines rounded to 4 decimals. Anchors missing either side drop
    * (inner join) — a training set never pads half-triplets.
    */
  def hardTriplets(
      df: DataFrame,
      embCol: String,
      idCol: String,
      blockCol: String,
      posThreshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.vecCosine
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("anchor_id"),
      col(embCol).as("__ea"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("__idb"),
      col(embCol).as("__eb"))
    // The blocked self-join + cosine is the dominant Σ|block|² stage and
    // BOTH extreme windows consume it — persist so it executes once per
    // query (released by the caller's Caches.releaseAll, the operator
    // norm). TrainSpec pins the physical plan: the cosine join lives
    // only inside the cached relation.
    val pairs = graft.core.Caches.persistTracked(
      a.join(b, Seq("blk"))
        .where(col("anchor_id") =!= col("__idb"))
        .select(col("anchor_id"), col("__idb"),
          vecCosine(col("__ea"), col("__eb")).as("__c")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__c").desc, col("__idb").asc)
    val pos = pairs.where(col("__c") >= posThreshold)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("anchor_id"), col("__idb").as("positive_id"),
        round(col("__c"), 4).as("pos_cos"))
    val neg = pairs.where(col("__c") < posThreshold)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("anchor_id"), col("__idb").as("negative_id"),
        round(col("__c"), 4).as("neg_cos"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("positive_id"), col("negative_id"),
        col("pos_cos"), col("neg_cos"))
  }

  /** CORPUS-SCALE triplet mining — the documented ANN stand-ins wired
    * end to end, no label column and no Σ|block|² stage:
    *
    *  - POSITIVES from LSH sign-pattern buckets
    *    ([[Dedup.embeddingNearDuplicatesLsh]]'s geometry), probed from
    *    the ANCHOR side only (R-S shape): each anchor explodes its
    *    bucket plus every Hamming-1 neighbor and joins the corpus's
    *    single stored bucket — candidate volume ∝ |anchors| × (planes+1)
    *    × bucket size, exactly-once per pair (one row's probe values
    *    are pairwise distinct, the q67 argument). Strongest candidate
    *    at cosine ≥ `posThreshold` wins; LSH recall < 1 by design
    *    (soundness is oracle-pinned; recall floors live in the spec).
    *  - HARD NEGATIVES from a materialized IVF probe
    *    ([[VectorIndex.searchIvfIndex]]): per anchor the top-`k`
    *    neighbors over `nprobe` of `nlist` lists; the hardest negative
    *    is the best-scoring probed neighbor BELOW the threshold —
    *    candidate volume ∝ |anchors| × corpus × nprobe/nlist.
    *    K-SATURATION: the negative search looks only at the top-`k`
    *    probed hits, so an anchor sitting in a near-dup cluster of ≥ k
    *    members (all k hits score ≥ `posThreshold`) silently yields no
    *    negative and drops from the output even when valid negatives
    *    exist past rank k — size `k` above the expected cluster width,
    *    or diff the output anchors against the positive arm to surface
    *    the loss (the recall trade is the same one every fixed-k ANN
    *    negative miner documents).
    *
    * On a fixture where banding provably loses nothing (numPlanes = 1
    * makes multi-probe cover BOTH buckets; nprobe = nlist and k ≥ n
    * make the probe exact) this equals [[hardTriplets]] with a
    * constant block — the TrainSpec pin. Ranking discipline identical:
    * (cosine DESC, id ASC), cosines on the 4-decimal grid.
    *
    * `anchors` is the (idCol, embCol) subset to mine triplets FOR —
    * training pipelines mine per batch, never all-anchors-at-once at
    * corpus scale. Builds the IVF index eagerly at `tablePrefix` /
    * `basePath` (the q144 hermetic-tables discipline).
    */
  def hardTripletsAnn(
      df: DataFrame,
      embCol: String,
      idCol: String,
      anchors: DataFrame,
      posThreshold: Double,
      numPlanes: Int,
      nlist: Int,
      nprobe: Int,
      k: Int,
      tablePrefix: String,
      basePath: String): DataFrame = {
    require(numPlanes >= 1 && nlist >= 1 && nprobe >= 1 && k >= 1,
      s"bad config: numPlanes=$numPlanes nlist=$nlist nprobe=$nprobe k=$k")
    VectorIndex.writeIvfIndex(df, embCol, idCol, nlist = nlist,
      refineIters = 1, tablePrefix = tablePrefix, basePath = basePath)
    hardTripletsAnnIndexed(df, embCol, idCol, anchors, posThreshold, numPlanes,
      nprobe, k, tablePrefix)
  }

  /** [[hardTripletsAnn]] against an EXISTING index (the standing-index
    * spelling — [[VectorIndex.ensureIvfPqIndex]] amortizes the build
    * across consumers): identical arms, no write. The index must cover
    * `df` (same vectors, same id grain) — the caller's prefix
    * contract.
    */
  def hardTripletsAnnIndexed(
      df: DataFrame,
      embCol: String,
      idCol: String,
      anchors: DataFrame,
      posThreshold: Double,
      numPlanes: Int,
      nprobe: Int,
      k: Int,
      tablePrefix: String): DataFrame = {
    require(numPlanes >= 1 && nprobe >= 1 && k >= 1,
      s"bad config: numPlanes=$numPlanes nprobe=$nprobe k=$k")
    val pos = lshPositives(df, embCol, idCol, anchors, posThreshold, numPlanes)
    val hits = VectorIndex.searchIvfIndex(
      anchors.select(col(idCol).as("__qid"), col(embCol).as("__qemb")),
      "__qemb", "__qid", k = k, nprobe = nprobe, tablePrefix = tablePrefix)
    joinNegatives(pos, hits, posThreshold)
  }

  /** [[hardTripletsAnnAdc]] against an EXISTING IVFPQ index — the
    * standing-index spelling of the ADC arm (see
    * [[hardTripletsAnnIndexed]]).
    */
  def hardTripletsAnnAdcIndexed(
      df: DataFrame,
      embCol: String,
      idCol: String,
      anchors: DataFrame,
      posThreshold: Double,
      numPlanes: Int,
      nprobe: Int,
      k: Int,
      shortlist: Int,
      tablePrefix: String): DataFrame = {
    require(numPlanes >= 1 && nprobe >= 1 && k >= 1,
      s"bad config: numPlanes=$numPlanes nprobe=$nprobe k=$k")
    val pos = lshPositives(df, embCol, idCol, anchors, posThreshold, numPlanes)
    val hits = VectorIndex.searchIvfIndexAdc(
      anchors.select(col(idCol).as("__qid"), col(embCol).as("__qemb")),
      "__qemb", "__qid", k = k, nprobe = nprobe, shortlist = shortlist,
      tablePrefix = tablePrefix)
    joinNegatives(pos, hits, posThreshold)
  }

  /** [[hardTripletsAnn]] with the IVFADC shortlist prefilter on the
    * negative arm: the probe scans PQ CODES (m small ints per row
    * instead of the raw embedding), keeps the top-`shortlist`
    * candidates per anchor by approximate score, and exact-rescores
    * only those — the exact-cosine volume shrinks from
    * |anchors| x corpus x nprobe/nlist to |anchors| x shortlist.
    * `shortlist` >= the probed candidate count makes this EXACTLY
    * [[hardTripletsAnn]] (the q175 oracle pin); production shortlists
    * trade negative-arm recall for the scan cut — the same knob as
    * [[VectorIndex.searchIvfIndexAdc]], which this wires in. The
    * positive arm is identical (shared [[lshPositives]]).
    */
  def hardTripletsAnnAdc(
      df: DataFrame,
      embCol: String,
      idCol: String,
      anchors: DataFrame,
      posThreshold: Double,
      numPlanes: Int,
      nlist: Int,
      nprobe: Int,
      k: Int,
      shortlist: Int,
      m: Int,
      ksub: Int,
      dim: Int,
      tablePrefix: String,
      basePath: String): DataFrame = {
    require(numPlanes >= 1 && nlist >= 1 && nprobe >= 1 && k >= 1,
      s"bad config: numPlanes=$numPlanes nlist=$nlist nprobe=$nprobe k=$k")
    VectorIndex.writeIvfPqIndex(df, embCol, idCol, nlist = nlist,
      m = m, ksub = ksub, dim = dim, refineIters = 1,
      tablePrefix = tablePrefix, basePath = basePath)
    hardTripletsAnnAdcIndexed(df, embCol, idCol, anchors, posThreshold,
      numPlanes, nprobe, k, shortlist, tablePrefix)
  }

  /** The shared LSH multi-probe positive arm (see [[hardTripletsAnn]]). */
  private def lshPositives(
      df: DataFrame, embCol: String, idCol: String, anchors: DataFrame,
      posThreshold: Double, numPlanes: Int): DataFrame = {
    import graft.functions.VectorFunctions.vecCosine
    val corpus = graft.core.Caches.persistTracked(
      df.select(col(idCol).cast("long").as("__idb"), col(embCol).as("__eb"),
        Similarity.lshBucket(embCol, numPlanes).as("__bkt")))
    val anch = graft.core.Caches.persistTracked(
      anchors.select(col(idCol).cast("long").as("anchor_id"),
        col(embCol).as("__ea"),
        Similarity.lshBucket(embCol, numPlanes).as("__bkt0")))
    val posW = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__c").desc, col("__idb").asc)
    anch
      .select(col("anchor_id"), col("__ea"),
        explode(Similarity.lshProbes(col("__bkt0"), numPlanes)).as("__bkt"))
      .join(corpus, Seq("__bkt"))
      .where(col("anchor_id") =!= col("__idb"))
      .select(col("anchor_id"), col("__idb"),
        vecCosine(col("__ea"), col("__eb")).as("__c"))
      .where(col("__c") >= posThreshold)
      .withColumn("__rn", row_number().over(posW))
      .where(col("__rn") === 1)
      .select(col("anchor_id"), col("__idb").as("positive_id"),
        round(col("__c"), 4).as("pos_cos"))
  }

  /** Hardest-negative selection over (qid, vec_id, score, rank) search
    * hits + the inner triplet join (see [[hardTripletsAnn]]).
    */
  private def joinNegatives(
      pos: DataFrame, hits: DataFrame, posThreshold: Double): DataFrame = {
    val negW = Window.partitionBy(col("anchor_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val neg = hits
      .select(col("__qid").cast("long").as("anchor_id"), col("vec_id"),
        col("score"))
      .where(col("vec_id") =!= col("anchor_id") &&
        col("score") < posThreshold)
      .withColumn("__rn", row_number().over(negW))
      .where(col("__rn") === 1)
      .select(col("anchor_id"), col("vec_id").as("negative_id"),
        round(col("score"), 4).as("neg_cos"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("positive_id"), col("negative_id"),
        col("pos_cos"), col("neg_cos"))
  }
}
