package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a duplicate-pair relation — the step that
  * turns the pair-emitting dedup family ([[Dedup.jaccardJoinExact]],
  * [[Dedup.nearDuplicates]], [[Dedup.simhashNearDuplicates]], …) into an
  * actionable keep/drop decision: every document gets a cluster id (the
  * minimum doc id reachable through duplicate edges), and one canonical
  * document per cluster survives. Transitivity matters: near-duplicate
  * similarity is not transitive, so A~B and B~C pairs (without an A~C
  * pair) must still land A, B, C in one cluster or the pipeline keeps
  * two of the three.
  *
  * Algorithm: iterative min-label propagation, escalating to pointer
  * jumping. Each round every vertex takes the minimum label among
  * itself and its neighbors — one shuffle of the edge relation.
  * Duplicate clusters are near-cliques (banded candidates plus a verify
  * threshold produce dense neighborhoods), so 2–3 such rounds are
  * typical; a graph still unconverged after them is chain-shaped, and
  * later rounds add pointer jumping (label := label-of-label, a
  * self-join of the vertex-sized label relation) so reachable distance
  * doubles per round — a ~200-hop path still converges inside the
  * default `maxIter` of 10, and deeper chains just need a higher cap.
  * The published large-star/small-star variant (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014)
  * additionally bounds per-vertex degree growth and remains the upgrade
  * path for graphs with extreme-degree hubs. No driver-side graph state
  * anywhere — every step is a DataFrame join/aggregate, horizontally
  * scalable.
  *
  * Reference behavior: kfai's dedup keeps one row per exact-hash group
  * (the reference has no transitive near-dup grouping — this operator is
  * part of the §2.11 training-pipeline extension surface).
  */
object Components {

  /** Connected components of the undirected graph given by `pairs`.
    *
    * @param pairs one row per undirected edge; self-loops and duplicate
    *              edges are tolerated (they are no-ops)
    * @param aCol  left endpoint column name
    * @param bCol  right endpoint column name
    * @param maxIter hard cap on propagation rounds (safety net — the
    *                loop exits as soon as a round changes no label)
    * @return (id, component): one row per distinct endpoint, component =
    *         min reachable id. Vertices not present in `pairs` are the
    *         caller's to handle (they are their own singleton component;
    *         see q84 for the left-join idiom).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 10): DataFrame = {
    // Symmetric edge relation, one direction per row. Built by EXPLODING
    // each pair into its two directions rather than a self-union — a
    // union's branches are not common subexpressions to Spark, so the
    // (potentially expensive) pair-producing plan upstream — e.g. q84's
    // exact Jaccard join — would be executed twice in the one job that
    // materializes it. The explode reads it once. EAGER localCheckpoint
    // rather than persist: the loop below re-joins this relation every
    // round, and a checkpointed RDD leaf keeps every round's analyzed
    // plan CONSTANT-SIZED — with persist the rounds nest
    // InMemoryRelations, and the per-round analyze/canonicalize cost
    // grows with depth (measured on the q149 ensemble graph: rounds read
    // 0.7 → 1.0 → 2.3 → 4.3 s under persist vs a flat ~0.2 s/round
    // checkpointed — OPTIMIZATION_r13.md §1). Checkpointed round RDDs
    // are vertex/edge-sized and reclaimed by the ContextCleaner once
    // the loop's references drop; the documented localCheckpoint trade
    // (blocks do not survive executor loss — lineage is cut) is
    // acceptable for these bounded intermediate relations, and was
    // already the jump rounds' behavior.
    // Lineage cuts route through Checkpoints.cut: eager localCheckpoint
    // by default, config-keyed reliable checkpoint for deployments
    // where executor loss mid-loop must not kill the job (round 14).
    val cut = graft.core.Checkpoints.cut _
    val edges = cut(pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst"))))
        .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())

    // FUSED round 0: label(v) = min(v, min over in-neighbors) computed
    // straight off the edge relation — every vertex appears as `dst` of
    // the symmetric relation, so this is exactly the first min-label
    // round and the separate identity-label init (one more distinct +
    // shuffle) is unnecessary.
    var labels = cut(edges
      .groupBy(col("dst").as("id"))
      .agg(least(min(col("src")), col("dst")).as("component")))

    // Fixpoint detection: labels only ever DECREASE (monotone min over
    // a fixed vertex set), so the label sum strictly decreases iff any
    // vertex changed this round — one scalar aggregate per round
    // instead of a compare-join. A PLAIN-step fixpoint is full
    // convergence: min-propagation stable means label(dst) <= label(src)
    // across every directed edge, and the symmetric reverse edge forces
    // equality — labels constant per component, hence equal to the
    // component minimum (labels are member ids, and the minimum member's
    // own label can never drop below itself). So detecting on the plain
    // step BEFORE any pointer jump is sound, and the final
    // (nothing-changed) round never pays the jump machinery.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v // null = empty graph
    }
    var prevSum: java.math.BigDecimal = labelSum(labels)
    var converged = false
    var iter = 1
    // Rounds before pointer jumping engages: diameter-2 graphs (the
    // near-clique dup case) converge inside these and never pay the
    // jump; with the default cap the jump rounds then cover a ~200-hop
    // chain (reach ~ (plain+1)·2^k) — raise maxIter for deeper paths.
    val plainRounds = 3
    while (!converged && iter < maxIter) {
      // Neighbor labels: for each edge (src, dst), dst receives src's
      // current label. groupBy-min folds self + neighbors in one
      // partial-aggregating shuffle (map-side combine keeps the
      // shuffled volume at one row per (vertex, distinct label)).
      val propagated = cut(edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("component"))
        .union(labels)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component")))
      val s = labelSum(propagated)
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      labels =
        if (converged || iter < plainRounds) propagated
        else {
          // Near-dup clusters are near-cliques: almost every graph
          // converges within the plain rounds and never reaches here. A
          // graph still unconverged after them is chain-shaped, so later
          // rounds add POINTER JUMPING — compress each label through its
          // own label (every label IS a vertex id) so reach doubles per
          // round. The jump self-join references the round's relation
          // twice; the checkpoint above already cut it to an RDD leaf.
          val lookup = propagated.select(col("id").as("__lid"),
            col("component").as("__lcomp"))
          val jumped = cut(propagated
            .join(lookup, propagated("component") === col("__lid"), "left")
            .select(propagated("id"),
              least(propagated("component"),
                coalesce(col("__lcomp"), propagated("component")))
                .as("component")))
          // The jump changes labels without a detection round; re-base
          // the sum so the next plain round's compare stays continuous.
          prevSum = labelSum(jumped)
          jumped
        }
      iter += 1
    }
    labels
  }

  /** Per-document dedup decision over a full corpus: every document of
    * `docs` mapped to its duplicate cluster (singletons keep their own
    * id), with the cluster size and the keep/drop verdict
    * (`is_canonical` = lowest id in the cluster). This is the relation a
    * training pipeline writes back — filter `is_canonical` to
    * deduplicate, or keep the full mapping for provenance.
    */
  def dedupClusters(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    // Persisted: both the size aggregation and the final join consume
    // this corpus-sized (id, component) relation — one id-only scan of
    // the store instead of two.
    val assigned = graft.core.Caches.persistTracked(
      docs.select(col(idCol))
        .join(comps, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("component"), col(idCol)).as("component")))
    val sizes = assigned.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"),
        (col(idCol) === col("component")).as("is_canonical"))
  }

  /** [[dedupClusters]] with the pair family mined from the
    * MATERIALIZED IVFADC index instead of a blocked exact self-join —
    * the corpus-scale SemDeDup spelling (Abbas et al. 2023 cluster
    * over ANN neighborhoods for exactly this reason): the index is
    * built once over the input ([[VectorIndex.writeIvfPqIndex]]),
    * every vector probes it as a query
    * ([[VectorIndex.searchIvfIndexAdc]]: PQ-code scan → top-`shortlist`
    * ADC prefilter → exact rescore → top-`k`), and a pair (a, b) is
    * emitted when the EXACT rescored cosine clears `threshold` — so
    * emitted pairs are SOUND at any parameterization, and the closure
    * consumes them exactly like the blocked form's.
    *
    * Pair volume ∝ |corpus| × shortlist on the exact-cosine stage
    * (the PQ scan stays ∝ |corpus|² × nprobe/nlist but touches m
    * small ints per row) — never an unblocked |corpus|² of raw
    * vectors. Recall < 1 at production knobs (a neighbor outside the
    * probed lists/shortlist/top-k is missed; a lost EDGE only splits
    * a cluster — it never invents a false merge). EXACT MODE
    * (nprobe = nlist, shortlist ≥ |corpus|, k ≥ |corpus|) makes the
    * pair family precisely "every pair at cosine ≥ threshold", so the
    * closure equals the unblocked exact form — q181's full-value
    * oracle pin (the q90 exact-mode discipline).
    */
  def dedupClustersIndexed(
      vecs: DataFrame,
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
      tablePrefix: String,
      basePath: String): DataFrame = {
    VectorIndex.writeIvfPqIndex(vecs, embCol, idCol, nlist = nlist,
      m = m, ksub = ksub, dim = dim, refineIters = 1,
      tablePrefix = tablePrefix, basePath = basePath)
    clustersOverIndex(vecs, embCol, idCol, threshold, nprobe, k, shortlist,
      VectorIndex.relations(vecs.sparkSession, tablePrefix))
  }

  /** [[dedupClustersIndexed]] over an IN-MEMORY scratch index
    * ([[VectorIndex.buildIvfPqRelations]]) — for BOUNDED per-run
    * subsets (q181/q188's scale-adaptive ~1000-vector SemDeDup
    * relation), where the standing-store catalog round-trip is pure
    * fixed cost: same build and search expressions, value-identical
    * output (OpsSpec pins in-memory == catalog-backed row for row).
    * Corpus-scale callers with cross-query consumers keep the
    * materialized-table spelling above.
    */
  def dedupClustersIndexedInMemory(
      vecs: DataFrame,
      embCol: String,
      idCol: String,
      threshold: Double,
      nlist: Int,
      nprobe: Int,
      k: Int,
      shortlist: Int,
      m: Int,
      ksub: Int,
      dim: Int): DataFrame =
    clustersOverIndex(vecs, embCol, idCol, threshold, nprobe, k, shortlist,
      VectorIndex.buildIvfPqRelations(vecs, embCol, idCol,
        nlist = nlist, m = m, ksub = ksub, dim = dim, refineIters = 1))

  /** Every vector probes `rel` as a query; pairs at exact cosine >=
    * `threshold` close into [[dedupClusters]].
    */
  private def clustersOverIndex(vecs: DataFrame, embCol: String, idCol: String,
      threshold: Double, nprobe: Int, k: Int, shortlist: Int,
      rel: VectorIndex.IvfPqRelations): DataFrame = {
    val hits = VectorIndex.searchIvfAdcRelations(
      vecs.select(col(idCol).as("__qid"), col(embCol).as("__qemb")),
      "__qemb", "__qid", k = k, nprobe = nprobe, shortlist = shortlist, rel)
    val pairs = hits
      .where(col("vec_id") =!= col("__qid") && col("score") >= threshold)
      .select(col("__qid").as("id_a"), col("vec_id").as("id_b"))
    dedupClusters(vecs, idCol, pairs, "id_a", "id_b")
  }

  /** Leakage-safe deterministic split: assign train/val/test by
    * DUPLICATE CLUSTER, not by document, so near-duplicates can never
    * straddle a split boundary — the contamination path a per-document
    * hash split leaves open (a train doc's near-twin landing in test
    * inflates eval). `would_leak` marks the documents whose naive
    * per-id split disagrees with their cluster's split — exactly the
    * docs this operator rescues.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      salt: String,
      cuts: Seq[(String, Int)]): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .select(col(idCol), col("component"),
        Sampling.assignSplit(col("component"), salt, cuts).as("split"))
      .withColumn("would_leak",
        Sampling.assignSplit(col(idCol), salt, cuts) =!= col("split"))
  }
}
