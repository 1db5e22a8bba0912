package graft.tools

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Suite-wide physical-plan lint: builds EVERY SparkEntry query
  * against a small dataset dir and flags join shapes that do not
  * survive a 100x scale-up — cartesian products and nested-loop
  * joins whose broadcast side is NOT provably corpus-independent.
  * PlansSpec pins ~30 queries' plans by hand; this sweep is the
  * automated guard for the rest, so a refactor that silently turns
  * an equi-join into an O(n*m) nested loop (a dropped join key, a
  * condition Catalyst can no longer extract) fails loudly instead of
  * shipping as a quadratic row at the next scale bench.
  *
  * A nested loop is BENIGN when its broadcast side is bounded by
  * construction — the standard Spark idiom for attaching a scalar to
  * every row (corpus totals, avgdl, thresholds) or crossing a tiny
  * LUT (the m x ksub PQ codebook). The walk descends the build
  * subtree through row-preserving nodes and accepts a terminal that
  * bounds cardinality independent of input size:
  *   - a GLOBAL aggregate (no grouping keys: exactly 1 row),
  *   - GlobalLimit / TakeOrderedAndProject (<= k rows),
  *   - LocalTableScan (a literal relation),
  * composing through caches (InMemoryRelation descent), unions, and
  * joins of bounded sides. Anything else (a scan, a grouped
  * aggregate) means the build side grows with the corpus -> FLAG.
  * Where a relation IS bounded by construction but the bound lives in
  * a grouping domain the plan can't show, prefer making it structural
  * (ProductQuantize trains its codebook on the driver and returns a
  * local relation, a LocalTableScan) over allowlisting here.
  *
  * Named allowlist for shapes whose bound is real but data-dependent
  * (a bounded query/eval set crossed with the corpus; each has an
  * indexed scale path or a schema-bounded domain — reasons inline).
  *
  * Run it over the suite with `Sweep lint [srcDir]`.
  */
object PlanLint {
  private val allowNestedLoop: Map[String, String] = Map(
    "q28_cosine_topk" -> "1-row query vector via key-equality filter",
    "q72_hybrid_rrf" -> "1-row query vector via key-equality filter",
    "q119_semantic_decontamination" ->
      "fixture eval set = constant key range; deployed shape is a small eval table",
    "q125_source_overlap_sketch" ->
      "one sketch row per SOURCE (schema-bounded domain, not corpus rows)",
    "q29_cosine_topk_per_query" -> "brute baseline; scale path q60/q144",
    "q64_ivf_exact" -> "IVF == brute-force exactness pin",
    "q118_retrieval_metrics" -> "metrics over the q29 brute shape",
    "q62_simhash_pairs" -> "bounded brute verification arm (q62 discipline)",
    "q65_hamming_join_rule" -> "bounded brute verification arm",
    "q124_edit_distance_join" -> "bounded verify arm over blocked candidates",
    "q140_image_dhash_dedup" -> "bounded brute verification arm",
    "q143_video_frame_dedup" -> "bounded brute verification arm",
    "q146_audio_fingerprint_dedup" -> "bounded brute verification arm")

  /** True iff the subtree's root cardinality is bounded independent of
    * input size: descend through nodes that cannot increase row count
    * until a bounding terminal (or bail on anything cardinality-
    * increasing / input-proportional).
    */
  private def bounded(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
        _: TakeOrderedAndProjectExec | _: LocalTableScanExec => true
    case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
    case r: ReusedExchangeExec => bounded(r.child)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      bounded(m.relation.cachedPlan)
    case u: UnionExec => u.children.forall(bounded)
    // A join of two bounded relations is bounded (<= product of
    // bounds) — covers scalar-x-scalar crosses like "total rows x
    // total mass" normalizers.
    case j: BroadcastNestedLoopJoinExec => bounded(j.left) && bounded(j.right)
    case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
      bounded(j.left) && bounded(j.right)
    case j: CartesianProductExec => bounded(j.left) && bounded(j.right)
    case _: ProjectExec | _: FilterExec | _: SortExec | _: CoalesceExec |
        _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
        _: BroadcastExchangeExec | _: ShuffleExchangeExec |
        _: AQEShuffleReadExec =>
      bounded(p.children.head)
    case _ => false
  }

  private def offenders(plan: SparkPlan, verbose: Boolean): Seq[String] = {
    val roots = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => Seq(other)
    }
    roots.flatMap(_.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        if (bounded(build)) None
        else {
          if (verbose) println("  build side:\n    " +
            build.toString.linesIterator.take(10).mkString("\n    "))
          Some("BroadcastNestedLoopJoin")
        }
      // Same policy as the nested loop: a cartesian with a provably
      // bounded side is a scalar attach, not a blow-up.
      case j: CartesianProductExec =>
        if (bounded(j.left) || bounded(j.right)) None
        else Some("CartesianProduct")
    }.flatten)
  }

  /** One row's lint verdict: Right when its plan has no offender or
    * only allowlisted nested loops, Left (a FLAG line) otherwise.
    */
  def verdict(name: String, plan: SparkPlan, verbose: Boolean): Either[String, String] = {
    val found = offenders(plan, verbose)
    if (found.isEmpty) Right(s"OK   $name")
    // An UNBOUNDED cartesian is never allowlistable — only the
    // nested-loop findings yield to the named list.
    else if (allowNestedLoop.contains(name) &&
        !found.contains("CartesianProduct"))
      Right(s"OK   $name (allowlisted: ${allowNestedLoop(name)})")
    else Left(s"FLAG $name: ${found.distinct.mkString("+")}")
  }
}
