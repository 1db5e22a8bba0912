package graft.plans

import graft.functions.JaccardSimExpr
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Catalyst optimizer rule: plans a Jaccard-similarity threshold join
  * as an EXACT prefix-filtered token equi-join (the AllPairs/PPJoin
  * family — the same public algorithm behind
  * [[graft.ops.Dedup.jaccardJoinExact]], surfaced declaratively).
  *
  * A user writing
  * {{{
  *   a.join(b, jaccard(a("sh"), b("sh")) >= lit(0.8))
  * }}}
  * gets a BroadcastNestedLoopJoin — O(|a|*|b|) set comparisons. But
  * under any global token order, two sets with J >= t must share their
  * smallest common token within each side's first
  * |x| - ceil(t*|x|) + 1 tokens, so exploding only those PREFIX tokens
  * and equi-joining on the token finds every qualifying pair. Unlike
  * [[CosineBandJoinRule]] this rewrite is EXACT, so like
  * [[HammingBandJoinRule]] it is always on (no session knob).
  *
  * Plan shape (the hand-tuned jaccardJoinExact's, lifted to arbitrary
  * relations that carry no unique row id):
  *
  *  1. TOKEN branch per side: project ONLY the sorted set's size, a
  *     128-bit content identity (two independently-seeded xxhash64 of
  *     the sorted set), and the exploded prefix token — the raw key
  *     arrays never enter the token-grain shuffle (carrying them was
  *     the dominant byte cost of the r5 rewrite: each exploded token
  *     row dragged the whole set).
  *  2. Candidate pairs = token equi-join + size filter
  *     (t * max(|A|,|B|) <= min(|A|,|B|) prunes what J <= min/max
  *     forbids), deduplicated to DISTINCT identity pairs — a shuffle of
  *     four longs per row, replacing the r5 per-pair prefix merge scan
  *     that kept prefix arrays alive through the join.
  *  3. VERIFY: join candidates back to each side by content identity
  *     and re-apply the ORIGINAL conjuncts (exact Jaccard on the real
  *     key arrays, plus the user's residual predicates) at row grain.
  *
  * Exactness does NOT rest on hash collision-freedom: the final join
  * re-checks the original `jaccard_sim(l, r) >= t` on the true arrays,
  * so a colliding candidate only costs a discarded probe. Multiplicity
  * is exact: candidates are unique per (left set, right set) content,
  * and the verify joins fan them back out to every underlying row —
  * duplicate rows (or distinct rows with identical sets) each pair up
  * exactly once, with no distinct over user rows. Nulls/empties drop
  * in the token branch (explode of a null/empty prefix emits nothing)
  * exactly as the original null/below-threshold comparison dropped
  * them; unmatched lookup rows simply never meet a candidate.
  *
  * Matches inner joins whose condition carries a conjunct
  * `jaccard_sim(l, r) >= t` (or `>`, or literal-first reversed) with
  * t in (0, 1], element arrays declared null-free (shingle/token
  * columns are), and no cross-side equi conjunct (the shared
  * convergence guard — the verify join's own identity equality blocks
  * re-matching).
  *
  * Scale note: each side's child subtree is referenced twice (token
  * branch + verify lookup) — column pruning cuts the token-branch copy
  * to just the key column, and the re-scan trade beats carrying arrays
  * through the token shuffle (measured on the hand-tuned op, which has
  * recomputed its set relation per reference since round 3).
  *
  * Token order: the sorted hash/string value itself (SortArray). The
  * frequency-ordered prefix variant (rarest tokens first — see
  * `Dedup.jaccardJoinExact`'s `freqOrdered`) deliberately does NOT
  * apply here: it would run a token-df stats job inside the optimizer
  * (re-executed on every AQE re-optimization of every matched query),
  * and the measured candidate saving on organic corpora is ~4%
  * (COVERAGE.md Session-7) — the POSITIONAL filter below delivers the
  * 2.7x join-row cut with zero stats. A workload with true
  * stop-shingle skew should call the operator form with
  * `freqOrdered = true` rather than the declarative join.
  */
object JaccardPrefixJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val Eps = 1e-9
  // Independent seeds -> 128-bit content identity. Collisions cost a
  // wasted verify probe, never a wrong row (see Scaladoc).
  private val SeedA = 42L
  private val SeedB = 0x9e3779b97f4a7c15L

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _)
        if cond.deterministic &&
          !BandJoinGuards.hasCrossSideEquiConjunct(cond, left, right) =>
      val conjuncts = splitConjunctivePredicates(cond)
      conjuncts.iterator
        .map(c => (c, extractJaccard(c, left, right)))
        .collectFirst { case (_, Some((lKey, rKey, t))) =>
          rewrite(j, conjuncts, lKey, rKey, t)
        }
        .getOrElse(j)
  }

  /** Null-free orderable element array (shingle sets qualify). */
  private def isTokenArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, false) | ArrayType(StringType, false) => true
    case _ => false
  }

  /** (leftKey, rightKey, t) from one `jaccard_sim(a, b) >= t` conjunct
    * with t in (0, 1], or None. `>` maps to the same bound (the prefix
    * theorem for >= t covers the strictly-greater subset).
    */
  private def extractJaccard(
      c: Expression,
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Double)] = {
    def thresh(e: Expression): Option[Double] = e match {
      case Literal(v: Double, DoubleType) if v > 0.0 && v <= 1.0 => Some(v)
      case _ => None
    }
    def sides(a: Expression, b: Expression): Option[(Expression, Expression)] = {
      val ok = isTokenArray(a) && isTokenArray(b) &&
        a.dataType == b.dataType && a.deterministic && b.deterministic
      if (!ok) None
      else if (a.references.subsetOf(left.outputSet) &&
        b.references.subsetOf(right.outputSet)) Some((a, b))
      else if (b.references.subsetOf(left.outputSet) &&
        a.references.subsetOf(right.outputSet)) Some((b, a))
      else None
    }
    val kv: Option[(Expression, Expression, Double)] = c match {
      case GreaterThanOrEqual(JaccardSimExpr(a, b), l) => thresh(l).map(t => (a, b, t))
      case GreaterThan(JaccardSimExpr(a, b), l) => thresh(l).map(t => (a, b, t))
      case LessThanOrEqual(l, JaccardSimExpr(a, b)) => thresh(l).map(t => (a, b, t))
      case LessThan(l, JaccardSimExpr(a, b)) => thresh(l).map(t => (a, b, t))
      case _ => None
    }
    kv.flatMap { case (a, b, t) => sides(a, b).map { case (l, r) => (l, r, t) } }
  }

  private def rewrite(
      j: Join,
      conjuncts: Seq[Expression],
      lKey: Expression,
      rKey: Expression,
      t: Double): LogicalPlan = {

    /** Token-grain branch: (sz, h1, h2, pos, tok) — five scalars, no
      * arrays survive the Generate (the prefix feeds the explode and is
      * marked unrequired). `pos` is the token's 0-based position in the
      * sorted set (slice starts at 1), feeding the positional filter.
      */
    def tokenBranch(child: LogicalPlan, key: Expression)
        : (LogicalPlan, Attribute, Attribute, Attribute, Attribute, Attribute) = {
      val setAlias = Alias(SortArray(ArrayDistinct(key), Literal(true)), "__graft_set")()
      val p1 = Project(child.output :+ setAlias, child)
      val szAlias = Alias(
        Cast(Size(setAlias.toAttribute, legacySizeOfNull = false), LongType),
        "__graft_sz")()
      val p2 = Project(Seq(setAlias.toAttribute, szAlias), p1)
      val required = Ceil(Subtract(
        Multiply(Literal(t), Cast(szAlias.toAttribute, DoubleType)), Literal(Eps)))
      val prefLen = Cast(Add(Subtract(szAlias.toAttribute, required), Literal(1L)),
        IntegerType)
      val h1Alias = Alias(XxHash64(Seq(setAlias.toAttribute), SeedA), "__graft_h1")()
      val h2Alias = Alias(XxHash64(Seq(setAlias.toAttribute), SeedB), "__graft_h2")()
      val prefAlias = Alias(Slice(setAlias.toAttribute, Literal(1), prefLen),
        "__graft_prefix")()
      val p3 = Project(Seq(szAlias.toAttribute, h1Alias, h2Alias, prefAlias), p2)
      val gen = PosExplode(prefAlias.toAttribute)
      val genAttrs = gen.elementSchema.fields.toSeq.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)())
      // unrequiredChildIndex drops the prefix array from the Generate's
      // output: downstream sees only (sz, h1, h2, pos, tok).
      val g = Generate(gen, unrequiredChildIndex = Seq(3), outer = false,
        qualifier = None, generatorOutput = genAttrs, child = p3)
      (g, szAlias.toAttribute, h1Alias.toAttribute, h2Alias.toAttribute,
        genAttrs(0), genAttrs(1))
    }

    /** Verify lookup: the original rows plus their content identity. */
    def lookupBranch(child: LogicalPlan, key: Expression)
        : (LogicalPlan, Attribute, Attribute) = {
      val setAlias = Alias(SortArray(ArrayDistinct(key), Literal(true)), "__graft_vset")()
      val p1 = Project(child.output :+ setAlias, child)
      val h1Alias = Alias(XxHash64(Seq(setAlias.toAttribute), SeedA), "__graft_vh1")()
      val h2Alias = Alias(XxHash64(Seq(setAlias.toAttribute), SeedB), "__graft_vh2")()
      (Project(child.output ++ Seq(h1Alias, h2Alias), p1),
        h1Alias.toAttribute, h2Alias.toAttribute)
    }

    val (lGen, lSz, lH1, lH2, lPos, lTok) = tokenBranch(j.left, lKey)
    val (rGen, rSz, rH1, rH2, rPos, rTok) = tokenBranch(j.right, rKey)

    def dsize(a: Attribute): Expression = Cast(a, DoubleType)
    // t * max(|A|,|B|) - eps <= min(|A|,|B|): J <= min/max, so larger
    // size mismatches cannot reach t. Eps-guarded so double rounding
    // only over-generates (the verify stays exact).
    val sizeFilter = GreaterThanOrEqual(
      Least(Seq(dsize(lSz), dsize(rSz))),
      Subtract(Multiply(Literal(t), Greatest(Seq(dsize(lSz), dsize(rSz)))),
        Literal(Eps)))
    // PPJoin positional filter: a match at 0-based positions (pa, pb)
    // bounds the intersection by min(|A|-pa, |B|-pb) (every common
    // token sorts at-or-after the first common one), while J >= t
    // forces it to at least t/(1+t)·(|A|+|B|). Rows violating the
    // bound drop before the candidate distinct; the pair survives on
    // its first-common-token row whenever it truly qualifies, so the
    // rewrite stays complete (measured 2.7x fewer join rows reaching
    // the Aggregate on the 500k-doc organic corpus).
    def posRemain(sz: Attribute, pos: Attribute): Expression =
      Subtract(Cast(sz, DoubleType), Cast(pos, DoubleType))
    val positionalFilter = GreaterThanOrEqual(
      Least(Seq(posRemain(lSz, lPos), posRemain(rSz, rPos))),
      Subtract(
        Multiply(Literal(t / (1.0 + t)),
          Add(Cast(lSz, DoubleType), Cast(rSz, DoubleType))),
        Literal(Eps)))
    val tokenJoin = Join(lGen, rGen, Inner,
      Some(And(And(EqualTo(lTok, rTok), sizeFilter), positionalFilter)), JoinHint.NONE)
    // Distinct identity pairs: a pair sharing several prefix tokens (or
    // duplicated input rows sharing one set) collapses to ONE candidate.
    val candCols = Seq(lH1, lH2, rH1, rH2)
    val cands = Aggregate(candCols, candCols,
      Project(candCols, tokenJoin))

    val (lLook, lVh1, lVh2) = lookupBranch(j.left, lKey)
    val (rLook, rVh1, rVh2) = lookupBranch(j.right, rKey)
    val withLeft = Join(cands, lLook, Inner,
      Some(And(EqualTo(lH1, lVh1), EqualTo(lH2, lVh2))), JoinHint.NONE)
    // The ORIGINAL condition re-applies in full at row grain — exact
    // Jaccard on the real arrays last. The identity equi conjuncts also
    // serve as the convergence guard against re-matching this rule.
    val verifyCond = (Seq(EqualTo(rH1, rVh1), EqualTo(rH2, rVh2)) ++ conjuncts)
      .reduce(And)
    val verified = Join(withLeft, rLook, Inner, Some(verifyCond), j.hint)
    Project(j.output, verified)
  }
}
