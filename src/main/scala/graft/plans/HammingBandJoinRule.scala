package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule (the SURVEY §4.5 custom-plan-tier stretch):
  * plans a Hamming-distance similarity join as a banded equi-join.
  *
  * A user writing the natural declarative form
  * {{{
  *   a.join(b, bit_count(a("sh") ^ b("sh")) <= lit(3))
  * }}}
  * gets a BroadcastNestedLoopJoin — an O(|a|*|b|) comparison that is
  * THE scale killer for near-dup joins. But for 64-bit keys and
  * distance <= k, splitting the word into k+1 disjoint bands guarantees
  * (pigeonhole) that every qualifying pair agrees exactly on at least
  * one band, so the same semantics can be planned as: posexplode the
  * bands on each side, equi-join on (band index, band value) — a
  * uniform hash shuffle — and re-check the exact predicate on the
  * candidates. For the near-dup range (k <= 3) the rewrite uses
  * TWO-LEVEL banding — each band's remaining bits are split into k+1
  * sub-bands, and a second pigeonhole (an intact band leaves all <= k
  * flipped bits in its remainder) extends the guarantee to the combined
  * (band, sub-band) key — growing the key space from 2^16 to 2^28 at
  * k=3 so bucket density stays bounded at corpus scale (one-level
  * buckets average >= 150 rows at 10M docs and grow quadratically).
  * This is the rewrite `Dedup.simhashNearDuplicates` does by hand,
  * surfaced as an optimizer rule so ANY matching join in any query gets
  * the scalable plan for free.
  *
  * The rewrite is EXACT, not approximate:
  *  - recall: pigeonhole covers every pair at distance <= k;
  *  - no duplicates: a pair agreeing on several bands is emitted only
  *    for its FIRST agreeing band (the filter keeps row (i) only when
  *    bands 0..i-1 all differ), so row multiplicities are preserved
  *    without a `distinct` that would merge legitimately duplicate
  *    input rows;
  *  - null keys drop on the band equi-join exactly as the original
  *    null comparison dropped them.
  *
  * Matches inner joins whose condition contains a conjunct of shape
  * `bit_count(lKey ^ rKey) <= k` (or `<`, or the reversed `>=`/`>`
  * literal-first forms) with LongType keys, one side each, k <= 15
  * (beyond that the bands get too short to prune anything). All other
  * conjuncts are preserved in the post-join filter.
  *
  * Installed by `GraftExtensions` when `graft.core.Sessions` builds a
  * session. It runs in the fixed-point operator-optimization batch, so
  * it must be a fixed point of its own output (see the equi-conjunct
  * guard); a crossJoin+where reaches it as a conditioned Join once
  * predicate pushdown has folded the filter in.
  */
object HammingBandJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxK = 15

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _)
        if cond.deterministic && !BandJoinGuards.hasCrossSideEquiConjunct(cond, left, right) =>
      splitConjunctivePredicates(cond).iterator
        .map(c => extractHamming(c, left, right))
        .collectFirst { case Some((lKey, rKey, k)) if k >= 0 && k <= MaxK =>
          rewrite(j, lKey, rKey, k)
        }
        .getOrElse(j)
  }

  /** (leftKey, rightKey, k) from one conjunct, or None. */
  private def extractHamming(
      c: Expression,
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Int)] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case Literal(v: Long, _) if v.isValidInt => Some(v.toInt)
      case _ => None
    }
    def sides(a: Expression, b: Expression): Option[(Expression, Expression)] = {
      val ok = a.dataType == LongType && b.dataType == LongType &&
        a.deterministic && b.deterministic
      if (!ok) None
      else if (a.references.subsetOf(left.outputSet) &&
        b.references.subsetOf(right.outputSet)) Some((a, b))
      else if (b.references.subsetOf(left.outputSet) &&
        a.references.subsetOf(right.outputSet)) Some((b, a))
      else None
    }
    val kv: Option[(Expression, Expression, Int)] = c match {
      case LessThanOrEqual(BitwiseCount(BitwiseXor(a, b)), l) =>
        lit(l).map(k => (a, b, k))
      case LessThan(BitwiseCount(BitwiseXor(a, b)), l) =>
        lit(l).map(k => (a, b, k - 1))
      case GreaterThanOrEqual(l, BitwiseCount(BitwiseXor(a, b))) =>
        lit(l).map(k => (a, b, k))
      case GreaterThan(l, BitwiseCount(BitwiseXor(a, b))) =>
        lit(l).map(k => (a, b, k - 1))
      case _ => None
    }
    kv.flatMap { case (a, b, k) => sides(a, b).map { case (l, r) => (l, r, k) } }
  }

  /** (offset, width) layout of `total` bits split into `n` parts. */
  private def splitLayout(total: Int, n: Int): Seq[(Int, Int)] = {
    val base = total / n
    val rem = total % n
    val widths = Seq.fill(rem)(base + 1) ++ Seq.fill(n - rem)(base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  private def bandExpr(key: Expression, off: Int, width: Int): Expression =
    if (width >= 64) key
    else BitwiseAnd(ShiftRightUnsigned(key, Literal(off)), Literal((1L << width) - 1))

  /** The 64-width bits REMAINING after band (off, width) is removed,
    * packed into the low 64-width bits: bits below the band stay in
    * place, bits above shift down by the band width.
    */
  private def remainderExpr(key: Expression, off: Int, width: Int): Expression =
    if (off == 0) ShiftRightUnsigned(key, Literal(width))
    else if (off + width >= 64) BitwiseAnd(key, Literal((1L << off) - 1))
    else BitwiseOr(
      BitwiseAnd(key, Literal((1L << off) - 1)),
      ShiftLeft(ShiftRightUnsigned(key, Literal(off + width)), Literal(off)))

  /** Two-level join-key layout for distance k: for each of the k+1
    * first-level bands, the remaining 64-w bits are split into k+1
    * sub-bands. Entry m = (bandOff, bandW, subOff, subW) with
    * m = bandIdx*(k+1) + subIdx.
    */
  private def twoLevelLayout(k: Int): Seq[(Int, Int, Int, Int)] =
    for {
      (bo, bw) <- splitLayout(64, k + 1)
      (so, sw) <- splitLayout(64 - bw, k + 1)
    } yield (bo, bw, so, sw)

  /** Combined equi-key for two-level entry m: (band_val << subW) | sub_val
    * — injective for a fixed m (widths are fixed per m, and m is part of
    * the join key via the posexplode index).
    */
  private def twoLevelKeyExpr(
      key: Expression, bo: Int, bw: Int, so: Int, sw: Int): Expression = {
    val subVal = BitwiseAnd(
      ShiftRightUnsigned(remainderExpr(key, bo, bw), Literal(so)),
      Literal((1L << sw) - 1))
    BitwiseOr(ShiftLeft(bandExpr(key, bo, bw), Literal(sw)), subVal)
  }

  private def rewrite(
      j: Join, lKey: Expression, rKey: Expression, k: Int): LogicalPlan = {
    // TWO-LEVEL banding for the near-dup range (1 <= k <= 3): one level
    // of k+1 bands gives a key space of only 2^(64/(k+1)) (65k for
    // k=3), so at >=10M rows every bucket averages hundreds of rows and
    // in-bucket candidate pairs grow quadratically with the corpus. The
    // second pigeonhole fixes the ceiling: if band i is intact, ALL
    // <= k flipped bits live in the remaining 64-w bits, so one of that
    // remainder's k+1 sub-bands is intact too — every qualifying pair
    // agrees exactly on some (band, sub-band) combined key. Key space
    // grows to 2^28 (k=3: 16+12 bits) for a 4x explode (16 vs 4 skinny
    // rows/side), collapsing bucket density by up to 2^12.
    // k=0 is a plain equality join and k > 3 keeps one-level banding
    // (bands are already short; squaring the explode buys little).
    val keyExprs: Seq[Expression => Expression] =
      if (k >= 1 && k <= 3)
        twoLevelLayout(k).map { case (bo, bw, so, sw) =>
          (key: Expression) => twoLevelKeyExpr(key, bo, bw, so, sw)
        }
      else
        splitLayout(64, k + 1).map { case (o, w) =>
          (key: Expression) => bandExpr(key, o, w)
        }

    def banded(child: LogicalPlan, key: Expression): (LogicalPlan, Attribute, Attribute) = {
      val gen = PosExplode(CreateArray(keyExprs.map(_(key))))
      val attrs = gen.elementSchema.fields.toSeq.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)())
      (Generate(gen, unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = attrs, child = child), attrs(0), attrs(1))
    }

    val (lGen, lIdx, lVal) = banded(j.left, lKey)
    val (rGen, rIdx, rVal) = banded(j.right, rKey)
    val joined = Join(lGen, rGen, Inner,
      Some(And(EqualTo(lIdx, rIdx), EqualTo(lVal, rVal))), j.hint)

    // Emit a candidate only at its FIRST agreeing entry: for every
    // entry m below the joined index, the entry keys must differ.
    val firstMatchOnly = keyExprs.indices.dropRight(1).map { m =>
      Or(LessThanOrEqual(lIdx, Literal(m)),
        Not(EqualTo(keyExprs(m)(lKey), keyExprs(m)(rKey))))
    }.reduceOption(And).getOrElse(Literal.TrueLiteral)

    // Exact original condition (the Hamming predicate prunes candidate
    // pairs that agree on an entry but exceed k overall, plus any other
    // conjuncts the join carried).
    Project(j.output, Filter(And(j.condition.get, firstMatchOnly), joined))
  }
}
