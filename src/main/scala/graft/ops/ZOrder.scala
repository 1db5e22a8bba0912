package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering key — multi-dimensional data layout for
  * scan pruning. Sorting a 100 TB table on one column makes min/max
  * file statistics razor-sharp for THAT column and useless for every
  * other; interleaving the bits of two key columns gives a single sort
  * key whose contiguous ranges are small rectangles in (x, y) space,
  * so a predicate box on EITHER (or both) dimensions overlaps few
  * files and partition-level min/max skipping prunes the rest. This is
  * the layout trick behind Delta/Iceberg OPTIMIZE ZORDER, built here
  * from plain column bit-arithmetic.
  *
  * The interleave is pure shift/mask algebra (the classic 16-bit
  * magic-number spread), fully codegen'd, engine-portable (the DuckDB
  * oracle recomputes the identical expression), and deterministic —
  * a layout key must never move between runs or engines.
  *
  * Reference behavior: kfai's store is partitioned by (year, month)
  * only (single-dimension pruning); multi-dimensional clustering is
  * part of the §2.11 extension surface for 100 TB layouts.
  */
object ZOrder {

  /** Spread the low `bits` bits of `x` so bit i lands at position 2i
    * (standard mask ladder; bits <= 16 so the spread fits 32 bits).
    */
  private def spread(x: Column, bits: Int): Column = {
    val masked = x.cast("long").bitwiseAND(lit((1L << bits) - 1L))
    val s1 = masked.bitwiseOR(shiftleft(masked, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton code of (x, y): x's bits at even positions, y's at odd.
    * Inputs are masked to their low `bits` bits — callers quantize
    * each dimension to [0, 2^bits) first (rank, bucket, or divide);
    * the mask makes out-of-range values wrap rather than corrupt
    * neighboring bits.
    */
  def mortonKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1, 16], got $bits")
    spread(x, bits).bitwiseOR(shiftleft(spread(y, bits), 1))
  }
}
