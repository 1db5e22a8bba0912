package graft

import graft.ops.{RangeJoin, Sampling, ZOrder}
import org.apache.spark.sql.functions._

/** RangeJoin (binned point-in-interval), ZOrder layout, and the
  * cumulative-share selector — correctness vs naive references plus
  * the plan/pruning properties that are the operators' reason to
  * exist.
  */
class RangeLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def pointsDf = Seq(
    (1L, 100L, 1.0),   // inside iv10 [100, 160)
    (2L, 159L, 2.0),   // last second of iv10
    (3L, 160L, 3.0),   // AT iv10 end -> excluded there; inside iv30
    (4L, 99L, 4.0),    // just before start -> excluded
    (5L, 1000L, 5.0),  // inside the multi-bin iv20 [900, 2100)
    (6L, 2099L, 6.0),  // last second of iv20
    (7L, 2100L, 7.0),  // AT iv20 end -> excluded
    (8L, 5000L, 8.0))  // matches nothing
    .toDF("pid", "sec", "value")
    .select(col("pid"), timestamp_seconds(col("sec")).as("ts"), col("value"))

  private def intervalsDf = Seq(
    (10L, 100L, 160L),   // within one 60s bin
    (20L, 900L, 2100L),  // spans 20 bins of 60s
    (30L, 150L, 210L),   // overlaps iv10's range: point 2 is in BOTH
    (40L, 300L, 200L))   // degenerate end < start: matches nothing
    .toDF("wid", "s", "e")
    .select(col("wid"), timestamp_seconds(col("s")).as("w_start"),
      timestamp_seconds(col("e")).as("w_end"))

  test("binned interval join equals the naive theta join, end-exclusive") {
    val naive = pointsDf.join(intervalsDf,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "wid").as[(Long, Long)].collect().toSet
    // Independent boundary pin (the naive join could be wrong too):
    assert(naive == Set((1L, 10L), (2L, 10L), (2L, 30L), (3L, 30L),
      (5L, 20L), (6L, 20L)))
    for (bin <- Seq(7L, 60L, 3600L)) { // smaller, matched, larger than spans
      val binned = RangeJoin
        .pointInIntervalJoin(pointsDf, "ts", intervalsDf, "w_start", "w_end", bin)
        .select("pid", "wid").as[(Long, Long)].collect().toSeq
      assert(binned.distinct.size == binned.size,
        s"bin=$bin emitted a duplicate pair: $binned")
      assert(binned.toSet == naive, s"bin=$bin: ${binned.toSet} != $naive")
    }
  }

  test("binned interval join plans as an equi hash join, not a nested loop") {
    // The always-on rule must not silently fix the naive plan under
    // the assert.
    spark.conf.set(graft.plans.IntervalBinJoinRule.EnabledKey, "false")
    val naivePlan = pointsDf.join(intervalsDf,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .queryExecution.executedPlan.toString
    spark.conf.unset(graft.plans.IntervalBinJoinRule.EnabledKey)
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      s"expected the naive theta join to nested-loop:\n$naivePlan")
    val plan = RangeJoin
      .pointInIntervalJoin(pointsDf, "ts", intervalsDf, "w_start", "w_end", 60L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected an equi join on the bin, got:\n$plan")
    assert(plan.contains("Generate"), s"expected the interval bin explosion in:\n$plan")
  }

  test("interval join rule: always-on w/ derived width, binned plan, exact incl. multiplicities") {
    // Duplicate one interval so multiplicity preservation is observable.
    // The fixture's widths are MIXED (60s, 1200s, 60s, degenerate), so
    // the derived bin = ceil(max(end−start)) = 1200s exercises the
    // stats path on exactly the skew shape the Scaladoc documents.
    val ivs = intervalsDf.union(intervalsDf.where(col("wid") === 30L))
    def query() = pointsDf.join(ivs,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "wid")
    try {
      spark.conf.set(graft.plans.IntervalBinJoinRule.EnabledKey, "false")
      val naiveDf = query()
      assert(naiveDf.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "expected the naive plan while the rule is disabled")
      val naive = naiveDf.as[(Long, Long)].collect().toSeq.sorted

      // Default state: rule ON, NO explicit width — derivation runs.
      spark.conf.unset(graft.plans.IntervalBinJoinRule.EnabledKey)
      val rewrittenDf = query()
      val plan = rewrittenDf.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"expected a binned equi-join with no knobs set, got:\n$plan")
      assert(plan.contains("Generate"),
        s"expected the interval bin explosion in:\n$plan")
      val got = rewrittenDf.as[(Long, Long)].collect().toSeq.sorted
      assert(got == naive, s"$got != $naive")
      assert(got.count(_ == (2L, 30L)) == 2, "duplicated interval lost")

      // An explicit width still overrides (same answer, narrower bins).
      spark.conf.set(graft.plans.IntervalBinJoinRule.BinKey, "60")
      val explicitDf = query()
      assert(explicitDf.as[(Long, Long)].collect().toSeq.sorted == naive)
    } finally {
      spark.conf.unset(graft.plans.IntervalBinJoinRule.EnabledKey)
      spark.conf.unset(graft.plans.IntervalBinJoinRule.BinKey)
    }
  }

  test("interval join rule: deriveStats=false skips the planning-time job, explicit width still rewrites") {
    // A FRESH interval relation (distinct wids -> distinct canonical
    // subtree) so no width memoized by earlier tests can serve.
    val ivs = intervalsDf.select((col("wid") + 9000L).as("wid"),
      col("w_start"), col("w_end"))
    def query() = pointsDf.join(ivs,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "wid")
    try {
      spark.conf.set(graft.plans.IntervalBinJoinRule.DeriveKey, "false")
      // No explicit width + no derivation allowed -> the join must be
      // LEFT AS WRITTEN (nested loop), proving no stats job ran; the
      // result is still the correct naive answer.
      val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val plan = query().queryExecution.executedPlan.toString
      val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"deriveStats=false must decline the rewrite, got:\n$plan")
      assert(jobsAfter == jobsBefore,
        s"planning must launch no job under deriveStats=false " +
          s"($jobsBefore -> $jobsAfter)")
      // An explicit width needs no derivation -> the rewrite engages
      // even with deriveStats=false.
      spark.conf.set(graft.plans.IntervalBinJoinRule.BinKey, "1200")
      val explicitDf = query()
      val ep = explicitDf.queryExecution.executedPlan.toString
      assert(!ep.contains("BroadcastNestedLoopJoin") && ep.contains("Generate"),
        s"explicit width must still rewrite under deriveStats=false:\n$ep")
      spark.conf.unset(graft.plans.IntervalBinJoinRule.BinKey)
      // Back to default: derivation allowed again -> rewrite engages.
      spark.conf.unset(graft.plans.IntervalBinJoinRule.DeriveKey)
      val derivedPlan = query().queryExecution.executedPlan.toString
      assert(!derivedPlan.contains("BroadcastNestedLoopJoin"),
        s"derivation re-enabled must rewrite:\n$derivedPlan")
    } finally {
      spark.conf.unset(graft.plans.IntervalBinJoinRule.DeriveKey)
      spark.conf.unset(graft.plans.IntervalBinJoinRule.BinKey)
    }
  }

  test("interval join rule: an EMPTY interval relation still engages (unit bins)") {
    // The first batch of an incremental feed is often empty; the
    // derived-width stats job finds no rows. The rule must engage with
    // a default width rather than decline — the rewrite is exact for
    // any width, and declining would flip the plan shape (and crash
    // q100's engagement pin) on empty input. Found by `Sweep empty`.
    val emptyIvs = intervalsDf.where(col("wid") < 0L)
    val df = pointsDf.join(emptyIvs,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "wid")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"rule declined on an empty interval relation:\n$plan")
    assert(df.count() == 0L)
  }

  test("interval join rule: non-comparison conjuncts (Not, !=) never break extraction") {
    // Regression: a `!=` conjunct arrives as Not(EqualTo); the upper-
    // bound collector's missing default threw MatchError inside the
    // optimizer for ANY join whose condition mixed range comparisons
    // with other predicates (found by q143's brute arm).
    val a = Seq((1L, 10L), (2L, 25L)).toDF("ida", "va")
    val b = Seq((1L, 5L), (3L, 20L)).toDF("idb", "vb")
    val out = a.join(b,
        col("va") > col("vb") && col("va") < col("vb") + 100L &&
          col("ida") =!= col("idb"))
      .select("ida", "idb").as[(Long, Long)].collect().toSeq.sorted
    assert(out == Seq((2L, 1L), (2L, 3L)))
  }

  test("morton key matches a bit-by-bit scala reference and respects the mask") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      z
    }
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L),
      (70000L, 3L), (-1L, 1L)) ++ // out-of-range wraps via the mask
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = cases.toDF("x", "y")
      .select(ZOrder.mortonKey(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    cases.zip(got).foreach { case ((x, y), z) =>
      assert(z == ref(x & 65535L, y & 65535L), s"($x, $y)")
    }
  }

  test("z-ordered layout prunes a 2D predicate box better than a linear sort") {
    // 64x64 grid, 16 files per layout. The linear layout sorts on x
    // alone: every file spans ALL of y, so any box over half the x
    // range must touch half the files. The z-layout keeps files near
    // square tiles, so the same box touches only the tiles it covers.
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).as("y"))
    val dir = tempDir("graft-zorder")
    // Range-partition on the morton key (balanced key ranges, one
    // file per partition) and sort within each file.
    grid.withColumn("z", ZOrder.mortonKey(col("x"), col("y")))
      .repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
      .drop("z").write.mode("overwrite").parquet(s"$dir/z")
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$dir/linear")
    // File-level min/max boxes — what format metadata skipping sees.
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
          min(col("y")).as("y0"), max(col("y")).as("y1"))
        .where(col("x1") >= 16 && col("x0") <= 47 &&
          col("y1") >= 16 && col("y0") <= 31)
        .count()
    val (zf, lf) = (filesTouched(s"$dir/z"), filesTouched(s"$dir/linear"))
    info(s"files overlapping the box: zorder=$zf linear=$lf of 16")
    assert(lf >= 8, s"linear layout should touch >= half the files, got $lf")
    assert(zf < lf, s"zorder should prune better: $zf vs $lf")
  }

  test("cumulative-share selection is a ranked prefix with a strict boundary") {
    val corpus = (Seq.fill(50)(("a", 1L)) ++ Seq.fill(30)(("b", 1L)) ++
      Seq.fill(10)(("c", 1L)) ++ Seq.fill(10)(("d", 1L))).toDF("g", "w")
    val out = Sampling.cumulativeShareSelect(corpus, "g", "w", 3L, 5L)
      .select("group", "n_rows", "weight", "cum_weight", "selected")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .sortBy(_._4).toSeq
    assert(out.map(r => (r._1, r._3, r._4, r._5)) == Seq(
      ("a", 50L, 50L, true),   // starts at 0 < 60
      ("b", 30L, 80L, true),   // starts at 50 < 60: crosses the mark, included
      ("c", 10L, 90L, false),  // starts at 80 (ties broken by group name)
      ("d", 10L, 100L, false)))
    // A group starting EXACTLY at the mark is excluded (strict <).
    val half = Sampling.cumulativeShareSelect(
      (Seq.fill(50)(("a", 1L)) ++ Seq.fill(50)(("b", 1L))).toDF("g", "w"),
      "g", "w", 1L, 2L)
      .select("group", "selected").as[(String, Boolean)].collect().toMap
    assert(half == Map("a" -> true, "b" -> false))
    // share = 1 selects everything.
    val all = Sampling.cumulativeShareSelect(corpus, "g", "w", 1L, 1L)
      .select("selected").as[Boolean].collect()
    assert(all.forall(identity))
  }
}
