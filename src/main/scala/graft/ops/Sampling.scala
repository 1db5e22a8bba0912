package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling and dataset splitting (§2.11
  * extensions — the subsampling / train-val-test machinery a
  * training-data pipeline needs at corpus scale).
  *
  * Membership is a pure function of (salt, key): `md5(salt || key)`'s
  * first 4 hex digits read as a uniform draw from [0, 65536). That
  * buys three properties `DataFrame.sample` cannot give at 100 TB:
  *
  *  - STABLE: re-runs, retries, and engine changes reproduce the same
  *    sample — md5 is engine-portable (the DuckDB oracle recomputes
  *    membership bit-for-bit), while `sample()` depends on partition
  *    layout and seed plumbing.
  *  - INCREMENTAL: growing the corpus never reshuffles existing
  *    membership — yesterday's training docs stay training docs, so
  *    downstream caches and eval contamination guarantees survive
  *    appends.
  *  - STRATUM-UNIFORM: the hash is independent of any grouping column,
  *    so every stratum is split in the same proportions without a
  *    per-stratum pass (no `sampleBy` fraction map to maintain).
  *
  * Plan shape: a scan-local predicate/projection — no shuffle, no
  * state, fully pushdown- and codegen-friendly. Thresholds are in
  * units of 1/65536 (~0.0015% resolution); comparisons are on the hex
  * PREFIX STRING (lowercase hex order == numeric order), so both
  * engines evaluate the identical expression.
  */
object Sampling {

  /** First 4 hex digits of md5(salt || key) — a uniform 16-bit draw as
    * a lowercase hex string.
    */
  def hashHex16(key: Column, salt: String): Column =
    substring(md5(concat(lit(salt), key.cast("string"))), 1, 4)

  private def hex4(cut: Int): String = f"$cut%04x"

  /** Split assignment from cumulative cut points in 1/65536 units:
    * `cuts = Seq("train" -> 52429, "val" -> 58982, "test" -> 65536)`
    * labels draws [0, 52429) train, [52429, 58982) val, the rest test.
    * The final cut must be 65536 so every row is labeled.
    */
  def assignSplit(key: Column, salt: String, cuts: Seq[(String, Int)]): Column = {
    require(cuts.nonEmpty && cuts.last._2 == 0x10000,
      s"final cut must be 65536, got ${cuts.map(_._2)}")
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must be non-decreasing")
    val h = hashHex16(key, salt)
    cuts.init.foldRight(lit(cuts.last._1): Column) { case ((label, cut), acc) =>
      when(h < lit(hex4(cut)), lit(label)).otherwise(acc)
    }
  }

  /** Exact integer floor-division (the SQL `div` operator; there is no
    * `functions._` builder for it). Decimal inputs keep the products
    * below exact — a double quotient would lose integer exactness past
    * 2^53.
    */
  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** Per-source keep cuts for a temperature-balanced mixture (the
    * multilingual/source rebalancing of mC4 and PaLM: sample source s
    * proportionally to p_s^(1/T), flattening the corpus distribution
    * toward uniform as T grows; T = 1 keeps natural proportions).
    *
    * Semantics: with n_s docs of source s out of N, the target sample
    * holds `targetFraction * N` docs allocated by the normalized
    * tempered weights; each source's keep RATE is that allocation over
    * n_s, capped at 1 (this operator never upsamples). The rate is
    * quantized to `cut` 1/65536 units compatible with [[hashHex16]]'s
    * md5 draw, so membership is stable, incremental, and recomputable
    * by any engine.
    *
    * Cross-engine determinism: the tempered weight snaps to a 1e-6
    * grid straight off `pow` (the only floating step); every later
    * step — allocation, rate, cut — is exact integer arithmetic
    * (decimal products + integral division), so no engine-specific
    * rounding can move a cut by one unit.
    *
    * Scale shape: two tiny aggregations (source grain) and two one-row
    * broadcasts; nothing source-grain ever shuffles document rows.
    * Output: (source, n_docs, wq, cut).
    */
  def temperatureCuts(
      docs: DataFrame,
      sourceCol: String,
      temperature: Double,
      targetFraction: Double): DataFrame = {
    require(temperature > 0, s"temperature must be > 0, got $temperature")
    require(targetFraction > 0, s"targetFraction must be > 0, got $targetFraction")
    val counts = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("__n"))
    val weighted = counts.crossJoin(broadcast(total))
      .withColumn("wq",
        rint(pow(col("n_docs").cast("double") / col("__n"),
          lit(1.0 / temperature)) * lit(1000000.0)).cast("long"))
      .withColumn("__ntarget",
        rint(lit(targetFraction) * col("__n")).cast("long"))
    val wsum = weighted.agg(sum(col("wq")).as("__wsum"))
    weighted.crossJoin(broadcast(wsum))
      .select(col("source"), col("n_docs"), col("wq"),
        least(lit(65536L),
          intDiv(
            col("__ntarget").cast("decimal(38,0)") * col("wq") * lit(65536L),
            col("__wsum").cast("decimal(38,0)") * col("n_docs"))).as("cut"))
  }

  /** Filter `docs` to the mixture sample defined by [[temperatureCuts]]
    * output: keep a row iff its 16-bit md5 draw falls below its
    * source's cut (cut >= 65536 keeps everything — `lpad` of the
    * 5-hex-digit 65536 would otherwise truncate the comparison). The
    * cuts relation is source-grain, so it broadcasts; the corpus side
    * is a map-only probe + filter.
    */
  def temperatureSample(
      docs: DataFrame,
      sourceCol: String,
      key: Column,
      salt: String,
      cuts: DataFrame): DataFrame = {
    val c = cuts.select(col("source").as("__mix_src"), col("cut").as("__mix_cut"))
    docs.join(broadcast(c), docs(sourceCol) === col("__mix_src"))
      .where(col("__mix_cut") >= lit(65536L) ||
        hashHex16(key, salt) < lpad(lower(hex(col("__mix_cut"))), 4, "0"))
      .drop("__mix_src", "__mix_cut")
  }

  /** Cumulative-share (Pareto / "top-p") source selection: rank the
    * groups of `groupCol` by total `weightCol` descending and mark the
    * head groups that together cover `shareNum/shareDen` of the corpus
    * weight — the "which sources make up 90% of my tokens" question
    * that decides what a mixture rebalance or a curation pass should
    * even look at. A group is selected iff the cumulative weight
    * BEFORE it is still short of the target share (so the group that
    * crosses the threshold is included, and selection is a prefix of
    * the ranked order — never an empty set for a positive share).
    *
    * The share test is exact integer cross-multiplication
    * (`(cum - w) * den < num * total`), no floating division — a
    * selection boundary must not move between engines.
    *
    * Scale shape: one partial-aggregating shuffle to group grain, then
    * a window over the GROUP-GRAIN relation (cardinality = #groups,
    * thousands at most for source/lang/domain keys — the unpartitioned
    * window ranks that tiny relation, never the corpus).
    * Output: (group, n_rows, weight, cum_weight, selected).
    */
  def cumulativeShareSelect(
      df: DataFrame,
      groupCol: String,
      weightCol: String,
      shareNum: Long,
      shareDen: Long): DataFrame = {
    require(shareDen > 0 && shareNum >= 0 && shareNum <= shareDen,
      s"share must be a fraction in [0, 1], got $shareNum/$shareDen")
    import org.apache.spark.sql.expressions.Window
    val byWeight = Window.orderBy(col("weight").desc, col("group"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val everything = Window.partitionBy()
    df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(weightCol).cast("decimal(38,0)")).as("weight"))
      .withColumn("cum_weight", sum(col("weight")).over(byWeight))
      .withColumn("selected",
        (col("cum_weight") - col("weight")) * lit(shareDen) <
          sum(col("weight")).over(everything) * lit(shareNum))
      .select(col("group"), col("n_rows"),
        col("weight").cast("long").as("weight"),
        col("cum_weight").cast("long").as("cum_weight"), col("selected"))
  }

  /** Deterministic negative mining for contrastive training pairs:
    * every document gets up to `k` pseudo-random negatives drawn from
    * the corpus, reproducible by any engine (md5 draws, no RNG state).
    *
    * Mechanics: documents hash into `buckets` buckets, each bucket
    * elects its min-id member as representative (one tiny bucket-grain
    * relation); each (doc, slot) pair hashes to a target bucket and
    * takes that bucket's representative as the negative. Slots whose
    * representative is the query itself or shares its `exclCol` value
    * (in-domain false-negative guard — same source here, same dup
    * cluster in a pipeline that has one) are DROPPED, so a document
    * yields AT MOST k negatives.
    *
    * Scale shape: the representative relation is `buckets` rows and
    * broadcasts; the query side is a map-only k-slot explode plus the
    * broadcast probe — the corpus never shuffles. Bias note: min-id
    * election is deliberate (engine-portable, append-stable for
    * existing buckets); representatives rotate by changing `salt`.
    */
  def negativeSamples(
      docs: DataFrame,
      idCol: String,
      exclCol: String,
      k: Int,
      buckets: Int,
      salt: String): DataFrame = {
    require(k >= 1 && buckets >= 2, s"need k >= 1, buckets >= 2; got $k, $buckets")
    def bucketOf(key: Column): Column =
      pmod(conv(hashHex16(key, salt), 16, 10).cast("long"), lit(buckets.toLong))
    val reps = docs
      .select(col(idCol).as("__rid"), col(exclCol).as("__rexcl"))
      .withColumn("__bucket", bucketOf(col("__rid")))
      .groupBy(col("__bucket"))
      .agg(min(struct(col("__rid"), col("__rexcl"))).as("__r"))
      .select(col("__bucket"), col("__r.__rid").as("neg_id"),
        col("__r.__rexcl").as("__nexcl"))
    docs.select(col(idCol), col(exclCol))
      .withColumn("slot", explode(array((1 to k).map(lit): _*)))
      .withColumn("__bucket", bucketOf(
        concat(col(idCol).cast("string"), lit(":"), col("slot").cast("string"))))
      .join(broadcast(reps), Seq("__bucket"))
      .where(col("neg_id") =!= col(idCol) && !(col("__nexcl") <=> col(exclCol)))
      .select(col(idCol), col("slot"), col("neg_id"))
  }

  /** Exact-k uniform sample per stratum — the deterministic form of
    * per-group reservoir sampling: order each stratum by its md5 draw
    * (key as tie-break, so the order is total) and keep the first `k`.
    * A pure function of (salt, key), reproducible by any engine.
    *
    * Scale shape: a partitioned rank-limit is NOT the single-reducer
    * trap it looks like — Catalyst's InferWindowGroupLimit plants a
    * partial WindowGroupLimit BELOW the shuffle (each input slice
    * forwards only its own top-k per stratum, the per-slice reservoir;
    * lossless because any slice's top-k superset-contains its share of
    * the global top-k), so a hot stratum's final sort sees at most
    * k x slices rows, never the stratum. PlansSpec pins the partial
    * prune's presence; hand-salting the window would only re-create
    * what the optimizer already does, one shuffle wider.
    */
  def stratifiedExactK(
      df: DataFrame,
      stratumCol: String,
      key: Column,
      k: Int,
      salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perStratum = Window.partitionBy(col(stratumCol))
      .orderBy(col("__draw"), col("__key"))
    df.withColumn("__draw", hashHex16(key, salt))
      .withColumn("__key", key)
      .withColumn("rank", row_number().over(perStratum))
      .where(col("rank") <= k)
      .drop("__draw", "__key")
  }

  /** Weighted sampling WITHOUT replacement, top-k of the whole frame —
    * Efraimidis & Spirakis 2006 ("Weighted random sampling with a
    * reservoir"): give row i a uniform draw u_i and keep the k largest
    * u_i^(1/w_i); the result is distributed exactly as sequential
    * weighted draws without replacement. Ordering by u^(1/w) equals
    * ordering by ln(u)/w, which is what we materialize.
    *
    * Determinism across engines: u is the md5 draw ((h32+1)/(2^32+1),
    * h32 = first 8 md5 hex digits — exact in double), and the ONLY
    * libm step, ln, is snapped to a 1e-6 grid via rint before the
    * comparison (temperatureCuts precedent: a 1-ULP libm seam moves
    * the snapped key only when the true value sits within ~1e-9 of a
    * grid midpoint). Grid ties are broken by key, so selection AND
    * rank are total orders any engine reproduces.
    *
    * Scale shape: the sort key is scan-local (map-only); the global
    * top-k plans as TakeOrderedAndProject (per-partition heap of k,
    * driver merge of k x partitions — no global sort, same shape as
    * bm25TopK), and the rank window runs AFTER the limit over k rows.
    * Rows with non-positive weight are excluded (they have probability
    * zero by definition).
    *
    * Output: the input columns + `es_key_micro` (the snapped sort key)
    * + `rank` (1-based).
    */
  def weightedSampleK(
      df: DataFrame,
      key: Column,
      weight: Column,
      k: Int,
      salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be > 0, got $k")
    val h32 = conv(
      substring(md5(concat(lit(salt), key.cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val u = (h32.cast("double") + lit(1.0)) / lit(4294967297.0)
    val keyMicro =
      rint(log(u) / weight.cast("double") * lit(1000000.0)).cast("long")
    df.where(weight > 0)
      .withColumn("es_key_micro", keyMicro)
      .withColumn("__key", key)
      .orderBy(col("es_key_micro").desc, col("__key"))
      .limit(k)
      .withColumn("rank",
        row_number()
          .over(Window.orderBy(col("es_key_micro").desc, col("__key")))
          .cast("long"))
      .drop("__key")
  }

  /** MERGEABLE deterministic uniform k-sample: the k keys with the
    * smallest md5 draws (bottom-k sketch; Cohen & Kaplan 2007). The
    * draw is a pure function of (salt, key), so the sample is a
    * SKETCH of the key set itself: bottom-k(A ∪ B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B)) — per-shard/per-day samples
    * union into the corpus sample with no rescan, the property that
    * makes a rolling corpus sample maintainable incrementally at
    * 100 TB (OpsSpec pins the merge identity). Plans as
    * TakeOrderedAndProject: per-partition k-heaps, driver merges
    * k × partitions rows, no global sort. Output: the input row +
    * `draw` (hex, the portable sort key).
    */
  def bottomKSample(df: DataFrame, key: Column, k: Int, salt: String): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    df.withColumn("draw", substring(
        md5(concat(lit(salt), key.cast("string"))), 1, 16))
      .orderBy(col("draw"), key)
      .limit(k)
  }
}
