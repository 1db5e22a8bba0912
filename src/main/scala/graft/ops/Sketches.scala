package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter accelerated incremental work discovery.
  *
  * The reference's skip-list pattern (fetch_raw_data.py's processed-id
  * sets; our J4/P10 anti-joins in `etl/Extract.scala`) asks one
  * question at every pipeline resume: "which incoming items have we
  * NOT already processed?" The exact anti-join answers it with a full
  * shuffle of BOTH sides — at 100 TB that means re-shuffling a
  * billion-key processed ledger every incremental batch, when the
  * typical batch is overwhelmingly NEW keys that match nothing.
  *
  * The bloom form splits the question:
  *  1. build a constant-size bloom filter over the processed keys —
  *     one map-side-combinable aggregation (Spark's own
  *     `BloomFilterAggregate`, the engine's runtime-join-filter
  *     machinery, driven here as a first-class operator);
  *  2. probe it with a map-only filter on the incoming side: a miss
  *     is DEFINITELY new (bloom filters have no false negatives) and
  *     skips the join entirely;
  *  3. only the hits — true duplicates plus an fpp-bounded sliver of
  *     false positives — enter the exact anti-join for verification.
  *
  * Result semantics are therefore EXACTLY the anti-join's (the oracle
  * can recompute them); the bloom only moves rows between the free
  * path and the verified path. At 1% fpp and a mostly-new batch the
  * verify shuffle shrinks ~100x.
  *
  * Scale bounds, stated honestly: `optimalNumOfBits` is ~9.6 bits per
  * key at 1% fpp, so 100M processed keys is a ~115 MB filter — fine to
  * broadcast; a billion keys crosses a GB and wants either a higher
  * fpp, key-space partitioning (one bloom per processed shard,
  * probe-side routed by the same partitioner), or the exact anti-join
  * it accelerates. Spark caps `BloomFilterAggregate` buffers via
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 8 MB
  * ~ 6.7M items at 1% — raise it for bigger ledgers).
  */
object Sketches {

  /** Serialized bloom filter over a key column — one aggregation job,
    * map-side combinable (partial filters OR-merge). Keys are
    * xxhash64-normalized so any key type folds to the LongType the
    * aggregate ingests; [[bloomMightContain]] applies the identical
    * hash, keeping build and probe consistent.
    */
  def bloomBuild(
      keys: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double): Array[Byte] = {
    val n = math.max(1L, expectedItems)
    val bits = BloomFilter.optimalNumOfBits(n, fpp)
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(col(keyCol)))),
      Literal(n), Literal(bits)).toAggregateExpression()
    keys.select(Bridge.column(agg).as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Map-only membership probe: false means DEFINITELY absent from the
    * build side; true means present-or-false-positive. Plans as a
    * plain codegen'd filter (`BloomFilterMightContain` deserializes the
    * literal once per task), no join, no shuffle.
    */
  def bloomMightContain(bloom: Array[Byte], key: Column): Column =
    Bridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      new XxHash64(Seq(Bridge.expression(key)))))

  /** Mergeable quantile-sketch envelope (the distributed-percentile
    * path at 100 TB: exact interpolated percentiles need every group's
    * full value set in one place, while `approx_percentile`'s
    * Greenwald–Khanna summaries are CONSTANT-size per group and merge
    * across partitions/shards — the map-side-combinable shape; bound
    * per Greenwald & Khanna, SIGMOD'01). Per group this emits the row
    * count, the EXACT p50/p90 (what the oracle mirrors via
    * quantile_cont), and one boolean per target percentile pinning the
    * sketch's guarantee: the true rank of the sketched value lies
    * within ε·n (+1 interpolation slack) of the target rank. The
    * sketched values themselves are partition-layout-dependent (any
    * merge order is valid GK), so the BOUND is the portable claim —
    * same envelope discipline as the ANN/overlap-sketch rows.
    *
    * Scale shape: one group-grain aggregation carrying constant-size
    * sketch + exact-percentile buffers, then one re-scan with the
    * tiny per-group thresholds broadcast back for the rank counts —
    * two passes, all map-side combinable, no row-grain shuffle.
    */
  def quantileSketchBound(
      df: DataFrame,
      grpCol: String,
      valCol: String,
      accuracy: Int = 1000): DataFrame = {
    val stats = df.groupBy(col(grpCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        round(expr(s"percentile($valCol, 0.5)"), 4).as("p50_exact"),
        round(expr(s"percentile($valCol, 0.9)"), 4).as("p90_exact"),
        expr(s"approx_percentile($valCol, 0.5, $accuracy)").as("a50"),
        expr(s"approx_percentile($valCol, 0.9, $accuracy)").as("a90"))
    // A sketched value that repeats in the data occupies a RANGE of
    // ranks, [count(v < a) + 1, count(v <= a)]; the GK guarantee is
    // satisfied if ANY rank in that range lies within the slack band,
    // so the check is interval intersection — testing only the upper
    // tie boundary would flip sketch_ok false on tie-heavy groups
    // whose lower tie boundary still meets the guarantee.
    val ranks = df
      .join(broadcast(stats), col(grpCol) === col("grp"))
      .groupBy(col("grp"))
      .agg(sum(when(col(valCol) <= col("a50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col(valCol) <= col("a90"), 1L).otherwise(0L)).as("r90"),
        sum(when(col(valCol) < col("a50"), 1L).otherwise(0L)).as("rlt50"),
        sum(when(col(valCol) < col("a90"), 1L).otherwise(0L)).as("rlt90"))
    def ok(rlt: Column, rle: Column, p: Double): Column = {
      val slack = ceil(col("n").cast("double") / lit(accuracy.toDouble)) + lit(1.0)
      val target = lit(p) * col("n").cast("double")
      (rlt.cast("double") + lit(1.0) <= target + slack) &&
        (rle.cast("double") >= target - slack)
    }
    stats.join(ranks, "grp")
      .select(col("grp"), col("n"), col("p50_exact"), col("p90_exact"),
        ok(col("rlt50"), col("r50"), 0.5).as("sketch_ok50"),
        ok(col("rlt90"), col("r90"), 0.9).as("sketch_ok90"))
  }
}
