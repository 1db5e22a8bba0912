package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Training-shard packing (§2.11 extensions): assign every document to
  * a fixed-capacity shard by the EXCLUSIVE prefix sum of its weight
  * (chars, tokens, bytes) in a deterministic global order — the "pack
  * the corpus into ~N-token training files" step of an LLM data
  * pipeline.
  *
  * The naive form is `floor(sum(w) OVER (ORDER BY k) / size)` — a
  * no-partition global Window, i.e. every row sorted on ONE reducer,
  * the scale-killer this codebase bans. This implementation is the
  * classic two-phase distributed scan instead:
  *
  *   1. range-repartition by the order key and sort within partitions
  *      (a real distributed sort — each partition holds a contiguous
  *      key range);
  *   2. one tiny job computes each partition's total weight; the
  *      driver prefix-sums the PER-PARTITION totals (numPartitions
  *      longs, not rows) and broadcasts the offsets;
  *   3. a map-only pass emits each row's shard id from its partition
  *      offset plus the running within-partition sum.
  *
  * Wall-clock = one shuffle + two linear scans, any number of rows;
  * driver state = one long per partition. The assignment is
  * deterministic (same order key -> same shard), so shards are
  * reproducible across runs and the DuckDB oracle can recompute them
  * with the window form at gate scale.
  */
object Packing {

  /** `(orderCol, shard)` for every input row: shard = floor(exclusive
    * prefix-sum of `weightCol` in `orderCol` order / `shardSize`). A
    * document lands in the shard where its first weight unit starts; a
    * document larger than `shardSize` still gets exactly one shard id
    * (its start shard), keeping the assignment total and unique.
    * `orderCol` must be a unique long key (a doc id); weights must be
    * non-negative longs.
    */
  def assignShards(df: DataFrame, orderCol: String, weightCol: String,
      shardSize: Long, partitions: Int = 0): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    exclusivePrefix(df, orderCol, weightCol, partitions)
      .select(col(orderCol),
        intDiv(col("offset"), lit(shardSize)).as("shard"))
  }

  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** `(orderCol, offset)` for every row: offset = EXCLUSIVE prefix sum
    * of `weightCol` in `orderCol` order — the distributed scan
    * primitive under shard assignment (above) and sequence packing
    * ([[SequencePack]]). Two phases: per-partition totals (numPartitions
    * longs to the driver — bounded state), broadcast offsets, map-only
    * emission; NEVER a no-partition global Window.
    */
  def exclusivePrefix(df: DataFrame, orderCol: String, weightCol: String,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val nPart = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val slim = df
      // Null weight = zero mass (the row still gets a shard), matching
      // SQL window-SUM null semantics so the oracle's window form
      // assigns identically; found by `Sweep null` (getLong on a
      // null weight kills the scan task at depth otherwise).
      .select(col(orderCol).cast("long").as("__k"),
        coalesce(col(weightCol).cast("long"), lit(0L)).as("__w"))
      .repartitionByRange(nPart, col("__k"))
      .sortWithinPartitions(col("__k"))
    // Pin the partitioning across the two passes (repartitionByRange
    // samples its bounds; persisting makes pass 2 see pass 1's layout).
    val part = graft.core.Caches.persistTracked(slim)
    // Pass 1: per-partition totals — numPartitions longs to the driver.
    val totals = part.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(s += _.getLong(1))
        Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    // Exclusive scan: offsets(p) = total weight of partitions < p.
    val offsets = totals.scanLeft(0L)(_ + _).dropRight(1)
    val bc = spark.sparkContext.broadcast(offsets)
    // Pass 2: map-only offset emission from the running local sum.
    val rows = part.rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = bc.value(pid)
      it.map { r =>
        val off = run
        run += r.getLong(1)
        Row(r.getLong(0), off)
      }
    }
    val schema = StructType(Seq(
      StructField(orderCol, LongType, nullable = false),
      StructField("offset", LongType, nullable = false)))
    // Materializing `rows` re-reads the persisted partitions, so the
    // layout pass 1 measured is exactly what pass 2 scans.
    spark.createDataFrame(rows, schema)
  }
}
