package graft.tools

import org.apache.spark.sql.functions._

/** Repeated-run profiler for individual SparkEntry queries:
  * `ProfileQ <sfDir> <query>...` times each named query twice (cold +
  * warm) with the bench's full-row hash materialization, so scaling
  * investigations can separate per-query cost from suite effects.
  *
  * Tracked and session-SHARED relations (Caches.shared — the
  * support-pair discovery) are released between reps, so rep 2 is the
  * query's standalone cost for rows that keep no other state. State
  * that `releaseShared()` does not drop makes rep 2 WARM:
  *   - `memoTrained` tokenizers: q153, q154, q165, q166, q168, q169,
  *     q182, q183, q190-q192 (releasing them would make every
  *     operator_suite pass retrain q183's WordPiece);
  *   - the run-scoped `TokenStore`: q177, q178, q180, q185, q189;
  *   - the standing IVF-PQ index: q167, q175.
  * Rep 1 is their cold cost only when no earlier name in the same
  * call built that state. Run the
  * consumers through Bench with SPARK_GRAFT_ONLY to measure the
  * shared-subtree suite effect.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = graft.core.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names; rep <- 1 to 2) {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(bit_xor(col("h"))).collect()
      println(f"[profile] $n rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.core.Caches.releaseAll()
      graft.core.Caches.releaseShared()
    }
    spark.stop()
  }
}
