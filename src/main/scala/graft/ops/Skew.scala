package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY §7.4.7): AQE's skew-join
  * handles sort-merge spills at runtime, but a key so hot that one
  * task owns it (the "null video_id" / celebrity-host shape) needs
  * SALTING — split the hot key across `saltFactor` sub-partitions.
  *
  * Deterministic: the left side's salt comes from hashing a
  * high-cardinality discriminator column (NOT rand(), which breaks
  * retries and reproducibility); the right side replicates each row
  * `saltFactor` times so every salted left partition finds its match.
  */
object Skew {

  /** Inner equi-join on `key` with the left side salted by
    * `hash(discriminatorCol) % saltFactor` and the right side
    * replicated across all salt values. Shuffle key becomes
    * (key, salt): a single hot key spreads over `saltFactor` tasks at
    * the cost of `saltFactor`x replication of the (small) right side.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      discriminatorCol: String,
      saltFactor: Int = 16): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(hash(col(discriminatorCol)), lit(saltFactor)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    l.join(r, Seq(key, "__salt"), "inner").drop("__salt")
  }
}
