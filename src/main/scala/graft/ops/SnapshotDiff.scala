package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot change data capture (§2.11 extension — the
  * corpus-versioning primitive: a training-data pipeline re-crawls or
  * re-exports its corpus periodically, and every downstream incremental
  * stage — re-embed, re-dedup, re-score — wants exactly the delta, not
  * the snapshot. The reference's work-discovery anti-join
  * (`fetch_raw_data.py`'s to-do = catalog − already-fetched) is the
  * "added" third of this; full CDC also names `removed` and `changed`).
  *
  * Shape: one full outer equi-join on the snapshot key — each side
  * shuffles once on the key (or broadcasts when one snapshot is a small
  * batch), nothing global, no window. Status is decided per row from
  * null-ness of each side plus a null-safe content comparison.
  *
  * Content equality here compares the real column values (null-safe
  * `<=>` over the struct), which is exact and lets the oracle mirror it
  * verbatim. At 100 TB the same plan can run with each side reduced
  * scan-side to `(key, xxhash64(content...))` so the shuffle carries 16
  * bytes/row instead of documents; equality-of-hash is then exact up
  * to 64-bit collisions (~2^-64 per pair), the standard CDC trade.
  */
object SnapshotDiff {

  /** One row per key in either snapshot: (key, status) with status ∈
    * added | removed | changed | unchanged. `contentCols` define row
    * identity for the changed/unchanged split; keys must be unique per
    * snapshot (a snapshot is a keyed table by definition).
    */
  def diff(
      prev: DataFrame,
      cur: DataFrame,
      keyCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    val p = prev.select(col(keyCol).as("key"),
      struct(contentCols.map(col): _*).as("__prev_c"))
    val c = cur.select(col(keyCol).as("key"),
      struct(contentCols.map(col): _*).as("__cur_c"))
    p.join(c, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("__prev_c").isNull, lit("added"))
          .when(col("__cur_c").isNull, lit("removed"))
          .when(col("__prev_c") <=> col("__cur_c"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
