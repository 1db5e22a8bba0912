package graft

import graft.suite._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the declared operator inventory (SURVEY.md §2), one
  * query per operator, each with a DuckDB-equivalent oracle SQL. The
  * rows are [[graft.suite.QuerySpec]]s in the per-family objects of
  * `graft.suite`, each builder beside its oracle SQL.
  *
  * Determinism rules used throughout (so driver hash-compare is exact):
  *  - money/measure sums snap each value onto a fixed decimal grid and
  *    add exact longs (`suite.Shared.dsum`), so the sum is
  *    order-independent;
  *  - every query ends in an ORDER BY on a unique key;
  *  - column names are identical between Spark and oracle SQL.
  */
object SparkEntry {

  private val rows: Map[String, QuerySpec] = QuerySpec.byName(Seq(
    RelationalRows.specs, ScalarRows.specs, EventRows.specs, DedupRows.specs,
    AnnRows.specs, TextRows.specs, TokenizerRows.specs, EtlRows.specs,
    MultiModalRows.specs, TrainingRows.specs, AnalyticsRows.specs).flatten)

  /** Every row's builder, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map { case (name, q) => name -> q.build }

  /** Every row's oracle SQL, by name. */
  val oracleSql: Map[String, String] =
    rows.map { case (name, q) => name -> q.oracleSql }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** The rows Bench and Verify run, in name order: every row, or only
    * the comma-separated names in `SPARK_GRAFT_ONLY` when it is set.
    */
  def suite(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }
}
