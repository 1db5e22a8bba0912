package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Offline retrieval-quality evaluation (§2.11 extension — the scoring
  * loop every retrieval/RAG stack runs after each index or embedding
  * change: join the ranked lists a retriever produced against a
  * relevance-labeled judgment set and reduce to per-query metrics).
  *
  * Metrics are the standard rank-eval trio, all computed EXACTLY in
  * integer arithmetic so any engine reproduces every digit:
  *   - hits@k        — relevant docs inside the top-k (int count)
  *   - recall@k      — hits/|relevant| as micro-units:
  *                     floor(1e6 * hits / n_relevant)
  *   - RR (for MRR)  — 1/rank of the first relevant hit as micro-units:
  *                     floor(1e6 / first_rank), 0 when no hit
  * (nDCG is deliberately absent: its log2 discount drags in a libm
  * seam; MRR/recall carry the same decision signal exactly.)
  *
  * Shape: one equi-join of the ranked relation against the judgment set
  * on (query, doc) — at 100 TB both relations are skinny key tuples,
  * and the ranked side is already top-k-bounded per query (k rows per
  * query, not corpus-sized) — then one query-grain aggregation; the
  * per-query relevant totals aggregate at judgment grain and join back
  * on the query key. No window, no global sort.
  */
object RankEval {

  private val M = 1000000L

  /** Exact floor division (Spark's IntegralDivide ≡ DuckDB `//`). */
  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** Per-query metrics. `retrieved` holds one row per (queryCol,
    * docCol, rankCol) with rank 1-based and ranks unique per query;
    * `relevant` holds one (queryCol, docCol) row per relevant judgment.
    * Queries with no relevant judgments are dropped (recall undefined);
    * queries whose top-k hit nothing still emit a row with zeros — the
    * regression a quality dashboard must see.
    */
  def rankEval(
      retrieved: DataFrame,
      relevant: DataFrame,
      queryCol: String,
      docCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val rel = relevant.select(col(queryCol).as("q"), col(docCol).as("doc"))
      .distinct()
    val totals = rel.groupBy(col("q")).agg(count(lit(1)).as("n_relevant"))
    val topk = retrieved
      .select(col(queryCol).as("q"), col(docCol).as("doc"),
        col(rankCol).cast("long").as("rank"))
      .where(col("rank") <= k)
    // Left join marks each retrieved row relevant/not; hits and the
    // first relevant rank reduce per query in one agg (min ignores the
    // null non-hits).
    val marked = topk.join(
      rel.withColumn("__hit", lit(1L)), Seq("q", "doc"), "left")
    val perQuery = marked.groupBy(col("q"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        min(when(col("__hit").isNotNull, col("rank"))).as("first_rank"))
    totals.join(perQuery, Seq("q"), "left")
      .select(col("q"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("n_relevant"),
        intDiv(lit(M) * coalesce(col("hits"), lit(0L)), col("n_relevant"))
          .as("recall_micro"),
        coalesce(intDiv(lit(M), col("first_rank")), lit(0L)).as("rr_micro"))
  }
}
