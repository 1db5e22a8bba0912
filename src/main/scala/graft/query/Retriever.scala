package graft.query

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Vector retrieval over an embedding table (SURVEY.md O5/O2/O1;
  * reference query path query_agent.py:234-306).
  *
  * The metadata filter is applied BEFORE scoring so Catalyst pushes it to
  * the scan (mirrors pgvector pre-filtering); top-k compiles to
  * `TakeOrderedAndProject` — no full sort, no full shuffle of scores.
  */
object Retriever {

  /** O5 brute-force exact top-k by cosine similarity, with optional
    * metadata pre-filter. `queryVec` is broadcast as a literal array.
    * Ties broken by the id column for determinism.
    */
  def topK(
      store: DataFrame,
      embeddingCol: String,
      idCol: String,
      queryVec: Array[Float],
      k: Int,
      filter: Option[FilterSpec] = None): DataFrame = {
    val q = array(queryVec.map(v => lit(v)).toIndexedSeq: _*)
    val filtered = filter.map(f => store.where(FilterSpec.compile(f))).getOrElse(store)
    filtered
      .withColumn("score", vecCosine(col(embeddingCol), q))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** O2: merge per-topic result lists keeping the HIGHEST score per
    * (video, start) key — window row_number, not dropDuplicates, because
    * the reference dedups after a score-desc sort (query_agent.py:284-298)
    * which keeps the best-scoring duplicate. The cut orders by score
    * desc, then the key columns ascending — the reference merge order
    * `(-score, video_id, start)` — so ties at the k-th place are kept
    * deterministically.
    */
  def mergeTopicResults(
      results: Seq[DataFrame],
      keyCols: Seq[String],
      scoreCol: String,
      limit: Int): DataFrame = {
    require(results.nonEmpty, "at least one topic result required")
    val unioned = results.reduce(_ unionByName _)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(scoreCol).desc)
    unioned
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
      .orderBy(col(scoreCol).desc +: keyCols.map(col): _*)
      .limit(limit)
  }

  /** Top-k neighbors for EVERY query row (similarity-search extension):
    * broadcast the (small) query set, score each store row against each
    * query, window-rank per query. For large query sets use the LSH path
    * in [[graft.ops.Similarity]].
    */
  def neighbors(
      store: DataFrame,
      queries: DataFrame,
      k: Int,
      storeEmbCol: String = "embedding",
      queryEmbCol: String = "q_embedding",
      storeIdCol: String = "vec_id",
      queryIdCol: String = "q_id"): DataFrame = {
    val crossed = store.crossJoin(broadcast(queries))
      .withColumn("score", vecCosine(col(storeEmbCol), col(queryEmbCol)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(storeIdCol))
    crossed
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryIdCol), col(storeIdCol), col("score"), col("rank"))
  }
}
