package graft.query

import graft.external.{Answerer, ContextDoc, Embedder, ParsedQuery, QueryParser}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The reference's `QueryAgent.process_query` retrieval lifecycle
  * (SURVEY.md §3.3; loaders/agents/query_agent.py:234-390) with the two
  * LLM calls held behind the external traits:
  *
  *   parse (external) -> compile filter (P4-P8) -> per-topic hybrid
  *   search (P7 + O5) -> merge/dedup/top-k (O2) -> display sort (O1)
  *   -> answer (external) -> citation join (J7 + A4) -> render (F5/F7).
  *
  * Engine-side the search is declarative DataFrame composition: the
  * metadata filter lands on the scan (pushdown) and top-k compiles to
  * TakeOrderedAndProject. [[retrieve]] executes that plan once and
  * collects its <= `contextCount` rows — the same bounded set the
  * reference sends to its LLM. [[process]] builds the answerer's
  * context and the J7/A4/O3 citation step from those collected rows in
  * plain Scala and renders them (F5/F7) as a projection over a local
  * relation, so a question costs the one retrieval execution and cites
  * exactly the rows the answerer saw.
  */
class QueryEngine(
    store: DataFrame,
    parser: QueryParser,
    answerer: Answerer,
    embedder: Embedder,
    contextCount: Int = 120,
    // "Current year" used by after-N filters (reference semantics).
    // Captured ONCE at construction so every plan the engine builds is
    // reproducible across calls and year boundaries; inject a fixed
    // value in tests.
    nowYear: Int = java.time.LocalDate.now(java.time.ZoneOffset.UTC).getYear)
  extends Serializable {

  /** P4-P8 filter compilation, bug-for-bug with the reference
    * (loaders/utils/filtering.py:18-123): exact year -> [Jan 1, Dec 31
    * 23:59:59]; range "a-b" -> [Jan 1 a, Dec 31 b]; before y ->
    * [2012-01-01 epoch floor, Dec 31 (y-1)]; after y -> [Jan 1 (y+1),
    * Dec 31 of the CURRENT year]; shows -> $in; each host -> substring
    * match (the reference's escaped-%LIKE% equals literal contains).
    */
  def buildFilter(
      pq: ParsedQuery,
      nowYear: Int = this.nowYear): Option[FilterSpec] = {
    def jan1(y: Int): Long =
      java.time.LocalDate.of(y, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    def dec31(y: Int): Long =
      java.time.LocalDate.of(y, 12, 31).atTime(23, 59, 59)
        .toEpochSecond(java.time.ZoneOffset.UTC)
    val parts = Seq.newBuilder[FilterSpec]
    (pq.exactYear, pq.yearRange, pq.beforeYear, pq.afterYear) match {
      case (Some(y), _, _, _) =>
        parts += FilterSpec.Gte("published_at", jan1(y))
        parts += FilterSpec.Lte("published_at", dec31(y))
      case (None, Some((a, b)), _, _) =>
        parts += FilterSpec.Gte("published_at", jan1(a))
        parts += FilterSpec.Lte("published_at", dec31(b))
      case (None, None, Some(y), _) =>
        // Reference floors "before" at the 2012-01-01 default epoch.
        parts += FilterSpec.Gte("published_at", 1325376000L)
        parts += FilterSpec.Lte("published_at", dec31(y - 1))
      case (None, None, None, Some(y)) =>
        parts += FilterSpec.Gte("published_at", jan1(y + 1))
        parts += FilterSpec.Lte("published_at", dec31(nowYear))
      case _ => ()
    }
    if (pq.shows.nonEmpty) parts += FilterSpec.In("show_name", pq.shows)
    pq.hosts.foreach(h => parts += FilterSpec.Contains("hosts", h))
    val built = parts.result()
    if (built.isEmpty) None else Some(FilterSpec.And(built))
  }

  /** Retrieval: per-topic hybrid (title/text ILIKE) + vector top-k,
    * merged with keep-best-score dedup and capped at `contextCount`,
    * then the (published_at, video_id, start_time) display sort.
    *
    * Mirrors query_agent.py:234-306 exactly: with no filter AND no
    * topics nothing is searched; with topics, the embedding query for
    * topic T is the SIBLING topics comma-joined (or the raw query when
    * T is the only topic) while T itself drives the hybrid ILIKE
    * metadata filter (:273-281).
    *
    * Eager and bounded: the plan runs once here and its <= `contextCount`
    * rows come back as a DataFrame over a `LocalRelation` (same schema,
    * same display order), so every consumer reuses this one result.
    */
  def retrieve(query: String): DataFrame = {
    val (rows, schema) = retrieveRows(query)
    store.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** [[retrieve]]'s rows as collected, in display order, with their schema. */
  private def retrieveRows(query: String): (Seq[Row], StructType) = {
    val pq = parser.parse(query)
    val filter = buildFilter(pq)
    val base = filter.map(f => store.where(FilterSpec.compile(f))).getOrElse(store)
    val searches: Seq[DataFrame] =
      if (pq.topics.isEmpty) {
        if (filter.isEmpty) Seq.empty // reference returns None: no search
        else {
          val qv = embedder.embed(Seq(query)).head
          Seq(Retriever.topK(base, "embedding", "video_id", qv, contextCount))
        }
      } else pq.topics.map { t =>
        // P7: case-insensitive hybrid disjunction over title OR text.
        val hybrid = base.where(
          lower(col("title")).contains(t.toLowerCase) ||
          lower(col("text")).contains(t.toLowerCase))
        val siblings = pq.topics.filterNot(_ == t)
        val searchText = if (siblings.nonEmpty) siblings.mkString(", ") else query
        val qv = embedder.embed(Seq(searchText)).head
        Retriever.topK(hybrid, "embedding", "video_id", qv, contextCount)
      }
    val plan =
      if (searches.isEmpty) {
        store.select(store.columns.map(col).toIndexedSeq: _*)
          .withColumn("score", lit(0.0)).limit(0)
          .orderBy(col("published_at"), col("video_id"), col("start_time"))
      } else Retriever.mergeTopicResults(
          searches, Seq("video_id", "start_time"), "score", contextCount)
        .orderBy(col("published_at"), col("video_id"), col("start_time"))
    (plan.collect().toSeq, plan.schema)
  }

  /** Full lifecycle: retrieve, answer (external), then the J7+A4+O3
    * citation step and F5/F7 rendering. Returns (answer, rendered
    * citations).
    *
    * Only the retrieval runs a Spark job: the context and the citation
    * step read the rows it collected, and the rendered citations are a
    * projection over a local relation that Spark evaluates on the
    * driver ([[Citations.localSources]]).
    */
  def process(query: String): (graft.external.AgentAnswer, DataFrame) = {
    val (rows, schema) = retrieveRows(query)
    val (vid, start, text) =
      (schema.fieldIndex("video_id"), schema.fieldIndex("start_time"), schema.fieldIndex("text"))
    val context = rows.map(r => ContextDoc(r.getString(vid), r.getDouble(start), r.getString(text)))
    val answer = answerer.answer(query, context)
    val rendered = Citations.localSources(store.sparkSession, rows, schema,
      answer.sources, "video_id", "start_time")
    (answer, rendered)
  }
}
