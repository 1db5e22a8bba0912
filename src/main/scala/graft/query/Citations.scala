package graft.query

import graft.functions.TimeFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's user-visible citation path (SURVEY.md §3.3;
  * loaders/agents/query_agent.py:117-191): filter retrieved docs to the
  * LLM-cited ones, group per video collecting the cited timestamps,
  * sort for display, and render timestamp/URL strings.
  */
object Citations {

  /** J7 — bug-for-bug with the reference (query_agent.py:117-133): the
    * cited-id and cited-timestamp memberships are INDEPENDENT `IN`s, not
    * pairwise (a doc passes when its video is cited by anyone AND its
    * int-truncated start matches any cited time, even of another video).
    * Two semi-joins on projected columns preserve exactly that; a
    * left-semi join ignores build-side duplicates, so neither side is
    * deduplicated first.
    */
  def citedDocuments(
      retrieved: DataFrame,
      cited: DataFrame,
      idCol: String,
      timeCol: String): DataFrame = {
    val ids = cited.select(col(idCol))
    val times = cited.select(col(timeCol).cast("int").as(timeCol))
    retrieved
      .withColumn(timeCol, col(timeCol).cast("int"))
      .join(ids, Seq(idCol), "left_semi")
      .join(times, Seq(timeCol), "left_semi")
  }

  /** A4 + O3 — group cited docs per video accumulating the sorted set of
    * int timestamps (query_agent.py:121-158). `array_sort(collect_set)`
    * is the deterministic declared form of the reference's `set[int]` +
    * per-video asc sort.
    */
  def groupCitations(docs: DataFrame, idCol: String, timeCol: String): DataFrame =
    docs.groupBy(col(idCol))
      .agg(array_sort(collect_set(col(timeCol).cast("int"))).as("timestamps"),
        count(lit(1)).as("n_cites"))

  /** F7 — watch URL with the reference's +10s start buffer
    * (query_agent.py:170-190; buffer loaders/utils/config.py:17).
    */
  def watchUrl(videoId: Column, startSec: Column): Column =
    concat(lit("https://www.youtube.com/watch?v="), videoId,
      lit("&t="), (startSec.cast("long") + 10), lit("s"))

  /** F5 — display timestamp `H:MM:SS` / `M:SS` (query_agent.py:161-168). */
  def displayTimestamp(startSec: Column): Column = TimeFunctions.hms(startSec)

  /** O3 + F5/F7 — the reference's structured source list
    * (query_agent.py:146-191): one row per cited video sorted by
    * release date, carrying video/thumbnail links and a `references`
    * array of (timestamp_sec = t+buffer, formatted_time of the RAW t,
    * timestamp_href) structs for every cited timestamp ascending.
    *
    * `grouped` is [[groupCitations]] output; `meta` is video-grain
    * metadata (idCol, title, show_name, published_at).
    */
  def structuredSources(grouped: DataFrame, meta: DataFrame, idCol: String): DataFrame =
    grouped
      .join(meta.select(col(idCol), col("title"), col("show_name"),
        col("published_at")).dropDuplicates(idCol), Seq(idCol))
      .select(
        col("title"), col("show_name"), col("published_at"),
        concat(lit("https://www.youtube.com/watch?v="), col(idCol)).as("video_href"),
        concat(lit("https://i.ytimg.com/vi/"), col(idCol), lit("/mqdefault.jpg"))
          .as("thumbnail_src"),
        transform(col("timestamps"), t => struct(
          (t.cast("long") + 10).as("timestamp_sec"),
          TimeFunctions.hms(t).as("formatted_time"),
          concat(lit("https://www.youtube.com/watch?v="), col(idCol),
            lit("&t="), (t.cast("long") + 10), lit("s")).as("timestamp_href")))
          .as("references"))
      .orderBy(col("published_at"))

  /** F15/F20 — the reference's per-doc LLM context block
    * (query_agent.py:308-328): numbered transcript text + JSON metadata,
    * numbering in display order.
    */
  def formatContext(docs: DataFrame, orderCols: Seq[String], textCol: String,
      metaCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    docs
      .withColumn("__idx", row_number().over(w))
      .withColumn("page_content",
        format_string("TRANSCRIPT #%d TEXT:\n```%s```\nTRANSCRIPT #%d METADATA:\n```%s```\n\n",
          col("__idx"), col(textCol), col("__idx"),
          to_json(struct(metaCols.map(col): _*))))
      .drop("__idx")
  }
}
