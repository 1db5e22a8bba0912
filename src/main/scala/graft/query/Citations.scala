package graft.query

import graft.functions.TimeFunctions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The reference's user-visible citation path (SURVEY.md §3.3;
  * loaders/agents/query_agent.py:117-191): filter retrieved docs to the
  * LLM-cited ones, group per video collecting the cited timestamps,
  * sort for display, and render timestamp/URL strings.
  *
  * Two forms share one renderer ([[renderSources]]): the DataFrame
  * operators ([[citedDocuments]] -> [[groupCitations]] ->
  * [[structuredSources]]) for batch callers, and [[localSources]],
  * which runs J7/A4/O3 in plain Scala over rows already on the driver
  * (a RAG question's bounded retrieval result) and renders them
  * without a Spark job.
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
    * release date, then video id, rendered by [[renderSources]].
    *
    * `grouped` is [[groupCitations]] output; `meta` is video-grain
    * metadata (idCol, title, show_name, published_at).
    */
  def structuredSources(grouped: DataFrame, meta: DataFrame, idCol: String): DataFrame =
    renderSources(
      grouped
        .join(meta.select(col(idCol), col("title"), col("show_name"),
          col("published_at")).dropDuplicates(idCol), Seq(idCol))
        .orderBy(col("published_at"), col(idCol)),
      idCol)

  /** F5/F7 — render one row per cited video (idCol, `timestamps`,
    * title, show_name, published_at) into video/thumbnail links and a
    * `references` array of (timestamp_sec = t+buffer, formatted_time of
    * the RAW t, timestamp_href) structs for every cited timestamp
    * ascending. A pure projection, so over a local relation Spark
    * evaluates it on the driver (ConvertToLocalRelation), with no job.
    */
  def renderSources(videos: DataFrame, idCol: String): DataFrame =
    videos.select(
      col("title"), col("show_name"), col("published_at"),
      concat(lit("https://www.youtube.com/watch?v="), col(idCol)).as("video_href"),
      concat(lit("https://i.ytimg.com/vi/"), col(idCol), lit("/mqdefault.jpg"))
        .as("thumbnail_src"),
      transform(col("timestamps"), t => struct(
        (t.cast("long") + 10).as("timestamp_sec"),
        displayTimestamp(t).as("formatted_time"),
        watchUrl(col(idCol), t).as("timestamp_href")))
        .as("references"))

  /** J7 + A4 + O3 over retrieved rows already on the driver, rendered
    * by [[renderSources]] over a local relation: the same result, row
    * order and column types as [[citedDocuments]] -> [[groupCitations]]
    * -> [[structuredSources]] over those rows, with no Spark job.
    *
    * `rows` must be in display order (published_at, idCol, ...), as
    * `QueryEngine.retrieve` returns them, and carry `schema`'s idCol,
    * timeCol, title, show_name and published_at. J7 keeps the
    * reference's two independent memberships; A4 collects each video's
    * distinct int-truncated cited starts ascending and takes its
    * metadata from its first row; O3 (published_at, idCol) is the order
    * in which videos first appear in the display-sorted rows.
    */
  def localSources(
      spark: SparkSession,
      rows: Seq[Row],
      schema: StructType,
      cited: Seq[(String, Int)],
      idCol: String,
      timeCol: String): DataFrame = {
    val metaCols = Seq("title", "show_name", "published_at")
    val id = schema.fieldIndex(idCol)
    val time = schema.fieldIndex(timeCol)
    val meta = metaCols.map(schema.fieldIndex)
    val ids = cited.map(_._1).toSet
    val times = cited.map(_._2).toSet
    val byVideo = scala.collection.mutable.LinkedHashMap.empty[String, (Row, Set[Int])]
    rows.foreach { r =>
      // A null key never matches the semi-joins' equality.
      if (!r.isNullAt(id) && !r.isNullAt(time)) {
        val v = r.getString(id)
        val t = r.getAs[Number](time).intValue
        if (ids(v) && times(t)) {
          val (first, ts) = byVideo.getOrElse(v, (r, Set.empty[Int]))
          byVideo(v) = (first, ts + t)
        }
      }
    }
    val out = byVideo.toSeq.map { case (v, (first, ts)) =>
      Row.fromSeq(v +: ts.toSeq.sorted +: meta.map(first.get))
    }
    val outSchema = StructType(
      schema(idCol) +: StructField("timestamps", ArrayType(IntegerType, false), false) +:
        metaCols.map(schema(_)))
    renderSources(spark.createDataFrame(out.asJava, outSchema), idCol)
  }

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
