package graft.etl

import graft.chunk.Snippet
import graft.external.{MetadataFetcher, TranscriptFetcher, VideoMeta}
import graft.functions.TimeFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Extract stage (SURVEY.md §3.1; reference fetch_raw_data.py):
  * S3 recursive JSON document read, J4 work discovery, J3 enrichment
  * merge, S8 partitioned sink.
  *
  * Scale posture: the JSON read is a schema'd distributed scan (one task
  * per file split, no driver listing loop); work discovery is an
  * anti-join (the reference's in-memory python sets become a distributed
  * set difference); the sink partitions by year/month so downstream
  * reads prune partitions.
  */
object Extract {

  val videoSchema = Encoders.product[VideoDoc].schema

  /** S3: recursive JSON doc scan — one `VideoDoc` per file, any depth
    * (reference `RAW_JSON_DIR.rglob("*.json")`, fetch_raw_data.py:60-62).
    * multiLine because each file is one pretty-printed JSON object.
    */
  def readRawDocs(spark: SparkSession, dir: String): Dataset[VideoDoc] = {
    import spark.implicits._
    spark.read
      .schema(videoSchema)
      .option("multiLine", true)
      .option("recursiveFileLookup", true)
      .json(dir)
      .as[VideoDoc]
  }

  /** J4: work discovery — catalog ids minus (processed ∪ skipped)
    * (fetch_raw_data.py:64-67). Anti-join, not driver-side sets.
    */
  def discoverWork(
      catalog: DataFrame,
      processedIds: DataFrame,
      skippedIds: DataFrame,
      idCol: String = "video_id"): DataFrame = {
    val done = processedIds.select(col(idCol)).union(skippedIds.select(col(idCol)))
    catalog.join(done, Seq(idCol), "left_anti")
  }

  /** J3: enrichment merge — inner join with the (stub) API metadata,
    * right side wins on column conflicts (the reference's
    * `dict(video) | youtube_api_data[video_id]`, fetch_raw_data.py:82-93;
    * ids missing on either side drop out of the inner join, and the
    * unmatched-row capture is the caller's `left` + null-check variant).
    */
  def enrich(work: DataFrame, apiData: DataFrame, idCol: String = "video_id"): DataFrame = {
    // Right-wins on conflicts = drop the left's conflicting columns, then
    // a plain using-column inner join.
    val conflicts = work.columns.toSet.intersect(apiData.columns.toSet) - idCol
    val left = conflicts.foldLeft(work)((df, c) => df.drop(c))
    left.join(apiData, Seq(idCol), "inner")
  }

  /** S1: catalog table scan over JDBC (the reference's MySQL source,
    * database.py:69-104). Predicates composed on the returned DataFrame
    * push down into the remote query (`PushedFilters` on the JDBC scan),
    * mirroring the reference's hand-built `WHERE channel_id < 3`.
    */
  def readJdbcTable(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .load()

  /** S2: one-time staging snapshot — write only when the target does not
    * exist yet (the reference's MySQL->SQLite cache guarded by an
    * existence check, fetch_raw_data.py:42-48). Returns the snapshot.
    */
  def ensureSnapshot(spark: SparkSession, source: => DataFrame, path: String): DataFrame = {
    if (!graft.core.FsUtil.exists(spark, path))
      source.write.mode("errorifexists").parquet(path)
    spark.read.parquet(path)
  }

  /** S11: skip/failure state as a small JSON checkpoint used as J4/J5
    * anti-join input (fetch_raw_data.py:20-39,108-117). Missing file ->
    * empty state (the reference's corrupt/absent-file fallback).
    * Carries the skip `reason` ("disabled" / "no_translatable",
    * transcript.py:40-89); legacy reason-less checkpoints read as null.
    */
  def readSkipState(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (graft.core.FsUtil.exists(spark, path))
      spark.read.schema("video_id STRING, reason STRING").json(path)
    else Seq.empty[(String, String)].toDF("video_id", "reason")
  }

  /** S11 writeback: overwrite the skip-state checkpoint (a `reason`
    * column is persisted when present).
    */
  def writeSkipState(ids: DataFrame, path: String): Unit = {
    val out = if (ids.columns.contains("reason"))
      ids.select(col("video_id"), col("reason")) else ids.select(col("video_id"))
    out.coalesce(1).write.mode("overwrite").json(path)
  }

  /** S4: batched metadata enrichment — <= `batchSize` ids per API call,
    * inside mapPartitions (youtube.py:44-81; the reference's 50-id
    * batching becomes per-partition grouped calls, so the connector sees
    * identical batch shapes at any scale).
    */
  def fetchMetadata(
      ids: Dataset[String],
      fetcher: MetadataFetcher,
      batchSize: Int = 50): Dataset[VideoMeta] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.grouped(batchSize).flatMap(b => fetcher.fetch(b).valuesIterator))
  }

  /** S5: per-video transcript fetch; videos with no transcript get an
    * empty snippet list and a false flag (the status the reference
    * records in its skip state).
    */
  def fetchTranscripts(
      ids: Dataset[String],
      fetcher: TranscriptFetcher): Dataset[(String, Boolean, Seq[Snippet])] = {
    import ids.sparkSession.implicits._
    ids.map { id =>
      fetcher.fetch(id) match {
        case Some(snips) => (id, true, snips)
        case None => (id, false, Seq.empty[Snippet])
      }
    }
  }

  /** S5 with the reference's full outcome taxonomy
    * (transcript.py:40-89): fetched / skipped(reason) / error. Feed
    * `status = "skipped"` rows (with reason) into [[writeSkipState]];
    * `"error"` rows are NOT skip-listed, so they re-enter
    * [[discoverWork]] on the next run — exactly the reference's
    * "return None -> retried, return video_id -> skipped" split
    * (fetch_raw_data.py:105-117).
    */
  def fetchTranscriptsDetailed(
      ids: Dataset[String],
      fetcher: TranscriptFetcher): Dataset[TranscriptFetchRow] = {
    import ids.sparkSession.implicits._
    ids.map { id =>
      fetcher.fetchDetailed(id) match {
        case graft.external.TranscriptOutcome.Fetched(snips) =>
          TranscriptFetchRow(id, "fetched", None, snips)
        case graft.external.TranscriptOutcome.Skip(reason) =>
          TranscriptFetchRow(id, "skipped", Some(reason), Seq.empty)
        case graft.external.TranscriptOutcome.TransientError =>
          TranscriptFetchRow(id, "error", None, Seq.empty)
      }
    }
  }

  /** S8: partitioned document sink — year/month derived from
    * published_at, epoch 0 -> "unknown" (processing.py:20-32). JSON to
    * mirror the reference layout; parquet is the engine-native option.
    * JSON writes one document per file, the reference's
    * `<video_id>.json` layout, which is what [[readRawDocs]]'s multiLine
    * scan (one document per file) reads back in full.
    */
  def writePartitioned(
      docs: DataFrame,
      root: String,
      format: String = "json",
      epochCol: String = "published_at",
      mode: String = "overwrite"): Unit = {
    val writer = docs
      .withColumn("year", TimeFunctions.partitionYear(col(epochCol)))
      .withColumn("month", TimeFunctions.partitionMonth(col(epochCol)))
      .write
      .partitionBy("year", "month")
      .mode(mode)
      .format(format)
    (if (format == "json") writer.option("maxRecordsPerFile", 1L) else writer).save(root)
  }
}
