package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CROSS-DOCUMENT boilerplate line removal (§2.11 extensions, quality
  * family): strip lines that repeat across many documents — navigation
  * chrome, cookie banners, footers, license headers — the corpus-level
  * counterpart of [[QualityFilter.repetitionStats]]'s within-document
  * signals (C4 removes boilerplate at the line level; MassiveText and
  * Dolma both ship a min-documents line filter; Penedo et al. 2023
  * (RefinedWeb) document the same pass).
  *
  * Semantics: a LINE is a trimmed, non-empty newline segment of the
  * document; a line is boilerplate when it occurs in at least
  * `minDocs` DISTINCT documents (occurrence count within one document
  * does not qualify it — a poem's repeated refrain is repetition, not
  * boilerplate). Cleaning preserves the relative order of surviving
  * lines and re-joins with a single newline; a document whose every
  * line is boilerplate cleans to the empty string (and is the caller's
  * drop candidate).
  *
  * Scale shape: ONE line-grain explode feeding a map-side-combined
  * (line → distinct-doc count) aggregation over line HASHES (xxhash64
  * — the skinny shuffle; full line strings never shuffle for the
  * count), a semi-join of the document's lines against the boilerplate
  * hash set (AQE broadcasts it when small — the common case: the
  * boilerplate vocabulary is tiny next to the corpus), and one
  * doc-grain reassembly. Hash collisions: a collision can only
  * over-count a line toward boilerplate (two lines sharing a 64-bit
  * hash pool their doc counts) — at 2^-64 per pair this is the
  * established xxhash64 grouping trade ([[Dedup]]'s exact families use
  * the same key); the REMOVAL join rechecks nothing because the
  * decision is hash-keyed end to end, keeping the oracle replay exact
  * under the identical convention.
  */
object Boilerplate {

  /** The trimmed non-empty lines of a text column, with position. */
  private def lines(textCol: Column): Column =
    filter(transform(split(coalesce(textCol, lit("")), "\n"), l => trim(l)),
      l => l =!= lit(""))

  /** Per-line corpus stats: (line_hash, n_docs, n_occurrences) — the
    * relation a curation pipeline inspects to pick `minDocs` (and the
    * top of which IS the site's boilerplate inventory).
    */
  def lineStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"), explode(lines(col(textCol))).as("__l"))
      .select(col("__id"), xxhash64(col("__l")).as("line_hash"))
      .groupBy(col("line_hash"))
      .agg(count_distinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))

  /** Remove cross-document boilerplate lines: one row per input row —
    * (idCol, clean_text, n_kept, n_removed), order-preserving, lines
    * re-joined with a single newline.
    *
    * TWO execution paths, value-identical (OpsSpec pin), dispatched on
    * the measured boilerplate-set size (the q142 bloom break-even
    * discipline — one bounded count() action buys the right plan):
    *
    *  - MAP-ONLY (the common case: the boilerplate vocabulary is tiny
    *    next to the corpus): the flagged hashes aggregate into ONE
    *    sorted array row, cross-join/broadcast to every document, and
    *    each doc filters its own lines with a binary-search membership
    *    HOF ([[graft.functions.SortedContainsExpr]], O(log |set|) per
    *    line). The corpus text NEVER shuffles — order preservation is
    *    free because the document row is never taken apart; the only
    *    exchanges are [[lineStats]]'s skinny hash aggregation and the
    *    one-row broadcast.
    *  - JOIN (the large-set fallback, > `broadcastMaxLines` flagged
    *    hashes): line-grain posexplode, left join against the
    *    boilerplate relation, doc-grain collect_list rebuild — the
    *    full-corpus reshuffle is the price of not broadcasting an
    *    oversized set.
    *
    * `broadcastMaxLines` = 0 forces the join form; Long.MaxValue
    * forces map-only. The 1M default is a MEMORY bound, not CPU (8 MB
    * of hashes broadcast; binary search keeps per-line cost at ~20
    * comparisons even there).
    */
  def removeCommonLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Long,
      broadcastMaxLines: Long = 1L << 20): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    dispatchRemove(df, textCol, idCol,
      lineStats(df, textCol, idCol)
        .where(col("n_docs") >= minDocs)
        .select(col("line_hash")),
      broadcastMaxLines)
  }

  /** Shared map-only/join dispatch on the measured boilerplate-set
    * size (see [[removeCommonLines]]). The count() is a bounded
    * action: at most one row per DISTINCT corpus line participates,
    * and the count is the exact quantity the dispatch needs.
    */
  private def dispatchRemove(
      df: DataFrame, textCol: String, idCol: String,
      boiler0: DataFrame, broadcastMaxLines: Long): DataFrame = {
    val boiler = graft.core.Caches.persistTracked(boiler0)
    val nBoiler =
      if (broadcastMaxLines == 0L || broadcastMaxLines == Long.MaxValue) 0L
      else boiler.count()
    if (broadcastMaxLines != 0L &&
        (broadcastMaxLines == Long.MaxValue || nBoiler <= broadcastMaxLines))
      removeMapOnly(df, textCol, idCol, boiler)
    else removeJoin(df, textCol, idCol, boiler)
  }

  // ------------------------------------------------- line-stats store

  /** MATERIALIZED line-stats store — boilerplate counts are
    * corpus-version state, kept as a [[graft.core.StandingStore]]
    * (rebind [[lineStatsTables]] after a restart): write once, bucketed
    * by line_hash; every increment APPENDS its batch-grain partial
    * counts (no history recount — the table holds per-batch partials
    * and [[storedLineStats]] merges them with a bucket-local, zero-
    * exchange aggregation); [[removeAgainstLineStats]] cleans any
    * relation against the standing counts.
    *
    * APPEND CONTRACT: batches carry NEW documents (append-only corpus
    * ingest — the same contract as [[Dedup.appendToCorpusIndex]]), so
    * distinct-doc counts ADD across batches; re-appending the same
    * documents would double-count them.
    */
  def writeLineStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tablePrefix: String = "graft_line_stats",
      basePath: String = null,
      numBuckets: Int = 32): Unit = {
    val store = graft.core.StandingStore(df.sparkSession, tablePrefix, basePath)
    store.writeBucketed("stats",
      lineStats(df, textCol, idCol), "line_hash", numBuckets)
    store.writeMeta("num_buckets" -> numBuckets)
  }

  /** The line-stats store's layout: table name -> bucket column. */
  val lineStatsTables: Seq[(String, Option[String])] =
    Seq("stats" -> Some("line_hash"), "meta" -> None)

  /** Append a NEW batch's partial counts (see the append contract on
    * [[writeLineStats]]) — one skinny batch-grain aggregation, no
    * history read.
    */
  def appendToLineStats(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      tablePrefix: String = "graft_line_stats"): Unit =
    graft.core.StandingStore(batch.sparkSession, tablePrefix, null).append(
      ("stats", lineStats(batch, textCol, idCol), "line_hash"))

  /** The standing merged counts: per-batch partials summed bucket-
    * locally (the store is bucketed by line_hash, so this aggregation
    * plans WITHOUT an exchange).
    */
  def storedLineStats(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String = "graft_line_stats"): DataFrame =
    spark.table(s"${tablePrefix}_stats")
      .groupBy(col("line_hash"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_occurrences")).as("n_occurrences"))

  /** [[removeCommonLines]] against the STANDING store instead of a
    * same-pass count — the incremental form: cleaning a new batch
    * against corpus history costs the store read, never a history
    * recount. Same map-only/join dispatch and output contract.
    */
  def removeAgainstLineStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Long,
      tablePrefix: String = "graft_line_stats",
      broadcastMaxLines: Long = 1L << 20): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    dispatchRemove(df, textCol, idCol,
      storedLineStats(df.sparkSession, tablePrefix)
        .where(col("n_docs") >= minDocs)
        .select(col("line_hash")),
      broadcastMaxLines)
  }

  /** The map-only path against a precomputed (line_hash) relation. */
  private[ops] def removeMapOnly(
      df: DataFrame, textCol: String, idCol: String,
      boiler: DataFrame): DataFrame = {
    val bset = boiler
      .agg(sort_array(collect_set(col("line_hash"))).as("__bset"))
    df.crossJoin(broadcast(bset))
      .select(col(idCol), lines(col(textCol)).as("__ls"), col("__bset"))
      .select(col(idCol), col("__ls"),
        filter(col("__ls"), l =>
          !org.apache.spark.sql.graftbridge.Bridge.column(
            graft.functions.SortedContainsExpr(
              org.apache.spark.sql.graftbridge.Bridge.expression(col("__bset")),
              org.apache.spark.sql.graftbridge.Bridge.expression(xxhash64(l)))))
          .as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__ls")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** The shuffle-join path against a precomputed (line_hash) relation. */
  private[ops] def removeJoin(
      df: DataFrame, textCol: String, idCol: String,
      boiler: DataFrame): DataFrame = {
    val docLines = df.select(col(idCol).as("__id"),
        posexplode(lines(col(textCol))))
      .select(col("__id"), col("pos").as("__p"), col("col").as("__l"),
        xxhash64(col("col")).as("line_hash"))
    val flagged = docLines
      .join(boiler.withColumn("__rm", lit(true)), Seq("line_hash"), "left")
      .select(col("__id"), col("__p"), col("__l"),
        coalesce(col("__rm"), lit(false)).as("__rm"))
    val rebuilt = flagged
      .groupBy(col("__id"))
      .agg(
        array_join(transform(filter(
          array_sort(collect_list(struct(col("__p").as("p"),
            col("__l").as("l"), col("__rm").as("rm")))),
          s => !s.getField("rm")), s => s.getField("l")), "\n")
          .as("clean_text"),
        sum(when(col("__rm"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"))
    df.select(col(idCol))
      .join(rebuilt, df(idCol) === rebuilt("__id"), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }
}
