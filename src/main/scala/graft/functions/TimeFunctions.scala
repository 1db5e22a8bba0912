package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Date/time column functions from SURVEY.md §2.7 (F1,F2,F4,F5,F6,F18).
  * All pure built-ins; session timezone is pinned UTC so epoch math is
  * deterministic across executors.
  */
object TimeFunctions {

  /** F1 `yt_datetime_to_epoch`: ISO-8601 `...Z` string -> epoch seconds,
    * unparsable/empty -> 0.
    */
  def isoToEpoch(c: Column): Column =
    coalesce(unix_timestamp(try_to_timestamp(c)), lit(0L))

  /** F4 `format_duration` (loaders/utils/helpers/datetime.py:25-39):
    * "H hour(s), M minute(s), S.SS seconds" — hours/minutes only when
    * nonzero (each pluralized when > 1), seconds always with 2 decimals.
    */
  def formatDuration(secs: Column): Column = {
    val h = floor(secs / 3600).cast("long")
    val m = floor((secs % 3600) / 60).cast("long")
    val s = secs % 60
    val hPart = when(h > 0,
      concat(h, when(h === 1, lit(" hour, ")).otherwise(lit(" hours, "))))
      .otherwise(lit(""))
    val mPart = when(m > 0,
      concat(m, when(m === 1, lit(" minute, ")).otherwise(lit(" minutes, "))))
      .otherwise(lit(""))
    concat(hPart, mPart, format_string("%.2f seconds", s))
  }

  /** F5: seconds -> "H:MM:SS" when >= 1h else "M:SS" (display timestamp). */
  def hms(secs: Column): Column = {
    val t = floor(secs).cast("long")
    val h = (t / 3600).cast("long")
    val m = ((t % 3600) / 60).cast("long")
    val s = (t % 60).cast("long")
    when(h > 0, format_string("%d:%02d:%02d", h, m, s))
      .otherwise(format_string("%d:%02d", m, s))
  }

  /** F6: epoch seconds -> partition year string, 0 -> "unknown". */
  def partitionYear(epoch: Column): Column =
    when(epoch === 0, lit("unknown"))
      .otherwise(year(to_timestamp(from_unixtime(epoch))).cast("string"))

  /** F6: epoch seconds -> zero-padded partition month, 0 -> "unknown". */
  def partitionMonth(epoch: Column): Column =
    when(epoch === 0, lit("unknown"))
      .otherwise(lpad(month(to_timestamp(from_unixtime(epoch))).cast("string"), 2, "0"))

  /** F18: number of fixed-size chunks covering a duration (audio chunking). */
  def chunkCount(durationSecs: Column, chunkSecs: Long): Column =
    ceil(durationSecs / chunkSecs.toDouble).cast("long")
}
