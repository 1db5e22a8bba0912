package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the driver test data (TESTDATA.md).
  *
  * At 100 TB these reads are partitioned parquet scans; everything
  * downstream relies on Catalyst pushing filters/projections into the
  * scan, so no caching or driver-side materialization happens here.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  /** The events table's `ts` has shipped in three parquet spellings of
    * the same UTC instants: TIMESTAMP(NANOS) (Spark reads as long under
    * spark.sql.legacy.parquet.nanosAsLong=true, set by Verify/Bench/
    * Sessions), tz-naive TIMESTAMP(MICROS) (Spark reads as
    * TIMESTAMP_NTZ), and tz-aware micros (plain TimestampType). The
    * engine's time arithmetic (`unix_micros`, interval bin joins, RANGE
    * frames) requires TimestampType, so normalize ALL spellings here.
    * The reference treats naive timestamps as UTC; with the session TZ
    * pinned to UTC the NTZ→LTZ cast is exact (no wall-clock shift).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"), "ts")

  /** Canonicalize a timestamp column to TimestampType (UTC semantics),
    * whatever parquet spelling it arrived in. Integer arithmetic only —
    * no double-precision round trip.
    */
  def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact row count from parquet FOOTERS — a driver-side metadata read
    * (KBs per file), zero Spark jobs. For statistics consumed during
    * query CONSTRUCTION (e.g. sizing an LSH plane count to the corpus):
    * an eager `df.count()` there launches a full scan job before the
    * real query starts, once per invocation. Works through the Hadoop
    * FileSystem API, so HDFS/S3 paths behave like local ones.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var total = 0L
    var files = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        files += 1
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try total += r.getRecordCount finally r.close()
      }
    }
    // Loud failure over a silent 0: a layout change (no .parquet suffix,
    // a directory holding only _SUCCESS) would otherwise feed 0 into
    // statistics consumers and silently misconfigure them.
    require(files > 0, s"no .parquet files found under $path")
    total
  }
}
