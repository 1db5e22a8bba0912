package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** A standing store: a set of Parquet catalog tables
  * `<tablePrefix>_<name>`, with files at `<basePath>/<name>` when a
  * `basePath` is given (managed by the warehouse otherwise). The
  * corpus index, the line-stats store, the token store and the IVF-PQ
  * vector index are all one: catalog entries last one session, the
  * files outlive it, and a later session rebinds the tables from the
  * files. This is the only place that decision is written down.
  *
  * Bucketed tables are bucketed AND sorted by their one bucket column,
  * so a join or aggregation on that key plans without an exchange and
  * a filter on it prunes buckets at the scan. A store with a bucketed
  * table keeps its bucket count in the one-row `_meta` table's
  * `num_buckets`; appends and rebinds read it from there.
  *
  * A store's layout is its `(name, bucket column)` list; a rebind
  * restores each table with its schema read from the files and its
  * bucket spec from the layout and `_meta`, so a rebound table plans
  * exactly like the one the writing session created.
  */
final case class StandingStore(
    spark: SparkSession, tablePrefix: String, basePath: String) {

  private def tableName(name: String): String = s"${tablePrefix}_$name"

  def table(name: String): DataFrame = spark.table(tableName(name))

  private def isLive(name: String): Boolean = spark.catalog.tableExists(tableName(name))

  /** Whether `name` has committed files (`_SUCCESS`) under `basePath`. */
  private def hasFiles(name: String): Boolean = basePath != null && {
    val p = new org.apache.hadoop.fs.Path(s"$basePath/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
  }

  /** The one `_meta` row. */
  def meta: Row = table("meta").head()

  private def numBuckets: Int = meta.getAs[Int]("num_buckets")

  private def writer(name: String, df: DataFrame) = {
    val w = df.write.mode("overwrite").format("parquet")
    if (basePath == null) w else w.option("path", s"$basePath/$name")
  }

  /** Overwrite `name` with `df`, unbucketed. */
  def write(name: String, df: DataFrame): Unit =
    writer(name, df).saveAsTable(tableName(name))

  /** Overwrite `name` with `df`, bucketed and sorted by `bucketCol`. */
  def writeBucketed(name: String, df: DataFrame, bucketCol: String,
      numBuckets: Int): Unit =
    writer(name, df).bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(tableName(name))

  /** Overwrite `_meta` with one row of `cols` (Int or Double values). */
  def writeMeta(cols: (String, Any)*): Unit = {
    val schema = StructType(cols.map { case (n, v) =>
      StructField(n, v match {
        case _: Int => IntegerType
        case _: Double => DoubleType
      }, nullable = false)
    })
    write("meta", spark.createDataFrame(
      java.util.List.of(Row.fromSeq(cols.map(_._2))), schema))
  }

  /** Append each `(name, rows, bucket column)` to its bucketed table,
    * into `_meta`'s bucket count (read once).
    */
  def append(tables: (String, DataFrame, String)*): Unit = {
    val nb = numBuckets
    for ((name, df, bucketCol) <- tables)
      df.write.mode("append").format("parquet")
        .bucketBy(nb, bucketCol).sortBy(bucketCol)
        .saveAsTable(tableName(name))
  }

  /** Bind each `(name, bucket column)` of `tables` that is not live and
    * has committed files: `CREATE TABLE … LOCATION` over the files,
    * with the schema read from them and, for a bucketed table, the
    * bucket count from `_meta` (rebound first). Idempotent.
    */
  def rebind(tables: (String, Option[String])*): Unit =
    for ((name, bucketCol) <- tables if !isLive(name) && hasFiles(name)) {
      val path = s"$basePath/$name"
      val ddl = spark.read.parquet(path).schema.toDDL
      val buckets = bucketCol.fold("") { c =>
        rebind("meta" -> None)
        s"CLUSTERED BY ($c) SORTED BY ($c) INTO $numBuckets BUCKETS "
      }
      spark.sql(s"CREATE TABLE ${tableName(name)} ($ddl) USING PARQUET " +
        s"${buckets}LOCATION '$path'")
    }

  /** The idempotent order for the store whose first table is
    * `tables.head`: nothing when that table is live in the catalog,
    * [[rebind]] `tables` when its files exist, `build` otherwise.
    */
  def ensure(tables: (String, Option[String])*)(build: => Unit): Unit = {
    val key = tables.head._1
    if (!isLive(key)) {
      if (hasFiles(key)) rebind(tables: _*) else build
    }
  }
}
