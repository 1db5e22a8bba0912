package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Suite-wide invariant sweeps: run every `SparkEntry.suite()` row (so
  * `SPARK_GRAFT_ONLY` filters rows, as in Bench and Verify) under one
  * invariant, print one verdict line per row and an N/M summary, and
  * exit 1 when any row fails.
  *
  * Modes (`null`, `empty`, `single` and `respell` each build their own
  * copy of `srcDir` in a temp dir, deleted when the mode finishes):
  *   - `null`: content columns nulled on a deterministic row slice
  *     (every 7th row by id: documents.{text, lang, source, n_chars},
  *     embeddings.{embedding, label}, events.{event_type, value}); ids,
  *     join keys and the TPC-H business tables stay intact — the shape
  *     of corpus dirt (the record exists, the payload didn't survive).
  *     No row may throw. The test data is null-free, so the oracle
  *     gate never sees this hazard; typed pipelines and custom
  *     expressions are where a stray null becomes an NPE forty minutes
  *     into a real run.
  *   - `empty` / `single`: every table with its schema but zero rows /
  *     one row. No row may throw: at 100 TB some input slice is always
  *     empty (a new date partition, a first incremental batch), and
  *     `.head()` on an empty frame, max/min null unboxing or an index
  *     build over zero vectors are the traps the oracle can't see.
  *   - `respell`: each row on `srcDir` and on a value-preserving
  *     respelled copy (RespellSpec's spellings: INT32 ids, DOUBLE[]
  *     embeddings, NTZ timestamps — spellings the test data has shipped
  *     in) must give the same canonicalized rows. RespellSpec pins ~20
  *     rows per commit; this is the all-rows confirmation.
  *   - `lint`: no physical plan may carry a cartesian or a nested-loop
  *     join with a corpus-dependent build side ([[PlanLint]]); with
  *     `SPARK_GRAFT_ONLY` set it also prints each flagged build side.
  *
  * Usage: Sweep <null|empty|single|respell|lint> [srcDir]
  */
object Sweep {
  type Row = (String, (SparkSession, String) => DataFrame)

  private def errLine(name: String, e: Throwable): String =
    s"ERR  $name: " + Option(e.getMessage).getOrElse(e.getClass.getName)
      .replace('\n', ' ').take(250)

  /** Run `body` for every row; Right = pass (line printed as-is),
    * Left = failure (printed, counted). Exceptions become Left via
    * [[errLine]]. Every row's tracked and shared relations are released
    * before the next row runs. Returns the failure count.
    */
  def overQueries(rows: Seq[Row], label: String, summaryWord: String = "clean")(
      body: (String, (SparkSession, String) => DataFrame) => Either[String, String])
      : Int = {
    var bad = 0
    for ((name, fn) <- rows) {
      val outcome =
        try body(name, fn)
        catch { case e: Throwable => Left(errLine(name, e)) }
      graft.core.Caches.releaseAll(); graft.core.Caches.releaseShared()
      outcome match {
        case Right(line) => println(line)
        case Left(line) => bad += 1; println(line)
      }
    }
    println(s"$label: ${rows.size - bad}/${rows.size} $summaryWord")
    bad
  }

  private val tpch = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")

  private def copyTpch(src: String, dir: String): Unit =
    for (t <- tpch)
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

  /** `body` over a temp copy of the dataset that `fill` writes; the copy
    * is deleted once `body` returns or throws.
    */
  private def inTempCopy[A](label: String)(fill: String => Unit)(body: String => A): A = {
    val dir = Files.createTempDirectory(s"graft-$label-sweep").toFile
    try { fill(dir.toString); body(dir.toString) }
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def writeNulled(spark: SparkSession, src: String, dir: String): Unit = {
    def nullify(cond: Column)(cols: String*)(df: DataFrame) =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, when(cond, lit(null)).otherwise(col(c))))
    nullify(col("doc_id") % 7 === 0)("text", "lang", "source", "n_chars")(
      spark.read.parquet(s"$src/documents.parquet"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    nullify(col("vec_id") % 7 === 0)("embedding", "label")(
      spark.read.parquet(s"$src/embeddings.parquet"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    nullify(col("event_id") % 7 === 0)("event_type", "value")(
      graft.core.Tables.events(spark, src))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    copyTpch(src, dir)
  }

  private def writeTruncated(spark: SparkSession, src: String, rows: Int,
      dir: String): Unit =
    for (t <- tpch ++ Seq("events", "documents", "embeddings"))
      spark.read.parquet(s"$src/$t.parquet").limit(rows).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")

  private def writeRespelled(spark: SparkSession, src: String, dir: String): Unit = {
    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$src/embeddings.parquet")
      .withColumn("vec_id", col("vec_id").cast(IntegerType))
      .withColumn("label", col("label").cast(LongType))
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.Tables.events(spark, src)
      .withColumn("event_id", col("event_id").cast(IntegerType))
      .withColumn("user_id", col("user_id").cast(IntegerType))
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    copyTpch(src, dir)
  }

  /** Canonical value rendering: widths legitimately follow the input
    * spelling, so widen then stringify — equal VALUES render equally.
    */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(f.name)
      val w = f.dataType match {
        case IntegerType | ShortType | ByteType => c.cast("long")
        case FloatType => c.cast("double")
        case ArrayType(FloatType, _) => c.cast("array<double>")
        case ArrayType(IntegerType, _) => c.cast("array<long>")
        case TimestampNTZType => c.cast("timestamp")
        case _ => c
      }
      w.cast("string").as(f.name)
    }
    df.select(cols: _*).collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "\u0000" else r.getString(i)).mkString("|"))
      .sorted.toIndexedSeq
  }

  def main(args: Array[String]): Unit = {
    val modes = Seq("null", "empty", "single", "respell", "lint")
    val mode = args.headOption.getOrElse("")
    // A typo'd mode must fail loudly, not run zero rows and exit 0.
    require(modes.contains(mode),
      s"unknown mode '$mode' (usage: Sweep <${modes.mkString("|")}> [srcDir])")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.core.Sessions.local(16)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = graft.SparkEntry.suite()

    def collecting(label: String, tag: String)(fill: String => Unit) =
      inTempCopy(label)(fill) { dir =>
        overQueries(rows, s"$label sweep") { (name, fn) =>
          Right(s"OK   $tag$name (${fn(spark, dir).collect().length} rows)")
        }
      }

    val bad = try mode match {
      case "null" => collecting("null", "")(writeNulled(spark, src, _))
      case "empty" => collecting("empty", "[empty] ")(writeTruncated(spark, src, 0, _))
      case "single" => collecting("single", "[single] ")(writeTruncated(spark, src, 1, _))
      case "respell" => inTempCopy("respell")(writeRespelled(spark, src, _)) { dir =>
        overQueries(rows, "respell sweep", summaryWord = "invariant") { (name, fn) =>
          val a = canon(fn(spark, src))
          graft.core.Caches.releaseAll(); graft.core.Caches.releaseShared()
          val b = canon(fn(spark, dir))
          if (a == b) Right(s"OK   $name (${a.size} rows)")
          else {
            val d = a.zip(b).indexWhere { case (x, y) => x != y }
            Left(s"DIFF $name rows=${a.size}/${b.size} firstDiff=$d\n" +
              s"  src:  ${a.lift(math.max(d, 0)).getOrElse("")}\n" +
              s"  resp: ${b.lift(math.max(d, 0)).getOrElse("")}")
          }
        }
      }
      case "lint" =>
        val verbose = sys.env.contains("SPARK_GRAFT_ONLY")
        overQueries(rows, "plan lint") { (name, fn) =>
          PlanLint.verdict(name, fn(spark, src).queryExecution.executedPlan, verbose)
        }
    } finally spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
