package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixed synthetic tables in the layout graft's query rows read (a TPC-H
  * style star schema plus `events`, `documents` and `embeddings`), at
  * roughly scale factor 0.002; `documents` and `embeddings` hold 500 rows
  * each, as the sf0.001 and sf0.01 sets of TESTDATA.md do. The data never
  * depends on the workload seed, so every row's result hash can be pinned
  * once.
  */
object OpsData {
  val Version = "opsdata-2"
  private val DataSeed = 42L

  val Vocab: Vector[String] = Vector(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash", "a", "the",
    "line", "sort", "window", "merge", "batch", "spark", "order", "data", "column", "join",
    "small", "big", "query", "customer", "stream", "filter", "group", "vector", "index",
    "token", "shard", "plan", "cache", "node", "graph", "model", "train", "score")
  private val Langs = Vector("en", "en", "en", "fr", "es", "zh", "de")

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def r2(x: Double): Double = math.rint(x * 100) / 100

  private def ts(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000L)

  def generate(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(DataSeed)
    val nCust = 300; val nOrders = 3000; val nPart = 400; val nSupp = 20
    val nEvents = 2000; val nDocs = 500; val nVecs = 500
    def sf(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

    write(spark, dir, "region", sf("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation",
      sf("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "supplier", sf("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), r2(r.nextDouble() * 10000))))
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer", sf("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        r2(r.nextDouble() * 11000 - 1000), segments(r.nextInt(5)))))
    val adjectives = Vector("small", "red", "large", "blue", "steel", "green", "brass", "soft")
    val nouns = Vector("ring", "widget", "bolt", "gear", "panel", "valve", "spring", "frame")
    val types = Vector("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")
    val prices = (0 until nPart).map(i => 900.0 + (i % 1000) / 10.0)
    write(spark, dir, "part", sf("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(5)), 1 + r.nextInt(50), r2(prices(i)))))
    val d1992 = 694224000L; val span7y = 7L * 365 * 86400
    val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = (0 until nOrders).map(_ => d1992 + (r.nextLong() >>> 1) % span7y / 86400 * 86400)
    val lines = (0 until nOrders * 4).map { j =>
      val o = j / 4
      val part = r.nextInt(nPart)
      val qty = (1 + r.nextInt(50)).toDouble
      val ship = orderDates(o) + (1 + r.nextInt(120)) * 86400L
      Row(o.toLong, part.toLong, r.nextInt(nSupp).toLong, j % 4 + 1, qty, r2(qty * prices(part)),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
        if (ship < 896659200L) "F" else "O", ts(ship))
    }
    write(spark, dir, "lineitem", sf("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), lines)
    val totals = lines.groupBy(_.getLong(0)).map { case (o, ls) => o -> r2(ls.map(_.getDouble(5)).sum) }
    write(spark, dir, "orders", sf("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
      "o_orderpriority" -> StringType),
      (0 until nOrders).map(o => Row(o.toLong, r.nextInt(nCust).toLong, Vector("F", "O", "P")(r.nextInt(3)),
        totals(o.toLong), ts(orderDates(o)), priorities(r.nextInt(5)))))
    val evTypes = Vector("click", "signup", "error", "view", "purchase")
    val jan2024 = 1704067200L
    write(spark, dir, "events", sf("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEvents).map { i =>
        Row(i.toLong, new Timestamp((jan2024 + i * 259L) * 1000L + r.nextInt(1000)), r.nextInt(150).toLong,
          evTypes(r.nextInt(5)), r2(r.nextDouble() * 20 - 1), s"""{"k": ${r.nextInt(100)}}""")
      })
    // Documents: random word sequences; every tenth is a near-duplicate of
    // an earlier one with one or two words replaced.
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      if (i % 10 == 9) {
        val src = texts(r.nextInt(i)).split(" ")
        (0 until 1 + r.nextInt(2)).foreach(_ => src(r.nextInt(src.length)) = Vocab(r.nextInt(Vocab.size)))
        texts += src.mkString(" ")
      } else texts += (0 until 8 + r.nextInt(80)).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }
    write(spark, dir, "documents", sf("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
      }.toSeq)
    // Embeddings: ten labelled clusters in 64 dimensions, unit length.
    val centroids = Vector.fill(10)(Array.fill(64)(r.nextDouble() * 2 - 1))
    write(spark, dir, "embeddings", sf("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => c * 0.6 + (r.nextDouble() * 2 - 1))
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      })
  }
}

/** `operator_suite` workload: a fixed set of graft query rows, each
  * materialized as `bit_xor(xxhash64(*))`, with caches released and a GC
  * between rows outside the timed region (graft.Bench's protocol).
  */
class OpsWorkload(spark: SparkSession, opts: Opts, ins: Instruments, checks: Checks) extends Workload {
  import OpsWorkload._
  private val dir = s"${opts.work}/opsdata"
  private val queries = graft.SparkEntry.queries
  /** The rows in name order, as graft.Bench runs them. */
  val rows: Seq[String] = Families.values.flatten.toSeq.map(p => queries.keys.find(_.split("_")(0) == p)
    .getOrElse(sys.error(s"no query row $p"))).sorted
  private val pins: Pins = Pins.read(opts.pins)
  private val rowTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var residentMbMax = 0.0
  private var rddsAfterRelease = 0
  private val unstableSeen = mutable.LinkedHashSet.empty[String]

  override def setup(): Unit = OpsData.generate(spark, dir)

  /** One untimed pass over every row. A cold pass is dominated by class
    * loading and JIT compilation, which made its time spread 20-40 %
    * between runs on a shared host; the timed pass runs warm.
    */
  override def warmup(): Unit = {
    val tr = new Tracer(spark.sparkContext, false)
    // A row that fails here fails again, counted, in the timed pass.
    rows.foreach { name =>
      try runRow(name, tr) catch { case _: Exception => () }
      graft.core.Caches.releaseAll()
    }
    graft.core.Caches.releaseShared()
    System.gc()
  }

  override def describe: String =
    s"operator_suite: ${rows.size} rows on ${OpsData.Version} (~sf0.002), name order, sequential"

  /** Run one row and return its result hash. */
  def runRow(name: String, tr: Tracer): Long = {
    val df = tr.span("ops.build")(queries(name)(spark, dir))
    tr.span("ops.materialize") {
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h")).agg(bit_xor(col("h")))
        .head().getLong(0)
    }
  }

  override def pass(k: Int, traced: Boolean): Seq[Double] = {
    val tr = if (traced) ins.tracer else new Tracer(spark.sparkContext, false)
    val times = rows.map { name =>
      var secs = 0.0
      checks.operation(s"ops.$name") {
        val t0 = Clock.now()
        val v = try tr.withTag(name)(tr.span("ops.row")(runRow(name, tr))) finally secs = Clock.secs(t0)
        pins.rows.get(name) match {
          case _ if pins.unstable.contains(name) => unstableSeen += name
          case Some(p) => checks.check(s"ops.$name hash $v == pinned $p (data ${pins.version})")(
            v == p && pins.version == OpsData.Version)
          case None => checks.check(s"ops.$name has a pinned hash")(false)
        }
      }
      if (traced) residentMbMax = math.max(residentMbMax, cachedMb())
      graft.core.Caches.releaseAll()
      System.gc()
      if (traced) rddsAfterRelease = math.max(rddsAfterRelease, spark.sparkContext.getRDDStorageInfo.length)
      rowTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
      secs
    }
    // Session-shared relations live for one pass of the suite.
    graft.core.Caches.releaseShared()
    System.gc()
    times
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  override def nominalPassSeconds: Double = 15.0

  override def opLatenciesMs: Seq[Double] = rowTimes.values.flatten.map(_ * 1000).toSeq

  override def summary: Seq[Metric] =
    if (rowTimes.isEmpty) Nil
    else {
      val passes = rowTimes.values.map(_.size).min
      val totals = (0 until passes).map(i => rowTimes.values.map(_(i)).sum)
      Seq(Metric("ops.total_s", Stats.median(totals), "s"))
    }

  override def sampleCounts: Map[String, Int] =
    Map("ops.total_s" -> rowTimes.values.map(_.size).reduceOption(_ min _).getOrElse(0))

  override def resetSamples(): Unit = rowTimes.clear()

  /** Row metrics cover each row's whole span. */
  override def layerSpans: Set[String] = Set("ops.row")

  override def layerMetrics(tr: Tracer): Seq[Metric] = {
    val rowSec = tr.spans.filter(_.name == "ops.row").map(s => s.tag -> s.durNs / 1e9).toMap
    val fam = Families.toSeq.map { case (f, ps) =>
      Metric(s"ops.family.${f}_s", rows.filter(n => ps.contains(n.split("_")(0))).flatMap(rowSec.get).sum, "s")
    }
    val perRow = rows.sortBy(_.split("_")(0).drop(1).toInt).map(n =>
      Metric(s"ops.row.${n.split("_")(0)}_s", rowSec.getOrElse(n, 0.0), "s"))
    fam ++ perRow ++ Seq(
      Metric("ops.plan_ms", ins.plan.nanos.get / 1e6, "ms"),
      Metric("core.cache.resident_mb_max", residentMbMax, "MiB"),
      Metric("core.cache.rdds_after_release", rddsAfterRelease.toDouble, "count"))
  }

  override def notes: Seq[String] =
    if (unstableSeen.isEmpty) Nil
    else Seq(s"rows not hash-checked (unstable when pinned): ${unstableSeen.mkString(", ")}")

  override def details: Map[String, Any] =
    Map("row_seconds" -> rowTimes.map { case (k, v) => k -> v.toSeq }.toMap)

  override def beforeTracedPass(): Unit = {
    ins.plan.nanos.set(0); residentMbMax = 0; rddsAfterRelease = 0
  }
}

object OpsWorkload {
  /** The rows by operator family. Every family keeps its cheapest rows so
    * one suite pass fits the run budget; q65 and q69 are left out because
    * they install optimizer rules into the shared session.
    */
  val Families: scala.collection.immutable.ListMap[String, Seq[String]] = scala.collection.immutable.ListMap(
    "sql" -> Seq("q01", "q16", "q40"),
    "dedup" -> Seq("q23"),
    "ann" -> Seq("q90", "q91"),
    "tokenize" -> Seq("q183"),
    "text" -> Seq("q70"),
    "train" -> Seq("q164"))
}

/** Result hashes pinned from one commit's runs; `unstable` lists rows whose
  * hash differed between two pinning runs (reported, not compared).
  */
case class Pins(version: String, rows: Map[String, Long], unstable: Set[String])

object Pins {
  def read(path: String): Pins = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) Pins("", Map.empty, Set.empty)
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readString(f))
      val rows = mutable.Map.empty[String, Long]
      root.get("rows").fields().forEachRemaining(e => rows(e.getKey) = e.getValue.asText().toLong)
      val unstable = mutable.Set.empty[String]
      root.get("unstable").elements().forEachRemaining(e => unstable += e.asText())
      Pins(root.get("data").asText(), rows.toMap, unstable.toSet)
    }
  }
}
