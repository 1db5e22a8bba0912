package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Pins the operator_suite result hashes: runs every row twice, in two
  * different orders, and records rows whose hash differs as unstable.
  */
object Pin {
  def run(opts: Opts): Int = {
    val spark = Main.session(opts)
    val checks = new Checks
    val ins = new Instruments(spark, false)
    val w = new OpsWorkload(spark, opts, ins, checks)
    w.setup()
    def hashes(rows: Seq[String]): Map[String, Long] = {
      val out = rows.map { n =>
        val h = w.runRow(n, new Tracer(spark.sparkContext, false))
        graft.core.Caches.releaseAll()
        n -> h
      }.toMap
      graft.core.Caches.releaseShared()
      out
    }
    val h1 = hashes(w.rows)
    val h2 = hashes(w.rows.reverse)
    val unstable = h1.keys.filter(k => h1(k) != h2(k)).toSeq.sorted
    val json = Json.value(mutable.LinkedHashMap(
      "data" -> OpsData.Version,
      "rows" -> mutable.LinkedHashMap(h1.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*),
      "unstable" -> unstable))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts.pins), json + "\n")
    println(s"pinned ${h1.size} rows to ${opts.pins}; unstable: ${unstable.mkString(", ")}")
    spark.stop()
    0
  }
}

/** Tests of the benchmark itself. Prints one line per test; exit code 1
  * when any fails.
  */
object SelfTest {
  val MetricName = "[A-Za-z0-9_.-]+".r

  def run(opts: Opts): Int = {
    val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def test(name: String)(body: => Option[String]): Unit = {
      val r = try body catch { case e: Throwable => Some(s"threw $e") }
      results += ((name, r.isEmpty, r.getOrElse("")))
      println(s"${if (r.isEmpty) "ok  " else "FAIL"} $name${r.map(" -- " + _).getOrElse("")}")
    }

    test("same seed gives an identical corpus and question list; another seed differs") {
      def corpus(seed: Long) = {
        val s = CorpusSpec(seed, 40, 5, 6)
        (0 until s.nTotal).map(i => (s.videoId(i), s.show(i), s.hosts(i), s.meta(i), s.snippets(i)))
      }
      if (corpus(7) != corpus(7)) Some("corpus differs for one seed")
      else if (Questions.generate(7, 100) != Questions.generate(7, 100)) Some("questions differ for one seed")
      else if (corpus(7).map(_._5) == corpus(8).map(_._5)) Some("seeds 7 and 8 give the same corpus")
      else if (Questions.generate(7, 100) == Questions.generate(8, 100)) Some("seeds 7 and 8 give the same questions")
      else None
    }

    test("every seed poisons exactly one base video and no new one") {
      import PipelineWorkload._
      val bad = (-50L to 400L).filter { seed =>
        val s = CorpusSpec(seed, Videos, NewVideos, ChunksPerVideo)
        (0 until s.nBase).count(s.poisoned) != 1 || (s.nBase until s.nTotal).exists(s.poisoned)
      }
      if (bad.isEmpty) None else Some(s"seeds ${bad.take(5).mkString(", ")}")
    }

    test("question mix is a quarter of each kind") {
      val counts = Questions.generate(3, 100).groupBy(_.kind).view.mapValues(_.size).toMap
      if (counts.values.toSet == Set(25) && counts.size == 4) None else Some(counts.toString)
    }

    test("percentile helper reports the highest percentile with >= 10 samples beyond it") {
      def xs(n: Int) = (1 to n).map(_.toDouble)
      val cases = Seq(
        100 -> Some((90.0, 90.0, 10)), 1000 -> Some((99.0, 990.0, 10)), 200 -> Some((95.0, 190.0, 10)),
        50 -> Some((75.0, 38.0, 12)), 15 -> None)
      cases.collectFirst { case (n, want) if Stats.tail(xs(n)) != want => s"n=$n gave ${Stats.tail(xs(n))}" }
    }

    test("every metric name matches [A-Za-z0-9_.-]+") {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get("BENCHMARK.json")))
      val names = mutable.ArrayBuffer.empty[String]
      Seq("end_to_end", "per_layer").foreach(k => root.get(k).elements().forEachRemaining(m => names += m.get("name").asText()))
      val bad = names.filterNot(n => MetricName.matches(n))
      if (names.isEmpty) Some("no metrics in BENCHMARK.json")
      else if (bad.nonEmpty) Some(bad.mkString(", ")) else None
    }

    val spark = Main.session(opts)
    test("traced ingest path builds the same store as Pipeline.run") {
      val spec = CorpusSpec(5L, 120, 12, 3)
      val expect = IngestExpect.phases(spec)
      def build(traced: Boolean, root: String): Seq[(Long, Set[(String, Double)])] = {
        val ctrs = new ExternalCounters(spark.sparkContext)
        val chain = new IngestChain(spark, spec, ctrs, new Tracer(spark.sparkContext, traced))
        expect.map { e =>
          chain.extract(e.nCatalog, s"$root/raw")
          chain.pipeline(s"$root/raw", s"$root/out")
          val keys = spark.read.parquet(s"$root/out/store").select(col("video_id"), col("start_time"))
            .collect().map(r => (r.getString(0), r.getDouble(1)))
          (keys.length.toLong, keys.toSet)
        }
      }
      val plain = build(traced = false, s"${opts.work}/selftest/plain")
      val traced = build(traced = true, s"${opts.work}/selftest/traced")
      val counts = plain.map(_._1)
      if (counts != expect.map(_.storeRows)) Some(s"Pipeline.run stored $counts, expected ${expect.map(_.storeRows)}")
      else if (plain != traced) Some(s"traced stored ${traced.map(_._1)} vs ${plain.map(_._1)}, or other keys")
      else None
    }
    spark.stop()
    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed}/${results.size} passed")
    if (failed == 0) 0 else 1
  }
}
