package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.external._
import graft.query.{Citations, QueryEngine}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One seeded question and the filter it means, independent of the parser. */
case class Question(id: Int, kind: String, text: String, shows: Seq[String], hosts: Seq[String],
    topics: Seq[String], exactYear: Option[Int], yearRange: Option[(Int, Int)],
    afterYear: Option[Int])

object Questions {
  private def jan1(y: Int) = java.time.LocalDate.of(y, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private def dec31(y: Int) = java.time.LocalDate.of(y, 12, 31).atTime(23, 59, 59)
    .toEpochSecond(java.time.ZoneOffset.UTC)

  /** The question's metadata filter with graft's year semantics (after-year
    * runs to the end of `nowYear`).
    */
  def inFilter(q: Question, publishedAt: Long, show: String, hosts: String, nowYear: Int): Boolean = {
    val yearOk = (q.exactYear, q.yearRange, q.afterYear) match {
      case (Some(y), _, _) => publishedAt >= jan1(y) && publishedAt <= dec31(y)
      case (_, Some((a, b)), _) => publishedAt >= jan1(a) && publishedAt <= dec31(b)
      case (_, _, Some(y)) => publishedAt >= jan1(y + 1) && publishedAt <= dec31(nowYear)
      case _ => true
    }
    yearOk && (q.shows.isEmpty || q.shows.contains(show)) && q.hosts.forall(hosts.contains(_))
  }

  val Kinds: Seq[String] = Seq("host_topic_year", "show_after_two_topics", "show_range", "topic_only")

  /** `n` questions, a quarter of each kind. Within each kind the order is
    * seeded; the kinds then interleave, so every run of consecutive
    * questions holds an even mix.
    */
  def generate(seed: Long, n: Int): Seq[Question] = {
    val r = new SplittableRandom(seed * 31L + 17L)
    def topic() = Corpus.Topics(r.nextInt(Corpus.Topics.size))
    def year(lo: Int, hi: Int) = lo + r.nextInt(hi - lo + 1)
    def make(i: Int, kind: String): Question = kind match {
      case k @ "host_topic_year" =>
        val h = Corpus.AllHosts(r.nextInt(Corpus.AllHosts.size)); val t = topic(); val y = year(2016, 2024)
        Question(i, k, s"""What did $h say about "$t" in $y?""", Nil, Seq(h), Seq(t), Some(y), None, None)
      case k @ "show_after_two_topics" =>
        val s = Corpus.Shows(r.nextInt(Corpus.Shows.size)); val t1 = topic()
        var t2 = topic(); while (t2 == t1) t2 = topic()
        val y = year(2016, 2022)
        Question(i, k, s"""On $s, what came up about "$t1" and "$t2" after $y?""", Seq(s), Nil,
          Seq(t1, t2), None, None, Some(y))
      case k @ "show_range" =>
        val s = Corpus.Shows(r.nextInt(Corpus.Shows.size)); val a = year(2016, 2023)
        val b = year(a + 1, 2024)
        Question(i, k, s"Summarize $s between $a and $b.", Seq(s), Nil, Nil, None, Some((a, b)), None)
      case k =>
        val t = topic()
        Question(i, k, s"""Tell me about "$t".""", Nil, Nil, Seq(t), None, None, None)
    }
    val first = r.nextInt(Kinds.size)
    (0 until n).map(i => make(i, Kinds((first + i) % Kinds.size)))
  }
}

/** Driver-side copy of one store row. */
case class StoreRow(videoId: String, showName: String, hosts: String, title: String,
    publishedAt: Long, start: Double, text: String, emb: Array[Float])

/** What a question must return: the answer's cited (video, second) pairs,
  * the number of context documents, and the rendered citation rows as
  * video -> cited seconds.
  */
case class Expected(sources: Seq[(String, Int)], contextSize: Int, rendered: Map[String, Seq[Int]])

/** Plain-Scala brute-force reference for `QueryEngine.process`: exact
  * cosine top-k per topic search, keep-best merge, display sort, echo
  * citations and the citation join, computed over a driver-side copy of
  * the store.
  */
class BruteForce(rows: IndexedSeq[StoreRow], embedder: Embedder, k: Int, nowYear: Int) {
  private def hasFilter(q: Question) =
    q.shows.nonEmpty || q.hosts.nonEmpty || q.exactYear.nonEmpty || q.yearRange.nonEmpty || q.afterYear.nonEmpty

  /** Cosine with graft's evaluation order (double accumulation of floats). */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; sa += x * x; sb += y * y; i += 1
    }
    val d = math.sqrt(sa) * math.sqrt(sb)
    if (d == 0.0) 0.0 else dot / d
  }

  private def topK(cands: Seq[StoreRow], text: String): Seq[(StoreRow, Double)] = {
    val qv = embedder.embed(Seq(text)).head
    cands.map(r => (r, cosine(r.emb, qv)))
      .sortBy { case (r, s) => (-s, r.videoId) }.take(k)
  }

  def expected(q: Question): Expected = {
    val base = rows.filter(r => Questions.inFilter(q, r.publishedAt, r.showName, r.hosts, nowYear))
    val searches: Seq[Seq[(StoreRow, Double)]] =
      if (q.topics.isEmpty) { if (hasFilter(q)) Seq(topK(base, q.text)) else Nil }
      else q.topics.map { t =>
        val tl = t.toLowerCase
        val hybrid = base.filter(r => r.title.toLowerCase.contains(tl) || r.text.toLowerCase.contains(tl))
        val sib = q.topics.filterNot(_ == t)
        topK(hybrid, if (sib.nonEmpty) sib.mkString(", ") else q.text)
      }
    val merged = searches.flatten.groupBy { case (r, _) => (r.videoId, r.start) }
      .values.map(_.maxBy(_._2)).toSeq
      .sortBy { case (r, s) => (-s, r.videoId, r.start) }.take(k)
    val display = merged.map(_._1).sortBy(r => (r.publishedAt, r.videoId, r.start))
    val sources = display.take(3).map(r => (r.videoId, r.start.toInt))
    val ids = sources.map(_._1).toSet
    val times = sources.map(_._2).toSet
    val rendered = display.filter(r => ids(r.videoId) && times(r.start.toInt))
      .groupBy(_.videoId).map { case (v, rs) => v -> rs.map(_.start.toInt).distinct.sorted }
    Expected(sources, display.size, rendered)
  }
}

/** The question half of a `rag_pipeline` pass: one client in a closed
  * loop sends seeded questions through `QueryEngine.process` over the store
  * the ingest half just wrote, collecting each question's rendered
  * citations, and checks every answer against a brute-force reference.
  */
class RagPart(spark: SparkSession, spec: CorpusSpec, ins: Instruments, checks: Checks) {
  import RagPart._
  val questions: Seq[Question] = Questions.generate(spec.seed, NQuestions)
  private var store: DataFrame = _
  private var storeRows = 0L
  private var expected: Map[Int, Expected] = Map.empty
  private val latMs = mutable.ArrayBuffer.empty[Double]
  private var contextRows = 0L

  private val parser = new DictionaryQueryParser(Corpus.Shows, Corpus.AllHosts)
  private val answerer = new EchoAnswerer()
  private val embedNanos = spark.sparkContext.longAccumulator("query_embed_nanos")
  private val embedder = new CountingEmbedder(new HashEmbedder(), spark.sparkContext.longAccumulator("query_embed_texts"),
    spark.sparkContext.longAccumulator("query_embed_batches"), embedNanos)

  private def engine = new QueryEngine(store, parser, answerer, embedder, ContextCount, NowYear)

  /** Open the store the questions read. The first store opened also
    * gives the reference (every pass builds the same store).
    */
  def open(storePath: String): Unit = {
    store = spark.read.parquet(storePath)
    if (expected.isEmpty) {
      val rows = store.select("video_id", "show_name", "hosts", "title", "published_at", "start_time",
        "text", "embedding").collect().map { r =>
        StoreRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4), r.getDouble(5),
          r.getString(6), r.getSeq[Float](7).toArray)
      }.toIndexedSeq
      storeRows = rows.size.toLong
      val bf = new BruteForce(rows, new HashEmbedder(), ContextCount, NowYear)
      expected = questions.map(q => q.id -> bf.expected(q)).toMap
    }
  }

  /** Untimed questions (one per kind) over another seed's store. */
  def warmup(storePath: String, seed: Long): Unit = {
    val e = new QueryEngine(spark.read.parquet(storePath), parser, answerer, embedder, ContextCount, NowYear)
    Questions.generate(seed, Questions.Kinds.size).foreach(q => e.process(q.text)._2.collect())
  }

  /** Pass `k`'s questions: the next [[PassSize]] of the list, wrapping. */
  def passQuestions(k: Int): Seq[Question] =
    (0 until PassSize).map(i => questions((k * PassSize + i) % questions.size))

  /** Ask `qs` in order; returns each question's seconds, failed ones included. */
  def ask(qs: Seq[Question], traced: Boolean): Seq[Double] = {
    val e = engine
    qs.map { q =>
      var ms = 0.0
      checks.operation(s"rag.q${q.id}") {
        val t0 = Clock.now()
        val (answer, rows) =
          try {
            if (!traced) {
              val (a, rendered) = e.process(q.text)
              (a, rendered.collect())
            } else tracedProcess(e, q)
          } finally ms = Clock.ms(t0)
        verify(q, answer, rows)
      }
      latMs += ms
      ms / 1000.0
    }
  }

  /** `process` step by step, in its order, each step in its own span. */
  private def tracedProcess(e: QueryEngine, q: Question): (AgentAnswer, Array[Row]) = {
    val tr = ins.tracer
    tr.withTag(s"q${q.id}") {
      tr.span("rag.question") {
        val pq = tr.span("external.parse")(parser.parse(q.text))
        tr.span("query.build_filter")(e.buildFilter(pq))
        val retrieved = tr.span("query.plan") {
          val df = e.retrieve(q.text)
          df.queryExecution.executedPlan
          df
        }
        val context = tr.span("query.context") {
          retrieved.select(col("video_id"), col("start_time"), col("text"))
            .limit(ContextCount).collect()
            .map(r => ContextDoc(r.getString(0), r.getDouble(1), r.getString(2)))
        }
        val answer = tr.span("external.answer")(answerer.answer(q.text, context.toIndexedSeq))
        val rows = tr.span("query.cite") {
          import spark.implicits._
          val cited = answer.sources.toDF("video_id", "t")
            .select(col("video_id"), col("t").cast("int").as("start_time"))
          val citedDocs = Citations.citedDocuments(retrieved, cited, "video_id", "start_time")
          val grouped = Citations.groupCitations(citedDocs, "video_id", "start_time")
          Citations.structuredSources(grouped, retrieved, "video_id").collect()
        }
        (answer, rows)
      }
    }
  }

  private val ContextRe = """\((\d+) docs\)$""".r.unanchored

  private def verify(q: Question, answer: AgentAnswer, rows: Array[Row]): Unit = {
    val exp = expected(q.id)
    val tag = s"rag.q${q.id} (${q.kind})"
    val ctx = answer.queryResponse match { case ContextRe(n) => n.toInt; case _ => -1 }
    contextRows += math.max(ctx, 0)
    checks.check(s"$tag: context size $ctx == ${exp.contextSize}")(ctx == exp.contextSize)
    checks.check(s"$tag: cited top results ${answer.sources} == ${exp.sources}")(answer.sources == exp.sources)
    val got = rows.map { r =>
      val vid = r.getAs[String]("video_href").stripPrefix("https://www.youtube.com/watch?v=")
      vid -> r.getSeq[Row](r.fieldIndex("references")).map(_.getAs[Long]("timestamp_sec").toInt - 10)
    }.toMap
    checks.check(s"$tag: rendered citations ${got} == ${exp.rendered}")(got == exp.rendered)
    checks.check(s"$tag: every returned row satisfies the filter") {
      rows.forall { r =>
        val vid = r.getAs[String]("video_href").stripPrefix("https://www.youtube.com/watch?v=")
        val i = spec.indexOf(vid)
        val show = r.getAs[String]("show_name")
        show == Corpus.Shows(spec.show(i)) &&
          inFilter(q, r.getAs[Long]("published_at"), show, spec.hosts(i).mkString(","))
      }
    }
  }

  private def inFilter(q: Question, p: Long, show: String, hosts: String): Boolean =
    Questions.inFilter(q, p, show, hosts, NowYear)

  def latenciesMs: Seq[Double] = latMs.toSeq

  def summary: Seq[Metric] = {
    val tail = Stats.tail(latMs.toSeq)
    Seq(Metric("rag.p50_ms", Stats.median(latMs.toSeq), "ms")) ++
      tail.map { case (p, v, _) => Metric(s"rag.p${Json.num(p)}_ms", v, "ms") }
  }

  def sampleCounts: Map[String, Int] = {
    val tail = Stats.tail(latMs.toSeq)
    Map("rag.p50_ms" -> latMs.size) ++
      tail.map { case (p, _, n) => s"rag.p${Json.num(p)}_ms" -> latMs.size }.toMap ++
      tail.map { case (p, _, n) => s"rag.p${Json.num(p)}_ms.beyond" -> n }.toMap
  }

  def resetSamples(): Unit = { latMs.clear(); contextRows = 0; embedNanos.reset() }

  /** Per-question layer figures over the traced questions; `input` is the
    * store rows the traced questions read.
    */
  def layerMetrics(tr: Tracer, input: Double): Seq[Metric] = {
    val n = math.max(1, tr.spans.count(_.name == "rag.question")).toDouble
    TimedSpans.map(name => Metric(s"${name}_ms", tr.totalSec(name) * 1000.0 / n, "ms")) ++ Seq(
      Metric("query.store_scans_per_q", if (storeRows == 0) 0.0 else input / storeRows / n, "ratio"),
      Metric("query.rows_scanned_per_result", if (contextRows == 0) 0.0 else input / contextRows, "ratio"),
      Metric("external.embed_ms", embedNanos.value / 1e6 / n, "ms"))
  }

  def describe: String = s"${questions.size} questions (4 kinds), $PassSize per pass, closed loop, 1 client"
}

object RagPart {
  val NQuestions = 100
  val PassSize = 8
  /** Questions a traced run answers untraced: 40 leave 10 beyond the p75
    * (100 for a p90 with 10 beyond would not fit the per-run time limit).
    */
  val TracedBaseline = 40
  val ContextCount = 120
  val NowYear = 2025
  /** The spans whose time per question is a layer metric (`<span>_ms`). */
  val TimedSpans: Seq[String] =
    Seq("external.parse", "query.plan", "query.context", "external.answer", "query.cite")
}
