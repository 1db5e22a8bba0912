package graft

import graft.external._
import graft.query.{Citations, FilterSpec, QueryEngine, Retriever}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** §3.3 lifecycle test: parse(stub) -> filter -> hybrid+vector retrieval
  * -> merge -> answer(stub) -> citation join -> render.
  */
class QueryEngineSpec extends SparkSpec {
  import spark.implicits._

  private val embedder = new HashEmbedder(dim = 16)

  private def store() = {
    val rows = Seq(
      // (video_id, show_name, hosts, title, published_at, start_time, text)
      ("v1", "Alpha Show", "ana,common", "Spark basics", 1577836800L, 10.0, "intro to spark engines"),
      ("v1", "Alpha Show", "ana,common", "Spark basics", 1577836800L, 20.0, "catalyst optimizer details"),
      ("v2", "Beta Show", "bob", "Cooking pasta", 1609459200L, 5.0, "boil the water first"),
      ("v3", "Alpha Show", "ana", "Spark advanced", 1640995200L, 3.0, "tungsten codegen internals"))
    val withVec = rows.map { case (v, s, h, t, p, st, tx) =>
      (v, s, h, t, p, st, tx, embedder.embed(Seq(tx)).head)
    }
    withVec.toDF("video_id", "show_name", "hosts", "title",
      "published_at", "start_time", "text", "embedding")
  }

  private val parser = new DictionaryQueryParser(
    knownShows = Seq("Alpha Show", "Beta Show"), knownHosts = Seq("ana", "bob"))

  test("filter compilation: years + show + host narrow the store") {
    val engine = new QueryEngine(store(), parser, new EchoAnswerer(), embedder)
    val pq = parser.parse("""what did ana say on Alpha Show in 2020 about "spark"?""")
    assert(pq.shows == Seq("Alpha Show"))
    assert(pq.hosts == Seq("ana"))
    assert(pq.topics == Seq("spark"))
    assert(pq.exactYear.contains(2020))
    val spec = engine.buildFilter(pq).get
    val filtered = store().where(graft.query.FilterSpec.compile(spec))
    // only v1 rows are Alpha Show + ana + published in 2020
    assert(filtered.select("video_id").distinct().as[String].collect().toSeq == Seq("v1"))
  }

  test("year-filter goldens match reference build_filter (test_filtering.py)") {
    val engine = new QueryEngine(store(), parser, new EchoAnswerer(), embedder)
    def epoch(s: String): Long =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC)
    def bounds(pq: ParsedQuery, nowYear: Int = 2024): (Long, Long) = {
      val FilterSpec.And(parts) = engine.buildFilter(pq, nowYear).get: @unchecked
      val g = parts.collectFirst { case FilterSpec.Gte("published_at", v: Long) => v }.get
      val l = parts.collectFirst { case FilterSpec.Lte("published_at", v: Long) => v }.get
      (g, l)
    }
    assert(bounds(ParsedQuery(exactYear = Some(2023))) ==
      ((epoch("2023-01-01T00:00:00"), epoch("2023-12-31T23:59:59"))))
    assert(bounds(ParsedQuery(yearRange = Some((2020, 2022)))) ==
      ((epoch("2020-01-01T00:00:00"), epoch("2022-12-31T23:59:59"))))
    assert(bounds(ParsedQuery(beforeYear = Some(2019))) ==
      ((1325376000L, epoch("2018-12-31T23:59:59"))))
    assert(bounds(ParsedQuery(afterYear = Some(2022)), nowYear = 2024) ==
      ((epoch("2023-01-01T00:00:00"), epoch("2024-12-31T23:59:59"))))
  }

  test("retrieve: topic hybrid search returns display-sorted rows") {
    val engine = new QueryEngine(store(), parser, new EchoAnswerer(), embedder)
    val out = engine.retrieve("""tell me about "spark" please""")
    val ids = out.select("video_id", "start_time").as[(String, Double)].collect().toSeq
    // hybrid ILIKE on title/text matches v1 (title) and v3 (title); sorted
    // by (published_at, video_id, start_time)
    assert(ids == Seq(("v1", 10.0), ("v1", 20.0), ("v3", 3.0)))
  }

  test("parser resolves host aliases to canonical names (PRIMARY_HOST_MAP shape)") {
    val p = new DictionaryQueryParser(Nil, Seq("ana arbol"),
      hostAliases = Map("ana" -> "ana arbol", "banana" -> "ana arbol"))
    assert(p.parse("what did banana say?").hosts == Seq("ana arbol"))
    // direct + alias hits dedupe to one canonical entry
    assert(p.parse("ana arbol on things").hosts == Seq("ana arbol"))
  }

  test("retrieve: no filter and no topics searches nothing (reference None)") {
    val engine = new QueryEngine(store(), parser, new EchoAnswerer(), embedder)
    assert(engine.retrieve("completely unconstrained question").count() == 0)
  }

  test("process: echo answerer citations flow through J7/A4 and render") {
    val engine = new QueryEngine(store(), parser, new EchoAnswerer(maxCitations = 2), embedder)
    val (answer, citations) = engine.process("""anything on "spark"?""")
    assert(answer.sources.nonEmpty)
    val rows = citations.collect()
    assert(rows.nonEmpty)
    val r = rows.head
    assert(r.getAs[String]("video_href").startsWith("https://www.youtube.com/watch?v="))
    assert(r.getAs[String]("thumbnail_src").endsWith("/mqdefault.jpg"))
    val refs: collection.Seq[org.apache.spark.sql.Row] =
      r.getAs[collection.Seq[org.apache.spark.sql.Row]]("references")
    assert(refs.nonEmpty)
    val ref0 = refs.head
    // timestamp_sec carries the +10 buffer; formatted_time renders the RAW t
    assert(ref0.getAs[String]("timestamp_href").contains(s"&t=${ref0.getAs[Long]("timestamp_sec")}s"))
    assert(ref0.getAs[String]("formatted_time").matches("\\d+:\\d{2}(:\\d{2})?"))
    // videos ordered by release date
    val pubs = rows.map(_.getAs[Long]("published_at")).toSeq
    assert(pubs == pubs.sorted)
  }

  test("process: one retrieval execution reads each store row once per topic search") {
    val reads = spark.sparkContext.longAccumulator("store_reads")
    val counted = store().filter { (_: Row) => reads.add(1); true }
    val engine = new QueryEngine(counted, parser, new EchoAnswerer(), embedder)
    val (_, citations) = engine.process("""anything on "spark"?""")
    assert(citations.collect().nonEmpty)
    // One topic, no metadata filter: a single scan of the 4-row store.
    assert(reads.value == 4L)
  }

  test("retrieve: the result is a local relation, also when nothing is searched") {
    val dir = tempDir("graft-qe-store") + "/store"
    store().write.parquet(dir)
    val engine = new QueryEngine(spark.read.parquet(dir), parser, new EchoAnswerer(), embedder)
    for (q <- Seq("""tell me about "spark" please""", "completely unconstrained question")) {
      val leaves = engine.retrieve(q).queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]), s"$q: $leaves")
    }
  }

  test("process: every rendered citation is a context doc the answerer received") {
    var received = Seq.empty[ContextDoc]
    val recording = new Answerer {
      private val echo = new EchoAnswerer(maxCitations = 3)
      def answer(query: String, context: Seq[ContextDoc]): AgentAnswer = {
        received = context; echo.answer(query, context)
      }
    }
    val engine = new QueryEngine(store(), parser, recording, embedder)
    val (_, citations) = engine.process("""anything on "spark" or "pasta"?""")
    val seen = received.map(d => (d.videoId, d.startTime.toInt)).toSet
    val cited = citations.collect().toSeq.flatMap { r =>
      val vid = r.getAs[String]("video_href").stripPrefix("https://www.youtube.com/watch?v=")
      r.getSeq[Row](r.fieldIndex("references")).map(ref => (vid, ref.getAs[Long]("timestamp_sec").toInt - 10))
    }
    assert(cited.nonEmpty)
    assert(cited.forall(seen), s"cited $cited, context $seen")
  }

  test("process: citing and rendering launch no Spark job after retrieve returns") {
    val dir = tempDir("graft-qe-jobs") + "/store"
    store().write.parquet(dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // The answerer runs after retrieve returned: it marks the job count
    // the citation step must leave unchanged.
    var atAnswer = -1
    val marking = new Answerer {
      private val echo = new EchoAnswerer(maxCitations = 3)
      def answer(query: String, context: Seq[ContextDoc]): AgentAnswer = {
        Thread.sleep(500) // listener bus is async
        atAnswer = jobs.get(); echo.answer(query, context)
      }
    }
    val engine = new QueryEngine(spark.read.parquet(dir), parser, marking, embedder)
    Thread.sleep(500) // let the fixture write's events drain first
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, rendered) = engine.process("""anything on "spark" or "pasta"?""")
      val rows = rendered.collect()
      Thread.sleep(500)
      assert(rows.nonEmpty)
      assert(atAnswer >= 1, "the retrieval ran no Spark job")
      assert(jobs.get() == atAnswer, s"${jobs.get() - atAnswer} Spark jobs after retrieve")
      val leaves = rendered.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]), leaves.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("process: rendered citations equal the DataFrame citation chain, in order") {
    val rnd = new scala.util.Random(4242)
    val words = Seq("spark", "pasta", "tungsten", "catalyst", "water", "codegen")
    val starts = Seq(0.0, 5.0, 12.5, 20.75, 30.0, 44.2)
    // Shared start times across videos and tied release dates exercise
    // the independent J7 memberships and the O3 tie-break.
    val pubs = Seq(1577836800L, 1609459200L, 1609459200L, 1640995200L)
    val rows = (1 to 8).flatMap { v =>
      val show = if (v % 2 == 0) "Alpha Show" else "Beta Show"
      val hosts = if (v % 3 == 0) "ana" else "bob,ana"
      val title = s"${words(v % words.size)} episode $v"
      val pub = pubs(rnd.nextInt(pubs.size))
      rnd.shuffle(starts).take(2 + rnd.nextInt(4)).map { st =>
        val text = Seq.fill(3)(words(rnd.nextInt(words.size))).mkString(" ")
        (f"v$v%02d", show, hosts, title, pub, st, text, embedder.embed(Seq(text)).head)
      }
    }
    val sweepStore = rows.toDF("video_id", "show_name", "hosts", "title",
      "published_at", "start_time", "text", "embedding")
    val citeEdges = new Answerer {
      def answer(query: String, context: Seq[ContextDoc]): AgentAnswer = {
        val first = context.headOption.toSeq
        val otherVideo = context.find(d => first.exists(_.videoId != d.videoId))
        val fractional = context.find(d => d.startTime != d.startTime.floor)
        AgentAnswer("edges",
          Seq(("v-missing", 0)) ++ // a video that is not in the context
            first.zip(otherVideo).map { case (f, o) => (f.videoId, o.startTime.toInt) } ++
            fractional.map(d => (d.videoId, d.startTime.toInt)) ++
            first.flatMap(d => Seq.fill(2)((d.videoId, d.startTime.toInt))))
      }
    }
    val silent = new Answerer {
      def answer(query: String, context: Seq[ContextDoc]): AgentAnswer = AgentAnswer("none", Nil)
    }
    val answerers = Seq(new EchoAnswerer(1), new EchoAnswerer(2), new EchoAnswerer(3),
      citeEdges, silent)
    def question(): String = {
      val topics = rnd.shuffle(words).take(rnd.nextInt(3)).map(w => s""""$w"""")
      val show = Seq("", "on Alpha Show", "on Beta Show")(rnd.nextInt(3))
      val year = Seq("", "in 2021", "after 2020", "2020 to 2021")(rnd.nextInt(4))
      s"what about ${topics.mkString(" and ")} $show $year".trim
    }
    var nonEmpty = 0
    for (_ <- 1 to 12; ans <- answerers) {
      val q = question()
      val engine = new QueryEngine(sweepStore, parser, ans, embedder,
        contextCount = Seq(3, 120)(rnd.nextInt(2)), nowYear = 2024)
      val (answer, rendered) = engine.process(q)
      val retrieved = engine.retrieve(q)
      val cited = answer.sources.toDF("video_id", "t")
        .select(col("video_id"), col("t").cast("int").as("start_time"))
      val chain = Citations.structuredSources(
        Citations.groupCitations(
          Citations.citedDocuments(retrieved, cited, "video_id", "start_time"),
          "video_id", "start_time"),
        retrieved, "video_id")
      val got = rendered.collect().toSeq
      assert(got == chain.collect().toSeq, s"$q / ${answer.sources}")
      assert(rendered.schema.map(f => (f.name, f.dataType)) ==
        chain.schema.map(f => (f.name, f.dataType)), q)
      if (got.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 10, s"only $nonEmpty of 60 questions rendered a citation")
  }

  test("merge: ties at the cut keep the reference's (-score, video_id, start) order") {
    // Two topics tie at 0.5 across the cut; keys arrive in reverse order.
    val t1 = (0 until 40).reverse.map(i => (f"v$i%02d", i.toDouble, if (i % 15 == 0) 0.9 else 0.5))
    val t2 = (20 until 60).reverse.map(i => (f"v$i%02d", i.toDouble, if (i == 37) 0.8 else 0.5))
    val k = 8
    // Keep the merge's shuffle partitions uncoalesced so tied rows reach
    // the cut from several partitions, as they do over a real store.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    def topic(rows: Seq[(String, Double, Double)]) =
      s2.createDataFrame(rows).toDF("video_id", "start_time", "score")
    val merged = Retriever.mergeTopicResults(
      Seq(topic(t1), topic(t2)), Seq("video_id", "start_time"), "score", k)
    val got = merged.as[(String, Double, Double)].collect().toSeq
    val reference = (t1 ++ t2).groupBy { case (v, st, _) => (v, st) }
      .values.map(_.maxBy(_._3)).toSeq
      .sortBy { case (v, st, sc) => (-sc, v, st) }.take(k)
    assert(got == reference)
    assert(got.map(_._1).takeRight(4) == Seq("v01", "v02", "v03", "v04"))
  }

  test("structured output: fenced/malformed/missing-key LLM responses parse like the reference") {
    import graft.query.StructuredOutput
    // Fenced answer with preamble -> parsed; citation start_time floats -> Int.
    val fenced =
      """Thinking about it...
        |```json
        |{"query_response": "Use catalyst.", "sources": [
        |  {"video_id": "v1", "start_time": 20.0},
        |  {"video_id": "v3", "start_time": 3.0}]}
        |```""".stripMargin
    assert(StructuredOutput.toAgentAnswer(fenced).contains(
      AgentAnswer("Use catalyst.", Seq(("v1", 20), ("v3", 3)))))
    // Malformed JSON -> None (reference: parse exception -> None).
    assert(StructuredOutput.toAgentAnswer("{\"query_response\": oops").isEmpty)
    // Schema-invalid source ELEMENTS (null / missing citation fields)
    // are the Pydantic-ValidationError analog -> None, never a crash.
    assert(StructuredOutput.toAgentAnswer(
      "{\"query_response\": \"x\", \"sources\": [null]}").isEmpty)
    assert(StructuredOutput.toAgentAnswer(
      "{\"query_response\": \"x\", \"sources\": [{\"video_id\": \"v1\"}]}").isEmpty)
    // A sources value that isn't an array of objects at all collapses
    // to null under from_json PERMISSIVE — indistinguishable from a
    // missing key, so it parses as answer-without-citations (documented
    // divergence from Pydantic's hard error).
    assert(StructuredOutput.toAgentAnswer(
      "{\"query_response\": \"x\", \"sources\": [123]}").contains(AgentAnswer("x", Nil)))
    // Missing sources key -> empty citations (Pydantic default-on-absence).
    assert(StructuredOutput.toAgentAnswer("{\"query_response\": \"hi\"}").contains(
      AgentAnswer("hi", Nil)))
    // QueryParseResponse: arrays + year strings -> typed ParsedQuery.
    val pq = StructuredOutput.toParsedQuery(
      """{"shows": ["Alpha Show"], "hosts": [], "topics": ["spark"],
        | "exact_year": null, "year_range": "2020-2022"}""".stripMargin).get
    assert(pq.shows == Seq("Alpha Show"))
    assert(pq.topics == Seq("spark"))
    assert(pq.yearRange.contains((2020, 2022)))
    assert(pq.exactYear.isEmpty && pq.beforeYear.isEmpty && pq.afterYear.isEmpty)
  }

  test("structured output: driver-path direct eval agrees with the column path byte-for-byte") {
    import graft.query.StructuredOutput
    import spark.implicits._
    // The driver path needs no SparkSession (direct interpreted eval of
    // the shared expression); this pins it to the distributed column
    // path on every edge the parser distinguishes.
    val fixtures = Seq(
      "preamble\n```json\n{\"query_response\": \"A\", \"sources\": [{\"video_id\": \"v\", \"start_time\": 7.5}]}\n```",
      "{\"query_response\": \"B\", \"sources\": []}",
      "{\"query_response\": \"C\"}",
      "{\"query_response\": \"x\", \"sources\": [null]}",
      "{\"query_response\": \"x\", \"sources\": [{\"video_id\": \"v1\"}]}",
      "{\"query_response\": \"x\", \"sources\": [123]}",
      "{\"query_response\": oops",
      "no json at all",
      "",
      "{\"query_response\": \"unicode \\u00e9\\u4e2d\", \"sources\": []}")
    val colRows = fixtures.toDF("r")
      .select(StructuredOutput.parseAgentResponse(col("r")).as("p"))
      .select(col("p.query_response"), col("p.sources"))
      .collect()
    fixtures.zip(colRows).foreach { case (raw, row) =>
      val viaColumn = for {
        resp <- Option(row.getString(0))
        srcs = Option(row.getSeq[org.apache.spark.sql.Row](1)).getOrElse(Seq.empty)
        if srcs.forall(s => s != null && !s.isNullAt(0) && !s.isNullAt(1))
      } yield AgentAnswer(resp, srcs.map(s => (s.getString(0), s.getDouble(1).toInt)))
      assert(StructuredOutput.toAgentAnswer(raw) == viaColumn, s"fixture: $raw")
    }
    val pqFixtures = Seq(
      """{"shows": ["S"], "hosts": ["h1", "h2"], "topics": [], "exact_year": "2021"}""",
      """{"shows": null, "year_range": "2019-2023", "before_year": "x"}""",
      "{}", "garbage")
    val pqRows = pqFixtures.toDF("r")
      .select(StructuredOutput.parseQueryResponse(col("r")).as("p"))
      .select(col("p.shows"), col("p.hosts"), col("p.topics"), col("p.exact_year"),
        col("p.year_range"), col("p.before_year"), col("p.after_year"))
      .collect()
    pqFixtures.zip(pqRows).foreach { case (raw, row) =>
      val d = StructuredOutput.toParsedQuery(raw)
      if ((0 until 7).forall(row.isNullAt)) assert(d.isEmpty, raw)
      else {
        val pq = d.get
        assert(pq.shows == Option(row.getSeq[String](0)).getOrElse(Seq.empty), raw)
        assert(pq.hosts == Option(row.getSeq[String](1)).getOrElse(Seq.empty), raw)
        assert(pq.exactYear ==
          Option(row.getString(3)).flatMap(_.trim.toIntOption), raw)
      }
    }
  }

  test("process: JSON answerer (from_json boundary) flows into citation rendering") {
    // A raw-text LLM stub: cites the first two context docs in a fenced
    // JSON AgentResponse, like a real structured-output model would.
    val rawLlm = (query: String, ctx: Seq[ContextDoc]) => {
      val cites = ctx.take(2).map(c =>
        s"""{"video_id": "${c.videoId}", "start_time": ${c.startTime}}""").mkString(", ")
      s"""Let me answer "$query".
         |```json
         |{"query_response": "Parsed structurally.", "sources": [$cites]}
         |```""".stripMargin
    }
    val engine = new QueryEngine(store(), parser,
      new graft.query.JsonAnswerer(rawLlm), embedder)
    val (answer, citations) = engine.process("""anything on "spark"?""")
    assert(answer.queryResponse == "Parsed structurally.")
    assert(answer.sources.size == 2)
    val rows = citations.collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[String]("video_href").startsWith("https://www.youtube.com/watch?v="))
  }

  test("formatContext: numbered transcript blocks with JSON metadata") {
    val engine = new QueryEngine(store(), parser, new EchoAnswerer(), embedder)
    val retrieved = engine.retrieve("""tell me about "spark" please""")
    val ctx = graft.query.Citations.formatContext(retrieved,
      Seq("published_at", "video_id", "start_time"), "text",
      Seq("video_id", "show_name", "title", "start_time"))
    val first = ctx.orderBy("published_at", "video_id", "start_time")
      .select("page_content").as[String].head()
    assert(first.startsWith("TRANSCRIPT #1 TEXT:\n```"))
    assert(first.contains("METADATA:\n```{\"video_id\":\"v1\""))
  }
}
