package graft

import graft.ops.{Bpe, TokenizerEval, UniMax, WordPiece}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Round-12 additions: WordPiece training + greedy longest-match
  * tokenize, UniMax budget allocation, tokenizer fertility eval.
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ WP training

  test("wordpiece train: hand-derived merges, scores and tie-breaks") {
    // Words {aaab: 2, ab: 1}. Round 1 has a SCORE tie at 1/6 between
    // (a,##a) and (##a,##b) with equal counts — the (a, b) binary-order
    // tie-break must pick (##a,##b) ('#' < 'a'). Round 3 has a score
    // tie broken by COUNT. Round 5 exhausts (ask for 6, get 4).
    val docs = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val m = WordPiece.train(docs, "text", 6)
    val got = m.map(x => (x.rank, x.a, x.b, x.count, x.score))
    assert(got === Seq(
      (1, "##a", "##b", 2L, 166666666666L),
      (2, "##a", "##ab", 2L, 500000000000L),
      (3, "a", "##aab", 2L, 333333333333L),
      (4, "a", "##b", 1L, 1000000000000L)))
  }

  test("wordpiece train: driver-local == distributed") {
    val docs = Seq((1L, "the quick brown fox the quick"),
      (2L, "lazy dogs lurk the fox naps"),
      (3L, "quick quick brown")).toDF("doc_id", "text")
    val local = WordPiece.train(docs, "text", 8)
    val dist = WordPiece.train(docs, "text", 8, driverCap = 0)
    assert(local.nonEmpty)
    assert(local === dist)
  }

  // ------------------------------------------------- vocabulary + ids

  test("wordpiece vocab: [UNK]=0, sorted base, merge ids, dup collapse") {
    val docs = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val m = WordPiece.train(docs, "text", 6)
    val v = WordPiece.vocabTable(docs, "text", m).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // Base symbols: ##a, ##b, a (binary order) -> ids 1, 2, 3.
    assert(v("[UNK]") === 0L)
    assert(v("##a") === 1L && v("##b") === 2L && v("a") === 3L)
    // Merges: ##ab -> 4, ##aab -> 5, aaab -> 6, ab -> 7.
    assert(v("##ab") === 4L && v("##aab") === 5L &&
      v("aaab") === 6L && v("ab") === 7L)
    assert(v.size === 8)
  }

  test("wordpiece longest-match: greedy, [UNK] wholesale, length cap") {
    val vocab = Seq("[UNK]", "a", "##b", "ab", "##cd", "h", "##e", "##l",
      "##o", "he", "hell", "##lo")
    def toks(w: String): Seq[String] = {
      val df = Seq(Tuple1(w)).toDF("w")
        .select(WordPiece.tokenizeWord(col("w"), vocab, maxChars = 6)
          .as("t"))
      df.collect()(0).getSeq[String](0)
    }
    assert(toks("hello") === Seq("hell", "##o")) // longest beats he+##ll
    assert(toks("helo") === Seq("he", "##lo"))
    assert(toks("abcd") === Seq("ab", "##cd"))
    // Prefix matches but then dead-ends -> whole word [UNK] (the HF
    // is_bad semantics, not partial output).
    assert(toks("abx") === Seq("[UNK]"))
    assert(toks("zz") === Seq("[UNK]"))   // unseen alphabet
    assert(toks("abababa") === Seq("[UNK]")) // 7 cps > maxChars=6
    assert(toks("") === Seq.empty)
  }

  test("wordpiece tokenizeToIds: end-to-end with planted UNKs") {
    val docs = Seq((1L, "aaab ab aaab"), (2L, "ab zzz"), (3L, ""))
      .toDF("doc_id", "text")
    val train = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val m = WordPiece.train(train, "text", 6)
    val v = WordPiece.vocabTable(train, "text", m)
    val out = WordPiece.tokenizeToIds(docs, "text", "doc_id", v)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    // aaab -> 6 (whole-word token), ab -> 7, zzz -> [UNK]=0.
    assert(out(0) === ((1L, Seq(6L, 7L, 6L))))
    assert(out(1) === ((2L, Seq(7L, 0L))))
    assert(out(2) === ((3L, Seq.empty[Long])))
  }

  test("wordpiece longest-match: word-initial literal '##' uses full entry length") {
    // Vocab entries are a string SET: at pos 0 the candidate is the
    // RAW piece, so an entry literally starting "##" ("##z", 3 cps,
    // stripped content 1 cp) must match a word starting "##z" with
    // its FULL length. A probe capped at the stripped content length
    // (here 1) would only try "#" and return [UNK] — the round-12
    // advisory bug; the DuckDB oracle probes every length.
    val vocab = Seq("[UNK]", "##z", "##q")
    def toks(w: String): Seq[String] = {
      val df = Seq(Tuple1(w)).toDF("w")
        .select(WordPiece.tokenizeWord(col("w"), vocab, 16).as("t"))
      df.collect()(0).getSeq[String](0)
    }
    // "##z" matches entry "##z" at pos 0 (full length 3), then pos 3
    // is past the end. "##z##q": "##z" then continuation candidate
    // "##" + "##q"... no entry "####q", so the word dead-ends -> [UNK].
    assert(toks("##z") === Seq("##z"))
    assert(toks("##q") === Seq("##q"))
    assert(toks("##z##q") === Seq("[UNK]"))
    // Continuation positions still cap at stripped content: "z##q"
    // has no pos-0 match (no entry "z") -> [UNK].
    assert(toks("z") === Seq("[UNK]"))
  }

  test("wordpiece longest-match can disagree with the training fold") {
    // The structural reason q183's oracle replays longest-match: with
    // vocab {a, ##b, ##c, ##bc, ab} (merges (##b,##c) then (a,##b)),
    // training tokenizes "abc" by merge order -> [ a, ##bc ] (the
    // round-1 merge fires first), but greedy longest match takes the
    // LONGEST head token -> [ ab, ##c ].
    val vocab = Seq("[UNK]", "a", "##b", "##c", "##bc", "ab")
    val df = Seq(Tuple1("abc")).toDF("w")
      .select(WordPiece.tokenizeWord(col("w"), vocab, 16).as("t"))
    assert(df.collect()(0).getSeq[String](0) === Seq("ab", "##c"))
  }

  // ------------------------- map-only ids (WordPiece and Unigram alike)

  private val idsTrain =
    Seq((1L, "aaab ab"), (2L, "aaab cd")).toDF("doc_id", "text")

  /** The ids-path edge fixture, read back from Parquet so its plans scan
    * a file: null, empty and blank text, a word over the 16-code-point
    * cap, unseen code points, a null id and a duplicated id.
    */
  private lazy val idsEdge: org.apache.spark.sql.DataFrame = {
    val path = tempDir("graft-ids-edge") + "/docs"
    Seq[(java.lang.Long, String)](
      (1L, "aaab ab aaab"), (2L, "AB  zzz\tab"), (3L, null), (4L, ""),
      (5L, "  \t \n "), (6L, "a" * 20 + "b ab"), (7L, "ωμέγα ab cd"),
      (null, "ab aaab"), (8L, "ab"), (8L, "aaab cd ab"))
      .toDF("doc_id", "text").write.parquet(path)
    spark.read.parquet(path)
  }

  /** Plain-Scala reference of an ids path: the suite word split, each
    * word through the kernel `pieces`, token strings looked up in
    * `vocab` (-1 when absent) — one entry per input row.
    */
  private def refIds(df: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame,
      pieces: String => Seq[String]): Seq[(Option[Long], Seq[Long])] = {
    val ids = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.select("doc_id", "text").collect().toSeq.map { r =>
      val words = Option(r.getString(1)).toSeq
        .flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
        .filter(_.nonEmpty)
      (Option(r.get(0)).map(_.asInstanceOf[Long]),
        words.flatMap(pieces).map(ids.getOrElse(_, -1L)))
    }.sortBy(_.toString)
  }

  private def engineIds(out: org.apache.spark.sql.DataFrame)
      : Seq[(Option[Long], Seq[Long])] =
    out.collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getSeq[Long](1).toSeq))
      .sortBy(_.toString)

  private def strings(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[String] =
    a.toObjectArray(org.apache.spark.sql.types.StringType).toSeq.map(_.toString)

  test("wordpiece and unigram ids == a per-word reference on edge rows, at 1, 3 and 8 partitions") {
    import graft.functions.{UnigramViterbiOps, WordPieceTokenizeOps}
    import org.apache.spark.unsafe.types.UTF8String
    val wpVocab = WordPiece.vocabTable(idsTrain, "text",
      WordPiece.train(idsTrain, "text", 6))
    val wpTable = WordPieceTokenizeOps.tableFor(
      wpVocab.collect().map(_.getString(0)).toSeq.sorted, 16)
    val wpPieces = (w: String) =>
      strings(WordPieceTokenizeOps.tokenizeWord(UTF8String.fromString(w), wpTable))
    val pieces = graft.ops.Unigram.train(idsTrain, "text", seedSize = 4,
      maxPieceLen = 3, emRounds = 1, pruneCount = 1)
    val ugTable = UnigramViterbiOps.tableFor(
      pieces.map(p => (p.token, p.costMicro)), 16, 4)
    val ugPieces = (w: String) =>
      strings(UnigramViterbiOps.segmentWord(UTF8String.fromString(w), ugTable))
    // Leave one emitted piece out of the unigram vocabulary: it must
    // read -1, as the reference's lookup does.
    val ugVocab = graft.ops.Unigram.vocabTable(spark, pieces)
      .where(col("token") =!= ugPieces("ab").head)
    val wpRef = refIds(idsEdge, wpVocab, wpPieces)
    val ugRef = refIds(idsEdge, ugVocab, ugPieces)
    assert(wpRef.length == 10 && ugRef.flatMap(_._2).contains(-1L))
    // Every row keeps its own tokens: the null id has its words, and
    // the two rows of id 8 stay apart.
    assert(wpRef.count(_._1 == Some(8L)) == 2 &&
      wpRef.find(_._1.isEmpty).get._2.nonEmpty)
    // The over-length word and the unseen code points are [UNK] (id 0).
    assert(Seq(6L, 7L).forall(id => wpRef.find(_._1 == Some(id)).get._2.head == 0L))
    for (parts <- Seq(1, 3, 8)) {
      val in = idsEdge.repartition(parts)
      val wp = WordPiece.tokenizeToIds(in, "text", "doc_id", wpVocab)
      val ug = graft.ops.Unigram.tokenizeToIds(in, "text", "doc_id", pieces,
        ugVocab)
      for (out <- Seq(wp, ug))
        assert(out.schema.toString == StructType(Seq(
          StructField("doc_id", LongType, nullable = true),
          StructField("token_ids", ArrayType(LongType, containsNull = true),
            nullable = false))).toString)
      assert(engineIds(wp) == wpRef, s"wordpiece at $parts partitions")
      assert(engineIds(ug) == ugRef, s"unigram at $parts partitions")
    }
  }

  /** `out`'s exchanges and cached-relation scans, read through any
    * adaptive node in its physical plan.
    */
  private def exchangesAndCaches(out: org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.execution.exchange.Exchange], Int) = {
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val plan = out.queryExecution.executedPlan
    (aqe.collect(plan) { case e: org.apache.spark.sql.execution.exchange.Exchange => e },
      aqe.collect(plan) { case m: org.apache.spark.sql.execution.columnar
        .InMemoryTableScanExec => m }.length)
  }

  test("wordpiece and unigram ids plans hold no exchange and no cached relation") {
    val vocab = WordPiece.vocabTable(idsTrain, "text",
      WordPiece.train(idsTrain, "text", 6))
    val pieces = graft.ops.Unigram.train(idsTrain, "text", 4, 3, 1, 1)
    try {
      for ((name, out) <- Seq(
          "wordpiece" -> WordPiece.tokenizeToIds(idsEdge, "text", "doc_id", vocab),
          "unigram" -> graft.ops.Unigram.tokenizeToIds(idsEdge, "text",
            "doc_id", pieces, graft.ops.Unigram.vocabTable(spark, pieces)))) {
        val (ex, cached) = exchangesAndCaches(out)
        assert(ex.isEmpty && cached == 0, s"$name ids plan: $ex, $cached cached")
      }
      // The fertility eval's one exchange is its group aggregate's.
      val (ex, cached) = exchangesAndCaches(TokenizerEval
        .fertilityByGroupUnigram(idsEdge.withColumn("g", col("doc_id") % 2),
          "text", "g", pieces))
      assert(cached == 0, "fertility plan reads no cached relation")
      assert(ex.length == 1 && (ex.head.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)) == Seq("grp")
        case _ => false
      }), s"fertility exchanges: $ex")
    } finally graft.core.Caches.releaseAll()
  }

  test("collecting wordpiece or unigram ids over a local vocabulary is one Spark job") {
    val wpVocab = Seq(("[UNK]", 0L), ("a", 1L), ("ab", 2L), ("##a", 3L),
      ("##b", 4L), ("c", 5L), ("##d", 6L)).toDF("token", "token_id")
    val pieces = Seq(("a", 10L), ("b", 12L), ("ab", 15L), ("c", 11L),
      ("d", 11L)).map { case (t, c) => graft.ops.Unigram.Piece(t, 1L, c) }
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    // The listener bus is async: wait until every started job has ended
    // and the count has held still for a few polls.
    def settled(): Int = {
      var last = -1
      var still = 0
      val deadline = System.nanoTime() + 20000000000L
      while (still < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = started.get()
        if (now == last && now == ended.get()) still += 1 else still = 0
        last = now
      }
      last
    }
    def jobsOf(run: => Any): Int = {
      val before = settled()
      run
      settled() - before
    }
    val docs = idsEdge
    spark.sparkContext.addSparkListener(listener)
    try {
      val wp = jobsOf(WordPiece.tokenizeToIds(docs, "text", "doc_id", wpVocab)
        .collect())
      val ug = jobsOf(graft.ops.Unigram.tokenizeToIds(docs, "text", "doc_id",
        pieces, graft.ops.Unigram.vocabTable(spark, pieces)).collect())
      assert(wp == 1 && ug == 1, s"jobs: wordpiece $wp, unigram $ug")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.core.Caches.releaseAll()
    }
  }

  // ----------------------------------------------------------- UniMax

  test("unimax: capped prefix + exact leftover, sums to budget") {
    // lang sizes 10/20/70 tokens, epochCap 2 -> caps 20/40/140,
    // budget = 200*3/4 = 150: a and b cap, c takes the leftover 90.
    val docs = (Seq.fill(10)("a") ++ Seq.fill(20)("b") ++ Seq.fill(70)("c"))
      .zipWithIndex.map { case (g, i) => (i.toLong, g, "w") }
      .toDF("doc_id", "lang", "text")
    val out = UniMax.allocate(docs, "lang", "text", 2, 3L, 4L)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out === Array(
      ("a", 10L, 20L, 20L, true),
      ("b", 20L, 40L, 40L, true),
      ("c", 70L, 140L, 90L, false)))
    assert(out.map(_._4).sum === 150L)
  }

  test("unimax: remainder goes to the FIRST uncapped groups in order") {
    // Four equal groups of 1 token, epochCap 2 -> caps 2 each, budget
    // = 8*3/4 = 6: none cap (2*4 > 6), base = 1, rem = 2 -> a,b get 2.
    val docs = Seq(("a", "w"), ("b", "w"), ("c", "w"), ("d", "w"))
      .zipWithIndex.map { case ((g, t), i) => (i.toLong, g, t) }
      .toDF("doc_id", "lang", "text")
    val out = UniMax.allocate(docs, "lang", "text", 2, 3L, 4L)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
    assert(out === Array(("a", 2L, false), ("b", 2L, false),
      ("c", 1L, false), ("d", 1L, false)))
  }

  test("unimax: budget above total capacity caps everything") {
    val docs = Seq((1L, "a", "x y"), (2L, "b", "z")).toDF(
      "doc_id", "lang", "text")
    val out = UniMax.allocate(docs, "lang", "text", 3, 5L, 1L)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out === Array(("a", 6L, 6L, true), ("b", 3L, 3L, true)))
  }

  // ------------------------------------------- prototypicality (D4)

  /** Two tight clusters around e1/e2 with one off-axis straggler each:
    * ids 0-5 near e1, 6-11 near e2.
    */
  private def protoFixture = {
    def v(x: Double, y: Double): Array[Float] = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat)
    }
    val rows = (0 until 6).map(i => (i.toLong, v(1.0, 0.02 * i))) ++
      (6 until 12).map(i => (i.toLong, v(0.02 * (i - 6), 1.0)))
    rows.toDF("vec_id", "embedding")
  }

  /** The fixture's centroids and the prune relation scored against them. */
  private def protoPruned(df: org.apache.spark.sql.DataFrame) = {
    val cents = graft.ops.Similarity.trainCentroids(df, 2, 2, "embedding", "vec_id")
      .localCheckpoint()
    (cents, graft.ops.Prototypes.prunePrototypical(df, "embedding", "vec_id",
      nClusters = 2, refineRounds = 2, epsNum = 1L, epsDen = 4L,
      centroidsOpt = Some(cents)).localCheckpoint())
  }

  test("prototype pruning: floor share dropped, dropped dominate kept") {
    // 12 vectors, k=2, eps=1/4 -> each cluster of 6 drops exactly 1.
    val df = protoFixture
    val pruned = graft.ops.Prototypes.prunePrototypical(
      df, "embedding", "vec_id", nClusters = 2, refineRounds = 2,
      epsNum = 1L, epsDen = 4L).collect()
    assert(pruned.length === 12)
    val byCluster = pruned.groupBy(_.getAs[Long]("centroid_id"))
    assert(byCluster.size === 2)
    for ((_, rs) <- byCluster) {
      val dropped = rs.filter(!_.getAs[Boolean]("kept"))
      assert(dropped.length === rs.length / 4)
      val minDrop = dropped.map(_.getAs[Long]("proto_micro")).min
      val maxKeep = rs.filter(_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("proto_micro")).max
      assert(minDrop >= maxKeep)
    }
    val env = graft.ops.Prototypes.pruneEnvelope(
      df, "embedding", "vec_id", 2, 2, 1L, 4L).collect()(0)
    assert(env.getAs[Long]("n_vecs") === 12L)
    assert(env.getAs[Boolean]("assigned_argmax"))
    assert(env.getAs[Boolean]("drop_count_exact"))
    assert(env.getAs[Boolean]("dropped_are_most_prototypical"))
    assert(env.getAs[Boolean]("kept_drop_partition"))
  }

  test("prototype envelope: a dropped or duplicated id reads kept_drop_partition FALSE") {
    val df = protoFixture
    val (cents, pruned) = protoPruned(df)
    def partition(p: org.apache.spark.sql.DataFrame): Boolean =
      graft.ops.Prototypes.envelopeBools(df, cents, p, "embedding", "vec_id")
        .head().getAs[Boolean]("kept_drop_partition")
    assert(partition(pruned))
    assert(!partition(pruned.where(col("vec_id") =!= 3L)), "dropped id")
    assert(!partition(pruned.unionByName(pruned.where(col("vec_id") === 3L))),
      "duplicated id")
  }

  test("prototype envelope: a swapped centroid_id reads assigned_argmax FALSE") {
    val df = protoFixture
    val (cents, pruned) = protoPruned(df)
    def argmax(p: org.apache.spark.sql.DataFrame): Boolean =
      graft.ops.Prototypes.envelopeBools(df, cents, p, "embedding", "vec_id")
        .head().getAs[Boolean]("assigned_argmax")
    assert(argmax(pruned))
    val cid = pruned.select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(cid(3L) != cid(9L), "ids 3 and 9 sit in different clusters")
    assert(!argmax(pruned.withColumn("centroid_id",
      when(col("vec_id") === 3L, lit(cid(9L))).otherwise(col("centroid_id")))))
  }

  // --------------------------------------- CCNet perplexity buckets

  test("perplexity buckets: per-group terciles, head = lowest nll") {
    // 7 'en' docs with graded typicality + 2 'de': en buckets size
    // 3/2/2, de 1/1(/0 impossible -> ntile gives 1,2); head scores
    // <= middle <= tail within each group.
    val docs = Seq(
      (1L, "en", "a b a b a b"), (2L, "en", "a b a b"), (3L, "en", "a b"),
      (4L, "en", "a b c d"), (5L, "en", "c d c d"), (6L, "en", "d c b a"),
      (7L, "en", "x y z q"), (8L, "de", "a b"), (9L, "de", "q x"))
      .toDF("doc_id", "lang", "text")
    val out = graft.ops.LanguageModel.perplexityBuckets(
      docs, "text", "doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    assert(out.length === 9)
    for (g <- Seq("en", "de")) {
      val rows = out.filter(_._2 == g).sortBy(r => (r._4, r._3, r._1))
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.values.max - sizes.values.min <= 1)
      // bucket boundaries respect score order
      val byBucket = rows.groupBy(_._4)
      for (b <- byBucket.keys if byBucket.contains(b + 1))
        assert(byBucket(b).map(_._3).max <= byBucket(b + 1).map(_._3).min)
    }
  }

  // ------------------------------------------------- tokenizer eval

  test("tokenizer fertility: exact milli grids on a hand corpus") {
    // One source; train enough merges that "hehe" fully merges.
    val docs = Seq((1L, "s1", "hehe he"), (2L, "s1", "hehe"))
      .toDF("doc_id", "source", "text")
    val merges = Bpe.trainByteLevel(docs, "text", 8)
    val out = TokenizerEval.fertilityByGroup(docs, "text", "source", merges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length === 1)
    val (g, npre, nb, nt, bpt, fert) = out(0)
    assert(g === "s1")
    // Pretokens: "hehe", " he", "hehe" -> 3; bytes 4+3+4 = 11.
    assert(npre === 3L && nb === 11L)
    assert(nt >= 3L) // merged: at most a handful of subwords
    assert(bpt === nb * 1000L / nt)
    assert(fert === nt * 1000L / npre)
  }
}
