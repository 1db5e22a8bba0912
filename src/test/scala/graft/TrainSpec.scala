package graft

import graft.ops.{Augment, Bpe, LinearTrainer, SequencePack, SpanDedup}
import org.apache.spark.sql.functions._

/** The round-9 training/tokenization family: BPE training + tokenize,
  * the quantized linear-classifier trainer, MLM masking, and exact
  * substring-duplication spans.
  */
class TrainSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- BPE

  /** In-memory reference of the engine's merge semantics (two-pass
    * padded replace) — the same fixpoint both engines implement.
    */
  private def refMerge(s: String, a: String, b: String): String = {
    val pat = s" $a $b "
    val rep = s" $a$b "
    def once(x: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < x.length) {
        if (x.startsWith(pat, i)) { sb ++= rep; i += pat.length }
        else { sb += x.charAt(i); i += 1 }
      }
      sb.toString
    }
    once(once(s))
  }

  /** Driver-side reference BPE trainer over a word histogram. */
  private def refTrain(
      words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var tbl = words.map { case (w, f) => (w.toSeq.mkString(" "), f) }.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var stop = false
    while (r < rounds && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, f) <- tbl) {
        val sym = w.split(" ")
        for (i <- 0 until sym.length - 1)
          counts((sym(i), sym(i + 1))) =
            counts.getOrElse((sym(i), sym(i + 1)), 0L) + f
      }
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((a, b, c))
        tbl = tbl.map { case (w, f) =>
          (refMerge(s" $w ", a, b).trim, f)
        }
        r += 1
      }
    }
    out.toSeq
  }

  test("BPE training matches the driver-side reference round for round") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new lower"),
      (3L, "low new low new wide")).toDF("doc_id", "text")
    val wordFreq = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val expected = refTrain(wordFreq, 10)
    val got = Bpe.train(docs, "text", 10).map(m => (m.a, m.b, m.count))
    assert(got == expected)
  }

  test("BPE driver-local and distributed training paths are pinned equal") {
    val docs = Seq(
      (1L, "low lower lowest low low wide wider"),
      (2L, "new newer newest new lower widest"),
      (3L, "low new low new wide zz zz zz")).toDF("doc_id", "text")
    val local = Bpe.train(docs, "text", 12) // histogram far under the cap
    val dist = Bpe.train(docs, "text", 12, driverCap = 0) // forced distributed
    assert(local == dist)
  }

  test("BPE native cached tokenize expression == the Column fold spelling") {
    val docs = Seq(
      (1L, "low lower lowest low low wide"),
      (2L, "new newer newest new lower"),
      (3L, ""), (4L, null.asInstanceOf[String]),
      (5L, "  padded   spacing\tand\nnewlines  ")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    val both = docs.select(col("doc_id"),
        Bpe.tokenize(col("text"), merges).as("fast"),
        Bpe.tokenizeFold(col("text"), merges).as("ref"))
      .as[(Long, Seq[String], Seq[String])].collect()
    for ((id, fast, ref) <- both)
      assert(fast == ref, s"doc $id: $fast != $ref")
  }

  test("BPE tokenize composes the trained merges (concat inverse, no char lost)") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta beta gamma delta")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 6)
    assert(merges.nonEmpty && merges.map(_.rank) == (1 to merges.length))
    val toks = docs.select(col("doc_id"),
        Bpe.tokenize(col("text"), merges).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    // Concatenating a word's subword tokens must reproduce the word.
    for ((id, text) <- Seq((1L, "alpha beta gamma alpha"),
        (2L, "beta beta gamma delta"))) {
      val words = text.split(" ")
      val joined = toks(id).mkString
      assert(joined == words.mkString, s"doc $id lost characters")
    }
  }

  test("BPE paths agree on non-\\s line terminators inside words (DOTALL charSeq)") {
    // U+2028 (LINE SEPARATOR) is NOT in Java's \s, so it survives the
    // whitespace split and sits INSIDE a word. Java's bare regex `.`
    // would skip it in charSeq — the (?s) flag keeps the distributed
    // split, the driver-local codePoints split, and the native
    // tokenizer's code-point split identical on such input.
    val weird = "ab\u2028cd"
    val docs = Seq(
      (1L, s"$weird $weird plain plain plain"),
      (2L, s"plain $weird extra")).toDF("doc_id", "text")
    val local = Bpe.train(docs, "text", 6)
    val dist = Bpe.train(docs, "text", 6, driverCap = 0)
    assert(local == dist, s"local $local != distributed $dist")
    val both = docs.select(col("doc_id"),
        Bpe.tokenize(col("text"), local).as("fast"),
        Bpe.tokenizeFold(col("text"), local).as("ref"))
      .as[(Long, Seq[String], Seq[String])].collect()
    for ((id, fast, ref) <- both) assert(fast == ref, s"doc $id: $fast != $ref")
    // The terminator is a symbol of its own, not glued to a neighbor
    // at round 0: no trained merge may contain it unless learned.
    val joined = both.map(_._2.mkString).mkString
    assert(joined.contains("\u2028"), "terminator must survive tokenize")
  }

  test("BPE dictionary-join tokenize == the native cached expression on every doc") {
    val docs = Seq(
      (1L, "low lower lowest low low wide"),
      (2L, "new newer newest new lower"),
      (3L, ""), (4L, null.asInstanceOf[String]),
      (5L, "  padded   spacing\tand\nnewlines  "),
      (6L, "low lower lowest low low wide")) // duplicate content: join must stay 1 row/doc
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    try {
      val dict = Bpe.tokenizeByDict(docs, "text", "doc_id", merges)
        .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
      val native = docs.select(col("doc_id"),
          Bpe.tokenize(col("text"), merges).as("tokens"))
        .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
      assert(dict == native)
      assert(dict.length == 6, "one output row per input row")
    } finally graft.core.Caches.releaseAll()
  }

  test("BPE vocabulary ids: base 0..B-1 in binary order, merges at B+r-1, ids decode back to tokens") {
    val docs = Seq(
      (1L, "low lower lowest low low wide"),
      (2L, "new newer newest new lower"),
      (3L, ""), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 8)
    try {
      val vocab = Bpe.vocabTable(docs, "text", merges)
      val rows = vocab.orderBy("token_id").as[(String, Long)].collect().toSeq
      val (base, merged) = rows.partition(_._1.length == 1)
      // Base symbols: contiguous 0..B-1 in binary string order.
      assert(base.map(_._2) == base.indices.map(_.toLong))
      assert(base.map(_._1) == base.map(_._1).sorted)
      // Merge symbols: ids at B + rank - 1, duplicates keep earliest.
      assert(merged.forall(_._2 >= base.length))
      assert(rows.map(_._1).distinct.length == rows.length, "tokens unique")
      // Ids decode: tokenizeToIds joined back through the vocab equals
      // the token stream; no unks on the training corpus.
      val ids = Bpe.tokenizeToIds(docs, "text", "doc_id", merges, vocab)
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      val toks = Bpe.tokenizeByDict(docs, "text", "doc_id", merges)
        .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
      val byId = rows.map(_.swap).toMap
      assert(ids.forall(_._2.forall(_ >= 0L)), "no unk on training corpus")
      assert(ids.map { case (d, is) => (d, is.map(byId)) } == toks)
      // Novel subwords of an out-of-corpus word encode as -1; known
      // words in the same doc still resolve.
      val other = Seq((9L, "zzz low")).toDF("doc_id", "text")
      val oIds = Bpe.tokenizeToIds(other, "text", "doc_id", merges, vocab)
        .as[(Long, Seq[Long])].collect().head._2
      assert(oIds.takeWhile(_ == -1L).nonEmpty, s"zzz must be unk: $oIds")
      assert(oIds.exists(_ >= 0L), s"low must resolve: $oIds")
    } finally graft.core.Caches.releaseAll()
  }

  test("BPE training stops at pair exhaustion and on empty input") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val m = Bpe.train(tiny, "text", 50)
    // "a b" merges once to "ab"; nothing is left to merge.
    assert(m.length == 1 && m.head.a == "a" && m.head.b == "b")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bpe.train(empty, "text", 5).isEmpty)
  }

  test("BPE tokens feed sequence packing (token conservation)") {
    val docs = Seq(
      (1L, "pack these words"), (2L, "more words here")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", 4)
    val packed = SequencePack.packTokens(docs,
      concat(Bpe.tokenize(col("text"), merges), array(lit("<eod>"))),
      "doc_id", 5)
    val total = packed.agg(sum("n_tokens")).as[Long].collect().head
    val direct = docs.select(
        size(Bpe.tokenize(col("text"), merges)) + 1)
      .as[Int].collect().sum
    assert(total == direct)
  }

  // ------------------------------------------- repetition signals

  test("Gopher repetition stats: duplicate lines and bigram mode, rules cross-multiply") {
    import graft.ops.QualityFilter
    val df = Seq(
      // 5 lines, 4 duplicates (80% > 30% -> dup_lines fires); bigram
      // mode "spam spam" appears 2x per line * 5... within-line grams.
      (1L, Seq.fill(5)("spam spam spam").mkString("\n")),
      // distinct lines, no repeated bigram
      (2L, "one two three\nfour five six"),
      (3L, ""), (4L, null.asInstanceOf[String]),
      (5L, "a"), // single token: 0 bigrams, flags must not fire on 0>0
      (6L, "x y x y x y")) // "x y" 3x of 5 grams = 60% > 20%
      .toDF("doc_id", "text")
    val st = QualityFilter.repetitionStats(col("text"))
    val got = df.select(col("doc_id"),
        st.getField("n_lines").as("nl"), st.getField("dup_lines").as("dl"),
        st.getField("n_2grams").as("ng"), st.getField("top_2gram_n").as("tg"))
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == ((1L, 5L, 4L, 14L, 14L))) // 15 toks -> 14 grams, all "spam spam"
    assert(got(1) == ((2L, 2L, 0L, 5L, 1L)))
    assert(got(2) == ((3L, 0L, 0L, 0L, 0L)))
    assert(got(3) == ((4L, 0L, 0L, 0L, 0L)))
    assert(got(4) == ((5L, 1L, 0L, 0L, 0L)))
    assert(got(5) == ((6L, 1L, 0L, 5L, 3L)))
    // Rules == the cross-multiplied flags over the same stats.
    val rules = QualityFilter.repetitionRules(col("text"))
    val v = df.select(col("doc_id"), QualityFilter.verdict(rules).as("v"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(v == Seq((1L, "dup_lines"), (2L, "pass"), (3L, "pass"),
      (4L, "pass"), (5L, "pass"), (6L, "top_2gram")))
  }

  test("top-n-gram stats generalize the bigram mode; rules fire at the published cuts") {
    import graft.ops.QualityFilter
    // Doc 2 must be LONG: with all-distinct tokens the mode is 1, and
    // 1/n_ngrams only drops below the 16% 4-gram cut past ~7 4-grams —
    // Gopher's fraction cuts presuppose the min-length gate upstream.
    val distinct30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "a b a b a b a b"), // 2g: "a b"x4/7=57%; 3g: "a b a"x3/6=50%; 4g: 3/5=60%
      (2L, distinct30),
      (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id") +: Seq(2, 3, 4).flatMap { n =>
        val v = graft.ops.TextAnalysis.multiNgramStats(col("text"), Seq(n))
        Seq(element_at(v, 3).as(s"n$n"), element_at(v, 4).as(s"t$n")) }: _*)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == ((1L, 7L, 4L, 6L, 3L, 5L, 3L)))
    assert(got(1) == ((2L, 29L, 1L, 28L, 1L, 27L, 1L)))
    assert(got(2) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L)))
    val v = df.select(col("doc_id"),
        QualityFilter.verdict(QualityFilter.repetitionRules(col("text"))).as("v"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(v == Seq((1L, "top_2gram"), (2L, "pass"), (3L, "pass")))
  }

  test("multi-n-gram vector: layout, dup char coverage, string-fallback regime") {
    import graft.ops.TextAnalysis
    val v = TextAnalysis.multiNgramStats(col("text"), Seq(2, 3))
    val rows = Seq((1L, "a b a b a b a b"), (2L, ""), (3L, "one two"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        element_at(v, 1).as("nt"), element_at(v, 2).as("sc"),
        element_at(v, 3).as("t2"), element_at(v, 4).as("p2"),
        element_at(v, 5).as("pc2"), element_at(v, 6).as("d2"),
        element_at(v, 7).as("c2"),
        element_at(v, 8).as("t3"), element_at(v, 9).as("p3"),
        element_at(v, 10).as("pc3"), element_at(v, 11).as("d3"),
        element_at(v, 12).as("c3"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long, Long)]
      .collect().toSeq
    // doc 1: 8 tokens of 1 char; bigrams 7 ("a b"x4 top_chars 4*2=8,
    // "b a"x3 — all duplicated, full coverage); trigrams 6 (two grams
    // x3 each, top_chars ties 3*3=9 both ways).
    assert(rows(0) == ((1L, 8L, 8L, 7L, 4L, 8L, 7L, 8L, 6L, 3L, 9L, 6L, 8L)))
    assert(rows(1) == ((2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // doc 3: 2 tokens (3+3 chars), one bigram (top_chars 1*6, no dup),
    // zero trigrams.
    assert(rows(2) == ((3L, 2L, 6L, 1L, 1L, 6L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // String-fallback regime: >= 128 distinct tokens forces
    // bitsPerId >= 8, so n = 10 can't pack into 63 bits — the exact
    // string-keyed path must agree with the packed path's semantics
    // (pinned against the HOF string-gram reference spelling).
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val filler = (1 to 150).map(i => s"f$i").mkString(" ")
    val big = Seq((1L, s"$run $filler $run")).toDF("doc_id", "text")
    val v10 = TextAnalysis.multiNgramStats(col("text"), Seq(10))
    val nat = big.select(element_at(v10, 3), element_at(v10, 4),
      element_at(v10, 6)).as[(Long, Long, Long)].head()
    val ref = graft.ops.QualityFilter.topNgramStatsStrings(col("text"), 10)
    val hof = big.select(ref.getField("n_ngrams"),
      ref.getField("top_ngram_n")).as[(Long, Long)].head()
    assert((nat._1, nat._2) == hof)
    assert(nat._2 == 2L, "the planted 10-token run repeats twice")
    // dup occurrences: exactly the two planted run grams.
    assert(nat._3 == 2L)
  }

  test("top-n-gram spellings agree on the gate corpus: native == hashed HOF == string HOF") {
    import graft.ops.QualityFilter
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val th = QualityFilter.tokenHashes(col("text"))
    val cols = Seq(2, 3, 4).flatMap { n =>
      val nat = graft.ops.TextAnalysis.multiNgramStats(col("text"), Seq(n))
      val hsh = QualityFilter.topNgramStatsHashed(th, n)
      val str = QualityFilter.topNgramStatsStrings(col("text"), n)
      Seq(
        (element_at(nat, 3) === hsh.getField("n_ngrams") &&
          element_at(nat, 3) === str.getField("n_ngrams"))
          .as(s"tot_ok_$n"),
        (element_at(nat, 4) === hsh.getField("top_ngram_n") &&
          element_at(nat, 4) === str.getField("top_ngram_n"))
          .as(s"top_ok_$n"))
    }
    val allOk = docs.select(cols.reduce(_ && _).as("ok"))
      .agg(coalesce(every(col("ok")), lit(true))).as[Boolean].head()
    assert(allOk, "all three spellings must agree on every document")
  }

  test("full Gopher Table A1 funnel: 13 rules, Table order, each independently firable") {
    import graft.ops.QualityFilter
    // One doc per targeted verdict, built so EARLIER rules don't fire:
    //  1: 4 lines, 2 repeats (50% > 30) -> dup_line_frac.
    //  2: paragraphs A B A (33% > 30) where A is 2 short lines and B 5
    //     distinct ones, so line count fraction 2/9 = 22% < 30 and the
    //     para rule (Table row 2) wins over the line CHAR rule (row 3).
    //  3: one 40-char line repeated among 5 short distinct lines —
    //     count fraction 2/7 < 30, char fraction 80/90 > 20 ->
    //     dup_line_char_frac.
    //  4: single line, top bigram "aa bb" 2x (mass 8 of 24 = 33% > 20)
    //     -> top_2gram_char_frac.
    //  5: a 6-token run repeated with 40 unique 3-char fillers —
    //     top-{2,3,4} char fractions 8/144, 12/144, 16/144 all under
    //     their cuts, dup-5gram coverage 24/144 = 16.7% > 15% ->
    //     dup_5gram_char_frac.
    //  6: 40 distinct tokens over two distinct lines -> pass (short
    //     docs trivially fire char-fraction cuts — the Table A1 rules
    //     presuppose the min-length gate upstream).
    val longLine = "z" * 40
    val bLines = (1 to 5).map(i => s"b$i").mkString("\n")
    val doc5 = ((1 to 6).map(i => s"p$i") ++ (1 to 40).map(i => f"u$i%02d") ++
      (1 to 6).map(i => s"p$i")).mkString(" ")
    val doc6 = (1 to 20).map(i => s"w$i").mkString(" ") + "\n" +
      (21 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "x\nx\nx\ny"),
      (2L, s"a1\na2\n\n$bLines\n\na1\na2"),
      (3L, s"$longLine\nc1\nc2\nc3\nc4\nc5\n$longLine"),
      (4L, "aa bb aa bb cc dd ee ff gg hh ii jj"),
      (5L, doc5),
      (6L, doc6))
      .toDF("doc_id", "text")
    val rules = QualityFilter.gopherRepetitionRulesFull(col("text"))
    assert(rules.map(_.name) == Seq(
      "dup_line_frac", "dup_paragraph_frac",
      "dup_line_char_frac", "dup_paragraph_char_frac",
      "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
      "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
      "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac"))
    val v = df.select(col("doc_id"),
        QualityFilter.verdict(rules).as("v"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(v == Seq(
      (1L, "dup_line_frac"), (2L, "dup_paragraph_frac"),
      (3L, "dup_line_char_frac"), (4L, "top_2gram_char_frac"),
      (5L, "dup_5gram_char_frac"), (6L, "pass")), s"got $v")
    // SQL TVF parity: gopher_repetition_funnel == the Scala funnel.
    df.createOrReplaceTempView("a1docs")
    val sql = spark.sql(
      "SELECT * FROM gopher_repetition_funnel('a1docs', 'text', 'doc_id')")
      .orderBy("doc_id")
      .select("doc_id", "verdict").as[(Long, String)].collect().toSeq
    assert(sql == v)
  }

  test("segment dup stats: separators are literal, blank-line runs mint no paragraphs") {
    import graft.ops.QualityFilter
    val st = QualityFilter.segmentDupStats(col("text"), "\n\n")
    val got = Seq(
      (1L, "para one\n\n\npara two"), // \n\n\n -> "para one" | "\npara two"
      (2L, "p\n\np\n\np"),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"), st.getField("n_segs"), st.getField("dup_segs"),
        st.getField("total_chars"), st.getField("dup_chars"))
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    // Doc 1: literal "\n\n" split yields "para one" and "\npara two";
    // trim is SPACE-only in Spark and DuckDB alike, so the stray
    // leading newline survives into the char mass — 8 + 9 = 17.
    assert(got(0) == ((1L, 2L, 0L, 17L, 0L)))
    assert(got(1) == ((2L, 3L, 2L, 3L, 2L)))
    assert(got(2) == ((3L, 0L, 0L, 0L, 0L)))
    assert(got(3) == ((4L, 0L, 0L, 0L, 0L)))
  }

  test("C4 line heuristics: retention rules, sentence count, page funnel order") {
    import graft.ops.{C4Filter, QualityFilter}
    val good = (1 to 6).map(i => s"this is sentence number $i today.")
      .mkString("\n")
    val df = Seq(
      (1L, good),                                    // pass
      (2L, s"$good\nshort line\nno terminal here"),  // bad lines drop, still pass
      (3L, s"$good\nembedded javascript code runs."),// js line drops, pass
      (4L, "one two three.\nfour five six!"),        // 2 sentences < 5
      (5L, s"$good\nas seen in Lorem Ipsum text."),  // lorem fires after sentences pass
      (6L, s"$good\nvar x = { a: 1 }."),             // curly fires (line itself kept)
      (7L, ""), (8L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val st = C4Filter.lineCleanStats(col("text"))
    val got = df.select(col("doc_id"),
        st.getField("n_lines"), st.getField("n_kept"),
        st.getField("n_sentences"),
        QualityFilter.verdict(C4Filter.c4Rules(col("text"))).as("v"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got(0) == ((1L, 6L, 6L, 6L, "pass")))
    assert(got(1) == ((2L, 8L, 6L, 6L, "pass")))
    assert(got(2) == ((3L, 7L, 6L, 6L, "pass")))
    assert(got(3) == ((4L, 2L, 2L, 2L, "too_few_sentences")))
    assert(got(4) == ((5L, 7L, 7L, 7L, "lorem_ipsum")))
    assert(got(5) == ((6L, 7L, 7L, 7L, "curly_brace")))
    assert(got(6) == ((7L, 0L, 0L, 0L, "too_few_sentences")))
    assert(got(7) == ((8L, 0L, 0L, 0L, "too_few_sentences")))
  }

  // ------------------------------------------- boilerplate lines

  test("cross-document boilerplate lines strip order-preserving; within-doc repeats survive") {
    import graft.ops.Boilerplate
    val df = Seq(
      (1L, "unique alpha\nshared footer line\nunique beta"),
      (2L, "other content\nshared footer line"),
      (3L, "shared footer line\nmore words"),
      // Within-ONE-doc repetition is NOT boilerplate (distinct-doc count 1).
      (4L, "refrain line\nrefrain line\nrefrain line"),
      (5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    try {
      val got = Boilerplate.removeCommonLines(df, "text", "doc_id", 3L)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
      assert(got == Seq(
        (1L, "unique alpha\nunique beta", 2L, 1L),
        (2L, "other content", 1L, 1L),
        (3L, "more words", 1L, 1L),
        (4L, "refrain line\nrefrain line\nrefrain line", 3L, 0L),
        (5L, "", 0L, 0L), (6L, "", 0L, 0L)))
      // lineStats: the shared line counts 3 docs / 3 occurrences; the
      // refrain counts 1 doc / 3 occurrences.
      val stats = Boilerplate.lineStats(df, "text", "doc_id")
        .select("n_docs", "n_occurrences").as[(Long, Long)].collect().toSeq
      assert(stats.contains((3L, 3L)) && stats.contains((1L, 3L)))
    } finally graft.core.Caches.releaseAll()
  }

  test("boilerplate map-only path == join path; fast path never reshuffles the corpus") {
    import graft.ops.Boilerplate
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 4 === 1, lit("\nplanted shared footer"))
            .otherwise(lit(""))).as("text"))
    try {
      val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
      val mapOnly = Boilerplate.removeCommonLines(docs, "text", "doc_id",
        minDocs = 3L, broadcastMaxLines = Long.MaxValue)
      val joined = Boilerplate.removeCommonLines(docs, "text", "doc_id",
        minDocs = 3L, broadcastMaxLines = 0L)
      assert(mapOnly.collect().sortBy(key).toSeq ==
        joined.collect().sortBy(key).toSeq)
      // The fast path must not take documents apart: no doc-grain
      // rebuild aggregate anywhere in its plan (the join form's
      // signature collect_list), so the corpus text never shuffles —
      // the only exchanges belong to the skinny lineStats count.
      val mapPlan = mapOnly.queryExecution.executedPlan.toString
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!mapPlan.contains("collect_list"),
        s"map-only path must not rebuild via collect_list:\n$mapPlan")
      assert(joinPlan.contains("collect_list"),
        "join path is the collect_list rebuild by construction")
      assert(mapPlan.contains("sorted_contains"),
        "fast path probes the broadcast set by binary search")
      // Auto dispatch: a small measured set picks the map-only plan.
      val auto = Boilerplate.removeCommonLines(docs, "text", "doc_id",
        minDocs = 3L)
      assert(!auto.queryExecution.executedPlan.toString.contains("collect_list"),
        "small boilerplate set must dispatch to the map-only plan")
      assert(auto.collect().sortBy(key).toSeq ==
        mapOnly.collect().sortBy(key).toSeq)
    } finally graft.core.Caches.releaseAll()
  }

  // ----------------------------------------------------- LinearTrainer

  test("linear trainer separates a linearly-separable corpus and composes with score") {
    // Positive docs speak one vocabulary, negative docs another — the
    // hashed linear model must push their micro-unit scores apart.
    val pos = (0 until 20).map(i => (i.toLong, "good clean prose text", 1L))
    val neg = (20 until 40).map(i => (i.toLong, "spam junk noise garbage", 0L))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val w = LinearTrainer.train(df, "text", "doc_id", col("y"),
      buckets = 64, epochs = 4)
    // Deterministic: same call, same trajectory.
    val w2 = LinearTrainer.train(df, "text", "doc_id", col("y"),
      buckets = 64, epochs = 4)
    assert(w.collect().toSeq == w2.collect().toSeq)
    val last = w.where(col("epoch") === 4)
      .select(col("bucket"), col("weight"))
    val scored = LinearTrainer.score(df, "text", "doc_id", last, buckets = 64)
      .join(df.select(col("doc_id"), col("y")), "doc_id")
    val classAvg = scored.groupBy("y")
      .agg(org.apache.spark.sql.functions.avg(col("score_micro")).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(classAvg(1L) > classAvg(0L) + 100000,
      s"positive class must score clearly higher, got $classAvg")
  }

  test("mini-batch SGD with numBatches=1 reduces exactly to full-batch train") {
    val pos = (0 until 12).map(i => (i.toLong, "good clean prose text", 1L))
    val neg = (12 until 24).map(i => (i.toLong, "spam junk noise words", 0L))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val full = LinearTrainer.train(df, "text", "doc_id", col("y"),
        buckets = 32, epochs = 3)
      .collect().toSeq
    val mini = LinearTrainer.trainMiniBatch(df, "text", "doc_id", col("y"),
        buckets = 32, epochs = 3, numBatches = 1)
      .drop("batch").collect().toSeq
    assert(full == mini)
    graft.core.Caches.releaseAll()
  }

  test("mini-batch SGD: batches partition the corpus, untouched buckets carry weights") {
    val df = (0 until 30).map(i =>
      (i.toLong, if (i % 2 == 0) "alpha beta" else "gamma delta",
        (i % 2).toLong)).toDF("doc_id", "text", "y")
    val traj = LinearTrainer.trainMiniBatch(df, "text", "doc_id", col("y"),
        buckets = 16, epochs = 2, numBatches = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // One snapshot per (epoch, batch) step, same bucket set each time.
    val steps = traj.map(t => (t._1, t._2)).distinct.sorted
    assert(steps == Seq((1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 0L), (2L, 1L), (2L, 2L)))
    val bucketSets = traj.groupBy(t => (t._1, t._2)).values
      .map(_.map(_._3).toSet).toSeq
    assert(bucketSets.distinct.size == 1, "every snapshot covers all buckets")
    // Determinism: identical call, identical trajectory.
    val traj2 = LinearTrainer.trainMiniBatch(df, "text", "doc_id", col("y"),
        buckets = 16, epochs = 2, numBatches = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(traj == traj2)
    graft.core.Caches.releaseAll()
  }

  test("driver-state weight path == checkpoint-chained path, row for row") {
    // Within the config bound the weights live on the driver and each
    // step is one RDD.aggregate instead of an eager localCheckpoint
    // chain of SQL plans. The kernel copies the SQL arithmetic and null
    // rules, so the trajectories must be BIT-identical — full-batch and
    // mini-batch, including a batch that owns zero documents (left-join
    // carry path).
    val pos = (0 until 15).map(i => (i.toLong, "good clean prose text", 1L))
    val neg = (15 until 30).map(i => (i.toLong, "spam junk noise words", 0L))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val fullA = LinearTrainer.trainImpl(df, "text", "doc_id", col("y"),
      buckets = 32, epochs = 3, lrFactor = 16L, driverState = true)
    val fullB = LinearTrainer.trainImpl(df, "text", "doc_id", col("y"),
      buckets = 32, epochs = 3, lrFactor = 16L, driverState = false)
    assert(fullA.schema.map(f => (f.name, f.dataType)) ==
      fullB.schema.map(f => (f.name, f.dataType)))
    assert(fullA.collect().toSeq == fullB.collect().toSeq)
    val miniA = LinearTrainer.trainMiniBatchImpl(df, "text", "doc_id",
      col("y"), buckets = 32, epochs = 2, numBatches = 5, lrFactor = 16L,
      salt = "mb1", driverState = true)
    val miniB = LinearTrainer.trainMiniBatchImpl(df, "text", "doc_id",
      col("y"), buckets = 32, epochs = 2, numBatches = 5, lrFactor = 16L,
      salt = "mb1", driverState = false)
    assert(miniA.schema.map(f => (f.name, f.dataType)) ==
      miniB.schema.map(f => (f.name, f.dataType)))
    assert(miniA.collect().toSeq == miniB.collect().toSeq)
    graft.core.Caches.releaseAll()
  }

  test("driver-state kernel == checkpoint-chained path on edge cases, at 1, 3 and 8 partitions") {
    val buckets = 64
    def bucketOf(w: org.apache.spark.sql.Column) =
      conv(substring(md5(w), 1, 15), 16, 10).cast("long") % buckets
    val labeledWords = Seq("good", "clean", "prose", "text", "spam", "junk",
      "noise", "words", "more")
    val labeledBuckets = labeledWords.toDF("w").select(bucketOf(col("w")))
      .as[Long].collect().toSet
    // A word whose bucket only null-label docs touch: its full-batch
    // weight goes null, its mini-batch weight is carried.
    val orphan = (0 until 200).map(i => s"orphan$i")
      .find(w => !labeledBuckets(Seq(w).toDF("w").select(bucketOf(col("w")))
        .as[Long].head())).get
    val rows = Seq[(Long, String, java.lang.Long)](
      (1L, "good clean prose text", 1L),
      (2L, "spam junk noise words", 0L),
      (3L, null, 1L),
      (4L, "", 0L),
      (5L, "   ", 1L),
      (6L, "Good SPAM  prose", null),
      (7L, s"$orphan $orphan", null),
      (8L, "clean clean text", 1L),
      (9L, "junk words", 0L),
      // Duplicate ids: doc 1 merges both rows' tokens, max label over its
      // token-bearing rows; doc 2's token-less row counts toward the
      // learning rate but does not raise its label.
      (1L, "more good prose", 0L),
      (2L, "", 1L))
    val df = rows.toDF("doc_id", "text", "y")
    val numBatches = 8
    val owned = df.select((conv(substring(md5(concat(lit("mb1"), lit(":"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % numBatches)
        .as("b")).distinct().count()
    assert(owned < numBatches, "the fixture needs a batch that owns zero docs")
    val orphanBucket = Seq(orphan).toDF("w").select(bucketOf(col("w"))).as[Long].head()
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.schema.map(f => (f.name, f.dataType)) == b.schema.map(f => (f.name, f.dataType)))
      assert(a.collect().toSeq == b.collect().toSeq)
    }
    try {
      for (parts <- Seq(1, 3, 8)) {
        val in = df.repartition(parts)
        val full = LinearTrainer.trainImpl(in, "text", "doc_id", col("y"),
          buckets, epochs = 3, lrFactor = 16L, driverState = true)
        same(full, LinearTrainer.trainImpl(in, "text", "doc_id", col("y"),
          buckets, epochs = 3, lrFactor = 16L, driverState = false))
        assert(full.where(col("bucket") === orphanBucket).select("weight")
          .collect().forall(_.isNullAt(0)), "full-batch null weight")
        val mini = LinearTrainer.trainMiniBatchImpl(in, "text", "doc_id",
          col("y"), buckets, epochs = 2, numBatches, lrFactor = 16L,
          salt = "mb1", driverState = true)
        same(mini, LinearTrainer.trainMiniBatchImpl(in, "text", "doc_id",
          col("y"), buckets, epochs = 2, numBatches, lrFactor = 16L,
          salt = "mb1", driverState = false))
        assert(mini.where(col("bucket") === orphanBucket).select("weight")
          .as[Long].collect().toSet == Set(0L), "mini-batch carry")
      }
    } finally graft.core.Caches.releaseAll()
  }

  test("driver-state trajectories come back in key order with no sort or exchange planned") {
    val df = (0 until 12).map(i =>
      (i.toLong, if (i % 3 == 0) "alpha beta gamma" else "delta epsilon zeta",
        (i % 2).toLong)).toDF("doc_id", "text", "y")
    def keyOrdered(out: org.apache.spark.sql.DataFrame, keys: Int): Unit = {
      import org.apache.spark.sql.execution.SortExec
      import org.apache.spark.sql.execution.exchange.Exchange
      // The helper's collect also walks the plan inside an adaptive node.
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val plan = out.queryExecution.executedPlan
      assert(aqe.collect(plan) { case p @ (_: SortExec | _: Exchange) => p }.isEmpty,
        s"trajectory plan:\n$plan")
      val ks = out.collect().toSeq.map(r => (0 until keys).map(r.getLong))
      assert(ks.nonEmpty)
      assert(ks.zip(ks.tail).forall { case (a, b) =>
        a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x < y }
      }, "rows must be strictly ascending in their keys")
    }
    try {
      keyOrdered(LinearTrainer.train(df, "text", "doc_id", col("y"),
        buckets = 16, epochs = 3), keys = 2)
      keyOrdered(LinearTrainer.trainMiniBatch(df, "text", "doc_id", col("y"),
        buckets = 16, epochs = 2, numBatches = 3), keys = 3)
    } finally graft.core.Caches.releaseAll()
  }

  test("fallback trainers treat a null doc_id as the kernel does") {
    val df = Seq[(java.lang.Long, String, Long)](
      (1L, "good clean prose", 1L),
      (null, "spam junk words", 0L),
      (2L, "noise text", 0L)).toDF("doc_id", "text", "y")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.schema.map(f => (f.name, f.dataType)) == b.schema.map(f => (f.name, f.dataType)))
      assert(a.collect().toSeq == b.collect().toSeq)
    }
    try {
      same(LinearTrainer.trainImpl(df, "text", "doc_id", col("y"), buckets = 64,
          epochs = 2, lrFactor = 16L, driverState = true),
        LinearTrainer.trainImpl(df, "text", "doc_id", col("y"), buckets = 64,
          epochs = 2, lrFactor = 16L, driverState = false))
      same(LinearTrainer.trainMiniBatchImpl(df, "text", "doc_id", col("y"),
          buckets = 64, epochs = 2, numBatches = 2, lrFactor = 16L,
          salt = "mb1", driverState = true),
        LinearTrainer.trainMiniBatchImpl(df, "text", "doc_id", col("y"),
          buckets = 64, epochs = 2, numBatches = 2, lrFactor = 16L,
          salt = "mb1", driverState = false))
    } finally graft.core.Caches.releaseAll()
  }

  test("driver-state trainers run one Spark job per gradient step") {
    val df = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "alpha beta gamma" else "delta epsilon",
        (i % 2).toLong)).toDF("doc_id", "text", "y")
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
    def jobsOf(train: => org.apache.spark.sql.DataFrame): Int = {
      val before = settled()
      train
      settled() - before
    }
    val numBatches = 4
    spark.sparkContext.addSparkListener(listener)
    try {
      val mini = Seq(1, 2).map(e => jobsOf(LinearTrainer.trainMiniBatch(df,
        "text", "doc_id", col("y"), buckets = 16, epochs = e, numBatches = numBatches)))
      assert(mini(1) - mini(0) == numBatches,
        s"mini-batch jobs at epochs 1, 2: $mini; one epoch must add $numBatches")
      val full = Seq(1, 2).map(e => jobsOf(LinearTrainer.train(df,
        "text", "doc_id", col("y"), buckets = 16, epochs = e)))
      assert(full(1) - full(0) == 1,
        s"full-batch jobs at epochs 1, 2: $full; one epoch must add 1")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.core.Caches.releaseAll()
    }
  }

  test("linear trainer epoch-1 update matches the closed form") {
    // One doc "a", label 1: z=0 -> sigma=S/2 -> r=-S/2; grad=-S/2;
    // lr=1/(16*1) -> w1 = floor(S/2/16) = 31250.
    val df = Seq((1L, "a", 1L)).toDF("doc_id", "text", "y")
    val w = LinearTrainer.train(df, "text", "doc_id", col("y"),
      buckets = 8, epochs = 1)
    val rows = w.collect()
    assert(rows.length == 1 && rows.head.getLong(2) == 31250L)
  }

  // --------------------------------------------------------- MLM mask

  test("MLM mask is deterministic, ~maskPct, and only touches selected positions") {
    val text = (1 to 400).map(i => s"tok$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val out = Augment.mlmMask(df, "text", "doc_id")
      .as[(Long, String, String, Long)].collect().head
    val out2 = Augment.mlmMask(df, "text", "doc_id")
      .as[(Long, String, String, Long)].collect().head
    assert(out == out2)
    val (_, masked, target, nMasked) = out
    val mtoks = masked.split(" ")
    assert(mtoks.length == 400, "masking must not change token count")
    // 15% of 400 = 60 expected; md5 draws land near it.
    assert(nMasked > 30 && nMasked < 90, s"n_masked=$nMasked")
    assert(target.split(" ").length == nMasked)
    // Unselected positions must be untouched; [MASK] appears only at
    // masked ones. (Replacement draws pick in-document tokens, so any
    // non-original token must be either [MASK] or a valid token.)
    val orig = text.split(" ")
    val changed = orig.indices.count(i => mtoks(i) != orig(i))
    assert(changed <= nMasked)
    assert(mtoks.count(_ == "[MASK]") > 0)
    assert(mtoks.forall(t => t == "[MASK]" || orig.contains(t)))
  }

  test("MLM mask handles empty and null text") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, "one"))
      .toDF("doc_id", "text")
    val out = Augment.mlmMask(df, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, String, String, Long)].collect()
    assert(out(0) == ((1L, "", "", 0L)))
    assert(out(1) == ((2L, "", "", 0L)))
    assert(out(2)._4 >= 0L)
  }

  // ------------------------------------------- preference pairs

  test("preference pairs: best/worst per group, margin + degenerate-group filters") {
    val df = Seq(
      ("p1", 1L, 50L), ("p1", 2L, 10L), ("p1", 3L, 30L), // spread -> pair
      ("p2", 4L, 7L), ("p2", 5L, 7L),                    // all equal -> drop
      ("p3", 6L, 9L),                                    // singleton -> drop
      ("p4", 7L, 5L), ("p4", 8L, 4L))                    // margin 1 -> keep
      .toDF("grp", "id", "s")
    val pairs = graft.ops.PreferencePairs
      .fromScores(df, Seq("grp"), "id", "s", 1L)
      .orderBy("grp")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq(
      ("p1", 1L, 50L, 2L, 10L, 40L),
      ("p4", 7L, 5L, 8L, 4L, 1L)))
    // Tie-break: equal top scores -> smallest id is chosen.
    val tie = Seq(("t", 9L, 5L), ("t", 8L, 5L), ("t", 1L, 2L))
      .toDF("grp", "id", "s")
    val p = graft.ops.PreferencePairs.fromScores(tie, Seq("grp"), "id", "s", 1L)
      .select("chosen_id", "rejected_id").as[(Long, Long)].collect()
    assert(p.toSeq == Seq((8L, 1L)))
  }

  test("top-k preference pairs: outside-in rank pairing, crossed pairs drop, k=1 == single") {
    // Group g1 has 6 rows scored 60..10: k=3 must yield (60,10),
    // (50,20), (40,30). Group g2 has 3 rows 9,5,1: pair 1 = (9,1),
    // pair 2 = (5,5) self-pair drops, pair 3 absent (rank > size).
    val df = Seq(
      ("g1", 1L, 60L), ("g1", 2L, 50L), ("g1", 3L, 40L),
      ("g1", 4L, 30L), ("g1", 5L, 20L), ("g1", 6L, 10L),
      ("g2", 7L, 9L), ("g2", 8L, 5L), ("g2", 9L, 1L))
      .toDF("grp", "id", "s")
    val got = graft.ops.PreferencePairs
      .fromScoresTopK(df, Seq("grp"), "id", "s", pairsPerGroup = 3, 1L)
      .orderBy("grp", "pair_rank")
      .select("grp", "pair_rank", "chosen_id", "rejected_id", "margin")
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("g1", 1, 1L, 6L, 50L), ("g1", 2, 2L, 5L, 30L), ("g1", 3, 3L, 4L, 10L),
      ("g2", 1, 7L, 9L, 8L)))
    // k=1 through the top-k path == the single-pair API.
    val single = graft.ops.PreferencePairs
      .fromScores(df, Seq("grp"), "id", "s", 1L)
      .orderBy("grp").collect().toSeq
    val top1 = graft.ops.PreferencePairs
      .fromScoresTopK(df, Seq("grp"), "id", "s", 1, 1L)
      .drop("pair_rank").orderBy("grp").collect().toSeq
    assert(single == top1)
  }

  test("preference pairs keep fractional scores untruncated") {
    // 6.5 vs 5.1: margin 1.4 >= 1 keeps the pair and the reported
    // scores are the raw doubles (a long cast would report 6/5 and
    // margin 1); 5.9 vs 5.1: margin 0.8 < 1 drops (a trunc-then-diff
    // would also drop it, but for the wrong reason — and 6.9 vs 6.05
    // would KEEP under trunc-diff while the true margin 0.85 drops).
    val df = Seq(
      ("p1", 1L, 6.5), ("p1", 2L, 5.1),
      ("p2", 3L, 5.9), ("p2", 4L, 5.1),
      ("p3", 5L, 6.9), ("p3", 6L, 6.05))
      .toDF("grp", "id", "s")
    val pairs = graft.ops.PreferencePairs
      .fromScores(df, Seq("grp"), "id", "s", 1L)
      .orderBy("grp")
      .as[(String, Long, Double, Long, Double, Double)].collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p._1 == "p1" && p._2 == 1L && p._4 == 2L)
    assert(p._3 == 6.5 && p._5 == 5.1 && math.abs(p._6 - 1.4) < 1e-9)
  }

  test("byte-level BPE: driver == distributed; no unk on a foreign corpus by construction") {
    import graft.ops.Bpe
    val docs = Seq((1L, "Hello World hello"), (2L, "World peace, 123!"))
      .toDF("doc_id", "text")
    try {
      val local = Bpe.trainByteLevel(docs, "text", 8)
      val dist = Bpe.trainByteLevel(docs, "text", 8, driverCap = 0)
      assert(local == dist, s"driver $local != distributed $dist")
      assert(local.nonEmpty)
      val vocab = Bpe.vocabTableByteLevel(spark, local)
      assert(vocab.where(col("token_id") < 256).count() == 256L,
        "full 256-byte base alphabet regardless of corpus")
      // Foreign corpus: scripts, emoji, control whitespace — nothing
      // the training corpus contained. Byte fallback must cover it
      // all: n_unk = 0 by construction, never by luck.
      val foreign = Seq((9L, "Ünïcôdé 漢字 🙂 tabs\tand\nnewlines"))
        .toDF("doc_id", "text")
      val out = Bpe.tokenizeToIdsByteLevel(
        foreign, "text", "doc_id", local, vocab)
      val (nTok, nUnk) = out.select(
          size(col("token_ids")), size(filter(col("token_ids"), i => i < 0)))
        .as[(Int, Int)].head()
      assert(nTok > 0 && nUnk == 0, s"nTok=$nTok nUnk=$nUnk")
      // Case-preserving: byte-level never lowercases, so "Hello" and
      // "hello" are distinct pretokens in the histogram.
      val hist = Bpe.wordCountsByteLevel(docs, "text")
        .as[(String, Long)].collect().toMap
      assert(hist.contains("Hello") && hist.contains(" hello"))
    } finally graft.core.Caches.releaseAll()
  }

  // ------------------------------------------- contrastive triplets

  test("contrastive triplets compute the blocked cosine pair relation once (persisted)") {
    val df = Seq(
      (1L, "x", Seq(1f, 0f)), (2L, "x", Seq(1f, 0f)),
      (3L, "x", Seq(1f, 1f)), (4L, "x", Seq(-1f, 5f)))
      .toDF("vec_id", "label", "embedding")
    val t = graft.ops.ContrastivePairs
      .hardTriplets(df, "embedding", "vec_id", "label", 0.5)
    try {
      // The blocked self-join + cosine lives ONLY inside the cached
      // relation: in the optimized logical plan (where InMemoryRelation
      // is a LEAF — the cached subtree is not re-walked) both window
      // arms must read the SAME cache and the cosine expression must
      // not appear anywhere outside it.
      val lp = t.queryExecution.optimizedPlan
      val cached = lp.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(cached.length == 2, s"both arms must read the cache:\n$lp")
      val cosineOutside = lp.collect {
        case p if p.expressions.exists(
          _.find(_.prettyName == "vec_cosine").isDefined) => p
      }
      assert(cosineOutside.isEmpty,
        s"cosine must be computed once inside the cache, plan:\n$lp")
      assert(t.count() >= 1)
    } finally graft.core.Caches.releaseAll()
  }

  test("contrastive triplets: strongest positive, hardest negative, half-triplets drop") {
    // Block "x": anchor 1 has positive 2 (cos 1.0) and 3 (cos ~0.707),
    // plus a clear negative 4 (orthogonal-ish). Block "y": 5 and 6 are
    // positives of each other but have NO negative -> no triplet.
    val df = Seq(
      (1L, "x", Seq(1f, 0f)), (2L, "x", Seq(1f, 0f)),
      (3L, "x", Seq(1f, 1f)), (4L, "x", Seq(-1f, 5f)),
      (5L, "y", Seq(0f, 1f)), (6L, "y", Seq(0f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val t = graft.ops.ContrastivePairs
      .hardTriplets(df, "embedding", "vec_id", "label", 0.5)
      .orderBy("anchor_id")
      .as[(Long, Long, Long, Double, Double)].collect()
    // Anchor 3 has NO negative (cos(3,4)=4/(sqrt2*sqrt26)≈0.55 >= 0.5,
    // so 4 is a positive of 3) and drops; 5/6 likewise have no
    // negative. Anchors 1, 2, 4 form triplets.
    assert(t.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(t(0)._2 == 2L && t(0)._3 == 4L) // 1: strongest pos 2, hard neg 4
    assert(t.forall(x => x._4 >= 0.5 && x._5 < 0.5))
    // Anchor 4: positive 3 (0.55); negatives 1 and 2 TIE at equal
    // cosine -> the (cosine DESC, id ASC) discipline picks id 1.
    assert(t(2)._2 == 3L && t(2)._3 == 1L)
  }

  test("ANN triplets == blocked-exact form when banding provably loses nothing") {
    // numPlanes = 1: multi-probe covers BOTH sign buckets, so the LSH
    // positive candidates are ALL pairs; nprobe = nlist and k >= n
    // make the IVF probe exact top-all. Under those parameters the
    // ANN path must equal hardTriplets with a constant block.
    val df = Seq(
      (0L, Seq(1f, 0f)), (50L, Seq(0.9f, 0.1f)),
      (100L, Seq(-1f, 4f)), (150L, Seq(0f, 1f)),
      (200L, Seq(0.8f, 0.3f)), (250L, Seq(-0.5f, -1f)))
      .toDF("vec_id", "embedding")
      .withColumn("label", lit("all"))
    val dir = tempDir("graft-trip")
    try {
      val exact = graft.ops.ContrastivePairs
        .hardTriplets(df, "embedding", "vec_id", "label", 0.5)
        .orderBy("anchor_id")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      val ann = graft.ops.ContrastivePairs
        .hardTripletsAnn(df, "embedding", "vec_id",
          df.select(col("vec_id"), col("embedding")), 0.5,
          numPlanes = 1, nlist = 2, nprobe = 2, k = 10,
          tablePrefix = "t_trip_spec", basePath = s"$dir/idx")
        .orderBy("anchor_id")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      assert(exact.nonEmpty, "fixture must yield triplets")
      assert(ann == exact, s"ann $ann != exact $exact")
    } finally graft.core.Caches.releaseAll()
  }

  test("ADC-prefiltered ANN triplets == plain ANN form when the shortlist covers everything") {
    // shortlist >= probed candidates keeps every candidate through the
    // approximate pass, so the exact rescore sees the identical set —
    // ADC == plain by construction; and with nprobe = nlist, k >= n,
    // numPlanes = 1 both equal the blocked-exact form (the existing
    // pin's fixture). Dim 2, m = 2, ksub = 4 exercises real PQ
    // machinery (codebooks, codes, LUT) end to end.
    val df = Seq(
      (0L, Seq(1f, 0f)), (50L, Seq(0.9f, 0.1f)),
      (100L, Seq(-1f, 4f)), (150L, Seq(0f, 1f)),
      (200L, Seq(0.8f, 0.3f)), (250L, Seq(-0.5f, -1f)))
      .toDF("vec_id", "embedding")
      .withColumn("label", lit("all"))
    val dir = tempDir("graft-trip-adc")
    try {
      val plain = graft.ops.ContrastivePairs
        .hardTripletsAnn(df, "embedding", "vec_id",
          df.select(col("vec_id"), col("embedding")), 0.5,
          numPlanes = 1, nlist = 2, nprobe = 2, k = 10,
          tablePrefix = "t_trip_adc_plain", basePath = s"$dir/idx_plain")
        .orderBy("anchor_id")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      val adc = graft.ops.ContrastivePairs
        .hardTripletsAnnAdc(df, "embedding", "vec_id",
          df.select(col("vec_id"), col("embedding")), 0.5,
          numPlanes = 1, nlist = 2, nprobe = 2, k = 10,
          shortlist = 1000, m = 2, ksub = 4, dim = 2,
          tablePrefix = "t_trip_adc", basePath = s"$dir/idx_adc")
        .orderBy("anchor_id")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      assert(plain.nonEmpty, "fixture must yield triplets")
      assert(adc == plain, s"adc $adc != plain $plain")
      // Production-shortlist envelope: a TIGHT shortlist may lose
      // recall (fewer/different triplets) but never soundness — every
      // emitted triplet's cosines re-verify against the raw vectors,
      // positive >= threshold > negative, ids distinct.
      val tight = graft.ops.ContrastivePairs
        .hardTripletsAnnAdc(df, "embedding", "vec_id",
          df.select(col("vec_id"), col("embedding")), 0.5,
          numPlanes = 1, nlist = 2, nprobe = 2, k = 2,
          shortlist = 2, m = 2, ksub = 4, dim = 2,
          tablePrefix = "t_trip_adc_tight", basePath = s"$dir/idx_tight")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      val vecs = df.as[(Long, Seq[Float], String)].collect()
        .map(r => r._1 -> r._2.map(_.toDouble)).toMap
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      for ((a, p, n, pc, nc) <- tight) {
        assert(a != p && a != n && p != n)
        val cp = cos(vecs(a), vecs(p))
        val cn = cos(vecs(a), vecs(n))
        assert(cp >= 0.5 && cn < 0.5, s"soundness: $cp / $cn")
        assert(math.abs(cp - pc) < 1e-4 && math.abs(cn - nc) < 1e-4)
      }
    } finally graft.core.Caches.releaseAll()
  }

  test("ANN triplet recall floor on the gate corpus at q167's parameters") {
    // The q167 oracle pins soundness only (its booleans hold by
    // construction); NON-VACUITY lives here — the exact q167
    // parameterization over the fixed sf0.01 gate corpus must mine at
    // least one triplet, so a refactor that silently zeroes recall
    // (e.g. a broken probe or an always-saturated negative arm) fails
    // the suite even though the vacuous envelope would stay green.
    // sf0.01, not sf0.001: the smaller corpus genuinely yields zero
    // triplets at these parameters (too few anchors with an LSH-probed
    // positive) — exactly the corpus-shape dependence that made the
    // old hard `TRUE AS has_triplets` oracle column unsafe.
    // Since round 12 q167 dispatches on the measured break-even:
    // plain probe (nlist 16) below 2^16 vectors — the arm every gate
    // corpus takes — and the ADC shortlist at the scale geometry
    // (nlist 64, shortlist 256) above it. BOTH arms get a floor here:
    // the plain one at the gate parameterization, the ADC one at the
    // big-corpus parameterization run against the gate corpus (its
    // sparser probe must still mine SOMETHING or the scale arm has
    // silently zeroed).
    val d = "/root/testdata/sf0.01"
    val emb = graft.core.Tables.embeddings(spark, d)
    val anchors = emb.where(col("vec_id") % 50 === 0)
    val dir = tempDir("graft-trip-floor")
    try {
      val n = graft.ops.ContrastivePairs.hardTripletsAnn(
        emb, "embedding", "vec_id", anchors, posThreshold = 0.4,
        numPlanes = 6, nlist = 16, nprobe = 4, k = 64,
        tablePrefix = "t_trip_floor", basePath = s"$dir/idx").count()
      assert(n >= 1, "gate-corpus recall floor (plain arm): at least one triplet")
      graft.core.Caches.releaseAll()
      val nAdc = graft.ops.ContrastivePairs.hardTripletsAnnAdc(
        emb, "embedding", "vec_id", anchors, posThreshold = 0.4,
        numPlanes = 6, nlist = 64, nprobe = 4, k = 64,
        shortlist = 256, m = 4, ksub = 16, dim = 64,
        tablePrefix = "t_trip_floor_adc", basePath = s"$dir/idxadc").count()
      assert(nAdc >= 1, "scale-arm recall floor: at least one triplet")
    } finally graft.core.Caches.releaseAll()
  }

  test("token-id n-gram decontamination fires where word n-grams structurally cannot") {
    import graft.ops.{Bpe, Decontaminate}
    // Tokenizer trained on an unrelated corpus (the production shape:
    // the tokenizer predates the decontamination run).
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the slow green turtle walks under the busy bridge"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainByteLevel(corpus, "text", 6)
    val vocab = Bpe.vocabTableByteLevel(spark, merges)
    // Doc 10: rare word shared in DISJOINT contexts — no shared word
    //   trigram exists (one shared word can't span three), but the
    //   word's subword ids share 4-grams.
    // Doc 11: shared TWO-word phrase — word trigrams miss it (no three
    //   consecutive shared words), token 4-grams straddle the word
    //   boundary inside the id stream.
    // Doc 12: letter-disjoint from the eval set — neither arm fires.
    val train = Seq(
      (10L, "aaa bbb zzzqqqxxx ccc ddd"),
      (11L, "k1 k2 k3 shared phrase k4 k5"),
      (12L, "jjj kkk lll vvv www")).toDF("doc_id", "text")
    val eval = Seq(
      (20L, "eee fff zzzqqqxxx ggg hhh"),
      (21L, "m1 m2 shared phrase m3 m4")).toDF("doc_id", "text")
    val tok = Decontaminate.tokenIdNgramOverlap(
        train, eval, "text", "doc_id", merges, vocab, 4)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._3).toMap
    val word = Decontaminate.ngramOverlap(
        train, eval, "text", "doc_id", 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(tok(10L) && !word(10L), s"rare-word contamination: $tok / $word")
    assert(tok(11L) && !word(11L), s"straddling phrase: $tok / $word")
    assert(!tok(12L) && !word(12L), s"clean doc must stay clean: $tok / $word")
    graft.core.Caches.releaseAll()
  }

  test("13-gram decontamination (two-packed-longs tier) == brute force") {
    import graft.ops.Decontaminate
    // n=13 at vocabSize 276 forces the two-longs tier (13·log2(276) >
    // 62 > 7·log2(276)); the overlap must equal a from-scratch Scala
    // recount of shared 13-grams. Train doc 1 embeds eval doc 20's
    // id run (contaminated, 3 distinct shared grams), doc 2 shares a
    // 12-id run only (one short of n — clean), doc 3 is disjoint.
    val vocabSize = 276L
    val evalRun = (0 until 15).map(i => (i * 7 + 3).toLong)
    val train = Seq(
      (1L, (Seq(99L, 98L) ++ evalRun ++ Seq(97L)).toArray),
      (2L, (Seq(96L) ++ evalRun.take(12) ++ Seq(95L, 94L)).toArray),
      (3L, (0 until 20).map(i => (200 + i).toLong).toArray))
      .toDF("doc_id", "token_ids")
    val eval = Seq((20L, evalRun.toArray)).toDF("doc_id", "token_ids")
    val got = Decontaminate.tokenIdNgramOverlapFromIds(
        train, eval, "doc_id", vocabSize, n = 13)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def grams(ids: Seq[Long]): Set[Seq[Long]] =
      ids.sliding(13).filter(_.size == 13).map(_.toSeq).toSet
    val evalG = grams(evalRun)
    val expect = Map(
      1L -> grams(Seq(99L, 98L) ++ evalRun ++ Seq(97L)),
      2L -> grams(Seq(96L) ++ evalRun.take(12) ++ Seq(95L, 94L)),
      3L -> grams((0 until 20).map(i => (200 + i).toLong)))
      .map { case (k, g) => k -> { val s = (g & evalG).size.toLong; (s, s > 0) } }
    assert(got == expect, s"got $got expect $expect")
    assert(expect(1L)._2 && !expect(2L)._2 && !expect(3L)._2,
      "fixture must exercise contaminated, one-short, and disjoint cases")
    graft.core.Caches.releaseAll()
  }

  // ------------------------------------------- exact substring spans

  test("maximal duplicated spans finds the planted shared run, exactly bounded") {
    // Docs 1 and 2 share tokens p0..p19 (20 tokens) at different
    // offsets; everything else is unique filler. minLen=5 must yield
    // exactly one span per doc covering exactly the shared run.
    val shared = (0 until 20).map(i => s"p$i").mkString(" ")
    val d1 = s"u1 u2 u3 $shared v1 v2"
    val d2 = s"w1 $shared x1 x2 x3"
    val d3 = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = SpanDedup.maximalDuplicatedSpans(df, "text", "doc_id", 5)
      .orderBy("id")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(spans.length == 2)
    assert(spans(0) == ((1L, 3L, 22L, 20L, shared)))
    assert(spans(1) == ((2L, 1L, 20L, 20L, shared)))
  }

  test("adjacent duplicated windows merge into one island; separated ones do not") {
    // Doc 4 contains TWO disjoint copies of doc 5's runs with unique
    // filler between them -> two spans in doc 4.
    val runA = (0 until 6).map(i => s"a$i").mkString(" ")
    val runB = (0 until 6).map(i => s"b$i").mkString(" ")
    val df = Seq(
      (4L, s"$runA f1 f2 f3 f4 $runB"),
      (5L, s"$runA z9 $runB")).toDF("doc_id", "text")
    val spans = SpanDedup.maximalDuplicatedSpans(df, "text", "doc_id", 6)
      .as[(Long, Long, Long, Long, String)].collect()
    val doc4 = spans.filter(_._1 == 4L).sortBy(_._2)
    assert(doc4.length == 2)
    assert(doc4(0)._5 == runA && doc4(1)._5 == runB)
  }
}
