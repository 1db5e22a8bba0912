package graft

import graft.functions.{IsoDurationSeconds, TextFunctions, TimeFunctions}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("iso_duration_seconds: parser goldens (reference youtube.py:33-41)") {
    assert(IsoDurationSeconds.parse("PT1H2M3S") == 3723L)
    assert(IsoDurationSeconds.parse("PT3M20S") == 200L)
    assert(IsoDurationSeconds.parse("PT45S") == 45L)
    assert(IsoDurationSeconds.parse("P1DT2H") == 93600L)
    assert(IsoDurationSeconds.parse("PT0.5S") == 0L)
    assert(IsoDurationSeconds.parse("") == 0L)
    assert(IsoDurationSeconds.parse("garbage") == 0L)
    assert(IsoDurationSeconds.parse(null) == 0L)
    // reference test_youtube.py goldens verbatim
    assert(IsoDurationSeconds.parse("PT15M50S") == 950L)
    assert(IsoDurationSeconds.parse("PT5S") == 5L)
    assert(IsoDurationSeconds.parse("P1M") == 0L)   // month -> 0
    assert(IsoDurationSeconds.parse("P1Y2M") == 0L) // year+month -> 0
  }

  test("iso_duration_seconds: runs as a Catalyst expression incl. codegen") {
    val df = Seq("PT1H2M3S", "PT45S", "", "nope", null)
      .toDF("dur")
      .select(IsoDurationSeconds.isoDurationSeconds(col("dur")).as("secs"))
    assert(df.as[Long].collect().toSeq == Seq(3723L, 45L, 0L, 0L, 0L))
  }

  test("cleanTextChunk: reference goldens (tests/transformers/utils/test_helpers.py)") {
    // Ported verbatim from the reference's parametrized cases. The
    // profanity marker uses NON-BREAKING spaces (\u00a0); an ASCII-space
    // [ __ ] is a plain bracket tag and gets removed, not starred.
    val cases = Seq(
      "Text with profanity reference [\u00a0__\u00a0]" ->
        "Text with profanity reference ****",
      "Text with\u200bzero\u200bwidth\u00a0space" ->
        "Text withzerowidth space",
      "Text with >> arrows" -> "Text with arrows",
      "Text [with bracket tags] and content" -> "Text and content",
      "Text with   multiple   spaces" -> "Text with multiple spaces",
      "[ __ ] ascii marker is a tag" -> "ascii marker is a tag")
    val df = cases.map(_._1).toDF("t")
      .select(TextFunctions.cleanTextChunk(col("t")).as("c"))
    assert(df.as[String].collect().toSeq == cases.map(_._2))
  }

  test("cleanLlmResponse: marker split, CHUNK tags, smart quotes") {
    val df = Seq(
      "thinking... Here is the cleaned chunk: <CHUNK>nice “text”</CHUNK>",
      "<think>blah</think> result ‘quoted’")
      .toDF("t").select(TextFunctions.cleanLlmResponse(col("t")).as("c"))
    assert(df.as[String].collect().toSeq ==
      Seq("nice \"text\"", "result 'quoted'"))
  }

  test("splitHosts/joinHosts round trip with empty-string guard") {
    val df = Seq(("a,b,c"), (""), (null)).toDF("h")
      .select(TextFunctions.splitHosts(col("h")).as("arr"))
      .select(size(col("arr")).as("n"), TextFunctions.joinHosts(col("arr")).as("joined"))
    assert(df.as[(Int, String)].collect().toSeq ==
      Seq((3, "a,b,c"), (0, ""), (0, "")))
  }

  test("escapeLikeWildcards escapes % and _") {
    val df = Seq("50%_off").toDF("t")
      .select(TextFunctions.escapeLikeWildcards(col("t")).as("e"))
    assert(df.as[String].head() == "50\\%\\_off")
  }

  test("formatDuration matches reference golden forms (datetime.py:25-39)") {
    val df = Seq(3723.0, 200.0, 45.5, 3600.0, 60.0).toDF("s")
      .select(TimeFunctions.formatDuration(col("s")).as("f"))
    assert(df.as[String].collect().toSeq == Seq(
      "1 hour, 2 minutes, 3.00 seconds",
      "3 minutes, 20.00 seconds",
      "45.50 seconds",
      "1 hour, 0.00 seconds",
      "1 minute, 0.00 seconds"))
  }

  test("hms render (query_agent.py:161-168)") {
    val df = Seq(3723.0, 200.0, 59.9).toDF("s")
      .select(TimeFunctions.hms(col("s")).as("f"))
    assert(df.as[String].collect().toSeq == Seq("1:02:03", "3:20", "0:59"))
  }

  test("partition year/month with epoch-0 -> unknown (processing.py:20-28)") {
    val df = Seq(1325376000L, 0L).toDF("e")
      .select(TimeFunctions.partitionYear(col("e")).as("y"),
        TimeFunctions.partitionMonth(col("e")).as("m"))
    assert(df.as[(String, String)].collect().toSeq ==
      Seq(("2012", "01"), ("unknown", "unknown")))
  }

  test("isoToEpoch: parse and zero default (youtube.py:26-30)") {
    val df = Seq("2012-01-01T00:00:00Z", "").toDF("t")
      .select(TimeFunctions.isoToEpoch(col("t")).as("e"))
    assert(df.as[Long].collect().toSeq == Seq(1325376000L, 0L))
  }

  test("reference goldens: iso_string_to_epoch + format_duration (test_datetime.py)") {
    // naive ISO assumed UTC; tz-aware converted; empty -> 0.
    val epochs = Seq("2012-01-01T00:00:00", "2024-07-23T12:30:00",
      "2024-07-23T12:30:00+05:00", "").toDF("t")
      .select(TimeFunctions.isoToEpoch(col("t")).as("e"))
    assert(epochs.as[Long].collect().toSeq ==
      Seq(1325376000L, 1721737800L, 1721719800L, 0L))

    val durs = Seq(5.12345, 125.678, 180.0, 3725.5, 7320.0, 0.0).toDF("s")
      .select(TimeFunctions.formatDuration(col("s")).as("f"))
    assert(durs.as[String].collect().toSeq == Seq(
      "5.12 seconds",
      "2 minutes, 5.68 seconds",
      "3 minutes, 0.00 seconds",
      "1 hour, 2 minutes, 5.50 seconds",
      "2 hours, 2 minutes, 0.00 seconds",
      "0.00 seconds"))
  }

  test("vector cosine/dot/norm/normalize") {
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 1f, 0f), Array(1f, 1f, 0f)),
      (Array(3f, 4f, 0f), Array(3f, 4f, 0f)))
      .toDF("a", "b")
      .select(vecCosine(col("a"), col("b")).as("cos"), vecNorm(col("a")).as("n"))
    val rows = df.as[(Double, Double)].collect().toSeq
    assert(rows(0)._1 == 0.0)
    assert(math.abs(rows(1)._1 - 1.0) < 1e-12)
    assert(rows(2)._2 == 5.0)
  }

  test("native vec_cosine expression is bit-identical to the HOF form") {
    // Pseudo-random float vectors (deterministic), plus zero-vector and
    // length-mismatch edges; assert EXACT equality so swapping the
    // native expression into declared queries cannot change hashes.
    def vec(seed: Int, n: Int): Array[Float] = Array.tabulate(n) { i =>
      (scala.util.hashing.MurmurHash3.productHash((seed, i)).toDouble /
        Int.MaxValue.toDouble).toFloat
    }
    val pairs = Seq(
      (vec(1, 64), vec(2, 64)),
      (vec(3, 64), vec(3, 64)),
      (Array(0f, 0f, 0f), vec(4, 3)),
      (vec(5, 8), vec(6, 5)), // mismatched lengths
      (vec(7, 5), vec(8, 8)),
      // zero-norm + mismatched length: HOF's denom==0 -> 0.0 branch wins
      // over the null-padded dot, so this is 0.0, NOT null.
      (Array(0f, 0f, 0f), vec(9, 5)),
      (vec(10, 7), Array.empty[Float]),  // empty side: zero norm -> 0.0
      (Array.empty[Float], Array.empty[Float]))
    val df = pairs.toDF("a", "b")
      .select(vecCosine(col("a"), col("b")).as("native"),
        vecCosineHof(col("a"), col("b")).as("hof"))
    df.as[(Option[Double], Option[Double])].collect().foreach { case (n, h) =>
      assert(n == h, s"native $n != hof $h")
    }
  }

  test("native vec_l2sq expression is bit-identical to the HOF fold") {
    import graft.functions.VecL2SqOps.vecL2SqNative
    def vec(seed: Int, n: Int): Array[Double] = Array.tabulate(n) { i =>
      scala.util.hashing.MurmurHash3.productHash((seed, i)).toDouble /
        Int.MaxValue.toDouble
    }
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x)
    val pairs = Seq(
      (vec(1, 16), vec(2, 16)),
      (vec(3, 16), vec(3, 16)),           // identical -> exactly 0.0
      (vec(5, 8), vec(6, 5)),             // mismatch -> null both forms
      (Array.empty[Double], Array.empty[Double]), // empty -> 0.0
      (vec(7, 300), vec(8, 300)))         // long fold: association order
    val df = pairs.toDF("a", "b")
      .select(vecL2SqNative(col("a"), col("b")).as("native"),
        hof(col("a"), col("b")).as("hof"))
    df.as[(Option[Double], Option[Double])].collect().foreach { case (n, h) =>
      assert(n == h, s"native $n != hof $h")
    }
    // Null element poisons -> null, matching zip_with's lambda nulls.
    val withNull = Seq((Seq[java.lang.Double](1.0, null, 3.0).asInstanceOf[Seq[Any]],
      Seq[Any](1.0, 2.0, 3.0)))
    val nn = spark.createDataFrame(
      spark.sparkContext.parallelize(withNull.map(p =>
        org.apache.spark.sql.Row(p._1, p._2))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .select(vecL2SqNative(col("a"), col("b")).as("native"),
        hof(col("a"), col("b")).as("hof"))
      .as[(Option[Double], Option[Double])].collect().head
    assert(nn._1.isEmpty && nn._2.isEmpty, s"null element must poison: $nn")
  }

  test("unicode normalization: forms, fold key, nulls, ascii fast path") {
    import graft.functions.UnicodeNormOps.{nfc, nfd, nfkc, normKey}
    val composedCafe = "Caf\u00e9"
    val decomposedCafe = "Cafe\u0301"
    val df = Seq(
      ("composed", composedCafe),
      ("decomposed", decomposedCafe),
      ("ligature", "\ufb01n"),   // fi ligature: NFKC folds, NFC keeps
      ("ascii", "plain"),
      ("tilde", "man\u0303ana")) // n + combining tilde
      .toDF("tag", "s")
    val out = df.select(col("tag"), nfc(col("s")).as("c"), nfd(col("s")).as("d"),
        nfkc(col("s")).as("kc"), normKey(col("s")).as("k"))
      .as[(String, String, String, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("composed")._2 == composedCafe)
    assert(out("decomposed")._2 == composedCafe, // NFC composes
      s"got ${out("decomposed")._2.codePoints().toArray.toSeq}")
    assert(out("composed")._3 == decomposedCafe) // NFD decomposes
    assert(out("composed")._5 == "cafe" && out("decomposed")._5 == "cafe")
    assert(out("ligature")._4 == "fin" && out("ligature")._2 == "\ufb01n")
    assert(out("ascii")._2 == "plain" && out("ascii")._5 == "plain")
    assert(out("tilde")._5 == "manana")
    // Nulls pass through (unary null-safe expression).
    val n = Seq(Option.empty[String]).toDF("s")
      .select(nfc(col("s"))).collect().head
    assert(n.isNullAt(0))
  }

  test("native lsh_bucket expression is bit-identical to the HOF form") {
    // Same hyperplane derivation, same accumulation order, same sign
    // test — swapping the native expression into Similarity.lshBucket
    // must not move a single vector to a different bucket. Edges: null
    // array and null element both collapse to bucket 0 in the HOF form
    // (null plane-dots fail the when() and OR to zero) — reproduced.
    def vec(seed: Int, n: Int): Seq[java.lang.Float] = Seq.tabulate(n) { i =>
      java.lang.Float.valueOf(
        (scala.util.hashing.MurmurHash3.productHash((seed, i)).toDouble /
          Int.MaxValue.toDouble).toFloat)
    }
    val rows: Seq[Seq[java.lang.Float]] = Seq(
      vec(1, 64), vec(2, 64), vec(3, 64), vec(4, 64), vec(5, 64),
      Seq.fill(64)(java.lang.Float.valueOf(0f)), // zero vector: all dots 0.0 -> all bits set
      Seq[java.lang.Float](1f, null, 3f) ++ vec(6, 61),   // null element -> bucket 0
      null)                                                // null array -> bucket 0
    for (planes <- Seq(4, 6, 8, 12)) {
      val df = rows.toDF("embedding")
        .select(
          graft.functions.LshBucketOps.lshBucketNative(col("embedding"), planes).as("native"),
          graft.ops.Similarity.lshBucketHof("embedding", 64, planes).as("hof"))
      df.collect().foreach { r =>
        val n = r.getLong(0)
        val h = if (r.isNullAt(1)) 0L else r.getLong(1)
        assert(n == h, s"planes=$planes: native $n != hof $h")
      }
      // Short array: native derives planes from the actual length.
      val short = Seq(Seq(0.5f, -0.25f, 0.125f).map(java.lang.Float.valueOf))
        .toDF("embedding")
        .select(
          graft.functions.LshBucketOps.lshBucketNative(col("embedding"), planes).as("native"),
          graft.ops.Similarity.lshBucketHof("embedding", 3, planes).as("hof"))
        .collect().head
      assert(short.getLong(0) == short.getLong(1), s"planes=$planes dim=3 parity")
    }
  }

  test("native vec_cosine: null array elements yield null, matching HOF") {
    val df = Seq(
      (Array[java.lang.Float](1f, null, 3f), Array[java.lang.Float](1f, 2f, 3f)),
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](1f, 2f)))
      .toDF("a", "b")
      .select(vecCosine(col("a"), col("b")).as("native"),
        vecCosineHof(col("a"), col("b")).as("hof"))
    val rows = df.as[(Option[Double], Option[Double])].collect().toSeq
    assert(rows.head._1.isEmpty && rows.head._2.isEmpty)
    assert(rows(1)._1 == rows(1)._2 && rows(1)._1.nonEmpty)
  }

  test("token_stats matches size(split(trim, \\s+)) incl. whitespace edge pieces") {
    // Spark's split keeps limit=-1 empty pieces at BOTH ends; the
    // native one-pass form must reproduce that ("\t" -> 2, trailing
    // "\n" -> extra token).
    val texts = Seq("hello world\n", "\t", " a  b ", "", "  ", "a\tb\nc", "\ta", "a\t", "a")
    val df = texts.toDF("t").select(
      graft.ops.TextAnalysis.tokenCount(col("t")).as("native"),
      when(length(trim(col("t"))) === 0, lit(0))
        .otherwise(size(split(trim(col("t")), "\\s+"))).as("ref"))
    df.as[(Int, Int)].collect().zip(texts).foreach { case ((n, r), t) =>
      assert(n == r, s"token count diverged on ${t.replace("\n", "\\n").replace("\t", "\\t")}: native $n vs split $r")
    }
  }

  test("Tables.events: tz-naive (TIMESTAMP_NTZ) parquet normalizes to UTC TimestampType") {
    // The driver has shipped events.ts as TIMESTAMP(NANOS), tz-aware
    // micros, AND tz-naive micros (TIMESTAMP_NTZ). The engine's time
    // arithmetic (unix_micros, interval bins, RANGE frames) requires
    // TimestampType, so events() must canonicalize the NTZ spelling —
    // under a UTC session the cast is exact.
    val dir = tempDir("graft-ntz")
    val naive = java.time.LocalDateTime.of(2026, 1, 2, 3, 4, 5)
    Seq((1L, naive)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // Precondition: the raw read really is NTZ (else this test pins nothing).
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val out = graft.core.Tables.events(spark, dir)
    assert(out.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val epoch = out.select(unix_timestamp(col("ts"))).as[Long].head()
    assert(epoch == naive.toEpochSecond(java.time.ZoneOffset.UTC))
  }

  test("native token entropy == the HOF spelling on edge and random fixtures") {
    val rnd = new scala.util.Random(13)
    val words = Seq("a", "bb", "ccc", "spark", "join")
    val texts = Seq("", " ", "one", "x x x x", "a b a b a b",
      "  leading and trailing  ", "MiXeD CaSe MIXED case") ++
      Seq.fill(30)(Seq.fill(rnd.nextInt(25))(
        words(rnd.nextInt(words.size))).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        graft.ops.TextAnalysis.tokenEntropyMicro(col("text")).as("native"),
        graft.ops.TextAnalysis.tokenEntropyMicroHof(col("text")).as("hof"))
      .as[(Long, Long, Long)].collect()
    for ((id, nat, hof) <- got)
      assert(nat == hof, s"entropy mismatch on fixture $id: $nat vs $hof")
  }

  test("custom expressions reject wrong input types at analysis time") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash64('not-an-array')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_cosine(array(1, 2), array(3, 4))").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("type"))
  }

  test("minhash signature: byte-level fast path is bit-identical to the string reference") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    // The pre-optimization implementation, kept as the semantic
    // reference: String split/trim + a StringBuilder per shingle +
    // XXH64.hashLong per (shingle, j).
    def reference(text: String, shingleN: Int, numHashes: Int): Seq[Long] = {
      val toks = UTF8String.fromString(text).toLowerCase.toString.trim.split("\\s+")
      val mins = Array.fill(numHashes)(Long.MaxValue)
      val nShingles = toks.length - shingleN + 1
      for (i <- 0 until nShingles) {
        val s = (i until i + shingleN).map(toks).mkString(" ")
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val base = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        for (j <- 0 until numHashes) {
          val p = XXH64.hashLong(base, j)
          if (p < mins(j)) mins(j) = p
        }
      }
      mins.toSeq
    }
    val rnd = new scala.util.Random(23)
    val edge = Seq("", "   ", "\t\n x \r\n", "one", "a  b\tc\nd",
      "Ünïcode ÉDGE İstanbul ß text", "ab c", "x y",
      "word " * 40)
    val randoms = Seq.tabulate(40)(_ =>
      Seq.fill(1 + rnd.nextInt(30))("tok" + rnd.nextInt(50)).mkString(
        if (rnd.nextBoolean()) " " else "  \t"))
    for (t <- edge ++ randoms; n <- Seq(1, 2, 3); k <- Seq(4, 32)) {
      val got = graft.functions.MinHashOps
        .signature(UTF8String.fromString(t), n, k).toLongArray().toSeq
      assert(got == reference(t, n, k), s"text=${t.take(40).replace("\n", "\\n")} n=$n k=$k")
    }
  }

  test("multi_match: Aho-Corasick == naive contains filter (seeded property)") {
    // Tiny alphabet forces the hard automaton shapes: nested patterns,
    // shared prefixes, fail-link chains, cross-boundary overlaps.
    val rnd = new scala.util.Random(148)
    def randStr(alphabet: String, n: Int): String =
      Seq.fill(n)(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 60) {
      val patterns = Seq.fill(1 + rnd.nextInt(12))(
        randStr("ab ", 1 + rnd.nextInt(6)))
      val ac = new graft.functions.AcAutomaton(patterns.toArray)
      for (_ <- 0 until 30) {
        val t = randStr("ab ", rnd.nextInt(40))
        val got = ac.matchedArray(UTF8String.fromString(t))
          .toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
        val want = ac.patterns.toSeq.filter(t.contains(_))
        assert(got == want, s"patterns=$patterns text='$t'")
      }
    }
    // Deterministic goldens for every lexicon shape class.
    val ac = new graft.functions.AcAutomaton(Array(
      "batch", "batch batch", "ta ta", "strea", "absent"))
    val got = ac.matchedArray(UTF8String.fromString(
      "data table batch batch stream")).toObjectArray(
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(got == Seq("batch", "batch batch", "ta ta", "strea"))
    assert(new graft.functions.AcAutomaton(Array("x"))
      .matchedArray(UTF8String.fromString("")).numElements() == 0)
    assertThrows[IllegalArgumentException](
      new graft.functions.AcAutomaton(Array("a", "")))
  }

  test("multi_match: Column + codegen and SQL surfaces match the automaton") {
    import spark.implicits._
    val lex = Seq("ab", "abab", "b a", "zz")
    val texts = Seq("abab a", "b ab", "", "zzab", "xyz")
    val viaCol = texts.toDF("t")
      .select(graft.ops.Blocklist.phraseMatches(col("t"), lex).as("m"))
      .as[Seq[String]].collect().toSeq
    texts.toDF("t").createOrReplaceTempView("mm_texts")
    val sqlRes = spark.sql(
      "SELECT multi_match(t, array('ab', 'abab', 'b a', 'zz')) AS m FROM mm_texts")
      .as[Seq[String]].collect().toSeq
    val want = texts.map(t => lex.filter(t.contains(_)))
    assert(viaCol == want)
    assert(sqlRes == want)
  }
}
