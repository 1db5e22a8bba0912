package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.query.{FilterSpec, Retriever}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"

  test("exact dedup keeps lowest id per identical text") {
    val df = Seq((1L, base), (2L, base), (3L, "other text entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L))
  }

  test("minhash LSH finds planted near-duplicate, skips unrelated") {
    val nearDup = base.replace("today", "tomorrow")
    val unrelated = "completely different words about spark catalyst engines and planning"
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "text", "doc_id", shingleN = 2)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
    val verified = Dedup.nearDuplicates(df, "text", "doc_id",
      threshold = 0.5, shingleN = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 2L)))
  }

  test("prefix-filter exact Jaccard join equals brute-force all-pairs at several thresholds") {
    // Deterministic corpus with overlapping word sets: doc i shares a
    // sliding window of the vocabulary with its neighbors, giving a
    // spread of true Jaccard values (including pairs just above and
    // below each threshold).
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0L until 30L).map { i =>
      val words = (0 until 12).map(j => vocab((i.toInt + j) % vocab.size))
      (i, words.mkString(" "))
    } ++ Seq((100L, ""), (101L, "x")) // empty / sub-shingle-length edges
    val df = docs.toDF("doc_id", "text")
    // FP-boundary regression: shingle-superset pair with J exactly
    // 11/20 = 0.55, where 0.55*20 rounds ABOVE 11 in doubles — the
    // candidate bounds must carry an epsilon or this pair is silently
    // dropped from an "exact, complete" join.
    val wa = (0 until 12).map(i => s"b$i").mkString(" ")       // 11 2-shingles
    val wb = (0 until 21).map(i => s"b$i").mkString(" ")       // 20, superset
    val boundary = Seq((200L, wa), (201L, wb)).toDF("doc_id", "text")
    val bj = Dedup.jaccardJoinExact(boundary, "text", "doc_id", 0.55, shingleN = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bj == Set((200L, 201L)), s"exact-threshold boundary pair missing: $bj")
    for (t <- Seq(0.3, 0.5, 0.8); freq <- Seq(false, true)) {
      val exact = Dedup.jaccardJoinExact(df, "text", "doc_id", t, shingleN = 2,
        freqOrdered = freq)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // Brute force: all-pairs within one synthetic block.
      val brute = Dedup.jaccardPairsWithinBlock(
        df.withColumn("blk", lit(1)), "text", "doc_id", "blk", 2, t)
        .as[(Long, Long)].collect().toSet
      assert(exact == brute, s"threshold $t freqOrdered=$freq")
      if (t == 0.5) assert(brute.nonEmpty) // fixture actually exercises it
    }
  }

  test("simhash near-dup join finds planted pair via banding, skips unrelated") {
    val df = Seq((1L, base), (2L, base.replace("today", "tomorrow")),
      (3L, "zzz qqq completely unrelated vocabulary entirely xyz abc"),
      (4L, base))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDuplicates(df, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical -> hamming 0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: near-dup texts within small hamming distance, unrelated far") {
    val df = Seq((1L, base), (2L, base.replace("today", "tomorrow")),
      (3L, "zzz qqq completely unrelated vocabulary entirely xyz abc"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
    assert(hamming(m(1L), m(2L)) <= 12)
  }

  test("jaccard treats inputs as sets: duplicate elements cannot skew the ratio") {
    val df = Seq(
      (Seq("x", "x"), Seq("x")),        // sets {x},{x} -> 1.0
      (Seq("a", "a", "b"), Seq("b", "b", "c")), // {a,b},{b,c} -> 1/3
      (Seq.empty[String], Seq.empty[String]))   // both empty -> 0.0
      .toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b")).as("j"),
        // the builtin set-semantics reference (empty-union guarded)
        when(size(array_union(col("a"), col("b"))) === 0, lit(0.0))
          .otherwise(size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b")))).as("ref"))
    val rows = df.as[(Double, Option[Double])].collect().toSeq
    assert(rows(0)._1 == 1.0 && rows(1)._1 == (1.0 / 3.0) && rows(2)._1 == 0.0)
    rows.take(2).foreach { case (j, ref) => assert(ref.contains(j)) }
  }

  test("jaccard pairs within block") {
    val df = Seq((1L, "a", base), (2L, "a", base.replace("dog", "cat")),
      (3L, "b", base)).toDF("doc_id", "src", "text")
    val pairs = Dedup.jaccardPairsWithinBlock(df, "text", "doc_id", "src", 2, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 3 is in another block
  }

  test("brute-force topK retrieval with pre-filter") {
    val df = Seq(
      (1L, Array(1f, 0f), "en"), (2L, Array(0.9f, 0.1f), "en"),
      (3L, Array(0f, 1f), "en"), (4L, Array(1f, 0f), "de"))
      .toDF("vec_id", "embedding", "lang")
    val out = Retriever.topK(df, "embedding", "vec_id", Array(1f, 0f), 2,
      Some(FilterSpec.EqTo("lang", "en")))
      .select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L))
  }

  test("neighbors: per-query top-k with rank") {
    val store = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1f, 0f)), (20L, Array(0f, 1f)))
      .toDF("q_id", "q_embedding")
    val out = Retriever.neighbors(store, queries, 2)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((10L, 1L, 1), (10L, 3L, 2), (20L, 2L, 1), (20L, 3L, 2)))
  }

  test("LSH ANN recall: same-direction vectors land in the same bucket") {
    val store = (0 until 50).map { i =>
      val angle = i * math.Pi / 100
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1f, 0.01f))).toDF("q_id", "q_embedding")
    val out = Similarity.lshTopK(store, queries, k = 5, numPlanes = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(out.nonEmpty) // bucketed candidates exist and are ranked
  }

  test("ivfAssign: every vector assigned to exactly one centroid") {
    val store = (0 until 30).map(i => (i.toLong, Array(i.toFloat, (30 - i).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfAssign(store, nlist = 4)
    assert(out.count() == 30)
    assert(out.select("centroid_id").distinct().count() <= 4)
  }

  // Deterministic clustered embedding fixture: `nClusters` well-separated
  // unit centers (hash-derived), members/queries are renormalized
  // center + eps*noise perturbations. This is the data shape ANN indexes
  // exist for (the uniform-random store is LSH's worst case and measures
  // nothing about retrieval quality).
  private def clusteredFixture(nClusters: Int, perCluster: Int, dim: Int, eps: Float) = {
    val embedder = new graft.external.HashEmbedder(dim)
    def perturb(center: Array[Float], tag: String): Array[Float] = {
      val noise = embedder.embed(Seq(tag)).head
      val v = center.indices.map(i => center(i) + eps * noise(i)).toArray
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / norm)
    }
    val centers = (0 until nClusters).map(c => embedder.embed(Seq(s"cluster center $c")).head)
    val store = for { c <- 0 until nClusters; i <- 0 until perCluster }
      yield ((c.toLong * perCluster + i), perturb(centers(c), s"member $c $i"))
    val queries = (0 until nClusters).map(c => (1000L + c, perturb(centers(c), s"query $c")))
    (store.toDF("vec_id", "embedding"), queries.toDF("q_id", "q_embedding"))
  }

  private def recallVsBrute(store: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int)(
      approx: org.apache.spark.sql.DataFrame): Double = {
    val brute = Retriever.neighbors(store, queries, k)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = approx.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    got.intersect(brute).size.toDouble / brute.size
  }

  test("ANN recall on clustered embeddings: LSH multi-probe and IVF reach 0.8") {
    val (store, queries) = clusteredFixture(nClusters = 8, perCluster = 40, dim = 64, eps = 0.15f)
    val k = 10
    val recall = recallVsBrute(store, queries, k) _
    // 6 planes = 64 buckets for 8 clusters: buckets stay cluster-sized.
    // (8+ planes over-partitions this fixture and recall drops below the
    // floor — plane count must track log2(cluster count), not store size.)
    val lshRecall = recall(Similarity.lshTopK(store, queries, k = k,
      numPlanes = 6, probeBits = 1))
    info(f"LSH multi-probe recall@$k on clustered data: $lshRecall%.3f")
    assert(lshRecall >= 0.8, f"LSH recall $lshRecall%.3f below 0.8 floor")
    val ivfRecall = recall(Similarity.ivfTopK(store, queries, nlist = 8, nprobe = 2, k = k))
    info(f"IVF nprobe=2 recall@$k on clustered data: $ivfRecall%.3f")
    assert(ivfRecall >= 0.8, f"IVF recall $ivfRecall%.3f below 0.8 floor")
  }

  test("k-means refinement: one Lloyd iteration does not hurt and lifts single-probe recall") {
    val (store, queries) = clusteredFixture(nClusters = 8, perCluster = 40, dim = 64, eps = 0.15f)
    val k = 10
    val recall = recallVsBrute(store, queries, k) _
    val plain = recall(Similarity.ivfTopK(store, queries, nlist = 8, nprobe = 1, k = k))
    val refined = recall(Similarity.ivfTopK(store, queries, nlist = 8, nprobe = 1, k = k,
      refineIters = 1))
    info(f"IVF nprobe=1 recall@$k: sampled centroids $plain%.3f -> refined $refined%.3f")
    assert(refined >= plain, f"refinement regressed recall: $plain%.3f -> $refined%.3f")
    assert(refined >= 0.8, f"refined single-probe recall $refined%.3f below 0.8 floor")
  }

  test("ANN tie policy: both IVF paths == brute force, ties to the lower centroid, list and vector id, at 1, 3 and 8 partitions") {
    import graft.ops.VectorIndex
    // Centroids are the nlist ids with the smallest xxhash64(id) (no
    // refinement). The first two get the SAME vector (axis 2), the next
    // two axes 0 and 1, so every cosine to a centroid is v(axis)/|v| and
    // equal components tie bit for bit. The other vectors are small-int
    // patterns full of 2-, 3- and 4-way ties, plus exact duplicates.
    val (n, nlist, k) = (40, 4, 5)
    val seeds = spark.range(n).orderBy(xxhash64(col("id"))).limit(nlist)
      .as[Long].collect()
    val axisOf = Map(seeds(0) -> 2, seeds(1) -> 2, seeds(2) -> 0, seeds(3) -> 1)
    def vec(i: Int): Array[Float] = axisOf.get(i.toLong) match {
      case Some(a) => Array.tabulate(4)(j => if (j == a) 1f else 0f)
      case None =>
        val v = Array(i % 3, i / 3 % 3, i / 9 % 3, if (i % 5 == 0) 1 else 0).map(_.toFloat)
        if (v.forall(_ == 0f)) Array(0f, 0f, 0f, 1f) else v
    }
    val rows = (0 until n).map(i => (i.toLong, vec(i)))
    val queries = Seq((100L, Array(1f, 1f, 0f, 0f)), (101L, Array(0f, 0f, 1f, 0f)),
      (102L, Array(1f, 1f, 1f, 1f)), (103L, Array(1f, 0f, 1f, 0f)))
    // Expected nearest centroid: highest v(axis), ties to the lower id.
    def nearest(v: Array[Float]): Long =
      axisOf.toSeq.maxBy { case (cid, a) => (v(a), -cid) }._1
    val expectAssign = rows.map { case (id, v) => id -> nearest(v) }.toSet
    val tied = rows.count { case (_, v) =>
      val sims = axisOf.values.toSeq.map(v(_))
      sims.count(_ == sims.max) > 1
    }
    assert(tied > n / 4, s"only $tied of $n vectors tie between centroids")
    val qs = queries.toDF("q_id", "q_embedding")
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    for (parts <- Seq(1, 3, 8)) {
      val store = rows.toDF("vec_id", "embedding").repartition(parts)
      val brute = triples(Retriever.neighbors(store, qs, k))
      assert(brute.size == queries.size * k)
      assert(triples(Similarity.ivfTopK(store, qs, nlist, nprobe = nlist, k = k)) == brute,
        s"ivfTopK != brute force at $parts partitions")
      val rel = VectorIndex.buildIvfPqRelations(store, "embedding", "vec_id", nlist,
        m = 2, ksub = 4, dim = 4, refineIters = 0)
      assert(triples(VectorIndex.searchIvfAdcRelations(qs, "q_embedding", "q_id", k,
        nprobe = nlist, shortlist = n, rel)) == brute,
        s"IVFADC search != brute force at $parts partitions")
      assert(rel.centroids.select("centroid_id").as[Long].collect().toSet == seeds.toSet)
      assert(Similarity.ivfAssign(store, nlist).as[(Long, Long)].collect().toSet ==
        expectAssign, s"ivfAssign off the lower centroid id at $parts partitions")
      assert(rel.store.select("id", "centroid_id").as[(Long, Long)].collect().toSet ==
        expectAssign, s"index assignment off the lower centroid id at $parts partitions")
      val probed = Similarity.probeLists(qs, "q_embedding", "q_id", 1,
          Similarity.pickCentroids(store, nlist, "embedding", "vec_id"))
        .select("q_id", "centroid_id").as[(Long, Long)].collect().toSet
      assert(probed == queries.map { case (q, v) => q -> nearest(v) }.toSet,
        s"nprobe=1 probe off the lower list id at $parts partitions")
      graft.core.Caches.releaseAll()
    }
  }

  test("LSH-blocked embedding near-dup: high recall vs exact pairs on clustered data, no false positives") {
    val (store, _) = clusteredFixture(nClusters = 8, perCluster = 30, dim = 64, eps = 0.15f)
    val threshold = 0.9
    import graft.functions.VectorFunctions.vecCosine
    val a = store.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = store.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val exact = a.crossJoin(b)
      .where(col("id_a") < col("id_b") &&
        vecCosine(col("emb_a"), col("emb_b")) >= threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDuplicatesLsh(store, "embedding", "vec_id",
        threshold = threshold, numPlanes = 6)
      .as[(Long, Long)].collect().toSeq
    assert(lsh.distinct.size == lsh.size, "duplicate pair emissions")
    val lshSet = lsh.toSet
    // Exact verification means NO false positives ever.
    assert(lshSet.subsetOf(exact), s"false positives: ${lshSet.diff(exact)}")
    val recall = lshSet.size.toDouble / exact.size
    info(f"LSH-blocked near-dup recall at $threshold: $recall%.3f (${exact.size} true pairs)")
    assert(recall >= 0.8, f"recall $recall%.3f below 0.8 floor")
  }

  test("BM25: hand-computed scores on a tiny corpus; query probe touches only matching postings") {
    import graft.ops.Lexical
    val df = Seq(
      (1L, "spark spark catalyst"),
      (2L, "spark engine"),
      (3L, "flink engine runtime")).toDF("doc_id", "text")
    val post = Lexical.bm25Postings(df, "text", "doc_id", k1 = 1.2, b = 0.75)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // Hand computation: N=3, avgdl = (3+2+3)/3 = 8/3.
    val avgdl = 8.0 / 3.0
    def bm25(tf: Long, dfreq: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (3.0 - dfreq + 0.5) / (dfreq + 0.5))
      idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    }
    val (tf1, df1, s1) = post((1L, "spark"))
    assert(tf1 == 2 && df1 == 2)
    assert(math.abs(s1 - bm25(2, 2, 3)) < 1e-12)
    val (_, dfFlink, sFlink) = post((3L, "flink"))
    assert(dfFlink == 1 && math.abs(sFlink - bm25(1, 1, 3)) < 1e-12)
    // Top-k: 'spark engine' query — doc 2 matches both terms.
    val postDf = Lexical.bm25Postings(df, "text", "doc_id")
    val top = Lexical.bm25TopK(postDf, Seq("spark", "engine", "engine"), 3)
      .select("id", "rank").as[(Long, Int)].collect().toMap
    assert(top.keySet == Set(1L, 2L, 3L))
    assert(top(2L) == 1) // both terms beat either alone
    // A query with no matching terms returns nothing (index probe).
    assert(Lexical.bm25TopK(postDf, Seq("absent"), 3).count() == 0)
  }

  test("BM25 maxDf cutoff: stopwords never materialize postings, probe stays bounded") {
    import graft.ops.Lexical
    // 'the' appears in every doc (df = 4/4); 'rare' in one.
    val df = Seq(
      (1L, "the rare word"),
      (2L, "the common text"),
      (3L, "the other text"),
      (4L, "the filler")).toDF("doc_id", "text")
    val pruned = Lexical.bm25Postings(df, "text", "doc_id", maxDfFraction = Some(0.5))
    // The stopword has NO posting rows at all — a query containing it
    // cannot drag the probe to full-corpus grain.
    assert(pruned.where(col("term") === "the").count() == 0)
    assert(pruned.where(col("term") === "rare").count() == 1)
    // Probe for (stopword, rare term) touches only the rare term's
    // postings and still ranks its doc first.
    val top = Lexical.bm25TopK(pruned, Seq("the", "rare"), 5)
      .select("id", "rank").as[(Long, Int)].collect().toMap
    assert(top == Map(1L -> 1))
    // Unpruned index keeps the stopword (deviation is opt-in).
    val full = Lexical.bm25Postings(df, "text", "doc_id")
    assert(full.where(col("term") === "the").count() == 4)
  }

  test("RRF fusion: shared ids sum both contributions, singletons keep one") {
    import graft.ops.Lexical
    val dense = Seq((1L, 1), (2L, 2), (4L, 3)).toDF("id", "rank")
    val sparse = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val f = Lexical.rrfFuse(Seq(dense, sparse))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(f.keySet == Set(1L, 2L, 3L, 4L))
    assert(math.abs(f(2L)._1 - (1.0 / 62 + 1.0 / 61)) < 1e-15 && f(2L)._2 == 2)
    assert(math.abs(f(1L)._1 - 1.0 / 61) < 1e-15 && f(1L)._2 == 1)
    assert(math.abs(f(4L)._1 - 1.0 / 63) < 1e-15)
    // The doc ranked 2nd in BOTH lists must outscore any single-list top-1.
    assert(f(2L)._1 > f(1L)._1 && f(2L)._1 > f(3L)._1)
    // Contract enforcement: a non-deduped list contributes only its
    // BEST rank per id, and n_lists counts LISTS, not rows.
    val messy = Seq((7L, 3), (7L, 9)).toDF("id", "rank")
    val g = Lexical.rrfFuse(Seq(messy, sparse))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(math.abs(g(7L)._1 - 1.0 / 63) < 1e-15 && g(7L)._2 == 1, s"got ${g(7L)}")
  }

  test("text analysis: token count, ratios, language id") {
    val df = Seq("The quick brown fox is in the yard and it is happy")
      .toDF("text")
      .select(
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.langIdHeuristic(col("text")).as("lang"),
        TextAnalysis.punctRatio(col("text")).as("punct"))
    val (n, lang, punct) = df.as[(Int, String, Double)].head()
    assert(n == 12)
    assert(lang == "en")
    assert(punct == 0.0)
  }

  test("filter compiler: empty And is true, empty Or is false, Not negates") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(df.where(FilterSpec.compile(FilterSpec.And(Nil))).count() == 3)
    assert(df.where(FilterSpec.compile(FilterSpec.Or(Nil))).count() == 0)
    assert(df.where(FilterSpec.compile(
      FilterSpec.Not(FilterSpec.Gt("x", 1)))).count() == 1)
  }

  test("ngram repetition: hand-computed counts, short/empty text -> 0") {
    // "a b a b a": bigrams = [a b, b a, a b, b a] -> total 4, top 2,
    // dup 4; trigrams = [a b a, b a b, a b a] -> total 3, top 2, dup 2.
    val df = Seq("A b a B a", "solo", "").toDF("text").select(
      TextAnalysis.ngramRepetition(col("text"), 2).as("s2"),
      TextAnalysis.ngramRepetition(col("text"), 3).as("s3"))
    val rows = df.as[(Seq[Long], Seq[Long])].collect()
    assert(rows(0) == ((Seq(4L, 2L, 4L), Seq(3L, 2L, 2L))))
    assert(rows(1) == ((Seq(0L, 0L, 0L), Seq(0L, 0L, 0L)))) // one token: no bigrams
    assert(rows(2) == ((Seq(0L, 0L, 0L), Seq(0L, 0L, 0L))))
  }

  test("ngrams array: space-joined windows, case-folded, SQL-registered") {
    val out = spark.sql("SELECT ngrams('The quick  brown fox', 2) AS g")
      .as[Seq[String]].head()
    assert(out == Seq("the quick", "quick brown", "brown fox"))
    val st = spark.sql("SELECT ngram_repetition('a b a b a', 2) AS s")
      .as[Seq[Long]].head()
    assert(st == Seq(4L, 2L, 4L))
  }

  test("hash sampling: deterministic, append-stable, stratum-uniform split") {
    import graft.ops.Sampling
    val ids = spark.range(0, 10000).withColumn("stratum", col("id") % 4)
    val cuts = Seq("train" -> 52429, "val" -> 58982, "test" -> 65536)
    val split = ids.withColumn("split",
      Sampling.assignSplit(col("id"), "graft_v1", cuts))
    // Deterministic: two evaluations agree row-for-row.
    val a = split.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = split.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // Append-stable by construction: membership is a pure function of
    // (salt, key) — recomputing on a 10x superset preserves every
    // original assignment.
    val sup = spark.range(0, 100000).withColumn("split",
      Sampling.assignSplit(col("id"), "graft_v1", cuts))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.forall { case (k, v) => sup(k) == v })
    // Global proportions near 80/10/10 and uniform within each stratum.
    val byStratum = split.groupBy("stratum", "split").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    for (st <- 0L to 3L) {
      val tr = byStratum.getOrElse((st, "train"), 0L).toDouble / 2500
      val va = byStratum.getOrElse((st, "val"), 0L).toDouble / 2500
      val te = byStratum.getOrElse((st, "test"), 0L).toDouble / 2500
      assert(math.abs(tr - 0.8) < 0.05 && math.abs(va - 0.1) < 0.03 &&
        math.abs(te - 0.1) < 0.03, s"stratum $st: $tr/$va/$te")
    }
  }

  test("shard packing: exclusive prefix-sum shards across forced multi-partition layout") {
    import graft.ops.Packing
    // Exclusive prefix sums: 0,4,8,12,37,38,47,49,59,60 -> /10 ->
    // shards 0,0,0,1,3,3,4,4,5,6 (id 3 is larger than a whole shard
    // and still gets exactly its start shard).
    val df = Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 25L), (4L, 1L),
      (5L, 9L), (6L, 2L), (7L, 10L), (8L, 1L), (9L, 5L))
      .toDF("doc_id", "w")
    val got = Packing.assignShards(df, "doc_id", "w", 10L, partitions = 3)
      .as[(Long, Long)].collect().toMap
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 3L,
      5L -> 3L, 6L -> 4L, 7L -> 4L, 8L -> 5L, 9L -> 6L)
    assert(got == want, s"got $got")
    graft.core.Caches.releaseAll()
  }

  test("cross-corpus Jaccard join equals the filtered self-join at several thresholds") {
    // Same sliding-window corpus as the self-join test: split it into
    // an incoming batch (ids % 3 == 0) and a standing corpus, and pin
    // the R-S prefix join against brute force via the self-join result
    // restricted to cross pairs.
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0L until 30L).map { i =>
      val words = (0 until 12).map(j => vocab((i.toInt + j) % vocab.size))
      (i, words.mkString(" "))
    } ++ Seq((100L, ""), (101L, "x"))
    val df = docs.toDF("doc_id", "text")
    val incoming = df.filter(col("doc_id") % 3 === 0)
    val corpus = df.filter(col("doc_id") % 3 =!= 0)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val rs = Dedup.jaccardJoinAgainst(incoming, corpus, "text", "doc_id", t, shingleN = 2)
        .select("id_in", "id_corpus").as[(Long, Long)].collect().toSet
      val self = Dedup.jaccardJoinExact(df, "text", "doc_id", t, shingleN = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = self.collect {
        case (a, b) if a % 3 == 0 && b % 3 != 0 => (a, b)
        case (a, b) if b % 3 == 0 && a % 3 != 0 => (b, a)
      }
      assert(rs == want, s"threshold $t: rs=$rs want=$want")
      if (t == 0.3) assert(want.nonEmpty)
      graft.core.Caches.releaseAll()
    }
  }

  test("decontamination: planted eval trigram flags overlapping train docs only") {
    import graft.ops.Decontaminate
    val evalDf = Seq((100L, "the secret eval answer is here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "padding words then the secret eval answer leaked through"),
      (2L, "completely clean text with no benchmark overlap at all"),
      (3L, "another copy of the secret eval answer is duplicated")) // shares 2+ trigrams
      .toDF("doc_id", "text")
    val out = Decontaminate.ngramOverlap(train, evalDf, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._1 >= 1 && out(1L)._2)
    assert(out(2L) == ((0L, false)))
    assert(out(3L)._1 >= 2 && out(3L)._2)
    assert(out.size == 3)
  }

  test("span dedup stats equal brute-force string computation (hash path is lossless)") {
    import graft.ops.SpanDedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta iota kappa"), // shares a long prefix with 1
      (3L, "completely different words about catalyst plans and shuffles here"),
      (4L, "short doc")) // fewer than k tokens -> zero spans
    val k = 3
    val df = docs.toDF("doc_id", "text")
    val out = SpanDedup.spanDedupStats(df, "text", "doc_id", k, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Brute force over the span STRINGS — the semantics the hashed
    // plan claims; equality proves the hash path conflates nothing.
    def spans(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
    val all = docs.map { case (id, t) => id -> spans(t) }
    val docsPerSpan = all.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
    docs.foreach { case (id, t) =>
      val ss = spans(t)
      val dup = ss.count(s => docsPerSpan(s) >= 2)
      assert(out(id) == ((ss.size.toLong, dup.toLong)),
        s"doc $id: got ${out(id)}, want (${ss.size}, $dup)")
    }
    assert(out(4L) == ((0L, 0L)))
  }

  test("repeatedSpans inventory: distinct-doc count vs total occurrences") {
    import graft.ops.SpanDedup
    val df = Seq(
      (1L, "x1 x2 x3 a b c x4 x5 x6 a b c"), // "a b c" twice within doc 1
      (2L, "y1 y2 a b c y3"),
      (3L, "z1 z2 z3 z4")).toDF("doc_id", "text")
    val inv = SpanDedup.repeatedSpans(df, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // Exactly one span ("a b c") crosses documents: 2 docs, 3 occurrences.
    assert(inv.toSeq == Seq((2L, 3L)), s"inventory: ${inv.toSeq}")
  }

  test("bigram LM: hand-computed smoothed scores, incl. half-up micro rounding") {
    import graft.ops.LanguageModel
    val df = Seq((1L, "a b"), (2L, "a b c")).toDF("doc_id", "text")
    val lm = LanguageModel.bigramLm(df, "text", alpha = 1.0)
    // c12: (a,b)=2, (b,c)=1; heads: a=2, b=1; V=3.
    val lmRows = lm.collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // P(b|a) = 3/5 -> -ln = 0.51082562...; grid 510826 (rint).
    assert(lmRows(("a", "b")) == ((2L, 2L, 3L, 510826L)))
    // P(c|b) = 2/4 -> ln 2 = 0.69314718; grid 693147.
    assert(lmRows(("b", "c")) == ((1L, 1L, 3L, 693147L)))
    val scores = LanguageModel.scoreDocs(df, lm, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(scores(1L) == ((1L, 0.510826)))
    // doc 2 mean: (510826 + 693147) / 2 = 601986.5 -> half-up 601987.
    assert(scores(2L) == ((2L, 0.601987)))
  }

  test("bigram LM: smoothed conditional distribution sums to 1 per observed head") {
    import graft.ops.LanguageModel
    val df = Seq((1L, "a b a c a b"), (2L, "b c d a")).toDF("doc_id", "text")
    val lm = LanguageModel.bigramLm(df, "text", alpha = 1.0).collect()
    val v = lm.head.getLong(4)
    lm.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val c1 = rows.head.getLong(3).toDouble
      val observed = rows.map(r => (r.getLong(2) + 1.0) / (c1 + v)).sum
      val unseen = (v - rows.length) * 1.0 / (c1 + v)
      assert(math.abs(observed + unseen - 1.0) < 1e-12)
    }
  }

  test("bigram LM: unseen bigram and unseen head take the smoothed fallback") {
    import graft.ops.LanguageModel
    val train = Seq((1L, "a b"), (2L, "a b c")).toDF("doc_id", "text")
    val lm = LanguageModel.bigramLm(train, "text", alpha = 1.0)
    // "a a": seen head a (c1=2), unseen bigram -> P = 1/5, ln 5 grid 1609438.
    // "c a": unseen head c -> P = 1/V = 1/3, ln 3 grid 1098612.
    val heldOut = Seq((10L, "a a"), (11L, "c a")).toDF("doc_id", "text")
    val scores = LanguageModel.scoreDocs(heldOut, lm, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(10L) == 1.609438)
    assert(scores(11L) == 1.098612)
  }

  test("temperature mixture: cuts match an exact BigInt mirror, sample matches an md5 mirror") {
    import graft.ops.Sampling
    val rows = (1L to 80L).map(i => (i, "heavy")) ++ (81L to 100L).map(i => (i, "light"))
    val df = rows.toDF("doc_id", "src")
    val cuts = Sampling.temperatureCuts(df, "src", temperature = 2.0, targetFraction = 1.0)
    val got = cuts.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // Independent mirror of the documented semantics in BigInt.
    val n = 100L
    def wq(ns: Long): Long = math.rint(math.pow(ns.toDouble / n, 0.5) * 1e6).toLong
    val (wH, wL) = (wq(80), wq(20))
    def cut(w: Long, ns: Long): Long =
      ((BigInt(n) * w * 65536) / (BigInt(wH + wL) * ns)).min(65536).toLong
    assert(got("heavy") == ((80L, wH, cut(wH, 80))))
    assert(got("light") == ((20L, wL, cut(wL, 20))))
    assert(cut(wH, 80) < 65536 && cut(wL, 20) == 65536) // both branches live
    // Sample membership: exactly the rows whose md5 16-bit draw clears
    // their source's cut (mirrored with java MessageDigest).
    def draw(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix_test$id".getBytes("UTF-8"))
      d.take(2).map(b => f"${b & 0xff}%02x").mkString
    }
    val kept = Sampling.temperatureSample(df, "src", col("doc_id"), "mix_test", cuts)
      .select("doc_id").as[Long].collect().toSet
    val want = rows.collect {
      case (id, "heavy") if draw(id) < f"${cut(wH, 80)}%04x" => id
      case (id, "light") => id // capped source keeps everything
    }.toSet
    assert(kept == want)
    assert(want.exists(_ <= 80) && !want.forall(_ <= 80))
  }

  test("temperature mixture: T=1 with exact grid proportions keeps natural sampling (all capped)") {
    import graft.ops.Sampling
    val rows = (1L to 80L).map(i => (i, "heavy")) ++ (81L to 100L).map(i => (i, "light"))
    val cuts = Sampling.temperatureCuts(rows.toDF("doc_id", "src"), "src",
      temperature = 1.0, targetFraction = 1.0)
    assert(cuts.collect().map(_.getLong(3)).forall(_ == 65536L))
  }

  test("int8 quantization: hand-computed codes, round-trip accuracy, zero-vector edge") {
    import graft.ops.Quantize
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),   // absmax 2 -> scale 63.5
      (2L, Seq(0.0f, 0.0f)),          // zero vector -> null scale, zero codes
      (3L, Seq(127.0f))               // single element -> code exactly 127
    ).toDF("id", "v")
    val out = df.select(col("id"), col("v"),
        Quantize.int8Scale(col("v")).as("scale"))
      .select(col("id"), col("scale"),
        Quantize.int8Codes(col("v"), col("scale")).as("codes"))
      .select(col("id"), col("scale"), col("codes"),
        Quantize.int8Reconstruct(col("codes"), col("scale")).as("recon"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), r.getSeq[Int](2), r.getSeq[Double](3)))).toMap
    assert(out(1L)._1.contains(63.5))
    assert(out(1L)._2 == Seq(64, -127, 32)) // round(63.5)=64, exact -127, round(31.75)=32
    assert(out(1L)._3.zip(Seq(64 / 63.5, -2.0, 32 / 63.5))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out(2L)._1.isEmpty && out(2L)._2 == Seq(0, 0) && out(2L)._3 == Seq(0.0, 0.0))
    assert(out(3L)._2 == Seq(127) && out(3L)._3 == Seq(127.0))
  }

  test("PII redaction: all three families scrubbed, counts match, clean text untouched") {
    import graft.ops.Pii
    val df = Seq(
      (1L, "mail a.b_c%x+1@sub.example.org and 10.0.0.1 plus +44-123-456-7890 end"),
      (2L, "two mails x@y.io and z@w.co but version 1.2 is not an ip"),
      (3L, "no pii here, just words and numbers 12345"),
      (4L, "edge 999.999.999.999 still scrubbed; 1.2.3.4.5 leaves a tail")
    ).toDF("id", "text")
    val out = df.select(col("id"), Pii.redactAll(col("text")).as("r"),
        Pii.countEmails(col("text")).as("e"), Pii.countPhones(col("text")).as("p"),
        Pii.countIpv4(col("text")).as("i"))
      .as[(Long, String, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "mail <EMAIL> and <IP> plus <PHONE> end")
    assert((out(1L)._3, out(1L)._4, out(1L)._5) == ((1, 1, 1)))
    assert(out(2L)._2 == "two mails <EMAIL> and <EMAIL> but version 1.2 is not an ip")
    assert((out(2L)._3, out(2L)._4, out(2L)._5) == ((2, 0, 0)))
    assert(out(3L)._2 == "no pii here, just words and numbers 12345")
    // Syntactic dotted-quad: out-of-range octets still scrubbed (safe
    // direction); a 5-part run leaves the un-matched tail.
    assert(out(4L)._2 == "edge <IP> still scrubbed; <IP>.5 leaves a tail")
    assert((out(4L)._3, out(4L)._4, out(4L)._5) == ((0, 0, 2)))
  }

  test("quality funnel: first-failing-rule attribution, hand-computed verdicts") {
    import graft.ops.QualityFilter
    val stopsHeavy =
      "the quick brown fox jumps over the lazy dog and it is a sunny day in autumn weather"
    val df = Seq(
      (1L, stopsHeavy),                                    // pass: 18 words, mean len 66/18, many stopwords
      (2L, "tiny doc"),                                    // too_short (2 words)
      // 16 single-char words: passes length count, mean len 1.0 < 3.0
      (3L, Seq.fill(16)("x").mkString(" ")),               // word_length
      // 16 normal words, zero stopwords
      (4L, Seq.fill(16)("spark").mkString(" ")),           // low_stopword
      // too_short AND word_length: attribution goes to the FIRST rule
      (5L, "x y")
    ).toDF("doc_id", "text")
    val out = QualityFilter.funnel(df, "text", "doc_id",
        QualityFilter.gopherRules(col("text")))
      .as[(Long, Int, String, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 == "pass" && out(1L)._4)
    assert(out(2L)._3 == "too_short" && !out(2L)._4)
    assert(out(3L)._3 == "word_length")
    assert(out(4L)._3 == "low_stopword")
    assert(out(5L)._3 == "too_short") // first failing rule wins
    assert(out(1L)._2 == 18)
  }

  test("connected components: chain closes transitively, disjoint pairs stay apart") {
    import graft.ops.Components
    // 1-2, 2-3, 3-4 is a path (diameter 3 — exercises multi-round
    // propagation, not just the one-hop case); 10-11 is disjoint;
    // 20-20 is a self-loop no-op; (5,2) duplicate-edge direction mixes.
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L), (2L, 5L))
      .toDF("a", "b")
    val comps = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(comps(_) == 1L))
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert(!comps.contains(20L)) // self-loop vertex has no real edge
  }

  test("connected components: 200-hop path converges within the default round cap") {
    import graft.ops.Components
    // Plain min-propagation would need 200 rounds (one hop each);
    // pointer jumping doubles reach per round, so the default
    // maxIter=10 must suffice — and the worst-placed vertex (the far
    // end) must still land on the minimum id.
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = Components.connectedComponents(path, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 200 && comps.values.forall(_ == 1L))
  }

  test("leakage-safe split: cluster members share a split, singletons never leak") {
    import graft.ops.Components
    val docs = (1L to 40L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // Two multi-doc clusters spread over ids whose naive draws differ.
    val pairs = Seq((1L, 12L), (12L, 23L), (5L, 30L)).toDF("id_a", "id_b")
    val out = Components.leakageSafeSplit(docs, "doc_id", pairs, "id_a", "id_b",
        "graft_v1", Seq("train" -> 52429, "val" -> 58982, "test" -> 65536))
      .as[(Long, Long, String, Boolean)].collect().map(r => r._1 -> r).toMap
    // Every member of a cluster carries the cluster's split.
    assert(Seq(1L, 12L, 23L).map(out(_)._3).distinct.size == 1)
    assert(Seq(5L, 30L).map(out(_)._3).distinct.size == 1)
    // Singletons: component = self, so naive draw = cluster draw.
    (1L to 40L).filterNot(Seq(1L, 12L, 23L, 5L, 30L).contains)
      .foreach(i => assert(out(i)._2 == i && !out(i)._4))
    // would_leak is exactly naive-differs-from-cluster membership.
    val mirror = (id: Long) => {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft_v1$id".getBytes("UTF-8"))
      val h = d.take(2).map(b => f"${b & 0xff}%02x").mkString
      if (h < "cccd") "train" else if (h < "e666") "val" else "test"
    }
    Seq(1L, 12L, 23L).foreach(i => assert(out(i)._4 == (mirror(i) != mirror(1L))))
    Seq(5L, 30L).foreach(i => assert(out(i)._4 == (mirror(i) != mirror(5L))))
  }

  test("PQ: ADC equals IP-with-reconstruction; codes are per-subspace L2 argmins; deterministic") {
    import graft.ops.ProductQuantize
    import graft.functions.VectorFunctions.vecL2Normalize
    val (store, queries) = clusteredFixture(nClusters = 8, perCluster = 20, dim = 64, eps = 0.15f)
    val books = ProductQuantize.trainCodebooks(store, m = 4, ksub = 16, dim = 64, iters = 2)
    val codes = ProductQuantize.encode(store, books, m = 4, dim = 64)
    // every vector carries exactly m codes
    val perDoc = codes.groupBy("id").count().select("count").as[Long].collect()
    assert(perDoc.forall(_ == 4) && perDoc.length == 160)
    // ADC identity: the LUT sum IS the inner product of the normalized
    // query with the vector's reconstruction (same sum, different
    // association order — 1e-9 covers double rounding, nothing else).
    val lut = ProductQuantize.adcLut(queries, books, m = 4, dim = 64)
    val adc = ProductQuantize.adcScores(codes, lut)
    val recon = ProductQuantize.reconstruct(codes, books)
    val qn = queries.select(col("q_id"), vecL2Normalize(col("q_embedding")).as("__qu"))
    val maxDiff = adc.join(recon, "id").join(qn, "q_id")
      .select(abs(col("adc") - aggregate(
        zip_with(col("__qu"), col("recon"), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x)).as("d"))
      .agg(max(col("d"))).as[Double].head()
    assert(maxDiff < 1e-9, s"ADC != IP(q, recon): max diff $maxDiff")
    // Encode argmax, verified by scoring ALL codes per (id, sub)
    // independently (not by re-running the min_by).
    val sv = store.select(col("vec_id").as("id"),
        vecL2Normalize(col("embedding")).as("__u"))
      .select(col("id"), explode(array((0 until 4).map(s =>
        struct(lit(s).as("sub"), slice(col("__u"), s * 16 + 1, 16).as("svec"))): _*)).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.svec").as("svec"))
    val scoredAll = sv.join(books, "sub")
      .withColumn("d2", aggregate(zip_with(col("svec"), col("cent"),
        (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x))
    val viol = scoredAll.join(codes, Seq("id", "sub"))
      .withColumn("ad2", max(when(col("code_id") === col("code"), col("d2")))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("id"), col("sub"))))
      .where(col("d2") < col("ad2") ||
        (col("d2") === col("ad2") && col("code_id") < col("code")))
      .count()
    assert(viol == 0, s"$viol non-argmin code assignments")
    // Determinism: an independent retrain yields bit-identical codes.
    val books2 = ProductQuantize.trainCodebooks(store, m = 4, ksub = 16, dim = 64, iters = 2)
    val codes2 = ProductQuantize.encode(store, books2, m = 4, dim = 64)
    assert(codes.except(codes2).isEmpty && codes2.except(codes).isEmpty)
  }

  test("PQ exact mode: full shortlist returns brute-force top-k; modest shortlists keep recall") {
    import graft.ops.{ProductQuantize, VectorIndex}
    val (store, queries) = clusteredFixture(nClusters = 8, perCluster = 20, dim = 64, eps = 0.15f)
    val k = 10
    val brute = Retriever.neighbors(store, queries, k)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // shortlist >= |store| makes the exact re-rank total: equality, not recall.
    val exactMode = ProductQuantize.pqTopK(store, queries, m = 4, ksub = 16,
        dim = 64, k = k, shortlist = 1000)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(exactMode == brute, "full-shortlist PQ differs from brute force")
    val recall = recallVsBrute(store, queries, k) _
    val flat = recall(ProductQuantize.pqTopK(store, queries, m = 4, ksub = 16,
      dim = 64, k = k, shortlist = 50))
    info(f"flat PQ shortlist=50 recall@$k: $flat%.3f")
    assert(flat >= 0.9, f"flat-PQ recall $flat%.3f below 0.9 floor")
    val rel = VectorIndex.buildIvfPqRelations(store, "embedding", "vec_id", nlist = 8,
      m = 4, ksub = 16, dim = 64, refineIters = 0)
    val ivfpq = recall(VectorIndex.searchIvfAdcRelations(queries, "q_embedding", "q_id",
      k = k, nprobe = 2, shortlist = 50, rel))
    info(f"IVFPQ nprobe=2 shortlist=50 recall@$k: $ivfpq%.3f")
    assert(ivfpq >= 0.8, f"IVFPQ recall $ivfpq%.3f below 0.8 floor")
    graft.core.Caches.releaseAll()
  }

  // ---- PQ codebook training on the driver ------------------------------

  /** The clustered fixture as a parquet store of `parts` files, so the
    * training collects run real scan jobs over several partitions.
    */
  private def pqStore(parts: Int): org.apache.spark.sql.DataFrame = {
    val dir = tempDir("graft-pq")
    clusteredFixture(nClusters = 8, perCluster = 20, dim = 64, eps = 0.15f)._1
      .repartition(parts).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def booksOf(books: org.apache.spark.sql.DataFrame) =
    books.as[(Int, Int, Seq[Double])].collect().sortBy(b => (b._1, b._2)).toSeq

  /** (sub, code_id, svec) of the `ksub` seed vectors, the first store
    * vectors in (xxhash64(id), id) order, each sliced from its
    * unit-normalized vector.
    */
  private def pqSeeds(store: org.apache.spark.sql.DataFrame, m: Int, ksub: Int, dsub: Int) = {
    import graft.functions.VectorFunctions.vecL2Normalize
    val first = store.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(ksub)
      .select(vecL2Normalize(col("embedding")).as("u")).as[Seq[Double]].collect()
    for (s <- 0 until m; c <- first.indices)
      yield (s, c, first(c).slice(s * dsub, (s + 1) * dsub))
  }

  test("PQ training: the codebooks are a local relation built by at most two Spark jobs") {
    import graft.ops.ProductQuantize
    val store = pqStore(4)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name).mkString(", ")); ()
      }
    }
    Thread.sleep(500) // let the fixture write's events drain first
    spark.sparkContext.addSparkListener(listener)
    try {
      val books = ProductQuantize.trainCodebooks(store, m = 4, ksub = 16, dim = 64, iters = 2)
      books.collect()
      Thread.sleep(500) // listener bus is async
      assert(books.isLocal, "codebooks must come back as a local relation")
      assert(jobs.size <= 2, s"training launched ${jobs.size} Spark jobs: $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("PQ training: codebooks are bit-identical at 1, 3 and 8 store partitions") {
    import graft.ops.ProductQuantize
    val store = pqStore(1)
    val all = Seq(1, 3, 8).map(n => booksOf(ProductQuantize.trainCodebooks(
      store.repartition(n), m = 4, ksub = 16, dim = 64, iters = 2)))
    assert(all.head.nonEmpty)
    all.tail.foreach(b => assert(b == all.head, "codebooks depend on the store's partitioning"))
  }

  test("PQ training: zero Lloyd rounds return exactly the seed subvectors") {
    import graft.ops.ProductQuantize
    val store = pqStore(3)
    val books = booksOf(ProductQuantize.trainCodebooks(store, m = 4, ksub = 16, dim = 64, iters = 0))
    assert(books == pqSeeds(store, m = 4, ksub = 16, dsub = 16))
  }

  test("PQ training: one Lloyd round re-centers each code on the mean of its nearest subvectors") {
    import graft.ops.ProductQuantize
    import graft.functions.VectorFunctions.vecL2Normalize
    val store = pqStore(3)
    val books = booksOf(ProductQuantize.trainCodebooks(store, m = 4, ksub = 16, dim = 64, iters = 1))
    // Independent reference: HOF distances to every seed, argmin with
    // ties toward the lower code id, per-position avg.
    val seeds = pqSeeds(store, m = 4, ksub = 16, dsub = 16).toDF("sub", "code_id", "seed")
    val sv = store.select(col("vec_id"), vecL2Normalize(col("embedding")).as("u"))
      .select(col("vec_id"), explode(array((0 until 4).map(s =>
        struct(lit(s).as("sub"), slice(col("u"), s * 16 + 1, 16).as("svec"))): _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.svec").as("svec"))
    val nearestW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("sub")).orderBy(col("d2"), col("code_id"))
    val expected = sv.join(seeds, "sub")
      .withColumn("d2", aggregate(zip_with(col("svec"), col("seed"),
        (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x))
      .withColumn("r", row_number().over(nearestW)).where(col("r") === 1)
      .select(col("sub"), col("code_id"), posexplode(col("svec")).as(Seq("pos", "v")))
      .groupBy("sub", "code_id", "pos").agg(avg(col("v")).as("mean"))
      .as[(Int, Int, Int, Double)].collect()
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((s, c), ps) => (s, c, ps.sortBy(_._3).map(_._4).toSeq) }
      .sortBy(b => (b._1, b._2))
    assert(books.map(b => (b._1, b._2)) == expected.map(e => (e._1, e._2)),
      "the surviving codes must be exactly those that attracted subvectors")
    val maxDiff = books.zip(expected)
      .flatMap { case (b, e) => b._3.zip(e._3).map { case (x, y) => math.abs(x - y) } }.max
    assert(maxDiff <= 1e-12, s"centroid differs from its members' mean by $maxDiff")
  }

  test("PQ training: null embeddings are skipped; few or no usable vectors still train") {
    import graft.ops.ProductQuantize
    val store = pqStore(3)
    // Null every 7th embedding (`Sweep null`'s pattern): the same books as
    // a store without those rows.
    val nulled = store.withColumn("embedding",
      when(col("vec_id") % 7 === 0, lit(null)).otherwise(col("embedding")))
    val withNulls = booksOf(ProductQuantize.trainCodebooks(nulled, m = 4, ksub = 16, dim = 64))
    val without = booksOf(ProductQuantize.trainCodebooks(
      store.where(col("vec_id") % 7 =!= 0), m = 4, ksub = 16, dim = 64))
    assert(withNulls.nonEmpty && withNulls == without)
    // Five usable vectors (one more row is null): five codes per subspace.
    val few = nulled.where(col("vec_id") <= 5)
    val fewBooks = booksOf(ProductQuantize.trainCodebooks(few, m = 4, ksub = 16, dim = 64))
    assert(fewBooks.map(b => (b._1, b._2)) ==
      (for (s <- 0 until 4; c <- 0 until 5) yield (s, c)))
    // Empty store: empty relation, same schema.
    val empty = ProductQuantize.trainCodebooks(store.limit(0), m = 4, ksub = 16, dim = 64)
    assert(empty.isEmpty && empty.schema ==
      ProductQuantize.trainCodebooks(few, m = 4, ksub = 16, dim = 64).schema)
  }

  test("Caches.shared returns a local relation unpersisted, once per release") {
    import org.apache.spark.storage.StorageLevel
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def build() = {
      builds.incrementAndGet()
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, 1)), org.apache.spark.sql.types.StructType.fromDDL("sub INT, code_id INT"))
    }
    try {
      val first = graft.core.Caches.shared("test-local-shared")(build())
      assert(first.isLocal && first.storageLevel == StorageLevel.NONE,
        "a local relation must not be persisted")
      assert(graft.core.Caches.shared("test-local-shared")(build()) eq first)
      assert(builds.get == 1)
      graft.core.Caches.releaseShared()
      val again = graft.core.Caches.shared("test-local-shared")(build())
      assert(builds.get == 2 && !(again eq first), "releaseShared must drop the key")
    } finally {
      graft.core.Caches.releaseAll()
      graft.core.Caches.releaseShared()
    }
  }

  test("dedup clusters: every doc assigned, singletons canonical, sizes correct") {
    import graft.ops.Components
    val docs = (1L to 8L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Components.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((1L, 3L, true)) && out(2L) == ((1L, 3L, false))
      && out(3L) == ((1L, 3L, false)))
    assert(out(5L) == ((5L, 2L, true)) && out(6L) == ((5L, 2L, false)))
    Seq(4L, 7L, 8L).foreach(i => assert(out(i) == ((i, 1L, true))))
    // keep/drop semantics: filtering is_canonical yields exactly one
    // survivor per cluster plus every singleton.
    assert(out.count(_._2._3) == 5)
  }

  test("DSIR importance resampling prefers target-like docs; top-k is exact") {
    import graft.ops.ImportanceSampling
    // Two disjoint vocabularies: "target-like" docs reuse the target
    // corpus's words, "off-domain" docs use an unrelated vocabulary.
    val tgtVocab = (0 until 20).map(i => s"sci$i")
    val offVocab = (0 until 20).map(i => s"web$i")
    def doc(vocab: IndexedSeq[String], seed: Int): String =
      (0 until 15).map(j => vocab((seed * 7 + j * 3) % vocab.size)).mkString(" ")
    val raw = ((0L until 10L).map(i => (i, doc(tgtVocab, i.toInt))) ++
      (10L until 20L).map(i => (i, doc(offVocab, i.toInt))) ++
      Seq((30L, ""), (31L, null.asInstanceOf[String]))) // degenerate texts
      .toDF("doc_id", "text")
    val target = (100L until 106L).map(i => (i, doc(tgtVocab, i.toInt)))
      .toDF("doc_id", "text")

    val weights = ImportanceSampling.importanceWeights(
      raw, ImportanceSampling.bucketLogRatios(raw, target, "text", 1, "s"),
      "text", "doc_id", 1, "s")
      .as[(Long, Long)].collect().toMap
    // Degenerate docs have no features → weight exactly 0.
    assert(weights(30L) == 0L && weights(31L) == 0L)
    // Every target-vocab doc outweighs every off-domain doc: their
    // buckets are enriched in the target corpus, the others depleted.
    val minTgt = (0L until 10L).map(weights).min
    val maxOff = (10L until 20L).map(weights).max
    assert(minTgt > maxOff, s"target-like floor $minTgt !> off-domain ceil $maxOff")

    // resample = exact top-k of (w + gumbel): recompute the full ranking
    // without the limit and compare the selected set and every value.
    val full = ImportanceSampling.importanceWeights(
        raw, ImportanceSampling.bucketLogRatios(raw, target, "text", 1, "s"),
        "text", "doc_id", 1, "s")
      .withColumn("g_micro", ImportanceSampling.gumbelMicro(col("id"), "s:g"))
      .withColumn("total_micro", col("w_micro") + col("g_micro"))
      .as[(Long, Long, Long, Long)].collect()
      .sortBy(r => (-r._4, r._1)).take(5).toSeq
    val sel = ImportanceSampling.resample(raw, target, "text", "doc_id",
      n = 1, k = 5, salt = "s").as[(Long, Long, Long, Long)].collect().toSeq
    assert(sel == full, s"resample top-5 $sel != brute-force $full")
    // Deterministic: a second run selects identical rows.
    val again = ImportanceSampling.resample(raw, target, "text", "doc_id",
      n = 1, k = 5, salt = "s").as[(Long, Long, Long, Long)].collect().toSeq
    assert(again == sel)
  }

  test("bloom filter: no false negatives, sane false-positive count at fpp=0.01") {
    import graft.ops.Sketches
    // Aligned domains: processed covers every even below 1000, incoming
    // is every multiple of 3 below 1000, so the true-new set is exactly
    // the odd multiples of 3.
    val processed = (0L until 500L).map(i => i * 2).toDF("id")
    val incoming = (0L until 334L).map(i => i * 3).toDF("id")
    // No false negatives is structural (every processed probe hits);
    // the fp rate among the 167 truly-new keys must be sane for
    // fpp=0.01, not just correct.
    val bloom = Sketches.bloomBuild(processed, "id", 500, 0.01)
    val hits = incoming.where(Sketches.bloomMightContain(bloom, col("id")))
      .as[Long].collect()
    assert(hits.count(_ % 2 == 0) == 167, "a processed key missed the bloom")
    val falsePos = hits.count(_ % 2 == 1)
    assert(falsePos <= 20, s"fp count $falsePos implausible for fpp=0.01 over 167 news")
  }

  test("CMS estimates never undercount and hit exact counts on a wide sketch") {
    import org.apache.spark.sql.graftbridge.Bridge
    val words = Seq.tabulate(600)(i => s"tok${i % 37}") ++ Seq.fill(50)("heavy")
    val df = words.toDF("term")
    val exact = words.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val sketch = df.agg(
      expr("count_min_sketch(term, 0.001d, 0.99d, 42)").as("cms"))
    val probed = df.distinct().crossJoin(broadcast(sketch))
      .withColumn("est", Bridge.column(graft.functions.CmsEstimateExpr(
        Bridge.expression(col("cms")), Bridge.expression(col("term")))))
      .select(col("term"), col("est")).as[(String, Long)].collect().toMap
    probed.foreach { case (t, est) =>
      assert(est >= exact(t), s"CMS undercounted $t: $est < ${exact(t)}")
    }
    // eps=0.001 over 650 occurrences -> width >> distinct terms, so the
    // sketch is collision-free and every estimate is EXACT.
    probed.foreach { case (t, est) =>
      assert(est == exact(t), s"wide sketch inexact for $t: $est != ${exact(t)}")
    }
  }

  test("segment dedup strips cross-doc boilerplate, keeps within-doc repeats") {
    import graft.ops.SpanDedup
    // w=2 segments. "ad copy" is shared by docs 1 and 2 (boilerplate);
    // doc 3 repeats "own words" TWICE within itself (one vote — kept);
    // doc 4 is empty; doc 5's trailing segment is shorter than w.
    val docs = Seq(
      (1L, "ad copy alpha beta"),          // segs: [ad copy][alpha beta]
      (2L, "gamma delta ad copy"),         // segs: [gamma delta][ad copy]
      (3L, "own words own words"),         // segs: [own words][own words]
      (4L, ""),
      (5L, "solo text tail")               // segs: [solo text][tail]
    ).toDF("doc_id", "text")
    val out = SpanDedup.removeBoilerplateSegments(docs, "text", "doc_id",
        w = 2, minDocs = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("alpha beta", 2L, 1L)))
    assert(out(2L) == (("gamma delta", 2L, 1L)))
    assert(out(3L) == (("own words own words", 2L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))
    assert(out(5L) == (("solo text tail", 2L, 0L)))
    graft.core.Caches.releaseAll()
  }

  test("stratified exact-k equals the single-window reference on any slicing") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    // Strata of very different sizes, including one smaller than k.
    val rows = (0L until 300L).map(i => (i, if (i < 250) "big"
      else if (i < 295) "mid" else "tiny"))
    val reference = {
      val w = Window.partitionBy(col("g"))
        .orderBy(Sampling.hashHex16(col("id"), "s"), col("id"))
      rows.toDF("id", "g").withColumn("rank", row_number().over(w))
        .where(col("rank") <= 7)
        .select(col("id"), col("g"), col("rank"))
        .as[(Long, String, Int)].collect().toSet
    }
    // The salted two-phase rank must agree under different partition
    // counts (the prune depends on slicing; the result must not).
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("id", "g").repartition(parts)
      val out = Sampling.stratifiedExactK(df, "g", col("id"), k = 7, salt = "s")
        .select(col("id"), col("g"), col("rank"))
        .as[(Long, String, Int)].collect().toSet
      assert(out == reference, s"parts=$parts diverged from reference")
    }
    // Per-stratum cardinality: min(k, |stratum|).
    val counts = reference.groupBy(_._2).view.mapValues(_.size).toMap
    assert(counts == Map("big" -> 7, "mid" -> 7, "tiny" -> 5))
  }

  test("mergeable stats: any shard split and re-merge equals the direct scan") {
    import graft.ops.IncrementalStats
    val rows = Seq.tabulate(300)(i =>
      (i.toLong, s"g${i % 3}", (i % 7).toLong, s"src${i % 11}"))
      .toDF("id", "g", "w", "src")
    def finish(stats: org.apache.spark.sql.DataFrame) =
      IncrementalStats.withEstimate(stats)
        .select(col("g"), col("n_rows").cast("long"), col("w_sum").cast("long"),
          col("n_distinct_est").cast("long"))
        .as[(String, Long, Long, Long)].collect().toSet
    val direct = finish(IncrementalStats.shardStats(rows, "g", "w", "src"))
    // 11 distinct srcs per group: the HLL estimate is exact down here,
    // so set equality pins counts, sums, AND the estimate.
    assert(direct.map(r => (r._1, r._2, r._3, r._4)) ==
      Set(("g0", 100L, 297L, 11L), ("g1", 100L, 299L, 11L), ("g2", 100L, 301L, 11L)))
    // Three-way split with OVERLAPPING source values across shards.
    val shards = Seq(
      rows.where(col("id") % 3 === 0), rows.where(col("id") % 3 === 1),
      rows.where(col("id") % 3 === 2))
      .map(IncrementalStats.shardStats(_, "g", "w", "src"))
    val merged = finish(IncrementalStats.mergeStats(
      shards.reduce(_ unionByName _), "g"))
    assert(merged == direct)
    // Incremental: a previously-merged row is just another partial.
    val incremental = finish(IncrementalStats.mergeStats(
      IncrementalStats.mergeStats(shards.head.unionByName(shards(1)), "g")
        .unionByName(shards(2)), "g"))
    assert(incremental == direct)
  }

  test("blocklist: host canonicalization and word ratio") {
    import graft.ops.Blocklist
    val urls = Seq(
      "https://www.Bad.Example.org/path?q=1" -> "bad.example.org",
      "http://user:pw@bad.example.org:8080/x" -> "bad.example.org",
      "bad.example.org/path" -> "bad.example.org",
      "www.good.example.org" -> "good.example.org",
      "https://good.example.org" -> "good.example.org",
      "ftp+ssh://WWW.GOOD.example.org:21" -> "good.example.org",
      "https://192.168.0.1:443/x" -> "192.168.0.1",
      "wwwgood.example.org" -> "wwwgood.example.org") // no dot: not a www prefix
    val hosts = urls.map(_._1).toDF("url")
      .select(Blocklist.urlHost(col("url"))).as[String].collect().toSeq
    assert(hosts == urls.map(_._2))

    val ratios = Seq("spark fast spark other", "  ", "none here")
      .toDF("t")
      .select(Blocklist.blockedWordRatio(col("t"), Seq("spark", "fast")))
      .as[Double].collect().toSeq
    // distinct words: {spark, fast, other} -> 2/3; blank -> 0; {none, here} -> 0
    assert(math.abs(ratios.head - 2.0 / 3.0) < 1e-12 &&
      ratios(1) == 0.0 && ratios(2) == 0.0, s"got $ratios")
  }

  test("event funnel: greedy earliest binding, gap boundaries, broken prefixes") {
    import graft.ops.Funnel
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val evs = Seq(
      // user 1: completes all three; step 2 binds to its EARLIEST
      // qualifying click (t=5), not the later one (t=8).
      (1L, 0L, "view"), (1L, 5L, "click"), (1L, 8L, "click"), (1L, 12L, "purchase"),
      // user 2: click at EXACTLY the gap bound (10) -> included (<=);
      // purchase exactly at its bound too.
      (2L, 0L, "view"), (2L, 10L, "click"), (2L, 20L, "purchase"),
      // user 3: click at the SAME ts as the view -> strict > excludes
      // it; the later click is beyond the gap -> funnel breaks at 1.
      (3L, 0L, "view"), (3L, 0L, "click"), (3L, 11L, "click"),
      // user 4: no view at all -> absent from output.
      (4L, 0L, "click"), (4L, 1L, "purchase"),
      // user 5: view then click, purchase too late -> 2 steps.
      (5L, 0L, "view"), (5L, 3L, "click"), (5L, 30L, "purchase"))
      .map { case (u, s, ty) => (u, t(s), ty) }
      .toDF("user_id", "ts", "event_type")
    val out = Funnel.funnelMatch(evs, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapSeconds = 10L)
      .select(col("key"), col("steps_completed"),
        col("ts_1").cast("long"), col("ts_2").cast("long"), col("ts_3").cast("long"))
      .as[(Long, Int, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 3, Some(0L), Some(5L), Some(12L)),
      (2L, 3, Some(0L), Some(10L), Some(20L)),
      (3L, 1, Some(0L), None, None),
      (5L, 2, Some(0L), Some(3L), None)))
  }

  test("negative sampling: bounded, excluded, slicing-independent") {
    val docs = Seq.tabulate(200)(i => (i.toLong, s"src${i % 5}"))
      .toDF("doc_id", "source")
    def run(parts: Int) = graft.ops.Sampling.negativeSamples(
        docs.repartition(parts), "doc_id", "source",
        k = 3, buckets = 16, salt = "t")
      .select("doc_id", "slot", "neg_id")
      .as[(Long, Int, Long)].collect().toSet
    val out = run(4)
    assert(out == run(1) && out == run(13), "selection depends on slicing")
    // At most k negatives per query doc.
    out.groupBy(_._1).values.foreach(vs => assert(vs.size <= 3))
    // Exclusions: never self, never same source.
    val srcOf = (0 until 200).map(i => i.toLong -> s"src${i % 5}").toMap
    out.foreach { case (q, _, n) =>
      assert(q != n && srcOf(q) != srcOf(n), s"bad negative ($q, $n)")
    }
    // The guard actually fires somewhere (some slots dropped).
    assert(out.size < 600 && out.size > 300, s"unexpected volume ${out.size}")
  }

  test("scd2: no-op suppression, null-safe transitions, end-exclusive tiling") {
    import graft.ops.Scd2
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val log = Seq(
      (1L, 10L, 100L, Some("a")),
      (1L, 20L, 101L, Some("a")),   // repeat -> suppressed
      (1L, 30L, 102L, Some("b")),
      (1L, 30L, 103L, Some("c")),   // same ts: event_id breaks the tie
      (1L, 40L, 104L, None),        // non-null -> null IS a change
      (1L, 50L, 105L, None),        // null repeat -> suppressed
      (1L, 60L, 106L, Some("a")),   // null -> non-null IS a change
      (2L, 10L, 200L, Some("x")))   // single-version key
      .map { case (k, s, id, st) => (k, t(s), id, st.orNull) }
      .toDF("k", "ts", "id", "st")
    val out = Scd2.fromChangeLog(log, "k", "ts", "id", "st")
      .select(col("k"), col("st"), col("valid_from").cast("long"),
        col("valid_to").cast("long"), col("is_current"))
      .as[(Long, Option[String], Long, Option[Long], Boolean)]
      .collect().toSeq.sortBy(r => (r._1, r._3))
    assert(out == Seq(
      (1L, Some("a"), 10L, Some(30L), false),
      (1L, Some("b"), 30L, Some(30L), false), // zero-width: superseded same-ts
      (1L, Some("c"), 30L, Some(40L), false),
      (1L, None, 40L, Some(60L), false),
      (1L, Some("a"), 60L, None, true),
      (2L, Some("x"), 10L, None, true)))
    // Tiling: each key's intervals cover [first_from, inf) with no
    // gaps — every valid_to equals the next valid_from.
    out.groupBy(_._1).values.foreach { vs =>
      vs.sortBy(_._3).sliding(2).foreach {
        case Seq(a, b) => assert(a._4.contains(b._3), s"gap between $a and $b")
        case _ =>
      }
    }
    // Composability: the as-of semantics — a fact at t joins the
    // version with valid_from <= t < coalesce(valid_to, inf).
    val facts = Seq((1L, 35L), (1L, 45L), (1L, 70L)).map { case (k, s) => (k, t(s)) }
      .toDF("k", "fts")
    val versions = Scd2.fromChangeLog(log, "k", "ts", "id", "st")
    val matched = facts.join(versions,
        facts("k") === versions("k") && col("fts") >= col("valid_from") &&
          (col("valid_to").isNull || col("fts") < col("valid_to")))
      .select(col("fts").cast("long"), col("st"))
      .as[(Long, Option[String])].collect().toSet
    assert(matched == Set((35L, Some("c")), (45L, None), (70L, Some("a"))))
  }

  test("column profile: counts, nulls, cardinality, range, char budget") {
    import graft.ops.Profile
    val df = Seq(
      (1L, Some("aa"), Some(10L)),
      (2L, None, Some(10L)),
      (3L, Some("bbb"), None),
      (4L, Some("aa"), Some(7L)))
      .toDF("id", "s", "n")
    val out = Profile.profile(df, Seq("id", "s", "n"))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, Option[String], Option[String], Long)]
      .collect().toSeq
    assert(out == Seq(
      ("id", 4L, 4L, 4L, Some("1"), Some("4"), 4L),
      // numeric min/max are over the STRING rendering by design
      ("n", 4L, 3L, 2L, Some("10"), Some("7"), 5L),
      ("s", 4L, 3L, 2L, Some("aa"), Some("bbb"), 7L)))
  }

  test("weighted sample equals an independent JVM reimplementation of E-S top-k") {
    import graft.ops.Sampling
    val rows = (1L to 400L).map(i => (i, (i % 37) * 50 + 1)) :+ (401L, 0L)
    val df = rows.toDF("id", "w")
    val out = Sampling.weightedSampleK(df, col("id"), col("w"), k = 25, salt = "t1")
      .select(col("id"), col("es_key_micro"), col("rank"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._3)
    // Brute-force reference: same md5 draw, same ln/w, same 1e-6 snap,
    // same (key desc, id) total order — computed without Spark.
    val md = java.security.MessageDigest.getInstance("MD5")
    def keyMicro(id: Long, w: Long): Long = {
      val hex = md.digest(s"t1$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967297.0
      Math.rint(Math.log(u) / w * 1e6).toLong
    }
    val expect = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, keyMicro(id, w)) }
      .sortBy { case (id, km) => (-km, id) }.take(25)
      .zipWithIndex.map { case ((id, km), i) => (id, km, i + 1L) }
    assert(out == expect)
    assert(!out.exists(_._1 == 401L), "zero-weight row must be excluded")
  }

  test("equi-depth histogram: uniform data fills every bucket equally") {
    import graft.ops.Histogram
    val df = (1 to 100).map(i => i.toDouble).toDF("v")
    val out = Histogram.equiDepth(df, "v", buckets = 10)
      .orderBy("bucket")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.map(_._1) == (0L until 10L))
    assert(out.forall(_._2 == 10L), s"uneven buckets: $out")
    // contiguous, ordered coverage: each bucket's min follows the
    // previous bucket's max
    out.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 < b._3)
      case _ =>
    }
    assert(out.map(_._5).sum == (1 to 100).sum.toDouble)
  }

  test("z-score outliers: exact integer predicate agrees with float reference") {
    import graft.ops.Outliers
    val a = Seq.fill(20)(1.0) :+ 100.0          // one planted outlier
    val b = Seq.fill(10)(5.0)                   // zero variance -> none
    val c = Seq(1.0, 2.0)                       // n=2, huge relative dev
    val df = (a.map(("a", _)) ++ b.map(("b", _)) ++ c.map(("c", _)))
      .toDF("g", "v")
    val out = Outliers.zscoreOutliers(df, "g", "v", z = 3)
      .orderBy("g")
      .as[(String, Long, Long, Double)].collect().toSeq
    // Float reference on group a: mean/stddev_samp on cents
    val cents = a.map(x => Math.rint(x * 100).toLong)
    val n = cents.size
    val mean = cents.sum.toDouble / n
    val varS = cents.map(x => (x - mean) * (x - mean)).sum / (n - 1)
    val expA = cents.count(x => Math.abs(x - mean) > 3 * Math.sqrt(varS))
    assert(out == Seq(
      ("a", 21L, expA.toLong, 100.0),
      ("b", 10L, 0L, 0.0),
      // n=2: each dev is s/2; 9x variance dominates -> never flagged
      ("c", 2L, 0L, 0.0)))
    assert(expA == 1)
  }

  test("weekly cohorts: first-week bucketing, offsets, distinct actives") {
    import graft.ops.Retention
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // Weeks (Mon-start): W1=Jan1, W2=Jan8, W3=Jan15, W4=Jan22.
    val ev = Seq(
      (1L, t(2)), (1L, t(3)), (1L, t(9)), (1L, t(23)),  // W1 cohort: W1,W2,W4
      (2L, t(5)),                                       // W1 cohort: W1 only
      (3L, t(10)), (3L, t(16)))                         // W2 cohort: W2,W3
      .toDF("user_id", "ts")
    val out = Retention.weeklyCohorts(ev, "user_id", "ts")
      .select(col("cohort_week").cast("string"), col("week_offset"), col("n_users"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(out == Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L), ("2024-01-01", 3L, 1L),
      ("2024-01-08", 0L, 1L), ("2024-01-08", 1L, 1L)))
  }

  test("basket lift: pair counts, exact micro lift, duplicate-row collapse") {
    import graft.ops.Affinity
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L),  // duplicate (basket,item) counts once
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L),
      (4L, 40L))
      .toDF("b", "i")
    val out = Affinity.basketLift(rows, "b", "i", minSupport = 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    // N=4 baskets; n_10=3, n_20=2, n_30=1.
    // lift(10,20) = 4*2*1e6 / (3*2) = 1333333 (floor)
    // lift(10,30) = 4*1*1e6 / (3*1) = 1333333 (floor)
    assert(out == Seq(
      (10L, 20L, 2L, 3L, 2L, 1333333L),
      (10L, 30L, 1L, 3L, 1L, 1333333L)))
    val sup2 = Affinity.basketLift(rows, "b", "i", minSupport = 2)
      .select("item_a", "item_b").as[(Long, Long)].collect().toSeq
    assert(sup2 == Seq((10L, 20L)))
  }

  test("support pairs: apriori item prune is invisible in the result (random baskets)") {
    import graft.ops.Affinity
    // Seeded random baskets with a deliberately heavy unique-item tail,
    // so the prune removes real co-occurring rows (pairs of two
    // infrequent items, and mixed frequent/infrequent pairs) — none of
    // which can reach minSupport. Oracle = in-memory brute force.
    val rnd = new scala.util.Random(41)
    val rows = (1L to 40L).flatMap { b =>
      val size = 1 + rnd.nextInt(6)
      Seq.fill(size)((b, (rnd.nextInt(60) + 1).toLong))
    }
    for (minSupport <- Seq(2L, 3L)) {
      graft.core.Caches.releaseShared()
      val got = Affinity.supportPairs(rows.toDF("b", "i"), "b", "i", minSupport)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val expect = rows.distinct.groupBy(_._1).values
        .flatMap(items => items.map(_._2).sorted.combinations(2))
        .toSeq.groupBy(identity).view
        .map { case (p, occ) => (p(0), p(1), occ.size.toLong) }
        .filter(_._3 >= minSupport).toSeq.sorted
      assert(got == expect, s"minSupport=$minSupport")
    }
    graft.core.Caches.releaseShared()
    // Market-basket cap == brute force over baskets within the cap.
    val megaRows = rows ++ (1L to 9L).map(i => (999L, i * 7L))
    graft.core.Caches.releaseShared()
    val capped = Affinity.supportPairs(megaRows.toDF("b", "i"), "b", "i", 2L,
        maxBasketSize = Some(8))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val cappedExpect = megaRows.distinct.groupBy(_._1).values
      .filter(_.map(_._2).distinct.size <= 8)
      .flatMap(items => items.map(_._2).distinct.sorted.combinations(2))
      .toSeq.groupBy(identity).view
      .map { case (p, occ) => (p(0), p(1), occ.size.toLong) }
      .filter(_._3 >= 2L).toSeq.sorted
    assert(capped == cappedExpect)
    graft.core.Caches.releaseShared()
  }

  test("JL projection equals an independent JVM reimplementation; null vecs dropped") {
    import graft.ops.RandomProjection
    val vecs = Seq(
      (1L, Array(0.5f, -1.25f, 3.0f)),
      (2L, Array(2.0f, 0.0f, -0.75f)),
      (3L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val out = RandomProjection.jlProject(vecs, "vec_id", "embedding", outDims = 4, salt = "t9")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Long, i: Int): Long = {
      val hex = md.digest(s"t9$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 1), 16) % 2) * 2 - 1
    }
    val expect = for {
      (id, v) <- Seq((1L, Array(0.5f, -1.25f, 3.0f)), (2L, Array(2.0f, 0.0f, -0.75f)))
      j <- 0L until 4L
    } yield (id, j, v.zipWithIndex.map { case (x, i) =>
      sign(j, i) * Math.rint(x.toDouble * 1e6).toLong }.sum)
    assert(out == expect.sorted)
    assert(!out.exists(_._1 == 3L), "null vector must be dropped")
  }

  test("integer-grid pagerank matches hand-computed damped updates") {
    import graft.ops.PageRank
    // Symmetric path 1-2-3: deg(1)=1, deg(2)=2, deg(3)=1.
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    // it1: r1=r3 = 150000 + 17*(1e6//2)//20 = 575000
    //      r2   = 150000 + 17*(1e6 + 1e6)//20 = 1850000
    // it2: r1=r3 = 150000 + 17*(1850000//2)//20 = 936250
    //      r2   = 150000 + 17*(575000 + 575000)//20 = 1127500
    val it2 = PageRank.pageRankMicro(path, "src", "dst", iterations = 2)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(it2 == Seq((1L, 936250L), (2L, 1127500L), (3L, 936250L)))
    // A node with no in-edges keeps the 150000 base; its target
    // collects the full damped contribution.
    val oneWay = Seq((4L, 1L)).toDF("src", "dst")
    val r = PageRank.pageRankMicro(oneWay, "src", "dst", iterations = 1)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(r == Seq((1L, 1000000L), (4L, 150000L)))
  }

  test("snapshot diff labels added/removed/changed/unchanged; null fields compare equal") {
    import graft.ops.SnapshotDiff
    val prev = Seq(
      (1L, Some("a"), "s1"),          // unchanged
      (2L, Some("b"), "s1"),          // changed (text)
      (3L, Some("c"), "s1"),          // removed
      (4L, None: Option[String], "s1") // unchanged with a NULL field
    ).toDF("doc_id", "text", "source")
    val cur = Seq(
      (1L, Some("a"), "s1"),
      (2L, Some("B"), "s1"),
      (4L, None: Option[String], "s1"),
      (5L, Some("e"), "s2")           // added
    ).toDF("doc_id", "text", "source")
    val out = SnapshotDiff.diff(prev, cur, "doc_id", Seq("text", "source"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("rank eval computes exact integer hits/recall/RR per query") {
    import graft.ops.RankEval
    // q=1: relevant {10,11,12}; top-3 retrieved hits 11 at rank 2 ->
    //   hits=1, recall=floor(1e6/3)=333333, rr=floor(1e6/2)=500000.
    // q=2: relevant {20}; retrieved misses entirely -> zeros, rr=0.
    // q=3: no judgments -> dropped.
    val retrieved = Seq(
      (1L, 99L, 1L), (1L, 11L, 2L), (1L, 98L, 3L), (1L, 10L, 4L), // rank 4 > k
      (2L, 97L, 1L), (2L, 96L, 2L),
      (3L, 95L, 1L)
    ).toDF("q_id", "vec_id", "rank")
    val relevant = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
      .toDF("q_id", "vec_id")
    val out = RankEval.rankEval(retrieved, relevant, "q_id", "vec_id", "rank", k = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 1L, 3L, 333333L, 500000L),
      (2L, 0L, 1L, 0L, 0L)))
  }

  test("cross-corpus cosine contamination flags the planted near-match only") {
    import graft.ops.Dedup
    val ref = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Seq(1.0f, 0.0f)),   // cosine 1.0 -> contaminated
      (2L, Seq(0.0f, 1.0f)),   // cosine 0.0
      (3L, Seq(1.0f, 1.0f))    // cosine ~0.7071
    ).toDF("vec_id", "embedding")
    val out = Dedup.cosineContaminationAgainst(train, ref, "embedding", "vec_id", 0.9)
      .select(col("id"), round(col("max_cos"), 4), col("contaminated"))
      .as[(Long, Double, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, 1.0, true), (2L, 0.0, false), (3L, 0.7071, false)))
  }

  test("tfidf keywords rank group-characteristic terms; shared terms score zero") {
    import graft.ops.Lexical
    // "rare" appears only in s1's docs (df=2 of 4 docs, tf=3 in s1);
    // "common" appears in every doc -> idf ln(1)=0 -> score 0.
    val docs = Seq(
      (1L, "s1", "rare rare common"),
      (2L, "s1", "rare common"),
      (3L, "s2", "common other"),
      (4L, "s2", "common other other")
    ).toDF("doc_id", "source", "text")
    val out = Lexical.tfidfKeywords(docs, "text", "doc_id", "source", k = 2)
      .as[(String, String, Long, Long, Long, Int)].collect().toSeq
      .sortBy(r => (r._1, r._6))
    val lnHalfMicro = math.rint(math.log(4.0 / 2.0) * 1e6).toLong // ln(2) grid
    assert(out == Seq(
      ("s1", "rare", 3L, 2L, 3L * lnHalfMicro, 1),
      ("s1", "common", 2L, 4L, 0L, 2),
      ("s2", "other", 3L, 2L, 3L * lnHalfMicro, 1),
      ("s2", "common", 2L, 4L, 0L, 2)))
  }

  test("source overlap computes exact trigram Jaccard/containment; disjoint pairs omitted") {
    import graft.ops.CorpusOverlap
    val docs = Seq(
      (1L, "s1", "a b c d"), // trigrams {a b c, b c d}
      (2L, "s2", "a b c e"), // trigrams {a b c, b c e}
      (3L, "s3", "x y z w") // disjoint
    ).toDF("doc_id", "source", "text")
    val out = CorpusOverlap.sourceOverlap(docs, "text", "source", 3)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    // |A∩B|=1, |A|=|B|=2 -> jaccard 1/3, containment 1/2 (micro floor)
    assert(out == Seq(("s1", "s2", 2L, 2L, 1L, 333333L, 500000L)))
  }

  test("KL drift matches the hand-computed micro-nat grid") {
    import graft.ops.Drift
    // corpus: a×2, b×4 (n=6); g1 = [a,a,b], g2 = [b,b,b]
    // KL(g1) = (2·ln2 + 1·ln0.5)//3 = 693147//3 = 231049
    // KL(g2) = (3·ln1.5)//3 = ln1.5 = 405465
    val docs = Seq((1L, "g1", "a a b"), (2L, "g2", "b b b"))
      .toDF("doc_id", "source", "text")
    val out = Drift.klDrift(docs, "text", "source")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(("g1", 2L, 3L, 231049L), ("g2", 1L, 3L, 405465L)))
  }

  test("token entropy is exact on the micro grid; uniform and empty edge cases") {
    import graft.ops.TextAnalysis
    val df = Seq((1L, "a a b"), (2L, "x x x x"), (3L, ""))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.tokenEntropyMicro(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    // H(a a b) = ln3 − (2ln2)//3 = 1098612 − 1386294//3 = 636514
    assert(out == Map(1L -> 636514L, 2L -> 0L, 3L -> 0L))
  }

  test("edit-distance join equals brute force at k=1 and k=2, incl. short strings") {
    import graft.ops.EditDistanceJoin
    // Deterministic corpus with planted typos (substitution, deletion,
    // insertion, transposition = 2 edits), duplicates, and strings
    // short enough for the brute-force arm (len <= 3k).
    val words = Seq("spark", "spork", "sprk", "sparkk", "sprak", "spark",
      "catalyst", "catalist", "engine", "enginee", "ab", "ba", "a", "",
      "abc", "axc", "tungsten", "tungsten")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "s")
    for (k <- Seq(1, 2)) {
      val got = EditDistanceJoin.editDistanceJoin(df, "s", "id", k)
        .as[(Long, Long, Int)].collect().toSet
      val brute = (for {
        (a, i) <- words.zipWithIndex; (b, j) <- words.zipWithIndex
        if i < j
        d = {
          val m = Array.tabulate(a.length + 1, b.length + 1) { (x, y) =>
            if (x == 0) y else if (y == 0) x else 0 }
          for (x <- 1 to a.length; y <- 1 to b.length)
            m(x)(y) = math.min(math.min(m(x - 1)(y) + 1, m(x)(y - 1) + 1),
              m(x - 1)(y - 1) + (if (a(x - 1) == b(y - 1)) 0 else 1))
          m(a.length)(b.length)
        }
        if d <= k
      } yield (i.toLong, j.toLong, d)).toSet
      assert(got == brute, s"k=$k: got ${got.size}, brute ${brute.size}")
    }
  }

  test("group MinHash signatures merge (min of parts == signature of union) and estimate tracks exact Jaccard") {
    import graft.ops.CorpusOverlap
    // Two sources sharing half their vocabulary: s1 = w0..w59,
    // s2 = w30..w89 as 10-word docs -> trigram sets overlap heavily.
    def doc(lo: Int): String = (lo until lo + 10).map(i => s"w$i").mkString(" ")
    val s1 = (0 until 51 by 10).map(lo => ("s1", doc(lo)))
    val s2 = (30 until 81 by 10).map(lo => ("s2", doc(lo)))
    val docs = (s1 ++ s2).zipWithIndex
      .map { case ((src, t), i) => (i.toLong, src, t) }
      .toDF("doc_id", "source", "text")
    // Mergeability: signature over the full group equals the
    // elementwise min of the signatures of any disjoint split.
    val full = CorpusOverlap.groupSignatures(docs, "text", "source", 3, 64)
      .as[(String, Seq[Long])].collect().toMap
    val splitDf = docs.withColumn("source",
      concat(col("source"), lit("_p"), (col("doc_id") % 2).cast("string")))
    val parts = CorpusOverlap.groupSignatures(splitDf, "text", "source", 3, 64)
      .as[(String, Seq[Long])].collect().toMap
    for (g <- Seq("s1", "s2")) {
      val merged = parts(s"${g}_p0").zip(parts(s"${g}_p1"))
        .map { case (a, b) => math.min(a, b) }
      assert(merged == full(g), s"merge mismatch for $g")
    }
    // Estimator vs exact, same bound the q125 envelope pins.
    val exact = CorpusOverlap.sourceOverlap(docs, "text", "source", 3)
      .select("jaccard_micro").as[Long].collect().head
    val est = CorpusOverlap.sourceOverlapEstimate(docs, "text", "source", 3, 128)
      .select("est_micro").as[Long].collect().head
    assert(math.abs(est - exact) <= 250000L,
      s"estimate $est vs exact $exact out of bound")
  }

  test("markov transition matrix matches brute sequence walk") {
    import graft.ops.Markov
    // Two users; u1 has an equal-timestamp tie broken by event_id.
    val rows = Seq(
      (1L, 10L, 100L, "view"), (1L, 20L, 101L, "click"),
      (1L, 20L, 102L, "view"), (1L, 30L, 103L, "buy"),
      (2L, 5L, 104L, "view"), (2L, 6L, 105L, "view"),
      (2L, 7L, 106L, "click"))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type")
    val got = Markov.transitionMatrix(df, "user_id", "ts", "event_type", "event_id")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val brute = rows.groupBy(_._1).values.flatMap { evs =>
      evs.sortBy(e => (e._2, e._3)).map(_._4).sliding(2).collect {
        case Seq(a, b) => (a, b)
      }
    }.toSeq.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val totals = brute.groupBy(_._1._1).map { case (s, m) => (s, m.values.sum) }
    val expect = brute.map { case ((s, t), n) =>
      (s, t, n, totals(s), 1000000L * n / totals(s))
    }.toSet
    assert(got == expect)
  }

  test("hashed classifier: scan-only scoring matches a JVM md5 recompute; empty doc scores 0") {
    import graft.ops.HashedClassifier
    val docs = Seq((1L, "spark joins hash tables fast"), (2L, ""),
      (3L, "spark joins hash tables fast"), (4L, "one"))
      .toDF("doc_id", "text")
    val got = HashedClassifier.score(docs, "text", "doc_id")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def score(text: String): Long = {
      val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) 0L
      else toks.map(t => h60("hc1" + (h60(t) % 4096)) % 2000001L - 1000000L)
        .sum / toks.length
    }
    for ((id, n, s, lbl) <- got) {
      val text = Seq("spark joins hash tables fast", "",
        "spark joins hash tables fast", "one")(id.toInt - 1)
      assert(s == score(text), s"doc $id")
      assert(lbl == (s >= 0) && n == text.split("\\s+").count(_.nonEmpty))
    }
    // Identical texts score identically (pure function of content).
    assert(got(0)._3 == got(2)._3)
  }

  test("quantile sketch bound: exact percentiles right, GK rank guarantee holds") {
    import graft.ops.Sketches
    val rows = (1 to 101).map(i => ("a", i.toDouble)) ++
      (1 to 11).map(i => ("b", i * 10.0))
    val df = rows.toDF("g", "v").repartition(7)
    val got = Sketches.quantileSketchBound(df, "g", "v", accuracy = 100)
      .as[(String, Long, Double, Double, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    // 1..101: p50 = 51 exactly, p90 = 91 exactly (interpolation lands
    // on integers); 10..110 by 10: p50 = 60, p90 = 100.
    assert(got == Seq(("a", 101L, 51.0, 91.0, true, true),
      ("b", 11L, 60.0, 100.0, true, true)))
  }

  test("bottom-k sample is a mergeable sketch: bottom-k of shards unions into bottom-k of whole") {
    import graft.ops.Sampling
    val ids = (1L to 400L).toDF("doc_id")
    val whole = Sampling.bottomKSample(ids, col("doc_id"), 25, "bk1")
      .as[(Long, String)].collect().toSeq
    val shard1 = Sampling.bottomKSample(
      ids.where(col("doc_id") <= 200), col("doc_id"), 25, "bk1")
    val shard2 = Sampling.bottomKSample(
      ids.where(col("doc_id") > 200), col("doc_id"), 25, "bk1")
    val merged = Sampling.bottomKSample(
      shard1.select("doc_id").union(shard2.select("doc_id")),
      col("doc_id"), 25, "bk1").as[(Long, String)].collect().toSeq
    assert(merged.sortBy(_._2) == whole.sortBy(_._2))
    assert(whole.map(_._2) == whole.map(_._2).sorted && whole.size == 25)
  }

  test("entity resolution: planted typo resolves, digit-neighbor without balance agreement does not") {
    import graft.ops.EntityResolution
    val recs = Seq(
      // 1 and its dirty copy 101: trailing-char typo, same balance+segment.
      (1L, "Customer#000000001", 3L, 711.56, "BUILDING"),
      (101L, "Customer#00000000x", 3L, 711.56, "BUILDING"),
      // 2 is 1's digit-neighbor (lev 1) but different balance/segment.
      (2L, "Customer#000000002", 3L, 121.65, "AUTOMOBILE"),
      // 3 shares 1's balance but is in another block (nation).
      (3L, "Customer#000000003", 7L, 711.56, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("name_blk", substring(col("c_name"), 10, 6))
    val got = EntityResolution.resolve(recs, "c_custkey", "c_name",
        Seq("c_nationkey", "name_blk"), "c_acctbal", "c_mktsegment",
        maxLev = 1, thresholdMicro = 800000L)
      .as[(Long, Long, Int, Long, Boolean, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // nameSim for lev=1/len=18 pairs: 600000*17/18 = 566666.
    assert(got == Seq(
      (1L, 2L, 1, 566666L + 0L, false, 1L, 1L),
      (1L, 101L, 1, 566666L + 250000L + 150000L, true, 1L, 1L),
      (2L, 101L, 1, 566666L, false, 1L, 1L)))
  }

  test("entity resolution collapses exact-duplicate records before pairing") {
    import graft.ops.EntityResolution
    // Record 1 replicated 3-deep (same every field, distinct ids) plus
    // its typo'd copy: pairing runs at distinct grain — ONE pair, with
    // the replication depth in n_a.
    val recs = Seq(
      (1L, "Customer#000000001", 3L, 711.56, "BUILDING"),
      (11L, "Customer#000000001", 3L, 711.56, "BUILDING"),
      (12L, "Customer#000000001", 3L, 711.56, "BUILDING"),
      (101L, "Customer#00000000x", 3L, 711.56, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .withColumn("name_blk", substring(col("c_name"), 10, 6))
    val got = EntityResolution.resolve(recs, "c_custkey", "c_name",
        Seq("c_nationkey", "name_blk"), "c_acctbal", "c_mktsegment",
        maxLev = 1, thresholdMicro = 800000L)
      .as[(Long, Long, Int, Long, Boolean, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 101L, 1, 966666L, true, 3L, 1L)))
  }

  test("dedup cascade: exact removals shield near stage; pair dominance by id") {
    import graft.ops.DedupCascade
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val aNear = a.replace("today", "tonight") // J >= 0.8 vs a
    val docs = Seq(
      (1L, a), (2L, a), (3L, aNear), (4L, aNear),
      (5L, "completely different content about spark shuffles and joins working"))
      .toDF("doc_id", "text")
    val got = DedupCascade.cascade(docs, "text", "doc_id", 0.8, 3)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // 2 and 4 fall to the exact stage (lower-id identical text); 3
    // survives exact but loses to 1 at the near stage; 1 and 5 keep.
    assert(got == Seq((1L, "kept"), (2L, "exact"), (3L, "near"),
      (4L, "exact"), (5L, "kept")))
    graft.core.Caches.releaseAll()
  }

  test("score calibration buckets against exact quantile boundaries") {
    import graft.ops.Calibrate
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "s").repartition(5)
    val got = Calibrate.scorePercentile(df, "s", "id", buckets = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // Boundaries over 1..100 at p=.25/.5/.75: 25.75, 50.5, 75.25 —
    // bucket = 1 + #{boundaries strictly below the score}.
    for ((id, s, b) <- got) {
      val expect = 1 + Seq(25.75, 50.5, 75.25).count(_ < s)
      assert(b == expect, s"score $s: bucket $b != $expect")
    }
    assert(got.map(_._3).distinct.sorted == Seq(1L, 2L, 3L, 4L))
  }

  test("incremental cascade stages a batch against the corpus only") {
    import graft.ops.DedupCascade
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq((1L, a),
      (2L, "completely different corpus content about spark shuffles and joins"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, a), // exact corpus replay
      (11L, a.replace("today", "tonight")), // near vs corpus doc 1
      (12L, "fresh unseen material with entirely new words in it"),
      (13L, "fresh unseen material with entirely new words in it")) // in-batch dup: NOT this op's job
      .toDF("doc_id", "text")
    val got = DedupCascade.cascadeAgainst(batch, corpus, "text", "doc_id", 0.8, 3)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, "exact_corpus"), (11L, "near_corpus"),
      (12L, "kept"), (13L, "kept")))
    graft.core.Caches.releaseAll()
  }

  test("materialized vector index: full-probe search == brute force; probes prune buckets; append/rebind") {
    import graft.ops.VectorIndex
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = tempDir("graft-vecidx")
    VectorIndex.writeIvfIndex(emb, "embedding", "vec_id", nlist = 8,
      refineIters = 1, tablePrefix = "t_vec", basePath = s"$dir/idx")
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    // Full probe == brute-force per-query top-k (same score, same ties).
    val full = VectorIndex.searchIvfIndex(queries, "q_embedding", "q_id",
        k = 5, nprobe = 8, tablePrefix = "t_vec")
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = graft.query.Retriever.neighbors(emb, queries, 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == brute)
    graft.core.Caches.releaseAll()
    // Partial probe prunes buckets at the scan (the conf pin the
    // search scopes internally, applied here explicitly for the plan
    // assert).
    val prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val plan = spark.table("t_vec_store").where(col("centroid_id").isin(0L, 1L))
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"probed scan must prune buckets:\n$plan")
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
    // Append: new vectors join the fixed-centroid lists and are found.
    val novel = emb.where(col("vec_id") < 3)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"))
    VectorIndex.appendToIvfIndex(novel, "embedding", "vec_id", "t_vec")
    val after = VectorIndex.searchIvfIndex(queries, "q_embedding", "q_id",
        k = 2, nprobe = 8, tablePrefix = "t_vec")
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    // an appended exact copy of query 0's vector must tie at the top
    // (cosine 1) — rank 1 or 2 among {0, 90000}
    assert(after.filter(_._1 == 0L).map(_._2).toSet.contains(90000L),
      s"appended duplicate vector must surface: ${after.toSeq.filter(_._1 == 0L).sorted}")
    // Rebind after catalog loss.
    for (t <- Seq("meta", "store", "centroids")) spark.sql(s"DROP TABLE IF EXISTS t_vec_$t")
    graft.core.StandingStore(spark, "t_vec", s"$dir/idx").rebind(VectorIndex.coarseTables: _*)
    val rebound = VectorIndex.searchIvfIndex(queries, "q_embedding", "q_id",
        k = 2, nprobe = 8, tablePrefix = "t_vec")
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(rebound.toSet == after.toSet)
    graft.core.Caches.releaseAll()
  }

  test("index-backed SemDeDup: exact mode == unblocked exact closure; tight knobs only refine") {
    import graft.ops.{Components, Dedup, VectorIndex}
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = tempDir("graft-semdd")
    val n = emb.count().toInt
    // Exact reference: UNBLOCKED ≥-threshold pairs (constant block)
    // closed under connectivity — what dedupClustersIndexed must equal
    // in exact mode (nprobe = nlist, k = shortlist = |corpus|).
    val exactPairs = Dedup.embeddingNearDuplicates(
      emb.withColumn("__blk", lit(0)), "embedding", "vec_id", "__blk", 0.4)
    val exact = Components.dedupClusters(emb, "vec_id", exactPairs,
        "id_a", "id_b")
      .select("vec_id", "component", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val indexed = Components.dedupClustersIndexed(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8, nprobe = 8, k = n, shortlist = n,
        m = 4, ksub = 16, dim = 64,
        tablePrefix = "t_semdd", basePath = s"$dir/idx")
      .select("vec_id", "component", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(indexed == exact, "exact-mode index closure must equal the " +
      "unblocked exact closure")
    assert(exact.exists(!_._4), "fixture must have at least one non-" +
      "canonical member or the pin is vacuous")
    graft.core.Caches.releaseAll()
    // Round 14: the IN-MEMORY scratch-index spelling (q181/q188's
    // subset path — no catalog round-trip) must equal the
    // catalog-backed spelling row for row, same knobs.
    val inMem = Components.dedupClustersIndexedInMemory(emb, "embedding",
        "vec_id", threshold = 0.4, nlist = 8, nprobe = 8, k = n,
        shortlist = n, m = 4, ksub = 16, dim = 64)
      .select("vec_id", "component", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(inMem == exact, "in-memory scratch index closure must equal " +
      "the catalog-backed closure")
    graft.core.Caches.releaseAll()
    // Production knobs (partial probe, tight shortlist/k): emitted
    // pairs stay sound — a missed edge can only SPLIT a cluster, so
    // the tight assignment must REFINE the exact one (two ids sharing
    // a tight component always share the exact component).
    val tight = Components.dedupClustersIndexed(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8, nprobe = 1, k = 2, shortlist = 2,
        m = 4, ksub = 16, dim = 64,
        tablePrefix = "t_semdd2", basePath = s"$dir/idx2")
      .select("vec_id", "component").as[(Long, Long)].collect()
    val exactComp = exact.map(r => r._1 -> r._2).toMap
    for ((_, members) <- tight.groupBy(_._2); x = members.head._1;
         (y, _) <- members)
      assert(exactComp(x) == exactComp(y),
        s"tight cluster must refine the exact clusters: $x vs $y")
    graft.core.Caches.releaseAll()
  }

  test("D4 composition: SemDeDup survivors feed the prototype prune, in that order") {
    import graft.ops.{Components, Prototypes}
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = tempDir("graft-d4")
    val n = emb.count().toInt
    val d4 = Prototypes.d4Prune(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8, nprobe = 8, k = n, shortlist = n,
        m = 4, ksub = 16, dim = 64, nClusters = 4, refineRounds = 1,
        epsNum = 1L, epsDen = 10L,
        tablePrefix = "t_d4a", basePath = s"$dir/a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(6)))
    graft.core.Caches.releaseAll()
    // Family columns == the standalone SemDeDup stage (same knobs).
    val sem = Components.dedupClustersIndexed(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8, nprobe = 8, k = n, shortlist = n,
        m = 4, ksub = 16, dim = 64,
        tablePrefix = "t_d4b", basePath = s"$dir/b")
      .select("vec_id", "component", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(d4.map(r => (r._1, r._2, r._3, r._4)).toSet == sem)
    val canon = sem.filter(_._4).map(_._1)
    assert(canon.size < n, "fixture must deduplicate something or the " +
      "order pin is vacuous")
    // ORDER pin: the prototype stage's domain is exactly the survivor
    // set — non-survivors carry null prototype columns and kept=false.
    assert(d4.filter(_._5.isDefined).map(_._1).toSet == canon)
    for (r <- d4 if !r._4) assert(r._5.isEmpty && !r._6)
    // kept == survived both stages: equals prunePrototypical over the
    // survivor relation (the survivors-only geometry — pruning the RAW
    // store would score against duplicate-dragged centroids).
    graft.core.Caches.releaseAll()
    val surv = emb.join(
      sem.filter(_._4).map(_._1).toSeq.toDF("vec_id"), Seq("vec_id"))
    val direct = Prototypes.prunePrototypical(surv, "embedding", "vec_id",
        nClusters = 4, refineRounds = 1, epsNum = 1L, epsDen = 10L)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    for (r <- d4 if r._4)
      assert(r._6 == direct(r._1), s"vec ${r._1} kept mismatch")
    graft.core.Caches.releaseAll()
    // The envelope row agrees: full-value survivor count + all-true
    // soundness booleans.
    val env = Prototypes.d4Envelope(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8, nprobe = 8, k = n, shortlist = n,
        m = 4, ksub = 16, dim = 64, nClusters = 4, refineRounds = 1,
        epsNum = 1L, epsDen = 10L,
        tablePrefix = "t_d4c", basePath = s"$dir/c").head()
    assert(env.getAs[Long]("n_vecs") == n.toLong)
    assert(env.getAs[Long]("n_survivors") == canon.size.toLong)
    for (c <- Seq("assigned_argmax", "drop_count_exact",
        "dropped_are_most_prototypical", "kept_drop_partition",
        "pruned_domain_is_survivors"))
      assert(env.getAs[Boolean](c), c)
    graft.core.Caches.releaseAll()
  }

  test("every standing store rebinds from its files: rows and bucket specs survive a catalog loss") {
    import graft.core.StandingStore
    import graft.ops.{Boilerplate, TokenStore, VectorIndex}
    val dir = tempDir("graft-rebind")
    val docs = (0L until 24L).map(i =>
      (i, s"doc $i says hello\nshared footer line\nword ${i % 5} and more text"))
      .toDF("doc_id", "text")
    val emb = clusteredFixture(nClusters = 8, perCluster = 20, dim = 64, eps = 0.15f)._1
    Dedup.writeCorpusIndex(docs, "text", "doc_id", threshold = 0.5, shingleN = 2,
      tablePrefix = "t_rb_idx", basePath = s"$dir/idx", numBuckets = 4)
    Boilerplate.writeLineStats(docs, "text", "doc_id", tablePrefix = "t_rb_ls",
      basePath = s"$dir/ls", numBuckets = 4)
    TokenStore.ensure(docs, "text", "doc_id", 20, "t_rb_tok", s"$dir/tok")
    VectorIndex.ensureIvfPqIndex(emb, "embedding", "vec_id", nlist = 8, m = 4,
      ksub = 16, dim = 64, tablePrefix = "t_rb_vec", basePath = s"$dir/vec")
    graft.core.Caches.releaseAll()
    val stores = Seq(
      ("t_rb_idx", s"$dir/idx", Dedup.corpusIndexTables),
      ("t_rb_ls", s"$dir/ls", Boilerplate.lineStatsTables),
      ("t_rb_tok", s"$dir/tok", TokenStore.tables),
      ("t_rb_vec", s"$dir/vec", VectorIndex.coarseTables ++ VectorIndex.pqTables))
    def rows(table: String): Seq[String] =
      spark.table(table).collect().map(_.toString).sorted.toSeq
    def bucketSpec(table: String): Map[String, String] =
      spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .map(r => r.getString(0) -> r.getString(1))
        .filter(kv => Set("Num Buckets", "Bucket Columns", "Sort Columns")(kv._1))
        .toMap
    for ((prefix, base, tables) <- stores) {
      val names = tables.map(t => s"${prefix}_${t._1}")
      val before = names.map(n => n -> (rows(n), bucketSpec(n))).toMap
      for ((n, (r, _)) <- before) assert(r.nonEmpty, s"$n is empty: the pin is vacuous")
      for (((_, bucketCol), n) <- tables.zip(names))
        assert(before(n)._2.get("Bucket Columns") == bucketCol.map(c => s"[`$c`]"),
          s"$n was written with bucket spec ${before(n)._2}")
      names.foreach(n => spark.sql(s"DROP TABLE $n"))
      assert(names.forall(n => !spark.catalog.tableExists(n)))
      StandingStore(spark, prefix, base).rebind(tables: _*)
      for (n <- names) {
        assert(rows(n) == before(n)._1, s"$n rows changed across the rebind")
        assert(bucketSpec(n) == before(n)._2, s"$n bucket spec changed across the rebind")
      }
    }
  }

  test("materialized corpus index: index-backed join/cascade == direct; append == rebuild") {
    import graft.ops.{Dedup, DedupCascade}
    // Sliding-window docs so the RS join has a rich pair structure.
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0L until 30L).map { i =>
      (i, (0 until 12).map(j => vocab((i.toInt + j) % vocab.size)).mkString(" "))
    }
    val corpus = docs.filter(_._1 % 3 != 0).toDF("doc_id", "text")
    val incoming = docs.filter(_._1 % 3 == 0).toDF("doc_id", "text")
    Dedup.writeCorpusIndex(corpus, "text", "doc_id", threshold = 0.5,
      shingleN = 2, tablePrefix = "t_idx", numBuckets = 4)
    // Index-backed == direct at the build threshold AND above it
    // (stored prefixes are a superset of any higher threshold's).
    for (t <- Seq(0.5, 0.8)) {
      val viaIdx = Dedup.jaccardJoinAgainstIndex(incoming, "text", "doc_id", t, "t_idx")
        .select("id_in", "id_corpus").as[(Long, Long)].collect().toSet
      val direct = Dedup.jaccardJoinAgainst(incoming, corpus, "text", "doc_id", t, shingleN = 2)
        .select("id_in", "id_corpus").as[(Long, Long)].collect().toSet
      assert(viaIdx == direct, s"threshold $t")
      if (t == 0.5) assert(direct.nonEmpty)
      graft.core.Caches.releaseAll()
    }
    // Below the build threshold the stored prefixes are too short —
    // must refuse, never silently lose recall.
    intercept[IllegalArgumentException](
      Dedup.jaccardJoinAgainstIndex(incoming, "text", "doc_id", 0.3, "t_idx"))
    // Cascade through the index == direct cascade.
    val batch = incoming.unionByName(
      Seq((100L, docs(1)._2), (101L, docs(1)._2 + " zz")).toDF("doc_id", "text"))
    val viaIdx = DedupCascade.cascadeAgainstIndex(batch, "text", "doc_id", 0.8, "t_idx")
      .as[(Long, String)].collect().toSeq.sorted
    val direct = DedupCascade.cascadeAgainst(batch, corpus, "text", "doc_id", 0.8, 2)
      .as[(Long, String)].collect().toSeq.sorted
    assert(viaIdx == direct)
    assert(viaIdx.exists(_._2 == "exact_corpus") && viaIdx.exists(_._2 == "near_corpus"))
    graft.core.Caches.releaseAll()
    // Append path: index(c1) + append(c2) serves the same results as a
    // fresh rebuild over c1 ∪ c2.
    val c1 = docs.filter(d => d._1 % 3 != 0 && d._1 < 15).toDF("doc_id", "text")
    val c2 = docs.filter(d => d._1 % 3 != 0 && d._1 >= 15).toDF("doc_id", "text")
    Dedup.writeCorpusIndex(c1, "text", "doc_id", 0.5, 2, "t_idx2", numBuckets = 4)
    Dedup.appendToCorpusIndex(c2, "text", "doc_id", "t_idx2")
    val appended = Dedup.jaccardJoinAgainstIndex(incoming, "text", "doc_id", 0.5, "t_idx2")
      .select("id_in", "id_corpus").as[(Long, Long)].collect().toSet
    val rebuilt = Dedup.jaccardJoinAgainst(incoming, corpus, "text", "doc_id", 0.5, shingleN = 2)
      .select("id_in", "id_corpus").as[(Long, Long)].collect().toSet
    assert(appended == rebuilt)
    // The candidate arm reads the bucketed prefix table as a bucketed
    // scan (the co-location the materialization buys).
    val plan = Dedup.jaccardJoinAgainstIndex(incoming, "text", "doc_id", 0.5, "t_idx")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"prefix scan not bucketed:\n$plan")
    graft.core.Caches.releaseAll()
  }

  test("centroid drift: exact per-dim mean shift; one-sided labels excluded") {
    import graft.ops.CentroidDrift
    val rows = Seq(
      (1L, "a", Seq(1.0f, 0.0f)), (2L, "a", Seq(1.0f, 0.0f)), // old a
      (3L, "a", Seq(0.5f, 0.25f)),                            // new a
      (4L, "b", Seq(0.0f, 1.0f)), (5L, "b", Seq(0.0f, 1.0f)), // old b == new b
      (6L, "b", Seq(0.0f, 1.0f)),
      (7L, "c", Seq(0.9f, 0.9f)))                             // old only
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = CentroidDrift.centroidDrift(df, "embedding", "label",
        col("vec_id") % 3 =!= 0)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // a: old mean (1e6, 0), new mean (5e5, 2.5e5) -> L1 750000,
    // L2² 5e5² + 2.5e5² = 312500000000. b: zero drift. c: excluded.
    assert(got == Seq(("a", 2L, 1L, 750000L, 312500000000L),
      ("b", 2L, 1L, 0L, 0L)))
  }

  test("MAD outliers: Hampel rule on the doubled-median grid; half-integer medians exact") {
    import graft.ops.Outliers
    val rows = Seq(
      ("a", 0.01), ("a", 0.02), ("a", 0.03), ("a", 0.04), ("a", 1.00),
      ("b", 0.01), ("b", 0.02)) // even count: median 1.5 cents
    val df = rows.toDF("g", "v").repartition(3)
    val got = Outliers.madOutliers(df, "g", "v", k = 5)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // a: med2=6, dev2=(4,2,0,2,194), mad4=4 -> only 194 flags (1.00).
    // b: dev2=(1,1), mad4=2 -> 2*1 < 10, none flag.
    assert(got == Seq(("a", 5L, 1L, 1.00), ("b", 2L, 0L, 0.0)))
  }

  test("data-quality report: planted violations counted, clean constraints pass") {
    import graft.ops.DataQuality._
    val parent = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val child = Seq((1L, 10.0), (1L, 60.0), (3L, -1.0), (2L, 20.0))
      .toDF("pid", "qty")
    val dup = Seq((1L, 1), (1L, 1), (2L, 1)).toDF("k1", "k2")
    val got = report(Seq(
        orphanCount(child, "pid", parent, "id", "orphans"),
        duplicateKeyCount(dup, Seq("k1", "k2"), "dups"),
        nullCount(parent, "name", "name_nulls"),
        rangeViolations(child, "qty", 0, 50, "qty_range")))
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("dups", 1L, false), ("name_nulls", 0L, true),
      ("orphans", 1L, false), ("qty_range", 2L, false)))
  }

  test("triangle count via degree-ordered orientation == brute force on random graphs") {
    import graft.ops.Triangles
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 25
      val raw = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // Feed dirty input: self-loops, duplicates, both orientations.
      val df = (raw ++ raw.map(_.swap)).toDF("a", "b").repartition(5)
      val es = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val vs = es.flatMap(e => Seq(e._1, e._2))
      val brute = (for {
        Seq(x, y, z) <- vs.toSeq.sorted.combinations(3)
        if es((x, y)) && es((x, z)) && es((y, z))
      } yield 1).size
      val got = Triangles.triangleCount(df, "a", "b")
        .as[(Long, Long, Long)].collect().head
      assert(got == ((vs.size.toLong, es.size.toLong, brute.toLong)),
        s"trial $trial: got $got, expected (${vs.size}, ${es.size}, $brute)")
      graft.core.Caches.releaseAll()
    }
  }

  test("token budget cap keeps exactly the longest-first prefix within budget") {
    import graft.ops.BudgetCap
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq(
      ("a", 1L, words(5)), ("a", 2L, words(9)), ("a", 3L, words(9)),
      ("a", 4L, words(4)), ("b", 5L, words(2)))
      .toDF("source", "doc_id", "text")
    val got = BudgetCap.tokenBudgetCap(df, "text", "doc_id", "source", 20L)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // Priority in 'a': id2(9), id3(9), id1(5), id4(4) -> cum 9,18,23,27:
    // only the two 9-token docs fit the 20-token budget.
    assert(got == Seq(
      ("a", 1L, 5L, 23L, false), ("a", 2L, 9L, 9L, true),
      ("a", 3L, 9L, 18L, true), ("a", 4L, 4L, 27L, false),
      ("b", 5L, 2L, 2L, true)))
  }

  // Scala reference of the CDC rule (md5-residue cuts) — the semantics
  // the HOF plan claims.
  private def cdcRef(text: String, w: Int, d: Int): Seq[String] = {
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    if (toks.isEmpty) Seq.empty
    else {
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def draw(i: Int): Long = // i is 1-based
        java.lang.Long.parseLong(
          md5hex(toks.slice(math.max(1, i - w + 1) - 1, i).mkString(" "))
            .substring(0, 8), 16)
      val n = toks.length
      val bpos = (1 to n).filter(i => draw(i) % d == 0 || i == n)
      (0 +: bpos.dropRight(1)).zip(bpos).map { case (p, b) =>
        toks.slice(p, b).mkString(" ")
      }
    }
  }

  test("CDC segments match the md5-residue reference and reassemble the token stream") {
    import graft.ops.ContentDefinedChunking
    val docs = Seq(
      (1L, (1 to 120).map(i => s"tok${i * 7 % 101}").mkString(" ")),
      (2L, "alpha beta gamma delta"),
      (3L, "   "), // token-empty
      (4L, "single"))
      .toDF("doc_id", "text")
    val got = ContentDefinedChunking.cdcSegments(docs, "text", "doc_id", w = 4, divisor = 8)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).map { case (id, xs) => id -> xs.sortBy(_._2).map(_._3) }
    val texts = Seq(
      1L -> (1 to 120).map(i => s"tok${i * 7 % 101}").mkString(" "),
      2L -> "alpha beta gamma delta", 4L -> "single")
    texts.foreach { case (id, t) =>
      val want = cdcRef(t, 4, 8)
      assert(got(id) == want, s"doc $id: got ${got(id)}, want $want")
      // Reassembly: segments concatenate back to the token stream.
      assert(got(id).mkString(" ") ==
        t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" "))
    }
    assert(!got.contains(3L)) // token-empty docs emit no segments
    graft.core.Caches.releaseAll()
  }

  test("CDC boundaries resynchronize after a prefix insertion; stride segments do not") {
    import graft.ops.{ContentDefinedChunking, SpanDedup}
    // Distinct tokens so stride windows can never collide by accident.
    val base = (1 to 400).map(i => s"u${i}x").mkString(" ")
    val shifted = "zzz " + base
    val df = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val segs = ContentDefinedChunking.cdcSegments(df, "text", "doc_id", w = 4, divisor = 8)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._3) }
    val sharedCdc = segs(1L).toSet.intersect(segs(2L).toSet).size
    // Content-addressed cuts realign after one window: everything past
    // the first segment is identical.
    assert(sharedCdc >= segs(1L).size - 2,
      s"CDC shared only $sharedCdc of ${segs(1L).size} segments")
    // The POSITION-addressed stride form shares nothing under the
    // same edit — the property q95 cannot have.
    val stride = df.select(col("doc_id"),
        SpanDedup.segmentsOf(col("text"), 8).as("segs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(stride(1L).toSet.intersect(stride(2L).toSet).isEmpty)
    // And the per-doc profile sees the clone: both docs nearly fully
    // duplicated at minDocs=2.
    val stats = ContentDefinedChunking.cdcDedupStats(df, "text", "doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats(1L)._4 > 0.9 && stats(1L)._5, s"stats: ${stats(1L)}")
    assert(stats(2L)._4 > 0.9 && stats(2L)._5, s"stats: ${stats(2L)}")
    graft.core.Caches.releaseAll()
  }

  // Reference k-core: sequential peel over an in-memory adjacency map.
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Set[Long] = {
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    for ((a, b) <- edges if a != b) {
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    var alive = adj.keySet.toSet
    var changed = true
    while (changed) {
      val peel = alive.filter(v => adj(v).count(alive) < k)
      changed = peel.nonEmpty
      alive = alive -- peel
    }
    alive
  }

  test("k-core: clique kept, ladder cascades one vertex per round, star peels early") {
    import graft.ops.KCore
    // Triangle-ladder L0..L9 (rungs + skips) hanging off a 6-clique:
    // k=3 peels exactly one ladder vertex per round from the free end,
    // so rounds == ladder length + 1 — the deep-cascade shape the
    // periodic localCheckpoint exists for.
    val clique = for { i <- 0 until 6; j <- i + 1 until 6 }
      yield (100L + i, 100L + j)
    val ladder = (0 until 9).map(i => (10L + i, 11L + i)) ++
      (0 until 8).map(i => (10L + i, 12L + i)) ++
      Seq((19L, 100L), (19L, 101L), (18L, 100L))
    val star = (31 to 35).map(l => (30L, l.toLong))
    val edges = clique ++ ladder ++ star
    // ALL execution paths must agree exactly: every round distributed
    // (localFinishVertices = 0), the size-bounded driver finisher from
    // round 1 (default threshold), and a mid-cascade handoff (31
    // vertices, threshold 25: two distributed rounds, then the
    // finisher continues the round numbering).
    for (lfv <- Seq(0L, 25L, 100000L)) {
      val out = KCore.kCore(edges.toDF("a", "b"), "a", "b", 3,
          localFinishVertices = lfv)
        .as[(Long, Boolean, Option[Int])].collect().toSeq
      val kept = out.filter(_._2).map(_._1).toSet
      assert(kept == (100L until 106L).toSet, s"kept $kept (lfv=$lfv)")
      assert(kept == refKCore(edges, 3))
      val rounds = out.flatMap(_._3)
      assert(rounds.max == 10,
        s"expected a 10-round cascade, got ${rounds.max} (lfv=$lfv)")
      // One ladder vertex per round, from the free end inward.
      val ladderRounds = out.filter(r => r._1 >= 10L && r._1 <= 19L)
        .map(r => r._1 -> r._3.get).toMap
      assert((0 until 10).forall(i => ladderRounds(10L + i) == i + 1),
        s"ladder rounds $ladderRounds (lfv=$lfv)")
      graft.core.Caches.releaseAll()
    }
    // Every vertex certified; one certificate row per graph vertex.
    val cert = KCore.kCoreCertified(edges.toDF("a", "b"), "a", "b", 3)
      .as[(Long, Long, Boolean)].collect()
    assert(cert.forall(_._3), s"uncertified: ${cert.filterNot(_._3).toSeq}")
    assert(cert.length ==
      (edges.flatMap(e => Seq(e._1, e._2)).toSet.size))
    graft.core.Caches.releaseAll()
  }

  test("k-core matches the sequential reference peel on pseudo-random graphs") {
    import graft.ops.KCore
    // xxhash-seeded sparse graphs across densities: some collapse
    // entirely, some keep a dense center — both directions checked
    // against the reference, certificates all TRUE.
    for ((n, m, k, seed) <- Seq((30, 60, 3, 1L), (40, 80, 2, 2L),
        (25, 150, 5, 3L), (20, 25, 3, 4L))) {
      def h(x: Long): Long = {
        var z = x + seed * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        math.abs(z ^ (z >>> 31))
      }
      val edges = (0 until m).map(i =>
        (h(2L * i) % n, h(2L * i + 1) % n)).filter(e => e._1 != e._2)
      val expected = refKCore(edges, k)
      for (lfv <- Seq(0L, 100000L)) {
        val out = KCore.kCore(edges.toDF("a", "b"), "a", "b", k,
            localFinishVertices = lfv)
          .as[(Long, Boolean, Option[Int])].collect()
        assert(out.filter(_._2).map(_._1).toSet == expected,
          s"n=$n m=$m k=$k seed=$seed lfv=$lfv")
        val cert = KCore.kCoreCertified(edges.toDF("a", "b"), "a", "b", k,
            localFinishVertices = lfv)
          .as[(Long, Long, Boolean)].collect()
        assert(cert.forall(_._3),
          s"n=$n m=$m k=$k lfv=$lfv uncertified rows exist")
        graft.core.Caches.releaseAll()
      }
    }
  }

  test("k-core degenerate inputs: empty graph, self-loops, all-peeled, k=1") {
    import graft.ops.KCore
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(KCore.kCore(empty, "a", "b", 2).count() == 0L)
    // Self-loops and duplicate edges are no-ops; k=1 keeps any vertex
    // with a real neighbor.
    val loops = Seq((1L, 1L), (1L, 2L), (2L, 1L), (3L, 3L)).toDF("a", "b")
    val m = KCore.kCore(loops, "a", "b", 1)
      .as[(Long, Boolean, Option[Int])].collect()
      .map(r => r._1 -> r._2).toMap
    assert(m == Map(1L -> true, 2L -> true))
    // A chain collapses completely at k=2 — removed side only.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val c = KCore.kCore(chain, "a", "b", 2)
    assert(c.where(col("in_kcore")).count() == 0L && c.count() == 4L)
    val cert = KCore.kCoreCertified(chain, "a", "b", 2)
      .as[(Long, Long, Boolean)].collect()
    assert(cert.forall(_._3))
    graft.core.Caches.releaseAll()
    // maxIter boundary: an 8-chain at k=2 collapses in EXACTLY 4
    // rounds (both ends per round) — full collapse at the cap is
    // converged and must RETURN on both paths; one round fewer must
    // still throw.
    val chain8 = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    for (lfv <- Seq(0L, 100000L)) {
      val full = KCore.kCore(chain8, "a", "b", 2, maxIter = 4,
          localFinishVertices = lfv)
        .as[(Long, Boolean, Option[Int])].collect()
      assert(full.length == 8 && full.forall(!_._2), s"lfv=$lfv")
      assert(full.flatMap(_._3).max == 4)
      graft.core.Caches.releaseAll()
      assertThrows[IllegalStateException] {
        KCore.kCore(chain8, "a", "b", 2, maxIter = 3,
          localFinishVertices = lfv).collect()
      }
      graft.core.Caches.releaseAll()
    }
  }

  test("EnsembleDedup: cross-signal closure, provenance rollup, star exact edges") {
    import spark.implicits._
    import graft.ops.EnsembleDedup
    val docs = (1L to 9L).toDF("doc_id")
    // Signal 1 links 1-2, signal 2 links 2-3: the {1,2,3} family is
    // visible only ACROSS signals and must carry bitmask 3. Signal 4's
    // 5-6 family stays cosine-only; a duplicate+reversed edge and a
    // self-loop are no-ops; 4, 7, 8, 9 are singletons (signals 0).
    val s1 = Seq((2L, 1L), (1L, 2L), (3L, 3L)).toDF("a", "b") // reversed dup + loop
    val s2 = Seq((2L, 3L)).toDF("a", "b")
    val s4 = Seq((6L, 5L)).toDF("a", "b")
    val out = EnsembleDedup.dupFamilies(docs, "doc_id", Seq(
        EnsembleDedup.Signal(s1, "a", "b", 1),
        EnsembleDedup.Signal(s2, "a", "b", 2),
        EnsembleDedup.Signal(s4, "a", "b", 4)))
      .as[(Long, Long, Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, 3L, 3, true), (2L, 1L, 3L, 3, false), (3L, 1L, 3L, 3, false),
      (4L, 4L, 1L, 0, true), (5L, 5L, 2L, 4, true), (6L, 5L, 2L, 4, false),
      (7L, 7L, 1L, 0, true), (8L, 8L, 1L, 0, true), (9L, 9L, 1L, 0, true)))
    graft.core.Caches.releaseAll()
    // exactContentEdges: star form — every member links to the content
    // group's min id, uniques contribute nothing.
    val d2 = Seq((10L, "x"), (11L, "x"), (12L, "x"), (13L, "y"), (14L, "z"),
      (15L, "z")).toDF("id", "t")
    val star = EnsembleDedup.exactContentEdges(d2, "t", "id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(star == Seq((10L, 11L), (10L, 12L), (14L, 15L)))
    graft.core.Caches.releaseAll()
    // Non-power-of-two provenance bits are rejected.
    assertThrows[IllegalArgumentException](
      EnsembleDedup.Signal(s1, "a", "b", 3))
  }

  test("EnsembleDedup.assignToFamilies == full recompute on the union (bridge, merge, singleton)") {
    import spark.implicits._
    import graft.ops.EnsembleDedup
    val corpus = (1L to 8L).toDF("doc_id")
    val batch = (9L to 12L).toDF("doc_id")
    val cs2 = Seq((1L, 2L), (2L, 3L)).toDF("a", "b") // family {1,2,3}, sig 2
    val cs4 = Seq((5L, 6L)).toDF("a", "b")           // family {5,6}, sig 4
    val prior = EnsembleDedup.dupFamilies(corpus, "doc_id", Seq(
      EnsembleDedup.Signal(cs2, "a", "b", 2),
      EnsembleDedup.Signal(cs4, "a", "b", 4)))
    // Batch doc 9 BRIDGES both standing families (bit 1 edge to 3, bit
    // 2 edge to 5); 11-12 form a pure-batch family; 10 is a singleton.
    val b1 = Seq((9L, 3L)).toDF("a", "b")
    val b2 = Seq((9L, 5L)).toDF("a", "b")
    val b4 = Seq((11L, 12L)).toDF("a", "b")
    val inc = EnsembleDedup.assignToFamilies(batch, "doc_id", prior, Seq(
        EnsembleDedup.Signal(b1, "a", "b", 1),
        EnsembleDedup.Signal(b2, "a", "b", 2),
        EnsembleDedup.Signal(b4, "a", "b", 4)))
      .as[(Long, Long, Long, Int, Boolean, Long)].collect().sortBy(_._1).toSeq
    graft.core.Caches.releaseAll()
    assert(inc == Seq(
      (9L, 1L, 6L, 7, false, 2L),   // {1,2,3}+{5,6}+9, sigs 1|2 ∪ 2|4
      (10L, 10L, 1L, 0, true, 0L),
      (11L, 11L, 2L, 4, true, 0L),
      (12L, 11L, 2L, 4, false, 0L)))
    // Full recompute over corpus ∪ batch with the SAME edge sets,
    // restricted to batch rows, must agree on every shared column.
    val full = EnsembleDedup.dupFamilies(
        corpus.unionByName(batch), "doc_id", Seq(
          EnsembleDedup.Signal(b1, "a", "b", 1),
          EnsembleDedup.Signal(cs2.unionByName(b2), "a", "b", 2),
          EnsembleDedup.Signal(cs4.unionByName(b4), "a", "b", 4)))
      .where(col("id") >= 9L)
      .as[(Long, Long, Long, Int, Boolean)].collect().sortBy(_._1).toSeq
    graft.core.Caches.releaseAll()
    assert(full == inc.map(r => (r._1, r._2, r._3, r._4, r._5)))
  }

  test("Augment.spanCorrupt: sentinel substitution inverts the corruption exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(151)
    // Token-count edge cases around the block boundary plus random docs.
    val docs = (Seq(0, 1, 19, 20, 21, 40, 59, 60) ++
      Seq.fill(20)(rnd.nextInt(95))).zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.tabulate(n)(j => s"tok${rnd.nextInt(50)}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val out = graft.ops.Augment.spanCorrupt(docs, "text", "doc_id")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    val originals = docs.as[(Long, String)].collect().toMap
    for ((id, corrupted, target, nSpans) <- out) {
      val orig = originals(id).toLowerCase.split("\\s+").filter(_.nonEmpty)
      assert(nSpans == orig.length / 20, s"doc $id span count")
      // target = "<extra_id_b> t1 t2 t3" repeated in block order: parse
      // into sentinel -> tokens and substitute back into the corrupted
      // text; the result must be the original token sequence.
      val spanOf: Map[String, Seq[String]] =
        if (target.isEmpty) Map.empty
        else target.split("(?=<extra_id_)").map(_.trim.split("\\s+").toSeq)
          .map(g => g.head -> g.tail).toMap
      assert(spanOf.size == nSpans, s"doc $id sentinel count in target")
      val reconstructed = corrupted.split("\\s+").filter(_.nonEmpty)
        .flatMap(t => spanOf.getOrElse(t, Seq(t)))
      assert(reconstructed.toSeq == orig.toSeq, s"doc $id reconstruction")
      // 15% corruption on full blocks: every full block drops 2 tokens
      // net (3 masked, 1 sentinel added).
      assert(corrupted.split("\\s+").count(_.nonEmpty) ==
        orig.length - 2 * nSpans, s"doc $id corrupted length")
    }
    // Deterministic: an identical second run yields identical strings.
    val again = graft.ops.Augment.spanCorrupt(docs, "text", "doc_id")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
    graft.core.Caches.releaseAll()
  }

  test("SequencePack: concatenated sequences reconstruct the corpus stream; all full but the last") {
    import spark.implicits._
    val rnd = new scala.util.Random(152)
    val docs = (0 until 25).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(s"w${rnd.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text")
    for (parts <- Seq(1, 7)) {
      val out = graft.ops.SequencePack.pack(
          docs.repartition(parts), "text", "doc_id", seqLen = 16)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      graft.core.Caches.releaseAll()
      // Stream reconstruction: sequences in order, concatenated, equal
      // the docs' tokens in doc order with <eod> after every doc
      // (empty docs contribute just their separator).
      val expected = docs.as[(Long, String)].collect().sortBy(_._1)
        .flatMap { case (_, t) =>
          t.toLowerCase.split("\\s+").filter(_.nonEmpty) :+ "<eod>"
        }.toSeq
      assert(out.flatMap(_._2.split(" ")).toSeq == expected, s"parts=$parts")
      assert(out.map(_._1).toSeq == out.indices.map(_.toLong), "dense seq ids")
      assert(out.init.forall(_._3 == 16L) &&
        out.last._3 == (expected.size - 1) % 16 + 1, "full but the last")
      // n_docs: sequence 0 spans at least the first doc; every count is
      // within [1, docs that fit].
      assert(out.forall(r => r._4 >= 1 && r._4 <= 17))
      // n_docs == brute-force distinct docs per sequence (round 14
      // moved it off the token-grain aggregate onto doc-grain offset
      // arithmetic — this pins the arithmetic against a from-scratch
      // recount, including docs straddling sequence boundaries and
      // empty docs contributing only their separator).
      val stream = docs.as[(Long, String)].collect().sortBy(_._1)
        .flatMap { case (id, t) =>
          (t.toLowerCase.split("\\s+").filter(_.nonEmpty) :+ "<eod>")
            .map(tok => (id, tok))
        }
      val brute = stream.zipWithIndex
        .groupBy { case (_, pos) => pos / 16 }
        .map { case (s, rows) => s.toLong -> rows.map(_._1._1).distinct.size.toLong }
      assert(out.map(r => r._1 -> r._4).toMap == brute, s"parts=$parts")
    }
  }

  test("reliable-checkpoint flag: identical components, real checkpoint files") {
    // spark.graft.reliableCheckpoint=true + a checkpoint dir routes the
    // loop's lineage cuts through Dataset.checkpoint() (survives
    // executor loss at 100 TB); results must be identical to the
    // localCheckpoint default.
    import graft.ops.Components
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L), (8L, 9L),
      (9L, 10L), (10L, 11L), (11L, 12L)).toDF("a", "b")
    val base = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toSet
    val dir = tempDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val reliable = Components.connectedComponents(pairs, "a", "b")
        .as[(Long, Long)].collect().toSet
      assert(reliable == base, "reliable checkpoint must not change results")
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty,
        "reliable mode must actually write checkpoint data")
    } finally {
      spark.conf.unset("spark.graft.reliableCheckpoint")
    }
  }

  test("shared relations built via persistTracked survive per-query releaseAll") {
    // Round-13 q91 regression: a shared builder that RETURNS the very
    // DataFrame it registered via persistTracked (trainCodebooks did)
    // left that object in the per-query release queue — the bench's
    // releaseAll() after the first consumer evicted the "session"
    // cache, and every later consumer silently re-executed the full
    // build lineage per plan reference. shared() now promotes the
    // built object out of the queue.
    import org.apache.spark.storage.StorageLevel
    try {
      val df = Seq((1L, 2L), (3L, 4L), (1L, 6L)).toDF("a", "b")
      val shared = graft.core.Caches.shared("test-promote-survival") {
        graft.core.Caches.persistTracked(
          df.groupBy(col("a")).agg(sum(col("b")).as("s")))
      }
      shared.count() // materialize the cache like a first consumer
      graft.core.Caches.releaseAll() // the bench's per-query release
      assert(shared.storageLevel != StorageLevel.NONE,
        "releaseAll must not evict a session-shared relation")
      graft.core.Caches.releaseShared()
      assert(shared.storageLevel == StorageLevel.NONE,
        "releaseShared still owns the shared lifetime")
    } finally {
      graft.core.Caches.releaseAll()
      graft.core.Caches.releaseShared()
    }
  }

  test("session-shared family prior == a fresh unshared ensemble build") {
    // The q150/q156/q162 suite consumes ONE Caches.shared relation
    // (suite.Shared.familyPrior) instead of rebuilding the corpus-only
    // q149 ensemble per query; this pins shared == unshared row for
    // row, and that a second call returns the SAME cached instance
    // (no rebuild).
    import graft.ops.EnsembleDedup
    // finally-release: an assertion failure must not leak the persisted
    // shared prior into every later test in the shared SparkSession.
    try {
      val d = "/root/testdata/sf0.001"
      val shared = graft.suite.Shared.familyPrior(spark, d)
      val again = graft.suite.Shared.familyPrior(spark, d)
      assert(shared eq again, "second lookup must hit the shared cache")
      val docs = graft.core.Tables.documents(spark, d)
        .where(col("doc_id") % 10 < 8)
      val emb = graft.core.Tables.embeddings(spark, d)
        .where(col("vec_id") % 10 < 8)
      val fresh = EnsembleDedup.standardDupFamilies(docs, "text", "doc_id",
        emb, "embedding", "vec_id", "label",
        jaccardThreshold = 0.8, cosineThreshold = 0.4)
      val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
      val a = shared.collect().sortBy(key).toSeq
      val b = fresh.collect().sortBy(key).toSeq
      assert(a == b, "shared prior must equal the unshared build")
    } finally {
      graft.core.Caches.releaseAll()
      graft.core.Caches.releaseShared()
    }
  }
}
