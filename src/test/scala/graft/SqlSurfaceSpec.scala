package graft

import graft.ops.AsOfJoin
import org.apache.spark.sql.functions._

/** SQL registration of custom expressions + the as-of join operator. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions callable from spark.sql after registration") {
    val r = spark.sql(
      """SELECT iso_duration_seconds('PT1H2M3S') AS dur,
                vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
                simhash64(array(CAST(-1 AS LONG), CAST(-1 AS LONG))) AS sh,
                size(minhash_signature('a b c d', 2, 8)) AS sig_len""")
      .head()
    assert(r.getAs[Long]("dur") == 3723L)
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getAs[Long]("sh") == -1L) // every bit voted by both hashes
    assert(r.getAs[Int]("sig_len") == 8)
  }

  test("ops TVFs: SELECT * FROM op('table', ...) == the Scala DataFrame op, row for row") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.mkString("|")).sorted.toIndexedSeq
    }
    def pin(sql: String, scala: org.apache.spark.sql.DataFrame): Unit = {
      assert(canon(spark.sql(sql)) == canon(scala), sql)
      graft.core.Caches.releaseAll(); graft.core.Caches.releaseShared()
    }
    // documents-shaped fixture with exact + near duplicates
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    Seq((1L, a), (2L, a), (3L, a.replace("lazy", "hazy")),
      (4L, "entirely different content about query engines and shuffles"))
      .toDF("doc_id", "text").createOrReplaceTempView("tvf_docs")
    val docs = spark.table("tvf_docs")
    pin("SELECT * FROM exact_dedup('tvf_docs', 'text', 'doc_id')",
      graft.ops.Dedup.exact(docs, "text", "doc_id"))
    pin("SELECT * FROM dedup_cascade('tvf_docs', 'text', 'doc_id', 0.8, 3)",
      graft.ops.DedupCascade.cascade(docs, "text", "doc_id", 0.8, 3))
    pin("SELECT * FROM jaccard_pairs('tvf_docs', 'text', 'doc_id', 0.5, 3)",
      graft.ops.Dedup.jaccardJoinExact(docs, "text", "doc_id", 0.5, 3))
    pin("SELECT * FROM simhash_pairs('tvf_docs', 'text', 'doc_id', 3)",
      graft.ops.Dedup.simhashNearDuplicates(docs, "text", "doc_id", 3))
    Seq((10L, a), (11L, a + " extra")).toDF("doc_id", "text")
      .createOrReplaceTempView("tvf_batch")
    pin("SELECT * FROM cascade_against('tvf_batch', 'tvf_docs', 'text', 'doc_id', 0.8, 3)",
      graft.ops.DedupCascade.cascadeAgainst(
        spark.table("tvf_batch"), docs, "text", "doc_id", 0.8, 3))
    // embeddings-shaped fixture sharing tvf_docs' id space: 3 and 4 are
    // cosine-close within one label block, so the ensemble graph gains
    // a cosine-only family on top of the exact/jaccard ones.
    Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.6f, 0.8f), 2), (4L, Array(0.55f, 0.83f), 2))
      .toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("tvf_emb")
    pin("SELECT * FROM dup_families('tvf_docs', 'text', 'doc_id', " +
        "'tvf_emb', 'embedding', 'vec_id', 'label', 0.8, 0.9)",
      graft.ops.EnsembleDedup.standardDupFamilies(docs, "text", "doc_id",
        spark.table("tvf_emb"), "embedding", "vec_id", "label", 0.8, 0.9))
    pin("SELECT * FROM span_corrupt('tvf_docs', 'text', 'doc_id', 5, 2, 's1')",
      graft.ops.Augment.spanCorrupt(docs, "text", "doc_id", 5, 2, "s1"))
    pin("SELECT * FROM sequence_pack('tvf_docs', 'text', 'doc_id', 8)",
      graft.ops.SequencePack.pack(docs, "text", "doc_id", 8))
    // basket fixture
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L))
      .toDF("b", "i").createOrReplaceTempView("tvf_baskets")
    val baskets = spark.table("tvf_baskets")
    pin("SELECT * FROM support_pairs('tvf_baskets', 'b', 'i', 2)",
      graft.ops.Affinity.supportPairs(baskets, "b", "i", 2))
    pin("SELECT * FROM basket_lift('tvf_baskets', 'b', 'i', 1)",
      graft.ops.Affinity.basketLift(baskets, "b", "i", 1))
    // events fixture
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    Seq((1L, t(0), "view", 1L), (1L, t(1), "cart", 2L), (1L, t(2), "buy", 3L),
      (2L, t(0), "view", 4L), (2L, t(30), "cart", 5L))
      .toDF("user_id", "ts", "event_type", "event_id")
      .createOrReplaceTempView("tvf_events")
    val events = spark.table("tvf_events")
    pin("SELECT * FROM weekly_retention('tvf_events', 'user_id', 'ts')",
      graft.ops.Retention.weeklyCohorts(events, "user_id", "ts"))
    pin("SELECT * FROM markov_transitions('tvf_events', 'user_id', 'ts', 'event_type', 'event_id')",
      graft.ops.Markov.transitionMatrix(events, "user_id", "ts", "event_type", "event_id"))
    pin("SELECT * FROM event_funnel('tvf_events', 'user_id', 'ts', 'event_type', 'view,cart,buy', 600)",
      graft.ops.Funnel.funnelMatch(events, "user_id", "ts", "event_type",
        Seq("view", "cart", "buy"), 600L))
    pin("SELECT * FROM cdc_segments('tvf_docs', 'text', 'doc_id', 4, 8)",
      graft.ops.ContentDefinedChunking.cdcSegments(docs, "text", "doc_id", 4, 8))
    pin("SELECT * FROM cdc_dedup_stats('tvf_docs', 'text', 'doc_id', 4, 8, 2)",
      graft.ops.ContentDefinedChunking.cdcDedupStats(docs, "text", "doc_id", 4, 8, 2))
    // Iterative ops work as TVFs too (the peel's jobs run during
    // resolution; the returned plan is the converged result).
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("ea", "eb").createOrReplaceTempView("tvf_edges")
    val edges = spark.table("tvf_edges")
    pin("SELECT * FROM kcore('tvf_edges', 'ea', 'eb', 2)",
      graft.ops.KCore.kCore(edges, "ea", "eb", 2))
    pin("SELECT * FROM kcore_certified('tvf_edges', 'ea', 'eb', 2)",
      graft.ops.KCore.kCoreCertified(edges, "ea", "eb", 2))
    // round-9 family: masking, exact spans, BPE, classifier training
    pin("SELECT * FROM mlm_mask('tvf_docs', 'text', 'doc_id', 15, 'mlm1')",
      graft.ops.Augment.mlmMask(docs, "text", "doc_id", 15, "mlm1"))
    pin("SELECT * FROM duplicated_spans('tvf_docs', 'text', 'doc_id', 4)",
      graft.ops.SpanDedup.maximalDuplicatedSpans(docs, "text", "doc_id", 4))
    pin("SELECT * FROM bpe_train('tvf_docs', 'text', 6)", {
      val m = graft.ops.Bpe.train(docs, "text", 6)
      m.map(x => (x.rank.toLong, x.a, x.b, x.count))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count")
    })
    pin("SELECT * FROM bpe_pack('tvf_docs', 'text', 'doc_id', 6, 8)", {
      val m = graft.ops.Bpe.train(docs, "text", 6)
      graft.ops.SequencePack.packTokens(docs,
        concat(graft.ops.Bpe.tokenize(col("text"), m),
          array(lit("<eod>"))), "doc_id", 8)
    })
    pin("SELECT * FROM bpe_vocab('tvf_docs', 'text', 6)", {
      val m = graft.ops.Bpe.train(docs, "text", 6)
      graft.ops.Bpe.vocabTable(docs, "text", m)
    })
    pin("SELECT * FROM repetition_funnel('tvf_docs', 'text', 'doc_id', 30, 20)",
      graft.ops.QualityFilter.funnel(docs, "text", "doc_id",
        graft.ops.QualityFilter.repetitionRules(col("text"), 30, 20)))
    pin("SELECT * FROM gopher_repetition_funnel('tvf_docs', 'text', 'doc_id')",
      graft.ops.QualityFilter.funnel(docs, "text", "doc_id",
        graft.ops.QualityFilter.gopherRepetitionRulesFull(col("text"))))
    pin("SELECT * FROM c4_line_funnel('tvf_docs', 'text', 'doc_id')",
      graft.ops.QualityFilter.funnel(docs, "text", "doc_id",
        graft.ops.C4Filter.c4Rules(col("text"))))
    pin("SELECT * FROM remove_boilerplate('tvf_docs', 'text', 'doc_id', 2)",
      graft.ops.Boilerplate.removeCommonLines(docs, "text", "doc_id", 2L))
    Seq((20L, "en", "w w w w"), (21L, "en", "w w"), (22L, "de", "w w"),
      (23L, "fr", "w")).toDF("doc_id", "lang", "text")
      .createOrReplaceTempView("tvf_lang")
    pin("SELECT * FROM unimax_allocation('tvf_lang', 'lang', 'text', 2, 3, 4)",
      graft.ops.UniMax.allocate(spark.table("tvf_lang"), "lang", "text",
        2, 3L, 4L))
    pin("SELECT * FROM prototype_pruning('tvf_emb', 'embedding', 'vec_id', " +
      "2, 1, 1, 4)",
      graft.ops.Prototypes.prunePrototypical(spark.table("tvf_emb"),
        "embedding", "vec_id", 2, 1, 1L, 4L))
    locally {
      // d4_prune: the SQL side builds its own hermetic index; the
      // Scala twin builds another — both deterministic, row-equal.
      val tok = java.lang.Long.toHexString(System.nanoTime())
      val pfx = s"graft_idx_d4spec_$tok"
      pin("SELECT * FROM d4_prune('tvf_emb', 'embedding', 'vec_id', " +
        "0.9, 2, 1, 1, 4)",
        graft.ops.Prototypes.d4Prune(spark.table("tvf_emb"),
          "embedding", "vec_id", threshold = 0.9, nlist = 16,
          nprobe = 16, k = 4, shortlist = 4, m = 2, ksub = 16, dim = 2,
          nClusters = 2, refineRounds = 1, epsNum = 1L, epsDen = 4L,
          tablePrefix = pfx,
          basePath = tempDir("graft-d4spec") + "/store"))
    }
    val wpm = graft.ops.WordPiece.train(docs, "text", 6)
    pin("SELECT * FROM wordpiece_train('tvf_docs', 'text', 6)",
      wpm.map(m => (m.rank.toLong, m.a, m.b, m.count, m.score))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count", "score"))
    val wpv = graft.ops.WordPiece.vocabTable(docs, "text", wpm)
    pin("SELECT * FROM wordpiece_ids('tvf_docs', 'text', 'doc_id', 6, 16)",
      graft.ops.WordPiece.tokenizeToIds(docs, "text", "doc_id", wpv, 16))
    pin("SELECT * FROM tokenizer_fertility('tvf_docs', 'text', 'doc_id', 4)",
      graft.ops.TokenizerEval.fertilityByGroup(docs, "text", "doc_id",
        graft.ops.Bpe.trainByteLevel(docs, "text", 4)))
    locally {
      val ugp = graft.ops.Unigram.train(docs, "text", 6, 4, 2, 2)
      val ugv = graft.ops.Unigram.vocabTable(spark, ugp)
      pin("SELECT * FROM unigram_train('tvf_docs', 'text', 6, 4, 2, 2)",
        ugp.map(p => (p.token, p.count, p.costMicro))
          .toDF("token", "count", "cost_micro")
          .join(ugv, Seq("token"))
          .select(col("token_id"), col("token"), col("count"),
            col("cost_micro")))
      pin("SELECT * FROM unigram_ids('tvf_docs', 'text', 'doc_id', 6, 4, 2, 2)",
        graft.ops.Unigram.tokenizeToIds(docs, "text", "doc_id", ugp, ugv))
    }
    // Scalar additions: the multi-n repetition vector and the sorted-
    // array binary-search membership probe.
    pin("SELECT doc_id, multi_ngram_stats(text, 2, 3) AS v FROM tvf_docs",
      docs.select(col("doc_id"),
        graft.ops.TextAnalysis.multiNgramStats(col("text"), Seq(2, 3)).as("v")))
    pin("SELECT sorted_contains(CAST(array(1, 3, 7) AS ARRAY<BIGINT>), " +
      "CAST(doc_id AS BIGINT)) AS hit FROM tvf_docs",
      docs.select(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.SortedContainsExpr(
          org.apache.spark.sql.graftbridge.Bridge.expression(
            array(lit(1L), lit(3L), lit(7L))),
          org.apache.spark.sql.graftbridge.Bridge.expression(
            col("doc_id").cast("long")))).as("hit")))
    docs.withColumn("y", (col("doc_id") % 2).cast("long"))
      .createOrReplaceTempView("tvf_labeled")
    pin("SELECT * FROM train_classifier('tvf_labeled', 'text', 'doc_id', 'y', 32, 2)",
      graft.ops.LinearTrainer.train(spark.table("tvf_labeled"),
        "text", "doc_id", col("y"), buckets = 32, epochs = 2))
    pin("SELECT * FROM train_classifier_minibatch('tvf_labeled', 'text', 'doc_id', 'y', 32, 2, 2)",
      graft.ops.LinearTrainer.trainMiniBatch(spark.table("tvf_labeled"),
        "text", "doc_id", col("y"), buckets = 32, epochs = 2, numBatches = 2))
    Seq(("p1", 1L, 50L), ("p1", 2L, 10L), ("p1", 3L, 30L),
        ("p2", 4L, 7L), ("p2", 5L, 7L), ("p3", 6L, 9L))
      .toDF("grp", "id", "s").createOrReplaceTempView("tvf_scored")
    pin("SELECT * FROM preference_pairs('tvf_scored', 'grp', 'id', 's', 1)",
      graft.ops.PreferencePairs.fromScores(spark.table("tvf_scored"),
        Seq("grp"), "id", "s", 1L))
    pin("SELECT * FROM preference_pairs_topk('tvf_scored', 'grp', 'id', 's', 2, 1)",
      graft.ops.PreferencePairs.fromScoresTopK(spark.table("tvf_scored"),
        Seq("grp"), "id", "s", 2, 1L))
    Seq((1L, "x", Seq(1f, 0f)), (2L, "x", Seq(1f, 0.1f)),
        (3L, "x", Seq(-1f, 2f)), (4L, "y", Seq(0f, 1f)))
      .toDF("vec_id", "label", "embedding")
      .createOrReplaceTempView("tvf_vecs")
    pin("SELECT * FROM contrastive_triplets('tvf_vecs', 'embedding', 'vec_id', 'label', 0.5)",
      graft.ops.ContrastivePairs.hardTriplets(spark.table("tvf_vecs"),
        "embedding", "vec_id", "label", 0.5))
    // TVFs compose with ordinary SQL (filter/aggregate over the TVF).
    val n = spark.sql(
      """SELECT count(*) AS n FROM dedup_cascade('tvf_docs', 'text', 'doc_id', 0.5, 3)
         WHERE stage = 'kept'""").head().getLong(0)
    assert(n == 2L) // doc 1 kept (2 removed exact, 3 removed near at 0.5), doc 4 kept
  }

  test("pure-SQL jaccard-threshold join goes through the prefix-filter rewrite") {
    import graft.ops.Dedup
    val vocab = (0 until 20).map(i => s"w$i")
    val docs = (0L until 15L).map { i =>
      (i, (0 until 8).map(j => vocab((i.toInt + j) % vocab.size)).mkString(" "))
    }.toDF("doc_id", "text")
    docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 2).as("sh"))
      .createOrReplaceTempView("sqlsets")
    val q = spark.sql(
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sqlsets a JOIN sqlsets b
           ON jaccard_sim(a.sh, b.sh) >= CAST(0.5 AS DOUBLE) AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"SQL jaccard join not rewritten:\n$plan")
    val got = q.as[(Long, Long)].collect().toSet
    val brute = Dedup.jaccardPairsWithinBlock(
      docs.withColumn("blk", lit(1)), "text", "doc_id", "blk", 2, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(got == brute && brute.nonEmpty, s"SQL-path $got != brute $brute")
    // lsh_bucket from SQL matches the Column-facing native expression.
    val b = spark.sql(
      "SELECT lsh_bucket(array(0.5F, -0.25F, 0.125F), 8) AS bkt").head().getAs[Long]("bkt")
    val bCol = Seq(Seq(0.5f, -0.25f, 0.125f)).toDF("e")
      .select(graft.functions.LshBucketOps.lshBucketNative(col("e"), 8).as("bkt"))
      .head().getAs[Long]("bkt")
    assert(b == bCol)
  }

  test("structured-output parsers callable from SQL") {
    val r = spark.sql(
      """SELECT parse_agent_response(
           '```json\n{"query_response": "ok", "sources": [{"video_id": "v1", "start_time": 5.0}]}\n```') AS a,
         parse_query_response('{"topics": ["spark"], "exact_year": "2020"}') AS p""")
      .head()
    val a = r.getStruct(0)
    assert(a.getAs[String]("query_response") == "ok")
    assert(a.getAs[collection.Seq[org.apache.spark.sql.Row]]("sources").head
      .getAs[String]("video_id") == "v1")
    val p = r.getStruct(1)
    assert(p.getAs[collection.Seq[String]]("topics") == Seq("spark"))
    assert(p.getAs[String]("exact_year") == "2020")
  }

  test("chunk_transcript Generator: SQL LATERAL VIEW rows == typed chunkDF rows") {
    // Real text from the documents table, assembled like q53.
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val transcripts = docs.groupBy(col("source"))
      .agg(array_sort(collect_list(struct(
        (col("doc_id").cast("double") * 10.0).as("start"),
        col("text").as("text"),
        lit(5.0).as("duration")))).as("snippets"))
      .select(col("source").as("video_id"), col("snippets"))
    transcripts.createOrReplaceTempView("transcripts_g1")

    val viaSql = spark.sql(
      """SELECT video_id, c.text, c.start FROM transcripts_g1
         LATERAL VIEW chunk_transcript(snippets, 1000, 200) c AS text, start""")
    val viaColumn = transcripts.select(col("video_id"),
      graft.chunk.ChunkTranscriptGen.chunkTranscriptGen(col("snippets"), 1000, 200))
    val viaTyped = graft.chunk.ChunkTranscript.chunkDF(transcripts)
      .select("video_id", "text", "start")

    val sqlRows = viaSql.as[(String, String, Double)].collect().sorted.toSeq
    val colRows = viaColumn.as[(String, String, Double)].collect().sorted.toSeq
    val typedRows = viaTyped.as[(String, String, Double)].collect().sorted.toSeq
    assert(sqlRows.nonEmpty)
    assert(sqlRows == typedRows, "SQL Generator diverged from typed flatMap")
    assert(colRows == typedRows, "Column Generator diverged from typed flatMap")
    // The SQL surface plans a Generate node, not a shuffle.
    assert(viaSql.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("ivfTopK: probed-list search finds exact neighbors at full probe") {
    val embedder = new graft.external.HashEmbedder(dim = 16)
    val store = (0L until 60L).map(i => (i, embedder.embed(Seq(s"doc $i")).head))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, embedder.embed(Seq("doc 5")).head))
      .toDF("q_id", "q_embedding")
    // nprobe == nlist probes everything -> must find doc 5 (cosine 1.0) first
    val full = graft.ops.Similarity.ivfTopK(store, queries, nlist = 4, nprobe = 4, k = 3)
      .orderBy(col("rank")).collect()
    assert(full.head.getAs[Long]("vec_id") == 5L)
    assert(math.abs(full.head.getAs[Double]("score") - 1.0) < 1e-9)
    // partial probe returns <= k ranked rows from probed lists only
    val part = graft.ops.Similarity.ivfTopK(store, queries, nlist = 4, nprobe = 1, k = 3)
      .collect()
    assert(part.length <= 3 && part.forall(_.getAs[Long]("q_id") == 100L))
  }

  test("LSH ANN recall vs brute force, measured on the test embeddings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val k = 10
    val brute = graft.query.Retriever.neighbors(emb, qs, k)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = graft.ops.Similarity.lshTopK(emb, qs, k = k, numPlanes = 8)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    // Deterministic (hash-derived planes, fixed data): document the
    // measured operating point; single-bucket probing trades recall for
    // touching ~1/2^8 of the store.
    assert(recall > 0.05, s"recall $recall collapsed")
    info(f"LSH recall@$k with 8 planes: $recall%.3f (${lsh.size} returned)")
  }

  test("salted join spreads a hot key and preserves results") {
    val left = (0 until 1000).map(i => (if (i < 900) "hot" else s"k$i", i))
      .toDF("key", "payload")
    val right = Seq(("hot", "H"), ("k950", "A")).toDF("key", "tag")
    val out = graft.ops.Skew.saltedJoin(left, right, "key", "payload", saltFactor = 8)
    val plain = left.join(right, Seq("key"), "inner")
    assert(out.count() == plain.count())
    assert(out.select("key", "payload", "tag").except(
      plain.select("key", "payload", "tag")).count() == 0)
  }

  test("bucketed tables join without any Exchange in the plan") {
    val chunks = (0 until 200).map(i => (s"vid${i % 20}", i * 10.0, s"text $i"))
      .toDF("video_id", "start_time", "text")
    val cited = (0 until 20 by 2).map(i => (s"vid$i", i))
      .toDF("video_id", "times")
    val store = graft.core.StandingStore(spark, "b", null)
    store.writeBucketed("chunks", chunks, "video_id", 4)
    store.writeBucketed("cited", cited, "video_id", 4)
    // Disable auto-broadcast so the sort-merge path shows the property
    // under test: matching bucket specs -> zero Exchange.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = store.table("chunks").join(store.table("cited"), Seq("video_id"))
      assert(joined.count() == 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF store bucketed by centroid_id: probed lists prune buckets at the scan") {
    // The ivfTopK scaladoc claims the 100 TB store layout is bucketed
    // by centroid_id so a probe reads nprobe/nlist of the data. Make
    // that concrete: write the assigned store bucketed, filter to the
    // probed lists, and assert the scan itself skips buckets.
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assigned = graft.ops.Similarity.ivfAssign(emb, nlist = 8)
      .join(emb, Seq("vec_id"))
    graft.core.StandingStore(spark, "b", null)
      .writeBucketed("ivf_store", assigned, "centroid_id", 8)
    val store = spark.table("b_ivf_store")
    val probedLists = store.select("centroid_id").distinct()
      .as[Long].collect().sorted.take(2)
    // The planner auto-disables bucketed reading for scans with no
    // bucket-key join/agg; pin it on so the filter can prune buckets
    // (at 100 TB this is the knob that makes probes read nprobe/nlist
    // of the store).
    val prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = store.where(col("centroid_id").isin(probedLists: _*))
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"expected bucket pruning at the scan, got:\n$plan")
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).get
      assert(sel.group(1).toInt < sel.group(2).toInt,
        s"no buckets pruned: ${sel.matched}")
      assert(probe.count() > 0)
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("asof join matches latest right ts at-or-before each left row") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val clicks = Seq((1L, 7L, ts(10)), (2L, 7L, ts(30)), (3L, 8L, ts(5)))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((7L, ts(10)), (7L, ts(25)), (7L, ts(31)), (9L, ts(0)))
      .toDF("user_id", "ts")
    val out = AsOfJoin.asofMatchedTs(clicks, purchases, "user_id", "ts")
      .select("event_id", "matched_ts")
      .as[(Long, Option[java.sql.Timestamp])].collect().toMap
    assert(out(1L).contains(ts(10))) // inclusive <= at equal ts
    assert(out(2L).contains(ts(25))) // latest before, not the later one
    assert(out(3L).isEmpty)          // no purchase for user 8
  }
}
