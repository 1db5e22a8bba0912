package graft

import org.apache.spark.sql.functions._

/** HammingBandJoinRule: the declarative `bit_count(a ^ b) <= k` join is
  * re-planned as a banded equi-join — exact (pigeonhole recall +
  * first-band dedup), and no nested-loop/cartesian product remains.
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  // 64-bit keys with planted near-pairs: base patterns + 1-3 flipped
  // bits, plus identical copies (distance 0, agree on EVERY band — the
  // duplicate-emission trap), plus far-away patterns.
  private def fixture() = {
    val base = 0x5a5a5a5a5a5a5a5aL
    val other = 0x1234567890abcdefL
    val rows = Seq(
      (1L, base),
      (2L, base ^ 1L),                  // distance 1
      (3L, base ^ (1L << 17) ^ (1L << 40)), // distance 2, two bands hit
      (4L, base),                       // identical to 1 (distance 0)
      (5L, other),                      // far from base family
      (6L, other ^ (1L << 63)),         // distance 1 from 5
      (7L, ~base),                      // distance 64 from base
      // Distance 3 with flips in THREE different 16-bit bands: only one
      // band stays intact, so two-level recall rests entirely on that
      // band's sub-band pigeonhole (the hardest exact-recall case).
      (8L, base ^ (1L << 2) ^ (1L << 20) ^ (1L << 60)),
      // Distance 3 all inside ONE band: the other three bands agree, so
      // the first-agreeing-entry dedup has maximal agreeing entries.
      (9L, base ^ (1L << 33) ^ (1L << 35) ^ (1L << 38)))
    rows.toDF("id", "sh")
  }

  private def hammingJoin(k: Int) = {
    val a = fixture().select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = fixture().select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(k) &&
      col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  test("banded rewrite returns exactly the naive join's pairs, once each") {
    // Naive reference: every pair compared on the driver.
    val keys = fixture().as[(Long, Long)].collect().toSeq
    val naive = (for { (ia, sa) <- keys; (ib, sb) <- keys
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3 } yield (ia, ib)).sorted
    assert(naive.nonEmpty && naive.contains((1L, 4L)) && naive.contains((1L, 2L)))

    val rewritten = hammingJoin(3)
    val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly-once: the (1,4) identical pair agrees on all 4 bands but
    // must appear a single time.
    assert(got.sorted == naive, s"rewritten ${got.sorted} != naive $naive")
    assert(got.distinct.size == got.size, s"duplicate emissions in $got")

    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected banded equi-join, got:\n$plan")
    assert(plan.contains("Generate"), s"expected band explosion in:\n$plan")
  }

  test("rewrite preserves row multiplicities and extra conjuncts") {
    // Duplicate left rows must yield duplicate output rows (no distinct
    // smuggled in by the rewrite).
    val a = Seq((1L, 42L), (1L, 42L)).toDF("id_a", "sh_a")
    val b = Seq((2L, 42L)).toDF("id_b", "sh_b")
    val out = a.join(b, bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(2))
    assert(out.count() == 2)
    // Extra conjunct stays applied.
    val filtered = a.join(b,
      bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(2) && col("id_b") > lit(5))
    assert(filtered.count() == 0)
  }

  test("rule converges: skips joins that already carry an equi conjunct (incl. its own output)") {
    import graft.plans.HammingBandJoinRule
    val a = Seq((1L, 42L)).toDF("id_a", "sh_a")
    val b = Seq((2L, 42L)).toDF("id_b", "sh_b")
    // A Hamming join that ALSO has a cross-side equality is already
    // hash-joinable; the rule must leave it alone.
    val equiJoin = a.join(b,
      bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(3) && col("sh_a") === col("sh_b"))
    val analyzed = equiJoin.queryExecution.analyzed
    assert(HammingBandJoinRule(analyzed).fastEquals(analyzed))
    // Fixed point: applying the rule to its own rewrite is identity —
    // this is what keeps the fixed-point optimizer batch from
    // re-banding forever when PushDownPredicates folds the residual
    // Hamming filter back into the rewritten join's condition.
    val plain = a.join(b, bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(3))
    val once = HammingBandJoinRule(plain.queryExecution.analyzed)
    assert(!once.fastEquals(plain.queryExecution.analyzed), "rule should fire once")
    assert(HammingBandJoinRule(once).fastEquals(once), "rule must be a fixed point")
  }

  test("spark.sql.extensions path: injected rule optimizes and answers correctly") {
    // The factory session carries graft from creation: SQL functions,
    // table functions and the exact join rules, with no call made here.
    val cos = spark.sql("SELECT vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
      .createOrReplaceTempView("ext_docs")
    assert(spark.sql("SELECT doc_id FROM exact_dedup('ext_docs', 'text', 'doc_id')")
      .as[Long].collect().toSet == Set(1L, 3L))

    def assertNoNestedLoop(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$what join still nested-loops:\n$plan")
    }
    val ham = Seq((1L, 42L), (2L, 43L)).toDF("id_a", "sh_a")
      .join(Seq((3L, 42L), (4L, ~42L)).toDF("id_b", "sh_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(3))
    assertNoNestedLoop(ham, "Hamming")
    assert(ham.select("id_a", "id_b").as[(Long, Long)].collect().toSet == Set((1L, 3L), (2L, 3L)))
    val sets = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.Dedup.shingleHashes(col("text"), 1).as("sh"))
    assertNoNestedLoop(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
        graft.ops.Dedup.jaccard(col("sh_a"), col("sh_b")) >= lit(0.5)), "Jaccard")
    val pts = Seq((1L, 100L)).toDF("pid", "sec").select(col("pid"), timestamp_seconds(col("sec")).as("ts"))
    val ivs = Seq((9L, 50L, 150L)).toDF("wid", "s", "e")
      .select(col("wid"), timestamp_seconds(col("s")).as("w_start"), timestamp_seconds(col("e")).as("w_end"))
    assertNoNestedLoop(pts.join(ivs, col("ts") >= col("w_start") && col("ts") < col("w_end")),
      "point-in-interval")
    // The approximate cosine rewrite stays off until its conf is set.
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    assert(cosineJoin(emb, 0.6).queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), "cosine join rewritten without its conf")

    // Building and running the rule rows leaves the shared session as
    // it found it, so a later row plans the same before and after them.
    val dir = "/root/testdata/sf0.001"
    val later = "q97_interval_join"
    def laterPlan() = SparkEntry.queries(later)(spark, dir).queryExecution.optimizedPlan
    val planBefore = laterPlan()
    val confBefore = spark.conf.getAll
    val rulesBefore = spark.experimental.extraOptimizations
    for (q <- Seq("q65_hamming_join_rule", "q68_cosine_join_rule",
        "q69_jaccard_join_rule", "q100_interval_join_rule")) {
      assert(SparkEntry.queries(q)(spark, dir).count() > 0, q)
      graft.core.Caches.releaseAll()
    }
    assert(spark.conf.getAll == confBefore)
    assert(spark.experimental.extraOptimizations == rulesBefore)
    val planAfter = laterPlan()
    assert(planAfter.sameResult(planBefore),
      s"$later planned differently after the rule rows:\n$planBefore\n---\n$planAfter")
  }

  test("every SparkEntry row has oracle SQL and every oracle SQL has a row") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  // ---- CosineBandJoinRule (opt-in approximate rewrite) ----------------

  // Clustered embedding fixture (the data shape similarity joins serve):
  // well-separated unit centers, members are renormalized perturbations.
  private def clusteredEmb(nClusters: Int, perCluster: Int, dim: Int) = {
    val embedder = new graft.external.HashEmbedder(dim)
    def perturb(center: Array[Float], tag: String): Array[Float] = {
      val noise = embedder.embed(Seq(tag)).head
      val v = center.indices.map(i => center(i) + 0.15f * noise(i)).toArray
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / norm)
    }
    val centers = (0 until nClusters).map(c => embedder.embed(Seq(s"cluster center $c")).head)
    (for { c <- 0 until nClusters; i <- 0 until perCluster }
      yield ((c.toLong * perCluster + i), perturb(centers(c), s"member $c $i")))
      .toDF("vec_id", "embedding")
  }

  private def cosineJoin(df: org.apache.spark.sql.DataFrame, t: Double) = {
    import graft.functions.VectorFunctions.vecCosine
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, vecCosine(col("emb_a"), col("emb_b")) >= lit(0.6) &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  test("cosine-threshold join rule: opt-in, bucketed plan, sound, matches the hand-built operator") {
    val df = clusteredEmb(nClusters = 8, perCluster = 25, dim = 64)
    df.persist()
    try {
      // Exact reference (nested-loop all-pairs) with the rule OFF.
      spark.conf.set(graft.plans.CosineBandJoinRule.EnabledKey, "false")
      val exactDf = cosineJoin(df, 0.6)
      assert(exactDf.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "expected the naive plan while the knob is off")
      val exact = exactDf.as[(Long, Long)].collect().toSet
      assert(exact.nonEmpty)

      // Opt in: plan must lose the nested loop and gain the probe explosion.
      spark.conf.set(graft.plans.CosineBandJoinRule.EnabledKey, "true")
      spark.conf.set(graft.plans.CosineBandJoinRule.PlanesKey, "6")
      val rewrittenDf = cosineJoin(df, 0.6)
      val plan = rewrittenDf.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"expected bucketed equi-join, got:\n$plan")
      assert(plan.contains("Generate"), s"expected probe explosion in:\n$plan")
      val got = rewrittenDf.as[(Long, Long)].collect().toSeq

      // Exactly-once emission, soundness, and recall floor vs exact.
      assert(got.distinct.size == got.size, "duplicate emissions")
      assert(got.toSet.subsetOf(exact), "unsound pair emitted")
      val recall = got.toSet.intersect(exact).size.toDouble / exact.size
      info(f"declarative cosine-join recall vs exact on clustered data: $recall%.3f")
      assert(recall >= 0.8, f"recall $recall%.3f below 0.8 floor")

      // The rule's plan IS the hand-built operator's shape: same buckets,
      // same multi-probe — the pair sets must be identical.
      val handBuilt = graft.ops.Dedup.embeddingNearDuplicatesLsh(
        df, "embedding", "vec_id", threshold = 0.6, numPlanes = 6)
        .as[(Long, Long)].collect().toSet
      assert(got.toSet == handBuilt,
        s"rule pairs diverge from embeddingNearDuplicatesLsh: ${got.toSet.diff(handBuilt)} / ${handBuilt.diff(got.toSet)}")
    } finally {
      spark.conf.unset(graft.plans.CosineBandJoinRule.EnabledKey)
      spark.conf.unset(graft.plans.CosineBandJoinRule.PlanesKey)
      df.unpersist()
    }
  }

  test("cosine-threshold join rule: null embeddings are filtered BENEATH the probe explosion") {
    // LshBucketExpr maps a null array to bucket 0, so without the
    // rule's IsNotNull filters every dirty row on both sides would
    // concentrate in bucket 0 AND each left null row would explode into
    // numPlanes+1 probe rows against that hot bucket — a skew footgun
    // at corpus scale. Pin both halves: (a) the filter sits below the
    // Generate in the plan, (b) results on dirty data equal the clean
    // subset's (null rows can never satisfy the cosine predicate).
    val clean = clusteredEmb(nClusters = 4, perCluster = 10, dim = 64)
    val dirty = clean.unionByName(
      Seq.tabulate(20)(i => (1000L + i, null: Array[Float])).toDF("vec_id", "embedding"))
    dirty.persist()
    try {
      spark.conf.set(graft.plans.CosineBandJoinRule.EnabledKey, "true")
      spark.conf.set(graft.plans.CosineBandJoinRule.PlanesKey, "6")
      val onDirty = cosineJoin(dirty, 0.6)
      // Optimized logical plan: every Generate (probe explosion) must
      // have an isnotnull(embedding-ish) Filter somewhere BELOW it.
      val optimized = onDirty.queryExecution.optimizedPlan
      val gens = optimized.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
      assert(gens.nonEmpty, "expected the probe Generate in the rewritten plan")
      gens.foreach { g =>
        val hasGuard = g.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.exists {
                case org.apache.spark.sql.catalyst.expressions.IsNotNull(e) =>
                  e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
                case _ => false
              } => f
        }.nonEmpty
        assert(hasGuard, s"no IsNotNull(array) filter beneath the Generate:\n$optimized")
      }
      val got = onDirty.as[(Long, Long)].collect().toSet
      val expected = cosineJoin(clean, 0.6).as[(Long, Long)].collect().toSet
      assert(got == expected, "null rows changed the result set")
      assert(got.forall { case (a, b) => a < 1000L && b < 1000L })
    } finally {
      spark.conf.unset(graft.plans.CosineBandJoinRule.EnabledKey)
      spark.conf.unset(graft.plans.CosineBandJoinRule.PlanesKey)
      dirty.unpersist()
    }
  }

  // ---- JaccardPrefixJoinRule (always-on EXACT rewrite) ----------------

  test("jaccard-threshold join rule: exact rewrite equals the naive join, once each") {
    import graft.ops.Dedup
    // Sliding-vocabulary corpus (spread of true Jaccard values) plus a
    // duplicated row (multiplicity trap) and empty/short docs.
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = ((0L until 25L).map { i =>
      val words = (0 until 10).map(j => vocab((i.toInt + j) % vocab.size))
      (i, words.mkString(" "))
    } ++ Seq((50L, ""), (51L, "solo"),
      (60L, (0 until 10).map(j => vocab(j)).mkString(" ")))) // dup of doc 0's text
      .toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 2).as("sh"))
    def declarativeJoin() = {
      val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, Dedup.jaccard(col("sh_a"), col("sh_b")) >= lit(0.5) &&
          col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }
    val rewritten = declarativeJoin()
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected prefix-filtered equi-join, got:\n$plan")
    assert(plan.contains("Generate"), s"expected prefix explosion in:\n$plan")
    val got = rewritten.as[(Long, Long)].collect().toSeq

    // Naive reference: brute-force within one synthetic block (no rule
    // involved — jaccardPairsWithinBlock joins on an equi key).
    val brute = Dedup.jaccardPairsWithinBlock(
      docs.withColumn("blk", lit(1)), "text", "doc_id", "blk", 2, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(got.toSet == brute, s"rule ${got.toSet} != brute $brute")
    assert(got.distinct.size == got.size, s"duplicate emissions in $got")
    assert(brute.contains((0L, 60L)) && brute.size > 3) // fixture exercises it
  }

  test("query construction launches no scan jobs (LSH plane counts come from parquet footers)") {
    // q67/q68 size their LSH plane count adaptively; an eager count()
    // there (the round-4 finding) launched a full-scan job per
    // invocation before the real query started. The count now reads
    // parquet footer metadata driver-side — the only jobs construction
    // may launch are Spark's own 1-partition parquet schema-inference
    // jobs ("parquet at ..."), which read footers, not data.
    val dir = "/root/testdata/sf0.001"
    assert(graft.core.Tables.parquetRowCount(spark, s"$dir/embeddings.parquet") ==
      graft.core.Tables.embeddings(spark, dir).count())
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        js.stageInfos.foreach(si => stages.add(si.name)); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q67_embedding_dedup_lsh")(spark, dir)
      SparkEntry.queries("q68_cosine_join_rule")(spark, dir)
      Thread.sleep(500) // listener bus is async
      val offenders = stages.toArray(Array.empty[String])
        .filterNot(_.startsWith("parquet at"))
      assert(offenders.isEmpty,
        s"query construction ran non-schema-inference stages: ${offenders.mkString(", ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- Lexical top-k plan shape ---------------------------------------

  test("lexical top-k ranks via TakeOrderedAndProject; every Window sees only post-limit rows") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    // A plan node's output is BOUNDED when every path from it down to a
    // leaf passes through a TakeOrderedAndProject: aggregates/unions/
    // projections of bounded inputs stay bounded (<= sum of the k's),
    // while any leaf-reaching path without a limit means corpus-sized
    // input. This is stricter than "a TOAP exists somewhere in the
    // subtree" — a reintroduced global Window directly over un-limited
    // data fails even if unrelated TOAPs sit deeper in other branches.
    def bounded(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: TakeOrderedAndProjectExec => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    def assertBoundedWindows(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      // sparkPlan (pre-AQE) so node-level collect traverses the tree.
      val plan = df.queryExecution.sparkPlan
      val toaps = plan.collect { case t: TakeOrderedAndProjectExec => t }
      assert(toaps.nonEmpty, s"$what: expected TakeOrderedAndProject, got:\n$plan")
      val windows = plan.collect { case w: WindowExec => w }
      windows.foreach { w =>
        assert(bounded(w.child),
          s"$what: a Window ranks UN-limited input (single-partition global sort):\n$plan")
      }
    }
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, dir)
    val post = graft.ops.Lexical.bm25Postings(docs, "text", "doc_id")
    assertBoundedWindows(graft.ops.Lexical.bm25TopK(post, Seq("join", "hash"), 10), "bm25TopK")
    assertBoundedWindows(SparkEntry.queries("q70_bm25")(spark, dir), "q70")
    assertBoundedWindows(SparkEntry.queries("q72_hybrid_rrf")(spark, dir), "q72")
    // Sanity: the limited rank attribution still yields contiguous ranks.
    val top = graft.ops.Lexical.bm25TopK(post, Seq("join", "hash"), 10)
      .select("rank").as[Int].collect().sorted
    assert(top.nonEmpty && top.toSeq == (1 to top.length).toSeq)
  }

  test("rewrite matches simhashNearDuplicates output on real text") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = docs.select(col("doc_id"), graft.ops.Dedup.simhash64(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val viaRuleSeq = a.join(b,
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= lit(3) && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .as[(Long, Long)].collect().toSeq
    val viaOpSeq = graft.ops.Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    // Exactly-once on both paths (toSet alone would hide a broken
    // first-agreeing-entry filter that emits once per agreeing entry).
    assert(viaRuleSeq.distinct.size == viaRuleSeq.size, "duplicate emissions via rule")
    assert(viaOpSeq.distinct.size == viaOpSeq.size, "duplicate emissions via operator")
    val viaRule = viaRuleSeq.toSet
    val viaOp = viaOpSeq.toSet
    assert(viaRule == viaOp, s"rule ${viaRule.size} pairs != operator ${viaOp.size} pairs")
  }

  // ---- Round-5 operator plan shapes -----------------------------------

  test("q76 heavy hitters: TakeOrderedAndProject over a partial agg, no Window, no global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("q76_ngram_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"expected TakeOrderedAndProject:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"corpus top-k must not rank via Window:\n$plan")
    assert(!plan.toString.contains("SortExec"), s"no global sort expected:\n$plan")
  }

  test("q78 shard packing: no Window anywhere (the naive prefix-sum plan is a global Window)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q78_shard_packing")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"packing must use the two-phase scan, not a global Window:\n$plan")
    // And it still agrees with the window-form oracle semantics.
    assert(df.count() > 0)
    graft.core.Caches.releaseAll()
  }

  test("q79 decontamination: eval n-gram set is broadcast (no corpus-side shuffle join)") {
    val plan = SparkEntry.queries("q79_decontamination")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast probe of the eval n-gram set:\n$plan")
  }

  test("q80 incremental dedup: verify consumes fat arrays without re-shuffling them") {
    // The incoming sets ride a broadcast; the only shuffle join over
    // array-carrying rows is the single corpus-side attach.
    val plan = SparkEntry.queries("q80_incremental_dedup")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the batch-side sets broadcast into the verify stage:\n$plan")
    graft.core.Caches.releaseAll()
  }

  // Exchanges only exist after EnsureRequirements, and under AQE the
  // executed plan hides them inside AdaptiveSparkPlanExec — so these
  // shuffle-payload asserts momentarily disable AQE to read a plain
  // exchange tree (the payload schema is identical either way).
  private def exchangeOutputs(build: => org.apache.spark.sql.DataFrame)
      : Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val plan = build.queryExecution.executedPlan
      assert(!plan.toString.contains("CartesianProduct"))
      plan.collect { case e: ShuffleExchangeExec => e.output.map(_.name).toSeq }
    } finally spark.conf.set(key, prior)
  }

  test("q81 span dedup: no span text or document text ever enters a shuffle") {
    val exchanges = exchangeOutputs(
      SparkEntry.queries("q81_span_dedup")(spark, "/root/testdata/sf0.001"))
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.exists(c => c == "__span" || c == "text"),
        s"spans must be hashed scan-side before any shuffle; exchange carries $cols")
    }
  }

  test("q82 LM perplexity: shuffles carry bigram halves at most, never document text") {
    val exchanges = exchangeOutputs(
      SparkEntry.queries("q82_lm_perplexity")(spark, "/root/testdata/sf0.001"))
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.exists(c => c == "text" || c == "__bg"),
        s"only (w1, w2, counts) may shuffle — exchange carries $cols")
    }
  }

  test("q85 PII / q86 funnel: map-only verdicts — no join, no Window, only the output sort shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q85_pii_redaction", "q86_quality_funnel",
        "q89_embedding_quantization")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.sparkPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty, s"$q: no Window:\n$plan")
      assert(!plan.toString.contains("Join"), s"$q must not join:\n$plan")
      val ex = plan.collect { case e: ShuffleExchangeExec => e }
      assert(ex.size <= 1, s"$q: only the deterministic output sort may shuffle:\n$plan")
    }
  }

  test("q90/q91 PQ: every real join broadcasts; the only nested loop is the tiny LUT cross") {
    // The ADC scoring join, code/argmax joins, and re-rank joins must
    // all be broadcast hash joins (codebooks/LUT/probes are the tiny
    // sides by construction). The single BroadcastNestedLoopJoin the
    // plan may contain is the query-set x codebook LUT build — both
    // sides bounded by nq*m*ksub rows, never the store.
    for (q <- Seq("q90_pq_exact", "q91_pq_encode")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      // q90 (the search path) must stay broadcast-only. q91's final
      // envelope zip joins two per-vector AGGREGATES on id — both sides
      // are N rows at corpus scale, so a co-partitioned shuffle join is
      // the correct plan there and only there.
      if (q == "q90_pq_exact") {
        assert(!plan.contains("SortMergeJoin"),
          s"$q: store-side shuffle join crept in:\n$plan")
        // The codebooks are trained on the driver: a literal relation,
        // not a cached one.
        assert("LocalTableScan \\[sub#\\d+, code_id#\\d+, cent#\\d+\\]".r
          .findFirstIn(plan).isDefined,
          s"$q: codebooks must be read from a LocalTableScan:\n$plan")
        assert(!plan.contains("InMemoryTableScan"), s"$q: nothing may be cached:\n$plan")
      }
      val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(nlj <= 1, s"$q: $nlj nested loops (only the LUT cross is allowed):\n$plan")
      assert(df.count() > 0)
      graft.core.Caches.releaseAll()
    }
  }

  test("q84/q87 closures: no cartesian product, no Window; doc text stays out of the CC loop") {
    // The iterative propagation runs at action time, so the static plan
    // covers the pair source + final assembly: pair generation must be
    // the prefix-filtered join (no all-pairs), and no text column may
    // survive into the component/split joins.
    for (q <- Seq("q84_dup_components", "q87_leakage_safe_split",
        "q88_semantic_clusters")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.sparkPlan
      assert(!plan.toString.contains("CartesianProduct"), s"$q:\n$plan")
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$q: no Window:\n$plan")
      assert(df.count() > 0)
      graft.core.Caches.releaseAll()
    }
  }

  test("q93 bloom skip: definite-new branch is a join-free might_contain filter") {
    val df = SparkEntry.queries("q93_bloom_skip")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.sparkPlan
    val planStr = plan.toString
    // The probe itself is present and codegen'd as a plain filter...
    assert(planStr.contains("might_contain"),
      s"expected a bloom might_contain probe:\n$planStr")
    // ...and the union's definite-new arm (a might_contain filter with
    // NO join beneath it) exists: at least one might_contain Filter
    // whose subtree is join-free.
    import org.apache.spark.sql.execution.FilterExec
    val joinFree = plan.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") &&
        !f.toString.contains("Join") => f
    }
    assert(joinFree.nonEmpty,
      s"definite-new arm must skip the join entirely:\n$planStr")
    assert(df.count() > 0)
  }

  test("q96 stratified sample: partial WindowGroupLimit prunes below the shuffle") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = SparkEntry.queries("q96_stratified_sample")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.sparkPlan
    // The scale claim: each input slice forwards at most k rows per
    // stratum. InferWindowGroupLimit plants a Partial-mode prune below
    // the (later-inserted) stratum Exchange and a Final above it — the
    // per-slice reservoir. sparkPlan predates EnsureRequirements, so
    // assert the Partial/Final pair rather than the Exchange itself.
    val modes = plan.collect { case w: WindowGroupLimitExec => w.mode.toString }
    assert(modes.contains("Partial") && modes.contains("Final"),
      s"expected Partial+Final WindowGroupLimit (map-side prune), got $modes:\n$plan")
    assert(df.count() > 0)
  }

  test("q94 CMS heavy hitters: sketch aggregates map-side, top-k never ranks via pre-limit Window") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q94_cms_heavy_hitters")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"exact top-k must be TakeOrderedAndProject:\n$plan")
    // The only Window ranks the <= 25 post-limit rows (q70's shape):
    // every WindowExec must sit above the TakeOrderedAndProject.
    plan.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.collectFirst { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"Window must see only post-limit rows:\n$plan")
    }
    assert(df.count() > 0)
    graft.core.Caches.releaseAll()
  }

  // ---- Session-2 operator plan shapes ---------------------------------

  test("weighted sample: TakeOrderedAndProject top-k, rank window post-limit only") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val df = graft.ops.Sampling.weightedSampleK(
      docs, col("doc_id"), col("n_chars"), k = 10, salt = "p1")
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"expected TakeOrderedAndProject top-k:\n$plan")
    plan.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.collectFirst { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"rank Window must see only the k survivors:\n$plan")
    }
  }

  test("z-score outliers: group stats broadcast back, row data never exchange-shuffled") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val df = graft.ops.Outliers.zscoreOutliers(ev, "event_type", "value", z = 3)
    val plan = df.queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected the stats join to broadcast:\n$plan")
    // The probe (row-grain) side of the broadcast join must reach its
    // scan without any shuffle: only the tiny group-stat build side and
    // the post-flag group-grain aggregations may exchange.
    val probe = bhj.head.children(if (bhj.head.buildSide ==
      org.apache.spark.sql.catalyst.optimizer.BuildRight) 0 else 1)
    assert(probe.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"row-grain probe side must be map-only:\n$plan")
  }

  test("pagerank: edge discovery is materialized, not re-derived per iteration") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec}
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val df = graft.ops.PageRank.pageRankMicro(e, "src", "dst", iterations = 3)
    val plan = df.queryExecution.sparkPlan
    // Iterations are separated by eager checkpoints, so the FINAL
    // iteration's plan must read only materialized leaves: the cached
    // degree-annotated edge list (InMemoryRelation) and checkpointed
    // RDD leaves (nodes, previous ranks) — never the raw edge source,
    // whose re-appearance would mean the discovery subtree is being
    // re-derived inside an iteration.
    val cached = plan.collect { case s: InMemoryTableScanExec => s }
    val rddLeaves = plan.collect { case s: RDDScanExec => s }
    val rawSource = plan.collect { case s: LocalTableScanExec => s }
    assert(cached.nonEmpty,
      s"expected the degree-annotated edge list to be a cached scan:\n$plan")
    assert(rddLeaves.size >= 2,
      s"expected checkpointed nodes + previous-ranks leaves, got ${rddLeaves.size}:\n$plan")
    assert(rawSource.isEmpty,
      s"raw edge source re-derived inside an iteration:\n$plan")
    graft.core.Caches.releaseAll()
  }

  test("hashed classifier: zero shuffles — scoring is one map stage over the scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Seq((1L, "spark joins hash"), (2L, "fast scans"))
      .toDF("doc_id", "text")
    val df = graft.ops.HashedClassifier.score(docs, "text", "doc_id")
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"model application must not exchange:\n$plan")
  }

  test("centroid drift: exchanges carry grid partials, never embedding vectors") {
    val exchanges = exchangeOutputs(
      SparkEntry.queries("q135_centroid_drift")(spark, "/root/testdata/sf0.001"))
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.exists(_.contains("embedding")),
        s"only (label, dim, partial sums) may shuffle — exchange carries $cols")
    }
  }

  test("triangle count: no cartesian product; wedge closure is an equi-join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val plan = graft.ops.Triangles.triangleCount(e, "a", "b")
      .queryExecution.sparkPlan
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      s"no cartesian in the triangle plan:\n$plan")
    // The only nested-loop joins allowed are the final three 1-row
    // count combinations.
    val bnl = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size <= 2, s"only the 1-row stat combine may nest:\n$plan")
    graft.core.Caches.releaseAll()
  }

  test("bottom-k sample: TakeOrderedAndProject (per-partition heaps), no global sort") {
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    val ids = (1L to 100L).toDF("doc_id")
    val df = graft.ops.Sampling.bottomKSample(ids, col("doc_id"), 10, "bk1")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"bottom-k must plan as TakeOrderedAndProject:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      s"no global sort for a k-sample:\n$plan")
  }

  test("markov matrix: events scanned ONCE; totals are a matrix-grain window") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val df = graft.ops.Markov.transitionMatrix(
      ev, "user_id", "ts", "event_type", "event_id")
    val plan = df.queryExecution.sparkPlan
    // The groupBy+broadcast-join totals spelling re-executed the whole
    // events scan + sequence window for the broadcast branch; the
    // window-over-counts form reads events exactly once.
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, s"events must scan once, got ${scans.size}:\n$plan")
    val ex = plan.collect { case s: ShuffleExchangeExec => s }
    assert(ex.size <= 3,
      s"expected <=3 exchanges (user window, matrix agg, src window):\n$plan")
  }

  test("support-pair discovery is session-shared: q114/q115/q138 consume ONE subtree") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    graft.core.Caches.releaseShared()
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val first = graft.ops.Affinity.supportPairs(li, "l_orderkey", "l_partkey", 2)
    first.collect() // materialize the shared cache (the q114 position)
    graft.core.Caches.releaseAll() // per-query release must NOT evict it
    // A later consumer (the q115/q138 position) must plan against the
    // cached relation: its pair subtree reads the InMemoryRelation and
    // re-runs NO lineitem file scan for discovery.
    val again = graft.ops.Affinity.supportPairs(
      graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001"),
      "l_orderkey", "l_partkey", 2)
    val plan = again.queryExecution.sparkPlan
    assert(plan.collectWithSubqueries { case s: InMemoryTableScanExec => s }.nonEmpty,
      s"second consumer must read the shared cache:\n$plan")
    assert(plan.collectWithSubqueries { case f: FileSourceScanExec => f }.isEmpty,
      s"second consumer must not re-scan lineitem for discovery:\n$plan")
    // Distinct parameters are a DIFFERENT relation, never a false hit:
    // the rebuild nests its own n_ab >= 3 filter inside its (new)
    // shared cache entry, while a false hit would be the >= 2 relation
    // verbatim (collect can't descend into InMemoryRelation.cachedPlan,
    // so the pin reads the rendered plan).
    val other = graft.ops.Affinity.supportPairs(li, "l_orderkey", "l_partkey", 3)
    assert(other.queryExecution.sparkPlan.toString.contains(">= 3"),
      "different minSupport must rebuild with its own support filter, not reuse")
    graft.core.Caches.releaseShared()
    graft.core.Caches.releaseAll()
  }
}
