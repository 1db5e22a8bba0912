package graft

import graft.functions.{IsoDurationSecondsExpr, JaccardSimExpr, LshBucketExpr, MinHashSigExpr, SimHash64Expr, VecCosineExpr}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for graft's custom Catalyst expressions: registers
  * `iso_duration_seconds`, `vec_cosine`, `simhash64`,
  * `minhash_signature`, the `chunk_transcript` table function, and the
  * structured-LLM-output parsers in the session function registry so
  * `spark.sql("SELECT vec_cosine(a, b) ...")` works like any builtin —
  * PLUS the ops library as TABLE functions (`tableRegistry`): e.g.
  * `SELECT * FROM dedup_cascade('docs', 'text', 'doc_id', 0.8, 3)` or
  * `SELECT * FROM support_pairs('orders', 'basket', 'item', 2)` run
  * the exact LogicalPlan the Scala DataFrame ops build, composable
  * with ordinary SQL around them.
  *
  * One entry point, [[GraftExtensions]]: `graft.core.Sessions` applies
  * it to every session it builds, and a spark-submit deployment sets
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${args.length}")

  // Per-call suffix for TVFs that materialize an index: each
  // resolution gets its own namespace (two d4_prune calls in one
  // session must not share/overwrite an index mid-plan).
  private val d4TvfCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A constant string-array argument: either `array('a', 'b', ...)`
    * (CreateArray of string literals — the form SQL produces) or a
    * folded array literal.
    */
  private def strArrayLit(e: Expression, what: String): Seq[String] = e match {
    case org.apache.spark.sql.catalyst.expressions.CreateArray(children, _) =>
      children.map {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case other => throw new IllegalArgumentException(
          s"$what elements must be string literals, got $other")
      }
    case lit: Literal if lit.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType] =>
      lit.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        .toIndexedSeq
    case other => throw new IllegalArgumentException(
      s"$what must be a constant string array, got $other")
  }

  val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "iso_duration_seconds" -> { args =>
      arity("iso_duration_seconds", args, 1); IsoDurationSecondsExpr(args.head) },
    "vec_cosine" -> { args =>
      arity("vec_cosine", args, 2); VecCosineExpr(args(0), args(1)) },
    "simhash64" -> { args =>
      arity("simhash64", args, 1); SimHash64Expr(args.head) },
    // Set-semantics Jaccard over token arrays; a SQL join on
    // `jaccard_sim(a.sh, b.sh) >= t` is re-planned by
    // JaccardPrefixJoinRule exactly like the Column form.
    "jaccard_sim" -> { args =>
      arity("jaccard_sim", args, 2); JaccardSimExpr(args(0), args(1)) },
    // Sign-pattern LSH bucket id (numPlanes literal).
    "lsh_bucket" -> { args =>
      arity("lsh_bucket", args, 2)
      LshBucketExpr(args(0), intLit(args(1), "numPlanes")) },
    // Word n-gram array / one-pass repetition stats (n literal).
    "ngrams" -> { args =>
      arity("ngrams", args, 2)
      graft.functions.NgramsExpr(args(0), intLit(args(1), "n")) },
    "ngram_repetition" -> { args =>
      arity("ngram_repetition", args, 2)
      graft.functions.NgramRepetitionExpr(args(0), intLit(args(1), "n")) },
    // Multi-n repetition vector in ONE tokenize pass:
    // multi_ngram_stats(text, n1, n2, ...) -> [n_tokens, sum_chars,
    // then per n: total, top, top_chars, dup, dup_chars] (the
    // authoritative layout is MultiNgramStatsExpr's Scaladoc).
    "multi_ngram_stats" -> { args =>
      if (args.length < 2) throw new IllegalArgumentException(
        s"multi_ngram_stats expects (text, n...), got ${args.length} args")
      graft.functions.MultiNgramStatsExpr(args.head,
        args.tail.zipWithIndex.map { case (a, i) => intLit(a, s"n[$i]") }) },
    // Binary-search membership in a SORTED ascending bigint array
    // (caller guarantees sortedness — see SortedContainsExpr).
    "sorted_contains" -> { args =>
      arity("sorted_contains", args, 2)
      graft.functions.SortedContainsExpr(args(0), args(1)) },
    "minhash_signature" -> { args =>
      arity("minhash_signature", args, 3)
      MinHashSigExpr(args(0),
        intLit(args(1), "shingleN"), intLit(args(2), "numHashes"))
    },
    // Multi-pattern substring search (one Aho-Corasick pass; phrase
    // blocklists): multi_match(text, array('p1', 'p2', ...)) -> the
    // patterns present in the text, in list order.
    "multi_match" -> { args =>
      arity("multi_match", args, 2)
      graft.functions.MultiMatchExpr(args(0),
        strArrayLit(args(1), "patterns"))
    },
    // G1 chunker as a SQL table-generating function:
    //   SELECT video_id, c.* FROM t
    //   LATERAL VIEW chunk_transcript(snippets, 1000, 200) c AS text, start
    "chunk_transcript" -> { args =>
      arity("chunk_transcript", args, 3)
      graft.chunk.ChunkTranscriptGen(args(0),
        intLit(args(1), "chunkSize"), intLit(args(2), "chunkOverlap"))
    },
    // Unicode canonical/compatibility normalization (no Spark builtin;
    // multilingual dedup keys break on raw byte equality without it).
    "nfc" -> { args =>
      arity("nfc", args, 1); graft.functions.UnicodeNormExpr(args.head, "NFC") },
    "nfd" -> { args =>
      arity("nfd", args, 1); graft.functions.UnicodeNormExpr(args.head, "NFD") },
    "nfkc" -> { args =>
      arity("nfkc", args, 1); graft.functions.UnicodeNormExpr(args.head, "NFKC") },
    // Structured LLM output (SURVEY §1.3): raw response text -> typed
    // struct, with fence/preamble recovery and malformed -> null.
    "parse_agent_response" -> { args =>
      arity("parse_agent_response", args, 1)
      graft.query.StructuredOutput.parseAgentResponseExpr(args.head)
    },
    "parse_query_response" -> { args =>
      arity("parse_query_response", args, 1)
      graft.query.StructuredOutput.parseQueryResponseExpr(args.head)
    })

  // ---- ops library as SQL TABLE functions --------------------------

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  // SQL `0.8` parses as a Decimal literal; accept the numeric spellings.
  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Double, _) => v
    case Literal(v: Float, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }
  private def tableOf(name: String): org.apache.spark.sql.DataFrame =
    SparkSession.active.table(name)
  private def plan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  /** The ops library's SQL story (`SELECT * FROM op('table', ...)`):
    * each TVF takes the INPUT TABLE/VIEW NAME plus the op's parameters
    * as literals and resolves to exactly the LogicalPlan the Scala
    * DataFrame API builds — one implementation, two surfaces
    * (SqlSurfaceSpec pins SQL == Scala row-for-row per op).
    */
  val tableRegistry: Seq[(String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    // keep-min-id exact dedup: (id, keep) survivor tags
    "exact_dedup" -> { args =>
      arity("exact_dedup", args, 3)
      plan(graft.ops.Dedup.exact(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol")))
    },
    // staged cascade: (id, stage in exact|near|kept)
    "dedup_cascade" -> { args =>
      arity("dedup_cascade", args, 5)
      plan(graft.ops.DedupCascade.cascade(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        doubleLit(args(3), "threshold"), longLit(args(4), "shingleN").toInt))
    },
    // incremental R-S cascade: batch table vs corpus table
    "cascade_against" -> { args =>
      arity("cascade_against", args, 6)
      plan(graft.ops.DedupCascade.cascadeAgainst(
        tableOf(strLit(args(0), "batchTable")), tableOf(strLit(args(1), "corpusTable")),
        strLit(args(2), "textCol"), strLit(args(3), "idCol"),
        doubleLit(args(4), "threshold"), longLit(args(5), "shingleN").toInt))
    },
    // exact prefix-filtered Jaccard pairs: (id_a, id_b, jaccard)
    "jaccard_pairs" -> { args =>
      arity("jaccard_pairs", args, 5)
      plan(graft.ops.Dedup.jaccardJoinExact(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        doubleLit(args(3), "threshold"), longLit(args(4), "shingleN").toInt))
    },
    // banded SimHash near-dup pairs: (id_a, id_b, hamming)
    "simhash_pairs" -> { args =>
      arity("simhash_pairs", args, 4)
      plan(graft.ops.Dedup.simhashNearDuplicates(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "maxHamming").toInt))
    },
    // market-basket co-occurrence: (item_a, item_b, n_ab)
    "support_pairs" -> { args =>
      arity("support_pairs", args, 4)
      plan(graft.ops.Affinity.supportPairs(tableOf(strLit(args(0), "table")),
        strLit(args(1), "basketCol"), strLit(args(2), "itemCol"),
        longLit(args(3), "minSupport")))
    },
    // lift table: (item_a, item_b, n_ab, n_a, n_b, lift_micro)
    "basket_lift" -> { args =>
      arity("basket_lift", args, 4)
      plan(graft.ops.Affinity.basketLift(tableOf(strLit(args(0), "table")),
        strLit(args(1), "basketCol"), strLit(args(2), "itemCol"),
        longLit(args(3), "minSupport")))
    },
    // weekly cohort retention: (cohort_week, week_offset, n_users)
    "weekly_retention" -> { args =>
      arity("weekly_retention", args, 3)
      plan(graft.ops.Retention.weeklyCohorts(tableOf(strLit(args(0), "table")),
        strLit(args(1), "userCol"), strLit(args(2), "tsCol")))
    },
    // behavioral transition matrix: (src, dst, n, p_micro)
    "markov_transitions" -> { args =>
      arity("markov_transitions", args, 5)
      plan(graft.ops.Markov.transitionMatrix(tableOf(strLit(args(0), "table")),
        strLit(args(1), "userCol"), strLit(args(2), "tsCol"),
        strLit(args(3), "typeCol"), strLit(args(4), "tieCol")))
    },
    // ordered-step funnel; steps as a comma-separated literal
    "event_funnel" -> { args =>
      arity("event_funnel", args, 6)
      plan(graft.ops.Funnel.funnelMatch(tableOf(strLit(args(0), "table")),
        strLit(args(1), "keyCol"), strLit(args(2), "tsCol"),
        strLit(args(3), "typeCol"),
        strLit(args(4), "steps").split(",").toIndexedSeq.map(_.trim),
        longLit(args(5), "maxGapSeconds")))
    },
    // content-defined chunking segments: (id, seg_idx, seg_text)
    "cdc_segments" -> { args =>
      arity("cdc_segments", args, 5)
      plan(graft.ops.ContentDefinedChunking.cdcSegments(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "window").toInt, longLit(args(4), "divisor").toInt))
    },
    // per-doc CDC duplication profile:
    // (id, n_segs, dup_segs, dup_frac, flagged)
    "cdc_dedup_stats" -> { args =>
      arity("cdc_dedup_stats", args, 6)
      plan(graft.ops.ContentDefinedChunking.cdcDedupStats(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "window").toInt, longLit(args(4), "divisor").toInt,
        longLit(args(5), "minDocs").toInt))
    },
    // ensemble duplicate families over the standard three signals:
    // (id, family, family_size, signals bitmask, is_canonical)
    "dup_families" -> { args =>
      arity("dup_families", args, 9)
      plan(graft.ops.EnsembleDedup.standardDupFamilies(
        tableOf(strLit(args(0), "docsTable")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        tableOf(strLit(args(3), "embTable")),
        strLit(args(4), "embCol"), strLit(args(5), "vecIdCol"),
        strLit(args(6), "labelCol"),
        doubleLit(args(7), "jaccardThreshold"),
        doubleLit(args(8), "cosineThreshold")))
    },
    // deterministic T5-style span corruption:
    // (id, corrupted_text, target_text, n_spans)
    "span_corrupt" -> { args =>
      arity("span_corrupt", args, 6)
      plan(graft.ops.Augment.spanCorrupt(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "blockLen").toInt, longLit(args(4), "spanLen").toInt,
        strLit(args(5), "salt")))
    },
    // GPT-style sequence packing: (seq_id, seq_text, n_tokens, n_docs)
    "sequence_pack" -> { args =>
      arity("sequence_pack", args, 4)
      plan(graft.ops.SequencePack.pack(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "seqLen").toInt))
    },
    // deterministic BERT-style MLM masking:
    // (id, masked_text, target_text, n_masked)
    "mlm_mask" -> { args =>
      arity("mlm_mask", args, 5)
      plan(graft.ops.Augment.mlmMask(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "maskPct").toInt, strLit(args(4), "salt")))
    },
    // exact maximal duplicated-substring spans (Lee et al. ExactSubstr):
    // (id, span_start, span_end, span_len, span_text)
    "duplicated_spans" -> { args =>
      arity("duplicated_spans", args, 4)
      plan(graft.ops.SpanDedup.maximalDuplicatedSpans(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "minLen").toInt))
    },
    // distributed BPE training (the merge loop runs at resolution, the
    // kcore TVF precedent): (merge_rank, pair_a, pair_b, pair_count)
    "bpe_train" -> { args =>
      arity("bpe_train", args, 3)
      val spark = SparkSession.active
      val merges = graft.ops.Bpe.train(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), longLit(args(2), "numMerges").toInt)
      import spark.implicits._
      plan(merges.map(m => (m.rank.toLong, m.a, m.b, m.count))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count"))
    },
    // train-then-pack composition (q154's shape): BPE vocab from the
    // corpus, <eod>-joined token stream, fixed-length cuts.
    "bpe_pack" -> { args =>
      arity("bpe_pack", args, 5)
      val docs = tableOf(strLit(args(0), "table"))
      val textCol = strLit(args(1), "textCol")
      val merges = graft.ops.Bpe.train(docs, textCol,
        longLit(args(3), "numMerges").toInt)
      plan(graft.ops.SequencePack.packTokens(docs,
        org.apache.spark.sql.functions.concat(
          graft.ops.Bpe.tokenize(
            org.apache.spark.sql.functions.col(textCol), merges),
          org.apache.spark.sql.functions.array(
            org.apache.spark.sql.functions.lit("<eod>"))),
        strLit(args(2), "idCol"), longLit(args(4), "seqLen").toInt))
    },
    // quantized linear-classifier training trajectory:
    // (epoch, bucket, weight)
    "train_classifier" -> { args =>
      arity("train_classifier", args, 6)
      plan(graft.ops.LinearTrainer.train(tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        org.apache.spark.sql.functions.col(strLit(args(3), "labelCol")),
        longLit(args(4), "buckets").toInt, longLit(args(5), "epochs").toInt))
    },
    // cross-document boilerplate line removal:
    // (id, clean_text, n_kept, n_removed)
    "remove_boilerplate" -> { args =>
      arity("remove_boilerplate", args, 4)
      plan(graft.ops.Boilerplate.removeCommonLines(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        longLit(args(3), "minDocs")))
    },
    // trained BPE vocabulary with integer ids: (token, token_id)
    "bpe_vocab" -> { args =>
      arity("bpe_vocab", args, 3)
      val docs = tableOf(strLit(args(0), "table"))
      val textCol = strLit(args(1), "textCol")
      plan(graft.ops.Bpe.vocabTable(docs, textCol,
        graft.ops.Bpe.train(docs, textCol,
          longLit(args(2), "numMerges").toInt)))
    },
    // Gopher repetition funnel verdicts: (id, n_words, verdict, passed)
    "repetition_funnel" -> { args =>
      arity("repetition_funnel", args, 5)
      val textCol = strLit(args(1), "textCol")
      plan(graft.ops.QualityFilter.funnel(
        tableOf(strLit(args(0), "table")), textCol,
        strLit(args(2), "idCol"),
        graft.ops.QualityFilter.repetitionRules(
          org.apache.spark.sql.functions.col(textCol),
          longLit(args(3), "maxDupLinePct").toInt,
          longLit(args(4), "maxTop2gramPct").toInt)))
    },
    // The COMPLETE Gopher Table A1 repetition funnel (all 13 published
    // rules at their published cuts, Table order):
    // (id, n_words, verdict, passed)
    "gopher_repetition_funnel" -> { args =>
      arity("gopher_repetition_funnel", args, 3)
      val textCol = strLit(args(1), "textCol")
      plan(graft.ops.QualityFilter.funnel(
        tableOf(strLit(args(0), "table")), textCol,
        strLit(args(2), "idCol"),
        graft.ops.QualityFilter.gopherRepetitionRulesFull(
          org.apache.spark.sql.functions.col(textCol))))
    },
    // The C4 page-drop funnel over the line-cleaned text (Raffel 2020
    // §2.2 — q179's rule family, documented funnel order):
    // (id, n_words, verdict, passed)
    "c4_line_funnel" -> { args =>
      arity("c4_line_funnel", args, 3)
      val textCol = strLit(args(1), "textCol")
      plan(graft.ops.QualityFilter.funnel(
        tableOf(strLit(args(0), "table")), textCol,
        strLit(args(2), "idCol"),
        graft.ops.C4Filter.c4Rules(
          org.apache.spark.sql.functions.col(textCol))))
    },
    // UniMax capped waterfill over a group column:
    // (grp, n_tokens, cap_tokens, alloc_tokens, capped)
    "unimax_allocation" -> { args =>
      arity("unimax_allocation", args, 6)
      plan(graft.ops.UniMax.allocate(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "grpCol"), strLit(args(2), "textCol"),
        intLit(args(3), "epochCap"), longLit(args(4), "budgetNum"),
        longLit(args(5), "budgetDen")))
    },
    // WordPiece training (q182's relation, the bpe_train discipline:
    // the trainer runs at resolution time, the result is a literal
    // relation): (merge_rank, pair_a, pair_b, pair_count, score)
    "wordpiece_train" -> { args =>
      arity("wordpiece_train", args, 3)
      val spark = SparkSession.active
      val merges = graft.ops.WordPiece.train(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), longLit(args(2), "numMerges").toInt)
      import spark.implicits._
      plan(merges.map(m => (m.rank.toLong, m.a, m.b, m.count, m.score))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count", "score"))
    },
    // train-then-encode composition (q183's shape): greedy
    // longest-match integer ids over the trained vocabulary.
    "wordpiece_ids" -> { args =>
      arity("wordpiece_ids", args, 5)
      val docs = tableOf(strLit(args(0), "table"))
      val textCol = strLit(args(1), "textCol")
      val merges = graft.ops.WordPiece.train(docs, textCol,
        longLit(args(3), "numMerges").toInt)
      val vocab = graft.ops.WordPiece.vocabTable(docs, textCol, merges)
      plan(graft.ops.WordPiece.tokenizeToIds(docs, textCol,
        strLit(args(2), "idCol"), vocab, longLit(args(4), "maxChars").toInt))
    },
    // Unigram-LM (SentencePiece) training (q190's relation; trainer
    // at resolution time, the wordpiece_train convention):
    // (token_id, token, count, cost_micro)
    "unigram_train" -> { args =>
      arity("unigram_train", args, 6)
      val spark = SparkSession.active
      val pieces = graft.ops.Unigram.train(
        tableOf(strLit(args(0), "table")), strLit(args(1), "textCol"),
        intLit(args(2), "seedSize"), intLit(args(3), "maxPieceLen"),
        intLit(args(4), "emRounds"), intLit(args(5), "pruneCount"))
      import spark.implicits._
      plan(pieces.map(p => (p.token, p.count, p.costMicro))
        .toDF("token", "count", "cost_micro")
        .join(graft.ops.Unigram.vocabTable(spark, pieces), Seq("token"))
        .select(org.apache.spark.sql.functions.col("token_id"),
          org.apache.spark.sql.functions.col("token"),
          org.apache.spark.sql.functions.col("count"),
          org.apache.spark.sql.functions.col("cost_micro")))
    },
    // train-then-encode composition (q191's shape): Viterbi integer
    // ids over the trained unigram vocabulary.
    "unigram_ids" -> { args =>
      arity("unigram_ids", args, 7)
      val docs = tableOf(strLit(args(0), "table"))
      val textCol = strLit(args(1), "textCol")
      val pieces = graft.ops.Unigram.train(docs, textCol,
        intLit(args(3), "seedSize"), intLit(args(4), "maxPieceLen"),
        intLit(args(5), "emRounds"), intLit(args(6), "pruneCount"))
      val vocab = graft.ops.Unigram.vocabTable(SparkSession.active, pieces)
      plan(graft.ops.Unigram.tokenizeToIds(docs, textCol,
        strLit(args(2), "idCol"), pieces, vocab))
    },
    // train-then-eval composition: byte-level fertility/compression
    // stats per group (q185's relation).
    "tokenizer_fertility" -> { args =>
      arity("tokenizer_fertility", args, 4)
      val docs = tableOf(strLit(args(0), "table"))
      val textCol = strLit(args(1), "textCol")
      val merges = graft.ops.Bpe.trainByteLevel(docs, textCol,
        longLit(args(3), "numMerges").toInt)
      plan(graft.ops.TokenizerEval.fertilityByGroup(docs, textCol,
        strLit(args(2), "grpCol"), merges))
    },
    // D4 prototypicality prune relation:
    // (vec_id, centroid_id, proto_micro, rank, cluster_size, drop_n, kept)
    "prototype_pruning" -> { args =>
      arity("prototype_pruning", args, 7)
      plan(graft.ops.Prototypes.prunePrototypical(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "embCol"), strLit(args(2), "idCol"),
        intLit(args(3), "nClusters"), intLit(args(4), "refineRounds"),
        longLit(args(5), "epsNum"), longLit(args(6), "epsDen")))
    },
    // The FULL D4 composition (q188's per-vector relation): index-
    // backed EXACT-MODE SemDeDup at `threshold` then prototype pruning
    // of the survivors. The index is hermetic to the call (run-unique
    // prefix, the q144 discipline); exact-mode knobs (nprobe = nlist,
    // k = shortlist = |table|) come from one bounded count at
    // resolution time — the wordpiece_train TVF's trainer-at-
    // resolution convention. (table, embCol, idCol, threshold,
    // nClusters, refineRounds, epsNum, epsDen) ->
    // (id, component, family_size, is_canonical, centroid_id,
    //  proto_micro, kept)
    "d4_prune" -> { args =>
      arity("d4_prune", args, 8)
      val embCol = strLit(args(1), "embCol")
      val tbl = tableOf(strLit(args(0), "table"))
      val prefix = s"graft_idx_d4tvf_${graft.suite.Shared.runToken}_" +
        d4TvfCalls.incrementAndGet()
      val base = s"${System.getProperty("java.io.tmpdir")}/$prefix"
      val kCap = math.min(math.max(1L, tbl.count()),
        Int.MaxValue.toLong).toInt
      // PQ geometry from the data (one bounded row): in exact mode
      // the codes only gate the covering shortlist, so any valid
      // (m | dim) split is sound — take the largest of {4, 2, 1}.
      val dim = tbl.select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col(embCol)))
        .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)
      val m = Seq(4, 2, 1).find(x => dim >= x && dim % x == 0).get
      plan(graft.ops.Prototypes.d4Prune(tbl,
        embCol, strLit(args(2), "idCol"),
        doubleLit(args(3), "threshold"), nlist = 16, nprobe = 16,
        k = kCap, shortlist = kCap, m = m, ksub = 16, dim = dim,
        intLit(args(4), "nClusters"), intLit(args(5), "refineRounds"),
        longLit(args(6), "epsNum"), longLit(args(7), "epsDen"),
        tablePrefix = prefix, basePath = base))
    },
    // deterministic mini-batch SGD trajectory:
    // (epoch, batch, bucket, weight)
    "train_classifier_minibatch" -> { args =>
      arity("train_classifier_minibatch", args, 7)
      plan(graft.ops.LinearTrainer.trainMiniBatch(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "textCol"), strLit(args(2), "idCol"),
        org.apache.spark.sql.functions.col(strLit(args(3), "labelCol")),
        longLit(args(4), "buckets").toInt, longLit(args(5), "epochs").toInt,
        longLit(args(6), "numBatches").toInt))
    },
    // RLHF/DPO preference pairs from a scored relation; keys as a
    // comma-separated literal (the event_funnel steps convention):
    // (keys..., chosen_id, rejected_id, chosen/rejected_score, margin)
    "preference_pairs" -> { args =>
      arity("preference_pairs", args, 5)
      plan(graft.ops.PreferencePairs.fromScores(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "keyCols").split(",").toIndexedSeq.map(_.trim),
        strLit(args(2), "idCol"), strLit(args(3), "scoreCol"),
        longLit(args(4), "minMargin")))
    },
    // k-pair form: pair i = (i-th best, i-th worst), + pair_rank column.
    "preference_pairs_topk" -> { args =>
      arity("preference_pairs_topk", args, 6)
      plan(graft.ops.PreferencePairs.fromScoresTopK(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "keyCols").split(",").toIndexedSeq.map(_.trim),
        strLit(args(2), "idCol"), strLit(args(3), "scoreCol"),
        longLit(args(4), "pairsPerGroup").toInt,
        longLit(args(5), "minMargin")))
    },
    // contrastive (anchor, positive, hard-negative) triplets:
    // (anchor_id, positive_id, negative_id, pos_cos, neg_cos)
    "contrastive_triplets" -> { args =>
      arity("contrastive_triplets", args, 5)
      plan(graft.ops.ContrastivePairs.hardTriplets(
        tableOf(strLit(args(0), "table")),
        strLit(args(1), "embCol"), strLit(args(2), "idCol"),
        strLit(args(3), "blockCol"), doubleLit(args(4), "posThreshold")))
    },
    // k-core membership over an edge table: (id, in_kcore, peel_round)
    "kcore" -> { args =>
      arity("kcore", args, 4)
      plan(graft.ops.KCore.kCore(tableOf(strLit(args(0), "table")),
        strLit(args(1), "aCol"), strLit(args(2), "bCol"),
        longLit(args(3), "k").toInt))
    },
    // k-core with per-vertex exactness certificate: (id, degree, certified)
    "kcore_certified" -> { args =>
      arity("kcore_certified", args, 4)
      plan(graft.ops.KCore.kCoreCertified(tableOf(strLit(args(0), "table")),
        strLit(args(1), "aCol"), strLit(args(2), "bCol"),
        longLit(args(3), "k").toInt))
    })
}

/** graft's functions, table functions and optimizer rules, installed
  * when a session is created (`graft.core.Sessions`, or
  * `spark.sql.extensions` under spark-submit). The exact join rules are
  * always on; CosineBandJoinRule is approximate and does nothing until
  * `spark.graft.cosineJoin.rewrite` is set.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registry.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    GraftFunctions.tableRegistry.foreach { case (name, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.HammingBandJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.CosineBandJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.JaccardPrefixJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.IntervalBinJoinRule)
  }
}
