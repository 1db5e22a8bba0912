package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed UNIGRAM-LM tokenizer training (§2.11 extensions,
  * tokenization family) — the SentencePiece DEFAULT (Kudo 2018,
  * "Subword Regularization: Improving Neural Network Translation
  * Models with Multiple Subword Candidates"; Kudo & Richardson 2018,
  * "SentencePiece") used by the T5/Llama-family pipelines, joining
  * char-level BPE, byte-level BPE and WordPiece as graft's FOURTH
  * trained convention: instead of growing a vocabulary by merges, seed
  * a LARGE candidate set of substrings, fit a unigram language model
  * over pieces by EM, and PRUNE the pieces whose removal costs the
  * least likelihood; inference segments by VITERBI under the final
  * piece costs ([[graft.functions.UnigramViterbiExpr]]).
  *
  * Engine-portable convention (every step DuckDB-replayable — the
  * exact-integer-grid discipline of the other three trainers):
  *  - SEED: all substrings of the suite word histogram up to
  *    `maxPieceLen` code points, freq-weighted overlapping counts;
  *    the single-code-point ALPHABET is always in (coverage, never
  *    pruned) plus the top `seedSize` multi-char substrings by
  *    (count * lenCp DESC, token ASC binary) — the published seeding
  *    score (SentencePiece's make-seed orders by freq * len).
  *  - COSTS on the q82 micro-nat grid, LAPLACE-smoothed so EM never
  *    divides by zero and zero-count pieces stay usable:
  *    cost(p) = round_even(-ln((c_p + 1) / (total + V)) * 1e6) as
  *    BIGINT, where total = sum of current counts and V = |pieces|.
  *    The ln runs in IEEE double and snaps to the 1e-6 grid — the
  *    q82/q187 cross-engine discipline.
  *  - EM is HARD (Viterbi) EM: each round segments every distinct
  *    word under the current costs and the new count of a piece is
  *    its freq-weighted occurrence count in those segmentations —
  *    expected counts collapse to the argmax path's, trading Kudo's
  *    soft E-step for integer-exact replayability (the forward
  *    lattice sums are not grid-representable cross-engine).
  *  - PRUNE once after `emRounds`: loss(p) = count(p) * cost(p)
  *    (HUGEINT/BigInt — the piece's total micro-nat contribution, the
  *    first-order likelihood drop if its occurrences re-segment);
  *    drop the `pruneCount` multi-char pieces with the SMALLEST loss
  *    (loss ASC, token ASC binary); then one post-prune count pass
  *    re-distributes the dropped pieces' occurrences.
  *  - Words over `maxChars` code points are excluded from training
  *    wholesale (they tokenize [UNK] at inference — the WordPiece
  *    cap, which also bounds the oracle's DP unroll).
  *  - Viterbi tie-break: (cost ASC, piece count ASC, longest last
  *    piece) at every DP position — see [[graft.functions
  *    .UnigramViterbiExpr]].
  *
  * Scale shape: ONE corpus scan builds the word histogram; the seed
  * pass explodes substrings at DICTIONARY grain (distinct words ×
  * ≤ maxChars * maxPieceLen substrings, map-side combined); each EM
  * round is one dictionary-grain Viterbi pass through the native
  * expression + a map-side-combined count agg + a VOCABULARY-sized
  * collect (alphabet + seedSize rows — the [[Bpe]] argmax-collect
  * discipline, bounded by construction). No corpus shuffle anywhere.
  *
  * Reference scope: the reference ships no tokenizer; like the other
  * three conventions this extends the engine with the published
  * algorithm under the same oracle discipline.
  */
object Unigram {

  /** One trained piece: token, final count, final micro-nat cost. */
  final case class Piece(token: String, count: Long, costMicro: Long)

  /** Laplace-smoothed micro-nat costs over the CURRENT counts (see
    * object doc). rint = half-even, DuckDB round_even's convention.
    */
  private def laplaceCosts(pieces: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = pieces.map(_._2).sum
    val v = pieces.size
    pieces.map { case (t, c) =>
      (t, math.rint(-math.log((c + 1.0) / (total + 1.0 * v)) * 1e6).toLong)
    }
  }

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Train the unigram piece table. Two paths pinned equal
    * (UnigramSpec): driver-local when the word histogram fits
    * `driverCap`, distributed (dictionary-grain passes through the
    * native Viterbi expression) otherwise.
    */
  def train(
      df: DataFrame,
      textCol: String,
      seedSize: Int,
      maxPieceLen: Int = 4,
      emRounds: Int = 2,
      pruneCount: Int = 10,
      maxChars: Int = 16,
      driverCap: Int = 100000): Seq[Piece] = {
    require(seedSize >= 0 && maxPieceLen >= 1 && emRounds >= 0 &&
      pruneCount >= 0 && maxChars >= 1)
    val hist = Bpe.wordCounts(df, textCol)
    if (driverCap > 0) {
      val sample = hist.limit(driverCap + 1).collect()
      if (sample.length <= driverCap)
        return trainLocal(
          sample.map(r => (r.getString(0), r.getLong(1)))
            .filter(p => cpLen(p._1) <= maxChars),
          seedSize, maxPieceLen, emRounds, pruneCount, maxChars)
    }
    trainDistributed(hist, seedSize, maxPieceLen, emRounds, pruneCount,
      maxChars)
  }

  // ------------------------------------------------------ distributed
  private def trainDistributed(
      hist0: DataFrame, seedSize: Int, maxPieceLen: Int, emRounds: Int,
      pruneCount: Int, maxChars: Int): Seq[Piece] = {
    // Code-point split once; over-length words excluded wholesale.
    val hist = graft.core.Caches.persistTracked(
      hist0.select(col("word"), col("freq"),
          split(Bpe.charSeq(col("word")), " ").as("cs"))
        .where(size(col("cs")) <= maxChars))
    // Seed: (len, token) substring explode at dictionary grain.
    val subs = hist.select(col("freq"), explode(flatten(
        transform(sequence(lit(0), size(col("cs")) - 1), i =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), size(col("cs")) - i)), l =>
            struct(l.as("l"),
              array_join(slice(col("cs"), i + 1, l), "").as("t"))))))
        .as("s"))
      .groupBy(col("s.t").as("token"), col("s.l").as("len"))
      .agg(sum(col("freq")).as("c"))
    val subsP = graft.core.Caches.persistTracked(subs)
    // Alphabet: every observed code point (bounded by the script set).
    val alpha = subsP.where(col("len") === 1)
      .select(col("token"), col("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // Top multi-char candidates by (count * len DESC, token ASC).
    val multi = subsP.where(col("len") >= 2)
      .orderBy((col("c") * col("len")).desc, col("token").asc)
      .limit(seedSize)
      .select(col("token"), col("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    runRounds(
      alpha.sortWith((a, b) => Bpe.utf8Lt(a._1, b._1)).toVector,
      multi.sortWith((a, b) => Bpe.utf8Lt(a._1, b._1)).toVector,
      emRounds, pruneCount, maxChars, maxPieceLen,
      costs => segmentCountsDistributed(hist, costs, maxChars, maxPieceLen))
  }

  private def segmentCountsDistributed(
      hist: DataFrame, costs: Seq[(String, Long)], maxChars: Int,
      maxPieceLen: Int): Map[String, Long] =
    hist.select(col("freq"),
        explode(viterbiPieces(col("word"), costs, maxChars, maxPieceLen))
          .as("t"))
      .where(col("t") =!= lit(graft.functions.UnigramViterbiOps.Unk))
      .groupBy(col("t")).agg(sum(col("freq")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // ------------------------------------------------------ driver-local
  private def trainLocal(
      hist: Array[(String, Long)], seedSize: Int, maxPieceLen: Int,
      emRounds: Int, pruneCount: Int, maxChars: Int): Seq[Piece] = {
    val subCounts = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- hist) {
      val cps = w.codePoints().toArray
      var i = 0
      while (i < cps.length) {
        var l = 1
        while (l <= math.min(maxPieceLen, cps.length - i)) {
          val t = new String(cps, i, l)
          subCounts.update(t, subCounts.getOrElse(t, 0L) + f)
          l += 1
        }
        i += 1
      }
    }
    val alpha = subCounts.toSeq.filter(p => cpLen(p._1) == 1)
      .sortWith((a, b) => Bpe.utf8Lt(a._1, b._1)).toVector
    val multi = subCounts.toSeq.filter(p => cpLen(p._1) >= 2)
      .sortWith { (a, b) =>
        val sa = a._2 * cpLen(a._1); val sb = b._2 * cpLen(b._1)
        sa > sb || (sa == sb && Bpe.utf8Lt(a._1, b._1))
      }
      .take(seedSize)
      .sortWith((a, b) => Bpe.utf8Lt(a._1, b._1)).toVector
    runRounds(alpha, multi, emRounds, pruneCount, maxChars, maxPieceLen,
      costs => segmentCountsLocal(hist, costs, maxChars, maxPieceLen))
  }

  private def segmentCountsLocal(
      hist: Array[(String, Long)], costs: Seq[(String, Long)],
      maxChars: Int, maxPieceLen: Int): Map[String, Long] = {
    val table = new graft.functions.UnigramViterbiOps.Table(
      costs.toMap, maxChars, maxPieceLen)
    val out = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- hist) {
      val seg = graft.functions.UnigramViterbiOps
        .segmentWord(org.apache.spark.unsafe.types.UTF8String.fromString(w),
          table)
      var i = 0
      while (i < seg.numElements()) {
        val t = seg.getUTF8String(i).toString
        if (t != graft.functions.UnigramViterbiOps.Unk)
          out.update(t, out.getOrElse(t, 0L) + f)
        i += 1
      }
    }
    out.toMap
  }

  // ---------------------------------------------- shared round driver
  /** The EM + prune + final-pass schedule over an abstract
    * segment-and-count pass — IDENTICAL for the driver-local and
    * distributed paths by construction (only the pass differs).
    */
  private def runRounds(
      alpha: Vector[(String, Long)],
      multi: Vector[(String, Long)],
      emRounds: Int, pruneCount: Int, maxChars: Int, maxPieceLen: Int,
      pass: Seq[(String, Long)] => Map[String, Long]): Seq[Piece] = {
    if (alpha.isEmpty) return Seq.empty
    var pieces: Vector[(String, Long)] = alpha ++ multi
    var r = 0
    while (r < emRounds) {
      val counts = pass(laplaceCosts(pieces))
      pieces = pieces.map { case (t, _) => (t, counts.getOrElse(t, 0L)) }
      r += 1
    }
    // Prune by likelihood-contribution loss (HUGEINT-exact).
    val lossCosts = laplaceCosts(pieces).toMap
    val dropped = pieces.filter(p => cpLen(p._1) >= 2)
      .map { case (t, c) => (t, BigInt(c) * BigInt(lossCosts(t))) }
      .sortWith { (a, b) =>
        a._2 < b._2 || (a._2 == b._2 && Bpe.utf8Lt(a._1, b._1))
      }
      .take(pruneCount).map(_._1).toSet
    pieces = pieces.filterNot(p => dropped.contains(p._1))
    // Post-prune pass re-distributes the dropped pieces' occurrences;
    // the FINAL costs (the shipped model) come from these counts.
    val counts = pass(laplaceCosts(pieces))
    pieces = pieces.map { case (t, _) => (t, counts.getOrElse(t, 0L)) }
    val finalCosts = laplaceCosts(pieces).toMap
    pieces.map { case (t, c) => Piece(t, c, finalCosts(t)) }
  }

  // ------------------------------------------------------- inference
  /** The trained VOCABULARY as (token, token_id): [UNK] id 0, pieces
    * in binary string order 1..V (unlike the merge-ranked BPE ids —
    * unigram has no merge order; SentencePiece also ships a sorted
    * piece table).
    */
  def vocabTable(spark: SparkSession, pieces: Seq[Piece]): DataFrame = {
    import spark.implicits._
    ((graft.functions.UnigramViterbiOps.Unk, 0L) +:
      pieces.map(_.token).sortWith(Bpe.utf8Lt).zipWithIndex
        .map { case (t, i) => (t, i + 1L) })
      .toDF("token", "token_id")
  }

  /** Viterbi tokenize to INTEGER IDS — (idCol, token_ids
    * array<bigint>), [[WordPiece.tokenizeToIds]]'s map-only shape with
    * the Viterbi kernel per word ([UNK] = 0 by construction; a piece
    * `vocab` lacks reads -1).
    */
  def tokenizeToIds(
      df: DataFrame, textCol: String, idCol: String,
      pieces: Seq[Piece], vocab: DataFrame,
      maxChars: Int = 16, maxPieceLen: Int = 4): DataFrame = {
    val costs = pieces.map(p => (p.token, p.costMicro))
    WordPiece.idsByWord(df, textCol, idCol, WordPiece.vocabEntries(vocab),
      viterbiPieces(_, costs, maxChars, maxPieceLen))
  }

  /** Viterbi pieces of ONE word column (array<string>; ['[UNK]'] on
    * no-segmentation or over-length words) — the native expression.
    */
  def viterbiPieces(word: Column, costs: Seq[(String, Long)],
      maxChars: Int = 16, maxPieceLen: Int = 4): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.UnigramViterbiExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          coalesce(word, lit(""))),
        costs, maxChars, maxPieceLen))
}
