package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Distributed WORDPIECE tokenizer training (§2.11 extensions,
  * tokenization family) — the BERT-family convention (Schuster &
  * Nakajima 2012, "Japanese and Korean voice search"; Wu et al. 2016,
  * "Google's Neural Machine Translation System" §4.1; Devlin et al.
  * 2019): like BPE it iteratively merges the best adjacent symbol
  * pair over a distinct-word histogram, but the selection criterion is
  * the LIKELIHOOD RATIO score count(ab) / (count(a) * count(b)) — the
  * pair whose merge most increases a unigram LM's corpus likelihood —
  * and continuation symbols carry the "##" prefix, so the vocabulary
  * distinguishes word-initial from word-internal pieces. Inference is
  * NOT the merge composition: WordPiece tokenizes by greedy longest
  * match against the vocabulary string set
  * ([[graft.functions.WordPieceTokenizeExpr]]), which can disagree
  * with the training decomposition on the very same vocab — the
  * structural difference from both BPE conventions, and why the
  * tokenize oracle replays longest-match itself.
  *
  * Scale shape — identical to [[Bpe]]: ONE corpus scan builds the
  * distinct-word histogram; each merge round is two map-side-combined
  * aggregations over that histogram (adjacent-pair counts AND symbol
  * counts — the score's denominator is the CURRENT symbol frequency,
  * recomputed per round as merges shift mass), a vocabulary-sized
  * join, and a ONE-row argmax collect; merge application is map-only;
  * `localCheckpoint` per round truncates lineage.
  *
  * Determinism contract (engine-portable, DuckDB-replayable):
  *  - the score is snapped to an EXACT integer grid:
  *    score = floor(count(ab) * 10^12 / (count(a) * count(b))),
  *    computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the
  *    products never overflow at any corpus size and both engines
  *    floor the same rational — a raw double ratio could compare
  *    wrong on near-ties (|p1 q2 - p2 q1| = 1 with q ~ 1e16 is below
  *    double resolution); the grid IS the convention, not an
  *    approximation of one. Counts are the freq-weighted overlapping
  *    occurrence counts, the [[Bpe]] convention.
  *  - argmax tie-break: highest score, then highest pair count, then
  *    lexicographically smallest (a, b) under binary string order.
  *  - merged symbol: a || strip_##(b) — the pair's second element is
  *    always a continuation symbol (position >= 2 of a word), and the
  *    merged symbol inherits a's word-initial/continuation form.
  *  - merge application: the [[Bpe]] two-pass padded replace fixpoint.
  *
  * Reference scope: the reference ships no tokenizer; WordPiece joins
  * the char-level and byte-level BPE conventions as the third trained
  * tokenizer family with the same oracle discipline (train replay
  * full-value, tokenize-to-ids full-value with planted UNK rows).
  */
object WordPiece {

  /** One learned merge: rank, the symbol pair, the pair's corpus count
    * and its grid score at merge time.
    */
  final case class Merge(rank: Int, a: String, b: String, count: Long,
      score: Long)

  /** The score grid: floor(c_ab * ScoreGrid / (c_a * c_b)). 10^12
    * keeps distinct small-count rationals apart (denominators below
    * 10^6 are exactly represented) while the product c_ab * ScoreGrid
    * stays far inside DECIMAL(38,0)/HUGEINT at any corpus size.
    */
  val ScoreGrid: Long = 1000000000000L

  /** A word as its initial WordPiece symbol sequence: first code point
    * raw, every later one "##"-prefixed ("hello" ->
    * "h ##e ##l ##l ##o"). Words are whitespace-split upstream so the
    * space-joined encoding is unambiguous. DuckDB mirror:
    * `replace(trim(regexp_replace(w, '(?s)(.)', '\1 ', 'g')), ' ', ' ##')`.
    */
  def wpSeq(w: Column): Column =
    replace(Bpe.charSeq(w), lit(" "), lit(" ##"))

  /** The merged symbol string for a pair — b is a continuation symbol
    * by construction (see object doc); the CASE guard is kept so the
    * Scala and SQL spellings are the same total function.
    */
  private def mergedSym(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** Train `numMerges` WordPiece merges over the corpus's suite-
    * convention word histogram. Two paths, pinned equal (TrainSpec):
    * driver-local when the histogram fits `driverCap` (checked with a
    * bounded limit(cap+1) collect), distributed otherwise.
    */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      driverCap: Int = 100000): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val hist = Bpe.wordCounts(df, textCol)
    if (driverCap > 0) {
      val sample = hist.limit(driverCap + 1).collect()
      if (sample.length <= driverCap)
        return trainLocal(
          sample.map(r => (r.getString(0), r.getLong(1))), numMerges)
    }
    trainLoop(
      hist.select(wpSeq(col("word")).as("w"), col("freq"))
        .localCheckpoint(),
      numMerges)
  }

  /** The distributed merge loop — per round: symbol counts + pair
    * counts (both map-side combinable over the histogram), the grid
    * score via a vocabulary-sized join, one-row argmax collect,
    * map-only merge application.
    */
  private def trainLoop(words0: DataFrame, numMerges: Int): Seq[Merge] = {
    var words = words0
    val out = ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val sym = words
        .select(split(col("w"), " ").as("sym"), col("freq"))
      val symCounts = sym
        .select(explode(col("sym")).as("s"), col("freq"))
        .groupBy(col("s"))
        .agg(sum(col("freq")).as("cs"))
      val best = sym
        .where(size(col("sym")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(col("sym")) - 2), i =>
            struct(element_at(col("sym"), i + 1).as("a"),
              element_at(col("sym"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
        .join(symCounts.select(col("s").as("a"), col("cs").as("ca")), Seq("a"))
        .join(symCounts.select(col("s").as("b"), col("cs").as("cb")), Seq("b"))
        // DIV = IntegralDivide (exact floor on non-negative decimals,
        // returns BIGINT) — DuckDB mirrors it with HUGEINT `//`.
        .withColumn("score", expr(
          s"CAST((CAST(c AS DECIMAL(38,0)) * $ScoreGrid) DIV " +
            "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) " +
            "AS BIGINT)"))
        .select(col("a"), col("b"), col("c"), col("score"))
        .orderBy(col("score").desc, col("c").desc, col("a").asc,
          col("b").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c, sc) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2), best(0).getLong(3))
        out += Merge(r, a, b, c, sc)
        val pat = lit(s" $a $b ")
        val rep = lit(s" ${mergedSym(a, b)} ")
        words = words
          .select(trim(replace(replace(
            concat(lit(" "), col("w"), lit(" ")), pat, rep), pat, rep))
            .as("w"), col("freq"))
          .localCheckpoint()
        r += 1
      }
    }
    out.toSeq
  }

  /** Driver-local loop — semantics identical to the distributed one:
    * same counts, same BigInt-exact grid score, same (score DESC,
    * count DESC, a, b) argmax under UTF-8 byte order, same two-pass
    * padded replace.
    */
  private def trainLocal(
      hist: Array[(String, Long)], numMerges: Int): Seq[Merge] = {
    def symbols(w: String): String = {
      val sb = new java.lang.StringBuilder(w.length * 3)
      val cps = w.codePoints().toArray
      var i = 0
      while (i < cps.length) {
        if (i > 0) sb.append(" ##")
        sb.appendCodePoint(cps(i))
        i += 1
      }
      sb.toString
    }
    var words = hist.map { case (w, f) => (symbols(w), f) }
    val out = ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val pairCounts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- words if w.nonEmpty) {
        val sym = w.split(" ")
        var i = 0
        while (i < sym.length) {
          symCounts.update(sym(i), symCounts.getOrElse(sym(i), 0L) + f)
          if (i < sym.length - 1) {
            val k = (sym(i), sym(i + 1))
            pairCounts.update(k, pairCounts.getOrElse(k, 0L) + f)
          }
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        var bestKey: (String, String) = null
        var bestC = 0L
        var bestScore = -1L
        for (((a, b), c) <- pairCounts) {
          val score = (BigInt(c) * ScoreGrid /
            (BigInt(symCounts(a)) * BigInt(symCounts(b)))).toLong
          val better = score > bestScore ||
            (score == bestScore && (c > bestC ||
              (c == bestC && (Bpe.utf8Lt(a, bestKey._1) ||
                (a == bestKey._1 && Bpe.utf8Lt(b, bestKey._2))))))
          if (bestKey == null || better) {
            bestKey = (a, b); bestC = c; bestScore = score
          }
        }
        val (a, b) = bestKey
        out += Merge(r, a, b, bestC, bestScore)
        val pat = s" $a $b "
        val rep = s" ${mergedSym(a, b)} "
        words = words.map { case (w, f) =>
          (s" $w ".replace(pat, rep).replace(pat, rep).trim, f)
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** The trained VOCABULARY as (token, token_id): [UNK] takes id 0,
    * the corpus's base symbols (raw first code points and their
    * "##"-prefixed continuation forms, as observed in the initial
    * split) take ids 1..B in binary string order, merge r's symbol
    * takes B + r. Duplicate strings collapse to the SMALLEST id across
    * the whole union (unlike BPE, a merged string can collide with a
    * base symbol too — "#"+"##"→"###" composes exist in '#'-bearing
    * corpora — and the vocabulary is a string set, so the collapse is
    * total). The union is deduped on the driver (its base alphabet is
    * bounded by the corpus's distinct code points) and returned as a
    * local relation, so reading it runs no Spark job.
    */
  def vocabTable(
      df: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val baseToks = Bpe.wordCounts(df, textCol)
      .select(explode(split(wpSeq(col("word")), " ")).as("token"))
      .where(col("token") =!= lit(""))
      .distinct()
      .collect().map(_.getString(0)).sortWith(Bpe.utf8Lt)
    val nBase = baseToks.length.toLong
    val rows =
      (graft.functions.WordPieceTokenizeOps.Unk, 0L) +:
      (baseToks.zipWithIndex.map { case (t, i) => (t, i + 1L) } ++
        merges.sortBy(_.rank)
          .map(m => (mergedSym(m.a, m.b), nBase + m.rank))).toSeq
    rows.groupMapReduce(_._1)(_._2)(math.min).toSeq.sortBy(_._2)
      .toDF("token", "token_id")
  }

  /** Greedy longest-match tokenize to INTEGER IDS — (idCol, token_ids
    * array<bigint>), one row per input row (its own tokens, whatever its
    * id; empty for null or blank text) in one projection with no
    * exchange: see [[idsByWord]]. Every emitted token is in `vocab` by
    * construction, [UNK] at id 0, so the -1 for an unknown string is
    * inert. The matcher probes `vocab`'s token strings; `maxChars` is
    * the [UNK]-wholesale cap in code points
    * ([[graft.functions.WordPieceTokenizeExpr]]).
    *
    * CASING CONTRACT: input is lowercased before the whitespace split
    * (the BERT-uncased convention) — this matches [[Bpe.wordCounts]],
    * the histogram `train`/`vocabTable` are built from, which applies
    * the SAME `lower(trim(...))`. The two sites must stay in sync: a
    * cased corpus tokenized against a vocab trained lowercase would
    * silently produce [UNK]-heavy output.
    */
  def tokenizeToIds(
      df: DataFrame, textCol: String, idCol: String,
      vocab: DataFrame, maxChars: Int = 16): DataFrame = {
    val entries = vocabEntries(vocab)
    idsByWord(df, textCol, idCol, entries,
      tokenizeWord(_, entries.map(_._1).distinct, maxChars))
  }

  /** The suite words of a text column, [[Bpe.wordCounts]]'s spelling. */
  private[ops] def words(text: Column): Column =
    filter(split(lower(trim(coalesce(text, lit("")))), "\\s+"),
      t => t =!= lit(""))

  /** `vocab`'s (token, token_id) rows, sorted so the kernels' per-JVM
    * table keys are run-stable (job-free for a local relation).
    */
  private[ops] def vocabEntries(vocab: DataFrame): Seq[(String, Long)] =
    vocab.select(col("token"), col("token_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  /** The ids projection of both vocabulary conventions: each row's
    * [[words]] through the per-word kernel `perWord` in order (the
    * kernels memoize words per JVM and cap each word's cost), flattened,
    * and resolved against `vocab`. The element type stays nullable, as
    * the ids schema always was.
    */
  private[ops] def idsByWord(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[(String, Long)], perWord: Column => Column): DataFrame =
    df.select(col(idCol), Bridge.column(graft.functions.TokenIdsExpr(
        Bridge.expression(flatten(transform(words(col(textCol)), perWord))),
        vocab)).cast(ArrayType(LongType)).as("token_ids"))

  /** Longest-match tokens of ONE word column (array<string>; [UNK] on
    * no-match or over-length words) — the native expression.
    */
  def tokenizeWord(word: Column, vocabStrings: Seq[String],
      maxChars: Int = 16): Column =
    Bridge.column(graft.functions.WordPieceTokenizeExpr(
      Bridge.expression(coalesce(word, lit(""))), vocabStrings, maxChars))
}
