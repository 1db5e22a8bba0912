package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, n-gram-free language ID (stopword voting), and
  * rolling-hash fingerprinting. All pure builtin expressions so they run
  * inside whole-stage codegen over the scan — no UDFs.
  */
object TextAnalysis {

  /** [token count, non-ws chars] one-pass native stats (CSE-eligible). */
  private def tokenStats(textCol: Column): Column =
    Bridge.column(graft.functions.TokenStatsExpr(Bridge.expression(textCol)))

  /** Whitespace token count ('' -> 0). */
  def tokenCount(textCol: Column): Column = tokenStats(textCol).getItem(0)

  /** BPE-ish subword count: word-piece granularity (letter/digit runs +
    * single punctuation). Native one-pass expression
    * ([[graft.functions.SubwordCountExpr]]) — the regex-split + filter
    * HOF form ran an interpreted lambda per piece and dominated q43 at
    * multi-million-row scale.
    */
  def subwordCount(textCol: Column): Column =
    Bridge.column(graft.functions.SubwordCountExpr(Bridge.expression(textCol)))

  /** [letters, uppers, punct] one-pass counts (native, CSE-eligible). */
  private def classCounts(textCol: Column): Column =
    Bridge.column(graft.functions.CharClassCountsExpr(Bridge.expression(textCol)))

  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(textCol: Column): Column = {
    val totalLen = length(textCol)
    val punct = classCounts(textCol).getItem(2)
    when(totalLen === 0, lit(0.0)).otherwise(punct.cast("double") / totalLen)
  }

  /** Ratio of uppercase letters to all letters (0 when no letters). */
  def uppercaseRatio(textCol: Column): Column = {
    val cc = classCounts(textCol)
    val letters = cc.getItem(0)
    val uppers = cc.getItem(1)
    when(letters === 0, lit(0.0)).otherwise(uppers.cast("double") / letters)
  }

  /** Mean whitespace-token length (0 for empty text). */
  def meanWordLength(textCol: Column): Column = {
    val ts = tokenStats(textCol)
    val toks = ts.getItem(0)
    val chars = ts.getItem(1)
    when(toks === 0, lit(0.0)).otherwise(chars.cast("double") / toks)
  }

  /** [en, de, es, fr] stopword-vote counts — native single pass
    * ([[graft.functions.StopwordVotesExpr]]); the previous four
    * tokenize+filter HOFs re-ran per reference (CodegenFallback gets no
    * CSE), costing ~20 interpreted passes per row in the language-ID
    * fold.
    */
  private def stopwordVotes(textCol: Column): Column =
    Bridge.column(graft.functions.StopwordVotesExpr(Bridge.expression(textCol)))

  /** Fraction of tokens that are English stopwords — a quality /
    * English-ness signal.
    */
  def stopwordRatio(textCol: Column): Column = {
    val toks = tokenCount(textCol)
    when(toks === 0, lit(0.0))
      .otherwise(stopwordVotes(textCol).getItem(0).cast("double") / toks)
  }

  /** Heuristic language ID by stopword voting across en/de/es/fr;
    * "und" (undetermined) when no list scores > 0. Deterministic
    * tie-break by list order (en, de, es, fr).
    */
  def langIdHeuristic(textCol: Column): Column = {
    val v = stopwordVotes(textCol)
    val scores = Seq("en" -> v.getItem(0), "de" -> v.getItem(1),
      "es" -> v.getItem(2), "fr" -> v.getItem(3))
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]: rewards moderate length, low
    * punctuation, low uppercase, plausible word lengths. Deterministic
    * double arithmetic (same per-row fold everywhere).
    */
  def qualityScore(textCol: Column): Column = {
    val lenScore = least(length(textCol).cast("double") / 500.0, lit(1.0))
    val punctPenalty = least(punctRatio(textCol) * 5.0, lit(1.0))
    val upperPenalty = least(uppercaseRatio(textCol) * 3.0, lit(1.0))
    val mwl = meanWordLength(textCol)
    val wordScore = when(mwl >= 3.0 && mwl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    round(greatest(lit(0.0),
      lenScore * 0.4 + wordScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2 +
        (lit(1.0) - upperPenalty) * 0.1), 4)
  }

  /** Polynomial rolling-hash document fingerprint (base-31 over UTF-8
    * bytes via builtin HOF fold) — stable across partitions/executors.
    */
  def rollingHashFingerprint(textCol: Column): Column =
    aggregate(
      transform(split(textCol, ""), ch => ascii(ch).cast("long")),
      lit(7L), (acc, c) => acc * 31L + c)

  /** Word n-gram array (lowercased whitespace tokens, space-joined
    * windows) — native expression, for corpus-level n-gram statistics.
    */
  def ngrams(textCol: Column, n: Int): Column =
    Bridge.column(graft.functions.NgramsExpr(Bridge.expression(textCol), n))

  /** `[total, top, dup]` n-gram occurrence counts in ONE local pass
    * (no n-gram-grain shuffle for a per-document statistic). Public so
    * callers deriving several statistics can bind the vector once in
    * its own projection instead of re-evaluating it per statistic.
    */
  def ngramRepetition(textCol: Column, n: Int): Column =
    Bridge.column(graft.functions.NgramRepetitionExpr(Bridge.expression(textCol), n))

  /** The multi-n repetition-stats vector — ONE tokenize pass for every
    * requested n (layout documented at
    * [[graft.functions.MultiNgramStatsExpr]]): [n_tokens,
    * sum_token_chars, then per n: total, top, top_chars, dup,
    * dup_chars]. The
    * form the full Gopher Table A1 rule family evaluates; null text
    * yields the all-zero vector (empty-document semantics).
    */
  def multiNgramStats(textCol: Column, ns: Seq[Int]): Column =
    Bridge.column(graft.functions.MultiNgramStatsExpr(
      Bridge.expression(coalesce(textCol, lit(""))), ns))

  /** Shannon entropy of the document's unigram (token) distribution in
    * micro-nats — the lexical-diversity quality signal (low entropy =
    * repetitive/boilerplate text; the Gopher fractions catch LOCAL
    * repetition, entropy catches global skew).
    *
    * Exact integer form: with k_c the count of token c and n the token
    * total, H = ln(n) − (1/n)·Σ_c k_c·ln(k_c); each ln snaps to the
    * 1e-6 micro grid (`rint`, the q82 convention) and the division is
    * floor — every digit reproduces on any engine. Empty text → 0.
    *
    * Shape: pure builtin HOFs over the row — MAP-ONLY, no token-grain
    * shuffle for a per-document statistic. The distinct×tokens count
    * loop is O(d·n) per document; if entropy ever sits in a scan hot
    * loop, the upgrade is a one-pass native expression over a local
    * hash map (the [[ngramRepetition]] precedent).
    */
  def tokenEntropyMicro(textCol: Column): Column =
    Bridge.column(graft.functions.TokenEntropyExpr(Bridge.expression(textCol)))

  /** The original HOF spelling of [[tokenEntropyMicro]] — O(distinct·n)
    * interpreted lambdas per document (9.4 s warm at sf10m vs the
    * native pass). Kept as the independent cross-check the
    * FunctionsSpec equivalence pin runs against.
    */
  def tokenEntropyMicroHof(textCol: Column): Column = {
    val toks = filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")
    val n = size(toks)
    def microLn(c: Column): Column =
      rint(log(c.cast("double")) * lit(1000000.0)).cast("long")
    val sumKLnK = aggregate(
      transform(array_distinct(toks), t => size(filter(toks, x => x === t))),
      lit(0L), (acc, k) => acc + k.cast("long") * microLn(k))
    when(n === 0, lit(0L)).otherwise(
      microLn(n) - Bridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          Bridge.expression(sumKLnK), Bridge.expression(n.cast("long")))))
  }
}
