package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based document quality filtering with per-rule drop attribution
  * — the "filter funnel" a training-data pipeline publishes alongside
  * its corpus (the practice popularized by the Gopher/MassiveText rules
  * and carried into C4/Dolma-style pipelines: ordered heuristic rules,
  * every dropped document attributed to the FIRST rule it failed, so
  * the per-rule counts sum to the drop total and a rule change has a
  * visible, attributable effect).
  *
  * Rules are plain boolean `Column`s, so the whole verdict is one
  * map-only codegen'd projection over the corpus scan — no shuffle, no
  * UDFs; the only exchange in a funnel report is the tiny per-verdict
  * count aggregation. The built-in rules use integer-exact arithmetic
  * (cross-multiplied thresholds instead of ratios) so an oracle can pin
  * every verdict without float drift.
  */
object QualityFilter {

  /** One named rule: `fails` is TRUE when the document should drop. */
  final case class Rule(name: String, fails: Column)

  /** First-failing-rule verdict: the name of the first rule (in order)
    * whose predicate fires, else "pass".
    */
  def verdict(rules: Seq[Rule]): Column =
    rules.foldRight(lit("pass")) { (r, rest) =>
      when(r.fails, lit(r.name)).otherwise(rest)
    }

  /** Gopher-style length/lexical rules over the standard whitespace
    * tokenization ([[Lexical.tokens]]), integer-exact:
    *  - too_short: fewer than `minWords` tokens;
    *  - word_length: mean token length outside [minMeanLen10, maxMeanLen10]
    *    tenths (10 * sum_len vs threshold * n cross-multiplication);
    *  - low_stopword: fewer than `minStopwords` stopword occurrences
    *    (the has-natural-function-words signal).
    */
  def gopherRules(
      textCol: Column,
      minWords: Int = 15,
      minMeanLen10: Int = 30,
      maxMeanLen10: Int = 80,
      minStopwords: Int = 2,
      stopwords: Seq[String] =
        Seq("the", "a", "of", "to", "and", "in", "is", "it")): Seq[Rule] = {
    val toks = Lexical.tokens(textCol)
    val nWords = size(toks)
    // Total token chars via join-empty: exact, and cheaper than an
    // aggregate-HOF fold (single pass, codegen'd concat).
    val sumLen = length(concat_ws("", toks))
    val stops = size(filter(toks, t => t.isInCollection(stopwords)))
    Seq(
      Rule("too_short", nWords < minWords),
      Rule("word_length",
        sumLen * 10 < lit(minMeanLen10) * nWords ||
          sumLen * 10 > lit(maxMeanLen10) * nWords),
      Rule("low_stopword", stops < minStopwords))
  }

  /** Gopher REPETITION signals (Rae et al. 2021, Table A1 — the
    * within-document repetition family the length rules don't see):
    * a struct of
    *  - n_lines / dup_lines: non-empty trimmed newline-split lines and
    *    how many are repeats of an earlier line (n - n_distinct);
    *  - n_2grams / top_2gram_n: word-bigram count and the occurrence
    *    count of the MOST FREQUENT bigram — computed per row as the
    *    longest equal-run of the SORTED bigram array (one linear
    *    codegen'd aggregate-HOF pass; the naive per-gram recount is
    *    quadratic in document length).
    * All integers, map-only, zero shuffle — the oracle recomputes each
    * via unnest + GROUP BY and the verdicts cross-multiply exactly.
    */
  /** Word n-grams of a token array as space-joined strings — the
    * REFERENCE spelling of the gram identity (what the DuckDB oracle
    * unnests). The hot path is [[nGramHashes]]: counts computed over
    * 8-byte gram hashes instead of variable-length concatenated
    * strings (OpsSpec pins the two spellings' counts equal).
    * sequence(1, 0) runs BACKWARD (the q20 lesson) — the sub-n-token
    * case guards to an empty array explicitly.
    */
  private def nGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Per-token xxhash64 array — the shared projection every repetition
    * stat consumes: tokenize + hash ONCE per row, then each n builds
    * its grams from the 8-byte token hashes ([[Dedup]]'s shingle
    * convention — a gram's identity is the hash of its n token hashes,
    * so gram construction never concatenates strings and the
    * mode-count sort compares longs). Collisions can only merge two
    * distinct grams' counts (2^-64 per pair — the established xxhash64
    * grouping trade; same trade as [[Boilerplate]]'s line hashes).
    */
  def tokenHashes(textCol: Column): Column =
    transform(Lexical.tokens(textCol), t => xxhash64(t))

  /** Gram-hash array for one n over a [[tokenHashes]] array. */
  private def nGramHashes(tokHashes: Column, n: Int): Column =
    when(size(tokHashes) >= n,
      transform(sequence(lit(1), size(tokHashes) - (n - 1)),
        i => xxhash64((0 until n).map(k => element_at(tokHashes, i + k)): _*)))
      .otherwise(array().cast("array<bigint>"))

  /** Occurrence count of the MOST FREQUENT element — the longest
    * equal-run of the sorted array, one linear codegen'd aggregate-HOF
    * pass (the naive per-element recount is quadratic). Works for any
    * non-null element type (`elemType` types the null seed, which
    * can't collide with real elements — the null-safe comparison
    * starts every run at 1).
    */
  private def modeCount(arr: Column, elemType: String): Column =
    aggregate(
      array_sort(arr),
      struct(lit(null).cast(elemType).as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, g) => {
        val run = when(g <=> acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  def repetitionStats(textCol: Column): Column = {
    val lines = filter(
      transform(split(coalesce(textCol, lit("")), "\n"), l => trim(l)),
      l => l =!= lit(""))
    // Dup counting over line hashes: array_distinct compares 8-byte
    // longs instead of line strings (same 2^-64 merge trade as the
    // gram hashes; the count is what's published, never the lines).
    val lineHashes = transform(lines, l => xxhash64(l))
    val v = TextAnalysis.multiNgramStats(textCol, Seq(2))
    struct(
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(array_distinct(lineHashes))).cast("long")
        .as("dup_lines"),
      element_at(v, 3).as("n_2grams"),
      element_at(v, 4).as("top_2gram_n"))
  }

  /** Top-n-gram occurrence stats for one n, struct(n_ngrams,
    * top_ngram_n): the HOF reference spelling over [[tokenHashes]].
    * Gram identity is the xxhash64 of the n token hashes, the mode the
    * longest equal-run of the sorted gram-hash array. Counts equal the
    * native [[TextAnalysis.multiNgramStats]] (elements 3 and 4) and
    * the string form up to the 2^-64 collision trade — kept for the
    * TrainSpec three-spelling pin.
    */
  def topNgramStatsHashed(tokHashes: Column, n: Int): Column = {
    require(n >= 2, s"n must be >= 2, got $n")
    struct(
      greatest(size(tokHashes) - (n - 1), lit(0)).cast("long")
        .as("n_ngrams"),
      modeCount(nGramHashes(tokHashes, n), "bigint").as("top_ngram_n"))
  }

  /** String-gram HOF reference spelling (the oracle's unnest semantics
    * verbatim) — the slowest, most literal form; see
    * [[topNgramStatsHashed]].
    */
  def topNgramStatsStrings(textCol: Column, n: Int): Column = {
    require(n >= 2, s"n must be >= 2, got $n")
    val toks = Lexical.tokens(textCol)
    struct(
      greatest(size(toks) - (n - 1), lit(0)).cast("long").as("n_ngrams"),
      modeCount(nGrams(toks, n), "string").as("top_ngram_n"))
  }

  /** The Gopher repetition RULES over [[repetitionStats]], integer-exact
    * (percent thresholds cross-multiplied — Gopher's published cuts:
    * duplicate-line fraction > 0.30, top-2-gram fraction > 0.20):
    *  - dup_lines: dup_lines × 100 > maxDupLinePct × n_lines;
    *  - top_2gram: top_2gram_n × 100 > maxTop2gramPct × n_2grams.
    * Empty documents (0 lines / 0 bigrams) fail neither (0 > 0 false).
    */
  def repetitionRules(
      textCol: Column,
      maxDupLinePct: Int = 30,
      maxTop2gramPct: Int = 20): Seq[Rule] = {
    val st = repetitionStats(textCol)
    Seq(
      Rule("dup_lines",
        st.getField("dup_lines") * 100 >
          lit(maxDupLinePct.toLong) * st.getField("n_lines")),
      Rule("top_2gram",
        st.getField("top_2gram_n") * 100 >
          lit(maxTop2gramPct.toLong) * st.getField("n_2grams")))
  }

  /** Duplicate-SEGMENT stats for one separator — the line ("\n") and
    * paragraph ("\n\n") halves of Gopher Table A1: a struct of
    *   n_segs      non-empty trimmed segments,
    *   dup_segs    occurrences beyond the first of each distinct
    *               segment (n - n_distinct — the count-fraction
    *               numerator),
    *   total_chars character mass of ALL segment occurrences (trimmed
    *               segment lengths; separators excluded — the
    *               char-fraction denominator),
    *   dup_chars   character mass of the occurrences beyond the first
    *               (the char-fraction numerator; Rae et al. count
    *               characters "contained within duplicated" segments —
    *               this is the occurrences-beyond-first reading the
    *               open reimplementations converged on, documented so
    *               the oracle replays the same convention).
    * One linear fold over the (hash, len) pairs sorted by hash —
    * map-only, zero shuffle; identity by xxhash64 (the established
    * 2^-64 grouping trade). `sep` is a LITERAL separator, split on
    * `\Q..\E` so regex metacharacters can't reinterpret it; "\n\n\n"
    * between paragraphs therefore yields an empty middle segment,
    * which the non-empty filter drops — blank-line runs don't mint
    * phantom paragraphs.
    */
  def segmentDupStats(textCol: Column, sep: String): Column = {
    val segs = filter(
      transform(split(coalesce(textCol, lit("")),
        java.util.regex.Pattern.quote(sep)), s0 => trim(s0)),
      s0 => s0 =!= lit(""))
    val hl = array_sort(transform(segs, s0 =>
      struct(xxhash64(s0).as("h"), length(s0).cast("long").as("len"))))
    val folded = aggregate(
      hl,
      struct(lit(null).cast("bigint").as("prev"), lit(0L).as("du"),
        lit(0L).as("dc"), lit(0L).as("tc")),
      (acc, s0) => {
        val rep = s0.getField("h") <=> acc.getField("prev")
        struct(
          s0.getField("h").as("prev"),
          (acc.getField("du") + when(rep, 1L).otherwise(0L)).as("du"),
          (acc.getField("dc") + when(rep, s0.getField("len"))
            .otherwise(0L)).as("dc"),
          (acc.getField("tc") + s0.getField("len")).as("tc"))
      })
    struct(
      size(segs).cast("long").as("n_segs"),
      folded.getField("du").as("dup_segs"),
      folded.getField("tc").as("total_chars"),
      folded.getField("dc").as("dup_chars"))
  }

  /** The COMPLETE Gopher repetition rule family (Rae et al. 2021,
    * Table A1, all 13 rows, published cuts, Table order — first
    * failing rule wins the verdict):
    *   duplicate line / paragraph fraction        > 0.30 / 0.30
    *   duplicate line / paragraph char fraction   > 0.20 / 0.20
    *   top {2,3,4}-gram CHARACTER fraction        > 0.20 / 0.18 / 0.16
    *   duplicate {5..10}-gram char fraction       > 0.15 .. 0.10
    * All integer cross-multiplied; char fractions use token character
    * mass on both sides (segment fractions use trimmed segment chars)
    * — see [[segmentDupStats]] and
    * [[graft.functions.MultiNgramStatsExpr]] for the conventions. The
    * nine n-gram rules share ONE native multi-n vector; paragraphs
    * split on the literal "\n\n" (the G1 chunker separator).
    */
  def gopherRepetitionRulesFull(textCol: Column): Seq[Rule] = {
    val ln = segmentDupStats(textCol, "\n")
    val pg = segmentDupStats(textCol, "\n\n")
    def segRules(st: Column, what: String, countPct: Int, charPct: Int) = Seq(
      Rule(s"dup_${what}_frac",
        st.getField("dup_segs") * 100 >
          lit(countPct.toLong) * st.getField("n_segs")),
      Rule(s"dup_${what}_char_frac",
        st.getField("dup_chars") * 100 >
          lit(charPct.toLong) * st.getField("total_chars")))
    val ns = (2 to 10).toSeq
    val v = TextAnalysis.multiNgramStats(textCol, ns)
    val sumChars = element_at(v, 2)
    def topCharRule(n: Int, pct: Int) = {
      val k = ns.indexOf(n)
      Rule(s"top_${n}gram_char_frac",
        element_at(v, 5 + k * 5) * 100 > lit(pct.toLong) * sumChars)
    }
    def dupCharRule(n: Int, pct: Int) = {
      val k = ns.indexOf(n)
      Rule(s"dup_${n}gram_char_frac",
        element_at(v, 7 + k * 5) * 100 > lit(pct.toLong) * sumChars)
    }
    val lnR = segRules(ln, "line", 30, 20)
    val pgR = segRules(pg, "paragraph", 30, 20)
    Seq(lnR(0), pgR(0), lnR(1), pgR(1)) ++
      Seq((2, 20), (3, 18), (4, 16)).map((topCharRule _).tupled) ++
      Seq((5, 15), (6, 14), (7, 13), (8, 12), (9, 11), (10, 10))
        .map((dupCharRule _).tupled)
  }

  /** Per-document funnel verdict: (id, n_words, verdict, passed). The
    * relation a pipeline writes for provenance; filter `passed` to
    * apply, group by `verdict` for the published funnel report.
    */
  def funnel(
      df: DataFrame,
      textCol: String,
      idCol: String,
      rules: Seq[Rule]): DataFrame =
    df.select(col(idCol),
      size(Lexical.tokens(col(textCol))).as("n_words"),
      verdict(rules).as("verdict"))
      .withColumn("passed", col("verdict") === "pass")
}
