package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL/domain blocklist filtering — the curation stage every web-scale
  * training corpus runs first (C4's badwords filter, RefinedWeb's UT1
  * blocklist): extract a canonical host from each document's URL and
  * drop documents whose host (or too much of whose vocabulary) is
  * blocklisted.
  *
  * Scale shape: the blocklist is host-grain (thousands to ~5M rows for
  * UT1 — kilobytes to ~100 MB), so membership is a BROADCAST probe:
  * host extraction is map-only column algebra on the scan, the
  * broadcast join never shuffles the corpus, and the word-ratio is a
  * per-row array intersection against a literal lexicon — all inside
  * whole-stage codegen.
  *
  * Reference behavior: kfai keeps a hosts allowlist per video
  * (F11 split/join, q38) and filters with IN-lists; the blocklist
  * anti-join is its corpus-scale inverse (§2.11 extension).
  */
object Blocklist {

  /** Canonical host of a URL: optional scheme and userinfo stripped,
    * port/path/query cut, lowercased, leading `www.` removed. Pure
    * regex column algebra (RE2-compatible — no lookaround), so the
    * DuckDB oracle runs the IDENTICAL pattern.
    */
  def urlHost(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url,
        "^(?:[a-z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)", 1)),
      "^www\\.", "")

  /** Fraction of a text's DISTINCT words that appear in `lexicon`
    * (badwords density, the C4 signal). Literal-array intersection —
    * per-row, no shuffle; for lexicons too large for a literal array,
    * explode + broadcast-join the same computation.
    */
  def blockedWordRatio(text: Column, lexicon: Seq[String]): Column = {
    val words = array_distinct(split(lower(trim(text)), "\\s+"))
    when(size(words) === 0, lit(0.0))
      .otherwise(
        size(array_intersect(words, lit(lexicon.toArray))).cast("double") /
          size(words))
  }

  /** The PHRASE half of the lexicon signal: which of `lexicon`'s
    * entries occur in `text` as raw substrings — multi-word phrases and
    * intra-word fragments included, which the word-set intersection
    * above cannot see. One Aho-Corasick pass per row regardless of
    * lexicon size (O(|text|) vs the O(N·|text|) contains-chain; see
    * [[graft.functions.MultiMatchExpr]]), value-equal to
    * `list_filter(lexicon, p -> contains(text, p))` in lexicon order.
    */
  def phraseMatches(text: Column, lexicon: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.MultiMatchExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), lexicon))
}
