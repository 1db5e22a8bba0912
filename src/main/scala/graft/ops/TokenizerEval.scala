package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenizer EFFICIENCY evaluation (§2.11 extensions, tokenization
  * family) — the standard intrinsic statistics a pretraining pipeline
  * publishes for a trained tokenizer (Rust et al. 2021, "How Good is
  * Your Tokenizer?"; the compression numbers every BPE paper tables):
  * per corpus slice, FERTILITY (subword tokens per pretoken) and
  * COMPRESSION (UTF-8 bytes per subword token) under the trained
  * byte-level vocabulary. A tokenizer that fragments one language's
  * text into per-byte tokens shows up here as that slice's fertility
  * spiking — the diagnostic that drives vocabulary-size and
  * training-mix decisions.
  *
  * Integer-exact convention: both ratios are milli-grid floor
  * divisions of exact long sums (bytes * 1000 DIV tokens,
  * tokens * 1000 DIV pretokens) — engine-portable, no doubles.
  *
  * Scale shape: pretokens explode map-side; the byte-level subword
  * counts come from ONE persisted dictionary folded once per distinct
  * pretoken ([[Bpe.tokenizeToIdsByteLevel]]'s discipline, joined back
  * by AQE broadcast), the unigram ones from the Viterbi kernel per
  * occurrence (it memoizes words per JVM); the final aggregation is
  * group-grain, map-side combinable. No corpus-sized shuffle anywhere.
  */
object TokenizerEval {

  /** Per-group byte-level tokenizer stats: (grp, n_pretokens, n_bytes,
    * n_tokens, bytes_per_token_milli, fertility_milli). Empty texts
    * contribute no pretokens; a group whose texts yield NO pretokens
    * emits NO row at all (the relation is built by exploding
    * pretokens), which the DuckDB oracle agrees on.
    */
  def fertilityByGroup(
      df: DataFrame,
      textCol: String,
      grpCol: String,
      merges: Seq[Bpe.Merge]): DataFrame = {
    val words = df.select(col(grpCol).as("grp"),
      explode(Bpe.pretokenizeByteLevel(col(textCol))).as("__w"))
    val dict = graft.core.Caches.persistTracked(
      words.select(col("__w")).distinct()
        .select(col("__w"),
          size(Bpe.tokenizeByteLevel(col("__w"), merges)).cast("long")
            .as("__nsub"),
          octet_length(col("__w")).cast("long").as("__nb")))
    withRatios(words.join(dict, Seq("__w"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(col("__nb")).as("n_bytes"),
        sum(col("__nsub")).as("n_tokens")))
  }

  /** [[fertilityByGroup]] under the UNIGRAM convention — the eval
    * parameterized over the second trained-vocabulary family (Rust
    * 2021 compares tokenizers exactly this way): the pretoken grain
    * is the suite WORD (unigram trains on the word histogram, not
    * byte-level pretokens) and a word's token count is its Viterbi
    * piece count, with [UNK]-wholesale words counting 1 — so a
    * vocabulary that fails to cover a slice shows up as that slice's
    * fertility DROPPING toward 1 while its [UNK] share explodes
    * (q191 carries the n_unk column; the two read together). Same
    * milli grids and absent-row semantics as the byte-level spelling;
    * no dictionary, so the group aggregate is the plan's one exchange.
    */
  def fertilityByGroupUnigram(
      df: DataFrame,
      textCol: String,
      grpCol: String,
      pieces: Seq[Unigram.Piece],
      maxChars: Int = 16,
      maxPieceLen: Int = 4): DataFrame = {
    val costs = pieces.map(p => (p.token, p.costMicro))
    withRatios(df.select(col(grpCol).as("grp"),
        explode(WordPiece.words(col(textCol))).as("__w"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(octet_length(col("__w")).cast("long")).as("n_bytes"),
        sum(size(Unigram.viterbiPieces(col("__w"), costs, maxChars,
          maxPieceLen)).cast("long")).as("n_tokens")))
  }

  /** [[fertilityByGroup]] over a PRE-TOKENIZED corpus — the
    * standing-store spelling ([[TokenStore]]): the trained tokenizer's
    * fold is read off `ids` (idCol, token_ids) instead of re-derived.
    * Exactness: [[Bpe.tokenizeToIdsByteLevel]] concatenates per-
    * pretoken emissions in document order, so a document's token count
    * IS the sum of its pretokens' subword counts — n_tokens via
    * size(token_ids) equals the per-pretoken sum; n_pretokens/n_bytes
    * are map-side re-pretokenizations (regex only — no BPE fold, the
    * cheap half). Documents with no pretokens drop before the group
    * agg so a group whose texts yield none still emits no row
    * ([[fertilityByGroup]]'s absent-row semantics); such documents
    * carry zero tokens/bytes, so the drop never changes a sum.
    */
  def fertilityByGroupFromIds(
      df: DataFrame,
      textCol: String,
      grpCol: String,
      idCol: String,
      ids: DataFrame): DataFrame =
    withRatios(df.select(col(grpCol).as("grp"), col(idCol),
        Bpe.pretokenizeByteLevel(col(textCol)).as("__ws"))
      .withColumn("__np", size(col("__ws")).cast("long"))
      .where(col("__np") > 0)
      .withColumn("__nb", aggregate(col("__ws"), lit(0L),
        (acc, w) => acc + octet_length(w).cast("long")))
      .join(ids.select(col(idCol), size(col("token_ids")).cast("long")
        .as("__nt")), Seq(idCol))
      .groupBy(col("grp"))
      .agg(sum(col("__np")).as("n_pretokens"),
        sum(col("__nb")).as("n_bytes"),
        sum(col("__nt")).as("n_tokens")))

  /** The two milli-grid ratio columns over (grp, n_pretokens, n_bytes,
    * n_tokens). The zero-denominator branches are unreachable (a group
    * with no pretokens has no row) and kept for spelling parity with
    * the DuckDB oracle.
    */
  private def withRatios(stats: DataFrame): DataFrame =
    stats
      .withColumn("bytes_per_token_milli", expr(
        "CASE WHEN n_tokens > 0 THEN (n_bytes * 1000) DIV n_tokens " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("fertility_milli", expr(
        "CASE WHEN n_pretokens > 0 THEN (n_tokens * 1000) DIV n_pretokens " +
          "ELSE CAST(0 AS BIGINT) END"))
}
