package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-bag-of-words linear classifier application (§2.11 extension —
  * the fastText-style quality/safety scorer every corpus pipeline runs
  * over 100% of documents: hash each token into a fixed bucket space,
  * look up a per-bucket weight, and score the document as the mean
  * token weight; Joulin et al. 2016 "Bag of Tricks", the hashing trick
  * per Weinberger et al. 2009).
  *
  * Exactness: buckets and weights are pure md5-derived integer
  * functions of the token text, scores are int64 micro-unit sums
  * floor-divided by token count — an engine-portable grid with no
  * float accumulation order anywhere. The hash-derived weight table
  * stands in for trained parameters; a production model swaps that
  * table for a broadcast lookup of the learned vector (same
  * plan shape — a map-side expression), which is why the operator
  * keeps the whole computation per-row.
  *
  * Scale shape: ZERO shuffles — tokenize, hash, weigh, and reduce all
  * happen inside one projection via higher-order array functions (no
  * token-grain explode; the per-document fold is local to the row), so
  * cost is exactly one scan of the corpus and the plan stays a single
  * WholeStageCodegen map. This is the cheapest possible shape for
  * model application at 100 TB: no exchange, no state, trivially
  * executor-parallel.
  */
object HashedClassifier {

  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** 60-bit md5 integer of a string expression (engine-portable:
    * DuckDB spells it `('0x' || substr(md5(x), 1, 15))::BIGINT`).
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Feature bucket of a token under `buckets`-wide hashing. */
  def bucketOf(tok: Column, buckets: Int): Column =
    pmod(h60(tok), lit(buckets.toLong))

  /** (id, n_tokens, score_micro, label) per document: `score_micro` is
    * the mean hashed-token weight (0 for empty documents), `label` the
    * sign decision (score >= 0). Whitespace tokenization on
    * lowercased text, identical to the corpus-wide idiom. The
    * tokenize+hash+fold runs as ONE native expression
    * ([[graft.functions.HashedLinearScoreExpr]]): the HOF spelling
    * (md5/conv inside transform+aggregate lambdas) evaluated
    * interpreted Catalyst nodes per token — 27 s for 50k docs at sf1m
    * vs digest-bound native.
    */
  def score(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = 4096,
      salt: String = "hc1"): DataFrame = {
    val st = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.HashedLinearScoreExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(col(textCol)),
        buckets, salt))
    docs
      // Bind the [n_tokens, total] vector once in its own projection —
      // the established one-binding discipline (two getItem references
      // in a single projection can re-evaluate the expression).
      .select(col(idCol).as("id"), st.as("st"))
      .select(col("id"), col("st").getItem(0).as("n_tokens"),
        col("st").getItem(1).as("w_total"))
      .select(col("id"), col("n_tokens"),
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(intDiv(col("w_total"), col("n_tokens"))).as("score_micro"))
      .withColumn("label", col("score_micro") >= 0L)
  }
}
