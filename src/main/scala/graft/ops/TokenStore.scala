package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STANDING MATERIALIZED TOKENIZATION — the corpus-version artifact a
  * production pipeline derives ONCE per (tokenizer, corpus) and every
  * downstream consumer reads (decontamination, fertility eval, packing,
  * mixing all need the same token ids; re-tokenizing 100 TB per
  * consumer is the dominant avoidable cost). The tables are a
  * [[graft.core.StandingStore]], and [[ensure]] is its idempotent
  * live → rebind → build order, so ANY consumer can run first (or
  * alone) and the train + tokenize cost is paid exactly once per
  * (run, corpus).
  *
  * Tables under `tablePrefix` / `basePath` (byte-level BPE — the q178
  * production-tokenizer convention, [[Bpe.trainByteLevel]]):
  *  - `_merges` (merge_rank, pair_a, pair_b, pair_count) — the trained
  *    merge table, vocabulary-sized (collected by consumers that need
  *    the native tokenize expression for OUT-OF-STORE rows, e.g.
  *    planted eval probes);
  *  - `_vocab`  (token, token_id) — [[Bpe.vocabTableByteLevel]];
  *  - `_ids`    (doc_id, token_ids array<bigint>) — the corpus
  *    tokenization at document grain, doc-id order irrelevant.
  *
  * The store holds the DERIVED relation only; its content is pinned by
  * the consumers' oracles, which keep the DIRECT train + tokenize
  * spelling in DuckDB (q178/q180/q185 replay the whole derivation), so
  * a store bug cannot hide — the gate compares store-backed Spark
  * output against store-free SQL.
  */
object TokenStore {

  /** Build-or-rebind the standing tokenization of `docs` (textCol at
    * idCol grain) under `tablePrefix`/`basePath`. Idempotent per
    * session AND across restarts (files outlive the catalog), and
    * INCREMENTAL (the [[VectorIndex.ensureIvfPqIndex]] needPq
    * economics): a consumer that only needs the trained tokenizer
    * (vocab readers like q177) passes `needIds = false` and pays the
    * train alone; the first consumer that reads corpus ids layers the
    * `_ids` table on top — the corpus tokenize, the expensive half,
    * is charged only to queries that consume it, and still exactly
    * once per (run, corpus).
    */
  def ensure(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numMerges: Int,
      tablePrefix: String,
      basePath: String,
      needIds: Boolean = true): Unit = {
    val spark = docs.sparkSession
    val store = graft.core.StandingStore(spark, tablePrefix, basePath)
    // Tokenizer half (merges + vocab) — every consumer needs it.
    store.ensure(tables: _*) {
      val m = Bpe.trainByteLevel(docs, textCol, numMerges)
      import spark.implicits._
      store.write("merges", m.map(x => (x.rank.toLong, x.a, x.b, x.count))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count"))
      store.write("vocab", Bpe.vocabTableByteLevel(spark, m))
    }
    // Ids half: bind, or tokenize the corpus through the stored
    // tokenizer and layer the table on.
    if (needIds) store.ensure("ids" -> None) {
      val ids = Bpe.tokenizeToIdsByteLevel(docs, textCol, idCol,
        merges(spark, tablePrefix), vocab(spark, tablePrefix))
      store.write("ids", ids.select(col(idCol).cast("long").as("doc_id"),
        col("token_ids")))
    }
  }

  /** The token store's layout: three unbucketed tables (`_ids` may be
    * absent — a `needIds = false` materialization).
    */
  val tables: Seq[(String, Option[String])] =
    Seq("merges" -> None, "vocab" -> None, "ids" -> None)

  /** The trained merge table as the driver-side Seq consumers feed the
    * native tokenize expression — vocabulary-sized by construction
    * (numMerges rows), the [[Bpe.vocabTable]] collect discipline.
    * Ranks order the merge fold; pair scores are not stored (byte-level
    * BPE selects by count, already in `pair_count`).
    */
  def merges(spark: SparkSession, tablePrefix: String): Seq[Bpe.Merge] =
    spark.table(s"${tablePrefix}_merges")
      .orderBy(col("merge_rank"))
      .collect()
      .map(r => Bpe.Merge(r.getLong(0).toInt, r.getString(1),
        r.getString(2), r.getLong(3)))
      .toSeq

  def vocab(spark: SparkSession, tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_vocab")

  /** (doc_id, token_ids) at document grain. */
  def ids(spark: SparkSession, tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_ids")
}
