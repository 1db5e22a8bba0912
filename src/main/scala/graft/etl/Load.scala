package graft.etl

import graft.external.Embedder
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Load stage (SURVEY.md §3.2; reference build_vector_store.py):
  * G3 chunk explode to the store grain, J5 composite-key anti-join for
  * resumability, G5 batched embedding, S10 batched sink.
  *
  * Scale posture: the explode is per-row (no shuffle); the anti-join is
  * the one shuffle and runs on (video_id, start_time) — high-cardinality
  * uniform keys; embedding is `mapPartitions` + `grouped(batch)` so the
  * external model sees the reference's batch size regardless of
  * partition size.
  */
object Load {

  /** Default epoch when the API gave none: 2012-01-01 (reference
    * build_vector_store.py:62-70).
    */
  val DefaultPublishedAt = 1325376000L
  val NoTitle = "<NO TITLE FOUND>"

  /** G3 + P9 + F11 + F19: explode transcript chunks to store-grain rows
    * with video metadata flattened on, hosts comma-joined, defaults
    * coalesced, and null/empty docs guarded out (build_vector_store.py:51-92).
    */
  def explodeChunks(docs: Dataset[VideoDoc]): Dataset[ChunkDoc] = {
    import docs.sparkSession.implicits._
    docs.toDF()
      .where(col("video_id").isNotNull && size(col("transcript_chunks")) > 0)
      .select(
        col("video_id"),
        col("show_name"),
        concat_ws(",", col("hosts")).as("hosts"),
        coalesce(col("title"), lit(NoTitle)).as("title"),
        coalesce(col("published_at"), lit(DefaultPublishedAt)).as("published_at"),
        explode(col("transcript_chunks")).as("chunk"))
      .select(col("video_id"), col("show_name"), col("hosts"), col("title"),
        col("published_at"),
        col("chunk.start").as("start_time"), col("chunk.text").as("text"))
      .as[ChunkDoc]
  }

  /** J5: resumable incremental load — drop chunks whose
    * (video_id, start_time) already exists in the store
    * (build_vector_store.py:78-80).
    */
  def discoverNewChunks(chunks: DataFrame, existing: DataFrame): DataFrame =
    chunks.join(existing.select("video_id", "start_time"),
      Seq("video_id", "start_time"), "left_anti")

  /** Might `storeBloom` hold the row's key? The key is the one column
    * of `keyCols`, or the struct of several; build the filter over the
    * store's keys in the same shape
    * ([[graft.ops.Sketches.bloomBuild]]).
    */
  def bloomHit(storeBloom: Array[Byte], keyCols: Seq[String]): Column =
    graft.ops.Sketches.bloomMightContain(storeBloom,
      if (keyCols.size == 1) col(keyCols.head) else struct(keyCols.map(col): _*))

  /** Bloom-accelerated [[discoverNewChunks]] (opt-in fast path, exact)
    * over any key: `keys` pairs each column of `rows` with the store
    * column it matches. Rows the store's filter DEFINITELY hasn't seen
    * ([[bloomHit]] false) bypass the anti-join as a map-only filter —
    * only the might-contain minority (true dups + fpp false positives)
    * shuffles for exact verification. Same semantics as the plain
    * anti-join (q142 pins it against q40's full-value oracle, q93
    * against its own; the definite-new arm is join-free in the plan,
    * pinned by EtlSpec's and PlansSpec's plan asserts).
    *
    * Build the filter once per corpus version
    * ([[graft.ops.Sketches.bloomBuild]] over the store keys) and reuse
    * it across batches; on append, OR-merge the accepted batch's keys
    * in (bloom bitmaps with identical parameters union losslessly)
    * rather than rebuilding. The filter MUST cover every store key: a
    * false POSITIVE only costs a verified row, but a store key absent
    * from the filter would let its duplicate bypass verification — so
    * never probe with a filter that lags the store.
    *
    * MEASURED (sf10m, q40's shape, warm floors): bloom 16.7 s vs plain
    * anti-join 7.8 s — the fast path LOSES when the filter is built
    * in-query over a store comparable in size to the batch (the build
    * scan + a ~1.2 bytes/key bitmap shipped to every task cost more
    * than the shuffle they avoid). It WINS in the deployment shape it
    * exists for: the store's filter is built ONCE per corpus version
    * (or maintained incrementally) and reused every batch, and the
    * batch is miss-dominated (resumable load: most chunks are new).
    * Same break-even logic as Spark's own runtime bloom injection
    * thresholds.
    */
  def bloomAntiJoin(
      rows: DataFrame,
      existing: DataFrame,
      storeBloom: Array[Byte],
      keys: Seq[(String, String)]): DataFrame = {
    val hit = bloomHit(storeBloom, keys.map(_._1))
    val exKeys = existing.select(keys.map { case (k, e) => col(e).as(k) }: _*)
    rows.where(!hit).unionByName(
      rows.where(hit).join(exKeys, keys.map(_._1), "left_anti"))
  }

  /** G5: embed chunk texts through the external model in fixed-size
    * batches inside each partition (reference encode batch 128,
    * build_vector_store.py:22-29).
    */
  def embedChunks(
      chunks: Dataset[ChunkDoc],
      embedder: Embedder,
      batchSize: Int = 128): Dataset[EmbeddedChunk] = {
    import chunks.sparkSession.implicits._
    chunks.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val vecs = embedder.embed(batch.map(_.text))
        batch.lazyZip(vecs).map { (c, v) =>
          EmbeddedChunk(c.video_id, c.show_name, c.hosts, c.title,
            c.published_at, c.start_time, c.text, v)
        }
      }
    }
  }

  /** S10: batched store sink. Parquet stands in for the JDBC/pgvector
    * write locally; a production deployment swaps `format` for
    * `jdbc` with `batchsize` (SURVEY S10) without touching callers.
    */
  def writeStore(store: DataFrame, path: String): Unit =
    store.write.mode("overwrite").parquet(path)

  /** S10 JDBC form: the reference's 256-doc insert batching
    * (build_vector_store.py:92-114, BATCH_SIZE loaders/utils/config.py:14)
    * maps to the JDBC writer's batchsize — executors write partitions
    * concurrently in `batchSize`-row statements. (No database ships in
    * this container; the parquet form above is the tested path.)
    */
  def writeStoreJdbc(store: DataFrame, url: String, table: String,
      batchSize: Int = 256): Unit =
    store.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
      .mode("append").save()
}
