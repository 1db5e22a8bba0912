package graft.etl

import graft.external.{ChunkCleaner, Embedder, HashEmbedder, StubChunkCleaner}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** End-to-end pipeline entry point: extract -> transform -> load over a
  * raw-document directory, mirroring the reference's chained CLI stages
  * (cli.py:53-64, `1>4>5`: fetch raw data, clean, build vector store)
  * as ONE lazy Spark plan per stage boundary. The LLM-boundary steps
  * (chunk cleaning, embedding) are injected traits, defaulting to the
  * deterministic stubs; a production caller swaps in real clients
  * without touching the plan shape.
  *
  * Resumable like the reference at BOTH expensive boundaries: videos
  * already in the cleaned mirror skip the clean stage (anti-join
  * against the mirror listing — clean_locally.py:46-48), and if a
  * store already exists, only chunks NOT already present
  * (composite-key anti-join, J5) are embedded and appended —
  * re-running after a crash never duplicates rows and never re-pays
  * the LLM boundaries for finished work.
  */
object Pipeline {

  /** Run the chain; returns the store DataFrame after writing.
    * Stage boundaries stay DataFrames — nothing is collected.
    */
  def run(
      spark: SparkSession,
      rawDir: String,
      outRoot: String,
      cleaner: ChunkCleaner = new StubChunkCleaner(),
      embedder: Embedder = new HashEmbedder()): DataFrame = {
    import spark.implicits._
    val storePath = s"$outRoot/store"
    val mirrorPath = s"$outRoot/cleaned"
    // The store's declared schema: reading with it skips the job Spark
    // runs to infer a Parquet schema from the files' footers.
    def readStore(): DataFrame =
      spark.read.schema(Encoders.product[EmbeddedChunk].schema).parquet(storePath)
    // Extract: recursive schema'd JSON scan (S3).
    val raw = Extract.readRawDocs(spark, rawDir)
    // Resume skips the clean stage for already-mirrored videos, like
    // the reference (clean_locally.py:46-48 `if cleaned_path.exists():
    // continue`): the mirror listing anti-joins the raw docs, so only
    // unmirrored videos pay the per-chunk LLM boundary. Videos the
    // cleaner ABORTED are absent from the mirror and re-attempt each
    // run — also reference parity (no cleaned file is ever written for
    // them).
    val mirrorExists = graft.core.FsUtil.exists(spark, mirrorPath)
    val mirrored: Dataset[VideoDoc] =
      if (mirrorExists)
        spark.read.schema(Extract.videoSchema).json(mirrorPath)
          .select(Extract.videoSchema.fieldNames.toIndexedSeq.map(col): _*)
          .as[VideoDoc]
      else spark.emptyDataset[VideoDoc]
    val toClean = raw.join(mirrored.select(col("video_id")), Seq("video_id"), "left_anti")
      .as[VideoDoc]
    // Transform: per-chunk clean with all-or-nothing abort (G4), then
    // the cleaned mirror sink (S9). Persisted: the mirror write and the
    // Load stage both consume the newly-cleaned docs, and the cleaner
    // is the expensive per-chunk LLM boundary — without the persist
    // each consumer re-runs the cleaning pass.
    val newlyCleaned = Transform.cleanVideos(toClean, cleaner)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cleaned = mirrored.unionByName(newlyCleaned)
      // Load: chunk-grain explode (G3), resume anti-join (J5), grouped
      // embedding (G5), batched store sink (S10).
      val chunks = Load.explodeChunks(cleaned)
      if (graft.core.FsUtil.exists(spark, storePath)) {
        // Resume: embed only the chunks the store lacks, append them
        // (the reference re-run skips stored ids, build_vector_store.py).
        // Nothing new appends nothing: a 0-row append still writes an
        // empty part file. Persisted so the emptiness probe and the
        // append share one anti-join.
        val fresh = Load.discoverNewChunks(chunks.toDF(), readStore())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!fresh.isEmpty)
            Load.embedChunks(fresh.as[ChunkDoc], embedder)
              .toDF().write.mode("append").parquet(storePath)
        } finally fresh.unpersist(blocking = false)
      } else {
        Load.writeStore(Load.embedChunks(chunks, embedder).toDF(), storePath)
      }
      // Mirror sink LAST: `mirrored` lists the mirror directory lazily
      // at each action, so appending before the store stage ran would
      // double-count the new videos through the union. Writing after
      // the store keeps reads consistent; a crash between the two
      // writes only means those videos re-clean on the next resume
      // (same idempotence the store anti-join already provides).
      Transform.writeCleanedMirror(newlyCleaned.toDF(), mirrorPath,
        mode = if (mirrorExists) "append" else "overwrite")
    } finally newlyCleaned.unpersist(blocking = false)
    readStore()
  }

  /** CLI: Pipeline <rawJsonDir> <outRoot> — runs with the stub
    * cleaner/embedder and prints stage counts.
    */
  def main(args: Array[String]): Unit = {
    val (rawDir, outRoot) = args match {
      case Array(a, b, _*) => (a, b)
      case _ => sys.error("usage: Pipeline <rawJsonDir> <outRoot>")
    }
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val store = run(spark, rawDir, outRoot)
    println(s"[pipeline] store rows: ${store.count()}")
    spark.stop()
  }
}
