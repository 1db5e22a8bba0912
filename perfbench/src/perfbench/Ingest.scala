package perfbench

import scala.collection.mutable

import graft.chunk.{ChunkSplitter, Snippet}
import graft.etl._
import graft.external.{HashEmbedder, StubChunkCleaner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One catalog row joined with everything the fetchers returned for it. */
case class FetchedVideo(
    id: Long,
    video_id: String,
    show_name: String,
    hosts: Seq[String],
    title: String,
    description: String,
    published_at: Long,
    duration: Long,
    snippets: Seq[Snippet])

/** The reference chain `1>4>5` as the benchmark drives it: fetch raw data
  * (catalog -> work discovery -> metadata + transcript fetch -> chunk ->
  * partitioned raw JSON), then `Pipeline.run` (clean -> chunk explode ->
  * embed -> store). Untraced, each stage is one call into graft; traced,
  * the same public stage functions run in `Pipeline.run`'s order with every
  * boundary materialized inside its own span.
  */
class IngestChain(spark: SparkSession, spec: CorpusSpec, ctrs: ExternalCounters, tracer: Tracer) {
  import spark.implicits._

  private val transcripts = new CountingTranscriptFetcher(new SeededTranscriptFetcher(spec), ctrs.fetchCalls)
  private val metadata = new CountingMetadataFetcher(new SeededMetadataFetcher(spec), ctrs.metaCalls)
  private val cleaner = new CountingCleaner(new StubChunkCleaner(), ctrs.cleanCalls, ctrs.cleanAborts)
  private val embedder = new CountingEmbedder(new HashEmbedder(), ctrs.embedTexts, ctrs.embedBatches,
    ctrs.embedNanos)

  /** The first `n` videos of the channel catalog. */
  def catalog(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, spec.videoId(i), Corpus.Shows(spec.show(i)), spec.hosts(i)))
      .toDF("id", "video_id", "show_name", "hosts")

  /** Fetch stage: new catalog videos -> fetched, chunked raw documents. */
  def extract(nCatalog: Int, rawDir: String): Unit = {
    val rawExists = graft.core.FsUtil.exists(spark, rawDir)
    val processed =
      if (rawExists) Extract.readRawDocs(spark, rawDir).select(col("video_id"))
      else Seq.empty[String].toDF("video_id")
    val work = Extract.discoverWork(catalog(nCatalog), processed, Seq.empty[String].toDF("video_id"))
    val ids = work.select(col("video_id")).as[String]
    val meta = Extract.fetchMetadata(ids, metadata).toDF()
    val fetchedTranscripts = Extract.fetchTranscripts(ids, transcripts)
      .toDF("video_id", "has_transcript", "snippets")
      .where(col("has_transcript")).drop("has_transcript")
    var fetched = Extract.enrich(work, meta).join(fetchedTranscripts, Seq("video_id"))
      .select(Seq("id", "video_id", "show_name", "hosts", "title", "description", "published_at",
        "duration", "snippets").map(col): _*)
    if (tracer.enabled) fetched = materialize("etl.extract.fetch", fetched)
    val chunksOut = ctrs.chunksOut
    var docs = fetched.as[FetchedVideo].map { v =>
      val chunks = ChunkSplitter.chunkTranscript(v.snippets)
      chunksOut.add(chunks.size)
      VideoDoc(v.id, v.video_id, v.show_name, v.hosts, v.title, v.description, v.published_at,
        v.duration, chunks.map(c => TranscriptChunk(c.text, c.start)))
    }.toDF()
    if (tracer.enabled) docs = materialize("chunk.split", docs)
    tracer.span("etl.extract.write_raw") {
      // The raw layout is the reference's: one JSON document per video
      // file under year/month directories, which is what
      // Extract.readRawDocs (a multiLine scan) reads. Capping files at one
      // record makes writePartitioned produce exactly that layout.
      val key = "spark.sql.files.maxRecordsPerFile"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "1")
      try Extract.writePartitioned(docs, rawDir, mode = if (rawExists) "append" else "overwrite")
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    unpersistAll()
  }

  private val persisted = mutable.ArrayBuffer.empty[DataFrame]

  private def materialize(name: String, df: DataFrame): DataFrame = tracer.span(name) {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    p.count()
    p
  }

  private def unpersistAll(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  /** Clean -> explode -> (anti-join) -> embed -> store -> mirror. */
  def pipeline(rawDir: String, outRoot: String): Unit =
    if (!tracer.enabled) Pipeline.run(spark, rawDir, outRoot, cleaner, embedder)
    else {
      val storePath = s"$outRoot/store"
      val mirrorPath = s"$outRoot/cleaned"
      val raw = materialize("etl.extract.read", Extract.readRawDocs(spark, rawDir).toDF())
      val mirrorExists = graft.core.FsUtil.exists(spark, mirrorPath)
      val mirrored =
        if (mirrorExists)
          spark.read.schema(Extract.videoSchema).json(mirrorPath)
            .select(Extract.videoSchema.fieldNames.toIndexedSeq.map(col): _*)
        else spark.emptyDataset[VideoDoc].toDF()
      val mirroredNow = materialize("etl.transform.read_mirror", mirrored)
      val toClean = raw.join(mirroredNow.select(col("video_id")), Seq("video_id"), "left_anti")
        .as[VideoDoc]
      val newlyCleaned = materialize("etl.transform.clean",
        Transform.cleanVideos(toClean, cleaner).toDF())
      val chunks = materialize("etl.load.explode",
        Load.explodeChunks(mirroredNow.unionByName(newlyCleaned).as[VideoDoc]).toDF())
      val storeExists = graft.core.FsUtil.exists(spark, storePath)
      val toEmbed =
        if (storeExists)
          materialize("etl.load.antijoin", Load.discoverNewChunks(chunks, spark.read.parquet(storePath)))
        else chunks
      val embedded = materialize("etl.load.embed",
        Load.embedChunks(toEmbed.as[ChunkDoc], embedder).toDF())
      tracer.span("etl.load.write_store") {
        if (storeExists) embedded.write.mode("append").parquet(storePath)
        else Load.writeStore(embedded, storePath)
      }
      tracer.span("etl.mirror.write") {
        Transform.writeCleanedMirror(newlyCleaned, mirrorPath,
          mode = if (mirrorExists) "append" else "overwrite")
      }
      unpersistAll()
    }
}

/** What one ingest phase must produce, derived from the generator alone. */
case class PhaseExpect(phase: String, nCatalog: Int, fetches: Long, cleanCalls: Long, aborts: Long,
    newChunks: Long, storeRows: Long)

object IngestExpect {
  /** Expected counters and store size for fresh -> incremental -> resume. */
  def phases(spec: CorpusSpec): Seq[PhaseExpect] = {
    val chunks = (0 until spec.nTotal).map(i => spec.rawChunks(i).size.toLong)
    val calls = (0 until spec.nTotal).map(i => spec.cleanCalls(i).toLong)
    def stored(r: Range): Long = r.filterNot(spec.poisoned).map(chunks).sum
    def poisonIn(r: Range): Seq[Int] = r.filter(spec.poisoned)
    val base = 0 until spec.nBase
    val added = spec.nBase until spec.nTotal
    val all = 0 until spec.nTotal
    val fresh = PhaseExpect("fresh", spec.nBase, spec.nBase, base.map(calls).sum,
      poisonIn(base).size, stored(base), stored(base))
    val retried = poisonIn(base)
    val incr = PhaseExpect("incremental", spec.nTotal, spec.nNew,
      added.map(calls).sum + retried.map(calls).sum, poisonIn(added).size + retried.size,
      stored(added), stored(all))
    val resume = PhaseExpect("resume", spec.nTotal, 0, poisonIn(all).map(calls).sum,
      poisonIn(all).size, 0, stored(all))
    Seq(fresh, incr, resume)
  }
}

/** Store facts one aggregate query reads back after a phase. */
case class StoreFacts(rows: Long, distinctKeys: Long, minDim: Int, maxDim: Int, minNorm: Double,
    maxNorm: Double, files: Long, bytes: Long)

object StoreFacts {
  def read(spark: SparkSession, storePath: String): StoreFacts = {
    val r = spark.read.parquet(storePath)
      .select(col("video_id"), col("start_time"), size(col("embedding")).as("d"),
        sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)).as("n"))
      .agg(count(lit(1)), count_distinct(col("video_id"), col("start_time")), min("d"), max("d"),
        min("n"), max("n"))
      .head()
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    StoreFacts(r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4), r.getDouble(5),
      files, bytes)
  }
}

/** The ingest half of a `rag_pipeline` pass: fresh -> incremental ->
  * resume into one directory, with every phase's outputs and boundary
  * counters checked against the generator.
  */
class IngestPart(spark: SparkSession, spec: CorpusSpec, ctrs: ExternalCounters, checks: Checks) {
  val expect: Seq[PhaseExpect] = IngestExpect.phases(spec)
  private val phaseTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val phaseCounters = mutable.LinkedHashMap.empty[String, Map[String, Long]]
  private var lastFacts: StoreFacts = _

  /** Run the three phases under `root`; returns each phase's seconds,
    * failed phases included.
    */
  def run(root: String, tracer: Tracer, tag: String): Seq[Double] = {
    val chain = new IngestChain(spark, spec, ctrs, tracer)
    expect.map { e =>
      var secs = 0.0
      checks.operation(s"ingest.${e.phase}") {
        ctrs.reset()
        val t0 = Clock.now()
        try tracer.withTag(s"$tag.${e.phase}") {
          tracer.span(s"ingest.${e.phase}") {
            chain.extract(e.nCatalog, s"$root/raw")
            chain.pipeline(s"$root/raw", s"$root/out")
          }
        } finally secs = Clock.secs(t0)
        phaseCounters(e.phase) = ctrs.snapshot()
        verify(e, phaseCounters(e.phase), s"$root/out/store")
      }
      phaseTimes.getOrElseUpdate(e.phase, mutable.ArrayBuffer.empty) += secs
      secs
    }
  }

  private def verify(e: PhaseExpect, c: Map[String, Long], storePath: String): Unit = {
    val tag = s"ingest.${e.phase}"
    val facts = StoreFacts.read(spark, storePath)
    lastFacts = facts
    checks.check(s"$tag: stored chunks ${facts.rows} == expected ${e.storeRows}")(facts.rows == e.storeRows)
    checks.check(s"$tag: (video_id, start_time) unique")(facts.distinctKeys == facts.rows)
    checks.check(s"$tag: vectors are 64-dimensional")(facts.minDim == 64 && facts.maxDim == 64)
    checks.check(s"$tag: vectors have unit norm")(
      math.abs(facts.minNorm - 1) < 1e-4 && math.abs(facts.maxNorm - 1) < 1e-4)
    checks.check(s"$tag: transcript fetches ${c("fetch_calls")} == ${e.fetches}")(
      c("fetch_calls") == e.fetches)
    checks.check(s"$tag: cleaner calls ${c("clean_calls")} == ${e.cleanCalls}")(
      c("clean_calls") == e.cleanCalls)
    checks.check(s"$tag: aborted videos ${c("clean_aborts")} == ${e.aborts}")(
      c("clean_aborts") == e.aborts)
    checks.check(s"$tag: embedded texts ${c("embed_texts")} == new chunks ${e.newChunks}")(
      c("embed_texts") == e.newChunks)
    if (e.phase == "resume")
      checks.check(s"$tag: no metadata fetch on resume")(c("meta_calls") == 0)
  }

  def resetSamples(): Unit = phaseTimes.clear()

  def phaseSeconds: Map[String, Seq[Double]] = phaseTimes.map { case (k, v) => k -> v.toSeq }.toMap

  def summary: Seq[Metric] = phaseTimes.toSeq.map { case (p, xs) =>
    Metric(s"ingest.${p}_s", Stats.median(xs.toSeq), "s")
  }

  def sampleCounts: Map[String, Int] =
    phaseTimes.map { case (p, xs) => s"ingest.${p}_s" -> xs.size }.toMap

  def layerMetrics(tr: Tracer): Seq[Metric] = {
    val perPhase = Seq("fresh", "incremental", "resume").flatMap { p =>
      val c = phaseCounters.getOrElse(p, Map.empty[String, Long])
      Seq("clean_calls", "embed_texts", "embed_batches", "fetch_calls").map(k =>
        Metric(s"external.$p.$k", c.getOrElse(k, 0L).toDouble, "count"))
    }
    val embedded = phaseCounters.values.map(_.getOrElse("embed_texts", 0L)).sum
    val newlyStored = expect.map(_.newChunks).sum
    val aborted = phaseCounters.values.map(_.getOrElse("clean_aborts", 0L)).sum
    val chunksOut = phaseCounters.values.map(_.getOrElse("chunks_out", 0L)).sum
    IngestPart.TimedSpans.map(n => Metric(s"${n}_s", tr.totalSec(n), "s")) ++ Seq(
      Metric("etl.transform.videos_aborted", aborted.toDouble, "count"),
      Metric("etl.store.files", Option(lastFacts).map(_.files.toDouble).getOrElse(0.0), "count"),
      Metric("etl.store.bytes", Option(lastFacts).map(_.bytes.toDouble).getOrElse(0.0), "bytes"),
      Metric("etl.load.embed_useful_ratio",
        if (embedded == 0) 0.0 else newlyStored.toDouble / embedded, "ratio"),
      Metric("chunk.chunks_out", chunksOut.toDouble, "count")) ++ perPhase
  }
}

object IngestPart {
  /** The spans whose total time is a layer metric (`<span>_s`). */
  val TimedSpans: Seq[String] = Seq(
    "etl.extract.fetch", "chunk.split", "etl.extract.write_raw", "etl.extract.read",
    "etl.transform.read_mirror", "etl.transform.clean", "etl.load.explode", "etl.load.antijoin",
    "etl.load.embed", "etl.load.write_store", "etl.mirror.write")
}
