package graft

import graft.etl._
import graft.external._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end ETL pipeline tests (SURVEY.md §3.1/§3.2): extract ->
  * transform(stub cleaner, all-or-nothing) -> load(explode, anti-join,
  * stub embedder) on synthetic video-doc JSON fixtures.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, vid: String, chunks: Seq[TranscriptChunk],
      publishedAt: Long = 1700000000L): VideoDoc =
    VideoDoc(id, vid, s"Show ${id % 2}", Seq(s"host$id", "common"),
      s"Title $vid", s"Desc $vid", publishedAt, 3600L, chunks)

  private val docs = Seq(
    doc(1, "vidA", Seq(TranscriptChunk("hello >> world [Music]", 0.0),
      TranscriptChunk("second chunk text", 12.5))),
    doc(2, "vidB", Seq(TranscriptChunk("contains POISON marker inside", 1.0),
      TranscriptChunk("fine text", 2.0))),
    doc(3, "vidC", Seq(TranscriptChunk("clean [ __ ] content", 5.0)), publishedAt = 0L))

  private def writeFixtures(): String = {
    val dir = tempDir("graft-etl")
    // One pretty-printed JSON object per file, in nested subdirs, like
    // the reference's raw/<year>/<month>/<video_id>.json layout.
    docs.zipWithIndex.foreach { case (d, i) =>
      val sub = new java.io.File(s"$dir/2023/0${i + 1}")
      sub.mkdirs()
      val chunksJson = d.transcript_chunks
        .map(c => s"""{\n  "text": "${c.text.replace("\"", "")}",\n  "start": ${c.start}\n}""")
        .mkString("[", ",\n", "]")
      val json =
        s"""{
           |  "id": ${d.id},
           |  "video_id": "${d.video_id}",
           |  "show_name": "${d.show_name}",
           |  "hosts": [${d.hosts.map(h => s""""$h"""").mkString(",")}],
           |  "title": "${d.title}",
           |  "description": "${d.description}",
           |  "published_at": ${d.published_at},
           |  "duration": ${d.duration},
           |  "transcript_chunks": $chunksJson
           |}""".stripMargin
      Files.writeString(new java.io.File(sub, s"${d.video_id}.json").toPath, json)
    }
    dir
  }

  test("Extract: recursive schema'd JSON read finds all nested docs") {
    val dir = writeFixtures()
    val read = Extract.readRawDocs(spark, dir)
    assert(read.count() == 3)
    val a = read.filter(_.video_id == "vidA").head()
    assert(a.transcript_chunks.map(_.start) == Seq(0.0, 12.5))
    assert(a.hosts == Seq("host1", "common"))
  }

  test("Extract: work discovery anti-join = catalog - processed - skipped") {
    val catalog = Seq("vidA", "vidB", "vidC", "vidD").toDF("video_id")
    val processed = Seq("vidB").toDF("video_id")
    val skipped = Seq("vidD").toDF("video_id")
    val work = Extract.discoverWork(catalog, processed, skipped)
      .as[String].collect().sorted.toSeq
    assert(work == Seq("vidA", "vidC"))
  }

  test("Extract: enrichment merge is inner and right-wins on conflicts") {
    val db = Seq(("vidA", "db-title", 1L), ("vidB", "db-title-b", 2L))
      .toDF("video_id", "title", "id")
    val api = Seq(("vidA", "api-title", 99L)).toDF("video_id", "title", "published_at")
    val out = Extract.enrich(db, api)
    assert(out.count() == 1) // vidB missing from API drops out (J3 inner)
    val row = out.head()
    assert(row.getAs[String]("title") == "api-title") // right wins
    assert(row.getAs[Long]("id") == 1L)               // left-only col kept
    assert(row.getAs[Long]("published_at") == 99L)
  }

  test("Extract: partitioned sink derives year/month with epoch-0 unknown") {
    val dir = tempDir("graft-sink")
    Extract.writePartitioned(docs.toDF(), dir)
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("year=")).sorted
    assert(dirs.toSeq == Seq("year=2023", "year=unknown"))
    val back = spark.read.option("basePath", dir).json(s"$dir/year=2023")
    assert(back.count() == 2)
  }

  test("Extract: JSON sink round-trips every doc through readRawDocs") {
    val dir = tempDir("graft-roundtrip")
    // 60 docs over three months, so each write task meets several docs
    // of the same year/month partition.
    val months = Seq(1672531200L, 1675209600L, 1677628800L)
    val many = (0 until 60).map(i => doc(i.toLong, f"rt$i%03d",
      Seq(TranscriptChunk(s"chunk $i", 0.0)), publishedAt = months(i % 3) + i))
    Extract.writePartitioned(many.toDF().repartition(2), dir)
    val back = Extract.readRawDocs(spark, dir).map(_.video_id).collect().sorted.toSeq
    assert(back == many.map(_.video_id))
  }

  test("Transform: all-or-nothing abort drops poisoned video; integrity check flags it") {
    val ds = docs.toDS()
    val cleaned = Transform.cleanVideos(ds, new StubChunkCleaner())
    val byId = cleaned.collect().map(d => d.video_id -> d).toMap
    assert(byId.keySet == Set("vidA", "vidC")) // vidB aborted wholesale
    assert(byId("vidA").transcript_chunks.head.text == "hello world")
    // ASCII-space [ __ ] is a bracket tag (removed), not the reference's
    // nbsp profanity marker (which would star out).
    assert(byId("vidC").transcript_chunks.head.text == "clean content")
    // chunk counts preserved for surviving videos (A6 precondition)
    assert(byId("vidA").transcript_chunks.size == 2)

    val integrity = Transform.integrityCheck(ds.toDF(), cleaned.toDF())
    val bad = integrity.where(!col("ok")).select("video_id", "n_raw", "n_cleaned")
      .as[(String, Int, Int)].collect().toSeq
    assert(bad == Seq(("vidB", 2, 0)))
  }

  test("Transform: running counters track cleaned vs aborted videos (A5)") {
    val (out, cleaned, aborted) = Transform.cleanVideosWithStats(docs.toDS(), new StubChunkCleaner())
    out.count() // action populates accumulators
    assert(cleaned.value == 2 && aborted.value == 1)
  }

  test("Load: explode to chunk grain with hosts join + defaults; J5 anti-join; G5 embed") {
    val chunks = Load.explodeChunks(docs.toDS())
    assert(chunks.count() == 5)
    val a0 = chunks.filter(c => c.video_id == "vidA" && c.start_time == 0.0).head()
    assert(a0.hosts == "host1,common")
    assert(a0.show_name == "Show 1")

    // J5: chunks already in the store are skipped on re-run.
    val existing = Seq(("vidA", 0.0)).toDF("video_id", "start_time")
    val newOnes = Load.discoverNewChunks(chunks.toDF(), existing)
    assert(newOnes.count() == 4)

    // Bloom fast path == plain anti-join, and its definite-new arm is
    // join-free: exactly ONE join in the whole plan (the might-contain
    // verification), with the bloom probe present as a map-side filter.
    val keys = Seq("video_id", "start_time")
    val bloom = graft.ops.Sketches.bloomBuild(
      existing.select(struct(keys.map(col): _*).as("__k")), "__k", 1, 0.01)
    val viaBloom = Load.bloomAntiJoin(chunks.toDF(), existing, bloom, keys.map(k => k -> k))
    assert(viaBloom.select("video_id", "start_time").as[(String, Double)].collect().toSet ==
      newOnes.select("video_id", "start_time").as[(String, Double)].collect().toSet)
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    val joins = "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size
    assert(joins == 1, s"expected exactly one join (candidate arm), got $joins:\n$plan")

    // G5: deterministic embeddings — same text, same vector, unit norm.
    val embedded = Load.embedChunks(chunks, new HashEmbedder(dim = 16), batchSize = 2)
    val vecs = embedded.collect().map(e => e.text -> e.embedding).toMap
    assert(vecs.size == 5)
    val n = math.sqrt(vecs("fine text").map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    val again = Load.embedChunks(chunks, new HashEmbedder(dim = 16), batchSize = 3)
      .collect().map(e => e.text -> e.embedding).toMap
    assert(vecs("fine text").toSeq == again("fine text").toSeq)
  }

  test("Extract: snapshot is one-time; skip-state roundtrip with absent-file default") {
    val snap = tempDir("graft-snap") + "/cat"
    var builds = 0
    def source = { builds += 1; Seq("vidA", "vidB").toDF("video_id") }
    assert(Extract.ensureSnapshot(spark, source, snap).count() == 2)
    assert(Extract.ensureSnapshot(spark, source, snap).count() == 2)
    assert(builds == 1) // second call reads the cache, never re-queries

    val skipPath = tempDir("graft-skip") + "/skip"
    assert(Extract.readSkipState(spark, skipPath).count() == 0) // absent -> empty
    // Legacy reason-less checkpoint still reads (reason -> null).
    Extract.writeSkipState(Seq("vidZ").toDF("video_id"), skipPath)
    assert(Extract.readSkipState(spark, skipPath).as[(String, Option[String])]
      .collect().toSeq == Seq(("vidZ", None)))
  }

  test("Extract: skip reasons round-trip; transient errors re-enter work discovery") {
    val ids = Seq("vidA", "vid-disabled", "vid-untranslatable", "vid-silent").toDS()
    val outcomes = Extract.fetchTranscriptsDetailed(ids, new StubTranscriptFetcher)
      .collect().map(r => r.video_id -> r).toMap
    assert(outcomes("vidA").status == "fetched" && outcomes("vidA").snippets.nonEmpty)
    assert(outcomes("vid-disabled") ==
      TranscriptFetchRow("vid-disabled", "skipped", Some("disabled"), Seq.empty))
    assert(outcomes("vid-untranslatable") ==
      TranscriptFetchRow("vid-untranslatable", "skipped", Some("no_translatable"), Seq.empty))
    assert(outcomes("vid-silent") ==
      TranscriptFetchRow("vid-silent", "error", None, Seq.empty))

    // Only the permanent skips land in skip state, WITH their reasons.
    val skipPath = tempDir("graft-skip2") + "/skip"
    val skips = Extract.fetchTranscriptsDetailed(ids, new StubTranscriptFetcher)
      .where(col("status") === "skipped")
      .select(col("video_id"), col("reason"))
    Extract.writeSkipState(skips, skipPath)
    val back = Extract.readSkipState(spark, skipPath)
    assert(back.as[(String, Option[String])].collect().toMap ==
      Map("vid-disabled" -> Some("disabled"),
        "vid-untranslatable" -> Some("no_translatable")))

    // Next-run work discovery: skipped ids are excluded, the transient
    // error re-enters (the reference retries None outcomes).
    val catalog = ids.toDF("video_id")
    val processed = Seq("vidA").toDF("video_id")
    val work = Extract.discoverWork(catalog, processed, back)
      .as[String].collect().toSeq
    assert(work == Seq("vid-silent"))
  }

  test("Extract: batched metadata fetch drops unknown ids; transcript fetch flags silent") {
    val ids = Seq("vidA", "vid-missing", "vidB").toDS()
    val meta = Extract.fetchMetadata(ids, new StubMetadataFetcher, batchSize = 2)
      .collect().map(m => m.video_id -> m).toMap
    assert(meta.keySet == Set("vidA", "vidB"))
    assert(meta("vidA").duration >= 60L)

    val tr = Extract.fetchTranscripts(Seq("vidA", "vid-silent").toDS(), new StubTranscriptFetcher)
      .collect().map(t => t._1 -> t).toMap
    assert(tr("vidA")._2 && tr("vidA")._3.nonEmpty)
    assert(!tr("vid-silent")._2 && tr("vid-silent")._3.isEmpty)
  }

  test("pipeline end-to-end: extract -> clean -> explode -> embed -> store roundtrip") {
    val dir = writeFixtures()
    val store = tempDir("graft-store")
    val raw = Extract.readRawDocs(spark, dir)
    val cleaned = Transform.cleanVideos(raw, new StubChunkCleaner())
    val chunks = Load.explodeChunks(cleaned)
    val embedded = Load.embedChunks(chunks, new HashEmbedder(dim = 16))
    Load.writeStore(embedded.toDF(), store)
    val back = spark.read.parquet(store)
    assert(back.count() == 3) // vidA 2 chunks + vidC 1; vidB aborted
    assert(back.schema("embedding").dataType.typeName == "array")
  }

  test("Pipeline.run: one entry point chains the stages; re-runs are idempotent") {
    val dir = writeFixtures()
    val out = tempDir("graft-pipeline")
    val store = Pipeline.run(spark, dir, out, cleaner = new CountingCleaner)
    assert(store.count() == 3) // vidA 2 chunks + vidC 1; vidB aborted
    assert(spark.read.json(s"$out/cleaned").count() == 2) // cleaned mirror written
    val cleanedOnFirstRun = CountingCleaner.invocations.get()
    assert(cleanedOnFirstRun > 0)
    // Resume: nothing new -> the anti-join embeds nothing, store
    // unchanged — and mirrored videos SKIP the clean stage entirely
    // (reference parity: clean_locally.py:46-48). Only the aborted
    // vidB re-attempts (its mirror file was never written), so at most
    // its 1 pre-poison chunk re-cleans.
    assert(Pipeline.run(spark, dir, out, cleaner = new CountingCleaner).count() == 3)
    val resumeCleans = CountingCleaner.invocations.get() - cleanedOnFirstRun
    assert(resumeCleans <= 2,
      s"resume re-cleaned mirrored videos ($resumeCleans chunk cleans; expected only vidB's retry)")
    // New raw doc appears -> only ITS chunks are appended.
    val extra = new java.io.File(s"$dir/2024/01"); extra.mkdirs()
    Files.writeString(new java.io.File(extra, "vidD.json").toPath,
      """{"id": 9, "video_id": "vidD", "show_name": "S", "hosts": ["h"],
        | "title": "t", "description": "d", "published_at": 1700000000,
        | "duration": 60, "transcript_chunks": [{"text": "brand new", "start": 0.0}]}"""
        .stripMargin)
    assert(Pipeline.run(spark, dir, out, cleaner = new CountingCleaner).count() == 4)
    // The mirror now holds vidD too; a further resume cleans nothing new.
    assert(spark.read.json(s"$out/cleaned").where(col("video_id") === "vidD").count() == 1)
  }

  test("Pipeline.run: a resume with no new work reads the store with its declared schema") {
    val dir = writeFixtures()
    val out = tempDir("graft-pipeline-jobs")
    Pipeline.run(spark, dir, out)
    def storeFiles(): Int =
      new java.io.File(s"$out/store").list().count(_.endsWith(".parquet"))
    val filesBefore = storeFiles()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name).mkString(", ")); ()
      }
    }
    Thread.sleep(500) // let the first run's events drain
    spark.sparkContext.addSparkListener(listener)
    val store =
      try {
        val s = Pipeline.run(spark, dir, out)
        Thread.sleep(500) // listener bus is async
        s
      } finally spark.sparkContext.removeSparkListener(listener)
    // Inferring the store's Parquet schema would cost one job per read,
    // and the resume reads the store twice (anti-join and return value):
    // 7 jobs with inference, 5 without.
    assert(jobs.size <= 5, s"resume launched ${jobs.size} Spark jobs: $jobs")
    assert(store.schema == spark.read.parquet(s"$out/store").schema)
    assert(store.count() == 3)
    // Nothing new to store appends no (empty) part file.
    assert(storeFiles() == filesBefore,
      s"resume changed the store's part files: $filesBefore -> ${storeFiles()}")
  }
}

/** Stub cleaner that counts chunk-clean invocations via a JVM-static
  * counter (valid under local[] where executors share the JVM) — lets
  * the Pipeline test assert the resume path does not re-clean videos
  * already present in the cleaned mirror.
  */
class CountingCleaner extends StubChunkCleaner {
  override def clean(showName: String, title: String, chunkText: String): String = {
    CountingCleaner.invocations.incrementAndGet()
    super.clean(showName, title, chunkText)
  }
}
object CountingCleaner {
  val invocations = new java.util.concurrent.atomic.AtomicInteger(0)
}
