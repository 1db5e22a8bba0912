package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  test("windowedCounts: watermarked tumbling windows over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.windowedCounts(input.toDF(), "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(12), 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("event_type", "n", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("sessionize: per-user state closes sessions after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapSec = 600)
      .writeStream.format("memory").queryName("sess").outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(5), 7, "click", 2.0))
      q.processAllAvailable()
      // second batch: 30 min later -> previous session closed, new one open
      input.addData(Event(3, ts(35), 7, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select("user_id", "n_events", "total_value", "closed")
        .as[(Long, Long, Double, Boolean)].collect().toSeq
      assert(rows.contains((7L, 2L, 3.0, false))) // running update, batch 1
      assert(rows.contains((7L, 2L, 3.0, true)))  // closed on gap, batch 2
      assert(rows.contains((7L, 1L, 4.0, false))) // new session open
    } finally q.stop()
  }

  test("attributionJoinStream: keyed time-range join matches the batch join, state evicted") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val joined = StreamingOps.attributionJoinStream(
      imps.toDF(), clicks.toDF(), "user_id",
      windowSeconds = 600, watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      imps.addData(
        Event(10, ts(0), 1, "imp", 0.0),
        Event(11, ts(20), 1, "imp", 0.0),
        Event(12, ts(0), 2, "imp", 0.0))
      clicks.addData(
        Event(20, ts(5), 1, "click", 1.5),  // in [0,10) of imp 10
        Event(21, ts(10), 1, "click", 2.5), // AT window end -> excluded
        Event(22, ts(25), 1, "click", 3.5), // in [20,30) of imp 11
        Event(23, ts(9), 3, "click", 9.9))  // no imp for user 3
      q.processAllAvailable()
      // A click OLDER than the watermark (far behind the sentinel) is
      // dropped from the state buffers, not joined.
      imps.addData(Event(13, ts(300), 9, "imp", 0.0))
      clicks.addData(Event(24, ts(300), 9, "click", 0.5),
        Event(25, ts(6), 1, "click", 7.7)) // would match imp 10, but too late
      q.processAllAvailable()
      val rows = spark.table("attr")
        .select("key", "l_id", "r_id", "value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows == Set((1L, 10L, 20L, 1.5), (1L, 11L, 22L, 3.5),
        (9L, 13L, 24L, 0.5)),
        s"got $rows")
      // Batch parity over the first batch's fixture (late row excluded).
      val impsB = Seq(Event(10, ts(0), 1, "imp", 0.0),
        Event(11, ts(20), 1, "imp", 0.0), Event(12, ts(0), 2, "imp", 0.0)).toDF()
      val clicksB = Seq(Event(20, ts(5), 1, "click", 1.5),
        Event(21, ts(10), 1, "click", 2.5), Event(22, ts(25), 1, "click", 3.5),
        Event(23, ts(9), 3, "click", 9.9)).toDF()
      val batch = impsB.select(col("user_id").as("k"), col("ts").as("lts"),
          col("event_id").as("lid"))
        .join(clicksB, col("k") === col("user_id") &&
          col("ts") >= col("lts") &&
          col("ts") < col("lts") + expr("INTERVAL 600 SECONDS"))
        .select(col("k"), col("lid"), col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch == Set((1L, 10L, 20L, 1.5), (1L, 11L, 22L, 3.5)))
    } finally q.stop()
  }

  test("sessionize: closed sessions are identical to batch session_window on the same fixture") {
    // Ties the streaming path to the oracle-green batch semantics
    // (q55): same events -> same closed sessions, including the exact
    // gap-boundary event (600s apart MUST split in both paths).
    implicit val sqlCtx = spark.sqlContext
    val fixture = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(15), 1, "click", 4.0),  // exactly gap (10 min) after -> MERGES (touching windows)
      Event(4, ts(3), 2, "view", 1.0),    // out of order within the batch
      Event(5, ts(1), 2, "view", 8.0),
      Event(6, ts(30), 2, "view", 2.0),   // 27 min gap -> new session
      Event(7, ts(2), 3, "click", 5.0))   // single-event session
    val batch = fixture.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"),
        ((max(col("ts")).cast("long") - min(col("ts")).cast("long"))).as("duration_sec"))
      .select("user_id", "n_events", "total_value", "duration_sec")
      .as[(Long, Long, Double, Long)].collect().toSet

    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapSec = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("paritysess").outputMode("update").start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable()
      // Sentinel far in the future: advances the watermark past every
      // open session's gap deadline so EventTimeTimeout closes them all.
      input.addData(Event(99, ts(10000), 999, "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("paritysess")
        .where(col("closed") && col("user_id") =!= 999)
        .select("user_id", "n_events", "total_value", "duration_sec")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(streamed == batch,
        s"streaming closed sessions $streamed != batch session_window $batch")
      assert(batch.size == 4) // 1 (boundary-merged) + 2 + 1 sessions
    } finally q.stop()
  }

  test("sessionize: watermark timeout closes and evicts idle keys without new events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapSec = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_to").outputMode("update").start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
      q.processAllAvailable()
      // Only OTHER keys from here on: user 7's session must close via
      // the event-time timeout, not via a later user-7 event.
      input.addData(Event(3, ts(60), 8, "click", 9.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(65), 8, "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("sess_to")
        .select("user_id", "n_events", "total_value", "closed")
        .as[(Long, Long, Double, Boolean)].collect().toSeq
      assert(rows.contains((7L, 2L, 3.0, false)), s"missing running update in $rows")
      assert(rows.contains((7L, 2L, 3.0, true)), s"missing timeout-close in $rows")
    } finally q.stop()
  }

  test("sessionize: out-of-order hot-key micro-batch splits sessions correctly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapSec = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_ooo").outputMode("update").start()
    try {
      // One micro-batch, one hot key, events out of arrival order:
      // sorted by event time they form [0,5,9] and [30,31] (gap 10 min).
      input.addData(
        Event(1, ts(31), 9, "click", 5.0),
        Event(2, ts(0), 9, "click", 1.0),
        Event(3, ts(9), 9, "click", 3.0),
        Event(4, ts(30), 9, "click", 4.0),
        Event(5, ts(5), 9, "click", 2.0))
      q.processAllAvailable()
      val rows = spark.table("sess_ooo")
        .select("n_events", "total_value", "duration_sec", "closed")
        .as[(Long, Double, Long, Boolean)].collect().toSeq
      assert(rows.contains((3L, 6.0, 540L, true)), s"first session wrong in $rows")
      assert(rows.contains((2L, 9.0, 60L, false)), s"second session wrong in $rows")
    } finally q.stop()
  }

  test("dedupStream: duplicate content dropped within and across micro-batches, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.dedupStream(
      input.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("streamdedup").outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "alpha text"),
        (2L, ts(1), "alpha text"),   // in-batch duplicate -> dropped
        (3L, ts(2), "beta text"))
      q.processAllAvailable()
      input.addData(
        (4L, ts(3), "alpha text"),   // cross-batch duplicate within watermark -> dropped
        (5L, ts(4), "gamma text"))
      q.processAllAvailable()
      val kept = spark.table("streamdedup").select("doc_id")
        .as[Long].collect().toSet
      // No survivor-identity guarantee WITHIN a micro-batch (state-store
      // processing order picks the in-batch winner) — assert exactly one
      // alpha survivor from batch 1, and that the cross-batch duplicate
      // (doc 4, after alpha is definitely in state) is dropped.
      assert(!kept.contains(4L), s"cross-batch duplicate survived: $kept")
      assert(Set(3L, 5L).subsetOf(kept), s"unique docs missing: $kept")
      assert(kept.contains(1L) != kept.contains(2L), s"want one alpha survivor: $kept")
    } finally q.stop()
  }

  test("incrementalStoreSink: replayed chunks are idempotent via anti-join") {
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft-stream-store") + "/st"
    val ckpt = tempDir("graft-stream-ckpt")

    val input = MemoryStream[(String, Double, String)]
    val df = input.toDF().toDF("video_id", "start_time", "text")
    input.addData(("v1", 0.0, "a"), ("v1", 10.0, "b"))
    val q1 = StreamingOps.incrementalStoreSink(df, store, ckpt)
    q1.awaitTermination()
    // second run re-sends an existing chunk plus one new one
    input.addData(("v1", 10.0, "b"), ("v2", 0.0, "c"))
    val q2 = StreamingOps.incrementalStoreSink(df, store, ckpt)
    q2.awaitTermination()

    val back = spark.read.parquet(store).select("video_id", "start_time")
      .as[(String, Double)].collect().toSet
    assert(back == Set(("v1", 0.0), ("v1", 10.0), ("v2", 0.0)))
  }

  test("PII scrub and quality funnel run unchanged inside a stream (map-only, no state)") {
    // A stream-ingest pipeline scrubs and filters BEFORE landing
    // anything — both operators must be pure row-wise projections so
    // they attach to a streaming source with no watermark, state store,
    // or output-mode constraints. This pins that property: a stateful
    // or otherwise stream-illegal construct would fail query analysis
    // here, not in production.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val rules = graft.ops.QualityFilter.gopherRules(col("text"))
    val out = df.select(col("doc_id"),
      graft.ops.Pii.redactAll(col("text")).as("redacted"),
      graft.ops.Pii.countEmails(col("text")).as("n_emails"),
      graft.ops.QualityFilter.verdict(rules).as("verdict"))
    input.addData(
      (1L, "the quick brown fox jumps over the lazy dog and it is a sunny day in autumn weather write me at a@b.io"),
      (2L, "tiny doc"))
    val q = out.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("pii_stream")
      .as[(Long, String, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2.endsWith("write me at <EMAIL>") && got(1L)._3 == 1)
    assert(got(1L)._4 == "pass")
    assert(got(2L)._4 == "too_short" && got(2L)._3 == 0)
  }

  test("cdcStream: added on first sight, changed on new hash, silence on re-delivery") {
    implicit val sqlCtx = spark.sqlContext
    // (key, text, seq)
    val input = MemoryStream[(Long, String, Long)]
    val out = StreamingOps.cdcStream(
      input.toDF().toDF("doc_id", "text", "seq"),
      "doc_id", Seq("text"), "seq")
    val q = out.writeStream.format("memory").queryName("cdc")
      .outputMode("append").start()
    try {
      // Batch 1: two new docs; doc 4 appears twice IN one batch with
      // different content (added then changed, in seq order).
      input.addData((1L, "v1", 1L), (2L, "v1", 2L), (4L, "v1", 3L), (4L, "v2", 4L))
      q.processAllAvailable()
      val b1 = spark.table("cdc").as[(Long, String)].collect().toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
      assert(b1 == Map((1L, "added") -> 1, (2L, "added") -> 1,
        (4L, "added") -> 1, (4L, "changed") -> 1))
      // Batch 2: doc 1 re-delivered unchanged (no emission), doc 2
      // changed, doc 3 new, doc 4 re-delivered at its LAST content
      // (state carries v2 across batches -> silence).
      input.addData((1L, "v1", 5L), (2L, "v2", 6L), (3L, "v1", 7L), (4L, "v2", 8L))
      q.processAllAvailable()
      val all = spark.table("cdc").as[(Long, String)].collect().toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
      assert(all == Map((1L, "added") -> 1, (2L, "added") -> 1,
        (4L, "added") -> 1, (4L, "changed") -> 1,
        (2L, "changed") -> 1, (3L, "added") -> 1))
    } finally q.stop()
  }

  test("funnelStream: final outcomes equal batch funnelMatch, incl. cross-batch state") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val fixture = Seq(
      // user 1: completes — view(0) -> click(4) -> purchase(9); the
      // decoy click at 2 before the view must not bind, the second
      // click at 6 must not rebind (earliest-occurrence convention).
      Event(10, ts(2), 1, "click", 0.0),
      Event(11, ts(0), 1, "view", 0.0),
      Event(12, ts(4), 1, "click", 0.0),
      Event(13, ts(6), 1, "click", 0.0),
      Event(14, ts(9), 1, "purchase", 0.0),
      // user 2: breaks at the gap — view(0), click at 20 min > 10-min
      // gap, so steps_completed stays 1.
      Event(20, ts(0), 2, "view", 0.0),
      Event(21, ts(20), 2, "click", 0.0),
      // user 3: never does step 1 -> no row in either path.
      Event(30, ts(1), 3, "click", 0.0),
      // user 4: view(0) -> click(8), purchase never comes.
      Event(40, ts(0), 4, "view", 0.0),
      Event(41, ts(8), 4, "click", 0.0))
    val batch = graft.ops.Funnel.funnelMatch(
        fixture.toDF(), "user_id", "ts", "event_type", steps, maxGapSeconds = 600)
      .collect().map { r =>
        val tss = (0 until steps.size).map(i => Option(r.getTimestamp(2 + i)))
        (r.getLong(0), r.getInt(1), tss.flatten.map(_.getTime))
      }.toSet
    val input = MemoryStream[Event]
    val q = StreamingOps.funnelStream(input.toDS(), steps, maxGapSeconds = 600,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnelp").outputMode("append").start()
    try {
      // Split mid-funnel so user 1/4's cursors cross a batch boundary.
      val (b1, b2) = fixture.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(5)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      // Sentinel advances the watermark past every gap deadline so
      // EventTimeTimeout finalizes the broken funnels.
      input.addData(Event(99, ts(10000), 999, "flush", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("funnelp")
        .where(col("key") =!= 999)
        .as[FunnelResult].collect()
        .map(r => (r.key, r.steps_completed, r.ts_ms)).toSet
      assert(streamed == batch, s"streaming $streamed != batch $batch")
      // The fixture exercises all three shapes: complete, gap-break,
      // mid-funnel stall; the never-started key appears in neither.
      assert(batch.map(_._1) == Set(1L, 2L, 4L))
      assert(batch.find(_._1 == 1L).get._2 == 3)
    } finally q.stop()
  }

  test("markovStream: running (src,dst) counts equal batch transitionMatrix") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = Seq(
      Event(1, ts(0), 1, "view", 0.0),
      Event(2, ts(1), 1, "click", 0.0),
      Event(3, ts(2), 1, "view", 0.0),
      Event(4, ts(3), 1, "click", 0.0),
      Event(5, ts(0), 2, "view", 0.0),
      Event(6, ts(2), 2, "purchase", 0.0),
      Event(7, ts(9), 3, "click", 0.0)) // single event: no transition
    val batch = graft.ops.Markov.transitionMatrix(
        fixture.toDF(), "user_id", "ts", "event_type", "event_id")
      .select("src", "dst", "n")
      .as[(String, String, Long)].collect().toSet
    val input = MemoryStream[Event]
    // The unwindowed update-mode matrix agg discards nothing, so the
    // global-watermark guard's flagged risk cannot occur (see the
    // markovStream Scaladoc); acknowledge it the documented way.
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = StreamingOps.markovStream(input.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("markovp").outputMode("update").start()
    try {
      // In-order chunks split ACROSS user 1's sequence: the ts(2)
      // transition spans the batch boundary through the keyed cursor.
      val sorted = fixture.sortBy(e => (e.ts.getTime, e.event_id))
      val (b1, b2) = sorted.splitAt(4)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      // Update-mode memory sink appends each revision; the final count
      // per (src, dst) is the max (counts only grow).
      val streamed = spark.table("markovp")
        .groupBy(col("src"), col("dst")).agg(max(col("n")).as("n"))
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch, s"streaming $streamed != batch $batch")
      assert(batch.exists(t => t._1 == "view" && t._2 == "click"))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    }
  }

  test("nearDedupStoreSink: exact + near dups dropped across batches; replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardedup")
    val store = s"$dir/store"
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val nearA = base + " extra"        // trigram J vs base well above 0.8
    val distinctC = (0 until 30).map(i => s"z$i").mkString(" ")
    val nearC = distinctC + " tail"

    def runBatch(n: Int, rows: (Long, String)*): Unit = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      val q = StreamingOps.nearDedupStoreSink(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        store, s"$dir/ckpt$n")
      q.awaitTermination() // AvailableNow: drains and stops
    }
    def storedIds(): Set[Long] =
      spark.read.parquet(store).select("doc_id")
        .as[Long].collect().toSet

    // Batch 1: B is an in-batch near-dup of A (higher id loses).
    runBatch(1, (1L, base), (2L, nearA), (3L, distinctC))
    assert(storedIds() == Set(1L, 3L), s"in-batch near-dup must drop: ${storedIds()}")
    // Batch 2: exact replay of A's text, a near-dup of C, one new doc.
    runBatch(2, (10L, base), (11L, nearC), (12L, "completely different content here"))
    assert(storedIds() == Set(1L, 3L, 12L),
      s"exact replay + near-dup vs store must drop: ${storedIds()}")
    // Batch 3: replay batch 2's surviving content under new ids — all
    // text already stands in the corpus, nothing appends.
    runBatch(3, (20L, "completely different content here"), (21L, base))
    assert(storedIds() == Set(1L, 3L, 12L), s"replay must be idempotent: ${storedIds()}")
  }

  test("nearDedupStoreSinkIndexed: same dedup semantics via the corpus index; survives catalog loss") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-neardedup-idx")
    val store = s"$dir/store"
    val index = s"$dir/index"
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val nearA = base + " extra"
    val distinctC = (0 until 30).map(i => s"z$i").mkString(" ")
    val nearC = distinctC + " tail"

    def runBatch(n: Int, rows: (Long, String)*): Unit = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      val q = StreamingOps.nearDedupStoreSinkIndexed(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        store, index, s"$dir/ckpt$n", tablePrefix = "t_sinkidx")
      q.awaitTermination()
    }
    def storedIds(): Set[Long] =
      spark.read.parquet(store).select("doc_id").as[Long].collect().toSet

    runBatch(1, (1L, base), (2L, nearA), (3L, distinctC))
    assert(storedIds() == Set(1L, 3L), s"in-batch near-dup must drop: ${storedIds()}")
    runBatch(2, (10L, base), (11L, nearC), (12L, "completely different content here"))
    assert(storedIds() == Set(1L, 3L, 12L),
      s"exact replay + near-dup vs index must drop: ${storedIds()}")
    // Restart simulation: the catalog forgets the index tables (a new
    // session would), the files remain — the sink's StandingStore
    // rebind must restore them and keep deduping.
    for (t <- Seq("meta", "sets", "prefix", "texts"))
      spark.sql(s"DROP TABLE IF EXISTS t_sinkidx_$t")
    runBatch(3, (20L, "completely different content here"), (21L, base))
    assert(storedIds() == Set(1L, 3L, 12L), s"replay must be idempotent: ${storedIds()}")
    // The rebound index still carries every stored document's text.
    assert(spark.table("t_sinkidx_texts").count() == 3L)
  }

  test("familyStoreSink: store == from-scratch ensemble after every batch; replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-famsink")
    val docsPath = s"$dir/docs"
    val famPath = s"$dir/fams"
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val nearA = base + " extra"
    val other = (0 until 30).map(i => s"z$i").mkString(" ")
    def runBatch(n: Int, rows: (Long, String, Array[Float], Int)*): Unit = {
      val input = MemoryStream[(Long, String, Array[Float], Int)]
      input.addData(rows: _*)
      val q = StreamingOps.familyStoreSink(
        input.toDF().toDF("doc_id", "text", "embedding", "label"),
        "doc_id", "text", "embedding", "label",
        docsPath, famPath, s"$dir/ckpt$n")
      q.awaitTermination()
    }
    def famCanon(): Seq[String] =
      spark.read.parquet(famPath)
        .select(col("id"), col("family"), col("family_size"),
          col("signals"), col("is_canonical"))
        .collect().map(_.mkString("|")).sorted.toSeq
    def scratchCanon(): Seq[String] = {
      val all = spark.read.parquet(docsPath)
      val out = graft.ops.EnsembleDedup.standardDupFamilies(all,
          "text", "doc_id", all, "embedding", "doc_id", "label", 0.8, 0.4)
        .collect().map(_.mkString("|")).sorted.toSeq
      graft.core.Caches.releaseAll()
      out
    }
    // Batch 1: a jaccard pair (1,2) and two singletons in separate
    // label blocks.
    runBatch(1, (1L, base, Array(1f, 0f), 0), (2L, nearA, Array(0f, 1f), 1),
      (3L, other, Array(0.6f, 0.8f), 2))
    assert(famCanon() == scratchCanon(), "batch 1 parity")
    // Batch 2: doc 10 equals doc 3's text exactly (exact bit) AND is
    // cosine-close to doc 11 (same label) — and doc 11 is a jaccard
    // near-dup of doc 1: one batch BRIDGES the standing {1,2} family,
    // a standing singleton, and two new docs into one family.
    runBatch(2, (10L, other, Array(0.59f, 0.81f), 2),
      (11L, base + " tail", Array(0.61f, 0.79f), 2))
    assert(famCanon() == scratchCanon(), "batch 2 parity (merge across batches)")
    val fams = spark.read.parquet(famPath)
      .select(col("id"), col("family")).as[(Long, Long)].collect().toMap
    assert(fams(11L) == fams(1L), "cross-batch jaccard edge joins 11 to 1's family")
    assert(fams(10L) == fams(3L), "exact-content edge joins 10 to 3's family")
    // Batch 3: replay of batch-2 ids with different payloads — already
    // known ids are anti-joined away, nothing changes.
    val before = famCanon()
    runBatch(3, (10L, "anything", Array(0f, 1f), 5),
      (11L, "else", Array(1f, 0f), 5))
    assert(famCanon() == before, "replayed ids are a no-op")
    assert(spark.read.parquet(docsPath).count() == 5L)
  }

  test("lineStatsStoreSink: streamed partials == direct lineStats; replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-stream-lines")
    val prefix = "t_stream_linestats"
    // Store must exist before the stream: initialize EMPTY.
    graft.ops.Boilerplate.writeLineStats(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id",
      tablePrefix = prefix, basePath = s"$dir/store")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    def run(): Unit = {
      val q = StreamingOps.lineStatsStoreSink(df, "text", "doc_id",
        prefix, s"$dir/seen", s"$dir/ckpt")
      q.awaitTermination()
    }
    input.addData((1L, "shared footer\nunique a"), (2L, "shared footer\nunique b"))
    run()
    input.addData((3L, "shared footer\nshared footer"), // 2 occurrences, 1 doc
      (2L, "replayed payload must not count"))          // replayed id -> dropped
    run()
    val stored = graft.ops.Boilerplate
      .storedLineStats(spark, prefix).orderBy("line_hash")
      .as[(Long, Long, Long)].collect().toSeq
    val direct = graft.ops.Boilerplate.lineStats(
        Seq((1L, "shared footer\nunique a"), (2L, "shared footer\nunique b"),
          (3L, "shared footer\nshared footer")).toDF("doc_id", "text"),
        "text", "doc_id").orderBy("line_hash")
      .as[(Long, Long, Long)].collect().toSeq
    assert(stored == direct,
      s"streamed partials must merge to the direct counts: $stored vs $direct")
    // Crash-window replay guard (advisor round-11): each batch's
    // partials are stamped with its streaming batch id, so a restart
    // that replays a batch whose stats append committed (but whose
    // seen-ids write did not) detects the stamp and skips the append
    // instead of double-counting. Both processed batch ids must be
    // probeable; an unseen id must not be.
    assert(graft.ops.Boilerplate.lineStatsHasBatch(spark, prefix, 0L),
      "batch 0 partials carry their stamp")
    assert(graft.ops.Boilerplate.lineStatsHasBatch(spark, prefix, 1L),
      "batch 1 partials carry their stamp")
    assert(!graft.ops.Boilerplate.lineStatsHasBatch(spark, prefix, 99L),
      "unseen batch id probes false")
    // And the cleaner consumes the standing store: "shared footer"
    // (3 docs) strips, uniques survive.
    val cleaned = graft.ops.Boilerplate.removeAgainstLineStats(
        Seq((9L, "shared footer\nunique c")).toDF("doc_id", "text"),
        "text", "doc_id", minDocs = 3L, tablePrefix = prefix)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(cleaned == Seq((9L, "unique c", 1L, 1L)))
    graft.core.Caches.releaseAll()
  }
}
