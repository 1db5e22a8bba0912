package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY.md §2.9): the reference is
  * batch-incremental (idempotent re-runs + skip state); this module
  * exposes the same pipeline shapes as streams —
  * `readStream -> transforms -> writeStream` with watermarked windowed
  * aggregations and keyed custom state.
  *
  * Scale posture: windowed aggs shuffle once on (window, key) with
  * watermark-bounded state; sessionization state is per-key and evicted
  * on gap timeout; the incremental store sink keeps the reference's J5
  * anti-join idempotency inside `foreachBatch` so replays never
  * duplicate rows.
  */

/** One stream event (mirrors the events test table). */
case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Running per-user session accumulator. */
case class SessionState(nEvents: Long, totalValue: Double, startMs: Long, lastMs: Long)

/** One emitted CDC delta from [[StreamingOps.cdcStream]]. */
case class CdcChange(key: Long, status: String)

/** Emitted session row (update-mode: running totals per session). */
case class SessionUpdate(
    user_id: Long,
    n_events: Long,
    total_value: Double,
    duration_sec: Long,
    closed: Boolean)

/** Per-key funnel cursor: epoch-millis of each matched step so far. */
case class FunnelState(matchedMs: List[Long])

/** One FINAL funnel outcome from [[StreamingOps.funnelStream]]. */
case class FunnelResult(key: Long, steps_completed: Int, ts_ms: Seq[Long])

/** Per-user Markov cursor: the last seen event (its order key + type). */
case class LastEvent(tsMs: Long, tie: Long, typ: String)

object StreamingOps {

  /** File-source stream over a document/event directory with an
    * enforced schema (streaming S3: every new file is one micro-batch
    * increment).
    */
  def fileStream(spark: SparkSession, dir: String, schemaOf: DataFrame): DataFrame =
    spark.readStream.schema(schemaOf.schema).option("maxFilesPerTrigger", 16).json(dir)

  /** §2.9 tumbling windowed counts with a watermark: late events beyond
    * `watermark` are dropped and window state is evicted — bounded state
    * at any scale. Batch-equivalent of q21.
    */
  def windowedCounts(
      events: DataFrame,
      windowDur: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // Exact order-independent sum via scaled-long integer math
        // (per-row decimal casts allocate BigDecimals at scale).
        (sum(rint(col("value") * lit(100.0)).cast("long")) / lit(100.0)).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Keyed custom state via flatMapGroupsWithState: per-user sessions
    * closed after `gapSec` of event-time silence. Emits a running update
    * per batch, and a final `closed` row when a later event exceeds the
    * gap OR when the watermark passes last-event + gap
    * (EventTimeTimeout) — so idle keys are closed and their state
    * EVICTED without ever seeing another event, and total state is
    * bounded by the set of currently-active sessions.
    *
    * Memory: the per-key in-batch buffer holds only primitive
    * (epoch-ms, value) pairs — not event rows — and late events beyond
    * `watermark` never reach the function, so a hot key in one
    * micro-batch costs 16 bytes/event, bounded by the per-trigger input.
    */
  def sessionize(
      events: Dataset[Event],
      gapSec: Long = 1800,
      watermark: String = "1 hour"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastMs + gap: close and evict the key.
            val st = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, st.nEvents, st.totalValue,
              (st.lastMs - st.startMs) / 1000, closed = true))
          } else {
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
            it.foreach(e => buf += ((e.ts.getTime, e.value)))
            val sorted = buf.sortInPlaceBy(_._1)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
            var st = state.getOption.orNull
            for ((ms, value) <- sorted) {
              // Strict > matches batch session_window semantics exactly:
              // each event's window is [ts, ts + gap) and Spark merges
              // TOUCHING windows, so an event at precisely gap distance
              // CONTINUES the session (verified empirically; the parity
              // test pins streaming == batch on this exact boundary).
              if (st != null && ms - st.lastMs > gapSec * 1000) {
                out += SessionUpdate(userId, st.nEvents, st.totalValue,
                  (st.lastMs - st.startMs) / 1000, closed = true)
                st = null
              }
              st =
                if (st == null) SessionState(1, value, ms, ms)
                else SessionState(st.nEvents + 1, st.totalValue + value, st.startMs, ms)
            }
            if (st != null) {
              state.update(st)
              // Fire when the watermark passes the gap deadline (clamped
              // above the current watermark, which Spark requires).
              state.setTimeoutTimestamp(math.max(st.lastMs + gapSec * 1000,
                state.getCurrentWatermarkMs() + 1))
              out += SessionUpdate(userId, st.nEvents, st.totalValue,
                (st.lastMs - st.startMs) / 1000, closed = false)
            }
            out.iterator
          }
      }
  }

  /** Streaming exact dedup (the §2.11 batch `Dedup.exact` as a stream):
    * drop any document whose content hash was already seen, with
    * BOUNDED state — `dropDuplicatesWithinWatermark` keeps a seen-set
    * only for the watermark window, so state never grows with corpus
    * size (the batch form's full-corpus window is impossible on an
    * unbounded stream; a duplicate arriving later than the watermark
    * re-admits, the standard trade, and the idempotent store sink's
    * anti-join downstream still catches replays).
    */
  def dedupStream(
      docs: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .withColumn("__h", sha2(col(textCol), 256))
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Streaming twin of [[graft.ops.SnapshotDiff]]: an insert-only
    * stream of (key, content, event-time) rows becomes a stream of CDC
    * DELTAS — `added` the first time a key appears, `changed` whenever
    * its content hash differs from the last seen one; unchanged
    * re-deliveries emit nothing (that silence is the operator's whole
    * value: downstream re-embed/re-clean work triggers only on real
    * change). `removed` is unobservable from an insert-only stream by
    * construction — removals come from the batch snapshot diff or from
    * explicit tombstone rows upstream.
    *
    * State: ONE 64-bit hash per key (the minimal CDC memory),
    * partitioned by key in the state store — at corpus scale this is
    * the RocksDB-backed keyed state Spark already shards per
    * partition. No timeout: a document may legitimately change after
    * any silence, so CDC state has no watermark-safe eviction; bound
    * it operationally (state-store TTL / snapshot compaction) when
    * keys are transient. Within a batch, rows fold in event-time order
    * so a key that appears twice in one micro-batch emits
    * added-then-changed exactly as it would across batches.
    */
  def cdcStream(
      docs: DataFrame,
      keyCol: String,
      contentCols: Seq[String],
      seqCol: String): Dataset[CdcChange] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(keyCol).cast("long").as("key"),
        xxhash64(contentCols.map(col): _*).as("h"),
        col(seqCol).cast("long").as("seq"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, CdcChange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Long]) =>
          val ordered = rows.toSeq.sortBy(_._3).map(_._2)
          val out = scala.collection.mutable.ArrayBuffer.empty[CdcChange]
          var last: Option[Long] = state.getOption
          for (h <- ordered) {
            last match {
              case None => out += CdcChange(key, "added")
              case Some(prev) if prev != h => out += CdcChange(key, "changed")
              case _ => ()
            }
            last = Some(h)
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** §2.9 stream-stream attribution join: each right-stream event
    * (click) matched to the left-stream events (impressions) of the
    * SAME key within `[l.ts, l.ts + windowSeconds)` — the streaming
    * twin of [[graft.ops.RangeJoin.pointInIntervalJoin]], with the
    * equi key Spark's streaming symmetric hash join requires (it
    * partitions both buffers; a keyless stream-stream theta join is
    * unsupported and would be unbounded anyway).
    *
    * The watermarks plus the two-sided time-range conjunct are what
    * BOUND THE STATE: Spark derives from them how long each side's
    * buffered rows can still find a partner (left rows age out
    * `windowSeconds` after their event time passes the right
    * watermark; right rows as soon as the left watermark passes), and
    * evicts state automatically — without the range condition, both
    * buffers grow forever. Inner join, so unmatched rows simply expire.
    */
  def attributionJoinStream(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      windowSeconds: Long,
      watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(keyCol).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(keyCol).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"), col("value"))
    l.join(r, col("l_key") === col("r_key") && col("r_ts") >= col("l_ts") &&
      col("r_ts") < col("l_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("l_key").as("key"), col("l_id"), col("r_id"),
        col("l_ts"), col("r_ts"), col("value"))
  }

  /** Streaming twin of [[graft.ops.Funnel.funnelMatch]]: per-key
    * greedy-earliest step matching as keyed state with DETERMINISTIC
    * eviction. State per key = the matched-step timestamp list (at most
    * `steps.size` longs); a key is emitted and evicted the moment its
    * funnel COMPLETES, or when the watermark passes
    * `last matched + maxGap` — after which no in-watermark event can
    * extend the chain, so the emitted row is FINAL (append mode, one
    * row per key that matched step 1, exactly the batch operator's row
    * domain).
    *
    * Parity: with arrivals in event-time order (any batching), the
    * greedy fold computes exactly the batch semantics — each step binds
    * its earliest qualifying occurrence (micro-batch contents sort on
    * (ts, event_id) first). An event arriving out of order WITHIN the
    * watermark may bind a later occurrence than the batch run would
    * (still a valid chain; the standard streaming-funnel trade);
    * events later than the watermark drop entirely.
    */
  def funnelStream(
      events: Dataset[Event],
      steps: Seq[String],
      maxGapSeconds: Long,
      watermark: String = "1 hour"): Dataset[FunnelResult] = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"steps must be non-empty and distinct, got $steps")
    import events.sparkSession.implicits._
    val gapMs = maxGapSeconds * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // Watermark passed last match + gap: the chain can no
            // longer extend — the outcome is final.
            val m = state.get.matchedMs
            state.remove()
            Iterator.single(FunnelResult(key, m.size, m.reverse))
          } else {
            val buf = scala.collection.mutable.ArrayBuffer.empty[Event]
            it.foreach(buf += _)
            val sorted = buf.sortInPlaceBy(e => (e.ts.getTime, e.event_id))
            // matchedMs is kept NEWEST-FIRST so the fold appends in O(1).
            var matched = state.getOption.map(_.matchedMs).getOrElse(Nil)
            for (e <- sorted if matched.size < steps.size) {
              val ms = e.ts.getTime
              if (e.event_type == steps(matched.size) &&
                (matched.isEmpty ||
                  (ms > matched.head && ms <= matched.head + gapMs)))
                matched = ms :: matched
            }
            if (matched.size == steps.size) {
              // Completed: final by construction, evict immediately.
              state.remove()
              Iterator.single(FunnelResult(key, matched.size, matched.reverse))
            } else if (matched.nonEmpty) {
              state.update(FunnelState(matched))
              state.setTimeoutTimestamp(math.max(matched.head + gapMs,
                state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            } else Iterator.empty
          }
      }
  }

  /** Streaming twin of [[graft.ops.Markov.transitionMatrix]]'s count
    * core: per-user keyed state holds ONLY the last event (order key +
    * type); each arrival emits the (src, dst) transition it completes,
    * and a downstream streaming aggregation keeps the running
    * (src, dst, n) matrix — |types|² rows of state, constant in stream
    * length. Micro-batch contents fold in (ts, event_id) order, so an
    * in-order stream reproduces the batch matrix exactly (the parity
    * pin); out-of-order arrivals within the watermark count the
    * transitions their arrival order implies (the streaming trade —
    * the batch operator re-sorts history, a stream cannot).
    *
    * State eviction: a user idle past `idleEvictSeconds` (event time)
    * is dropped; a transition spanning a longer silence goes uncounted
    * (bounded state on unbounded users — same trade as
    * [[dedupStream]]'s watermark window).
    *
    * NOTE: chaining keyed state into an aggregation trips Spark's
    * GLOBAL-WATERMARK correctness guard (stateful-after-stateful), a
    * conservative check aimed at downstream operators that DISCARD
    * late rows on watermark. The matrix aggregation here is
    * UNWINDOWED update-mode — it evicts nothing and counts every
    * transition whenever it arrives — so the flagged risk cannot
    * occur; run the query with
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * (Spark's documented acknowledgement knob for exactly this
    * pattern). The knob is SESSION-GLOBAL: it also silences the guard
    * for every OTHER streaming query on the same session, where it may
    * be flagging a real late-data bug — so run the markov query on a
    * DEDICATED session (`spark.newSession()` shares the state store and
    * costs nothing), or set/reset the conf tightly around this query's
    * start; do not leave it disabled on a shared session.
    */
  def markovStream(
      events: Dataset[Event],
      watermark: String = "1 hour",
      idleEvictSeconds: Long = 86400L): DataFrame = {
    import events.sparkSession.implicits._
    val transitions = events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, (String, String, java.sql.Timestamp)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val buf = scala.collection.mutable.ArrayBuffer.empty[Event]
            it.foreach(buf += _)
            val sorted = buf.sortInPlaceBy(e => (e.ts.getTime, e.event_id))
            var last = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(String, String, java.sql.Timestamp)]
            for (e <- sorted) {
              if (last != null) out += ((last.typ, e.event_type, e.ts))
              last = LastEvent(e.ts.getTime, e.event_id, e.event_type)
            }
            if (last != null) {
              state.update(last)
              state.setTimeoutTimestamp(math.max(last.tsMs + idleEvictSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
      .toDF("src", "dst", "ts")
    transitions.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
  }

  /** Incremental store sink: each micro-batch anti-joins against what
    * the store already holds on (video_id, start_time) — the reference's
    * J5 resumability (build_vector_store.py:78-80) as a streaming sink,
    * so replayed batches are idempotent.
    */
  def incrementalStoreSink(
      chunks: DataFrame,
      storePath: String,
      checkpoint: String): StreamingQuery =
    chunks.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fresh =
          if (graft.core.FsUtil.exists(spark, storePath)) {
            val existing = spark.read.parquet(storePath).select("video_id", "start_time")
            batch.join(existing, Seq("video_id", "start_time"), "left_anti")
          } else batch
        fresh.write.mode("append").parquet(storePath)
      }
      .start()

  /** Streaming NEAR-dedup corpus sink — the daily-append discipline as
    * a stream: each micro-batch is staged against the STANDING corpus
    * with [[graft.ops.DedupCascade.cascadeAgainst]] (semi-join exact
    * stage, prefix-filtered R-S Jaccard near stage — never a corpus
    * self-join, never batch×corpus all-pairs), and only 'kept'
    * documents append to the store. This is precisely what a corpus
    * ingest pipeline runs on every increment; the batch operator's
    * oracle row (q134) pins the per-batch semantics, so the streaming
    * wrapper needs only delivery/idempotency properties:
    * exactly-once-per-content via the exact stage (a replayed doc's
    * text already sits in the store and leaves as 'exact_corpus'), and
    * state living in the STORE, not the stream — restarts resume from
    * the parquet corpus, nothing is lost with the checkpoint.
    *
    * In-batch duplicates: the batch self-cascades first
    * ([[graft.ops.DedupCascade.cascade]]), so two near-dup documents
    * arriving in ONE micro-batch collapse exactly as they would
    * arriving in two.
    *
    * Expects columns (`idCol`, `textCol`); the store holds the same.
    */
  def nearDedupStoreSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      checkpoint: String,
      threshold: Double = 0.8,
      shingleN: Int = 3): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val selfKept = graft.ops.DedupCascade
          .cascade(batch, textCol, idCol, threshold, shingleN)
          .where(col("stage") === "kept")
          .select(col("id").as(idCol))
          .join(batch, Seq(idCol))
        val kept =
          if (graft.core.FsUtil.exists(spark, storePath)) {
            val corpus = spark.read.parquet(storePath)
            graft.ops.DedupCascade
              .cascadeAgainst(selfKept, corpus, textCol, idCol, threshold, shingleN)
              .where(col("stage") === "kept")
              .select(col("id").as(idCol))
              .join(selfKept, Seq(idCol))
          } else selfKept
        kept.write.mode("append").parquet(storePath)
        graft.core.Caches.releaseAll()
      }
      .start()

  /** [[nearDedupStoreSink]] with the standing corpus served by the
    * MATERIALIZED index ([[graft.ops.Dedup.writeCorpusIndex]]) instead
    * of re-deriving shingles from the store parquet every micro-batch:
    * the daily-append loop at its cheapest. First batch builds the
    * index at `indexPath`; every later batch (re)binds the catalog
    * entries ([[graft.core.StandingStore.rebind]] — restart-safe:
    * catalog entries are session-scoped, the index files are not),
    * cascades against the bucketed tables, appends survivors to BOTH
    * the document store and the index
    * ([[graft.ops.Dedup.appendToCorpusIndex]]). Exactly-once per
    * content as before — state lives in the store+index, replays drop
    * by content.
    */
  def nearDedupStoreSinkIndexed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      indexPath: String,
      checkpoint: String,
      tablePrefix: String = "graft_sink_index",
      threshold: Double = 0.8,
      shingleN: Int = 3): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val selfKept = graft.ops.DedupCascade
          .cascade(batch, textCol, idCol, threshold, shingleN)
          .where(col("stage") === "kept")
          .select(col("id").as(idCol))
          .join(batch, Seq(idCol))
        val hasIndex = graft.core.FsUtil.exists(spark, s"$indexPath/meta")
        val kept =
          if (hasIndex) {
            graft.core.StandingStore(spark, tablePrefix, indexPath)
              .rebind(graft.ops.Dedup.corpusIndexTables: _*)
            graft.ops.DedupCascade
              .cascadeAgainstIndex(selfKept, textCol, idCol, threshold, tablePrefix)
              .where(col("stage") === "kept")
              .select(col("id").as(idCol))
              .join(selfKept, Seq(idCol))
          } else selfKept
        // Materialize the survivors ONCE before the three writes below
        // read them (store append + two index appends — unpersisted,
        // each write would re-run the cascade).
        val keptP = graft.core.Caches.persistTracked(kept)
        keptP.write.mode("append").parquet(storePath)
        if (hasIndex)
          graft.ops.Dedup.appendToCorpusIndex(keptP, textCol, idCol, tablePrefix)
        else
          graft.ops.Dedup.writeCorpusIndex(keptP, textCol, idCol, threshold,
            shingleN, tablePrefix, indexPath)
        graft.core.Caches.releaseAll()
      }
      .start()

  /** Streaming twin of q150: maintain an ensemble FAMILY STORE across
    * micro-batches. Each batch of (id, text, embedding, label) rows is
    * assigned to the standing families via
    * [[graft.ops.EnsembleDedup.assignToFamiliesWithUpdates]] — batch-
    * incident signals only (hash exact, R-S + self jaccard, label-
    * blocked cosine), corpus endpoints collapsed to family supernodes —
    * then the docs store appends the batch and the family store is
    * rewritten with the merged rows. Invariant (pinned in
    * StreamingSpec): after any number of batches the family store
    * equals `standardDupFamilies` recomputed from scratch over the
    * accumulated docs store.
    *
    * Replay safety: ids already present in the docs store are anti-
    * joined away first (the J5 discipline), so a redelivered batch is a
    * no-op — state lives in the two stores, not the checkpoint.
    *
    * Self-read hazard handled explicitly: the family store is READ
    * (prior) and OVERWRITTEN in the same micro-batch, so the new
    * content is eagerly materialized (localCheckpoint inside the op for
    * the prior snapshot, plus one here for the merged relation) before
    * the overwrite starts — the appendToCorpusIndex lesson. The
    * per-batch full rewrite of the family relation is the portable
    * parquet form of what a merge-on-write table format does in place;
    * at deployment scale the store is partitioned by family range and
    * only partitions containing updated families rewrite.
    */
  def familyStoreSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      embCol: String,
      labelCol: String,
      docsPath: String,
      famPath: String,
      checkpoint: String,
      jaccardThreshold: Double = 0.8,
      cosineThreshold: Double = 0.4,
      shingleN: Int = 3): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batchRaw: DataFrame, _: Long) =>
        val spark = batchRaw.sparkSession
        import graft.ops.EnsembleDedup
        val hasDocs = graft.core.FsUtil.exists(spark, docsPath)
        val newOnly =
          if (hasDocs)
            batchRaw.dropDuplicates(idCol)
              .join(spark.read.parquet(docsPath).select(col(idCol)),
                Seq(idCol), "left_anti")
          else batchRaw.dropDuplicates(idCol)
        // Eager cut: the batch is consumed by several signal producers
        // and two writes; a streaming-source plan must not be re-run.
        val batch = newOnly.localCheckpoint()
        if (!batch.isEmpty) {
          if (!graft.core.FsUtil.exists(spark, famPath)) {
            // First corpus: the batch IS the corpus — full ensemble.
            EnsembleDedup.standardDupFamilies(batch, textCol, idCol,
                batch, embCol, idCol, labelCol,
                jaccardThreshold, cosineThreshold, shingleN)
              .localCheckpoint()
              .write.mode("overwrite").parquet(famPath)
          } else {
            val prior = spark.read.parquet(famPath)
            val corpus = spark.read.parquet(docsPath)
            val bh = batch.select(col(idCol).as("id_a"),
              xxhash64(col(textCol)).as("__h"))
            val ah = corpus.unionByName(batch, allowMissingColumns = true)
              .select(col(idCol).as("id_b"), xxhash64(col(textCol)).as("__h"))
            val exactPairs = bh.join(ah, Seq("__h"))
              .where(col("id_a") =!= col("id_b"))
              .select(col("id_a"), col("id_b"))
            val jacPairs = graft.ops.Dedup.jaccardJoinAgainst(batch, corpus,
                textCol, idCol, jaccardThreshold, shingleN)
              .select(col("id_in").as("id_a"), col("id_corpus").as("id_b"))
              .unionByName(graft.ops.Dedup.jaccardJoinExact(batch,
                  textCol, idCol, jaccardThreshold, shingleN)
                .select(col("id_a"), col("id_b")))
            val ea = batch.select(col(labelCol).as("blk"),
              col(idCol).as("id_a"), col(embCol).as("emb_a"))
            val eb = corpus.unionByName(batch, allowMissingColumns = true)
              .select(col(labelCol).as("blk"), col(idCol).as("id_b"),
                col(embCol).as("emb_b"))
            val cosPairs = ea.join(eb, Seq("blk"))
              .where(col("id_a") =!= col("id_b"))
              .where(graft.functions.VectorFunctions.vecCosine(
                col("emb_a"), col("emb_b")) >= cosineThreshold)
              .select(col("id_a"), col("id_b"))
            val (assignedB, updates) = EnsembleDedup.assignToFamiliesWithUpdates(
              batch, idCol, prior, Seq(
                EnsembleDedup.Signal(exactPairs, "id_a", "id_b", 1),
                EnsembleDedup.Signal(jacPairs, "id_a", "id_b", 2),
                EnsembleDedup.Signal(cosPairs, "id_a", "id_b", 4)))
            val up = updates
              .select(col("old_family"), col("new_family"),
                col("family_size").as("__nsz"), col("signals").as("__nsig"))
            val merged = prior
              .join(up, prior("family") === up("old_family"), "left")
              .select(prior("id"),
                coalesce(col("new_family"), prior("family")).as("family"),
                coalesce(col("__nsz"), prior("family_size")).as("family_size"),
                coalesce(col("__nsig"), prior("signals")).as("signals"))
              .withColumn("is_canonical", col("id") === col("family"))
              .unionByName(assignedB.drop("n_absorbed"))
              .localCheckpoint() // materialize BEFORE overwriting famPath
            merged.write.mode("overwrite").parquet(famPath)
          }
          batch.write.mode("append").parquet(docsPath)
        }
        graft.core.Caches.releaseAll()
      }
      .start()

  /** Streaming LINE-STATS store sink — cross-document boilerplate
    * counts as corpus-version state fed by a stream: each micro-batch
    * appends its batch-grain partial counts to the
    * [[graft.ops.Boilerplate.writeLineStats]] store (no history
    * recount — [[graft.ops.Boilerplate.storedLineStats]] merges
    * partials bucket-locally at read time). Idempotency is TWO-layer:
    * a seen-ids parquet anti-join drops documents replayed across
    * COMPLETED batches (the incrementalStoreSink J5 discipline), and
    * each batch's partials are STAMPED with the streaming batch id so
    * a crash BETWEEN the stats append and the seen-ids write cannot
    * double-count — on restart Spark replays the same batch id, the
    * [[graft.ops.Boilerplate.lineStatsHasBatch]] probe finds the
    * committed partials, and the sink skips straight to the seen-ids
    * write (summed counts are not idempotent, so without the stamp
    * that window would permanently double-count — advisor round-11
    * note). The store (write + meta) must exist before the stream
    * starts — create it with writeLineStats, empty-corpus is fine.
    */
  def lineStatsStoreSink(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tablePrefix: String,
      seenPath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batchRaw: DataFrame, batchId: Long) =>
        val spark = batchRaw.sparkSession
        val newOnly =
          if (graft.core.FsUtil.exists(spark, seenPath))
            batchRaw.dropDuplicates(idCol)
              .join(spark.read.parquet(seenPath).select(col(idCol)),
                Seq(idCol), "left_anti")
          else batchRaw.dropDuplicates(idCol)
        // Eager cut: the batch feeds the stats append AND the seen-ids
        // append; a streaming-source plan must not be re-run.
        val batch = newOnly.localCheckpoint()
        if (!batch.isEmpty) {
          // Replay guard: partials for this batch id already committed
          // (crash happened after the append, before the seen-ids
          // write) — skip to the seen-ids write instead of
          // double-counting.
          if (!graft.ops.Boilerplate.lineStatsHasBatch(
              spark, tablePrefix, batchId))
            graft.ops.Boilerplate.appendToLineStats(
              batch, textCol, idCol, tablePrefix, batchId = batchId)
          batch.select(col(idCol)).write.mode("append").parquet(seenPath)
        }
        graft.core.Caches.releaseAll()
      }
      .start()
}
