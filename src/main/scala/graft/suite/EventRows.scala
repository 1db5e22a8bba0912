package graft.suite

import graft.core.Tables._
import graft.suite.Shared._
import org.apache.spark.sql.functions._

/** The rows over the events table: event-time windows and sessions
  * (§2.9) and behavioral analytics.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object EventRows {

  val specs: Seq[QuerySpec] = Seq(
    // ---- streaming-shaped windows over events (§2.9) --------------
    QuerySpec("q21_tumbling_window", (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
         count(*) AS n,
         sum(CAST(round_even(value*100, 0) AS BIGINT)) / 100.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    QuerySpec("q22_sliding_window", (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("n"))
        .orderBy(col("window_start")),
      """SELECT time_bucket(INTERVAL '10 minutes', ts) - k.k * INTERVAL '10 minutes' AS window_start,
         count(*) AS n
         FROM events, LATERAL unnest([0,1,2]) AS k(k)
         GROUP BY 1 ORDER BY window_start"""),
    QuerySpec("q55_session_window", (s, d) => {
      // §2.9 session windows: per-user gap-merged sessions (10-minute
      // inactivity closes a session). The driver-generated events table
      // holds no event pair at exactly gap distance, so the raw table
      // alone never exercises merge-on-touching (Spark session_window
      // windows are [ts, ts+gap) and TOUCHING windows merge). Derive
      // one touching pair per user IN the query — an event at exactly
      // max(ts) + gap — so this oracle row itself pins the >= / > seam
      // at every SF (q73 pins it with an inline fixture as well): a
      // strict-> regression in either engine's decomposition moves the
      // last session's count and fails the hash gate.
      val e = events(s, d).select(col("user_id"), col("ts"))
      val touching = e.groupBy(col("user_id"))
        .agg((max(col("ts")) + expr("INTERVAL 10 MINUTES")).as("ts"))
      e.unionByName(touching)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH base AS (SELECT user_id, ts, event_id FROM events
           UNION ALL
           -- Derived touching pair per user (exactly gap after the last
           -- event): the table itself holds no pair at exactly gap
           -- distance, so this row makes the oracle exercise
           -- merge-on-touching directly (mirrors the Spark query).
           SELECT user_id, max(ts) + INTERVAL 10 MINUTE AS ts,
             -1 AS event_id FROM events GROUP BY user_id),
         o AS (SELECT user_id, ts, event_id,
           -- Strict > matches Spark session_window semantics exactly:
           -- each event's window is [ts, ts+gap) and TOUCHING windows
           -- merge, so an event at precisely gap distance CONTINUES the
           -- session (pinned by this row's derived touching pair and
           -- by q73's inline fixture).
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS brk
           FROM base),
         s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM o)
         SELECT user_id, min(ts) AS session_start, count(*) AS n
         FROM s GROUP BY user_id, sess ORDER BY user_id, session_start"""),
    QuerySpec("q73_session_boundary", (s, _) => {
      // §2.9 session-window BOUNDARY pin. The driver-generated events
      // fixture holds no event pair at exactly gap distance, so q55's
      // oracle row never exercises the merge-on-touching semantics
      // (its documented caveat). This row builds the boundary inline:
      // user 1 fires at 0 / +10:00 (EXACTLY the gap — Spark
      // session_window windows are [ts, ts+gap) and TOUCHING windows
      // merge, so this pair is ONE session) / +30:00 (past the merged
      // window's end -> new session); user 2 at 0 / +10:01 (one second
      // past -> two sessions); user 3 at 0 / +09:59 (inside -> one).
      // The DuckDB oracle recomputes sessions with the strict->-break
      // decomposition, so a regression in either direction of the
      // >= / > boundary now fails the hash gate at every SF.
      import s.implicits._
      val fixture = Seq(
        (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
        (1L, "2024-01-01 00:30:00"),
        (2L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:10:01"),
        (3L, "2024-01-01 00:00:00"), (3L, "2024-01-01 00:09:59"))
        .toDF("user_id", "ts_s")
        .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
      fixture
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH ev(user_id, ts) AS (VALUES
           (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 00:00:00'),
           (1, TIMESTAMP '2024-01-01 00:10:00'),
           (1, TIMESTAMP '2024-01-01 00:30:00'),
           (2, TIMESTAMP '2024-01-01 00:00:00'),
           (2, TIMESTAMP '2024-01-01 00:10:01'),
           (3, TIMESTAMP '2024-01-01 00:00:00'),
           (3, TIMESTAMP '2024-01-01 00:09:59')),
         -- Strict > break: an event at EXACTLY gap distance continues
         -- the session (Spark merges touching [ts, ts+gap) windows).
         -- The inline pair (1, 00:10:00) exercises that boundary, so
         -- this oracle row fails if either engine's semantics drift.
         o AS (SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '10 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS brk
           FROM ev),
         s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM o)
         SELECT user_id, min(ts) AS session_start, count(*) AS n
         FROM s GROUP BY user_id, sess ORDER BY user_id, session_start"""),
    QuerySpec("q107_range_frame", (s, d) => {
      // §2.9 event-TIME window frames (vs q41/q42's row frames): per
      // user, the trailing-1-hour activity count and exact decimal
      // sum. rangeBetween runs on unix_micros so the frame boundary is
      // microsecond-exact — identical to the oracle's
      // RANGE INTERVAL frame on the raw timestamps. Partitioned by
      // user: one key shuffle, per-key sorted scan, no global sort.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, d)
        .withColumn("__us", unix_micros(col("ts")))
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          (sum(rint(col("value") * 100).cast("long")).over(w) / 100.0).as("sum_1h"))
        .orderBy(col("event_id"))
    },
      // q107: RANGE INTERVAL frame on the raw timestamps — micros-exact
      // on both engines.
      """SELECT event_id,
         count(*) OVER w AS n_1h,
         sum(CAST(round_even(value*100, 0) AS BIGINT)) OVER w / 100.0 AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 3600 SECOND PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // ---- event analytics ------------------------------------------
    QuerySpec("q58_asof_join", (s, d) => {
      // As-of join: latest purchase at-or-before each click, per user —
      // union+window composition (one shuffle, no range cross join).
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      graft.ops.AsOfJoin.asofMatchedTs(clicks, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("matched_ts"))
        .orderBy(col("event_id"))
    },
      """SELECT c.event_id, c.user_id, p.ts AS matched_ts
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND p.ts <= c.ts
         ORDER BY c.event_id"""),
    QuerySpec("q102_scd2_versions", (s, d) =>
      // §2.11 SCD2 versioning: each user's event_type stream becomes
      // validity intervals (no-op repeats suppressed, end-exclusive
      // tiling, lead() closes each version). Both windows partition by
      // user_id — one key-shuffle, per-key sorted streams, no global
      // sort. The oracle replays the same lag/lead decomposition.
      graft.ops.Scd2
        .fromChangeLog(events(s, d), "user_id", "ts", "event_id", "event_type")
        .orderBy(col("user_id"), col("valid_from")),
      // q102: the same lag-suppress + lead-close decomposition in SQL.
      """WITH c AS (SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         k AS (SELECT user_id, ts, event_id, event_type FROM c
           WHERE event_type IS DISTINCT FROM prev),
         v AS (SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
           FROM k)
         SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM v ORDER BY user_id, valid_from"""),
    QuerySpec("q106_event_funnel", (s, d) =>
      // §2.11 behavioral funnel: earliest view -> first click within
      // 2h -> first purchase within 2h of that, greedy
      // earliest-binding. One filtered scan + key-grain min-agg per
      // step (never an event-grain self-join, never a per-key sort);
      // the oracle replays the same greedy chain as CTEs.
      graft.ops.Funnel.funnelMatch(events(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"), 7200L)
        .orderBy(col("key")),
      // q106: the same greedy earliest-binding chain as CTEs.
      """WITH s1 AS (SELECT user_id, min(ts) AS ts_1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS ts_2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.ts_1
             AND e.ts <= s1.ts_1 + INTERVAL 7200 SECOND
           WHERE e.event_type = 'click' GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS ts_3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.ts_2
             AND e.ts <= s2.ts_2 + INTERVAL 7200 SECOND
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT s1.user_id AS key,
           1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS steps_completed,
           ts_1, ts_2, ts_3
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
           LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY key"""),
    QuerySpec("q108_decayed_score", (s, d) => {
      // §2.11 recency-weighted engagement: per-user decayed value sum
      // with a one-day half-life against a fixed reference instant.
      // The decay is 2^-days with an INTEGER day age, so every term is
      // the exact integer cents*2^(30-age) — the whole feature
      // aggregates in exact int64 on both engines and divides once at
      // the end (an exp()-based decay differs in the last ULP across
      // libm implementations; the pow-of-two ladder has no such seam).
      // Ages beyond 30 days decay below the grid and are dropped
      // scan-side. Map-only + one key-grain aggregation.
      val refUs = 1706745600000000L // 2024-02-01T00:00:00Z, after the corpus
      val age = ((lit(refUs) - unix_micros(col("ts"))) / lit(86400000000L))
        .cast("long")
      events(s, d)
        .where(age <= 30 && age >= 0)
        .select(col("user_id"),
          (rint(col("value") * 100).cast("long") *
            pow(lit(2.0), lit(30L) - age).cast("long")).as("__term"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("__term")).cast("double") / lit(100.0 * (1L << 30)))
            .as("decayed_value"))
        .orderBy(col("user_id"))
    },
      // q108: the same exact power-of-two ladder in int64.
      """WITH a AS (SELECT user_id, value,
           (1706745600000000 - epoch_us(ts)) // 86400000000 AS age
           FROM events)
         SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round_even(value*100, 0) AS BIGINT)
                    * CAST(pow(2, 30 - age) AS BIGINT)) AS DOUBLE)
             / (100.0 * 1073741824) AS decayed_value
         FROM a WHERE age <= 30 AND age >= 0
         GROUP BY user_id ORDER BY user_id"""),
    QuerySpec("q111_equidepth_hist", (s, d) =>
      // §2.11 equal-frequency histogram of events.value in 10 buckets:
      // exact interpolated decile boundaries (4-dp rounded, the q57
      // percentile precedent), broadcast, scan-side bucket assignment
      // — a map-only pass + bucket-grain agg, NOT the single-reducer
      // ntile() global window. Sum exact on the cents grid.
      graft.ops.Histogram.equiDepth(events(s, d), "value", buckets = 10)
        .orderBy(col("bucket")),
      // q111: quantile_cont == Spark's interpolated percentile (q57
      // precedent), 4-dp rounded boundaries, strictly-below membership.
      """WITH b AS (SELECT list_transform(
             quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
             x -> round(x, 4)) AS bounds
           FROM events),
         a AS (SELECT value,
           len(list_filter(b.bounds, x -> x < value)) AS bucket
           FROM events, b WHERE value IS NOT NULL)
         SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
           min(value) AS min_val, max(value) AS max_val,
           CAST(sum(CAST(round_even(value*100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_val
         FROM a GROUP BY bucket ORDER BY bucket"""),
    QuerySpec("q112_zscore_outliers", (s, d) =>
      // §2.11 per-type anomaly gate: |v - mean| > 3 sigma evaluated in
      // EXACT integer arithmetic (cents grid, cleared denominators,
      // decimal(38,0) vs the oracle's HUGEINT) — no float stddev seam,
      // no reduction-order sensitivity. Group stats broadcast back;
      // row data never shuffles.
      graft.ops.Outliers.zscoreOutliers(events(s, d), "event_type", "value", z = 3)
        .orderBy(col("event_type")),
      // q112: the cleared-denominator integer predicate in HUGEINT —
      // bit-identical to the decimal(38,0) evaluation.
      """WITH v AS (SELECT event_type,
           CAST(round_even(value*100, 0) AS BIGINT) AS v100 FROM events),
         st AS (SELECT event_type, count(*) AS n,
           CAST(sum(v100) AS HUGEINT) AS s, CAST(sum(v100*v100) AS HUGEINT) AS q
           FROM v GROUP BY event_type),
         f AS (SELECT v.event_type, v100,
           (n >= 2 AND
            (CAST(n AS HUGEINT)*v100 - s)*(CAST(n AS HUGEINT)*v100 - s)*(n - 1)
              > 9*CAST(n AS HUGEINT)*(CAST(n AS HUGEINT)*q - s*s)) AS is_out
           FROM v JOIN st USING (event_type))
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(sum(CASE WHEN is_out THEN v100 ELSE 0 END) AS BIGINT) / 100.0 AS outlier_sum
         FROM f GROUP BY event_type ORDER BY event_type"""),
    QuerySpec("q113_cohort_retention", (s, d) =>
      // §2.11 weekly cohort retention: users bucketed by first-activity
      // week, distinct-active counted per (cohort, offset). One
      // user-grain agg + one user-key join + one cohort-grain distinct
      // — no window, no global sort; the user→cohort map is the small
      // join side at any corpus size.
      graft.ops.Retention.weeklyCohorts(events(s, d), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset")),
      // q113: date_trunc('week') agrees Monday-start across engines; the
      // offset is exact day arithmetic // 7 (non-negative, so Spark's
      // truncating cast matches DuckDB's floor division).
      """WITH f AS (SELECT user_id,
           min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
           FROM events GROUP BY user_id),
         a AS (SELECT e.user_id, CAST(date_trunc('week', e.ts) AS DATE) AS w,
           f.cohort_week FROM events e JOIN f USING (user_id))
         SELECT cohort_week, CAST((w - cohort_week) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT user_id) AS n_users
         FROM a GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset"""),
    QuerySpec("q126_markov_transitions", (s, d) =>
      // §2.11 behavioral transition matrix: per-user next-event pairs
      // on the total (ts, event_id) order, (src,dst)-grain counts,
      // row-conditional probabilities on the exact micro grid. One
      // user-key shuffle; the src-grain totals broadcast.
      graft.ops.Markov.transitionMatrix(
          events(s, d), "user_id", "ts", "event_type", "event_id")
        .orderBy(col("src"), col("dst")),
      // q126: identical (ts, event_id) total order inside each user, so
      // lead() picks the same successor; counts are integers and the
      // conditional probability floor-divides on the micro grid (`//` is
      // truncating in both engines; operands non-negative here anyway).
      """WITH t AS (SELECT user_id, event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS dst FROM events),
         c AS (SELECT src, dst, count(*) AS n FROM t
           WHERE dst IS NOT NULL GROUP BY src, dst),
         tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src
           FROM c GROUP BY src)
         SELECT c.src, c.dst, c.n, tot.n_src,
           CAST((1000000 * c.n) // tot.n_src AS BIGINT) AS p_micro
         FROM c JOIN tot USING (src) ORDER BY src, dst"""),
    QuerySpec("q139_top_paths", (s, d) => {
      // §2.11 behavioral path mining: per-(user, day) event-type
      // journey (deterministic (ts, event_id) order via the A4
      // sorted-collect idiom — collect_list alone is
      // partition-order-dependent), corpus-wide path frequencies,
      // top-20 by (count, path) as TakeOrderedAndProject.
      val e = events(s, d)
      val paths = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(array_join(transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          st => st.getField("event_type")), ">").as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    },
      // q139: ordered string_agg inside (user, day), same UTC day
      // boundary (CAST ts AS DATE == to_date under the UTC session),
      // same (n DESC, path) top-20.
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM events GROUP BY user_id, CAST(ts AS DATE))
         SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path
         ORDER BY n DESC, path LIMIT 20"""),
  )
}
