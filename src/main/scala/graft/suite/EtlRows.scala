package graft.suite

import graft.core.Tables._
import org.apache.spark.sql.functions._

/** The ETL and RAG rows: catalog, citations, prompt, chunking, enrichment,
  * structured LLM output, incremental ingest and retrieval eval.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object EtlRows {

  val specs: Seq[QuerySpec] = Seq(
    // ---- ETL catalog + citation path (SURVEY §3.1/§3.3) -----------
    QuerySpec("q46_catalog", (s, d) => {
      // J1+J2+A1 catalog query as a composed unit over the star schema:
      // orders (facts) ⋈ customer (dim) ⟕ lineitem (bridge) ⟕ part (attr).
      val o = orders(s, d).where(col("o_orderkey") < 320)
      graft.catalog.CatalogQueries.catalog(
        o, customer(s, d), lineitem(s, d), part(s, d),
        "o_orderkey", "o_custkey", "c_custkey", "c_name",
        "l_orderkey", "l_partkey", "p_partkey", "p_name")
        .orderBy(col("o_orderkey"))
    },
      """SELECT o.o_orderkey, c.c_name,
         coalesce(array_to_string(list_sort(list_filter(list(p.p_name), x -> x IS NOT NULL)), ','), '') AS names
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         LEFT JOIN part p ON l.l_partkey = p.p_partkey
         WHERE o.o_orderkey < 320
         GROUP BY o.o_orderkey, c.c_name
         ORDER BY o.o_orderkey"""),
    QuerySpec("q47_citations", (s, d) => {
      // J7 (two independent semi-joins, bug-for-bug) + A4 (sorted cited
      // timestamp set per id) over the events table.
      val e = events(s, d)
      val retrieved = e.where(col("event_type") === "click")
        .select(col("user_id"), floor(col("value")).cast("int").as("t"))
      val cited = e.where(col("event_type") === "purchase")
        .select(col("user_id"), floor(col("value")).cast("int").as("t"))
      val docs = graft.query.Citations.citedDocuments(retrieved, cited, "user_id", "t")
      graft.query.Citations.groupCitations(docs, "user_id", "t")
        .select(col("user_id"),
          array_join(col("timestamps"), ",").as("cited_ts"), col("n_cites"))
        .orderBy(col("user_id"))
    },
      """WITH retrieved AS (
           SELECT user_id, CAST(floor(value) AS INT) AS t FROM events
           WHERE event_type = 'click'),
         cited AS (SELECT user_id, CAST(floor(value) AS INT) AS t FROM events
           WHERE event_type = 'purchase')
         SELECT user_id,
           array_to_string(list_sort(list_distinct(list(t))), ',') AS cited_ts,
           count(*) AS n_cites
         FROM retrieved
         WHERE user_id IN (SELECT user_id FROM cited)
           AND t IN (SELECT t FROM cited)
         GROUP BY user_id ORDER BY user_id"""),
    QuerySpec("q48_prompt", (s, d) =>
      // F20 prompt assembly (metadata + chunk -> prompt column).
      documents(s, d)
        .select(col("doc_id"),
          format_string("System: You clean transcript chunks.\nShow: %s\nHosts: %s\n---\n%s",
            col("source"), col("lang"), col("text")).as("prompt"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         printf('System: You clean transcript chunks.
Show: %s
Hosts: %s
---
%s', source, lang, text) AS prompt
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q53_chunk_transcript", (s, d) => {
      // G1 chunker inside the plan — through the SQL-surface Generator
      // (Spark plans a per-row Generate, no shuffle) — projected onto a
      // DuckDB-checkable invariant envelope per video: char totals and
      // the first chunk's start are EXACT cross-checks (the oracle
      // recomputes both from the raw documents), chunk-count bounds and
      // size/start/non-emptiness invariants are engine-computed
      // predicates the oracle pins to TRUE. Raw chunk-row equality
      // between this Generator and the typed flatMap is asserted in
      // SqlSurfaceSpec; chunk text content itself is covered by the
      // splitter goldens + property suites.
      val docs = documents(s, d)
      val transcripts = docs
        .groupBy(col("source"))
        .agg(array_sort(collect_list(struct(
          (col("doc_id").cast("double") * 10.0).as("start"),
          col("text").as("text"),
          lit(5.0).as("duration")))).as("snippets"))
        .select(col("source").as("video_id"), col("snippets"))
      val chunks = transcripts.select(col("video_id"),
        graft.chunk.ChunkTranscriptGen.chunkTranscriptGen(col("snippets"), 1000, 200))
      val cstats = chunks.groupBy(col("video_id"))
        .agg(count(lit(1)).as("n_chunks"),
          min(col("start")).as("min_chunk_start"),
          max(col("start")).as("max_chunk_start"),
          min(length(col("text"))).as("min_len"),
          max(length(col("text"))).as("max_len"))
      // Full-text length per video: each snippet contributes
      // len(trim(text)) + 1 (the appended join space).
      val dstats = docs.groupBy(col("source").as("video_id"))
        .agg(sum(length(trim(col("text"))) + 1).as("n_chars"),
          (min(col("doc_id")).cast("double") * 10.0).as("min_snip_start"),
          (max(col("doc_id")).cast("double") * 10.0).as("max_snip_start"))
      val lo = ceil(col("n_chars") / 1000.0).cast("long")
      val hi = (ceil(col("n_chars") / 800.0) + 1).cast("long")
      cstats.join(dstats, "video_id")
        .select(col("video_id"),
          col("n_chars").cast("long").as("n_chars"),
          lo.as("lo"), hi.as("hi"),
          // First chunk starts at char 0 => its start IS the first
          // snippet's start; all other chunk starts are >= it.
          col("min_chunk_start").as("min_start"),
          col("n_chunks").between(lo, hi).as("count_in_bounds"),
          (col("max_chunk_start") <= col("max_snip_start")).as("max_start_ok"),
          (col("min_len") > 0).as("nonempty_ok"),
          (col("max_len") <= 1000).as("max_len_ok"))
        .orderBy(col("video_id"))
    },
      """WITH d AS (SELECT source AS video_id,
           sum(length(trim(text))+1) AS n_chars,
           min(doc_id)*10.0 AS min_snip
         FROM documents GROUP BY 1)
         SELECT video_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(ceil(n_chars/1000.0) AS BIGINT) AS lo,
           CAST(ceil(n_chars/800.0)+1 AS BIGINT) AS hi,
           CAST(min_snip AS DOUBLE) AS min_start,
           TRUE AS count_in_bounds, TRUE AS max_start_ok,
           TRUE AS nonempty_ok, TRUE AS max_len_ok
         FROM d ORDER BY video_id"""),

    // ---- ETL enrichment merge (J3, right-wins) --------------------
    QuerySpec("q66_enrich_merge", (s, d) => {
      // J3: catalog row ∪ API metadata with right-wins on conflicting
      // columns (reference dict(video) | youtube_api_data[id]) — the
      // conflicting `lang` must come out as the API side's uppercase
      // value, and ids missing on the API side drop (inner).
      val docs = documents(s, d)
      val work = docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val api = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), upper(col("lang")).as("lang"),
          (col("n_chars") * 2).as("api_chars"))
      graft.etl.Extract.enrich(work, api, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"), col("api_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source, n_chars, upper(lang) AS lang,
         n_chars * 2 AS api_chars
         FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id"""),

    // ---- structured LLM output (SURVEY §1.3: Pydantic -> from_json) ---
    QuerySpec("q63_structured_output", (s, d) => {
      // Schema-on-read parse of a raw LLM-answer column into the
      // AgentResponse struct: fenced/preamble responses recovered,
      // malformed JSON -> null fields, missing keys -> null fields.
      // Response strings are synthesized deterministically so the
      // DuckDB oracle builds byte-identical input.
      val id = col("doc_id").cast("string")
      val body = concat(
        lit("{\"query_response\": \"Answer "), id,
        lit("\", \"sources\": [{\"video_id\": \"v"), id,
        lit("\", \"start_time\": "), (col("doc_id") % 100).cast("string"),
        lit(".5}, {\"video_id\": \"w"), id, lit("\", \"start_time\": 0.25}]}"))
      val fenced = concat(
        lit("Let me think.\n```json\n{\"query_response\": \"Answer "), id,
        lit("\", \"sources\": [{\"video_id\": \"v"), id,
        lit("\", \"start_time\": "), (col("doc_id") % 100).cast("string"),
        lit(".5}]}\n```"))
      documents(s, d)
        .withColumn("resp",
          when(col("doc_id") % 7 === 0, lit("{\"query_response\": \"broken\", \"sources\": "))
            .when(col("doc_id") % 11 === 3, lit("{\"query_response\": \"no sources here\"}"))
            .when(col("doc_id") % 5 === 1, fenced)
            .otherwise(body))
        .withColumn("p", graft.query.StructuredOutput.parseAgentResponse(col("resp")))
        .select(col("doc_id"),
          col("p.query_response").as("query_response"),
          size(col("p.sources")).cast("long").as("n_sources"),
          get(col("p.sources"), lit(0)).getField("video_id").as("first_video"),
          get(col("p.sources"), lit(0)).getField("start_time").as("first_start"))
        .orderBy(col("doc_id"))
    },
      """WITH r AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '{"query_response": "broken", "sources": '
                WHEN doc_id % 11 = 3 THEN '{"query_response": "no sources here"}'
                WHEN doc_id % 5 = 1 THEN 'Let me think.
```json
{"query_response": "Answer ' || doc_id || '", "sources": [{"video_id": "v' || doc_id || '", "start_time": ' || (doc_id % 100) || '.5}]}
```'
                ELSE '{"query_response": "Answer ' || doc_id || '", "sources": [{"video_id": "v' || doc_id || '", "start_time": ' || (doc_id % 100) || '.5}, {"video_id": "w' || doc_id || '", "start_time": 0.25}]}'
           END AS resp FROM documents),
         x AS (SELECT doc_id, regexp_extract(resp, '(?s)\{.*\}', 0) AS j0 FROM r),
         p AS (SELECT doc_id, CASE WHEN json_valid(j0) THEN j0 END AS j FROM x)
         SELECT doc_id,
           json_extract_string(j, '$.query_response') AS query_response,
           CAST(json_array_length(j, '$.sources') AS BIGINT) AS n_sources,
           json_extract_string(j, '$.sources[0].video_id') AS first_video,
           CAST(json_extract_string(j, '$.sources[0].start_time') AS DOUBLE) AS first_start
         FROM p ORDER BY doc_id"""),

    // ---- incremental ingest and retrieval eval --------------------
    QuerySpec("q93_bloom_skip", (s, d) => {
      // Bloom-accelerated incremental skip (S11/P10's resume anti-join
      // at ledger scale): processed = even doc ids, incoming = ids
      // divisible by 3; the new work is odd multiples of 3 — a set the
      // oracle recomputes exactly, because the bloom only routes rows
      // between the free path and the verified path, never changes the
      // result. Envelope booleans (constant per corpus, cross-joined):
      // no_false_negatives re-checks the bloom's hard guarantee against
      // a full labeling join; fp_bounded pins the observed false-
      // positive count under 5x the configured fpp (deterministic for
      // a fixed corpus + Spark hash impl — a Spark upgrade changing
      // xxhash64/bloom internals could flip it; suspect that coupling
      // first after an upgrade, as q71/q89).
      val docs = documents(s, d)
      val processed = docs.where(col("doc_id") % 2 === 0).select("doc_id")
      val incoming = docs.where(col("doc_id") % 3 === 0).select("doc_id")
      val fpp = 0.01
      val bloom = graft.ops.Sketches.bloomBuild(
        processed, "doc_id",
        expectedItems = parquetRowCount(s, s"$d/documents.parquet") / 2 + 1, fpp)
      val hit = graft.etl.Load.bloomHit(bloom, Seq("doc_id"))
      // Output path — the scale shape: definite misses never join.
      val newIds = graft.etl.Load.bloomAntiJoin(incoming, processed, bloom,
        Seq("doc_id" -> "doc_id"))
      // Envelope path — bounded instrumentation, the q62/q65 pattern:
      // label every incoming row (hit x truly-processed) in one join.
      val stats = incoming.withColumn("__hit", hit)
        .join(processed.withColumn("__p", lit(1)), Seq("doc_id"), "left")
        .agg(
          sum(when(!col("__hit") && col("__p").isNotNull, 1L).otherwise(0L)).as("__fn"),
          sum(when(col("__hit") && col("__p").isNull, 1L).otherwise(0L)).as("__fp"),
          sum(when(col("__p").isNull, 1L).otherwise(0L)).as("__new"))
        .select(
          (col("__fn") === 0L).as("no_false_negatives"),
          (col("__fp") <= greatest(lit(50L),
            ceil(col("__new") * fpp * 5).cast("long"))).as("fp_bounded"))
      newIds.crossJoin(broadcast(stats)).orderBy(col("doc_id"))
    },
      // q93: the bloom never changes the result set — new work is exactly
      // the anti-join the oracle computes; the sketch-dependent counters
      // surface only as pinned booleans.
      """SELECT doc_id, TRUE AS no_false_negatives, TRUE AS fp_bounded
         FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0
         ORDER BY doc_id"""),
    QuerySpec("q117_snapshot_diff", (s, d) => {
      // §2.11 snapshot CDC: two corpus snapshots derived from the same
      // table (docs ending in 3 arrive only in the new snapshot, docs
      // ending in 4 were dropped, docs ending in 7 carried a truncated
      // old revision), diffed by one full-outer key join with null-safe
      // content comparison — added/removed/changed/unchanged per key.
      val docs = documents(s, d)
      val prev = docs.where(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 10 === 7, substring(col("text"), 1, 40))
            .otherwise(col("text")))
      val cur = docs.where(col("doc_id") % 10 =!= 4)
      graft.ops.SnapshotDiff.diff(prev, cur, "doc_id",
          Seq("text", "lang", "source"))
        .withColumnRenamed("key", "doc_id")
        .orderBy(col("doc_id"))
    },
      // q117: the same two derived snapshots, full-outer joined; content
      // equality is per-field IS NOT DISTINCT FROM (the oracle spelling
      // of Spark's null-safe struct <=>).
      """WITH prev AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 7 THEN substr(text, 1, 40) ELSE text END AS text,
           lang, source FROM documents WHERE doc_id % 10 <> 3),
         cur AS (SELECT doc_id, text, lang, source FROM documents
           WHERE doc_id % 10 <> 4)
         SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'added'
                WHEN c.doc_id IS NULL THEN 'removed'
                WHEN p.text IS NOT DISTINCT FROM c.text
                 AND p.lang IS NOT DISTINCT FROM c.lang
                 AND p.source IS NOT DISTINCT FROM c.source THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
         ORDER BY doc_id"""),
    QuerySpec("q118_retrieval_metrics", (s, d) => {
      // §2.11 offline rank-eval: vec_ids < 10 are the query set, the
      // rest the candidate corpus, relevance = same cluster label.
      // Ranked lists come from the q29 brute-force cosine retriever;
      // hits@10 / recall@10 / RR reduce per query in exact integer
      // micro arithmetic (no nDCG — its log2 discount is a libm seam).
      val emb = embeddings(s, d)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
          col("label").as("q_label"))
      val cands = emb.where(col("vec_id") >= 10)
      val retrieved = graft.query.Retriever.neighbors(cands, queries, 10)
      val relevant = cands.select(col("vec_id"), col("label"))
        .join(broadcast(queries.select(col("q_id"), col("q_label"))),
          col("label") === col("q_label"))
        .select(col("q_id"), col("vec_id"))
      graft.ops.RankEval.rankEval(
          retrieved, relevant, "q_id", "vec_id", "rank", k = 10)
        .orderBy(col("q"))
    },
      // q118: DuckDB re-ranks the same candidate corpus per query (the
      // q29 CTE restricted to vec_id >= 10), rebuilds the same-label
      // judgment set, and reduces to the identical integer-micro metrics
      // (`//` ≡ Spark IntegralDivide).
      """WITH ranked AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])) DESC, e.vec_id) AS rank
           FROM embeddings e, embeddings q
           WHERE q.vec_id < 10 AND e.vec_id >= 10),
         topk AS (SELECT * FROM ranked WHERE rank <= 10),
         rel AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id
           FROM embeddings e, embeddings q
           WHERE q.vec_id < 10 AND e.vec_id >= 10 AND e.label = q.label),
         tot AS (SELECT q_id, count(*) AS n_relevant FROM rel GROUP BY q_id),
         h AS (SELECT t.q_id, count(r.vec_id) AS hits,
             min(CASE WHEN r.vec_id IS NOT NULL THEN t.rank END) AS first_rank
           FROM topk t LEFT JOIN rel r
             ON t.q_id = r.q_id AND t.vec_id = r.vec_id
           GROUP BY t.q_id)
         SELECT tot.q_id AS q, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           tot.n_relevant,
           CAST((1000000 * COALESCE(h.hits, 0)) // tot.n_relevant AS BIGINT)
             AS recall_micro,
           CAST(COALESCE(1000000 // h.first_rank, 0) AS BIGINT) AS rr_micro
         FROM tot LEFT JOIN h ON tot.q_id = h.q_id
         ORDER BY q"""),
  )
}
