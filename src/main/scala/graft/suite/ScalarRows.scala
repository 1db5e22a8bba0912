package graft.suite

import graft.core.Tables._
import graft.functions.{IsoDurationSeconds, TextFunctions, TimeFunctions}
import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

/** The scalar-function rows (F1-F20 and the functions with unit
  * tests only).
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object ScalarRows {

  val specs: Seq[QuerySpec] = Seq(
    // ---- scalar functions (F1-F20) --------------------------------
    QuerySpec("q14_month_partition", (s, d) =>
      // F6 year/month partition derivation over order dates.
      orders(s, d)
        .withColumn("epoch", unix_timestamp(col("o_orderdate")))
        .select(TimeFunctions.partitionYear(col("epoch")).as("year"),
          TimeFunctions.partitionMonth(col("epoch")).as("month"))
        .groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("year"), col("month")),
      """SELECT CASE WHEN epoch(o_orderdate) = 0 THEN 'unknown'
                ELSE CAST(year(o_orderdate) AS VARCHAR) END AS year,
         CASE WHEN epoch(o_orderdate) = 0 THEN 'unknown'
                ELSE lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') END AS month,
         count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY year, month"""),
    QuerySpec("q15_duration_format", (s, d) =>
      // F5 h:mm:ss render (value treated as seconds).
      events(s, d)
        .select(col("event_id"), TimeFunctions.hms(col("value")).as("hms"))
        .orderBy(col("event_id")),
      """SELECT event_id,
         CASE WHEN CAST(floor(value) AS BIGINT) // 3600 > 0
           THEN printf('%d:%02d:%02d', CAST(floor(value) AS BIGINT) // 3600,
             (CAST(floor(value) AS BIGINT) % 3600) // 60,
             CAST(floor(value) AS BIGINT) % 60)
           ELSE printf('%d:%02d', (CAST(floor(value) AS BIGINT) % 3600) // 60,
             CAST(floor(value) AS BIGINT) % 60)
         END AS hms
         FROM events ORDER BY event_id"""),
    QuerySpec("q17_url_build", (s, d) =>
      // F7: timestamp buffer + watch URL assembly.
      events(s, d)
        .withColumn("t", (floor(col("value")) + 10).cast("long"))
        .select(col("event_id"),
          concat(lit("https://www.youtube.com/watch?v=u"), col("user_id"),
            lit("&t="), col("t"), lit("s")).as("url"))
        .orderBy(col("event_id")),
      """SELECT event_id,
         'https://www.youtube.com/watch?v=u' || CAST(user_id AS VARCHAR) ||
           '&t=' || CAST(CAST(floor(value) + 10 AS BIGINT) AS VARCHAR) || 's' AS url
         FROM events ORDER BY event_id"""),
    QuerySpec("q18_epoch_convert", (s, d) =>
      // F1/F2: timestamp -> epoch seconds (floor semantics).
      events(s, d)
        .select(col("event_id"), unix_timestamp(col("ts")).as("epoch"))
        .orderBy(col("event_id")),
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch
         FROM events ORDER BY event_id"""),
    QuerySpec("q19_json_default", (s, d) =>
      // F19 + JSON access: extract props.k with default 0.
      events(s, d)
        .select(col("event_id"),
          coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L)).as("k"))
        .orderBy(col("event_id")),
      """SELECT event_id,
         coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
         FROM events ORDER BY event_id"""),
    QuerySpec("q20_chunk_explode", (s, d) =>
      // S6/F18: duration -> per-chunk rows (explode(sequence)).
      // n_chunks >= 1 guard: a non-positive duration has ZERO chunks,
      // but sequence(0, -1) steps BACKWARD and emits [0, -1] — two
      // phantom rows per such event (DuckDB's generate_series(0,-1) is
      // empty). Invisible at sf0.01 (no non-positive values there);
      // caught by the sf0.1 strict replay.
      events(s, d)
        .withColumn("n_chunks",
          TimeFunctions.chunkCount(col("value") * 100, 7200))
        .where(col("n_chunks") >= 1)
        .select(col("event_id"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .withColumn("chunk_start", col("chunk_idx") * 7200)
        .orderBy(col("event_id"), col("chunk_idx")),
      """SELECT event_id, u.chunk_idx, u.chunk_idx * 7200 AS chunk_start
         FROM events, LATERAL unnest(generate_series(0,
           CAST(ceil(value * 100 / 7200.0) AS BIGINT) - 1)) AS u(chunk_idx)
         ORDER BY event_id, chunk_idx"""),
    QuerySpec("q16_clean_text", (s, d) =>
      // F8/F13 cleaning chain over documents.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.cleanTextChunk(
            concat(lit("  >> "), col("text"), lit(" [Music] ​"))).as("cleaned"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace('  >> ' || text || ' [Music] ' || chr(8203),
                   '\[\s*__\s*\]', '****', 'g'),
                 chr(8203), '', 'g'),
               '>>', '', 'g'),
             '\[[^\]]*\]', '', 'g'),
           '\s+', ' ', 'g')) AS cleaned
         FROM documents ORDER BY doc_id"""),

    // ---- scalar functions: oracle rows for the unit-only set ------
    QuerySpec("q25_iso_duration", (s, d) => {
      // F3 iso_duration_seconds (custom Catalyst Expression): build an
      // ISO-8601 duration string from the value column, parse it back.
      val t = floor(col("value")).cast("long")
      val h = (t / 3600).cast("long"); val m = ((t % 3600) / 60).cast("long")
      val sec = (t % 60).cast("long")
      events(s, d)
        .withColumn("dur", concat(lit("PT"), h.cast("string"), lit("H"),
          m.cast("string"), lit("M"), sec.cast("string"), lit("S")))
        .select(col("event_id"), col("dur"),
          IsoDurationSeconds.isoDurationSeconds(col("dur")).as("secs"))
        .orderBy(col("event_id"))
    },
      """WITH b AS (SELECT event_id,
           CAST(floor(value) AS BIGINT) // 3600 AS h,
           (CAST(floor(value) AS BIGINT) % 3600) // 60 AS m,
           CAST(floor(value) AS BIGINT) % 60 AS s FROM events)
         SELECT event_id,
           'PT' || h || 'H' || m || 'M' || s || 'S' AS dur,
           h*3600 + m*60 + s AS secs
         FROM b ORDER BY event_id"""),
    QuerySpec("q26_epoch_parse", (s, d) =>
      // F1/F2: ISO `...Z` string -> epoch seconds; unparsable -> 0.
      events(s, d)
        .withColumn("iso", when(col("event_id") % 10 === 0, lit("not-a-date"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")))
        .select(col("event_id"),
          TimeFunctions.isoToEpoch(col("iso")).as("epoch_parsed"))
        .orderBy(col("event_id")),
      """SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN 0
              ELSE CAST(floor(epoch(ts)) AS BIGINT) END AS epoch_parsed
         FROM events ORDER BY event_id"""),
    QuerySpec("q27_format_duration", (s, d) =>
      // F4 format_duration pluralized H/M/S render (integer seconds so
      // the %.2f render is cross-engine exact).
      events(s, d)
        .select(col("event_id"),
          TimeFunctions.formatDuration(floor(col("value")).cast("long").cast("double"))
            .as("formatted"))
        .orderBy(col("event_id")),
      """WITH b AS (SELECT event_id, CAST(floor(value) AS BIGINT) AS t FROM events)
         SELECT event_id,
           CASE WHEN t // 3600 > 0 THEN
             CAST(t // 3600 AS VARCHAR) ||
             CASE WHEN t // 3600 = 1 THEN ' hour, ' ELSE ' hours, ' END
             ELSE '' END ||
           CASE WHEN (t % 3600) // 60 > 0 THEN
             CAST((t % 3600) // 60 AS VARCHAR) ||
             CASE WHEN (t % 3600) // 60 = 1 THEN ' minute, ' ELSE ' minutes, ' END
             ELSE '' END ||
           printf('%.2f seconds', CAST(t % 60 AS DOUBLE)) AS formatted
         FROM b ORDER BY event_id"""),
    QuerySpec("q35_llm_clean", (s, d) =>
      // F9/F10: strip LLM preamble/think markers, CHUNK tags, smart quotes.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.cleanLlmResponse(
            concat(lit("<think>deliberating</think>Here is the cleaned chunk: <CHUNK>"),
              col("text"), lit("</CHUNK>"))).as("cleaned"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         trim(translate(
           regexp_replace(
             (regexp_split_to_array(
               '<think>deliberating</think>Here is the cleaned chunk: <CHUNK>' || text || '</CHUNK>',
               'Here is the cleaned chunk:|Here''s the cleaned chunk:|</think>'))[-1],
             '</?CHUNK>', '', 'g'),
           '‘’“”', '''''""')) AS cleaned
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q36_like_escape", (s, d) =>
      // P6/F12: LIKE-wildcard escaping.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.escapeLikeWildcards(concat(col("source"), lit("_pct%")))
            .as("escaped"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         regexp_replace(source || '_pct%', '([%_])', '\\\1', 'g') AS escaped
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q38_hosts_roundtrip", (s, d) => {
      // F11: comma-string <-> array round trip with ''/null -> [] guard.
      val hostsStr = when(col("doc_id") % 7 === 0, lit(""))
        .otherwise(concat_ws(",", col("source"), col("lang")))
      documents(s, d)
        .withColumn("hosts_str", hostsStr)
        .select(col("doc_id"),
          size(TextFunctions.splitHosts(col("hosts_str"))).as("n_hosts"),
          TextFunctions.joinHosts(TextFunctions.splitHosts(col("hosts_str"))).as("rejoined"))
        .orderBy(col("doc_id"))
    },
      """WITH b AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '' ELSE source || ',' || lang END AS hosts_str
           FROM documents)
         SELECT doc_id,
           CASE WHEN hosts_str = '' THEN 0 ELSE len(string_split(hosts_str, ',')) END AS n_hosts,
           CASE WHEN hosts_str = '' THEN ''
                ELSE array_to_string(string_split(hosts_str, ','), ',') END AS rejoined
         FROM b ORDER BY doc_id"""),
    QuerySpec("q39_record_json", (s, d) =>
      // F15 record -> JSON string + F14 brace escaping for templating.
      documents(s, d)
        .select(col("doc_id"),
          TextFunctions.escapeBraces(
            to_json(struct(col("doc_id"), col("source"), col("lang")))).as("rec"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         regexp_replace(regexp_replace(
           to_json(struct_pack(doc_id := doc_id, source := source, lang := lang))::VARCHAR,
           '\{', '{{', 'g'), '\}', '}}', 'g') AS rec
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q43_subword_upper", (s, d) =>
      // §2.11 text analysis: subword (BPE-ish) count + uppercase ratio.
      documents(s, d)
        .withColumn("mixed", concat_ws(" ", upper(col("source")), col("text")))
        .select(col("doc_id"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"),
          round(TextAnalysis.uppercaseRatio(col("mixed")), 4).as("upper_ratio"))
        .orderBy(col("doc_id")),
      """WITH b AS (SELECT doc_id, text, upper(source) || ' ' || text AS mixed FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text, '[\p{L}\p{N}]+')) +
             length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS n_subwords,
           round(CASE WHEN length(regexp_replace(mixed, '[^\p{L}]', '', 'g')) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(mixed, '[^\p{Lu}]', '', 'g')) AS DOUBLE)
               / length(regexp_replace(mixed, '[^\p{L}]', '', 'g')) END, 4) AS upper_ratio
         FROM b ORDER BY doc_id"""),
    QuerySpec("q44_langid_quality", (s, d) =>
      // §2.11: stopword-vote language ID + composite quality score.
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
      """WITH b AS (SELECT doc_id, text,
           string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, text,
           len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS s_en,
           len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','ein','nicht','mit','den','von'], t))) AS s_de,
           len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','es','los','por'], t))) AS s_es,
           len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','est','que','pour','dans'], t))) AS s_fr
           FROM b),
         q AS (SELECT doc_id, text,
           CASE WHEN s_en = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'en'
                WHEN s_de = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'de'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'es'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr) AND greatest(s_en,s_de,s_es,s_fr) > 0 THEN 'fr'
                ELSE 'und' END AS lang_id,
           least(length(text) / 500.0, 1.0) AS len_score,
           least((CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0) AS punct_penalty,
           least((CASE WHEN length(regexp_replace(text, '[^\p{L}]', '', 'g')) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '[^\p{Lu}]', '', 'g')) AS DOUBLE)
               / length(regexp_replace(text, '[^\p{L}]', '', 'g')) END) * 3.0, 1.0) AS upper_penalty,
           CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) END AS mwl
           FROM s)
         SELECT doc_id, lang_id,
           round(greatest(0.0,
             len_score * 0.4 +
             (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3 +
             (1.0 - punct_penalty) * 0.2 +
             (1.0 - upper_penalty) * 0.1), 4) AS quality
         FROM q ORDER BY doc_id"""),
    QuerySpec("q45_fingerprint", (s, d) =>
      // §2.11: polynomial rolling-hash fingerprint (11-char prefix so the
      // DuckDB BIGINT mirror cannot overflow; full-text form is the same
      // fold and stays unit-tested).
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.rollingHashFingerprint(substring(col("text"), 1, 11)).as("fp"))
        .orderBy(col("doc_id")),
      """WITH b AS (SELECT doc_id, substr(text, 1, 11) AS p FROM documents)
         SELECT doc_id,
           list_reduce(list_concat([CAST(7 AS BIGINT)],
             list_transform(range(1, length(p)+1),
               i -> CAST(ord(substr(p, i, 1)) AS BIGINT))),
             (acc, c) -> acc * 31 + c) AS fp
         FROM b ORDER BY doc_id"""),
    QuerySpec("q103_unicode_norm", (s, d) => {
      // Unicode canonical normalization: the synthetic corpus is
      // ASCII, so the fixture text is BUILT with both spellings of an
      // accented word — composed U+00E9 and decomposed e+U+0301, which
      // are different byte strings every exact-dedup hash would keep
      // as distinct documents. normKey (NFD -> strip marks -> NFC ->
      // lower, a codegen'd native NFC/NFD expression) collapses them;
      // the oracle mirrors with lower(strip_accents()) and
      // nfc_normalize(). keys_match is an actual cross-spelling
      // comparison in BOTH engines, not a pinned literal.
      val c = customer(s, d)
      val composed = concat(lit("Caf\u00e9 "), col("c_name"))
      val decomposed = concat(lit("Cafe\u0301 "), col("c_name"))
      import graft.functions.UnicodeNormOps.{nfc, normKey}
      c.select(col("c_custkey"),
          normKey(composed).as("fold_key"),
          (normKey(composed) === normKey(decomposed)).as("keys_match"),
          length(nfc(decomposed)).as("nfc_chars"),
          length(decomposed).as("raw_chars"))
        .orderBy(col("c_custkey"))
    },
      // q103: chr(233) = composed e-acute, chr(769) = combining acute.
      """SELECT c_custkey,
         lower(strip_accents('Caf' || chr(233) || ' ' || c_name)) AS fold_key,
         lower(strip_accents('Caf' || chr(233) || ' ' || c_name)) =
           lower(strip_accents('Cafe' || chr(769) || ' ' || c_name)) AS keys_match,
         length(nfc_normalize('Cafe' || chr(769) || ' ' || c_name)) AS nfc_chars,
         length('Cafe' || chr(769) || ' ' || c_name) AS raw_chars
         FROM customer ORDER BY c_custkey"""),
    QuerySpec("q157_json_schema", (s, d) =>
      // q19's JSON extraction through a SCHEMA'D one-shot from_json
      // instead of per-access get_json_object — at event-log scan
      // grain the parse happens once per row into a typed struct, the
      // form that survives 100 TB (and the only one that does if more
      // than one key is ever read). Same oracle as q19: the rewrite
      // must be value-identical, malformed/missing keys -> 0.
      // k is read as STRING and cast — get_json_object (q19) and the
      // oracle's json_extract_string + CAST both coerce a quoted
      // numeric like {"k":"5"} to 5, which from_json(LongType) would
      // silently null out; StringType + cast matches that coercion on
      // every input, not just the generator's unquoted numerics.
      events(s, d)
        .select(col("event_id"),
          coalesce(from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.StringType))))
            .getField("k").cast("long"), lit(0L)).as("k"))
        .orderBy(col("event_id")),
      // q157: q19's oracle verbatim — the schema'd rewrite must be
      // value-identical.
      """SELECT event_id,
         coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
         FROM events ORDER BY event_id"""),
  )
}
