package graft.suite

import graft.core.Tables._
import graft.functions.{IsoDurationSeconds, TextFunctions, TimeFunctions}
import graft.functions.VectorFunctions._
import graft.ops.{Dedup, Sampling, Similarity, TextAnalysis}
import graft.suite.Shared._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The tokenizer rows: BPE, WordPiece and unigram-LM training and
  * encoding, tokenizer evals and token n-gram decontamination, with the
  * DuckDB CTE builders their oracles replay training with.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object TokenizerRows {

  /** q183/q191's ids row: `encode` over `docs` plus the two constant
    * [UNK] plants both oracles replay verbatim (an over-length word,
    * code points no training corpus holds), summarized per doc as
    * (doc_id, ids_str, n_tokens, n_unk) in doc_id order.
    */
  private def plantedIds(s: SparkSession, docs: DataFrame)(
      encode: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val planted = Seq(
      ((1L << 41) + 1L, "zz unmatchableverylongword zz"),
      ((1L << 41) + 2L, "ordinary ωμέγα words"))
      .toDF("doc_id", "text")
    encode(docs.unionByName(planted))
      .select(col("doc_id"),
        array_join(transform(col("token_ids"), i => i.cast("string")),
          " ").as("ids_str"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        size(filter(col("token_ids"), i => i === 0L)).cast("long")
          .as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** The q180/q189 decontamination plants (constant rows, replayed
    * verbatim by both oracles): train docs 1-3 share ONLY the rare
    * word "zqvxkwpthj" with the eval probe (word-blind mode 1 — a
    * single shared word never spans a word trigram), train doc 4
    * shares the two-word phrase "zqvxkwpthj rrthree" (mode 2 — id
    * n-grams straddling the word boundary).
    */
  private def decontPlants(s: org.apache.spark.sql.SparkSession)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    (Seq(
      ((1L << 41) + 1L, "qqalpha qqbeta zqvxkwpthj qqgamma qqdelta"),
      ((1L << 41) + 2L, "qqepsilon qqzeta zqvxkwpthj qqeta qqtheta"),
      ((1L << 41) + 3L, "qqiota qqkappa zqvxkwpthj qqlambda qqmu"),
      ((1L << 41) + 4L, "ssalpha ssbeta zqvxkwpthj rrthree ssgamma"))
      .toDF("doc_id", "text"),
      Seq(((1L << 42) + 1L, "rrone rrtwo zqvxkwpthj rrthree rrfour"))
        .toDF("doc_id", "text"))
  }

  /** Unigram-LM knobs shared by q190/q191 and their oracles: seed =
    * alphabet + top-40 substrings (<= 4 cps), 2 hard-EM rounds, prune
    * the 10 lowest-loss multi-char pieces, 16-cp [UNK]-wholesale cap
    * (also the oracle's DP unroll bound).
    */
  private val ugSeedSize = 40
  private val ugPruneCount = 10
  private val ugMaxPieceLen = 4
  private val ugEmRounds = 2
  private val ugMaxChars = 16

  /** WordPiece merge rounds shared by q182/q183 and their oracles. */
  private val wpRounds = 10

  /** WordPiece [UNK]-wholesale word-length cap (code points) — also
    * the oracle's longest-match step-unroll bound (q183).
    */
  private val wpMaxChars = 16

  private def sharedBpeMerges(
      s: SparkSession, d: String): Seq[graft.ops.Bpe.Merge] =
    memoTrained(s"bpe:$d:$bpeRounds") {
      graft.ops.Bpe.train(documents(s, d), "text", bpeRounds)
    }
  private def sharedWpMerges(
      s: SparkSession, d: String): Seq[graft.ops.WordPiece.Merge] =
    memoTrained(s"wp:$d:$wpRounds") {
      graft.ops.WordPiece.train(documents(s, d), "text", wpRounds)
    }
  /** q183's vocabulary rows, kept beside the merges they extend. */
  private def sharedWpVocab(s: SparkSession, d: String): Seq[(String, Long)] = {
    val merges = sharedWpMerges(s, d)
    memoTrained(s"wpv:$d:$wpRounds") {
      import s.implicits._
      graft.ops.WordPiece.vocabTable(documents(s, d), "text", merges)
        .as[(String, Long)].collect().toSeq
    }
  }
  private def sharedUnigramPieces(
      s: SparkSession, d: String): Seq[graft.ops.Unigram.Piece] =
    memoTrained(s"ug:$d:$ugSeedSize:$ugMaxPieceLen:$ugEmRounds:" +
        s"$ugPruneCount:$ugMaxChars") {
      graft.ops.Unigram.train(documents(s, d), "text", ugSeedSize,
        ugMaxPieceLen, ugEmRounds, ugPruneCount, ugMaxChars)
    }

  /** Shared by q154 (native cached tokenize) and q165 (dictionary-join
    * tokenize): train replay, join-by-word tokenization via the final
    * word table, q152's window-prefix packing.
    */
  private lazy val bpeSequencePackingOracle: String =
    s"""WITH ${bpeTrainCtes(bpeRounds)},
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         mt AS (SELECT wx.doc_id, wx.wi, wr.w AS mw
           FROM wx JOIN w$bpeRounds wr USING (word)),
         dstr AS (SELECT doc_id, string_agg(mw, ' ' ORDER BY wi) AS s
           FROM mt GROUP BY doc_id),
         toks AS (SELECT d.doc_id,
             list_concat(list_filter(string_split(coalesce(ds.s, ''), ' '),
               t -> t <> ''), ['<eod>']) AS t
           FROM documents d LEFT JOIN dstr ds ON d.doc_id = ds.doc_id),
         off AS (SELECT doc_id, coalesce(SUM(len(t)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
           FROM toks),
         tok AS (SELECT toks.doc_id, off.o + u.i AS pos, toks.t[u.i+1] AS tk
           FROM toks JOIN off USING (doc_id),
           LATERAL unnest(range(len(toks.t))) AS u(i))
         SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
           string_agg(tk, ' ' ORDER BY pos) AS seq_text,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM tok GROUP BY 1 ORDER BY 1"""

  /** The q153/q154 training replay: w0 = the distinct-word histogram
    * with words as space-joined character sequences; round r = pair
    * count over w(r-1) (overlapping adjacent positions, freq-weighted),
    * ONE-row argmax m_r, and the two-pass padded replace into w_r.
    * `word` rides along so q154 can tokenize by joining the final
    * round's table.
    */
  private def bpeTrainCtes(n: Int): String =
    """w0 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(?s)(.)', '\1 ', 'g')) AS w, freq FROM (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '')) AS w
          FROM documents) GROUP BY 1))""" + bpeMergeRoundCtes(n)

  /** BYTE-LEVEL training replay: the w0 histogram pretokenizes with
    * [[graft.ops.Bpe.byteLevelPattern]] (no lowercase, no empty
    * filter — regex matches are non-empty) and splits pretokens into
    * uppercase hex byte pairs; the merge rounds are convention-
    * independent ([[bpeMergeRoundCtes]]).
    */
  private def bpeByteTrainCtes(n: Int): String =
    s"""w0 AS MATERIALIZED (SELECT word, trim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g')) AS w, freq FROM (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(regexp_extract_all(coalesce(text, ''), '${graft.ops.Bpe.byteLevelPattern}')) AS w
          FROM documents) GROUP BY 1))""" + bpeMergeRoundCtes(n)

  /** Apply the already-learned m1..mN merge relations to EVERY
    * distinct byte-level pretoken of `srcTable` — the TOKENIZE side of
    * the byte-level replay for inputs the training corpus never saw
    * (q180's planted rows): tv0 = the spaced-hex initial symbols of
    * the source's own pretoken vocabulary, tvR = round R's padded
    * two-pass replace. Unlike [[bpeByteTrainCtes]]'s w-chain (which
    * only carries the TRAINING corpus's words), the tv-chain covers
    * the full input vocabulary, mirroring
    * [[graft.ops.Bpe.tokenizeToIdsByteLevel]]'s dictionary build.
    */
  private def bpeByteApplyCtes(n: Int, srcTable: String): String = {
    val sb = new StringBuilder
    sb ++= s"""tv0 AS MATERIALIZED (SELECT word, trim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g')) AS w FROM (
        SELECT DISTINCT unnest(regexp_extract_all(coalesce(text, ''), '${graft.ops.Bpe.byteLevelPattern}')) AS word FROM $srcTable))"""
    for (r <- 1 to n) {
      sb ++= s""",
        tv$r AS MATERIALIZED (SELECT word, trim(replace(replace(' ' || w || ' ', ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ')) AS w FROM tv${r - 1}, m$r m)"""
    }
    sb.toString
  }

  /** The per-round argmax + padded two-pass replace CTE chain shared
    * by both conventions' training replays.
    */
  private def bpeMergeRoundCtes(n: Int): String = {
    val sb = new StringBuilder
    for (r <- 1 to n) {
      sb ++= s""",
        m$r AS MATERIALIZED (SELECT a, b, c FROM (
          SELECT t.sym[u.i+1] AS a, t.sym[u.i+2] AS b, CAST(SUM(t.freq) AS BIGINT) AS c
          FROM (SELECT string_split(w, ' ') AS sym, freq FROM w${r - 1}) t,
            LATERAL unnest(range(len(t.sym) - 1)) AS u(i)
          GROUP BY 1, 2)
        ORDER BY c DESC, a, b LIMIT 1),
        w$r AS MATERIALIZED (SELECT word, trim(replace(replace(' ' || w || ' ', ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ')) AS w, freq FROM w${r - 1}, m$r m)"""
    }
    sb.toString
  }

  /** WORDPIECE training replay (q182/q183): w0 is the suite-convention
    * histogram under the '##'-continuation initial split; each round
    * recomputes symbol counts (sc\$r — the likelihood denominators
    * shift as merges move mass), cross-multiplies the 10^12 grid score
    * in HUGEINT (exact floor, [[graft.ops.WordPiece.ScoreGrid]]), takes
    * the (score DESC, count DESC, a, b) argmax, and applies the
    * two-pass padded replace with the '##'-stripping concat — the
    * merged symbol inherits a's word-initial/continuation form.
    */
  private def wpTrainCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """w0 AS MATERIALIZED (SELECT word, replace(trim(regexp_replace(word, '(?s)(.)', '\1 ', 'g')), ' ', ' ##') AS w, freq FROM (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'), t -> t <> '')) AS w
          FROM documents) GROUP BY 1))"""
    for (r <- 1 to n) {
      val mergedSym =
        s"m.a || CASE WHEN m.b LIKE '##%' THEN substr(m.b, 3) ELSE m.b END"
      sb ++= s""",
        sc$r AS MATERIALIZED (SELECT u.s AS s, CAST(SUM(t.freq) AS BIGINT) AS cs
          FROM (SELECT string_split(w, ' ') AS sym, freq FROM w${r - 1}) t,
            LATERAL unnest(t.sym) AS u(s)
          GROUP BY 1),
        m$r AS MATERIALIZED (SELECT a, b, c, score FROM (
          SELECT p.a, p.b, p.c,
            CAST(CAST(p.c AS HUGEINT) * ${graft.ops.WordPiece.ScoreGrid} // (CAST(ca.cs AS HUGEINT) * CAST(cb.cs AS HUGEINT)) AS BIGINT) AS score
          FROM (SELECT t.sym[u.i+1] AS a, t.sym[u.i+2] AS b, CAST(SUM(t.freq) AS BIGINT) AS c
            FROM (SELECT string_split(w, ' ') AS sym, freq FROM w${r - 1}) t,
              LATERAL unnest(range(len(t.sym) - 1)) AS u(i)
            GROUP BY 1, 2) p
          JOIN sc$r ca ON ca.s = p.a JOIN sc$r cb ON cb.s = p.b)
        ORDER BY score DESC, c DESC, a, b LIMIT 1),
        w$r AS MATERIALIZED (SELECT word, trim(replace(replace(' ' || w || ' ', ' ' || m.a || ' ' || m.b || ' ', ' ' || $mergedSym || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || $mergedSym || ' ')) AS w, freq FROM w${r - 1}, m$r m)"""
    }
    sb.toString
  }

  /** WordPiece greedy LONGEST-MATCH replay over the distinct words of
    * `dw` (word) against the vocabulary `voc` (token, token_id):
    * unrolled step CTEs ws1..ws`steps` — each step takes the longest
    * vocabulary entry matching at the cursor (continuation positions
    * prepend '##'), a no-match marks the word bad ([UNK] wholesale),
    * and positions/lengths count code points (DuckDB's substr/length
    * grain, exactly [[graft.functions.WordPieceTokenizeOps]]'s
    * contract). Words over `maxChars` code points are bad upfront, so
    * `steps` = maxChars bounds the unroll by construction (every
    * active step consumes >= 1 code point). Emits wp_toks(word, toks).
    */
  private def wpMatchCtes(steps: Int, maxChars: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""ws0 AS MATERIALIZED (SELECT word, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks, length(word) > $maxChars AS bad FROM dw)"""
    for (k <- 1 to steps) {
      // MATERIALIZED is load-bearing (the q164 lesson): each step
      // references the previous one twice (scan + match), which would
      // inline 2^steps ways otherwise.
      sb ++= s""",
        wm$k AS MATERIALIZED (SELECT u.word, CAST(max(g.L) AS BIGINT) AS best
          FROM ws${k - 1} u,
            LATERAL unnest(range(1, length(u.word) - u.pos + 2)) AS g(L)
          JOIN voc v ON v.token = (CASE WHEN u.pos > 1 THEN '##' ELSE '' END) || substr(u.word, u.pos, g.L)
          WHERE NOT u.bad AND u.pos <= length(u.word)
          GROUP BY 1),
        ws$k AS MATERIALIZED (SELECT u.word,
            CASE WHEN u.bad OR u.pos > length(u.word) THEN u.pos
                 ELSE u.pos + coalesce(m.best, 0) END AS pos,
            CASE WHEN u.bad OR u.pos > length(u.word) OR m.best IS NULL THEN u.toks
                 ELSE list_append(u.toks, (CASE WHEN u.pos > 1 THEN '##' ELSE '' END) || substr(u.word, u.pos, m.best)) END AS toks,
            u.bad OR (u.pos <= length(u.word) AND m.best IS NULL) AS bad
          FROM ws${k - 1} u LEFT JOIN wm$k m USING (word))"""
    }
    sb ++= s""",
        wp_toks AS (SELECT word, CASE WHEN bad THEN ['[UNK]'] ELSE toks END AS toks FROM ws$steps)"""
    sb.toString
  }

  /** The WordPiece vocabulary replay (q183): [UNK] id 0, base symbols
    * of the initial split 1..B in binary order, merge r's '##'-joined
    * symbol B + r, duplicates collapsing to the smallest id across the
    * whole union ([[graft.ops.WordPiece.vocabTable]]).
    */
  private def wpVocabCtes(n: Int): String =
    s"""bsym AS (SELECT DISTINCT u.s AS token
          FROM (SELECT string_split(w, ' ') AS sym FROM w0) t,
            LATERAL unnest(t.sym) AS u(s)),
        bn AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bsym),
        bids AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid FROM bsym),
        mgw AS (${(1 to n).map(r =>
      s"SELECT a || CASE WHEN b LIKE '##%' THEN substr(b, 3) ELSE b END AS token, CAST($r AS BIGINT) AS r FROM m$r")
      .mkString(" UNION ALL ")}),
        voc AS (SELECT token, CAST(min(tid) AS BIGINT) AS token_id FROM (
            SELECT '[UNK]' AS token, CAST(0 AS BIGINT) AS tid
            UNION ALL SELECT token, tid FROM bids
            UNION ALL SELECT mgw.token, bn.nb + mgw.r AS tid FROM mgw, bn)
          GROUP BY token)"""

  // ------------------------------------------------------ unigram LM

  /** Laplace micro-nat cost table over a piece relation (token, c):
    * the [[graft.ops.Unigram]] grid — round_even(-ln((c+1)/(tot+V)) *
    * 1e6), IEEE double ln (the q82 cross-engine discipline).
    */
  private def ugCostCte(name: String, piecesRel: String): String =
    s"""$name AS MATERIALIZED (SELECT p.token,
          CAST(round_even(-ln((CAST(p.c AS DOUBLE) + 1.0) /
            (CAST(t.tot AS DOUBLE) + 1.0 * CAST(t.v AS DOUBLE))) * 1000000,
            0) AS BIGINT) AS cost
        FROM $piecesRel p, (SELECT CAST(coalesce(SUM(c), 0) AS BIGINT)
          AS tot, CAST(count(*) AS BIGINT) AS v FROM $piecesRel) t)"""

  /** One unrolled VITERBI DP chain `pfx`_0..`pfx`_`maxChars` over the
    * distinct words of `wordsRel` (word) under the cost table
    * `costRel` (token, cost) — the [[graft.functions
    * .UnigramViterbiExpr]] contract replayed: state (pos, cost, np,
    * seg) per word, transition = append any vocabulary piece of 1..
    * `maxPieceLen` code points ending at pos, winner by (cost ASC,
    * np ASC, L DESC) — the forward carry of the longest-last-piece
    * tie-break. Emits `pfx`_seg (word, seg) for words whose final
    * position is reached (unsegmentable/over-length words are simply
    * absent — the [UNK]-wholesale arm is the consumer's LEFT JOIN).
    * MATERIALIZED is load-bearing twice over: each step references
    * its predecessor twice (carry + transition) and the cost table at
    * every step.
    */
  private def ugViterbiCtes(pfx: String, wordsRel: String,
      costRel: String, maxChars: Int, maxPieceLen: Int): String = {
    val ls = (1 to maxPieceLen).mkString("[", ",", "]")
    val sb = new StringBuilder
    sb ++= s"""${pfx}_0 AS (SELECT word, 0 AS pos,
          CAST(0 AS BIGINT) AS cost, 0 AS np,
          CAST([] AS VARCHAR[]) AS seg FROM $wordsRel)"""
    for (k <- 1 to maxChars) {
      sb ++= s""",
        ${pfx}_$k AS MATERIALIZED (
          SELECT word, pos, cost, np, seg FROM ${pfx}_${k - 1}
          UNION ALL
          SELECT word, $k AS pos, cost, np, seg FROM (
            SELECT prev.word, prev.cost + vc.cost AS cost,
              prev.np + 1 AS np, list_append(prev.seg, vc.token) AS seg,
              row_number() OVER (PARTITION BY prev.word
                ORDER BY prev.cost + vc.cost, prev.np + 1, g.L DESC) AS rn
            FROM ${pfx}_${k - 1} prev, LATERAL unnest($ls) AS g(L),
              $costRel vc
            WHERE prev.pos = $k - g.L AND length(prev.word) >= $k
              AND vc.token = substr(prev.word, $k - g.L + 1, g.L))
          WHERE rn = 1)"""
    }
    sb ++= s""",
        ${pfx}_seg AS MATERIALIZED (SELECT word, seg FROM ${pfx}_$maxChars
          WHERE pos = length(word))"""
    sb.toString
  }

  /** The full unigram TRAIN replay over `src` (doc_id, text): suite
    * word histogram -> substring seed (alphabet + top-`seedSize` by
    * count * len) -> `emRounds` hard-EM Viterbi passes -> prune
    * `pruneCount` multi-char pieces by HUGEINT loss c * cost -> one
    * post-prune pass. Ends with ugfinal (token, c, cost) — the
    * [[graft.ops.Unigram.train]] output — plus ugcf, the final cost
    * table inference runs under, and ugh, the training histogram.
    */
  private def unigramTrainCtes(src: String, seedSize: Int,
      maxPieceLen: Int, emRounds: Int, pruneCount: Int,
      maxChars: Int): String = {
    val ls = (1 to maxPieceLen).mkString("[", ",", "]")
    val sb = new StringBuilder
    sb ++= s"""ugh AS MATERIALIZED (SELECT w AS word,
          CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(list_filter(string_split_regex(
              lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')) AS w
            FROM $src) GROUP BY 1 HAVING length(w) <= $maxChars),
        ugsub AS MATERIALIZED (SELECT substr(w.word, s.i + 1, l.L)
            AS token, CAST(l.L AS BIGINT) AS len,
            CAST(SUM(w.freq) AS BIGINT) AS c
          FROM ugh w, LATERAL unnest(range(length(w.word))) AS s(i),
            LATERAL unnest($ls) AS l(L)
          WHERE s.i + l.L <= length(w.word)
          GROUP BY 1, 2),
        ugp0 AS MATERIALIZED (
          SELECT token, c FROM ugsub WHERE len = 1
          UNION ALL
          SELECT token, c FROM (SELECT token, c FROM ugsub WHERE len >= 2
            ORDER BY c * len DESC, token LIMIT $seedSize)),
        ${ugCostCte("ugc1", "ugp0")}"""
    // EM rounds: pass r segments under ugc{r}, yielding counts ugcnt{r}
    // and the re-counted piece set ugp{r}.
    for (r <- 1 to emRounds) {
      sb ++= s""",
        ${ugViterbiCtes(s"ugv$r", "ugh", s"ugc$r", maxChars, maxPieceLen)},
        ugcnt$r AS MATERIALIZED (SELECT u.t AS token,
            CAST(SUM(h.freq) AS BIGINT) AS c
          FROM ugv${r}_seg s JOIN ugh h USING (word),
            LATERAL unnest(s.seg) AS u(t)
          GROUP BY 1),
        ugp$r AS MATERIALIZED (SELECT p.token,
            CAST(coalesce(cn.c, 0) AS BIGINT) AS c
          FROM ugp0 p LEFT JOIN ugcnt$r cn ON cn.token = p.token)"""
      if (r < emRounds) sb ++= s""",
        ${ugCostCte(s"ugc${r + 1}", s"ugp$r")}"""
    }
    val postEm = s"ugp$emRounds"
    val postR = emRounds + 1
    sb ++= s""",
        ${ugCostCte("ugcl", postEm)},
        ugdrop AS MATERIALIZED (SELECT token FROM (
            SELECT p.token,
              CAST(p.c AS HUGEINT) * CAST(cl.cost AS HUGEINT) AS loss
            FROM $postEm p JOIN ugcl cl USING (token)
            WHERE length(p.token) >= 2)
          ORDER BY loss, token LIMIT $pruneCount),
        ugps AS MATERIALIZED (SELECT token, c FROM $postEm
          WHERE token NOT IN (SELECT token FROM ugdrop)),
        ${ugCostCte(s"ugc$postR", "ugps")},
        ${ugViterbiCtes(s"ugv$postR", "ugh", s"ugc$postR", maxChars,
          maxPieceLen)},
        ugcnt$postR AS MATERIALIZED (SELECT u.t AS token,
            CAST(SUM(h.freq) AS BIGINT) AS c
          FROM ugv${postR}_seg s JOIN ugh h USING (word),
            LATERAL unnest(s.seg) AS u(t)
          GROUP BY 1),
        ugpf AS MATERIALIZED (SELECT p.token,
            CAST(coalesce(cn.c, 0) AS BIGINT) AS c
          FROM ugps p LEFT JOIN ugcnt$postR cn ON cn.token = p.token),
        ${ugCostCte("ugcf", "ugpf")},
        ugfinal AS MATERIALIZED (SELECT p.token, p.c, cf.cost
          FROM ugpf p JOIN ugcf cf USING (token))"""
    sb.toString
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- BPE ------------------------------------------------------
    QuerySpec("q153_bpe_train", (s, d) => {
      // §2.11 tokenization: distributed BPE training — ONE corpus scan
      // builds the distinct-word histogram; each of the 20 merge
      // rounds is a map-side-combined pair count over that histogram
      // plus a ONE-row argmax collect (bounded driver state, the
      // k-core discipline) and a map-only merge application. The
      // oracle replays all 20 rounds in chained CTEs: same pair
      // counts, same (count DESC, a, b) tie-break, same two-pass
      // replace fixpoint — the merge table must match round for round.
      val merges = sharedBpeMerges(s, d)
      import s.implicits._
      merges.map(m => (m.rank.toLong, m.a, m.b, m.count))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count")
        .orderBy(col("merge_rank"))
    },
      // q153: the full 20-round training replay — same histogram, same
      // overlapping-position pair counts, same (count DESC, a, b)
      // argmax, same two-pass replace fixpoint. Early exhaustion
      // mirrors for free: an empty LIMIT 1 empties every later round.
      s"""WITH ${bpeTrainCtes(bpeRounds)}
         SELECT * FROM (${(1 to bpeRounds).map(r =>
           s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS pair_a, " +
             s"b AS pair_b, CAST(c AS BIGINT) AS pair_count FROM m$r")
           .mkString(" UNION ALL ")})
         ORDER BY merge_rank"""),
    QuerySpec("q154_bpe_sequence_packing", (s, d) => {
      // q152's GPT packing with the whitespace convention replaced by
      // the TRAINED q153 tokenizer: every word maps through the full
      // merge sequence (nested codegen'd replace — map-only, no
      // dictionary join), <eod> separates documents, 64-token cuts
      // cross document boundaries. The oracle re-trains the vocab in
      // SQL, tokenizes via the final word table (training composition
      // == per-word fold, so the join-by-word form is exact), and
      // re-packs with the window-form prefix. Full-value: every
      // sequence string must match.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      graft.ops.SequencePack.packTokens(docs,
          concat(graft.ops.Bpe.tokenize(col("text"), merges),
            array(lit("<eod>"))), "doc_id", 64)
        .orderBy(col("seq_id"))
    },
      // q154: tokenize via the FINAL training word table (the per-word
      // merge fold equals the training composition, so join-by-word is
      // exact), then q152's window-prefix packing over the BPE stream.
      bpeSequencePackingOracle),
    QuerySpec("q165_bpe_dict_packing", (s, d) => {
      // §2.11 tokenization: q154's train → tokenize → pack through the
      // BROADCAST-DICTIONARY tokenize path — distinct words pay the
      // merge fold ONCE in a distributed dictionary stage (cost ∝
      // vocabulary, not corpus), occurrences resolve by word join;
      // the large-vocabulary posture (a 50k-merge vocab degrades the
      // per-JVM word cache, never the dictionary join). Same oracle
      // as q154: native cache == dictionary == SQL word-table replay.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      val toked = graft.ops.Bpe.tokenizeByDict(docs, "text", "doc_id", merges)
      graft.ops.SequencePack.packTokens(toked,
          concat(col("tokens"), array(lit("<eod>"))), "doc_id", 64)
        .orderBy(col("seq_id"))
    },
      // q165: the dictionary-join tokenize path — the oracle's join-by-
      // word form IS this plan's shape, so q154's oracle pins it
      // verbatim (native-cache path == dictionary path == SQL replay).
      bpeSequencePackingOracle),
    QuerySpec("q166_bpe_budget_shards", (s, d) => {
      // §2.11 end-to-end trained-tokenizer stream: train (q153) →
      // native tokenize → per-source token-budget cap (q128's op on
      // BPE counts instead of the whitespace convention) → shard
      // packing of the kept prefix (q78's two-phase exclusive scan,
      // weighted by BPE tokens). One window shuffle for the cap, one
      // range shuffle for the shards; the oracle replays training and
      // recomputes both prefix sums in window form.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      val toked = docs.select(col("doc_id"), col("source"),
        graft.ops.Bpe.tokenize(col("text"), merges).as("__toks"))
      val capped = graft.ops.BudgetCap.capByCount(toked,
        size(col("__toks")), "doc_id", "source", budgetTokens = 2000L)
      val kept = capped.where(col("kept"))
      val shards = graft.ops.Packing.assignShards(
        kept.select(col("id"), col("n_tokens")), "id", "n_tokens", 5000L)
      kept.join(shards, Seq("id"))
        .select(col("grp"), col("id"), col("n_tokens"), col("cum_tokens"),
          col("shard"))
        .orderBy(col("grp"), col("id"))
    },
      // q166: train replay, per-doc BPE token counts via the final word
      // table (subword count per word, summed per doc), q128's ordered
      // prefix cap per source in window form, then the kept prefix's
      // exclusive scan // shardSize — the full trained-tokenizer stream.
      s"""WITH ${bpeTrainCtes(bpeRounds)},
         wx AS (SELECT doc_id, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         nt AS (SELECT d.doc_id, d.source,
             CAST(coalesce(m.s, 0) AS BIGINT) AS n_tokens
           FROM documents d LEFT JOIN (
             SELECT wx.doc_id, SUM(len(string_split(wr.w, ' '))) AS s
             FROM wx JOIN w$bpeRounds wr USING (word) GROUP BY 1) m
           USING (doc_id)),
         cap AS (SELECT source AS grp, doc_id AS id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
           FROM nt),
         kept AS (SELECT * FROM cap WHERE cum_tokens <= 2000),
         sh AS (SELECT id, CAST(coalesce(SUM(n_tokens) OVER (ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5000
             AS BIGINT) AS shard FROM kept)
         SELECT k.grp, k.id, k.n_tokens, k.cum_tokens, sh.shard
         FROM kept k JOIN sh USING (id) ORDER BY grp, id"""),
    QuerySpec("q168_bpe_vocab", (s, d) => {
      // §2.11 tokenization: the trained VOCABULARY as (token, token_id)
      // — GPT-2's id convention re-derived: base symbols 0..B-1 in
      // binary order, merge r's symbol at B+r-1, duplicate merge
      // strings keep the earliest id. Both relations vocabulary-sized
      // (bounded id-assignment window, never corpus-proportional).
      // The oracle rebuilds the same ids from the training replay.
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      graft.ops.Bpe.vocabTable(docs, "text", merges)
        .orderBy(col("token_id"), col("token"))
    },
      // q168: base symbols from w0's char split (row_number ids in
      // binary order — DuckDB's default collation = Spark's UTF-8
      // comparison on this corpus), merge symbols at nb + r - 1 with
      // duplicate strings keeping the earliest id.
      s"""WITH ${bpeTrainCtes(bpeRounds)},
         base AS (SELECT DISTINCT tk AS token FROM (
             SELECT unnest(string_split(w, ' ')) AS tk FROM w0)
           WHERE tk <> ''),
         nb AS (SELECT count(*) AS n FROM base),
         bi AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1
             AS BIGINT) AS token_id FROM base),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(nb.n + r - 1) AS BIGINT) AS token_id
           FROM mg, nb GROUP BY token)
         SELECT token, token_id FROM bi
         UNION ALL SELECT token, token_id FROM mi
         ORDER BY token_id, token"""),
    QuerySpec("q169_bpe_token_ids", (s, d) => {
      // §2.11 tokenization: encode to INTEGER IDS — the artifact the
      // training loader consumes: dictionary-join tokenize with the
      // per-word subword arrays mapped through the broadcast q168
      // vocabulary at DICTIONARY grain (the occurrence join pays
      // nothing extra). n_unk pins total coverage on the training
      // corpus (every emitted subword is a composition of base
      // symbols through the merge table, so -1 never appears here).
      val docs = documents(s, d)
      val merges = sharedBpeMerges(s, d)
      val vocab = graft.ops.Bpe.vocabTable(docs, "text", merges)
      graft.ops.Bpe.tokenizeToIds(docs, "text", "doc_id", merges, vocab)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), i => i.cast("string")),
            " ").as("ids_str"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), i => i < 0)).cast("long")
            .as("n_unk"))
        .orderBy(col("doc_id"))
    },
      // q169: q154's word-table tokenize, each subword mapped through
      // the q168 vocabulary, ids string-aggregated in (word, subword)
      // order — the exact document-order id stream.
      s"""WITH ${bpeTrainCtes(bpeRounds)},
         base AS (SELECT DISTINCT tk AS token FROM (
             SELECT unnest(string_split(w, ' ')) AS tk FROM w0)
           WHERE tk <> ''),
         nb AS (SELECT count(*) AS n FROM base),
         bi AS (SELECT token, CAST(row_number() OVER (ORDER BY token) - 1
             AS BIGINT) AS token_id FROM base),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(nb.n + r - 1) AS BIGINT) AS token_id
           FROM mg, nb GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         mt AS (SELECT wx.doc_id, wx.wi, wr.w AS mw
           FROM wx JOIN w$bpeRounds wr USING (word)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT doc_id, wi, string_split(mw, ' ') AS s FROM mt) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si,
             coalesce(voc.token_id, -1) AS tid
           FROM sub LEFT JOIN voc ON voc.token = sub.token),
         agg AS (SELECT doc_id,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wi, si)
               AS ids_str,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE tid < 0) AS BIGINT) AS n_unk
           FROM ids GROUP BY 1)
         SELECT d.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_unk, 0) AS n_unk
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id"""),
    QuerySpec("q177_bpe_byte_vocab", (s, d) => {
      // §2.11 tokenization, BYTE-LEVEL convention (the GPT-2 family's,
      // RE2-safe — see Bpe.byteLevelPattern): category-regex pretokens
      // keep their leading space, symbols are UTF-8 bytes as hex
      // pairs, and the vocabulary's base alphabet is ALL 256 bytes
      // (ids 0..255 = the byte value) regardless of corpus — the
      // no-unk-by-construction property q178 pins. Merge ids follow
      // at 256 + rank - 1, earliest id winning duplicate strings.
      // Store-backed since round 13: the trained vocabulary is read
      // off the standing tokenization store (one train per run/corpus,
      // shared with q178/q180/q185/q189); the oracle replays the
      // train. needIds = false — this row reads only the tokenizer
      // half, so it must not be charged the corpus tokenize (the
      // store's expensive half, layered on by the first ids consumer).
      val prefix = ensureTokenStore(s, d, needIds = false)
      graft.ops.TokenStore.vocab(s, prefix)
        .orderBy(col("token_id"), col("token"))
    },
      // q177: byte-level training replay (bpeByteTrainCtes); base ids =
      // the full 256 hex pairs at their byte values, merge ids at
      // 256 + r - 1 with earliest-id-wins on duplicate strings.
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token)
         SELECT token, token_id FROM bi
         UNION ALL SELECT token, token_id FROM mi
         ORDER BY token_id, token"""),
    QuerySpec("q178_bpe_byte_ids", (s, d) => {
      // §2.11 tokenization: byte-level encode to INTEGER IDS — q169's
      // dictionary-join shape under the byte-level convention. n_unk
      // pins 0 for EVERY document: every emission composes the 256
      // byte symbols through the merge table and the vocabulary
      // carries all 256 by construction (not just the corpus's).
      // Store-backed since round 13: (doc_id, token_ids) reads off the
      // standing tokenization store — the q176 discipline; the oracle
      // replays the full train + tokenize derivation store-free.
      val prefix = ensureTokenStore(s, d)
      graft.ops.TokenStore.ids(s, prefix)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), i => i.cast("string")),
            " ").as("ids_str"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), i => i < 0)).cast("long")
            .as("n_unk"))
        .orderBy(col("doc_id"))
    },
      // q178: q169's word-table tokenize under the byte-level
      // convention (regex pretokens with ordinality, no lowercase/empty
      // filter), ids through the q177 vocabulary.
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM documents) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         mt AS (SELECT wx.doc_id, wx.wi, wr.w AS mw
           FROM wx JOIN w$bpeRounds wr USING (word)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT doc_id, wi, string_split(mw, ' ') AS s FROM mt) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si,
             coalesce(voc.token_id, -1) AS tid
           FROM sub LEFT JOIN voc ON voc.token = sub.token),
         agg AS (SELECT doc_id,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wi, si)
               AS ids_str,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE tid < 0) AS BIGINT) AS n_unk
           FROM ids GROUP BY 1)
         SELECT d.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_unk, 0) AS n_unk
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id"""),

    // ---- token n-gram decontamination -----------------------------
    QuerySpec("q180_token_decontamination", (s, d) => {
      // §2.11 benchmark decontamination on TOKENIZER n-grams (GPT-3
      // App. C convention: overlap is defined on token n-grams of the
      // production tokenizer, not whitespace words): the corpus trains
      // the byte-level BPE (q177/q178's exact path), both splits
      // encode to integer ids at dictionary grain, and the eval set's
      // distinct id 4-grams broadcast against the map-only exploded
      // train side — q79's shape, one level below words. The word-
      // trigram arm (q79's op verbatim) rides along so the output
      // SHOWS the gap: the planted train docs (constant VALUES rows,
      // replayed verbatim by the oracle) cover BOTH word-blind
      // contamination modes — three rows share ONLY the rare word
      // "zqvxkwpthj" with the planted eval probe (a single shared
      // word can never span a word trigram), and a fourth shares the
      // TWO-word phrase "zqvxkwpthj rrthree" (still no three
      // consecutive shared words, but its id 4-grams STRADDLE the
      // word boundary inside the token stream) — so
      // tok_contaminated = true / word_contaminated = false on every
      // planted row at any scale.
      import s.implicits._
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val (plantTrain, plantEval) = decontPlants(s)
      val eval = docs.where(col("doc_id") % 97 === 0).unionByName(plantEval)
      val train = docs.where(col("doc_id") % 97 =!= 0).unionByName(plantTrain)
      // Store-backed since round 13 (the round-12 verdict's #1 ask —
      // this row's 53.4 s sf10m floor was ~2× a tokenize by
      // construction): corpus token ids read off the standing store;
      // only the PLANTED rows (constant, 5 docs) tokenize in-query
      // through the store's merges. The split restriction commutes
      // with tokenization (a doc's ids depend on the trained merges
      // only, never on other docs), so store-ids filtered by the
      // split predicate == tokenize-the-split — the oracle replays
      // the direct spelling and pins it.
      val prefix = ensureTokenStore(s, d)
      val merges = graft.ops.TokenStore.merges(s, prefix)
      val vocab = graft.ops.TokenStore.vocab(s, prefix)
      val storeIds = graft.ops.TokenStore.ids(s, prefix)
      val plantTrainIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantTrain, "text", "doc_id", merges, vocab)
      val plantEvalIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantEval, "text", "doc_id", merges, vocab)
      val tok = graft.ops.Decontaminate.tokenIdNgramOverlapFromIds(
        storeIds.where(col("doc_id") % 97 =!= 0).unionByName(plantTrainIds),
        storeIds.where(col("doc_id") % 97 === 0).unionByName(plantEvalIds),
        "doc_id", vocabSize = 256L + merges.length, n = 4)
      val word = graft.ops.Decontaminate.ngramOverlap(
        train, eval, "text", "doc_id", 3)
      tok.select(col("doc_id"), col("n_shared").as("n_tok_shared"),
          col("contaminated").as("tok_contaminated"))
        .join(word.select(col("doc_id"), col("n_shared").as("n_word_shared"),
          col("contaminated").as("word_contaminated")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
      // q180: FULL-VALUE replay of train -> byte-level tokenize -> id
      // 4-gram overlap (the q177/q178 CTE machinery, plus a tv-chain
      // applying the learned merges to the PLANTED pretokens the
      // training corpus never saw) next to the q79 word-trigram arm —
      // the planted rows must read tok_contaminated=true,
      // word_contaminated=false.
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         src AS (SELECT doc_id, text, doc_id % 97 = 0 AS is_eval
             FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(2199023255553 AS BIGINT),
              'qqalpha qqbeta zqvxkwpthj qqgamma qqdelta', FALSE),
             (CAST(2199023255554 AS BIGINT),
              'qqepsilon qqzeta zqvxkwpthj qqeta qqtheta', FALSE),
             (CAST(2199023255555 AS BIGINT),
              'qqiota qqkappa zqvxkwpthj qqlambda qqmu', FALSE),
             (CAST(2199023255556 AS BIGINT),
              'ssalpha ssbeta zqvxkwpthj rrthree ssgamma', FALSE),
             (CAST(4398046511105 AS BIGINT),
              'rrone rrtwo zqvxkwpthj rrthree rrfour', TRUE))
             v(doc_id, text, is_eval)),
         ${bpeByteApplyCtes(bpeRounds, "src")},
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM src) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT wx.doc_id, wx.wi, string_split(tv.w, ' ') AS s
             FROM wx JOIN tv$bpeRounds tv USING (word)) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si, voc.token_id AS tid
           FROM sub JOIN voc ON voc.token = sub.token),
         idl AS (SELECT doc_id, list(tid ORDER BY wi, si) AS ids
           FROM ids GROUP BY 1),
         tg AS (SELECT idl.doc_id,
             ((ids[u.i+1] * ${256 + bpeRounds} + ids[u.i+2])
               * ${256 + bpeRounds} + ids[u.i+3])
               * ${256 + bpeRounds} + ids[u.i+4] AS g
           FROM idl, LATERAL unnest(range(greatest(len(ids) - 3, 0)))
             AS u(i)),
         teg AS (SELECT DISTINCT tg.g FROM tg JOIN src USING (doc_id)
           WHERE src.is_eval),
         th AS (SELECT tg.doc_id, CAST(count(DISTINCT tg.g) AS BIGINT)
             AS n_tok
           FROM tg JOIN src USING (doc_id) JOIN teg ON teg.g = tg.g
           WHERE NOT src.is_eval GROUP BY 1),
         wtoks AS (SELECT doc_id, list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS t
           FROM src),
         wg AS (SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> array_to_string(t[i:i+2], ' '))) AS g FROM wtoks),
         weg AS (SELECT DISTINCT wg.g FROM wg JOIN src USING (doc_id)
           WHERE src.is_eval),
         wh AS (SELECT wg.doc_id, CAST(count(DISTINCT wg.g) AS BIGINT)
             AS n_word
           FROM wg JOIN src USING (doc_id) JOIN weg ON weg.g = wg.g
           WHERE NOT src.is_eval GROUP BY 1)
         SELECT s.doc_id, coalesce(th.n_tok, 0) AS n_tok_shared,
           coalesce(th.n_tok, 0) > 0 AS tok_contaminated,
           coalesce(wh.n_word, 0) AS n_word_shared,
           coalesce(wh.n_word, 0) > 0 AS word_contaminated
         FROM src s LEFT JOIN th USING (doc_id) LEFT JOIN wh USING (doc_id)
         WHERE NOT s.is_eval ORDER BY s.doc_id"""),
    QuerySpec("q189_token_decontamination_13gram", (s, d) => {
      // §2.11 decontamination at GPT-3's PUBLISHED n (Brown et al.
      // 2020 App. C runs 13-grams): 276^13 >> 2^62, so the single
      // packed-long gram key is out of injective range — since round
      // 14 the operator takes the TWO-PACKED-LONGS tier (7+6 id split,
      // each half < 2^62 — injective, so join hits and distinct counts
      // are identical to any faithful key spelling; the oracle replays
      // space-joined id-string keys in DuckDB and the outputs match
      // row for row, TrainSpec pins packed == brute force in-engine).
      // Same standing-store plumbing and
      // plants as q180; at n = 13 the single-shared-word plants CANNOT
      // fire (their shared id run is bounded by the word's ~11 tokens)
      // while the straddling two-word plant's shared run can — all
      // values replayed by the oracle, nothing hard-coded.
      val (plantTrain, plantEval) = decontPlants(s)
      val prefix = ensureTokenStore(s, d)
      val merges = graft.ops.TokenStore.merges(s, prefix)
      val vocab = graft.ops.TokenStore.vocab(s, prefix)
      val storeIds = graft.ops.TokenStore.ids(s, prefix)
      val plantTrainIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantTrain, "text", "doc_id", merges, vocab)
      val plantEvalIds = graft.ops.Bpe.tokenizeToIdsByteLevel(
        plantEval, "text", "doc_id", merges, vocab)
      graft.ops.Decontaminate.tokenIdNgramOverlapFromIds(
          storeIds.where(col("doc_id") % 97 =!= 0)
            .unionByName(plantTrainIds),
          storeIds.where(col("doc_id") % 97 === 0)
            .unionByName(plantEvalIds),
          "doc_id", vocabSize = 256L + merges.length, n = 13)
        .orderBy(col("doc_id"))
    },
      // q189: q180's train + tokenize machinery at n = 13 with the
      // STRING gram key (space-joined ids — the fallback the operator
      // takes when vocabSize^n >= 2^62); no word arm.
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         bi AS (SELECT printf('%02X', t.i) AS token,
             CAST(t.i AS BIGINT) AS token_id FROM range(256) t(i)),
         mg AS (${(1 to bpeRounds).map(r =>
           s"SELECT a || b AS token, $r AS r FROM m$r")
           .mkString(" UNION ALL ")}),
         mi AS (SELECT token, CAST(min(256 + r - 1) AS BIGINT) AS token_id
           FROM mg GROUP BY token),
         voc AS (SELECT token, token_id FROM bi
           UNION ALL SELECT token, token_id FROM mi),
         src AS (SELECT doc_id, text, doc_id % 97 = 0 AS is_eval
             FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(2199023255553 AS BIGINT),
              'qqalpha qqbeta zqvxkwpthj qqgamma qqdelta', FALSE),
             (CAST(2199023255554 AS BIGINT),
              'qqepsilon qqzeta zqvxkwpthj qqeta qqtheta', FALSE),
             (CAST(2199023255555 AS BIGINT),
              'qqiota qqkappa zqvxkwpthj qqlambda qqmu', FALSE),
             (CAST(2199023255556 AS BIGINT),
              'ssalpha ssbeta zqvxkwpthj rrthree ssgamma', FALSE),
             (CAST(4398046511105 AS BIGINT),
              'rrone rrtwo zqvxkwpthj rrthree rrfour', TRUE))
             v(doc_id, text, is_eval)),
         ${bpeByteApplyCtes(bpeRounds, "src")},
         wx AS (SELECT doc_id, u.i AS wi, dw.ws[u.i+1] AS word FROM (
             SELECT doc_id, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM src) dw,
           LATERAL unnest(range(len(dw.ws))) AS u(i)),
         sub AS (SELECT sp.doc_id, sp.wi, u.i AS si, sp.s[u.i+1] AS token
           FROM (SELECT wx.doc_id, wx.wi, string_split(tv.w, ' ') AS s
             FROM wx JOIN tv$bpeRounds tv USING (word)) sp,
           LATERAL unnest(range(len(sp.s))) AS u(i)),
         ids AS (SELECT sub.doc_id, sub.wi, sub.si, voc.token_id AS tid
           FROM sub JOIN voc ON voc.token = sub.token),
         idl AS (SELECT doc_id, list(tid ORDER BY wi, si) AS ids
           FROM ids GROUP BY 1),
         tg AS (SELECT idl.doc_id,
             array_to_string(ids[u.i+1:u.i+13], ' ') AS g
           FROM idl, LATERAL unnest(range(greatest(len(ids) - 12, 0)))
             AS u(i)),
         teg AS (SELECT DISTINCT tg.g FROM tg JOIN src USING (doc_id)
           WHERE src.is_eval),
         th AS (SELECT tg.doc_id, CAST(count(DISTINCT tg.g) AS BIGINT)
             AS n_tok
           FROM tg JOIN src USING (doc_id) JOIN teg ON teg.g = tg.g
           WHERE NOT src.is_eval GROUP BY 1)
         SELECT s.doc_id, coalesce(th.n_tok, 0) AS n_shared,
           coalesce(th.n_tok, 0) > 0 AS contaminated
         FROM src s LEFT JOIN th USING (doc_id)
         WHERE NOT s.is_eval ORDER BY s.doc_id"""),

    // ---- WordPiece and unigram LM ---------------------------------
    QuerySpec("q182_wordpiece_train", (s, d) => {
      // §2.11 tokenization: WORDPIECE training (Schuster & Nakajima
      // 2012; Wu et al. 2016 §4.1; the BERT convention) — the third
      // trained-tokenizer family: BPE's distributed merge loop with
      // the selection criterion swapped for the LIKELIHOOD-RATIO score
      // count(ab)/(count(a)*count(b)) on an exact 10^12 integer grid
      // (DECIMAL(38,0) DIV here, HUGEINT // in the oracle — a raw
      // double ratio could misorder near-ties) and '##'-prefixed
      // continuation symbols (the merged symbol strips b's prefix and
      // inherits a's form). Per round: symbol counts AND pair counts
      // (two map-side-combined aggs over the vocabulary-sized
      // histogram — the denominators shift as merges move mass), a
      // one-row argmax collect, map-only merge application. The oracle
      // replays every round; the merge table must match round for
      // round including the score column.
      val merges = sharedWpMerges(s, d)
      import s.implicits._
      merges.map(m => (m.rank.toLong, m.a, m.b, m.count, m.score))
        .toDF("merge_rank", "pair_a", "pair_b", "pair_count", "score")
        .orderBy(col("merge_rank"))
    },
      // q182: the full WordPiece training replay — per-round symbol +
      // pair counts, HUGEINT cross-multiplied grid score, (score DESC,
      // count DESC, a, b) argmax, '##'-stripping merge application.
      s"""WITH ${wpTrainCtes(wpRounds)}
         SELECT * FROM (${(1 to wpRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS pair_a, " +
          s"b AS pair_b, CAST(c AS BIGINT) AS pair_count, " +
          s"CAST(score AS BIGINT) AS score FROM m$r")
        .mkString(" UNION ALL ")})
         ORDER BY merge_rank"""),
    QuerySpec("q183_wordpiece_ids", (s, d) => {
      // §2.11 tokenization: WordPiece GREEDY LONGEST-MATCH encode to
      // integer ids, map-only: each row's words run through the BERT
      // inference algorithm (functions/WordPieceTokenize.scala) and
      // resolve to ids in one projection. Longest match is NOT the training
      // composition: the vocabulary is a string SET and longest match
      // can disagree with the merge decomposition on the same vocab,
      // so the oracle replays longest-match itself (an unrolled step
      // CTE chain, bounded by the 16-code-point [UNK]-wholesale cap;
      // each active step consumes >= 1 code point). PLANTS (the q180
      // discipline — constant rows replayed verbatim by the oracle): a
      // word over the length cap and a word whose code points the
      // training corpus never saw, both of which must emit exactly
      // ['[UNK]'] (id 0) — so n_unk > 0 rows exist at every scale,
      // unlike the byte-level family's unk-free-by-construction q178.
      import s.implicits._
      val vocab = sharedWpVocab(s, d).toDF("token", "token_id")
      plantedIds(s, documents(s, d).select(col("doc_id"), col("text")))(
        graft.ops.WordPiece.tokenizeToIds(_, "text", "doc_id", vocab,
          maxChars = wpMaxChars))
    },
      // q183: train replay + vocabulary ids + the unrolled greedy
      // longest-match chain over the distinct words of the PLANTED
      // corpus (the training side reads the unplanted documents table,
      // exactly the Spark arm), then doc-order id reassembly.
      s"""WITH ${wpTrainCtes(wpRounds)},
         ${wpVocabCtes(wpRounds)},
         docs2 AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(${(1L << 41) + 1L} AS BIGINT), 'zz unmatchableverylongword zz'),
             (CAST(${(1L << 41) + 2L} AS BIGINT), 'ordinary ωμέγα words')) v(doc_id, text)),
         wx AS (SELECT doc_id, u.i AS wi, dw0.ws[u.i+1] AS word FROM (
             SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS ws
             FROM docs2) dw0,
           LATERAL unnest(range(len(dw0.ws))) AS u(i)),
         dw AS (SELECT DISTINCT word FROM wx),
         ${wpMatchCtes(wpMaxChars, wpMaxChars)},
         sub AS (SELECT wt.word, u.i AS si, wt.toks[u.i+1] AS token
           FROM wp_toks wt, LATERAL unnest(range(len(wt.toks))) AS u(i)),
         wid AS (SELECT sub.word, sub.si, coalesce(v.token_id, -1) AS tid
           FROM sub LEFT JOIN voc v USING (token)),
         agg AS (SELECT wx.doc_id,
             string_agg(CAST(wid.tid AS VARCHAR), ' ' ORDER BY wx.wi, wid.si)
               AS ids_str,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE wid.tid = 0) AS BIGINT) AS n_unk
           FROM wx JOIN wid USING (word) GROUP BY 1)
         SELECT d2.doc_id, coalesce(agg.ids_str, '') AS ids_str,
           coalesce(agg.n_tokens, 0) AS n_tokens,
           coalesce(agg.n_unk, 0) AS n_unk
         FROM docs2 d2 LEFT JOIN agg USING (doc_id)
         ORDER BY d2.doc_id"""),
    QuerySpec("q185_tokenizer_fertility", (s, d) => {
      // §2.11 tokenization: tokenizer EFFICIENCY eval (Rust et al.
      // 2021) — per-source fertility (tokens per pretoken) and
      // compression (bytes per token) under the trained byte-level
      // vocabulary, both as exact milli-grid floor divisions of long
      // sums. Dictionary-grain: each distinct pretoken folds through
      // the native expression once; the per-occurrence side is one
      // broadcast join + a group-grain map-side-combinable agg. The
      // oracle re-trains in SQL and reads subword counts off the final
      // training word table (training corpus == scored corpus, the
      // q178 join-by-word exactness).
      // Store-backed since round 13: token counts read off the
      // standing store's (doc_id, token_ids) — size(ids) equals the
      // per-pretoken subword sum because tokenization concatenates per
      // pretoken; byte/pretoken counts stay map-side regex work. The
      // oracle re-derives everything store-free.
      val docs = documents(s, d)
      val prefix = ensureTokenStore(s, d)
      graft.ops.TokenizerEval.fertilityByGroupFromIds(docs, "text",
          "source", "doc_id", graft.ops.TokenStore.ids(s, prefix))
        .orderBy(col("grp"))
    },
      // q185: byte-level train replay; subword counts read off the final
      // training word table (training corpus == scored corpus), byte
      // counts are strlen (UTF-8 octets), milli-grid floor divisions.
      s"""WITH ${bpeByteTrainCtes(bpeRounds)},
         wx AS (SELECT source, u.w AS word FROM (
             SELECT source, regexp_extract_all(coalesce(text, ''),
               '${graft.ops.Bpe.byteLevelPattern}') AS ws
             FROM documents) d, LATERAL unnest(d.ws) AS u(w)),
         st AS (SELECT wx.source, CAST(strlen(wx.word) AS BIGINT) AS nb,
             CAST(len(string_split(wr.w, ' ')) AS BIGINT) AS nsub
           FROM wx JOIN w$bpeRounds wr ON wr.word = wx.word),
         agg AS (SELECT source AS grp,
             CAST(count(*) AS BIGINT) AS n_pretokens,
             CAST(SUM(nb) AS BIGINT) AS n_bytes,
             CAST(SUM(nsub) AS BIGINT) AS n_tokens
           FROM st GROUP BY 1)
         SELECT grp, n_pretokens, n_bytes, n_tokens,
           CAST(CASE WHEN n_tokens > 0 THEN (n_bytes * 1000) // n_tokens
             ELSE 0 END AS BIGINT) AS bytes_per_token_milli,
           CAST(CASE WHEN n_pretokens > 0
             THEN (n_tokens * 1000) // n_pretokens
             ELSE 0 END AS BIGINT) AS fertility_milli
         FROM agg ORDER BY grp"""),
    QuerySpec("q190_unigram_train", (s, d) => {
      // §2.11 tokenization: UNIGRAM-LM training (Kudo 2018 — the
      // SentencePiece default; the FOURTH trained convention) —
      // substring seed, hard-EM on the exact micro-nat grid, HUGEINT
      // loss prune, post-prune recount (ops/Unigram.scala). FULL-VALUE
      // replay: the oracle re-derives seed scoring, every Viterbi EM
      // pass (unrolled DP CTEs with the (cost, pieces, longest-last)
      // tie-break carried forward), the prune argsort and the final
      // Laplace costs — token ids in binary piece order (no merge
      // rank; the SentencePiece sorted-table convention).
      import s.implicits._
      val pieces = sharedUnigramPieces(s, d)
      val vocab = graft.ops.Unigram.vocabTable(s, pieces)
      pieces.map(p => (p.token, p.count, p.costMicro))
        .toDF("token", "count", "cost_micro")
        .join(vocab, Seq("token"))
        .select(col("token_id"), col("token"), col("count"),
          col("cost_micro"))
        .orderBy(col("token_id"))
    },
      // q190: the full unigram-LM train replay (see unigramTrainCtes) —
      // pieces in binary order with final counts + Laplace micro-nat
      // costs, row for row.
      s"""WITH ${unigramTrainCtes("documents", ugSeedSize, ugMaxPieceLen,
            ugEmRounds, ugPruneCount, ugMaxChars)}
         SELECT CAST(row_number() OVER (ORDER BY token) AS BIGINT)
             AS token_id,
           token, c AS "count", cost AS cost_micro
         FROM ugfinal ORDER BY token_id"""),
    QuerySpec("q191_unigram_ids", (s, d) => {
      // §2.11 tokenization: unigram VITERBI encode to integer ids —
      // q183's map-only shape with the matcher swapped for the
      // min-cost DP (which can disagree with greedy longest-match:
      // UnigramSpec pins the structural cases). PLANTS (the q183
      // discipline): an over-length word and unseen code points, both
      // ['[UNK]'] (id 0) at every scale; Viterbi-TIE coverage is
      // organic — equal-count pieces are common at gate scales and
      // any cross-engine tie-break disagreement reads as a hash
      // mismatch here (tie plants can't be made scale-robust with
      // constant rows: a planted piece's constant seed count loses
      // the top-N race as organic counts grow — the q167 has_triplets
      // non-vacuity lesson, so the tie SEMANTICS pin lives in
      // UnigramSpec's hand corpora).
      val pieces = sharedUnigramPieces(s, d)
      val vocab = graft.ops.Unigram.vocabTable(s, pieces)
      plantedIds(s, documents(s, d).select(col("doc_id"), col("text")))(
        graft.ops.Unigram.tokenizeToIds(_, "text", "doc_id", pieces, vocab,
          ugMaxChars, ugMaxPieceLen))
    },
      // q191: train replay + a fourth Viterbi chain over the corpus +
      // planted words under the FINAL cost table; [UNK]-wholesale rows
      // come from the LEFT JOIN's absent seg.
      s"""WITH ${unigramTrainCtes("documents", ugSeedSize, ugMaxPieceLen,
            ugEmRounds, ugPruneCount, ugMaxChars)},
         ugsrc AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT * FROM (VALUES
             (CAST(2199023255553 AS BIGINT),
              'zz unmatchableverylongword zz'),
             (CAST(2199023255554 AS BIGINT),
              'ordinary ωμέγα words')) v(doc_id, text)),
         ugdw AS MATERIALIZED (SELECT doc_id, u.i AS wi, d.t[u.i+1]
             AS word
           FROM (SELECT doc_id, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')
               AS t
             FROM ugsrc) d,
           LATERAL unnest(range(len(d.t))) AS u(i)),
         ugiw AS MATERIALIZED (SELECT DISTINCT word FROM ugdw),
         ${ugViterbiCtes("ugvi", "ugiw", "ugcf", ugMaxChars,
            ugMaxPieceLen)},
         ugtok AS MATERIALIZED (SELECT w.word,
             coalesce(s.seg, ['[UNK]']) AS toks
           FROM ugiw w LEFT JOIN ugvi_seg s USING (word)),
         ugvoc AS MATERIALIZED (SELECT '[UNK]' AS token,
             CAST(0 AS BIGINT) AS tid
           UNION ALL SELECT token,
             CAST(row_number() OVER (ORDER BY token) AS BIGINT)
           FROM ugfinal),
         ugtokd AS (SELECT x.doc_id, x.wi, u.i AS si, x.toks[u.i+1]
             AS tok
           FROM (SELECT dw.doc_id, dw.wi, t.toks
             FROM ugdw dw JOIN ugtok t USING (word)) x,
           LATERAL unnest(range(len(x.toks))) AS u(i)),
         ugids AS (SELECT d.doc_id, list(v.tid ORDER BY d.wi, d.si)
             AS ids
           FROM ugtokd d JOIN ugvoc v ON v.token = d.tok GROUP BY 1)
         SELECT s.doc_id,
           coalesce(array_to_string(ids, ' '), '') AS ids_str,
           CAST(coalesce(len(ids), 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(list_filter(ids, x -> x = 0)), 0) AS BIGINT)
             AS n_unk
         FROM ugsrc s LEFT JOIN ugids USING (doc_id)
         ORDER BY s.doc_id"""),
    QuerySpec("q192_unigram_fertility", (s, d) => {
      // §2.11 tokenization: q185's fertility/compression eval
      // PARAMETERIZED over the unigram vocabulary (Rust et al. 2021
      // compare tokenizer families exactly this way) — pretoken grain
      // is the suite word (what unigram trains on), token count = the
      // word's Viterbi piece count with [UNK]-wholesale words
      // counting 1. The oracle re-trains and re-segments in SQL.
      val docs = documents(s, d)
      val pieces = sharedUnigramPieces(s, d)
      graft.ops.TokenizerEval.fertilityByGroupUnigram(docs, "text",
          "source", pieces, ugMaxChars, ugMaxPieceLen)
        .orderBy(col("grp"))
    },
      // q192: train replay + one Viterbi chain over the corpus's FULL
      // word dictionary (over-length words included — they read as
      // absent segs -> 1 [UNK] token), then q185's group sums/grids at
      // suite-word pretoken grain.
      s"""WITH ${unigramTrainCtes("documents", ugSeedSize, ugMaxPieceLen,
            ugEmRounds, ugPruneCount, ugMaxChars)},
         ugwx AS MATERIALIZED (SELECT source, u.w AS word
           FROM (SELECT source, list_filter(string_split_regex(
               lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')
               AS t
             FROM documents) d,
           LATERAL unnest(d.t) AS u(w)),
         ugaw AS MATERIALIZED (SELECT DISTINCT word FROM ugwx),
         ${ugViterbiCtes("ugvf", "ugaw", "ugcf", ugMaxChars,
            ugMaxPieceLen)},
         ugft AS MATERIALIZED (SELECT w.word,
             CAST(coalesce(len(s.seg), 1) AS BIGINT) AS nsub,
             CAST(strlen(w.word) AS BIGINT) AS nb
           FROM ugaw w LEFT JOIN ugvf_seg s USING (word)),
         ugagg AS (SELECT wx.source AS grp,
             CAST(count(*) AS BIGINT) AS n_pretokens,
             CAST(SUM(ft.nb) AS BIGINT) AS n_bytes,
             CAST(SUM(ft.nsub) AS BIGINT) AS n_tokens
           FROM ugwx wx JOIN ugft ft USING (word)
           GROUP BY 1)
         SELECT grp, n_pretokens, n_bytes, n_tokens,
           CAST(CASE WHEN n_tokens > 0 THEN (n_bytes * 1000) // n_tokens
             ELSE 0 END AS BIGINT) AS bytes_per_token_milli,
           CAST(CASE WHEN n_pretokens > 0
             THEN (n_tokens * 1000) // n_pretokens
             ELSE 0 END AS BIGINT) AS fertility_milli
         FROM ugagg ORDER BY grp"""),
  )
}
