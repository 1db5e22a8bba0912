package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (content hash), MinHash+LSH, SimHash, and n-gram Jaccard
  * verification. All are pure DataFrame compositions — group-bys and
  * self-joins on banded keys — so they scale horizontally: no driver-side
  * state, no all-pairs comparison (candidate generation is hash-bucketed).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per sha256(text). One shuffle on
    * the 64-hex hash (uniform keys, no skew).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Word n-gram shingles of a document (lowercased, whitespace-
    * tokenized, distinct). Native one-pass expression
    * ([[graft.functions.WordShinglesExpr]]) — the HOF slide/slice/
    * concat form was interpreted per shingle and re-executed per plan
    * reference, dominating near-dup verification at scale.
    */
  def shingles(textCol: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordShinglesExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(textCol), n))

  /** Word n-gram shingles as distinct 64-bit hashes (`array<long>`) —
    * the form the verify joins shuffle; see
    * [[graft.functions.WordShingleHashesExpr]] for the trade.
    */
  def shingleHashes(textCol: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordShingleHashesExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(textCol), n))

  /** Deterministic 64-bit MinHash signature — native Catalyst
    * expression ([[graft.functions.MinHashSigExpr]]): tokenize, shingle,
    * and fold all `numHashes` running minimums in one tight loop per
    * row. (Successive HOF forms were 32x interpreted passes, then one
    * interpreted pass; the native loop is what makes the signature
    * stage viable when it IS the corpus-scale job.)
    */
  def minhashSignature(textCol: Column, shingleN: Int, numHashes: Int): Column =
    graft.functions.MinHashOps.minhashSignature(textCol, shingleN, numHashes)

  /** MinHash-LSH candidate pairs: band the signature, explode one row
    * per band, self-join on (band_idx, band_hash). Returns distinct
    * candidate id pairs (a < b). The join key is a hash bucket, so the
    * shuffle is uniform; no O(n^2) comparison ever happens.
    *
    * Cross-band dedup is a `distinct` on the skinny (id_a, id_b) pairs —
    * NOT the first-agreeing-band filter used by
    * [[simhashNearDuplicates]]/[[graft.plans.HammingBandJoinRule]]:
    * that filter needs the band source carried through the join, and a
    * 32-long MinHash signature on both sides of every banded row
    * measured SLOWER than the extra skinny shuffle (a SimHash key is
    * one long, so there the carry is free). Measured both ways at the
    * 10x bench scale before choosing.
    *
    * The banded relation (N*bands tiny rows) is persisted by default:
    * it is referenced by both self-join sides AND every downstream
    * consumer of the candidate set — unpersisted, each reference
    * re-runs the full-corpus hashing scan (observed 10 signature
    * passes in one plan). MEMORY_AND_DISK; registered with
    * [[graft.core.Caches]] so a long-lived session can release it
    * after the terminal action.
    */
  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      persistBanded: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    def bandHash(sig: Column, b: Int): Column =
      hash(slice(sig, lit(b * rowsPerBand + 1), lit(rowsPerBand)), lit(b))
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), shingleN, numHashes).as("sig"))
    val bandedPlan = sig.select(col("id"),
      posexplode(array((0 until bands).map(b => bandHash(col("sig"), b)): _*))
        .as(Seq("band_idx", "band_hash")))
    val banded = if (persistBanded) graft.core.Caches.persistTracked(bandedPlan)
    else bandedPlan
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** n-gram Jaccard similarity between two shingle-set columns,
    * set-semantics (duplicates ignored, like array_intersect/union).
    * Native one-pass expression ([[graft.functions.JaccardSimExpr]]).
    */
  def jaccard(aSh: Column, bSh: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.JaccardSimExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(aSh),
        org.apache.spark.sql.graftbridge.Bridge.expression(bSh)))

  /** Top-K heavy-token rank table of a sets relation (column `sh`:
    * `array<long>` of hashed shingles): one skinny token-grain
    * df aggregation (map-side combinable longs) + TakeOrdered, then
    * <= K rows collect to the driver — the bounded corpus statistic
    * behind the frequency-ordered prefix (the `adaptivePlanes`
    * precedent: a small eager stats job shaping a big lazy plan).
    * df <= 1 tokens are excluded (they can never join a candidate
    * pair); ties in df break on token value, so the table — and with
    * it the global order — is deterministic.
    *
    * Returns (tokens sorted ascending for binary search, aligned rank
    * indexes, rank -> token inverse); all empty when no token repeats.
    */
  private def heavyTable(sets: DataFrame, k: Int = 1 << 16)
      : (Array[Long], Array[Int], Array[Long]) = {
    val tokenOfRank = sets.select(explode(col("sh")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .where(col("df") > 1)
      .orderBy(desc("df"), col("tok"))
      .limit(k)
      .select(col("tok")).collect().map(_.getLong(0))
    val byToken = tokenOfRank.zipWithIndex.sortBy(_._1)
    (byToken.map(_._1), byToken.map(_._2), tokenOfRank)
  }

  /** `sh` re-sorted under the frequency-aware order derived from
    * `statsOf` (see [[graft.functions.FreqOrderExpr]]). Eager: builds
    * the heavy table with one stats job at construction time.
    */
  private def freqOrder(statsOf: DataFrame, sh: Column): Column = {
    val (heavySorted, rankOf, tokenOfRank) = heavyTable(statsOf)
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.FreqOrderExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(sh),
        heavySorted, rankOf, tokenOfRank))
  }

  /** MinHash-LSH near-dup pairs verified by true n-gram Jaccard >=
    * `threshold`. Candidate generation via banding, verification via a
    * join back to the shingle sets (only candidates pay the set cost).
    */
  def nearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // NOT persisted: cands is referenced three times (two candIds
    // branches + the verify join), but its inputs read the persisted
    // banded relation, so re-execution is cheap — while a cache
    // boundary here hides size stats from the planner and demotes the
    // small verify joins from broadcast to shuffle (measured 2.4x
    // slower on the banded+verify benchmark query).
    // NOTE on scale: at ~500k docs the 3x candidate-subtree recompute
    // (see below) becomes visible (q23 ~57s warm at the 100x spot
    // check); persisting cands measured 2.4x SLOWER at 10x and
    // unstable at 100x on this host, so the measured default stands —
    // a cluster deployment should re-measure both forms at its scale.
    val cands = minhashCandidates(df, textCol, idCol, shingleN, numHashes, bands)
    // Only docs that appear in some candidate pair pay the shingle-set
    // cost: semi-join first, THEN build the (expensive) set arrays.
    // explode instead of a two-branch union so the candidate self-join
    // subtree appears ONCE here (each reference re-executes it).
    // HASHED shingle sets (array<long>, xxh64 per shingle): the two
    // verify joins shuffle these arrays, and 8-byte hashes move ~3x
    // less than the shingle strings; jaccard over hashes equals
    // jaccard over strings short of a same-pair 64-bit collision.
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val sets = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), shingleHashes(col(textCol), shingleN).as("sh"))
    cands
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** All-pairs n-gram Jaccard within a blocking key (exact, for modest
    * block sizes; used as the oracle-checkable form of near-dedup).
    */
  def jaccardPairsWithinBlock(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      shingleN: Int,
      threshold: Double): DataFrame = {
    val sets = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    val a = sets.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** EXACT Jaccard similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; public
    * algorithm): unlike MinHash banding this is deterministic and
    * complete, with no probabilistic recall caveat.
    *
    * Under any global total order on tokens, two sets with
    * J(A,B) >= t must share their smallest common element within each
    * side's first |x| - ceil(t*|x|) + 1 tokens (J >= t implies
    * |A∩B| >= t*|A∪B| >= ceil(t*|x|) for both sides; if the smallest
    * common element sat outside a side's prefix, the whole
    * intersection would have to fit in that side's ceil(t*|x|)-1
    * suffix slots — pigeonhole contradiction). So exploding only the
    * PREFIX tokens and equi-joining on token finds every qualifying
    * pair while shuffling ~(1-t) of the token volume; a size filter
    * (t*max <= min, since J <= min/max) prunes candidates before the
    * verify join recomputes true Jaccard on the full sets.
    *
    * The default global order is the 64-bit shingle hash value (sort
    * ascending — zero extra work). `freqOrdered = true` switches to
    * ascending corpus document-frequency (the standard AllPairs/PPJoin
    * candidate-count lever — prefixes hold each document's RAREST
    * tokens), realized CHEAPLY: one skinny token-df aggregation feeds
    * a top-K heavy-token rank table collected to the driver (bounded:
    * K <= 65536 rows) and [[graft.functions.FreqOrderExpr]] re-sorts
    * each set map-side against that table — never a token-grain join
    * or per-document re-aggregation (the exact-df relational spelling
    * cost more in token shuffles than it saved: 45.6s vs 88s at 500k
    * docs). Tokens outside the table order by hash below every table
    * entry — any fixed total order keeps the prefix theorem EXACT, so
    * the approximation affects candidate volume only. MEASURED
    * (COVERAGE.md Session-7, 500k-doc organic corpus, t=0.8): frequency
    * order removes only ~4% of token-join rows (8.56M -> 8.24M; the
    * corpus has no corpus-wide stop-shingles) while the stats pass
    * adds a full token-grain aggregation — hash order stays the
    * default, and the lever is for corpora with real stop-shingle
    * skew, where it is the difference between m²-per-heavy-token and
    * linear. Both orders pass OpsSpec's brute-force equality.
    *
    * Candidates additionally pass the PPJoin POSITIONAL filter: for a
    * prefix match at 0-based positions (pa, pb), the intersection is
    * at most min(|A|-pa, |B|-pb) (every common token sorts at-or-after
    * the first common token), while J >= t forces the intersection to
    * at least t/(1+t)·(|A|+|B|); rows violating that bound drop before
    * the candidate distinct. Completeness: at the FIRST common token's
    * row the bound holds whenever the pair truly qualifies, so every
    * qualifying pair survives on at least that row. MEASURED: 2.7x
    * fewer join rows reaching the candidate distinct (8.56M -> 3.13M
    * at 500k docs), q134 22s -> 14s warm.
    */
  def jaccardJoinExact(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleN: Int = 3,
      freqOrdered: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    // SESSION-SHARED result (the [[Affinity.supportPairs]] discipline):
    // the exact pair relation over one corpus is the shared discovery
    // input of the whole dedup-graph family — q30's inventory, q84's
    // components, q87's leakage split, q147's k-core, q149's ensemble
    // all derive pairs from the SAME (plan, params) in one session, and
    // the pair output is tiny relative to its producing join. Keyed by
    // a SHA-256 of the canonicalized input plan plus every parameter —
    // collisions cryptographically implausible; callers whose source
    // files change mid-session must releaseShared() (same contract as
    // supportPairs). Per-query sweeps release shared state, so the
    // invariant sweeps still exercise the cold path.
    val planDigest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.queryExecution.analyzed.canonicalized.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    graft.core.Caches.shared(
      s"jaccard-exact:$textCol:$idCol:$threshold:$shingleN:$freqOrdered:" +
        planDigest) {
      jaccardJoinExactBuild(df, textCol, idCol, threshold, shingleN,
        freqOrdered)
    }
  }

  private def jaccardJoinExactBuild(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleN: Int,
      freqOrdered: Boolean): DataFrame = {
    // Empty shingle sets are excluded: a pair with an empty side has
    // J = 0 under the intersect/union convention, below any t > 0.
    val rawSets = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
    val sets =
      if (!freqOrdered) rawSets.select(col("id"), array_sort(col("sh")).as("sh"))
      else rawSets.select(col("id"), freqOrder(rawSets, col("sh")).as("sh"))
    // Candidate-generation bounds carry a small epsilon so double
    // rounding can only OVER-generate, never drop a qualifying pair:
    // e.g. t=0.55, |B|=20 -> 0.55*20 = 11.000000000000002 in doubles,
    // which without the epsilon would prune a pair at exactly J = 11/20
    // = t (and shorten the prefix below the pigeonhole requirement).
    // The verify step stays exact — both Spark and DuckDB compare the
    // same nearest-double of intersect/union against the same literal.
    val eps = 1e-9
    val tokens = prefixTokens(sets, threshold)
    val a = tokens.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"),
      col("pos").as("pos_a"))
    val b = tokens.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"))
    val cands = a.join(b, Seq("tok"))
      .where(col("id_a") < col("id_b"))
      .where(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")) - lit(eps))
      .where(least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >=
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - lit(eps))
      .select("id_a", "id_b")
      .distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT cross-corpus Jaccard join (the R-S form of
    * [[jaccardJoinExact]]): every (incoming, corpus) pair with shingle
    * Jaccard >= `threshold` — the incremental-dedup shape a pipeline
    * runs on every append (dedup TODAY'S batch against the standing
    * corpus, never the corpus against itself). Same AllPairs/PPJoin
    * prefix filtering (Bayardo et al., WWW'07), same epsilon-guarded
    * bounds: the prefix principle holds for any pair under one global
    * token order regardless of which relation each side comes from, so
    * both sides explode only their eps-guarded prefixes and equi-join.
    * Output: (id_in, id_corpus, jaccard).
    *
    * Scale posture: the corpus side is linear token-grain explode — at
    * standing-corpus scale a real deployment materializes that prefix
    * relation once and reuses it per batch (it is a pure column
    * derivation, so a parquet mirror stays valid until the corpus
    * changes); the incoming side is batch-sized. No self-join of the
    * corpus ever happens.
    */
  def jaccardJoinAgainst(
      incoming: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleN: Int = 3,
      freqOrdered: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    def rawSets(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
        .where(size(col("sh")) > 0)
    // BOTH sides must sort under ONE global order for the prefix
    // theorem to hold across relations; the heavy-token stats come
    // from the CORPUS side (the side whose stop-shingles dominate
    // candidate volume — the batch is small by contract). See
    // jaccardJoinExact for the order/table mechanics.
    val corpusRaw = rawSets(corpus)
    val order: DataFrame => DataFrame =
      if (!freqOrdered) df => df.select(col("id"), array_sort(col("sh")).as("sh"))
      else {
        val ord = freqOrder(corpusRaw, col("sh"))
        df => df.select(col("id"), ord.as("sh"))
      }
    // Each side's sets feed its prefix explode AND its verify re-join.
    val coSets = graft.core.Caches.persistTracked(order(corpusRaw))
    joinSetsAgainst(graft.core.Caches.persistTracked(order(rawSets(incoming))),
      prefixTokens(coSets, threshold), coSets, threshold)
  }

  /** The batch-vs-corpus prefix join over sorted shingle sets: the
    * corpus side comes as its prefix tokens and its sets, derived in
    * the query ([[jaccardJoinAgainst]]) or read off the corpus index
    * ([[jaccardJoinAgainstIndex]]).
    */
  private def joinSetsAgainst(inSets: DataFrame, corpusPrefix: DataFrame,
      corpusSets: DataFrame, threshold: Double): DataFrame = {
    val eps = 1e-9
    val a = prefixTokens(inSets, threshold)
      .select(col("tok"), col("id").as("id_in"), col("sz").as("sz_in"),
        col("pos").as("pos_in"))
    val b = corpusPrefix
      .select(col("tok"), col("id").as("id_corpus"), col("sz").as("sz_co"),
        col("pos").as("pos_co"))
    val cands = a.join(b, Seq("tok"))
      .where(least(col("sz_in"), col("sz_co")) >=
        lit(threshold) * greatest(col("sz_in"), col("sz_co")) - lit(eps))
      // PPJoin positional filter — see jaccardJoinExact.
      .where(least(col("sz_in") - col("pos_in"), col("sz_co") - col("pos_co")) >=
        lit(threshold / (1.0 + threshold)) * (col("sz_in") + col("sz_co")) - lit(eps))
      .select("id_in", "id_corpus")
      .distinct()
    // Verify join order matters: attach the corpus arrays FIRST (one
    // shuffle of skinny candidate pairs + the corpus set relation),
    // then broadcast the batch-sized incoming sets so the array-fat
    // intermediate is consumed — jaccard + filter + skinny project —
    // inside the same stage and never crosses a shuffle boundary.
    // The reversed order shuffled every candidate row twice with a
    // full shingle array attached: measured 101s -> ~10s for the
    // verify at 1.4M candidates / 450k corpus docs (sf10m).
    cands
      .join(corpusSets.select(col("id").as("id_corpus"), col("sh").as("sh_co")), "id_corpus")
      .join(broadcast(inSets.select(col("id").as("id_in"), col("sh").as("sh_in"))), "id_in")
      .withColumn("jaccard", jaccard(col("sh_in"), col("sh_co")))
      .where(col("jaccard") >= threshold)
      .select("id_in", "id_corpus", "jaccard")
  }

  /** Materialize the STANDING-CORPUS side of [[jaccardJoinAgainst]] as
    * bucketed catalog tables, so every subsequent batch pays a parquet
    * read instead of re-tokenizing the corpus — the per-append corpus
    * derivation amortized to zero across batches. MEASURED
    * (COVERAGE.md Session-8, sf10m, warm): full q134-shaped batch 10.2 s
    * direct vs 8.0 s index-backed; realistic ~1% daily batch 4.1 s vs
    * 3.0 s; one-time build 10.8 s, per-batch append 6.9 s — the build
    * repays itself within a handful of batches and every batch after
    * that keeps the ~25% saving. Four tables of a
    * [[graft.core.StandingStore]] under `tablePrefix` / `basePath`
    * (rebind [[corpusIndexTables]] after a restart):
    *
    *  - `_sets`   (id, sh)            bucketed by id  — the verify side
    *  - `_prefix` (id, sz, pos, tok)  bucketed by tok — the candidate side
    *  - `_texts`  (text)              bucketed by text — the exact stage
    *  - `_meta`   (threshold, shingle_n, num_buckets) — one row
    *
    * Bucketing by the join key means the batch side (small by
    * contract) broadcasts against a co-located scan — the corpus never
    * shuffles. The index is valid for ANY query threshold >= the build
    * threshold: the stored prefixes are the build threshold's (longer =
    * superset of any higher threshold's), so candidate generation can
    * only over-generate — the exact verify step keeps the result
    * identical (the reader enforces the bound from `_meta`).
    */
  def writeCorpusIndex(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleN: Int = 3,
      tablePrefix: String = "graft_corpus_index",
      basePath: String = null,
      numBuckets: Int = 32): Unit = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val store = graft.core.StandingStore(corpus.sparkSession, tablePrefix, basePath)
    // Persisted: the sets relation is written AND re-read to derive the
    // prefix table — without the persist the corpus tokenize/shingle/
    // sort pass ran twice per index build (guide §1.2).
    val sets = graft.core.Caches.persistTracked(corpusIndexSets(corpus, textCol, idCol, shingleN))
    for ((name, df) <- corpusIndexRows(corpus, sets, textCol, threshold))
      store.writeBucketed(name, df, corpusIndexBucketCol(name), numBuckets)
    store.writeMeta("threshold" -> threshold, "shingle_n" -> shingleN,
      "num_buckets" -> numBuckets)
  }

  /** The corpus index's layout: table name -> bucket column. */
  val corpusIndexTables: Seq[(String, Option[String])] =
    Seq("sets" -> Some("id"), "prefix" -> Some("tok"), "texts" -> Some("text"),
      "meta" -> None)

  private def corpusIndexBucketCol(name: String): String =
    corpusIndexTables.toMap.apply(name).get

  private def corpusIndexSets(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), array_sort(col("sh")).as("sh"))

  /** The three bucketed tables' rows for `docs`, whose shingle sets
    * are `sets` — one derivation for the build and the append.
    */
  private def corpusIndexRows(docs: DataFrame, sets: DataFrame, textCol: String,
      threshold: Double): Seq[(String, DataFrame)] =
    Seq(
      "sets" -> sets,
      "prefix" -> prefixTokens(sets, threshold),
      "texts" -> docs.select(col(textCol).as("text")).where(col("text").isNotNull)
        .distinct())

  /** Each set's prefix tokens at `threshold`, (id, sz, pos, tok) — the
    * candidate side of every prefix-filtered Jaccard join. The prefix
    * length carries the 1e-9 epsilon, so rounding only over-generates.
    */
  private def prefixTokens(sets: DataFrame, threshold: Double): DataFrame = {
    val prefLen =
      (size(col("sh")) - ceil(lit(threshold) * size(col("sh")) - lit(1e-9)) + 1).cast("int")
    sets.select(col("id"), size(col("sh")).as("sz"),
      posexplode(slice(col("sh"), lit(1), prefLen)).as(Seq("pos", "tok")))
  }

  /** Append a batch to a standing corpus index written by
    * [[writeCorpusIndex]] — the accept-into-corpus half of the daily
    * loop (dedup the batch against the index, then append the
    * survivors). Derivations use the INDEX's own parameters from
    * `_meta`, so the appended rows are indistinguishable from a full
    * rebuild's. `_texts` may accumulate cross-batch duplicate text
    * rows (each batch distincts only itself) — harmless to the
    * left-semi/anti consumers by idempotence of set membership.
    *
    * SELF-READ GUARD: the natural usage derives `newDocs` FROM this
    * index (dedup-against-index, then append the survivors). Each of
    * the three table appends invalidates every cached plan that reads
    * the written table, so an unguarded later append would RE-EVALUATE
    * `newDocs` against the half-appended index — the batch's own rows,
    * now present in `_sets`/`_prefix`, would match themselves and the
    * re-evaluated survivor set silently collapses to empty (observed:
    * the `_texts` append writing zero rows). When the input plan reads
    * any `tablePrefix` table, it is snapshotted (`localCheckpoint`)
    * once up front so all three appends consume the same frozen rows.
    */
  def appendToCorpusIndex(
      newDocs0: DataFrame,
      textCol: String,
      idCol: String,
      tablePrefix: String = "graft_corpus_index"): Unit = {
    val newDocs =
      if (newDocs0.queryExecution.analyzed.toString.contains(tablePrefix + "_"))
        newDocs0.localCheckpoint()
      else newDocs0
    val store = graft.core.StandingStore(newDocs.sparkSession, tablePrefix, null)
    val meta = store.meta
    val sets = corpusIndexSets(newDocs, textCol, idCol, meta.getAs[Int]("shingle_n"))
    store.append(corpusIndexRows(newDocs, sets, textCol, meta.getAs[Double]("threshold"))
      .map { case (name, df) => (name, df, corpusIndexBucketCol(name)) }: _*)
  }

  /** [[jaccardJoinAgainst]] with the corpus side served by a
    * [[writeCorpusIndex]] materialization: identical output (the
    * CORRECTNESS row q141 pins index-backed == direct through the full
    * cascade), with the corpus tokenize+sort+explode replaced by
    * bucketed parquet scans. `threshold` may exceed the index's build
    * threshold (superset-prefix argument in [[writeCorpusIndex]]);
    * anything below it is refused — the stored prefixes would be too
    * short for completeness.
    */
  def jaccardJoinAgainstIndex(
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      tablePrefix: String = "graft_corpus_index"): DataFrame = {
    val store = graft.core.StandingStore(incoming.sparkSession, tablePrefix, null)
    val meta = store.meta
    val idxThreshold = meta.getAs[Double]("threshold")
    require(threshold >= idxThreshold - 1e-12,
      s"index built at threshold $idxThreshold cannot serve a query at $threshold " +
        "(stored prefixes too short for completeness) — rebuild the index")
    joinSetsAgainst(graft.core.Caches.persistTracked(
        corpusIndexSets(incoming, textCol, idCol, meta.getAs[Int]("shingle_n"))),
      store.table("prefix"), store.table("sets"), threshold)
  }

  /** SimHash near-dup pairs via TWO-LEVEL banding: the 64-bit simhash
    * splits into four 16-bit bands, and each band's remaining 48 bits
    * split into four 12-bit sub-bands. Any pair within Hamming
    * distance 3 has an intact band (pigeonhole), and that band's
    * remainder holds ALL the flipped bits, so one of its four sub-bands
    * is intact too (second pigeonhole) — every qualifying pair agrees
    * exactly on some combined (band << 12 | sub-band) 28-bit key. The
    * banded self-join on (entry index, combined key) finds ALL such
    * pairs with no all-pairs scan; bit_count(xor) <= `maxHamming`
    * verifies each candidate.
    *
    * Why two-level: a single 16-bit band key has only 65k buckets per
    * band index, so bucket occupancy — and in-bucket candidate pairs,
    * quadratic in occupancy — grows linearly with the corpus (>= 150
    * rows/bucket at 10M docs). The 2^28 combined-key space defers that
    * densification by ~4000x for a 4x explode (16 vs 4 skinny rows per
    * doc).
    *
    * Dedup across entries uses the FIRST-AGREEING-ENTRY filter (keep
    * the joined row at entry m only when entries 0..m-1 disagree)
    * instead of a `distinct`: exactly-once emission with zero extra
    * shuffle. This is the same plan [[graft.plans.HammingBandJoinRule]]
    * produces for the declarative `bit_count(a^b) <= k` join (q62's
    * envelope pins this operator to the brute-force join, q65 pins the
    * rule to this operator).
    */
  def simhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingNearDuplicates(
      df.select(col(idCol), simhash64(col(textCol)).as("__h64")),
      "__h64", idCol, maxHamming)

  /** Generic two-level-banded Hamming near-dup join over ANY
    * precomputed 64-bit hash column (SimHash for text, dHash/pHash for
    * images — [[graft.multimodal.MultiModal.imageNearDuplicates]] rides
    * this verbatim). Same recall proof, same first-agreeing-entry
    * exactly-once emission, zero modality-specific join code.
    */
  def hammingNearDuplicates(
      hashes: DataFrame,
      hashCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding guarantees recall only to Hamming 3")
    def band(sh: Column, b: Int): Column =
      shiftrightunsigned(sh, b * 16).bitwiseAND(0xFFFFL)
    // The 48 bits remaining after band b is removed, packed low: bits
    // below the band stay, bits above shift down 16.
    def rem48(sh: Column, b: Int): Column =
      if (b == 0) shiftrightunsigned(sh, 16)
      else if (b == 3) sh.bitwiseAND(lit((1L << 48) - 1))
      else shiftleft(shiftrightunsigned(sh, 16 * b + 16), 16 * b)
        .bitwiseOR(sh.bitwiseAND(lit((1L << (16 * b)) - 1)))
    def sub(sh: Column, b: Int, j: Int): Column =
      shiftrightunsigned(rem48(sh, b), 12 * j).bitwiseAND(0xFFFL)
    // Combined 28-bit equi-key for entry m = b*4 + j.
    def entryKey(sh: Column, m: Int): Column =
      shiftleft(band(sh, m / 4), 12).bitwiseOR(sub(sh, m / 4, m % 4))
    val sh = hashes.select(col(idCol).as("id"), col(hashCol).cast("long").as("sh"))
      .where(col("sh").isNotNull)
    // Persisted (tracked): both self-join sides reference the banded
    // relation, and its input is the full-corpus tokenize+hash scan.
    val banded = graft.core.Caches.persistTracked(
      sh.select(col("id"), col("sh"),
        posexplode(array((0 until 16).map(m => entryKey(col("sh"), m)): _*))
          .as(Seq("band_idx", "band_val"))))
    val a = banded.as("a")
    val b = banded.as("b")
    val firstMatchOnly = (0 until 15).map(m =>
      (col("a.band_idx") <= m) ||
        (entryKey(col("a.sh"), m) =!= entryKey(col("b.sh"), m)))
      .reduce(_ && _)
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
      .where(firstMatchOnly)
      .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
      .where(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
  }

  /** Embedding-cosine near-dup pairs within a blocking key: exact
    * cosine (native expression) over same-block pairs. The block key
    * bounds the pair count (the unblocked form is quadratic — at corpus
    * scale use [[embeddingNearDuplicatesLsh]], which derives the block
    * from sign-pattern LSH buckets instead of a data column).
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      embCol: String,
      idCol: String,
      blockCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.vecCosine
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.join(b, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .where(vecCosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-dup pairs at corpus scale: the blocking key
    * is a random-hyperplane LSH bucket ([[Similarity.lshBucket]]), so
    * pair candidates are same-bucket only — no data column needed and
    * no quadratic blow-up on organic corpora. Multi-probe on one side
    * (each row additionally joins against every bucket at Hamming
    * distance 1 in sign-pattern space, [[Similarity.lshProbes]])
    * recovers most pairs that
    * straddle a hyperplane; like all LSH methods recall < 1 by design —
    * tune `numPlanes` DOWN toward log2(expected cluster count) or raise
    * probing for higher recall. Only the probe side explodes (the base
    * side joins on its single stored bucket), and because one row's
    * probe values are pairwise distinct while each base row carries
    * exactly one bucket, a given (id_a, id_b) pair can match on at most
    * ONE probe — emission is exactly-once with no distinct needed
    * (OpsSpec asserts it). The bucketed relation is persisted (tracked)
    * since both join sides reference it (the bucket itself is now the
    * codegen'd [[graft.functions.LshBucketExpr]], but the persist still
    * saves the second full-store scan + embedding deserialization).
    */
  def embeddingNearDuplicatesLsh(
      df: DataFrame,
      embCol: String,
      idCol: String,
      threshold: Double,
      numPlanes: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.vecCosine
    val bucketed = graft.core.Caches.persistTracked(
      df.select(col(idCol).as("id"), col(embCol).as("emb"),
        Similarity.lshBucket(embCol, numPlanes).as("bucket")))
    val a = bucketed.select(col("id").as("id_a"), col("emb").as("emb_a"),
      explode(Similarity.lshProbes(col("bucket"), numPlanes)).as("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("emb").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .where(vecCosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Cross-corpus (R-S) embedding-cosine contamination probe — the
    * SEMANTIC counterpart of [[jaccardJoinAgainst]]/`Decontaminate`:
    * find every training vector whose cosine against ANY vector of a
    * reference set (an eval benchmark, a blocklist of memorized
    * passages) reaches `threshold`. N-gram decontamination misses
    * paraphrases; embedding-cosine catches them (the SemDeDup
    * observation, Abbas et al. 2023, applied across corpora instead of
    * within one).
    *
    * Shape: the reference side is SMALL by nature (benchmarks are
    * thousands of rows, corpora are billions) — broadcast it and the
    * corpus never shuffles at all: one map-side pass computes each
    * train vector's max cosine over the broadcast set. This exact form
    * is |train|·|ref| cosines of map-only work, embarrassingly
    * parallel; when the reference set outgrows a broadcast, bucket both
    * sides with [[Similarity.lshBucket]] exactly as
    * [[embeddingNearDuplicatesLsh]] does and probe buckets instead.
    *
    * Output: one row per TRAIN id — (id, max_cos, contaminated) — keyed
    * at corpus grain so the downstream filter is a semi-join-free
    * boolean column. max() over doubles is order-independent, so the
    * score is deterministic under any partitioning.
    */
  def cosineContaminationAgainst(
      train: DataFrame,
      reference: DataFrame,
      embCol: String,
      idCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.vecCosine
    val refs = reference.select(col(embCol).as("__ref_emb"))
    train.select(col(idCol).as("id"), col(embCol).as("emb"))
      .crossJoin(broadcast(refs))
      .groupBy(col("id"))
      .agg(max(vecCosine(col("emb"), col("__ref_emb"))).as("max_cos"))
      .select(col("id"), col("max_cos"),
        (col("max_cos") >= threshold).as("contaminated"))
  }

  /** 64-bit SimHash from word unigrams: per bit, sign of the sum over
    * tokens of (+1 if token-hash bit set else -1). Token hashing is one
    * builtin HOF pass; the 64-counter vote fold is a native Catalyst
    * expression ([[graft.functions.SimHash64Expr]]) — a JIT'd primitive
    * loop instead of a per-token interpreted array accumulator.
    */
  def simhash64(textCol: Column): Column = {
    val tokens = split(lower(trim(textCol)), "\\s+")
    val hashes = transform(tokens, t => xxhash64(t))
    graft.functions.SimHashOps.simhash64FromHashes(hashes)
  }
}
