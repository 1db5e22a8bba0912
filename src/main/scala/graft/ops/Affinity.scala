package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket affinity / co-occurrence lift (§2.11 extension — the
  * "what co-occurs with what, beyond chance" primitive behind
  * recommendation candidates, query-expansion tables, and data-mixing
  * diagnostics).
  *
  * lift(a,b) = P(a,b) / (P(a)·P(b)) = N·n_ab / (n_a·n_b) over baskets.
  *
  * Shape: the pair enumeration is a SELF-JOIN ON THE BASKET KEY — cost
  * is sum(basket_size^2), bounded by the max basket, NOT corpus^2 (the
  * market-basket bound; a 100 TB corpus of bounded baskets scales
  * linearly). Item frequencies then attach via two item-key joins of
  * the (already aggregated) pair table, and the basket total rides a
  * one-row broadcast. The min-support filter runs BEFORE the frequency
  * joins, so the heavy pair tail never shuffles twice.
  *
  * Determinism: lift is emitted on the exact micro grid —
  * `lift_micro = (N * n_ab * 1e6) div (n_a * n_b)` in decimal integer
  * arithmetic (IntegralDivide), which any engine reproduces digit for
  * digit; no float division near a comparison boundary.
  */
object Affinity {

  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** Deduped (basket `__b`, item `__i`) relation — the input both the
    * pair discovery and the frequency/total aggregates read.
    */
  private def basketItems(df: DataFrame, basketCol: String, itemCol: String): DataFrame =
    df.select(col(basketCol).cast("long").as("__b"), col(itemCol).cast("long").as("__i"))
      .where(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()

  /** Support-filtered co-occurrence pairs (`item_a` < `item_b`,
    * `n_ab` >= minSupport) — the DISCOVERY subtree that market-basket
    * lift, the co-purchase PageRank, and the triangle census all stand
    * on. It is by far their dominant cost (the basket self-join), so it
    * is a SESSION-SHARED persisted relation ([[graft.core.Caches.shared]],
    * keyed by the input's canonicalized plan hash + parameters): the
    * first consumer materializes it, every other query of the session
    * reuses the cache instead of re-running discovery — the
    * materialize-once-per-corpus-version discipline a production
    * deployment applies to exactly this relation.
    *
    * Cost anatomy (sf10m organic input, COVERAGE.md Session-7): 120.0M pair
    * rows reach the (item_a, item_b) aggregation, 119.6M distinct,
    * only 357k survive support >= 2 — the shuffle is 99.7% singleton
    * pairs. Pre-shuffle pruning was MEASURED-OUT, not overlooked: a
    * count-min sketch cannot discriminate count 1 vs 2 here (at
    * broadcastable widths the expected overcount is ~30 per cell, so
    * everything passes), and the exact two-pass alternative (shuffle
    * 8-byte pair hashes first, broadcast the ~357k qualifying hashes,
    * regenerate + filter map-side) pays a second full pair-generation
    * pass for ~half the shuffle bytes — a wash on this profile. The
    * one-pass aggregation with map-side partial combine stands; at
    * true cluster scale the shuffle is embarrassingly parallel and
    * bounded by sum(basket²), the market-basket bound.
    *
    * APRIORI ITEM PRUNE (measured, kept): items in fewer than
    * minSupport baskets cannot form a qualifying pair, so their rows
    * are dropped before the self-join. On THIS corpus the prune is a
    * no-op (COVERAGE.md Session-8): 200,000/200,000 items at sf1m and
    * 2,000,000/2,000,000 at sf10m appear in >= 2 baskets (TPC-H part
    * keys have no infrequent tail), so pruned_pair_rows == pair_rows
    * (12.0M / 120.0M) and the q114 sf10m warm floor is unchanged
    * within host variance (43-56 s measured) — but its cost is one
    * map-side-combined count over the already-persisted items relation
    * plus a broadcastable semi-join (~1.6 MB frequent list here), and
    * on the long-tail item distributions a 100 TB corpus actually has
    * (tokens, SKUs, URLs — where most items are hapax) it is the
    * classical lever that keeps the pair shuffle proportional to the
    * frequent subcorpus. Cheap insurance on this profile, the
    * difference between feasible and not on a Zipfian one.
    *
    * SKEW POSTURE (measured, COVERAGE.md Session-8): the shuffle key is the
    * basket, so per-key pair volume is quadratic in basket size. A
    * power-law tail to ~1800-item baskets is harmless (wall 3.8 s vs
    * 6.2 s uniform at 300k baskets — sum(sz²) barely moves). ONE
    * 20k-item mega-basket is not: it alone contributes 200M of 414M
    * pair rows on a single key, wall 3.8 s -> 17.9 s, and AQE's skew
    * split does NOT engage (it splits oversized partitions of the
    * OTHER join side; a single hot key's quadratic explode happens
    * inside one task either way). The guard is `maxBasketSize` — the
    * classical market-basket cap: capped at the tail max, wall returns
    * to 7.0 s and the pair set is exactly the uncapped set minus the
    * degenerate basket's contribution. Salting does not apply: unlike
    * a hot JOIN key (see [[Skew.saltedJoin]]), the quadratic blowup is
    * per-basket by construction, so the only scalable answers are cap
    * or upstream sampling of pathological baskets.
    */
  def supportPairs(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long,
      itemsOpt: Option[DataFrame] = None,
      maxBasketSize: Option[Int] = None,
      itemCountsOpt: Option[DataFrame] = None): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    maxBasketSize.foreach(m => require(m >= 2, s"maxBasketSize must be >= 2, got $m"))
    // The shared-cache key must identify the input RELATION, not just
    // a 32-bit plan hash: a semanticHash collision between two
    // different basket relations would silently serve wrong pairs to
    // every consumer. A SHA-256 of the full canonicalized plan string
    // makes collisions cryptographically implausible. NOTE the key
    // still identifies the PLAN, not the data underneath it — a caller
    // whose source files change mid-session (a new corpus batch under
    // the same path) must call [[graft.core.Caches.releaseShared]] to
    // drop the stale relation.
    val planDigest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.queryExecution.analyzed.canonicalized.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val key = s"affinity-support-pairs:$basketCol:$itemCol:$minSupport:" +
      s"${maxBasketSize.getOrElse(0)}:$planDigest"
    graft.core.Caches.shared(key) {
      // The self-join reads the deduped items relation twice; tracked
      // persist bounds that to one scan while the pairs themselves
      // materialize (released per query — the SHARED pairs carry on).
      // A caller that already holds the persisted items relation
      // passes it in (basketLift needs items for its frequency
      // aggregates anyway — without the handoff the lift paid TWO
      // full input distincts when it was the build-triggering query).
      val items = itemsOpt.getOrElse(
        graft.core.Caches.persistTracked(basketItems(df, basketCol, itemCol)))
      // APRIORI ITEM PRUNE: n_ab <= min(n_a, n_b), so an item appearing
      // in fewer than minSupport baskets can never be part of a
      // qualifying pair — drop its rows BEFORE the basket self-join.
      // The prune pays one map-side-combined count + one item-key
      // semi-join of the persisted items relation (AQE broadcasts the
      // frequent-item list when it is small) to shrink the pair
      // shuffle; see the cost anatomy above for the measured effect.
      // MARKET-BASKET CAP (opt-in): per-key pair volume is quadratic
      // in basket size and AQE's skew split does NOT rescue a single
      // mega-key (COVERAGE.md Session-8: one 20k-item basket = 200M of 414M
      // pair rows, wall 3.7 s -> 19.5 s, aqe_skew_split=false — the
      // split threshold sees partitions, not keys). Degenerate baskets
      // (a crawler session touching 100k items) are a data-quality
      // pathology, not co-occurrence signal; the classical guard is to
      // drop them before the self-join.
      val capped = maxBasketSize match {
        case None => items
        case Some(m) =>
          val ok = items.groupBy(col("__b"))
            .agg(count(lit(1)).as("__sz"))
            .where(col("__sz") <= m)
            .select(col("__b"))
          items.join(ok, Seq("__b"), "left_semi")
      }
      val joinInput =
        if (minSupport <= 1L) capped
        else {
          // itemCountsOpt: the (item, basket-count) aggregate a caller
          // already needs for its own columns (basketLift's n_a/n_b
          // frequency joins) — without the handoff the identical
          // aggregation over the identical items relation ran twice in
          // the build-triggering query (guide §1.2: don't compute it
          // twice). Only valid UNCAPPED: under maxBasketSize the prune
          // must count the capped relation.
          val frequent = itemCountsOpt.filter(_ => maxBasketSize.isEmpty)
            .getOrElse(capped.groupBy(col("__i"))
              .agg(count(lit(1)).as("__n")))
            .where(col("__n") >= minSupport)
            .select(col("__i"))
          capped.join(frequent, Seq("__i"), "left_semi")
        }
      val l = joinInput.select(col("__b"), col("__i").as("item_a"))
      val r = joinInput.select(col("__b"), col("__i").as("item_b"))
      l.join(r, Seq("__b"))
        .where(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= minSupport)
    }
  }

  /** (item_a, item_b, n_ab, n_a, n_b, lift_micro) for unordered item
    * pairs co-occurring in at least `minSupport` baskets
    * (item_a < item_b). Duplicate (basket, item) rows count once.
    */
  def basketLift(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long): DataFrame = {
    // One persisted items relation serves the pair discovery (when
    // this call triggers the shared build) AND the frequency/total
    // aggregates below; the skinny pair relation alone stays cached
    // for the session. The item-count aggregate is likewise built ONCE
    // (persisted — item-grain, bounded by the item vocabulary) and
    // serves both the apriori prune inside the discovery and the
    // n_a/n_b lift columns; before the handoff the identical
    // aggregation ran twice in the build-triggering query.
    val items = graft.core.Caches.persistTracked(basketItems(df, basketCol, itemCol))
    val freq = graft.core.Caches.persistTracked(
      items.groupBy(col("__i")).agg(count(lit(1)).as("__n")))
    val pairs = supportPairs(df, basketCol, itemCol, minSupport, Some(items),
      itemCountsOpt = Some(freq))
    val total = items.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__N"))
    val dec = "decimal(38,0)"
    pairs
      .join(freq.select(col("__i").as("item_a"), col("__n").as("n_a")), "item_a")
      .join(freq.select(col("__i").as("item_b"), col("__n").as("n_b")), "item_b")
      .crossJoin(broadcast(total))
      .withColumn("lift_micro",
        intDiv(
          col("__N").cast(dec) * col("n_ab").cast(dec) * lit(1000000L).cast(dec),
          col("n_a").cast(dec) * col("n_b").cast(dec)).cast("long"))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("lift_micro"))
  }
}
