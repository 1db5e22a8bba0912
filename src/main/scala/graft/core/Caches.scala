package graft.core

import org.apache.spark.sql.DataFrame

/** Registry for DataFrames persisted inside operators (banded LSH
  * relations, IVF centroid picks). Operators persist mid-plan relations
  * they reference repeatedly, but they return lazy plans and so cannot
  * know when the caller's terminal action has run — in a long-lived
  * session (bench loop, notebook) those caches would otherwise
  * accumulate until the block manager evicts them. Callers bound the
  * lifetime by calling [[releaseAll]] between units of work (the bench
  * harness does so after every query).
  */
object Caches {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` at MEMORY_AND_DISK and register it for release. */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    p
  }

  /** Unpersist every tracked relation (non-blocking) and clear the registry.
    * SHARED relations (see [[shared]]) survive — their lifetime is the
    * session, not the query.
    */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Throwable => () }
      d = live.poll()
    }
  }

  private val sharedMap =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Session-lifetime keyed persist: the first caller builds and
    * persists the relation, every later caller with the same key gets
    * the SAME cached DataFrame — the mechanism behind subtrees that
    * several queries of one session share (the support-2 co-purchase
    * pair discovery feeding affinity, PageRank, and the triangle
    * census). Unlike [[persistTracked]] these survive the per-query
    * [[releaseAll]]; a long-lived session bounds them with
    * [[releaseShared]] when the workload phase changes. This mirrors
    * the production discipline of materializing a discovery relation
    * once per corpus version and running every consumer against it.
    */
  def shared(key: String)(build: => DataFrame): DataFrame = {
    // get-then-putIfAbsent, NOT computeIfAbsent: builders legitimately
    // call shared() for their own sub-relations (the family prior's
    // ensemble build resolves the shared jaccard-exact pairs), and a
    // recursive computeIfAbsent on one ConcurrentHashMap is documented
    // undefined behavior (IllegalStateException or livelock depending
    // on bin collisions — input-path-dependent, so tests can pass
    // while a new corpus path crashes). The race window (two threads
    // building the same key): the loser's DataFrame is UNREACHABLE
    // after this return (never entered in sharedMap, so releaseShared
    // cannot see it) — harmless because the deterministic builder
    // produces the same logical plan both times and Spark's
    // CacheManager dedupes persists by plan identity, so winner and
    // loser share ONE cache entry. Unpersisting the loser here would
    // therefore evict the winner's cache; leaving it is the correct
    // (and storage-free) choice.
    val existing = sharedMap.get(key)
    if (existing != null) return existing
    val b = build
    // PROMOTE out of the per-query registry: a builder may legitimately
    // return the very DataFrame it registered via [[persistTracked]].
    // Left in `live`, the next releaseAll() — the bench runs one after
    // EVERY query — would unpersist the exact object this registry
    // hands to every later consumer: the shared cache silently dies
    // after its first query and each consumer re-executes the full
    // build lineage once per plan reference (round-13's q91 2x driver
    // regression: the "shared" PQ codebooks were re-trained 3-4x inside
    // q91 alone). Queue removal is by reference (DataFrame keeps AnyRef
    // equals), so only the identical object is promoted; shared
    // lifetime wins.
    live.remove(b)
    // A local relation (driver-trained PQ codebooks) is already
    // materialized: persisting it would only add an InMemoryRelation
    // build job and cache scans. The key still bounds its lifetime.
    val built =
      if (b.isLocal) b
      else b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raced = sharedMap.putIfAbsent(key, built)
    if (raced != null) raced else built
  }

  /** Unpersist every shared relation and clear the registry. */
  def releaseShared(): Unit = {
    val it = sharedMap.values().iterator()
    while (it.hasNext) {
      try it.next().unpersist(blocking = false) catch { case _: Throwable => () }
    }
    sharedMap.clear()
  }
}
