package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder pre-configured the way every
  * graft surface (Verify, Bench, tests) runs — native function extensions
  * registered, AQE on with size-first coalescing and skew handling, UTC
  * session timezone, and the nanos-timestamp legacy flag the testdata
  * needs. Callers on a real cluster pass their own master/shuffle settings.
  */
object Graft {

  def builder(master: String = "local[*]", shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // STATIC conf, default 100: the 71-query catalog compiles far more
      // codegen units than that, so the default evicts and RECOMPILES
      // (janino, ~100ms-seconds each) mid-measurement — the progressive
      // slowdown observed from ~q20 onward in earlier rounds' benches.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark DEFAULT (r22): the earlier `false` override (prefer target
      // partition size over parallelism) coalesced every mid-size
      // post-shuffle aggregate to ~1 partition at sf0.1 — q67's 25M-pair
      // loop and q76's 3M-group pair count ran on ONE task. Restoring the
      // default keeps post-shuffle stages at the session's parallelism
      // (still size-coalesced above it): full catalog 69.6 s → 59.9 s,
      // biggest single-query deltas q76 1.82→0.83, q105–q108 −0.35 each,
      // sub-second queries +0.02-0.04 (measured, kept).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    shufflePartitions.fold(b)(n => b.config("spark.sql.shuffle.partitions", n))
  }

  def session(master: String = "local[*]", shufflePartitions: Option[Int] = None): SparkSession =
    builder(master, shufflePartitions).getOrCreate()

  // ------------------------------------------------------------------
  // Session-scoped cache registry (r15). The catalog's family-sharing
  // caches (q67's candidate-pair frame that q68 rides, the MinHash
  // signature that q21/q39 reuse) are deliberate — but a bare `.cache()`
  // with no unpersist means a LONG-LIVED session composing catalog
  // queries pins candidate-pair-sized storage until LRU eviction. The
  // registry keeps the sharing (same `.cache()` call, same CacheManager
  // plan-canonicalization hit) and adds the release half: call
  // `releaseCaches()` at a batch boundary and every registered frame
  // re-materializes on next use. Weak values are unnecessary — entries
  // are cleared on release, and registering is idempotent per Dataset.
  // ------------------------------------------------------------------

  private val registeredCaches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.sql.Dataset[_]]()

  /** `.cache()` + enrollment in the session registry: identical sharing
    * semantics to a bare cache (returns the same Dataset, so Catalyst's
    * CacheManager still matches equivalent subtrees), but releasable in
    * one call instead of pinned for the session's lifetime.
    */
  def registerCache[T](ds: org.apache.spark.sql.Dataset[T]): ds.type = {
    ds.cache()
    registeredCaches.add(ds)
    ds
  }

  /** Unpersist every frame enrolled by [[registerCache]]. Non-blocking:
    * storage frees asynchronously; plans referencing a released frame
    * simply recompute (correctness never depends on a cache). Returns the
    * number of frames released.
    */
  def releaseCaches(): Int = {
    val n = registeredCaches.size()
    registeredCaches.forEach(ds => ds.unpersist(blocking = false))
    registeredCaches.clear()
    n
  }
}
