package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** How a graft operator caches a frame and keeps it alive.
  *
  * [[keep]] is the one call: it persists a frame at [[level]], registers
  * it in its operator's working set under a key, and returns it; it is
  * the only way to register a frame. No other code in `src/main` names
  * a storage level or calls a bare `persist()` or `.cache()` (CachesSpec
  * scans for all three).
  *
  * The recurring trap it answers: an operator persists an intermediate,
  * builds its result on top, and returns the result lazily — the cache
  * (and its broadcasts) then outlives the operator, because unpersisting
  * before the caller's action would recompute the intermediate uncached,
  * and the caller has no handle to unpersist with. Repeated calls (grid
  * loops, benchmark reruns, long sessions) accumulate pinned executor
  * storage without bound: CacheManager entries are only freed by
  * explicit unpersist, never by GC.
  *
  * The discipline here is a RETENTION POLICY rather than eager release:
  * the registry keeps an LRU of at most 4 keys' working sets,
  * unpersisting the least-recent set when the bound is exceeded.
  * Consequences:
  *
  *  - storage is bounded by a handful of operators' working sets — the
  *    unbounded-accumulation failure mode is gone;
  *  - a returned lazy frame stays backed by live caches until several
  *    OTHER operators have run, so the caller's action (and a composite
  *    query chaining a few operators) reads them warm;
  *  - materializing a stale result after its set was evicted is still
  *    correct — it just recomputes uncached.
  *
  * A cache serves reuse inside one query; nothing here carries results
  * from one query to the next. Bench, Verify and perfbench call
  * [[releaseAll]] between queries.
  *
  * Within one key the frame list is deduplicated by logical plan
  * (`sameResult`): keeping an identical plan again keeps the single
  * underlying cache entry, so per-key growth is bounded too. ACROSS
  * keys two sets may legitimately hold same-plan frames — Spark's
  * CacheManager backs both with ONE entry — so eviction unpersists a
  * frame only when no surviving set still retains its plan; evicting
  * one key can therefore never invalidate data another key's frames
  * depend on. Operators that finish consuming a cache before returning
  * persist it at [[level]] and unpersist it in-function; [[keep]] is
  * for caches the returned result depends on.
  */
object Caches {

  private val lock = new Object
  private val maxSets = 4
  private val maxFramesPerSet = 16

  // LRU order: head = least recent
  private var sets: Vector[(String, List[DataFrame])] = Vector.empty

  /** The storage level of every graft cache. */
  val level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Persist `df` at [[level]], register it in `key`'s working set and
    * return it. Registering refreshes the key's recency and evicts (and
    * unpersists) the least-recent key's set beyond the retention bound.
    */
  def keep(key: String, df: DataFrame): DataFrame = {
    df.persist(level)
    lock.synchronized {
      val (same, others) = sets.partition(_._1 == key)
      val existing = same.headOption.map(_._2).getOrElse(Nil)
      val plan = df.queryExecution.analyzed
      var merged =
        if (existing.exists(_.queryExecution.analyzed.sameResult(plan))) existing
        else existing :+ df
      var dropped = List.empty[DataFrame]
      while (merged.length > maxFramesPerSet) {
        dropped ::= merged.head
        merged = merged.tail
      }
      sets = others :+ (key -> merged)
      while (sets.length > maxSets) {
        dropped :::= sets.head._2
        sets = sets.tail
      }
      // release only plans no surviving set still retains (see scaladoc:
      // same-plan frames under two keys share one CacheManager entry)
      dropped.foreach { f =>
        val p = f.queryExecution.analyzed
        if (!sets.exists(_._2.exists(_.queryExecution.analyzed.sameResult(p))))
          f.unpersist()
      }
    }
    df
  }

  /** Release every retained cache (session teardown / tests /
    * benchmark isolation). BLOCKING unpersist, deliberately: the
    * default async unpersist only ENQUEUES block removal, so a mass
    * release (hundreds of cached partitions after a cache-heavy
    * operator) executes during whatever runs NEXT — measured in the
    * r9 bench as multi-second heavy-tail spikes landing on innocent
    * queries right after big retainers (q131 after q130_bootstrap,
    * q155 after q154, q47 after q46_tfidf). Blocking moves that cost
    * into the caller's own (untimed) teardown window. LRU eviction in
    * [[keep]] stays async — an operator should not stall on its
    * neighbor's cleanup.
    *
    * CONCURRENCY CONTRACT: call only at a single-threaded session
    * boundary — no query in flight on any thread. The sweep below
    * unpersists every persistent RDD the SparkContext knows about,
    * including caches and localCheckpoint blocks owned by OTHER code
    * (parallel suites, a second thread mid-query); yanking a foreign
    * localCheckpoint's blocks mid-action is an error (truncated
    * lineage cannot recompute), not a slow path. All in-repo callers
    * (Bench/Verify per-query teardown, suite afterAll) satisfy this.
    *
    * Because `localCheckpoint` blocks and unregistered persists are
    * exactly the storage residue the registry CANNOT see, it also
    * unpersists every persistent RDD still known to the active
    * SparkContext. The r10 official sweep measured the cost of not
    * doing this: q290 at 13–30 s (2.2 s isolated) with heap climbing
    * 8.9→17.9 GB and gc≈0 — per-rep `localCheckpoint` blocks pile up
    * in the PROTECTED half of unified storage memory
    * (`spark.memory.storageFraction`), so execution memory starves and
    * the big joins spill. After this teardown, frames built on a
    * localCheckpoint are dead (lineage truncated, blocks gone) —
    * releaseAll is a session boundary, not a cache trim.
    */
  def releaseAll(): Unit = lock.synchronized {
    sets.foreach(_._2.foreach(_.unpersist(blocking = true)))
    sets = Vector.empty
    SparkSession.getActiveSession.foreach { s =>
      s.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = true))
    }
  }
}
