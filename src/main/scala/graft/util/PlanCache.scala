package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * A bounded, access-ordered memoization cache for persisted DataFrames,
 * keyed by a canonicalized logical plan, plus a memo for driver-side
 * values fitted from a source (row counts, quantizer centroids) or
 * resolved from a file version (parquet schemas, see
 * [[graft.sources.Tables]]). It is the one place the engine keeps a
 * frame or a fitted value across queries.
 *
 * Why this exists: operators like MinHash LSH and IVF search build an
 * expensive projection (shingling, vector normalization) consumed by
 * several downstream plans. Persisting it once per distinct source is
 * the right move, but a bare `.persist()` with no lifecycle leaks a
 * MEMORY_AND_DISK frame per call for the session's lifetime. This cache
 * gives every such projection the same treatment:
 *
 *  - memoized per canonicalized plan, so repeated queries over the same
 *    source reuse one persisted frame instead of re-registering;
 *  - LRU-bounded: beyond `maxEntries` the least-recently-used frame is
 *    unpersisted and rebuilt on next touch (projections are
 *    deterministic, so eviction never changes results, only cost);
 *  - session-validity guarded: canonicalized scans can collide across
 *    sessions in one JVM, and a frame from a stopped session is dead;
 *  - flushed, frames and memo together, by [[clear]] and by
 *    [[PlanCache.releaseAll]].
 */
object PlanCache {
  // every instance self-registers so a process-wide flush reaches
  // caches the flusher has never heard of (new query modules included)
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[PlanCache]()
  private[util] def register(c: PlanCache): Unit = { instances.add(c); () }

  /** Flush EVERY PlanCache in the process: unpersist every frame and
    * drop every memoized value. The caches are the right default
    * inside a session (repeat queries over one corpus reuse the
    * expensive shingle/normalize/hash projections), but a benchmark
    * timing MANY corpus-sized operators in one JVM accumulates several
    * multi-GB persisted frames whose storage blocks compete with the
    * next query's execution memory — at the corpus-100× tier that
    * inflated an unrelated query 7× (measured: tx22 9.8 s in a fresh
    * JVM vs 67 s after tx06's 500k-doc prep stayed persisted). Flushing
    * between tier queries makes each number the query's own
    * self-contained cost, counting jobs included. */
  def releaseAll(): Unit = instances.forEach(_.clear())
}

final class PlanCache(val maxEntries: Int) {

  PlanCache.register(this)

  // access-ordered LinkedHashMap = LRU; eviction unpersists so the
  // executor-side blocks go with the map entry, not at session death
  private val cache = new java.util.LinkedHashMap[LogicalPlan, DataFrame](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[LogicalPlan, DataFrame]): Boolean =
      if (this.size() > maxEntries) {
        e.getValue.unpersist(blocking = false); true
      } else false
  }

  /** The persisted frame for `df`'s canonicalized plan, building and
    * persisting (MEMORY_AND_DISK) on first touch. */
  def persisted(df: DataFrame): DataFrame = persistedFor(df)(df)

  /** The persisted `build` frame, keyed on `source`'s canonicalized
    * plan instead of its own — for frames whose plan does not
    * canonicalize stably (a `mapPartitions` closure canonicalizes per
    * instance) or is costly to build just to look up. `build` runs only
    * on a miss. */
  def persistedFor(source: DataFrame)(build: => DataFrame): DataFrame = {
    val key = source.queryExecution.analyzed.canonicalized
    cache.synchronized {
      val cached = cache.get(key)
      if (cached != null && !cached.sparkSession.sparkContext.isStopped) cached
      else {
        val persisted =
          build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cache.put(key, persisted)
        persisted
      }
    }
  }

  // Fitted values are deterministic per canonicalized source (sources
  // are immutable fixtures), so the memo survives frame eviction: an
  // evicted-and-rebuilt frame has the same count and the same fit.
  // Bounded at 4x the frame cap — a value is bytes to kilobytes on the
  // driver, a frame gigabytes on the executors.
  private val memos = new java.util.LinkedHashMap[(Any, String, Seq[Any]), Any](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(Any, String, Seq[Any]), Any]): Boolean =
      this.size() > math.max(maxEntries * 4, 16)
  }

  /** `compute` memoized by `source`'s canonicalized plan, the caller's
    * `tag` and its `params` — a driver-side value fitted from a source
    * (a count, k-means centroids) is paid once per distinct source and
    * parameters, not once per call. */
  def memo[A](source: DataFrame, tag: String, params: Any*)(compute: => A): A =
    memoOn(source.queryExecution.analyzed.canonicalized, tag, params: _*)(compute)

  /** [[memo]] keyed by any immutable value instead of a plan — for a
    * value resolved before there is a frame to key on, such as a
    * parquet file's schema keyed by the file's version. */
  def memoOn[A](source: Any, tag: String, params: Any*)(compute: => A): A = {
    val key = (source, tag, params)
    val hit = memos.synchronized(memos.get(key))
    if (hit != null) hit.asInstanceOf[A]
    else {
      // compute OUTSIDE the lock: a Spark job under `memos.synchronized`
      // would serialize unrelated callers behind one action
      val v = compute
      memos.synchronized(memos.put(key, v))
      v
    }
  }

  /** `df.count()` memoized by canonicalized plan — callers that size a
    * plan from its input cardinality (e.g. adaptive banding depth) pay
    * the counting job once per distinct source, not once per call. */
  def memoizedCount(df: DataFrame): Long = memo(df, "count")(df.count())

  def size: Int = cache.synchronized(cache.size)

  /** Unpersist and drop every cached frame and memoized value — the
    * full flush. */
  def clear(): Unit = {
    cache.synchronized {
      cache.values.forEach(df => { df.unpersist(blocking = false); () })
      cache.clear()
    }
    memos.synchronized(memos.clear())
  }
}
