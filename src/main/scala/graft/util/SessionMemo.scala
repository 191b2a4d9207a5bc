package graft.util

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession

/** Per-(session, dir) memo for deterministic trained/sampled artifacts,
  * validated by a parquet file-listing fingerprint — the ONE
  * implementation behind the repo's memo family (corpus count, trained
  * IVF/k-means centroids, OPQ rotation, ql weight model, ir sample, BPE
  * merges, similarity-edge pairs, ANN truth). Round 15, r14 advice
  * item 3: the fingerprint + WeakHashMap boilerplate had been copied
  * per operator file with only the table name and value type differing
  * — three-plus copies of the same invalidation logic to keep in sync.
  * The memos whose builds are priced are listed once, in
  * [[graft.SparkEntry.SharedBuilds]].
  *
  * Invalidation contract (the Clustering rationale, preserved exactly):
  *  - keyed by DIR with the fingerprint stored ALONGSIDE the value (not
  *    baked into the key), so a refreshed corpus under the same dir
  *    REPLACES the stale entry instead of stranding it for the session
  *    lifetime — the bounded-cache behavior a long-lived session needs;
  *  - the fingerprint is the FULL listing string of
  *    `$dir/$table.parquet` ([[Listing.fingerprint]]), never a hash;
  *  - a superseded value is NOT released: a consumer on another thread
  *    may still be reading its localCheckpoint frame, and local
  *    checkpoints have no lineage to recompute from. The ContextCleaner
  *    reclaims its blocks once the frame is unreferenced;
  *  - WEAK session keys, so stopped test sessions are not kept alive;
  *  - compute runs ONCE per key and OUTSIDE the per-session monitor:
  *    the monitor only installs a per-key promise, concurrent
  *    same-key callers wait on it instead of racing duplicates
  *    (training is deterministic, so waiting is strictly cheaper), and
  *    other keys — and nested memo calls — never wait behind a
  *    multi-second Spark job. A compute that throws is not cached: the
  *    next call (or a waiter) computes afresh.
  */
private[graft] final class SessionMemo[V](table: String) {
  private val keyed = new SessionMemo.Keyed[String, V](table)

  /** Cached value for `dir` if its fingerprint still matches, else
    * `compute` (stored with the fresh fingerprint). */
  def getOrCompute(s: SparkSession, dir: String)(compute: => V): V =
    keyed.getOrCompute(s, dir, dir)(compute)

  /** See [[SessionMemo.Keyed.evict]]. */
  def evict(s: SparkSession): Unit = keyed.evict(s)
}

private[graft] object SessionMemo {

  /** General form for memos whose key carries more than the dir (e.g.
    * the similarity-edge pairs keyed by (dir, threshold)); `dir` still
    * drives the fingerprint. */
  final class Keyed[K, V](table: String) {
    private val cache = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.mutable.Map[K, (String, Promise[V])]]())

    private def perSession(s: SparkSession) = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = scala.collection.mutable.Map.empty[K, (String, Promise[V])]
        cache.put(s, m)
      }
      m
    }

    @annotation.tailrec
    def getOrCompute(s: SparkSession, dir: String, key: K)(compute: => V): V = {
      val m = perSession(s)
      val fp = Listing(s, s"$dir/$table.parquet").fingerprint
      val (slot, owner) = m.synchronized {
        m.get(key) match {
          case Some((cachedFp, p)) if cachedFp == fp => (p, false)
          case _ =>
            val p = Promise[V]()
            m.put(key, (fp, p))
            (p, true)
        }
      }
      if (owner) {
        val v = try compute catch { case e: Throwable =>
          m.synchronized { if (m.get(key).exists(_._2 eq slot)) m.remove(key) }
          slot.failure(e)
          throw e
        }
        slot.success(v)
        v
      } else Await.ready(slot.future, Duration.Inf).value.get match {
        case Success(v) => v
        case Failure(_) => getOrCompute(s, dir, key)(compute)
      }
    }

    /** Drop this session's entries and release the blocks behind them,
      * so a timed call prices the computation the consumers amortize.
      * QUIESCENT PATHS ONLY — Bench, `tools.Dev build` and perfbench's
      * traced pricing, each single-threaded between queries: a consumer
      * still reading an evicted localCheckpoint frame fails with
      * "checkpoint block not found". */
    def evict(s: SparkSession): Unit = cache.synchronized {
      val m = cache.get(s)
      if (m != null) m.synchronized {
        m.values.foreach { case (_, p) => p.future.value.foreach(_.foreach(release)) }
        m.clear()
      }
    }

    /** Release checkpoint/cache block storage behind an evicted value
      * (round 16, r15 advice item 3): `Dataset.unpersist` covers
      * CacheManager entries and the shim covers localCheckpoint RDD
      * blocks — without this, Bench's evict-then-reprice transiently
      * doubles the pinned footprint. Values nested one Product level
      * deep (e.g. the (model, frame) pairs) are walked; release
      * failures are non-fatal by design — eviction is hygiene, not
      * correctness. */
    private def release(v: Any): Unit = v match {
      case df: org.apache.spark.sql.Dataset[_] =>
        try {
          df.unpersist(false)
          org.apache.spark.sql.GraftShim.unpersistLocalCheckpoint(df)
        } catch { case scala.util.control.NonFatal(_) => () }
      case p: Product => p.productIterator.foreach(release)
      case _ => ()
    }
  }
}
