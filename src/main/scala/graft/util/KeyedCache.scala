package graft.util

import org.apache.spark.sql.DataFrame

/** Derived-index cache, keyed by (canonicalized source plan, tag,
  * param): within one driver run an expensive derived table (shingle
  * postings, SimHash signatures, a trained k-means assignment) is built
  * ONCE per dataset and every consumer feeds on the same persisted copy
  * instead of rebuilding it per operator. Bounded; oldest entry evicted
  * with a LAZY unpersist (in-flight jobs finish on the old blocks). A
  * library must not leak a cache entry per invocation — the plan-keyed
  * bound guarantees that.
  *
  * Shared by [[graft.dedup.Dedup]] (postings/signatures/derived) and
  * [[graft.similarity.Similarity]] (trained quantizer assignments) so
  * the train-once/consume-many production shape holds across modules.
  */
/** @param persistEntries wrap built entries in `.persist(MEMORY_AND_DISK)`
  *   (the postings/signature shape). Pass false when the built result is
  *   ALREADY materialized (e.g. ends in a `localCheckpoint`): persisting
  *   such a frame buys nothing and exposes the cache manager's
  *   plan-fragment rebinding (`InMemoryRelation.withOutput`) to
  *   attribute-mismatch errors when many re-aliased copies of the
  *   fragment appear in one consumer plan.
  */
private[graft] final class KeyedCache(persistEntries: Boolean = true) {
  import KeyedCache.CacheSlots

  private val m = new java.util.LinkedHashMap[
    (Int, String, Int),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]()

  def getOrBuild(df: DataFrame, col: String, param: Int)(build: => DataFrame): DataFrame =
    m.synchronized {
      val plan = df.queryExecution.logical.canonicalized
      val key = (plan.semanticHash(), col, param)
      // Hit conditions: (a) the plans really are equivalent
      // (sameResult — semanticHash is 32-bit and a silent collision
      // would feed one dataset's index to another operator), and
      // (b) the cached DataFrame's SparkContext is still alive (a
      // stopped-and-recreated session in the same JVM must rebuild,
      // not resurrect dead blocks). Staleness caveat: plans key on
      // PATHS — a run that rewrites a cached input in place should
      // clear the cache first.
      Option(m.get(key))
        .filter { case (p, cached) =>
          p.sameResult(plan) && !cached.sparkSession.sparkContext.isStopped
        }
        .map(_._2).getOrElse {
        val built =
          if (persistEntries)
            build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else build
        Option(m.put(key, (plan, built))).foreach(e => safeUnpersist(e._2))
        if (m.size > CacheSlots) {
          val it = m.entrySet().iterator()
          val oldest = it.next()
          it.remove()
          safeUnpersist(oldest.getValue._2)
        }
        built
      }
    }

  /** Cache lookup WITHOUT building (same hit conditions as
    * [[getOrBuild]]): lets a composed pipeline choose a cheaper build
    * when the shared index is absent instead of forcing it into being.
    */
  def peek(df: DataFrame, col: String, param: Int): Option[DataFrame] =
    m.synchronized {
      val plan = df.queryExecution.logical.canonicalized
      Option(m.get((plan.semanticHash(), col, param)))
        .filter { case (p, cached) =>
          p.sameResult(plan) && !cached.sparkSession.sparkContext.isStopped
        }
        .map(_._2)
    }

  def clear(): Unit = m.synchronized {
    m.values.forEach(e => safeUnpersist(e._2))
    m.clear()
  }

  // evicted entries may belong to an already-stopped SparkContext: a
  // failed release is logged, never thrown into the caller's lookup
  private def safeUnpersist(df: DataFrame): Unit =
    try {
      df.unpersist(blocking = false)
      // non-persisted entries are localCheckpoint-backed: their data IS
      // the checkpoint RDD's block-manager blocks, which df.unpersist
      // (a no-op on a never-persisted frame) does not touch — release
      // them explicitly or a long-lived driver training many quantizers
      // accumulates storage memory until the entries are GC'd
      if (!persistEntries)
        df.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        KeyedCache.log.warn("could not release an evicted cache entry", e)
    }
}

private[graft] object KeyedCache {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[KeyedCache])

  /** Entry bound. Must EXCEED the largest working set one composed
    * operator builds before executing its final plan: evicting a
    * non-persisted (localCheckpoint-backed) entry releases its block-
    * manager blocks immediately, and a still-lazy plan referencing the
    * evicted frame then fails at execution with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (checkpoint lineage is truncated;
    * the blocks are the only copy). Largest current working set: IVF-PQ's
    * 1 coarse + m subspace trainings (m=4 in the registry) + dedup's
    * shared postings alongside. Operators with a cache-resident working
    * set guard their fit with a require (see Similarity.pqArtifacts /
    * ivfPqTopK).
    */
  val CacheSlots = 16
}
