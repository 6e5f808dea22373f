package graft

import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** Bounded persist slots for PER-INVOCATION pinned frames (r8).
  *
  * The problem with a bare `df.persist()` inside a query builder: the
  * CacheManager entry outlives the call (a session-lifetime leak, one
  * entry per invocation when the plan is invocation-unique), and when
  * the plan IS identical across invocations the NEXT call silently
  * reads the warm cache — so Bench's timed runs measure a cache scan
  * instead of the work the key advertises (r7 advice on
  * minhashPairs/searchIvf).
  *
  * The fix trade-space: `localCheckpoint` avoids the CacheManager
  * entirely but TRUNCATES the logical plan to an opaque LogicalRDD —
  * plan audits (PlanSpec's join-shape assertions, `.explain` review)
  * lose the subtree, which is the wrong trade for one-shot pins whose
  * plan shape is part of the engine's contract. A persist slot keeps
  * the full plan visible (InMemoryRelation wraps its child plan) and
  * bounds the lifecycle instead: each call REPLACES the slot's
  * previous pin, unpersisting it — so at most one live entry per slot,
  * and every invocation starts cold (honest end-to-end timing).
  *
  * Unpersisting a frame some other in-flight plan still references is
  * safe: Spark recomputes from lineage — correctness never depends on
  * a cache entry, only locality does.
  */
object Pins {
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Persist `df` under `slot`, unpersisting the slot's previous
    * occupant (no-op on the very first call, swallow failures from
    * frames whose session has stopped).
    */
  def repin(slot: String, df: DataFrame): DataFrame = {
    val prev = slots.put(slot, df)
    if (prev != null && (prev ne df)) {
      try prev.unpersist(blocking = false)
      catch { case NonFatal(_) => () }
    }
    df.persist()
  }

  /** Drop every live pin (r11). A slot's entry stays in the
    * CacheManager until the NEXT invocation of its owning key replaces
    * it — and any live entry taxes the DRIVER on every subsequent
    * query compilation in the session (`useCachedData` canonicalizes
    * each new plan's subtrees against each cached plan; measured
    * ~0.5 s of pure planning on self-join-heavy trees). The timing
    * mains call this between keys so no key's sweep reading pays for
    * a pin some EARLIER key left behind; correctness never depends on
    * a cache entry, so clearing mid-session is always safe.
    */
  def clearAll(): Unit = {
    val it = slots.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      val df = slots.remove(k)
      if (df != null) {
        try df.unpersist(blocking = false)
        catch { case NonFatal(_) => () }
      }
    }
  }
}
