package graft.graph

import org.apache.spark.sql.DataFrame

/** Bounded, session-keyed memo of values derived from a query plan: the
  * analogue of the reference's per-session CSR, built once and reused
  * until `delete_csr`. Every plan-keyed cache in graft (the strategy
  * gate's collected columns, the distributed edge index, the MATCH
  * compiler's id maps and uniqueness verdicts) is one of these.
  *
  * Index: (session id, analyzed-plan `semanticHash`, slot). The session
  * id is Spark's never-repeating `sessionUUID`, so a persisted frame is
  * never handed to another session. The slot is compared exactly: a
  * variant name, the gate a verdict was taken under, a key tuple.
  *
  * Proof: the 32-bit hash is only an index, and two plans can collide.
  * Each entry carries [[PathFinder.planIdentity]] (canonicalized plan
  * plus data-snapshot token), and a lookup whose proof differs is a
  * miss. The proof is rendered lazily, on an index hit or a store, so a
  * first-contact miss never pays for it. The token makes an in-place
  * file overwrite a miss even though the re-read canonicalizes
  * identically.
  *
  * Bound: an LRU of `capacity` entries under the instance lock, and
  * optionally of `maxWeight` total `weigh` (the bytes a value pins): the
  * least recently used entries go until both hold, so a value heavier
  * than `maxWeight` on its own is released right after it is stored.
  * `release` runs exactly once on every value the memo lets go of:
  * eviction, displacement by an entry with a different proof, the
  * losing value of a concurrent build, and [[clear]]. Memos of
  * persisted frames unpersist there; a released frame merely recomputes.
  *
  * Conditional caching stays at the call site as a [[get]]/[[put]]
  * pair; [[getOrBuild]] is the common unconditional case. */
private[graft] final class PlanMemo[V](capacity: Int,
    release: V => Unit = (_: V) => (),
    weigh: V => Long = (_: V) => 0L, maxWeight: Long = Long.MaxValue) {

  private val lru =
    new java.util.LinkedHashMap[(String, Int, Any), (String, V)](
      16, 0.75f, true)
  private var hitCount, missCount, buildCount, weightSum = 0L

  PlanMemo.all.add(this)

  def get(id: PlanMemo.Id, slot: Any): Option[V] = synchronized {
    val e = lru.get(id.key(slot))
    if (e != null && e._1 == id.proof) { hitCount += 1; Some(e._2) }
    else { missCount += 1; None }
  }

  /** Stores a freshly built value and returns the one the memo now holds:
    * if an entry with the same proof landed first (a concurrent build),
    * that entry wins and `v` is released — unless `replace`, where `v`
    * supersedes it (a wider value built from a narrower hit). */
  def put(id: PlanMemo.Id, slot: Any, v: V, replace: Boolean = false): V = {
    val proof = id.proof
    synchronized {
      buildCount += 1
      val k = id.key(slot)
      val e = lru.get(k)
      if (e != null && e._1 == proof && !replace) { release(v); e._2 }
      else {
        if (e != null) { weightSum -= weigh(e._2); release(e._2) }
        lru.put(k, (proof, v))
        weightSum += weigh(v)
        val eldest = lru.values.iterator
        while ((lru.size > capacity || weightSum > maxWeight) &&
            eldest.hasNext) {
          val old = eldest.next()._2
          eldest.remove()
          weightSum -= weigh(old)
          release(old)
        }
        v
      }
    }
  }

  def getOrBuild(id: PlanMemo.Id, slot: Any)(build: => V): V =
    get(id, slot).getOrElse(put(id, slot, build))

  def clear(): Unit = synchronized {
    lru.values.forEach(e => release(e._2))
    lru.clear()
    weightSum = 0L
  }

  def size: Int = synchronized(lru.size)
  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  /** Values offered to [[put]], i.e. builds run after a miss. */
  def builds: Long = synchronized(buildCount)
}

private[graft] object PlanMemo {

  /** A frame's memo identity: the index half up front, the proof
    * rendered at most once and only when first needed. */
  final class Id(session: String, hash: Int, renderProof: => String) {
    lazy val proof: String = renderProof
    def key(slot: Any): (String, Int, Any) = (session, hash, slot)
  }

  def id(df: DataFrame): Id =
    new Id(org.apache.spark.sql.graft.SessionId(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), PathFinder.planIdentity(df))

  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[PlanMemo[_]]()

  /** Drops every entry of every memo, releasing what they hold: the
    * refresh hook for sources the snapshot token cannot see (an external
    * system changing data behind an unchanged file listing). */
  def clearAll(): Unit = all.forEach(_.clear())

  /** Entry count over every memo. */
  def entries: Int = {
    var n = 0
    all.forEach(m => n += m.size)
    n
  }
}
