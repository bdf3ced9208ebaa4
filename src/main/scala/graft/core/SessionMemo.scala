package graft.core

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one memo for per-session and per-JVM state — loader plans,
  * pinned shared tables, ensure-once layouts and indexes, snapshot
  * manifests, stream ownership checks. One lifecycle for all of them,
  * the way a region server has one block cache every reader goes
  * through:
  *
  *  - an entry is keyed by (owner, name) and carries a stamp. The
  *    owner is a session (its entries are swept once its SparkContext
  *    stops) or none (JVM scope). A lookup whose stamp differs from the
  *    held one REPLACES the entry, so a regenerated input never leaves
  *    its stale generation behind;
  *  - the map only holds cheap slot shells: each slot builds OUTSIDE
  *    the map's bin lock, under its own monitor. Concurrent callers of
  *    one key wait for the one build; a build may look up other keys of
  *    any memo (only a same-key cycle deadlocks — a genuine cycle); a
  *    build that throws caches nothing and the next call retries;
  *  - every dropped value (superseded, swept, evicted, cleared) goes
  *    through `release` once — best-effort hygiene (freeing checkpoint
  *    pins), so a failing release never fails the lookup or the sweep.
  *    Only built values are released: dropping a slot never forces its
  *    build;
  *  - past [[SessionMemo.MaxEntries]] live entries the whole memo
  *    resets (it is a cache: each live key rebuilds on its next use).
  */
final class SessionMemo[V](release: V => Unit = (_: V) => ()) {
  import SessionMemo.Slot

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Slot[V]]()

  def apply(owner: Option[SparkSession], name: String, stamp: String = "")
           (build: => V): V =
    lookup(owner.fold("")(org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID),
      () => owner.forall(!_.sparkContext.isStopped), name, stamp)(build)

  /** [[apply]] with the owner spelled out as an id and a liveness
    * probe (a stopped owner's entries are swept). */
  private[graft] def lookup(ownerId: String, live: () => Boolean, name: String,
                            stamp: String)(build: => V): V = {
    sweep()
    if (slots.size >= SessionMemo.MaxEntries) clear()
    val key = (ownerId, name)
    var superseded: Slot[V] = null
    val slot = slots.compute(key, (_, held) =>
      if (held != null && held.stamp == stamp) held
      else { superseded = held; new Slot(stamp, live, () => build) })
    if (superseded != null) drop(superseded)
    try slot.value
    catch { case e: Throwable => slots.remove(key, slot); throw e }
  }

  /** Drop every entry, any owner, whose name matches — the eviction
    * the sites that replace an entry's underlying files run. */
  def evict(matches: String => Boolean): Unit =
    slots.forEach((k, s) => if (matches(k._2) && slots.remove(k, s)) drop(s))

  /** Drop every entry, one at a time: remove, then release — an entry
    * inserted mid-clear is either removed and released or kept, never
    * removed unreleased. */
  def clear(): Unit = slots.forEach((k, s) => if (slots.remove(k, s)) drop(s))

  /** (owner id, name, stamp) of every held entry — "" is the JVM owner. */
  private[graft] def entries: Seq[(String, String, String)] =
    slots.entrySet.asScala.toSeq.map(e => (e.getKey._1, e.getKey._2, e.getValue.stamp))

  private def sweep(): Unit =
    slots.forEach((k, s) => if (!s.live() && slots.remove(k, s)) drop(s))

  private def drop(s: Slot[V]): Unit =
    s.peek.foreach(v => try release(v) catch { case NonFatal(_) => () })
}

object SessionMemo {
  /** The one size bound every memo shares: entries are plans, pins,
    * manifests of #regions tuples or markers — small each, but a
    * process cycling through unbounded distinct keys must not grow
    * the map forever. */
  val MaxEntries = 1024

  private final class Slot[V](val stamp: String, val live: () => Boolean,
                              build: () => V) {
    private var built: Option[V] = None
    def value: V = synchronized(built.getOrElse { val v = build(); built = Some(v); v })
    def peek: Option[V] = synchronized(built)
  }
}
