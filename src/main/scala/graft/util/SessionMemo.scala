package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one store for session-lived operator state (resolved table
  * frames, IVF indexes, checkpointed dedup frames, bucketed tables),
  * keyed by (session by reference, slot, key) and held until [[clear]].
  *
  * Builds nest (IVF mass → index frame → index path → k-means model),
  * and a nested `ConcurrentHashMap.computeIfAbsent` throws "Recursive
  * update". So the map only inserts an empty holder and the build runs
  * under the holder's lock: a second caller waits instead of building
  * twice (which would leak a temp directory or a catalog table), and a
  * build that throws leaves no entry.
  */
object SessionMemo {

  /** One typed kind of entry of `owner` (the module that clears it),
    * with the release that frees a value. Slots compare by reference. */
  final class Slot[K, V](val owner: AnyRef,
      val release: (SparkSession, V) => Unit = (_: SparkSession, _: V) => ())

  private final class Entry {
    @volatile var value: Option[Any] = None // written once, on success
  }

  private val store =
    new ConcurrentHashMap[(SparkSession, Slot[_, _], Any), Entry]()

  /** The value under `key`, built by `build` on first use. */
  def apply[K, V](s: SparkSession, slot: Slot[K, V], key: K)(build: => V): V = {
    val k = (s, slot, key)
    var out: Option[Any] = None
    while (out.isEmpty) {
      val e = store.computeIfAbsent(k, _ => new Entry)
      e.synchronized {
        // a holder that a failed build or a clear took out is stale:
        // go round and insert a fresh one
        if (store.get(k) eq e) {
          if (e.value.isEmpty) {
            try e.value = Some(build)
            finally if (e.value.isEmpty) store.remove(k, e)
          }
          out = e.value
        }
      }
    }
    out.get.asInstanceOf[V]
  }

  /** The finished value under `key`, if any; never builds. */
  def get[K, V](s: SparkSession, slot: Slot[K, V], key: K): Option[V] =
    Option(store.get((s, slot, key))).flatMap(_.value).map(_.asInstanceOf[V])

  /** Stores `v` under `key`, releasing the finished value it replaces. */
  def put[K, V](s: SparkSession, slot: Slot[K, V], key: K, v: V): Unit = {
    val e = new Entry
    e.value = Some(v)
    Option(store.put((s, slot, key), e)).flatMap(_.value)
      .foreach(old => slot.release(s, old.asInstanceOf[V]))
  }

  /** Releases and removes every finished entry of `s`. An entry still
    * building stays until a later clear. */
  def clear(s: SparkSession): Unit = clearWhere(s, _ => true)

  /** [[clear]] restricted to the slots of one owner. */
  def clear(s: SparkSession, owner: AnyRef): Unit = clearWhere(s, _ eq owner)

  private def clearWhere(s: SparkSession, owned: AnyRef => Boolean): Unit =
    store.asScala.toList.foreach { case (k @ (ks, slot, _), e) =>
      // remove(k, e) succeeds once, so each release runs exactly once
      if ((ks eq s) && owned(slot.owner) && e.value.isDefined &&
          store.remove(k, e))
        slot.asInstanceOf[Slot[Any, Any]].release(s, e.value.get)
    }

  /** (owner, key) of every entry of `s`, finished or building. */
  private[graft] def keys(s: SparkSession): Seq[(AnyRef, Any)] =
    store.keySet.asScala.toSeq.collect {
      case (ks, slot, key) if ks eq s => (slot.owner, key)
    }
}
