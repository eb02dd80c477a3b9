package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** A per-session memo: session -> key -> (fingerprint, value).
  *
  * The one mechanism behind every session-lifetime reuse of an intermediate
  * result (the shared tf relation, the pack-encode offsets, refined
  * centroids, learned BPE merge tables, the parquet schema catalog):
  *  - sessions are keys by identity, held weakly: the memo itself never
  *    pins a session;
  *  - a value is served only while its input fingerprint (a `len|mtime`
  *    stat, [[Tables.fingerprint]]) is unchanged; a moved fingerprint
  *    rebuilds, and `release` runs on the replaced value before the
  *    rebuild (`Dataset.unpersist` uncaches by plan `sameResult`, so
  *    releasing after would drop the fresh relation as well);
  *  - each key builds at most once at a time: concurrent callers of one key
  *    wait for its single build, while other keys build in parallel (the
  *    lock is per key, never held across the whole memo). A build may call
  *    the memo for another key on the same thread;
  *  - a `None` fingerprint (a non-file relation, an unstat-able path)
  *    bypasses the memo: the value is built and not kept.
  *
  * Hits, misses and completed builds are counted per session ([[stats]]).
  */
final class SessionMemo[K, V](release: V => Unit = (_: V) => ()) {

  private final class Slot {
    var fingerprint: String = _
    var value: Option[V] = None
  }

  private final class PerSession {
    val slots = new ConcurrentHashMap[K, Slot]()
    val hits, misses, builds = new AtomicLong()
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, PerSession]()

  private def perSession(s: SparkSession): PerSession = sessions.synchronized {
    sessions.computeIfAbsent(s, _ => new PerSession)
  }

  def apply(s: SparkSession, key: K, fingerprint: Option[String])(build: => V): V =
    fingerprint match {
      case None => build
      case Some(fp) =>
        val p = perSession(s)
        val slot = p.slots.computeIfAbsent(key, _ => new Slot)
        slot.synchronized {
          slot.value match {
            case Some(v) if slot.fingerprint == fp =>
              p.hits.incrementAndGet()
              v
            case stale =>
              p.misses.incrementAndGet()
              slot.value = None
              stale.foreach(release)
              val v = build
              slot.fingerprint = fp
              slot.value = Some(v)
              p.builds.incrementAndGet()
              v
          }
        }
    }

  def stats(s: SparkSession): SessionMemo.Stats = {
    val p = perSession(s)
    SessionMemo.Stats(p.hits.get, p.misses.get, p.builds.get)
  }
}

object SessionMemo {

  final case class Stats(hits: Long, misses: Long, builds: Long)

  /** Input bytes a session-pinned relation may be built from: advisory
    * partition size x shuffle width x 4, the in-memory expansion of
    * parquet input that [[Par.sizedCount]] uses. 8 GiB of input at the
    * local defaults (64 MB x 32 x 4), terabytes on a wide cluster. A corpus
    * over budget gets no session-pinned copy: its consumers recompute from
    * the table, and the persisted stores are the scale answer.
    */
  def inputBudget(s: SparkSession): Long = {
    val conf = s.sessionState.conf
    conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) *
      conf.numShufflePartitions * 4
  }
}
