package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Build and reload counters of the shared indexes, per label. A build is
  * recorded only by [[SessionCache]] when a build really runs, and a
  * reload only when [[IndexStore]] serves a persisted copy instead, so a
  * concurrency soak (CacheSoakSpec) can assert that N racing consumers on
  * one session produce ONE build per index, and CrossSessionIndexSpec
  * that a second session reloads without building. */
object CacheStats {
  private val builds = new ConcurrentHashMap[String, AtomicLong]()
  private val reloads = new ConcurrentHashMap[String, AtomicLong]()

  private def bump(m: ConcurrentHashMap[String, AtomicLong], label: String): Unit =
    m.computeIfAbsent(label, _ => new AtomicLong).incrementAndGet()
  private def count(m: ConcurrentHashMap[String, AtomicLong], label: String): Long = {
    val c = m.get(label)
    if (c == null) 0L else c.get()
  }

  private[queries] def recordBuild(label: String): Unit = bump(builds, label)
  private[queries] def recordReload(label: String): Unit = bump(reloads, label)

  private[graft] def buildCount(label: String): Long = count(builds, label)
  private[graft] def reloadCount(label: String): Long = count(reloads, label)
}
