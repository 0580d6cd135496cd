package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import graft.meta.SnapshotCatalog

/** The battery's fixture registry: one map from a fixture's (name, key)
  * to the value its builder made — a committed catalog, a SQL root, a
  * trained model, a session. A fixture is table maintenance done once,
  * so the query that reads it measures the read; the reference's keyed,
  * self-cleaning table cache (`cache_node.py`) applied to fixtures.
  *
  *  - A hit is one lock-free map read. A miss locks only its own entry:
  *    concurrent first callers of one key build it once, and a builder
  *    may call the registry for another key (a nested build).
  *  - [[rooted]] hands its builder one fresh directory, under which the
  *    fixture keeps everything it writes. [[close]] deletes every root
  *    and runs from a JVM shutdown hook, so roots live as long as the
  *    JVM that built them.
  *  - A build that throws deletes its root and leaves no entry: the next
  *    call builds again.
  *
  * A name names one fixture; `key` is what it is built from (an sf-dir,
  * a session, or both). Sessions key by identity.
  */
class Fixtures {
  private final class Entry {
    @volatile var built = false
    var value: Any = _
  }
  private val entries = new ConcurrentHashMap[(String, Any), Entry]()
  private val roots = ConcurrentHashMap.newKeySet[Path]()
  private lazy val closeAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => close(), "graft-fixtures-close"))

  def apply[V](name: String, key: Any)(build: => V): V = {
    val k = (name, key)
    val hit = entries.get(k)
    if (hit != null && hit.built) hit.value.asInstanceOf[V]
    else {
      var e: Entry = null
      // an entry whose build threw is gone from the map: take a fresh one
      while (e == null) {
        val fresh = new Entry
        val cur = Option(entries.putIfAbsent(k, fresh)).getOrElse(fresh)
        cur.synchronized {
          if (!cur.built && (entries.get(k) eq cur)) {
            try { cur.value = build; cur.built = true }
            catch { case t: Throwable => entries.remove(k, cur); throw t }
          }
          if (cur.built) e = cur
        }
      }
      e.value.asInstanceOf[V]
    }
  }

  /** A fixture built into its own fresh root directory (passed to
    * `build` as a path string). */
  def rooted[V](name: String, key: Any)(build: String => V): V =
    apply(name, key) {
      closeAtExit
      val root = Files.createTempDirectory(s"graft-$name-")
      roots.add(root)
      try build(root.toString)
      catch { case t: Throwable =>
        SnapshotCatalog.deleteRecursively(root)
        roots.remove(root)
        throw t
      }
    }

  /** Forget every entry and delete every root this registry created. */
  def close(): Unit = {
    entries.clear()
    roots.removeIf { r => SnapshotCatalog.deleteRecursively(r); true }
  }
}

/** The registry the battery queries share, one per JVM. */
object Fixtures extends Fixtures
