package graft.meta

import java.util.concurrent.atomic.AtomicReference

/** A catalog clock that runs one armed action inside the next publish.
  * `SnapshotCatalog` reads its clock inside every publish attempt, after
  * the attempt has resolved its parent and before it writes the new
  * snapshot. An action that lands a commit from a second catalog
  * instance on the same root therefore takes the attempt's snapshot id,
  * and the writer retries exactly once, on top of that commit.
  *
  * {{{
  * val race = new PublishRace
  * val cat = new SnapshotCatalog(root, race.clock)
  * race.arm { Writers.compact(spark, new SnapshotCatalog(root), "t", dir) }
  * Writers.writeSnapshot(cat, "t", df, dir) // publishes after the compaction
  * }}}
  */
final class PublishRace {
  private val armed = new AtomicReference[() => Unit]()

  /** The clock to give the racing catalog. */
  val clock: () => Long = () => {
    val action = armed.getAndSet(null)
    if (action != null) action()
    System.currentTimeMillis()
  }

  /** Run `action` once, at the next clock read. */
  def arm(action: => Unit): Unit = armed.set(() => action)

  /** Whether the armed action has run. */
  def fired: Boolean = armed.get() == null
}
