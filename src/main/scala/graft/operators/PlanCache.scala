package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Caller-managed persistence for operators whose returned plan reads a
  * cached intermediate more than once (LSH banding + verify both scan
  * the hashed documents; the signature feeds both sides of a self-join).
  *
  * The intermediate stays a plain `persist()` (lineage intact,
  * evictable, recomputable) registered here, and the returned plan is
  * lazy and checkpoint-free. Lifetime belongs to the CALLER: loop-style
  * jobs call [[release]] between iterations; one-shot drivers may leave
  * eviction to the LRU block manager, which can always drop these blocks
  * safely precisely because lineage survives. Iterated generations are
  * cut by [[Iterate]]; the ones a caller's lazy frame still reads are
  * freed here too.
  */
object PlanCache {
  private val live = new ConcurrentLinkedQueue[() => Unit]

  /** Persist `df` and track it for a later [[release]]. A plan the
    * cache manager already holds (`storageLevel` is its lookup) is
    * returned as is: a second `persist()` only warns, and a second
    * release closure would drop the entry its first holder owns. */
  def tracked(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else { val c = df.persist(); live.add(() => c.unpersist()); c }

  /** Run `free` at the next [[release]]. */
  private[operators] def onRelease(free: () => Unit): Unit = live.add(free)

  /** Unpersist every tracked intermediate. */
  def release(): Unit =
    Iterator.continually(live.poll()).takeWhile(_ != null).foreach(_())
}
