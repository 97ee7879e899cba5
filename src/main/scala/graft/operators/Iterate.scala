package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place that decides how an iterated DataFrame generation is
  * cut and released.
  *
  * Why cut: Catalyst plans every step, so a loop whose round reads the
  * previous generation MORE THAN ONCE (CC reads it three times: own
  * label, neighbor labels, pointer jump; the truss peel four times; the
  * k-core peel three times) compounds its plan k^rounds — analysis,
  * canonicalization and cache lookup walk that tree, which once turned
  * q281 into seconds of driver planning per round and OOM'd the driver.
  * Each generation is therefore cut with a lazy `localCheckpoint`: the
  * next round plans against a constant-size leaf, and the blocks fill
  * on the first action that reads the generation.
  *
  * The recovery trade: checkpoint blocks are the only copy (executor-
  * local, unreplicated, disk-backed), so a lost executor fails the job
  * instead of recomputing the generation from lineage. That is the
  * standard iterative-graph posture — recomputing an exponentially deep
  * chain was never a real recovery story — and it is why a released
  * generation can never be read again (Spark warns so on every release;
  * [[graft.GraftSession.local]] mutes that one logger, since the release
  * is the intent). The k-core peel takes the same trade: an RDD round
  * trip (`createDataFrame(df.rdd, schema)`) would keep lineage, at a
  * row ser/deser per round and a second policy.
  *
  * Which loops come here: only those that read the previous generation
  * more than once per round. A loop that reads it once (PageRank, LPA,
  * Bellman-Ford, walks, BFS, ANF, the driver-side model loops) grows its
  * plan linearly and keeps a plain `for`: a cut would only add a
  * materialization per round. */
object Iterate {

  /** `n` generations, each `step` of the one before (the first of
    * `init`), every one cut. None is released here: callers return lazy
    * frames that read every generation, so each is freed at the
    * caller's next [[PlanCache.release]]. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): Seq[DataFrame] =
    (1 to n).scanLeft(init) { (g, _) =>
      val gen = cut(step(g))
      PlanCache.onRelease(() => release(gen))
      gen
    }.tail

  /** Steps a cut generation until `key` repeats and returns the first
    * generation whose key equals its predecessor's. Each superseded
    * generation is released once its successor has been probed (the
    * probe materializes it); if anything throws — `step`, `key`, or the
    * non-convergence error after `maxIters` steps — every generation
    * still held is released first. */
  def fixpoint[K](init: DataFrame, maxIters: Int)(key: DataFrame => K)(
      step: DataFrame => DataFrame): DataFrame = {
    var cur = cut(init)
    var next: DataFrame = null
    try {
      var prev = key(cur)
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        next = cut(step(cur))
        val k = key(next)
        release(cur)
        cur = next
        next = null
        converged = k == prev
        prev = k
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"did not converge in $maxIters iterations; raise maxIters")
      cur
    } catch { case e: Throwable => (cur +: Option(next).toSeq).foreach(release); throw e }
  }

  private def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)

  private def release(gen: DataFrame): Unit = gen.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }
}
