package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark actions: Spark's scheduler
  * happily runs several jobs at once inside one application — actions
  * are only sequential because driver code calls them sequentially.
  * Submitting independent per-slice jobs from a small pool lets one
  * job's straggler tail back-fill with the next job's tasks on a
  * cluster, and on short-stage boards it also overlaps the fixed
  * per-action latency (planning, codegen, stage scheduling) that
  * dominates small inputs.
  *
  * Results return in INPUT order, so callers' assembly stays
  * deterministic regardless of completion order. Each item runs whole
  * on one pool thread (Spark job descriptions/groups are thread-local,
  * so labels set inside `f` stay correct). Width stays modest: enough
  * to fill a straggler tail, not so many that concurrent jobs fight
  * for executor slots. Concurrent first-touch of a shared persisted
  * frame is safe — the block manager's per-block get-or-compute lock
  * makes one job compute a cached block while the others wait.
  *
  * The first failure wins: the call's Spark jobs (one job tag per call)
  * are cancelled and the pool threads interrupted, so no sibling keeps
  * running beside the failed item. */
object Par {
  def mapOrdered[A, B](items: Seq[A], width: Int = 4)(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(width, items.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      try {
        val out = Await.result(Future.sequence(items.map(a => Future {
          sc.foreach(_.addJobTag(tag))
          f(a)
        })), Duration.Inf)
        pool.shutdown()
        out
      } catch {
        case e: Throwable =>
          sc.foreach(_.cancelJobsWithTag(tag))
          pool.shutdownNow()
          throw e
      }
    }
}
