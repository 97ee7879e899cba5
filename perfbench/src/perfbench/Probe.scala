package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: workload → batch, request or query → Spark job.
  * Times are epoch nanoseconds so they line up with listener events. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
  def contains(t: Long): Boolean = t >= start && t <= end
}

final case class Job(id: Int, start: Long, end: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

final case class Planning(start: Long, driverMs: Double)

final class Tracer {

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def now(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Int)] // (span id, trace id)
  private var nextId = 1

  /** Record a span around `body`, nested under the innermost open one. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val (parent, trace) = stack.headOption.map { case (p, t) => (p, t) }.getOrElse((0, id))
    stack = (id, trace) :: stack
    val t0 = now()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, trace, name, t0, now())
    }
  }

  /** Add a span whose times were measured elsewhere (a micro-batch from
    * streaming progress, a job from the listener). */
  def add(name: String, parent: Span, start: Long, end: Long): Span = {
    val s = Span(nextId, parent.id, parent.trace, name, start, end)
    nextId += 1; spans += s; s
  }

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  /** Duration minus the union of the children's intervals. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k =>
      (math.max(k.start, s.start), math.min(k.end, s.end))).filter(k => k._2 > k._1)
      .sortBy(_._1)
    var covered = 0L; var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered) / 1e6
  }

  def toJson: String = spans.sortBy(_.id).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""").mkString("[\n", ",\n", "\n]\n")
}

/** One SparkListener plus one QueryExecutionListener: job times, task
  * metrics per job, and driver-side planning time per execution. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val taskAgg = scala.collection.mutable.Map.empty[Int, Array[Long]]
  private val doneJobs = ArrayBuffer.empty[Job]
  private val plannings = ArrayBuffer.empty[Planning]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time * 1000000L
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val a = taskAgg.getOrElseUpdate(j, new Array[Long](4))
      a(0) += m.executorRunTime; a(1) += m.jvmGCTime
      a(2) += m.shuffleWriteMetrics.bytesWritten
      a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val a = taskAgg.remove(e.jobId).getOrElse(new Array[Long](4))
    doneJobs += Job(e.jobId, jobStart.remove(e.jobId).getOrElse(e.time * 1000000L),
      e.time * 1000000L, a(0), a(1), a(2), a(3))
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) synchronized {
      plannings += Planning(phases.values.map(_.startTimeMs).min * 1000000L,
        phases.values.map(_.durationMs).sum.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def jobs: Seq[Job] = synchronized(doneJobs.toSeq)
  def jobsIn(s: Span): Seq[Job] = jobs.filter(j => s.contains(j.start))
  def driverMsIn(s: Span): Double =
    synchronized(plannings.toSeq).filter(p => s.contains(p.start)).map(_.driverMs).sum

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detach after the listener bus has caught up with what was posted. */
  def detach(spark: SparkSession): Unit = {
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Job spans under the innermost span containing each job's start. */
  def jobSpans(t: Tracer): Unit = {
    val parents = t.spans.toSeq
    jobs.foreach { j =>
      val inner = parents.filter(_.contains(j.start)).sortBy(-_.start).headOption
      inner.foreach(p => t.add(s"spark.job", p, j.start, math.max(j.end, j.start)))
    }
  }
}
