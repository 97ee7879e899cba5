package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Dead-letter queue shared by every streaming pillar (ST10) — the
  * generic half of the reference's processDeadLetterBatch
  * (reference mongodb.go:1876-1969), parameterized by the pillar's
  * event schema and idempotent apply function so the CDC and KV
  * pipelines park and retry batches identically.
  *
  * Layout: one `batch_N` directory per failed micro-batch (JSON, the
  * events plus dlq_batch_id/dlq_error/dlq_retry_count columns);
  * `batch_N.tmp` is the atomic-rewrite window; `parked_N` holds
  * batches that exhausted their attempts — retained for manual
  * replay, invisible to retry passes.
  */
object Dlq {

  /** Outcome of one retry pass: batches re-applied successfully (and
    * deleted), batches that failed again (retry count bumped), and
    * batches parked for good (attempts exhausted). */
  final case class Stats(succeeded: Long = 0, failed: Long = 0, parked: Long = 0)

  def batchDir(dlqDir: String, batchId: Long): String = s"$dlqDir/batch_$batchId"

  private def dlqSchema(base: StructType): StructType = base
    .add("dlq_batch_id", LongType).add("dlq_error", StringType)
    .add("dlq_retry_count", IntegerType)

  /** Park one failed micro-batch. One directory per batch (the
    * reference parks one file per batch) so a successful retry can
    * delete it atomically; overwrite keeps a re-delivered batchId
    * idempotent. The stream COMMITS the batch afterwards — a DLQ'd
    * batch counts as processed (mongodb.go:1302-1307). */
  def park(batch: DataFrame, batchId: Long, error: Exception, dlqDir: String): Unit =
    batch.withColumn("dlq_batch_id", lit(batchId))
      .withColumn("dlq_error", lit(error.getMessage))
      .withColumn("dlq_retry_count", lit(0))
      .write.mode(SaveMode.Overwrite).json(batchDir(dlqDir, batchId))

  /** The pillars' [[Sink.foreachBatch]] function: `apply` the batch,
    * or [[park]] it when `apply` throws. */
  def applyOrPark(dlqDir: String)(apply: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      try apply(batch)
      catch { case e: Exception => park(batch, batchId, e, dlqDir) }

  /** True when the DLQ holds batches a [[retry]] pass would touch
    * (pending `batch_N` dirs or recoverable `.tmp` orphans; permanently
    * `parked_*` batches don't count). */
  def hasPendingBatches(spark: SparkSession, dlqDir: String): Boolean = {
    val p = new Path(dlqDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.matches("""batch_\d+(\.tmp)?"""))
  }

  /** One retry pass over the parked batches in batch-id (offset) order.
    * Per batch: skip when `dlq_retry_count` has reached `maxAttempts`
    * (parked for good — renamed `parked_N`, ONE alert for the pass);
    * otherwise re-apply via the pillar's idempotent `apply`, DELETE the
    * batch dir on success, or rewrite it with the retry count bumped
    * (tmp-dir + atomic swap so a crash mid-rewrite never loses events).
    *
    * Concurrency contract: run only when the pipeline's own stream is
    * NOT applying batches (drained, stopped, or before start) — the
    * retry merge and the live foreachBatch merge on the same buckets
    * would race. [[graft.engine.GraftEngine]]'s sweep stops the
    * pipeline first and lets the reconcile restart it. */
  def retry(spark: SparkSession, dlqDir: String, eventSchema: StructType,
      maxAttempts: Int, apply: DataFrame => Unit,
      alerts: Alerts.Sink = Alerts.Log): Stats = {
    val dlqPath = new Path(dlqDir)
    val fs = dlqPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dlqPath)) return Stats()
    // Recover from a crash inside the tmp-swap window below: a
    // `batch_N.tmp` whose `batch_N` is gone holds the only copy of the
    // parked events (the crash hit between delete and rename) — rename
    // it back; one whose `batch_N` survived is a stale duplicate — drop
    // it. Without this sweep a single orphan would also poison the
    // numeric sort on every later pass.
    val entries = fs.listStatus(dlqPath).toSeq.filter(_.isDirectory)
    entries.filter(_.getPath.getName.matches("""batch_\d+\.tmp""")).foreach { st =>
      val original = new Path(dlqPath, st.getPath.getName.stripSuffix(".tmp"))
      if (fs.exists(original)) fs.delete(st.getPath, true)
      else fs.rename(st.getPath, original)
    }
    val batchDirs = fs.listStatus(dlqPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("""batch_\d+"""))
      .sortBy(_.getPath.getName.stripPrefix("batch_").toLong)
    var stats = Stats()
    batchDirs.foreach { st =>
      val dir = st.getPath
      val parked = spark.read.schema(dlqSchema(eventSchema)).json(dir.toString)
      val attempts = parked.agg(max(col("dlq_retry_count"))).head() match {
        case r if r.isNullAt(0) => 0
        case r => r.getInt(0)
      }
      if (attempts >= maxAttempts) {
        // park for good under a name later passes IGNORE: the batch's
        // data is retained for manual replay, but it no longer costs a
        // Spark read per pass and the park alert fires exactly once
        // (a pager sink must not receive the same park every 10 s).
        // The destination must not pre-exist (batch ids restart after a
        // checkpoint reset; rename INTO an existing dir would nest) —
        // probe for a free name, and on a failed rename leave the batch
        // in place (degraded re-alerts, never corruption).
        val idx = dir.getName.stripPrefix("batch_")
        var dest = new Path(dlqPath, s"parked_$idx")
        var j = 1
        while (fs.exists(dest)) { dest = new Path(dlqPath, s"parked_${idx}_$j"); j += 1 }
        if (fs.rename(dir, dest)) stats = stats.copy(parked = stats.parked + 1)
        else {
          // persistent rename failure (permissions?): the operator must
          // still be paged about the dead batch, every pass, until fixed
          alerts.send(Alerts.Alert("dlq_park_failed", dir.toString,
            s"exhausted batch could not be renamed to $dest"))
          stats = stats.copy(failed = stats.failed + 1)
        }
      } else {
        val events = parked.drop("dlq_batch_id", "dlq_error", "dlq_retry_count")
        try {
          apply(events)
          fs.delete(dir, true) // consumed — the DLQ must not re-apply it
          stats = stats.copy(succeeded = stats.succeeded + 1)
        } catch {
          case e: Exception =>
            // failed again: bump the count via tmp-dir + atomic swap so a
            // crash mid-rewrite never loses the parked events
            val tmp = new Path(dir.getParent, dir.getName + ".tmp")
            parked.withColumn("dlq_retry_count", lit(attempts + 1))
              .withColumn("dlq_error", lit(e.getMessage))
              .write.mode(SaveMode.Overwrite).json(tmp.toString)
            fs.delete(dir, true)
            fs.rename(tmp, dir)
            stats = stats.copy(failed = stats.failed + 1)
        }
      }
    }
    if (stats.parked > 0)
      alerts.send(Alerts.Alert("dlq_parked", dlqDir,
        s"${stats.parked} batch(es) parked after $maxAttempts attempts"))
    stats
  }
}
