package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming metrics sink (W9/A4/A5): a StreamingQueryListener replaces
  * the reference's in-memory counters + SQLite `monitoring_log` /
  * `changestream_statistics` upserts (reference
  * pkg/utils/monitor.go:96-110, 707-836). Progress rows append to a
  * parquet metrics table; the monitoring queries (trend, rollup) read
  * it like any other table.
  */
object Metrics {

  final case class ProgressRow(ts: String, query: String, batchId: Long,
      numInputRows: Long, procRowsPerSec: Double)

  /** Buffering listener; flush() appends to the metrics table. Spark
    * invokes listeners asynchronously, so rows buffer in a concurrent
    * queue (the reference's accumulate-then-upsert, monitor.go:96-110). */
  final class Recorder(spark: SparkSession, metricsDir: String) extends StreamingQueryListener {
    private val buf = new ConcurrentLinkedQueue[ProgressRow]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      buf.add(ProgressRow(e.progress.timestamp, e.progress.name,
        e.progress.batchId, e.progress.numInputRows,
        Option(e.progress.processedRowsPerSecond).getOrElse(0.0)))

    def flush(): Long = {
      import spark.implicits._
      val rows = Iterator.continually(buf.poll()).takeWhile(_ != null).toSeq
      if (rows.nonEmpty)
        rows.toDF().write.mode(SaveMode.Append).parquet(metricsDir)
      rows.size.toLong
    }
  }

  /** A4: per-query stream-stats rollup over the metrics table
    * (monitor_handler.go:399-455). */
  def streamStatsRollup(spark: SparkSession, metricsDir: String): DataFrame =
    spark.read.parquet(metricsDir)
      .groupBy(col("query"))
      .agg(
        sum(col("numInputRows")).as("rows_received"),
        max(col("batchId")).as("last_batch"),
        count(lit(1)).as("n_batches"),
        round(avg(col("procRowsPerSec")), 2).as("avg_rows_per_sec"))

  // --- A5: accumulating per-stream op counters --------------------------
  // The reference's AccumulateChangeStreamActivity (monitor.go:96-110)
  // keeps in-memory `+=` counters per change stream, by op kind, for the
  // monitoring UI. The Spark-native shape is a stateful streaming
  // aggregation in update mode: running totals per (table, op) maintained
  // by the engine's aggregation state, exactly-once across restarts when
  // checkpointed. State size is |tables| x |op kinds| — a few rows per
  // stream regardless of data volume, so no watermark is needed (unlike
  // the day-windowed A6 rollup, nothing here grows with time).

  /** Running totals per (table, op) over a change stream. */
  def opCounters(stream: DataFrame): DataFrame =
    stream
      .groupBy(col("sourceTable").as("table_name"), col("op"))
      .agg(count(lit(1)).as("n"))

  /** Run the accumulating counters over a file stream of change events
    * into a [[Sink.memoryTable]]. Update mode: each trigger emits only the
    * (table, op) rows whose totals changed, so the memory table is an
    * update LOG — read it through [[currentOpCounters]]. */
  def startOpCounters(spark: SparkSession, sourceDir: String, queryName: String,
      availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery =
    Sink.memoryTable(
      opCounters(spark.readStream.schema(ChangeEvents.schema).json(sourceDir)),
      queryName, "update", availableNow)

  /** Snapshot face over [[startOpCounters]]'s update log: a running
    * COUNT only ever grows, so the live value per key is `max(n)`. */
  def currentOpCounters(spark: SparkSession, queryName: String): DataFrame =
    spark.table(queryName)
      .groupBy(col("table_name"), col("op"))
      .agg(max(col("n")).as("n"))
}
