package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** A6 — daily counter reset as a streaming windowed aggregation.
  *
  * The reference keeps in-memory per-table counters and resets them at
  * JST midnight (reference pkg/utils/monitor.go daily reset +
  * query_counter.go daily windows). The Spark-native shape is an
  * event-time window aggregation: counts bucket into 1-day windows
  * aligned to JST midnight (UTC 15:00 start offset), and the watermark
  * bounds the aggregation state — a window older than the watermark is
  * finalized and its state dropped, which IS the "reset" (the counter
  * stops existing instead of being zeroed).
  */
object DailyRollup {

  /** JST midnight = 15:00 UTC of the previous day: the window start
    * offset that makes 1-day event-time windows coincide with the
    * reference's JST calendar days (time_utils.go:100-156). */
  val JstDayStartOffset = "15 hours"

  /** Daily per-event-type counts over an event-time stream. Watermark
    * `late` bounds both lateness tolerance and state size. */
  def dailyCounts(stream: DataFrame, late: String = "1 day"): DataFrame =
    stream
      .withWatermark("ts", late)
      .groupBy(
        window(col("ts"), "1 day", "1 day", JstDayStartOffset).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day_start"), col("event_type"), col("n"))

  /** Snapshot face over the update log: update mode appends one row per
    * CHANGED (day, event_type) per trigger, so the memory table is a
    * log, not a snapshot — and a windowed COUNT only ever grows, so the
    * live value per key is `max(n)`. Readers must come through here
    * (selecting the raw table double-counts keys touched by multiple
    * triggers). */
  def currentCounts(spark: SparkSession, queryName: String): DataFrame =
    spark.table(queryName)
      .groupBy(col("day_start"), col("event_type"))
      .agg(max(col("n")).as("n"))

  /** Run the rollup over a file stream of change events into an
    * [[Sink.memoryTable]]. UPDATE mode, deliberately: each trigger emits only
    * the day-windows whose counts changed, and — unlike complete mode,
    * where watermarks never evict aggregation state — a window whose end
    * falls below the watermark is finalized, its state dropped, and late
    * events for it discarded. That eviction IS the daily reset: per-day
    * state is bounded by the lateness horizon, not by stream lifetime. */
  def start(spark: SparkSession, sourceDir: String, queryName: String,
      availableNow: Boolean = true): StreamingQuery =
    Sink.memoryTable(dailyCounts(
      spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("ts"), col("op").as("event_type"))),
      queryName, "update", availableNow)
}
