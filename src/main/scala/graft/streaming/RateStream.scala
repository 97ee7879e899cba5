package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}

/** Rolling event-rate monitor as a SLIDING-window streaming
  * aggregation — the online twin of
  * [[graft.operators.EventFlow.rollingRates]] (q96): per event type,
  * the event count and integer-cent value mass of every trailing
  * `width` interval, re-evaluated each `slide` — the burst/velocity
  * feed a rate limiter or anomaly monitor reads continuously.
  *
  * This is the one windowed-aggregation shape the other streams don't
  * exercise: `window(ts, width, slide)` with width > slide, so each
  * event belongs to width/slide OVERLAPPING windows (vs DailyRollup's
  * tumbling day and SessionStream's data-driven session windows).
  * Spark expands the event into its windows BEFORE the aggregation —
  * state is (windows-per-event × open-window × type) rows, bounded by
  * the watermark finalizing windows as event time passes their end.
  *
  * Append mode: a window row emits exactly once, when the watermark
  * passes its end + nothing on-time can still land in it — the sink
  * is a clean append-only log of FINALIZED windows.
  */
object RateStream {

  /** Minimal rate-feed shape: what kind, when, how much. */
  val schema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  /** Per-(window, type) rolling rates. `width`/`slide` define the
    * overlap (4× at the defaults); `late` bounds lateness tolerance
    * and, with the watermark, open-window state size. Cents are
    * `floor(value·100)` — the q96/dailyAnomalies tie-free convention,
    * summed as exact longs. */
  def rates(stream: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes", late: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("cents"))

  /** JSON file stream → [[Sink.memoryTable]] of finalized windows (test /
    * inspection face). */
  def start(spark: SparkSession, sourceDir: String, queryName: String,
      width: String = "1 hour", slide: String = "15 minutes",
      late: String = "1 hour"): StreamingQuery =
    Sink.memoryTable(rates(spark.readStream.schema(schema)
        .option("timestampFormat", SessionStream.TsFormat).json(sourceDir),
      width, slide, late), queryName, "append", availableNow = false)

  /** Durable face: finalized windows land in a [[Sink.parquetLog]]. */
  def startDurable(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, width: String = "1 hour",
      slide: String = "15 minutes", late: String = "1 hour"): StreamingQuery =
    Sink.parquetLog(rates(spark.readStream.schema(schema)
        .option("timestampFormat", SessionStream.TsFormat).json(sourceDir),
      width, slide, late), outDir, checkpoint, availableNow = false)

  /** Read face over the durable window log. */
  def currentRates(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema("window_start TIMESTAMP, window_end TIMESTAMP, " +
        "event_type STRING, n_events LONG, cents LONG")
      .parquet(outDir)

  /** Engine face (the `rateMonitor` config opt-in): per-OP sliding
    * rates over a CHANGE-EVENT stream — each op kind plays the event
    * type, so the log reads "N updates / M deletes in every trailing
    * hour, per 15 min" — the op-mix velocity feed that surfaces an
    * update storm or delete surge while it is happening. Op events
    * carry no monetary value; `cents` is identically 0 on this face.
    * Rides the same source as the sibling CDC pipeline; owns only its
    * log + checkpoint. */
  def startChangeEvents(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(rates(spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("op").as("event_type"), col("ts"), lit(0.0).as("value"))),
      outDir, checkpoint, availableNow)
}
