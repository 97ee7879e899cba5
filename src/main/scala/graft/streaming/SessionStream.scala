package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Gap sessionization as a STREAMING aggregation — the online twin of
  * [[graft.operators.EventFlow.sessionize]] (q60), via Spark's native
  * `session_window`: per-user windows extend and MERGE as events
  * arrive, and the watermark finalizes a session once event time
  * passes its end plus the lateness horizon — so state is bounded by
  * activity, not stream lifetime.
  *
  * Boundary semantics: `session_window` closes a window at
  * `last_event + gap` EXCLUSIVE, while the batch op breaks strictly
  * after the gap — the two differ only for events exactly `gap` apart
  * (sub-microsecond coincidence on real data; absent from the
  * testdata, asserted by SessionStreamSpec's batch-parity check).
  */
object SessionStream {

  /** Minimal event shape: who, which, when. */
  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ts", TimestampType)))

  /** JSON timestamp format carrying FULL microseconds: Spark's default
    * JSON format truncates to milliseconds, which silently shifts
    * session bounds on sub-millisecond event data. Writers feeding
    * [[start]] must use the same format. */
  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Sessions over an event-time stream. `late` bounds both lateness
    * tolerance and aggregation-state size. */
  def sessions(stream: DataFrame,
      gap: String = s"${graft.operators.EventFlow.DefaultGapHours} hours",
      late: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", late)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .select(col("user_id"), col("n_events"),
        col("session_start"), col("session_end"))

  /** Run over a JSON file stream into a [[Sink.memoryTable]]. APPEND mode —
    * the only mode Spark supports for session-window aggregations, and
    * the right contract anyway: a session row emits exactly once, when
    * the watermark passes its window end (last event + gap), i.e. when
    * no on-time event can extend or merge it. The memory table is
    * therefore a clean append-only list of FINALIZED sessions — no
    * update-log caveat. Events arriving below the watermark are
    * dropped outright; a finalized session is never mutated. Sessions
    * still open when the stream idles emit only after a later event
    * advances the watermark past them. */
  def start(spark: SparkSession, sourceDir: String, queryName: String,
      availableNow: Boolean = true): StreamingQuery =
    Sink.memoryTable(sessions(spark.readStream.schema(schema)
        .option("timestampFormat", TsFormat).json(sourceDir)),
      queryName, "append", availableNow)

  /** Durable twin of [[start]]: finalized sessions land in a
    * [[Sink.parquetLog]], which, unlike the memory table, survives a
    * restart; read results through [[currentSessions]]. */
  def startDurable(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true,
      gap: String = s"${graft.operators.EventFlow.DefaultGapHours} hours",
      late: String = "1 hour"): StreamingQuery =
    Sink.parquetLog(sessions(spark.readStream.schema(schema)
        .option("timestampFormat", TsFormat).json(sourceDir), gap, late),
      outDir, checkpoint, availableNow)

  /** Read face over the durable session log. */
  def currentSessions(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(
        "user_id LONG, n_events LONG, session_start TIMESTAMP, session_end TIMESTAMP")
      .parquet(outDir)

  /** Engine face (the `sessionize` config opt-in): gap sessions of
    * per-KEY activity over a CHANGE-EVENT stream — the entity key plays
    * the user, every op is an activity beat — landed durably like
    * [[startDurable]]. Rides the same source as the sibling CDC
    * pipeline; owns only its log + checkpoint. */
  def startChangeEvents(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(sessions(spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("key").as("user_id"), col("ts"))),
      outDir, checkpoint, availableNow)
}
