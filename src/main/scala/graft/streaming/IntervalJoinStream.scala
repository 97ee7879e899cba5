package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Stream-stream event-time INTERVAL join: purchases attributed to the
  * same user's views within a trailing horizon — the online twin of a
  * batch attribution join, and the one Structured Streaming face no
  * other pipeline here exercises: BOTH sides are unbounded, so Spark
  * buffers each side in state and the pair of watermarks plus the
  * time-range condition is what lets it evict — a view older than
  * `purchase_ts − horizon` under the watermark can never match again
  * and is dropped from state. Without the interval bounds the state
  * would grow with the stream; with them it is bounded by
  * horizon + lateness of per-user traffic.
  *
  * Inner-join append semantics: a (view, purchase) pair emits exactly
  * once, when both sides have arrived; results complete once the
  * watermark passes the purchase's time. Late views below the
  * watermark are dropped, never matched retroactively.
  */
object IntervalJoinStream {

  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  /** Micros-preserving JSON ts format (cf. [[SessionStream.TsFormat]]). */
  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** The attribution join over an event stream (or, identically, a
    * batch frame — `withWatermark` is a no-op there, which is exactly
    * the parity contract the spec pins).
    *
    * `joinType` "inner" emits matched pairs only; "rightOuter" (outer
    * on the PURCHASE side) additionally emits every unattributed
    * purchase with null view columns — and can only do so once the
    * watermark proves no on-time view can still match, so the null
    * rows trail the event time by the lateness horizon. That is the
    * "conversion WITHOUT preceding engagement" report, and the second
    * stream-stream mode Spark supports state eviction for. */
  def attributed(events: DataFrame, horizon: String = "1 hour",
      late: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", late)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", late)
    views.join(purchases,
        expr(s"""v_user = p_user
                | AND view_ts >= purchase_ts - interval $horizon
                | AND view_ts <= purchase_ts""".stripMargin), joinType)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_id"), col("view_ts"))
  }

  /** Run over a JSON file stream into an append [[Sink.memoryTable]]. */
  def start(spark: SparkSession, sourceDir: String, queryName: String,
      horizon: String = "1 hour", joinType: String = "inner"): StreamingQuery =
    Sink.memoryTable(attributed(spark.readStream.schema(schema)
        .option("timestampFormat", TsFormat).json(sourceDir), horizon,
      joinType = joinType), queryName, "append", availableNow = false)
}
