package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Streaming conversion funnel — the online face of
  * [[graft.operators.EventFlow.conversionFunnel]]: per user, the
  * ordered signup → view → purchase progression, finalized when the
  * user goes IDLE past an event-time horizon (the per-entity
  * state-machine pattern the other stateful streams don't exercise —
  * dedup keys buckets, sessions key gaps; this keys a user journey).
  *
  * Out-of-order safety: stage timestamps are MIN-based (first signup,
  * first view at-or-after it, first purchase at-or-after that), so the
  * fold over the buffered events needs no ordering — a late event
  * inside the horizon lands in the buffer and the finalize computes
  * the same mins the batch operator computes. Events are deduped on
  * (type, ts) in state, which makes a replayed micro-batch a no-op
  * (and is semantically free under min folds). State per user is the
  * horizon's worth of distinct (type, ts) pairs, evicted at timeout —
  * bounded by activity rate × horizon, never stream lifetime.
  */
object FunnelStream {

  /** Clickstream shape: who, what, when. */
  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType)))

  final case class Ev(userId: Long, eventType: String, ts: Timestamp)
  final case class Journey(events: Seq[Ev])
  final case class FunnelRow(user_id: Long, signup_ts: Option[Timestamp],
      view_ts: Option[Timestamp], purchase_ts: Option[Timestamp], stage: Int)

  /** The batch operator's stage semantics, as min folds. */
  private[graft] def finalizeJourney(userId: Long, evs: Seq[Ev]): FunnelRow = {
    def minTs(tpe: String, atOrAfter: Option[Timestamp]): Option[Timestamp] = {
      val ok = evs.filter(e => e.eventType == tpe &&
        atOrAfter.forall(t => !e.ts.before(t))).map(_.ts)
      if (ok.isEmpty) None else Some(ok.min(Ordering.by((t: Timestamp) => t.getTime)))
    }
    val t0 = minTs("signup", None)
    val t1 = t0.flatMap(t => minTs("view", Some(t)))
    val t2 = t1.flatMap(t => minTs("purchase", Some(t)))
    FunnelRow(userId, t0, t1, t2,
      if (t2.isDefined) 3 else if (t1.isDefined) 2 else if (t0.isDefined) 1 else 0)
  }

  private def onUser(horizonMs: Long)(userId: Long, evs: Iterator[Ev],
      state: GroupState[Journey]): Iterator[FunnelRow] = {
    if (state.hasTimedOut) {
      val row = finalizeJourney(userId, state.get.events)
      state.remove()
      return Iterator.single(row)
    }
    var events = state.getOption.map(_.events).getOrElse(Seq.empty)
    evs.foreach { e =>
      if (!events.exists(x => x.eventType == e.eventType && x.ts == e.ts))
        events = events :+ e
    }
    state.update(Journey(events))
    val maxTs = events.map(_.ts.getTime).max
    // newest activity + horizon, clamped above the watermark (Spark
    // rejects a timeout at-or-before it)
    state.setTimeoutTimestamp(
      math.max(maxTs + horizonMs, state.getCurrentWatermarkMs() + 1))
    Iterator.empty
  }

  /** Wire the stateful funnel over a watermarked event frame; exposed
    * so the spec can drive the exact production code path. */
  def journeys(events: DataFrame, horizonMs: Long): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as("userId"), col("event_type").as("eventType"),
        col("ts"))
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(onUser(horizonMs))
  }

  /** JSON clickstream → finalized journeys in a [[Sink.parquetLog]]. */
  def start(spark: org.apache.spark.sql.SparkSession, sourceDir: String,
      outDir: String, checkpoint: String, horizonMs: Long = 3600000L,
      late: String = "30 minutes", availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(journeys(
      spark.readStream.schema(schema)
        .option("timestampFormat", SessionStream.TsFormat).json(sourceDir)
        .withWatermark("ts", late), horizonMs),
      outDir, checkpoint, availableNow)

  /** Read face over the durable journey log — the APPEND log: a user
    * who re-activates after their journey finalized and its state
    * evicted starts a FRESH journey and eventually appends a second
    * row for the same user_id (by design — the horizon bounds state,
    * so pre-eviction history is gone and the log records one row per
    * finalized journey, not per user). Downstream reads that need
    * one-row-per-user semantics use [[latestJourneys]]. */
  def currentJourneys(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    spark.read.schema("user_id LONG, signup_ts TIMESTAMP, " +
        "view_ts TIMESTAMP, purchase_ts TIMESTAMP, stage INT")
      .parquet(outDir)

  /** Latest-per-user face over the journey log: the most recent
    * finalized journey wins (newest signup_ts, nulls-last, purchase/
    * view as tie-breaks for same-signup re-emits) — the safe frame
    * for one-row-per-user consumers. The window partitions by
    * user_id: scale-shaped like every per-entity top-1 (one shuffle,
    * TopK-fused by the engine's rewrite rule). */
  def latestJourneys(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("signup_ts").desc_nulls_last, col("purchase_ts").desc_nulls_last,
        col("view_ts").desc_nulls_last, col("stage").desc)
    currentJourneys(spark, outDir)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }
}
