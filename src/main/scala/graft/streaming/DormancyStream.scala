package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Streaming DORMANCY detection — the online face of
  * [[graft.operators.EventFlow.activityGaps]] /
  * [[graft.operators.EventFlow.churnHazardCurve]]: a user with no
  * activity for an event-time horizon EMITS a `dormant` transition,
  * and their next event emits `reactivated`. This is the one stateful
  * shape the other streams don't exercise: output that originates AT
  * the timeout itself (dedup/funnel/session finalize buffered data at
  * timeout; here the timeout IS the event — nothing arrives, and that
  * nothing is the signal a reactivation campaign triggers on).
  *
  * Semantics: dormancy is stamped `last_seen + horizon` (the moment
  * the inactivity bar was crossed, not the wall-clock moment the
  * watermark got around to firing the timeout) — deterministic under
  * replays and late watermark advances. A dormant user's state stays
  * behind as a tombstone-sized marker with NO further timeout, so the
  * return can be told apart from a brand-new user; marker mass is
  * O(distinct dormant users) — the same bound as any per-user
  * aggregate, and the price of the reactivation signal.
  *
  * Out-of-order safety: `last_seen` is a max-fold over arrivals, so
  * late events inside the watermark only ever extend the deadline;
  * a reactivation is stamped with the batch's EARLIEST event (the
  * moment activity actually resumed). Emission is exactly-once per
  * transition under the checkpointed sink: a replayed micro-batch
  * re-fires the same deterministic transitions into the same epoch.
  *
  * Observation grain: a crossing fires when a BATCH BOUNDARY sees the
  * watermark past the deadline before the user's next data is
  * processed. Under a live trigger that is every crossing (the
  * watermark advances each batch); under a catch-up replay
  * (AvailableNow over a backlog) a dark period whose entirety falls
  * inside one micro-batch of the user's own data collapses — the
  * user never reads as dormant, which matches the batch view of the
  * same history read after the fact. */
object DormancyStream {

  /** Activity shape: who, when. */
  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType)))

  final case class Ev(userId: Long, ts: Timestamp)
  final case class UserState(lastSeen: Long, dormant: Boolean)
  final case class Transition(user_id: Long, kind: String,
      at: Timestamp, last_seen: Timestamp)

  private def onUser(horizonMs: Long)(userId: Long, evs: Iterator[Ev],
      state: GroupState[UserState]): Iterator[Transition] = {
    if (state.hasTimedOut) {
      val s = state.get
      // keep a marker (no further timeout): the next event must read
      // as a RETURN, not a first sighting
      state.update(UserState(s.lastSeen, dormant = true))
      return Iterator.single(Transition(userId, "dormant",
        new Timestamp(s.lastSeen + horizonMs), new Timestamp(s.lastSeen)))
    }
    val batch = evs.toSeq
    val prev = state.getOption
    val earliest = batch.map(_.ts.getTime).min
    val lastSeen = math.max(prev.map(_.lastSeen).getOrElse(Long.MinValue),
      batch.map(_.ts.getTime).max)
    val out =
      if (prev.exists(_.dormant))
        Seq(Transition(userId, "reactivated",
          new Timestamp(earliest), new Timestamp(prev.get.lastSeen)))
      else Seq.empty
    state.update(UserState(lastSeen, dormant = false))
    // newest activity + horizon, clamped above the watermark (Spark
    // rejects a timeout at-or-before it)
    state.setTimeoutTimestamp(
      math.max(lastSeen + horizonMs, state.getCurrentWatermarkMs() + 1))
    out.iterator
  }

  /** Wire the stateful dormancy detector over a watermarked activity
    * frame; exposed so the spec drives the exact production path. */
  def transitions(events: DataFrame, horizonMs: Long): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").as("userId"), col("ts"))
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(onUser(horizonMs))
  }

  /** JSON activity stream → transitions in a [[Sink.parquetLog]]. */
  def start(spark: org.apache.spark.sql.SparkSession, sourceDir: String,
      outDir: String, checkpoint: String, horizonMs: Long = 3600000L,
      late: String = "30 minutes", availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(transitions(
      spark.readStream.schema(schema)
        .option("timestampFormat", SessionStream.TsFormat).json(sourceDir)
        .withWatermark("ts", late), horizonMs),
      outDir, checkpoint, availableNow)

  /** The raw transition log (append: a user oscillating around the
    * horizon legitimately carries many rows). */
  def transitionLog(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame =
    spark.read.schema("user_id LONG, kind STRING, at TIMESTAMP, " +
        "last_seen TIMESTAMP")
      .parquet(outDir)

  /** Users whose LATEST transition is `dormant` — the campaign
    * audience face. Latest by (at, kind): a reactivation stamped at
    * the same instant as a dormancy reads as the later state. The
    * window partitions by user_id — per-entity top-1 scale shape. */
  def currentlyDormant(spark: org.apache.spark.sql.SparkSession,
      outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("at").desc, col("kind").desc)
    transitionLog(spark, outDir)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("kind") === "dormant").drop("_rn")
  }
}
