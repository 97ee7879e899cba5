package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming daily-anomaly monitor — the online face of
  * [[graft.operators.EventFlow.dailyAnomalies]] (q90): per event type,
  * each calendar day's integer-cent value mass finalizes when the
  * watermark passes it, is scored against the PRIOR finalized history
  * of its type, and fires a `value_anomaly` alert when |z| crosses the
  * threshold — data drift caught the day it lands, not at the next
  * batch sweep.
  *
  * Semantics, stated plainly: the batch operator scores every day
  * against ALL days (retrospective); this stream scores each day
  * against the days finalized BEFORE it (online, the only causal
  * option). A day needs ≥ `minHistory` prior days or it only joins the
  * history. The z math is the batch operator's exactly: integer cents
  * and integer moments, variance from (n·Σx² − (Σx)²).
  *
  * Shape: watermarked tumbling-day aggregation in append mode (a day
  * emits once, finalized) → [[Sink.foreachBatch]]: alerts first, then
  * the idempotent history append (anti-join on (type, day), so a replayed
  * batch cannot duplicate a day; a completed batch never re-alerts,
  * and a crash mid-batch re-fires rather than drops — at-least-once
  * alerts) + per-type moment fold (≤ types rows collected —
  * metadata-bounded, the monitor convention) through the pluggable
  * [[Alerts.Sink]]. Days finalized in ONE batch still score per-day:
  * earlier days fold into the moments before later ones score. State
  * is bounded by open days × types under the watermark. */
object AnomalyStream {

  /** Finalized (day, type, cents) rows from a watermarked tumbling-day
    * aggregation — cents are floor(value·100), the tie-free money
    * convention the batch twin uses. */
  def dailyTotals(stream: DataFrame, late: String = "1 day"): DataFrame =
    stream
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      .select(to_date(col("w.start")).as("day"), col("event_type"), col("cents"))

  /** One finalized micro-batch against the history: score each NEW
    * day against the history that preceded IT — including earlier
    * days of the same batch — dispatch the alerts, then append the
    * new (type, day) rows idempotently.
    *
    * Per-DAY granularity regardless of batching: fresh days fold into
    * the running moments in day order, so a from-scratch
    * `Trigger.AvailableNow` run (fresh checkpoint AND fresh history,
    * every day in one batch) scores day k against days 1..k−1 exactly
    * as the day-at-a-time live run would — not against an empty
    * committed history.
    *
    * Ordering contract: alerts dispatch BEFORE the history append.
    * A crash between the two replays the batch (the appended rows
    * never committed, so the anti-join still passes it) and re-fires
    * — alerts are AT-LEAST-ONCE in that crash window, never lost.
    * The old append-first order was silently at-most-once: committed
    * history made the replay a no-op and dropped the alert forever.
    * History rows stay exactly-once either way via the anti-join. */
  private[streaming] def scoreBatch(spark: SparkSession, batch: DataFrame,
      historyDir: String, threshold: Double, minHistory: Int,
      alerts: Alerts.Sink = Alerts.Log): Seq[Alerts.Alert] = {
    val hPath = new org.apache.hadoop.fs.Path(historyDir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val history: Option[DataFrame] =
      if (fs.exists(hPath))
        Some(spark.read.schema("day DATE, event_type STRING, cents LONG")
          .parquet(historyDir))
      else None
    val fresh = history match {
      case Some(h) => batch.join(h.select("day", "event_type"),
        Seq("day", "event_type"), "left_anti")
      case None => batch
    }
    // metadata-bounded: a micro-batch finalizes at most types × days-
    // since-last-trigger rows; day-ordered for the incremental fold
    val freshRows = fresh.select("day", "event_type", "cents").collect()
      .map(r => (r.getDate(0), r.getString(1), r.getLong(2)))
      .sortBy { case (d, t, _) => (d.getTime, t) }
    if (freshRows.isEmpty) return Nil
    // prior moments per type (≤ types rows), then folded forward
    val moments = scala.collection.mutable.Map[String, (Long, Long, BigInt)]()
    history.foreach { h =>
      h.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"), sum(col("cents")).as("sx"),
          sum(col("cents").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            col("cents").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sxx"))
        .collect()
        .foreach(r => moments(r.getString(0)) =
          (r.getLong(1), r.getLong(2), BigInt(r.getDecimal(3).toBigInteger)))
    }
    val fired = freshRows.toSeq.flatMap { case (day, tpe, x) =>
      val alert = moments.get(tpe) match {
        case Some((n, sx, sxx)) if n >= minHistory =>
          // the batch twin's formula on the history SO FAR: sample
          // variance from exact moments, z as the one double step
          val nD = n.toDouble
          val varNum = nD * sxx.toDouble - sx.toDouble * sx.toDouble
          val sd = math.sqrt(varNum / (nD * (nD - 1.0)))
          if (sd > 0 && math.abs((x.toDouble - sx.toDouble / nD) / sd) >= threshold)
            Some(Alerts.Alert("value_anomaly", tpe,
              s"day $day cents $x z=${math.round((x.toDouble - sx.toDouble / nD) / sd * 100) / 100.0}"))
          else None
        case _ => None
      }
      // fold this day in: later same-batch days see it as history
      val (n0, sx0, sxx0) = moments.getOrElse(tpe, (0L, 0L, BigInt(0)))
      moments(tpe) = (n0 + 1, sx0 + x, sxx0 + BigInt(x) * BigInt(x))
      alert
    }
    fired.foreach(alerts.send)
    fresh.write.mode("append").parquet(historyDir)
    fired
  }

  /** JSON event stream → durable daily history + threshold alerts.
    * Restart-safe: the checkpoint replays unfinished batches, and the
    * (type, day) anti-join makes the replay a no-op for HISTORY
    * (exactly-once rows). Alerts are at-least-once: they dispatch
    * before the history append, so a crash between the two re-fires
    * on replay rather than losing the alert (see [[scoreBatch]]). */
  def start(spark: SparkSession, sourceDir: String, historyDir: String,
      checkpoint: String, alerts: Alerts.Sink = Alerts.Log,
      threshold: Double = 2.0, minHistory: Int = 3,
      late: String = "1 day", availableNow: Boolean = true): StreamingQuery =
    startFrom(spark,
      spark.readStream.schema(RateStream.schema)
        .option("timestampFormat", SessionStream.TsFormat).json(sourceDir),
      historyDir, checkpoint, alerts, threshold, minHistory, late, availableNow)

  /** Engine face (the `anomalyMonitor` config opt-in): daily OP-COUNT
    * z-scores over a change-event stream — each op kind plays the
    * event type with unit value, so the daily cent mass is 100·count
    * and the z-score (scale-invariant) is the op-count z-score. This
    * is the delete-storm / update-surge alarm: a day whose op volume
    * breaks from its type's history fires `value_anomaly` while the
    * sibling CDC pipeline keeps applying. Rides the same source;
    * owns only its history + checkpoint. */
  def startChangeEvents(spark: SparkSession, sourceDir: String,
      historyDir: String, checkpoint: String,
      alerts: Alerts.Sink = Alerts.Log, threshold: Double = 2.0,
      minHistory: Int = 3, availableNow: Boolean = true): StreamingQuery =
    startFrom(spark,
      spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("op").as("event_type"), col("ts"), lit(1.0).as("value")),
      historyDir, checkpoint, alerts, threshold, minHistory,
      late = "1 day", availableNow = availableNow)

  /** The CENT-MASS twin of [[startChangeEvents]]: daily value z-scores
    * over the after-image's value (deletes carry zero mass). On a
    * seasonal revenue series this face pages every cycle peak — which
    * is exactly why [[ForecastAnomalyStream.startChangeValues]]
    * exists; keep this one for series without a weekly cycle, where
    * plain z needs no 14-day seasonal warmup. */
  def startChangeValues(spark: SparkSession, sourceDir: String,
      historyDir: String, checkpoint: String,
      alerts: Alerts.Sink = Alerts.Log, threshold: Double = 2.0,
      minHistory: Int = 3, availableNow: Boolean = true): StreamingQuery =
    startFrom(spark,
      spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("op").as("event_type"), col("ts"),
          coalesce(col("after.value"), lit(0.0)).as("value")),
      historyDir, checkpoint, alerts, threshold, minHistory,
      late = "1 day", availableNow = availableNow)

  private def startFrom(spark: SparkSession, stream: DataFrame,
      historyDir: String, checkpoint: String, alerts: Alerts.Sink,
      threshold: Double, minHistory: Int, late: String,
      availableNow: Boolean): StreamingQuery =
    Sink.foreachBatch(dailyTotals(stream, late), checkpoint, availableNow) {
      (batch, _) => scoreBatch(spark, batch, historyDir, threshold, minHistory, alerts)
    }

  /** Read face over the durable daily history. */
  def currentHistory(spark: SparkSession, historyDir: String): DataFrame =
    spark.read.schema("day DATE, event_type STRING, cents LONG")
      .parquet(historyDir)
}
