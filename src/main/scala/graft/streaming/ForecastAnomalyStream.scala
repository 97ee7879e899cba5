package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** SEASONALITY-AWARE streaming anomaly monitor — [[AnomalyStream]]'s
  * plain causal z pages on every weekly-cycle peak (a Friday spike is
  * "anomalous" against a Monday-to-Thursday-heavy history even when it
  * happens every Friday; q155 showed the batch face of this failure).
  * This stream scores each finalized day against its ONE-STEP
  * HOLT-WINTERS FORECAST instead: the residual x − (level + h·trend +
  * seasonal[dow]) is what's left after the level, drift, and weekly
  * cycle are explained, and only a residual that breaks from the
  * RESIDUAL history's own moments fires `forecast_anomaly` — the
  * expected Friday spike is absorbed by the Friday seasonal slot, a
  * Tuesday at Friday volume is not.
  *
  * The HW recursion is q269's exact integer grid
  * ([[ForecastStream.hwStep]] — one shared implementation); residual
  * moments use [[AnomalyStream]]'s exact-integer machinery (BigInt
  * Σr², variance from n·Σr² − (Σr)²). Everything causal: day k's
  * forecast and residual moments come from days 1..k−1 only,
  * including within a single from-scratch AvailableNow batch.
  *
  * Shape: the [[AnomalyStream]] contract verbatim — watermarked
  * tumbling-day totals in append mode → [[Sink.foreachBatch]]: alerts
  * first (at-least-once across the crash window), then the idempotent
  * (type, day) history append (exactly-once rows). Each batch re-folds
  * the HW walk from the durable history — types × calendar-days rows,
  * metadata-bounded by construction, the monitor convention — so no
  * second state store exists to drift from the history. */
object ForecastAnomalyStream {

  /** Per-type replay state: the HW quadruple plus residual moments. */
  private final case class St(lastDay: Long, nDays: Long, lv: Long,
      tr: Long, s: Seq[Long], nRes: Long, sRes: Long, sRes2: BigInt)

  private val Empty = St(Long.MinValue, 0L, 0L, 0L, Seq.fill(7)(0L),
    0L, 0L, BigInt(0))

  /** Fold one (day, cents) into a type's state, returning the new
    * state and the day's residual (None on the founding day, which
    * has no forecast to miss). */
  private def foldDay(st: St, epochDay: Long, x: Long): (St, Option[Long]) = {
    val w = ForecastStream.dowOf(epochDay)
    val residual =
      if (st.nDays == 0L) None
      else {
        val h = epochDay - st.lastDay
        Some(x - (st.lv + h * st.tr + st.s(w)))
      }
    val (lv, tr, s) =
      ForecastStream.hwStep(st.lv, st.tr, st.s, w, x, founding = st.nDays == 0L)
    val next = residual match {
      case Some(r) => St(epochDay, st.nDays + 1, lv, tr, s,
        st.nRes + 1, st.sRes + r, st.sRes2 + BigInt(r) * BigInt(r))
      case None => St(epochDay, st.nDays + 1, lv, tr, s,
        st.nRes, st.sRes, st.sRes2)
    }
    (next, residual)
  }

  /** Score one finalized micro-batch: rebuild each type's HW walk +
    * residual moments from the durable history, then walk the fresh
    * days in order — forecast from the state SO FAR, score the
    * residual against the residual moments SO FAR, alert, fold in.
    * Same ordering contract as [[AnomalyStream.scoreBatch]]: alerts
    * dispatch before the history append (at-least-once alerts,
    * exactly-once history via the (type, day) anti-join). */
  private[streaming] def scoreBatch(spark: SparkSession, batch: DataFrame,
      historyDir: String, threshold: Double, minHistory: Int,
      alerts: Alerts.Sink = Alerts.Log,
      kind: String = "forecast_anomaly"): Seq[Alerts.Alert] = {
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
    val freshRows = fresh.select("day", "event_type", "cents").collect()
      .map(r => (r.getDate(0), r.getString(1), r.getLong(2)))
      .sortBy { case (d, t, _) => (d.getTime, t) }
    if (freshRows.isEmpty) return Nil
    // replay the committed walk: types × days rows, day-ordered
    val states = scala.collection.mutable.Map[String, St]()
    history.foreach { h =>
      h.select("day", "event_type", "cents").collect()
        .map(r => (r.getDate(0), r.getString(1), r.getLong(2)))
        .sortBy { case (d, t, _) => (d.getTime, t) }
        .foreach { case (day, tpe, x) =>
          states(tpe) = foldDay(states.getOrElse(tpe, Empty),
            day.toLocalDate.toEpochDay, x)._1
        }
    }
    val fired = freshRows.toSeq.flatMap { case (day, tpe, x) =>
      val st = states.getOrElse(tpe, Empty)
      val epochDay = day.toLocalDate.toEpochDay
      val (next, residual) = foldDay(st, epochDay, x)
      states(tpe) = next
      residual.filter(_ => st.nRes >= minHistory).flatMap { r =>
        val n = st.nRes.toDouble
        val varNum = n * st.sRes2.toDouble - st.sRes.toDouble * st.sRes.toDouble
        val sd = math.sqrt(varNum / (n * (n - 1.0)))
        val mean = st.sRes.toDouble / n
        if (sd > 0 && math.abs((r.toDouble - mean) / sd) >= threshold)
          Some(Alerts.Alert(kind, tpe,
            s"day $day cents $x residual $r z=" +
              s"${math.round((r.toDouble - mean) / sd * 100) / 100.0}"))
        else None
      }
    }
    fired.foreach(alerts.send)
    fresh.write.mode("append").parquet(historyDir)
    fired
  }

  /** JSON event stream → durable daily history + HW-residual alerts —
    * [[AnomalyStream.start]]'s contract with the seasonal scorer. */
  def start(spark: SparkSession, sourceDir: String, historyDir: String,
      checkpoint: String, alerts: Alerts.Sink = Alerts.Log,
      threshold: Double = 3.0, minHistory: Int = 14,
      late: String = "1 day", availableNow: Boolean = true): StreamingQuery =
    startFrom(spark,
      spark.readStream.schema(RateStream.schema)
        .option("timestampFormat", SessionStream.TsFormat).json(sourceDir),
      historyDir, checkpoint, alerts, threshold, minHistory, late,
      availableNow)

  /** Engine face (the `forecastMonitor` config opt-in): daily
    * OP-COUNT seasonal alarm over a change-event stream — each op
    * kind plays the event type at unit value, so the weekday cycle in
    * CDC volume (the op-log pattern [[AnomalyStream.startChangeEvents]]
    * pages on every week) is absorbed by the seasonal slots and only
    * a genuine volume break fires `forecast_anomaly`. */
  def startChangeEvents(spark: SparkSession, sourceDir: String,
      historyDir: String, checkpoint: String,
      alerts: Alerts.Sink = Alerts.Log, threshold: Double = 3.0,
      minHistory: Int = 14, availableNow: Boolean = true): StreamingQuery =
    startFrom(spark,
      spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("op").as("event_type"), col("ts"), lit(1.0).as("value")),
      historyDir, checkpoint, alerts, threshold, minHistory,
      late = "1 day", availableNow = availableNow)

  /** Engine face #2 (the `valueForecastMonitor` config opt-in): daily
    * CENT-MASS seasonal alarm over a change-event stream — each op
    * kind plays the event type with the after-image's value as the
    * mass (deletes carry no after image → zero mass), so a weekly
    * REVENUE cycle — the exact series the batch q90/q155 family
    * watches — is absorbed by the seasonal slots and only a genuine
    * value break fires `value_forecast_anomaly`. The plain-z value
    * monitor pages every cycle peak on this series; this face is why
    * it no longer has to. */
  def startChangeValues(spark: SparkSession, sourceDir: String,
      historyDir: String, checkpoint: String,
      alerts: Alerts.Sink = Alerts.Log, threshold: Double = 3.0,
      minHistory: Int = 14, availableNow: Boolean = true): StreamingQuery =
    startFrom(spark,
      spark.readStream.schema(ChangeEvents.schema).json(sourceDir)
        .select(col("op").as("event_type"), col("ts"),
          coalesce(col("after.value"), lit(0.0)).as("value")),
      historyDir, checkpoint, alerts, threshold, minHistory,
      late = "1 day", availableNow = availableNow,
      kind = "value_forecast_anomaly")

  private def startFrom(spark: SparkSession, stream: DataFrame,
      historyDir: String, checkpoint: String, alerts: Alerts.Sink,
      threshold: Double, minHistory: Int, late: String,
      availableNow: Boolean,
      kind: String = "forecast_anomaly"): StreamingQuery =
    Sink.foreachBatch(AnomalyStream.dailyTotals(stream, late), checkpoint,
        availableNow) { (batch, _) =>
      scoreBatch(spark, batch, historyDir, threshold, minHistory, alerts, kind)
    }

  /** Read face over the durable daily history. */
  def currentHistory(spark: SparkSession, historyDir: String): DataFrame =
    spark.read.schema("day DATE, event_type STRING, cents LONG")
      .parquet(historyDir)
}
