package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Online Holt level/trend forecasting — the STREAMING face of
  * [[graft.operators.Relational.holtForecast]]: the batch operator
  * re-folds the whole day spine per run, but a forecaster's state is
  * three integers, so the live face carries (last day, n, level,
  * trend) per series as group state and emits a refreshed one-step
  * forecast the moment a day's total lands — no corpus re-scan, ever.
  *
  * Contract: input rows are DAY-GRAIN totals (series_key, day, cents)
  * — the output grain of the daily-rollup family, not raw events —
  * and the fold applies them in day order within a batch while
  * IGNORING any day at-or-before the state's last applied day (a
  * replayed or late-duplicated day must not double-smooth; the
  * checkpoint plus this guard make the walk append-only). The
  * recursion is the batch operator's exact integer grid: founding day
  * loads (lv = x, tr = 0); then lv' = (x + 3·(lv + tr)) div 4,
  * tr' = (lv' − lv + 3·tr) div 4 — Java `/` truncates toward zero
  * like Spark `div` and DuckDB `//`, so after the same days have
  * flowed through, the stream's state equals the batch fold bit for
  * bit, including across a checkpointed restart (ForecastStreamSpec).
  *
  * Scale: state is 4 longs per series (series-count-bounded, the
  * sketch-stream discipline); each batch shuffles only its own rows
  * once on the series key. */
object ForecastStream {

  final case class DayRow(series_key: String, day: java.sql.Date, cents: Long)
  final case class HoltState(lastDay: Long, nDays: Long, lv: Long, tr: Long)
  final case class ForecastRow(series_key: String, day: java.sql.Date,
      n_days: Long, level_cents: Long, trend_cents: Long, next_cents: Long)

  private def fold(key: String, rows: Iterator[DayRow],
      state: GroupState[HoltState]): Iterator[ForecastRow] = {
    var st = state.getOption.getOrElse(HoltState(Long.MinValue, 0L, 0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[ForecastRow]
    rows.toSeq.sortBy(_.day.getTime).foreach { r =>
      val epochDay = r.day.toLocalDate.toEpochDay
      if (epochDay > st.lastDay) {
        val (lv, tr) =
          if (st.nDays == 0L) (r.cents, 0L)
          else {
            val nl = (r.cents + 3 * (st.lv + st.tr)) / 4
            (nl, (nl - st.lv + 3 * st.tr) / 4)
          }
        st = HoltState(epochDay, st.nDays + 1, lv, tr)
        out += ForecastRow(key, r.day, st.nDays, lv, tr, lv + tr)
      }
    }
    state.update(st)
    out.iterator
  }

  /** Stateful Holt fold over (series_key, day, cents) rows; exposed
    * for batch-mode unit tests of the same code path. */
  def forecastStream(days: DataFrame): Dataset[ForecastRow] = {
    val spark = days.sparkSession
    import spark.implicits._
    days.select(col("series_key"), col("day"), col("cents"))
      .as[DayRow]
      .groupByKey(_.series_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        fold)
  }

  /** Start the forecaster over a JSONL day-total stream into a
    * [[Sink.parquetLog]] of snapshots. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(forecastStream(spark.readStream
        .schema("series_key STRING, day DATE, cents LONG")
        .json(sourceDir)),
      outDir, checkpoint, availableNow)

  // ---- Holt-Winters (weekly-seasonal) live face ----------------------

  /** Monday of the q269 calendar: seasonal slot = days since
    * 1995-01-02 mod 7, the batch operator's exact dow grid. */
  private val DowEpoch: Long = java.time.LocalDate.of(1995, 1, 2).toEpochDay

  private[streaming] def dowOf(epochDay: Long): Int =
    (((epochDay - DowEpoch) % 7 + 7) % 7).toInt

  /** One Holt-Winters step on q269's integer grid — shared by the
    * stateful stream fold and the residual-anomaly replay
    * ([[ForecastAnomalyStream]]) so the recursion lives in exactly one
    * place. Returns (level, trend, seasonal slots) after absorbing
    * day-total `x` at weekly slot `w`; `founding` loads (x, 0, 0⁷). */
  private[streaming] def hwStep(lv: Long, tr: Long, s: Seq[Long], w: Int,
      x: Long, founding: Boolean): (Long, Long, Seq[Long]) =
    if (founding) (x, 0L, s)
    else {
      val nl = (x - s(w) + 3 * (lv + tr)) / 4
      val nt = (nl - lv + 3 * tr) / 4
      (nl, nt, s.updated(w, (x - nl + 3 * s(w)) / 4))
    }

  final case class HwState(lastDay: Long, nDays: Long, lv: Long, tr: Long,
      s: Seq[Long])
  final case class HwRow(series_key: String, day: java.sql.Date,
      n_days: Long, level_cents: Long, trend_cents: Long,
      seasonal_next_cents: Long, next_cents: Long)

  /** The Holt-Winters recursion on q269's integer grid, carried as
    * 9 longs of group state per series (level, trend, 7 weekly
    * seasonal slots): founding day loads (lv = x, tr = 0, s = 0⁷);
    * then lv' = (x − s[w] + 3·(lv + tr)) div 4, tr' = (lv' − lv +
    * 3·tr) div 4, s[w]' = (x − lv' + 3·s[w]) div 4. Same append-only
    * walk contract as [[fold]] (day-grain rows, stale days skipped),
    * so after the same days have flowed the state equals the batch
    * q269 fold bit for bit, including across a checkpointed restart.
    * The emitted one-step forecast pairs with q269's h = 1 row:
    * lv + tr + s[dow(day + 1)]. */
  private def hwFold(key: String, rows: Iterator[DayRow],
      state: GroupState[HwState]): Iterator[HwRow] = {
    var st = state.getOption.getOrElse(
      HwState(Long.MinValue, 0L, 0L, 0L, Seq.fill(7)(0L)))
    val out = scala.collection.mutable.ArrayBuffer.empty[HwRow]
    rows.toSeq.sortBy(_.day.getTime).foreach { r =>
      val epochDay = r.day.toLocalDate.toEpochDay
      if (epochDay > st.lastDay) {
        val w = dowOf(epochDay)
        val (lv, tr, s) =
          hwStep(st.lv, st.tr, st.s, w, r.cents, founding = st.nDays == 0L)
        st = HwState(epochDay, st.nDays + 1, lv, tr, s)
        val sNext = s(dowOf(epochDay + 1))
        out += HwRow(key, r.day, st.nDays, lv, tr, sNext, lv + tr + sNext)
      }
    }
    state.update(st)
    out.iterator
  }

  /** Stateful Holt-Winters fold over (series_key, day, cents) rows;
    * exposed for batch-mode unit tests of the same code path. */
  def hwForecastStream(days: DataFrame): Dataset[HwRow] = {
    val spark = days.sparkSession
    import spark.implicits._
    days.select(col("series_key"), col("day"), col("cents"))
      .as[DayRow]
      .groupByKey(_.series_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        hwFold)
  }

  /** Start the seasonal forecaster over a JSONL day-total stream into
    * a [[Sink.parquetLog]] of snapshots. */
  def startHw(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(hwForecastStream(spark.readStream
        .schema("series_key STRING, day DATE, cents LONG")
        .json(sourceDir)),
      outDir, checkpoint, availableNow)

  /** Read face: the freshest seasonal forecast per series. */
  def currentHwForecast(spark: SparkSession, outDir: String): DataFrame =
    Sink.latest(spark, outDir, "series_key STRING, day DATE, n_days LONG," +
      " level_cents LONG, trend_cents LONG, seasonal_next_cents LONG," +
      " next_cents LONG", "n_days", "series_key")

  /** Read face: the freshest forecast per series. */
  def currentForecast(spark: SparkSession, outDir: String): DataFrame =
    Sink.latest(spark, outDir, "series_key STRING, day DATE, n_days LONG," +
      " level_cents LONG, trend_cents LONG, next_cents LONG", "n_days", "series_key")
}
