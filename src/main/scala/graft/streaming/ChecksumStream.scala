package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Relational

/** Incremental maintenance of the monthly content checksums — the
  * STREAMING face of [[Relational.monthlyChecksums]]: a change stream
  * of inserts/deletes folds into per-month `(n_rows, checksum)` state
  * without ever rescanning the table.
  *
  * The whole trick is that XOR is SELF-INVERSE: an insert XORs the
  * row's canonical 60-bit hash into its month's checksum, and a later
  * delete of the same row XORs the identical hash back out — the state
  * returns to exactly the no-row value, no tombstone bookkeeping, no
  * recount. (An UPDATE is the usual delete+insert pair.) State is one
  * 16-byte (count, checksum) cell per CALENDAR MONTH — bounded by the
  * calendar, not the table — so the sync monitor can compare live
  * checksums against the target's batch fold forever. Hash
  * construction shares [[Relational.orderMonthHash]]'s exact
  * expressions, so a stream-maintained checksum equals the batch scan
  * BIT-FOR-BIT once the same rows have flowed through
  * (ChecksumStreamSpec asserts equality, including the delete-cancels
  * case).
  *
  * Caveat, stated: XOR folding is content-exact but NOT
  * multiset-exact under at-least-once REPLAY — re-delivering the same
  * insert toggles the hash back out. Run it behind an exactly-once
  * source (the file stream / DSv2 changelog source here) or the
  * engine's idempotent-apply path, which is exactly where the
  * reference's sync monitor sits. */
object ChecksumStream {

  /** One change-event contribution: the month key (ISO date string —
    * a stable group key), the canonical row hash, and ±1. */
  final case class DeltaRow(month: String, h: Long, delta: Long)

  /** Per-month running state. */
  final case class MonthState(n: Long, checksum: Long, updates: Long)

  /** One emitted snapshot; `updates` orders snapshots so the read face
    * takes the latest per month. */
  final case class MonthSnapshot(month: String, updates: Long, n_rows: Long,
      checksum: Long)

  private def foldBatch(month: String, rows: Iterator[DeltaRow],
      state: GroupState[MonthState]): Iterator[MonthSnapshot] = {
    var st = state.getOption.getOrElse(MonthState(0L, 0L, 0L))
    var n = st.n
    var cks = st.checksum
    rows.foreach { r =>
      cks ^= r.h
      n += r.delta
    }
    st = MonthState(n, cks, st.updates + 1)
    state.update(st)
    Iterator.single(MonthSnapshot(month, st.updates, n, cks))
  }

  /** The stateful fold over an already-projected delta frame —
    * unit-testable via the same code path the sink uses. */
  def checksumStream(deltas: DataFrame): Dataset[MonthSnapshot] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    deltas.as[DeltaRow]
      .groupByKey(_.month)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldBatch)
  }

  /** Project orders-shaped change events (`op` ∈ insert/delete + the
    * row columns) to checksum deltas: both ops contribute the SAME
    * hash (self-inverse cancellation); only the count delta signs. */
  def deltasOf(events: DataFrame): DataFrame =
    Relational.orderMonthHash(events,
        when(col("op") === "delete", -1L).otherwise(1L).as("delta"))
      .select(col("month").cast("string").as("month"), col("h"), col("delta"))

  /** Start the checksum maintenance over a JSONL change stream into a
    * [[Sink.parquetLog]] of snapshots. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(checksumStream(deltasOf(spark.readStream.schema(
        "op STRING, o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING")
      .json(sourceDir))),
      outDir, checkpoint, availableNow)

  /** Read face: the latest snapshot per month from the append log. */
  def currentChecksums(spark: SparkSession, outDir: String): DataFrame =
    Sink.latest(spark, outDir, "month STRING, updates LONG, n_rows LONG, checksum LONG",
      "updates", "month")
}
