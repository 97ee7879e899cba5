package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Online distribution-drift tracking — the STREAMING face of
  * [[graft.operators.DataQuality.valueDrift]]: the reference
  * distribution is FROZEN up front (per-type value-bucket counts, the
  * gauge a model was trained/thresholded under), events arrive on a
  * stream, and each micro-batch folds their buckets into per-type
  * counts held as group state, emitting a fresh total-variation
  * distance per type per batch. The monitoring question inverts
  * between the faces: the batch operator asks "did the stream's two
  * halves differ" after the fact; this one watches the live half
  * drift away from the frozen reference WHILE it happens — the page
  * that should fire before anyone tightens a `retrainTasks` schedule.
  *
  * Exactness contract: the TVD arithmetic is the batch operator's
  * exact integer form (count·10⁶ truncating-div window total,
  * Σ|Δ| / 2), the reference map is types × buckets (gauge metadata,
  * never event-sized), and the per-type state is the same bounded
  * bucket map — so once the same events have flowed through, the
  * stream's latest row per type equals the batch TVD bit for bit
  * (DriftStreamSpec, including across a checkpointed restart); a
  * reference type the stream never delivers gets its row from the
  * read face (see [[currentDrift]] — a vanished type is drift, not
  * silence).
  * Replay safety comes from the file source's exactly-once batch
  * semantics (counts are NOT idempotent under replay the way the
  * sketch stream's register maxes are — the checkpoint is the
  * contract, same as the accumulating-counter family). */
object DriftStream {

  final case class EvRow(event_type: String, bucket: Long)
  /** Per-type state: bucket → count, plus a snapshot ordinal. */
  final case class BucketCounts(buckets: Map[Long, Long], updates: Long)
  final case class DriftSnapshot(event_type: String, updates: Long,
      n_cur: Long, tvd_micro: Long)

  /** Frozen reference: event type → (bucket → count). */
  type Reference = Map[String, Map[Long, Long]]

  /** Fold a reference distribution from a batch frame — a
    * types × buckets collect (gauge metadata, the privacy profiles'
    * frame size), never event-sized. */
  def referenceOf(events: DataFrame, bucketWidth: Double = 5.0): Reference =
    events.select(col("event_type"),
        floor(col("value") / lit(bucketWidth)).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
      }

  /** The batch operator's exact integer TVD: rate = n·10⁶ truncating-
    * div window total (BigInt product — a 10¹³-count bucket must not
    * wrap), Σ|Δrate| / 2 over the union of buckets. */
  private[graft] def tvdMicro(ref: Map[Long, Long], cur: Map[Long, Long]): Long = {
    val tRef = math.max(ref.values.sum, 1L)
    val tCur = math.max(cur.values.sum, 1L)
    (ref.keySet ++ cur.keySet).iterator.map { b =>
      val dr = (BigInt(ref.getOrElse(b, 0L)) * 1000000 / tRef).toLong
      val dc = (BigInt(cur.getOrElse(b, 0L)) * 1000000 / tCur).toLong
      math.abs(dr - dc)
    }.sum / 2
  }

  private def foldBatch(ref: Reference)(eventType: String,
      rows: Iterator[EvRow], state: GroupState[BucketCounts]): Iterator[DriftSnapshot] = {
    val prev = state.getOption
    val m = scala.collection.mutable.Map.empty[Long, Long]
    prev.foreach(_.buckets.foreach { case (k, v) => m(k) = v })
    rows.foreach(r => m(r.bucket) = m.getOrElse(r.bucket, 0L) + 1L)
    val updates = prev.map(_.updates).getOrElse(0L) + 1
    val snap = m.toMap
    state.update(BucketCounts(snap, updates))
    Iterator.single(DriftSnapshot(eventType, updates, snap.values.sum,
      tvdMicro(ref.getOrElse(eventType, Map.empty), snap)))
  }

  /** Stateful drift fold over (event_type, value) rows; exposed for
    * batch-mode unit tests of the same code path. */
  def driftStream(events: DataFrame, ref: Reference,
      bucketWidth: Double = 5.0): Dataset[DriftSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"),
        floor(col("value") / lit(bucketWidth)).cast("long").as("bucket"))
      .as[EvRow]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        foldBatch(ref))
  }

  /** Start the drift watch over a JSONL event stream into a
    * [[Sink.parquetLog]] of snapshots. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, ref: Reference,
      availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(driftStream(spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .json(sourceDir), ref),
      outDir, checkpoint, availableNow)

  /** Read face: the latest drift row per event type — INCLUDING
    * reference types the stream has never (or no longer) delivered.
    * `flatMapGroupsWithState` only fires for keys present in a batch,
    * so a type that vanishes outright — the most extreme drift there
    * is — would otherwise have no row at all and could never page;
    * the read face synthesizes those rows from the same frozen
    * reference with the same exact TVD arithmetic (an all-reference
    * no-current distribution reads as the batch twin's n_cur = 0
    * rows: ≈500000µ). */
  def currentDrift(spark: SparkSession, outDir: String,
      ref: Reference = Map.empty): DataFrame = {
    import spark.implicits._
    val seen = Sink.latest(spark, outDir,
      "event_type STRING, updates LONG, n_cur LONG, tvd_micro LONG", "updates", "event_type")
    if (ref.isEmpty) seen
    else {
      // reference is gauge metadata (types × buckets): the driver-side
      // set difference and TVD folds are bounded by it, never by events
      val logged = seen.select("event_type").collect().map(_.getString(0)).toSet
      val missing = ref.keys.filterNot(logged).toSeq.sorted
        .map(t => (t, 0L, 0L, tvdMicro(ref(t), Map.empty)))
      seen.union(missing.toDF("event_type", "updates", "n_cur", "tvd_micro"))
    }
  }
}
