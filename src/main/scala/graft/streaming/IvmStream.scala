package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Atomic

/** STREAMING incremental view maintenance — the live face of
  * [[graft.operators.Cdc.incrementalView]] (q283): a CDC change stream
  * keeps the per-bucket aggregate view fresh with DELTA work only.
  * Per key, `flatMapGroupsWithState` holds the last-writer-wins winner
  * (ts, offset — INCLUDING delete tombstones, so a stale update can
  * never resurrect a deleted key: the DLQ resurrect-guard discipline)
  * and emits retraction rows when the winner changes: −1/−cents of the
  * old contribution, +1/+cents of the new. A [[Sink.foreachBatch]] merger
  * folds the (buckets-sized) delta aggregate into the Atomic-versioned
  * view.
  *
  * Exactly-once across the sink/checkpoint gap: counts are NOT
  * idempotent under replay, so every published view carries the
  * `last_batch` id that produced it — a replayed batch (crash between
  * the publish and the checkpoint commit) sees its own id already
  * live and skips, the GraphStream idempotence contract expressed as
  * a guard instead of partition overwrite (a view REPLACES, so
  * partition overwrite has nothing to key on).
  *
  * Scale: per batch the stateful fold ships only that batch's keys,
  * the emitted deltas are at most 2 rows per changed key, the merge
  * aggregate is buckets-sized, and the publish rewrites a
  * buckets-sized parquet. Nothing ever rescans the key space — the
  * whole point of maintaining the view incrementally. */
object IvmStream {

  final case class ChangeRow(key: java.lang.Long, op: String,
      value: java.lang.Double, k: java.lang.Long, tsMicros: Long, offset: Long)
  /** Per-key LWW state; `present = false` is a remembered tombstone. */
  final case class KeyState(present: Boolean, bucket: Long, cents: Long,
      tsMicros: Long, offset: Long)
  final case class DeltaRow(bucket: Long, dn: Long, dcents: Long)

  val schema: String = schemaFor(graft.model.IvmView())

  /** The change-log read schema for a configured view — field names
    * follow the view's key/bucket/value columns. */
  def schemaFor(view: graft.model.IvmView): String =
    s"op STRING, ${view.keyField} LONG, ${view.valueField} DOUBLE, " +
      s"${view.bucketField} LONG, ts TIMESTAMP, offset LONG"

  /** The batch operator's contribution algebra, element-at-a-time:
    * null bucket key → −1, null payload → 0 cents. */
  private def contribution(r: ChangeRow, buckets: Int): KeyState = {
    val b =
      if (r.k == null) -1L
      else ((r.k.longValue % buckets) + buckets) % buckets
    val cents =
      if (r.value == null) 0L
      else math.floor(r.value.doubleValue * 100).toLong
    KeyState(r.op != "delete", b, cents, r.tsMicros, r.offset)
  }

  private def foldKey(buckets: Int)(rows: Iterator[ChangeRow],
      state: GroupState[KeyState]): Iterator[DeltaRow] = {
    val winner = rows.maxBy(r => (r.tsMicros, r.offset))
    val prev = state.getOption
    val prevWins = prev.exists(p => p.tsMicros > winner.tsMicros ||
      (p.tsMicros == winner.tsMicros && p.offset >= winner.offset))
    if (prevWins) Iterator.empty
    else {
      val next = contribution(winner, buckets)
      state.update(next)
      val out = Seq.newBuilder[DeltaRow]
      prev.filter(_.present)
        .foreach(p => out += DeltaRow(p.bucket, -1L, -p.cents))
      if (next.present) out += DeltaRow(next.bucket, 1L, next.cents)
      out.result().iterator
    }
  }

  /** Stateful retraction fold over change rows; exposed for batch-mode
    * unit tests of the same code path. */
  def deltaStream(changes: DataFrame, buckets: Int = 8): Dataset[DeltaRow] =
    deltaStream(changes, graft.model.IvmView(buckets = buckets))

  /** [[deltaStream]] over a CONFIGURED view — field names map into the
    * fixed fold shape at the select, so one stateful fold serves every
    * `ivmTasks` entry. */
  def deltaStream(changes: DataFrame,
      view: graft.model.IvmView): Dataset[DeltaRow] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.select(col(view.keyField).as("key"), col("op"),
        col(view.valueField).as("value"), col(view.bucketField).as("k"),
        unix_micros(col("ts")).as("tsMicros"), col("offset"))
      .as[ChangeRow]
      // string key so a NULL-key change event forms its own group
      // (the batch face's Window.partitionBy null semantics) instead
      // of crashing the primitive-Long encoder
      .groupByKey(r => String.valueOf(r.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_, rows, state) => foldKey(view.buckets)(rows, state))
  }

  def start(spark: SparkSession, sourceDir: String, storeDir: String,
      checkpoint: String, buckets: Int = 8,
      availableNow: Boolean = true): StreamingQuery =
    start(spark, sourceDir, storeDir, checkpoint,
      graft.model.IvmView(buckets = buckets), availableNow)

  /** [[start]] for a CONFIGURED view — the `ivmTasks` engine face. */
  def start(spark: SparkSession, sourceDir: String, storeDir: String,
      checkpoint: String, view: graft.model.IvmView,
      availableNow: Boolean): StreamingQuery =
    Sink.foreachBatch(
        deltaStream(spark.readStream.schema(schemaFor(view)).json(sourceDir), view).toDF(),
        checkpoint, availableNow)(applyDeltas(_, storeDir, _, view))

  /** Fold one batch's delta rows into the live view and publish the
    * replacement version — skipping batches the view has already
    * absorbed (crash replay). */
  private[graft] def applyDeltas(deltas: DataFrame, storeDir: String,
      batchId: Long,
      view: graft.model.IvmView = graft.model.IvmView()): Unit = {
    val spark = deltas.sparkSession
    import spark.implicits._
    // one action over the batch frame: the stateful fold runs exactly
    // once and the buckets-sized aggregate is collected, so the
    // emptiness branch and the merge never re-execute the source scan
    val aggRows = deltas.groupBy(col("bucket"))
      .agg(sum(col("dn")).as("dn"), sum(col("dcents")).as("dcents"))
      .collect()
    if (aggRows.isEmpty) return
    if (lastBatch(spark, storeDir).exists(_ >= batchId)) return
    val agg = aggRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("bucket", "dn", "dcents")
    val withCents = view.aggs.contains("cents")
    val merged = currentView(spark, storeDir, view)
      .select(col("bucket"), col("n_rows").as("dn"),
        (if (withCents) col("cents") else lit(0L)).as("dcents"))
      .unionByName(agg)
      .groupBy(col("bucket"))
      .agg(sum(col("dn")).as("n_rows"), sum(col("dcents")).as("cents"))
      .filter(col("n_rows") > 0)
    val projected = merged
      .select((col("bucket") +: view.aggs.distinct.map(col)): _*)
      .withColumn("last_batch", lit(batchId))
    Atomic.publish(spark, storeDir, "view") { path =>
      projected.write.parquet(path)
    }
  }

  /** Read face: the live view (bucket + the view's aggregate columns)
    * — empty before the first publish. */
  def currentView(spark: SparkSession, storeDir: String,
      view: graft.model.IvmView = graft.model.IvmView()): DataFrame = {
    val aggCols = view.aggs.distinct
    val viewSchema =
      ("bucket LONG" +: aggCols.map(a => s"$a LONG")).mkString(", ")
    Atomic.existing(spark, storeDir, "view", Some(viewSchema + ", last_batch LONG"))
      .fold(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(viewSchema)))(
        _.select("bucket", aggCols: _*))
  }

  private def lastBatch(spark: SparkSession, storeDir: String): Option[Long] =
    Atomic.existing(spark, storeDir, "view", Some("last_batch LONG"))
      .map(_.agg(max(col("last_batch"))).first())
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }
}
