package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}

import graft.operators.{Atomic, Dedup}

/** STREAMING ingest for the persisted entity-resolution store — the
  * continuous face of the cron-scheduled `erTasks` maintenance: the
  * CDC name-change path (the reference's upsert steady state,
  * pkg/syncer/mongodb/mongodb.go:1152-1161) feeds (id, name) upserts
  * straight into [[graft.operators.Dedup.appendToEntityStore]] as they
  * arrive, so record linkage stays fresh between maintenance windows
  * instead of aging a day.
  *
  * Idempotent per [[Sink.foreachBatch]] batch id (the [[IvmStream]]
  * precedent): each absorbed batch claims its batch id in the store's
  * `ingest_log` AFTER the append lands, and a replayed batch id
  * short-circuits. The claim is belt-and-braces — the append
  * itself is idempotent per table (the round-14 crash-replay
  * protocol) — so a crash between the append and the claim replays
  * into no-ops, never duplicates.
  *
  * Semantics: inserts and updates with a non-null name are offered;
  * within a batch the LATEST (max offset) name per id wins; an id the
  * store already absorbed is a no-op — a true name CHANGE for a
  * linked entity is the right-to-be-forgotten path (forget, compact,
  * re-append), because silently re-pointing an id's name would
  * orphan the edges its old name verified. Deletes are ignored: an
  * entity leaving the source is an erasure DECISION, not an automatic
  * consequence of a CDC delete. */
object ErStream {

  val payloadSchema: StructType = StructType(Seq(
    StructField("name", StringType)))

  /** The change-event envelope with a name-carrying after image. */
  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("after", payloadSchema),
    StructField("sourceDb", StringType),
    StructField("sourceTable", StringType),
    StructField("ts", TimestampType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  def start(spark: SparkSession, sourceDir: String, storeDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.foreachBatch(spark.readStream.schema(schema).json(sourceDir)
        .filter(col("op").isin("insert", "update") &&
          col("after.name").isNotNull)
        .select(col("key").as("id"), col("after.name").as("name"),
          col("offset")),
      checkpoint, availableNow)(ingestBatch(_, storeDir, _))

  private[streaming] def ingestBatch(batch: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // latest name per id within the batch: ER appends are per-id, and
    // offset order is the change stream's truth
    val names = batch
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("offset").desc)))
      .filter(col("rn") === 1)
      .select(col("id"), col("name"))
      .persist()
    try {
      if (names.limit(1).count() == 0) return // empty batch: no claim
      if (lastBatch(spark, storeDir).exists(_ >= batchId)) return
      Dedup.appendToEntityStore(names, storeDir)
      // the claim lands AFTER the append: a crash here replays the
      // batch into idempotent no-ops, then claims
      Atomic.append(Seq(batchId).toDF("batch_id"), storeDir, "ingest_log")
    } finally { names.unpersist(); () }
  }

  private def lastBatch(spark: SparkSession, storeDir: String): Option[Long] =
    Atomic.existing(spark, storeDir, "ingest_log", Some("batch_id LONG"))
      .map(_.agg(max(col("batch_id"))).first())
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }
}
