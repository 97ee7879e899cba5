package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.KvStore

/** Redis keyspace-notification / stream-consumer pipeline (SURVEY S9/S10,
  * ST8): a file-based stream of KV ops → KV merge in a
  * [[Sink.foreachBatch]].
  *
  * Checkpointing: the reference persists the last XACK'd stream id per
  * message (reference redis.go:266-269,319-343) and replays from it;
  * Structured Streaming's offset/commit log is the same contract at
  * batch granularity. The keyspace-notification path in the reference
  * has NO checkpoint (full resync on restart, README.md:63-65) — our
  * file-stream upgrade gives it one for free; `mergeKvIntoParquet`'s
  * idempotence covers the at-least-once window either way (ST9).
  */
object KvPipeline {

  val opSchema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),       // del|set|copy
    StructField("key", StringType, nullable = false),
    StructField("kind", StringType),                       // string|hash
    StructField("value", StringType),
    StructField("f_k", StringType),
    StructField("f_uid", StringType),
    StructField("ttlMs", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  final case class Config(
      sourceDir: String,
      targetDir: String,
      checkpointDir: String,
      dlqDir: String,
      maxFilesPerTrigger: Int = 1000,
      maxDlqAttempts: Int = 3,                 // CDC parity (mongodb.go:261)
      maxBytesPerTrigger: Option[Long] = None) // ST3 parity with CdcPipeline

  /** Start the KV replication stream; AvailableNow drains-and-stops
    * (the reference's XReadGroup Count=10/Block=2s poll loop collapses
    * into micro-batch triggers). A failing KV merge parks the batch in
    * the DLQ and COMMITS — same bounded-retry contract as the CDC
    * pillar (the reference's Redis path has no DLQ and wedges on a
    * poisoned batch; the upgrade is symmetric with [[CdcPipeline]]). */
  def start(spark: SparkSession, cfg: Config, availableNow: Boolean = true): StreamingQuery =
    Sink.foreachBatch(
        Sink.admittedJson(spark, opSchema, cfg.sourceDir, cfg.maxFilesPerTrigger,
          cfg.maxBytesPerTrigger),
        cfg.checkpointDir, availableNow, Sink.ReplicationCadence,
        Some(s"kv->${cfg.targetDir}"))(
      // batch.sparkSession, not the captured outer session: correct
      // under Spark Connect and multi-session deployments.
      Dlq.applyOrPark(cfg.dlqDir)(batch =>
        KvStore.mergeKvIntoParquet(batch.sparkSession, cfg.targetDir, batch)))

  /** Bounded DLQ retry for the KV pillar — [[Dlq.retry]] with the KV op
    * schema and the idempotent KV merge. Same concurrency contract as
    * the CDC variant: never run beside the live stream's merges. */
  def retryDlq(spark: SparkSession, cfg: Config,
      alerts: Alerts.Sink = Alerts.Log): Dlq.Stats =
    Dlq.retry(spark, cfg.dlqDir, opSchema, cfg.maxDlqAttempts,
      events => KvStore.mergeKvIntoParquet(spark, cfg.targetDir, events),
      alerts)
}
