package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Security
import graft.model.FieldSecurity
import graft.operators.Upsert

/** The CDC pipeline (SURVEY §3.1): a file-based change-event stream →
  * optional PII transforms → keyed upsert in a [[Sink.foreachBatch]].
  * The upsert is [[Upsert.mergeIntoParquet]]: each micro-batch appends
  * its change rows, one per event, as one delta to the merge-on-read
  * target without reading it — one Spark job per micro-batch — and
  * reads resolve base ⊕ deltas, and a key's repeats within a batch, by
  * the same last-writer-wins rule ([[Upsert.readTarget]]). A replayed
  * batch appends an identical delta, which ties only with itself, so
  * the stream's at-least-once delivery stays effectively-once.
  *
  * Reference stages it replaces (mongodb.go:527-815): the hand-rolled
  * channel buffering, disk spill files, smart batch packing, and ≤8
  * parse workers are Spark's micro-batch engine + `maxFilesPerTrigger`
  * + task parallelism; the resume-token file written only after a
  * durable flush (mongodb.go:773-776) is exactly Structured Streaming's
  * two-phase offset/commit log. A failed batch is routed to a DLQ
  * parquet table and the batch is COMMITTED — preserving the
  * reference's contract that DLQ'd batches count as processed
  * (mongodb.go:1302-1307); the DLQ retry job re-applies them (ST10).
  */
object CdcPipeline {

  final case class Config(
      sourceDir: String,
      targetDir: String,
      checkpointDir: String,
      dlqDir: String,
      keyCol: String = "key",
      ignoreDeleteOps: Boolean = false,      // mongodb.go:1168-1177
      fieldSecurity: Seq[FieldSecurity] = Nil,
      maxFilesPerTrigger: Int = 1000,        // apply-batch cap, mongodb.go:258
      maxDlqAttempts: Int = 3,               // mongodb.go:261 maxRetryAttempts
      nsFilter: Option[(String, String)] = None, // P2: (db, table) $match, mongodb.go:550-556
      includeTableRegex: Seq[String] = Nil,  // P3: binlog include regexes, mysql.go:52-58
      maxBytesPerTrigger: Option[Long] = None, // ST3: byte-based batch cap, mongodb.go:256
      // "json" = the generic file stream; "changelog" = the engine's
      // own DSv2 MicroBatchStream (graft.sources.ChangeLogSource):
      // resume-token offsets, per-file partitions, gated token commit,
      // maxFilesPerTrigger honored via admission control (the byte cap
      // is a file-source knob and does not apply).
      sourceFormat: String = "json")

  /** Start the stream. With `availableNow=true` it drains all pending
    * input then stops (test/batch-catchup mode); otherwise it runs on
    * [[Sink.ReplicationCadence]] (the [[Sink]] contract). */
  def start(spark: SparkSession, cfg: Config, availableNow: Boolean = true): StreamingQuery = {
    val raw = if (cfg.sourceFormat == "changelog")
      spark.readStream.format("changelog")
        .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        .load(cfg.sourceDir)
    else Sink.admittedJson(spark, ChangeEvents.schema, cfg.sourceDir,
      cfg.maxFilesPerTrigger, cfg.maxBytesPerTrigger)
    val matched = cfg.nsFilter.map { case (db, t) =>
      ChangeEvents.matchStage(raw, db, t) }.getOrElse(raw)
    val included = ChangeEvents.includeTables(matched, cfg.includeTableRegex)
    val secured = Security.applyFieldSecurity(included, cfg.fieldSecurity)
    Sink.foreachBatch(secured, cfg.checkpointDir, availableNow,
        Sink.ReplicationCadence, Some(s"cdc->${cfg.targetDir}"))(
      Dlq.applyOrPark(cfg.dlqDir) { batch =>
        Upsert.mergeIntoParquet(batch.sparkSession, cfg.targetDir, batch,
          cfg.keyCol, cfg.ignoreDeleteOps)
      })
  }

  /** Outcome of one DLQ pass — see [[Dlq.Stats]]. */
  type DlqStats = Dlq.Stats
  val DlqStats = Dlq.Stats

  /** DLQ retry (reference processDeadLetterBatch, mongodb.go:1876-1969):
    * the generic [[Dlq.retry]] pass with this pipeline's event schema
    * and idempotent merge as the apply function; each retried batch is
    * one more delta, and the target's last-writer-wins fold resolves an
    * out-of-order retry against the newer rows. Run only while the
    * pipeline's own stream is not applying batches (see Dlq.retry's
    * concurrency contract). */
  def retryDlq(spark: SparkSession, cfg: Config,
      alerts: Alerts.Sink = Alerts.Log): DlqStats =
    Dlq.retry(spark, cfg.dlqDir, ChangeEvents.schema, cfg.maxDlqAttempts,
      events => Upsert.mergeIntoParquet(spark, cfg.targetDir, events,
        cfg.keyCol, cfg.ignoreDeleteOps),
      alerts)
}
