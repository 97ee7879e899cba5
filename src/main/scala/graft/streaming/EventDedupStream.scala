package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Exactly-once-within-horizon event dedup: an at-least-once ingest
  * (retried producers, replayed partitions) collapsed to one row per
  * event_id via `dropDuplicatesWithinWatermark` — state holds only
  * keys younger than the lateness horizon, so it is bounded by event
  * RATE × horizon, never by stream lifetime (the plain
  * `dropDuplicates` on a stream grows forever).
  *
  * The honest contract, which the spec pins from both sides: a
  * duplicate arriving within the horizon of its first copy is
  * dropped; one arriving after the state evicted re-emits. That
  * residue is why the downstream MERGE ([[graft.operators.Upsert]])
  * stays idempotent — dedup-in-stream bounds the duplicate volume,
  * idempotent apply absorbs the tail. */
object EventDedupStream {

  def deduped(events: DataFrame, late: String = "1 hour"): DataFrame =
    events.withWatermark("ts", late).dropDuplicatesWithinWatermark("event_id")

  /** JSON file stream → append [[Sink.memoryTable]], micros-preserving. */
  def start(spark: SparkSession, sourceDir: String, queryName: String,
      late: String = "1 hour"): StreamingQuery =
    Sink.memoryTable(deduped(spark.readStream.schema(IntervalJoinStream.schema)
        .option("timestampFormat", IntervalJoinStream.TsFormat).json(sourceDir), late),
      queryName, "append", availableNow = false)
}
