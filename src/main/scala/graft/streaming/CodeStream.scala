package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Vectors

/** Streaming ingest for the persisted binary-code index — the online
  * face of [[graft.operators.Similarity.foundCodeIndex]]: an embedding
  * stream (a crawl's encoder output) keeps the 8-byte-per-vector
  * serving set fresh. Signing is a stateless map over the literal
  * hyperplanes — no watermark, no state store — and exactly-once comes
  * from the file sink's `_spark_metadata` commit log.
  *
  * Ownership contract (same as the IVF cells stream): the commit log
  * means THIS STREAM OWNS `indexDir/codes`, and batch appends and
  * compaction refuse it ([[graft.operators.Atomic]]'s stream-ownership
  * rule). Probes ([[graft.operators.Similarity
  * .hammingTopKAgainstStoredCodes]]) read either form identically. */
object CodeStream {

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    spark.readStream.schema(IvfStream.schema).json(sourceDir)
      .select(col("vec_id"),
        Vectors.hyperplaneSignature(col("embedding"), nBits = 60).as("sig"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", graft.operators.Atomic.resolve(spark, indexDir, "codes"))
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("1 second"))
      .start()
}
