package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Vectors

/** Streaming ingest for the persisted binary-code index — the online
  * face of [[graft.operators.Similarity.foundCodeIndex]]: an embedding
  * stream (a crawl's encoder output) keeps the 8-byte-per-vector
  * serving set fresh. Signing is a stateless map over the literal
  * hyperplanes — no watermark, no state store — into
  * `indexDir/codes`, a [[Sink.parquetLog]] the stream owns (the
  * [[Sink]] ownership rule). Probes ([[graft.operators.Similarity
  * .hammingTopKAgainstStoredCodes]]) read either form identically. */
object CodeStream {

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(spark.readStream.schema(IvfStream.schema).json(sourceDir)
      .select(col("vec_id"),
        Vectors.hyperplaneSignature(col("embedding"), nBits = 60).as("sig")),
      graft.operators.Atomic.resolve(spark, indexDir, "codes"), checkpoint, availableNow)
}
