package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming ingest for the persisted JL projection index — the
  * online face of [[graft.operators.Similarity.foundJlIndex]]: an
  * embedding stream keeps the 8·outDims-byte serving tier fresh, each
  * micro-batch projected and cell-assigned under the persisted
  * codebook (a stateless map over literal signs and centroids — no
  * watermark, no state store) and landed in `jlproj`, a
  * [[Sink.parquetLog]] the stream owns (the [[Sink]] ownership rule) —
  * found with [[graft.operators.Similarity.foundJlCodebook]] (codebook
  * only). Probes
  * ([[graft.operators.Similarity.jlIvfAgainstStoredIndex]]) read
  * either form identically. The codebook loads once at stream start:
  * immutable after founding, like the IVF stream's. */
object JlStream {

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(Similarity.jlAssignUnderStored(spark,
        spark.readStream.schema(IvfStream.schema).json(sourceDir), indexDir),
      graft.operators.Atomic.resolve(spark, indexDir, "jlproj"), checkpoint, availableNow)
}
