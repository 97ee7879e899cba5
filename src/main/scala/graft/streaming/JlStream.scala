package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Streaming ingest for the persisted JL projection index — the
  * online face of [[graft.operators.Similarity.foundJlIndex]]: an
  * embedding stream keeps the 8·outDims-byte serving tier fresh, each
  * micro-batch projected and cell-assigned under the persisted
  * codebook (a stateless map over literal signs and centroids — no
  * watermark, no state store) and landed in `jlproj` through the file
  * sink. Exactly-once comes from `_spark_metadata`; the commit log
  * means THIS STREAM OWNS `jlproj` — found with
  * [[graft.operators.Similarity.foundJlCodebook]] (codebook only);
  * batch appends and compaction refuse it ([[graft.operators.Atomic]]).
  * Probes
  * ([[graft.operators.Similarity.jlIvfAgainstStoredIndex]]) read
  * either form identically. The codebook loads once at stream start:
  * immutable after founding, like the IVF stream's. */
object JlStream {

  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Similarity.jlAssignUnderStored(spark,
        spark.readStream.schema(IvfStream.schema).json(sourceDir), indexDir)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path",
        graft.operators.Atomic.resolve(spark, indexDir, "jlproj"))
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("1 second"))
      .start()
}
