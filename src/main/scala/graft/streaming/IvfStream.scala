package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Similarity

/** Streaming ingest for the persisted IVF index — the online face of
  * [[graft.operators.Similarity.buildStoredIvf]]: an embedding stream
  * (a crawl's encoder output) keeps the ANN index fresh, each
  * micro-batch's vectors assigned to their cells under the persisted
  * codebook and landed in the `cells` table through the file sink.
  *
  * Assignment is stateless (a map over literal centroids), so the
  * stream needs no watermark and no state store; exactly-once comes
  * from the file sink's `_spark_metadata` commit log — a replayed
  * batch overwrites its own commit instead of duplicating rows. The
  * commit log also means THIS STREAM OWNS `cells`: found the index
  * with [[graft.operators.Similarity.foundCodebook]] (codebook only),
  * not buildStoredIvf; batch appends and compaction refuse a streamed
  * `cells` ([[graft.operators.Atomic]]'s stream-ownership rule).
  *
  * The codebook is loaded once at stream start: it is immutable after
  * founding (re-training is an explicit re-founding act that implies
  * re-assigning the corpus), so there is nothing to refresh. */
object IvfStream {

  /** Encoder-output shape: id + unit-norm vector. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** JSON file stream of embeddings → cell assignments appended to
    * `indexDir/cells` under the index's persisted codebook. Probe the
    * growing index with
    * [[graft.operators.Similarity.ivfTopKAgainstStoredIndex]]. */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery = {
    val cents = Similarity.loadCentroids(spark, indexDir)
    assign(spark.readStream.schema(schema).json(sourceDir), cents)
      .writeStream
      .outputMode("append")
      .format("parquet")
      // resolve the marker-committed current version at stream start; a
      // compaction DURING the run still requires a stream restart (the
      // sink's _spark_metadata is per-directory by design)
      .option("path", graft.operators.Atomic.resolve(spark, indexDir, "cells"))
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime("1 second"))
      .start()
  }

  private def assign(stream: DataFrame,
      cents: Array[(Long, Array[Float])]): DataFrame =
    Similarity.assignCells(stream, cents)
}
