package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Similarity

/** Streaming ingest for the persisted IVF index — the online face of
  * [[graft.operators.Similarity.buildStoredIvf]]: an embedding stream
  * (a crawl's encoder output) keeps the ANN index fresh, each
  * micro-batch's vectors assigned to their cells under the persisted
  * codebook and landed in the `cells` table, a [[Sink.parquetLog]].
  *
  * Assignment is stateless (a map over literal centroids), so the
  * stream needs no watermark and no state store. The stream owns
  * `cells` (the [[Sink]] ownership rule): found the index with
  * [[graft.operators.Similarity.foundCodebook]] (codebook only), not
  * buildStoredIvf.
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
    Sink.parquetLog(assign(spark.readStream.schema(schema).json(sourceDir), cents),
      graft.operators.Atomic.resolve(spark, indexDir, "cells"), checkpoint, availableNow)
  }

  private def assign(stream: DataFrame,
      cents: Array[(Long, Array[Float])]): DataFrame =
    Similarity.assignCells(stream, cents)
}
