package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Sketches

/** Online token-length quantile tracking — the STREAMING face of
  * [[Sketches.logQuantiles]]: documents arrive on a stream and each
  * micro-batch folds into a per-source log₂-bucket histogram held as
  * group state, emitting fresh p25/50/75/90 rows per source per batch.
  *
  * State per source is a FIXED 64-long bucket array no matter how many
  * documents flow past; the fold is count addition — associative and
  * commutative, so delivery ORDER never changes the answer. Unlike the
  * HLL register max it is NOT idempotent: a replayed batch would
  * double-count, so effectively-once rides the same contract as every
  * counting stream here — checkpointed source offsets + the parquet
  * file sink's `_spark_metadata` commit log (a batch that re-runs
  * after a crash lands on the same epoch, not twice).
  *
  * Bucketing shares [[Sketches.bucketRows]]'s exact expressions and
  * the probe/rank/midpoint arithmetic is the integer form of
  * [[Sketches.quantilesFromHistogram]], so the stream's final rows
  * equal the batch sketch bit-for-bit once the same documents have
  * flowed through (QuantileStreamSpec asserts equality, including
  * across a checkpoint restart). */
object QuantileStream {

  /** One bucket observation per document. */
  final case class BucketRow(source: String, b: Int)

  /** Per-source state: counts per log₂ bucket (token counts are long,
    * so 64 buckets cover every value) + how many batches folded. */
  final case class QHist(counts: Array[Long], updates: Long)

  /** One emitted quantile row; `updates` orders snapshots so the read
    * face can take the latest per source. */
  final case class QSnapshot(source: String, updates: Long, p: Int,
      bucket: Int, est_tokens: Long)

  private def foldBatch(source: String, rows: Iterator[BucketRow],
      state: GroupState[QHist]): Iterator[QSnapshot] = {
    val prev = state.getOption
    val counts = prev.map(_.counts.clone()).getOrElse(new Array[Long](64))
    rows.foreach(r => counts(r.b) += 1)
    val updates = prev.map(_.updates).getOrElse(0L) + 1
    state.update(QHist(counts, updates))
    val total = counts.sum
    Iterator.from(Sketches.QuantilePs.iterator).map { p =>
      // integer percentile_disc rank, then the first bucket whose
      // running count reaches it — quantilesFromHistogram's arithmetic
      val r = (p.toLong * total + 99) / 100
      var b = 0
      var cum = counts(0)
      while (cum < r && b < 63) { b += 1; cum += counts(b) }
      QSnapshot(source, updates, p, b, (3 * (1L << b) - 1) / 2)
    }
  }

  /** Stateful sketch over bucket rows; exposed for batch-mode unit
    * tests of the fold via the same code path. */
  def quantileStream(buckets: DataFrame): Dataset[QSnapshot] = {
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets.as[BucketRow]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldBatch)
  }

  /** Start the sketch over a JSONL document stream (`doc_id`, `text`,
    * `source`) into a [[Sink.parquetLog]] of snapshots. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(quantileStream(Sketches.bucketRows(
        spark.readStream.schema("doc_id LONG, text STRING, source STRING").json(sourceDir))),
      outDir, checkpoint, availableNow)

  /** Read face: the latest quantile rows per source from the append
    * log, shaped like [[Sketches.logQuantiles]]' output. */
  def currentQuantiles(spark: SparkSession, outDir: String): DataFrame =
    Sink.latest(spark, outDir,
        "source STRING, updates LONG, p INT, bucket INT, est_tokens LONG",
        "updates", "source", "p")
      .drop("updates")
}
