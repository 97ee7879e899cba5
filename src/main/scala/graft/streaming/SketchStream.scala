package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Sketches

/** Online distinct-count tracking — the STREAMING face of
  * [[Sketches.hllDistinctTokens]]: documents arrive on a stream and
  * each micro-batch folds into per-source HyperLogLog registers held
  * as group state, emitting a fresh estimate row per source per batch.
  *
  * This is the sketch's whole point at stream scale: state per source
  * is a FIXED 256 bytes no matter how many tokens flow past, and the
  * merge is register-wise max — associative, commutative, idempotent —
  * so replayed batches (at-least-once sources) cannot inflate the
  * estimate the way a streaming `count(distinct)`'s set union would
  * grow without bound.
  *
  * Register construction shares [[Sketches.registerRows]]'s exact
  * expressions and the estimate shares [[Sketches.estimateScalar]], so
  * the stream's final answer equals the batch sketch BIT-FOR-BIT once
  * the same documents have flowed through (SketchStreamSpec asserts
  * equality, including across a checkpoint restart). */
object SketchStream {

  /** One register observation (reg is long-typed: `pmod` of a 60-bit
    * hash stays LongType in the shared expressions). */
  final case class RegRow(source: String, reg: Long, rho: Int)

  /** Per-source state: 256 register bytes + how many batches folded. */
  final case class HllRegs(regs: Array[Byte], updates: Long)

  /** One emitted estimate row; `updates` orders snapshots so the read
    * face can take the latest per source. */
  final case class HllSnapshot(source: String, updates: Long, m_hit: Long,
      est_distinct: Double)

  private def foldBatch(source: String, rows: Iterator[RegRow],
      state: GroupState[HllRegs]): Iterator[HllSnapshot] = {
    val prev = state.getOption
    val regs = prev.map(_.regs.clone()).getOrElse(new Array[Byte](Sketches.HllRegisters))
    rows.foreach { r =>
      val i = r.reg.toInt
      if (r.rho > regs(i)) regs(i) = r.rho.toByte
    }
    val updates = prev.map(_.updates).getOrElse(0L) + 1
    state.update(HllRegs(regs, updates))
    var mHit = 0
    var sumpow = 0L
    var i = 0
    while (i < regs.length) {
      if (regs(i) > 0) { mHit += 1; sumpow += 1L << (53 - regs(i)) }
      i += 1
    }
    Iterator.single(HllSnapshot(source, updates, mHit.toLong,
      Sketches.estimateScalar(mHit, sumpow)))
  }

  /** Stateful sketch over register rows; exposed for batch-mode unit
    * tests of the fold via the same code path. */
  def sketchStream(registers: DataFrame): Dataset[HllSnapshot] = {
    val spark = registers.sparkSession
    import spark.implicits._
    registers.as[RegRow]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(foldBatch)
  }

  /** Start the sketch over a JSONL document stream (`doc_id`, `text`,
    * `source`) into a [[Sink.parquetLog]] of snapshots. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(sketchStream(Sketches.registerRows(
        spark.readStream.schema("doc_id LONG, text STRING, source STRING").json(sourceDir))),
      outDir, checkpoint, availableNow)

  /** Read face: the latest snapshot per source from the append log. */
  def currentEstimates(spark: SparkSession, outDir: String): DataFrame =
    Sink.latest(spark, outDir,
      "source STRING, updates LONG, m_hit LONG, est_distinct DOUBLE", "updates", "source")
}
