package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.Text

/** Online per-source heavy hitters — Misra–Gries summaries held as
  * group state over a document stream: `k` counters per source, no
  * matter how many distinct tokens flow past, with the classic
  * deterministic guarantee that after `n` tokens every counter
  * underestimates its token's true count by AT MOST n/(k+1) — so any
  * token with true frequency above n/(k+1) is GUARANTEED present in
  * the summary. The streaming complement of the CMS (q81: estimate any
  * key you name, fixed width) and exact vocabulary (q61: batch truth):
  * this one answers "what are the top tokens right now" from fixed
  * state without naming keys in advance.
  *
  * State per source is ≤ k (token, count) pairs — bounded by
  * construction, the [[SketchStream]] contract. Unlike the HLL
  * register merge, a Misra–Gries fold is ORDER-DEPENDENT in its exact
  * counter values (decrements interleave differently under different
  * row orders), so the spec pins the GUARANTEE — presence of every
  * true heavy hitter and the n/(k+1) error band, which hold under any
  * order, including across a checkpointed restart — never bit-equality
  * with a single-pass run.
  *
  * The per-miss decrement walks the k-entry map (O(k), k a small
  * constant here); a large-k production deployment would index
  * counters by count, but the summary's entire point is k ≪ vocab. */
object HeavyHitterStream {

  final case class TokRow(source: String, token: String)

  /** Per-source state: the Misra–Gries counters + tokens processed. */
  final case class MgState(counters: Map[String, Long], processed: Long,
      updates: Long)

  /** One summary row per surviving counter per batch; `updates` orders
    * snapshots so the read face takes the latest per source. */
  final case class MgSnapshot(source: String, updates: Long, token: String,
      est_count: Long, n_processed: Long)

  private def foldBatch(k: Int)(source: String, rows: Iterator[TokRow],
      state: GroupState[MgState]): Iterator[MgSnapshot] = {
    val prev = state.getOption
    var counters = prev.map(_.counters).getOrElse(Map.empty[String, Long])
    var processed = prev.map(_.processed).getOrElse(0L)
    rows.foreach { r =>
      processed += 1
      counters.get(r.token) match {
        case Some(c) => counters = counters.updated(r.token, c + 1)
        case None if counters.size < k => counters = counters.updated(r.token, 1L)
        case None =>
          counters = counters.flatMap { case (t, c) =>
            if (c > 1) Some(t -> (c - 1)) else None
          }
      }
    }
    val updates = prev.map(_.updates).getOrElse(0L) + 1
    state.update(MgState(counters, processed, updates))
    // an all-miss tail can legally decay EVERY counter to zero (which
    // itself certifies no token exceeds n/(k+1) right now) — publish a
    // sentinel row so the read face still sees a FRESH snapshot for
    // the source instead of serving the previous batch's counters
    if (counters.isEmpty)
      Iterator.single(MgSnapshot(source, updates, "", 0L, processed))
    else counters.iterator.map { case (t, c) =>
      MgSnapshot(source, updates, t, c, processed)
    }
  }

  /** Stateful summary over (source, token) rows; exposed for unit
    * tests of the fold via the same code path the stream runs. */
  def summaryStream(tokens: DataFrame, k: Int = 16): Dataset[MgSnapshot] = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.as[TokRow]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        foldBatch(k))
  }

  /** Token rows from a document frame — shared by the stream face and
    * batch-truth comparisons. */
  def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(Text.tokens(col("text"))).as("token"))

  /** Start the summary over a JSONL document stream into a
    * [[Sink.parquetLog]] of snapshots. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, k: Int = 16,
      availableNow: Boolean = true): StreamingQuery =
    Sink.parquetLog(summaryStream(tokenRows(
        spark.readStream.schema("doc_id LONG, text STRING, source STRING")
          .json(sourceDir)), k),
      outDir, checkpoint, availableNow)

  /** Read face: the latest summary per source from the append log
    * (sentinel rows — an empty summary's freshness marker — included,
    * recognizable as token = "" / est_count = 0). */
  def currentSummary(spark: SparkSession, outDir: String): DataFrame =
    Sink.latest(spark, outDir,
      "source STRING, updates LONG, token STRING, est_count LONG, n_processed LONG",
      "updates", "source")
}
