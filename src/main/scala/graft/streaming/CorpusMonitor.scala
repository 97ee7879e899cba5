package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.Text

/** Streaming corpus-quality monitor — [[graft.operators.TextOps.corpusStats]]
  * as a continuous aggregation over a document INGEST stream: each
  * arriving batch folds into running per-source sums, so the curation
  * report is always current without ever re-scanning the corpus. This
  * is the reference's row-count monitoring posture (pkg/utils/monitor.go
  * periodic counts + alerts) applied to the corpus pipeline: watch the
  * stream, not the table.
  *
  * State shape: one aggregation row per SOURCE — state is bounded by
  * source cardinality, not corpus size, so no watermark is needed and
  * the aggregation never evicts (the running totals are the product).
  * All metrics are algebraic (count/sum), so partial aggregation
  * combines map-side and the update log carries one row per changed
  * source per trigger.
  */
object CorpusMonitor {

  /** Ingest schema = the documents table's columns (JSONL batches). */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Running per-source sums over a document stream. Sums, not
    * averages: averages of a growing population are not mergeable
    * across triggers, the sums they derive from are. */
  def runningStats(stream: DataFrame): DataFrame =
    stream
      .select(col("source"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"),
        (Text.langId(col("text")) === "en").cast("long").as("is_en"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("quality")).as("sum_quality"),
        sum(col("is_en")).as("n_en"))

  /** Start the monitor over a JSONL document stream into the
    * [[Sink.memoryTable]] update log `queryName`. Update mode: each trigger emits only
    * the sources whose stats changed; [[currentStats]] is the snapshot
    * face. */
  def start(spark: SparkSession, sourceDir: String, queryName: String,
      availableNow: Boolean = true): StreamingQuery =
    Sink.memoryTable(runningStats(spark.readStream.schema(schema).json(sourceDir)),
      queryName, "update", availableNow)

  /** Snapshot face over the update log, shaped exactly like the batch
    * [[graft.operators.TextOps.corpusStats]] report. The log holds one
    * row per (source, trigger-that-changed-it); the live row per source
    * is the one with the highest n_docs (running counts only grow, and
    * equal counts imply identical state rows). */
  def currentStats(spark: SparkSession, queryName: String): DataFrame =
    spark.table(queryName)
      .groupBy(col("source"))
      .agg(max(struct(col("n_docs"), col("total_tokens"), col("sum_quality"),
        col("n_en"))).as("s"))
      .select(col("source"), col("s.n_docs").as("n_docs"),
        col("s.total_tokens").as("total_tokens"),
        round(col("s.total_tokens").cast("double") / col("s.n_docs"), 2).as("avg_tokens"),
        round(col("s.sum_quality") / col("s.n_docs"), 4).as("avg_quality"),
        round(col("s.n_en").cast("double") / col("s.n_docs"), 4).as("en_frac"))

  /** Alert face: sources whose running mean quality sits below the
    * floor — the feed for a `quality_drop` alert hook, mirroring the
    * engine's count-mismatch alerts. */
  def lowQualitySources(spark: SparkSession, queryName: String,
      minAvgQuality: Double): DataFrame =
    currentStats(spark, queryName)
      .filter(col("avg_quality") < minAvgQuality)
      .select(col("source"), col("avg_quality"), col("n_docs"))
}
