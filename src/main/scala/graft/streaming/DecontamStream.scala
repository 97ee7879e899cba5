package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables
import graft.functions.{SetCard, Text}

/** Streaming eval-set decontamination — the online face of
  * [[graft.operators.Dedup.decontaminate]] (q56): a crawl's document
  * stream is scored against the benchmark/eval shingle set AT INGEST,
  * so contaminated documents are quarantined before they ever reach
  * the training corpus, instead of by a later batch sweep.
  *
  * Shape: the eval k-shingle hash set folds to ONE sorted array
  * literal (eval sets are benchmark-sized by nature — thousands of
  * documents — so this is the decontamination analogue of the IVF
  * codebook fold), and each incoming document's n_hits is the
  * codegen'd sorted-intersect kernel ([[SetCard]]) over its own
  * distinct shingle hashes — a stateless per-row map: no shuffle, no
  * watermark, no state store; the scored log is a [[Sink.parquetLog]],
  * so a restart never re-scores a committed batch. The identical
  * [[score]] runs on a batch frame —
  * batch↔stream parity with the q56 operator is spec-pinned.
  */
object DecontamStream {

  /** Crawl-output shape: id + source + raw text. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Distinct k-shingle hashes of the corpus's eval slice
    * (doc_id % evalMod == 0), sorted for the intersect kernel.
    * Driver-side fold is bounded by the eval set's shingle variety,
    * not the corpus (the q56 batch operator broadcasts the same set). */
  def evalHashes(spark: SparkSession, corpusDir: String, k: Int = 4,
      evalMod: Int = 10): Array[Long] =
    Tables(spark, corpusDir, "documents")
      .filter(col("doc_id") % evalMod === 0)
      .select(explode(array_distinct(transform(Text.shingles(col("text"), k),
        s => Text.md5Hash60(s)))).as("hsh"))
      .distinct().orderBy("hsh").collect().map(_.getLong(0))

  /** Stateless scoring: per document, n_hits = |own shingles ∩ eval|
    * through the sorted-intersect codegen kernel against the literal
    * array (one `Literal`, not one expression per element). Works
    * identically on a batch or streaming frame. */
  def score(docs: DataFrame, eval: Array[Long], k: Int = 4,
      minHits: Int = 2): DataFrame =
    docs.select(col("doc_id"), col("source"),
      SetCard.sortedIntersectCard(
        sort_array(array_distinct(transform(Text.shingles(col("text"), k),
          s => Text.md5Hash60(s)))),
        lit(eval)).cast("long").as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)

  /** Explicit-schema read of a scored log — total on an outDir the
    * stream has not committed to yet (engine snapshot face). */
  def currentScores(spark: SparkSession, outDir: String): DataFrame =
    spark.read
      .schema("doc_id LONG, source STRING, n_hits LONG, contaminated BOOLEAN")
      .parquet(outDir)

  /** JSON document stream → scored parquet log; the quarantine face is
    * the `contaminated` column (downstream curation left-anti-joins
    * it), the pass-through face is everything else — one log, one
    * commit history. */
  def start(spark: SparkSession, corpusDir: String, sourceDir: String,
      outDir: String, checkpoint: String, availableNow: Boolean = true,
      k: Int = 4, minHits: Int = 2, evalMod: Int = 10): StreamingQuery = {
    val eval = evalHashes(spark, corpusDir, k, evalMod)
    Sink.parquetLog(score(spark.readStream.schema(schema).json(sourceDir), eval, k, minHits),
      outDir, checkpoint, availableNow)
  }
}
