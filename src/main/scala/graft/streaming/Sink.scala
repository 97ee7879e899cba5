package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, rank}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one way a stream starts here: every streaming face hands its
  * frame to one of three sink shapes — an append [[parquetLog]], an
  * in-memory [[memoryTable]], or a [[foreachBatch]] apply — and every
  * snapshot log is read back through [[latest]]. The sink contract,
  * stated once:
  *
  *  - '''Cadence.''' `availableNow = true` drains every input pending
  *    at start and stops (tests, batch catch-up); otherwise the query
  *    fires on a fixed processing-time cadence: [[RiderCadence]] for the
  *    monitoring riders, [[ReplicationCadence]] — the reference's flush
  *    timer (mongodb.go:698-699) — for CDC and KV replication.
  *  - '''Exactly-once.''' A [[parquetLog]] commits each micro-batch in
  *    the file sink's `_spark_metadata` log beside its data: readers see
  *    only committed files, and a batch re-run after a crash (written,
  *    not yet committed in the checkpoint) lands as the same epoch, not
  *    twice. A [[foreachBatch]] re-run gets the same batch id, so its
  *    apply function must be idempotent per batch; each caller says how.
  *  - '''Checkpoint restart.''' Source offsets, the commit log and
  *    operator state live in the checkpoint: a query restarted on the
  *    same checkpoint resumes after its last committed batch, state
  *    included. A [[memoryTable]] has no checkpoint — an inspection face
  *    that does not survive the process.
  *  - '''Ownership.''' A [[parquetLog]] owns its directory: the commit log
  *    sits at a fixed path, so a log that lands in a store child
  *    resolves the child's committed version once at start, and batch
  *    appends and compaction refuse the child from then on
  *    ([[graft.operators.Atomic]]'s stream-ownership rule). */
object Sink {

  /** Cadence of the monitoring riders. */
  val RiderCadence = "1 second"

  /** Cadence of CDC and KV replication. */
  val ReplicationCadence = "2 seconds"

  private def trigger(availableNow: Boolean, cadence: String): Trigger =
    if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(cadence)

  /** Append every row of `stream` to the parquet log at `path`. */
  def parquetLog(stream: Dataset[_], path: String, checkpoint: String,
      availableNow: Boolean): StreamingQuery =
    stream.toDF().writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger(availableNow, RiderCadence))
      .start()

  /** Keep `stream`'s output in the in-memory table `queryName`; in
    * "update" mode the table is an update log, read through its
    * stream's snapshot face. */
  def memoryTable(stream: DataFrame, queryName: String, outputMode: String,
      availableNow: Boolean): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .format("memory")
      .trigger(trigger(availableNow, RiderCadence))
      .start()

  /** Hand each micro-batch and its id to `apply`. */
  def foreachBatch(stream: DataFrame, checkpoint: String, availableNow: Boolean,
      cadence: String = RiderCadence, queryName: Option[String] = None)(
      apply: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream
    queryName.foreach(w.queryName)
    w.option("checkpointLocation", checkpoint)
      .trigger(trigger(availableNow, cadence))
      .foreachBatch(apply)
      .start()
  }

  /** A JSON file stream whose micro-batch admits at most
    * `maxBytesPerTrigger` bytes when set, else `maxFilesPerTrigger`
    * files — the reference's batch controller (mongodb.go:256-258).
    * Spark's file source honours one cap; the byte cap tracks memory,
    * which is what the controller protects, so it wins. */
  def admittedJson(spark: SparkSession, schema: StructType, dir: String,
      maxFilesPerTrigger: Int, maxBytesPerTrigger: Option[Long]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxBytesPerTrigger match {
      case Some(b) => reader.option("maxBytesPerTrigger", b)
      case None    => reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    }
    reader.json(dir)
  }

  /** The newest snapshot per key of the parquet snapshot log at `dir`,
    * read with `schema`: every row whose `order` is its key's highest. A snapshot of several rows
    * per key (a summary) comes back whole; a one-row snapshot, whose
    * (key, `order`) is unique, as one row. */
  def latest(spark: SparkSession, dir: String, schema: String, order: String,
      keys: String*): DataFrame =
    spark.read.schema(schema).parquet(dir)
      .withColumn("_rank", rank().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(order).desc)))
      .filter(col("_rank") === 1)
      .drop("_rank")
}
