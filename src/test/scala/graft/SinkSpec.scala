package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.{AvailableNowTrigger, ProcessingTimeTrigger}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.streaming.{CdcPipeline, KvPipeline, Sink}

/** The stream sink module: the trigger each sink shape starts with, and
  * the one latest-per-key read over a snapshot log. */
class SinkSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The trigger `q` was started with; stops `q`. */
  private def triggerOf(q: StreamingQuery) =
    try q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
    finally q.stop()

  test("trigger: AvailableNow when draining, else the rider or the replication cadence") {
    val src = tmp("sink-src")
    def stream = spark.readStream.schema("k LONG").json(src)
    Seq(true -> AvailableNowTrigger, false -> ProcessingTimeTrigger(1000L)).foreach {
      case (availableNow, want) =>
        assert(triggerOf(Sink.parquetLog(stream, tmp("sink-out"), tmp("sink-ckpt"),
          availableNow)) == want)
        assert(triggerOf(Sink.memoryTable(stream, s"sink_spec_$availableNow", "append",
          availableNow)) == want)
        assert(triggerOf(Sink.foreachBatch(stream, tmp("sink-ckpt"), availableNow)(
          (_, _) => ())) == want)
    }
    val cdc = CdcPipeline.Config(src, tmp("sink-cdc"), tmp("sink-ckpt"), tmp("sink-dlq"))
    val kv = KvPipeline.Config(src, tmp("sink-kv"), tmp("sink-ckpt"), tmp("sink-dlq"))
    assert(triggerOf(CdcPipeline.start(spark, cdc, availableNow = false)) ==
      ProcessingTimeTrigger(2000L))
    assert(triggerOf(KvPipeline.start(spark, kv, availableNow = false)) ==
      ProcessingTimeTrigger(2000L))
    assert(triggerOf(CdcPipeline.start(spark, cdc.copy(checkpointDir = tmp("sink-ckpt")))) ==
      AvailableNowTrigger)
  }

  private def writeLog(schema: String, rows: Row*): String = {
    val dir = tmp("sink-log")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL(schema))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("latest keeps every row of a key's newest multi-row snapshot") {
    val schema = "source STRING, updates LONG, token STRING, est_count LONG, n_processed LONG"
    val log = writeLog(schema,
      Row("a", 1L, "x", 3L, 4L), Row("a", 1L, "y", 1L, 4L),
      Row("a", 2L, "x", 4L, 9L), Row("a", 2L, "z", 2L, 9L), Row("a", 2L, "w", 1L, 9L),
      Row("b", 1L, "x", 1L, 1L), Row("b", 3L, "", 0L, 5L))
    val got = Sink.latest(spark, log, schema, "updates", "source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.sorted.toSeq == Seq(
      ("a", 2L, "w", 1L, 9L), ("a", 2L, "x", 4L, 9L), ("a", 2L, "z", 2L, 9L),
      ("b", 3L, "", 0L, 5L)))
  }

  test("latest keeps one row per composite key of a one-row snapshot") {
    val schema = "source STRING, updates LONG, p INT, bucket INT, est_tokens LONG"
    // (b, 50) was last emitted at update 1, before (b, 25)'s update 2:
    // each key's own newest row wins, not the source's newest update
    val log = writeLog(schema,
      Row("a", 1L, 25, 3, 11L), Row("a", 1L, 50, 4, 23L),
      Row("a", 2L, 25, 4, 23L), Row("a", 2L, 50, 5, 47L),
      Row("b", 1L, 25, 1, 2L), Row("b", 1L, 50, 2, 5L), Row("b", 2L, 25, 2, 5L))
    val got = Sink.latest(spark, log, schema, "updates", "source", "p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(got.sorted.toSeq == Seq(
      ("a", 2L, 25, 4, 23L), ("a", 2L, 50, 5, 47L),
      ("b", 1L, 50, 2, 5L), ("b", 2L, 25, 2, 5L)))
  }
}
