package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Upsert}
import graft.streaming.{CdcPipeline, ChangeEvents, Guardian}

/** ST10 (bounded DLQ retry) + S3 (restart guardian) coverage, including
  * real failure injection into the merge path. */
class GuardianDlqSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_dlq").toString

  private def normalize(df: DataFrame): Set[(Long, Double, Long)] =
    graft.operators.Upsert.liveRows(df)
      .select(col("key").cast("long"), col("value"), col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  /** Make targetDir unusable: a regular FILE at the path makes both the
    * parquet read and the directory creation in the merge throw. */
  private def breakTarget(targetDir: String): Unit =
    Files.write(Paths.get(targetDir), Array[Byte](1, 2, 3))

  private def fixTarget(targetDir: String): Unit =
    Files.deleteIfExists(Paths.get(targetDir))

  test("failed batch lands in the DLQ with retry count 0 and the stream commits") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)
    breakTarget(cfg.targetDir)

    CdcPipeline.start(spark, cfg).awaitTermination()

    val dlq = spark.read.json(s"${cfg.dlqDir}/batch_0")
    assert(dlq.count() > 0)
    assert(dlq.agg(max("dlq_retry_count")).head().getLong(0) == 0L)
    assert(dlq.select("dlq_error").head().getString(0) != null)

    // the failed batch was COMMITTED: a restart with no new input is a no-op
    fixTarget(cfg.targetDir)
    CdcPipeline.start(spark, cfg).awaitTermination()
    assert(!Files.exists(Paths.get(cfg.targetDir))) // nothing re-applied by the stream
  }

  test("DLQ retry applies parked batches, clears them, and bounds attempts") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq", maxDlqAttempts = 3)
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)
    breakTarget(cfg.targetDir)
    CdcPipeline.start(spark, cfg).awaitTermination()

    // target still broken: each pass fails and bumps the retry count —
    // failing-but-retryable passes do NOT alert …
    val alerts = new graft.streaming.Alerts.Buffer
    assert(CdcPipeline.retryDlq(spark, cfg, alerts) == CdcPipeline.DlqStats(failed = 1))
    assert(CdcPipeline.retryDlq(spark, cfg, alerts) == CdcPipeline.DlqStats(failed = 1))
    assert(CdcPipeline.retryDlq(spark, cfg, alerts) == CdcPipeline.DlqStats(failed = 1))
    assert(alerts.drain().isEmpty)
    // … until the batch is parked for good (reference maxRetryAttempts),
    // which fires the park alert (mongodb.go:1311-1408 → slack.go) and
    // renames it out of the retry set, data retained for manual replay
    assert(CdcPipeline.retryDlq(spark, cfg, alerts) == CdcPipeline.DlqStats(parked = 1))
    val fired = alerts.drain()
    assert(fired.map(_.kind) == Seq("dlq_parked") && fired.head.source == cfg.dlqDir)
    assert(!Files.exists(Paths.get(s"${cfg.dlqDir}/batch_0")))
    assert(spark.read.json(s"${cfg.dlqDir}/parked_0")
      .agg(max("dlq_retry_count")).head().getLong(0) == 3L)
    // parked batches cost nothing on later passes: no stats, NO re-alert
    assert(CdcPipeline.retryDlq(spark, cfg, alerts) == CdcPipeline.DlqStats())
    assert(alerts.drain().isEmpty)

    // fresh DLQ cycle with a healthy target: retry applies and CLEARS the queue
    val cfg2 = cfg.copy(checkpointDir = s"$root/ckpt2", dlqDir = s"$root/dlq2")
    CdcPipeline.start(spark, cfg2).awaitTermination() // target still broken → DLQ'd
    fixTarget(cfg.targetDir)
    assert(CdcPipeline.retryDlq(spark, cfg2) == CdcPipeline.DlqStats(succeeded = 1))
    assert(!Files.exists(Paths.get(s"${cfg2.dlqDir}/batch_0"))) // consumed
    val got = normalize(Upsert.readTarget(spark, cfg.targetDir))
    val want = normalize(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
    assert(got == want)
    // second pass: nothing left to do
    assert(CdcPipeline.retryDlq(spark, cfg2) == CdcPipeline.DlqStats())
  }

  test("a stale DLQ replay cannot regress keys already advanced by newer batches") {
    import spark.implicits._
    val tgt = tmp() + "/target"
    def mkBatch(rows: (String, Long, Double, Long, String, Long)*) =
      rows.toSeq.toDF("op", "key", "value", "k", "ts_s", "offset")
        .select(col("op"), col("key"), struct(col("value"), col("k")).as("after"),
          col("ts_s").cast("timestamp").as("ts"), col("offset"))
    val older = mkBatch( // the batch that failed and sat in the DLQ
      ("update", 1L, 10.0, 1L, "2024-01-01 00:00:00", 1L),
      ("insert", 5L, 50.0, 5L, "2024-01-01 00:00:00", 2L),
      ("delete", 7L, 0.0, 0L, "2024-01-01 00:00:00", 3L))
    val newer = mkBatch( // applied by the live stream in the meantime
      ("update", 1L, 99.0, 9L, "2024-02-01 00:00:00", 10L),
      ("insert", 7L, 70.0, 7L, "2024-02-01 00:00:00", 11L))
    graft.operators.Upsert.mergeIntoParquet(spark, tgt, newer, "key")
    graft.operators.Upsert.mergeIntoParquet(spark, tgt, older, "key") // the late retry
    // the stale update must not regress key 1; the stale delete must not
    // kill the later re-created key 7; the DLQ-only insert still lands
    assert(normalize(Upsert.readTarget(spark, tgt)) ==
      Set((1L, 99.0, 9L), (7L, 70.0, 7L), (5L, 50.0, 5L)))

    // same-second CDC timestamps: recency falls back to the persisted
    // change position, so a ts-tied lower-offset retry is still stale —
    // and re-applying the SAME op (equal ts AND offset) stays idempotent
    val tieStale = mkBatch(("update", 1L, 11.0, 1L, "2024-02-01 00:00:00", 4L)) // offset 4 < 10
    graft.operators.Upsert.mergeIntoParquet(spark, tgt, tieStale, "key")
    val replaySame = mkBatch(("update", 1L, 99.0, 9L, "2024-02-01 00:00:00", 10L))
    graft.operators.Upsert.mergeIntoParquet(spark, tgt, replaySame, "key")
    assert(normalize(Upsert.readTarget(spark, tgt)) ==
      Set((1L, 99.0, 9L), (7L, 70.0, 7L), (5L, 50.0, 5L)))
  }

  test("tombstones: a stale DLQ retry cannot resurrect a deleted key; sweep reclaims them") {
    import spark.implicits._
    val tgt = tmp() + "/target"
    def mkBatch(rows: (String, Long, Double, Long, String, Long)*) =
      rows.toSeq.toDF("op", "key", "value", "k", "ts_s", "offset")
        .select(col("op"), col("key"), struct(col("value"), col("k")).as("after"),
          col("ts_s").cast("timestamp").as("ts"), col("offset"))
    // live history: key 9 created, then DELETED by a newer batch
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("insert", 9L, 90.0, 9L, "2024-01-01 00:00:00", 1L)), "key")
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("delete", 9L, 0.0, 0L, "2024-03-01 00:00:00", 20L)), "key")
    // the DLQ retries an OLDER upsert of the same key — before
    // tombstones this was the documented resurrect window
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("update", 9L, 91.0, 9L, "2024-02-01 00:00:00", 10L)), "key")
    assert(normalize(Upsert.readTarget(spark, tgt)) == Set.empty)
    val guard = Upsert.readTarget(spark, tgt).filter(col("deleted"))
    assert(guard.select("key").collect().map(_.getLong(0)).toSet == Set(9L))
    // replaying the delete itself (equal recency) keeps the tombstone
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("delete", 9L, 0.0, 0L, "2024-03-01 00:00:00", 20L)), "key")
    assert(Upsert.readTarget(spark, tgt).filter(col("deleted")).count() == 1)
    // a genuinely NEWER upsert re-creates the key over the tombstone
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("insert", 9L, 99.0, 9L, "2024-04-01 00:00:00", 30L)), "key")
    assert(normalize(Upsert.readTarget(spark, tgt)) == Set((9L, 99.0, 9L)))
    assert(Upsert.readTarget(spark, tgt).filter(col("deleted")).count() == 0)

    // sweep: delete again, then reclaim — tombstone gone, bucket dir too
    // (key 9 was this target's only key, so its bucket has no live rows)
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("delete", 9L, 0.0, 0L, "2024-05-01 00:00:00", 40L)), "key")
    assert(graft.operators.Upsert.sweepTombstones(spark, tgt) == 1)
    // the only key is gone → the whole target dir is reclaimed (a
    // file-less parquet dir would be unreadable), and a fresh merge
    // recreates it from the batch schema
    assert(!Files.exists(Paths.get(tgt)))
    assert(graft.operators.Upsert.sweepTombstones(spark, tgt) == 0)
    graft.operators.Upsert.mergeIntoParquet(spark, tgt,
      mkBatch(("insert", 9L, 1.0, 1L, "2024-06-01 00:00:00", 50L)), "key")
    assert(normalize(Upsert.readTarget(spark, tgt)) == Set((9L, 1.0, 1L)))
  }

  test("DLQ orphan sweep: stale tmp beside a surviving batch dir is dropped") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)
    breakTarget(cfg.targetDir)
    CdcPipeline.start(spark, cfg).awaitTermination() // parks batch_0

    // crash window A: tmp written, original rewritten — tmp is a stale
    // duplicate that must be dropped, and the original retried
    val tmpDir = Paths.get(s"${cfg.dlqDir}/batch_0.tmp")
    Files.createDirectories(tmpDir)
    Files.write(tmpDir.resolve("junk.json"), "{\"not\":\"an event\"}".getBytes)

    fixTarget(cfg.targetDir)
    assert(CdcPipeline.retryDlq(spark, cfg) == CdcPipeline.DlqStats(succeeded = 1))
    assert(!Files.exists(tmpDir))                            // stale tmp swept
    assert(!Files.exists(Paths.get(s"${cfg.dlqDir}/batch_0"))) // batch consumed
    val got = normalize(Upsert.readTarget(spark, cfg.targetDir))
    val want = normalize(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
    assert(got == want)
  }

  test("DLQ orphan sweep: tmp holding the only copy is renamed back and retried") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)
    breakTarget(cfg.targetDir)
    CdcPipeline.start(spark, cfg).awaitTermination() // parks batch_0

    // crash window B: original deleted, rename to batch_0 never happened —
    // batch_0.tmp holds the ONLY copy of the parked events
    Files.move(Paths.get(s"${cfg.dlqDir}/batch_0"), Paths.get(s"${cfg.dlqDir}/batch_0.tmp"))

    fixTarget(cfg.targetDir)
    assert(CdcPipeline.retryDlq(spark, cfg) == CdcPipeline.DlqStats(succeeded = 1))
    assert(!Files.exists(Paths.get(s"${cfg.dlqDir}/batch_0.tmp")))
    assert(!Files.exists(Paths.get(s"${cfg.dlqDir}/batch_0")))
    val got = normalize(Upsert.readTarget(spark, cfg.targetDir))
    val want = normalize(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
    assert(got == want)
  }

  test("DLQ retry ignores stray non-batch directories instead of throwing") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    Files.createDirectories(Paths.get(s"${cfg.dlqDir}/batch_abc"))
    Files.createDirectories(Paths.get(s"${cfg.dlqDir}/notes"))
    // pre-fix this threw NumberFormatException on "abc" and poisoned
    // every subsequent DLQ pass
    assert(CdcPipeline.retryDlq(spark, cfg) == CdcPipeline.DlqStats())
    assert(Files.exists(Paths.get(s"${cfg.dlqDir}/batch_abc"))) // untouched
  }

  test("guardian retries recoverable failures with capped exponential backoff") {
    var calls = 0
    var slept = Vector.empty[Long]
    val b = Guardian.Backoff(maxRetries = 10, baseDelayMs = 5000, factor = 1.5, maxDelayMs = 12000)
    val sup = Guardian.run(b, slept :+= _) { () =>
      calls += 1
      if (calls <= 4) throw new RuntimeException("connection reset by peer")
    }
    assert(calls == 5 && sup.attempts == 5)
    assert(slept == Vector(5000L, 7500L, 11250L, 12000L)) // ×1.5, capped
  }

  test("guardian gives up after maxRetries and rethrows") {
    var calls = 0
    val b = Guardian.Backoff(maxRetries = 2, baseDelayMs = 1, maxDelayMs = 10)
    val e = intercept[RuntimeException] {
      Guardian.run(b, _ => ()) { () => calls += 1; throw new RuntimeException("i/o timeout") }
    }
    assert(e.getMessage.contains("timeout"))
    assert(calls == 3) // initial + 2 retries
  }

  test("guardian does not retry fatal errors") {
    var calls = 0
    intercept[IllegalStateException] {
      Guardian.run(Guardian.Backoff(), _ => fail("should not sleep")) { () =>
        calls += 1; throw new IllegalStateException("schema mismatch: key column missing")
      }
    }
    assert(calls == 1)
  }

  test("guardian classifies nested causes") {
    val nested = new RuntimeException("stream failed",
      new java.io.IOException("broken pipe"))
    assert(Guardian.isRecoverable(nested))
    assert(!Guardian.isRecoverable(new RuntimeException("bad config")))
  }

  test("supervised stream resumes from the checkpoint across restarts") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)

    // first attempt fails before the query even starts (transient), the
    // guardian restarts and the second attempt drains to completion
    var attempt = 0
    val sup = Guardian.superviseStream(Guardian.Backoff(baseDelayMs = 1), _ => ()) { () =>
      attempt += 1
      if (attempt == 1) throw new RuntimeException("connection refused")
      CdcPipeline.start(spark, cfg)
    }
    assert(sup.attempts == 2)
    val got = normalize(Upsert.readTarget(spark, cfg.targetDir))
    val want = normalize(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
    assert(got == want)
  }
}
