package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Upsert}
import graft.streaming.{CdcPipeline, ChangeEvents}

class CdcSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_cdc").toString

  private def normalize(df: DataFrame): Set[(Long, Double, Long)] =
    Upsert.liveRows(df).select(col("user_id").cast("long"), col("value"), col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  test("batch upsert applies last-writer-wins with deletes") {
    import spark.implicits._
    val target = Seq((1L, 10.0, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("key", "value", "k", "updated_at")
    val batch = Seq(
      ("update", 1L, 20.0, 2L, "2024-01-02 00:00:00", 1L),
      ("update", 1L, 30.0, 3L, "2024-01-03 00:00:00", 2L), // later: wins
      ("insert", 2L, 5.0, 9L, "2024-01-02 00:00:00", 3L),
      ("delete", 3L, 0.0, 0L, "2024-01-02 00:00:00", 4L))
      .toDF("op", "key", "value", "k", "ts_s", "offset")
      .select(col("op"), col("key"), struct(col("value"), col("k")).as("after"),
        col("ts_s").cast("timestamp").as("ts"), col("offset"))
    val merged = Upsert.applyBatch(target, batch, "key")
    val out = Upsert.liveRows(merged)
      .select(col("key"), col("value"), col("k")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(out == Set((1L, 30.0, 3L), (2L, 5.0, 9L)))
    // the delete of key 3 left a tombstone guard row, not a removal
    val tomb = merged.filter(col("deleted")).select("key", "value", "k").collect()
    assert(tomb.map(_.getLong(0)).toSet == Set(3L))
    assert(tomb.forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }

  test("additive schema evolution: a new after-field merges; existing rows null-fill; reads stay deterministic") {
    import spark.implicits._
    val tgt = tmp() + "/target"
    val b1 = Seq(("insert", 1L, 10.0, 1L, "2024-01-01 00:00:00", 1L),
        ("insert", 2L, 20.0, 2L, "2024-01-01 00:00:00", 2L))
      .toDF("op", "key", "value", "k", "ts_s", "offset")
      .select(col("op"), col("key"), struct(col("value"), col("k")).as("after"),
        col("ts_s").cast("timestamp").as("ts"), col("offset"))
    Upsert.mergeIntoParquet(spark, tgt, b1, "key")
    // the change schema gains `v2` (the reference recreates target DDL
    // from source); the batch touches only key 2's bucket
    val b2 = Seq(("update", 2L, 21.0, 2L, "x", "2024-01-02 00:00:00", 3L))
      .toDF("op", "key", "value", "k", "v2", "ts_s", "offset")
      .select(col("op"), col("key"),
        struct(col("value"), col("k"), col("v2")).as("after"),
        col("ts_s").cast("timestamp").as("ts"), col("offset"))
    Upsert.mergeIntoParquet(spark, tgt, b2, "key")
    // key 1's bucket was never rewritten (its footer lacks v2), yet the
    // sidecar-pinned read surfaces the column everywhere, null-filled
    val got = Upsert.readTarget(spark, tgt)
      .select("key", "value", "k", "v2").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(got == Set((1L, 10.0, 1L, null), (2L, 21.0, 2L, "x")))
    // a third batch in the WIDE schema merges against the evolved target
    val b3 = Seq(("update", 1L, 11.0, 1L, "y", "2024-01-03 00:00:00", 4L))
      .toDF("op", "key", "value", "k", "v2", "ts_s", "offset")
      .select(col("op"), col("key"),
        struct(col("value"), col("k"), col("v2")).as("after"),
        col("ts_s").cast("timestamp").as("ts"), col("offset"))
    Upsert.mergeIntoParquet(spark, tgt, b3, "key")
    val after = Upsert.readTarget(spark, tgt)
      .select("key", "value", "v2").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(after == Set((1L, 11.0, "y"), (2L, 21.0, "x")))
    // the reverse direction still fails LOUDLY: a change schema that
    // LOST a column must not silently rewrite buckets without it
    val narrow = Seq(("update", 2L, 22.0, "2024-01-04 00:00:00", 5L))
      .toDF("op", "key", "value", "ts_s", "offset")
      .select(col("op"), col("key"), struct(col("value")).as("after"),
        col("ts_s").cast("timestamp").as("ts"), col("offset"))
    intercept[Exception](Upsert.mergeIntoParquet(spark, tgt, narrow, "key"))
  }

  test("streaming pipeline converges to the declarative final state and is restart-idempotent") {
    val src = tmp(); val cfg = CdcPipeline.Config(
      sourceDir = src, targetDir = tmp() + "/target",
      checkpointDir = tmp() + "/ckpt", dlqDir = tmp() + "/dlq")

    // split the change log into 3 "CDC files" by offset ranges (arrival order)
    val changes = ChangeEvents.fromEvents(spark, sf).persist()
    val maxOff = changes.agg(max(col("offset"))).head().getLong(0)
    Seq((0L, maxOff / 3), (maxOff / 3 + 1, 2 * maxOff / 3), (2 * maxOff / 3 + 1, maxOff))
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        changes.filter(col("offset").between(lo, hi))
          .coalesce(1).write.mode("append").json(src)
      }

    CdcPipeline.start(spark, cfg).awaitTermination()
    val got = Upsert.readTarget(spark, cfg.targetDir)
    val want = Cdc.finalState(spark, sf)
    assert(normalize(got.withColumnRenamed("key", "user_id")) == normalize(want))

    // restart with no new input: checkpoint prevents re-processing; state unchanged
    CdcPipeline.start(spark, cfg).awaitTermination()
    val again = Upsert.readTarget(spark, cfg.targetDir)
    assert(normalize(again.withColumnRenamed("key", "user_id")) == normalize(want))

    // replay the FULL log through a fresh checkpoint (simulated duplicate
    // delivery): merge idempotence keeps the state identical
    val cfg2 = cfg.copy(checkpointDir = tmp() + "/ckpt2")
    CdcPipeline.start(spark, cfg2).awaitTermination()
    val replayed = Upsert.readTarget(spark, cfg.targetDir)
    assert(normalize(replayed.withColumnRenamed("key", "user_id")) == normalize(want))
    changes.unpersist()
  }

  test("one micro-batch scans its batch once, fires at most 4 jobs and lists the target on the driver") {
    val src = tmp(); val cfg = CdcPipeline.Config(
      sourceDir = src, targetDir = tmp() + "/target",
      checkpointDir = tmp() + "/ckpt", dlqDir = tmp() + "/dlq")
    // a snapshot spread over every bucket, so the merge reads a target
    // with more partition dirs than Spark's default parallel-listing cutoff
    Upsert.snapshot(spark, spark.range(1000).select(col("id").as("key"),
      (col("id") * 1.5).as("value"), col("id").as("k"),
      lit(null).cast("timestamp").as("updated_at"),
      lit(null).cast("long").as("updated_off")), "key", cfg.targetDir)
    val root = new org.apache.hadoop.fs.Path(cfg.targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(root).count(_.getPath.getName.startsWith("bucket=")) ==
      Upsert.NumBuckets)
    val files = 3; val perFile = 100
    (0 until files).foreach { f =>
      spark.range(perFile).select(lit("update").as("op"),
        ((col("id") * 7 + f) % 1000).as("key"),
        struct((col("id") * 2.0).as("value"), col("id").as("k")).as("after"),
        lit("graft").as("sourceDb"), lit("events").as("sourceTable"),
        (lit(1700000000L) + col("id")).cast("timestamp").as("ts"),
        (col("id") + f * perFile).as("offset"))
        .coalesce(1).write.mode("append").json(src)
    }

    // every job and stage the stream thread starts, keyed by query id;
    // the bus delivers events in order, so once a marker job started
    // after the drain is seen, every start before it has been counted
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    def prop(p: java.util.Properties, k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        prop(e.properties, "sql.streaming.queryId").foreach(jobs.add)
        if (prop(e.properties, "graft.spec.barrier").nonEmpty) barrier.countDown()
      }
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        prop(e.properties, "sql.streaming.queryId")
          .foreach(q => stageTasks.add((q, e.stageInfo.numTasks)))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = CdcPipeline.start(spark, cfg)
      q.awaitTermination()
      spark.sparkContext.setLocalProperty("graft.spec.barrier", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.spec.barrier", null)
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS))
      q
    } finally spark.sparkContext.removeSparkListener(listener)

    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 1)
    // one scan of the batch: the source counts every read of it
    assert(batches.head.numInputRows == files * perFile)
    val id = q.id.toString
    val nJobs = jobs.asScala.count(_ == id)
    assert(nJobs >= 1 && nJobs <= 4, s"$nJobs jobs in one micro-batch")
    // the target's bucket listing never runs as a Spark job
    val tasks = stageTasks.asScala.toSeq.collect { case (`id`, n) => n }
    info(s"$nJobs jobs; tasks per stage: ${tasks.mkString(", ")}")
    assert(!tasks.contains(Upsert.NumBuckets), tasks.mkString(","))
    assert(Upsert.liveRows(Upsert.readTarget(spark, cfg.targetDir)).count() == 1000)
  }

  /** Drain `cfg`'s stream once and count the Spark jobs its stream
    * thread started; the bus delivers events in order, so once a marker
    * job started after the drain is seen, every start before it has
    * been counted. */
  private def drainCountingJobs(cfg: CdcPipeline.Config)
      : (org.apache.spark.sql.streaming.StreamingQuery, Int) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    def prop(p: java.util.Properties, k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        prop(e.properties, "sql.streaming.queryId").foreach(jobs.add)
        if (prop(e.properties, "graft.spec.barrier").nonEmpty) barrier.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = CdcPipeline.start(spark, cfg)
      q.awaitTermination()
      spark.sparkContext.setLocalProperty("graft.spec.barrier", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.spec.barrier", null)
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS))
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    (q, jobs.asScala.count(_ == q.id.toString))
  }

  test("one micro-batch runs exactly one Spark job: the delta write") {
    val src = tmp(); val cfg = CdcPipeline.Config(
      sourceDir = src, targetDir = tmp() + "/target",
      checkpointDir = tmp() + "/ckpt", dlqDir = tmp() + "/dlq")
    Upsert.snapshot(spark, spark.range(1000).select(col("id").as("key"),
      (col("id") * 1.5).as("value"), col("id").as("k"),
      lit(null).cast("timestamp").as("updated_at"),
      lit(null).cast("long").as("updated_off")), "key", cfg.targetDir)
    // three files whose keys repeat within and across files, with
    // updates and deletes: the write resolves nothing per key
    (0 until 3).foreach { f =>
      spark.range(100).select(
        when(col("id") % 10 === 0, lit("delete")).otherwise(lit("update")).as("op"),
        ((col("id") * 7 + f) % 50).as("key"),
        struct((col("id") * 2.0).as("value"), col("id").as("k")).as("after"),
        lit("graft").as("sourceDb"), lit("events").as("sourceTable"),
        (lit(1700000000L) + col("id")).cast("timestamp").as("ts"),
        (col("id") + f * 100).as("offset"))
        .coalesce(1).write.mode("append").json(src)
    }
    val (q, nJobs) = drainCountingJobs(cfg)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 1 && batches.head.numInputRows == 300)
    assert(nJobs == 1, s"$nJobs jobs in one micro-batch")
    // no compaction ran: the batch's 300 change rows sit in one delta
    assert(Upsert.deltaSignature(spark, cfg.targetDir).length == 1)
    // the read fold resolves the repeats: a key is gone iff its newest
    // (ts, offset) event is a delete
    val newest = (for (f <- 0 until 3; id <- 0 until 100)
      yield ((id * 7 + f) % 50L, (id.toLong, id + f * 100L, id % 10 == 0)))
      .groupBy(_._1).map { case (key, es) => key -> es.map(_._2).max._3 }
    val live = Upsert.liveRows(Upsert.readTarget(spark, cfg.targetDir))
      .select("key").collect().map(_.getLong(0)).toSet
    assert(live == (0L until 1000L).toSet -- newest.collect { case (key, true) => key })
  }

  test("DSv2 changelog source: pipeline parity, restart parity, gated resume token") {
    import graft.sources.ChangeLogMicroBatchStream
    val src = tmp(); val cfg = CdcPipeline.Config(
      sourceDir = src, targetDir = tmp() + "/target",
      checkpointDir = tmp() + "/ckpt", dlqDir = tmp() + "/dlq",
      sourceFormat = "changelog")

    // same 3-file arrival-order drop as the file-stream test
    val changes = ChangeEvents.fromEvents(spark, sf).persist()
    val maxOff = changes.agg(max(col("offset"))).head().getLong(0)
    def drop(lo: Long, hi: Long): Unit = {
      changes.filter(col("offset").between(lo, hi))
        .coalesce(1).write.mode("append").json(src)
      Thread.sleep(5) // distinct modification times: arrival order is real
    }
    drop(0L, maxOff / 3)
    drop(maxOff / 3 + 1, 2 * maxOff / 3)

    // no token before any commit
    assert(ChangeLogMicroBatchStream.resumeToken(spark, cfg.checkpointDir).isEmpty)

    CdcPipeline.start(spark, cfg).awaitTermination()
    // the engine commits a batch's source offsets lazily (when the
    // NEXT batch plans), so the token must never run AHEAD of the
    // consumed prefix — ≤ 2 here, exactly 2 once the next run commits
    val tok1 = ChangeLogMicroBatchStream.resumeToken(spark, cfg.checkpointDir)
    assert(tok1.forall(_.n <= 2), tok1.toString)

    // late third drop + RESTART from the same checkpoint: only the new
    // file is planned (offset log), state converges to the batch truth
    drop(2 * maxOff / 3 + 1, maxOff)
    CdcPipeline.start(spark, cfg).awaitTermination()
    val want = Cdc.finalState(spark, sf)
    assert(normalize(Upsert.readTarget(spark, cfg.targetDir)
      .withColumnRenamed("key", "user_id")) == normalize(want))
    val tok2 = ChangeLogMicroBatchStream.resumeToken(spark, cfg.checkpointDir)
    assert(tok2.exists(t => t.n >= 2 && t.n <= 3), tok2.toString)

    // restart with nothing new: no reprocessing, state unchanged; the
    // token stays at the committed prefix (no batch constructs, so the
    // lazy source-commit cannot advance — and must not)
    CdcPipeline.start(spark, cfg).awaitTermination()
    assert(normalize(Upsert.readTarget(spark, cfg.targetDir)
      .withColumnRenamed("key", "user_id")) == normalize(want))
    val tok3 = ChangeLogMicroBatchStream.resumeToken(spark, cfg.checkpointDir)
    assert(tok3.exists(_.n <= 3), tok3.toString)

    // a duplicate re-drop of the last slice: constructing the next
    // batch commits everything before it (token reaches 3), and the
    // idempotent merge makes the duplicate delivery a no-op
    drop(2 * maxOff / 3 + 1, maxOff)
    CdcPipeline.start(spark, cfg).awaitTermination()
    assert(ChangeLogMicroBatchStream.resumeToken(spark, cfg.checkpointDir)
      .exists(_.n >= 3))
    assert(normalize(Upsert.readTarget(spark, cfg.targetDir)
      .withColumnRenamed("key", "user_id")) == normalize(want))

    // the custom source and the generic file stream converge to the
    // SAME state from the same log (cross-source parity)
    val cfgJson = cfg.copy(sourceFormat = "json",
      targetDir = tmp() + "/target_json", checkpointDir = tmp() + "/ckpt_json",
      dlqDir = tmp() + "/dlq_json")
    CdcPipeline.start(spark, cfgJson).awaitTermination()
    assert(normalize(Upsert.readTarget(spark, cfgJson.targetDir)
      .withColumnRenamed("key", "user_id")) == normalize(want))

    // admission control (ST3 parity): capped at one file per trigger,
    // AvailableNow drains the 4-file log in ≥ 4 micro-batches and
    // still converges to the same state
    val cfgCap = cfg.copy(maxFilesPerTrigger = 1,
      targetDir = tmp() + "/target_cap", checkpointDir = tmp() + "/ckpt_cap",
      dlqDir = tmp() + "/dlq_cap")
    CdcPipeline.start(spark, cfgCap).awaitTermination()
    assert(normalize(Upsert.readTarget(spark, cfgCap.targetDir)
      .withColumnRenamed("key", "user_id")) == normalize(want))
    val offsetsDir = new org.apache.hadoop.fs.Path(cfgCap.checkpointDir, "offsets")
    val ofs = offsetsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBatches = ofs.listStatus(offsetsDir)
      .count(s => s.getPath.getName.forall(_.isDigit))
    assert(nBatches >= 4, s"cap ignored: only $nBatches micro-batches")

    // the batch face reads the WHOLE log (bootstrap/backfill): same
    // rows the json reader sees, typed to the canonical schema
    val batchRead = spark.read.format("changelog").load(src)
    assert(batchRead.schema == ChangeEvents.schema)
    val wantRows = spark.read.schema(ChangeEvents.schema).json(src)
      .select("op", "key", "ts", "offset").collect().map(_.toSeq).toSet
    assert(batchRead.select("op", "key", "ts", "offset")
      .collect().map(_.toSeq).toSet == wantRows)
    changes.unpersist()
  }

  test("ignoreDeleteOps keeps last non-delete payload") {
    val src = tmp(); val cfg = CdcPipeline.Config(
      sourceDir = src, targetDir = tmp() + "/target",
      checkpointDir = tmp() + "/ckpt", dlqDir = tmp() + "/dlq",
      ignoreDeleteOps = true)
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(src)
    CdcPipeline.start(spark, cfg).awaitTermination()
    val got = Upsert.readTarget(spark, cfg.targetDir)
    val want = Cdc.finalStateIgnoreDeletes(spark, sf)
    assert(normalize(got.withColumnRenamed("key", "user_id")) == normalize(want))
  }

  test("match stage filters by namespace and operation whitelist") {
    import spark.implicits._
    val df = Seq(
      ("insert", 1L, "graft", "events"),
      ("update", 2L, "graft", "other"),   // wrong table
      ("delete", 3L, "shadow", "events"), // wrong db
      ("invalidate", 4L, "graft", "events")) // op outside whitelist
      .toDF("op", "key", "sourceDb", "sourceTable")
    val kept = ChangeEvents.matchStage(df, "graft", "events")
      .select("key").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("include-table regexes keep any-match, empty list keeps all") {
    import spark.implicits._
    val df = Seq(
      (1L, "app", "orders_2024"), (2L, "app", "users"), (3L, "tmp", "orders_2024"))
      .toDF("key", "sourceDb", "sourceTable")
    val kept = ChangeEvents.includeTables(df, Seq("app\\.orders_.*", "app\\.users"))
      .select("key").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    assert(ChangeEvents.includeTables(df, Nil).count() == 3)
  }

  test("pipeline drops events outside the configured namespace") {
    val src = tmp(); val cfg = CdcPipeline.Config(
      sourceDir = src, targetDir = tmp() + "/target",
      checkpointDir = tmp() + "/ckpt", dlqDir = tmp() + "/dlq",
      nsFilter = Some(("graft", "events")),
      maxBytesPerTrigger = Some(64L * 1024 * 1024))
    val changes = ChangeEvents.fromEvents(spark, sf)
    changes.coalesce(1).write.mode("append").json(src)
    // a second table's events, shifted keys: must NOT reach the target
    changes.withColumn("sourceTable", lit("other"))
      .withColumn("key", col("key") + 1000000L)
      .coalesce(1).write.mode("append").json(src)
    CdcPipeline.start(spark, cfg).awaitTermination()
    val got = Upsert.readTarget(spark, cfg.targetDir)
    assert(got.filter(col("key") >= 1000000L).count() == 0)
    val want = Cdc.finalState(spark, sf)
    assert(normalize(got.withColumnRenamed("key", "user_id")) == normalize(want))
  }

  test("snapshot is skipped when target is non-empty (idempotence check)") {
    import spark.implicits._
    val dir = tmp() + "/snap"
    val s1 = Seq((1L, 1.0)).toDF("key", "v")
    assert(Upsert.snapshot(spark, s1, "key", dir))
    val s2 = Seq((2L, 2.0)).toDF("key", "v")
    assert(!Upsert.snapshot(spark, s2, "key", dir)) // skipped
    assert(Upsert.readTarget(spark, dir).select("key").head().getLong(0) == 1L)
  }

  test("snapshot's schema sidecar survives its static overwrite; a sidecar-only dir re-snapshots") {
    import spark.implicits._
    val dir = tmp() + "/snap_sc"
    assert(Upsert.snapshot(spark, Seq((1L, 1.0)).toDF("key", "v"), "key", dir))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the sidecar is written AFTER the data (a static overwrite clears
    // the dir, so sidecar-first would not survive) and must be present
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_schema.json")))
    assert(Upsert.readTarget(spark, dir).columns.contains("deleted"))
    // crashed-sweep residue: all buckets gone, only the sidecar left —
    // the existence probe must read it as EMPTY (not throw on footer
    // inference) and load the new snapshot
    fs.listStatus(root).filter(_.getPath.getName.startsWith("bucket="))
      .foreach(s => fs.delete(s.getPath, true))
    assert(Upsert.snapshot(spark, Seq((2L, 2.0)).toDF("key", "v"), "key", dir))
    assert(Upsert.liveRows(Upsert.readTarget(spark, dir))
      .select("key").head().getLong(0) == 2L)
  }
}
