package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Cron, Upsert}
import graft.streaming.{CdcPipeline, ChangeEvents, ControlLoop}

/** ST11 (config hot-reload) + ST13 (scheduled jobs). */
class ControlSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_ctl").toString

  // ---- Cron -----------------------------------------------------------

  private def t(s: String) = LocalDateTime.parse(s)

  test("cron parses stars, lists, ranges, and steps") {
    val e = Cron.parse("*/15 2,14 1-10/3 * *")
    assert(e.minute == Set(0, 15, 30, 45))
    assert(e.hour == Set(2, 14))
    assert(e.dom == Set(1, 4, 7, 10))
    assert(e.month == (1 to 12).toSet)
    assert(e.dowStar)
  }

  test("cron matching honors the dom/dow either-matches rule") {
    // 2024-01-15 is a Monday (dow 1)
    val both = Cron.parse("0 3 15 * 5") // dom=15 OR dow=Friday
    assert(Cron.isDue(both, t("2024-01-15T03:00"))) // dom matches
    assert(Cron.isDue(both, t("2024-01-19T03:00"))) // Friday matches
    assert(!Cron.isDue(both, t("2024-01-16T03:00"))) // neither

    val domOnly = Cron.parse("0 3 15 * *")
    assert(Cron.isDue(domOnly, t("2024-01-15T03:00")))
    assert(!Cron.isDue(domOnly, t("2024-01-19T03:00")))

    val dowOnly = Cron.parse("30 22 * * 1")
    assert(Cron.isDue(dowOnly, t("2024-01-15T22:30")))
    assert(!Cron.isDue(dowOnly, t("2024-01-15T22:31")))
    assert(Cron.isDue(dowOnly, t("2024-01-15T22:30:59"))) // second ignored

    assert(Cron.parse("0 0 * * 7").dow == Set(0)) // 7 = Sunday
  }

  test("cron rejects malformed expressions") {
    intercept[IllegalArgumentException](Cron.parse("* * * *"))
    intercept[IllegalArgumentException](Cron.parse("61 * * * *"))
    intercept[IllegalArgumentException](Cron.parse("* 24 * * *"))
  }

  test("scheduler fires due jobs once per minute and re-fires next match") {
    var runs = Vector.empty[(Int, String)]
    val sched = new Cron.Scheduler(Seq(
      Cron.Job(1, "*/5 * * * *", () => runs :+= ((1, "a"))),
      Cron.Job(2, "10 * * * *", () => runs :+= ((2, "b")))))

    assert(sched.tick(t("2024-03-01T08:05:00")) == Seq(1))
    assert(sched.tick(t("2024-03-01T08:05:30")) == Seq()) // same minute: no double fire
    assert(sched.tick(t("2024-03-01T08:10:00")) == Seq(1, 2))
    assert(sched.tick(t("2024-03-01T08:11:00")) == Seq())
    assert(runs == Vector((1, "a"), (1, "a"), (2, "b")))
  }

  test("rebuilt scheduler carries fired-state: no double run in the fire minute") {
    var runs = 0
    def job(body: => Unit) = Cron.Job(1, "5 * * * *", () => body)
    val first = new Cron.Scheduler(Seq(job { runs += 1 }))
    assert(first.tick(t("2024-03-01T08:05:00")) == Seq(1) && runs == 1)

    // a config edit lands DURING the fire minute: the schedule rebuilds
    // with the surviving job (same id) plus a new one — the survivor
    // must not re-run this minute; the new job fires if due
    var newRuns = 0
    val rebuilt = new Cron.Scheduler(
      Seq(job { runs += 1 }, Cron.Job(2, "5 * * * *", () => newRuns += 1)),
      first.firedState)
    assert(rebuilt.tick(t("2024-03-01T08:05:30")) == Seq(2))
    assert(runs == 1 && newRuns == 1)
    // next matching minute: both fire again
    assert(rebuilt.tick(t("2024-03-01T09:05:00")) == Seq(1, 2))
    assert(runs == 2 && newRuns == 2)
  }

  test("a fired cron job executes a real backup export") {
    val out = tmp() + "/export"
    val job = Cron.Job(7, "0 3 * * *", () =>
      graft.operators.Backup.writeJsonl(
        graft.operators.Backup.prunedMergedExport(spark, sf), out, compress = false))
    val sched = new Cron.Scheduler(Seq(job))
    assert(sched.tick(t("2024-03-01T02:59:00")).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(out)))
    assert(sched.tick(t("2024-03-01T03:00:00")) == Seq(7))
    val exported = spark.read.json(out)
    assert(exported.count() ==
      graft.operators.Backup.prunedMergedExport(spark, sf).count())
  }

  // ---- Hot-reload supervisor -----------------------------------------

  private def normalize(df: DataFrame): Set[(Long, Double, Long)] =
    graft.operators.Upsert.liveRows(df)
      .select(col("key").cast("long"), col("value"), col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  test("reconcile starts, keeps, swaps, and stops pipelines; checkpoint survives a swap") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)

    val sup = new ControlLoop.Supervisor[CdcPipeline.Config](
      c => CdcPipeline.start(spark, c, availableNow = false))
    try {
      val r1 = sup.reconcile(Map("cdc" -> cfg))
      assert(r1 == ControlLoop.Reconcile(started = Set("cdc"), stopped = Set(), kept = Set()))
      val q1 = sup.activeQueries("cdc")
      q1.processAllAvailable()
      val want = normalize(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
      assert(normalize(Upsert.readTarget(spark, cfg.targetDir)) == want)

      // identical spec: kept running, same query instance
      val r2 = sup.reconcile(Map("cdc" -> cfg))
      assert(r2 == ControlLoop.Reconcile(started = Set(), stopped = Set(), kept = Set("cdc")))
      assert(sup.activeQueries("cdc") eq q1)

      // changed spec: swapped; the new query resumes from the SAME
      // checkpoint, so nothing is reprocessed and the state is unchanged
      val r3 = sup.reconcile(Map("cdc" -> cfg.copy(maxFilesPerTrigger = 7)))
      assert(r3 == ControlLoop.Reconcile(started = Set("cdc"), stopped = Set("cdc"), kept = Set()))
      val q2 = sup.activeQueries("cdc")
      assert(!(q2 eq q1) && !q1.isActive && q2.isActive)
      q2.processAllAvailable()
      assert(normalize(Upsert.readTarget(spark, cfg.targetDir)) == want)

      // spec removed: pipeline stopped
      val r4 = sup.reconcile(Map.empty)
      assert(r4 == ControlLoop.Reconcile(started = Set(), stopped = Set("cdc"), kept = Set()))
      assert(sup.activeQueries.isEmpty && !q2.isActive)
    } finally sup.stopAll()
  }

  test("reconcile restarts a no-longer-active pipeline from its checkpoint") {
    val root = tmp()
    val cfg = CdcPipeline.Config(
      sourceDir = s"$root/src", targetDir = s"$root/target",
      checkpointDir = s"$root/ckpt", dlqDir = s"$root/dlq")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)
    // AvailableNow: the query drains and terminates on its own — the
    // supervisor must treat the dead query like a changed spec and
    // restart it (crash restart = the guardian contract, poll-loop face)
    val sup = new ControlLoop.Supervisor[CdcPipeline.Config](
      c => CdcPipeline.start(spark, c, availableNow = true))
    try {
      val r1 = sup.reconcile(Map("cdc" -> cfg))
      assert(r1.started == Set("cdc"))
      sup.activeQueries("cdc").awaitTermination() // drained, terminated
      val r2 = sup.reconcile(Map("cdc" -> cfg))
      assert(r2.started == Set("cdc") && r2.stopped == Set("cdc")) // restarted, same spec
      sup.activeQueries("cdc").awaitTermination()
      // checkpoint honored: the restart re-processed nothing
      val got = normalize(Upsert.readTarget(spark, cfg.targetDir))
      val want = normalize(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
      assert(got == want)
    } finally sup.stopAll()
  }

  test("a throwing start fails alone; healthy pipelines start and are retried next round") {
    val root = tmp()
    // a real (tiny) streaming query for the healthy spec: rate source → noop sink
    def healthy(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ckpt_${java.util.UUID.randomUUID()}")
        .start()
    val sup = new ControlLoop.Supervisor[String](s =>
      if (s == "boom") throw new RuntimeException("bad spec") else healthy())
    try {
      val r = sup.reconcile(Map("good" -> "ok", "bad" -> "boom"))
      assert(r.started == Set("good") && r.failed.keySet == Set("bad") && r.kept.isEmpty)
      assert(r.failed("bad").getMessage == "bad spec")
      assert(sup.activeQueries.keySet == Set("good") && sup.activeQueries("good").isActive)
      // the failed spec is NOT held as running: the next poll retries it
      // while the healthy pipeline is kept untouched
      val q1 = sup.activeQueries("good")
      val r2 = sup.reconcile(Map("good" -> "ok", "bad" -> "boom"))
      assert(r2.kept == Set("good") && r2.failed.keySet == Set("bad") && r2.started.isEmpty)
      assert(sup.activeQueries("good") eq q1)
    } finally sup.stopAll()
  }

  test("poll loop reconciles on every round") {
    var loads = 0
    val sup = new ControlLoop.Supervisor[Unit](_ => fail("no specs, nothing to start"))
    var slept = Vector.empty[Long]
    ControlLoop.poll(sup, () => { loads += 1; Map.empty[String, Unit] },
      intervalMs = 10000, rounds = 3, sleep = slept :+= _)
    assert(loads == 3)
    assert(slept == Vector(10000L, 10000L)) // no sleep after the last round
  }
}
