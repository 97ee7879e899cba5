package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.functions.Security
import graft.model.FieldSecurity
import graft.operators.Upsert
import graft.streaming.{CdcPipeline, ChangeEvents}

/** `replicate`: snapshot, then an AvailableNow catch-up of a change
  * backlog through mask + encrypt into the bucketed keyed upsert, then
  * one read of the replica through each read surface ([[Reads]]). The
  * stream is started with `CdcPipeline.start` directly, not through
  * `GraftEngine` (see README: the engine loads a snapshot without the
  * field rules). */
object Replicate {

  val StreamRules = Seq(FieldSecurity("after.k", "mask"), FieldSecurity("after.value", "encrypt"))
  val SnapshotRules = Seq(FieldSecurity("k", "mask"), FieldSecurity("value", "encrypt"))
  val FilesPerBatch = 10
  /** Backlog per round: 6 micro-batches of 1,000 events. */
  val BacklogFiles = 60

  final case class Inputs(dir: Path, seed: Long) {
    def snapshotDir: String = dir.resolve("snapshot").toString
    def sourceDir: Path = dir.resolve("changes")
  }

  /** Untimed set-up: project `orders`, apply the field rules to it, and
    * write the seeded change backlog. */
  def setup(spark: SparkSession, dir: Path, seed: Long): Inputs = {
    val in = Inputs(dir, seed)
    Security.applyFieldSecurity(Gen.ordersPayload(spark, seed), SnapshotRules)
      .withColumn("updated_at", lit(null).cast("timestamp"))
      .withColumn("updated_off", lit(null).cast("long"))
      .write.mode("overwrite").parquet(in.snapshotDir)
    Gen.writeFiles(in.sourceDir, new Gen.Backlog(seed), 0, BacklogFiles)
    in
  }

  final case class Round(snapshotS: Double, drainS: Double, events: Long,
      progress: Seq[StreamingQueryProgress], parked: Int, correct: Boolean,
      touched: Seq[Int], writeAmp: Seq[Double], targetFiles: Int, bytesPerLiveRow: Double,
      readMs: Map[String, Double], exportBytes: Long)

  /** One timed round into fresh target/checkpoint dirs. With `layout`
    * the bucket listing is diffed after every micro-batch. */
  def round(spark: SparkSession, in: Inputs, dir: Path, no: Int, tracer: Option[Tracer],
      layout: Boolean): Round = {
    val target = dir.resolve("target")
    val cfg = CdcPipeline.Config(
      sourceDir = in.sourceDir.toString, targetDir = target.toString,
      checkpointDir = dir.resolve("checkpoint").toString,
      dlqDir = dir.resolve("dlq").toString,
      fieldSecurity = StreamRules, maxFilesPerTrigger = FilesPerBatch)
    def traced[T](name: String)(body: => T): T =
      tracer.map(_.span(name)(body)).getOrElse(body)

    val layoutListener = if (layout) Some(new LayoutListener(target, dir.resolve("checkpoint")))
                         else None
    val t0 = System.nanoTime()
    traced("upsert.snapshot") {
      Upsert.snapshot(spark, spark.read.parquet(in.snapshotDir), "key", target.toString)
    }
    // the snapshot's own layout is the baseline for the first batch
    layoutListener.foreach { l => l.baseline(); spark.streams.addListener(l) }
    val t1 = System.nanoTime()
    val progress = traced("streaming.drain") {
      val q = CdcPipeline.start(spark, cfg, availableNow = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }
    val t2 = System.nanoTime()
    layoutListener.foreach { l => Thread.sleep(300); spark.streams.removeListener(l) }
    tracer.foreach { t =>
      val drain = t.named("streaming.drain").last
      progress.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        t.add("streaming.batch", drain, s, s + p.durationMs.get("triggerExecution") * 1000000L)
      }
    }
    val parked = dlqBatches(Path.of(cfg.dlqDir))
    val replicaOk = check(spark, in, target.toString)
    val sigs = Stats.bucketSigs(target)
    val live = Upsert.liveRows(Upsert.readTarget(spark, target.toString)).count()

    val engine = Reads.engine(spark, dir)
    val readMs = scala.collection.mutable.Map.empty[String, Double]
    def timedRead[T](kind: String, span: String)(body: => T): T = {
      val t = System.nanoTime()
      try traced(span)(body) finally readMs(kind) = (System.nanoTime() - t) / 1e6
    }
    val (counted, exported) = try {
      (timedRead("count", "engine.countReport")(Reads.count(engine)),
        { timedRead("lookup", "gateway.lookup")(
            Reads.lookup(spark, target.toString, Reads.lookupKeys(in.seed, no)))
          timedRead("export", "engine.runBackup")(Reads.exportTarget(spark, dir)) })
    } finally engine.stop()
    val want = Reads.directCount(spark, target.toString)
    if (counted != want) println(s"[perfbench] countReport $counted != direct count $want")
    Round((t1 - t0) / 1e9, (t2 - t1) / 1e9, progress.map(_.numInputRows).sum, progress,
      parked, replicaOk && counted == want, layoutListener.map(_.touched.toSeq).getOrElse(Nil),
      layoutListener.map(_.amps.toSeq).getOrElse(Nil), sigs.values.map(_.files).sum,
      sigs.values.map(_.bytes).sum.toDouble / math.max(live, 1L), readMs.toMap, exported)
  }

  /** Diffs the bucket listing after every micro-batch: buckets whose
    * file signature changed, and bytes rewritten ÷ the batch's input
    * bytes. Progress events arrive on the listener bus right after the
    * batch commits, well before the next batch's merge writes. */
  final class LayoutListener(target: Path, checkpoint: Path) extends StreamingQueryListener {
    val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
    val amps = scala.collection.mutable.ArrayBuffer.empty[Double]
    private var before = Map.empty[Int, Stats.BucketSig]
    def baseline(): Unit = synchronized { before = Stats.bucketSigs(target) }
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      if (e.progress.numInputRows > 0) {
        val after = Stats.bucketSigs(target)
        val (n, bytes) = Stats.touched(before, after)
        touched += n
        amps += Stats.writeAmp(bytes, batchInputBytes(checkpoint, e.progress.batchId))
        before = after
      }
    }
  }

  /** Bytes of the change files the file source admitted into a batch,
    * read from its offset log entry. */
  def batchInputBytes(checkpoint: Path, batchId: Long): Long = {
    val log = checkpoint.resolve("sources").resolve("0").resolve(batchId.toString)
    if (!Files.exists(log)) return 0L
    "\"path\":\"([^\"]+)\"".r.findAllMatchIn(Files.readString(log)).map { m =>
      val p = Path.of(java.net.URI.create(m.group(1)))
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
  }

  def dlqBatches(dlq: Path): Int =
    if (!Files.isDirectory(dlq)) 0
    else Stats.listDir(dlq).count(p => p.getFileName.toString.matches("""(batch|parked)_\d+"""))

  /** Live target rows, `value` decrypted, must equal an independent
    * last-writer-wins fold (by ts, then offset) of snapshot ⊕ change
    * log, and every `k` must be masked. */
  def check(spark: SparkSession, in: Inputs, target: String): Boolean = {
    val log = spark.read.schema(ChangeEvents.schema).json(in.sourceDir.toString)
      .select(col("key"), col("op"), col("after.value").as("value"), col("ts"), col("offset"))
    val snap = Gen.ordersPayload(spark, in.seed).select(col("key"), lit("snapshot").as("op"),
      col("value"), lit(null).cast("timestamp").as("ts"), lit(null).cast("long").as("offset"))
    val w = Window.partitionBy("key")
      .orderBy(col("ts").desc_nulls_last, col("offset").desc_nulls_last)
    val want = log.unionByName(snap).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete").select("key", "value")
    val got = Upsert.liveRows(Upsert.readTarget(spark, target))
      .select(col("key"), Security.decrypt(col("value")).cast("double").as("value"), col("k"))
      .persist()
    try {
      val clearK = got.filter(col("k").isNull || col("k") =!= "****").count()
      val g = got.select("key", "value")
      val diff = g.exceptAll(want).count() + want.exceptAll(g).count()
      if (clearK > 0 || diff > 0)
        println(s"[perfbench] replicate check failed: $clearK clear-text k, $diff rows differ")
      clearK == 0 && diff == 0
    } finally got.unpersist()
  }

  /** Standalone `Security.applyFieldSecurity` throughput over the backlog. */
  def securityRowsPerS(spark: SparkSession, in: Inputs): Double = {
    val events = spark.read.schema(ChangeEvents.schema).json(in.sourceDir.toString).persist()
    try {
      val n = events.count()
      val t0 = System.nanoTime()
      Security.applyFieldSecurity(events, StreamRules)
        .write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t0) / 1e9)
    } finally events.unpersist()
  }

  def phaseMs(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  def progressPhases(ps: Seq[StreamingQueryProgress]): Map[String, Double] =
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch",
      "triggerExecution").map(ph => ph -> Stats.median(ps.map(phaseMs(_, ph)))).toMap
}
