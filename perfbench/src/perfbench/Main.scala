package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload per JVM, one client thread.
  *
  * Untraced (`--trace 0`) runs report the end-to-end metrics. Traced runs
  * (`--trace 1`) run one unrecorded warm-up unit (a round or a pass),
  * so that JIT warm-up does not skew the comparison, then alternate
  * traced and untraced units; they report the per-layer metrics and the
  * tracing overhead, and write their spans to `<work>/../traces/`.
  * Every run checks its outputs; the last stdout line is the result JSON. */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
      endToEnd: Seq[Metric], named: Seq[Metric], perLayer: Map[String, Double],
      tracer: Option[Tracer])

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, expected: Path, threads: Int)

  /** Per-layer metrics, every one reported by every traced run; a layer
    * the workload never enters reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "upsert.add_batch_ms" -> "ms",
    "upsert.buckets_touched_per_batch" -> "count", "upsert.write_amp" -> "ratio",
    "spark.jobs_per_batch" -> "count", "security.rows_per_s" -> "rows/s",
    "upsert.target_files" -> "count", "upsert.bytes_per_live_row" -> "B",
    "reads.count_ms" -> "ms", "reads.lookup_ms" -> "ms", "reads.export_ms" -> "ms",
    "engine.count_jobs" -> "count", "backup.export_bytes" -> "B",
    "spark.driver_ms_per_read" -> "ms") ++
    Analytics.Slice.flatMap(q => Seq(s"analytics.$q.s" -> "s", s"analytics.$q.driver_ms" -> "ms",
      s"analytics.$q.jobs" -> "count", s"analytics.$q.executor_ms" -> "ms",
      s"analytics.$q.gc_ms" -> "ms", s"analytics.$q.shuffle_write_mb" -> "MB",
      s"analytics.$q.spill_mb" -> "MB", s"analytics.$q.core_util" -> "ratio")) :+
    ("trace.overhead_pct" -> "%")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Path.of(m("work")).toAbsolutePath, Path.of(m("expected")).toAbsolutePath,
      m.getOrElse("threads", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  def session(o: Opts): SparkSession = {
    val s = GraftSession.builder(s"local[${o.threads}]", o.threads.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  def load1m(): Double = osBean.getSystemLoadAverage

  /** Peak heap used after GC, summed over the heap pools, sampled
    * after every operation. */
  object Heap {
    private var peak = 0L
    def sample(): Unit = {
      val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum
      peak = math.max(peak, used)
    }
    def peakMb: Double = peak / 1048576.0
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed set-up repeated `reps` times into fresh directories; the
    * last one is used, the median time is reported. */
  def repeatedSetup[T](o: Opts, reps: Int)(body: Path => T): (T, Double) = {
    val runs = (1 to reps).map(i => secs(body(o.work.resolve(s"setup-$i"))))
    println(s"[perfbench] set-up repetitions = ${runs.map(r => f"${r._2}%.2f").mkString(", ")} s")
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** The `_tail` metric and its percentile; absent below 20 samples. */
  def tailMetric(prefix: String, unit: String, xs: Seq[Double]): Seq[Metric] =
    Stats.tailPercentile(xs.length).toSeq.flatMap(p => Seq(
      Metric(s"${prefix}_tail", Stats.percentile(xs, p), unit),
      Metric(s"${prefix}_tail_percentile", p, "pct")))

  // ---- replicate ------------------------------------------------------

  def replicate(spark: SparkSession, o: Opts, sessionS: Double): Outcome = {
    val (in, setupS) = repeatedSetup(o, 3)(d => Replicate.setup(spark, d, o.seed))
    val rounds = ArrayBuffer.empty[(Replicate.Round, Boolean)]
    val tracer = new Tracer; val probe = new Probe
    if (o.trace) Replicate.round(spark, in, o.work.resolve("warm-up"), -1, None, layout = false)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (rounds.isEmpty || System.nanoTime() < deadline || (o.trace && rounds.size < 2)) {
      val traced = o.trace && rounds.size % 2 == 0
      if (traced) probe.attach(spark)
      val dir = o.work.resolve(s"round-${rounds.size}")
      val r =
        if (traced) tracer.span("replicate")(
          Replicate.round(spark, in, dir, rounds.size, Some(tracer), layout = true))
        else Replicate.round(spark, in, dir, rounds.size, None, layout = false)
      if (traced) probe.detach(spark)
      Heap.sample()
      rounds += (r -> traced)
    }
    val all = rounds.map(_._1).toSeq
    val batchMs = all.flatMap(_.progress.map(Replicate.phaseMs(_, "triggerExecution")))
    val events = all.map(_.events).sum
    val drainS = all.map(_.drainS).sum
    val batches = batchMs.length.toLong
    val parked = all.map(_.parked).sum.toLong
    println(s"[perfbench] replicate.batch_ms samples = ${batchMs.map(_.toLong).mkString(", ")}")
    val named = Seq(
      Metric("replicate.batch_samples", batches.toDouble, "count"),
      Metric("replicate.events_per_s", events / drainS, "events/s"),
      Metric("replicate.batch_ms_p50", Stats.median(batchMs), "ms")) ++
      tailMetric("replicate.batch_ms", "ms", batchMs) ++ Seq(
      Metric("replicate.snapshot_s", Stats.median(all.map(_.snapshotS)), "s"),
      Metric("replicate.failed_ratio", parked.toDouble / math.max(batches, 1L), "ratio"))
    val layer = if (!o.trace) Map.empty[String, Double] else {
      val tr = rounds.filter(_._2).map(_._1).toSeq
      val un = rounds.filterNot(_._2).map(_._1).toSeq
      val ph = Replicate.progressPhases(tr.flatMap(_.progress))
      probe.jobSpans(tracer)
      val batchSpans = tracer.named("streaming.batch")
      val readSpans = Seq("engine.countReport", "gateway.lookup", "engine.runBackup")
        .flatMap(tracer.named)
      def readMs(kind: String) = Stats.median(tr.map(_.readMs(kind)))
      Map(
        "sources.latest_offset_ms" -> ph("latestOffset"), "sources.get_batch_ms" -> ph("getBatch"),
        "streaming.query_planning_ms" -> ph("queryPlanning"),
        "streaming.wal_commit_ms" -> ph("walCommit"),
        "streaming.commit_offsets_ms" -> ph("commitOffsets"),
        "upsert.add_batch_ms" -> ph("addBatch"),
        "upsert.buckets_touched_per_batch" -> Stats.median(tr.flatMap(_.touched).map(_.toDouble)),
        "upsert.write_amp" -> Stats.median(tr.flatMap(_.writeAmp)),
        "spark.jobs_per_batch" -> Stats.median(batchSpans.map(s => probe.jobsIn(s).size.toDouble)),
        "security.rows_per_s" -> Replicate.securityRowsPerS(spark, in),
        "upsert.target_files" -> tr.last.targetFiles.toDouble,
        "upsert.bytes_per_live_row" -> tr.last.bytesPerLiveRow,
        "reads.count_ms" -> readMs("count"), "reads.lookup_ms" -> readMs("lookup"),
        "reads.export_ms" -> readMs("export"),
        "engine.count_jobs" -> Stats.median(
          tracer.named("engine.countReport").map(s => probe.jobsIn(s).size.toDouble)),
        "backup.export_bytes" -> Stats.median(tr.map(_.exportBytes.toDouble)),
        "spark.driver_ms_per_read" -> readSpans.map(probe.driverMsIn).sum / readSpans.size,
        "trace.overhead_pct" -> overheadPct(tr.map(r => r.drainS / r.events),
          un.map(r => r.drainS / r.events)))
    }
    withSetup(Outcome(all.forall(_.correct), batches, parked,
      Seq(Metric("throughput_per_s", events / drainS, "1/s")),
      named, layer, Some(tracer).filter(_ => o.trace)), sessionS + setupS)
  }

  // ---- analytics -------------------------------------------------------

  def analytics(spark: SparkSession, o: Opts, sessionS: Double): Outcome = {
    val (dir, tablesS) = repeatedSetup(o, 3) { d =>
      Analytics.setup(spark, d.toString, o.seed); d.toString }
    // the entity store is built once, for the set-up that is used
    val (_, storeS) = secs(Analytics.buildStore(spark, dir))
    println(f"[perfbench] entity store build = $storeS%.2f s")
    val setupS = tablesS + storeS
    val tracer = new Tracer; val probe = new Probe
    if (o.trace) Analytics.Slice.foreach(Analytics.run(spark, dir, _))
    val runs = ArrayBuffer.empty[(String, Double, Boolean)] // query, s, traced
    val expected = Analytics.loadExpected(o.expected)
    var failed = 0L
    val wrong = scala.collection.mutable.LinkedHashSet.empty[String]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    while (pass < 1 || System.nanoTime() < deadline || (o.trace && pass < 2)) {
      val traced = o.trace && pass % 2 == 0
      if (traced) probe.attach(spark)
      Analytics.Slice.foreach { q =>
        val (got, s) = secs(try {
          Some(if (traced) tracer.span(s"queries.$q")(Analytics.run(spark, dir, q))
               else Analytics.run(spark, dir, q))
        } catch { case e: Exception => println(s"[perfbench] $q failed: ${e.getMessage}"); None })
        Heap.sample()
        if (got.isEmpty || s > 60) failed += 1
        // a query without a checked result fails the run: a broken
        // query must not read as a fast one
        if (got.isEmpty) wrong += q
        got.filterNot(expected.get(q).contains).foreach { case (rows, hash) =>
          println(s"[perfbench] fingerprint differs: $q $rows $hash"); wrong += q }
        runs += ((q, s, traced))
      }
      if (traced) probe.detach(spark)
      pass += 1
    }
    def perQuery(sel: ((String, Double, Boolean)) => Boolean) =
      Analytics.Slice.map(q => q -> Stats.median(runs.filter(r => r._1 == q && sel(r)).map(_._2).toSeq)).toMap
    val med = perQuery(_ => true)
    val sliceS = med.values.sum
    val named = Analytics.Slice.map(q => Metric(s"analytics.$q.s", med(q), "s")) ++ Seq(
      Metric("analytics.query_samples", runs.size.toDouble, "count"),
      Metric("analytics.slice_s", sliceS, "s"),
      Metric("analytics.query_ms_p50", Stats.median(runs.map(_._2 * 1000).toSeq), "ms"),
      Metric("analytics.query_s_geomean", Stats.geomean(med.values.toSeq), "s"),
      Metric("analytics.failed_ratio", failed.toDouble / runs.size, "ratio"))
    val layer = if (!o.trace) Map.empty[String, Double] else {
      probe.jobSpans(tracer)
      val tr = perQuery(_._3); val un = perQuery(!_._3)
      Analytics.Slice.flatMap { q =>
        val spans = tracer.named(s"queries.$q")
        val jobs = spans.flatMap(probe.jobsIn)
        val n = math.max(spans.size, 1).toDouble
        val wallMs = spans.map(_.ms).sum
        val execMs = jobs.map(_.runMs).sum.toDouble
        Seq(s"analytics.$q.s" -> tr(q),
          s"analytics.$q.driver_ms" -> spans.map(probe.driverMsIn).sum / n,
          s"analytics.$q.jobs" -> jobs.size / n,
          s"analytics.$q.executor_ms" -> execMs / n,
          s"analytics.$q.gc_ms" -> jobs.map(_.gcMs).sum / n,
          s"analytics.$q.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / n / 1048576.0,
          s"analytics.$q.spill_mb" -> jobs.map(_.spillBytes).sum / n / 1048576.0,
          s"analytics.$q.core_util" -> execMs / math.max(wallMs * o.threads, 1e-9))
      }.toMap + ("trace.overhead_pct" -> overheadPct(Seq(tr.values.sum), Seq(un.values.sum)))
    }
    withSetup(Outcome(wrong.isEmpty, runs.size.toLong, failed,
      Seq(Metric("throughput_per_s", Analytics.Slice.size / sliceS, "1/s")),
      named, layer, Some(tracer).filter(_ => o.trace)), sessionS + setupS)
  }

  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1)

  def withSetup(o: Outcome, setupS: Double): Outcome = o.copy(
    endToEnd = Metric("setup_s", setupS, "s") +: o.endToEnd,
    named = o.named ++ Seq(Metric("setup_s", setupS, "s"),
      Metric("driver_heap_peak_mb", Heap.peakMb, "MB")))

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def resultJson(out: Outcome, trace: Boolean): String = {
    val metrics =
      if (trace) PerLayer.map { case (n, u) => Metric(n, out.perLayer.getOrElse(n, 0.0), u) }
      else out.endToEnd
    val body = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
      s""""metrics": {$body}}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = load1m()
    val spark = session(o)
    // warm-up, as graft.Bench does, then its fixed calibration probe
    spark.range(100000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v")
      .write.format("noop").mode("overwrite").save()
    val (_, calibrationS) = secs(spark.range(100000).selectExpr("sum(id * 2)")
      .write.format("noop").mode("overwrite").save())
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val out = o.workload match {
      case "replicate" => replicate(spark, o, sessionS)
      case "analytics" => analytics(spark, o, sessionS)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out.named.foreach(m => println(f"[perfbench] ${m.name} = ${m.value}%.4f ${m.unit}"))
    out.tracer.foreach { t =>
      val spans = o.work.getParent.resolve("traces")
      Files.createDirectories(spans)
      Files.writeString(spans.resolve(s"${o.workload}-${o.seed}.json"), t.toJson)
      t.spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
        layer -> ss.map(t.selfMs).sum }.toSeq.sortBy(-_._2)
        .foreach { case (layer, ms) => println(f"[perfbench] self_ms $layer = $ms%.1f") }
    }
    println(s"""{"context": {"load_1m_start": ${num(load0)}, "load_1m_end": ${num(load1m())}, """ +
      s""""calibration_s": ${num(calibrationS)}, "threads": ${o.threads}, "seed": ${o.seed}}}""")
    println(resultJson(out, o.trace))
    Console.out.flush()
    spark.stop()
    sys.exit(if (out.correct) 0 else 1)
  }
}
