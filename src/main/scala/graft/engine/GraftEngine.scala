package graft.engine

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.ConfigReader.EngineConfig
import graft.functions.TimeWindows
import graft.model.{BackupSpec, Scheduled, TrainingExportSpec}
import graft.operators.{Backup, Cron, Upsert}
import graft.streaming.{Alerts, CdcPipeline, ControlLoop, Dlq, Guardian, KvPipeline, Metrics}

/** The composed engine — config file in, running pipelines out: the
  * Spark-native `cmd/sync/main.go` (reference main.go:91-188).
  *
  * One [[pollOnce]] is the reference's 10 s reload tick: load the JSON
  * config, compile every enabled task to per-table pipeline defs
  * ([[Compiler]]), and reconcile the running set per pipeline
  * ([[ControlLoop.Supervisor]] — only added/changed/dead pipelines
  * restart; checkpoints make each swap lossless). The engine knows the
  * pipeline kinds only through their faces: a [[Compiler.Replica]]
  * (CDC or KV) has a target and a DLQ, a [[Compiler.RiderPipeline]]
  * starts and reads back through its row of [[Compiler.Riders]].
  * Every scheduled task
  * family (backup, training export, optimize, the watchdogs, the store
  * maintainers) compiles to [[Cron]] jobs through one table, each
  * family in its own job-id namespace with one failure alert, fired by
  * [[tickCron]] (cronjob.go:100-192), and [[retryDlq]] sweeps every
  * replica's dead-letter queue, alerting on parked batches
  * (mongodb.go:1876-1969). [[countReport]] keeps one cached count per
  * pipeline, keyed by its target's [[Upsert.signature]].
  * [[Guardian]] wraps each pipeline start
  * (transient start failures back off and retry); crash-during-run is
  * covered by the supervisor's restart-on-death.
  *
  * Scale posture: the engine itself only moves metadata — specs, names,
  * cron fires. All data movement happens inside the checkpointed
  * streaming pipelines and the distributed export writers it launches.
  */
final class GraftEngine(
    spark: SparkSession,
    configPath: String,
    availableNow: Boolean = false,
    alerts: Alerts.Sink = Alerts.Log,
    backoff: Guardian.Backoff = Guardian.Backoff(maxRetries = 2, baseDelayMs = 1000L),
    sleep: Long => Unit = Thread.sleep,
    clock: () => LocalDateTime = () => LocalDateTime.now(ZoneOffset.UTC)) {

  private val supervisor = new ControlLoop.Supervisor[Compiler.PipelineDef](startPipeline)
  @volatile private var stopping = false
  @volatile private var pipelineDefs = Map.empty[String, Compiler.PipelineDef]
  @volatile private var scheduledSpecs: Seq[Scheduled] = Nil
  @volatile private var scheduler = new Cron.Scheduler(Nil)
  @volatile private var recorder: Option[(String, Metrics.Recorder)] = None

  private def startPipeline(d: Compiler.PipelineDef): StreamingQuery = d match {
    case Compiler.CdcDef(name, cfg, snapshotDir, _, _, indexSync) =>
      // SET3 apply half, honoring syncIndexes (copyIndexes,
      // mongodb.go:313-321): diff the compiled index specs against the
      // target's existing names via JDBC metadata, replay the missing
      // CREATE INDEX statements. A failure alerts and the pipeline
      // still starts — the reference logs copyIndexes errors and
      // continues (mongodb.go:315-317).
      indexSync.foreach { ix =>
        try {
          // bounded connect: this runs under the engine monitor (pollOnce
          // is synchronized), so a black-holed JDBC target must fail the
          // tick, not wedge every reconcile and block stop()/SIGTERM.
          // setLoginTimeout is JVM-GLOBAL (it caps every DriverManager
          // connect in the process, Jdbc sources included) — imposed
          // once at engine load (GraftEngine.JdbcConnectBoundSecs), not
          // re-set on every tick
          GraftEngine.ensureJdbcConnectBound()
          val conn = java.sql.DriverManager.getConnection(ix.jdbcUrl)
          try {
            val rs = conn.getMetaData.getIndexInfo(null, null, ix.table, false, false)
            val existing = Set.newBuilder[String]
            while (rs.next()) Option(rs.getString("INDEX_NAME")).foreach(existing += _)
            val (toCreate, _) = graft.operators.MetaOps.indexDiff(ix.indexes, existing.result())
            val st = conn.createStatement()
            graft.operators.MetaOps.createIndexDdl(ix.table, toCreate)
              .foreach(st.executeUpdate)
          } finally conn.close()
        } catch {
          case e: Exception =>
            alerts.send(Alerts.Alert("index_sync_failed", name, String.valueOf(e.getMessage)))
        }
      }
      // S1 initial sync before the stream: skip-if-nonempty makes a
      // restart (or an unchanged reconcile) a no-op (mongodb.go:459-465)
      snapshotDir.foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
          // the stream's `after.*` field rules apply to the snapshot's
          // top-level columns too: an unmasked snapshot would leak PII
          // into the target and type `k` so every masked batch fails
          val snapRules = cfg.fieldSecurity.collect {
            case r if r.field.startsWith("after.") => r.copy(field = r.field.stripPrefix("after."))
          }
          val snap = graft.functions.Security.applyFieldSecurity(spark.read.parquet(dir), snapRules)
          // BOTH recency columns, null: snapshot rows lose to any real
          // change event, and every bucket carries the same schema —
          // a snapshot-only footer must never make a later target read
          // drop updated_off and disable the tie-break
          Upsert.snapshot(spark, snap
            .withColumn("updated_at", lit(null).cast("timestamp"))
            .withColumn("updated_off", lit(null).cast("long")),
            cfg.keyCol, cfg.targetDir)
        }
      }
      guarded(() => CdcPipeline.start(spark, cfg, availableNow))
    case Compiler.KvDef(_, cfg) =>
      guarded(() => KvPipeline.start(spark, cfg, availableNow))
    case r: Compiler.RiderPipeline =>
      // every rider under the supervisor: restart-on-death and config
      // hot-reload apply to it like any pipeline; alarm riders raise
      // their alerts through the engine's sink
      guarded(() => r.start(spark, alerts, availableNow))
    case Compiler.DecontamDef(_, s) =>
      // ingest-time decontamination under the supervisor: stateless
      // scoring, append-only scored log + checkpoint — same durability
      // contract as the other file-sink riders
      guarded(() => graft.streaming.DecontamStream.start(spark, s.corpusDir,
        s.sourceDir, s.outDir, s.checkpointDir, availableNow,
        s.k, s.minHits, s.evalMod))
    case Compiler.IvmDef(_, s) =>
      // incremental view maintenance under the supervisor: delta-only
      // work per batch, Atomic-versioned publishes with a batch-id
      // replay guard — restarts resume exactly-once from the checkpoint
      guarded(() => graft.streaming.IvmStream.start(spark, s.sourceDir,
        s.storeDir, s.checkpointDir, s.view, availableNow))
  }

  /** Guardian envelope on the START path: a recoverable failure (e.g. a
    * storage hiccup while opening the checkpoint) retries with backoff
    * instead of failing the whole reconcile. */
  private def guarded(start: () => StreamingQuery): StreamingQuery = {
    var q: StreamingQuery = null
    Guardian.run(backoff, sleep) { () => q = start() }
    q
  }

  /** One reload tick (main.go:92-145): parse config, rebuild the cron
    * schedule if the scheduled-task set changed (an unchanged reload
    * must keep the fired-this-minute dedup state), reconcile pipelines.
    *
    * A config file that fails to LOAD (unreadable / syntactically
    * invalid — e.g. caught mid-edit, since config writes are not
    * atomic) must not take the engine down: the running set is kept
    * untouched, an alert fires, and the next poll retries. Per-task
    * malformed entries are already isolated inside ConfigReader. */
  def pollOnce(): ControlLoop.Reconcile = synchronized {
    // once stop() ran (e.g. the SIGTERM hook), a racing loop iteration
    // must not restart the world it just tore down. The whole tick runs
    // under the engine's monitor — the same one stop() takes — so a
    // SIGTERM arriving mid-reconcile waits for the tick to finish and
    // then tears down everything it (re)started; it can never land in
    // the window between this guard and the reconcile.
    if (stopping)
      return ControlLoop.Reconcile(Set.empty, Set.empty, Set.empty)
    // compile inside the guard too: a config that parses but compiles
    // to a colliding/nesting pipeline set must also keep the old state
    val (cfg, defs) = try {
      val c = ConfigReader.load(configPath)
      (c, Compiler.compileAll(c.syncTasks, c.decontamTasks, c.ivmTasks))
    } catch {
      case e: Exception =>
        alerts.send(Alerts.Alert("config_error", configPath, String.valueOf(e.getMessage)))
        return ControlLoop.Reconcile(Set.empty, Set.empty,
          supervisor.activeQueries.keySet, Map(configPath -> e))
    }
    // monitoring (main.go:104-109): reconcile the progress recorder
    // against the config — register when metricsDir appears, swap when
    // it changes, drop when removed (the reference restarts monitoring
    // on config change, main.go:124-136) — then flush buffered rows
    if (recorder.map(_._1) != cfg.metricsDir) {
      recorder.foreach { case (_, r) => r.flush(); spark.streams.removeListener(r) }
      recorder = cfg.metricsDir.map { dir =>
        val r = new Metrics.Recorder(spark, dir)
        spark.streams.addListener(r)
        (dir, r)
      }
    }
    recorder.foreach(_._2.flush())
    val specs = families.flatMap(_.specs(cfg))
    if (specs != scheduledSpecs) {
      scheduledSpecs = specs
      // carry the fired-this-minute state forward: a config edit landing
      // during a job's fire minute must not double-run surviving jobs
      scheduler = new Cron.Scheduler(families.flatMap(_.jobs(cfg, alerts)), scheduler.firedState)
    }
    pipelineDefs = defs
    supervisor.reconcile(pipelineDefs)
  }

  import GraftEngine.Family

  /** Every scheduled config family, in firing order. */
  private val families: Seq[Family[_ <: Scheduled]] = Seq(
    Family(_.backupTasks, 0, "backup_failed", "backup") { spec =>
      GraftEngine.runBackup(spark, spec, clock())
    },
    Family(_.trainingTasks, GraftEngine.TrainingJobIdOffset,
        "training_export_failed", "training") { spec =>
      GraftEngine.runTrainingExport(spark, spec)
    },
    Family(_.optimizeTasks, GraftEngine.OptimizeJobIdOffset,
        "optimize_failed", "optimize") { spec =>
      GraftEngine.runOptimize(spark, spec)
    },
    Family(_.dqTasks, GraftEngine.DqJobIdOffset, "dq_failed", "dq") { spec =>
      GraftEngine.runDqCheck(spark, spec).foreach { case (rule, n) =>
        alerts.send(Alerts.Alert("dq_violation", s"dq${spec.id}/${spec.table}",
          s"rule $rule: $n violations"))
      }
    },
    Family(_.annIndexTasks, GraftEngine.AnnIndexJobIdOffset,
        "ann_index_failed", "annIndex") { spec =>
      GraftEngine.runAnnIndexMaintenance(spark, spec)
    },
    Family(_.checksumTasks, GraftEngine.ChecksumJobIdOffset,
        "checksum_failed", "checksum") { spec =>
      GraftEngine.runChecksumCompare(spark, spec).foreach {
        case (month, src, tgt) =>
          alerts.send(Alerts.Alert("checksum_mismatch", s"checksum${spec.id}",
            s"month $month: source $src != target $tgt"))
      }
    },
    Family(_.annEvalTasks, GraftEngine.AnnEvalJobIdOffset,
        "ann_eval_failed", "annEval") { spec =>
      val recall = GraftEngine.runAnnEval(spark, spec)
      if (recall < spec.minRecallMicro)
        alerts.send(Alerts.Alert("ann_recall_low", s"annEval${spec.id}",
          s"mean recall ${recall}u < bound ${spec.minRecallMicro}u"))
    },
    Family(_.modelEvalTasks, GraftEngine.ModelEvalJobIdOffset,
        "model_eval_failed", "modelEval") { spec =>
      val m = GraftEngine.runModelEval(spark, spec)
      m.kappaMicro.filter(_ < spec.minKappaMicro).foreach(k =>
        alerts.send(Alerts.Alert("model_agreement_low", s"modelEval${spec.id}",
          s"kappa ${k}u < bound ${spec.minKappaMicro}u")))
      m.aucMicro.filter(_ < spec.minAucMicro).foreach(a =>
        alerts.send(Alerts.Alert("model_auc_low", s"modelEval${spec.id}",
          s"auc ${a}u < bound ${spec.minAucMicro}u")))
      if (m.eceMicro > spec.maxEceMicro)
        alerts.send(Alerts.Alert("model_calibration_off", s"modelEval${spec.id}",
          s"ece ${m.eceMicro}u > bound ${spec.maxEceMicro}u"))
    },
    Family(_.privacyTasks, GraftEngine.PrivacyJobIdOffset,
        "privacy_audit_failed", "privacy") { spec =>
      val a = GraftEngine.runPrivacyAudit(spark, spec)
      if (a.minGroupSize < spec.minK)
        alerts.send(Alerts.Alert("privacy_k_low", s"privacy${spec.id}/${spec.table}",
          s"smallest QI group ${a.minGroupSize} < k=${spec.minK}"))
      if (a.minLValue < spec.minL)
        alerts.send(Alerts.Alert("privacy_l_low", s"privacy${spec.id}/${spec.table}",
          s"least-diverse QI group l=${a.minLValue} < l=${spec.minL}"))
      if (a.maxEmdMicro > spec.maxEmdMicro)
        alerts.send(Alerts.Alert("privacy_t_distance_high",
          s"privacy${spec.id}/${spec.table}",
          s"furthest QI group EMD ${a.maxEmdMicro}u > t=${spec.maxEmdMicro}u"))
    },
    Family(_.graphTasks, GraftEngine.GraphJobIdOffset,
        "graph_maintenance_failed", "graph") { spec =>
      GraftEngine.runGraphMaintenance(spark, spec)
    },
    Family(_.retrainTasks, GraftEngine.RetrainJobIdOffset,
        "model_retrain_failed", "retrain") { spec =>
      val r = GraftEngine.runModelRetrain(spark, spec)
      if (r.promoted)
        alerts.send(Alerts.Alert("model_promoted", s"retrain${spec.id}",
          s"candidate AUC ${r.candidateAucMicro}u replaces " +
            r.incumbentAucMicro.fold("(founding)")(a => s"${a}u")))
    },
    Family(_.driftTasks, GraftEngine.DriftJobIdOffset, "drift_audit_failed", "drift") { spec =>
      GraftEngine.runDriftAudit(spark, spec).foreach {
        case (eventType, tvd) =>
          alerts.send(Alerts.Alert("value_drift_high",
            s"drift${spec.id}/$eventType",
            s"TVD ${tvd}u > bound ${spec.maxTvdMicro}u"))
      }
    },
    Family(_.graphHealthTasks, GraftEngine.GraphHealthJobIdOffset,
        "graph_health_failed", "graphHealth") { spec =>
      GraftEngine.runGraphHealth(spark, spec).foreach { h =>
        if (h.qMicro < spec.minQMicro)
          alerts.send(Alerts.Alert("graph_modularity_low",
            s"graphHealth${spec.id}",
            s"Q ${h.qMicro}u < bound ${spec.minQMicro}u over " +
              s"${h.nCommunities} communities"))
      }
      // drift watch (q298, opt-in): a structure that DECAYS epoch
      // over epoch pages even while absolute Q still clears the bar
      if (spec.maxDriftMicro != Long.MaxValue)
        GraftEngine.runGraphEvolution(spark, spec).foreach {
          case (epoch, drop) =>
            alerts.send(Alerts.Alert("graph_modularity_drift",
              s"graphHealth${spec.id}",
              s"epoch $epoch dropped ${drop}u > bound " +
                s"${spec.maxDriftMicro}u"))
        }
    },
    Family(_.erTasks, GraftEngine.ErJobIdOffset, "er_maintenance_failed", "er") { spec =>
      GraftEngine.runErMaintenance(spark, spec)
    })

  /** Minute tick for every scheduled task; returns fired job ids. */
  def tickCron(now: LocalDateTime = clock()): Seq[Int] = scheduler.tick(now)

  // --- cached count monitoring ---------------------------------------
  // The reference re-issues a full COUNT(*) per table per monitor tick
  // (query_counter.go:59-280). The engine caches one live-row count per
  // pipeline, keyed by the compiled predicate text and the target's
  // file signature ([[Upsert.signature]]: its bucket files and
  // committed deltas, a driver-side listing). A tick over an untouched
  // target runs zero Spark jobs; any merge, compaction or sweep changes
  // the signature and recounts the whole target. Per-bucket reuse would
  // save little: under merge-on-read every append and every compaction
  // changes the delta list, and a delta may name any bucket. The
  // predicate key makes a dateRange window rolling over (new JST day)
  // recount once. Counts taken while a merge is mid-write may be
  // transiently off by the in-flight batch — monitoring tolerance, the
  // same razor the reference's 60 s polling accepts.

  private val countCache =
    scala.collection.mutable.Map.empty[String, ((String, Upsert.Signature), Long)]

  private def cachedLiveCount(name: String, targetDir: String,
      pred: org.apache.spark.sql.Column): Long = {
    val key = (pred.toString, Upsert.signature(spark, targetDir))
    countCache.get(name).collect { case (k, n) if k == key => n }.getOrElse {
      val n = if (key._2.isEmpty) 0L
        else Upsert.liveRows(Upsert.readTarget(spark, targetDir)).filter(pred).count()
      countCache(name) = (key, n)
      n
    }
  }

  /** Drop cache entries for pipelines no longer in the config — must
    * run on EVERY monitoring entry point, or config churn (tasks
    * removed/renamed over weeks) leaks entries forever. */
  private def pruneCountCache(): Unit =
    countCache.keys.toSeq.filterNot(pipelineDefs.contains).foreach(countCache.remove)

  /** A2/P6 composed — the config's countQuery conditions run against
    * each pipeline's TARGET table (the reference's count monitoring,
    * query_counter.go:59-280 driven from monitor.go): one conditional
    * live-row count per table that declares conditions, cached per
    * target signature (see the cache note above). */
  def countReport(anchorUtc: LocalDateTime = clock()): Map[String, Long] = {
    pruneCountCache()
    pipelineDefs.collect {
      case (name, d: Compiler.CdcDef) if d.counts.nonEmpty =>
        val pred = graft.functions.Conditions.compile(d.counts, d.sourceTable, anchorUtc)
        name -> cachedLiveCount(name, d.cfg.targetDir, pred)
    }
  }

  /** What the SOURCE currently holds for this pipeline, under the same
    * conditions: the declarative replay of snapshot ⊕ change log — the
    * engine's analogue of the reference's COUNT(*) against the source
    * connection (monitor.go:281-305). A full log scan, priced like the
    * reference's source-DB count (the source side has no bucket cache);
    * run it on the MONITOR cadence (minutes), not per reconcile tick. */
  private def sourceLiveCount(d: Compiler.CdcDef,
      pred: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val cfg = d.cfg
    val srcPath = new org.apache.hadoop.fs.Path(cfg.sourceDir)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val haveLog = fs.exists(srcPath)
    val log = if (!haveLog) None else {
      val raw = spark.read.schema(graft.streaming.ChangeEvents.schema).json(cfg.sourceDir)
      val matched = cfg.nsFilter.map { case (db, t) =>
        graft.streaming.ChangeEvents.matchStage(raw, db, t) }.getOrElse(raw)
      Some(graft.streaming.ChangeEvents.includeTables(matched, cfg.includeTableRegex))
    }
    // the ops the PIPELINE applies: with ignoreDeleteOps the synced
    // world treats deletes as nonexistent, so the source replay must
    // too — a snapshot key whose only log ops are deletes still exists
    // in that world (the target keeps it live; counting it out here
    // would fire a permanent false count_mismatch)
    // cached for the tick: the last-writer-wins count AND the snapshot
    // anti-join both read this frame — uncached, the second consumer
    // re-scans the whole JSON log (the dominant cost here) per monitor
    // pass; released before return, the lifetime is this function
    val applied = log.map { l =>
      (if (cfg.ignoreDeleteOps) l.filter(col("op") =!= "delete") else l).persist() }
    try {
      val logLive = applied.map { base =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(cfg.keyCol)).orderBy(col("ts").desc, col("offset").desc)
        base.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("op") =!= "delete")
          .select(col(cfg.keyCol), col("after.*"), col("ts").as("updated_at"))
      }
      val logCount = logLive.map(_.filter(pred).count()).getOrElse(0L)
      // snapshot keys no APPLIED op ever touched still exist at the source
      val snapCount = d.snapshotDir.map { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) 0L
        else {
          val snap = spark.read.parquet(dir)
          val unTouched = applied match {
            case Some(base) => snap.join(base.select(col(cfg.keyCol)).distinct(),
              Seq(cfg.keyCol), "left_anti")
            case None => snap
          }
          unTouched.filter(pred).count()
        }
      }.getOrElse(0L)
      logCount + snapCount
    } finally applied.foreach(_.unpersist())
  }

  /** Two-sided count monitoring — the reference's core monitor loop
    * (monitor.go:281-305, Slack notify monitor.go:1158-1203): per
    * mapping with countQuery conditions, count source AND target under
    * the same compiled predicate and fire a `count_mismatch` alert
    * through the engine's sink for any |src−tgt| above `threshold`.
    * Returns name → (src, tgt). Cadence contract: the target side is
    * the cached count; the source side scans the log —
    * call on the monitor cadence (the reference uses 60 s), not every
    * reconcile tick. */
  def monitorCounts(anchorUtc: LocalDateTime = clock(),
      threshold: Long = 0L): Map[String, (Long, Long)] = {
    pruneCountCache()
    val rows = pipelineDefs.toSeq.collect {
      case (name, d: Compiler.CdcDef) if d.counts.nonEmpty =>
        val pred = graft.functions.Conditions.compile(d.counts, d.sourceTable, anchorUtc)
        (name, sourceLiveCount(d, pred), cachedLiveCount(name, d.cfg.targetDir, pred))
    }
    if (rows.nonEmpty) {
      import spark.implicits._
      val diff = rows.toDF("table_name", "src_count", "tgt_count")
        .withColumn("diff", org.apache.spark.sql.functions.col("src_count")
          - org.apache.spark.sql.functions.col("tgt_count"))
      graft.operators.Relational.alertOnMismatch(diff, threshold, alerts, configPath)
    }
    rows.map { case (n, s, t) => n -> (s, t) }.toMap
  }

  /** Every compiled replica (CDC and KV alike), by pipeline name. */
  private def replicas: Map[String, Compiler.Replica] =
    pipelineDefs.collect { case (name, r: Compiler.Replica) => name -> r }

  private def hasPendingDlq(r: Compiler.Replica): Boolean =
    Dlq.hasPendingBatches(spark, r.dlqDir)

  /** DLQ sweep across every replica (ST10); riders own no DLQ. Parked
    * batches alert through the engine's sink. For DRAINED contexts
    * (--once after awaitDrained): the retry merge must not run beside
    * the live stream's own merges — see [[sweepDlq]] for the resident
    * loop's stop-first variant. */
  def retryDlq(): Map[String, Dlq.Stats] =
    replicas.map { case (name, r) => name -> r.retryDlq(spark, alerts) }

  /** Maintenance DLQ sweep, safe while the engine serves: a pipeline
    * with PENDING dead-letter batches is stopped first — a retry merge
    * concurrent with the live stream's foreachBatch merge on the same
    * bucketed target is a lost-update race — then swept; the next
    * reconcile restarts it from its checkpoint (restart-on-death).
    * Healthy pipelines are untouched, and permanently parked batches
    * (`parked_*`) cost nothing here. */
  def sweepDlq(): Map[String, Dlq.Stats] = synchronized {
    if (stopping) return Map.empty
    replicas.collect {
      case (name, r) if hasPendingDlq(r) =>
        supervisor.activeQueries.get(name).foreach(_.stop())
        name -> r.retryDlq(spark, alerts)
    }
  }

  /** Tombstone reclamation: deletes become FINAL once the pipeline's
    * DLQ is drained — no stale retry can arrive anymore — so any
    * replica with an empty retry queue gets its target's delete
    * tombstones swept. The probe is [[Upsert.hasTombstones]]; only
    * when tombstones exist is the pipeline stopped (same
    * no-concurrent-merge contract as [[sweepDlq]]) and its touched
    * buckets rewritten; the next reconcile restarts it from the
    * checkpoint. */
  def sweepTombstones(): Map[String, Int] = synchronized {
    if (stopping) return Map.empty
    replicas.collect {
      case (name, r) if !hasPendingDlq(r) && Upsert.hasTombstones(spark, r.targetDir) =>
        supervisor.activeQueries.get(name).foreach(_.stop())
        name -> Upsert.sweepTombstones(spark, r.targetDir)
    }
  }

  /** Snapshot face of a `dailyRollup` pipeline's counters — current
    * per-(JST day, event type) counts (A6 through the config path). */
  def rollupCounts(name: String): org.apache.spark.sql.DataFrame =
    riderOutput(name, Compiler.Rollup)

  /** Snapshot face of a `sessionize` pipeline's durable log — finalized
    * per-key activity sessions (ST14/ST15 through the config path). */
  def sessionLog(name: String): org.apache.spark.sql.DataFrame =
    riderOutput(name, Compiler.Sessionize)

  /** Snapshot face of a `rateMonitor` pipeline's durable log —
    * finalized sliding-window per-op rates. */
  def rateLog(name: String): org.apache.spark.sql.DataFrame =
    riderOutput(name, Compiler.RateMonitor)

  /** Snapshot face of an `anomalyMonitor` pipeline's daily history —
    * per-(day, op) finalized masses the z-scores were drawn from. */
  def anomalyHistory(name: String): org.apache.spark.sql.DataFrame =
    riderOutput(name, Compiler.AnomalyMonitor)

  private def riderOutput(name: String, kind: Compiler.Rider): org.apache.spark.sql.DataFrame =
    pipelineDefs.get(name) match {
      case Some(r: Compiler.RiderPipeline) if r.rider == kind => r.read(spark)
      case other => throw new IllegalArgumentException(
        s"$name is not a ${kind.key} pipeline (got $other)")
    }

  /** Snapshot face of a `decontamTasks` pipeline's scored log — every
    * ingested document with its eval-collision count and quarantine
    * flag. */
  def quarantineLog(name: String): org.apache.spark.sql.DataFrame =
    pipelineDefs.get(name) match {
      case Some(Compiler.DecontamDef(_, s)) =>
        graft.streaming.DecontamStream.currentScores(spark, s.outDir)
      case other => throw new IllegalArgumentException(
        s"$name is not a decontam pipeline (got $other)")
    }

  /** Snapshot face of an `ivmTasks` pipeline's live view — bucket +
    * the view's configured aggregate columns. */
  def ivmView(name: String): org.apache.spark.sql.DataFrame =
    pipelineDefs.get(name) match {
      case Some(Compiler.IvmDef(_, s)) =>
        graft.streaming.IvmStream.currentView(spark, s.storeDir, s.view)
      case other => throw new IllegalArgumentException(
        s"$name is not an ivm pipeline (got $other)")
    }

  def activeQueries: Map[String, StreamingQuery] = supervisor.activeQueries

  /** Block until every running pipeline has consumed its available
    * input (test/drain aid). */
  def processAllAvailable(): Unit = activeQueries.values.foreach(_.processAllAvailable())

  /** AvailableNow mode: wait for every pipeline to drain and stop. */
  def awaitDrained(): Unit = activeQueries.values.foreach(_.awaitTermination())

  /** Idempotent and race-safe: the SIGTERM hook and the loop's
    * `finally` may both arrive here. No first-call-only gate — every
    * call stops whatever is active, so even if a reconcile slipped in
    * between two stop() calls (impossible now that pollOnce holds the
    * same monitor, but cheap to keep safe), the later call still tears
    * it down. stopAll on an empty supervisor is a no-op. */
  def stop(): Unit = synchronized {
    stopping = true
    supervisor.stopAll()
    recorder.foreach { case (_, r) =>
      r.flush()
      spark.streams.removeListener(r)
    }
    recorder = None
  }

  /** True after [[stop]] — the resident loop exits on it. */
  def isStopping: Boolean = stopping
}

object GraftEngine {

  /** Connect bound for the engine's own JDBC touches (index sync).
    * DriverManager.setLoginTimeout is PROCESS-GLOBAL — it caps every
    * DriverManager.getConnection in the JVM, including [[graft.sources.Jdbc]]
    * reads — so it is applied exactly once, here, where that scope is
    * documented, instead of silently re-imposed per reconcile tick. */
  val JdbcConnectBoundSecs = 15
  private lazy val jdbcBoundOnce: Unit =
    java.sql.DriverManager.setLoginTimeout(JdbcConnectBoundSecs)
  private[engine] def ensureJdbcConnectBound(): Unit = jdbcBoundOnce

  /** One row of the scheduled-task table: where the family's specs sit
    * in the config, its job-id namespace (the scheduler's at-most-once
    * dedup state is keyed by job id, so two families sharing a numeric
    * task id must not share dedup entries), the alert a failed run
    * raises (subject `<prefix><id>`), and the run itself, which raises
    * the family's own threshold alerts. */
  private final case class Family[S <: Scheduled](tasks: EngineConfig => Seq[S],
      idOffset: Int, failedKind: String, prefix: String)(run: S => Unit) {
    def specs(cfg: EngineConfig): Seq[Scheduled] = tasks(cfg)
    def jobs(cfg: EngineConfig, alerts: Alerts.Sink): Seq[Cron.Job] = tasks(cfg).map { spec =>
      Cron.Job(idOffset + spec.id, spec.schedule, () =>
        // a failing run alerts and yields the tick — it must not abort
        // the scheduler pass for the other due jobs
        try run(spec)
        catch { case e: Exception =>
          alerts.send(Alerts.Alert(failedKind, s"$prefix${spec.id}",
            String.valueOf(e.getMessage)))
        })
    }
  }

  /** Training-task job ids live [[TrainingJobIdOffset]] above backup ids
    * so the two task families never share scheduler-dedup keys. */
  val TrainingJobIdOffset = 1000000

  /** Optimize-task namespace, above training's for the same reason. */
  val OptimizeJobIdOffset = 2000000

  /** DQ-task namespace. */
  val DqJobIdOffset = 3000000

  /** ANN-index-maintenance namespace. */
  val AnnIndexJobIdOffset = 4000000

  /** Checksum-reconciliation namespace. */
  val ChecksumJobIdOffset = 5000000

  /** ANN-eval watchdog namespace. */
  val AnnEvalJobIdOffset = 6000000

  /** Run one ANN index-quality eval now: mean recall@k (integer micro)
    * of the stored index's probes for the standard query set
    * (vec_id < 10) against exact-cosine truth over the corpus of
    * record. Truth is the literal-query-matrix scan (queries explode
    * from a literal array — one corpus pass, no product); the fold is
    * k×queries-bounded. */
  def runAnnEval(spark: SparkSession, spec: graft.model.AnnEvalSpec): Long = {
    import org.apache.spark.sql.functions._
    import graft.functions.Vectors
    val emb = graft.Tables(spark, spec.sourceDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val sys = graft.operators.Similarity
      .ivfTopKAgainstStoredIndex(spark, spec.indexDir, queries, spec.k, spec.nprobe)
      .select(col("query_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qvecs = queries.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val qlit = array(qvecs.map { case (qid, qv) =>
      struct(lit(qid).as("query_id"), array(qv.map(lit).toIndexedSeq: _*).as("qv"))
    }.toIndexedSeq: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)
    val truth = emb.select(col("vec_id").as("cand_id"), col("embedding"),
        explode(qlit).as("q"))
      .filter(col("cand_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col("cand_id"),
        round(Vectors.dot(col("q.qv"), col("embedding")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= spec.k)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (truth.isEmpty) 1000000L
    else (sys & truth).size.toLong * 1000000L / truth.size
  }

  val ModelEvalJobIdOffset = 7000000

  /** One model-eval sweep's scalars; kappa/AUC are None on degenerate
    * corpora (one label class), ECE always folds. */
  final case class ModelEvalResult(kappaMicro: Option[Long],
      aucMicro: Option[Long], eceMicro: Long)

  /** Run one quality-model eval now: the three q208/q209/q212 metrics
    * folded to scalars — kappa and AUC read their 1-row reports, and
    * ECE is the doc-weighted mean of the calibration table's |gap|
    * (≤10 bins, driver-safe). */
  def runModelEval(spark: SparkSession,
      spec: graft.model.ModelEvalSpec): ModelEvalResult = {
    val kappaRow = graft.operators.TextOps.agreementKappa(spark, spec.sourceDir).head()
    val kappa = if (kappaRow.isNullAt(7)) None else Some(kappaRow.getLong(7))
    val aucRow = graft.operators.TextOps.classifierAuc(spark, spec.sourceDir).head()
    val auc = if (aucRow.isNullAt(2)) None else Some(aucRow.getLong(2))
    val bins = graft.operators.TextOps.classifierCalibration(spark, spec.sourceDir)
      .select("n_docs", "gap_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = bins.map(_._1).sum
    val ece = if (n == 0) 0L else bins.map { case (nd, g) => nd * g }.sum / n
    ModelEvalResult(kappa, auc, ece)
  }

  val PrivacyJobIdOffset = 8000000

  /** Model-lifecycle namespace. */
  val RetrainJobIdOffset = 10000000

  /** Drift-watchdog namespace. */
  val DriftJobIdOffset = 11000000

  /** Graph-health-watchdog namespace. */
  val GraphHealthJobIdOffset = 12000000

  /** ER-store maintenance ids live in their own namespace. */
  val ErJobIdOffset = 13000000

  /** One graph-health readout: the partition's global Newman
    * modularity in micro (Σ of the q267 per-community contributions —
    * the fold is community-sized, driver-safe) and the community
    * count. None for an EMPTY graph: no structure is not bad
    * structure, and an empty source must never page. */
  final case class GraphHealth(qMicro: Long, nCommunities: Long)

  def runGraphHealth(spark: SparkSession,
      spec: graft.model.GraphHealthSpec): Option[GraphHealth] =
    try {
      val rows = graft.operators.Graph
        .communityModularity(spark, spec.sourceDir, spec.iters,
          k = Int.MaxValue)
        .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("contrib_micro")),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)))
        .collect()(0)
      if (rows.isNullAt(0)) None
      else Some(GraphHealth(rows.getLong(0), rows.getLong(1)))
    } finally graft.operators.PlanCache.release()

  /** Run one entity-resolution store maintenance pass now: append the
    * source's NEW (id, name) rows, probe with the increment only,
    * optionally compact. Returns "er +N [compacted]".
    *
    * Freshness keys off the store's `absorbed` table — the per-id
    * marker [[graft.operators.Dedup.appendToEntityStore]] commits
    * only AFTER the batch's edges are durably appended — not off
    * `names` (written first): a crash mid-append leaves its ids
    * un-absorbed, so the next pass REPLAYS them and the idempotent
    * append derives the missing edges instead of silently skipping
    * the batch forever. A store founded before the marker protocol
    * falls back to `names` (its batches predate crash-replay). */
  def runErMaintenance(spark: SparkSession,
      spec: graft.model.ErTaskSpec): String = {
    val names = graft.Tables(spark, spec.sourceDir, "customer")
      .select(org.apache.spark.sql.functions.col("c_custkey").as("id"),
        org.apache.spark.sql.functions.col("c_name").as("name"))
    val done = graft.operators.Atomic.existing(spark, spec.storeDir, "absorbed")
      .orElse(graft.operators.Atomic.existing(spark, spec.storeDir, "names"))
    val fresh = done.fold(names)(d => names.join(d.select("id"), Seq("id"), "left_anti"))
    val n = fresh.count()
    if (n > 0) graft.operators.Dedup.appendToEntityStore(fresh, spec.storeDir)
    if (spec.compact)
      graft.operators.Dedup.compactEntityStore(spark, spec.storeDir)
    s"er +$n" + (if (spec.compact) " compacted" else "")
  }

  /** Run one modularity-drift audit now: the q298 epoch series over
    * the task's source, returning (epoch, drop-in-micro) for every
    * epoch whose modularity FELL more than the spec's bound versus
    * the previous epoch (the series frame is epochs-sized — the fold
    * is driver-safe). */
  def runGraphEvolution(spark: SparkSession,
      spec: graft.model.GraphHealthSpec): Seq[(Long, Long)] =
    try {
      // with a gauge store configured, each audit first persists any
      // newly-closed epochs (one slice LPA per new epoch, zero on an
      // unchanged axis) and then reads the series THROUGH the store —
      // one open-epoch slice per run instead of the full N-LPA sweep
      val series =
        if (spec.storeDir.nonEmpty) {
          graft.operators.Graph.appendEpochGauges(spark, spec.sourceDir,
            spec.storeDir, spec.epochs, spec.iters)
          graft.operators.Graph.evolutionSeriesFromStore(spark,
            spec.sourceDir, spec.storeDir, spec.iters)
        } else
          graft.operators.Graph.communityEvolutionSeries(spark,
            spec.sourceDir, spec.epochs, spec.iters)
      series
        .select("epoch", "modularity_drift_micro")
        .collect()
        .filter(r => !r.isNullAt(1) && -r.getLong(1) > spec.maxDriftMicro)
        .map(r => (r.getLong(0), -r.getLong(1))).toSeq
    } finally graft.operators.PlanCache.release()

  /** Run one drift audit now: the q253 per-type TVD profile, returning
    * the types whose drift crosses the spec's bound (the profile frame
    * is types-sized — the fold is driver-safe). */
  def runDriftAudit(spark: SparkSession,
      spec: graft.model.DriftSpec): Seq[(String, Long)] =
    graft.operators.DataQuality.valueDrift(spark, spec.sourceDir, spec.bucketWidth)
      .collect()
      .map(r => (r.getString(0), r.getLong(3)))
      .filter(_._2 > spec.maxTvdMicro).toSeq

  /** One retrain run's readout: the candidate's held-out AUC, the
    * incumbent's (None on the founding run), and whether the
    * candidate was published. */
  final case class RetrainResult(candidateAucMicro: Long,
      incumbentAucMicro: Option[Long], promoted: Boolean)

  /** Run one promote-if-better retrain now: train candidate weights
    * on the salted train split (the q245 fixed-iteration loop), score
    * candidate AND incumbent on the held-out split through the ONE
    * AUC definition ([[graft.operators.TextOps.weightsAucMicro]]),
    * and publish to the [[graft.operators.ModelStore]] registry only
    * when the candidate clears the incumbent by `minGainMicro`
    * (founding run promotes unconditionally). A degenerate held-out
    * split (one label class → no AUC) HOLDS the incumbent — a model
    * must never be replaced on evidence that cannot rank it.
    *
    * The incumbent is re-scored each run rather than trusting its
    * stored admission AUC: the held-out split drifts with the corpus,
    * and promote-if-better must compare both models on TODAY's
    * holdout or a stale high-water mark would block every candidate
    * forever. */
  def runModelRetrain(spark: SparkSession,
      spec: graft.model.RetrainSpec): RetrainResult = {
    val to = graft.operators.TextOps
    // scheduled jobs must not accumulate persisted frames tick over
    // tick — the runTrainingExport discipline
    try {
      val candidate = to.trainQualityWeights(spark, spec.sourceDir,
        spec.iters, spec.lr)
      // ONE cached holdout frame scores both weight vectors (a second
      // corpus scan per run bought nothing)
      val held = graft.operators.PlanCache.tracked(
        to.qualityFeatureFrame(spark, spec.sourceDir, heldout = true))
      val candAuc = to.weightsAucMicroOn(held, candidate)
      val incumbent = graft.operators.ModelStore.liveModel(spark, spec.storeDir)
      val incAuc = incumbent.flatMap { case (w, _) =>
        to.weightsAucMicroOn(held, w)
      }
      (candAuc, incumbent) match {
        case (None, _) =>
          RetrainResult(-1L, incAuc, promoted = false)
        case (Some(c), None) =>
          graft.operators.ModelStore.publishModel(spark, spec.storeDir, candidate, c)
          RetrainResult(c, None, promoted = true)
        case (Some(c), Some(_)) =>
          // an unreadable/degenerate incumbent AUC holds too: promote
          // needs a comparison it can win, not an absent opponent
          val promote = incAuc.exists(i => c >= i + spec.minGainMicro)
          if (promote)
            graft.operators.ModelStore.publishModel(spark, spec.storeDir, candidate, c)
          RetrainResult(c, incAuc, promoted = promote)
      }
    } finally graft.operators.PlanCache.release()
  }

  /** Graph-store maintenance namespace. */
  val GraphJobIdOffset = 9000000

  /** Run one graph-store maintenance pass now: reconcile the edge
    * store against the orders of record (O(increment) — the basket
    * ledger admits only unseen baskets), then optionally compact
    * (collapse deltas, erase tombstones). Returns the number of
    * baskets appended. */
  def runGraphMaintenance(spark: SparkSession,
      spec: graft.model.GraphTaskSpec): Long = {
    val n = graft.operators.Graph.reconcileGraphStore(
      spark, spec.sourceDir, spec.storeDir)
    if (spec.compact)
      graft.operators.Graph.compactGraphStore(spark, spec.storeDir)
    n
  }

  /** One privacy audit's worst-case gauges across all QI groups. */
  final case class PrivacyAuditResult(minGroupSize: Long, minLValue: Long,
      maxEmdMicro: Long)

  /** Run one privacy-risk audit now: the k-anonymity / l-diversity /
    * t-closeness profiles over the configured table, folded to their
    * worst group each (the profile frames are QI-cardinality-bounded,
    * so the folds are driver-safe scalars). */
  def runPrivacyAudit(spark: SparkSession,
      spec: graft.model.PrivacySpec): PrivacyAuditResult = {
    import org.apache.spark.sql.functions._
    val dq = graft.operators.DataQuality
    val cols = (spec.quasiIds :+ spec.sensitive).map(col)
    val base = graft.Tables(spark, spec.sourceDir, spec.table)
      .select(cols.toIndexedSeq: _*)
    val df =
      if (spec.bandWidth > 0)
        base.withColumn(spec.sensitive,
          floor(col(spec.sensitive) / spec.bandWidth).cast("long"))
      else base
    val minGroup = dq.kAnonymityProfile(df, spec.quasiIds, spec.minK.toInt)
      .agg(min(col("group_size"))).head().getLong(0)
    val minL = dq.lDiversityProfile(df, spec.quasiIds, spec.sensitive,
        spec.minL.toInt)
      .agg(min(col("l_value"))).head().getLong(0)
    val maxEmd = dq.tClosenessProfile(df, spec.quasiIds, spec.sensitive,
        spec.maxEmdMicro.toDouble / 1000000.0)
      .agg(max(col("emd_micro"))).head().getLong(0)
    PrivacyAuditResult(minGroup, minL, maxEmd)
  }

  /** Run one checksum reconciliation now: both ends' monthly XOR
    * checksums compared via a full-outer join on the month (a month
    * present on one side only is a divergence by definition — count
    * drift shows up as a checksum drift too, since XOR folds every
    * row). Returns (month, source "(n, cks)", target "(n, cks)") per
    * diverging month — months-sized, driver-safe. */
  def runChecksumCompare(spark: SparkSession,
      spec: graft.model.ChecksumSpec): Seq[(String, String, String)] = {
    import org.apache.spark.sql.functions._
    def fold(dir: String) = graft.operators.Relational.monthlyChecksums(spark, dir)
    fold(spec.sourceDir).select(col("month"),
        col("n_rows").as("sn"), col("checksum").as("sc"))
      .join(fold(spec.targetDir).select(col("month"),
        col("n_rows").as("tn"), col("checksum").as("tc")), Seq("month"), "full_outer")
      .filter(!(col("sn") <=> col("tn")) || !(col("sc") <=> col("tc")))
      .collect().toSeq
      .map(r => (String.valueOf(r.getDate(0)),
        s"(${r.get(1)}, ${r.get(2)})", s"(${r.get(3)}, ${r.get(4)})"))
  }

  /** Evaluate one DQ task now; returns (rule, violations) for every
    * FAILED rule — the caller alerts on each. The full report is
    * driver-side metadata (one row per rule). */
  def runDqCheck(spark: SparkSession,
      spec: graft.model.DqSpec): Seq[(String, Long)] =
    graft.operators.DataQuality
      .check(graft.Tables(spark, spec.sourceDir, spec.table), spec.rules)
      .collect().toSeq
      .collect { case r if !r.getBoolean(4) => r.getString(0) -> r.getLong(3) }

  /** Execute one layout-maintenance job now (the optimize cron target):
    * rewrite the source parquet table Z-clustered on the two configured
    * columns into the `outDir` mirror. Overwrite is atomic at the
    * directory-commit level (Spark stages to _temporary then renames);
    * readers of the mirror see old or new, never a mix. */
  def runOptimize(spark: SparkSession, spec: graft.model.OptimizeSpec): String = {
    graft.operators.Layout.writeZOrdered(
      spark.read.parquet(spec.sourceDir),
      spec.zorderBy._1, spec.zorderBy._2, spec.outDir, spec.numFiles)
    spec.outDir
  }

  /** Execute one vector-index maintenance pass now (the annIndex cron
    * target): per enabled index, found if absent, else append exactly
    * the corpus vectors the index lacks (anti-join on vec_id — an
    * unchanged corpus is a no-op pass, O(increment) otherwise);
    * optionally retrain + store the PQ codebooks from the full corpus;
    * optionally compact (tombstone erasure + small-file rewrite).
    * Returns a summary like `ivf +120 codes +120 pq compacted`. */
  def runAnnIndexMaintenance(spark: SparkSession,
      spec: graft.model.AnnIndexSpec): String = {
    import graft.operators.{Atomic, Similarity}
    val emb = graft.Tables(spark, spec.sourceDir, "embeddings")
    def increment(have: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Long) = {
      val fresh = emb.join(have.select("vec_id"), Seq("vec_id"), "left_anti")
      (fresh, fresh.count())
    }
    val ivfRoot = s"${spec.indexDir}/ivf"
    val codesRoot = s"${spec.indexDir}/codes_idx"
    val parts = Seq.newBuilder[String]
    if (spec.ivf) {
      if (Atomic.existing(spark, ivfRoot, "centroids").isEmpty) {
        Similarity.buildStoredIvf(emb, ivfRoot)
        parts += "ivf founded"
      } else {
        val (fresh, n) = increment(Atomic.live(spark, ivfRoot, "cells"))
        if (n > 0) Similarity.appendToStoredIvf(fresh, ivfRoot)
        parts += s"ivf +$n"
      }
      if (spec.compact) { Similarity.compactStoredIvf(spark, ivfRoot); parts += "ivf compacted" }
    }
    if (spec.codes) {
      Atomic.existing(spark, codesRoot, "codes") match {
        case None =>
          Similarity.foundCodeIndex(emb, codesRoot)
          parts += "codes founded"
        case Some(have) =>
          val (fresh, n) = increment(have)
          if (n > 0) Similarity.appendToCodeIndex(fresh, codesRoot)
          parts += s"codes +$n"
      }
      if (spec.compact) { Similarity.compactCodeIndex(spark, codesRoot); parts += "codes compacted" }
    }
    if (spec.jl) {
      val jlRoot = s"${spec.indexDir}/jl"
      if (Atomic.existing(spark, jlRoot, "jlcents").isEmpty) {
        Similarity.foundJlIndex(emb, jlRoot)
        parts += "jl founded"
      } else {
        val (fresh, n) = increment(Atomic.live(spark, jlRoot, "jlproj"))
        if (n > 0) Similarity.appendToJlIndex(fresh, jlRoot)
        parts += s"jl +$n"
      }
      if (spec.compact) { Similarity.compactJlIndex(spark, jlRoot); parts += "jl compacted" }
    }
    if (spec.trainPq) {
      Similarity.storePqCodebook(spark, Similarity.trainPqCodebooks(emb), spec.indexDir)
      parts += "pq trained"
    }
    parts.result().mkString(" ")
  }

  /** Execute one training-data build now (the training cron target):
    * run the composed curate → epoch-mix → pack chain over the corpus
    * and land the packed-sequence manifest under `outDir/manifest`,
    * partitioned by pack group — each partition is one sequence
    * writer's independent work list. The write replaces the previous
    * manifest atomically per partition tree (overwrite mode); the dedup
    * intermediates are released after the write, but the corpus band
    * index stays resident on purpose — it is the persistent structure
    * every dedup consumer shares, rebuilt only when the process
    * restarts. */
  def runTrainingExport(spark: SparkSession, spec: TrainingExportSpec): String = {
    val rates =
      if (spec.rates.nonEmpty) spec.rates
      else graft.operators.TextOps.DefaultEpochRates
    val out = s"${spec.outDir}/manifest"
    try graft.operators.TextOps
      .trainingExport(spark, spec.sourceDir, spec.minQuality, rates, spec.capacity)
      .write.mode("overwrite").partitionBy("pack_group").parquet(out)
    finally graft.operators.PlanCache.release()
    out
  }

  /** Execute one backup task now (the cron target, executor.go:157-271):
    * list the tables under `sourceDir`, regex-discover, group by prefix,
    * prune date-suffixed slices against the task's JST window, and write
    * one merged artifact per logical table in the configured format. */
  def runBackup(spark: SparkSession, spec: BackupSpec,
      anchorUtc: LocalDateTime): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(spec.sourceDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val available = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    val jstDate = anchorUtc.atZone(ZoneOffset.UTC)
      .withZoneSameInstant(TimeWindows.JST).toLocalDate
    spec.tables.flatMap { bt =>
      val discovered = Backup.discover(available, bt.tablePattern)
      Backup.groupByPrefix(discovered).toSeq.sortBy(_._1).flatMap { case (prefix, members) =>
        val slices = members.sorted.map { name =>
          // an upsert target is read resolved and live: a raw read
          // would miss its deltas and export delete tombstones as rows
          val dir = s"${spec.sourceDir}/$name"
          Backup.TableSlice(name, () =>
            if (Upsert.isTarget(spark, dir)) Upsert.liveRows(Upsert.readTarget(spark, dir))
            else spark.read.parquet(dir),
            Backup.parseSuffixRange(name))
        }
        val start = jstDate.plusDays(bt.startOffsetDays.toLong)
        val endExcl = jstDate.plusDays(bt.endOffsetDays.toLong + 1L)
        def export(): String = {
          val predicate = bt.timeField match {
            case Some(f) => // export semantics: exclusive end (external_simple.go:573-580)
              TimeWindows.exportPredicate(org.apache.spark.sql.functions.col(f),
                TimeWindows.jstDayWindow(anchorUtc, bt.startOffsetDays, bt.endOffsetDays))
            case None => lit(true)
          }
          val df = Backup.mergedExport(slices, start, endExcl, predicate, bt.fields)
          // artifact naming: {prefix}_{window-start-date}.{format}, the
          // reference's `base_YYYY-MM-DD.ext` merged file (mysql.go:399-416)
          val out = s"${spec.outDir}/${prefix}_$start.${spec.format}"
          spec.format match {
            case "sql" => Backup.writeSql(df, prefix, out, spec.compress)
            case "csv" => Backup.writeCsv(df, out, spec.compress)
            case _     => Backup.writeJsonl(df, out, spec.compress)
          }
          // W8: zip the part files into one artifact and hand it to the
          // store (the reference's zip → GCS steps, mysql.go:485-500)
          spec.uploadDir.foreach { dst =>
            val zipName = s"${prefix}_$start.zip"
            val zip = Backup.zipArtifact(spark, out, s"${spec.outDir}/$zipName")
            new Backup.LocalArtifactStore(dst).put(spark, zip, zipName)
          }
          out
        }
        // a group with no slice in the window is SKIPPED, not an error —
        // one stale table must not abort its sibling exports (the
        // reference skips and continues, mysql.go:446-449)
        if (Backup.pruneSlices(slices, start, endExcl).isEmpty) None
        else Some(export())
      }
    }
  }

  /** The `--once` body, exit code out (0 = clean catch-up): compile and
    * run every pipeline in AvailableNow mode, drain, one DLQ pass,
    * finalize deletes, stop. Non-zero when the config failed to load, a
    * pipeline failed to start, or the DLQ pass left batches behind —
    * separated from [[main]] so the contract is testable without
    * `sys.exit`. */
  def runOnce(engine: GraftEngine): Int = {
    val r = engine.pollOnce()
    engine.awaitDrained()
    val dlq = engine.retryDlq()
    // the catch-up is drained and the DLQ pass just ran: any pipeline
    // whose queue is now empty has its deletes finalized
    engine.sweepTombstones()
    println(s"[engine] started=${r.started.size} failed=${r.failed.size} " +
      s"dlq=${dlq.values.map(s => s.succeeded + s.failed + s.parked).sum}")
    engine.stop()
    if (r.failed.nonEmpty || dlq.values.exists(s => s.failed > 0 || s.parked > 0)) 1
    else 0
  }

  /** `GraftEngine <config.json> [--once] [--interval-ms N] [--rounds N]`
    *
    * `--once`: compile and run every pipeline in AvailableNow mode,
    * drain, run one DLQ pass, stop — the batch-catchup entry. Default:
    * the reference's resident loop — reload+reconcile every interval,
    * cron-tick each pass, forever (or `--rounds`). */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GraftEngine <config.json> [--once] [--interval-ms N] " +
      "[--rounds N] [--monitor-every N] [--monitor-threshold N] [--tombstone-sweep-every N]")
    val configPath = args(0)
    def intArg(flag: String, default: Long): Long =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v.toLong }.getOrElse(default)
    val once = args.contains("--once")
    val spark = graft.GraftSession.local()
    val engine = new GraftEngine(spark, configPath, availableNow = once)
    if (once) {
      // a batch orchestrator (cron / k8s Job) reads the exit code: a
      // config or start failure, or a DLQ pass that left batches
      // failed/parked, is NOT a successful catch-up run
      val code = runOnce(engine)
      if (code != 0) sys.exit(code)
    } else {
      val intervalMs = intArg("--interval-ms", 10000L)
      val rounds = intArg("--rounds", Long.MaxValue)
      // tombstone reclamation is maintenance, not correctness: default
      // hourly at the 10 s cadence (sweeping stops/restarts the swept
      // pipeline, so it must not run every tick)
      val sweepEvery = intArg("--tombstone-sweep-every", 360L)
      // two-sided count monitoring on the reference's 60 s cadence
      // (monitor.go): the source side scans the log, so not every tick.
      // --monitor-threshold allows |src−tgt| up to N before alerting —
      // on a busy pipeline the in-flight micro-batch makes a nonzero
      // diff NORMAL at any instant; 0 (the reference's behavior) only
      // stays quiet when monitoring outpaces ingest.
      val monitorEvery = intArg("--monitor-every", 6L)
      val monitorThreshold = intArg("--monitor-threshold", 0L)
      // graceful SIGTERM: stop every query (offsets already committed
      // stay committed) before the JVM exits — main.go:76-88
      sys.addShutdownHook(engine.stop())
      // maintenance steps alert-and-continue like every other tick step:
      // a transient storage error in a monitor pass must not take the
      // resident engine down
      def guardTick(step: String)(body: => Unit): Unit =
        try body catch {
          case e: Exception => println(s"[engine] $step failed: ${e.getMessage}")
        }
      var i = 0L
      try while (i < rounds && !engine.isStopping) {
        val r = engine.pollOnce()
        if (r.started.nonEmpty || r.stopped.nonEmpty || r.failed.nonEmpty)
          println(s"[engine] reconcile started=${r.started} stopped=${r.stopped} " +
            s"failed=${r.failed.keySet}")
        engine.tickCron()
        // periodic dead-letter pass (the reference retries parked
        // batches on its monitor cadence): stop-first per affected
        // pipeline, no-op when every DLQ is empty
        guardTick("dlq sweep")(engine.sweepDlq())
        i += 1
        if (monitorEvery > 0 && i % monitorEvery == 0)
          guardTick("count monitor")(engine.monitorCounts(threshold = monitorThreshold))
        if (sweepEvery > 0 && i % sweepEvery == 0)
          guardTick("tombstone sweep")(engine.sweepTombstones())
        if (i < rounds) Thread.sleep(intervalMs)
      } finally engine.stop()
    }
  }
}
