package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{CountCondition, SyncTaskSpec, TableMapping}
import graft.streaming.{Alerts, AnomalyStream, CdcPipeline, DailyRollup, Dlq,
  ForecastAnomalyStream, KvPipeline, RateStream, SessionStream}

/** Spec→pipeline compiler: turns one [[SyncTaskSpec]] into the per-table
  * pipeline configs the streaming layer runs — the typed analogue of the
  * reference's `startSyncTasks` dispatch (reference cmd/sync/main.go:148-188),
  * where each enabled task fans out one syncer per mapped table.
  *
  * Each table compiles to one replica ([[CdcDef]] or [[KvDef]], the
  * [[Replica]] face: target, DLQ and DLQ retry) plus one pipeline per
  * opt-in rider the task enables. The riders are declared once, in
  * [[Riders]]: each row names its JSON key, its name and storage-root
  * suffix, why a redis task cannot carry it, how it starts and how its
  * output reads back. The config reader, this compiler and the engine
  * iterate over that table instead of spelling the riders out.
  *
  * Layout conventions (the engine's DSN): a task's `sourceDir` /
  * `targetDir` / `checkpointDir` / `dlqDir` are roots holding one
  * subdirectory per table, so pipelines never share a checkpoint or DLQ.
  * Every def names the [[PipelineDef.roots]] it writes, which
  * [[compileAll]] checks for nesting.
  */
object Compiler {

  sealed trait PipelineDef {
    def name: String
    /** The storage roots this pipeline owns (writes); what it only
      * reads is not listed. */
    def roots: Seq[String]
  }

  /** A pipeline that replicates a change stream into a keyed target and
    * parks failed batches in a dead-letter queue. */
  sealed trait Replica extends PipelineDef {
    def targetDir: String
    def dlqDir: String
    /** One DLQ retry pass; never run beside the live stream's merges. */
    def retryDlq(spark: SparkSession, alerts: Alerts.Sink): Dlq.Stats
  }

  /** The syncIndexes compilation: replay these index specs (diffed
    * against the target's existing names, then CREATE INDEX) on the
    * JDBC connection at pipeline start — copyIndexes,
    * reference mongodb.go:313-321. The key-column index is the one
    * structural spec the engine knows for its file-based sources. */
  final case class IndexSync(jdbcUrl: String, table: String,
      indexes: Seq[graft.operators.MetaOps.IndexSpec])

  /** mongodb|mysql|mariadb|postgresql → CDC pipeline (+ optional initial
    * snapshot, applied once via skip-if-nonempty before the stream).
    * `counts` carries the mapping's countQuery conditions for the
    * engine's monitoring report (query_counter.go:59-280). */
  final case class CdcDef(name: String, cfg: CdcPipeline.Config,
      snapshotDir: Option[String], sourceTable: String = "",
      counts: Seq[CountCondition] = Nil,
      indexSync: Option[IndexSync] = None) extends Replica {
    def targetDir: String = cfg.targetDir
    def dlqDir: String = cfg.dlqDir
    def roots: Seq[String] = Seq(cfg.sourceDir, cfg.targetDir, cfg.checkpointDir, cfg.dlqDir)
    def retryDlq(spark: SparkSession, alerts: Alerts.Sink): Dlq.Stats =
      CdcPipeline.retryDlq(spark, cfg, alerts)
  }

  /** redis → KV pipeline. */
  final case class KvDef(name: String, cfg: KvPipeline.Config) extends Replica {
    def targetDir: String = cfg.targetDir
    def dlqDir: String = cfg.dlqDir
    def roots: Seq[String] = Seq(cfg.sourceDir, cfg.targetDir, cfg.checkpointDir, cfg.dlqDir)
    def retryDlq(spark: SparkSession, alerts: Alerts.Sink): Dlq.Stats =
      KvPipeline.retryDlq(spark, cfg, alerts)
  }

  /** One opt-in change-stream rider kind, one row of [[Riders]]. A
    * rider reads the same change-event source as its table's CDC
    * pipeline (the KV op log has no change events, so a redis task
    * carrying `key` is rejected at load with [[rejection]], which
    * says what the op log `lacks`); its
    * pipeline name and storage roots are the table's plus `suffix`.
    * `start` gets (source dir, output, checkpoint dir, alert sink,
    * availableNow), `read` gets the output; the output is a log dir,
    * or the rollup's memory table. Equality is the first parameter
    * list only, so defs compiled from the same config stay equal. */
  final case class Rider(key: String, suffix: String, lacks: String)(
      val start: (SparkSession, String, String, String, Alerts.Sink, Boolean) => StreamingQuery,
      val read: (SparkSession, String) => DataFrame) {
    def rejection: String =
      s"$key requires a change-event (CDC) task: the KV op log has $lacks"
  }

  /** A6 composed: per-table daily counters (monitor.go daily reset) as
    * a supervised windowed aggregation into a memory table. */
  val Rollup: Rider = Rider("dailyRollup", "#rollup", "no change events to roll up")(
    (spark, src, table, _, _, now) => DailyRollup.start(spark, src, table, now),
    DailyRollup.currentCounts)
  /** ST14/ST15 composed: gap sessions of per-KEY activity, finalized by
    * watermark into a durable log. */
  val Sessionize: Rider = Rider("sessionize", "#sessions", "no change events to sessionize")(
    (spark, src, out, ckpt, _, now) => SessionStream.startChangeEvents(spark, src, out, ckpt, now),
    SessionStream.currentSessions)
  /** Sliding-window per-op rates, finalized by watermark into a
    * durable log. */
  val RateMonitor: Rider = Rider("rateMonitor", "#rates", "no change events to rate")(
    (spark, src, out, ckpt, _, now) => RateStream.startChangeEvents(spark, src, out, ckpt, now),
    RateStream.currentRates)
  /** Daily op-count z-score alerts, with a durable daily history. */
  val AnomalyMonitor: Rider = Rider("anomalyMonitor", "#anomalies", "no change events to score")(
    (spark, src, out, ckpt, alerts, now) =>
      AnomalyStream.startChangeEvents(spark, src, out, ckpt, alerts, availableNow = now),
    AnomalyStream.currentHistory)
  /** Seasonal forecast-residual alarm on daily op counts: a weekly
    * volume cycle does not page, a genuine break does. */
  val ForecastMonitor: Rider = Rider("forecastMonitor", "#forecast", "no change events to forecast")(
    (spark, src, out, ckpt, alerts, now) =>
      ForecastAnomalyStream.startChangeEvents(spark, src, out, ckpt, alerts, availableNow = now),
    ForecastAnomalyStream.currentHistory)
  /** The same alarm on the after-image's daily cent mass
    * (`value_forecast_anomaly`, the q90/q155 revenue series). */
  val ValueForecastMonitor: Rider = Rider("valueForecastMonitor", "#vforecast",
      "no after-image value mass to forecast")(
    (spark, src, out, ckpt, alerts, now) =>
      ForecastAnomalyStream.startChangeValues(spark, src, out, ckpt, alerts, availableNow = now),
    ForecastAnomalyStream.currentHistory)

  /** Every rider kind, in the order a table's riders compile. */
  val Riders: Seq[Rider] = Seq(Rollup, Sessionize, RateMonitor, AnomalyMonitor,
    ForecastMonitor, ValueForecastMonitor)

  /** A pipeline of one [[Rider]] kind over its table's change source. */
  sealed trait RiderPipeline extends PipelineDef {
    def rider: Rider
    def sourceDir: String
    /** The log dir, or the rollup's memory table. */
    def output: String
    def checkpointDir: String
    def start(spark: SparkSession, alerts: Alerts.Sink, availableNow: Boolean): StreamingQuery =
      rider.start(spark, sourceDir, output, checkpointDir, alerts, availableNow)
    def read(spark: SparkSession): DataFrame = rider.read(spark, output)
  }

  /** The `dailyRollup` rider: its sink is an in-memory table (the
    * reference's counters are in-memory too), so it owns no storage
    * roots and keeps no checkpoint; a restart re-derives the horizon
    * from the stream. `queryName` is the table's SQL-safe name. */
  final case class RollupDef(name: String, sourceDir: String,
      queryName: String) extends RiderPipeline {
    def rider: Rider = Rollup
    def output: String = queryName
    def checkpointDir: String = ""
    def roots: Seq[String] = Nil
  }

  /** A file-sink rider: its output lands in a durable parquet log
    * (`outDir`) with its own checkpoint, so restart-on-death resumes
    * without losing or duplicating a finalized row. */
  final case class RiderDef(name: String, rider: Rider, sourceDir: String,
      outDir: String, checkpointDir: String) extends RiderPipeline {
    def output: String = outDir
    def roots: Seq[String] = Seq(outDir, checkpointDir)
  }

  /** A `decontamTasks` entry: resident
    * [[graft.streaming.DecontamStream]] pipeline — crawl documents
    * scored at ingest against the corpus's eval shingle set, quarantine
    * log + checkpoint owned by this pipeline (the corpus and crawl
    * source are read-only). */
  final case class DecontamDef(name: String, spec: graft.model.DecontamSpec)
      extends PipelineDef {
    def roots: Seq[String] = Seq(spec.outDir, spec.checkpointDir)
  }

  /** A resident incremental-view-maintenance pipeline
    * ([[graft.streaming.IvmStream]]): the change log at
    * `spec.sourceDir` keeps the configured aggregate view fresh with
    * delta work only, under the supervisor like any sync pipeline. It
    * owns its view store and checkpoint. */
  final case class IvmDef(name: String, spec: graft.model.IvmTaskSpec)
      extends PipelineDef {
    def roots: Seq[String] = Seq(spec.storeDir, spec.checkpointDir)
  }

  /** Namespace + storage-path derivation. A table whose mapping-level
    * sourceDb DIFFERS from the task default gets db-prefixed paths and
    * a db-qualified pipeline name, so a multi-database task's tables
    * never collide on name, checkpoint, target, or DLQ — and its ns
    * filter matches ITS database, not the first mapping's. Tables of
    * the default database keep the flat layout. */
  private def sourceNs(spec: SyncTaskSpec, m: TableMapping): String =
    m.sourceDb.getOrElse(spec.sourceDb)

  private def srcSub(spec: SyncTaskSpec, m: TableMapping): String =
    if (m.sourceDb.exists(_ != spec.sourceDb)) s"${m.sourceDb.get}/${m.sourceTable}"
    else m.sourceTable

  private def tgtSub(spec: SyncTaskSpec, m: TableMapping): String =
    // an EXPLICIT targetDatabase always namespaces the target (the
    // reference maps source db → target db, config.go:36-41); without
    // one, a non-default source db namespaces it, default stays flat.
    // Layout note: adding/removing targetDatabase on a RUNNING config
    // relocates the target root while the checkpoint (source-keyed)
    // resumes committed offsets against the new, empty location — move
    // or re-snapshot the old target when changing this field.
    m.targetDb.orElse(m.sourceDb.filter(_ != spec.sourceDb)) match {
      case Some(db) => s"$db/${m.targetTable}"
      case None     => m.targetTable
    }

  def pipelineName(spec: SyncTaskSpec, m: TableMapping): String =
    s"task${spec.id}/${srcSub(spec, m)}"

  /** Compile one task; a disabled task compiles to nothing, which makes
    * disable-in-config == stop-at-reconcile (main.go:149-151). */
  def compile(spec: SyncTaskSpec): Seq[PipelineDef] =
    if (!spec.enabled) Nil
    else spec.tables.flatMap { m =>
      val name = pipelineName(spec, m)
      val src = srcSub(spec, m); val tgt = tgtSub(spec, m)
      val srcDir = s"${spec.sourceDir}/$src"
      // riders consume change events, so they ride CDC tasks only (the
      // KV op log has a different schema; the config reader rejects a
      // redis task that asks for one). '#' keeps their roots SIBLINGS
      // of the table roots (never nested inside them), so the
      // compileAll nesting check holds
      val riders = Riders.filter(r => spec.riders.contains(r.key) && spec.taskType != "redis")
        .map { r =>
          if (r == Rollup) RollupDef(name + r.suffix, srcDir,
            s"rollup_task${spec.id}_$src".replaceAll("[^A-Za-z0-9_]", "_"))
          else RiderDef(name + r.suffix, r, srcDir,
            s"${spec.targetDir}/$tgt${r.suffix}", s"${spec.checkpointDir}/$src${r.suffix}")
        }
      riders :+ (spec.taskType match {
        case "redis" =>
          KvDef(name, KvPipeline.Config(
            sourceDir = srcDir,
            targetDir = s"${spec.targetDir}/$tgt",
            checkpointDir = s"${spec.checkpointDir}/$src",
            dlqDir = s"${spec.dlqDir}/$src"))
        case t =>
          CdcDef(name, CdcPipeline.Config(
            sourceDir = srcDir,
            targetDir = s"${spec.targetDir}/$tgt",
            checkpointDir = s"${spec.checkpointDir}/$src",
            dlqDir = s"${spec.dlqDir}/$src",
            keyCol = m.keyColumns.headOption.getOrElse("key"),
            ignoreDeleteOps = m.advanced.ignoreDeleteOps,
            // task-level securityEnabled gates the per-field rules,
            // reference config.go:268-276
            fieldSecurity = if (m.securityEnabled) m.fieldSecurity else Nil,
            // mongodb/postgresql watch one namespace (the $match stage /
            // publication); mysql binlog filters by include-table regex
            nsFilter =
              if (t == "mongodb" || t == "postgresql") Some((sourceNs(spec, m), m.sourceTable))
              else None,
            includeTableRegex =
              // both parts quoted: sourceTable is a LITERAL name in this
              // compiler (it is also the source/checkpoint directory), so
              // a dot or paren in the name must not act as regex syntax
              if (t == "mysql" || t == "mariadb")
                Seq("^" + java.util.regex.Pattern.quote(sourceNs(spec, m)) + "\\." +
                  java.util.regex.Pattern.quote(m.sourceTable) + "$")
              else Nil),
            snapshotDir = spec.snapshotDir.map(s => s"$s/$src"),
            sourceTable = m.sourceTable,
            counts = m.countConditions,
            indexSync = (spec.targetJdbcUrl, m.advanced.syncIndexes) match {
              case (Some(url), true) if m.keyColumns.nonEmpty =>
                Some(IndexSync(url, m.targetTable, Seq(graft.operators.MetaOps.IndexSpec(
                  s"idx_${m.targetTable}_${m.keyColumns.mkString("_")}",
                  m.keyColumns.map((_, 1)), unique = false))))
              case _ => None
            })
      })
    }

  /** The supervisor's desired state: every enabled task's pipelines,
    * keyed by [[pipelineName]]. Rejects silent-loss configurations:
    * duplicate pipeline names (the Map would drop one) and storage
    * roots that nest inside each other (a flat table named like
    * another mapping's database would put one table's files INSIDE
    * another's parquet/checkpoint root). A rejected config keeps the
    * previous running set (the engine treats this like a config load
    * failure). */
  def compileAll(specs: Seq[SyncTaskSpec],
      decontam: Seq[graft.model.DecontamSpec] = Nil,
      ivm: Seq[graft.model.IvmTaskSpec] = Nil): Map[String, PipelineDef] = {
    val defs = specs.flatMap(compile) ++
      decontam.filter(_.enabled).map(d => DecontamDef(s"decontam${d.id}", d)) ++
      ivm.filter(_.enabled).map(s => IvmDef(s"ivm${s.id}", s))
    val dupNames = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dupNames.isEmpty, s"pipeline name collision: ${dupNames.mkString(", ")}")
    // rollup queryNames are sanitized ([^A-Za-z0-9_] → _), which can
    // collide names that differ only in separators (db2/orders vs
    // db2_orders) — the second memory-sink stream would then fail to
    // start on EVERY reconcile; reject the config instead
    val dupQueryNames = defs.collect { case r: RollupDef => r }
      .groupBy(_.queryName).collect { case (q, rs) if rs.size > 1 =>
        s"$q (${rs.map(_.name).mkString(" vs ")})" }
    require(dupQueryNames.isEmpty,
      s"rollup query-name collision after sanitization: ${dupQueryNames.mkString(", ")}")
    // slash-appended before sorting: strings sharing prefix "a/" form a
    // contiguous sorted range, so the adjacent-pair check is sound — a
    // bare sort is not (a sibling like "a-old" sorts BETWEEN "a" and
    // "a/x" because '-' < '/')
    val roots = defs.flatMap(d => d.roots.map(r => (d.name, r + "/"))).sortBy(_._2)
    roots.sliding(2).foreach {
      case Seq((na, a), (nb, b)) =>
        require(b != a && !b.startsWith(a),
          s"storage roots nest: '$a' ($na) contains '$b' ($nb)")
      case _ => ()
    }
    defs.map(d => d.name -> d).toMap
  }
}
