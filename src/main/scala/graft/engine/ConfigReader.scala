package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.model._

/** JSON config loader — the engine's re-expression of the reference's
  * `sync_tasks.config_json` parser (reference pkg/config/config.go:175-344)
  * plus the backup-task config (pkg/backup/executor.go:157-271,
  * cronjob.go:107-125).
  *
  * Shape:
  * {{{
  * { "syncTasks": [ { "id": 1, "type": "mongodb", "enabled": true,
  *     "sourceDir": "...", "targetDir": "...", "checkpointDir": "...",
  *     "snapshotDir": "...",
  *     "securityEnabled": true,
  *     "tables": [ { "sourceTable": "events", "targetTable": "events",
  *         "keyColumns": ["key"],
  *         "fieldSecurity": [ {"field": "after.k", "securityType": "mask"} ],
  *         "advancedSettings": {"ignoreDeleteOps": true} } ] } ],
  *   "backupTasks": [ { "id": 10, "schedule": "0 2 * * *", "format": "sql",
  *     "sourceDir": "...", "outDir": "...", "compress": false,
  *     "tables": [ {"tablePattern": "orders_\\d+", "fields": ["all"],
  *                  "timeField": "o_orderdate",
  *                  "startOffsetDays": -1, "endOffsetDays": -1} ] } ] }
  * }}}
  *
  * Field names follow the reference JSON (`type`, `sourceTable`,
  * `advancedSettings`, task-level `securityEnabled` pushed down to every
  * table — config.go:268-276). Parsing is deliberately tree-walking and
  * per-task fault-isolated like the reference: one malformed task is
  * skipped with a warning, the rest of the config still loads
  * (config.go:229-231 `[WARN] parse config_json`).
  */
object ConfigReader {

  /** `metricsDir` enables the engine's stream-progress recorder — the
    * monitoring loop of cmd/sync/main.go:104-109 (config_global's
    * enable_table_row_count_monitoring) with the metrics parquet table
    * standing in for SQLite `monitoring_log`. */
  final case class EngineConfig(
      syncTasks: Seq[SyncTaskSpec] = Nil,
      backupTasks: Seq[BackupSpec] = Nil,
      trainingTasks: Seq[TrainingExportSpec] = Nil,
      optimizeTasks: Seq[OptimizeSpec] = Nil,
      dqTasks: Seq[DqSpec] = Nil,
      decontamTasks: Seq[DecontamSpec] = Nil,
      ivmTasks: Seq[graft.model.IvmTaskSpec] = Nil,
      annIndexTasks: Seq[graft.model.AnnIndexSpec] = Nil,
      checksumTasks: Seq[ChecksumSpec] = Nil,
      annEvalTasks: Seq[AnnEvalSpec] = Nil,
      modelEvalTasks: Seq[ModelEvalSpec] = Nil,
      privacyTasks: Seq[PrivacySpec] = Nil,
      graphTasks: Seq[GraphTaskSpec] = Nil,
      retrainTasks: Seq[RetrainSpec] = Nil,
      driftTasks: Seq[DriftSpec] = Nil,
      graphHealthTasks: Seq[GraphHealthSpec] = Nil,
      erTasks: Seq[graft.model.ErTaskSpec] = Nil,
      metricsDir: Option[String] = None)

  private val mapper = new ObjectMapper()
  private val logger = org.slf4j.LoggerFactory.getLogger("graft.config")

  def load(path: String): EngineConfig =
    parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  def parse(json: String): EngineConfig = {
    val root = mapper.readTree(json)
    EngineConfig(
      syncTasks = tasks(root, "syncTasks")(parseSyncTask),
      backupTasks = tasks(root, "backupTasks")(parseBackupTask),
      trainingTasks = tasks(root, "trainingTasks")(parseTrainingTask),
      optimizeTasks = tasks(root, "optimizeTasks")(parseOptimizeTask),
      dqTasks = tasks(root, "dqTasks")(parseDqTask),
      annIndexTasks = tasks(root, "annIndexTasks")(parseAnnIndexTask),
      ivmTasks = tasks(root, "ivmTasks")(parseIvmTask),
      decontamTasks = tasks(root, "decontamTasks")(parseDecontamTask),
      checksumTasks = tasks(root, "checksumTasks")(parseChecksumTask),
      annEvalTasks = tasks(root, "annEvalTasks")(parseAnnEvalTask),
      modelEvalTasks = tasks(root, "modelEvalTasks")(parseModelEvalTask),
      privacyTasks = tasks(root, "privacyTasks")(parsePrivacyTask),
      graphTasks = tasks(root, "graphTasks")(parseGraphTask),
      retrainTasks = tasks(root, "retrainTasks")(parseRetrainTask),
      driftTasks = tasks(root, "driftTasks")(parseDriftTask),
      graphHealthTasks = tasks(root, "graphHealthTasks")(parseGraphHealthTask),
      erTasks = tasks(root, "erTasks")(parseErTask),
      metricsDir = optText(root, "metricsDir"))
  }

  /** Every entry of the `key` array, parsed. A malformed entry is
    * skipped with a warning naming the key and its id; its siblings
    * still load. */
  private def tasks[T](root: JsonNode, key: String)(parse: JsonNode => T): Seq[T] =
    root.path(key).elements.asScala.toSeq.flatMap { n =>
      try Some(parse(n))
      catch { case e: Exception =>
        logger.warn(s"skipping malformed $key entry ${n.path("id").asText("?")}: ${e.getMessage}")
        None
      }
    }

  /** A scheduled task's `schedule`, or its family's default, validated
    * at load: a bad schedule skips THIS task only. */
  private def scheduleOf(n: JsonNode, default: String): String = {
    val schedule = optText(n, "schedule").getOrElse(default)
    graft.operators.Cron.parse(schedule)
    schedule
  }

  private def parseErTask(n: JsonNode): graft.model.ErTaskSpec =
    graft.model.ErTaskSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "15 5 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      storeDir = reqText(n, "storeDir"),
      compact = n.path("compact").asBoolean(false))

  private def reqText(n: JsonNode, field: String): String = {
    val v = n.path(field)
    require(v.isTextual && v.asText.nonEmpty, s"missing/empty '$field'")
    v.asText
  }

  private def optText(n: JsonNode, field: String): Option[String] = {
    val v = n.path(field)
    if (v.isTextual && v.asText.nonEmpty) Some(v.asText) else None
  }

  private def parseSyncTask(n: JsonNode): SyncTaskSpec = {
    val taskType = reqText(n, "type").toLowerCase
    require(Set("mongodb", "mysql", "mariadb", "postgresql", "redis")(taskType),
      s"unknown sync type: $taskType") // main.go:180-182
    // task-level securityEnabled propagates to every table (config.go:268-276)
    val securityEnabled = n.path("securityEnabled").asBoolean(false)
    // Both table shapes are accepted: the engine's flat `tables` array,
    // and the reference's `mappings: [{sourceDatabase, tables: [...]}]`
    // (config.go:225-240) — mappings flatten, and the first mapping's
    // sourceDatabase becomes the task's source namespace.
    val mappings = n.path("mappings").elements.asScala.toSeq
    // a db-less mapping beside others would silently inherit the FIRST
    // mapping's namespace (and collide with its same-named tables) —
    // reject the task instead, fault-isolated like any malformed entry
    require(mappings.size <= 1 ||
      mappings.forall(m => optText(m, "sourceDatabase").isDefined),
      "multi-mapping task needs sourceDatabase on every mapping")
    val tables =
      if (mappings.nonEmpty)
        mappings.flatMap { m =>
          val mDb = optText(m, "sourceDatabase")
          val mTgtDb = optText(m, "targetDatabase")
          m.path("tables").elements.asScala.toSeq.map(
            parseTable(_, securityEnabled).copy(sourceDb = mDb, targetDb = mTgtDb))
        }
      else n.path("tables").elements.asScala.toSeq.map(parseTable(_, securityEnabled))
    val sourceDb = optText(n, "sourceDb")
      .orElse(mappings.headOption.flatMap(optText(_, "sourceDatabase")))
      .getOrElse("graft")
    // honor-or-reject, never accept-and-ignore (config.go:15-24):
    // syncIndexes compiles to DDL replay and needs a JDBC connection;
    // uploadToGcs has no sync-side behavior even in the reference (no
    // syncer consumes it) — point the user at the backup task's store
    val targetJdbcUrl = optText(n, "targetJdbcUrl")
    require(targetJdbcUrl.isDefined || tables.forall(!_.advanced.syncIndexes),
      "syncIndexes=true requires targetJdbcUrl: index DDL is replayed " +
        "on a JDBC target (parquet targets have no indexes)")
    require(tables.forall(!_.advanced.uploadToGcs),
      "uploadToGcs is a backup-task concern: use backupTasks[].uploadDir " +
        "(or its gcsAddress alias) for zip + artifact-store upload")
    require(tables.forall(t => !t.advanced.syncIndexes || t.keyColumns.nonEmpty),
      "syncIndexes=true requires keyColumns: the replayed index is the " +
        "key-column index — without keys there is nothing to create")
    val riders = Compiler.Riders.filter(r => n.path(r.key).asBoolean(false))
    riders.foreach(r => require(taskType != "redis", r.rejection))
    SyncTaskSpec(
      id = n.path("id").asInt(0),
      taskType = taskType,
      enabled = n.path("enabled").asBoolean(n.path("enable").asBoolean(true)),
      tables = tables,
      checkpointDir = reqText(n, "checkpointDir"),
      sourceDir = reqText(n, "sourceDir"),
      targetDir = reqText(n, "targetDir"),
      dlqDir = optText(n, "dlqDir").getOrElse(reqText(n, "targetDir") + "_dlq"),
      sourceDb = sourceDb,
      snapshotDir = optText(n, "snapshotDir"),
      targetJdbcUrl = targetJdbcUrl,
      riders = riders.map(_.key).toSet)
  }

  private def parseTable(n: JsonNode, securityEnabled: Boolean): TableMapping = {
    val sourceTable = reqText(n, "sourceTable")
    TableMapping(
      sourceTable = sourceTable,
      targetTable = optText(n, "targetTable").getOrElse(sourceTable),
      keyColumns = n.path("keyColumns").elements.asScala.map(_.asText).toSeq,
      securityEnabled = securityEnabled,
      fieldSecurity = n.path("fieldSecurity").elements.asScala.toSeq.map { f =>
        FieldSecurity(reqText(f, "field"), reqText(f, "securityType"))
      },
      countConditions = n.path("countQuery").path("conditions").elements.asScala.toSeq.map { c =>
        CountCondition(
          table = optText(c, "table").getOrElse(sourceTable),
          field = reqText(c, "field"),
          operator = reqText(c, "operator"),
          value = c.path("value").asText(""),
          dateRange = optText(c, "dateRange"))
      },
      advanced = {
        val a = n.path("advancedSettings")
        AdvancedSettings(
          syncIndexes = a.path("syncIndexes").asBoolean(false),
          ignoreDeleteOps = a.path("ignoreDeleteOps").asBoolean(false),
          uploadToGcs = a.path("uploadToGcs").asBoolean(false))
      })
  }

  private def parseBackupTask(n: JsonNode): BackupSpec =
    BackupSpec(
      id = n.path("id").asInt(0),
      format = optText(n, "format").getOrElse("json"),
      tables = n.path("tables").elements.asScala.toSeq.map { t =>
        BackupTableSpec(
          tablePattern = reqText(t, "tablePattern"),
          fields = {
            val fs = t.path("fields").elements.asScala.map(_.asText).toSeq
            if (fs.isEmpty) Seq("all") else fs
          },
          timeField = optText(t, "timeField"),
          startOffsetDays = t.path("startOffsetDays").asInt(-1),
          endOffsetDays = t.path("endOffsetDays").asInt(-1))
      },
      compress = n.path("compress").asBoolean(true),
      schedule = scheduleOf(n, "0 2 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      outDir = reqText(n, "outDir"),
      // gcsAddress is the reference's field name for the upload
      // destination (config.go:19); uploadDir wins when both appear
      uploadDir = optText(n, "uploadDir").orElse(optText(n, "gcsAddress")))

  private def parseTrainingTask(n: JsonNode): TrainingExportSpec = {
    val rates = {
      val r = n.path("rates")
      if (r.isObject)
        r.fields.asScala.map { e =>
          require(e.getValue.isNumber, s"rate for '${e.getKey}' must be numeric")
          val v = e.getValue.asDouble
          require(v >= 0, s"rate for '${e.getKey}' must be >= 0")
          e.getKey -> v
        }.toMap
      else Map.empty[String, Double]
    }
    TrainingExportSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "0 3 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      outDir = reqText(n, "outDir"),
      minQuality = n.path("minQuality").asDouble(0.66),
      capacity = {
        val c = n.path("capacity").asInt(512)
        require(c > 0, "capacity must be positive"); c
      },
      rates = rates)
  }

  private def parseOptimizeTask(n: JsonNode): OptimizeSpec = {
    val by = n.path("zorderBy")
    require(by.isArray && by.size == 2 && by.get(0).isTextual && by.get(1).isTextual,
      "zorderBy must be a two-column array")
    OptimizeSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "0 4 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      outDir = reqText(n, "outDir"),
      zorderBy = (by.get(0).asText, by.get(1).asText),
      numFiles = {
        val f = n.path("numFiles").asInt(8)
        require(f > 0, "numFiles must be positive"); f
      })
  }

  private val IvmAggTokens = Set("n_rows", "cents")

  private def parseIvmTask(n: JsonNode): graft.model.IvmTaskSpec = {
    val aggsIn = n.path("aggs").elements.asScala.toSeq.map(_.asText)
    val view = graft.model.IvmView(
      buckets = n.path("buckets").asInt(8),
      keyField = optText(n, "keyField").getOrElse("key"),
      bucketField = optText(n, "bucketField").getOrElse("k"),
      valueField = optText(n, "valueField").getOrElse("value"),
      aggs = if (aggsIn.isEmpty) Seq("n_rows", "cents") else aggsIn)
    require(view.buckets >= 1, "ivm task: buckets must be >= 1")
    // honor-or-reject: IVM retraction algebra supports abelian-group
    // aggregates only — a max/min cannot be retracted without full
    // per-group state, so an unknown token is an error, not a no-op
    val unknown = view.aggs.filterNot(IvmAggTokens)
    require(unknown.isEmpty,
      s"ivm task: unsupported aggregate(s) ${unknown.mkString(", ")} — " +
        "retraction algebra supports n_rows and cents only")
    require(view.aggs.contains("n_rows"),
      "ivm task: n_rows is required — it is the liveness counter the " +
        "empty-bucket drop rides on")
    // honor-or-reject at LOAD time, like every other malformed task: a
    // key/bucket/value field colliding with another or with the fixed
    // changelog columns (op/ts/offset) yields a duplicate-column stream
    // schema that otherwise fails only at stream start
    val fields = Seq(view.keyField, view.bucketField, view.valueField)
    require(fields.distinct.size == 3,
      s"ivm task: keyField/bucketField/valueField must be mutually " +
        s"distinct, got ${fields.mkString(", ")}")
    val reserved = fields.filter(Set("op", "ts", "offset"))
    require(reserved.isEmpty,
      s"ivm task: field name(s) ${reserved.mkString(", ")} collide with " +
        "the fixed changelog columns op/ts/offset")
    graft.model.IvmTaskSpec(
      id = n.path("id").asInt(0),
      enabled = n.path("enabled").asBoolean(true),
      sourceDir = reqText(n, "sourceDir"),
      storeDir = reqText(n, "storeDir"),
      checkpointDir = reqText(n, "checkpointDir"),
      view = view)
  }

  private def parseDecontamTask(n: JsonNode): DecontamSpec = {
    val s = DecontamSpec(
      id = n.path("id").asInt(0),
      enabled = n.path("enabled").asBoolean(true),
      corpusDir = reqText(n, "corpusDir"),
      sourceDir = reqText(n, "sourceDir"),
      outDir = reqText(n, "outDir"),
      checkpointDir = reqText(n, "checkpointDir"),
      k = n.path("k").asInt(4),
      minHits = n.path("minHits").asInt(2),
      evalMod = n.path("evalMod").asInt(10))
    require(s.k >= 1 && s.minHits >= 1 && s.evalMod >= 2,
      s"decontam task ${s.id}: k/minHits must be >= 1, evalMod >= 2")
    s
  }

  private def parseAnnIndexTask(n: JsonNode): graft.model.AnnIndexSpec = {
    val spec = graft.model.AnnIndexSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "0 5 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      indexDir = reqText(n, "indexDir"),
      ivf = n.path("ivf").asBoolean(true),
      codes = n.path("codes").asBoolean(true),
      jl = n.path("jl").asBoolean(false),
      trainPq = n.path("trainPq").asBoolean(false),
      compact = n.path("compact").asBoolean(false))
    require(spec.ivf || spec.codes || spec.jl || spec.trainPq,
      "annIndex task maintains nothing: enable ivf, codes, jl, or trainPq")
    spec
  }

  private def parseDqTask(n: JsonNode): DqSpec = {
    import graft.operators.DataQuality._
    val rules = n.path("rules").elements.asScala.toSeq.map { r =>
      val name = reqText(r, "name"); val column = reqText(r, "column")
      reqText(r, "kind") match {
        case "notNull"  => NotNull(name, column)
        case "unique"   => Unique(name, column)
        case "minValue" =>
          require(r.path("value").isNumber, s"rule '$name' needs a numeric value")
          MinValue(name, column, r.path("value").asDouble)
        case "maxValue" =>
          require(r.path("value").isNumber, s"rule '$name' needs a numeric value")
          MaxValue(name, column, r.path("value").asDouble)
        case "inSet" =>
          val vs = r.path("values")
          require(vs.isArray && vs.size > 0, s"rule '$name' needs a values array")
          InSet(name, column, vs.elements.asScala.toSeq.map(_.asText))
        case k => throw new IllegalArgumentException(s"unknown rule kind '$k'")
      }
    }
    require(rules.nonEmpty, "dq task needs at least one rule")
    DqSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "0 6 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      table = reqText(n, "table"),
      rules = rules)
  }

  private def parseChecksumTask(n: JsonNode): ChecksumSpec =
    ChecksumSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "30 5 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      targetDir = reqText(n, "targetDir"))

  private def parseAnnEvalTask(n: JsonNode): AnnEvalSpec =
    AnnEvalSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "45 4 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      indexDir = reqText(n, "indexDir"),
      k = n.path("k").asInt(5),
      nprobe = n.path("nprobe").asInt(4),
      minRecallMicro = n.path("minRecallMicro").asLong(800000L))

  private def parseModelEvalTask(n: JsonNode): ModelEvalSpec =
    ModelEvalSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "55 4 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      minKappaMicro = n.path("minKappaMicro").asLong(200000L),
      minAucMicro = n.path("minAucMicro").asLong(700000L),
      maxEceMicro = n.path("maxEceMicro").asLong(150000L))

  private def parsePrivacyTask(n: JsonNode): PrivacySpec = {
    val qis = n.path("quasiIds").elements.asScala.map(_.asText).toSeq
    val spec = PrivacySpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "10 6 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      table = optText(n, "table").getOrElse("customer"),
      quasiIds = if (qis.nonEmpty) qis else Seq("c_nationkey", "c_mktsegment"),
      sensitive = optText(n, "sensitive").getOrElse("c_acctbal"),
      bandWidth = n.path("bandWidth").asLong(1000L),
      minK = n.path("minK").asLong(5L),
      minL = n.path("minL").asLong(2L),
      maxEmdMicro = n.path("maxEmdMicro").asLong(200000L))
    require(!spec.quasiIds.contains(spec.sensitive),
      "privacy task: the sensitive column cannot also be a quasi-identifier")
    spec
  }

  private def parseGraphTask(n: JsonNode): GraphTaskSpec =
    GraphTaskSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "20 5 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      storeDir = reqText(n, "storeDir"),
      compact = n.path("compact").asBoolean(false))

  private def parseRetrainTask(n: JsonNode): RetrainSpec = {
    val spec = RetrainSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "40 3 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      storeDir = reqText(n, "storeDir"),
      iters = n.path("iters").asInt(20),
      lr = n.path("lr").asLong(16L),
      minGainMicro = n.path("minGainMicro").asLong(5000L))
    require(spec.iters > 0 && spec.lr > 0, "retrain task: iters/lr must be positive")
    require(spec.minGainMicro >= 0, "retrain task: minGainMicro must be non-negative")
    spec
  }

  private def parseGraphHealthTask(n: JsonNode): GraphHealthSpec = {
    val spec = GraphHealthSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "45 6 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      iters = n.path("iters").asInt(4),
      minQMicro = n.path("minQMicro").asLong(100000L),
      epochs = n.path("epochs").asInt(4),
      maxDriftMicro = n.path("maxDriftMicro").asLong(Long.MaxValue),
      storeDir = optText(n, "storeDir").getOrElse(""))
    require(spec.iters > 0, "graph health task: iters must be positive")
    require(spec.epochs >= 2, "graph health task: epochs must be >= 2")
    spec
  }

  private def parseDriftTask(n: JsonNode): DriftSpec = {
    val spec = DriftSpec(
      id = n.path("id").asInt(0),
      schedule = scheduleOf(n, "25 6 * * *"),
      sourceDir = reqText(n, "sourceDir"),
      bucketWidth = n.path("bucketWidth").asDouble(5.0),
      maxTvdMicro = n.path("maxTvdMicro").asLong(200000L))
    require(spec.bucketWidth > 0, "drift task: bucketWidth must be positive")
    spec
  }
}
