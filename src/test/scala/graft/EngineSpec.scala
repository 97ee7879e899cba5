package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Compiler, ConfigReader, GraftEngine}
import graft.operators.{Backup, Cdc, KvStore}
import graft.streaming.{Alerts, ChangeEvents}

/** The composed engine (round-6 #1): JSON config → compiled pipelines →
  * one entry point running snapshot + streams + scheduled backups, with
  * per-pipeline hot reload. */
class EngineSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_engine").toString

  private def writeConfig(path: String, json: String): Unit =
    Files.write(Paths.get(path), json.getBytes("UTF-8"))

  // ---- config reader ---------------------------------------------------

  test("config reader parses the reference JSON shape; malformed tasks are skipped") {
    val cfg = ConfigReader.parse(
      """{ "syncTasks": [
        |  { "id": 1, "type": "mongodb", "enabled": true, "securityEnabled": true,
        |    "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |    "tables": [ { "sourceTable": "events", "keyColumns": ["custom_id"],
        |        "fieldSecurity": [ {"field": "after.k", "securityType": "mask"} ],
        |        "countQuery": { "conditions": [
        |          {"field": "value", "operator": ">", "value": "50"} ] },
        |        "advancedSettings": {"ignoreDeleteOps": true} } ] },
        |  { "id": 2, "type": "warp-drive",
        |    "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c", "tables": [] },
        |  { "id": 3, "type": "redis", "enabled": false,
        |    "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |    "tables": [ {"sourceTable": "kv"} ] } ],
        | "backupTasks": [
        |  { "id": 10, "schedule": "0 3 * * *", "format": "sql", "compress": false,
        |    "sourceDir": "/b", "outDir": "/o",
        |    "tables": [ {"tablePattern": "orders.*", "fields": ["all"]} ] },
        |  { "id": 11, "schedule": "61 99 * * *", "sourceDir": "/b", "outDir": "/o",
        |    "tables": [] } ] }""".stripMargin)

    // task 2 (unknown type) skipped; task 11 (bad cron) skipped — fault isolation
    assert(cfg.syncTasks.map(_.id) == Seq(1, 3))
    assert(cfg.backupTasks.map(_.id) == Seq(10))
    val t1 = cfg.syncTasks.head
    assert(t1.dlqDir == "/t_dlq") // defaulted beside the target
    val m = t1.tables.head
    assert(m.securityEnabled && m.fieldSecurity.head.field == "after.k") // task-level pushdown
    assert(m.advanced.ignoreDeleteOps)
    // disabled task compiles to nothing = stop-at-reconcile
    assert(Compiler.compile(cfg.syncTasks(1)).isEmpty)
    // keyColumns reaches the pipeline config
    Compiler.compile(t1).head match {
      case Compiler.CdcDef(name, c, _, _, counts, _) =>
        assert(name == "task1/events" && c.keyCol == "custom_id")
        assert(c.ignoreDeleteOps && c.fieldSecurity.nonEmpty)
        assert(c.nsFilter.contains(("graft", "events"))) // mongodb watches one ns
        // countQuery conditions ride into the compiled def (routing
        // table defaults to the mapping's sourceTable)
        assert(counts.map(cc => (cc.table, cc.field, cc.operator, cc.value)) ==
          Seq(("events", "value", ">", "50")))
      case other => fail(s"expected CdcDef, got $other")
    }
  }

  test("config reader accepts the reference's mappings shape verbatim") {
    // the sync_tasks.config_json layout (config.go:225-240): tables
    // nested under mappings[] with sourceDatabase, enable as 0/1
    val cfg = ConfigReader.parse(
      """{ "syncTasks": [
        |  { "id": 7, "type": "mysql", "enable": 1, "securityEnabled": true,
        |    "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |    "mappings": [ { "sourceDatabase": "shop", "targetDatabase": "shop_replica",
        |      "tables": [
        |        { "sourceTable": "orders", "targetTable": "orders_r", "keyColumns": ["id"],
        |          "fieldSecurity": [ {"field": "email", "securityType": "encrypt"} ] },
        |        { "sourceTable": "users", "keyColumns": ["uid"] } ] },
        |      { "sourceDatabase": "warehouse",
        |        "tables": [ { "sourceTable": "orders", "keyColumns": ["id"] } ] } ] } ] }""".stripMargin)
    val t = cfg.syncTasks.head
    assert(t.enabled && t.sourceDb == "shop")
    assert(t.tables.map(m => (m.sourceTable, m.targetTable)) ==
      Seq(("orders", "orders_r"), ("users", "users"), ("orders", "orders")))
    assert(t.tables.head.securityEnabled && t.tables.head.fieldSecurity.nonEmpty)
    val defs = Compiler.compile(t)
    // a second mapping's same-named table neither collides nor inherits
    // the first mapping's database
    assert(defs.map(_.name) == Seq("task7/orders", "task7/users", "task7/warehouse/orders"))
    defs.head match {
      case Compiler.CdcDef(_, c, _, _, _, _) =>
        assert(c.includeTableRegex == Seq("^\\Qshop\\E\\.\\Qorders\\E$"))
        // explicit targetDatabase namespaces the target (shop→shop_replica)
        assert(c.sourceDir == "/s/orders" && c.targetDir == "/t/shop_replica/orders_r")
      case other => fail(s"expected CdcDef, got $other")
    }
    defs.last match {
      case Compiler.CdcDef(_, c, _, _, _, _) =>
        assert(c.includeTableRegex == Seq("^\\Qwarehouse\\E\\.\\Qorders\\E$"))
        assert(c.sourceDir == "/s/warehouse/orders" && c.targetDir == "/t/warehouse/orders")
        assert(c.checkpointDir == "/c/warehouse/orders" && c.dlqDir == "/t_dlq/warehouse/orders")
      case other => fail(s"expected CdcDef, got $other")
    }

    // a db-less mapping beside others would inherit the first mapping's
    // namespace and collide — the task is rejected (skipped), siblings load
    val mixed = ConfigReader.parse(
      """{ "syncTasks": [
        |  { "id": 1, "type": "mysql",
        |    "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |    "mappings": [ { "sourceDatabase": "shop", "tables": [ {"sourceTable": "a"} ] },
        |                  { "tables": [ {"sourceTable": "a"} ] } ] },
        |  { "id": 2, "type": "redis", "sourceDir": "/s2", "targetDir": "/t2",
        |    "checkpointDir": "/c2", "tables": [ {"sourceTable": "kv"} ] } ] }""".stripMargin)
    assert(mixed.syncTasks.map(_.id) == Seq(2))

    // compileAll rejects silent-loss shapes: duplicate pipeline names
    // and storage roots nesting inside each other
    val dup = t.copy(tables = Seq(t.tables.head, t.tables.head))
    intercept[IllegalArgumentException](Compiler.compileAll(Seq(dup)))
    val nested = t.copy(tables = Seq(
      t.tables.head.copy(sourceTable = "warehouse", targetTable = "warehouse",
        sourceDb = None, targetDb = None),
      t.tables.last)) // flat table "warehouse" + db "warehouse" table
    intercept[IllegalArgumentException](Compiler.compileAll(Seq(nested)))
    // enable: 0 disables like the reference's int flag
    val off = ConfigReader.parse(
      """{ "syncTasks": [ { "id": 8, "type": "mysql", "enable": 0,
        |  "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |  "mappings": [] } ] }""".stripMargin)
    assert(!off.syncTasks.head.enabled && Compiler.compile(off.syncTasks.head).isEmpty)
  }

  // ---- end-to-end ------------------------------------------------------

  private def normCdc(df: DataFrame): Set[(Long, Double, Long)] =
    graft.operators.Upsert.liveRows(df)
      .select(col("key").cast("long"), col("value"), col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  private def syncTaskJson(id: Int, table: String, root: String,
      ignoreDeletes: Boolean = false,
      security: String = "false", fieldSec: String = "[]"): String =
    s"""{ "id": $id, "type": "mongodb", "enabled": true, "securityEnabled": $security,
       |  "sourceDir": "$root/src", "targetDir": "$root/tgt",
       |  "checkpointDir": "$root/ckpt", "dlqDir": "$root/dlq",
       |  "tables": [ { "sourceTable": "$table", "keyColumns": ["key"],
       |      "fieldSecurity": $fieldSec,
       |      "countQuery": { "conditions": [
       |        {"field": "value", "operator": ">", "value": "50"} ] },
       |      "advancedSettings": {"ignoreDeleteOps": $ignoreDeletes} } ] }""".stripMargin

  test("end-to-end: one config drives CDC + KV streams and a scheduled SQL backup; reconcile is per-pipeline and lossless") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    val kvTaskJson =
      s"""{ "id": 2, "type": "redis", "enabled": true,
         |  "sourceDir": "$root/kvsrc", "targetDir": "$root/kvtgt",
         |  "checkpointDir": "$root/kvckpt",
         |  "tables": [ { "sourceTable": "kv" } ] }""".stripMargin
    val backupJson =
      s"""{ "id": 10, "schedule": "0 3 * * *", "format": "sql", "compress": false,
         |  "sourceDir": "$root/bsrc", "outDir": "$root/bout", "uploadDir": "$root/uploads",
         |  "tables": [ { "tablePattern": "orders", "fields": ["all"] } ] }""".stripMargin
    def configJson(syncTasks: String) =
      s"""{ "metricsDir": "$root/metrics",
         |  "syncTasks": [ $syncTasks ], "backupTasks": [ $backupJson ] }""".stripMargin

    // source data: a CDC change log, a KV op log, a backup source table
    val events = ChangeEvents.fromEvents(spark, sf)
    events.coalesce(1).write.mode("append").json(s"$root/src/events")
    KvStore.keyspaceOps(spark, sf).coalesce(1).write.mode("append").json(s"$root/kvsrc/kv")
    val orders = Tables(spark, sf, "orders")
    orders.write.parquet(s"$root/bsrc/orders")

    writeConfig(cfgPath, configJson(syncTaskJson(1, "events", root) + ", " + kvTaskJson))
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts,
      clock = () => LocalDateTime.parse("2024-03-01T03:00:00"))
    try {
      // ---- first reconcile: both pipelines start from one entry point
      val r1 = engine.pollOnce()
      assert(r1.started == Set("task1/events", "task2/kv") && r1.failed.isEmpty)
      engine.processAllAvailable()

      val cdcWant = normCdc(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
      assert(normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")) == cdcWant)
      val kvGot = graft.operators.Upsert.liveRows(graft.operators.Upsert.readTarget(spark, s"$root/kvtgt/kv"))
        .select("key", "kind", "value", "ttlMs").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          if (r.isNullAt(3)) -99L else r.getLong(3))).toSet
      val kvWant = KvStore.finalState(spark, sf)
        .select("key", "kind", "value", "ttl_ms").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          if (r.isNullAt(3)) -99L else r.getLong(3))).toSet
      assert(kvGot == kvWant)

      // ---- count monitoring: the config's countQuery runs on the target
      val wantCount = graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")
        .filter(col("value") > 50).count()
      assert(engine.countReport() == Map("task1/events" -> wantCount) && wantCount > 0)
      // incremental: a tick over an UNTOUCHED target is answered from
      // the per-bucket cache — zero Spark jobs
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(engine.countReport() == Map("task1/events" -> wantCount))
        Thread.sleep(500) // listener delivery is async
        assert(jobs.get() == 0)
      } finally spark.sparkContext.removeSparkListener(listener)

      // ---- scheduled backup: fires at its cron minute, SQL round-trips
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T02:59:00")).isEmpty)
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T03:00:00")) == Seq(10))
      val artifacts = Files.list(Paths.get(s"$root/bout")).toArray.map(_.toString)
      assert(artifacts.exists(_.endsWith(".sql")))
      // W8 composed: the artifact was zipped and put through the store
      val uploads = Files.list(Paths.get(s"$root/uploads")).toArray.map(_.toString)
        .filterNot(p => Paths.get(p).getFileName.toString.startsWith(".")) // hadoop .crc sidecars
      assert(uploads.length == 1 && uploads.head.endsWith(".zip"))
      val restored = Backup.readSql(spark, artifacts.filter(_.endsWith(".sql")).head, orders.schema)
      assert(restored.count() == orders.count())
      val key = (df: DataFrame) => df.select("o_orderkey", "o_totalprice", "o_orderdate")
        .collect().map(_.toSeq).toSet
      assert(key(restored) == key(orders))

      // ---- config edit: task1 changes (ignoreDeleteOps), task3 appears
      // (masked fresh table); the untouched KV pipeline must keep running
      val eventsB = events.withColumn("sourceTable", lit("events2"))
      eventsB.coalesce(1).write.mode("append").json(s"$root/src/events2")
      val task3 = syncTaskJson(3, "events2", root, security = "true",
        fieldSec = """[ {"field": "after.k", "securityType": "mask"} ]""")
      writeConfig(cfgPath, configJson(
        syncTaskJson(1, "events", root, ignoreDeletes = true) + ", " +
          task3 + ", " + kvTaskJson))
      val kvQuery = engine.activeQueries("task2/kv")
      val r2 = engine.pollOnce()
      assert(r2.stopped == Set("task1/events"))
      assert(r2.started == Set("task1/events", "task3/events2"))
      assert(r2.kept == Set("task2/kv"))
      assert(engine.activeQueries("task2/kv") eq kvQuery) // same query object: never restarted
      engine.processAllAvailable()

      // task3: fieldSecurity flowed from JSON into the stream — every k masked
      val masked = graft.operators.Upsert.liveRows(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events2"))
      assert(masked.count() == cdcWant.size)
      assert(masked.select("k").distinct().collect().map(_.getString(0)).toSet == Set("****"))

      // ---- checkpoint survival: only NEW input is processed after the
      // swap, and the swapped pipeline honors its new ignoreDeleteOps —
      // deletes for two live keys arrive and are ignored
      val victims = graft.operators.Upsert.liveRows(
          graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")).select("key")
        .limit(2).collect().map(_.getLong(0))
      import org.apache.spark.sql.Row
      val lateDeletes = spark.createDataFrame(
        java.util.Arrays.asList(victims.zipWithIndex.map { case (k, i) =>
          Row("delete", k, null, "graft", "events",
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 100000000L + i)
        }: _*), ChangeEvents.schema)
      lateDeletes.coalesce(1).write.mode("append").json(s"$root/src/events")
      engine.processAllAvailable()
      val after = normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events"))
      assert(after == cdcWant) // state unchanged: deletes ignored, nothing re-replayed
      assert(alerts.drain().isEmpty) // healthy run: no alerts fired

      // ---- monitoring composed: the engine's recorder captured stream
      // progress into the metrics table (listener delivery is async)
      Thread.sleep(2000)
      engine.pollOnce() // flushes buffered progress rows
      val stats = graft.streaming.Metrics.streamStatsRollup(spark, s"$root/metrics")
      assert(stats.agg(sum("rows_received")).head().getLong(0) > 0)

      // ---- tombstone reclamation: every DLQ is empty so deletes are
      // final — the sweep drops the guard rows (CDC and KV targets
      // both saw deletes) without disturbing the live state
      assert(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events").filter(col("deleted")).count() > 0)
      assert(graft.operators.Upsert.readTarget(spark, s"$root/kvtgt/kv").filter(col("deleted")).count() > 0)
      val swept = engine.sweepTombstones()
      assert(swept.getOrElse("task1/events", 0) > 0 && swept.getOrElse("task2/kv", 0) > 0)
      assert(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events").filter(col("deleted")).count() == 0)
      assert(graft.operators.Upsert.readTarget(spark, s"$root/kvtgt/kv").filter(col("deleted")).count() == 0)
      assert(normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")) == cdcWant)
      // the swept pipelines were stopped; the next poll restarts them
      val r3 = engine.pollOnce()
      assert(Set("task1/events", "task2/kv").subsetOf(r3.started))
    } finally engine.stop()
  }

  test("two-sided count monitoring: src==tgt is silent; forced divergence fires count_mismatch") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [ ${syncTaskJson(4, "events", root)} ], "backupTasks": [] }""")
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      engine.processAllAvailable()
      // caught up: source replay and target agree under the conditions
      val m1 = engine.monitorCounts()
      val (src1, tgt1) = m1("task4/events")
      assert(src1 == tgt1 && tgt1 > 0)
      assert(alerts.drain().isEmpty)

      // stop the stream, then land NEW qualifying source events the
      // pipeline never processes — the reference's drift scenario
      engine.activeQueries.values.foreach(_.stop())
      import org.apache.spark.sql.Row
      val extra = spark.createDataFrame(
        java.util.Arrays.asList((1 to 5).map { i =>
          Row("insert", 800000L + i, Row(100.0 + i, i.toLong), "graft", "events",
            java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), 200000000L + i)
        }: _*), ChangeEvents.schema)
      extra.coalesce(1).write.mode("append").json(s"$root/src/events")
      val m2 = engine.monitorCounts()
      val (src2, tgt2) = m2("task4/events")
      assert(src2 == src1 + 5 && tgt2 == tgt1) // value>50 matches all 5
      val fired = alerts.drain()
      assert(fired.map(_.kind) == Seq("count_mismatch"))
      assert(fired.head.message.contains("task4/events") && fired.head.message.contains("diff=5"))
    } finally engine.stop()
  }

  test("syncIndexes replays index DDL on the task's JDBC target; flag shapes with no behavior are rejected at load") {
    // honor-or-reject (config.go:15-24): syncIndexes without a JDBC
    // target and uploadToGcs anywhere are config errors — the task is
    // skipped like any malformed entry, siblings still load
    val rejected = ConfigReader.parse(
      """{ "syncTasks": [
        |  { "id": 1, "type": "mysql", "sourceDir": "/s", "targetDir": "/t",
        |    "checkpointDir": "/c", "tables": [ { "sourceTable": "a",
        |      "advancedSettings": {"syncIndexes": true} } ] },
        |  { "id": 2, "type": "mysql", "sourceDir": "/s2", "targetDir": "/t2",
        |    "checkpointDir": "/c2", "tables": [ { "sourceTable": "b",
        |      "advancedSettings": {"uploadToGcs": true} } ] },
        |  { "id": 3, "type": "redis", "sourceDir": "/s3", "targetDir": "/t3",
        |    "checkpointDir": "/c3", "tables": [ {"sourceTable": "kv"} ] } ] }""".stripMargin)
    assert(rejected.syncTasks.map(_.id) == Seq(3))
    // backup upload destination accepts the reference's field name
    val aliased = ConfigReader.parse(
      """{ "backupTasks": [ { "id": 1, "sourceDir": "/b", "outDir": "/o",
        |  "gcsAddress": "/uploads", "tables": [] } ] }""".stripMargin)
    assert(aliased.backupTasks.head.uploadDir.contains("/uploads"))

    val root = tmp()
    val url = "jdbc:derby:memory:graftix;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    try setup.createStatement().executeUpdate(
      """CREATE TABLE "events" ("key" BIGINT, "value" DOUBLE, "k" BIGINT)""")
    finally setup.close()
    def indexNames(): Set[String] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.getMetaData.getIndexInfo(null, null, "events", false, false)
        val b = Set.newBuilder[String]
        while (rs.next()) Option(rs.getString("INDEX_NAME")).foreach(b += _)
        b.result()
      } finally c.close()
    }
    assert(!indexNames().contains("idx_events_key"))

    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    val cfgPath = s"$root/engine.json"
    def cfgJson(jdbcUrl: String) =
      s"""{ "syncTasks": [
         |  { "id": 6, "type": "mongodb", "enabled": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt", "targetJdbcUrl": "$jdbcUrl",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"],
         |        "advancedSettings": {"syncIndexes": true} } ] } ], "backupTasks": [] }""".stripMargin
    writeConfig(cfgPath, cfgJson(url))
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      // SET3 apply half composed: pipeline start replayed the key-column
      // index on the JDBC target (copyIndexes, mongodb.go:313-321)
      assert(engine.pollOnce().started == Set("task6/events"))
      engine.processAllAvailable()
      assert(indexNames().contains("idx_events_key"))
      assert(alerts.drain().isEmpty)
      // restart-on-death replays the diff, which now SKIPS the existing
      // index: no duplicate-DDL failure, no alert
      engine.activeQueries.values.foreach(_.stop())
      assert(engine.pollOnce().started == Set("task6/events"))
      assert(indexNames().contains("idx_events_key") && alerts.drain().isEmpty)
      // an unreachable JDBC target alerts and the pipeline still starts
      // — the reference logs copyIndexes errors and continues
      engine.activeQueries.values.foreach(_.stop())
      writeConfig(cfgPath, cfgJson("jdbc:derby:memory:no_such_db"))
      val r = engine.pollOnce()
      assert(r.started == Set("task6/events") && r.failed.isEmpty)
      assert(alerts.drain().map(_.kind) == Seq("index_sync_failed"))
      assert(engine.activeQueries("task6/events").isActive)
    } finally engine.stop()
  }

  test("a corrupt config file keeps the running set alive and alerts; recovery resumes") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    val good = s"""{ "syncTasks": [ ${syncTaskJson(8, "events", root)} ], "backupTasks": [] }"""
    writeConfig(cfgPath, good)
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      assert(engine.pollOnce().started == Set("task8/events"))
      val q = engine.activeQueries("task8/events")
      // mid-edit window: the file is momentarily invalid JSON
      writeConfig(cfgPath, """{ "syncTasks": [ { "id": """)
      val r = engine.pollOnce()
      assert(r.stopped.isEmpty && r.started.isEmpty && r.kept == Set("task8/events"))
      assert(r.failed.keySet == Set(cfgPath))
      assert(engine.activeQueries("task8/events") eq q) // untouched, still running
      assert(alerts.drain().map(_.kind) == Seq("config_error"))
      // the edit completes: next poll is a normal no-change reconcile
      writeConfig(cfgPath, good)
      assert(engine.pollOnce().kept == Set("task8/events"))
      assert(alerts.drain().isEmpty)
    } finally engine.stop()
  }

  test("initial snapshot loads once before the stream; restart does not re-apply it") {
    import spark.implicits._
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // snapshot rows use a key range disjoint from the stream's user_ids
    Seq((9001L, 1.0, 11L), (9002L, 2.0, 12L)).toDF("key", "value", "k")
      .write.parquet(s"$root/snap/events")
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    def cfg(extra: String = "") = s"""{ "syncTasks": [
      { "id": 5, "type": "mongodb", "enabled": true,
        "sourceDir": "$root/src", "targetDir": "$root/tgt",
        "checkpointDir": "$root/ckpt", "snapshotDir": "$root/snap", $extra
        "tables": [ {"sourceTable": "events", "keyColumns": ["key"]} ] } ], "backupTasks": [] }"""
    writeConfig(cfgPath, cfg())
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      engine.pollOnce()
      engine.processAllAvailable()
      val got = normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events"))
      val stream = normCdc(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
      assert(got == stream ++ Set((9001L, 1.0, 11L), (9002L, 2.0, 12L)))

      // S1 skip-if-nonempty: a CHANGED snapshot must not re-apply on a
      // pipeline restart — the target is already populated
      spark.read.parquet(s"$root/snap/events").count() // (sanity: still readable)
      Seq((9009L, 9.0, 99L)).toDF("key", "value", "k")
        .write.mode("overwrite").parquet(s"$root/snap/events")
      writeConfig(cfgPath, cfg(s""" "dlqDir": "$root/dlq2", """)) // spec change → restart
      val r = engine.pollOnce()
      assert(r.stopped == Set("task5/events") && r.started == Set("task5/events"))
      engine.processAllAvailable()
      assert(normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")) ==
        stream ++ Set((9001L, 1.0, 11L), (9002L, 2.0, 12L))) // 9009 NOT applied
    } finally engine.stop()
  }

  test("the snapshot gets the task's field rules: a masked k merges, no batch is parked") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    spark.range(1000).select(col("id").as("key"), (col("id") * 0.5).as("value"),
      (col("id") % 97).as("k")).write.parquet(s"$root/snap/events")
    // two change files: updates of snapshot keys, then inserts and deletes
    def changes(ids: org.apache.spark.sql.Dataset[java.lang.Long], op: String, offset0: Long) =
      ids.select(lit(op).as("op"), col("id").as("key"),
        struct((col("id") * 2.0).as("value"), col("id").as("k")).as("after"),
        lit("graft").as("sourceDb"), lit("events").as("sourceTable"),
        (lit(1700000000L) + col("id")).cast("timestamp").as("ts"),
        (col("id") + offset0).as("offset"))
    changes(spark.range(0, 50), "update", 0L)
      .coalesce(1).write.mode("append").json(s"$root/src/events")
    changes(spark.range(1000, 1010), "insert", 2000L)
      .union(changes(spark.range(100, 120), "delete", 3000L))
      .coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath, s"""{ "syncTasks": [
      { "id": 6, "type": "mongodb", "enabled": true, "securityEnabled": true,
        "sourceDir": "$root/src", "targetDir": "$root/tgt",
        "checkpointDir": "$root/ckpt", "snapshotDir": "$root/snap", "dlqDir": "$root/dlq",
        "tables": [ {"sourceTable": "events", "keyColumns": ["key"],
          "fieldSecurity": [ {"field": "after.k", "securityType": "mask"} ] } ] } ],
      "backupTasks": [] }""")
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      engine.pollOnce()
      engine.processAllAvailable()
    } finally engine.stop()
    val dlq = Paths.get(s"$root/dlq")
    val parked = if (!Files.exists(dlq)) Nil else {
      val walk = Files.walk(dlq)
      try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("batch_") || n.startsWith("parked_")).toList
      finally walk.close()
    }
    assert(parked.isEmpty, parked.mkString(", "))
    val live = graft.operators.Upsert.liveRows(
      graft.operators.Upsert.readTarget(spark, s"$root/tgt/events"))
    assert(live.schema("k").dataType == org.apache.spark.sql.types.StringType)
    assert(live.count() == 1000 + 10 - 20)
    assert(live.select("k").distinct().collect().map(_.getString(0)).toSet == Set("****"))
    assert(live.filter(col("key") === 7L).select("value").head().getDouble(0) == 14.0)
  }

  test("dailyRollup on a task runs a supervised per-day counter stream beside the CDC pipeline") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // a 2-JST-day event stream: day boundary is 15:00 UTC
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row("insert", 1L, Row(10.0, 1L), "graft", "events",
        java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 1L),
      Row("update", 1L, Row(11.0, 2L), "graft", "events",
        java.sql.Timestamp.valueOf("2024-03-01 11:00:00"), 2L),
      Row("insert", 2L, Row(20.0, 3L), "graft", "events",
        java.sql.Timestamp.valueOf("2024-03-01 16:00:00"), 3L), // next JST day
      Row("insert", 3L, Row(30.0, 4L), "graft", "events",
        java.sql.Timestamp.valueOf("2024-03-01 17:00:00"), 4L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeEvents.schema)
      .coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [
         |  { "id": 12, "type": "mongodb", "enabled": true, "dailyRollup": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ],
         | "backupTasks": [] }""".stripMargin)
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("task12/events", "task12/events#rollup"))
      engine.processAllAvailable()
      val got = engine.rollupCounts("task12/events#rollup")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      // JST day 1 (starts 02-29 15:00 UTC): 1 insert + 1 update;
      // JST day 2 (starts 03-01 15:00 UTC): 2 inserts
      assert(got == Set(
        (java.sql.Timestamp.valueOf("2024-02-29 15:00:00"), "insert", 1L),
        (java.sql.Timestamp.valueOf("2024-02-29 15:00:00"), "update", 1L),
        (java.sql.Timestamp.valueOf("2024-03-01 15:00:00"), "insert", 2L)))
      // the CDC sibling ran over the same source unperturbed
      assert(graft.operators.Upsert.liveRows(
        graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")).count() == 3)
      // removing the flag stops ONLY the rollup on the next reconcile
      writeConfig(cfgPath,
        s"""{ "syncTasks": [
           |  { "id": 12, "type": "mongodb", "enabled": true,
           |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
           |    "checkpointDir": "$root/ckpt",
           |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ],
           | "backupTasks": [] }""".stripMargin)
      val r2 = engine.pollOnce()
      assert(r2.stopped == Set("task12/events#rollup") && r2.kept == Set("task12/events"))
    } finally engine.stop()
  }

  test("runBackup prunes date-suffixed slices against the task's JST window") {
    import spark.implicits._
    val root = tmp()
    // two day-sliced physical tables; only 1997-07-01 overlaps the window
    Seq((1L, java.sql.Timestamp.valueOf("1997-07-01 05:00:00")),
        (2L, java.sql.Timestamp.valueOf("1997-07-01 23:00:00"))) // 23:00Z = next JST day
      .toDF("id", "ts").write.parquet(s"$root/bsrc/tx_19970701")
    Seq((3L, java.sql.Timestamp.valueOf("1997-07-02 05:00:00")))
      .toDF("id", "ts").write.parquet(s"$root/bsrc/tx_19970702")
    val spec = graft.model.BackupSpec(
      id = 1, format = "json", compress = false,
      tables = Seq(graft.model.BackupTableSpec(
        tablePattern = "tx_\\d+", fields = Seq("all"), timeField = Some("ts"),
        startOffsetDays = -1, endOffsetDays = -1)),
      sourceDir = s"$root/bsrc", outDir = s"$root/bout")
    // anchor 1997-07-02 UTC → JST "yesterday" = [06-30 15:00Z, 07-01 15:00Z)
    val out = GraftEngine.runBackup(spark, spec,
      LocalDateTime.parse("1997-07-02T00:00:00"))
    assert(out == Seq(s"$root/bout/tx_1997-07-01.json"))
    val rows = spark.read.json(out.head).select("id").collect().map(_.getLong(0)).toSet
    // id 1 in-window; id 2 is the NEXT JST day (23:00Z); id 3 pruned with its slice
    assert(rows == Set(1L))
  }

  test("sweepDlq stops only the affected pipeline, applies its parked batch, and the next poll restarts it") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    // a regular FILE at the target path breaks the merge → batch lands in the DLQ
    Files.createDirectories(Paths.get(s"$root/tgt"))
    Files.write(Paths.get(s"$root/tgt/events"), Array[Byte](1, 2, 3))
    writeConfig(cfgPath,
      s"""{ "syncTasks": [ ${syncTaskJson(9, "events", root)} ], "backupTasks": [] }""")
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      engine.pollOnce()
      engine.processAllAvailable() // merge fails, batch_0 parked in the DLQ
      assert(Files.exists(Paths.get(s"$root/dlq/events/batch_0")))

      Files.delete(Paths.get(s"$root/tgt/events")) // target healed
      val stats = engine.sweepDlq()
      assert(stats == Map("task9/events" -> graft.streaming.CdcPipeline.DlqStats(succeeded = 1)))
      // the sweep stopped the pipeline first (no concurrent-merge race)…
      assert(!engine.activeQueries("task9/events").isActive)
      // …and the DLQ'd batch is now applied
      val want = normCdc(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
      assert(normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")) == want)
      // next poll restarts it from the checkpoint (restart-on-death)
      val r = engine.pollOnce()
      assert(r.started == Set("task9/events"))
      assert(engine.activeQueries("task9/events").isActive)
      // an engine with healthy DLQs sweeps nothing and touches no query
      assert(engine.sweepDlq().isEmpty && engine.activeQueries("task9/events").isActive)
    } finally engine.stop()
  }

  test("monitorCounts under ignoreDeleteOps: a snapshot key whose only log op is a delete stays counted on BOTH sides") {
    import spark.implicits._
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // snapshot: two keys matching the countQuery (value > 50)
    Seq((9001L, 60.0, 1L), (9002L, 70.0, 2L)).toDF("key", "value", "k")
      .write.parquet(s"$root/snap/events")
    // the log holds ONLY a delete for 9001 — which the pipeline ignores
    import org.apache.spark.sql.Row
    spark.createDataFrame(java.util.Arrays.asList(
        Row("delete", 9001L, null, "graft", "events",
          java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), 1L)),
      ChangeEvents.schema).coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath, s"""{ "syncTasks": [
      { "id": 9, "type": "mongodb", "enabled": true,
        "sourceDir": "$root/src", "targetDir": "$root/tgt",
        "checkpointDir": "$root/ckpt", "snapshotDir": "$root/snap",
        "tables": [ { "sourceTable": "events", "keyColumns": ["key"],
          "countQuery": { "conditions": [
            {"field": "value", "operator": ">", "value": "50"} ] },
          "advancedSettings": {"ignoreDeleteOps": true} } ] } ], "backupTasks": [] }""")
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      engine.processAllAvailable()
      // in the ignore-deletes world 9001 exists on both sides: the
      // target kept it live AND the source replay must not let the
      // ignored delete knock it out of the snapshot count
      val (src, tgt) = engine.monitorCounts()("task9/events")
      assert((src, tgt) == (2L, 2L))
      assert(alerts.drain().isEmpty) // no permanent false count_mismatch
    } finally engine.stop()
  }

  test("config rejections: syncIndexes without keyColumns, dailyRollup on redis, colliding rollup query names") {
    // syncIndexes=true with a JDBC target but no keyColumns: nothing to
    // replay — reject (accept-and-ignore would lie to the operator)
    val noKeys = ConfigReader.parse(
      """{ "syncTasks": [ { "id": 1, "type": "mysql",
        |  "targetJdbcUrl": "jdbc:derby:memory:x",
        |  "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |  "tables": [ { "sourceTable": "a",
        |    "advancedSettings": {"syncIndexes": true} } ] } ] }""".stripMargin)
    assert(noKeys.syncTasks.isEmpty)
    // dailyRollup on a redis task: the KV op log has no change events
    val redisRollup = ConfigReader.parse(
      """{ "syncTasks": [ { "id": 2, "type": "redis", "dailyRollup": true,
        |  "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |  "tables": [ { "sourceTable": "kv" } ] } ] }""".stripMargin)
    assert(redisRollup.syncTasks.isEmpty)
    // rollup query names collide after sanitization (db2/orders vs
    // db2_orders): compileAll must reject, not fail every reconcile
    val collide = ConfigReader.parse(
      """{ "syncTasks": [ { "id": 3, "type": "mongodb", "dailyRollup": true,
        |  "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c",
        |  "mappings": [
        |    { "sourceDatabase": "shop",
        |      "tables": [ { "sourceTable": "db2_orders", "keyColumns": ["id"] } ] },
        |    { "sourceDatabase": "db2",
        |      "tables": [ { "sourceTable": "orders", "keyColumns": ["id"] } ] } ] } ] }""".stripMargin)
    assert(collide.syncTasks.nonEmpty)
    val e = intercept[IllegalArgumentException](Compiler.compileAll(collide.syncTasks))
    assert(e.getMessage.contains("rollup query-name collision"))
  }

  test("stop racing a reconcile tick never leaves pipelines running; stop is idempotent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [ ${syncTaskJson(1, "events", root)} ], "backupTasks": [] }""")
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      // SIGTERM-shaped race: a poll tick and stop() contend for the
      // engine monitor. Either interleaving must end with nothing
      // running — stop-first makes the tick inert, tick-first means
      // stop tears down what the tick just started. The old entry-only
      // `stopping` check lost the tick-straddles-stop case.
      val poller = new Thread(() => { engine.pollOnce(); () })
      poller.start()
      engine.stop()
      poller.join()
      assert(engine.activeQueries.isEmpty)
      // after stop, further loop iterations are inert…
      val r = engine.pollOnce()
      assert(r.started.isEmpty && engine.activeQueries.isEmpty)
      assert(engine.sweepDlq().isEmpty && engine.sweepTombstones().isEmpty)
      // …and a second stop (hook + finally both arrive) is a safe no-op
      engine.stop()
    } finally engine.stop()
  }

  test("runOnce exit code: clean catch-up is 0, a failed config load is non-zero") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [ ${syncTaskJson(1, "events", root)} ], "backupTasks": [] }""")
    assert(GraftEngine.runOnce(
      new GraftEngine(spark, cfgPath, availableNow = true)) == 0)
    // a config caught mid-edit: the orchestrator must see a failure
    writeConfig(cfgPath, """{ "syncTasks": [ truncated""")
    assert(GraftEngine.runOnce(
      new GraftEngine(spark, cfgPath, availableNow = true)) == 1)
  }

  test("--once mode drains pending input through the main entry point and exits") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    ChangeEvents.fromEvents(spark, sf).coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [ ${syncTaskJson(1, "events", root)} ], "backupTasks": [] }""")
    GraftEngine.main(Array(cfgPath, "--once"))
    val got = normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events"))
    val want = normCdc(Cdc.finalState(spark, sf).withColumnRenamed("user_id", "key"))
    assert(got == want)
    // second --once with no new input: checkpointed no-op, state intact
    GraftEngine.main(Array(cfgPath, "--once"))
    assert(normCdc(graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")) == want)
  }
  test("config sessionize: finalized per-key sessions land in a durable log through the supervisor") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    import org.apache.spark.sql.Row
    def ev(op: String, key: Long, v: Double, off: Long, ts: String) =
      Row(op, key, Row(v, off), "graft", "events", java.sql.Timestamp.valueOf(ts), off)
    def writeEvents(rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeEvents.schema)
        .coalesce(1).write.mode("append").json(s"$root/src/events")
    // key 1: two ops an hour apart (one session); a much later op on
    // key 9 pushes the watermark past that session's end + gap
    writeEvents(
      ev("insert", 1L, 10.0, 1L, "2024-03-01 10:00:00"),
      ev("update", 1L, 11.0, 2L, "2024-03-01 11:00:00"),
      ev("insert", 9L, 90.0, 3L, "2024-03-03 00:00:00"))
    writeConfig(cfgPath,
      s"""{ "syncTasks": [
         |  { "id": 13, "type": "mongodb", "enabled": true, "sessionize": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ],
         | "backupTasks": [] }""".stripMargin)
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("task13/events", "task13/events#sessions"))
      engine.processAllAvailable()
      // the next batch emits sessions finalized under the advanced
      // watermark (same two-step flush as the session stream spec)
      writeEvents(ev("insert", 9L, 91.0, 4L, "2024-03-05 00:00:00"))
      engine.processAllAvailable()
      val got = engine.sessionLog("task13/events#sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(got.contains((1L, 2L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"))))
      // the CDC sibling ran over the same source unperturbed
      assert(graft.operators.Upsert.liveRows(
        graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")).count() == 2)
      // removing the flag stops ONLY the session rider on reconcile
      writeConfig(cfgPath,
        s"""{ "syncTasks": [
           |  { "id": 13, "type": "mongodb", "enabled": true,
           |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
           |    "checkpointDir": "$root/ckpt",
           |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ],
           | "backupTasks": [] }""".stripMargin)
      val r2 = engine.pollOnce()
      assert(r2.stopped == Set("task13/events#sessions") && r2.kept == Set("task13/events"))
    } finally engine.stop()
  }

  test("config rateMonitor: finalized sliding-window op rates land in a durable log through the supervisor") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    import org.apache.spark.sql.Row
    def ev(op: String, key: Long, v: Double, off: Long, ts: String) =
      Row(op, key, Row(v, off), "graft", "events", java.sql.Timestamp.valueOf(ts), off)
    def writeEvents(rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeEvents.schema)
        .coalesce(1).write.mode("append").json(s"$root/src/events")
    // two inserts + one update inside one 15-min slide; a much later
    // event pushes the watermark past all their windows
    writeEvents(
      ev("insert", 1L, 10.0, 1L, "2024-03-01 10:00:00"),
      ev("insert", 2L, 20.0, 2L, "2024-03-01 10:05:00"),
      ev("update", 1L, 11.0, 3L, "2024-03-01 10:10:00"),
      ev("insert", 9L, 90.0, 4L, "2024-03-03 00:00:00"))
    writeConfig(cfgPath,
      s"""{ "syncTasks": [
         |  { "id": 14, "type": "mongodb", "enabled": true, "rateMonitor": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ],
         | "backupTasks": [] }""".stripMargin)
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("task14/events", "task14/events#rates"))
      engine.processAllAvailable()
      writeEvents(ev("insert", 9L, 91.0, 5L, "2024-03-05 00:00:00"))
      engine.processAllAvailable()
      val got = engine.rateLog("task14/events#rates").collect()
        .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      // the 10:00 window holds all three ops, split by kind; op events
      // carry no value, so cents is 0 by contract
      assert(got.contains(("2024-03-01T10:00:00Z", "insert", 2L, 0L)))
      assert(got.contains(("2024-03-01T10:00:00Z", "update", 1L, 0L)))
      // overlap: the same inserts appear in the preceding slide too
      assert(got.contains(("2024-03-01T09:45:00Z", "insert", 2L, 0L)))
      // the CDC sibling ran over the same source unperturbed
      assert(graft.operators.Upsert.liveRows(
        graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")).count() >= 2)
    } finally engine.stop()
  }

  test("config anomalyMonitor: an op-volume spike day alerts; calm days and replays stay silent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    import org.apache.spark.sql.Row
    var off = 0L
    def ev(ts: String): Row = {
      off += 1
      Row("insert", off, Row(off.toDouble, off), "graft", "events",
        java.sql.Timestamp.valueOf(ts), off)
    }
    def writeEvents(rows: Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeEvents.schema)
        .coalesce(1).write.mode("append").json(s"$root/src/events")
    // four varied calm days (3/4/2/3 ops — nonzero variance), plus a
    // typical-volume pusher day that finalizes them without itself
    // reading as a low-volume anomaly
    writeEvents(
      (Seq.fill(3)("2024-03-01 10:00:00") ++ Seq.fill(4)("2024-03-02 10:00:00") ++
       Seq.fill(2)("2024-03-03 10:00:00") ++ Seq.fill(3)("2024-03-04 10:00:00") ++
       Seq.fill(3)("2024-03-20 10:00:00")).map(ev): _*)
    writeConfig(cfgPath,
      s"""{ "syncTasks": [
         |  { "id": 15, "type": "mongodb", "enabled": true, "anomalyMonitor": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ],
         | "backupTasks": [] }""".stripMargin)
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("task15/events", "task15/events#anomalies"))
      engine.processAllAvailable()
      assert(alerts.drain().isEmpty) // first cohort: history only
      // a 30-op spike day, finalized by a later typical pusher day
      writeEvents((Seq.fill(30)("2024-03-21 10:00:00") ++
        Seq.fill(3)("2024-03-24 10:00:00")).map(ev): _*)
      engine.processAllAvailable()
      engine.processAllAvailable() // one more cycle: watermark advances between batches
      val fired = alerts.drain().filter(_.kind == "value_anomaly")
      assert(fired.map(_.source) == Seq("insert"))
      assert(fired.head.message.contains("2024-03-21"), fired.head.message)
      // history face: calm days + pusher day + spike day finalized
      assert(engine.anomalyHistory("task15/events#anomalies").count() == 6)
      // the CDC sibling ran over the same source unperturbed
      assert(graft.operators.Upsert.liveRows(
        graft.operators.Upsert.readTarget(spark, s"$root/tgt/events")).count() >= 40)
    } finally engine.stop()
  }

  test("config forecastMonitor: the weekly op-volume cycle stays silent, a genuine break pages, reload drops the rider") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    import org.apache.spark.sql.Row
    var off = 0L
    def ev(ts: String): Row = {
      off += 1
      Row("insert", off, Row(off.toDouble, off), "graft", "events",
        java.sql.Timestamp.valueOf(ts), off)
    }
    // 9 weeks from Monday 2024-01-01: 2/3 ops alternating, Fridays
    // 8/9 ops (the weekly CDC-volume cycle the plain-z rider pages
    // on), one GENUINE break — Tuesday 2024-02-27 at Friday volume —
    // plus a far pusher day that finalizes everything
    val stamps = (0 until 63).flatMap { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val ops =
        if (d.toString == "2024-02-27") 8
        else if (d.getDayOfWeek == java.time.DayOfWeek.FRIDAY) 8 + (i % 2)
        else 2 + (i % 2)
      Seq.fill(ops)(s"$d 10:00:00")
    } ++ Seq.fill(3)("2024-03-20 10:00:00")
    spark.createDataFrame(
        java.util.Arrays.asList(stamps.map(ev): _*), ChangeEvents.schema)
      .coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [
         |  { "id": 16, "type": "mongodb", "enabled": true, "forecastMonitor": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ] }""".stripMargin)
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("task16/events", "task16/events#forecast"))
      engine.processAllAvailable()
      engine.processAllAvailable()
      val fired = alerts.drain().filter(_.kind == "forecast_anomaly")
      assert(fired.map(_.source) == Seq("insert"), s"got $fired")
      assert(fired.head.message.contains("2024-02-27"), fired.head.message)
      // reload with the rider off: only the monitor stops
      writeConfig(cfgPath,
        s"""{ "syncTasks": [
           |  { "id": 16, "type": "mongodb", "enabled": true,
           |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
           |    "checkpointDir": "$root/ckpt",
           |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ] }""".stripMargin)
      val r2 = engine.pollOnce()
      assert(r2.stopped == Set("task16/events#forecast"))
    } finally engine.stop()
  }

  test("config valueForecastMonitor: the weekly REVENUE cycle stays silent, a genuine value break pages") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    import org.apache.spark.sql.Row
    var off = 0L
    def ev(ts: String, v: Double): Row = {
      off += 1
      Row("insert", off, Row(v, off), "graft", "events",
        java.sql.Timestamp.valueOf(ts), off)
    }
    // one op per day — the COUNT faces see a flat series — while the
    // after-image value carries the weekly revenue cycle (Fridays 3x)
    // and one genuine break: Tuesday 2024-02-27 at Friday value
    val rows = (0 until 63).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val v =
        if (d.toString == "2024-02-27") 30.0
        else if (d.getDayOfWeek == java.time.DayOfWeek.FRIDAY)
          30.0 + (i % 3) * 0.25
        else 10.0 + (i % 3) * 0.25
      ev(s"$d 10:00:00", v)
    } :+ ev("2024-03-20 10:00:00", 10.0)
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), ChangeEvents.schema)
      .coalesce(1).write.mode("append").json(s"$root/src/events")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [
         |  { "id": 17, "type": "mongodb", "enabled": true, "valueForecastMonitor": true,
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt",
         |    "checkpointDir": "$root/ckpt",
         |    "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] } ] }""".stripMargin)
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("task17/events", "task17/events#vforecast"))
      engine.processAllAvailable()
      engine.processAllAvailable()
      val fired = alerts.drain().filter(_.kind == "value_forecast_anomaly")
      assert(fired.map(_.source) == Seq("insert"), s"got $fired")
      assert(fired.head.message.contains("2024-02-27"), fired.head.message)
    } finally engine.stop()
  }

  test("config erTasks: scheduled store maintenance founds then appends; store clusters equal the full run") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "erTasks": [
         |  { "id": 6, "schedule": "15 5 * * *", "sourceDir": "$sf",
         |    "storeDir": "$root/erstore" } ] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      // founding run appends the whole customer table
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:15:00")) ==
        Seq(GraftEngine.ErJobIdOffset + 6))
      val got = graft.operators.Dedup.entityClustersFromStore(spark, s"$root/erstore")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val want = graft.operators.Dedup.entityClusters(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(want.nonEmpty && got == want)
      // steady state: an unchanged source appends nothing and the
      // readout is stable (no duplicate edges from a re-run)
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T05:15:00")) ==
        Seq(GraftEngine.ErJobIdOffset + 6))
      val again = graft.operators.Dedup.entityClustersFromStore(spark, s"$root/erstore")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(again == want)
      assert(!alerts.drain().exists(_.kind == "er_maintenance_failed"))
      // reload with the task removed: the job leaves the schedule
      writeConfig(cfgPath, """{ "syncTasks": [] }""")
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-03T05:15:00")).isEmpty)
      graft.operators.PlanCache.release()
    } finally engine.stop()
  }

  test("er maintenance replays a crash-torn batch: freshness keys off absorbed, not names") {
    val root = tmp()
    val storeDir = s"$root/erstore"
    val names = Tables(spark, sf, "customer")
      .selectExpr("c_custkey AS id", "c_name AS name")
    val mid = names.agg(expr("percentile_approx(id, 0.5)")).first().getLong(0)
    graft.operators.Dedup.appendToEntityStore(
      names.filter(col("id") <= mid), storeDir)
    // crash simulation: the second batch's names landed but the process
    // died before its edges — under the r13 names-keyed anti-join this
    // batch would read as absorbed and its near-match edges would be
    // lost forever
    names.filter(col("id") > mid).write.mode("append")
      .parquet(graft.operators.Atomic.resolve(spark, storeDir, "names"))
    val msg = GraftEngine.runErMaintenance(spark,
      graft.model.ErTaskSpec(id = 7, sourceDir = sf, storeDir = storeDir))
    val replayed = names.filter(col("id") > mid).count()
    assert(msg == s"er +$replayed", s"maintenance saw '$msg', " +
      s"want the crashed batch ($replayed rows) re-offered")
    val got = graft.operators.Dedup.entityClustersFromStore(spark, storeDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = graft.operators.Dedup.entityClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    graft.operators.PlanCache.release()
    assert(want.nonEmpty && got == want)
  }

  test("config decontam: crawl docs scored at ingest equal the batch sweep; reload-drop stops the pipeline") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // the crawl input: the corpus's train slice as a JSON file stream
    Tables(spark, sf, "documents").filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "source", "text")
      .coalesce(1).write.mode("append").json(s"$root/crawl")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "backupTasks": [], "decontamTasks": [
         |  { "id": 30, "corpusDir": "$sf", "sourceDir": "$root/crawl",
         |    "outDir": "$root/scored", "checkpointDir": "$root/dckpt" } ] }""".stripMargin)
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("decontam30"))
      engine.processAllAvailable()
      val got = engine.quarantineLog("decontam30")
        .filter(col("contaminated")).select("doc_id", "n_hits").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val want = graft.operators.Dedup.decontaminate(spark, sf).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      graft.operators.PlanCache.release()
      assert(want.nonEmpty)
      assert(got == want, "config-driven quarantine must equal the batch sweep")
      // reload with the task removed: the reconcile stops it
      writeConfig(cfgPath, """{ "syncTasks": [], "backupTasks": [] }""")
      val r2 = engine.pollOnce()
      assert(r2.stopped == Set("decontam30"))
    } finally engine.stop()
  }

  test("config ivm: a non-default view spec matches the batch recompute; reload-drop stops the pipeline") {
    import spark.implicits._
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // a change log with NON-DEFAULT field names (uid/v/g), 5 buckets,
    // and the full hostile shape: null payload value, null bucket key,
    // negative bucket key, update retraction, delete tombstone
    val raw = Seq(
      ("insert", 1L, Option(10.0), Option(2L), 1L),
      ("insert", 2L, Option(20.5), Option(7L), 2L),
      ("insert", 3L, Option.empty[Double], Option(3L), 3L),
      ("insert", 4L, Option(5.25), Option.empty[Long], 4L),
      ("insert", 5L, Option(-3.7), Option(-2L), 5L),
      ("update", 1L, Option(11.0), Option(9L), 6L),
      ("delete", 2L, Option.empty[Double], Option.empty[Long], 7L),
      ("update", 4L, Option(6.5), Option(0L), 8L),
      ("insert", 6L, Option(100.0), Option(12L), 9L)
    ).toDF("op", "uid", "v", "g", "offset")
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST(offset AS INT), timestamp'2024-01-01 00:00:00')"))
    raw.select("op", "uid", "v", "g", "ts", "offset")
      .coalesce(1).write.mode("append").json(s"$root/changes")
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "ivmTasks": [
         |  { "id": 44, "sourceDir": "$root/changes",
         |    "storeDir": "$root/ivmstore", "checkpointDir": "$root/ivmckpt",
         |    "buckets": 5, "keyField": "uid", "bucketField": "g",
         |    "valueField": "v", "aggs": ["n_rows", "cents"] } ] }""".stripMargin)
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      val r = engine.pollOnce()
      assert(r.started == Set("ivm44"))
      engine.processAllAvailable()
      val view = graft.model.IvmView(buckets = 5, keyField = "uid",
        bucketField = "g", valueField = "v")
      val got = engine.ivmView("ivm44").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      // parity: the streamed view equals the batch face's recompute of
      // the SAME view spec over the same log
      val batchLog = raw.select(col("op"), col("uid"),
        struct(col("v"), col("g")).as("after"), col("ts"), col("offset"))
      val want = Cdc.incrementalViewOf(batchLog, view).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      graft.operators.PlanCache.release()
      assert(want.size == 4, s"fixture sanity: got $want")
      assert(got == want, "config-driven IVM view must equal the batch twin")
      // reload with the task removed: the reconcile stops it
      writeConfig(cfgPath, """{ "syncTasks": [] }""")
      val r2 = engine.pollOnce()
      assert(r2.stopped == Set("ivm44"))
    } finally engine.stop()
  }

  test("config ivm: honor-or-reject on non-abelian aggregates, fault-isolated") {
    val cfg = ConfigReader.parse(
      """{ "ivmTasks": [
        |  { "id": 1, "sourceDir": "/s", "storeDir": "/v", "checkpointDir": "/c",
        |    "aggs": ["n_rows", "max_cents"] },
        |  { "id": 2, "sourceDir": "/s2", "storeDir": "/v2", "checkpointDir": "/c2",
        |    "aggs": ["cents"] },
        |  { "id": 3, "sourceDir": "/s3", "storeDir": "/v3", "checkpointDir": "/c3",
        |    "buckets": 3 } ] }""".stripMargin)
    // #1 (unsupported aggregate) and #2 (missing the n_rows liveness
    // counter) are rejected; #3 parses with defaults — one bad task
    // never takes down its siblings
    assert(cfg.ivmTasks.map(_.id) == Seq(3))
    assert(cfg.ivmTasks.head.view.buckets == 3)
    assert(cfg.ivmTasks.head.view.aggs == Seq("n_rows", "cents"))
  }

  test("config ivm: colliding or reserved field names are rejected at load, fault-isolated") {
    val cfg = ConfigReader.parse(
      """{ "ivmTasks": [
        |  { "id": 1, "sourceDir": "/s", "storeDir": "/v", "checkpointDir": "/c",
        |    "keyField": "k", "bucketField": "k" },
        |  { "id": 2, "sourceDir": "/s2", "storeDir": "/v2", "checkpointDir": "/c2",
        |    "valueField": "op" },
        |  { "id": 3, "sourceDir": "/s3", "storeDir": "/v3", "checkpointDir": "/c3",
        |    "keyField": "uid", "bucketField": "g", "valueField": "v" } ] }""".stripMargin)
    // #1 (keyField == bucketField) and #2 (valueField shadows the fixed
    // changelog column `op`) would produce a duplicate-column stream
    // schema that previously failed only at stream START — honor-or-
    // reject demands the config load reject them like any other
    // malformed task, leaving the well-formed sibling intact
    assert(cfg.ivmTasks.map(_.id) == Seq(3))
  }

  test("scheduled training export: fires at its minute, manifest equals the operator, reload drops the job") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "backupTasks": [], "trainingTasks": [
         |  { "id": 20, "schedule": "30 4 * * *",
         |    "sourceDir": "$sf", "outDir": "$root/train" } ] }""".stripMargin)
    val engine = new GraftEngine(spark, cfgPath, availableNow = false)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T04:29:00")).isEmpty)
      // fires once in its minute (id in the training namespace), and the
      // at-most-once contract holds on a repeat tick
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T04:30:00")) ==
        Seq(GraftEngine.TrainingJobIdOffset + 20))
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T04:30:00")).isEmpty)
      val cols = Seq("doc_id", "copy_idx", "source", "n_tokens",
        "pack_group", "chunk_id", "spans_boundary")
      // partitioned layout: one directory per pack group
      assert(Files.list(Paths.get(s"$root/train/manifest")).toArray.map(_.toString)
        .count(_.contains("pack_group=")) == graft.operators.TextOps.PackGroups)
      val got = spark.read.parquet(s"$root/train/manifest")
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val want = graft.operators.TextOps.trainingExport(spark, sf)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      graft.operators.PlanCache.release()
      graft.operators.Dedup.releaseBandIndex()
      // partitionBy narrows pack_group to int in the written files;
      // compare on normalized longs
      def norm(s: Set[Seq[Any]]) = s.map(_.map {
        case i: Int => i.toLong
        case x => x
      })
      assert(norm(got) == norm(want) && got.nonEmpty)
      // hot-reload: removing the training task drops its cron job
      writeConfig(cfgPath,
        """{ "syncTasks": [], "backupTasks": [], "trainingTasks": [] }""")
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T04:30:00")).isEmpty)
    } finally engine.stop()
  }

  test("scheduled optimize: fires in its namespace, z-orders the mirror, bad column alerts not aborts") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "optimizeTasks": [
         |  { "id": 7, "schedule": "15 5 * * *",
         |    "sourceDir": "$sf/events.parquet", "outDir": "$root/opt",
         |    "zorderBy": ["user_id", "event_id"], "numFiles": 4 } ] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:15:00")) ==
        Seq(GraftEngine.OptimizeJobIdOffset + 7))
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:15:00")).isEmpty)
      // the mirror holds exactly the source rows, in numFiles files
      val src = spark.read.parquet(s"$sf/events.parquet")
      val opt = spark.read.parquet(s"$root/opt")
      assert(opt.count() == src.count())
      assert(opt.select("event_id").collect().map(_.getLong(0)).toSet ==
        src.select("event_id").collect().map(_.getLong(0)).toSet)
      val files = Files.list(Paths.get(s"$root/opt")).toArray.map(_.toString)
        .count(_.endsWith(".parquet"))
      assert(files == 4, s"expected 4 z-files, got $files")
      // a broken spec (missing column) fires, fails, ALERTS — the
      // engine keeps running and the next reconcile still works
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "optimizeTasks": [
           |  { "id": 8, "schedule": "20 5 * * *",
           |    "sourceDir": "$sf/events.parquet", "outDir": "$root/opt2",
           |    "zorderBy": ["user_id", "no_such_col"] } ] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:20:00")) ==
        Seq(GraftEngine.OptimizeJobIdOffset + 8))
      assert(alerts.drain().exists(_.kind == "optimize_failed"))
      engine.pollOnce() // still alive
    } finally engine.stop()
  }

  test("scheduled ann-index maintenance: found, no-op reconcile, increment append, probe parity") {
    import graft.operators.Similarity
    val root = tmp()
    // private corpus copy so the increment step can append to it
    val corpus = s"$root/corpus"
    Tables(spark, sf, "embeddings").write.parquet(s"$corpus/embeddings.parquet")
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "annIndexTasks": [
         |  { "id": 4, "schedule": "10 5 * * *",
         |    "sourceDir": "$corpus", "indexDir": "$root/idx",
         |    "jl": true, "trainPq": true } ] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      // day 1: founding pass builds both indexes + the PQ codebook
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:10:00")) ==
        Seq(GraftEngine.AnnIndexJobIdOffset + 4))
      val n0 = spark.read.parquet(s"$root/idx/ivf/cells").count()
      assert(n0 == Tables(spark, sf, "embeddings").count())
      assert(spark.read.parquet(s"$root/idx/codes_idx/codes").count() == n0)
      assert(Similarity.loadPqCodebook(spark, s"$root/idx").length ==
        Similarity.PqCodebook)
      // stored-index probe ≡ the in-process IVF over the same corpus
      val queries = Tables(spark, sf, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      val stored = Similarity.ivfTopKAgainstStoredIndex(spark, s"$root/idx/ivf", queries)
        .collect().map(_.toSeq).toSet
      assert(stored == Similarity.ivfTopK(spark, sf).collect().map(_.toSeq).toSet)
      // the JL leg founded alongside and its stored probe ≡ q297
      assert(spark.read.parquet(s"$root/idx/jl/jlproj").count() == n0)
      val jlStored = Similarity.jlIvfAgainstStoredIndex(spark, s"$root/idx/jl",
          queries, Tables(spark, sf, "embeddings"))
        .collect().map(_.toSeq).toSet
      assert(jlStored == Similarity.jlIvfTopK(spark, sf).collect().map(_.toSeq).toSet)
      // day 2, unchanged corpus: the reconcile is a no-op (no dup rows)
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T05:10:00")).nonEmpty)
      assert(spark.read.parquet(s"$root/idx/ivf/cells").count() == n0)
      // day 3: a crawl increment appends exactly its own rows
      import spark.implicits._
      val inc = Tables(spark, sf, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 5)
        .select(org.apache.spark.sql.functions.col("vec_id") + 1000000L,
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("label"))
        .toDF("vec_id", "embedding", "label")
      inc.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      assert(engine.tickCron(LocalDateTime.parse("2024-03-03T05:10:00")).nonEmpty)
      assert(spark.read.parquet(s"$root/idx/ivf/cells").count() == n0 + 5)
      assert(spark.read.parquet(s"$root/idx/codes_idx/codes").count() == n0 + 5)
      assert(spark.read.parquet(s"$root/idx/jl/jlproj").count() == n0 + 5)
      assert(alerts.drain().forall(_.kind != "ann_index_failed"))
    } finally engine.stop()
  }

  test("scheduled dq: a drifted table alerts per failed rule, a clean one stays silent") {
    val root = tmp()
    // corrupt orders: a null custkey and a negative price
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    Seq((1L, Option(10L), 100.0, ts), (2L, None: Option[Long], 100.0, ts),
        (3L, Option(11L), -5.0, ts))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.parquet(s"$root/orders.parquet")
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "dqTasks": [
         |  { "id": 3, "schedule": "45 6 * * *", "sourceDir": "$root", "table": "orders",
         |    "rules": [
         |      { "kind": "notNull", "name": "custkey_present", "column": "o_custkey" },
         |      { "kind": "minValue", "name": "price_nonneg", "column": "o_totalprice",
         |        "value": 0 },
         |      { "kind": "unique", "name": "orderkey_unique", "column": "o_orderkey" } ] }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:45:00")) ==
        Seq(GraftEngine.DqJobIdOffset + 3))
      val fired = alerts.drain().filter(_.kind == "dq_violation")
      // exactly the two violated rules alert; the passing rule is silent
      assert(fired.map(_.message).toSet ==
        Set("rule custkey_present: 1 violations", "rule price_nonneg: 1 violations"))
      // repair the table: the next day's run stays silent
      spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(9L, 12L, 50.0, ts)),
        spark.read.parquet(s"$root/orders.parquet").schema)
        .write.mode("overwrite").parquet(s"$root/orders.parquet")
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T06:45:00")) ==
        Seq(GraftEngine.DqJobIdOffset + 3))
      assert(alerts.drain().isEmpty)
    } finally engine.stop()
  }

  test("scheduled checksum reconciliation: a drifted month alerts with both fingerprints, a synced pair stays silent") {
    val root = tmp()
    val orders = Tables(spark, sf, "orders")
    orders.write.parquet(s"$root/src/orders.parquet")
    // the target drifts in ONE month: one order's price changes
    val victim = orders.select(
      org.apache.spark.sql.functions.col("o_orderkey"),
      org.apache.spark.sql.functions.col("o_orderdate")).head()
    val victimMonth = victim.getTimestamp(1).toLocalDateTime.toLocalDate
      .withDayOfMonth(1).toString
    orders.withColumn("o_totalprice",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("o_orderkey") === victim.getLong(0),
          org.apache.spark.sql.functions.col("o_totalprice") + 1.0)
          .otherwise(org.apache.spark.sql.functions.col("o_totalprice")))
      .write.parquet(s"$root/tgt/orders.parquet")
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "checksumTasks": [
         |  { "id": 7, "schedule": "15 5 * * *",
         |    "sourceDir": "$root/src", "targetDir": "$root/tgt" }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:15:00")) ==
        Seq(GraftEngine.ChecksumJobIdOffset + 7))
      val fired = alerts.drain().filter(_.kind == "checksum_mismatch")
      // exactly the drifted month alerts, naming both fingerprints
      assert(fired.map(_.message).count(_.startsWith(s"month $victimMonth:")) == 1)
      assert(fired.size == 1)
      // repair the target: the next day's run stays silent
      orders.write.mode("overwrite").parquet(s"$root/tgt/orders.parquet")
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T05:15:00")) ==
        Seq(GraftEngine.ChecksumJobIdOffset + 7))
      assert(alerts.drain().isEmpty)
    } finally engine.stop()
  }

  test("ann eval watchdog: a half-founded index alerts low recall; appending the rest heals it") {
    val root = tmp()
    val emb = Tables(spark, sf, "embeddings")
    // index founded on HALF the corpus (codebook vectors kept so the
    // probe codebook matches): truth over the full corpus finds the
    // missing half, recall tanks, the watchdog must page
    import org.apache.spark.sql.functions.col
    val founding = emb.filter(col("vec_id") < 16 || col("vec_id") % 2 === 0)
    graft.operators.Similarity.buildStoredIvf(founding, s"$root/ivf")
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "annEvalTasks": [
         |  { "id": 9, "schedule": "50 4 * * *", "sourceDir": "$sf",
         |    "indexDir": "$root/ivf", "minRecallMicro": 700000 }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T04:50:00")) ==
        Seq(GraftEngine.AnnEvalJobIdOffset + 9))
      val fired = alerts.drain().filter(_.kind == "ann_recall_low")
      assert(fired.size == 1, s"expected a low-recall alert, got $fired")
      // maintenance appends the missing half: recall recovers, silent
      graft.operators.Similarity.appendToStoredIvf(
        emb.filter(col("vec_id") >= 16 && col("vec_id") % 2 =!= 0), s"$root/ivf")
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T04:50:00")) ==
        Seq(GraftEngine.AnnEvalJobIdOffset + 9))
      val after = alerts.drain()
      assert(!after.exists(_.kind == "ann_recall_low"), s"healed index paged: $after")
      assert(!after.exists(_.kind == "ann_eval_failed"))
    } finally engine.stop()
  }

  test("model eval watchdog: strict bounds page all three gauges; a hot-reloaded lenient config is silent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // bounds no corpus can satisfy (kappa/AUC are capped at 1e6 micro,
    // ECE is nonnegative): every gauge must page
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "modelEvalTasks": [
         |  { "id": 3, "schedule": "55 4 * * *", "sourceDir": "$sf",
         |    "minKappaMicro": 2000000, "minAucMicro": 2000000,
         |    "maxEceMicro": -1 }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T04:55:00")) ==
        Seq(GraftEngine.ModelEvalJobIdOffset + 3))
      val fired = alerts.drain()
      assert(fired.exists(_.kind == "model_agreement_low"), s"got $fired")
      assert(fired.exists(_.kind == "model_auc_low"), s"got $fired")
      assert(fired.exists(_.kind == "model_calibration_off"), s"got $fired")
      assert(!fired.exists(_.kind == "model_eval_failed"), s"got $fired")
      // hot-reload with bounds no corpus can violate: the same sweep
      // runs and stays silent
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "modelEvalTasks": [
           |  { "id": 3, "schedule": "55 4 * * *", "sourceDir": "$sf",
           |    "minKappaMicro": -2000000, "minAucMicro": -2000000,
           |    "maxEceMicro": 2000000 }
           |] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T04:55:00")) ==
        Seq(GraftEngine.ModelEvalJobIdOffset + 3))
      val after = alerts.drain()
      assert(after.isEmpty, s"lenient bounds paged: $after")
    } finally engine.stop()
  }

  test("privacy watchdog: strict bounds page all three gauges; a hot-reloaded lenient config is silent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // bounds no table can satisfy (group sizes and l-values are >= 1,
    // EMD is nonnegative): every gauge must page
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "privacyTasks": [
         |  { "id": 4, "schedule": "10 6 * * *", "sourceDir": "$sf",
         |    "minK": 1000000000, "minL": 1000000000, "maxEmdMicro": -1 }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:10:00")) ==
        Seq(GraftEngine.PrivacyJobIdOffset + 4))
      val fired = alerts.drain()
      assert(fired.exists(_.kind == "privacy_k_low"), s"got $fired")
      assert(fired.exists(_.kind == "privacy_l_low"), s"got $fired")
      assert(fired.exists(_.kind == "privacy_t_distance_high"), s"got $fired")
      assert(!fired.exists(_.kind == "privacy_audit_failed"), s"got $fired")
      // hot-reload with bounds no table can violate: same sweep, silent
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "privacyTasks": [
           |  { "id": 4, "schedule": "10 6 * * *", "sourceDir": "$sf",
           |    "minK": -1, "minL": -1, "maxEmdMicro": 2000000 }
           |] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T06:10:00")) ==
        Seq(GraftEngine.PrivacyJobIdOffset + 4))
      val after = alerts.drain()
      assert(after.isEmpty, s"lenient bounds paged: $after")
    } finally engine.stop()
  }

  test("graph maintenance: the first tick founds the store, the second reconciles to a no-op") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "graphTasks": [
         |  { "id": 6, "schedule": "20 5 * * *", "sourceDir": "$sf",
         |    "storeDir": "$root/graph", "compact": true }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T05:20:00")) ==
        Seq(GraftEngine.GraphJobIdOffset + 6))
      assert(alerts.drain().isEmpty, "founding maintenance paged")
      val full = graft.operators.Graph.coPurchaseEdges(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      def stored() = graft.operators.Graph.storedEdges(spark, s"$root/graph")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(stored() == full)
      // second tick: unchanged corpus, reconcile is a no-op, store intact
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T05:20:00")) ==
        Seq(GraftEngine.GraphJobIdOffset + 6))
      assert(alerts.drain().isEmpty)
      assert(stored() == full)
      graft.operators.PlanCache.release()
    } finally engine.stop()
  }

  test("drift watchdog: an impossible bound pages every type; a hot-reloaded lenient bound is silent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // TVD is nonnegative → bound -1 pages every event type
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "driftTasks": [
         |  { "id": 9, "schedule": "25 6 * * *", "sourceDir": "$sf",
         |    "maxTvdMicro": -1 }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:25:00")) ==
        Seq(GraftEngine.DriftJobIdOffset + 9))
      val fired = alerts.drain()
      assert(fired.nonEmpty && fired.forall(_.kind == "value_drift_high"), s"got $fired")
      // TVD is capped at 10⁶ → bound 2·10⁶ can never page
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "driftTasks": [
           |  { "id": 9, "schedule": "25 6 * * *", "sourceDir": "$sf",
           |    "maxTvdMicro": 2000000 }
           |] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T06:25:00")) ==
        Seq(GraftEngine.DriftJobIdOffset + 9))
      assert(alerts.drain().isEmpty, "lenient drift bound paged")
    } finally engine.stop()
  }

  test("graph health watchdog: an impossible bound pages; a hot-reloaded lenient bound is silent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // the corpus graph's Q is far below 2·10⁶ (Q ≤ 10⁶ by definition)
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "graphHealthTasks": [
         |  { "id": 3, "schedule": "45 6 * * *", "sourceDir": "$sf",
         |    "minQMicro": 2000000 }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:45:00")) ==
        Seq(GraftEngine.GraphHealthJobIdOffset + 3))
      val fired = alerts.drain()
      assert(fired.map(_.kind) == Seq("graph_modularity_low"), s"got $fired")
      assert(fired.head.message.contains("communities"))
      // Q ≥ −10⁶ by definition → bound −2·10⁶ can never page
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "graphHealthTasks": [
           |  { "id": 3, "schedule": "45 6 * * *", "sourceDir": "$sf",
           |    "minQMicro": -2000000 }
           |] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T06:45:00")) ==
        Seq(GraftEngine.GraphHealthJobIdOffset + 3))
      assert(alerts.drain().isEmpty, "lenient modularity bound paged")
      // an empty graph is no-audit, never a page or an error
      val empty = GraftEngine.runGraphHealth(spark,
        graft.model.GraphHealthSpec(id = 4, sourceDir = emptyGraphDir()))
      assert(empty.isEmpty)
    } finally engine.stop()
  }

  test("graph drift watchdog: an impossible drop bound pages per epoch; lenient and unconfigured stay silent") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    // drop ∈ (−2·10⁶, 2·10⁶) by Q's range, so a −2·10⁶ bound pages on
    // EVERY epoch with a drift row (epochs − 1 of them), and a +2·10⁶
    // bound can never page; minQMicro −2·10⁶ keeps the absolute-Q
    // alert out of the way
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "graphHealthTasks": [
         |  { "id": 5, "schedule": "45 6 * * *", "sourceDir": "$sf",
         |    "minQMicro": -2000000, "epochs": 4, "maxDriftMicro": -2000000 }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:45:00")) ==
        Seq(GraftEngine.GraphHealthJobIdOffset + 5))
      val fired = alerts.drain()
      assert(fired.map(_.kind) == Seq.fill(3)("graph_modularity_drift"),
        s"got $fired")
      assert(fired.forall(_.message.contains("bound")), s"got $fired")
      // lenient bound: silent
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "graphHealthTasks": [
           |  { "id": 5, "schedule": "45 6 * * *", "sourceDir": "$sf",
           |    "minQMicro": -2000000, "maxDriftMicro": 2000000 }
           |] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T06:45:00")) ==
        Seq(GraftEngine.GraphHealthJobIdOffset + 5))
      assert(alerts.drain().isEmpty, "lenient drift bound paged")
      // no maxDriftMicro: the series is never run, never pages
      writeConfig(cfgPath,
        s"""{ "syncTasks": [], "graphHealthTasks": [
           |  { "id": 5, "schedule": "45 6 * * *", "sourceDir": "$sf",
           |    "minQMicro": -2000000 }
           |] }""".stripMargin)
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-03T06:45:00")) ==
        Seq(GraftEngine.GraphHealthJobIdOffset + 5))
      assert(alerts.drain().isEmpty, "unconfigured drift watch paged")
    } finally engine.stop()
  }

  /** A lineitem table with single-item baskets only: zero co-purchase
    * edges — the empty-graph audit case. */
  private def emptyGraphDir(): String = {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 10L), (2L, 20L)).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("monitor-to-model loop: drift pages, retrain promotes, the serving face scores — one config") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [],
         |  "driftTasks": [
         |   { "id": 1, "schedule": "25 6 * * *", "sourceDir": "$sf",
         |     "maxTvdMicro": -1 } ],
         |  "retrainTasks": [
         |   { "id": 2, "schedule": "40 6 * * *", "sourceDir": "$sf",
         |     "storeDir": "$root/model" } ] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      // 06:25 — the drift watchdog pages (impossible bound)
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:25:00")) ==
        Seq(GraftEngine.DriftJobIdOffset + 1))
      assert(alerts.drain().exists(_.kind == "value_drift_high"))
      // 06:40 — the retrain answers with a founding promotion
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T06:40:00")) ==
        Seq(GraftEngine.RetrainJobIdOffset + 2))
      assert(alerts.drain().exists(_.kind == "model_promoted"))
      // the serving face reads the just-promoted version
      val scored = graft.operators.ModelStore
        .scoreWithLiveModel(spark, sf, s"$root/model")
      assert(scored.count() == Tables(spark, sf, "documents").count())
      graft.operators.PlanCache.release()
    } finally engine.stop()
  }

  test("retrain: the first tick founds the model (promotion alert), the second holds silently") {
    val root = tmp()
    val cfgPath = s"$root/engine.json"
    writeConfig(cfgPath,
      s"""{ "syncTasks": [], "retrainTasks": [
         |  { "id": 7, "schedule": "40 3 * * *", "sourceDir": "$sf",
         |    "storeDir": "$root/model" }
         |] }""".stripMargin)
    val alerts = new graft.streaming.Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, availableNow = false, alerts = alerts)
    try {
      engine.pollOnce()
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T03:40:00")) ==
        Seq(GraftEngine.RetrainJobIdOffset + 7))
      val fired = alerts.drain()
      assert(fired.exists(_.kind == "model_promoted"), s"got $fired")
      assert(!fired.exists(_.kind == "model_retrain_failed"), s"got $fired")
      val live = graft.operators.ModelStore.liveModel(spark, s"$root/model")
      assert(live.isDefined)
      // second tick: unchanged corpus retrains to identical weights —
      // hysteresis holds, no promotion page, version untouched
      assert(engine.tickCron(LocalDateTime.parse("2024-03-02T03:40:00")) ==
        Seq(GraftEngine.RetrainJobIdOffset + 7))
      assert(alerts.drain().isEmpty, "a held retrain paged")
      assert(graft.operators.ModelStore.liveModel(spark, s"$root/model") == live)
      graft.operators.PlanCache.release()
    } finally engine.stop()
  }

  test("curation serves the registry: a promotion changes the curated set") {
    val root = tmp()
    val store = s"$root/model"
    val to = graft.operators.TextOps
    // before founding: the live-model face IS the literal q53 gate
    val literal = to.curate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(literal.nonEmpty)
    val before = to.curateWithLiveModel(spark, sf, store).collect()
    assert(before.map(r => (r.getLong(0), r.getString(1))).toSet == literal)
    assert(before.forall(_.isNullAt(3)), "fallback rows carry no logit")
    // a founding promotion with reject-everything weights flips the
    // gate: same corpus, EMPTY curated set — the promotion visibly
    // changed the curation output
    graft.operators.ModelStore.publishModel(spark, store,
      Seq(-1000000000L, 0L, 0L, 0L, 0L), aucMicro = 500000L)
    assert(to.curateWithLiveModel(spark, sf, store).count() == 0L)
    // promote an admit-everything model: the quality bar is fully
    // delegated, so the curated set is every English non-loser doc —
    // a superset of the literal-bar set, each row carrying the logit
    graft.operators.ModelStore.publishModel(spark, store,
      Seq(1000000000L, 0L, 0L, 0L, 0L), aucMicro = 600000L)
    val after = to.curateWithLiveModel(spark, sf, store).collect()
    assert(after.forall(r => r.getLong(3) == 1000000000L))
    val afterIds = after.map(_.getLong(0)).toSet
    assert(literal.map(_._1).subsetOf(afterIds))
    graft.operators.PlanCache.release()
  }

  test("joint curation serves the registry: a promotion changes the joint-curated set") {
    val root = tmp()
    val store = s"$root/model"
    val to = graft.operators.TextOps
    // pre-founding: the live face IS the literal q114 gate
    val literal = to.jointCurate(spark, sf).collect().map(_.getLong(0)).toSet
    assert(literal.nonEmpty)
    val before = to.jointCurateWithLiveModel(spark, sf, store).collect()
    assert(before.map(_.getLong(0)).toSet == literal)
    assert(before.forall(_.isNullAt(3)), "fallback rows carry no logit")
    // reject-everything weights: the promotion empties the joint set
    graft.operators.ModelStore.publishModel(spark, store,
      Seq(-1000000000L, 0L, 0L, 0L, 0L), aucMicro = 500000L)
    assert(to.jointCurateWithLiveModel(spark, sf, store).count() == 0L)
    // admit-everything weights: the lexical bar is fully delegated,
    // but the SEMANTIC leg still bites — every known embedding-space
    // duplicate stays out even though the model admits everything
    graft.operators.ModelStore.publishModel(spark, store,
      Seq(1000000000L, 0L, 0L, 0L, 0L), aucMicro = 600000L)
    val semDropped = graft.operators.Similarity.semDedup(spark, sf)
      .filter(!org.apache.spark.sql.functions.col("is_kept"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(semDropped.nonEmpty, "fixture has no semantic duplicates")
    val after = to.jointCurateWithLiveModel(spark, sf, store).collect()
      .map(_.getLong(0)).toSet
    assert(literal.subsetOf(after))
    assert(after.intersect(semDropped).isEmpty,
      "a semantic duplicate leaked past the joint live gate")
    graft.operators.PlanCache.release()
  }

  test("clean split serves the registry: a promotion changes the train side only") {
    val root = tmp()
    val store = s"$root/model"
    val to = graft.operators.TextOps
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val literal = splits(to.cleanSplit(spark, sf))
    val before = to.cleanSplitWithLiveModel(spark, sf, store)
    assert(splits(before) == literal)
    assert(before.collect().forall(_.isNullAt(3)),
      "fallback rows carry no logit")
    // reject-everything weights: every would-be train row flips to
    // `filtered`; test and leakage-excluded labels are untouched
    graft.operators.ModelStore.publishModel(spark, store,
      Seq(-1000000000L, 0L, 0L, 0L, 0L), aucMicro = 500000L)
    val rejected = splits(to.cleanSplitWithLiveModel(spark, sf, store))
    assert(rejected.keySet == literal.keySet)
    literal.foreach { case (id, s) =>
      if (s == "train")
        assert(rejected(id) == "filtered", s"doc $id: ${rejected(id)}")
      else assert(rejected(id) == s, s"doc $id label changed: ${rejected(id)}")
    }
    // admit-everything weights: train = the English would-be-train set
    graft.operators.ModelStore.publishModel(spark, store,
      Seq(1000000000L, 0L, 0L, 0L, 0L), aucMicro = 600000L)
    val admitted = splits(to.cleanSplitWithLiveModel(spark, sf, store))
    literal.foreach { case (id, s) =>
      if (s != "train") assert(admitted(id) == s)
      else assert(admitted(id) == "train" || admitted(id) == "filtered")
    }
    assert(admitted.values.count(_ == "train") > 0)
    graft.operators.PlanCache.release()
  }

}
