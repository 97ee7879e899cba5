package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import graft.engine.{ConfigReader, GraftEngine}
import graft.streaming.Alerts

/** The scheduled-task families end to end: every config task key
  * isolates a malformed entry, and every scheduled family fires in its
  * own id namespace and turns a failing run into one `<kind>_failed`
  * alert without stopping the other due jobs. */
class ScheduleSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_schedule").toString

  /** key → (a valid entry's fields, a malformed entry's fields, the ids
    * the loaded config holds under that key). Scheduled families are
    * made malformed by an out-of-range schedule; the three stream
    * families have no schedule and drop a required directory instead. */
  private val keys: Seq[(String, String, String, ConfigReader.EngineConfig => Seq[Int])] = Seq(
    ("syncTasks",
      """"type": "mongodb", "sourceDir": "/s", "targetDir": "/t", "checkpointDir": "/c", "tables": []""",
      """"type": "mongodb", "sourceDir": "/s", "targetDir": "/t", "tables": []""",
      _.syncTasks.map(_.id)),
    ("ivmTasks",
      """"sourceDir": "/s", "storeDir": "/st", "checkpointDir": "/c"""",
      """"sourceDir": "/s", "checkpointDir": "/c"""",
      _.ivmTasks.map(_.id)),
    ("decontamTasks",
      """"corpusDir": "/k", "sourceDir": "/s", "outDir": "/o", "checkpointDir": "/c"""",
      """"corpusDir": "/k", "sourceDir": "/s", "checkpointDir": "/c"""",
      _.decontamTasks.map(_.id)),
    ("backupTasks", """"sourceDir": "/s", "outDir": "/o", "tables": []""", "",
      _.backupTasks.map(_.id)),
    ("trainingTasks", """"sourceDir": "/s", "outDir": "/o"""", "",
      _.trainingTasks.map(_.id)),
    ("optimizeTasks", """"sourceDir": "/s", "outDir": "/o", "zorderBy": ["a", "b"]""", "",
      _.optimizeTasks.map(_.id)),
    ("dqTasks",
      """"sourceDir": "/s", "table": "t", "rules": [ {"name": "n", "column": "c", "kind": "notNull"} ]""",
      "", _.dqTasks.map(_.id)),
    ("annIndexTasks", """"sourceDir": "/s", "indexDir": "/i"""", "",
      _.annIndexTasks.map(_.id)),
    ("checksumTasks", """"sourceDir": "/s", "targetDir": "/t"""", "",
      _.checksumTasks.map(_.id)),
    ("annEvalTasks", """"sourceDir": "/s", "indexDir": "/i"""", "",
      _.annEvalTasks.map(_.id)),
    ("modelEvalTasks", """"sourceDir": "/s"""", "", _.modelEvalTasks.map(_.id)),
    ("privacyTasks", """"sourceDir": "/s"""", "", _.privacyTasks.map(_.id)),
    ("graphTasks", """"sourceDir": "/s", "storeDir": "/st"""", "", _.graphTasks.map(_.id)),
    ("retrainTasks", """"sourceDir": "/s", "storeDir": "/st"""", "", _.retrainTasks.map(_.id)),
    ("driftTasks", """"sourceDir": "/s"""", "", _.driftTasks.map(_.id)),
    ("graphHealthTasks", """"sourceDir": "/s"""", "", _.graphHealthTasks.map(_.id)),
    ("erTasks", """"sourceDir": "/s", "storeDir": "/st"""", "", _.erTasks.map(_.id)))

  test("every task key loads the valid entry and skips the malformed one") {
    assert(keys.map(_._1).distinct.size == 17)
    keys.foreach { case (key, valid, malformed, ids) =>
      val bad =
        if (malformed.nonEmpty) malformed
        else valid + """, "schedule": "61 99 * * *""""
      val cfg = ConfigReader.parse(
        s"""{ "$key": [ { "id": 1, $valid }, { "id": 2, $bad } ] }""")
      assert(ids(cfg) == Seq(1), s"$key loaded ${ids(cfg)}")
    }
  }

  test("one tick fires all 14 scheduled families; each failing run raises one <kind>_failed alert") {
    val root = tmp()
    // the backup export reads an empty table directory, which has no
    // parquet schema to infer; every other family reads a missing dir
    Files.createDirectories(Paths.get(s"$root/bsrc/orders"))
    val missing = s"$root/missing"
    val at = """"schedule": "7 1 * * *""""
    val id = 5
    def task(fields: String) = s"""[ { "id": $id, $at, $fields } ]"""
    val cfgPath = s"$root/engine.json"
    Files.write(Paths.get(cfgPath),
      s"""{ "syncTasks": [],
         |  "backupTasks": ${task(s""""sourceDir": "$root/bsrc", "outDir": "$root/bout", "tables": [ {"tablePattern": "orders"} ]""")},
         |  "trainingTasks": ${task(s""""sourceDir": "$missing", "outDir": "$root/tout"""")},
         |  "optimizeTasks": ${task(s""""sourceDir": "$missing", "outDir": "$root/oout", "zorderBy": ["a", "b"]""")},
         |  "dqTasks": ${task(s""""sourceDir": "$missing", "table": "orders", "rules": [ {"name": "n", "column": "o_orderkey", "kind": "notNull"} ]""")},
         |  "annIndexTasks": ${task(s""""sourceDir": "$missing", "indexDir": "$root/idx"""")},
         |  "checksumTasks": ${task(s""""sourceDir": "$missing", "targetDir": "$missing"""")},
         |  "annEvalTasks": ${task(s""""sourceDir": "$missing", "indexDir": "$root/idx"""")},
         |  "modelEvalTasks": ${task(s""""sourceDir": "$missing"""")},
         |  "privacyTasks": ${task(s""""sourceDir": "$missing"""")},
         |  "graphTasks": ${task(s""""sourceDir": "$missing", "storeDir": "$root/gstore"""")},
         |  "retrainTasks": ${task(s""""sourceDir": "$missing", "storeDir": "$root/mstore"""")},
         |  "driftTasks": ${task(s""""sourceDir": "$missing"""")},
         |  "graphHealthTasks": ${task(s""""sourceDir": "$missing"""")},
         |  "erTasks": ${task(s""""sourceDir": "$missing", "storeDir": "$root/estore"""")}
         |}""".stripMargin.getBytes("UTF-8"))
    // (id offset, failure kind, subject prefix) per family
    val families = Seq(
      (0, "backup_failed", "backup"),
      (GraftEngine.TrainingJobIdOffset, "training_export_failed", "training"),
      (GraftEngine.OptimizeJobIdOffset, "optimize_failed", "optimize"),
      (GraftEngine.DqJobIdOffset, "dq_failed", "dq"),
      (GraftEngine.AnnIndexJobIdOffset, "ann_index_failed", "annIndex"),
      (GraftEngine.ChecksumJobIdOffset, "checksum_failed", "checksum"),
      (GraftEngine.AnnEvalJobIdOffset, "ann_eval_failed", "annEval"),
      (GraftEngine.ModelEvalJobIdOffset, "model_eval_failed", "modelEval"),
      (GraftEngine.PrivacyJobIdOffset, "privacy_audit_failed", "privacy"),
      (GraftEngine.GraphJobIdOffset, "graph_maintenance_failed", "graph"),
      (GraftEngine.RetrainJobIdOffset, "model_retrain_failed", "retrain"),
      (GraftEngine.DriftJobIdOffset, "drift_audit_failed", "drift"),
      (GraftEngine.GraphHealthJobIdOffset, "graph_health_failed", "graphHealth"),
      (GraftEngine.ErJobIdOffset, "er_maintenance_failed", "er"))
    val alerts = new Alerts.Buffer
    val engine = new GraftEngine(spark, cfgPath, alerts = alerts)
    try {
      engine.pollOnce()
      val fired = engine.tickCron(LocalDateTime.parse("2024-03-01T01:07:00"))
      assert(fired.size == 14)
      assert(fired.toSet == families.map(_._1 + id).toSet)
      val raised = alerts.drain().map(a => (a.kind, a.source))
      assert(raised.sorted == families.map { case (_, kind, prefix) =>
        (kind, s"$prefix$id") }.sorted, s"alerts: $raised")
      // at-most-once per minute still holds for every family
      assert(engine.tickCron(LocalDateTime.parse("2024-03-01T01:07:00")).isEmpty)
    } finally engine.stop()
  }
}
