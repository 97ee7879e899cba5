package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.engine.{Compiler, ConfigReader, GraftEngine}
import graft.streaming.ChangeEvents

/** The pipeline kinds a sync task compiles to: the six opt-in
  * change-stream riders are refused on a redis task, ride a CDC task
  * under their fixed names and storage roots, and own no dead-letter
  * queue. */
class PipelineKindSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_kinds").toString

  private val riderKeys = Seq("dailyRollup", "sessionize", "rateMonitor",
    "anomalyMonitor", "forecastMonitor", "valueForecastMonitor")

  private def taskJson(id: Int, taskType: String, keys: Seq[String], root: String): String =
    s"""{ "id": $id, "type": "$taskType", "enabled": true,
       |  ${keys.map(k => s""""$k": true, """).mkString}
       |  "sourceDir": "$root/src", "targetDir": "$root/tgt",
       |  "checkpointDir": "$root/ckpt", "dlqDir": "$root/dlq",
       |  "tables": [ { "sourceTable": "events", "keyColumns": ["key"] } ] }""".stripMargin

  /** A def's text fields in declaration order: its name, then the
    * directories (or memory table) it reads and writes. */
  private def texts(d: Compiler.PipelineDef): Seq[String] =
    d.asInstanceOf[Product].productIterator.collect { case s: String => s }.toSeq

  test("a redis task carrying any rider key is skipped at load") {
    riderKeys.foreach { key =>
      val cfg = ConfigReader.parse(
        s"""{ "syncTasks": [ ${taskJson(1, "redis", Seq(key), "/r")},
           |  ${taskJson(2, "redis", Nil, "/r2")} ] }""".stripMargin)
      assert(cfg.syncTasks.map(_.id) == Seq(2), key)
    }
  }

  test("a CDC task with every rider compiles to the CDC def plus six riders") {
    val cfg = ConfigReader.parse(s"""{ "syncTasks": [ ${taskJson(3, "mongodb", riderKeys, "/r")} ] }""")
    val defs = Compiler.compile(cfg.syncTasks.head)
    assert(defs.map(_.name) == Seq("task3/events#rollup", "task3/events#sessions",
      "task3/events#rates", "task3/events#anomalies", "task3/events#forecast",
      "task3/events#vforecast", "task3/events"))
    defs.last match {
      case Compiler.CdcDef(_, c, _, _, _, _) =>
        assert(Seq(c.sourceDir, c.targetDir, c.checkpointDir, c.dlqDir) ==
          Seq("/r/src/events", "/r/tgt/events", "/r/ckpt/events", "/r/dlq/events"))
      case other => fail(s"expected CdcDef, got $other")
    }
    val fileRider = (suffix: String) => Seq(s"task3/events$suffix", "/r/src/events",
      s"/r/tgt/events$suffix", s"/r/ckpt/events$suffix")
    assert(defs.init.map(texts) == Seq(
      Seq("task3/events#rollup", "/r/src/events", "rollup_task3_events"),
      fileRider("#sessions"), fileRider("#rates"), fileRider("#anomalies"),
      fileRider("#forecast"), fileRider("#vforecast")))
    // compiling twice gives equal defs: the supervisor keeps a running
    // pipeline whose def is unchanged
    assert(Compiler.compile(cfg.syncTasks.head) == defs)
    assert(Compiler.compileAll(cfg.syncTasks) == defs.map(d => d.name -> d).toMap)
  }

  test("retryDlq reports only the CDC pipeline of a task with every rider") {
    val root = tmp()
    val rows = Seq(
      Row("insert", 1L, Row(10.0, 1L), "graft", "events",
        java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 1L),
      Row("update", 1L, Row(11.0, 2L), "graft", "events",
        java.sql.Timestamp.valueOf("2024-03-01 11:00:00"), 2L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeEvents.schema)
      .coalesce(1).write.mode("append").json(s"$root/src/events")
    val cfgPath = s"$root/engine.json"
    Files.write(Paths.get(cfgPath),
      s"""{ "syncTasks": [ ${taskJson(31, "mongodb", riderKeys, root)} ] }""".getBytes("UTF-8"))
    val engine = new GraftEngine(spark, cfgPath, availableNow = true)
    try {
      val r = engine.pollOnce()
      assert(r.failed.isEmpty && r.started.size == 7)
      engine.awaitDrained()
      assert(engine.retryDlq().keySet == Set("task31/events"))
    } finally engine.stop()
  }
}
