package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.GraftEngine
import graft.model.{BackupSpec, BackupTableSpec}
import graft.operators.{SqlGateway, Upsert}

/** Reads over a replicated target through the product's read surfaces:
  * the engine's row-count monitoring (`GraftEngine.countReport`), an
  * ad-hoc key lookup through `SqlGateway`, and a jsonl export through
  * `GraftEngine.runBackup`. The count condition is on `key`, the one
  * clear-text payload column once `value` is encrypted and `k` masked. */
object Reads {

  val KeyBelow: Long = Gen.Orders / 2
  val Anchor: LocalDateTime = LocalDateTime.parse("2024-03-01T03:00:00")
  val Pipeline = "task1/orders"

  /** An engine whose one CDC task names `<dir>/target` as its target and
    * an empty change source, so its reconcile applies nothing. */
  def engine(spark: SparkSession, dir: Path): GraftEngine = {
    Files.createDirectories(dir.resolve("engine-src").resolve("orders"))
    Files.writeString(dir.resolve("engine.json"),
      s"""{ "syncTasks": [ { "id": 1, "type": "mongodb", "enabled": true,
         |  "sourceDir": "$dir/engine-src", "targetDir": "$dir",
         |  "checkpointDir": "$dir/engine-checkpoint", "dlqDir": "$dir/engine-dlq",
         |  "tables": [ { "sourceTable": "orders", "targetTable": "target",
         |    "keyColumns": ["key"],
         |    "countQuery": { "conditions": [
         |      {"field": "key", "operator": "<", "value": "$KeyBelow"} ] } } ] } ],
         |  "backupTasks": [] }""".stripMargin)
    val e = new GraftEngine(spark, dir.resolve("engine.json").toString,
      availableNow = true, clock = () => Anchor)
    val r = e.pollOnce()
    require(r.failed.isEmpty, s"engine pipeline failed to start: ${r.failed}")
    e.awaitDrained()
    e
  }

  def count(e: GraftEngine): Long = e.countReport()(Pipeline)

  /** What `count` must return: a direct filtered live-row count. */
  def directCount(spark: SparkSession, target: String): Long =
    Upsert.liveRows(Upsert.readTarget(spark, target)).filter(col("key") < KeyBelow).count()

  def lookup(spark: SparkSession, target: String, keys: Seq[Long]): Long = {
    Upsert.liveRows(Upsert.readTarget(spark, target)).createOrReplaceTempView("target")
    SqlGateway.execute(spark,
      s"SELECT key, value, k FROM target WHERE key IN (${keys.mkString(", ")})").collect().length
  }

  /** Export the rows the change stream touched; returns bytes written. */
  def exportTarget(spark: SparkSession, dir: Path): Long = {
    val spec = BackupSpec(id = 1, format = "jsonl",
      tables = Seq(BackupTableSpec("target", Seq("key", "value", "updated_at"),
        Some("updated_at"), startOffsetDays = -1, endOffsetDays = 0)),
      compress = false, sourceDir = dir.toString, outDir = dir.resolve("export").toString)
    GraftEngine.runBackup(spark, spec, Anchor).map(p => dirBytes(Path.of(p))).sum
  }

  /** Seeded lookup keys: the same seed gives the same key lists. */
  def lookupKeys(seed: Long, round: Int): Seq[Long] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + round)
    Seq.fill(20)(rng.nextLong(Gen.Orders.toLong))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else Stats.listDir(p).filterNot(_.getFileName.toString.startsWith("."))
      .map(dirBytes).sum
}
