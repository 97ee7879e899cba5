package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.GraftEngine
import graft.model.{BackupSpec, BackupTableSpec}
import graft.operators.Upsert
import graft.streaming.Dlq

/** The merge-on-read CDC target: every batch appends a delta, reads
  * fold base ⊕ deltas, compaction folds them back. Each case checks
  * the resolved view against an independent last-writer-wins fold of
  * snapshot ⊕ applied events. */
class UpsertLayoutSpec extends SparkSpec {
  import UpsertLayoutSpec.Ev

  private def tmp(): String = Files.createTempDirectory("graft_layout").toString

  private val Narrow = StructType(Seq(StructField("value", DoubleType), StructField("k", LongType)))
  private val Wide = Narrow.add("v2", StringType)

  private def batch(evs: Seq[Ev], wide: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("op", StringType), StructField("key", LongType),
      StructField("after", if (wide) Wide else Narrow), StructField("ts", TimestampType),
      StructField("offset", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(evs.map { e =>
      val after = if (e.op == "delete") null
                  else if (wide) Row(e.value, e.k, e.v2.orNull) else Row(e.value, e.k)
      Row(e.op, e.key, after, new Timestamp(e.ts * 1000L), e.off)
    }: _*), schema)
  }

  /** A snapshot of keys 0 until n: value = key % 100, k = key, null recency. */
  private def snapshot(dir: String, n: Int): Unit =
    assert(Upsert.snapshot(spark, spark.range(n).select(col("id").as("key"),
      (col("id") % 100).cast("double").as("value"), col("id").as("k"),
      lit(null).cast("timestamp").as("updated_at"),
      lit(null).cast("long").as("updated_off")), "key", dir))

  /** (key, deleted, value, k, v2, updated_at ms, updated_off) */
  private type V = (Long, Boolean, Option[Double], Option[Long], Option[String], Option[Long], Option[Long])

  private def view(df: DataFrame): Set[V] = {
    val d = if (df.columns.contains("v2")) df else df.withColumn("v2", lit(null).cast("string"))
    d.select(col("key"), coalesce(col("deleted"), lit(false)), col("value"), col("k"), col("v2"),
        col("updated_at"), col("updated_off")).collect().map { r =>
      def opt[T](i: Int)(f: Int => T): Option[T] = if (r.isNullAt(i)) None else Some(f(i))
      (r.getLong(0), r.getBoolean(1), opt(2)(r.getDouble), opt(3)(r.getLong), opt(4)(r.getString),
        opt(5)(i => r.getTimestamp(i).getTime), opt(6)(r.getLong))
    }.toSet
  }

  private def resolved(dir: String): Set[V] = view(Upsert.readTarget(spark, dir))

  /** The resolved view equals `want`; a failure names a few differing rows. */
  private def assertResolved(dir: String, want: Set[V], clue: String): Unit = {
    val got = resolved(dir)
    assert(got == want,
      s"$clue: extra ${(got -- want).take(5)}, missing ${(want -- got).take(5)}")
  }

  /** The independent fold: per key the event with the highest (ts,
    * offset) wins over the snapshot row; a winning delete leaves a
    * tombstone; `ignoreDeletes` drops deletes before the fold. */
  private def model(snapshotKeys: Int, applied: Seq[Ev], ignoreDeletes: Boolean): Set[V] = {
    val evs = if (ignoreDeletes) applied.filterNot(_.op == "delete") else applied
    val snap = (0L until snapshotKeys.toLong).map(k =>
      k -> ((k, false, Some((k % 100).toDouble), Some(k), None, None, None): V)).toMap
    val log = evs.groupBy(_.key).map { case (key, es) =>
      val w = es.maxBy(e => (e.ts, e.off))
      key -> (if (w.op == "delete") (key, true, None, None, None, Some(w.ts * 1000L), Some(w.off))
              else (key, false, Some(w.value), Some(w.k), w.v2, Some(w.ts * 1000L), Some(w.off)): V)
    }
    (snap ++ log).values.toSet
  }

  private def fsOf(dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  test("property: random batches resolve to the last-writer-wins fold, before and after compaction") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val SnapKeys = 5000
    // a few snapshot keys plus fresh inserts; ts in whole seconds over a
    // narrow range, so ties on ts (broken by offset) are common and later
    // batches often carry older changes than the rows they meet
    val evGen = for {
      op <- Gen.frequency(5 -> Gen.const("update"), 2 -> Gen.const("delete"), 2 -> Gen.const("insert"))
      key <- Gen.oneOf((0L until 12L) ++ Seq(9000L, 9001L, 9002L))
      value <- Gen.choose(0, 99).map(_.toDouble)
      k <- Gen.choose(0L, 9L)
      v2 <- Gen.oneOf(None, Some("a"), Some("b"))
      ts <- Gen.choose(1L, 4L)
    } yield (op, key, value, k, v2, ts)

    (0 until 8).foreach { seed =>
      val ignoreDeletes = seed % 2 == 1
      val raw = Gen.listOfN(6, Gen.listOfN(6, evGen))(Gen.Parameters.default, Seed(seed.toLong)).get
      var off = 0L
      // batches 3.. carry the additive after-field v2; earlier ones do not
      val batches = raw.zipWithIndex.map { case (evs, i) =>
        evs.map { case (op, key, value, k, v2, ts) =>
          off += 1
          Ev(op, key, value, k, if (i >= 3) v2 else None, 1700000000L + ts, off)
        }
      }
      val tgt = tmp() + "/target"
      snapshot(tgt, SnapKeys)
      def merge(evs: Seq[Ev], wide: Boolean): Unit =
        Upsert.mergeIntoParquet(spark, tgt, batch(evs, wide), "key", ignoreDeletes)
      // batch 1 fails and sits in the DLQ; it is retried after the rest,
      // read back with the pipeline's (now wide) event schema
      Seq(0, 2).foreach(i => merge(batches(i), wide = false))
      Seq(3, 4, 5).foreach(i => merge(batches(i), wide = true))
      merge(batches(4), wide = true) // a replayed batch
      merge(batches(1), wide = true) // the late DLQ retry
      val want = model(SnapKeys, batches.flatten, ignoreDeletes)
      assert(Upsert.deltaSignature(spark, tgt).nonEmpty, s"seed=$seed: no delta outstanding")
      assertResolved(tgt, want, s"seed=$seed before compaction")
      Upsert.compact(spark, tgt)
      assert(Upsert.deltaSignature(spark, tgt).isEmpty)
      assertResolved(tgt, want, s"seed=$seed after compaction")
    }
  }

  test("a kill between compaction's publish and purge, or a crashed append, leaves the view unchanged") {
    val tgt = tmp() + "/target"
    snapshot(tgt, 2000)
    val b1 = Seq(Ev("update", 1, 10, 1, None, 1700000001L, 1), Ev("delete", 2, 0, 0, None, 1700000001L, 2),
      Ev("insert", 5000, 50, 5, None, 1700000001L, 3))
    val b2 = Seq(Ev("update", 1, 11, 1, None, 1700000002L, 4), Ev("insert", 2, 20, 2, None, 1700000002L, 5))
    Upsert.mergeIntoParquet(spark, tgt, batch(b1, wide = false), "key")
    Upsert.mergeIntoParquet(spark, tgt, batch(b2, wide = false), "key")
    assertResolved(tgt, model(2000, b1 ++ b2, ignoreDeletes = false), "two deltas")
    val before = resolved(tgt)

    // publish then kill: the buckets hold the folded rows, the deltas stay
    val (fs, root) = fsOf(tgt)
    val deltas = new Path(root, "_deltas")
    val saved = new Path(tmp(), "deltas")
    FileUtil.copy(fs, deltas, fs, saved, false, spark.sparkContext.hadoopConfiguration)
    Upsert.compact(spark, tgt)
    assert(Upsert.deltaSignature(spark, tgt).isEmpty)
    assertResolved(tgt, before, "unchanged")
    fs.delete(deltas, true)
    FileUtil.copy(fs, saved, fs, deltas, false, spark.sparkContext.hadoopConfiguration)
    assert(Upsert.deltaSignature(spark, tgt).length == 2)
    assertResolved(tgt, before, "unchanged")

    // a crashed append: its delta dir holds only `_temporary`
    val next = fs.listStatus(deltas).map(_.getPath.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).max + 1
    batch(Seq(Ev("insert", 7777, 1, 1, None, 1700000009L, 99)), wide = false)
      .select(col("key"), col("after.*"), col("ts").as("updated_at"),
        col("offset").as("updated_off"), lit(false).as("deleted"), lit(0).as("bucket"))
      .write.parquet(new Path(deltas, s"$next/_temporary/0").toString)
    assertResolved(tgt, before, "unchanged")

    // the next merge numbers past the crashed one; compaction removes it
    val b3 = Seq(Ev("delete", 1, 0, 0, None, 1700000003L, 6))
    Upsert.mergeIntoParquet(spark, tgt, batch(b3, wide = false), "key")
    assert(Upsert.deltaSignature(spark, tgt).map(_._1).max == next + 1)
    assertResolved(tgt, model(2000, b1 ++ b2 ++ b3, ignoreDeletes = false), "after the crash")
    Upsert.compact(spark, tgt)
    assert(!fs.exists(new Path(deltas, next.toString)))
    assertResolved(tgt, model(2000, b1 ++ b2 ++ b3, ignoreDeletes = false), "compacted")
  }

  test("a merge whose change schema lost a target column throws, so the batch parks in the DLQ") {
    val root = tmp()
    val tgt = s"$root/target"
    snapshot(tgt, 200)
    Upsert.mergeIntoParquet(spark, tgt,
      batch(Seq(Ev("update", 1, 10, 1, Some("x"), 1700000001L, 1)), wide = true), "key")
    val before = resolved(tgt)
    val sig = Upsert.deltaSignature(spark, tgt)
    val narrow = batch(Seq(Ev("update", 1, 11, 1, None, 1700000002L, 2)), wide = false)
    intercept[IllegalArgumentException](Upsert.mergeIntoParquet(spark, tgt, narrow, "key"))
    val dlq = s"$root/dlq"
    Dlq.applyOrPark(dlq)(b => Upsert.mergeIntoParquet(b.sparkSession, tgt, b, "key"))(narrow, 7L)
    assert(Files.isDirectory(Paths.get(Dlq.batchDir(dlq, 7L))))
    assert(Upsert.deltaSignature(spark, tgt) == sig)
    assertResolved(tgt, before, "unchanged")
  }

  test("a delta holds the batch's change rows: in-batch repeats fold by last-writer-wins") {
    val t0 = 1700000000L
    val evs = Seq(
      // insert, update, delete, re-insert: the re-insert wins the ts tie on offset
      Ev("insert", 1, 10, 1, None, t0 + 1, 1), Ev("update", 1, 11, 1, None, t0 + 2, 2),
      Ev("delete", 1, 0, 0, None, t0 + 2, 3), Ev("insert", 1, 12, 1, None, t0 + 2, 4),
      // the same ops, the delete wins the ts tie on offset
      Ev("insert", 2, 20, 2, None, t0 + 1, 5), Ev("update", 2, 21, 2, None, t0 + 3, 6),
      Ev("insert", 2, 22, 2, None, t0 + 3, 7), Ev("delete", 2, 0, 0, None, t0 + 3, 8),
      // a fresh key whose re-insert carries the highest offset but an older ts
      Ev("insert", 9100, 30, 3, None, t0 + 1, 9), Ev("update", 9100, 31, 3, None, t0 + 1, 10),
      Ev("delete", 9100, 0, 0, None, t0 + 2, 11), Ev("insert", 9100, 32, 3, None, t0 + 1, 12))
    // input rows out of (ts, offset) order
    val shuffled = new scala.util.Random(7).shuffle(evs)
    assert(shuffled != evs.sortBy(e => (e.ts, e.off)))
    Seq(false, true).foreach { ignoreDeletes =>
      val tgt = tmp() + "/target"
      snapshot(tgt, 2000)
      Upsert.mergeIntoParquet(spark, tgt, batch(shuffled, wide = false), "key", ignoreDeletes)
      val clue = s"ignoreDeletes=$ignoreDeletes"
      assert(Upsert.deltaSignature(spark, tgt).map(_._1) == Seq(1L), clue)
      assert(spark.read.parquet(s"$tgt/_deltas/1").count() ==
        evs.count(e => !ignoreDeletes || e.op != "delete"), clue)
      val want = model(2000, evs, ignoreDeletes)
      assertResolved(tgt, want, s"$clue before compaction")
      Upsert.compact(spark, tgt)
      assertResolved(tgt, want, s"$clue after compaction")
    }
  }

  test("a distinct-key batch's delta rows are applyBatch's rows against an empty target") {
    val ts = (s: Long) => new Timestamp((1700000000L + s) * 1000L)
    val events = spark.createDataFrame(java.util.Arrays.asList(
      Row("insert", 1L, Row(1.0, 1L, "a"), ts(1), 1L),
      Row("update", 2L, Row(2.0, 2L, null), ts(2), 2L),
      Row("replace", 3L, Row(3.0, 3L, "c"), ts(3), 3L),
      Row("delete", 4L, Row(4.0, 4L, "d"), ts(4), 4L), // a delete carrying an after image
      Row("delete", 5L, null, ts(5), 5L),
      Row(null, 6L, Row(6.0, 6L, "f"), ts(6), 6L),     // a null op
      Row("update", 9200L, null, ts(7), 7L)), batch(Nil, wide = true).schema)
    val empty = events.select(col("key"), col("after.*"), col("ts").as("updated_at")).limit(0)
    Seq(false, true).foreach { ignoreDeletes =>
      val tgt = tmp() + "/target"
      snapshot(tgt, 2000)
      Upsert.mergeIntoParquet(spark, tgt, events, "key", ignoreDeletes)
      val delta = spark.read.parquet(s"$tgt/_deltas/1")
      val want = Upsert.applyBatch(empty, events, "key", ignoreDeletes)
      val clue = s"ignoreDeletes=$ignoreDeletes"
      assert(delta.columns.toSeq == want.columns.toSeq :+ "bucket", clue)
      def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.getLong(0))
      assert(rows(delta.drop("bucket")) == rows(want), clue)
      assert(delta.filter(col("bucket") =!= pmod(hash(col("key")), lit(Upsert.NumBuckets)))
        .isEmpty, clue)
    }
  }

  test("a delta is one file, or one per core when the batch has more partitions than cores") {
    val cores = spark.sparkContext.defaultParallelism
    val evs = (0 until 120).map(i =>
      Ev(if (i % 7 == 0) "delete" else "update", i % 40, i.toDouble, i, None, 1700000000L + i / 3, i))
    // a base large enough that neither delta reaches the compaction bound
    val tgt = tmp() + "/target"
    snapshot(tgt, 20000)
    def spread(evs: Seq[Ev], parts: Int): DataFrame = {
      val b = batch(evs, wide = false)
      spark.createDataFrame(b.rdd.repartition(parts), b.schema)
    }
    val (fs, root) = fsOf(tgt)
    def files(seq: Long) =
      fs.listStatus(new Path(root, s"_deltas/$seq")).count(_.getPath.getName.endsWith(".parquet"))
    Upsert.mergeIntoParquet(spark, tgt, spread(evs.take(60), cores), "key")
    Upsert.mergeIntoParquet(spark, tgt, spread(evs.drop(60), 2 * cores + 1), "key")
    assert(Upsert.deltaSignature(spark, tgt).map(_._1) == Seq(1L, 2L))
    assert(files(1) == 1 && files(2) == cores, s"${files(1)} and ${files(2)} files, $cores cores")
    val want = model(20000, evs, ignoreDeletes = false)
    assertResolved(tgt, want, "before compaction")
    Upsert.compact(spark, tgt)
    assertResolved(tgt, want, "after compaction")
  }

  test("a kill inside the sidecar swap leaves its .tmp, which reads recover: a widened column survives") {
    val tgt = tmp() + "/target"
    snapshot(tgt, 2000)
    val b1 = Seq(Ev("update", 1, 10, 1, Some("x"), 1700000001L, 1))
    Upsert.mergeIntoParquet(spark, tgt, batch(b1, wide = true), "key")
    assert(Upsert.deltaSignature(spark, tgt).nonEmpty)
    // the swap after its delete, before its rename: only the complete .tmp
    val (fs, root) = fsOf(tgt)
    val sidecar = new Path(root, "_graft_schema.json")
    val torn = new Path(root, "_graft_schema.json.tmp")
    assert(fs.rename(sidecar, torn))
    assert(Upsert.isTarget(spark, tgt))
    assertResolved(tgt, model(2000, b1, ignoreDeletes = false), "torn sidecar")
    // the next merge finishes the swap
    val b2 = Seq(Ev("update", 2, 20, 2, Some("y"), 1700000002L, 2))
    Upsert.mergeIntoParquet(spark, tgt, batch(b2, wide = true), "key")
    assert(fs.exists(sidecar) && !fs.exists(torn))
    assertResolved(tgt, model(2000, b1 ++ b2, ignoreDeletes = false), "swap finished")
    Upsert.compact(spark, tgt)
    assertResolved(tgt, model(2000, b1 ++ b2, ignoreDeletes = false), "compacted")
  }

  test("countReport equals a direct live count after every batch, compaction and sweep") {
    val root = tmp()
    Files.createDirectories(Paths.get(root, "src", "orders"))
    val cfg = s"$root/engine.json"
    Files.writeString(Paths.get(cfg),
      s"""{ "syncTasks": [ { "id": 1, "type": "mongodb", "enabled": true,
         |  "sourceDir": "$root/src", "targetDir": "$root",
         |  "checkpointDir": "$root/ckpt", "dlqDir": "$root/dlq",
         |  "tables": [ { "sourceTable": "orders", "targetTable": "target",
         |    "keyColumns": ["key"],
         |    "countQuery": { "conditions": [
         |      {"field": "value", "operator": ">", "value": "50"} ] } } ] } ],
         |  "backupTasks": [] }""".stripMargin)
    val tgt = s"$root/target"
    snapshot(tgt, 2000)
    val engine = new GraftEngine(spark, cfg, availableNow = true,
      clock = () => LocalDateTime.parse("2024-03-01T03:00:00"))
    try {
      assert(engine.pollOnce().failed.isEmpty)
      engine.awaitDrained()
      def direct = Upsert.liveRows(Upsert.readTarget(spark, tgt)).filter(col("value") > 50).count()
      def check(step: String): Unit =
        assert(engine.countReport()("task1/orders") == direct, step)
      check("snapshot")
      (1 to 5).foreach { i =>
        val base = i * 100L
        Upsert.mergeIntoParquet(spark, tgt, batch((0 until 20).map { j =>
          val key = (j * 97L + i) % 2100
          Ev(if (j % 5 == 0) "delete" else "update", key, ((j * 13 + i) % 100).toDouble, j, None,
            1700000000L + i, base + j)
        }, wide = false), "key")
        check(s"batch $i")
        if (i == 3) { Upsert.compact(spark, tgt); check("compaction") }
      }
      Upsert.sweepTombstones(spark, tgt)
      check("sweep")
    } finally engine.stop()
  }

  test("runBackup exports a CDC target's live rows: a deleted key is absent") {
    val root = tmp()
    val tgt = s"$root/target"
    // 2024-03-01 00:00 / 01:00 UTC fall on JST 2024-03-01, inside the window
    Upsert.mergeIntoParquet(spark, tgt, batch(Seq(1L, 2L, 3L).map(k =>
      Ev("insert", k, k * 10.0, k, None, 1709251200L, k)), wide = false), "key")
    Upsert.mergeIntoParquet(spark, tgt,
      batch(Seq(Ev("delete", 2, 0, 0, None, 1709254800L, 4)), wide = false), "key")
    // a plain table's own `deleted` column is data, not a tombstone flag
    spark.range(2).select(col("id").as("key"), (col("id") === 1).as("deleted"),
        lit(Timestamp.valueOf("2024-03-01 00:00:00")).as("updated_at"))
      .write.parquet(s"$root/flags")
    def export(table: String): Set[Long] = {
      val spec = BackupSpec(id = 1, format = "jsonl",
        tables = Seq(BackupTableSpec(table, Seq("key", "updated_at"), Some("updated_at"),
          startOffsetDays = -1, endOffsetDays = 0)),
        compress = false, sourceDir = root, outDir = s"$root/export_$table")
      val out = GraftEngine.runBackup(spark, spec, LocalDateTime.parse("2024-03-01T03:00:00"))
      assert(out.length == 1)
      spark.read.json(out.head).select("key").collect().map(_.getLong(0)).toSet
    }
    assert(export("target") == Set(1L, 3L))
    assert(export("flags") == Set(0L, 1L))
  }
}

object UpsertLayoutSpec {
  /** One change event; `ts` in seconds. */
  final case class Ev(op: String, key: Long, value: Double, k: Long,
      v2: Option[String], ts: Long, off: Long)
}
