package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{KvStore, Upsert}
import graft.streaming.KvPipeline

class KvSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_kv").toString

  /** Reference-replay state row for the property test. */
  private case class V(kind: String, value: String, fk: String, fuid: String, ttl: Long)

  private def normalize(df: DataFrame): Set[(String, String, String, String, String, Long)] =
    graft.operators.Upsert.liveRows(df)
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)).orNull, Option(r.getString(3)).orNull,
        Option(r.getString(4)).orNull, r.getLong(5))).toSet

  private def kvOps(rows: Seq[(String, String, String, String, Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("op", "key", "kind", "value", "ttl", "ts_s", "offset")
      .select(col("op"), col("key"), col("kind"), col("value"),
        lit(null).cast("string").as("f_k"), lit(null).cast("string").as("f_uid"),
        col("ttl").as("ttlMs"), col("ts_s").cast("timestamp").as("ts"), col("offset"))
  }

  test("applyKvBatch: del removes, set forces persistent TTL, copy preserves TTL") {
    val empty = kvOps(Nil).drop("op", "ts", "offset")
      .withColumn("updated_at", lit(null).cast("timestamp"))
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs", "updated_at").limit(0)
    val batch = kvOps(Seq(
      ("set", "a", "string", "1", 99999L, "2024-01-01 00:00:00", 1L), // set → ttl -1 regardless
      ("copy", "b", "string", "2", 5000L, "2024-01-01 00:00:00", 2L), // copy keeps source ttl
      ("set", "c", "string", "3", -1L, "2024-01-01 00:00:00", 3L),
      ("del", "c", "string", null, -1L, "2024-01-01 00:01:00", 4L)))  // later del wins
    val out = normalize(KvStore.applyKvBatch(empty, batch))
    assert(out == Set(
      ("a", "string", "1", null, null, -1L),
      ("b", "string", "2", null, null, 5000L)))
  }

  test("hash set is an HSET: merges fields and preserves the key's TTL (redis.go:216-222)") {
    import spark.implicits._
    def ops(rows: Seq[(String, String, String, String, String, String, Long, String, Long)]): DataFrame =
      rows.toDF("op", "key", "kind", "value", "f_k", "f_uid", "ttl", "ts_s", "off")
        .select(col("op"), col("key"), col("kind"), col("value"), col("f_k"),
          col("f_uid"), col("ttl").as("ttlMs"), col("ts_s").cast("timestamp").as("ts"),
          col("off").as("offset"))
    val empty = ops(Nil).drop("op", "ts", "offset")
      .withColumn("updated_at", lit(null).cast("timestamp"))
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs", "updated_at").limit(0)
    def full(df: DataFrame): Set[(String, String, String, String, String, Long)] =
      graft.operators.Upsert.liveRows(df)
        .select("key", "kind", "value", "f_k", "f_uid", "ttlMs").collect()
        .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).orNull,
          Option(r.getString(3)).orNull, Option(r.getString(4)).orNull, r.getLong(5))).toSet

    // DUMP/RESTORE'd hash with a concrete TTL, fields {f_k=1, f_uid=u1}
    val copyOp = Seq(("copy", "h", "hash", null: String, "1", "u1", 60000L, "2024-01-01 00:00:00", 1L))
    // later HSET carrying ONLY f_uid: must merge, not replace, and must
    // NOT touch the TTL (the pre-fix model replaced the row and reset
    // the TTL to persistent)
    val hset = Seq(("set", "h", "hash", null: String, null: String, "u2", -1L, "2024-01-02 00:00:00", 2L))
    val want = Set(("h", "hash", null: String, "1", "u2", 60000L))

    // across micro-batches: copy applied, then the HSET batch
    val acrossBatches = KvStore.applyKvBatch(KvStore.applyKvBatch(empty, ops(copyOp)), ops(hset))
    assert(full(acrossBatches) == want)
    // within ONE batch: same composition law
    assert(full(KvStore.applyKvBatch(empty, ops(copyOp ++ hset))) == want)
    // fresh hash (no base, no state): persistent, only the HSET's fields
    assert(full(KvStore.applyKvBatch(empty, ops(hset))) ==
      Set(("h", "hash", null: String, null: String, "u2", -1L)))
    // del then HSET in one batch: the rebuild starts from NOTHING — the
    // deleted row's payload (del records carry the old fields in CDC
    // shapes) must not resurrect into the fresh hash
    val delWithPayload = Seq(("del", "h", "hash", null: String, "x", "uOld", -1L, "2024-01-01 12:00:00", 9L))
    assert(full(KvStore.applyKvBatch(KvStore.applyKvBatch(empty, ops(copyOp)),
        ops(delWithPayload ++ hset.map(t => t.copy(_8 = "2024-01-02 00:00:00"))))) ==
      Set(("h", "hash", null: String, null: String, "u2", -1L)))
    // a STRING set still resets the TTL (Set with expiry 0)
    val sset = Seq(("set", "s", "string", "v2", null: String, null: String, -1L, "2024-01-02 00:00:00", 3L))
    val scopy = Seq(("copy", "s", "string", "v1", null: String, null: String, 9000L, "2024-01-01 00:00:00", 4L))
    assert(full(KvStore.applyKvBatch(KvStore.applyKvBatch(empty, ops(scopy)), ops(sset))) ==
      Set(("s", "string", "v2", null: String, null: String, -1L)))
  }

  test("tombstones: a stale KV retry cannot resurrect a deleted key; newer ops re-create it") {
    val empty = kvOps(Nil).drop("op", "ts", "offset")
      .withColumn("updated_at", lit(null).cast("timestamp"))
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs", "updated_at").limit(0)
    // live history: set @t1, del @t3 (newer batch applied first)
    val s1 = KvStore.applyKvBatch(empty,
      kvOps(Seq(("set", "a", "string", "v1", -1L, "2024-01-01 00:00:00", 1L))))
    val s2 = KvStore.applyKvBatch(s1,
      kvOps(Seq(("del", "a", "string", null, -1L, "2024-03-01 00:00:00", 20L))))
    assert(normalize(s2) == Set.empty) // live view: key gone
    assert(s2.filter(col("deleted")).select("key").collect().map(_.getString(0)).toSet == Set("a"))
    // the DLQ retries an OLDER set of the same key: the tombstone wins
    val s3 = KvStore.applyKvBatch(s2,
      kvOps(Seq(("set", "a", "string", "vStale", -1L, "2024-02-01 00:00:00", 10L))))
    assert(normalize(s3) == Set.empty)
    // an HSET retry older than the delete loses too (hash variant)
    val s3h = KvStore.applyKvBatch(s2, kvOps(Seq(
      ("set", "a", "hash", null, -1L, "2024-02-01 00:00:00", 11L))))
    assert(normalize(s3h) == Set.empty)
    // a genuinely NEWER set re-creates the key over the tombstone …
    val s4 = KvStore.applyKvBatch(s3,
      kvOps(Seq(("set", "a", "string", "v2", -1L, "2024-04-01 00:00:00", 30L))))
    assert(normalize(s4) == Set(("a", "string", "v2", null, null, -1L)))
    // … and a newer HSET on the tombstone builds a FRESH persistent hash
    // (deleted state is absent: no payload or TTL leaks from before)
    val h1 = KvStore.applyKvBatch(empty,
      kvOps(Seq(("copy", "h", "hash", null, 60000L, "2024-01-01 00:00:00", 0L))).withColumn("f_k", lit("0")))
    val h2 = KvStore.applyKvBatch(h1,
      kvOps(Seq(("del", "h", "hash", null, -1L, "2024-01-02 00:00:00", 2L))))
    val h3 = KvStore.applyKvBatch(h2, kvOps(Seq(
      ("set", "h", "hash", null, -1L, "2024-01-03 00:00:00", 3L))).withColumn("f_uid", lit("u")))
    assert(normalize(h3) == Set(("h", "hash", null, null, "u", -1L)))
  }

  test("expired-copy is a no-op: previous target state survives (redis.go:130-133)") {
    val empty = kvOps(Nil).drop("op", "ts", "offset")
      .withColumn("updated_at", lit(null).cast("timestamp"))
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs", "updated_at").limit(0)
    val b1 = kvOps(Seq(("set", "a", "string", "old", -1L, "2024-01-01 00:00:00", 1L)))
    val s1 = KvStore.applyKvBatch(empty, b1)
    // the source key expired before the copy fired: skip, do NOT delete
    val b2 = kvOps(Seq(("copy", "a", "string", "new", -2L, "2024-01-02 00:00:00", 2L)))
    val s2 = KvStore.applyKvBatch(s1, b2)
    assert(normalize(s2) == Set(("a", "string", "old", null, null, -1L)))
  }

  test("property: random op logs match a sequential per-op reference replay") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // kinds fixed per key, like a real keyspace: a/b strings, c/d hashes
    val kindOf = Map("a" -> "string", "b" -> "string", "c" -> "hash", "d" -> "hash")
    val opGen = for {
      key <- Gen.oneOf("a", "b", "c", "d")
      kind = kindOf(key)
      op <- Gen.frequency(1 -> Gen.const("del"), 2 -> Gen.const("copy"), 3 -> Gen.const("set"))
      value <- Gen.oneOf("1", "2", "3")
      fk <- Gen.oneOf(null: String, "x", "y")
      fuid <- Gen.oneOf(null: String, "u", "v")
      ttl <- Gen.oneOf(-2L, -1L, 5000L, 60000L)
    } yield (op, key, kind,
      if (kind == "string") value else null,
      if (kind == "hash") fk else null,
      if (kind == "hash") fuid else null,
      if (op == "copy") ttl else -1L)

    val schema = StructType(Seq(
      StructField("op", StringType), StructField("key", StringType),
      StructField("kind", StringType), StructField("value", StringType),
      StructField("f_k", StringType), StructField("f_uid", StringType),
      StructField("ttlMs", LongType), StructField("ts", TimestampType),
      StructField("offset", LongType)))
    def toDf(ops: Seq[(String, String, String, String, String, String, Long)]) =
      spark.createDataFrame(java.util.Arrays.asList(ops.zipWithIndex.map {
        case ((op, k, kind, v, fk, fu, ttl), i) =>
          Row(op, k, kind, v, fk, fu, ttl,
            new java.sql.Timestamp(1700000000000L + i * 1000L), i.toLong)
      }: _*), schema)
    val empty = toDf(Nil).drop("op", "ts", "offset")
      .withColumn("updated_at", lit(null).cast("timestamp"))
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs", "updated_at").limit(0)

    (0 until 24).foreach { seed =>
      val ops = Gen.listOfN(40, opGen)(Gen.Parameters.default, Seed(seed.toLong)).get
      // reference replay: one op at a time, redis.go:125-232 semantics
      var state = Map.empty[String, V]
      ops.foreach { case (op, key, kind, v, fk, fu, ttl) => op match {
        case "del" => state -= key
        case "copy" =>
          if (!(ttl < 0 && ttl != -1L)) state += key -> V(kind, v, fk, fu, ttl)
        case "set" =>
          if (kind == "string") state += key -> V(kind, v, null, null, -1L)
          else { // HSET: per-field merge, TTL untouched (fresh key → persistent)
            val old = state.get(key)
            state += key -> V(kind, null,
              Option(fk).getOrElse(old.map(_.fk).orNull),
              Option(fu).getOrElse(old.map(_.fuid).orNull),
              old.map(_.ttl).getOrElse(-1L))
          }
      }}
      val want = state.map { case (k, s) => (k, s.kind, s.value, s.fk, s.fuid, s.ttl) }.toSet

      // one-shot apply AND a 3-way micro-batch split must both match
      val oneShot = normalize(KvStore.applyKvBatch(empty, toDf(ops)))
      assert(oneShot == want, s"one-shot seed=$seed")
      val df = toDf(ops)
      val split = Seq((0, 13), (13, 27), (27, 40)).foldLeft(empty) { case (st, (lo, hi)) =>
        KvStore.applyKvBatch(st, df.filter(col("offset") >= lo && col("offset") < hi))
      }
      assert(normalize(split) == want, s"split seed=$seed")
    }
  }

  test("sequential micro-batch apply == one-shot apply over the full log") {
    val ops = KvStore.keyspaceOps(spark, sf).persist()
    try {
      val empty = ops.select(col("key"), col("kind"), col("value"), col("f_k"),
        col("f_uid"), col("ttlMs"), col("ts").as("updated_at")).limit(0)
      val oneShot = KvStore.applyKvBatch(empty, ops)
      val maxOff = ops.agg(max("offset")).head().getLong(0)
      val sequential = Seq((0L, maxOff / 2), (maxOff / 2 + 1, maxOff))
        .foldLeft(empty) { case (state, (lo, hi)) =>
          KvStore.applyKvBatch(state, ops.filter(col("offset").between(lo, hi)))
        }
      assert(normalize(sequential) == normalize(oneShot))
      assert(oneShot.count() > 0)
    } finally ops.unpersist()
  }

  test("KV DLQ parity: a poisoned batch parks with bounded retries, stream commits, retry re-applies") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = tmp()
    val cfg = KvPipeline.Config(s"$root/src", s"$root/target", s"$root/ckpt", s"$root/dlq")
    KvStore.keyspaceOps(spark, sf).coalesce(1).write.mode("append").json(cfg.sourceDir)
    // a regular FILE at the target path breaks the KV merge → DLQ
    JFiles.write(Paths.get(cfg.targetDir), Array[Byte](1, 2, 3))
    KvPipeline.start(spark, cfg).awaitTermination()
    assert(JFiles.exists(Paths.get(s"${cfg.dlqDir}/batch_0")))
    // the batch was COMMITTED: restart with no new input applies nothing
    JFiles.delete(Paths.get(cfg.targetDir))
    KvPipeline.start(spark, cfg).awaitTermination()
    assert(!JFiles.exists(Paths.get(cfg.targetDir)))
    // bounded retries: CDC-parity park-after-3 with one alert
    JFiles.write(Paths.get(cfg.targetDir), Array[Byte](1, 2, 3)) // break again
    val alerts = new graft.streaming.Alerts.Buffer
    (1 to 3).foreach { _ =>
      assert(KvPipeline.retryDlq(spark, cfg, alerts) == graft.streaming.Dlq.Stats(failed = 1))
    }
    assert(alerts.drain().isEmpty)
    assert(KvPipeline.retryDlq(spark, cfg, alerts) == graft.streaming.Dlq.Stats(parked = 1))
    assert(alerts.drain().map(_.kind) == Seq("dlq_parked"))
    assert(JFiles.exists(Paths.get(s"${cfg.dlqDir}/parked_0")))
    // a healed target + a fresh DLQ cycle: retry applies and clears
    JFiles.delete(Paths.get(cfg.targetDir))
    val cfg2 = cfg.copy(checkpointDir = s"$root/ckpt2", dlqDir = s"$root/dlq2")
    JFiles.write(Paths.get(cfg.targetDir), Array[Byte](1, 2, 3))
    KvPipeline.start(spark, cfg2).awaitTermination() // → dlq2/batch_0
    JFiles.delete(Paths.get(cfg.targetDir))
    assert(KvPipeline.retryDlq(spark, cfg2) == graft.streaming.Dlq.Stats(succeeded = 1))
    assert(!JFiles.exists(Paths.get(s"${cfg2.dlqDir}/batch_0")))
    val want = KvStore.finalState(spark, sf).withColumnRenamed("ttl_ms", "ttlMs")
    assert(normalize(Upsert.readTarget(spark, cfg.targetDir)) == normalize(want))
  }

  test("snapshot applies the TTL skip rule (P9) and RESTORE expireMs mapping") {
    val snap = KvStore.snapshot(spark, sf)
    // no expired keys survive, and persistent keys map to expireMs 0
    assert(snap.filter(col("expire_ms") < 0).count() == 0)
    assert(snap.count() > 0)
    // a concrete TTL passes through: (k+1)*1000 for k%5==1 copies
    val concrete = snap.filter(col("expire_ms") > 0)
    assert(concrete.count() == 0 ||
      concrete.filter(col("expire_ms") % 1000 =!= 0).count() == 0)
  }

  test("KV streaming pipeline converges and is restart-idempotent (ST8)") {
    val src = tmp()
    val cfg = KvPipeline.Config(src, tmp() + "/target", tmp() + "/ckpt", tmp() + "/dlq")
    val ops = KvStore.keyspaceOps(spark, sf).persist()
    try {
      val maxOff = ops.agg(max("offset")).head().getLong(0)
      Seq((0L, maxOff / 2), (maxOff / 2 + 1, maxOff)).foreach { case (lo, hi) =>
        ops.filter(col("offset").between(lo, hi))
          .coalesce(1).write.mode("append").json(src)
      }
      KvPipeline.start(spark, cfg).awaitTermination()
      val want = KvStore.finalState(spark, sf)
        .withColumnRenamed("ttl_ms", "ttlMs")
      val got = Upsert.readTarget(spark, cfg.targetDir)
      assert(normalize(got) == normalize(want))

      // restart with no new input: checkpoint prevents reprocessing
      KvPipeline.start(spark, cfg).awaitTermination()
      assert(normalize(Upsert.readTarget(spark, cfg.targetDir)) == normalize(want))
    } finally ops.unpersist()
  }
}
