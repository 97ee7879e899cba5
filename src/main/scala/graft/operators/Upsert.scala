package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert/delete — MERGE emulation over parquet (SURVEY §7.5 #1).
  *
  * Semantics mirror the reference's write-model conversion
  * (reference mongodb.go:1132-1182): insert/update/replace → upsert on
  * the key, delete → remove, `ignoreDeleteOps` drops deletes before
  * apply (mongodb.go:1168-1177). Within a batch only the LAST change
  * per key (by ts, then offset) wins — the replay-dedup the reference
  * gets from ordered apply (postgresql.go:683-691).
  *
  * Scale design: the target table is hash-bucketed on the key into
  * [[NumBuckets]] partition directories, and one merge,
  * [[mergeBucketed]], serves both the CDC and the KV pillar. A merge
  *   1. persists the batch and collects the buckets it touches in the
  *      same job that materializes it: one pass over the batch, each
  *      partition returning its bucket set (a driver list bounded by
  *      NumBuckets, never by data size; no shuffle),
  *   2. reads ONLY those partitions (partition pruning on `bucket`); the
  *      target's bucket dirs are listed on the driver, because the
  *      session's parallel-discovery threshold is NumBuckets, so no
  *      listing job runs,
  *   3. resolves batch against target with one keyed full-outer join
  *      (two shuffle map stages: the batch's last-writer-wins frame and
  *      the pruned target rows), and
  *   4. dynamically overwrites only the touched partitions (one write
  *      stage).
  * That is four Spark jobs per micro-batch, and the batch is scanned
  * once: the streaming source counts every scan of a foreachBatch frame
  * in `numInputRows`. At 100 TB with 4096 buckets, a batch touching 1%
  * of keys rewrites ~41 partitions instead of the whole table.
  * Replaying the same batch is idempotent (the join resolves a replayed
  * op against itself), which is what makes foreachBatch's
  * at-least-once delivery effectively-once (ST9). A production
  * deployment would swap the parquet overwrite for a transactional
  * table format; the plan shape is identical.
  */
object Upsert {

  /** Apply a change batch to an in-memory target state; both sides keyed
    * by `keyCol`. Batch columns: op, <keyCol>, after (struct), ts, offset.
    *
    * Last-writer-wins against the TARGET, not just within the batch: a
    * key whose target row is strictly newer — by `updated_at`, then by
    * the persisted change position `updated_off` on a timestamp tie —
    * keeps the target row and the batch op is discarded as stale. An
    * ordered stream never hits this (each batch's (ts, offset) ≥ the
    * applied state; re-applying the SAME op compares equal and applies,
    * the at-least-once idempotence of ST9); what it protects is
    * OUT-OF-ORDER re-apply, the DLQ retry that runs after newer live
    * batches already merged: a stale retried upsert must not regress
    * the key, a stale retried delete must not kill a later re-created
    * row. Snapshot rows carry null recency and always lose to a real
    * change event.
    *
    * One keyed full-outer join resolves everything — the target's
    * pruned buckets are scanned once (no separate anti-join pass).
    *
    * Delete TOMBSTONES close the out-of-order resurrect window: a live
    * delete does not remove the key's row — it rewrites it as
    * `(key, null payload, updated_at, updated_off, deleted=true)`, so
    * a stale DLQ-retried upsert of a deleted key still has a recency
    * row to lose against and the key stays dead. Tombstones are
    * retained until [[sweepTombstones]] reclaims them, which is safe
    * once the pipeline's DLQ is drained (no stale retry can arrive
    * anymore) — the engine drives that cadence. Readers that want live
    * rows go through [[liveRows]]. Targets written before the
    * `deleted` column existed read it as false. */
  def applyBatch(target: DataFrame, batch: DataFrame, keyCol: String,
      ignoreDeleteOps: Boolean = false): DataFrame = {
    val b = if (ignoreDeleteOps) batch.filter(col("op") =!= "delete") else batch
    val w = Window.partitionBy(col(keyCol)).orderBy(col("ts").desc, col("offset").desc)
    val latest = b.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(keyCol), col("op").as("_b_op"), col("after").as("_b_after"),
        col("ts").as("_b_ts"), col("offset").as("_b_off"))
    val afterFields = b.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fields
    // the target must not carry data columns the change schema lacks:
    // projecting them away here would silently REWRITE every touched
    // bucket without them — fail loudly instead (the foreachBatch
    // wrapper routes this to the DLQ and the operator is alerted)
    val expected = (keyCol +: afterFields.map(_.name)) ++
      Seq("updated_at", "updated_off", "deleted")
    val unexpected = target.columns.filterNot(expected.contains)
    require(unexpected.isEmpty,
      s"target columns absent from the change schema: ${unexpected.mkString(", ")}")
    // target side, prefixed to avoid collisions with after-field names;
    // targets written before the recency/tombstone columns existed read
    // them as null/false. ADDITIVE evolution: an after-field the target
    // has never seen null-fills on the target side (the reference
    // recreates target DDL from the source schema,
    // postgresql.go:275-338) — existing rows carry null, the merge
    // writes the widened schema, and the schema sidecar makes later
    // reads of untouched buckets see the new column as null too.
    val tField = (f: org.apache.spark.sql.types.StructField) =>
      if (target.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType)
    val tOff = if (target.columns.contains("updated_off")) col("updated_off")
               else lit(null).cast("long")
    val tDel = if (target.columns.contains("deleted"))
                 coalesce(col("deleted"), lit(false))
               else lit(false)
    val t = target.select(
      col(keyCol) +: afterFields.map(f => tField(f).as(s"_t_${f.name}")) :+
        col("updated_at").as("_t_ts") :+ tOff.as("_t_off") :+ tDel.as("_t_del"): _*)
    val joined = t.join(latest, Seq(keyCol), "full_outer")
    val stale = col("_t_ts").isNotNull &&
      (col("_t_ts") > col("_b_ts") ||
        (col("_t_ts") === col("_b_ts") &&
          coalesce(col("_t_off"), lit(Long.MinValue)) > col("_b_off")))
    val takeTarget = col("_b_op").isNull || stale
    val bDel = col("_b_op") === "delete"
    joined
      // a live (non-stale) delete becomes a tombstone row, not a
      // removal: null payload, the delete's recency, deleted=true
      .select(
        col(keyCol) +:
          afterFields.map(f =>
            when(takeTarget, col(s"_t_${f.name}"))
              .when(bDel, lit(null).cast(f.dataType))
              .otherwise(col(s"_b_after.${f.name}")).as(f.name)) :+
          when(takeTarget, col("_t_ts")).otherwise(col("_b_ts")).as("updated_at") :+
          when(takeTarget, col("_t_off")).otherwise(col("_b_off")).as("updated_off") :+
          when(takeTarget, col("_t_del")).otherwise(bDel).as("deleted"): _*)
  }

  /** The live (non-tombstoned) rows of a merged target. Safe on targets
    * written before tombstones existed (no `deleted` column → all live). */
  def liveRows(df: DataFrame): DataFrame =
    if (df.columns.contains("deleted"))
      df.filter(!coalesce(col("deleted"), lit(false)))
    else df

  val NumBuckets = 64 // sized for local tests; 4096 at production scale

  private def bucketOf(keyCol: String) = pmod(hash(col(keyCol)), lit(NumBuckets))

  // --- canonical-schema sidecar --------------------------------------
  // Dynamic partition overwrite rewrites only touched buckets, so after
  // an additive schema evolution the untouched buckets' footers lack
  // the new column — and a footer-inferred read may nondeterministically
  // DROP it. The `_graft_schema.json` sidecar (underscore-prefixed:
  // invisible to Spark's file index) pins the canonical schema; reads
  // pass it explicitly and parquet null-fills files that predate a
  // column. Written BEFORE the data (a crash between the two leaves a
  // sidecar that's wider than the data — harmless null-fill — never a
  // sidecar that's narrower, which would drop committed columns).
  // The same contract a transactional table format keeps in its log.

  private val SchemaSidecar = "_graft_schema.json"

  private def writeSchemaSidecar(spark: SparkSession, targetDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val dir = new org.apache.hadoop.fs.Path(targetDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, SchemaSidecar)
    val json = schema.json
    val current = if (fs.exists(p)) {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } else None
    if (!current.contains(json)) { // one PUT per schema CHANGE, not per batch
      val tmp = new org.apache.hadoop.fs.Path(dir, SchemaSidecar + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      fs.rename(tmp, p)
    }
  }

  /** Read a bucketed target with its canonical schema: deterministic
    * across mixed bucket footers, null-filling files written before a
    * column existed. Falls back to footer inference for targets that
    * predate the sidecar. */
  def readTarget(spark: SparkSession, targetDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(targetDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, SchemaSidecar)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val schema = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.read.schema(schema).parquet(targetDir)
    } else spark.read.parquet(targetDir)
  }

  /** Initial snapshot load (S1/S4/S6): write the snapshot bucketed, but
    * only when the target is empty — the reference's skip-if-nonempty
    * idempotence check (mongodb.go:459-465). Returns true if loaded. */
  def snapshot(spark: SparkSession, state: DataFrame, keyCol: String, targetDir: String): Boolean = {
    // Existence probe through readTarget, not catch-all: an
    // existing-but-unreadable target must surface, not be silently
    // overwritten — but a dir holding ONLY the schema sidecar (a crashed
    // tombstone sweep's residue; underscore files are invisible to the
    // file index) reads as empty and is correctly re-snapshotted.
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(path) && readTarget(spark, targetDir).limit(1).count() > 0
    if (!exists) {
      // every bucket footer carries the tombstone column from day one —
      // a snapshot-only footer must never make a later read drop it
      val withDel = if (state.columns.contains("deleted")) state
                    else state.withColumn("deleted", lit(false))
      val bucketed = withDel.withColumn("bucket", bucketOf(keyCol))
      // data FIRST here — opposite of the merge's sidecar-first rule:
      // this write is a STATIC overwrite, which clears the target dir
      // (sidecar included), so a sidecar written first would not
      // survive it. The crash window (data committed, no sidecar) is
      // benign: a uniform snapshot's footers all agree, and readTarget
      // falls back to footer inference until the first merge writes
      // the sidecar.
      bucketed.write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(targetDir)
      writeSchemaSidecar(spark, targetDir, bucketed.schema)
      true
    } else false
  }

  /** Partition-scoped MERGE of a change batch into a bucketed parquet
    * table. Reads and rewrites only the buckets the batch touches. */
  def mergeIntoParquet(spark: SparkSession, targetDir: String, batch: DataFrame,
      keyCol: String, ignoreDeleteOps: Boolean = false): Unit =
    mergeBucketed(spark, targetDir, batch, keyCol,
      b => b.select(col(keyCol), col("after.*"), col("ts").as("updated_at")).limit(0)) {
      (target, b) => applyBatch(target, b, keyCol, ignoreDeleteOps)
    }

  /** The bucketed MERGE both pillars share (see "Scale design"):
    * `apply(target, batch)` is the pillar's keyed merge ([[applyBatch]],
    * [[KvStore.applyKvBatch]]), and `emptyTarget(batch)` the state it
    * merges into while the target dir does not exist yet. */
  private[graft] def mergeBucketed(spark: SparkSession, targetDir: String, batch: DataFrame,
      keyCol: String, emptyTarget: DataFrame => DataFrame)(
      apply: (DataFrame, DataFrame) => DataFrame): Unit = {
    val batched = batch.withColumn("bucket", bucketOf(keyCol)).persist()
    try {
      // the job that fills the cache also returns each partition's
      // bucket set: the batch is scanned here and nowhere else
      val touched = batched.select("bucket").rdd
        .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet))
        .collect().flatten.distinct // bounded by NumBuckets, never by data size
      if (touched.isEmpty) return
      // Existence probe via the Hadoop FS API: ONLY a genuinely absent
      // target (first batch, no snapshot yet) maps to an empty state —
      // a corrupt or transiently unreadable table must FAIL the batch
      // (→ DLQ), never silently drop the existing buckets.
      val path = new org.apache.hadoop.fs.Path(targetDir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val target =
        if (!fs.exists(path)) emptyTarget(batched.drop("bucket"))
        else readTarget(spark, targetDir).filter(col("bucket").isin(touched.toSeq: _*))
          .drop("bucket")
      val merged = apply(target, batched.drop("bucket")).withColumn("bucket", bucketOf(keyCol))
      // sidecar first (see its crash-ordering note), then dynamic
      // partition overwrite: only the touched bucket dirs change
      writeSchemaSidecar(spark, targetDir, merged.schema)
      merged.write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").mode(SaveMode.Overwrite).parquet(targetDir)
    } finally batched.unpersist()
  }

  /** Reclaim delete tombstones — rewrite only the buckets that hold
    * `deleted=true` rows, dropping them; a bucket left with no live row
    * is removed outright (dynamic overwrite can't write an empty
    * partition). Safe to call once the pipeline's DLQ is drained: no
    * stale retry can arrive, so deletes are final and the rows exist
    * only as resurrect-guards. Returns the number of buckets swept.
    * The tombstone filter is pushed to the parquet scan; clean buckets
    * cost only row-group stats (min=max=false skips them). Works for
    * both the CDC and KV bucketed layouts. */
  def sweepTombstones(spark: SparkSession, targetDir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return 0
    val t = readTarget(spark, targetDir)
    if (!t.columns.contains("deleted")) return 0
    val touched = t.filter(col("deleted") === true)
      .select("bucket").distinct().collect().map(_.getInt(0)) // ≤ NumBuckets
    if (touched.isEmpty) return 0
    val cleaned = t.filter(col("bucket").isin(touched.toSeq: _*))
      .filter(!coalesce(col("deleted"), lit(false)))
    val liveBuckets = cleaned.select("bucket").distinct().collect().map(_.getInt(0)).toSet
    if (liveBuckets.nonEmpty)
      cleaned.write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").mode(SaveMode.Overwrite).parquet(targetDir)
    touched.filterNot(liveBuckets).foreach { bk =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"bucket=$bk"), true)
    }
    // a target swept down to zero buckets must not linger as a
    // file-less dir (unreadable as parquet): remove it — the next
    // merge's first-batch path recreates it from the batch schema
    val anyBucketLeft = fs.listStatus(path)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    if (!anyBucketLeft) fs.delete(path, true)
    touched.length
  }
}
