package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Keyed upsert/delete — MERGE emulation over parquet (SURVEY §7.5 #1).
  *
  * Semantics mirror the reference's write-model conversion
  * (reference mongodb.go:1132-1182): insert/update/replace → upsert on
  * the key, delete → remove, `ignoreDeleteOps` drops deletes before
  * apply (mongodb.go:1168-1177). Within a batch only the LAST change
  * per key (by ts, then offset) wins — the replay-dedup the reference
  * gets from ordered apply (postgresql.go:683-691).
  *
  * Scale design: the CDC target is MERGE-ON-READ.
  *
  * Layout. A target dir holds
  *   - the base: the rows hash-bucketed on the key into [[NumBuckets]]
  *     `bucket=N` partition dirs,
  *   - `_graft_schema.json`, the canonical-schema sidecar,
  *   - `_deltas/<seq>/`: one parquet file per applied batch (one per
  *     core for a backlog batch), named by a monotonic sequence
  *     number, plus `_deltas/_key` naming the key column. The
  *     underscore hides both from Spark's file index, so a plain
  *     parquet read of the dir sees only the base.
  * A merge ([[mergeIntoParquet]]) never reads the target: it writes
  * the batch's change rows — one row per event, deletes as tombstone
  * rows with `updated_at`, `updated_off` and `bucket` — as the next
  * delta. That is one Spark job per micro-batch: a projection of the
  * batch, with no window and no exchange, and the batch is scanned
  * once (the streaming source counts every scan of a
  * foreachBatch frame in `numInputRows`). Repeats of a key within the
  * batch are resolved by the read fold's rule below, the same rule
  * [[applyBatch]]'s window applies, so a delta needs no per-key
  * dedup. The trade-off: a batch whose events hit few keys writes
  * more delta rows than keys, so such batches reach the compaction
  * bound sooner. The projection runs in the batch's own tasks, so the
  * delta is one file only while the file source packed the batch into
  * no more partitions than there are cores; a larger (backlog) batch
  * writes one file per core, which keeps its parse and encryption on
  * every core. A DLQ retry, which has no batch id, is just another
  * delta. The merge's file metadata is one listing of `_deltas` (the
  * sequence number and the committed-delta count), one content summary
  * each of `_deltas` and the target (delta and base bytes), a key-file
  * probe and one read of the sidecar, which is written only when the
  * batch's schema changes it.
  *
  * Fold order. [[readTarget]] resolves base ⊕ deltas: per key the row
  * with the highest `updated_at`, then `updated_off` (nulls last), and
  * on a full tie the newer delta (the base counts as oldest). That is
  * [[applyBatch]]'s stale rule, so within a delta a key's newest
  * event wins, an out-of-order DLQ retry loses to the newer row it
  * meets, a replayed batch ties only with itself (same rows, so
  * replay is idempotent — what makes foreachBatch's at-least-once
  * delivery effectively-once, ST9), and snapshot rows
  * (null recency) lose to any change. Base rows of keys no delta names
  * pass through a broadcast anti-join of the delta keys; only the delta
  * rows and the base rows of the keys they name meet in one keyed
  * window, so the full table is never shuffled.
  *
  * Compaction bound. Once a merge's append takes the deltas past the
  * bound, that merge folds them into the buckets they name: the fold
  * over those buckets replaces them through a dynamic partition
  * overwrite (the bucket rewrite the KV pillar merges through,
  * [[mergeBucketed]]). The bound is delta bytes ≥ 1/[[CompactRatio]]
  * of the base's bytes, or ≥ [[MaxDeltas]] deltas. With a ratio of 8 a
  * compaction rewrites at most the whole base once per base/8 bytes of
  * deltas, so every delta byte costs at most 1 + 8 bytes written,
  * against ~58× when each 1,000-event batch rewrote all 64 buckets of a
  * 150 k-row target; and a read's window sees at most the deltas plus
  * as many base rows, about a quarter of the table. The count cap
  * bounds the file count under trickle batches. Like [[NumBuckets]],
  * the bound is sized for local tables: at production scale the ratio
  * wants an absolute byte cap too, so the broadcast delta-key set stays
  * bounded. A target with no base yet folds every batch at once, which
  * is the read-and-rewrite merge.
  *
  * Crash ordering. Every step leaves the resolved view intact:
  *   - sidecar, then delta: a sidecar wider than the data null-fills,
  *     never drops a column;
  *   - the sidecar is replaced by write `.tmp`, delete, rename: a kill
  *     between the delete and the rename leaves only the complete
  *     `.tmp`, which reads take and the next sidecar write finishes;
  *   - a delta is committed once its `_SUCCESS` marker exists; a crashed
  *     append (only `_temporary` left) is invisible to reads and is
  *     removed by the next compaction;
  *   - compaction publishes (the overwrite commit) before it purges the
  *     folded deltas: a kill in between leaves buckets that already hold
  *     the folded rows plus the same deltas, and folding them again
  *     gives the same rows. The newest folded delta's dir is kept empty
  *     as the sequence's high-water mark.
  * [[sweepTombstones]] compacts first, then reclaims tombstones from
  * the base. The KV pillar keeps a read-modify-write merge through
  * [[mergeBucketed]] (an HSET merges into the current row), so its
  * targets never hold deltas. A production deployment would swap the
  * parquet layout for a transactional table format's merge-on-read;
  * the plan shape is identical.
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
    * One keyed full-outer join resolves everything. The CDC merge does
    * not call this: it writes the batch's change rows as a delta (one
    * Spark job per micro-batch), each row the one this function gives
    * for that event alone against an EMPTY state, and the read fold
    * ([[readTarget]]) resolves repeats of a key within the batch, and
    * the delta against the target, by this same stale rule.
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
    val afterFields = afterFieldsOf(b)
    requireCovered(target.columns.toSeq, keyCol, afterFields)
    // target side, prefixed to avoid collisions with after-field names;
    // targets written before the recency/tombstone columns existed read
    // them as null/false. ADDITIVE evolution: an after-field the target
    // has never seen null-fills on the target side (the reference
    // recreates target DDL from the source schema,
    // postgresql.go:275-338) — existing rows carry null, the merge
    // writes the widened schema, and the schema sidecar makes later
    // reads of untouched buckets see the new column as null too.
    val tField = (f: StructField) =>
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

  private def afterFieldsOf(batch: DataFrame): Seq[StructField] =
    batch.schema("after").dataType.asInstanceOf[StructType].fields.toSeq

  /** The target must not carry data columns the change schema lacks:
    * projecting them away would silently REWRITE every touched bucket
    * without them — fail loudly instead (the foreachBatch wrapper routes
    * this to the DLQ and the operator is alerted). */
  private def requireCovered(targetCols: Seq[String], keyCol: String,
      afterFields: Seq[StructField]): Unit = {
    val expected = (keyCol +: afterFields.map(_.name)) ++
      Seq("updated_at", "updated_off", "deleted")
    val unexpected = targetCols.filterNot(expected.contains)
    require(unexpected.isEmpty,
      s"target columns absent from the change schema: ${unexpected.mkString(", ")}")
  }

  /** The live (non-tombstoned) rows of a merged target. Safe on targets
    * written before tombstones existed (no `deleted` column → all live). */
  def liveRows(df: DataFrame): DataFrame =
    if (df.columns.contains("deleted"))
      df.filter(!coalesce(col("deleted"), lit(false)))
    else df


  val NumBuckets = 64 // sized for local tests; 4096 at production scale

  /** Compaction bound (see "Scale design"): deltas fold back once their
    * bytes reach 1/CompactRatio of the base's, or MaxDeltas files. */
  val CompactRatio = 8
  val MaxDeltas = 32

  private def bucketOf(keyCol: String) = pmod(hash(col(keyCol)), lit(NumBuckets))

  private def fsOf(spark: SparkSession, targetDir: String): (FileSystem, Path) = {
    val dir = new Path(targetDir)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def readText(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def tmpOf(p: Path) = new Path(p.getParent, p.getName + ".tmp")

  /** Replace `p`: write `p.tmp`, close it, delete `p`, rename. A kill
    * between the delete and the rename leaves only the complete `.tmp`
    * (see [[readSidecar]]). */
  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = tmpOf(p)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  // --- canonical-schema sidecar --------------------------------------
  // Dynamic partition overwrite rewrites only touched buckets, and a
  // delta carries only its batch's columns, so after an additive schema
  // evolution older files lack the new column — and a footer-inferred
  // read may nondeterministically DROP it. The `_graft_schema.json`
  // sidecar (underscore-prefixed: invisible to Spark's file index) pins
  // the canonical schema; reads pass it explicitly and parquet
  // null-fills files that predate a column. Written BEFORE the data (a
  // crash between the two leaves a sidecar that's wider than the data —
  // harmless null-fill — never a sidecar that's narrower, which would
  // drop committed columns). The same contract a transactional table
  // format keeps in its log.

  private val SchemaSidecar = "_graft_schema.json"

  /** The sidecar's text, `torn` when it came from the `.tmp`. A kill
    * inside [[writeText]]'s swap leaves no sidecar next to a `.tmp`
    * that was closed before the delete, so it is read instead — the
    * way `Dlq.retry` recovers its `batch_N.tmp`. A `.tmp` that does not
    * parse is a first sidecar still being written: no sidecar yet. */
  private final case class Sidecar(text: String, torn: Boolean) {
    lazy val schema: StructType = DataType.fromJson(text).asInstanceOf[StructType]
  }

  private def readSidecar(fs: FileSystem, dir: Path): Option[Sidecar] = {
    val p = new Path(dir, SchemaSidecar)
    readText(fs, p).map(Sidecar(_, torn = false)).orElse(
      readText(fs, tmpOf(p)).map(Sidecar(_, torn = true))
        .filter(s => scala.util.Try(s.schema).isSuccess))
  }

  private def readSchema(fs: FileSystem, dir: Path): Option[StructType] =
    readSidecar(fs, dir).map(_.schema)

  /** Write `schema` as the sidecar unless `current` already holds it
    * (one PUT per schema CHANGE, not per batch); a torn sidecar is
    * rewritten, which finishes the interrupted swap. */
  private def putSidecar(fs: FileSystem, dir: Path, current: Option[Sidecar],
      schema: StructType): Unit =
    if (!current.exists(c => !c.torn && c.text == schema.json))
      writeText(fs, new Path(dir, SchemaSidecar), schema.json)

  private def writeSchemaSidecar(spark: SparkSession, targetDir: String,
      schema: StructType): Unit = {
    val (fs, dir) = fsOf(spark, targetDir)
    putSidecar(fs, dir, readSidecar(fs, dir), schema)
  }

  /** True when `targetDir` is a target this object wrote (its schema
    * sidecar exists, or only its `.tmp` after a torn swap): read it
    * through [[readTarget]], not as plain parquet. */
  def isTarget(spark: SparkSession, targetDir: String): Boolean = {
    val (fs, dir) = fsOf(spark, targetDir)
    readSidecar(fs, dir).nonEmpty
  }

  // --- deltas ----------------------------------------------------------

  private val DeltaDir = "_deltas"
  private val KeyFile = "_key"
  private val SeqCol = "_graft_delta_seq"

  /** Every numbered delta dir, committed or not, ascending. */
  private def deltaDirs(fs: FileSystem, dir: Path): Seq[(Long, Path)] = {
    val d = new Path(dir, DeltaDir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.forall(_.isDigit))
      .map(s => s.getPath.getName.toLong -> s.getPath).sortBy(_._1)
  }

  /** The committed deltas of `all` (their `_SUCCESS` marker exists),
    * with the marker's modification time. Driver-side probes only. */
  private def committedDeltas(fs: FileSystem, all: Seq[(Long, Path)]): Seq[(Long, Path, Long)] =
    all.flatMap { case (seq, p) =>
      val ok = new Path(p, "_SUCCESS")
      if (fs.exists(ok)) Some((seq, p, fs.getFileStatus(ok).getModificationTime)) else None
    }

  /** The committed deltas' (sequence number, commit time): it changes
    * whenever a merge appends or a compaction folds. A driver-side
    * listing; no Spark job. */
  private[graft] def deltaSignature(spark: SparkSession, targetDir: String): Seq[(Long, Long)] = {
    val (fs, dir) = fsOf(spark, targetDir)
    committedDeltas(fs, deltaDirs(fs, dir)).map { case (seq, _, mtime) => seq -> mtime }
  }

  /** A target's file signature: each base file's (path, length,
    * modification time) and each committed delta's (sequence number,
    * commit time). A merge, a compaction and a tombstone sweep each
    * change it, so equal signatures read equal rows. */
  final case class Signature(base: Seq[(String, Long, Long)], deltas: Seq[(Long, Long)]) {
    def isEmpty: Boolean = base.isEmpty && deltas.isEmpty
  }

  /** The target's [[Signature]]: a driver-side listing of its bucket
    * dirs and deltas (no Spark job), empty for an absent target. */
  def signature(spark: SparkSession, targetDir: String): Signature = {
    val (fs, dir) = fsOf(spark, targetDir)
    if (!fs.exists(dir)) return Signature(Nil, Nil)
    val base = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq)
      .filterNot(f => { val n = f.getPath.getName; n.startsWith("_") || n.startsWith(".") })
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
    Signature(base, deltaSignature(spark, targetDir))
  }

  /** The deltas as one scan, each row tagged with its delta's sequence
    * number (taken from the file path). */
  private def readDeltas(spark: SparkSession, schema: StructType,
      deltas: Seq[(Long, Path, Long)]): DataFrame =
    spark.read.schema(schema).parquet(deltas.map(_._2.toString): _*)
      .withColumn(SeqCol,
        regexp_extract(col("_metadata.file_path"), s"/$DeltaDir/(\\d+)/", 1).cast("long"))

  /** base ⊕ deltas (see "Fold order"): `deltas` carries [[SeqCol]] and
    * the base's columns; the result has the base's columns. */
  private def fold(base: DataFrame, deltas: DataFrame, keyCol: String): DataFrame = {
    val named = broadcast(deltas.select(keyCol))
    val newest = Window.partitionBy(col(keyCol)).orderBy(col("updated_at").desc_nulls_last,
      col("updated_off").desc_nulls_last, col(SeqCol).desc)
    val resolved = base.join(named, Seq(keyCol), "left_semi").withColumn(SeqCol, lit(-1L))
      .unionByName(deltas)
      .withColumn("_rn", row_number().over(newest)).filter(col("_rn") === 1)
      .drop("_rn", SeqCol)
    base.join(named, Seq(keyCol), "left_anti").unionByName(resolved)
  }

  /** Read a target: base ⊕ deltas (see "Fold order"), with the
    * canonical schema — deterministic across mixed footers, null-filling
    * files written before a column existed. Falls back to footer
    * inference for targets that predate the sidecar. */
  def readTarget(spark: SparkSession, targetDir: String): DataFrame = {
    val (fs, dir) = fsOf(spark, targetDir)
    val schema = readSchema(fs, dir)
    val base = schema.fold(spark.read.parquet(targetDir))(spark.read.schema(_).parquet(targetDir))
    val deltas = committedDeltas(fs, deltaDirs(fs, dir))
    if (deltas.isEmpty) base
    else fold(base, readDeltas(spark, schema.getOrElse(base.schema), deltas),
      readText(fs, new Path(new Path(dir, DeltaDir), KeyFile)).get)
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
    val (fs, path) = fsOf(spark, targetDir)
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

  /** Apply a change batch to a CDC target: append its change rows as
    * the next delta (see "Scale design"), then fold the deltas back if
    * they passed the compaction bound. Each event's row is the one
    * [[applyBatch]] gives for it alone against an empty target, and the
    * read fold resolves a key's repeats within the batch by the same
    * rule. Never reads the target's rows; its columns come from the
    * sidecar, so a batch whose change schema lost a target column still
    * fails [[applyBatch]]'s check. */
  def mergeIntoParquet(spark: SparkSession, targetDir: String, batch: DataFrame,
      keyCol: String, ignoreDeleteOps: Boolean = false): Unit = {
    val (fs, dir) = fsOf(spark, targetDir)
    // Existence probe via the Hadoop FS API: ONLY a genuinely absent
    // target (first batch, no snapshot yet) has no columns to check —
    // an unreadable one must FAIL the batch (→ DLQ)
    val exists = fs.exists(dir)
    val sidecar = if (exists) readSidecar(fs, dir) else None
    val targetCols = if (!exists) Nil
      else sidecar.map(_.schema).getOrElse(spark.read.parquet(targetDir).schema)
        .fieldNames.toSeq.filterNot(_ == "bucket")
    val b = if (ignoreDeleteOps) batch.filter(col("op") =!= "delete") else batch
    val afterFields = afterFieldsOf(b)
    requireCovered(targetCols, keyCol, afterFields)
    // applyBatch's row for a lone event: a null op keeps the (empty)
    // target side, so only its key is set
    val applied = col("op").isNotNull
    val delta = b.select(col(keyCol) +:
      afterFields.map(f => when(col("op") =!= "delete", col("after").getField(f.name)).as(f.name)) :+
      when(applied, col("ts")).as("updated_at") :+
      when(applied, col("offset")).as("updated_off") :+
      when(applied, col("op") === "delete").as("deleted") :+
      bucketOf(keyCol).as("bucket"): _*)
    val deltas = new Path(dir, DeltaDir)
    val keyFile = new Path(deltas, KeyFile)
    if (!fs.exists(keyFile)) writeText(fs, keyFile, keyCol)
    putSidecar(fs, dir, sidecar, delta.schema)
    val all = deltaDirs(fs, dir)
    val out = new Path(deltas, ((all.map(_._1) :+ 0L).max + 1).toString)
    // one file per delta, unless the file source split the batch into
    // more partitions than there are cores (a backlog batch): one file
    // per core then, so its parse and encryption use every core
    val cores = spark.sparkContext.defaultParallelism
    delta.coalesce(if (b.rdd.getNumPartitions > cores) cores else 1)
      .write.mode(SaveMode.Overwrite).parquet(out.toString)
    val deltaBytes = fs.getContentSummary(deltas).getLength
    val baseBytes = fs.getContentSummary(dir).getLength - deltaBytes
    if (deltaBytes * CompactRatio >= baseBytes || committedDeltas(fs, all).length + 1 >= MaxDeltas)
      compact(spark, targetDir)
  }

  /** Fold every committed delta into the buckets it names, then purge
    * the folded deltas and any crashed append (see "Crash ordering"). */
  private[graft] def compact(spark: SparkSession, targetDir: String): Unit = {
    val (fs, dir) = fsOf(spark, targetDir)
    val all = deltaDirs(fs, dir)
    if (all.isEmpty) return
    val deltas = committedDeltas(fs, all)
    if (deltas.nonEmpty) {
      val schema = readSchema(fs, dir).get // written before the first delta
      val d = readDeltas(spark, schema, deltas)
      val touched = d.select("bucket").distinct().collect().map(_.getInt(0)) // ≤ NumBuckets
      if (touched.nonEmpty)
        rewriteBuckets(spark, targetDir, fold(
          spark.read.schema(schema).parquet(targetDir).filter(col("bucket").isin(touched: _*)),
          d, readText(fs, new Path(new Path(dir, DeltaDir), KeyFile)).get))
    }
    val top = all.last._1
    all.foreach { case (_, p) => fs.delete(p, true) }
    fs.mkdirs(new Path(new Path(dir, DeltaDir), top.toString))
  }

  /** Replace the buckets `rows` (with its `bucket` column) covers:
    * sidecar first (see its crash-ordering note), then a dynamic
    * partition overwrite — only those bucket dirs change. */
  private def rewriteBuckets(spark: SparkSession, targetDir: String, rows: DataFrame): Unit = {
    writeSchemaSidecar(spark, targetDir, rows.schema)
    rows.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").mode(SaveMode.Overwrite).parquet(targetDir)
  }

  /** The bucketed read-modify-write MERGE of the KV pillar:
    * `apply(target, batch)` is its keyed merge ([[KvStore.applyKvBatch]],
    * which needs the current row for HSET), and `emptyTarget(batch)` the
    * state it merges into while the target dir does not exist yet. A
    * merge
    *   1. persists the batch and collects the buckets it touches in the
    *      same job that materializes it: one pass over the batch, each
    *      partition returning its bucket set (a driver list bounded by
    *      NumBuckets, never by data size; no shuffle),
    *   2. reads ONLY those partitions (partition pruning on `bucket`); the
    *      target's bucket dirs are listed on the driver, because the
    *      session's parallel-discovery threshold is NumBuckets, so no
    *      listing job runs,
    *   3. resolves batch against target with one keyed full-outer join,
    *      and
    *   4. rewrites only the touched buckets ([[rewriteBuckets]]).
    * Four Spark jobs per micro-batch, and the batch is scanned once. */
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
      val (fs, path) = fsOf(spark, targetDir)
      val target =
        if (!fs.exists(path)) emptyTarget(batched.drop("bucket"))
        else readTarget(spark, targetDir).filter(col("bucket").isin(touched.toSeq: _*))
          .drop("bucket")
      rewriteBuckets(spark, targetDir,
        apply(target, batched.drop("bucket")).withColumn("bucket", bucketOf(keyCol)))
    } finally batched.unpersist()
  }

  /** True when the target holds delete tombstones, i.e. when
    * [[sweepTombstones]] has work: a `deleted=true` probe pushed to the
    * parquet scan (clean buckets are skipped on row-group stats). It
    * reads through [[readTarget]], not footer inference: a tombstone
    * still in a delta counts, a sidecar-only dir (a crashed sweep's
    * residue) reads as empty instead of throwing, and mixed-footer
    * targets see the canonical schema deterministically. */
  def hasTombstones(spark: SparkSession, targetDir: String): Boolean = {
    val (fs, path) = fsOf(spark, targetDir)
    fs.exists(path) && {
      val t = readTarget(spark, targetDir)
      t.columns.contains("deleted") && t.filter(col("deleted") === true).limit(1).count() > 0
    }
  }

  /** Reclaim delete tombstones — fold any deltas into the base first,
    * then rewrite only the buckets that hold `deleted=true` rows,
    * dropping them; a bucket left with no live row is removed outright
    * (dynamic overwrite can't write an empty partition). Safe to call
    * once the pipeline's DLQ is drained: no stale retry can arrive, so
    * deletes are final and the rows exist only as resurrect-guards.
    * Returns the number of buckets swept. The tombstone filter is
    * pushed to the parquet scan; clean buckets cost only row-group
    * stats (min=max=false skips them). Works for both the CDC and KV
    * bucketed layouts. */
  def sweepTombstones(spark: SparkSession, targetDir: String): Int = {
    val (fs, path) = fsOf(spark, targetDir)
    if (!fs.exists(path)) return 0
    compact(spark, targetDir)
    val t = readTarget(spark, targetDir)
    if (!t.columns.contains("deleted")) return 0
    val touched = t.filter(col("deleted") === true)
      .select("bucket").distinct().collect().map(_.getInt(0)) // ≤ NumBuckets
    if (touched.isEmpty) return 0
    val cleaned = t.filter(col("bucket").isin(touched.toSeq: _*))
      .filter(!coalesce(col("deleted"), lit(false)))
    val liveBuckets = cleaned.select("bucket").distinct().collect().map(_.getInt(0)).toSet
    if (liveBuckets.nonEmpty) rewriteBuckets(spark, targetDir, cleaned)
    touched.filterNot(liveBuckets).foreach { bk =>
      fs.delete(new Path(path, s"bucket=$bk"), true)
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
