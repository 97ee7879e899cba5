package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The persisted-store module: the one place that knows the on-disk
  * format and lifecycle every store shares (band and postings index,
  * IVF cells, binary codes, JL projections, HLL registers, co-purchase
  * graph, entity-resolution store, epoch gauges, models, IVM views). A
  * store is a base directory of named children; each store reads,
  * appends, forgets and compacts through here and keeps only its own
  * rewrite logic. The contract, stated once:
  *
  *  - '''Versions.''' A child is replaced by writing `<child>_v<N+1>`
  *    fully and then atomically CREATING the empty marker
  *    `_commit_<child>_v<N+1>` (file create is the one atomic primitive
  *    every Hadoop filesystem guarantees). Readers [[resolve]] the
  *    highest marker-committed N, so every reader sees the old version
  *    or the new one, never an empty or half-written directory, and a
  *    crash at any step leaves a readable store; an unmarked version
  *    dir is invisible garbage. A child founded before versioning (the
  *    bare `<child>` dir) resolves as version −1, so old stores read
  *    unchanged and their first [[publish]] migrates them forward.
  *  - '''Appends.''' A batch [[append]] lands in the resolved version.
  *    An append racing a compaction fails the compaction, never the
  *    append: [[publish]] re-lists the live dir after its write and
  *    aborts with the old version (appended rows included) still live.
  *  - '''Grace retention.''' A publish keeps the version it superseded
  *    until the NEXT publish, so a reader that resolved it pre-cutover
  *    finishes its scan on intact files.
  *  - '''Tombstones.''' Right to be forgotten must reach every derived
  *    artifact, and rewriting a multi-terabyte index per request is not
  *    an option: [[forget]] records ids in the base's `forgotten` table
  *    (O(request), immediate), every [[live]] read excludes them
  *    (correctness is instant, the rows merely unreachable), and the
  *    next [[compact]] drops the rows physically and clears the
  *    tombstones it started with.
  *  - '''Erasure beats grace.''' When a compaction erased tombstoned
  *    rows, every superseded version of every child it published is
  *    purged at once: grace retention would keep forgotten bytes
  *    readable on disk. A reader mid-scan on a purged version fails
  *    loudly and retries against the live one.
  *  - '''Stream ownership.''' A child written by a Structured Streaming
  *    file sink holds a `_spark_metadata` commit log at a FIXED path: a
  *    batch append would write rows the log never lists, and a publish
  *    would move the child to a version dir without the log while the
  *    stream keeps writing the stale path. A child is all-batch or
  *    all-stream; [[append]] and [[publish]] refuse a stream-owned one.
  *  - '''Single compactor.''' Concurrent publishes of one child race
  *    the marker create (the loser fails); schedule compaction from one
  *    maintenance job per store. */
object Atomic {

  private val Tombstones = "forgotten"
  private val StreamLog = "_spark_metadata"
  private val MarkerName = "_commit_(.+)_v(\\d+)".r
  private val VersionName = ".+_v\\d+".r

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(child: String, v: Long): String = s"_commit_${child}_v$v"

  private def committed(spark: SparkSession, base: String): Seq[(String, Long)] = {
    val f = fs(spark, base)
    val p = new Path(base)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case MarkerName(c, v) => (c, v.toLong) }
  }

  private def committedVersions(spark: SparkSession, base: String,
      child: String): Seq[Long] =
    committed(spark, base).collect { case (`child`, v) => v }

  private def requireBatchOwned(streamed: Boolean, base: String,
      child: String): Unit =
    require(!streamed, s"$base/$child is owned by a streaming ingest " +
      s"($StreamLog present): a store child is all-batch or all-stream, " +
      "never mixed — stop the stream and drop its commit log before " +
      "batch appends or compaction")

  /** The current committed data path for `base/child` — the highest
    * marker-committed version, or the legacy unversioned dir. */
  def resolve(spark: SparkSession, base: String, child: String): String =
    committedVersions(spark, base, child) match {
      case Nil => s"$base/$child"
      case vs  => s"$base/${child}_v${vs.max}"
    }

  /** `base/child` as committed now (every row, tombstoned or not), or
    * None before its first write. `schema` pins the read schema. */
  def existing(spark: SparkSession, base: String, child: String,
      schema: Option[String] = None): Option[DataFrame] = {
    val p = resolve(spark, base, child)
    if (!fs(spark, base).exists(new Path(p))) None
    else Some(schema.fold(spark.read)(s => spark.read.schema(s)).parquet(p))
  }

  /** The live rows of `base/child`: its committed version minus rows
    * whose value in ANY of `idCols` is tombstoned — one broadcast
    * anti-join per column (a forget set is request-sized, never
    * corpus-sized), and the bare read when no tombstones exist. */
  def live(spark: SparkSession, base: String, child: String,
      idCols: String*): DataFrame = {
    val rows = spark.read.parquet(resolve(spark, base, child))
    if (!fs(spark, base).exists(new Path(base, Tombstones))) rows
    else idCols.foldLeft(rows) { (df, c) =>
      val t = spark.read.parquet(s"$base/$Tombstones")
      df.join(broadcast(t), df(c) === t("forgotten_id"), "left_anti")
    }
  }

  /** Batch-append `rows` to the committed version of `base/child`;
    * refuses a stream-owned child. */
  def append(rows: DataFrame, base: String, child: String): Unit = {
    val spark = rows.sparkSession
    val p = resolve(spark, base, child)
    requireBatchOwned(fs(spark, base).exists(new Path(p, StreamLog)), base, child)
    rows.write.mode("append").parquet(p)
  }

  /** Tombstone `ids` in every child of `base`: [[live]] reads exclude
    * them at once, the next [[compact]] erases them. */
  def forget(spark: SparkSession, base: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "empty forget request")
    import spark.implicits._
    ids.toDF("forgotten_id").coalesce(1)
      .write.mode("append").parquet(s"$base/$Tombstones")
  }

  /** The pending tombstones (`forgotten_id`), or None when none are. */
  def tombstones(spark: SparkSession, base: String): Option[DataFrame] =
    if (!fs(spark, base).exists(new Path(base, Tombstones))) None
    else Some(spark.read.parquet(s"$base/$Tombstones"))

  /** The logical children of `base`: every committed `<child>` —
    * versioned or legacy — never the tombstone table, a `_`-prefixed
    * metadata dir, or an uncommitted version dir. */
  def children(spark: SparkSession, base: String): Seq[String] = {
    val f = fs(spark, base)
    if (!f.exists(new Path(base))) Nil
    else f.listStatus(new Path(base)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case MarkerName(c, _) => Some(c)
        case n if st.isDirectory && !n.startsWith("_") && n != Tombstones &&
          !VersionName.matches(n) => Some(n)
        case _ => None
      }
    }.distinct.sorted
  }

  /** Publish a replacement version of `base/child`: `write` fills the
    * next version dir, the marker commit makes it live, and versions
    * older than the one superseded (plus unmarked strays) are cleaned
    * best-effort. Aborts with [[java.util.ConcurrentModificationException]]
    * when the live dir changed during `write` (a concurrent append),
    * and refuses a stream-owned child. */
  def publish(spark: SparkSession, base: String, child: String)(
      write: String => Unit): Unit = {
    val f = fs(spark, base)
    val prior = committedVersions(spark, base, child)
    val next = if (prior.isEmpty) 0L else prior.max + 1L
    // a crashed publish may have left an unmarked stray at this slot
    f.delete(new Path(s"$base/${child}_v$next"), true)
    val livePath = new Path(resolve(spark, base, child))
    def liveFiles(): Set[String] =
      if (!f.exists(livePath)) Set.empty
      else f.listStatus(livePath).toSeq.map(_.getPath.getName).toSet
    val before = liveFiles()
    requireBatchOwned(before.contains(StreamLog), base, child)
    write(s"$base/${child}_v$next")
    if (liveFiles() != before) {
      f.delete(new Path(s"$base/${child}_v$next"), true)
      throw new java.util.ConcurrentModificationException(
        s"$base/$child changed during publish (concurrent append?) — " +
          "aborted with the prior version still live; retry the compaction")
    }
    require(f.createNewFile(new Path(base, marker(child, next))),
      s"commit marker collision for $base/$child v$next")
    // clean: committed versions older than the one just superseded
    // (grace retention keeps prior.max until the NEXT publish), the
    // legacy dir once a committed version supersedes it, and unmarked
    // strays from crashed publishes
    val retain = prior.maxOption
    prior.filter(v => !retain.contains(v)).foreach { v =>
      f.delete(new Path(base, marker(child, v)), false)
      f.delete(new Path(s"$base/${child}_v$v"), true)
    }
    if (prior.nonEmpty) f.delete(new Path(s"$base/$child"), true)
    f.listStatus(new Path(base)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(s"${child}_v") && n != s"${child}_v$next" &&
        n.stripPrefix(s"${child}_v").toLongOption
          .exists(v => !f.exists(new Path(base, marker(child, v)))))
      .foreach(n => f.delete(new Path(base, n), true))
  }

  /** Delete every superseded artifact of `base/child` — committed
    * versions below the live one, their markers, and the legacy dir. */
  private def purge(spark: SparkSession, base: String, child: String): Unit = {
    val f = fs(spark, base)
    committedVersions(spark, base, child) match {
      case Nil => ()
      case vs =>
        val live = vs.max
        vs.filter(_ != live).foreach { v =>
          f.delete(new Path(base, marker(child, v)), false)
          f.delete(new Path(s"$base/${child}_v$v"), true)
        }
        f.delete(new Path(s"$base/$child"), true)
    }
  }

  /** The handle a [[compact]] scope's rewrite publishes through. */
  final class Compaction private[Atomic] (spark: SparkSession, base: String) {
    private[Atomic] val published =
      scala.collection.mutable.LinkedHashSet.empty[String]

    /** [[Atomic.publish]] `child` inside this scope. */
    def publish(child: String)(write: String => Unit): Unit = {
      Atomic.publish(spark, base, child)(write)
      published += child
    }

    /** Publish `child` rewritten from its [[live]] rows (tombstones
      * excluded on each of `idCols`). The rows are read inside the
      * publish, after its append-detection snapshot, so an append that
      * lands before the read is kept and one after it aborts. */
    def rewrite(child: String, idCols: String*)(
        write: (DataFrame, String) => Unit): Unit =
      publish(child)(staged => write(live(spark, base, child, idCols: _*), staged))
  }

  /** One compaction of the store at `base`, in the erasure order:
    * (1) note the pending tombstone files, (2) `rewrite` publishes the
    * store's children through the scope, (3) when tombstones were
    * noted, purge every superseded version of every published child,
    * (4) delete the noted tombstone files. A rewrite that throws stops
    * the scope before (3): the tombstones stay live and the prior
    * versions stay readable (probes still exclude the forgotten ids).
    * A forget that lands mid-scope survives the clear, and the next
    * compaction erases it. */
  def compact(spark: SparkSession, base: String)(
      rewrite: Compaction => Unit): Unit = {
    val f = fs(spark, base)
    val dir = new Path(base, Tombstones)
    val noted =
      if (!f.exists(dir)) Nil else f.listStatus(dir).toSeq.filter(_.isFile)
    val scope = new Compaction(spark, base)
    rewrite(scope)
    if (noted.nonEmpty) {
      scope.published.foreach(purge(spark, base, _))
      noted.foreach(s => f.delete(s.getPath, false))
      if (f.listStatus(dir).forall(_.getPath.getName.startsWith("_")))
        f.delete(dir, true)
    }
  }
}
