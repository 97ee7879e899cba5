package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.operators.{Atomic, Similarity}

/** The store contract: the marker-committed version protocol (readers
  * never resolve an uncommitted write, a crash mid-publish is
  * invisible, each publish supersedes and cleans its predecessor), the
  * compaction scope's erasure order, and stream ownership. */
class AtomicSpec extends SparkSpec {
  import spark.implicits._

  private def writeRows(path: String, vs: Seq[Long]): Unit =
    vs.toDF("v").write.mode("overwrite").parquet(path)

  private def readRows(path: String): Set[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSet

  test("resolve falls back to the legacy unversioned dir; an unmarked version dir is invisible") {
    val base = Files.createTempDirectory("atomic").toString
    writeRows(s"$base/cells", Seq(1L, 2L))
    assert(Atomic.resolve(spark, base, "cells") == s"$base/cells")
    // a crashed publish: data dir present, no commit marker
    writeRows(s"$base/cells_v0", Seq(99L))
    assert(Atomic.resolve(spark, base, "cells") == s"$base/cells")
    assert(readRows(Atomic.resolve(spark, base, "cells")) == Set(1L, 2L))
  }

  test("publish flips the resolved version atomically; grace retention keeps one predecessor") {
    val base = Files.createTempDirectory("atomic").toString
    writeRows(s"$base/cells", Seq(1L, 2L))
    writeRows(s"$base/cells_v0", Seq(99L)) // stray from a crashed publish
    Atomic.publish(spark, base, "cells")(p => writeRows(p, Seq(3L, 4L)))
    val live = Atomic.resolve(spark, base, "cells")
    assert(live == s"$base/cells_v0" || live.startsWith(s"$base/cells_v"))
    assert(readRows(live) == Set(3L, 4L))
    // grace retention: the legacy dir (the superseded generation)
    // survives THIS publish — a reader that resolved it pre-cutover
    // finishes its scan — and is cleaned by the next one
    assert(new java.io.File(s"$base/cells").exists())
    assert(readRows(s"$base/cells") == Set(1L, 2L))
    // a second publish supersedes the first, retains it, cleans legacy
    Atomic.publish(spark, base, "cells")(p => writeRows(p, Seq(5L)))
    val live2 = Atomic.resolve(spark, base, "cells")
    assert(live2 != live && readRows(live2) == Set(5L))
    assert(!new java.io.File(s"$base/cells").exists())
    assert(new java.io.File(live).exists() && readRows(live) == Set(3L, 4L))
    // a third publish finally drops the first version
    Atomic.publish(spark, base, "cells")(p => writeRows(p, Seq(6L)))
    assert(readRows(Atomic.resolve(spark, base, "cells")) == Set(6L))
    assert(!new java.io.File(live).exists())
    assert(new java.io.File(live2).exists())
  }

  test("a concurrent append aborts the publish and loses nothing") {
    val base = Files.createTempDirectory("atomic").toString
    Atomic.publish(spark, base, "cells")(p => writeRows(p, Seq(1L, 2L)))
    val live = Atomic.resolve(spark, base, "cells")
    // the compactor reads the live version while an appender lands a
    // batch into the same resolved path (the mode("append") contract)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Atomic.publish(spark, base, "cells") { p =>
        writeRows(p, Seq(1L, 2L)) // staged rewrite from the snapshot
        Seq(3L).toDF("v").write.mode("append").parquet(live) // the race
      }
    }
    assert(ex.getMessage.contains("concurrent append"))
    // old version still live, appended rows included; no staged stray
    assert(Atomic.resolve(spark, base, "cells") == live)
    assert(readRows(live) == Set(1L, 2L, 3L))
    assert(!new java.io.File(s"$base/cells_v1").exists())
    // the retry (no appender this time) succeeds and sees the append
    Atomic.publish(spark, base, "cells") { p =>
      spark.read.parquet(live).write.mode("overwrite").parquet(p)
    }
    assert(readRows(Atomic.resolve(spark, base, "cells")) == Set(1L, 2L, 3L))
  }

  /** Physical generations of `child` under `base`: legacy dir + versions. */
  private def generations(base: String, child: String): Seq[String] =
    new java.io.File(base).list().toSeq
      .filter(n => n == child || n.startsWith(s"${child}_v")).sorted

  private def rewriteRows(c: Atomic.Compaction): Unit =
    c.rewrite("rows", "v")((live, staged) => live.write.parquet(staged))

  test("compact with tombstones erases the rows, purges superseded versions and clears the tombstones") {
    val base = Files.createTempDirectory("atomic").toString
    Atomic.append(Seq(1L, 2L, 3L).toDF("v"), base, "rows")
    Atomic.compact(spark, base)(rewriteRows)
    Atomic.forget(spark, base, Seq(2L))
    assert(readRows(Atomic.resolve(spark, base, "rows")) == Set(1L, 2L, 3L))
    Atomic.compact(spark, base)(rewriteRows)
    assert(readRows(Atomic.resolve(spark, base, "rows")) == Set(1L, 3L))
    assert(generations(base, "rows") == Seq("rows_v1"),
      "erasure must purge the grace-retained generations")
    assert(Atomic.tombstones(spark, base).isEmpty)
  }

  test("compact without tombstones keeps the grace version") {
    val base = Files.createTempDirectory("atomic").toString
    Atomic.append(Seq(1L, 2L).toDF("v"), base, "rows")
    Atomic.compact(spark, base)(rewriteRows)
    assert(generations(base, "rows") == Seq("rows", "rows_v0"))
    Atomic.compact(spark, base)(rewriteRows)
    assert(generations(base, "rows") == Seq("rows_v0", "rows_v1"))
    assert(readRows(s"$base/rows_v0") == Set(1L, 2L))
  }

  test("a rewrite that throws mid-scope keeps the tombstones and the prior version live") {
    val base = Files.createTempDirectory("atomic").toString
    Atomic.append(Seq(1L, 2L, 3L).toDF("v"), base, "rows")
    Atomic.forget(spark, base, Seq(2L))
    intercept[java.util.ConcurrentModificationException] {
      Atomic.compact(spark, base)(_.rewrite("rows", "v") { (live, staged) =>
        live.write.parquet(staged)
        Atomic.append(Seq(4L).toDF("v"), base, "rows") // the racing append
      })
    }
    assert(Atomic.resolve(spark, base, "rows") == s"$base/rows")
    assert(generations(base, "rows") == Seq("rows"))
    assert(Atomic.tombstones(spark, base).isDefined)
    // the probe still excludes the forgotten id; the append survived
    assert(Atomic.live(spark, base, "rows", "v").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L))
  }

  test("a forget landing mid-compaction survives the tombstone clear") {
    val base = Files.createTempDirectory("atomic").toString
    Atomic.append(Seq(1L, 2L, 3L).toDF("v"), base, "rows")
    Atomic.forget(spark, base, Seq(1L))
    Atomic.compact(spark, base)(_.rewrite("rows", "v") { (live, staged) =>
      live.write.parquet(staged)
      Atomic.forget(spark, base, Seq(3L))
    })
    assert(readRows(Atomic.resolve(spark, base, "rows")) == Set(2L, 3L))
    assert(Atomic.tombstones(spark, base).get.collect().map(_.getLong(0)).toSet ==
      Set(3L))
    assert(Atomic.live(spark, base, "rows", "v").collect().map(_.getLong(0)).toSet ==
      Set(2L))
  }

  // the three stores a file-sink stream can own (IvfStream, CodeStream,
  // JlStream): the founding act that leaves the child to the stream,
  // a batch append and a compaction
  private lazy val emb = Tables(spark, sf, "embeddings")
  Seq[(String, String => Unit, String => Unit, String => Unit)](
    ("cells", Similarity.foundCodebook(emb, _),
      Similarity.appendToStoredIvf(emb.limit(4), _),
      Similarity.compactStoredIvf(spark, _)),
    ("codes", _ => (),
      Similarity.appendToCodeIndex(emb.limit(4), _),
      Similarity.compactCodeIndex(spark, _)),
    ("jlproj", Similarity.foundJlCodebook(emb, _),
      Similarity.appendToJlIndex(emb.limit(4), _),
      Similarity.compactJlIndex(spark, _))
  ).foreach { case (child, found, append, compact) =>
    test(s"batch append/compact fail fast on a stream-owned $child") {
      val indexDir = Files.createTempDirectory(s"graft_owned_$child").toString
      found(indexDir)
      // simulate the stream's ownership: the file sink's commit log
      // marks the directory — a batch append would write rows the log
      // never lists, a compaction would publish a version without it
      Files.createDirectories(java.nio.file.Paths
        .get(indexDir, child, "_spark_metadata"))
      def files(): Seq[String] = {
        val root = java.nio.file.Paths.get(indexDir)
        val walk = Files.walk(root)
        try walk.iterator().asScala.map(root.relativize(_).toString).toSeq.sorted
        finally walk.close()
      }
      val before = files()
      val e1 = intercept[IllegalArgumentException](append(indexDir))
      assert(e1.getMessage.contains("all-batch or all-stream"))
      val e2 = intercept[IllegalArgumentException](compact(indexDir))
      assert(e2.getMessage.contains("all-batch or all-stream"))
      assert(files() == before, "the stream-owned store must be untouched")
      assert(Atomic.resolve(spark, indexDir, child) == s"$indexDir/$child")
    }
  }
}
