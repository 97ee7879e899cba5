package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ops report over the persisted index family (MinHash band index,
  * IVF embedding index, binary-code index, HLL sketch store): one row
  * per stored artifact table with its row count, file count, and the
  * index's pending tombstones — the dashboard a maintenance scheduler
  * reads to decide when to compact (file count creeping up from
  * appends), when an erasure pass is owed (tombstones > 0), and how
  * the index is growing. The per-cell/occupancy view stays with
  * [[Similarity.ivfCellStats]]; this is the cross-index rollup.
  *
  * Cost, stated plainly: file listing and tombstone counts are
  * driver-side metadata; row counts execute one `count()` per
  * artifact, which parquet answers from footer row-group counts —
  * no data column is ever read. Output is artifacts × indexes rows. */
object IndexOps {

  /** `indexDirs` maps a label ("band", "ivf", "codes", "sketch", …) to
    * that index's root directory. Every parquet table directly under a
    * root is reported; a root's `forgotten` table is folded into its
    * siblings' `tombstones` column instead of listed as an artifact. */
  def report(spark: SparkSession, indexDirs: Map[String, String]): DataFrame = {
    val rows = indexDirs.toSeq.sortBy(_._1).flatMap { case (kind, dir) =>
      val tombstones = Atomic.tombstones(spark, dir).fold(0L)(_.count())
      // versioned artifacts report under their logical name, resolved
      // to the committed version
      Atomic.children(spark, dir).map { child =>
        val t = new org.apache.hadoop.fs.Path(Atomic.resolve(spark, dir, child))
        // recursive: partitioned artifacts (compacted IVF cells) keep
        // their files under partition subdirectories
        val it = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listFiles(t, true)
        var files = 0L
        while (it.hasNext)
          if (it.next().getPath.getName.endsWith(".parquet")) files += 1
        (kind, child, spark.read.parquet(t.toString).count(), files, tombstones)
      }
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1))
      .toDF("kind", "table", "n_rows", "n_files", "tombstones")
  }
}
