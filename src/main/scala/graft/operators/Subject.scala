package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SUBJECT ACCESS EXPORT — the read half of the privacy pair whose
  * write half is [[Atomic.forget]] (right to be forgotten): given a set of
  * data subjects (customer keys), collect every row the warehouse
  * holds about them across the relational chain and write a
  * per-table export plus a row-count manifest — the artifact a
  * data-subject-access request (GDPR art. 15) ships.
  *
  * Scale: a subject request names a HANDFUL of people by definition,
  * so the keys ride the plans as literals (`isin` — pushed to the
  * scans as `In` filters) and the lineitem leg joins the already-
  * filtered order keys via a broadcast semi-join: three scans, no
  * corpus-sized shuffle, output proportional to the subjects' own
  * data. The export directory is overwritten whole per run — a replay
  * is idempotent, never additive. */
object Subject {

  /** The per-table frames of everything held about `custkeys`:
    * customer rows, their orders, and those orders' line items. */
  def subjectFrames(spark: SparkSession, dir: String,
      custkeys: Seq[Long]): Map[String, DataFrame] = {
    require(custkeys.nonEmpty, "empty subject set")
    val keys = custkeys.map(lit)
    val customer = graft.Tables(spark, dir, "customer")
      .filter(col("c_custkey").isin(keys: _*))
    val orders = graft.Tables(spark, dir, "orders")
      .filter(col("o_custkey").isin(keys: _*))
    val lineitem = graft.Tables(spark, dir, "lineitem")
      .join(broadcast(orders.select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    Map("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem)
  }

  /** The manifest WITHOUT the export — (table, n_rows) per table, the
    * pure face the correctness gate drives (and the dry-run a support
    * tool shows before shipping the real export). One 1-row aggregate
    * per table leg, unioned: three rows total. */
  def subjectCensus(spark: SparkSession, dir: String,
      custkeys: Seq[Long]): DataFrame =
    subjectFrames(spark, dir, custkeys).toSeq.sortBy(_._1)
      .map { case (table, df) =>
        df.agg(count(lit(1)).as("n_rows")).select(lit(table).as("table"),
          col("n_rows"))
      }
      .reduce(_.unionAll(_))

  /** Write the export (one parquet dir per table under `outDir`) and
    * return the manifest: (table, n_rows) per table — the receipt the
    * request ships with. Overwrite semantics: re-running a request
    * replaces the export, so a retry after a partial failure is safe. */
  def accessExport(spark: SparkSession, dir: String, custkeys: Seq[Long],
      outDir: String): DataFrame = {
    import spark.implicits._
    val counts = subjectFrames(spark, dir, custkeys).toSeq.sortBy(_._1)
      .map { case (table, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$table")
        table -> spark.read.parquet(s"$outDir/$table").count()
      }
    counts.toDF("table", "n_rows")
  }
}
