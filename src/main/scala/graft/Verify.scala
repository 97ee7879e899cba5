package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * A query that throws is reported and skipped; the run still writes
  * every other dump and the oracle SQL, then exits 1 naming them. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (builder-side
    // fast iteration on a subset; the driver always runs the full set)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.local()
    val failed = dump(spark, sfDir, outDir, only)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Dump every query `only` admits (all when None) to
    * `outDir/<name>` as parquet. Returns the names of the queries that
    * threw, in run order. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
        finally graft.operators.PlanCache.release() // caller-managed cache lifetime
      }
  }
}
