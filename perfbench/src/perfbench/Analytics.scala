package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Dedup, PlanCache}

/** `analytics`: passes over a fixed slice of `SparkEntry.queries` with
  * the band index built in set-up, as `graft.Bench` does, and q314's
  * entity store too. Each query is run as Bench runs it, except that
  * instead of a noop write its rows are folded into a count and an
  * order-insensitive hash, so the timed execution is also the checked
  * one; then `PlanCache.release()`. */
object Analytics {

  val Slice: Seq[String] = Seq(
    "q230_pagerank", "q246_components", "q281_entity_clusters", // iterative, driver-bound
    "q314_entity_probe", "q49_dedup_clusters", "q25_minhash_pairs", // store probes
    "q28_embedding_neardups") // single pass

  /** Scale of the generated analytics tables (sf1 = TPC-H-like sf1 sizes). */
  val Sf = 0.01

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    Gen.analyticsTables(spark, dir, Sf, seed)
    Dedup.releaseBandIndex()
    Dedup.bandIndex(spark, dir).bands.write.format("noop").mode("overwrite").save()
  }

  /** q314's entity store is built, eagerly, when q314's plan is first
    * made for a dir. Set-up makes that plan once, without running it, so
    * every timed q314 call measures the probe. */
  def buildStore(spark: SparkSession, dir: String): Unit = {
    SparkEntry.queries("q314_entity_probe")(spark, dir)
    PlanCache.release()
  }

  /** Run one query; returns its row count and order-insensitive hash. */
  def run(spark: SparkSession, dir: String, q: String): (Long, String) = {
    val df = SparkEntry.queries(q)(spark, dir)
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    PlanCache.release()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Expected fingerprints, one `name rows hash` line each. */
  def loadExpected(path: java.nio.file.Path): Map[String, (Long, String)] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
}
