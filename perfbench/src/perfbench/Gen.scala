package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Seeded input generators. Everything a workload feeds the engine comes
  * from here; the same seed gives byte-identical change files. Every
  * generated table is one partition, so it is written as one parquet
  * file, like the tables the engine is built against. */
object Gen {

  /** sf0.1 shape of the replicated table: `orders` has 150 k rows whose
    * customer keys range over 15 k customers. */
  val Orders = 150000
  val Customers = 15000
  val EventsPerFile = 100 // the reference's flush size

  /** Change-event timestamps start here and advance 10 ms per offset. */
  val BaseTsMs: Long = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli

  private def h(seed: Long, salt: Int): org.apache.spark.sql.Column =
    xxhash64(lit(seed), col("id"), lit(salt))

  /** The change-event payload projection of `orders`:
    * key = o_orderkey, value = o_totalprice, k = o_custkey. */
  def ordersPayload(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, Orders, 1, 1).select(
      col("id").as("key"),
      ((pmod(h(seed, 1), lit(49900000L)) + 100000L) / 100.0).as("value"),
      pmod(h(seed, 2), lit(Customers.toLong)).as("k"))

  def customers(spark: SparkSession, seed: Long, rows: Int): DataFrame =
    spark.range(0, rows, 1, 1).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(seed, 3), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(h(seed, 4), lit(1100000L)) / 100.0 - 999.99).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").map(lit): _*), pmod(h(seed, 5), lit(5L)).cast("int") + 1)
        .as("c_mktsegment"))

  /** One change event, in the JSON layout `ChangeEvents.schema` reads. */
  final case class Event(op: String, key: Long, value: Double, k: Long, offset: Long) {
    def tsMs: Long = BaseTsMs + offset * 10
    def json: String = {
      val after = if (op == "delete") "null" else s"""{"value":$value,"k":$k}"""
      s"""{"op":"$op","key":$key,"after":$after,"sourceDb":"graft",""" +
        s""""sourceTable":"orders","ts":"${java.time.Instant.ofEpochMilli(tsMs)}",""" +
        s""""offset":$offset}"""
    }
  }

  /** A seeded backlog: 80 % update, 10 % delete, 10 % insert; update and
    * delete keys uniform over the snapshot, inserts take fresh keys. */
  final class Backlog(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private var nextOffset = 0L
    private var nextKey = Orders.toLong

    def event(): Event = {
      val r = rng.nextInt(10)
      val off = nextOffset; nextOffset += 1
      val value = (rng.nextLong(49900000L) + 100000L) / 100.0
      val k = rng.nextLong(Customers.toLong)
      if (r == 0) { val key = nextKey; nextKey += 1; Event("insert", key, value, k, off) }
      else if (r == 1) Event("delete", rng.nextLong(Orders.toLong), 0.0, 0L, off)
      else Event("update", rng.nextLong(Orders.toLong), value, k, off)
    }

    def file(): Seq[Event] = Seq.fill(EventsPerFile)(event())
  }

  /** Write change files `first until first+n` into `dir`, one event per
    * line, with strictly increasing modification times so the file
    * source admits them in order. */
  def writeFiles(dir: Path, backlog: Backlog, first: Int, n: Int): Unit = {
    Files.createDirectories(dir)
    (first until first + n).foreach { i =>
      val p = dir.resolve(f"changes-$i%06d.json")
      Files.write(p, backlog.file().map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(BaseTsMs + i * 1000L))
    }
  }

  // ---- analytics tables --------------------------------------------

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window", "index")

  /** The tables the analytics slice reads, at `sf` of the TPC-H-like
    * sf1 sizes, written as `<dir>/<table>.parquet`. The rows are fixed
    * (their own seed), so the recorded result fingerprints apply to every
    * run; `order` only permutes each file's row order. */
  def analyticsTables(spark: SparkSession, dir: String, sf: Double, order: Long): Unit = {
    val seed = 42L
    val nCust = (150000 * sf).toInt
    val nOrders = (1500000 * sf).toInt
    val nPart = (200000 * sf).toInt
    val nDocs = (50000 * sf).toInt
    val nVecs = (20000 * sf).toInt
    def save(df: DataFrame, name: String): Unit =
      df.repartition(1).sortWithinPartitions(xxhash64(lit(order) +: df.columns.toIndexedSeq.take(2).map(col): _*))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save(customers(spark, seed, nCust), "customer")
    save(spark.range(0, nOrders, 1, 1)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pmod(h(seed, 6), lit(7L)) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(xxhash64(lit(seed), col("l_orderkey"), col("l_linenumber")), lit(nPart.toLong))
          .as("l_partkey")), "lineitem")

    // a tenth of the documents are one-token edits of their predecessor
    val vocab = array(Vocab.map(lit): _*)
    val src = when(pmod(h(seed, 7), lit(10L)) === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    val docs = spark.range(0, nDocs, 1, 1)
      .select(col("id").as("doc_id"), src.as("src"),
        (pmod(xxhash64(lit(seed), src, lit(8)), lit(50L)) + 10).cast("int").as("len"),
        pmod(h(seed, 9), lit(60L)).cast("int").as("edit"))
      .select(col("doc_id"), array_join(transform(sequence(lit(0), col("len") - 1), i =>
        when(col("doc_id") =!= col("src") && i === pmod(col("edit"), col("len")),
          lit("edited"))
          .otherwise(element_at(vocab,
            (pmod(xxhash64(lit(seed), col("src"), i), lit(Vocab.length.toLong)) + 1)
              .cast("int")))), " ").as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(lit("en"), lit("ja"), lit("zh")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), (col("doc_id") % 5).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    save(docs, "documents")

    // a twentieth of the vectors are small perturbations of their predecessor
    val vsrc = when(pmod(h(seed, 10), lit(20L)) === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    save(spark.range(0, nVecs, 1, 1).select(col("id").as("vec_id"), vsrc.as("src"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(lit(seed), col("src"), i), lit(2000001L)) - 1000000L) / 4e6 +
            when(col("vec_id") =!= col("src"),
              (pmod(xxhash64(lit(seed), col("vec_id"), i), lit(2001L)) - 1000L) / 1e5)
              .otherwise(lit(0.0))).cast(FloatType)).as("embedding"),
        pmod(xxhash64(lit(seed), col("src"), lit(11)), lit(10L)).cast("int").as("label")),
      "embeddings")
  }
}
