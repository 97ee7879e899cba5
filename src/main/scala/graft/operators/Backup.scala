package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Backup/export path (SURVEY §3.2): regex table discovery → prefix
  * grouping → date-suffix pruning → filtered+projected union export
  * (reference pkg/backup/executor.go:345-418, external_simple.go:252-388).
  *
  * The reference's date-suffixed physical tables (`orders_202401`,
  * `orders_2024`…) are the poor man's partitioning; we model a logical
  * table as (name, slices) where each slice carries its parsed date
  * range, so pruning is a driver-side metadata operation — exactly what
  * Catalyst's partition pruning does once these land as real partitions.
  * The row-level time predicate is still applied after pruning (pruning
  * is a performance step, never a correctness step).
  */
object Backup {

  /** A physical slice of a logical table, e.g. `orders_202401`. */
  final case class TableSlice(name: String, df: () => DataFrame,
      range: Option[(LocalDate, LocalDate)])

  /** PR2/F13: strip a date/number suffix to find the logical prefix —
    * the reference's 6 regexes (executor.go:474-501) collapse into one. */
  private val suffixRe = "_(\\d{4}|\\d{6}|\\d{8})$".r

  def extractPrefix(table: String): String =
    suffixRe.replaceAllIn(table, "")

  /** F13: parse `_YYYY` / `_YYYYMM` / `_YYYYMMDD` suffix into the
    * slice's [start, end) date range (executor.go:662-747). */
  def parseSuffixRange(table: String): Option[(LocalDate, LocalDate)] =
    suffixRe.findFirstMatchIn(table).map(_.group(1)).flatMap { d =>
      try d.length match {
        case 4 =>
          val s = LocalDate.of(d.toInt, 1, 1); Some((s, s.plusYears(1)))
        case 6 =>
          val s = LocalDate.of(d.take(4).toInt, d.drop(4).toInt, 1); Some((s, s.plusMonths(1)))
        case 8 =>
          val s = LocalDate.parse(d, java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
          Some((s, s.plusDays(1)))
        case _ => None
      } catch { case _: Exception => None }
    }

  /** PR1: keep slices overlapping [start, end); a slice with no parsed
    * range is kept (the reference falls back to including the table,
    * executor.go:563-599). */
  def pruneSlices(slices: Seq[TableSlice], start: LocalDate, end: LocalDate): Seq[TableSlice] =
    slices.filter(_.range.forall { case (s, e) => s.isBefore(end) && e.isAfter(start) })

  /** S11: regex table discovery over a table-name list
    * (executor.go:421-458). */
  def discover(tables: Seq[String], pattern: String): Seq[String] =
    tables.filter(_.matches(pattern))

  /** PR2: group discovered tables by logical prefix
    * (executor.go:461-471). */
  def groupByPrefix(tables: Seq[String]): Map[String, Seq[String]] =
    tables.groupBy(extractPrefix)

  /** SET1/P1/P4: merged export of a slice group — prune by window,
    * apply the row predicate and projection ("all" = full projection,
    * external_simple.go:420-425), union all surviving slices. */
  def mergedExport(slices: Seq[TableSlice], start: LocalDate, end: LocalDate,
      rowPredicate: Column, fields: Seq[String]): DataFrame = {
    val kept = pruneSlices(slices, start, end)
    require(kept.nonEmpty, "no slice overlaps the export window")
    val dfs = kept.map { s =>
      val base = s.df().filter(rowPredicate)
      if (fields == Seq("all")) base else base.select(fields.map(col): _*)
    }
    dfs.reduce(_ unionByName _)
  }

  /** W7/W8: export artifacts — JSONL (the reference's merged-file
    * format, executor.go:514-531) or fully-quoted CSV
    * (pkg/backup/mysql.go:196-222), optionally gzipped (≙ zip+GCS). */
  def writeJsonl(df: DataFrame, path: String, compress: Boolean = true): Unit = {
    val w = df.write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }

  def writeCsv(df: DataFrame, path: String, compress: Boolean = true): Unit = {
    val w = df.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true") // QUOTE_ALL, mysql.go:196-222
      .option("nullValue", "\\N")                          // \N sentinel, mysql.go:199
    (if (compress) w.option("compression", "gzip") else w).csv(path)
  }

  // --- W8: zip + upload ------------------------------------------------

  /** Pluggable artifact destination — the upload seam of the reference's
    * GCS step (pkg/utils/gcs_upload.go:17-119; executeExternalGCSUpload,
    * pkg/backup/mysql.go:490-500). No GCS egress exists in the sandbox,
    * so production wires a GCS implementation as a drop-in;
    * [[LocalArtifactStore]] is the tested stand-in with the same
    * contract (put overwrites, returns the stored URI). */
  trait ArtifactStore { def put(spark: SparkSession, localPath: String, remoteName: String): String }

  final class LocalArtifactStore(rootDir: String) extends ArtifactStore {
    def put(spark: SparkSession, localPath: String, remoteName: String): String = {
      val src = new org.apache.hadoop.fs.Path(localPath)
      val dst = new org.apache.hadoop.fs.Path(rootDir, remoteName)
      val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        src.getFileSystem(spark.sparkContext.hadoopConfiguration), src,
        fs, dst, false, true, spark.sparkContext.hadoopConfiguration)
      dst.toString
    }
  }

  /** Zip an export directory's part files into ONE artifact — the
    * reference's external-zip step (executeExternalZip, merged-file
    * packaging mysql.go:485-489). Streams file-by-file through
    * ZipOutputStream over Hadoop FS streams: driver-side IO bounded by
    * artifact bytes, never a row collect; works on distributed storage
    * the same as on local disk. Returns `zipPath`. */
  def zipArtifact(spark: SparkSession, exportDir: String, zipPath: String): String = {
    val dir = new org.apache.hadoop.fs.Path(exportDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.util.zip.ZipOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(zipPath), true))
    try fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)
      .foreach { p =>
        out.putNextEntry(new java.util.zip.ZipEntry(p.getName))
        val in = fs.open(p)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        finally in.close()
        out.closeEntry()
      }
    finally out.close()
    zipPath
  }

  // --- W7: SQL-dump format ---------------------------------------------
  // The reference's "sql" backup format shells out to mysqldump
  // (pkg/backup/mysql.go:105-164) and merges the per-table dumps
  // (mysql.go:380-516). Re-expressed distributed: each partition emits
  // mysqldump-shaped multi-row INSERT statements through the text sink —
  // no driver materialization, artifact size streams through executors.

  /** MySQL string-literal escaping, the mysqldump conventions. */
  def sqlEscape(s: String): String = s.flatMap {
    case '\''     => "\\'"
    case '\\'     => "\\\\"
    case '\n'     => "\\n"
    case '\r'     => "\\r"
    case '\u0000'   => "\\0"
    case '\u001A'   => "\\Z"
    case c        => c.toString
  }

  /** mysqldump renders NTZ timestamps as `yyyy-MM-dd HH:mm:ss[.ffffff]`. */
  private val ntzFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private[graft] def sqlLiteral(v: Any): String = v match {
    case null                     => "NULL"
    case s: String                => "'" + sqlEscape(s) + "'"
    case t: java.sql.Timestamp    => "'" + t.toString + "'"
    case t: java.time.LocalDateTime => "'" + t.format(ntzFmt) + "'"
    case d: java.sql.Date         => "'" + d.toString + "'"
    case d: java.time.LocalDate   => "'" + d.toString + "'"
    case b: Boolean               => if (b) "1" else "0"
    case bytes: Array[Byte]       => if (bytes.isEmpty) "''"
                                     else "0x" + bytes.map("%02x".format(_)).mkString
    case n: java.math.BigDecimal  => n.toPlainString
    case other                    => other.toString // integral / floating
  }

  /** Write `df` as a SQL-dump artifact: multi-row
    * `INSERT INTO \`table\` (cols…) VALUES (…),(…);` statements, one
    * statement line per `rowsPerInsert` rows, optionally gzipped. */
  def writeSql(df: DataFrame, table: String, path: String, compress: Boolean = true,
      rowsPerInsert: Int = 500): Unit = {
    val colList = df.schema.fieldNames.map(n => s"`$n`").mkString(", ")
    val header = s"INSERT INTO `$table` ($colList) VALUES "
    val stmts = df.mapPartitions { it =>
      it.map { r => (0 until r.length).map(i => sqlLiteral(r.get(i))).mkString("(", ",", ")") }
        .grouped(rowsPerInsert).map(g => header + g.mkString(",") + ";")
    }(org.apache.spark.sql.Encoders.STRING)
    val w = stmts.write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).text(path)
  }

  /** Read a [[writeSql]] artifact back (round-trip verification + the
    * restore half of W7): parse each INSERT's value tuples with a
    * quote-aware scanner, un-escape, and cast to `schema`. */
  def readSql(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.Row
    spark.read.textFile(path).flatMap { line =>
      parseInsertTuples(line).map { tuple =>
        require(tuple.length == schema.fields.length,
          s"tuple arity ${tuple.length} != schema arity ${schema.fields.length}")
        Row.fromSeq(tuple.zip(schema.fields).map { case ((text, quoted), f) =>
          parseSqlValue(text, quoted, f.dataType)
        })
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Decode one [[writeSql]] literal back to the JVM-external value for
    * `dt` (null for an unquoted NULL). Shared by [[readSql]] and the
    * DataSource V2 scan ([[graft.sources.SqlDumpSource]]). */
  private[graft] def parseSqlValue(text: String, quoted: Boolean,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    if (!quoted && text == "NULL") null
    else dt match {
      case StringType    => text
      case LongType      => text.toLong
      case IntegerType   => text.toInt
      case ShortType     => text.toShort
      case ByteType      => text.toByte
      case DoubleType    => text.toDouble
      case FloatType     => text.toFloat
      case BooleanType   => text == "1"
      case TimestampType => java.sql.Timestamp.valueOf(text)
      case TimestampNTZType =>
        java.time.LocalDateTime.parse(text, ntzFmt)
      case DateType      => java.sql.Date.valueOf(text)
      case _: DecimalType => new java.math.BigDecimal(text)
      case BinaryType    =>
        // writeSql renders bytes as unquoted 0x-hex, empty as ''
        if (quoted) { require(text.isEmpty,
          s"readSql: quoted binary must be empty, got '$text'"); Array.empty[Byte] }
        else {
          require(text.startsWith("0x") && text.length % 2 == 0,
            s"readSql: bad binary literal '$text'")
          text.drop(2).grouped(2)
            .map(Integer.parseInt(_, 16).toByte).toArray
        }
      case other => throw new IllegalArgumentException(s"readSql: unsupported $other")
    }
  }

  /** Scan one INSERT statement line into value tuples of
    * (unescaped-text, was-quoted). Quote-aware: commas and parens inside
    * string literals are data, `\'` never closes a literal. */
  private[graft] def parseInsertTuples(line: String): Seq[Seq[(String, Boolean)]] = {
    val start = line.indexOf(" VALUES ")
    require(start >= 0, s"not an INSERT statement: ${line.take(80)}")
    val body = line.substring(start + 8).stripSuffix(";")
    val tuples = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Boolean)]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val sb = new StringBuilder
    var quoted = false   // current value was a string literal
    var inQuote = false
    var inTuple = false
    var i = 0
    def pushValue(): Unit = { cur += ((sb.toString, quoted)); sb.clear(); quoted = false }
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQuote) {
        if (c == '\\' && i + 1 < body.length) {
          sb.append(body.charAt(i + 1) match {
            case 'n' => '\n'; case 'r' => '\r'; case '0' => '\u0000'
            case 'Z' => '\u001A'; case other => other // \' \\ and any passthrough
          })
          i += 1
        } else if (c == '\'') inQuote = false
        else sb.append(c)
      } else c match {
        case '('  => inTuple = true
        case ')'  => pushValue(); tuples += cur.toSeq
                     cur = scala.collection.mutable.ArrayBuffer.empty; inTuple = false
        case ','  => if (inTuple) pushValue() // else: separator between tuples
        case '\'' => inQuote = true; quoted = true
        case _    => if (inTuple) sb.append(c)
      }
      i += 1
    }
    tuples.toSeq
  }

  /** F9 read side — load a [[writeCsv]] artifact back with the same
    * conventions (header, \N nulls, quotes); pass the original schema
    * to round-trip types exactly (CSV carries no type info). */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true").option("nullValue", "\\N")
      .schema(schema).csv(path)

  /** Year-sliced view of a TESTDATA table, standing in for the
    * reference's date-suffixed physical tables. */
  def yearSlices(spark: SparkSession, dir: String, table: String, tsCol: String,
      years: Seq[Int]): Seq[TableSlice] =
    years.map { y =>
      TableSlice(s"${table}_$y",
        () => graft.Tables(spark, dir, table).filter(graft.Tables.inYear(col(tsCol), y)),
        parseSuffixRange(s"${table}_$y"))
    }

  /** The oracle-checked export query: orders slices 1995-2001, window
    * [1997-06-01, 1999-01-01), status filter, 3-column projection. The
    * pruning step must leave exactly the 1997/1998 slices; the row
    * predicate then bounds the result. */
  def prunedMergedExport(spark: SparkSession, dir: String): DataFrame = {
    val slices = yearSlices(spark, dir, "orders", "o_orderdate", 1995 to 2001)
    val start = LocalDate.parse("1997-06-01"); val end = LocalDate.parse("1999-01-01")
    mergedExport(slices, start, end,
      col("o_orderstatus") === "F" &&
        col("o_orderdate") >= lit("1997-06-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"),
      Seq("o_orderkey", "o_orderdate", "o_totalprice"))
  }

  /** W7 closed loop through the DataSource V2 connector
    * ([[graft.sources.SqlDumpSource]]): export an orders projection as
    * a SQL-dump artifact, restore it with `format("sqldump")` — the
    * price predicate pushes into the dump scan, so filtered-out rows
    * never materialize — and aggregate revenue per status. The oracle
    * computes the same report straight from the parquet table, proving
    * dump → restore → scan loses nothing. */
  def sqlDumpRestoreReport(spark: SparkSession, dir: String,
      minTotal: Double = 150000.0): DataFrame = {
    val orders = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val stage = java.nio.file.Files.createTempDirectory("graft_sqldump_restore").toString
    // the DSv2 writer (commit-protocol path) — its artifacts are
    // byte-compatible with [[writeSql]]'s (shared renderer), so this
    // round-trips the connector's write AND read halves in one query
    orders.write.format("sqldump").option("table", "orders")
      .option("compress", "false").mode("overwrite").save(stage)
    spark.read.format("sqldump").schema(orders.schema).load(stage)
      .filter(col("o_totalprice") > minTotal)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }
}
