package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational / monitoring query shapes of the reference engine,
  * re-expressed as declarative DataFrame plans so Catalyst supplies the
  * pushdown / pruning / join-strategy selection the reference hard-codes.
  *
  * Reference semantics covered here (file:line cites relative to
  * /root/reference):
  *  - filtered aggregation + group-by stats: `pkg/api/sync_handler.go:452-462`
  *  - source/target count comparison: `pkg/utils/monitor.go:961-1155`
  *  - trend query (ordered scan + limit): `pkg/api/monitor_handler.go:92-225`
  *  - recent-logs top-k: `pkg/api/monitor_handler.go:264-283`
  *  - insert-if-absent anti-join: `pkg/syncer/postgresql/postgresql.go:495-499`
  *  - merged multi-table union export: `pkg/backup/external_simple.go:252-388`
  *  - projection/field selection: `pkg/backup/mysql.go:283-304`
  */
object Relational {

  /** Pricing-summary style aggregation (hash aggregate with partial
    * map-side combine; the group-by shape of sync_handler.go:452-462).
    * Scale note: 2-key groupBy over lineitem shuffles only the partial
    * aggregates (a few rows per partition), not the scan. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Join pipeline: orders -> customer -> nation, revenue per nation.
    * nation/customer are broadcast (small dims) so the only shuffle is
    * the final tiny aggregation — at 100 TB the orders scan never
    * repartitions. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val nation = Tables(spark, dir, "nation")
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Top-k ordered scan (monitor_handler.go:92-225 trend LIMIT 1000) —
    * Spark plans TakeOrderedAndProject: per-partition top-k then a
    * single driver merge, no global sort. */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** Daily trend with per-type delta vs previous day — the
    * rowCountTrend diff series (monitor_handler.go:156-172) extended
    * with lag() as SURVEY §2.7 notes. */
  def trendDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.withColumn("delta", col("n") - lag(col("n"), 1).over(w))
  }

  /** Source-vs-target comparison (J4): per-day counts on both sides,
    * full-outer join, diff — monitor.go:961-1155's defining query.
    * "Target" is simulated as the source minus 'error' rows. */
  def sourceTargetDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val src = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("src_count"))
    val tgt = ev.filter(col("event_type") =!= "error")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("tgt_count"))
    src.join(tgt, Seq("day"), "full_outer")
      .select(
        col("day"),
        coalesce(col("src_count"), lit(0L)).as("src_count"),
        coalesce(col("tgt_count"), lit(0L)).as("tgt_count"),
        (coalesce(col("src_count"), lit(0L)) - coalesce(col("tgt_count"), lit(0L))).as("diff"))
  }

  /** Insert-if-absent / anti-join (postgresql.go:495-499): parts never
    * shipped in 1996. Catalyst plans a hash anti join on the key only —
    * lineitem is pruned to l_partkey + the pushed year filter at the
    * scan. */
  def partsNotShipped1996(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").select("p_partkey", "p_name", "p_brand")
    val l = Tables(spark, dir, "lineitem")
      .filter(graft.Tables.inYear(col("l_shipdate"), 1996))
      .select("l_partkey")
    p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
  }

  /** Distinct cardinality per group (A9, monitor_handler.go:407). */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))

  /** Recent-logs top-k descending (monitor_handler.go:264-283,
    * `ORDER BY log_time DESC LIMIT 500` with level filter P10). */
  def recentErrors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type") === "error")
      .select("event_id", "ts", "user_id", "value")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(500)

  /** P10 complete — level + case-insensitive substring search + top-k
    * (monitor_handler.go:245-321): level matches case-insensitively,
    * search is a lowercased substring test over the message body
    * (`props` plays the log message). Compiles to one
    * TakeOrderedAndProject over the filtered scan — no global sort. */
  def recentLogs(spark: SparkSession, dir: String, level: Option[String] = None,
      search: Option[String] = None, k: Int = 500): DataFrame = {
    val base = Tables(spark, dir, "events")
    val byLevel = level.map(v =>
      base.filter(lower(col("event_type")) === v.toLowerCase)).getOrElse(base)
    val bySearch = search.map(v =>
      byLevel.filter(lower(col("props")).contains(v.toLowerCase))).getOrElse(byLevel)
    bySearch.select("event_id", "ts", "user_id", "props")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(k)
  }

  /** A7 — yesterday volume summary: the source↔target comparison (J4)
    * restricted to the JST "yesterday" window (query_counter.go:117-127
    * + sync_handler.go daily rows). The anchor is pinned so the window
    * folds to literals that reach both scans; count semantics use the
    * reference's inclusive end. */
  def yesterdayDiff(spark: SparkSession, dir: String): DataFrame = {
    val anchor = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
    val w = graft.functions.TimeWindows.dateRangeWindow("yesterday", anchor)
    val in = Tables.tsWindowScan(spark, dir, "events", "ts", w, inclusiveEnd = true)
    in.agg(
      count(lit(1)).as("src_count"),
      count(when(col("event_type") =!= "error", 1)).as("tgt_count"),
      (count(lit(1)) - count(when(col("event_type") =!= "error", 1))).as("diff"))
  }

  /** Alert hook for the J4/A7 comparisons (monitor.go:1158-1203 →
    * slack.go): fire one alert per row whose |diff| exceeds
    * `threshold`, e.g. over [[sourceTargetDiff]] or [[yesterdayDiff]].
    * Returns the number of alerts fired. The collect is bounded by the
    * comparison's group count (per-day rows), capped defensively at
    * 1000 — an alert fan-out is metadata, never data. */
  def alertOnMismatch(diff: DataFrame, threshold: Long,
      alerts: graft.streaming.Alerts.Sink, source: String): Long = {
    val bad = diff.filter(abs(col("diff")) > threshold).limit(1000).collect()
    val names = diff.schema.fieldNames
    bad.foreach { r =>
      val body = names.zip(r.toSeq).map { case (n, v) => s"$n=$v" }.mkString(", ")
      alerts.send(graft.streaming.Alerts.Alert("count_mismatch", source, body))
    }
    bad.length.toLong
  }

  /** S13 — metadata scan: the schema/row-count inventory the reference
    * serves from its metadata endpoints (schema_handler.go, db_utils.go
    * row counts). The table list is config-bounded, so the driver loop
    * is metadata-sized — and so is the WORK: row counts come from
    * parquet footer metadata (`ParquetFileReader.getRecordCount`, the
    * IndexOps convention), never a data scan. A monitoring inventory
    * that reads 100 TB to count rows is wrong by construction; footers
    * are what a catalog reads, bytes-proportional to file COUNT, not
    * data size. Schema (n_cols) comes from the same footer-backed
    * reader Tables uses. */
  def metaScan(spark: SparkSession, dir: String, tables: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = tables.map { t =>
      val root = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = root.getFileSystem(conf)
      val it = fs.listFiles(root, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try n += r.getRecordCount finally r.close()
        }
      }
      (t, n, Tables(spark, dir, t).schema.fields.length)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1))
      .toDF("table_name", "n_rows", "n_cols")
  }

  /** Zone-map statistics from parquet FOOTERS only — per column, the
    * row count and normalized min/max aggregated across every row
    * group, with zero data scan (PlanSpec-pinned). This is the
    * data-skipping foundation made inspectable: the min/max a scan's
    * pushed predicate ranges are judged against ARE these statistics,
    * so "stats match the data" (the oracle recomputes min/max from
    * the rows) is exactly the property row-group pruning relies on.
    * Work is bytes-proportional to file COUNT (the catalog norm, cf.
    * [[metaScan]]), never data size.
    *
    * min/max normalize with [[profileTable]]'s cross-engine
    * conventions: integers/strings verbatim, doubles as floor-cent
    * integers (floor is monotone, so floor-cents of the min IS the
    * min of floor-cents), timestamps as epoch micros (parquet stores
    * timestamp[us] stats as INT64 micros already). */
  def zoneStats(spark: SparkSession, dir: String, table: String): DataFrame = {
    import org.apache.parquet.column.statistics.Statistics
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = root.getFileSystem(conf)
    val schema = Tables(spark, dir, table).schema
    // (col -> (rows, minLong, maxLong, minStr, maxStr)) folded over
    // every row group of every part file
    val acc = scala.collection.mutable.Map[String, (Long, Option[Any], Option[Any])]()
    def better(cur: Option[Any], cand: Any, takeMin: Boolean): Option[Any] =
      cur match {
        case None => Some(cand)
        case Some(x) => (x, cand) match {
          case (a: Long, b: Long) => Some(if ((b < a) == takeMin) b else a)
          case (a: Double, b: Double) => Some(if ((b < a) == takeMin) b else a)
          case (a: String, b: String) =>
            Some(if ((b.compareTo(a) < 0) == takeMin) b else a)
          case _ => cur
        }
      }
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.forEach { block =>
          block.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            val st: Statistics[_] = cc.getStatistics
            val (rows0, min0, max0) = acc.getOrElse(name, (0L, None, None))
            val (mn, mx): (Option[Any], Option[Any]) =
              if (st == null || !st.hasNonNullValue) (min0, max0)
              else {
                def ext(v: Any): Any = v match {
                  case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
                  case i: java.lang.Integer => i.longValue
                  case other => other
                }
                (better(min0, ext(st.genericGetMin), takeMin = true),
                  better(max0, ext(st.genericGetMax), takeMin = false))
              }
            acc(name) = (rows0 + block.getRowCount, mn, mx)
          }
        } finally r.close()
      }
    }
    import org.apache.spark.sql.types.{DoubleType, TimestampType}
    val rows = schema.fields.toIndexedSeq.map { fld =>
      val (n, mn, mx) = acc.getOrElse(fld.name, (0L, None, None))
      def norm(v: Option[Any]): String = v.map {
        case d: Double if fld.dataType == DoubleType =>
          math.floor(d * 100).toLong.toString
        case l: Long if fld.dataType == TimestampType => l.toString // micros
        case other => other.toString
      }.orNull
      (fld.name, n, norm(mn), norm(mx))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1))
      .toDF("col_name", "n_rows", "min_norm", "max_norm")
  }

  /** Merged multi-table export (SET1/W7): date-suffixed table slices
    * unioned into one artifact with projection + filter pushed to each
    * scan (external_simple.go:252-388). Year slices stand in for the
    * `_YYYY` suffixed tables; at scale each slice is a pruned partition
    * so non-overlapping years are never read (PR1). */
  def mergedYearExport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .filter(col("l_quantity") > 25.0)
    val y1996 = li.filter(graft.Tables.inYear(col("l_shipdate"), 1996))
    val y1997 = li.filter(graft.Tables.inYear(col("l_shipdate"), 1997))
    y1996.unionByName(y1997)
  }

  /** JSON field extraction + numeric coercion (F7/F10,
    * query_counter.go:185-244): pull props.k, bucket by k/10. */
  def jsonKBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(floor(col("k") / 10).cast("bigint").as("k_bucket"))
      .agg(count(lit(1)).as("n"))

  /** Group-by daily sync stats (A3, sync_handler.go:452-462):
    * MAX(c)-MIN(c) per group as "synced today". Orders per customer
    * segmented by status stands in for monitoring_log per table. */
  def dailySyncStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(max(col("o_totalprice")) - min(col("o_totalprice")), 2).as("spread"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        max(col("o_orderdate")).as("last_at"),
        count(lit(1)).as("n"))

  /** Multidimensional rollup — `CUBE(status, priority)` with counts
    * and EXACT revenue: totalprice fixes to integer cents
    * (`round(p·100)` — 2-dp money, so the product is near-integer and
    * tie-free) before summing, because a double Σ over a shuffle is
    * order-dependent in its last ulp and would flap the oracle hash.
    *
    * Scale shape: cube over two low-cardinality dims is a single
    * partial-aggregated pass (Spark expands grouping sets map-side);
    * output is |status|·|priority| + margins, independent of fact
    * size. */
  def orderCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))

  /** Top customers by discounted revenue — the classic 3-way
    * fact-to-dim chain (lineitem ⋈ orders ⋈ customer) with an exact
    * money sum: `price·(1−discount)` must NOT round as a double
    * (4-dp money × 100 lands on .5 ties that split HALF_UP vs
    * half-even); instead price→cents and discount→whole percent
    * convert exactly (2-dp inputs, tie-free), and revenue accumulates
    * as INTEGER cent-percents.
    *
    * Scale shape: lineitem⋈orders shuffles on the orderkey both sides
    * already cluster by; the customer dim broadcasts; the final top-k
    * is TakeOrdered. Filters (shipped-1996 lines) reach the parquet
    * scan. */
  def topCustomerRevenue(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val rev = (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("rev_cp")
    val li = Tables(spark, dir, "lineitem")
      .filter(graft.Tables.inYear(col("l_shipdate"), 1996))
      .select(col("l_orderkey").as("o_orderkey"), rev)
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    li.join(ord, Seq("o_orderkey"))
      .join(broadcast(cust), Seq("o_custkey"))
      .groupBy(col("o_custkey").as("c_custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_cp")).as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("c_custkey").asc).limit(k)
  }

  /** Daily event-type pivot: one row per day, one count column per
    * known type — the wide activity matrix dashboards read. The value
    * list is EXPLICIT so the plan is a single pass (no
    * distinct-values discovery job) and the schema is stable when a
    * type is absent that day (coalesced 0, matching the oracle's
    * filtered counts). */
  val EventTypes: Seq[String] = Seq("signup", "view", "click", "purchase", "error")
  /** Column-profile report — the data-validation pass a pipeline runs
    * before trusting a new table drop: per column, row/null/distinct
    * counts and typed min/max. ONE scan: every column's aggregates
    * compute in a single `agg` (Spark expands the multi-distinct into
    * one Expand pass), then the 1-row result unpivots to a row per
    * column — no per-column rescan, no driver-side loop over data.
    *
    * min/max normalize to cross-engine-deterministic string forms:
    * integers/strings verbatim, doubles as floor-cent integers (the
    * tie-free convention — raw double→string shortest-repr printing is
    * engine-specific), timestamps as epoch micros. */
  def profileTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, TimestampType}
    val df = Tables(spark, dir, table)
    def basis(f: org.apache.spark.sql.types.StructField): Column = f.dataType match {
      case DoubleType    => floor(col(f.name) * 100).cast("long")
      case TimestampType => unix_micros(col(f.name))
      case _             => col(f.name)
    }
    val aggs = df.schema.fields.flatMap { f =>
      val b = basis(f)
      Seq(count(col(f.name)).as(s"_cnt_${f.name}"),
        count_distinct(col(f.name)).as(s"_dst_${f.name}"),
        min(b).cast("string").as(s"_min_${f.name}"),
        max(b).cast("string").as(s"_max_${f.name}"))
    }
    val total = count(lit(1)).as("_rows")
    val one = df.agg(total, aggs.toIndexedSeq: _*)
    val perCol = array(df.schema.fields.map { f =>
      struct(lit(f.name).as("col_name"),
        col("_rows").as("n_rows"),
        (col("_rows") - col(s"_cnt_${f.name}")).as("n_nulls"),
        col(s"_dst_${f.name}").as("n_distinct"),
        col(s"_min_${f.name}").as("min_norm"),
        col(s"_max_${f.name}").as("max_norm"))
    }.toIndexedSeq: _*)
    one.select(explode(perCol).as("p")).select("p.*")
  }

  /** [[profileTable]]'s scale form: distinct counts come from the
    * md5-HLL aggregate ([[graft.functions.HllCard]]) instead of
    * `count_distinct`, so the WHOLE profile is one plain aggregate
    * pass — NO Expand. The exact profiler plans one Expand row-copy
    * per distinct aggregate (~10× input inflation at 9 columns, the
    * first thing a 100× scale-up hurts); here every column's sketch
    * is a fixed 256-byte buffer merged map-side, so the shuffle
    * carries one row regardless of table size. The estimate is still
    * oracle-EXACT (not just error-bounded): the DuckDB replay builds
    * the identical registers from the identical md5 hashes — q83's
    * differential-test convention. Exact twin: q99 on the same table.
    *
    * min/max/null counts stay exact (cheap plain aggregates); only
    * the distinct count is sketched — the 100 TB profiler trade. */
  def profileTableApprox(spark: SparkSession, dir: String, table: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, TimestampType}
    val df = Tables(spark, dir, table)
    def basis(f: org.apache.spark.sql.types.StructField): Column = f.dataType match {
      case DoubleType    => floor(col(f.name) * 100).cast("long")
      case TimestampType => unix_micros(col(f.name))
      case _             => col(f.name)
    }
    val aggs = df.schema.fields.flatMap { f =>
      val b = basis(f)
      Seq(count(col(f.name)).as(s"_cnt_${f.name}"),
        graft.functions.HllCard.hllCard(b.cast("string")).as(s"_hll_${f.name}"),
        min(b).cast("string").as(s"_min_${f.name}"),
        max(b).cast("string").as(s"_max_${f.name}"))
    }
    val one = df.agg(count(lit(1)).as("_rows"), aggs.toIndexedSeq: _*)
    val perCol = array(df.schema.fields.map { f =>
      struct(lit(f.name).as("col_name"),
        col("_rows").as("n_rows"),
        (col("_rows") - col(s"_cnt_${f.name}")).as("n_nulls"),
        round(Sketches.hllEstimate(col(s"_hll_${f.name}").getField("m_hit"),
          col(s"_hll_${f.name}").getField("sumpow")), 2).as("est_distinct"),
        col(s"_min_${f.name}").as("min_norm"),
        col(s"_max_${f.name}").as("max_norm"))
    }.toIndexedSeq: _*)
    one.select(explode(perCol).as("p")).select("p.*")
  }

  def eventPivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day")).pivot("event_type", EventTypes).agg(count(lit(1)))
      .select(col("day") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)

  /** Period-over-period revenue: monthly lineitem revenue per nation
    * with the month-over-month delta and an integer-micro-unit growth
    * ratio — the BI trend face (every dashboard's "vs last month").
    * Money stays in exact integer cent-percents end to end (a double
    * SUM is shuffle-order-dependent); the growth ratio divides AFTER
    * the lag so it is a pure per-row expression over the aggregated
    * frame. One aggregate (nation × month — output is
    * calendar-bounded), one tiny window over it. */
  def revenueTrend(spark: SparkSession, dir: String): DataFrame = {
    val revCp = (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("rev_cp")
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        date_trunc("month", col("l_shipdate")).cast("date").as("month"), revCp)
    val ord = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("n_nationkey"))
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val monthly = li.join(ord, Seq("o_orderkey"))
      .join(broadcast(cust), Seq("o_custkey"))
      .join(broadcast(nation), Seq("n_nationkey"))
      .groupBy(col("n_name"), col("month"))
      .agg(sum(col("rev_cp")).as("revenue_cp"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("month"))
    monthly
      .withColumn("prev_cp", lag(col("revenue_cp"), 1).over(w))
      .withColumn("delta_cp", col("revenue_cp") - coalesce(col("prev_cp"), lit(0L)))
      .withColumn("growth_u",
        when(col("prev_cp").isNull || col("prev_cp") === 0L, lit(null))
          .otherwise(expr("CAST(revenue_cp AS DECIMAL(38, 0)) * 1000000 div prev_cp")))
      .select("n_name", "month", "revenue_cp", "delta_cp", "growth_u")
  }

  /** Calendar gap-filling: the daily per-type count series with
    * MISSING days materialized as zeros — the resample/densify step
    * every monitoring chart and time-series model consumes (a day with
    * no errors must plot as 0, not vanish). The date spine derives
    * in-plan from the table's own bounds (1-row aggregate → `sequence`
    * explode — calendar-sized, never data-sized), types fan out from
    * the literal list (an array explode, NOT a cross join — the plan
    * stays nested-loop-free), and the observed counts left-join in. */
  def dailySpineCounts(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val daily = d.groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("n"))
    val spine = d.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .select(col("day"), explode(lit(EventTypes.toArray)).as("event_type"))
    spine.join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** Data-quality gate over the orders table: the validation rules a
    * pipeline runs before trusting a drop, uniformly expressed as
    * VIOLATION COUNTS (pass ⇔ 0) so one schema serves every rule —
    * completeness (null keys), domain (status values), range
    * (nonnegative money, date window), uniqueness (key collisions).
    * ONE scan, one aggregate row, unpivoted to a row per rule (the
    * [[profileTable]] shape); the engine's alert face can key off any
    * failed row. */
  def dqReport(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val one = o.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("o_custkey"))).as("null_custkey"),
      count(when(col("o_totalprice") < 0, lit(1))).as("negative_price"),
      (count(lit(1)) - count_distinct(col("o_orderkey"))).as("duplicate_orderkey"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), lit(1))).as("bad_status"),
      count(when(to_date(col("o_orderdate")) < lit("1995-01-01").cast("date") ||
        to_date(col("o_orderdate")) >= lit("2002-01-01").cast("date"), lit(1)))
        .as("date_out_of_window"))
    val rules = Seq("null_custkey", "negative_price", "duplicate_orderkey",
      "bad_status", "date_out_of_window")
    one.select(col("n_rows"), explode(array(rules.map(r =>
        struct(lit(r).as("rule"), col(r).as("violations"))).toIndexedSeq: _*)).as("v"))
      .select(col("v.rule").as("rule"), col("n_rows"),
        col("v.violations").as("violations"),
        (col("v.violations") === 0L).as("passed"))
  }

  /** Distribution drift between two crawl versions: the Population
    * Stability Index over the document-length distribution, per
    * bucket — the ML-ops gate that catches "the new crawl's documents
    * are suddenly shorter" before a model trains on it. Versions are
    * the q103 derivation (deterministic, both engines identical).
    *
    * Determinism contract: proportions are Laplace-smoothed integer
    * MICRO-UNITS ((n+1)·1e6 div (total+buckets) — exact integers, no
    * summation-order drift), the log ratio pins to the 1e-6 grid
    * (the q65 ln-rounding pattern), and each bucket's PSI term rounds
    * at 4 dp. Two tiny aggregates (≤10 buckets each) + a bucket-keyed
    * join: the scans dominate, everything after is metadata-sized. */
  def driftPsi(spark: SparkSession, dir: String, buckets: Int = 10,
      width: Int = 64): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    def hist(df: DataFrame, n: String) = df
      .select(least(lit(buckets - 1), (col("n_chars") / width).cast("long")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(n))
    val old = hist(docs.filter(pmod(col("doc_id"), lit(11)) =!= 3), "n_old")
    val neu = hist(docs.filter(pmod(col("doc_id"), lit(13)) =!= 5), "n_new")
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    val joined = spine
      .join(old, Seq("bucket"), "left").join(neu, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    joined
      .withColumn("p_u", expr(s"(n_old + 1) * 1000000 div (sum(n_old) over () + $buckets)"))
      .withColumn("q_u", expr(s"(n_new + 1) * 1000000 div (sum(n_new) over () + $buckets)"))
      .withColumn("psi_term", round((col("q_u") - col("p_u")).cast("double") / 1e6 *
        round(log(col("q_u").cast("double") / col("p_u").cast("double")), 6), 6))
      .select("bucket", "n_old", "n_new", "p_u", "q_u", "psi_term")
  }

  /** Row-level snapshot diff: two versions of a keyed table reconciled
    * to added / removed / changed / unchanged per key — the content
    * face of the J4 count comparison (counts say THAT snapshots
    * diverge; this says WHERE). Inputs carry (key, content_md5): the
    * hash is computed at the scan so only (key, 32-char hash) rows
    * ever enter the join — a full-outer merge on the key, one shuffle
    * per side, or zero when both snapshots are bucketed by key on
    * disk. At 100 TB this is the incremental-crawl reconciliation
    * pass: its output drives which documents re-enter the dedup/
    * curation pipeline. */
  def contentDiff(oldSnap: DataFrame, newSnap: DataFrame, key: String): DataFrame =
    oldSnap.select(col(key), col("content_md5").as("old_md5"))
      .join(newSnap.select(col(key), col("content_md5").as("new_md5")),
        Seq(key), "full_outer")
      .select(col(key),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_md5"), col("new_md5"))

  /** [[contentDiff]] driven by two deterministic crawl versions derived
    * from the documents table (old = drop doc_id ≡ 3 mod 11; new =
    * drop ≡ 5 mod 13, revise text of ≡ 2 mod 17) — every status arm
    * populated, both engines derive identical versions. */
  def corpusSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    contentDiff(
      docs.filter(pmod(col("doc_id"), lit(11)) =!= 3)
        .select(col("doc_id"), md5(col("text")).as("content_md5")),
      docs.filter(pmod(col("doc_id"), lit(13)) =!= 5)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(17)) === 2,
              concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("content_md5")),
      "doc_id")
  }

  /** Day-of-week seasonality profile — per (ISO weekday, event type):
    * event count and its share of that weekday's traffic in floor
    * micro-units. The weekly-rhythm baseline a monitor compares a live
    * day against ("Tuesdays are 18% purchases") — and the calendar
    * prior a traffic-anomaly rule needs before it can call a quiet
    * Sunday normal. Weekday basis is Monday=1 on BOTH engines (Spark
    * `weekday(ts)+1`, DuckDB `isodow`); the share's windowed SUM is
    * BIGINT-cast in the oracle (the HUGEINT lesson). One
    * map-side-combined aggregate; the share window runs over the
    * 7 × types result frame. */
  def dowProfile(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(expr("weekday(ts) + 1").as("dow"), col("event_type"))
      .groupBy(col("dow"), col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("share_micro",
        expr("(n * 1000000) div sum(n) OVER (PARTITION BY dow)"))

  /** TPC-H Q15 shape — the top supplier(s) by shipped revenue: revenue
    * folds per supplier in floor-cents, and the winners are selected
    * against an UNCORRELATED `max` scalar subquery over the same
    * aggregate — ties all surface (the Q15 contract), and both the
    * aggregate and its max run ONE shuffle on l_suppkey (the scalar
    * subquery reuses nothing corpus-sized; its input is the
    * suppliers-count aggregate). Joined to supplier names via a
    * broadcast dim. */
  def topSupplierRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_q133_lineitem")
    Tables(spark, dir, "supplier").createOrReplaceTempView("graft_q133_supplier")
    spark.sql(
      """WITH r AS (SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |             AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM graft_q133_lineitem GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.revenue_cents
        |FROM r JOIN graft_q133_supplier s ON s.s_suppkey = r.l_suppkey
        |WHERE r.revenue_cents = (SELECT max(revenue_cents) FROM r)""".stripMargin)
  }

  /** TPC-H Q17 shape — "small-quantity order revenue": lineitems whose
    * quantity is below 20% of their part's average quantity, summed as
    * yearly-average revenue. Written as the CORRELATED SCALAR SUBQUERY
    * a user would write, on purpose: Catalyst decorrelates both
    * subqueries into per-part aggregates joined on the equality
    * correlate — the declarative form plans the same equi-join +
    * aggregate a hand-rewritten version would, and the global PlanSpec
    * cartesian sweep pins that no nested loop survives.
    *
    * Exactness: the 20%-of-average threshold is the rational
    * comparison 5·qty·n < Σqty over BIGINTs (never a float boundary),
    * and revenue folds as floor-cents (the q91 money convention).
    * Scale: two shuffles on l_partkey (or one, when the optimizer
    * merges the sibling subqueries), key cardinality grows with the
    * table — no hot key, no driver-side work. */
  /** TPC-H Q4 shape — late-shipment order counts by priority, written
    * as the EXISTS subquery a user writes: the correlation carries
    * BOTH the key equality and a date inequality referencing the
    * outer row, and Catalyst rewrites the whole predicate to ONE
    * left-semi join (equality as the join key, the inequality as its
    * residual) — the semi-join twin of q129's scalar decorrelation.
    * The global PlanSpec sweep pins that no nested loop survives.
    * Scale: one shuffle pair on the order key; the semi join never
    * widens orders. */
  def lateOrdersByPriority(spark: SparkSession, dir: String,
      lagDays: Int = 90): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_q131_orders")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_q131_lineitem")
    spark.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
         |FROM graft_q131_orders o
         |WHERE EXISTS (SELECT 1 FROM graft_q131_lineitem l
         |              WHERE l.l_orderkey = o.o_orderkey
         |                AND l.l_shipdate > o.o_orderdate + INTERVAL '$lagDays' DAY)
         |GROUP BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q22 shape — "rich customers without a big order", per
    * market segment — the churn/upsell report: two UNCORRELATED scalar subqueries (planned as
    * `ScalarSubquery` literals, never a 1-row join) supply the
    * above-average test as the exact rational `cents·N > Σcents`
    * (floor-cents, no float boundary), and the "never placed a big
    * order" test is a NOT EXISTS the optimizer plans as a left-anti
    * join (with the price bound pushed into the anti side's scan) — the third
    * subquery family beside q129's scalar-correlated and q131's
    * EXISTS. Scale: one anti-join shuffle pair on the customer key;
    * the balance aggregate is one map-side-combined scan. */
  def inactiveRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_q132_customer")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_q132_orders")
    spark.sql(
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM graft_q132_customer)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM c
        |WHERE cents * (SELECT CAST(count(*) AS BIGINT) FROM c WHERE cents > 0)
        |      > (SELECT CAST(sum(cents) AS BIGINT) FROM c WHERE cents > 0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q132_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 250000.0)
        |GROUP BY c_mktsegment""".stripMargin)
  }

  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_q129_lineitem")
    spark.sql(
      """WITH l AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM graft_q129_lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(cents) AS BIGINT) div 7 AS avg_yearly_cents
        |FROM l
        |WHERE q * 5 * (SELECT count(*) FROM l x WHERE x.l_partkey = l.l_partkey)
        |      < (SELECT sum(x.q) FROM l x WHERE x.l_partkey = l.l_partkey)""".stripMargin)
  }

  /** YEAR-OVER-YEAR seasonality — the calendar axis q113's MoM trend
    * doesn't cover: per (year, month) over the seven-year order
    * stream, floor-cents revenue, the month's share of its YEAR, and
    * growth vs the SAME MONTH a year earlier (the seasonality-honest
    * comparison — January vs January, never January vs December).
    * Integer micro ratios; a month with no prior-year twin reports
    * NULL growth. One scan, a (years × 12)-sized rollup, two windows
    * over that rollup. */
  def yoySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("yr"), col("mo")).agg(sum(col("cents")).as("rev_cents"),
        count(lit(1)).as("n_orders"))
    monthly
      .withColumn("year_total", sum(col("rev_cents")).over(
        Window.partitionBy(col("yr"))))
      .withColumn("prior_year_cents", lag(col("rev_cents"), 1).over(
        Window.partitionBy(col("mo")).orderBy(col("yr"))))
      .select(col("yr"), col("mo"), col("n_orders"), col("rev_cents"),
        expr("CAST(rev_cents AS DECIMAL(38, 0)) * 1000000 div year_total")
          .as("year_share_micro"),
        expr("CAST(rev_cents AS DECIMAL(38, 0)) * 1000000 div prior_year_cents")
          .as("yoy_micro"))
  }

  /** HOLT DOUBLE-EXPONENTIAL SMOOTHING over the daily revenue spine —
    * the RECURSIVE time-series primitive the window family can't
    * express: q211's OLS fits one global line and q165's YoY compares
    * fixed lags, but level/trend smoothing carries STATE day to day
    * (levelₜ = α·xₜ + (1−α)·(levelₜ₋₁ + trendₜ₋₁); trendₜ =
    * β·(levelₜ − levelₜ₋₁) + (1−β)·trendₜ₋₁), which no per-row window
    * frame computes. α = β = 1/4 as exact integer shifts on the cent
    * grid: level' = (x + 3·(level + trend)) div 4, trend' =
    * (level' − level + 3·trend) div 4 — `div` truncates toward zero
    * exactly like the oracle's `//`, so a NEGATIVE trend stays
    * bit-equal cross-engine (floor semantics would diverge). Output:
    * h = 0..horizon forecast ladder, levelₜ + h·trendₜ.
    *
    * Scale: the only corpus-sized work is the daily rollup (one
    * map-side-combined aggregate); the fold then runs over the
    * BOUNDED day spine (≤ a few thousand elements — calendar-sized,
    * not corpus-sized) collected into ONE array row and folded with
    * the native `aggregate` higher-order expression — sequential by
    * nature, sequential in cost, and the sequence it walks cannot be
    * parallelized without changing the answer. */
  def holtForecast(spark: SparkSession, dir: String,
      horizon: Int = 7): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
    val series = daily.agg(
      count(lit(1)).as("n_days"),
      // day keys are unique per group, so the struct sort is total
      transform(sort_array(collect_list(struct(col("d"), col("cents")))),
        x => x.getField("cents")).as("xs"))
    val st = series.select(col("n_days"),
      expr("""aggregate(slice(xs, 2, size(xs) - 1),
        named_struct('lv', xs[0], 'tr', CAST(0 AS BIGINT)),
        (acc, x) -> named_struct(
          'lv', (x + 3 * (acc.lv + acc.tr)) div 4,
          'tr', ((x + 3 * (acc.lv + acc.tr)) div 4 - acc.lv + 3 * acc.tr)
            div 4))""").as("st"))
    st.select(explode(sequence(lit(0), lit(horizon))).as("h"),
        col("n_days"), col("st.lv").as("level_cents"),
        col("st.tr").as("trend_cents"))
      .select(col("h").cast("long").as("h"), col("n_days"),
        col("level_cents"), col("trend_cents"),
        (col("level_cents") + col("h") * col("trend_cents"))
          .as("forecast_cents"))
      .orderBy(col("h").asc)
  }

  /** HOLT-WINTERS ADDITIVE forecast, weekly period — the seasonal face
    * of [[holtForecast]]: plain Holt smooths THROUGH the day-of-week
    * cycle, so its h-step ladder is blind to the fact that a Sunday
    * forecast should differ from a Tuesday one. The state here is
    * (level, trend, s[0..6]); at each day with weekday slot
    * w = daysSinceEpochMonday mod 7 (calendar-convention-free — both
    * engines derive it as datediff from a fixed Monday, never from
    * their different dayofweek numberings):
    * level' = (x − s[w] + 3·(level + trend)) div 4,
    * trend' = (level' − level + 3·trend) div 4,
    * s[w]'  = (x − level' + 3·s[w]) div 4 (α = β = γ = 1/4 as exact
    * integer shifts on the cent grid, `div` ≙ `//` truncation).
    * Seasonals found at 0 — the first week's observations load the
    * slots; forecast(h) = level + h·trend + s[(w_last + h) mod 7].
    *
    * Scale: identical to [[holtForecast]] — one map-combined daily
    * rollup is the only corpus-sized work; the fold walks the
    * calendar-bounded spine inside one `aggregate` expression whose
    * state is 9 integers. */
  def holtWintersForecast(spark: SparkSession, dir: String,
      horizon: Int = 7): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
      // 1995-01-02 is a Monday; pmod keeps pre-epoch dates safe
      .select(col("d"),
        pmod(datediff(col("d"), lit("1995-01-02").cast("date")), lit(7))
          .as("dow"), col("cents"))
    val series = daily.agg(
      count(lit(1)).as("n_days"), max(col("d")).as("d_max"),
      // day keys are unique per group, so the struct sort is total
      transform(sort_array(collect_list(struct(col("d"), col("dow"),
          col("cents")))),
        x => struct(x.getField("dow").as("w"), x.getField("cents").as("x")))
        .as("xs"))
    // the lambda can't name an intermediate, so level' repeats inline
    // in the trend and seasonal updates — same fold, spelled thrice
    val st = series.select(col("n_days"), col("d_max"),
      expr("""aggregate(slice(xs, 2, size(xs) - 1),
        named_struct('lv', xs[0].x, 'tr', CAST(0 AS BIGINT),
          's', array_repeat(CAST(0 AS BIGINT), 7)),
        (acc, e) -> named_struct(
          'lv', (e.x - acc.s[e.w] + 3 * (acc.lv + acc.tr)) div 4,
          'tr', ((e.x - acc.s[e.w] + 3 * (acc.lv + acc.tr)) div 4
            - acc.lv + 3 * acc.tr) div 4,
          's', transform(acc.s, (v, i) -> IF(i = e.w,
            (e.x - (e.x - acc.s[e.w] + 3 * (acc.lv + acc.tr)) div 4
              + 3 * v) div 4, v))))""").as("st"))
    st.select(explode(sequence(lit(1), lit(horizon))).as("h"),
        col("n_days"), col("d_max"), col("st.lv").as("level_cents"),
        col("st.tr").as("trend_cents"), col("st.s").as("s"))
      .select(col("h").cast("long").as("h"), col("n_days"),
        col("level_cents"), col("trend_cents"),
        expr("s[CAST(pmod(datediff(d_max, DATE '1995-01-02') + h, 7)" +
          " AS INT)]").as("seasonal_cents"))
      .select(col("h"), col("n_days"), col("level_cents"),
        col("trend_cents"), col("seasonal_cents"),
        (col("level_cents") + col("h") * col("trend_cents") +
          col("seasonal_cents")).as("forecast_cents"))
      .orderBy(col("h").asc)
  }

  /** AUTOCORRELATION ladder of the daily revenue series, lags 1..14 —
    * the memory diagnostic read BEFORE trusting any smoother: Holt's
    * α only makes sense if adjacent days correlate, and the lag-7 rung
    * is the direct test of the weekly seasonality [[holtWintersForecast]]
    * models. Exact integer end-to-end: deviations are taken from the
    * FLOORED mean (m = S div n — a documented sub-cent bias bounded by
    * 1 cent, the price of never leaving the integer grid), and
    * acf(L) = Σ devᵗ·devᵗ⁺ᴸ · 10⁶ div Σ dev² — numerators are signed
    * and `div` ≙ `//` truncate identically. Deviations ride
    * Decimal(38) ≙ HUGEINT: dev² reaches ~10³⁴ when daily revenue
    * holds 10¹⁷ cents, past int64 but inside both grids.
    *
    * Scale: the daily rollup is the only corpus-sized pass; the
    * lag join and both folds run on the calendar-bounded spine
    * (≤ thousands of rows — the one window is over that spine, not
    * the corpus). */
  def autocorrelation(spark: SparkSession, dir: String,
      maxLag: Int = 14): DataFrame = {
    val daily = PlanCache.tracked(Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents")))
    val stats = daily.agg(count(lit(1)).as("n_days"),
      sum(col("cents")).as("s"))
    val dev = PlanCache.tracked(daily
      .select(row_number().over(Window.orderBy(col("d"))).as("i"),
        col("cents"))
      .transform(Scalars.attach(_, stats, col("cents"), col("n_days")))
      .select(col("i"), (col("cents") - expr("s div n_days")).as("dev"),
        col("n_days")))
    val den = dev.agg(sum(expr("CAST(dev AS DECIMAL(38,0)) * dev"))
      .as("den"))
    dev
      .select(col("i"), col("dev"), col("n_days"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .join(dev.select(col("i").as("j"), col("dev").as("dev2")),
        col("j") === col("i") + col("lag"))
      .groupBy(col("lag"), col("n_days"))
      .agg(sum(expr("CAST(dev AS DECIMAL(38,0)) * dev2")).as("num"))
      .transform(Scalars.attach(_, den, col("num"), col("den")))
      .select(col("lag").cast("long").as("lag"), col("n_days"),
        // greatest(den, 1): a constant daily series has den = 0 and
        // every num = 0 — the guard keeps both engines at 0 instead of
        // Spark NULL vs DuckDB division-by-zero error (holtBacktest's
        // naive_mae discipline)
        expr("CAST(num * 1000000 div greatest(den, 1) AS BIGINT)")
          .as("acf_micro"))
      .orderBy(col("lag").asc)
  }

  /** HOLT ONE-STEP BACKTEST — the EVAL face of the forecasting family
    * (q264 fits, q269 adds seasonality, q273 describes; this one asks
    * "was the smoother any GOOD"): walk the day spine once, and at
    * each day score the one-step-ahead forecast made BEFORE seeing it
    * — Holt's (level + trend) against the naive carry-forward
    * yesterday's-value baseline — then fold the absolute errors.
    * Skill = (naive_mae − holt_mae)·10⁶ div naive_mae: positive means
    * the smoother beats persistence, the first bar any forecaster
    * must clear (and the one most fail on near-random-walk series).
    * All integer cents; `div` ≙ `//` truncation.
    *
    * Scale: the q264 posture — one corpus-sized daily rollup, then a
    * single `aggregate` fold over the calendar-bounded spine carrying
    * five integers of state. */
  def holtBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
    val series = daily.agg(count(lit(1)).as("n_days"),
      transform(sort_array(collect_list(struct(col("d"), col("cents")))),
        x => x.getField("cents")).as("xs"))
    series.select(col("n_days"),
        expr("""aggregate(slice(xs, 2, size(xs) - 1),
          named_struct('lv', xs[0], 'tr', CAST(0 AS BIGINT),
            'he', CAST(0 AS BIGINT), 'ne', CAST(0 AS BIGINT),
            'px', xs[0]),
          (acc, x) -> named_struct(
            'lv', (x + 3 * (acc.lv + acc.tr)) div 4,
            'tr', ((x + 3 * (acc.lv + acc.tr)) div 4 - acc.lv + 3 * acc.tr)
              div 4,
            'he', acc.he + abs(x - (acc.lv + acc.tr)),
            'ne', acc.ne + abs(x - acc.px),
            'px', x))""").as("st"))
      .filter(col("n_days") > 1)
      .select(col("n_days"),
        expr("CAST(st.he div (n_days - 1) AS BIGINT)").as("holt_mae_cents"),
        expr("CAST(st.ne div (n_days - 1) AS BIGINT)").as("naive_mae_cents"),
        // mae on the cent grid: the micro ratio needs the raw sums
        expr("CAST((st.ne - st.he) * 1000000 div greatest(st.ne, 1)" +
          " AS BIGINT)").as("skill_micro"))
  }

  /** HOLT-WINTERS ONE-STEP BACKTEST — q275's eval face widened to the
    * SEASONAL forecaster: walk the day spine once carrying BOTH
    * smoothers (plain Holt level+trend and Holt-Winters level+trend+
    * 7-slot weekly seasonals, q269's exact integer grid) plus the
    * naive carry-forward, scoring each model's one-step-ahead
    * forecast BEFORE the day lands. Readout: the three MAEs,
    * HW-vs-naive skill, and HW-vs-Holt skill — the "did seasonality
    * buy anything" row a forecaster consumer reads before preferring
    * q269 over q264 (on a weekly-cycled revenue series HW should
    * claim most of what Holt leaves on the table; on a cycle-free
    * series the two converge and the second skill reads ~0).
    *
    * Scale: the q264 posture — one map-combined corpus-sized daily
    * rollup, then a single `aggregate` fold over the calendar-bounded
    * spine carrying fourteen integers of state. */
  def holtWintersBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
      .select(col("d"),
        pmod(datediff(col("d"), lit("1995-01-02").cast("date")), lit(7))
          .as("dow"), col("cents"))
    val series = daily.agg(count(lit(1)).as("n_days"),
      transform(sort_array(collect_list(struct(col("d"), col("dow"),
          col("cents")))),
        x => struct(x.getField("dow").as("w"), x.getField("cents").as("x")))
        .as("xs"))
    // the lambda can't name an intermediate, so HW's level' repeats
    // inline in its trend/seasonal updates (the q269 spelling); the
    // error terms read the PRE-update state — a forecast must be
    // scored on what the model knew yesterday
    val st = series.select(col("n_days"),
      expr("""aggregate(slice(xs, 2, size(xs) - 1),
        named_struct('lv', xs[0].x, 'tr', CAST(0 AS BIGINT),
          's', array_repeat(CAST(0 AS BIGINT), 7),
          'hlv', xs[0].x, 'htr', CAST(0 AS BIGINT),
          'he', CAST(0 AS BIGINT), 'we', CAST(0 AS BIGINT),
          'ne', CAST(0 AS BIGINT), 'px', xs[0].x),
        (acc, e) -> named_struct(
          'lv', (e.x - acc.s[e.w] + 3 * (acc.lv + acc.tr)) div 4,
          'tr', ((e.x - acc.s[e.w] + 3 * (acc.lv + acc.tr)) div 4
            - acc.lv + 3 * acc.tr) div 4,
          's', transform(acc.s, (v, i) -> IF(i = e.w,
            (e.x - (e.x - acc.s[e.w] + 3 * (acc.lv + acc.tr)) div 4
              + 3 * v) div 4, v)),
          'hlv', (e.x + 3 * (acc.hlv + acc.htr)) div 4,
          'htr', ((e.x + 3 * (acc.hlv + acc.htr)) div 4
            - acc.hlv + 3 * acc.htr) div 4,
          'he', acc.he + abs(e.x - (acc.hlv + acc.htr)),
          'we', acc.we + abs(e.x - (acc.lv + acc.tr + acc.s[e.w])),
          'ne', acc.ne + abs(e.x - acc.px),
          'px', e.x))""").as("st"))
    st.filter(col("n_days") > 1)
      .select(col("n_days"),
        expr("CAST(st.we div (n_days - 1) AS BIGINT)").as("hw_mae_cents"),
        expr("CAST(st.he div (n_days - 1) AS BIGINT)").as("holt_mae_cents"),
        expr("CAST(st.ne div (n_days - 1) AS BIGINT)").as("naive_mae_cents"),
        expr("CAST((st.ne - st.we) * 1000000 div greatest(st.ne, 1)" +
          " AS BIGINT)").as("hw_skill_micro"),
        expr("CAST((st.he - st.we) * 1000000 div greatest(st.he, 1)" +
          " AS BIGINT)").as("hw_vs_holt_micro"))
  }

  /** STL-LITE DECOMPOSITION of the daily revenue series — the
    * DESCRIPTIVE face beside the Holt-Winters FORECASTER (q269 fits a
    * model forward; this splits history into parts a human reads):
    * trend = centered 7-day moving average (integer: window-sum div
    * window-count, edges use the shorter window they actually have),
    * seasonal = per-weekday mean of the detrended series (sum div
    * count — the floored-mean discipline of q266, bias ≤ 1 cent),
    * residual = the exact remainder, so the three parts RECOMPOSE to
    * the original cents bit-for-bit minus nothing: cents = trend +
    * seasonal + residual by construction on both engines.
    *
    * Scale: one corpus-sized daily rollup; the moving average,
    * weekday means, and remainder all run on the calendar-bounded
    * spine (the q264/q266 posture). */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
      .select(col("d"),
        pmod(datediff(col("d"), lit("1995-01-02").cast("date")), lit(7))
          .as("dow"), col("cents"))
    val trended = PlanCache.tracked(daily
      .withColumn("trend_cents",
        expr("CAST(sum(cents) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING" +
          " AND 3 FOLLOWING) div count(cents) OVER (ORDER BY d ROWS" +
          " BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)"))
      .withColumn("detr", col("cents") - col("trend_cents")))
    val seasonal = trended.groupBy(col("dow"))
      .agg(expr("CAST(sum(detr) div count(1) AS BIGINT)")
        .as("seasonal_cents"))
    trended.join(broadcast(seasonal), Seq("dow"))
      .select(col("d"), col("cents"), col("trend_cents"),
        col("seasonal_cents"),
        (col("cents") - col("trend_cents") - col("seasonal_cents"))
          .as("residual_cents"))
      .orderBy(col("d").asc)
  }

  /** SEASONALITY / TREND STRENGTH — Hyndman's F-measures over the q273
    * decomposition, the one-row diagnostic that says whether the
    * weekly forecaster (q269) and the trend smoothers (q264/q280) have
    * anything to model: F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) — near 10⁶ micro means the
    * component explains almost everything, near 0 means fitting noise.
    * Fully integer: variances use the n·Σx² − (Σx)² moment form on
    * Decimal(38) ≙ HUGEINT and the ratio is ONE exact integer division
    * — no doubles anywhere. Moments fold on the DOLLAR grid
    * (cents div 100, truncation identical cross-engine), which keeps
    * n·Σx²·10⁶ inside Decimal(38) up to ~10¹² dollars/day.
    *
    * Scale: q273's posture — one daily rollup, then folds on the
    * calendar-bounded spine. */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val parts = stlDecompose(spark, dir)
      .select(expr("residual_cents div 100").as("r"),
        expr("(seasonal_cents + residual_cents) div 100").as("sr"),
        expr("(trend_cents + residual_cents) div 100").as("tr"))
    parts.agg(count(lit(1)).as("n"),
        sum(col("r")).as("s_r"),
        sum(col("r").cast(dec) * col("r")).as("q_r"),
        sum(col("sr")).as("s_sr"),
        sum(col("sr").cast(dec) * col("sr")).as("q_sr"),
        sum(col("tr")).as("s_tr"),
        sum(col("tr").cast(dec) * col("tr")).as("q_tr"))
      .select(col("n").as("n_days"),
        expr("""greatest(CAST(0 AS BIGINT),
            1000000 - CAST((n * q_r - CAST(s_r AS DECIMAL(38,0)) * s_r)
              * 1000000
              div greatest(n * q_sr - CAST(s_sr AS DECIMAL(38,0)) * s_sr, 1)
              AS BIGINT))""").as("f_seasonal_micro"),
        expr("""greatest(CAST(0 AS BIGINT),
            1000000 - CAST((n * q_r - CAST(s_r AS DECIMAL(38,0)) * s_r)
              * 1000000
              div greatest(n * q_tr - CAST(s_tr AS DECIMAL(38,0)) * s_tr, 1)
              AS BIGINT))""").as("f_trend_micro"))
  }

  /** TPC-H Q6 shape — forecast revenue change: the revenue that would
    * be gained by eliminating discounts in a band, for one ship year,
    * on small quantities. The canonical single-scan filter+aggregate:
    * every predicate pushes to the parquet scan (date range, discount
    * band, quantity bound), no join, no shuffle beyond the one-row
    * fold. Revenue = Σ price·discount in exact cent·basis-point
    * integer units (price-cents × discount-bp — no float summation
    * order anywhere). */
  def forecastRevenue(spark: SparkSession, dir: String, yearNum: Int = 1996,
      discLo: Double = 0.05, discHi: Double = 0.07, maxQty: Int = 24): DataFrame = {
    val start = java.time.LocalDateTime.of(yearNum, 1, 1, 0, 0)
    val end = java.time.LocalDateTime.of(yearNum + 1, 1, 1, 0, 0)
    Tables.tsWindowScan(spark, dir, "lineitem", "l_shipdate", (start, end),
        inclusiveEnd = false)
      .filter(col("l_discount") >= discLo && col("l_discount") <= discHi &&
        col("l_quantity") < maxQty)
      .select((round(col("l_extendedprice") * 100, 0).cast("long") *
        round(col("l_discount") * 100, 0).cast("long")).as("rev_cbp"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_cbp")).as("revenue_cent_bp"))
  }

  /** REPEAT-CUSTOMER revenue share by year — each order ranks within
    * its customer's lifetime (order date, then key for determinism);
    * rank ≥ 2 revenue is repeat business, and its share of the year's
    * total is the retention-vs-acquisition mix the YoY report can't
    * see. Floor-cents, integer micro share. One customer-keyed window
    * over orders, a years-sized rollup. */
  def repeatRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), year(col("o_orderdate")).as("yr"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        row_number().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))).as("nth"))
    ranked.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("nth") >= 2, 1L).otherwise(0L)).as("n_repeat_orders"),
        sum(col("cents")).as("rev_cents"),
        sum(when(col("nth") >= 2, col("cents")).otherwise(0L)).as("repeat_cents"))
      .select(col("yr"), col("n_orders"), col("n_repeat_orders"),
        col("rev_cents"), col("repeat_cents"),
        expr("CAST(repeat_cents AS DECIMAL(38, 0)) * 1000000 div rev_cents")
          .as("repeat_share_micro"))
  }

  /** TPC-H Q21 shape — "suppliers who kept orders waiting": per
    * finished order, a supplier counts iff its line shipped late
    * (> `lagDays` past the order date), at least one OTHER supplier
    * contributed to the order (EXISTS), and NO other supplier was also
    * late (NOT EXISTS) — sole blame. The hardest decorrelation shape
    * in the family: the same fact table appears three times, once as
    * an EXISTS semi and once as a NOT-EXISTS anti, both correlated on
    * the outer's order key with an ADDITIONAL non-equi predicate
    * (`l_suppkey <>`); written as the verbatim nested form so the
    * optimizer — not the author — turns them into the semi/anti join
    * pair (the PlanSpec no-nested-loop sweep holds it to that).
    * The testdata has no receipt/commit dates; lateness is the
    * q131-precedent ship-vs-order-date lag. Scale: three
    * l_orderkey-keyed shuffles over the one fact table, supplier side
    * broadcastable, aggregate rollup per supplier name. */
  def waitingSuppliers(spark: SparkSession, dir: String,
      lagDays: Int = 60): DataFrame = {
    Tables(spark, dir, "supplier").createOrReplaceTempView("graft_q147_supplier")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_q147_orders")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_q147_lineitem")
    spark.sql(
      s"""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         |FROM graft_q147_supplier s
         |JOIN graft_q147_lineitem l1 ON s.s_suppkey = l1.l_suppkey
         |JOIN graft_q147_orders o ON o.o_orderkey = l1.l_orderkey
         |WHERE o.o_orderstatus = 'F'
         |  AND l1.l_shipdate > o.o_orderdate + INTERVAL '$lagDays' DAY
         |  AND EXISTS (SELECT 1 FROM graft_q147_lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1
         |              FROM graft_q147_lineitem l3
         |              JOIN graft_q147_orders o3 ON o3.o_orderkey = l3.l_orderkey
         |              WHERE l3.l_orderkey = l1.l_orderkey
         |                AND l3.l_suppkey <> l1.l_suppkey
         |                AND l3.l_shipdate > o3.o_orderdate + INTERVAL '$lagDays' DAY)
         |GROUP BY s_name""".stripMargin)
  }

  /** TPC-H Q7 shape — volume shipping between two nations: revenue of
    * lineitems a supplier in one nation shipped to a customer in the
    * other, by direction and ship year. Exercises the canonical
    * snowflake join chain (fact ⋈ orders ⋈ customer ⋈ nation ×2 ⋈
    * supplier) with BOTH nation dims broadcast and the disjunctive
    * nation-pair predicate evaluated after the join (the optimizer
    * pushes each side's IN-list into its dim scan). Floor-cents
    * revenue — no float summation order dependence. */
  def volumeShipping(spark: SparkSession, dir: String,
      nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
    val nations = Tables(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
      .filter(col("n_name").isin(nationA, nationB))
    val supp = Tables(spark, dir, "supplier")
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables(spark, dir, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    li.join(Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("cents")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q3 shape — unshipped-order shipping priority: the top-k
    * open orders by outstanding revenue for one market segment, as of
    * a cut date (ordered before it, lines shipping after it). The
    * classic fact⋈fact⋈dim chain with a top-k head: the segment
    * predicate SEMI-joins orders against the filtered customer keys
    * (orders never widens — at 100 TB customer is itself a fact, so
    * the semi form beats carrying customer columns through the
    * shuffle), lineitem joins on the order key, and the final head is
    * a TakeOrderedAndProject (bounded heaps, never a global sort —
    * PlanSpec-pinned). Both date bounds push to their parquet scans.
    * Determinism: floor-cents revenue and a total tiebreak
    * (revenue desc, orderdate, orderkey). */
  def shippingPriority(spark: SparkSession, dir: String,
      segment: String = "BUILDING", cutDate: String = "1998-01-01",
      k: Int = 10): DataFrame = {
    val cut = lit(cutDate).cast("timestamp")
    val segKeys = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === segment).select(col("c_custkey"))
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .join(segKeys, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("cents")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(k)
      .select(col("l_orderkey").as("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"), col("revenue_cents"))
  }

  /** TPC-H Q5 shape — local-supplier volume: revenue per nation, for
    * one region and one order year, counting only lineitems where the
    * SUPPLIER and the CUSTOMER sit in the same nation (the co-location
    * predicate is part of the supplier join condition, not a post-hoc
    * filter). The snowflake chain joins region→nation once (25 rows,
    * broadcast), carries the customer's nation key through orders into
    * the fact join, and closes the loop on
    * (l_suppkey, nation) — supplier is keyed by BOTH columns so the
    * equality never degenerates into a nested loop. One shuffle pair
    * per fact join; the order-year range pushes to the orders scan. */
  def localSupplierVolume(spark: SparkSession, dir: String,
      regionName: String = "ASIA", yearNum: Int = 1997): DataFrame = {
    val nations = Tables(spark, dir, "nation")
      .join(broadcast(Tables(spark, dir, "region")
          .filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables(spark, dir, "customer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables(spark, dir, "orders")
      .filter(Tables.inYear(col("o_orderdate"), yearNum))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val supp = Tables(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("cents")).as("revenue_cents"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q10 shape — returned-item losers: the top-k customers by
    * revenue lost to returns (l_returnflag = 'R') in a one-quarter
    * order window. The fact side folds to per-customer cents BEFORE
    * the customer attributes join (aggregate-then-join: the join input
    * is customers-with-returns-sized, not lineitem-sized), nation
    * broadcasts, and the head is a TakeOrderedAndProject. The quarter
    * range and the return-flag equality both push to parquet. */
  def returnedItemLosers(spark: SparkSession, dir: String,
      quarterStart: String = "1998-04-01", k: Int = 20): DataFrame = {
    val start = lit(quarterStart).cast("timestamp")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= start &&
        col("o_orderdate") < add_months(start, 3).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val lost = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("cents")).as("lost_cents"), count(lit(1)).as("n_returned"))
    val cust = Tables(spark, dir, "customer")
      .join(broadcast(Tables(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    lost.join(cust, col("o_custkey") === col("c_custkey"))
      .orderBy(col("lost_cents").desc, col("c_custkey"))
      .limit(k)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_returned"), col("lost_cents"))
  }

  /** TPC-H Q14 shape — promotion effect: the share of one ship-month's
    * revenue that came from promo-typed parts, as an exact integer
    * micro ratio (promo_cents·1e6 div total_cents — never a float
    * division of float sums). Part carries only (key, is-promo bit)
    * into the join — at 100 TB the bit-projection is what keeps the
    * build side broadcastable; the month range pushes to the lineitem
    * scan. One fact join, one 1-row fold. */
  def promoRevenueShare(spark: SparkSession, dir: String,
      monthStart: String = "1997-09-01"): DataFrame = {
    val start = lit(monthStart).cast("timestamp")
    val parts = Tables(spark, dir, "part")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= start &&
        col("l_shipdate") < add_months(start, 1).cast("timestamp"))
      .select(col("l_partkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_promo"), col("cents")).otherwise(0L)).as("promo_cents"),
        sum(col("cents")).as("total_cents"))
      .select(col("n_lines"), col("promo_cents"), col("total_cents"),
        expr("CAST(promo_cents AS DECIMAL(38, 0)) * 1000000 div total_cents")
          .as("promo_share_micro"))
  }

  /** TPC-H Q13 shape — customer order-count distribution: how many
    * customers placed exactly N orders, INCLUDING the zero bucket (the
    * left outer join is the point — an inner join silently drops
    * never-ordered customers and the distribution lies). Two
    * aggregates: per-customer counts (one shuffle on the customer
    * key — count(o_orderkey) so outer-null rows fold to 0), then the
    * histogram over the customers-sized frame. The optimizer may
    * reverse the build side; no dim is broadcast-dependent here. */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(spark, dir, "customer").select(col("c_custkey"))
      .join(Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q18 shape — large-volume orders: orders whose total line
    * quantity exceeds a threshold, with customer name and the quantity
    * total. Written as the `IN (GROUP BY … HAVING)` subquery a user
    * writes; Catalyst plans the having-aggregate as a left-semi join
    * (never materializing the IN-list on the driver). The outer query
    * re-aggregates quantity per order — at 100 TB both aggregates
    * shuffle on l_orderkey and AQE coalesces; customer attributes join
    * AFTER the filter, against the few surviving orders. Quantities
    * are integral doubles — cast to BIGINT so the sum is exact. */
  def bigQuantityOrders(spark: SparkSession, dir: String,
      minQty: Int = 250): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_q179_lineitem")
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_q179_orders")
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_q179_customer")
    spark.sql(
      s"""SELECT c_name, o.o_orderkey, o.o_orderdate,
         |  CAST(floor(o.o_totalprice * 100) AS BIGINT) AS total_cents,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM graft_q179_customer c
         |JOIN graft_q179_orders o ON c.c_custkey = o.o_custkey
         |JOIN graft_q179_lineitem l ON o.o_orderkey = l.l_orderkey
         |WHERE o.o_orderkey IN (
         |  SELECT l_orderkey FROM graft_q179_lineitem
         |  GROUP BY l_orderkey
         |  HAVING sum(CAST(l_quantity AS BIGINT)) > $minQty)
         |GROUP BY c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice""".stripMargin)
  }

  /** TPC-H Q19 shape — disjunctive brand/size/quantity revenue: three
    * OR'd predicate branches, each correlating a part attribute
    * (brand, size band) with a lineitem attribute (quantity band). The
    * planner keeps the join an equi-join on l_partkey and evaluates
    * the disjunction as its residual; the common bounds (quantity ≤
    * the widest band, size ≥ 1) push to the scans. The shape every
    * hand-written "rule OR rule OR rule" curation filter compiles to —
    * proof the engine doesn't fall back to a product when predicates
    * disjoin across join sides. */
  def brandBandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select(col("l_partkey"), col("l_quantity"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
    val p = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.join(p, col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
  }

  /** TPC-H Q12 shape — late-shipment priority mix: for lineitems that
    * shipped late (past `lagDays` after the order date) in one ship
    * year, per return flag: how many belonged to critical-priority
    * orders (1-URGENT / 2-HIGH) vs not — the dual conditional CASE-sum
    * that audits whether late shipments hit critical orders. One fact
    * join on the order key carrying only (priority); the year range
    * and the flag column push/prune at the lineitem scan. */
  def latePriorityMix(spark: SparkSession, dir: String,
      yearNum: Int = 1998, lagDays: Int = 30): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables(spark, dir, "lineitem")
      .filter(Tables.inYear(col("l_shipdate"), yearNum))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lagDays DAY"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("critical_late"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("noncritical_late"))
  }

  /** TPC-H Q8 shape — national market share: of the PROMO-part revenue
    * sold into one region's customers, what integer-micro share came
    * from suppliers of one nation, per order year. The widest
    * snowflake in the family (fact ⋈ part ⋈ supplier ⋈ orders ⋈
    * customer ⋈ nation ⋈ region): part is filtered to its type BEFORE
    * the join (the selective dim drives the fact scan — at 100 TB this
    * is the join-order decision that matters), region→nation and the
    * supplier-nation flag broadcast, and the share folds as a
    * conditional sum over one years-sized frame — never two passes. */
  def nationMarketShare(spark: SparkSession, dir: String,
      partType: String = "PROMO", regionName: String = "ASIA",
      homeNation: String = "NATION_2"): DataFrame = {
    val promoParts = Tables(spark, dir, "part")
      .filter(col("p_type") === partType).select(col("p_partkey"))
    val supp = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .select(col("n_nationkey"), (col("n_name") === homeNation).as("is_home"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("is_home"))
    val regionCust = Tables(spark, dir, "customer")
      .join(broadcast(Tables(spark, dir, "nation")
          .join(broadcast(Tables(spark, dir, "region")
              .filter(col("r_name") === regionName)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
      .join(regionCust, col("o_custkey") === col("c_custkey"), "left_semi")
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("cents"))
      .join(promoParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("is_home"), col("cents")).otherwise(0L)).as("home_cents"),
        sum(col("cents")).as("total_cents"))
      .select(col("o_year"), col("home_cents"), col("total_cents"),
        expr("CAST(home_cents AS DECIMAL(38, 0)) * 1000000 div total_cents")
          .as("share_micro"))
  }

  /** TPC-H Q9 shape — product-line profit by supplier nation and
    * year. The testdata has no partsupp/supplycost; unit cost is the
    * deterministic 60%-of-retail stand-in, folded in exact cents
    * (qty · floor(retail·60) — retail cents × 0.6 with one floor, no
    * float accumulation). Profit = revenue cents − cost cents per
    * line, rolled up per (nation, order year). Join order: the two
    * fact joins shuffle on their keys; part ships only
    * (key, unit-cost) and supplier only (key, nation) — the narrow
    * projections are what keep the shuffles cheap at 100 TB. */
  def nationProfit(spark: SparkSession, dir: String): DataFrame = {
    val partCost = Tables(spark, dir, "part")
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 60).cast("long").as("unit_cost_cents"))
    val supp = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("rev_cents"))
      .join(partCost, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev_cents")).as("revenue_cents"),
        sum(col("rev_cents") - col("qty") * col("unit_cost_cents"))
          .as("profit_cents"))
  }

  /** Revenue CONCENTRATION (Pareto) curve — what share of total
    * revenue the top p% of customers carry, at the standard p rungs:
    * the whale-dependence report behind every "80/20" decision
    * (credit exposure, account management, retention spend). Exact and
    * deterministic: per-customer floor-cents fold, one global rank
    * ordered (revenue desc, key), running sum over the customers-sized
    * frame, and the rung positions from the q194 deterministic
    * `greatest(1, n·p div 100)` convention — shares in integer
    * micro. One fact-keyed aggregate; everything after is
    * customers-sized. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.orderBy(col("cents").desc, col("o_custkey").asc)
    perCust
      .withColumn("rn", row_number().over(w))
      .withColumn("cum_cents", sum(col("cents")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("total", sum(col("cents")).over(Window.partitionBy()))
      .select(col("rn"), col("cum_cents"), col("n"), col("total"),
        explode(lit(Array(1, 5, 10, 25, 50, 100))).as("top_pct"))
      .filter(col("rn") === expr("greatest(1, (n * top_pct) div 100)"))
      .select(col("top_pct").cast("long").as("top_pct"),
        col("rn").as("n_customers"),
        // the cumulative reaches the FULL corpus revenue: cents × 10⁶
        // passes int64 at sf1 — the share rides Decimal(38) ≙ HUGEINT
        // into one integral division (caught by the full-sf1 sweep)
        expr("CAST(cum_cents AS DECIMAL(38, 0)) * 1000000 div total")
          .as("cum_share_micro"))
  }

  /** Exact GINI coefficient of per-customer revenue — the one-number
    * inequality summary beside [[revenueConcentration]]'s rung table:
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-ranked
    * revenues, folded entirely in exact integers (the rank-weighted
    * sum rides Decimal(38) — rank × cents × n overflows int64 at
    * fact-table scale) with ONE truncating integral division onto the
    * micro grid at the end — no float ever. One aggregate + one
    * customers-sized ranked fold. */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perCust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.orderBy(col("cents").asc, col("o_custkey").asc)
    perCust
      .withColumn("rn", row_number().over(w))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"),
        sum(col("rn").cast(dec) * col("cents").cast(dec)).as("s"))
      .select(col("n").as("n_customers"), col("total").as("total_cents"),
        expr("CAST((2 * s - (n + 1) * CAST(total AS DECIMAL(38,0))) * 1000000" +
          " AS DECIMAL(38,0)) div CAST(CAST(n AS DECIMAL(38,0)) * total" +
          " AS DECIMAL(38,0))").as("gini_micro"))
  }

  /** RFM SEGMENTATION — the classic CRM grid: every purchasing
    * customer scored 1–5 on Recency (days since last order, recent =
    * high), Frequency (order count), and Monetary (lifetime floor
    * cents), quintiles by `ntile(5)` over a TOTAL order (metric, then
    * key — ntile is deterministic only under a total order, so both
    * engines cut identical quintiles), rolled up to segment sizes and
    * per-segment revenue share. The anchor date derives in-plan from
    * the data's own max order date (no wall clock — replayable). One
    * fact-keyed aggregate, three windows over the customers-sized
    * frame, a ≤125-cell rollup. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("recency_days",
        datediff(max(col("last_day")).over(Window.partitionBy()), col("last_day")))
    // score = 6 − ntile over the BEST-FIRST total order: the top
    // quintile of each axis reads 5 on the conventional RFM scale
    def score(bestFirst: Column) = lit(6) - ntile(5).over(
      Window.orderBy(bestFirst, col("o_custkey").asc))
    perCust
      .withColumn("r_score", score(col("recency_days").asc))
      .withColumn("f_score", score(col("freq").desc))
      .withColumn("m_score", score(col("cents").desc))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("rev_cents"))
      .withColumn("rev_share_micro",
        expr("rev_cents * 1000000 div sum(rev_cents) OVER ()"))
  }

  /** Market-basket association rules over order baskets — the sparse
    * HIGH-CARDINALITY itemset face (part keys grow with the catalog)
    * beside q125/q170's |types|²-bounded event lift: per co-purchased
    * part pair with support ≥ `minSupport` baskets, the support,
    * directional confidence, and lift in integer micro. Candidate
    * pairs come from a WITHIN-BASKET self-join on the order key —
    * fan-out is basket-size², bounded by order width, never
    * catalog² — and the support threshold prunes before the
    * metadata-sized stat joins. Basket count is a 1-row scalar
    * (profiler convention); the head is a top-k TakeOrdered on
    * (support, pair). */
  def partAssociations(spark: SparkSession, dir: String,
      minSupport: Int = 3, k: Int = 20): DataFrame = {
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val nBaskets = items.select(col("basket")).distinct().count()
    val itemN = items.groupBy(col("item")).agg(count(lit(1)).as("item_n"))
    val pairs = items.select(col("basket"), col("item").as("pa"))
      .join(items.select(col("basket"), col("item").as("pb")), Seq("basket"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSupport)
    pairs
      .join(itemN.select(col("item").as("pa"), col("item_n").as("n_a")), Seq("pa"))
      .join(itemN.select(col("item").as("pb"), col("item_n").as("n_b")), Seq("pb"))
      .select(col("pa"), col("pb"), col("pair_n"), col("n_a"), col("n_b"),
        expr(s"pair_n * 1000000 div $nBaskets").as("support_micro"),
        expr("pair_n * 1000000 div n_a").as("conf_a_to_b_micro"),
        expr("pair_n * 1000000 div n_b").as("conf_b_to_a_micro"),
        // numerator rides Decimal(38): pair_n × nBaskets × 1e6 passes
        // int64 around sf10 (both factors ~1e7); IntegralDivide accepts
        // Decimal and still returns LONG, so the output type (and the
        // DuckDB oracle, whose arithmetic auto-promotes) is unchanged
        expr(s"cast(pair_n as decimal(38,0)) * $nBaskets * 1000000 div (n_a * n_b)")
          .as("lift_micro"))
      .orderBy(col("pair_n").desc, col("pa"), col("pb"))
      .limit(k)
  }

  /** TOP-K RANK STABILITY over time — "is the bestseller list the
    * same list it was": the top-k revenue BRANDS of the order
    * stream's first time half vs its second, read as Jaccard overlap
    * (micro) and Spearman's footrule Σ|Δrank| over the common
    * brands. The value-distribution drift monitor (q253) sees shape
    * moves; this sees LIST moves — a merchandising mix can drift
    * ranks wholesale while every bucket histogram stays put. Brand
    * grain is the deliberate choice: a rank over a uniform-revenue
    * 20k-part catalog is pure noise (measured: zero top-20 overlap),
    * while the 25-brand rollup is the list a merchandiser actually
    * watches. Split at the data-derived epoch-micros midpoint (the
    * q253 convention); revenue on the exact cent-percent grid (q91).
    *
    * Scale: one broadcast brand join + one (brand, half) aggregate,
    * map-side combined; the two rankings window over the brand-sized
    * frame; the readout is a 1-row fold over ≤ 2k rows. */
  def topKStability(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), unix_micros(col("o_orderdate")).as("d"))
    // 2-scalar driver fold: the midpoint that defines the halves
    val mm = ord.agg(min(col("d")).as("lo"), max(col("d")).as("hi")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val rev = (round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))).as("rev_cp")
    val brands = Tables(spark, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val halves = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"), rev)
      .join(broadcast(brands), Seq("l_partkey"))
      .join(ord, Seq("o_orderkey"))
      .groupBy(col("p_brand"), (col("d") < mid).as("is_a"))
      .agg(sum(col("rev_cp")).as("cents"))
    val ranked = PlanCache.tracked(halves
      .withColumn("rnk", row_number().over(Window.partitionBy(col("is_a"))
        .orderBy(col("cents").desc, col("p_brand").asc)))
      .filter(col("rnk") <= k))
    val a = ranked.filter(col("is_a"))
      .select(col("p_brand"), col("rnk").as("ra"))
    val b = ranked.filter(!col("is_a"))
      .select(col("p_brand"), col("rnk").as("rb"))
    a.join(b, Seq("p_brand"), "full")
      .agg(sum(when(col("ra").isNotNull, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("rb").isNotNull, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("ra").isNotNull && col("rb").isNotNull, 1L)
          .otherwise(0L)).as("n_common"),
        coalesce(sum(when(col("ra").isNotNull && col("rb").isNotNull,
          abs(col("ra") - col("rb")))), lit(0L)).as("footrule"))
      .select(lit(k.toLong).as("k"), col("n_common"),
        expr("CAST(n_common AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_a + n_b - n_common, 1)").as("jaccard_micro"),
        col("footrule"))
  }

  /** FREQUENT ITEM TRIPLES — the A-priori level above
    * [[partAssociations]]' pairs: top-k (a, b, c) item sets by basket
    * support, with the 3-way lift against item independence
    * (`P(abc) / P(a)P(b)P(c)` — micro, exact rationals). Pairs say
    * "buy together"; the triple level is where bundle/placement
    * decisions start needing real evidence, and where naive expansion
    * first goes combinatorial — hence the two A-priori prunes below.
    *
    * Scale shape: items below `minSupport` are pruned BEFORE any
    * expansion (downward closure: an infrequent item can't be in a
    * frequent triple), then combinations expand INSIDE each basket's
    * sorted distinct item array (the co-purchase pair-gen discipline:
    * one shuffle to group baskets, fan-out width³/6 bounded by ORDER
    * width, never catalog³; the 3-way self-join this replaces would
    * shuffle the item table three times). Lift numerators/denominators
    * ride Decimal(38) ≙ HUGEINT: triple_n·N²·10⁶ and n_a·n_b·n_c both
    * pass int64 well under catalog scale.
    *
    * Default threshold is measured, not aspirational: the synthetic
    * generator's baskets give a MAX triple support of 2 at sf0.01
    * (parts scale with SF, so triples stay sparse at every SF) — the
    * oracle row pins the prune/expand/lift mechanics; a real catalog
    * raises `minSupport` with its basket volume. */
  def frequentTriples(spark: SparkSession, dir: String,
      minSupport: Int = 2, k: Int = 20): DataFrame = {
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val nBaskets = items.select(col("basket")).distinct().count()
    val itemN = PlanCache.tracked(
      items.groupBy(col("item")).agg(count(lit(1)).as("item_n")))
    val frequent = itemN.filter(col("item_n") >= minSupport).select(col("item"))
    val arr = items.join(frequent, Seq("item"), "left_semi")
      .groupBy(col("basket"))
      .agg(array_sort(collect_set(col("item"))).as("xs"))
      .filter(size(col("xs")) >= 3)
    // one generator per select (Generate-under-projection pitfall):
    // sorted distinct arrays make "strictly later element" = x > prev
    val s1 = arr.select(col("xs"), explode(col("xs")).as("pa"))
    val s2 = s1.select(col("xs"), col("pa"),
      explode(expr("filter(xs, x -> x > pa)")).as("pb"))
    val tri = s2.select(col("pa"), col("pb"),
        explode(expr("filter(xs, x -> x > pb)")).as("pc"))
      .groupBy(col("pa"), col("pb"), col("pc"))
      .agg(count(lit(1)).as("triple_n"))
      .filter(col("triple_n") >= minSupport)
    tri
      .join(itemN.select(col("item").as("pa"), col("item_n").as("n_a")), Seq("pa"))
      .join(itemN.select(col("item").as("pb"), col("item_n").as("n_b")), Seq("pb"))
      .join(itemN.select(col("item").as("pc"), col("item_n").as("n_c")), Seq("pc"))
      .select(col("pa"), col("pb"), col("pc"), col("triple_n"),
        expr(s"triple_n * 1000000 div $nBaskets").as("support_micro"),
        expr(s"CAST(triple_n AS DECIMAL(38,0)) * $nBaskets * $nBaskets" +
          " * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b * n_c)")
          .as("lift_micro"))
      .orderBy(col("triple_n").desc, col("pa"), col("pb"), col("pc"))
      .limit(k)
  }

  /** Exact Pearson correlation between line price and quantity, per
    * return flag — the relationship-screening primitive beside the
    * distribution profilers. Moments fold as EXACT integers (floor
    * cents × integral quantities) through Decimal(38) — Spark's
    * `corr()` would double-sum in shuffle order and drift cross-engine
    * — and the only floats are the final (nΣxy−ΣxΣy)/√(·)(·) whose
    * inputs are bit-identical on both engines (the q155 moment
    * discipline). One map-side-combined aggregate; degenerate groups
    * (zero variance) report NULL, never a divide-by-zero. */
  def priceQuantityCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100).cast("long").as("x"),
        col("l_quantity").cast("long").as("y"))
    val (dx, dy) = (col("x").cast(dec), col("y").cast(dec))
    val m = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dx * dx).as("sxx"), sum(dy * dy).as("syy"), sum(dx * dy).as("sxy"))
    val nD = col("n").cast("double")
    val varX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    m.select(col("l_returnflag"), col("n").as("n_lines"),
      when(varX > 0 && varY > 0,
        round(round(cov / sqrt(varX * varY), 6) * 1000000, 0).cast("long"))
        .as("corr_micro"))
  }

  /** Chi-square independence screen between two categorical columns
    * (order priority × order status): per contingency cell the
    * observed count, the expected count under independence (integer
    * micro — row·col/total, exact), and the cell's χ² contribution.
    * The DQ question behind it: "is attribute A informative about B,
    * or can the sampler treat them as independent?" Cell math is the
    * exact rational (obs·total − row·col)²/(total·row·col) folded
    * through Decimal(38) (the products overflow int64 at fact-table
    * counts), one double division at the end. One scan, a
    * (|A|×|B|)-sized frame, three windows over it. */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("obs"))
      .withColumn("row_tot", sum(col("obs")).over(
        Window.partitionBy(col("o_orderpriority"))))
      .withColumn("col_tot", sum(col("obs")).over(
        Window.partitionBy(col("o_orderstatus"))))
      .withColumn("total", sum(col("obs")).over(Window.partitionBy()))
    val num = col("obs").cast(dec) * col("total").cast(dec) -
      col("row_tot").cast(dec) * col("col_tot").cast(dec)
    val den = col("total").cast(dec) * col("row_tot").cast(dec) *
      col("col_tot").cast(dec)
    cells.select(col("o_orderpriority"), col("o_orderstatus"), col("obs"),
      expr("row_tot * col_tot * 1000000 div total").as("exp_micro"),
      round(round((num * num).cast("double") / den.cast("double"), 6) * 1000000, 0)
        .cast("long").as("chi2_term_micro"))
  }

  /** Multi-granularity revenue via GROUPING SETS — the explicit-set
    * sibling of q89's CUBE: grand total, per-year, and per-(year,
    * nation) in ONE aggregate pass (Spark plans a single Expand ×3
    * over the joined frame — one shuffle, vs three separate queries
    * re-scanning the join). Granularity flags are emitted as explicit
    * `grouping()` bits per column, NOT `grouping_id()` — the packed
    * id's bit order is engine-specific, the per-column bit is
    * portable. Nation rides a broadcast dim; floor-cents money. */
  def revenueGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_q188_orders")
    Tables(spark, dir, "customer").createOrReplaceTempView("graft_q188_customer")
    Tables(spark, dir, "nation").createOrReplaceTempView("graft_q188_nation")
    spark.sql(
      """SELECT year(o_orderdate) AS yr, n_name,
        |  CAST(grouping(year(o_orderdate)) AS BIGINT) AS g_yr,
        |  CAST(grouping(n_name) AS BIGINT) AS g_nation,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM graft_q188_orders
        |JOIN graft_q188_customer ON o_custkey = c_custkey
        |JOIN graft_q188_nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((year(o_orderdate), n_name),
        |                        (year(o_orderdate)), ())""".stripMargin)
  }

  /** Content checksum per month — the row-free sync audit: both ends
    * of a replication pipeline fold each row into a canonical string,
    * hash it, and XOR-fold the hashes per month bucket (XOR is
    * order-independent and overflow-free, so the fold never shuffles
    * for ordering and never widens past 8 bytes — the J4 count
    * comparison upgraded to content equality, still without moving a
    * row). A month whose (n_rows, checksum) pair matches across
    * stores is verified; a mismatch localizes the repair scan to one
    * month. XOR's known blind spot — duplicated-row PAIRS cancel — is
    * exactly what the row count beside it catches. Canonical form
    * pins money to floor-cents and the date to its ISO day string, so
    * both engines hash identical bytes. */
  def monthlyChecksums(spark: SparkSession, dir: String): DataFrame =
    orderMonthHash(Tables(spark, dir, "orders"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("checksum"))

  /** The checksum's canonical (month, 60-bit row hash) projection of
    * an orders-shaped frame — shared by the batch fold above and the
    * STREAMING incremental maintenance
    * ([[graft.streaming.ChecksumStream]]), so both faces hash
    * identical bytes and their checksums are comparable across
    * stores. */
  private[graft] def orderMonthHash(orders: DataFrame,
      extra: Column*): DataFrame = {
    val canon = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long"),
      to_date(col("o_orderdate")).cast("string"), col("o_orderpriority"))
    orders.select(
      date_trunc("month", col("o_orderdate")).cast("date").as("month") +:
      graft.functions.Text.md5Hash60(canon).as("h") +: extra: _*)
  }

  /** Open-order backlog — per day, how many orders are ORDERED but not
    * yet fully shipped: the interval-counting query, done as a
    * SWEEP-LINE (+1 at order date, −1 after the order's last ship
    * date, running sum over the days-sized delta frame) — never a
    * day×order range join, which would rescan the fact table per
    * calendar day (and plan the banned nested loop). An order with no
    * lineitems never closes and stays in the backlog by declaration.
    * Two fact-keyed aggregates + one window over ~calendar-sized
    * rows. */
  def openOrderBacklog(spark: SparkSession, dir: String): DataFrame = {
    val opens = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_orderkey"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_open"))
    val closes = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("shipped_day"))
      // the order leaves the backlog the day AFTER its last line ships
      .select(date_add(col("shipped_day"), 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_close"))
    opens.join(closes, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_open"), lit(0L)).as("n_opened"),
        coalesce(col("n_close"), lit(0L)).as("n_closed"))
      .withColumn("backlog", sum(col("n_opened") - col("n_closed"))
        .over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-nation REVENUE TREND as an exact OLS fit — slope (cents per
    * month) and R² of monthly revenue against the absolute month
    * index, the "which markets are growing" regression behind q113's
    * MoM deltas (a single month's spike moves one delta; the fitted
    * slope is the summary statisticians actually quote). The q195
    * discipline: every moment is an exact integer (month index ×
    * floor-cents revenue folded through Decimal(38) ≙ HUGEINT), and
    * doubles appear only in the final slope/R² ratios with identical
    * operand order on both engines; a degenerate nation (single
    * month, or zero revenue variance) reports NULL, not a crash.
    *
    * Scale: fact scan → one (nation, month) hash-agg behind broadcast
    * dims, then per-nation moments over the months-bounded frame
    * (≤ calendar span rows per nation — the regression itself costs
    * nothing at any corpus size). */
  def revenueTrendOls(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val customer = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val nation = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    val monthly = Tables(spark, dir, "orders")
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        (year(to_date(col("o_orderdate"))) * 12 +
          month(to_date(col("o_orderdate")))).cast("long").as("t"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
    val (tD, yD) = (col("t").cast(dec), col("y").cast(dec))
    val m = monthly.groupBy(col("n_name")).agg(
      count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("y")).as("sy"),
      sum(tD * tD).as("stt"), sum(yD * yD).as("syy"), sum(tD * yD).as("sty"))
    val nD = col("n").cast("double")
    val varT = nD * col("stt").cast("double") -
      col("st").cast("double") * col("st").cast("double")
    val varY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val cov = nD * col("sty").cast("double") -
      col("st").cast("double") * col("sy").cast("double")
    m.select(col("n_name"), col("n").as("n_months"),
      when(varT > 0, round(cov / varT, 4)).as("slope_cents"),
      when(varT > 0 && varY > 0,
        round(round(cov * cov / (varT * varY), 6) * 1000000, 0).cast("long"))
        .as("r2_micro"))
  }

  /** AUTOCORRELATION of daily revenue at lags 1..7 — the correlogram
    * that says whether yesterday predicts today (lag 1) and whether a
    * weekly cycle exists (lag 7 spikes while 2..6 don't), read before
    * trusting any day-over-day alert threshold; complements q165's
    * year-over-year view and q135's day-of-week profile with the
    * lag-domain summary. Per lag k the statistic is the exact-moment
    * Pearson correlation over the (xₜ, xₜ₊ₖ) pairs of the ZERO-FILLED
    * calendar series (a missing day is zero revenue, not a skipped
    * pair — unfilled gaps would silently stitch non-adjacent days).
    *
    * Scale: the fact scan folds to a days-bounded daily frame; the
    * spine fill, the seven leads (one window), and the per-lag
    * moments all run over calendar-sized data — like q211, the
    * statistic costs one hash-agg at any corpus size. Moments fold
    * through Decimal(38) (revenue-cents products pass int64). */
  def revenueAcf(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("x"))
    val byDay = Window.orderBy(col("day"))
    val leads = filled.select(col("x") +:
      (1 to maxLag).map(k => lead(col("x"), k).over(byDay).as(s"y$k")): _*)
    val pairs = leads.select(col("x"), explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag_days"), col(s"y$k").as("y"))): _*)).as("p"))
      .select(col("p.lag_days").as("lag_days"), col("x"), col("p.y").as("y"))
      .filter(col("y").isNotNull)
    val (xD, yD) = (col("x").cast(dec), col("y").cast(dec))
    val m = pairs.groupBy(col("lag_days")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(xD * xD).as("sxx"), sum(yD * yD).as("syy"), sum(xD * yD).as("sxy"))
    val nD = col("n").cast("double")
    val varX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    m.select(col("lag_days"), col("n").as("n_pairs"),
      when(varX > 0 && varY > 0,
        round(round(cov / sqrt(varX * varY), 6) * 1000000, 0).cast("long"))
        .as("acf_micro"))
  }

  /** Customer revenue PERCENTILE ranks — each customer's standing
    * inside their nation and globally, in one pass: the account-review
    * face ("this customer is p92 in FRANCE, p81 worldwide") that
    * quintile grids (q204) are too coarse for. Ranks follow the house
    * deterministic total order (revenue, then key — percent_rank's
    * shared-tie ranks would be engine-portable but q194 set the
    * convention), and the percentile is the exact integer micro
    * (rank−1)·10⁶ // (n−1), NULL for a single-customer group rather
    * than a division crash.
    *
    * Scale: one orders hash-agg to customer totals, then two windows
    * over the customers frame — the national one partitioned by
    * nation; the global one is the explicit total-order report
    * convention (cf. curriculumOrder) a ranking report cannot avoid. */
  def customerRevenuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val nation = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    val totals = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("rev_cents"))
    val inNation = Window.partitionBy(col("n_name"))
      .orderBy(col("rev_cents").asc, col("c_custkey").asc)
    val global = Window.orderBy(col("rev_cents").asc, col("c_custkey").asc)
    totals
      .withColumn("rn", row_number().over(inNation).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("n_name"))))
      .withColumn("rg", row_number().over(global).cast("long"))
      .withColumn("ng", count(lit(1)).over(Window.partitionBy()))
      .select(col("n_name"), col("c_custkey"), col("rev_cents"),
        when(col("nn") > 1, expr("(rn - 1) * 1000000 div (nn - 1)"))
          .as("nation_pct_micro"),
        when(col("ng") > 1, expr("(rg - 1) * 1000000 div (ng - 1)"))
          .as("global_pct_micro"))
  }

  /** THEIL–SEN robust trend of the daily revenue series — the
    * breakdown-resistant twin of q211's OLS (slope survives up to ~29%
    * of days being corrupted, where one bad backfill day drags a
    * least-squares line arbitrarily): slope = EXACT median of all
    * pairwise day-to-day slopes, intercept = exact median of per-day
    * residuals at that slope, spread = exact median absolute deviation
    * of those residuals. Integer micro grid end-to-end:
    * slope_micro = Δcents·10⁶ div Δday (`div` ≙ `//` truncate toward
    * zero identically on signed values); residuals ride
    * Decimal(38) ≙ HUGEINT (cents·10⁶ passes int64 at warehouse
    * scale); every median is the floored midrank average
    * (lo + hi) div 2 over the sorted values — n odd degrades to the
    * middle element on both engines.
    *
    * Scale: the only corpus-sized work is ONE map-side-combined daily
    * rollup; the pair population is CALENDAR²-bounded (~2400 days →
    * ~3M slope values REGARDLESS of row count — constant in SF, the
    * q232 fixed-spine posture), folded inside array expressions on a
    * 1-row frame exactly like holtBacktest, so no shuffle, window, or
    * join ever sees a pair. The micro grid holds while daily revenue
    * stays under ~9·10¹² cents/day (int64 ÷ 10⁶); rescale the grid
    * constant for a corpus beyond that. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("t"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("t")).agg(sum(col("cents")).as("y"))
    val series = daily.agg(count(lit(1)).as("n_days"),
      sort_array(collect_list(struct(col("t"), col("y")))).as("pts"))
    // all C(n,2) pairwise slopes, in-array (coPurchaseEdges' combo
    // idiom); `div` of two int64-safe operands (Δcents·10⁶ rides
    // Decimal through the product, the quotient lands back in int64)
    val slopes = series.select(col("n_days"), col("pts"),
      expr("""sort_array(flatten(transform(pts, (p, i) ->
          transform(slice(pts, i + 2, size(pts)), q ->
            CAST((CAST(q.y AS DECIMAL(38,0)) - p.y) * 1000000
              div (q.t - p.t) AS BIGINT)))))""").as("sl"))
    val withSlope = slopes.select(col("n_days"), col("pts"),
      size(col("sl")).cast("long").as("n_pairs"),
      expr("""(element_at(sl, CAST((size(sl) + 1) div 2 AS INT))
          + element_at(sl, CAST((size(sl) + 2) div 2 AS INT))) div 2""")
        .as("slope_micro"))
    // residual grid: cents·10⁶ − slope·t, Decimal(38) (≈10²³ at 100 TB)
    val withResid = withSlope.select(col("n_days"), col("n_pairs"),
      col("slope_micro"),
      expr("""sort_array(transform(pts, p ->
          CAST(p.y AS DECIMAL(38,0)) * 1000000
            - CAST(slope_micro AS DECIMAL(38,0)) * p.t))""").as("resid"))
    val withIntercept = withResid.select(col("n_days"), col("n_pairs"),
      col("slope_micro"), col("resid"),
      expr("""(element_at(resid, CAST((n_days + 1) div 2 AS INT))
          + element_at(resid, CAST((n_days + 2) div 2 AS INT))) div 2""")
        .as("med_resid"))
    withIntercept.select(col("n_days"), col("n_pairs"), col("slope_micro"),
      expr("CAST(med_resid AS DECIMAL(38,0)) div 1000000")
        .as("intercept_cents"),
      expr("""((element_at(sort_array(transform(resid, r ->
            abs(r - CAST(med_resid AS DECIMAL(38,0))))),
          CAST((n_days + 1) div 2 AS INT))
        + element_at(sort_array(transform(resid, r ->
            abs(r - CAST(med_resid AS DECIMAL(38,0))))),
          CAST((n_days + 2) div 2 AS INT))) div 2) div 1000000""")
        .cast("long").as("mad_cents"))
  }

  /** TRIMMED + WINSORIZED segment means — the grouped robust-location
    * family beside [[theilSen]]'s trend: per market segment, the
    * account-balance mean three ways — exact, 5 %-trimmed (drop the
    * tails), and 5 %-winsorized (clamp the tails to the cut values) —
    * so one report shows how much of a segment's "average balance" is
    * tail artifact. All integer cents: ranks use the house
    * (value, key) total order per segment, the trim width is
    * lo = n·5 div 100 rows per side, and every mean is sum div count
    * (`div` ≙ `//`). A segment too small to trim (n ≤ 2·lo+… degenerate
    * lo = 0) degrades to the exact mean on both engines by the same
    * formula.
    *
    * Scale: one customer scan, one rank window per segment (the
    * segment space is bounded), and a segments-sized readout. */
  def trimmedSegmentStats(spark: SparkSession, dir: String,
      trimPct: Int = 5): DataFrame = {
    val ranked = Tables(spark, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") * 100).cast("long").as("cents"),
        col("c_custkey"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("segment"))
        .orderBy(col("cents").asc, col("c_custkey").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("segment"))))
      .withColumn("lo", expr(s"n * $trimPct div 100"))
    ranked.groupBy(col("segment"))
      .agg(max(col("n")).as("n_rows"),
        expr("sum(cents) div max(n)").as("mean_cents"),
        expr("""sum(CASE WHEN rn > lo AND rn <= n - lo THEN cents END)
            div greatest(max(n) - 2 * max(lo), 1)""").as("trimmed_cents"),
        // winsorize: rows at rank ≤ lo take the value AT rank lo+1,
        // rows above n−lo take the value AT rank n−lo
        (expr("sum(CASE WHEN rn > lo AND rn <= n - lo THEN cents END)")
          + expr("max(lo) * max(CASE WHEN rn = lo + 1 THEN cents END)")
          + expr("max(lo) * max(CASE WHEN rn = n - lo THEN cents END)"))
          .as("wsum"))
      .select(col("segment"), col("n_rows"), col("mean_cents"),
        col("trimmed_cents"),
        expr("wsum div n_rows").as("winsorized_cents"))
      .orderBy(col("segment").asc)
  }

  /** KAPLAN–MEIER survival curve of the repurchase gap — "given a
    * customer ordered, how long until they order AGAIN", with the
    * right-censoring the naive gap histogram (q168's family) silently
    * throws away: a customer's time since their LAST order is a
    * censored observation ("survived at least this long"), and
    * dropping it biases every retention estimate optimistic. Per
    * event-time t (days): risk set n(t) (subjects with observed or
    * censored time ≥ t), deaths d(t) (gaps that ended at t), and the
    * product-limit survivor Ŝ(t) = Π(1 − dᵢ/nᵢ) walked as an integer
    * micro fold — s′ = s·(n−d) div n — so both engines step the same
    * grid (the q275 accumulator discipline; s·n ≤ 10⁶·subjects holds
    * int64 to ~10¹² subjects).
    *
    * Scale: one orders scan + a per-customer lead window build the gap
    * population; everything after folds on the calendar-bounded day
    * spine (counts per distinct gap length, cumulative windows for the
    * risk set, one array fold for the product limit). */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d").asc, col("o_orderkey").asc)
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"))
    val horizon = orders.agg(max(col("d")).as("h"))
    val spans = orders
      .withColumn("nxt", lead(col("d"), 1).over(byCust))
      .transform(Scalars.attach(_, horizon, col("o_custkey"), datediff(col("h"), lit("1970-01-01"))))
      .select(
        when(col("nxt").isNotNull, datediff(col("nxt"), col("d")))
          .otherwise(datediff(col("h"), col("d"))).cast("long").as("t"),
        when(col("nxt").isNotNull, 1L).otherwise(0L).as("ev"))
    val counts = spans.groupBy(col("t"))
      .agg(sum(col("ev")).as("d_events"),
        sum(lit(1L) - col("ev")).as("c_censored"))
    // risk set: subjects whose time ≥ t — total minus everything that
    // left strictly before t (cumulative window on the bounded spine)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val spine = counts
      .withColumn("gone_before",
        coalesce(sum(col("d_events") + col("c_censored")).over(wCum), lit(0L)))
      .withColumn("total",
        sum(col("d_events") + col("c_censored")).over(Window.partitionBy()))
      .select(col("t"), col("d_events"), col("c_censored"),
        (col("total") - col("gone_before")).as("n_risk"))
    // product-limit fold over the sorted spine (1-row array fold)
    val folded = spine
      .agg(sort_array(collect_list(struct(col("t"), col("d_events"),
        col("c_censored"), col("n_risk")))).as("pts"))
      .select(expr("""aggregate(pts,
          named_struct('s', CAST(1000000 AS BIGINT),
            'out', CAST(array() AS
              ARRAY<STRUCT<t: BIGINT, d_events: BIGINT, c_censored: BIGINT,
                           n_risk: BIGINT, s_micro: BIGINT>>)),
          (acc, x) -> named_struct(
            's', (acc.s * (x.n_risk - x.d_events)) div x.n_risk,
            'out', concat(acc.out, array(named_struct(
              't', x.t, 'd_events', x.d_events, 'c_censored', x.c_censored,
              'n_risk', x.n_risk,
              's_micro', (acc.s * (x.n_risk - x.d_events)) div x.n_risk)))),
          acc -> acc.out)""").as("rows"))
    folded.select(explode(col("rows")).as("r"))
      .select(col("r.t").as("t_days"), col("r.n_risk"), col("r.d_events"),
        col("r.c_censored"), col("r.s_micro"))
      .orderBy(col("t_days").asc)
  }

  /** CROSS-CORRELATION ladder between the hourly click and purchase
    * event series, lags −12..+12 — the lead/lag diagnostic beside
    * q266's single-series ACF: a peak at positive lag L reads "clicks
    * lead purchases by L hours", the first question any
    * conversion-attribution or capacity model asks of two activity
    * streams. r(L) is Pearson over the matched ticks (x at hour h,
    * y at hour h+L), exact HUGEINT ≙ Decimal(38) moments, and only the
    * final normalization touches doubles — identical operand order
    * cross-engine, rounded to the 10⁻⁶ grid (the q237 discipline).
    *
    * Scale: one events scan folds to the hour spine (map-side
    * combined); the lag explode and self-join run on the
    * calendar-bounded spine (≤ thousands of ticks), never the corpus. */
  def crossCorrelation(spark: SparkSession, dir: String,
      maxLag: Int = 12): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hourly = PlanCache.tracked(Tables(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(expr("unix_timestamp(ts) div 3600").as("h"),
        col("event_type"))
      .groupBy(col("h"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y")))
    val lagged = hourly
      .select(col("h"), col("x"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .join(hourly.select(col("h").as("h2"), col("y").as("y2")),
        col("h2") === col("h") + col("lag"))
    val m = lagged.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("x")).as("sx"), sum(col("y2")).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y2").cast(dec) * col("y2")).as("syy"),
        sum(col("x").cast(dec) * col("y2")).as("sxy"))
    m.select(col("lag").cast("long").as("lag"), col("n_ticks"),
        (col("n_ticks").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")).as("vx"),
        (col("n_ticks").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double")).as("vy"),
        (col("n_ticks").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")).as("cv"))
      .select(col("lag"), col("n_ticks"),
        when(col("vx") > 0 && col("vy") > 0,
          round(round(col("cv") / sqrt(col("vx") * col("vy")), 6)
            * 1000000, 0).cast("long")).as("r_micro"))
      .orderBy(col("lag").asc)
  }

  /** SINGLE-CHANGEPOINT detection over the daily revenue series — the
    * binary-segmentation primitive (its recursive application is this
    * operator re-run on each side): the split that MAXIMIZES the
    * between-segment sum-of-squares S₁²/n₁ + S₂²/n₂ (equivalently
    * minimizes the two-segment SSE, since Σy² is split-invariant),
    * reported with both segment means and the variance-explained R²
    * in micro — the "did the level actually shift, and where"
    * readout that complements q215's CUSUM (which needs a reference
    * mean) and q280's Theil–Sen (which assumes one trend).
    *
    * Exactness: candidate gains are compared as FLOORED integer
    * rationals — (S₁²·n₂ + S₂²·n₁) div (n₁·n₂) on Decimal(38) ≙
    * HUGEINT — with the day as the deterministic tie-break, so both
    * engines pick the same split; means and R² are integer
    * divisions on the same grid.
    *
    * Scale: one day-grain aggregate, then every candidate split reads
    * off ONE prefix-sum window over the days-bounded spine — no
    * per-split rescan. */
  /** MARKET CONCENTRATION (Herfindahl–Hirschman) per order year —
    * each nation's revenue share squared and summed: the one-number
    * "is this market a monopoly or a melee" gauge beside q182's raw
    * share table, with the EFFECTIVE NATION COUNT 1/HHI riding along
    * (the q296 effective-vocabulary idea on the business pillar).
    * Exact integers: cents-exact revenue, floored micro shares, HHI
    * as Σs² div 10⁶ on Decimal(38) ≙ HUGEINT, effective count in
    * milli via one more exact division.
    *
    * Scale: one orders scan joins two broadcast dims, folds to the
    * years × nations grid; everything after runs there. */
  def marketConcentration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(year(col("o_orderdate")).cast("long").as("yr"), col("n_name"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("yr"), col("n_name"))
      .agg(sum(col("cents")).as("rev"))
    rev
      .withColumn("tot", sum(col("rev")).over(Window.partitionBy(col("yr"))))
      .withColumn("s", expr("CAST(rev AS DECIMAL(38, 0)) * 1000000 div tot"))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_nations"),
        max(col("tot")).as("revenue_cents"),
        expr("CAST(sum(CAST(s AS DECIMAL(38,0)) * s) div 1000000 AS BIGINT)")
          .as("hhi_micro"))
      .withColumn("effective_nations_milli",
        expr("CAST(1000000000 div greatest(hhi_micro, 1) AS BIGINT)"))
      .orderBy(col("yr").asc)
  }

  /** TRAILING-WINDOW revenue quantile bands — per day, the
    * p10/p50/p90 of the last `windowDays` daily totals: the control
    * band an ops dashboard draws under today's number ([[changePoint]]
    * answers "did the level shift", this answers "where inside its
    * recent distribution does today sit"). Exact integers throughout:
    * each day's total fans to the ≤ `windowDays` report days it
    * belongs to (q292's WAU fan — ×28 on a CALENDAR-bounded spine,
    * never a corpus-sized blowup), ranks use the house
    * ceil(p·n/100) position over (cents, day), leading partial
    * windows are emitted with their width (`n_days`) rather than
    * silently mixed in, and the spine caps at the last data day. */
  def rollingRevenueBands(spark: SparkSession, dir: String,
      windowDays: Int = 28): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = PlanCache.tracked(Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("y")))
    val lastDay = daily.agg(max(col("day")).as("last_day"))
    val fan = daily
      .select(col("day"), col("y"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select(expr("date_add(day, CAST(off AS INT))").as("report_day"),
        col("day"), col("y"))
      .transform(Scalars.attach(_, lastDay,
        datediff(col("report_day"), lit("1970-01-01")),
        datediff(col("last_day"), lit("1970-01-01"))))
      .filter(col("report_day") <= col("last_day"))
    val w = Window.partitionBy(col("report_day"))
      .orderBy(col("y").asc, col("day").asc)
    fan
      .withColumn("rn", row_number().over(w))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("report_day"))))
      .groupBy(col("report_day"))
      .agg(max(col("n")).as("n_days"),
        max(when(col("rn") === expr("(10 * n + 99) div 100"), col("y")))
          .as("p10_cents"),
        max(when(col("rn") === expr("(50 * n + 99) div 100"), col("y")))
          .as("p50_cents"),
        max(when(col("rn") === expr("(90 * n + 99) div 100"), col("y")))
          .as("p90_cents"))
      .orderBy(col("report_day").asc)
  }

  def changePoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("y"))
    val wAsc = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    daily
      .withColumn("i", row_number().over(Window.orderBy(col("day"))))
      .withColumn("s1", sum(col("y")).over(wAsc))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("st", sum(col("y")).over(all))
      .withColumn("sq", sum(col("y").cast(dec) * col("y")).over(all))
      .filter(col("i") < col("n"))
      // the gain ORDER KEY floors to GIGA-cents² (div returns int64,
      // and the raw rational tops 1e23 at sf1): ties this coarse
      // resolve by day identically on both engines
      .withColumn("gain", expr(
        """(CAST(s1 AS DECIMAL(38,0)) * s1 * (n - i)
           + CAST(st - s1 AS DECIMAL(38,0)) * (st - s1) * i)
          div (CAST(i AS DECIMAL(38,0)) * (n - i) * 1000000000)"""))
      .orderBy(col("gain").desc, col("day").asc).limit(1)
      .select(col("day").as("split_day"), col("i").as("n_left"),
        (col("n") - col("i")).as("n_right"),
        expr("s1 div i").as("mean_left_cents"),
        expr("(st - s1) div (n - i)").as("mean_right_cents"),
        // R² = (between-SS)/(total-SS) cleared of divisions:
        // (num·n − S²·n₁·n₂)·10⁶ div ((Σy²·n − S²)·n₁·n₂). The day
        // spine is CALENDAR-bounded, so the numerator stays inside
        // Decimal(38) through sf1 (≈7e36); `div`'s RESULT must fit
        // int64 (it does: ≤10⁶) — a div whose quotient exceeds int64
        // silently wraps on decimals, the trap the gain key avoids by
        // flooring to giga-units first
        expr("""CAST(((CAST(s1 AS DECIMAL(38,0)) * s1 * (n - i)
              + CAST(st - s1 AS DECIMAL(38,0)) * (st - s1) * i) * n
            - CAST(st AS DECIMAL(38,0)) * st * i * (n - i)) * 1000000
          div greatest((CAST(sq AS DECIMAL(38,0)) * n
              - CAST(st AS DECIMAL(38,0)) * st) * i * (n - i), 1)
          AS BIGINT)""").as("r2_micro"))
  }

  /** KENDALL CONCORDANCE between a nation's early-period and
    * late-period revenue — "did the market's pecking order survive the
    * era change?", the rank-stability gauge beside q237's Spearman on
    * values (Kendall counts INVERSIONS, so one nation teleporting
    * across the table costs O(n) pair flips rather than distorting a
    * single squared rank gap). Periods split the order-year range at
    * its midpoint ((min+max) div 2 — replayed exactly in the oracle).
    * No ranks and no products: a pair is concordant when both periods
    * order the two nations the same way (sign comparisons only — the
    * value-product form overflows int64 at cents scale), and τ-a =
    * (C − D)·10⁶ div pairs stays a pure integer. Output is the 1-row
    * census: nations, pairs, concordant, discordant, ties, tau.
    *
    * Scale: one orders scan folds to the nations grid; the pair
    * expansion is dims² on that grid (≤ 25² rows), never data-sized. */
  def kendallConcordance(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).cast("long").as("yr"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    // the year-range midpoint rides a Scalars.attach broadcast — a
    // global window here would drag the whole orders join through one
    // task
    val mid = rev.agg(expr("(min(yr) + max(yr)) div 2").as("midyr"))
    val grid = rev
      .transform(Scalars.attach(_, mid, col("yr"), col("midyr")))
      .groupBy(col("n_name"))
      .agg(sum(when(col("yr") <= col("midyr"), col("cents"))
          .otherwise(0L)).as("x"),
        sum(when(col("yr") > col("midyr"), col("cents"))
          .otherwise(0L)).as("y"))
    // the pair expansion joins on an opaque constant key and filters
    // the orientation AFTER: a bare `<` join predicate plans the
    // BroadcastNestedLoopJoin the plan suite bans, while this stays a
    // BroadcastHashJoin over the dims-sized grid (the Scalars.attach
    // trick, both sides grid-sized)
    def keyed(df: DataFrame): DataFrame = df.withColumn("__k",
      coalesce(pmod(length(col("n_name")), lit(1)), lit(0)))
    keyed(grid.as("a"))
      .join(broadcast(keyed(grid.as("b")).select(
        col("n_name").as("bn"), col("x").as("bx"), col("y").as("by"),
        col("__k"))), Seq("__k"))
      .filter(col("a.n_name") < col("bn"))
      .select(col("a.x").as("ax"), col("a.y").as("ay"),
        col("bx"), col("by"))
      .select(
        when((col("ax") > col("bx") && col("ay") > col("by")) ||
             (col("ax") < col("bx") && col("ay") < col("by")), 1L)
          .otherwise(0L).as("c"),
        when((col("ax") > col("bx") && col("ay") < col("by")) ||
             (col("ax") < col("bx") && col("ay") > col("by")), 1L)
          .otherwise(0L).as("d"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("concordant"),
        sum(col("d")).as("discordant"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        (col("n_pairs") - col("concordant") - col("discordant")).as("ties"),
        expr("(concordant - discordant) * 1000000 div n_pairs")
          .as("tau_a_micro"))
  }

  /** LORENZ DECILES of customer revenue — the concentration TABLE
    * under q258's single-number Gini: customers with orders rank by
    * lifetime cents (ties broken by key — deterministic on both
    * engines), split into ntile(10) deciles, and each row carries its
    * member count, its cents, and the CUMULATIVE share in micro —
    * "the top decile holds 40% of revenue" read straight off row 10.
    * Exact integers: cents throughout, shares floored micro via
    * Decimal(38).
    *
    * Scale: one orders scan folds to the customer grid; the decile
    * window runs on that fold. */
  def lorenzDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    perCust
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("cents").asc, col("o_custkey").asc)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("decile_cents"))
      .withColumn("cum_cents", sum(col("decile_cents")).over(
        Window.orderBy(col("decile").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_share_micro", expr(
        "CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000 " +
          "div (max(cum_cents) OVER ()) AS BIGINT)"))
      .select(col("decile").cast("long").as("decile"), col("n_customers"),
        col("decile_cents"), col("cum_cents"), col("cum_share_micro"))
      .orderBy(col("decile").asc)
  }
}
