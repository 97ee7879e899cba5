package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** Probabilistic summaries for corpus-scale statistics: a HyperLogLog
  * distinct-count sketch and a Bloom-filter semi-join prefilter.
  *
  * Both sketches are DETERMINISTIC replays — register/bit positions
  * come from md5 of the value (no RNG, no JVM hashCode), so the DuckDB
  * oracle reproduces them bit-for-bit and a re-run on reshuffled data
  * lands on identical registers. That is also what makes them
  * MERGEABLE at scale: HLL registers combine by max, Bloom bitmaps by
  * OR, so partial sketches from 1000 executors fold without ever
  * seeing each other's raw values (cf. the CMS sketch,
  * [[TextOps.cmsTokenFrequencies]], built on the same convention).
  */
object Sketches {

  /** HLL shape shared with the oracle: 2^8 registers; the 60-bit md5
    * hash splits into an 8-bit register index and a 52-bit remainder
    * whose leading-zero count feeds the register. */
  val HllRegisterBits = 8
  val HllRegisters: Int = 1 << HllRegisterBits // 256
  val HllRestBits: Int = 60 - HllRegisterBits // 52

  /** alpha_m · m² · 2^53 — the estimator numerator, folded to one
    * double literal so the oracle SQL interpolates the IDENTICAL
    * value (a DuckDB `0.7213` literal would be DECIMAL, not DOUBLE,
    * and round differently). ·2^53 is exact (power-of-two scale). */
  val HllNumerator: Double =
    0.7213 / (1 + 1.079 / HllRegisters) * HllRegisters * HllRegisters * (1L << 53).toDouble

  /** Distinct-token estimate per source via HyperLogLog, next to the
    * exact count for error inspection.
    *
    * Scale shape: the token scan partial-aggregates map-side into at
    * most `m` = [[HllRegisters]] registers per source (the groupBy's
    * combine step IS the sketch merge), so the shuffle carries
    * ≤ sources × m rows no matter the corpus size — this is the
    * operator to reach for when `count(distinct)`'s two-phase expansion
    * (cf. q8) stops fitting. The register sum uses INTEGER
    * `2^(53 − rho)` terms (shifts, not `pow`) so the fold is
    * order-independent — a double Σ2^−rho loses low bits once the
    * running sum outgrows the smallest term, and THAT loss would be
    * shuffle-order-dependent and flap the oracle compare.
    *
    * Small-range correction (linear counting when est ≤ 2.5 m with
    * empty registers) branches on integers — both engines take the
    * same branch; the final ln/division double is rounded at 2 dp
    * (cross-engine ties measure-zero, per the verify conventions). */
  /** (source, reg, rho) register observations for a documents frame —
    * shared by the batch sketch and its streaming twin
    * ([[graft.streaming.SketchStream]]), so their registers line up
    * exactly. rho = leading zeros of the 52-bit rest + 1; bin() gives
    * the bit length of a positive long (both engines), rest = 0 ⇒
    * rho = 53. The rest is h >> 8, NOT h/256: Column `/` is DOUBLE
    * division, which is lossy above 2^53 — and h is 60-bit. */
  def registerRows(docs: DataFrame): DataFrame = {
    val h = Text.md5Hash60(concat(lit("hll-"), col("token")))
    docs.select(col("source"), explode(Text.tokens(col("text"))).as("token"))
      .select(col("source"), pmod(h, lit(HllRegisters)).as("reg"),
        call_function("shiftright", h, lit(HllRegisterBits)).as("rest"))
      .withColumn("rho",
        when(col("rest") === 0, lit(HllRestBits + 1))
          .otherwise(lit(HllRestBits + 1) - length(bin(col("rest")))))
      .select(col("source"), col("reg"), col("rho"))
  }

  /** Scalar twin of the SQL estimator below (and the oracle's):
    * identical double operations on identical integers → identical
    * result, asserted by SketchStreamSpec's batch↔stream parity. */
  def estimateScalar(mHit: Int, sumpow: Long): Double = {
    val m = HllRegisters
    val zeros = m - mHit
    val raw = sumpow + zeros.toLong * (1L << 53)
    val estRaw = HllNumerator / raw.toDouble
    val est = if (zeros > 0 && estRaw <= 2.5 * m)
      m.toDouble * math.log(m.toDouble / zeros) else estRaw
    BigDecimal(est).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def hllDistinctTokens(spark: SparkSession, dir: String): DataFrame = {
    val m = HllRegisters
    val regs = registerRows(Tables(spark, dir, "documents"))
      .groupBy(col("source"), col("reg")).agg(max(col("rho")).as("mrho"))
    val sums = regs.groupBy(col("source")).agg(
      count(lit(1)).as("m_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(53 - mrho AS INT))")).as("sumpow"))
    val exact = Tables(spark, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("source")).agg(count_distinct(col("token")).as("true_distinct"))
    val zeros = lit(m) - col("m_hit")
    // raw register term for an untouched register is 2^0 = 1 ⇒ 2^53 here
    val raw = col("sumpow") + zeros * lit(1L << 53)
    val estRaw = lit(HllNumerator) / raw.cast("double")
    val est = when(zeros > 0 && estRaw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).otherwise(estRaw)
    sums.join(exact, Seq("source"))
      .select(col("source"), col("m_hit"), round(est, 2).as("est_distinct"),
        col("true_distinct"))
  }

  /** Daily active users, exact AND sketched side by side: the same
    * md5-deterministic HLL registers as [[hllDistinctTokens]], keyed by
    * calendar day — the monitoring series where the sketch's value
    * shows (per-day registers are 256 longs, mergeable across
    * partitions and days; the exact count is the spec's truth anchor).
    * At 100 TB the exact leg is the one you drop; the sketch leg's
    * cost is a map-side register fold. */
  def dailyActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val m = HllRegisters
    val base = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val h = Text.md5Hash60(concat(lit("dau-"), col("user_id").cast("string")))
    val regs = base
      .select(col("day"), pmod(h, lit(m)).as("reg"),
        call_function("shiftright", h, lit(HllRegisterBits)).as("rest"))
      .withColumn("rho",
        when(col("rest") === 0, lit(HllRestBits + 1))
          .otherwise(lit(HllRestBits + 1) - length(bin(col("rest")))))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("mrho"))
    val sums = regs.groupBy(col("day")).agg(
      count(lit(1)).as("m_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(53 - mrho AS INT))")).as("sumpow"))
    val exact = base.groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("true_dau"))
    val zeros = lit(m) - col("m_hit")
    val raw = col("sumpow") + zeros * lit(1L << 53)
    val estRaw = lit(HllNumerator) / raw.cast("double")
    val est = when(zeros > 0 && estRaw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).otherwise(estRaw)
    sums.join(exact, Seq("day"))
      .select(col("day"), col("m_hit"), round(est, 2).as("est_dau"), col("true_dau"))
  }

  /** ROLLING weekly-active-user sketch — the SLIDING merge completing
    * the register-algebra triptych: [[dailyActiveUsers]] merges
    * nothing, [[cumulativeActiveUsers]] merges all history forward,
    * and this one re-merges a moving 7-day window — the shape every
    * "WAU" dashboard needs, and the one a cumulative sketch CANNOT
    * answer because registers don't subtract (max is not invertible).
    * Instead each day's 256 registers fan to the ≤ 7 report days they
    * cover (q187's WAU fan idiom — ×7 on a days-bounded frame, never
    * a dense day×register grid) and re-max per report day; the exact
    * WAU twin rides the same fan over the deduped presence frame as
    * the truth anchor. Same 'dau-' register scheme as the other two,
    * so a 1-day window degrades to the daily report by construction.
    * The report spine caps at the last DATA day (r13): the fan would
    * otherwise emit trailing "future" report days whose windows only
    * shrink — dashboard noise, not information.
    *
    * Scale: the corpus-sized work is the one register fold and one
    * presence dedup; everything downstream is (days × 256) × 7 at
    * most. At 100 TB the exact leg is the one you drop. */
  def rollingActiveUsers(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val m = HllRegisters
    val base = PlanCache.tracked(Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")))
    val h = Text.md5Hash60(concat(lit("dau-"), col("user_id").cast("string")))
    val daily = base
      .select(col("day"), pmod(h, lit(m)).as("reg"),
        call_function("shiftright", h, lit(HllRegisterBits)).as("rest"))
      .withColumn("rho",
        when(col("rest") === 0, lit(HllRestBits + 1))
          .otherwise(lit(HllRestBits + 1) - length(bin(col("rest")))))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("mrho"))
    val windowed = daily
      .select(col("day"), col("reg"), col("mrho"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select(expr("date_add(day, CAST(off AS INT))").as("report_day"),
        col("reg"), col("mrho"))
      .groupBy(col("report_day"), col("reg")).agg(max(col("mrho")).as("mrho"))
    val sums = windowed.groupBy(col("report_day")).agg(
      count(lit(1)).as("m_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(53 - mrho AS INT))"))
        .as("sumpow"))
    val exact = base.distinct()
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select(expr("date_add(day, CAST(off AS INT))").as("report_day"),
        col("user_id"))
      .groupBy(col("report_day"))
      .agg(count_distinct(col("user_id")).as("true_wau"))
    val zeros = lit(m) - col("m_hit")
    val raw = col("sumpow") + zeros * lit(1L << 53)
    val estRaw = lit(HllNumerator) / raw.cast("double")
    val est = when(zeros > 0 && estRaw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(estRaw)
    // cap the report spine at the last DATA day (the kaplanMeier
    // horizon attach): the unconditional 7-day fan otherwise emits
    // trailing "future" report days whose windows only shrink
    val lastDay = base.agg(max(col("day")).as("last_day"))
    sums.join(exact, Seq("report_day"))
      .transform(Scalars.attach(_, lastDay,
        datediff(col("report_day"), lit("1970-01-01")),
        datediff(col("last_day"), lit("1970-01-01"))))
      .filter(col("report_day") <= col("last_day"))
      .select(col("report_day"), col("m_hit"), round(est, 2).as("est_wau"),
        col("true_wau"))
      .orderBy(col("report_day").asc)
  }

  /** CUMULATIVE distinct-user curve — [[dailyActiveUsers]]' running
    * twin: per day, the distinct users seen SO FAR, exact (first-seen
    * fold) beside the HLL estimate from an element-wise running
    * register max — the mergeability property exercised over TIME
    * (yesterday's registers OR today's = the cumulative sketch; no
    * per-day recount of history). Same register scheme and salt as
    * the daily report, so day 1's estimate coincides by construction.
    *
    * Scale: the exact side never rescans history (new-user counts per
    * first-seen day + one running sum over the day spine); the sketch
    * side is a (day × 256-register) grid — days-bounded, NOT
    * corpus-bounded — with one running-max window partitioned by
    * register. */
  def cumulativeActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = HllRegisters
    val base = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val h = Text.md5Hash60(concat(lit("dau-"), col("user_id").cast("string")))
    val daily = base
      .select(col("day"), pmod(h, lit(m)).as("reg"),
        call_function("shiftright", h, lit(HllRegisterBits)).as("rest"))
      .withColumn("rho",
        when(col("rest") === 0, lit(HllRestBits + 1))
          .otherwise(lit(HllRestBits + 1) - length(bin(col("rest")))))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("mrho"))
    val days = base.select(col("day")).distinct()
    val grid = days.select(col("day"),
      explode(sequence(lit(0L), lit(m - 1L))).as("reg"))
    val runmax = grid.join(daily, Seq("day", "reg"), "left")
      .withColumn("crho", max(col("mrho")).over(Window.partitionBy(col("reg"))
        .orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("crho").isNotNull)
    val sums = runmax.groupBy(col("day")).agg(
      count(lit(1)).as("m_hit"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(53 - crho AS INT))")).as("sumpow"))
    val zeros = lit(m) - col("m_hit")
    val raw = col("sumpow") + zeros * lit(1L << 53)
    val estRaw = lit(HllNumerator) / raw.cast("double")
    val est = when(zeros > 0 && estRaw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).otherwise(estRaw)
    val newPerDay = base.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
    val exact = days.join(newPerDay, col("day") === col("first_day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("true_cum", sum(col("new_users")).over(Window.partitionBy()
        .orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sums.join(exact.select(col("day"), col("true_cum")), Seq("day"))
      .select(col("day"), col("m_hit"), round(est, 2).as("est_cum"), col("true_cum"))
  }

  /** Bloom shape shared with the oracle: 4096 bits, 3 hashes. */
  val BloomBits = 4096
  val BloomHashes = 3

  private def bloomBit(i: Int, key: Column): Column =
    pmod(Text.md5Hash60(concat(lit(s"bloom$i-"), key.cast("string"))), lit(BloomBits))

  /** Bloom-filter semi-join prefilter — the runtime-filter pattern: the
    * small side (BUILDING-segment customers) compresses to a
    * [[BloomBits]]-bit filter that prunes the big side (orders) BEFORE
    * its shuffle; the report measures what that buys (rows passed,
    * true matches, false positives).
    *
    * Scale shape: the filter itself is fixed-size metadata — the
    * distinct-bit collect is ≤ [[BloomBits]] values regardless of how
    * many customers set them (same bounded-collect contract as the IVF
    * codebook, Similarity.scala) — and folds into the orders scan as a
    * 64-word bitmap literal probed with shift/mask arithmetic: O(1)
    * per row, whole-stage codegen, zero join. The exact semi-join it
    * emulates runs alongside only to score the filter; a production
    * pipeline keeps the bitmap and drops the join. */
  def bloomPrefilterReport(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val bitRows = dims
      .select(explode(array((0 until BloomHashes).map(i => bloomBit(i, col("c_custkey"))): _*))
        .as("bit"))
      .distinct().collect().map(_.getLong(0)) // ≤ BloomBits values: bounded metadata
    val words = new Array[Long](BloomBits / 64)
    bitRows.foreach(b => words(b.toInt / 64) |= 1L << (b.toInt % 64))
    val bitmap = array(words.map(lit).toIndexedSeq: _*)
    def member(bit: Column): Column =
      call_function("shiftright",
        element_at(bitmap, call_function("shiftright", bit, lit(6)).cast("int") + 1),
        pmod(bit, lit(64)).cast("int")).bitwiseAND(lit(1L)) === 1L
    val pass = (0 until BloomHashes)
      .map(i => member(bloomBit(i, col("o_custkey")))).reduce(_ && _)
    // ONE aggregate pass scores the filter: the exact-membership flag
    // rides a broadcast left join, so bloom-pass and true-match count
    // in the same scan (two 1-row aggregates cross-joined would plan
    // the banned BroadcastNestedLoopJoin)
    val dimKeys = dims.select(col("c_custkey").as("o_custkey"))
      .distinct().withColumn("in_dim", lit(1L))
    Tables(spark, dir, "orders")
      .join(broadcast(dimKeys), Seq("o_custkey"), "left")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(pass, 1L).otherwise(0L)).as("n_bloom_pass"),
        sum(coalesce(col("in_dim"), lit(0L))).as("n_true"))
      .select(col("n_orders"), col("n_bloom_pass"), col("n_true"),
        (col("n_bloom_pass") - col("n_true")).as("n_false_pos"))
  }

  /** Quantile probes shared with the oracle. */
  val QuantilePs = Seq(25, 50, 75, 90)

  /** Per-(source) log₂-bucket token-count histogram: `(source, b, c)`
    * with `b = bit_length(n) − 1` (the `bin()` length trick both
    * engines share, cf. the HLL rho). The MERGEABLE sketch state:
    * ≤ 64 buckets per source no matter the corpus size, partial
    * histograms fold by summing counts — the groupBy's map-side
    * combine IS the merge. */
  /** `(source, b)` bucket observations — shared by the batch histogram
    * and its streaming twin ([[graft.streaming.QuantileStream]]) so
    * their buckets line up exactly. */
  def bucketRows(docs: DataFrame): DataFrame = {
    val n = size(Text.tokens(col("text"))).cast("long")
    docs.select(col("source"), (length(bin(n)) - 1).cast("int").as("b"))
  }

  def logHistogram(docs: DataFrame): DataFrame =
    bucketRows(docs).groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))

  /** Quantile estimates from a (possibly merged) histogram: for each
    * probe p the target rank is `ceil(p·total/100)` (percentile_disc
    * semantics, integer-exact as `(p·total + 99) DIV 100`), the
    * answer bucket is the first whose running count reaches it, and
    * the estimate is the bucket's integer midpoint
    * `(3·2^b − 1) DIV 2`. All windows run over the ≤ 64-row-per-source
    * sketch, not the corpus. */
  def quantilesFromHistogram(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("source"))
    hist
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("total", sum(col("c")).over(wt))
      .withColumn("p", explode(array(QuantilePs.map(lit): _*)))
      .withColumn("r", expr("(p * total + 99) DIV 100"))
      .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
      .select(col("source"), col("p"), col("b").as("bucket"),
        expr("(3 * shiftleft(CAST(1 AS BIGINT), bucket) - 1) DIV 2").as("est_tokens"))
  }

  /** Per-source approximate token-count quantiles (p25/50/75/90) from
    * the log-bucket histogram — the fixed-size, mergeable complement
    * to the exact percentiles ([[Relevance.tokenPercentiles]]): exact
    * needs a per-source ordering of every row; this shuffles
    * ≤ sources × 64 sketch rows regardless of corpus size. Estimate
    * error is bounded by the bucket (midpoint is within 2× of any
    * value in it — the DDSketch trade at γ=2, here with integer-exact
    * bucketing and midpoints so the oracle replays bit-for-bit). */
  def logQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesFromHistogram(logHistogram(Tables(spark, dir, "documents")))

  /** The q83/q117 estimator as a reusable Column: identical double
    * operations on identical integers in both engines (the ln of the
    * linear-counting branch rides the usual round-at-output-dp
    * convention). */
  private[graft] def hllEstimate(mHit: Column, sumpow: Column): Column = {
    val m = HllRegisters
    val zeros = lit(m) - mHit
    val raw = sumpow + zeros.cast("long") * lit(1L << 53)
    val estRaw = lit(HllNumerator) / raw.cast("double")
    when(zeros > 0 && estRaw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).otherwise(estRaw)
  }

  /** Pairwise vocabulary overlap between sources — HLL SKETCH ALGEBRA:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is the
    * register max-merge the HLL contract guarantees. The union's
    * (m_hit, Σ2^(53−rho)) fold comes from the per-source sums plus ONE
    * equi-join on the register index — for a register both sources hit,
    * the union keeps max(rho), so
    * `sumpow_u = sumpow_a + sumpow_b − Σ_common 2^(53−min(rho_a,rho_b))`
    * — all integer, no per-pair register realignment, no cartesian
    * pairs frame (pairs materialize FROM the common-register join;
    * with vocab ≫ m a pair sharing zero registers is measure-zero, and
    * vocabularies that tiny are exact-countable anyway). The exact
    * intersect rides alongside as the truth anchor.
    *
    * This is the cross-corpus contamination / source-similarity report
    * at 100 TB: per-source registers are ≤ sources × m rows however
    * large the corpus, so source-pair overlap costs sketch-sized work
    * after one token scan — the exact leg (a vocab-keyed self-join) is
    * the one you drop at scale.
    *
    * Output per (source_a < source_b): exact overlap and the sketch
    * estimate (signed — inclusion–exclusion error can undershoot 0;
    * clamping would hide the sketch's honest variance). */
  /** The overlap estimate from a (source, reg, mrho) register frame:
    * one (source_a < source_b, est_overlap) row per register-sharing
    * pair — shared by the corpus-scan path ([[vocabOverlap]]) and the
    * persisted-store path ([[overlapFromStore]]). */
  private def overlapEstimates(regs: DataFrame): DataFrame = {
    val perSrc = regs.groupBy(col("source")).agg(
      count(lit(1)).as("m_hit"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mrho AS INT))")).as("sumpow"))
    val common = regs.select(col("source").as("source_a"), col("reg"),
        col("mrho").as("rho_a"))
      .join(regs.select(col("source").as("source_b"), col("reg"),
        col("mrho").as("rho_b")), Seq("reg"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(
        count(lit(1)).as("m_common"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - least(rho_a, rho_b) AS INT))"))
          .as("sp_maxterm"))
    val ja = perSrc.select(col("source").as("source_a"),
      col("m_hit").as("mh_a"), col("sumpow").as("sp_a"))
    val jb = perSrc.select(col("source").as("source_b"),
      col("m_hit").as("mh_b"), col("sumpow").as("sp_b"))
    common.join(broadcast(ja), Seq("source_a"))
      .join(broadcast(jb), Seq("source_b"))
      .withColumn("mh_u", col("mh_a") + col("mh_b") - col("m_common"))
      .withColumn("sp_u", col("sp_a") + col("sp_b") - col("sp_maxterm"))
      .select(col("source_a"), col("source_b"),
        round(hllEstimate(col("mh_a"), col("sp_a"))
          + hllEstimate(col("mh_b"), col("sp_b"))
          - hllEstimate(col("mh_u"), col("sp_u")), 2).as("est_overlap"))
  }

  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // (source, reg, mrho) — feeds the per-source sums AND the
    // common-register join; tracked, caller-managed lifetime
    val regs = PlanCache.tracked(registerRows(docs)
      .groupBy(col("source"), col("reg")).agg(max(col("rho")).as("mrho")))
    val est = overlapEstimates(regs)
    val st = docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
      .distinct()
    val exact = st.select(col("source").as("source_a"), col("token"))
      .join(st.select(col("source").as("source_b"), col("token")), Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    est.join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"),
        col("est_overlap"))
  }

  // ---- persisted sketch store -----------------------------------------

  /** Found a durable per-source HLL register store: the corpus's
    * (source, reg, mrho) rows land as a tiny parquet table. This is
    * the 100 TB reporting steady state — distinct-count and overlap
    * reports read ≤ sources × m rows from here instead of re-scanning
    * the corpus; each crawl increment appends its own compacted
    * registers ([[appendToSketchStore]]) and max-merge at READ time
    * resolves the increments (HLL's merge = register max, so
    * append-then-max ≡ sketching the union — spec-proven bit-equal). */
  def foundSketchStore(docs: DataFrame, storeDir: String): Unit =
    registerRows(docs)
      .groupBy(col("source"), col("reg")).agg(max(col("rho")).as("mrho"))
      .write.mode("overwrite").parquet(s"$storeDir/registers")

  /** Append one ingest increment's registers — compacted to the batch's
    * per-(source, reg) max first, so the store grows by at most
    * sources × m rows per increment regardless of batch size, and old
    * rows are never rewritten (the append-only contract the band/IVF
    * index family shares). Store contract: [[Atomic]]. */
  def appendToSketchStore(batch: DataFrame, storeDir: String): Unit =
    Atomic.append(registerRows(batch)
      .groupBy(col("source"), col("reg")).agg(max(col("rho")).as("mrho")),
      storeDir, "registers")

  /** The store's merged register view: max over all increments.
    *
    * Deletion caveat, stated honestly: HLL is NOT a linear sketch — a
    * register max cannot be unlearned, so right-to-be-forgotten over
    * sketched sources means re-founding the store from the surviving
    * corpus (cheap relative to the corpus scan the reports avoid every
    * other day). The band/IVF indexes, which store per-document rows,
    * take the tombstone path instead ([[Atomic.forget]]). */
  def storedRegisters(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema("source STRING, reg LONG, mrho INT")
      .parquet(Atomic.resolve(spark, storeDir, "registers"))
      .groupBy(col("source"), col("reg")).agg(max(col("mrho")).as("mrho"))

  /** Rewrite the accumulated increments as one merged register set —
    * the store's OPTIMIZE face: read-side work drops back to one row
    * per (source, reg) after many appends, published through
    * [[Atomic.publish]]; reports are unchanged by construction
    * (max is idempotent/associative). */
  def compactSketchStore(spark: SparkSession, storeDir: String): Unit = {
    val live = storedRegisters(spark, storeDir)
    Atomic.publish(spark, storeDir, "registers") { staged =>
      live.coalesce(1).write.mode("overwrite").parquet(staged)
    }
  }

  /** Per-source distinct-token estimate read purely from the store —
    * no corpus scan, no exact leg (at 100 TB the exact leg is the one
    * you drop; [[hllDistinctTokens]] is its truth-anchored twin). */
  def distinctFromStore(spark: SparkSession, storeDir: String): DataFrame = {
    val sums = storedRegisters(spark, storeDir)
      .groupBy(col("source")).agg(
        count(lit(1)).as("m_hit"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mrho AS INT))")).as("sumpow"))
    sums.select(col("source"), col("m_hit"),
      round(hllEstimate(col("m_hit"), col("sumpow")), 2).as("est_distinct"))
  }

  /** Pairwise source-vocabulary overlap read purely from the store —
    * [[vocabOverlap]]'s estimate leg with zero corpus work. */
  def overlapFromStore(spark: SparkSession, storeDir: String): DataFrame =
    overlapEstimates(PlanCache.tracked(storedRegisters(spark, storeDir)))
}
