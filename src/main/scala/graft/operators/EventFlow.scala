package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-sequence analytics: as-of join and gap sessionization.
  *
  * Both are ONE window over user-partitioned, time-ordered events —
  * the Spark-native shape for point-in-time semantics. The naive
  * range join (`events × events ON v.ts <= p.ts AND same user`)
  * explodes quadratically inside dense users and gives Catalyst
  * nothing to hash on beyond user_id; the union-window form is a
  * single shuffle on user_id and a linear pass per partition, and
  * survives a 100× scale-up as long as no single user's history
  * outgrows a partition (the usual contract for per-entity windows).
  */
object EventFlow {

  /** One source of truth for the session gap: the batch default, the
    * q60 oracle SQL, and the streaming twin all interpolate this —
    * the oracle-shares-operator-constants pattern (cf. Dedup.perms). */
  val DefaultGapHours = 12
  val DefaultGapUs: Long = DefaultGapHours * 3600L * 1000000L

  /** Deterministic event order: ties on ts broken by event_id, so
    * results are identical cross-engine and across reruns. */
  private def byTime =
    Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  /** As-of join: each purchase matched to the same user's most recent
    * view at-or-before it ("what was the user looking at when they
    * bought?"). Implemented as last-non-null over the UNION of both
    * event kinds — the purchase row itself contributes null, so the
    * match is the latest view strictly earlier in (ts, event_id)
    * order. Purchases with no preceding view keep null (left as-of). */
  def asofViewBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = byTime.rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("view_ts",
        last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("view_id"), col("view_ts"))
  }

  /** Gap sessionization: a user's session breaks after `gapHours` of
    * inactivity; one output row per session with bounds and size.
    * session_seq = running count of gap-breaks — the classic
    * lag-compare + prefix-sum. The final aggregate groups by
    * (user_id, session_seq): hash(user_id) from the window shuffle
    * already clusters those keys, so the agg adds NO second exchange
    * (PlanSpec pins this). */
  def sessionize(spark: SparkSession, dir: String,
      gapHours: Int = DefaultGapHours): DataFrame = {
    val us = unix_micros(col("ts"))
    val prev = lag(us, 1).over(byTime)
    val gapUs = gapHours * 3600L * 1000000L
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("new_s", when(prev.isNull || us - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_s")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  }

  /** Ordered conversion funnel (signup → view → purchase): each stage's
    * timestamp is the user's first qualifying event AT-OR-AFTER the
    * previous stage — the "did the signup actually convert, in order"
    * question a plain per-type min cannot answer. Three stacked
    * user-partitioned windows, and because all three share the same
    * partitioning, Catalyst plans ONE exchange for the whole chain;
    * the per-user collapse then reuses that clustering. */
  def conversionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("t0",
        min(when(col("event_type") === "signup", col("ts"))).over(all))
      .withColumn("t1",
        min(when(col("event_type") === "view" && col("ts") >= col("t0"), col("ts"))).over(all))
      .withColumn("t2",
        min(when(col("event_type") === "purchase" && col("ts") >= col("t1"), col("ts"))).over(all))
      .groupBy(col("user_id"))
      .agg(max(col("t0")).as("signup_ts"), max(col("t1")).as("view_ts"),
        max(col("t2")).as("purchase_ts"))
      .withColumn("stage",
        when(col("purchase_ts").isNotNull, 3)
          .when(col("view_ts").isNotNull, 2)
          .when(col("signup_ts").isNotNull, 1).otherwise(0))
  }

  /** Funnel SUMMARY — [[conversionFunnel]] rolled up to the report a
    * dashboard actually shows: users at each stage, step-through rate
    * from the previous stage, and cumulative conversion from stage 1,
    * in integer micro. Stage k's population counts users whose funnel
    * reached AT LEAST k (the survival curve, monotone by
    * construction). */
  def funnelSummary(spark: SparkSession, dir: String): DataFrame = {
    val stages = conversionFunnel(spark, dir)
      .groupBy(col("stage")).agg(count(lit(1)).as("n_at"))
    // explicit 1..3 stage spine: a fully-converting cohort must still
    // report three rows (n_at = 0 at the skipped stages), or the
    // report's shape depends on the data
    val spine = spark.range(1, 4).select(col("id").cast("int").as("stage"))
    // tiny frame (3 rows): survival via a running sum over stage desc;
    // stage-0 users never reached the funnel and stay out of the
    // survival mass by construction
    spine.join(stages, Seq("stage"), "left")
      .withColumn("n_at", coalesce(col("n_at"), lit(0L)))
      .withColumn("n_reached", sum(col("n_at")).over(
        Window.partitionBy().orderBy(col("stage").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_reached",
        lag(col("n_reached"), 1).over(Window.partitionBy().orderBy(col("stage").asc)))
      .withColumn("first_reached",
        first(col("n_reached")).over(Window.partitionBy().orderBy(col("stage").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("stage"), col("n_reached"),
        coalesce(expr("n_reached * 1000000 div prev_reached"), lit(1000000L))
          .as("step_rate_micro"),
        expr("n_reached * 1000000 div first_reached").as("cum_rate_micro"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: counts and probabilities of `prev_type → next_type`
    * steps in (ts, event_id) order — the behavioral fingerprint a
    * funnel can't see (loops, back-offs, self-transitions).
    *
    * Probabilities are integer micro-units (`n·10⁶ div total`), so the
    * row is bit-stable cross-engine — no float division in the output.
    * One window shuffle on user_id (the [[byTime]] shape shared with
    * q59/q60) plus a metadata-sized aggregate: output cardinality is
    * |event types|², independent of corpus size. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("CAST((n * CAST(1000000 AS BIGINT)) DIV tot AS BIGINT)").as("prob_u"))

  /** MUTUAL INFORMATION between event type and hour-of-day — the
    * dependence screen that answers "does WHEN predict WHAT" in one
    * number (q196's chi-square tests the null; MI measures the
    * effect in nats, the units feature-selection reasons in):
    * I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over the
    * types × 24-hour contingency grid. Per-cell log terms ride the
    * 1e-6 log grid (the q126 convention — counts are exact, ln is
    * the one double, its operand a single division with one op
    * order); the final sum is Σ n_xy·l_micro div N, exact integer.
    * Entropy of the type marginal rides along so the reader gets the
    * normalized ratio for free.
    *
    * Scale: one scan → the (types × 24) hash-agg; everything after
    * runs on that bounded grid. */
  def mutualInformation(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = Tables(spark, dir, "events")
      .select(col("event_type").as("x"), hour(col("ts")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
    val all = Window.partitionBy()
    cells
      .withColumn("nx", sum(col("nxy")).over(Window.partitionBy(col("x"))))
      .withColumn("ny", sum(col("nxy")).over(Window.partitionBy(col("y"))))
      .withColumn("n", sum(col("nxy")).over(all))
      .withColumn("l_micro",
        round(log(col("nxy").cast("double") * col("n").cast("double") /
          (col("nx").cast("double") * col("ny").cast("double"))) * 1000000,
          0).cast("long"))
      .withColumn("hx_micro",
        round(log(col("nx").cast("double") / col("n").cast("double")) *
          1000000, 0).cast("long"))
      .agg(max(col("n")).as("n_events"),
        count_distinct(col("x")).as("n_types"),
        count_distinct(col("y")).as("n_hours"),
        sum(col("nxy").cast(dec) * col("l_micro")).as("mi_num"),
        // H(X): each (x,y) cell contributes nxy·(−ln p(x)) — summing
        // over the grid reuses the joint frame without a second scan
        sum(col("nxy").cast(dec) * -col("hx_micro")).as("hx_num"))
      .select(col("n_events"), col("n_types"), col("n_hours"),
        expr("CAST(mi_num div n_events AS BIGINT)").as("mi_micro"),
        expr("CAST(hx_num div n_events AS BIGINT)").as("h_type_micro"))
  }

  /** EMPIRICAL ENTROPY RATE of the per-user event chain — the plug-in
    * conditional entropy H(next | prev) over q88's transition counts:
    * how many nats of surprise each step carries once the previous
    * step is known. Read beside [[mutualInformation]]'s H(X): their
    * gap is what first-order history buys a sequence model — the
    * one-number screen run before training one. Same exact-integer
    * discipline: counts exact, per-transition ln(c_ij/c_i·) on the
    * 1e-6 grid, final fold Σ c_ij·(−l) div C.
    *
    * Scale: the q88 window shuffle, then a |types|²-bounded fold. */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("l_micro",
        round(log(col("n").cast("double") / col("tot").cast("double")) *
          1000000, 0).cast("long"))
      .agg(sum(col("n")).as("n_transitions"),
        count_distinct(col("prev_type")).as("n_states"),
        sum(col("n").cast(dec) * -col("l_micro")).as("h_num"))
      .select(col("n_transitions"), col("n_states"),
        expr("CAST(h_num div n_transitions AS BIGINT)").as("h_cond_micro"))
  }

  /** RETENTION HALF-LIFE — the exponential-decay fit over q74's
    * cohort curve collapsed to one global series: per day-offset
    * 1..`maxOffset`, the fraction of ALL users active that many days
    * after their own first day; a log-linear OLS over the positive-
    * rate offsets gives the decay slope and t½ = ln 2 / (−slope) —
    * the single number a growth model plugs in where the raw q74
    * grid has hundreds of cells. Day 0 is excluded by construction
    * (100% by definition — including the anchor biases the slope);
    * zero-rate offsets drop (no log), their absence visible in
    * `n_offsets`. Same exactness recipe as q303: integer counts,
    * per-offset ln on the 1e-6 grid, integer OLS, half-life as one
    * exact division in centi-days (NULL when the slope is not
    * negative — no decay, no half-life).
    *
    * Scale: one events scan → per-user first day (one shuffle) →
    * distinct (user, offset) presence → an offsets-bounded spine. */
  def retentionHalfLife(spark: SparkSession, dir: String,
      maxOffset: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = PlanCache.tracked(Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id")))))
    val nUsers = d.select(col("user_id")).distinct().count()
    val rates = d
      .select(col("user_id"),
        datediff(col("day"), col("cohort_day")).cast("long").as("off"))
      .filter(col("off") >= 1 && col("off") <= maxOffset)
      .distinct()
      .groupBy(col("off")).agg(count(lit(1)).as("n_active"))
      .select(col("off"),
        expr(s"n_active * 1000000 div ${nUsers}L").as("rate_micro"))
      .filter(col("rate_micro") > 0)
      .withColumn("lyu",
        round(log(col("rate_micro").cast("double") / 1000000.0) * 1000000,
          0).cast("long"))
    val all = Window.partitionBy()
    rates
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("sx", sum(col("off")).over(all))
      .withColumn("sy", sum(col("lyu")).over(all))
      .withColumn("sxx", sum(col("off") * col("off")).over(all))
      .withColumn("sxy", sum(col("off") * col("lyu")).over(all))
      .agg(max(col("n")).as("n_offsets"),
        max(expr("""(CAST(n AS DECIMAL(38,0)) * sxy
            - CAST(sx AS DECIMAL(38,0)) * sy)
          div (CAST(n AS DECIMAL(38,0)) * sxx
            - CAST(sx AS DECIMAL(38,0)) * sx)""")).as("slope_micro"))
      .select(lit(nUsers).as("n_users"), col("n_offsets"),
        col("slope_micro"),
        when(col("slope_micro") < 0,
          expr("CAST(69314718 div -slope_micro AS BIGINT)"))
          .as("half_life_days_centi"))
  }

  /** k-STEP ABSORPTION REACHABILITY of the event chain — per starting
    * event type, the probability of hitting `target` (purchase)
    * within `steps` transitions under q88's empirical kernel, with
    * the target absorbing: the "how close is each state to
    * converting" readout value iteration gives without a linear
    * solve. p₀ = 1 on the target; each round folds
    * pₖ₊₁(s) = Σ_t P(s→t)·pₖ(t) on the integer micro grid (one
    * floored division per state per round — deterministic on both
    * engines, the q230 unrolled-iteration discipline).
    *
    * Scale: the kernel is |types|²-bounded; each round is one join +
    * one aggregate on that metadata-sized frame. */
  def purchaseReachability(spark: SparkSession, dir: String,
      steps: Int = 5, target: String = "purchase"): DataFrame = {
    val trans = PlanCache.tracked(
      Tables(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tot",
          sum(col("n")).over(Window.partitionBy(col("prev_type")))))
    val states = PlanCache.tracked(
      trans.select(col("prev_type").as("state"))
        .union(trans.select(col("next_type"))).distinct())
    var p = states.select(col("state"),
      when(col("state") === target, 1000000L).otherwise(0L).as("p"))
    for (_ <- 0 until steps) {
      val step = trans
        .join(p.select(col("state").as("next_type"), col("p")),
          Seq("next_type"))
        .groupBy(col("prev_type").as("state"))
        .agg(expr("CAST(sum(CAST(n AS DECIMAL(38,0)) * p) div max(tot) AS BIGINT)")
          .as("pr"))
      p = states.join(step, Seq("state"), "left")
        .select(col("state"),
          when(col("state") === target, 1000000L)
            .otherwise(coalesce(col("pr"), lit(0L))).as("p"))
    }
    p.select(col("state").as("event_type"), col("p").as(s"p${steps}_micro"))
      .orderBy(col("event_type").asc)
  }

  /** A/B EXPERIMENT READOUT — the two-arm conversion analysis every
    * product-analytics surface ships: users assigned to arms by a
    * salted hash (the deterministic stand-in for a real assignment
    * column — this corpus carries no experiment, so the expected
    * readout is a null effect; the operator is the machinery),
    * conversion = any purchase event. One row: per-arm users /
    * conversions / rates, the risk difference, its 95% Wald interval
    * (z frozen at 1.959964 — the Benford/DCG literal convention), and
    * the 2×2 chi-square statistic. Counts and rates are exact
    * integers; the interval and χ² are the only doubles, computed
    * from bit-identical integer inputs with one op order per side
    * (the q195/q196 discipline).
    *
    * Scale: one scan folds per-user conversion (map-side combinable),
    * one 1-row aggregate over the users frame — nothing row-scale
    * past the first shuffle. */
  def abExperimentReadout(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("is_a", pmod(graft.functions.Text.md5Hash60(
        concat_ws("-", lit("ab"), col("user_id"))), lit(2L)) === 0)
    val m = users.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("is_a"), col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("is_a"), col("converted")).otherwise(0L)).as("conv_b"))
    val (na, ca, nb, cb) = (col("n_a").cast("double"), col("conv_a").cast("double"),
      col("n_b").cast("double"), col("conv_b").cast("double"))
    val (pa, pb) = (ca / na, cb / nb)
    val d = pa - pb
    val se = sqrt(pa * (lit(1.0) - pa) / na + pb * (lit(1.0) - pb) / nb)
    val z = lit(1.959964)
    // 2×2 χ²: n(ad−bc)² / (row·col products) — exact rational into one
    // double division (the q196 shape); a and d are conversions here
    val n = na + nb
    val chiNum = n * (ca * (nb - cb) - cb * (na - ca)) *
      (ca * (nb - cb) - cb * (na - ca))
    val chiDen = (ca + cb) * (n - ca - cb) * na * nb
    m.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      expr("CAST(conv_a AS DECIMAL(38,0)) * 1000000 div n_a").as("rate_a_micro"),
      expr("CAST(conv_b AS DECIMAL(38,0)) * 1000000 div n_b").as("rate_b_micro"),
      round(round(d, 6) * 1000000, 0).cast("long").as("diff_micro"),
      round(round(d - z * se, 6) * 1000000, 0).cast("long").as("ci_lo_micro"),
      round(round(d + z * se, 6) * 1000000, 0).cast("long").as("ci_hi_micro"),
      when(chiDen > 0, round(round(chiNum / chiDen, 6) * 1000, 0).cast("long"))
        .as("chi2_milli"))
  }

  /** MARKOV-MODEL EVALUATION — next-event prediction accuracy@k on
    * HELD-OUT users: the q88 transition matrix is the simplest session
    * model anyone deploys, and this is the report that says whether it
    * predicts anything. Users split by a salted hash (train ≈ 80%,
    * test the rest — USER-level, so no test transition's history leaks
    * into the matrix), next-type candidates rank per previous type by
    * train count (ties to the lexicographically smaller type), and
    * every consecutive test-sequence step asks "was the actual next
    * event in the model's top-k?" — per k, cases / hits / accuracy in
    * integer micro. A previous type unseen in training predicts
    * nothing and counts as a miss.
    *
    * Scale: one user-window pass per split (q88's plan); the model is
    * the types²-bounded matrix, broadcast into the test join; the
    * metric fold is one aggregate. */
  def markovPredictionEval(spark: SparkSession, dir: String,
      ks: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("split", pmod(graft.functions.Text.md5Hash60(
        concat_ws("-", lit("mkv"), col("user_id"))), lit(10L)))
    def steps(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
    val ranked = steps(ev.filter(col("split") < 8))
      .groupBy(col("prev_type"), col("next_type")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("prev_type"))
          .orderBy(col("n").desc, col("next_type").asc)))
      .select(col("prev_type"), col("next_type"), col("rnk"))
    steps(ev.filter(col("split") >= 8))
      .join(broadcast(ranked), Seq("prev_type", "next_type"), "left")
      .select(col("rnk"), explode(array(ks.map(k => lit(k)): _*)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_cases"),
        sum(when(col("rnk").isNotNull && col("rnk") <= col("k"), 1L)
          .otherwise(0L)).as("n_hits"))
      .select(col("k").cast("long").as("k"), col("n_cases"), col("n_hits"),
        expr("CAST(n_hits AS DECIMAL(38,0)) * 1000000 div n_cases")
          .as("accuracy_micro"))
  }

  /** Steady-state traffic share — the stationary distribution of the
    * [[markovTransitions]] chain by fixed-iteration power method: the
    * long-run fraction of events of each type if users keep behaving
    * like the observed transition matrix, the load-forecast face of
    * the transition report (capacity planning reads THIS, not the raw
    * matrix).
    *
    * All math is integer micro-units with per-term floor division
    * (`Σᵢ ⌊πᵢ·pᵢⱼ/10⁶⌋`, fixed `iters` steps, uniform ⌊10⁶/k⌋ start),
    * so both engines walk bit-identical trajectories — a double
    * power iteration would drift in summation order and flap the
    * oracle. Mass lost to flooring (and to types with no outgoing
    * edge) stays lost on BOTH sides by construction.
    *
    * Scale shape: the distributed work is the transition count (one
    * user-window pass, q88's plan); the iteration itself folds a
    * types²-bounded matrix (≤ 25 rows here) on the driver — the
    * metadata-bounded monitor convention, same as the anomaly
    * monitor's moment fold. */
  def markovStationary(spark: SparkSession, dir: String,
      iters: Int = 25): DataFrame = {
    val trans = markovTransitions(spark, dir)
      .select("prev_type", "next_type", "prob_u").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = trans.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    var pi: Map[String, Long] = types.map(_ -> 1000000L / types.length).toMap
    for (_ <- 0 until iters) {
      val next = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      trans.foreach { case (from, to, p) =>
        next(to) += pi(from) * p / 1000000L
      }
      pi = types.map(t => t -> next(t)).toMap
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          types.map(t => (t, pi(t))).toIndexedSeq, 1))
      .toDF("event_type", "stationary_micro")
  }

  /** Frequent behavior episodes: the top-k event-type TRIGRAMS across
    * all user sequences — the sequential-pattern sweep that surfaces
    * "view → view → purchase" style motifs a single-step transition
    * matrix ([[markovTransitions]]) cannot distinguish from noise.
    * Two stacked lags on the SAME user window (one exchange), then a
    * |types|³-bounded aggregate and a deterministic TakeOrdered. */
  def eventTrigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("p1", lag(col("event_type"), 1).over(byTime))
      .withColumn("p2", lag(col("event_type"), 2).over(byTime))
      .filter(col("p2").isNotNull)
      .groupBy(col("p2").as("step1"), col("p1").as("step2"),
        col("event_type").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1").asc, col("step2").asc, col("step3").asc)
      .limit(k)

  /** GAPPED SEQUENTIAL PATTERNS (PrefixSpan's support semantics, depth
    * 3) — the subsequence twin of [[eventTrigrams]]: the trigram motif
    * "view→view→purchase" only counts ADJACENT steps, but funnels with
    * chatter between steps (view … cart … purchase with anything in
    * the gaps) are invisible to it. A user supports pattern (a, b, c)
    * iff some a-event precedes some b-event which precedes some
    * c-event — strictly increasing timestamps, each user counted ONCE
    * (support = users, not occurrences; simultaneous events don't
    * chain, by the strict inequality).
    *
    * The existence test folds to per-user boundary aggregates instead
    * of enumerating subsequences (which would be eventsᵏ): an (a,b,c)
    * chain exists iff the EARLIEST b after the user's first a still
    * precedes the user's last c — computed as first-a per (user, a)
    * (one agg), earliest-b-after-it per (user, a, b) (one filtered
    * re-join + agg), last-c per (user, c) (one agg), then a
    * types³-bounded count.
    *
    * Scale: the re-join fans each event out |types| ways (a fixed
    * single-digit factor, never corpus²); everything else is
    * user-keyed aggregation on frames bounded by users × types³. */
  def sequentialPatterns(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val (firstBAfterA, lastC) = patternBoundaries(spark, dir)
    firstBAfterA.join(lastC, Seq("user_id"))
      .filter(col("tc") > col("tab"))
      .groupBy(col("a").as("step1"), col("b").as("step2"),
        col("c").as("step3"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("step1").asc, col("step2").asc,
        col("step3").asc)
      .limit(k)
  }

  /** The boundary-aggregate frames [[sequentialPatterns]] and
    * [[sequenceRules]] share: earliest-b-after-first-a per
    * (user, a, b), and last-c per (user, c). */
  private def patternBoundaries(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val firstA = ev.groupBy(col("user_id"), col("event_type").as("a"))
      .agg(min(col("ts")).as("ta"))
    val firstBAfterA = ev.join(firstA, Seq("user_id"))
      .filter(col("ts") > col("ta"))
      .groupBy(col("user_id"), col("a"), col("event_type").as("b"))
      .agg(min(col("ts")).as("tab"))
    val lastC = ev.groupBy(col("user_id"), col("event_type").as("c"))
      .agg(max(col("ts")).as("tc"))
    (firstBAfterA, lastC)
  }

  /** SEQUENCE ASSOCIATION RULES (a, b) → c over the gapped patterns —
    * the actionable face of [[sequentialPatterns]]: raw support ranks
    * patterns by POPULARITY, but "of the users who did a then b, what
    * fraction went on to c, and is that more than c's base rate?" is
    * the question a growth team asks. Confidence =
    * support(a,b,c)·10⁶ div support(a,b); lift = confidence / P(c) =
    * support(a,b,c)·n_users·10⁶ div (support(a,b)·support(c)) — one
    * exact rational through Decimal(38) ≙ HUGEINT (the triple product
    * outgrows int64 at corpus user counts), all terms positive so
    * truncation is floor on both engines.
    *
    * Scale: the same |types|-bounded boundary aggregates as q265 plus
    * three types-cubed-bounded joins — the user-grain frames never
    * re-expand. */
  def sequenceRules(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val (fba, lastC) = patternBoundaries(spark, dir)
    val firstBAfterA = PlanCache.tracked(fba)
    val lastCt = PlanCache.tracked(lastC)
    val nUsers = Tables(spark, dir, "events")
      .agg(count_distinct(col("user_id")).as("n_users"))
    val supAB = firstBAfterA.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support_ab"))
    val supC = lastCt.groupBy(col("c")).agg(count(lit(1)).as("support_c"))
    val supABC = firstBAfterA.join(lastCt, Seq("user_id"))
      .filter(col("tc") > col("tab"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("support_abc"))
    supABC.join(supAB, Seq("a", "b"))
      .join(broadcast(supC), Seq("c"))
      .transform(Scalars.attach(_, nUsers, col("support_abc"), col("n_users")))
      .select(col("a").as("step1"), col("b").as("step2"),
        col("c").as("consequent"), col("support_abc"), col("support_ab"),
        expr("CAST(CAST(support_abc AS DECIMAL(38,0)) * 1000000" +
          " div support_ab AS BIGINT)").as("confidence_micro"),
        expr("CAST(CAST(support_abc AS DECIMAL(38,0)) * n_users * 1000000" +
          " div (CAST(support_ab AS DECIMAL(38,0)) * support_c) AS BIGINT)")
          .as("lift_micro"))
      .orderBy(col("confidence_micro").desc, col("step1").asc,
        col("step2").asc, col("consequent").asc)
      .limit(k)
  }

  /** Daily per-event-type value anomalies as z-scores, fully
    * deterministic: daily totals are integer cents (`floor(value·100)`
    * — floor, not round: no cross-engine half-tie), and the variance
    * comes from the exact integer moments
    * `(n·Σx² − (Σx)²) / (n·(n−1))` — Σx² accumulates in DECIMAL(38)
    * so the moment stays EXACT where a double Σ would be
    * shuffle-order-dependent and an int64 would overflow (cents² at
    * petabyte scale passes 2⁶³). Both engines then run the identical
    * double formula on identical integers → identical z. Output pins
    * to micro-units.
    *
    * Scale shape: two partial-aggregated groupBys (day cardinality is
    * time-bounded, type cardinality fixed) and a broadcast of the
    * per-type moments back over the daily frame. */
  def dailyAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("long")
    val daily = Tables(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), cents.as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("x"))
    val dec = col("x").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val stats = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(dec * dec).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val varNum = nD * col("sxx").cast("double") - sxD * sxD
    val z6 = round((col("x").cast("double") - sxD / nD) /
      sqrt(varNum / (nD * (nD - lit(1.0)))), 6)
    daily.join(broadcast(stats), Seq("event_type"))
      .filter(col("n") > 1 && varNum > 0)
      .select(col("event_type"), col("day"), col("x").as("x_cents"),
        round(z6 * lit(1000000), 0).cast("long").as("z_u"))
  }

  /** SEASONALITY-ADJUSTED daily anomalies — z-scores over day-of-week
    * RESIDUALS: a plain daily z-score ([[dailyAnomalies]]) flags every
    * weekend of a weekly-cyclic stream; subtracting each (type, dow)
    * mean first scores only departures from the type's own weekly
    * shape. Float discipline: the residual rounds to integer micro
    * immediately (the one division is dow-mean), residual moments are
    * then EXACT (Σr in int64, Σr² through Decimal(38) — the q90
    * overflow convention), and the final z is one double expression
    * from exact integers, rounded at 6 dp. Degenerate types (≤1 day,
    * zero residual variance) drop, never divide-by-zero.
    *
    * Scale: two metadata-sized aggregates over the daily rollup
    * (types × days, then types × 7), one broadcastable join each. */
  def dowAdjustedAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
      .withColumn("dow", expr("weekday(day) + 1"))
    val dowStats = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_d"), sum(col("cnt")).as("s_d"))
    val resid = daily.join(broadcast(dowStats), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("cnt"),
        round((col("cnt").cast("double") -
          col("s_d").cast("double") / col("n_d").cast("double")) * 1000000.0, 0)
          .cast("long").as("r_mu"))
    val dec = col("r_mu").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val stats = resid.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("r_mu")).as("sr"), sum(dec * dec).as("srr"))
    val nD = col("n").cast("double")
    val srD = col("sr").cast("double")
    val varNum = nD * col("srr").cast("double") - srD * srD
    val z6 = round((col("r_mu").cast("double") - srD / nD) /
      sqrt(varNum / (nD * (nD - lit(1.0)))), 6)
    resid.join(broadcast(stats), Seq("event_type"))
      .filter(col("n") > 1 && varNum > 0)
      .select(col("event_type"), col("day"), col("cnt"), col("r_mu"),
        round(z6 * lit(1000000), 0).cast("long").as("z_u"))
  }

  /** Cohort LTV curve — cumulative revenue per user by FIRST-PURCHASE
    * cohort month and month offset: the "how much is a January
    * customer worth by month 3" report that prices acquisition.
    * Revenue in exact floor-cents; the running total is a per-cohort
    * window over the (cohorts × offsets)-sized rollup (metadata-sized
    * groups, never event-sized); per-user LTV floors. The cohort
    * month rides the purchase scan as one user-partitioned window
    * min — no self-join. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    // orders, not events: the order stream spans seven years — the
    // cohort × offset grid is the real report shape (events span days)
    val monthNum = (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long")
    val purchases = Tables(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"), monthNum.as("m"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val withCohort = purchases.withColumn("cohort_m",
      min(col("m")).over(Window.partitionBy(col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val rolled = withCohort
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("offset_months"))
      .agg(sum(col("cents")).as("rev_cents"),
        count_distinct(col("user_id")).as("active_users"))
    val cohortSizes = withCohort.filter(col("m") === col("cohort_m"))
      .groupBy(col("cohort_m")).agg(count_distinct(col("user_id")).as("cohort_users"))
    rolled.join(broadcast(cohortSizes), Seq("cohort_m"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cohort_m")).orderBy(col("offset_months"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("cohort_m"), col("offset_months"), col("cohort_users"),
        col("active_users"), col("rev_cents"), col("cum_rev_cents"),
        expr("cum_rev_cents div cohort_users").as("ltv_cents"))
  }

  /** ROBUST daily anomalies by median/MAD — the outlier-resistant twin
    * of the moment z-scores ([[dailyAnomalies]], [[dowAdjustedAnomalies]]):
    * one wild day inflates a mean-and-variance score enough to mask a
    * second anomaly; the median and the median-absolute-deviation
    * don't move. ENTIRELY integer: the median is the LOWER median
    * (element ⌈n/2⌉ in sort order — deterministic, no averaging of
    * middles), MAD likewise over |x − med|, and the score is
    * ⌊(x − med)·10⁶ / MAD⌋ — "x is k MADs from the median" with zero
    * float ops anywhere (multiply by 1.4826 yourself if you want
    * σ-equivalents). Types whose MAD is 0 (more than half the days
    * identical) emit NULL scores rather than infinities.
    *
    * Scale: two rank windows over the (types × days)-sized daily
    * rollup — metadata-sized partitions, never event-sized. */
  def robustAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col(valueCol).asc, col("day").asc)
      df.withColumn("_rk", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .filter(col("_rk") === expr("(_n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = lowerMedian(daily, "cnt", "med")
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("cnt") - col("med")))
    val mad = lowerMedian(
      dev.select(col("event_type"), col("day"), col("adev").as("cnt")), "cnt", "mad")
    // signed numerator: both engines TRUNCATE toward zero on integer
    // division (Spark `div`, DuckDB `//` — measured, not assumed), so
    // the plain form matches on both signs
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("day"), col("cnt"), col("med"), col("mad"),
        when(col("mad") > 0,
          expr("(cnt - med) * 1000000 div mad")).as("robust_micro"))
  }

  /** Retention cohorts: users grouped by first-seen day, activity
    * counted per (cohort day, day offset) — the retention matrix. The
    * cohort day is a window min over the SAME user partitioning as the
    * activity scan (no join, one exchange); the final distinct-count
    * is the standard two-phase expansion. Output cardinality is
    * days × max-offset, independent of corpus size. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort_day", min(col("day")).over(all))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  /** Rolling event rate: at each purchase, the user's event count and
    * integer-cent value mass over the trailing `windowHours` — a RANGE
    * (time-interval) window frame, not a ROWS frame: the frame holds
    * every event within the interval regardless of how many there are,
    * which is the burst/velocity feature a rate limiter or fraud score
    * reads. Cents are `floor(value·100)` (tie-free cross-engine, cf.
    * [[dailyAnomalies]]); the frame is computed over ALL the user's
    * events and only then sliced to purchases, so the rate reflects
    * total activity, not purchases alone.
    *
    * Scale shape: one exchange on user_id, one linear WindowExec pass
    * per partition (Spark evaluates a RANGE frame with two moving
    * pointers, never re-scanning the frame per row); the purchase
    * filter is post-window by necessity but drops ~4/5 of rows before
    * anything else reads them. Ties in ts join the frame as peers on
    * both engines (RANGE semantics), so results are deterministic. */
  def rollingRates(spark: SparkSession, dir: String,
      windowHours: Int = 1): DataFrame = {
    // both aggregates share ONE named order column and ONE frame spec,
    // so CollapseWindow folds them into a single WindowExec pass —
    // chained withColumns would each project their own unix_micros
    // alias and stack two Window operators (two sorts) instead
    val frame = Window.partitionBy(col("user_id")).orderBy(col("_us"))
      .rangeBetween(-(windowHours * 3600L * 1000000L), 0)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        unix_micros(col("ts")).as("_us"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        count(lit(1)).over(frame).as("n_1h"),
        sum(col("cents")).over(frame).as("cents_1h"))
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "n_1h", "cents_1h")
  }

  /** SCD type-2 dimension build: the signup/purchase stream becomes a
    * versioned per-user dimension — each event opens a version valid
    * [ts, next event's ts), the last version stays open (valid_to
    * null). One window on user_id (lead + row_number share the same
    * (ts, event_id) order, CollapseWindow folds them into one pass);
    * the warehouse materializes this ONCE and every point-in-time
    * consumer probes it — the half [[pitJoin]] completes.
    *
    * Zero-width versions are real: two updates at the same timestamp
    * yield valid_from == valid_to for the earlier (by event_id), which
    * no probe can match — last-writer-wins at instant granularity,
    * deterministic cross-engine. */
  def scd2Versions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("valid_to", lead(col("ts"), 1).over(byTime))
      .withColumn("version_seq", row_number().over(byTime))
      .select(col("user_id"), col("version_seq"), col("value"),
        col("ts").as("valid_from"), col("valid_to"))

  /** Point-in-time probe of the SCD2 dimension: each view event joined
    * to the user's value version in force at its timestamp
    * (valid_from ≤ ts < valid_to, open tail = null valid_to). Views
    * before a user's first version drop (inner PIT join).
    *
    * Scale shape: an EQUI-join on user_id with the interval test as a
    * residual predicate — per-user version counts are bounded by that
    * user's update activity, so the residual never quadratically
    * explodes the way a global range join would; one shuffle per side
    * (or zero when both tables are bucketed by user_id on disk). */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Versions(spark, dir)
    val views = Tables(spark, dir, "events")
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    views.join(dim, views("user_id") === dim("user_id") &&
        dim("valid_from") <= views("view_ts") &&
        (dim("valid_to").isNull || views("view_ts") < dim("valid_to")))
      .select(col("view_id"), dim("user_id"), col("view_ts"),
        dim("value").as("value_at_view"), col("version_seq"))
  }

  /** Conversion-latency percentiles — signup→purchase time for users
    * the ORDERED funnel converted, at the q87 explicit-rank
    * percentiles: the "how long does conversion take" product metric.
    * Latencies are exact BIGINT microseconds (`unix_micros`, the
    * engine-parity timestamp basis), ranked (latency, user_id) for a
    * total order. The global ranking window runs over the
    * CONVERTED-USERS frame — rows ∝ converted users, already one per
    * user after the funnel's aggregate — the same bounded
    * single-partition-window contract as the temperature mixer's
    * totals; the funnel itself still plans its one user_id exchange. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val conv = conversionFunnel(spark, dir).filter(col("stage") === 3)
      .select(col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("signup_ts")))
          .as("latency_us"))
    val ranked = conv.withColumn("rn", row_number().over(
      Window.orderBy(col("latency_us").asc, col("user_id").asc)))
    val pos = conv.agg(count(lit(1)).as("n_conv"))
      .select(explode(lit(Relevance.Percentiles.toArray)).as("pct"), col("n_conv"))
      .select(col("pct"), col("n_conv"),
        ceil(col("pct") * col("n_conv") / lit(100.0)).as("pos"))
    ranked.join(broadcast(pos), col("rn") === col("pos"))
      .select(col("pct"), col("n_conv"), col("latency_us"))
  }

  /** Event-type co-occurrence lift — the market-basket report over
    * per-user type sets: for each unordered type pair (a < b), how many
    * users did both, and lift = P(a∧b) / (P(a)·P(b)) in integer
    * micro-units (floor), so both engines agree bit-for-bit with no
    * float division. Lift > 1e6 micro-units reads "types co-occur more
    * than independence predicts" — the cross-sell / funnel-design
    * signal.
    *
    * Scale shape: ONE shuffle builds per-user distinct type sets; the
    * pair fan-out happens map-side inside each set (bounded by
    * |types|², never by user count) and partial-aggregates before the
    * tiny (type_a, type_b) shuffle. The user-count denominator folds in
    * as a literal from one scalar driver aggregate (the profiler/tfIdf
    * convention — never a 1-row crossJoin, which would plan the banned
    * nested loop). BIGINT products hold to ~10¹⁸ (n_ab·n_users·10⁶);
    * beyond that rearrange to divide before multiplying, as the
    * temperature mixer documents. */
  def cooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val ut = PlanCache.tracked(
      ev.select(col("user_id"), col("event_type")).distinct())
    // the scalar fold rides the tracked frame: this action materializes
    // the cache the main plan then reuses — one events scan total
    val nUsers: Long =
      ut.agg(count_distinct(col("user_id"))).head().getLong(0)
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val sets = ut.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
    val pairs = sets.select(explode(expr(
        """flatten(transform(types, (a, i) ->
          |  transform(slice(types, i + 2, size(types)),
          |    b -> struct(a AS type_a, b AS type_b))))""".stripMargin)).as("p"))
      .select(col("p.type_a"), col("p.type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        expr(s"(n_ab * 1000000) div $nUsers").as("support_micro"),
        expr(s"(n_ab * $nUsers * 1000000) div (n_a * n_b)").as("lift_micro"))
  }

  /** SESSION-scoped co-occurrence lift — [[cooccurrenceLift]] at the
    * session grain: user-lifetime baskets say "this user EVER did
    * both"; the session basket says "these happen in the same
    * sitting" — the grain that drives next-action UI and bundling.
    * Same fold, keyed by (user, session) instead of user: one
    * window pass assigns sessions, per-session distinct type sets
    * pair map-side (|types|²-bounded), integer micro support/lift. */
  def sessionCooccurrenceLift(spark: SparkSession, dir: String,
      gapHours: Int = DefaultGapHours): DataFrame = {
    val us = unix_micros(col("ts"))
    val prev = lag(us, 1).over(byTime)
    val gapUs = gapHours * 3600L * 1000000L
    val st = PlanCache.tracked(Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("new_s", when(prev.isNull || us - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_s")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .select(concat_ws("-", col("user_id"), col("session_seq")).as("sid"),
        col("event_type"))
      .distinct())
    val nSessions: Long =
      st.agg(count_distinct(col("sid"))).head().getLong(0)
    val perType = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val sets = st.groupBy(col("sid"))
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
    val pairs = sets.select(explode(expr(
        """flatten(transform(types, (a, i) ->
          |  transform(slice(types, i + 2, size(types)),
          |    b -> struct(a AS type_a, b AS type_b))))""".stripMargin)).as("p"))
      .select(col("p.type_a"), col("p.type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        expr(s"(n_ab * 1000000) div $nSessions").as("support_micro"),
        expr(s"(n_ab * $nSessions * 1000000) div (n_a * n_b)").as("lift_micro"))
  }

  /** Session rollup BY ENTRY TYPE — the landing-page report over
    * [[sessionize]]'s gap sessions: per entry event type (the
    * session's first event), session count, bounce rate (single-event
    * sessions), mean events per session, mean duration — "which way
    * in retains, which way in bounces". The session entry rides the
    * existing per-session aggregate as one `min(struct(ts, event_id,
    * event_type))` (deterministic — (ts, event_id) is unique);
    * integer micro rates via floor division. Output is
    * types-bounded. */
  def sessionStatsByEntry(spark: SparkSession, dir: String,
      gapHours: Int = DefaultGapHours): DataFrame = {
    val us = unix_micros(col("ts"))
    val prev = lag(us, 1).over(byTime)
    val gapUs = gapHours * 3600L * 1000000L
    val sess = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("new_s", when(prev.isNull || us - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_s")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
    sess.groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("_bounce"),
        sum(col("n_events")).as("_events"),
        sum(col("end_us") - col("start_us")).as("_dur_us"))
      .select(col("entry_type"), col("n_sessions"),
        expr("_bounce * 1000000 div n_sessions").as("bounce_micro"),
        expr("_events * 1000000 div n_sessions").as("avg_events_micro"),
        expr("_dur_us div n_sessions").as("avg_duration_us"))
  }

  /** REPEAT-PURCHASE CADENCE — exact percentiles of the gap between a
    * user's consecutive purchases: the repeat-buy rhythm a retention
    * team reads ([[conversionLatency]] measures the FIRST conversion;
    * this measures the habit after it). Same exact-percentile
    * convention: gaps rank totally (gap asc, event_id tiebreak) and
    * each percentile reads the ⌈p·n/100⌉-th value — no
    * approx-percentile nondeterminism. One user-window pass for the
    * gaps; the rank is a total-order window over the gap rows
    * (conversion-population-sized, not event-sized). */
  def repurchaseGaps(spark: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val gaps = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("gap_us", us - lag(us, 1).over(byTime))
      .filter(col("gap_us").isNotNull)
      .select(col("event_id"), col("gap_us"))
    val ranked = gaps.withColumn("rn", row_number().over(
      Window.partitionBy().orderBy(col("gap_us").asc, col("event_id").asc)))
    val pos = gaps.agg(count(lit(1)).as("n_gaps"))
      .select(explode(lit(Relevance.Percentiles.toArray)).as("pct"), col("n_gaps"))
      .select(col("pct"), col("n_gaps"),
        ceil(col("pct") * col("n_gaps") / lit(100.0)).as("pos"))
    ranked.join(broadcast(pos), col("rn") === col("pos"))
      .select(col("pct"), col("n_gaps"), col("gap_us"))
  }

  /** U-SHAPED multi-touch attribution — the position-weighted credit
    * model beside q112's last-touch interval join: every view/click a
    * user made in the `windowDays` before a purchase is a touchpoint;
    * per conversion, the FIRST touch gets 40%, the LAST 40%, middles
    * split the remaining 20% (one touch → 100%, two → 50/50). Credit
    * is integer micro-units with floor division (a conversion's
    * credits can undershoot 1e6 by the flooring remainder — the
    * documented convention, never overshoot). Output: credit mass and
    * touch counts per touch type — where the channel actually earns
    * its conversions vs the last-touch view.
    *
    * Scale: the touch↔conversion pairing is an equi-join on user_id
    * with the time window as a residual predicate (per-user fan-out =
    * touches × conversions inside one user's history — horizon-bounded,
    * never cross-user); position ranks are per-conversion windows
    * (conversion-sized groups); the rollup is types-bounded. */
  def multiTouchAttribution(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val events = Tables(spark, dir, "events")
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("conv_us"))
    val touches = events.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), unix_micros(col("ts")).as("touch_us"))
    val horizon = windowDays.toLong * 86400L * 1000000L
    val paired = touches.join(conv, Seq("user_id"))
      .filter(col("touch_us") < col("conv_us") &&
        col("touch_us") >= col("conv_us") - horizon)
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("touch_us").asc, col("touch_id").asc)
    val credited = paired
      .withColumn("pos", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("conv_id"))))
      .withColumn("credit_micro",
        when(col("n") === 1, lit(1000000L))
          .when(col("n") === 2, lit(500000L))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(400000L))
          .otherwise(expr("200000 div (n - 2)")))
    credited.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        count_distinct(col("conv_id")).as("n_conversions"),
        sum(col("credit_micro")).as("credit_micro_total"))
  }

  /** Sliding weekly-active-users: per day, the distinct users seen in
    * the trailing `windowDays`-day window — the engagement series
    * beside q117's per-day DAU and q151's cumulative curve. The
    * scalable form is WINDOW-EXPLODE, never a range join: each
    * (day, user) presence row fans out to the `windowDays` report
    * days it contributes to (a bounded ×7 inflation of the
    * already-deduped presence frame), then one count-distinct per
    * report day — a range join here would plan the banned
    * BroadcastNestedLoopJoin and rescan events per day. Report days
    * clip to the observed [min, max] span (scalar subquery, the
    * q133 convention), so every window is fully contained in the
    * data's support; early days report partial (ramp-up) windows by
    * declaration. */
  def weeklyActiveUsers(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .createOrReplaceTempView("graft_q187_presence")
    spark.sql(
      s"""SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
         |FROM (SELECT user_id,
         |        explode(sequence(day, day + INTERVAL ${windowDays - 1} DAY))
         |          AS report_day
         |      FROM graft_q187_presence)
         |WHERE report_day <= (SELECT max(day) FROM graft_q187_presence)
         |GROUP BY report_day""".stripMargin)
  }

  /** Per-user ACTIVITY-GAP histogram — the churn-risk view of the
    * presence calendar: within each user's own [first, last] active
    * span, consecutive-day runs are islanded (day minus row-number —
    * the gaps-and-islands identity), the runs' boundaries yield the
    * inactivity gaps between them, and users roll up into a histogram
    * keyed by their LONGEST gap (0 = continuously active), carrying
    * total gap runs and gap days per bucket. The q74 retention
    * triangle answers "how many came back"; this answers "how long do
    * they go dark" — the dormancy signal reactivation campaigns key on.
    *
    * Scale: presence dedup is one (user, day) hash-agg; both windows
    * (row_number for islands, lead for the next run's start) partition
    * by user_id and order by day — per-user frames, never global; the
    * runs frame is strictly smaller than presence; the final histogram
    * is bounded by the calendar span. One shuffle on user_id feeds
    * every stage. */
  def activityGaps(spark: SparkSession, dir: String): DataFrame = {
    val presence = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val runs = presence
      .withColumn("grp", date_sub(col("day"), row_number().over(byDay)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("run_start"), max(col("day")).as("run_end"))
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("run_start"))
    val perUser = runs
      .withColumn("next_start", lead(col("run_start"), 1).over(byStart))
      .withColumn("gap",
        (datediff(col("next_start"), col("run_end")) - 1).cast("long"))
      .groupBy(col("user_id"))
      .agg(coalesce(max(col("gap")), lit(0L)).as("longest_gap"),
        count(col("gap")).as("n_gap_runs"),
        coalesce(sum(col("gap")), lit(0L)).as("n_gap_days"))
    perUser.groupBy(col("longest_gap"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_gap_runs")).as("n_gap_runs"),
        sum(col("n_gap_days")).as("n_gap_days"))
  }

  /** CUSUM CHANGEPOINT scan over each event type's daily counts —
    * "did the level shift, and when": the classic cumulative-sum
    * statistic Sₜ = Σ₁..ₜ(cntᵢ − mean), whose |max| names the most
    * likely single changepoint. Everything stays integral by scaling
    * out the mean's fraction: S′ₜ = T·cumₜ − t·total (= T·Sₜ exactly),
    * peak picked by (|S′| desc, day asc) — deterministic under ties —
    * and the report carries the normalized peak mass (max|S′|·10⁶ //
    * (T·total), 0 for a flat series, toward 250 000 for a hard
    * mid-series level shift) plus the before/after daily means in
    * milli-units, the actual shift magnitude an alert threshold
    * compares. The z-score anomaly reports (q90/q155) flag single
    * days; this finds the sustained regime change they smear across
    * many small flags. Rides [[Relational.dailySpineCounts]]'s
    * zero-filled (day × type) grid, so quiet days count as zeros
    * instead of silently contracting the timeline.
    *
    * Scale: every stage after the one events hash-agg runs on the
    * calendar × |types| grid — bounded, like the other time-series
    * screens. `T·cumₜ` stays in int64 to ~10⁵ days × 10¹³ events. */
  def cusumChangepoints(spark: SparkSession, dir: String): DataFrame = {
    val daily = Relational.dailySpineCounts(spark, dir)
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val byType = Window.partitionBy(col("event_type"))
    val s = daily
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("cum", sum(col("n_events")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("total", sum(col("n_events")).over(byType))
      .withColumn("s_abs", abs(col("n_days") * col("cum") -
        col("t") * col("total")))
    val peak = s.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("s_abs").desc, col("day").asc)))
      .filter(col("rk") === 1)
    peak.select(col("event_type"), col("n_days"), col("day").as("peak_day"),
      when(col("total") > 0,
        expr("s_abs * 1000000 div (n_days * total)")).as("cusum_micro"),
      when(col("t") > 0,
        expr("cum * 1000 div t")).as("before_milli"),
      when(col("n_days") > col("t"),
        expr("(total - cum) * 1000 div (n_days - t)")).as("after_milli"))
  }

  /** CHURN HAZARD CURVE — survival analysis with CENSORING, the piece
    * q74's retention triangle and [[activityGaps]]'s dormancy view
    * both lack: a user still active near the corpus end hasn't
    * churned, they're CENSORED, and counting them as churned biases
    * every lifetime estimate short. A user churns when their last
    * active day sits at least `horizon` days before the corpus's last
    * day (the same inactivity bar streaming session logic uses);
    * their lifetime is first→last. Censored users contribute their
    * observed lifetime to the risk sets and then exit without an
    * event. Per lifetime t the report carries the risk set rₜ (users
    * whose lifetime ≥ t), events dₜ, censors cₜ, the hazard dₜ/rₜ,
    * and the NELSON–AALEN cumulative hazard Σ dᵢ/rᵢ — a sum of
    * integer micro floor divisions, so the whole curve is float-free
    * (the Kaplan–Meier product would force cross-engine float
    * products; the cumulative hazard is its log-scale twin and stays
    * exact).
    *
    * Scale: one (user, day) dedup, one per-user min/max, then every
    * window runs over the lifetimes-bounded frame (≤ calendar span
    * rows). The corpus-end scalar rides a window max, not a collect. */
  /** DAILY OVERDISPERSION (Fano factor) per event type — variance-to-
    * mean ratio of the zero-filled daily counts: 10⁶ ≙ Poisson (the
    * arrival model every naive alert threshold assumes), above =
    * bursty (threshold alerts will flap), below = regularized. The
    * time-series sibling of q127's per-document length burstiness and
    * the calibration input for the z-score monitors (q90/q155): a
    * type at VMR 5 needs 5× the Poisson alert band. Exact integer
    * moments: VMR = (T·Σx² − (Σx)²) / (T·Σx), one micro floor
    * division, NULL for an all-zero series. Rides q111's grid; the
    * rollup is types-bounded. Σx² stays in int64 through ~3·10⁹
    * events/day/type; beyond that the daily grid (already exact) is
    * the artifact to fold hierarchically (the q215 bound note). */
  def dailyFano(spark: SparkSession, dir: String): DataFrame = {
    Relational.dailySpineCounts(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        expr("sx * 1000 div n_days").as("mean_milli"),
        when(col("sx") > 0,
          expr("(n_days * sxx - sx * sx) * 1000000 div (n_days * sx)"))
          .as("vmr_micro"))
  }

  def churnHazardCurve(spark: SparkSession, dir: String,
      horizon: Int = 7): DataFrame = {
    val spans = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .withColumn("end_day", max(col("last_day")).over(Window.partitionBy()))
      .withColumn("churned",
        col("last_day") <= date_sub(col("end_day"), horizon))
      .withColumn("lifetime",
        (datediff(col("last_day"), col("first_day")) + 1).cast("long"))
    val byLife = spans.groupBy(col("lifetime"))
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("churned"), 0L).otherwise(1L)).as("n_censored"))
    val later = Window.orderBy(col("lifetime"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val curve = byLife
      .withColumn("n_at_risk",
        sum(col("n_churned") + col("n_censored")).over(later))
      .withColumn("h_micro", expr("n_churned * 1000000 div n_at_risk"))
    curve
      .withColumn("cum_h_micro", sum(col("h_micro")).over(
        Window.orderBy(col("lifetime"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("lifetime"), col("n_at_risk"), col("n_churned"),
        col("n_censored"), col("h_micro"), col("cum_h_micro"))
  }
  /** PERMUTATION TEST for the A/B conversion difference — the exact
    * resampling companion to [[abExperimentReadout]]'s Wald interval
    * and χ² (both lean on normal approximations; the permutation
    * p-value assumes nothing but exchangeability, which is the right
    * tool at the small-cell sizes real experiment slices hit). Under
    * the null the arm labels are arbitrary, so B md5-derived
    * relabelings of the SAME users rebuild the |rate difference|
    * distribution, and p = (1 + #{b : diff_b ≥ observed}) / (B + 1) —
    * the add-one form that never reports an impossible p = 0. All
    * integer: rates are floored micro divisions (identical truncation
    * both engines), the comparison is long-vs-long.
    *
    * Scale: one scan folds per-user conversion (map-side combinable);
    * the ×B fan rides the USERS frame (q233's replica-explode
    * contract — pure map CPU, the shuffle carries 2·B aggregate
    * rows). */
  def permutationTest(spark: SparkSession, dir: String,
      perms: Int = 200): DataFrame = {
    val users = PlanCache.tracked(Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted")))
    def armDiff(assigned: DataFrame, keys: Seq[String]): DataFrame =
      assigned.groupBy(keys.map(col): _*)
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_a"), col("converted")).otherwise(0L)).as("conv_a"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("is_a"), col("converted")).otherwise(0L)).as("conv_b"))
        .withColumn("diff_micro", abs(
          expr("CAST(conv_a AS DECIMAL(38,0)) * 1000000 div greatest(n_a, 1)")
            - expr("CAST(conv_b AS DECIMAL(38,0)) * 1000000 div greatest(n_b, 1)")))
    val observed = armDiff(users.withColumn("is_a",
        pmod(graft.functions.Text.md5Hash60(
          concat_ws("-", lit("ab"), col("user_id"))), lit(2L)) === 0),
      Seq.empty)
      .select(col("diff_micro").as("obs_diff_micro"),
        (col("n_a") + col("n_b")).as("n_users"))
    val permuted = armDiff(
      users.select(col("user_id"), col("converted"),
          explode(sequence(lit(1), lit(perms))).as("b"))
        .withColumn("is_a", pmod(graft.functions.Text.md5Hash60(
          concat_ws("-", lit("perm"), col("b").cast("string"),
            col("user_id"))), lit(2L)) === 0),
      Seq("b"))
    permuted
      .transform(Scalars.attach(_, observed, col("b"), col("n_users")))
      .agg(max(col("n_users")).as("n_users"),
        count(lit(1)).as("b_perms"),
        max(col("obs_diff_micro")).as("obs_diff_micro"),
        sum(when(col("diff_micro") >= col("obs_diff_micro"), 1L)
          .otherwise(0L)).as("n_ge"))
      .withColumn("p_micro",
        expr("(1 + n_ge) * 1000000 div (b_perms + 1)"))
  }

}
