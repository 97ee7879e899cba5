package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** Corpus-level text analysis queries over the `documents` table. */
object TextOps {

  /** Token statistics per document (whitespace + regex word tokens +
    * mean token length). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("n_ws_tokens"),
      size(Text.wordTokens(col("text"))).as("n_word_tokens"),
      round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"), 4).as("avg_token_len"))
  }

  /** Per-document quality scores with components. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      round(size(array_distinct(toks)).cast("double") / size(toks).cast("double"), 4)
        .as("distinct_ratio"),
      Text.qualityScore(col("text")).as("quality"))
  }

  /** Language-ID guess + corpus rollup: docs and mean stopword ratio
    * per (lang label, guess). */
  def langIdRollup(spark: SparkSession, dir: String): DataFrame = {
    val ratio = Text.stopwordCount(col("text")).cast("double") /
      Text.tokenCount(col("text")).cast("double")
    Tables(spark, dir, "documents")
      .select(col("lang"), Text.langId(col("text")).as("guess"), ratio.as("ratio"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("ratio")), 4).as("avg_stopword_ratio"))
  }

  /** Winnowing fingerprints; grouping by fingerprint is content-level
    * dedup resilient to local edits. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      Text.fingerprint(col("text")).as("fingerprint"))

  /** Within-document repetition signal (the Gopher-rules "repeated
    * n-gram fraction"): the share of a document's k-token shingles that
    * duplicate an earlier shingle in the SAME document — loops,
    * boilerplate, and template spam score high and get filtered before
    * training. Pure per-row expression: fuses into the scan, no
    * shuffle, whole-stage codegen. */
  def repetitionScores(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val shs = Text.shingles(col("text"), k)
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      size(shs).as("n_shingles"),
      round(lit(1.0) -
        size(array_distinct(shs)).cast("double") / size(shs).cast("double"), 4)
        .as("dup_shingle_frac"))
  }

  /** Per-source corpus report — the health summary a curation pipeline
    * emits after each build: volume, token mass, mean quality, and
    * language mix per source. One scan, one partial-aggregated
    * hash-agg on `source`; every metric is algebraic (sum/count/avg),
    * so the map-side combine ships one row per (task, source). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    corpusStatsOf(Tables(spark, dir, "documents"))

  /** [[corpusStats]] over an arbitrary documents frame — shared with
    * the streaming monitor's batch-parity contract. */
  def corpusStatsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"),
        (Text.langId(col("text")) === "en").cast("int").as("is_en"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"),
        round(avg(col("is_en")), 4).as("en_frac"))

  // ---- corpus curation ------------------------------------------------

  /** End-to-end curation — the composed filter chain a training-data
    * pipeline runs before mixing: keep documents that (1) clear the
    * quality bar, (2) language-ID as English, and (3) survive near-dup
    * clustering (a document in a cluster is kept only if it is the
    * cluster's canonical member; documents with no near-dup are
    * implicitly canonical and never enter the cluster list).
    *
    * Scale: (1) and (2) are per-row expressions fused into the scan;
    * (3) is an anti-join against the cluster LOSERS only — a set that
    * is small relative to the corpus (near-dup victims), broadcast-able
    * in practice, and Catalyst picks that up from stats/AQE. */
  def curate(spark: SparkSession, dir: String, minQuality: Double = 0.66): DataFrame = {
    val losers = Dedup.dedupClusters(spark, dir)
      .filter(!col("is_canonical")).select(col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.qualityScore(col("text")).as("quality"),
        Text.langId(col("text")).as("guess"))
      .filter(col("quality") >= minQuality && col("guess") === "en")
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "quality")
  }

  /** LIVE-MODEL CURATION — [[curate]]'s quality gate served from the
    * [[ModelStore]] registry once a model has been founded: keep iff
    * the live weights' logit ≥ 0 (the q245/serving keep contract);
    * the language and near-dup gates are unchanged. Before the
    * founding promotion it falls back to the literal
    * `Text.qualityScore ≥ minQuality` bar — the declared q53
    * semantics — so the oracle-checked queries stay frozen while a
    * production engine curates with whatever the promote-if-better
    * retrain loop last admitted. `logit_micro` rides along (NULL on
    * the literal fallback) so a consumer can see WHICH gate decided.
    *
    * Scale: the live weights are a 6-row registry collect folded into
    * the scan as literal arithmetic (never a join against a
    * corpus-sized keep set); quality features, language guess, and
    * the logit all compute in ONE pass over `documents`, and the
    * near-dup losers anti-join is the [[curate]] broadcast shape. */
  def curateWithLiveModel(spark: SparkSession, dir: String,
      storeDir: String, minQuality: Double = 0.66): DataFrame =
    ModelStore.liveModel(spark, storeDir) match {
      case None =>
        curate(spark, dir, minQuality)
          .withColumn("logit_micro", lit(null).cast("long"))
      case Some((w, _)) =>
        val losers = Dedup.dedupClusters(spark, dir)
          .filter(!col("is_canonical")).select(col("doc_id"))
        liveGateScan(spark, dir, w)
          .filter(col("guess") === "en" && col("logit_micro") >= 0L)
          .join(losers, Seq("doc_id"), "left_anti")
          .select("doc_id", "source", "quality", "logit_micro")
    }

  /** The live-model gate computed IN the documents scan: one pass
    * yielding (doc_id, source, quality, guess, logit_micro) with the
    * registry weights folded in as literal arithmetic — shared by
    * every registry-served curation face ([[curateWithLiveModel]],
    * [[jointCurateWithLiveModel]], [[cleanSplitWithLiveModel]]) so
    * none of them ever joins the corpus against a corpus-sized keep
    * set. */
  private def liveGateScan(spark: SparkSession, dir: String,
      w: Seq[Long]): DataFrame = {
    val toks = Text.tokens(col("text"))
    val shs = Text.shingles(col("text"), 3)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.qualityScore(col("text")).as("quality"),
        Text.langId(col("text")).as("guess"),
        size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("nd"),
        Text.stopwordCount(col("text")).cast("long").as("ns"),
        size(shs).cast("long").as("nsh"),
        size(array_distinct(shs)).cast("long").as("ndsh"))
      // the qualityFeatures micro grid, inlined so the whole gate
      // is one scan (a features⋈documents join would shuffle the
      // corpus twice for columns the same rows already carry)
      .select(col("doc_id"), col("source"), col("quality"),
        col("guess"),
        expr("CAST(nd AS DECIMAL(38,0)) * 1000000 div nt").as("f1"),
        expr("CAST(ns AS DECIMAL(38,0)) * 1000000 div nt").as("f2"),
        least(col("nt") * lit(10000L), lit(1000000L)).as("f3"),
        expr("1000000 - CAST(ndsh AS DECIMAL(38,0)) * 1000000 div nsh")
          .as("f4"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("guess"),
        expr(s"(${microLogitExpr(w.toIndexedSeq)})").as("logit_micro"))
  }

  /** Per-source quality cap: the best `n` documents of each source by
    * quality score (ties broken by doc_id for cross-engine
    * determinism) — the "keep the best K per domain" curation rule.
    * One window partitioned by source; at scale partition count =
    * source count, so pair with a salted pre-aggregation if a single
    * source dominates the corpus. */
  def topQualityPerSource(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality").desc, col("doc_id").asc)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), Text.qualityScore(col("text")).as("quality"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
  }

  /** Skew-robust variant of [[topQualityPerSource]] — the SAME result
    * via two-phase top-k: each (source, salt-bucket) slice takes a
    * local top-n, then the survivors (≤ n·buckets per source) take the
    * global per-source top-n. A source holding half the corpus never
    * lands in one window partition — phase 1 spreads it over `buckets`
    * tasks and ships n rows per bucket, the classic combiner shape for
    * ORDER-based aggregation. Result equality with the one-window
    * operator is spec-pinned; use this form whenever one source can
    * dominate a partition. */
  def topQualityPerSourceSalted(spark: SparkSession, dir: String, n: Int = 5,
      buckets: Int = 16): DataFrame = {
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("salt"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val global = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality").desc, col("doc_id").asc)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), Text.qualityScore(col("text")).as("quality"),
        pmod(Text.md5Hash60(concat(lit("salt-"), col("doc_id").cast("string"))),
          lit(buckets.toLong)).as("salt"))
      .withColumn("_r", row_number().over(local)).filter(col("_r") <= n)
      .drop("_r", "salt")
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= n)
  }

  /** Model-based quality filtering — a linear classifier over the
    * per-document signals (lexical diversity, stopword balance, length
    * saturation, repetition), the engine-side shape of a
    * fasttext/logistic quality gate: score = w·x as an exact per-row
    * expression. Weights are LITERALS folded into the scan (swap in
    * trained weights the same way); emitting the LOGIT (not the
    * sigmoid) keeps every arithmetic step a fixed-order double op, so
    * the score — and the keep/drop decision at logit > 0 — is
    * bit-deterministic cross-engine. One scan, no shuffle, whole-stage
    * codegen. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val shs = Text.shingles(col("text"), 3)
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = Text.stopwordCount(col("text")).cast("double") / nTok
    val lenSat = least(nTok / 100.0, lit(1.0))
    val dupFrac = lit(1.0) - size(array_distinct(shs)).cast("double") /
      size(shs).cast("double")
    val logit = lit(-2.0) + lit(3.0) * distinctRatio + lit(-1.5) * stopRatio +
      lit(0.8) * lenSat + lit(-2.5) * dupFrac
    Tables(spark, dir, "documents")
      .select(col("doc_id"), round(logit, 4).as("logit"), (logit > 0).as("keep"))
  }

  /** DECILE LIFT table for the quality classifier — the model-eval
    * face of [[qualityClassifier]]: rank the corpus by logit, cut into
    * ten equal buckets (`ntile` over the deterministic (logit desc,
    * doc_id) order), and per decile report positive rate (ground
    * truth: quality ≥ 0.66, the curation bar), lift vs the base rate,
    * and cumulative capture — the "is the classifier's top decile
    * actually rich in keepers" report every filtering model ships
    * with. Integer micro rates via floor division.
    *
    * Scale: one scan computes logit and label per row; the rank is a
    * single total-order window over doc-count rows (the explicit
    * global-sort report convention, cf. curriculumOrder); the rollup
    * is 10 rows. */
  def classifierLift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // logit AND label in ONE scan (they share the token pipeline) —
    // a join of qualityClassifier against a second labeled scan would
    // tokenize the corpus twice and shuffle for nothing
    val toks = Text.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val shs = Text.shingles(col("text"), 3)
    val logit = lit(-2.0) +
      lit(3.0) * (size(array_distinct(toks)).cast("double") / nTok) +
      lit(-1.5) * (Text.stopwordCount(col("text")).cast("double") / nTok) +
      lit(0.8) * least(nTok / 100.0, lit(1.0)) +
      lit(-2.5) * (lit(1.0) - size(array_distinct(shs)).cast("double") /
        size(shs).cast("double"))
    val labeled = Tables(spark, dir, "documents")
      .select(col("doc_id"), round(logit, 4).as("logit"),
        (Text.qualityScore(col("text")) >= 0.66).as("pos"))
    val ranked = labeled.withColumn("decile",
      ntile(10).over(Window.partitionBy()
        .orderBy(col("logit").desc, col("doc_id").asc)))
    // the 10-row rollup feeds BOTH the scalar totals and the report —
    // tracked cache so the logit scan and global rank run once, not
    // twice (caller-managed lifetime, PlanCache.release)
    val agg = PlanCache.tracked(ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos")))
    val tot = agg.agg(sum(col("n_docs")).as("nn"), sum(col("n_pos")).as("pp")).head()
    val (nTot, pTot) = (tot.getLong(0), tot.getLong(1))
    agg
      .withColumn("cum_pos", sum(col("n_pos")).over(Window.partitionBy()
        .orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile").cast("long").as("decile"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("pos_rate_micro"),
        expr(s"n_pos * $nTot * 1000000 div (n_docs * $pTot)").as("lift_micro"),
        expr(s"cum_pos * 1000000 div $pTot").as("cum_capture_micro"))
  }

  /** Language-ID EVALUATION against the corpus labels — the
    * classifier-metrics face of the langID heuristic (positive class
    * `en`): confusion counts plus precision/recall/F1 in integer
    * micro-units (F1 = 2tp·10⁶ div (2tp + fp + fn) — one division,
    * no float P·R composition). One scan, one 4-cell aggregate. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = (Text.langId(col("text")) === "en").as("pred_en")
    val truth = (col("lang") === "en").as("is_en")
    Tables(spark, dir, "documents")
      .select(pred, truth)
      .agg(
        sum(when(col("pred_en") && col("is_en"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred_en") && !col("is_en"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred_en") && col("is_en"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred_en") && !col("is_en"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("tp * 1000000 div (tp + fp)").as("precision_micro"),
        expr("tp * 1000000 div (tp + fn)").as("recall_micro"),
        expr("2 * tp * 1000000 div (2 * tp + fp + fn)").as("f1_micro"))
  }

  /** Bigram-LM scoring — the next rung of the [[unigramLm]] ladder:
    * each document's mean log p(w₂|w₁) under the corpus's own bigram
    * model (conditional frequency c(w₁w₂)/c(w₁·), where c(w₁·) counts
    * w₁ as a bigram head). Same two-phase shape as the unigram scorer:
    * bigram + head tables are vocabulary²-bounded, broadcast into the
    * corpus re-scan; per-bigram logp rounded to 6 dp so both engines
    * average identical inputs. Single-token documents have no bigram —
    * emitted with n_bigrams = 0 and NULL score rather than dropped. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    // the exploded grams feed BOTH the count model and the scoring
    // join — tracked cache so the tokenize+md5 explode runs once, not
    // twice (caller-managed lifetime, PlanCache.release)
    val grams = PlanCache.tracked(Tables(spark, dir, "documents")
      .filter(Text.tokenCount(col("text")) >= 2)
      .select(col("doc_id"), explode(Text.shingles(col("text"), 2)).as("bigram")))
    val counts = grams.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
    val heads = counts
      .groupBy(split(col("bigram"), " ").getItem(0).as("head"))
      .agg(sum(col("cb")).as("ch"))
    val logp = counts
      .withColumn("head", split(col("bigram"), " ").getItem(0))
      .join(broadcast(heads), Seq("head"))
      .select(col("bigram"),
        round(log(col("cb").cast("double") / col("ch").cast("double")), 6).as("logp"))
    val scored = grams.join(broadcast(logp), Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 4).as("avg_logp"))
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
  }

  /** Vocabulary mining — term frequency + document frequency for the
    * top-k corpus tokens (count desc, token asc for deterministic
    * ties): the stats a tokenizer-training / idf-weighting step reads.
    * One explode + hash-agg (map-side combined; distinct-doc count
    * expands to the usual two-phase agg) and a TakeOrdered top-k —
    * never a global sort. */
  def vocabulary(spark: SparkSession, dir: String, topK: Int = 100): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topK)

  /** Token-length histogram per source — the length-distribution report
    * a curation pipeline reads before setting min/max-length filters:
    * documents bucket by ⌊n_tokens/width⌋·width. One scan, one
    * map-side-combined hash-agg on (source, bucket); result cardinality
    * is sources × (max-length/width), independent of corpus size.
    *
    * The bucket mean is truncated to centitokens via INTEGER math
    * (⌊100·Σn/count⌋/100) rather than `round(avg, 2)`: a bucket mean
    * landing on a half-tie (e.g. 71.975) rounds differently in Spark
    * (HALF_UP on the decimal) vs DuckDB (nearbyint, half-even) — found
    * at sf0.1 — while trunc-division of exact integers is
    * bit-deterministic in both engines. */
  def lengthHistogram(spark: SparkSession, dir: String, width: Int = 16): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .select(col("source"), (floor(col("n_tokens") / width) * width).as("len_bucket"),
        col("n_tokens"))
      .groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"),
        (floor(sum(col("n_tokens")) * 100 / count(lit(1))).cast("double") / 100.0)
          .as("avg_tokens"))

  /** Unigram-LM scoring — each document's mean token log-probability
    * under the corpus's own unigram distribution: the cheap stand-in for
    * the "KenLM perplexity" quality filter (CCNet-style) that drops
    * gibberish and keeps fluent text. Two phases: (1) one explode +
    * hash-agg builds the unigram table (vocabulary-sized — tiny relative
    * to the corpus); (2) the corpus re-scan joins tokens to their
    * BROADCAST log-probs and averages per document — map-side only, no
    * corpus shuffle beyond the per-doc agg on `doc_id` (which the scan's
    * natural doc-locality makes a near-noop combine). Per-token logp is
    * rounded to 6 dp so both engines average identical inputs. */
  def unigramLm(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    // corpus total via a global window over the VOCAB side only — the
    // single-partition WindowExec holds vocabulary-sized data (fine at
    // any corpus scale), and the plan stays join-free on this branch
    val logp = vocab
      .withColumn("total",
        sum(col("tf")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("token"),
        round(log(col("tf").cast("double") / col("total").cast("double")), 6).as("logp"))
    toks.join(broadcast(logp), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("logp")), 4).as("avg_logp"))
  }

  /** Keyword extraction — each document's top-`k` most distinctive
    * tokens, ranked by within-doc frequency (desc), then corpus document
    * frequency (asc: rarer across the corpus = more distinctive), then
    * token — a tf-idf ranking with the idf float replaced by its exact
    * integer ordering proxy, so ranks are integer-deterministic
    * cross-engine. Per-doc tf is one hash-agg on (doc_id, token); df is
    * the vocabulary-sized side, broadcast into the join; the top-k
    * window partitions by doc_id — parallelism grows with the corpus. */
  def keywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val perDoc = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("token")).agg(count_distinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    perDoc.join(broadcast(df), Seq("token"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "rank")
  }

  /** Stratified sampling with EXACT per-source quotas — "give me
    * exactly n documents per source, uniformly at random but
    * reproducibly": rank each source's documents by a salted document
    * hash (ties impossible — doc_id breaks them) and keep rank ≤ n.
    * Complements [[weightedSample]]: that is Bernoulli (rate, count
    * varies), this is exact-count (the shape eval-set construction
    * needs). Deterministic hash order makes the sample stable across
    * runs and replayable in the oracle. One window per source; for a
    * corpus-dominating source, pre-thin with a hash-range filter
    * (keep mix_bp below ~2·quota/size) before ranking. */
  def stratifiedSample(spark: SparkSession, dir: String, n: Int = 12,
      salt: String = "strat-"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("pick_hash"), col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.md5Hash60(concat(lit(salt), col("doc_id").cast("string"))).as("pick_hash"))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= n)
      .select("doc_id", "source", "pick_rank")
  }

  val ShardCount = 64

  /** Training-shard manifest — the writer-side plan for emitting a
    * globally-shuffled corpus as `ShardCount` fixed files: each document
    * lands in shard md5(doc_id) mod N (a deterministic global shuffle —
    * hash order decorrelates neighboring doc_ids without a global
    * sort), ordered within its shard by (hash, doc_id), with its
    * starting byte offset = running sum of earlier documents' sizes.
    * Exactly the manifest a distributed writer needs to stream each
    * shard independently. One window per shard; parallelism =
    * `ShardCount` (set ∝ cluster size in production), byte offsets stay
    * exact at any scale (BIGINT running sum). */
  def shardManifest(spark: SparkSession, dir: String,
      shards: Int = ShardCount): DataFrame =
    shardManifest0(Tables(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
      shards)

  /** Append a document batch to a PERSISTED shard manifest at
    * `manifestDir` WITHOUT touching existing rows — the steady-state
    * face of [[shardManifest]]: at 100 TB the corpus's manifest is
    * written once and each ingest increment appends only its own rows,
    * with positions and byte offsets CONTINUING each shard's existing
    * tail. Ordering semantics are append-order across batches (new
    * documents land after all earlier ones in their shard), hash-order
    * within a batch — exactly what a sequential shard writer needs.
    * The per-shard tails are `shards` rows of pure aggregation
    * (broadcast side); the batch pays one window over its own rows
    * only. First call on an empty dir bootstraps shard tails at zero. */
  def appendToShardManifest(spark: SparkSession, manifestDir: String,
      batch: DataFrame, shards: Int = ShardCount): Unit = {
    val fresh = shardManifest0(batch, shards)
    val dirPath = new org.apache.hadoop.fs.Path(manifestDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (!fs.exists(dirPath)) fresh
      else {
        val tails = spark.read.parquet(manifestDir)
          .groupBy(col("shard_id"))
          .agg(max(col("position")).as("tail_pos"),
            max(col("byte_offset") + col("n_chars")).as("tail_off"))
        fresh.join(broadcast(tails), Seq("shard_id"), "left")
          .select(col("doc_id"), col("shard_id"),
            (col("position") + coalesce(col("tail_pos"), lit(0L))).as("position"),
            (col("byte_offset") + coalesce(col("tail_off"), lit(0L))).as("byte_offset"),
            col("n_chars"))
      }
    rows.write.mode("append").parquet(manifestDir)
  }

  /** [[shardManifest]]'s core over an arbitrary (doc_id, n_chars)
    * frame. */
  private def shardManifest0(docs: DataFrame, shards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("shard_hash"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), col("n_chars"),
        Text.md5Hash60(concat(lit("shard-"), col("doc_id").cast("string"))).as("shard_hash"))
      .withColumn("shard_id", pmod(col("shard_hash"), lit(shards.toLong)))
      .withColumn("position", row_number().over(w).cast("long"))
      .withColumn("byte_offset", sum(col("n_chars")).over(w) - col("n_chars"))
      .select("doc_id", "shard_id", "position", "byte_offset", "n_chars")
  }

  // ---- dataset mixing -------------------------------------------------

  /** Default mix for the 20-source testdata: rates cycle ¼, ½, ¾, 1 by
    * numeric source suffix — exercises every rate class incl. keep-all. */
  val DefaultMixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1) * 0.25).toMap

  /** Deterministic per-row sampling decision in basis points (0..9999):
    * a 60-bit md5 of the salted doc id, mod 10⁴. Pure function of the
    * id — re-running the mixer on a grown corpus keeps every previously
    * selected document selected (stable training mixes), unlike
    * `rand()`-based `DataFrame.sample`. */
  private def mixHash(docId: Column, salt: String): Column =
    pmod(Text.md5Hash60(concat(lit(salt), docId.cast("string"))), lit(10000))

  /** Weighted dataset mixer — stratified downsampling by source with
    * per-source keep rates, the "data mixture" step of a training-data
    * pipeline (e.g. upweight curated sources, downweight crawl).
    *
    * Scale: a pure per-row filter — no shuffle, no per-source pass; the
    * rate lookup folds into a CASE expression so one scan handles any
    * number of sources, and the parquet scan prunes to the 3 used
    * columns. Deterministic hash sampling also makes the mix
    * REPRODUCIBLE across runs and engines (the DuckDB oracle replays
    * the same md5 decision bit-for-bit). */
  def weightedSample(spark: SparkSession, dir: String,
      rates: Map[String, Double] = DefaultMixRates,
      salt: String = "mix-"): DataFrame = {
    // unknown source ⇒ rate 0 (drop): a mixer must never silently pass
    // through a source the mix spec doesn't mention. round, don't
    // truncate: 0.29 * 10000 is 2899.999… in binary — .toInt would
    // under-sample every binary-unrepresentable rate by a basis point
    val rateBp = rates.foldLeft(lit(0)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(math.round(r * 10000).toInt)).otherwise(acc) }
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), mixHash(col("doc_id"), salt).as("mix_bp"))
      .filter(col("mix_bp") < rateBp)
  }

  /** Epoch rates for the 20-source testdata: ½, 1, 1½, 2½ by numeric
    * suffix — exercises down-sample, identity, and fractional
    * up-sample in one mix. */
  val DefaultEpochRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> Seq(0.5, 1.0, 1.5, 2.5)(i % 4)).toMap

  /** Weighted mixing WITH up-sampling ("epochs"): rate 2.5 emits every
    * document of the source twice, plus a deterministic half of them a
    * third time — how a training mix over-weights a small high-quality
    * source across epochs. Copies are explicit rows (`copy_idx`) so
    * downstream packing/shuffling sees each repetition. The fractional
    * decision is the same salted-md5 basis-point draw as
    * [[weightedSample]]: growth-stable, reproducible, replayable
    * cross-engine. Scale: a per-row explode of ≤⌈rate⌉ copies fused
    * into the scan — no shuffle; output mass is Σ rows·rate by
    * construction. */
  def epochMix(spark: SparkSession, dir: String,
      rates: Map[String, Double] = DefaultEpochRates,
      salt: String = "epoch-"): DataFrame =
    epochCopies(Tables(spark, dir, "documents").select(col("doc_id"), col("source")),
      rates, salt)

  /** Copy-expansion core of [[epochMix]], applicable to ANY
    * (doc_id, source) frame — [[trainingExport]] feeds it the curated
    * survivor set instead of the raw corpus. */
  private def epochCopies(docs: DataFrame, rates: Map[String, Double],
      salt: String): DataFrame = {
    val whole = rates.foldLeft(lit(0L)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(math.floor(r).toLong)).otherwise(acc) }
    val fracBp = rates.foldLeft(lit(0)) { case (acc, (src, r)) =>
      when(col("source") === src,
        lit(math.round((r - math.floor(r)) * 10000).toInt)).otherwise(acc) }
    docs
      .withColumn("mix_bp", mixHash(col("doc_id"), salt))
      .withColumn("n_copies", whole + when(col("mix_bp") < fracBp, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
  }

  /** The composed TRAINING EXPORT — the whole pipeline a training-data
    * build runs, as one declarative plan: curate (quality bar + langID
    * + near-dup survivors, [[curate]]) → epoch-mix the survivors
    * (per-source up/down-sampling with explicit copies) → pack the
    * mixed stream into fixed-capacity sequences ([[packSequences]]'s
    * concat-then-chop, keyed per (doc, copy) so repeated epochs land in
    * different pack positions). Output: one row per packed document
    * copy with its source, token count, pack group, chunk id, and
    * boundary flag — the manifest a sequence-writer consumes.
    *
    * Scale: each stage keeps its own posture (anti-join vs broadcast
    * losers; scan-fused copy explode; per-group windows, parallelism ∝
    * `PackGroups`); composing them adds ONE join (copies ⋈ token
    * counts, equi on doc_id) and no new global ordering. */
  def trainingExport(spark: SparkSession, dir: String,
      minQuality: Double = 0.66,
      rates: Map[String, Double] = DefaultEpochRates,
      capacity: Int = 512): DataFrame = {
    val copies = epochCopies(
      curate(spark, dir, minQuality).select(col("doc_id"), col("source")),
      rates, "epoch-")
    val tokens = Tables(spark, dir, "documents")
      .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack_group")).orderBy(col("doc_id"), col("copy_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    copies.join(tokens, Seq("doc_id"))
      .withColumn("pack_group",
        pmod(Text.md5Hash60(concat(lit("pack-"), col("doc_id").cast("string"),
          lit("#"), col("copy_idx").cast("string"))), lit(PackGroups.toLong)))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("copy_idx"), col("source"), col("n_tokens"),
        col("pack_group"),
        ((col("_cum") - col("n_tokens")) / capacity).cast("long").as("chunk_id"),
        (pmod(col("_cum") - col("n_tokens"), lit(capacity.toLong)) + col("n_tokens")
          > capacity).as("spans_boundary"))
  }

  // ---- sequence packing ----------------------------------------------

  val PackGroups = 8

  /** Sequence packing — assign documents to fixed-capacity training
    * sequences by concatenation order (GPT-style "concat then chop"):
    * documents are laid head-to-tail in deterministic (group, doc_id)
    * order; a document starting at running offset `o` with `n` tokens
    * occupies chunk ⌊o/capacity⌋ and spans a boundary iff
    * o mod capacity + n > capacity.
    *
    * Scale: the running sum is a window per PACK GROUP, and groups are
    * assigned by document hash — so parallelism is `PackGroups` (set ∝
    * cluster size in production; 8 here), never one global sort. Each
    * group's window sorts only its own partition; no stage sees the
    * whole corpus in one task. */
  def packSequences(spark: SparkSession, dir: String, capacity: Int = 512): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack_group")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        pmod(Text.md5Hash60(concat(lit("pack-"), col("doc_id").cast("string"))),
          lit(PackGroups)).as("pack_group"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("pack_group"), col("n_tokens"),
        ((col("_cum") - col("n_tokens")) / capacity).cast("long").as("chunk_id"),
        (pmod(col("_cum") - col("n_tokens"), lit(capacity.toLong)) + col("n_tokens")
          > capacity).as("spans_boundary"))
  }

  /** Materialized pack manifest — [[packSequences]]' per-document
    * assignment collapsed to one row per training sequence: the
    * ordered document list (dash-joined, ascending doc_id = the
    * concatenation order), member count, and exact token mass. This is
    * the artifact a trainer's data loader actually reads: "sequence
    * (g, c) = these documents, in this order".
    *
    * Scale: reuses the pack window's (pack_group) clustering for the
    * groupBy — chunk rows are `corpus_tokens / capacity`, ~100-500×
    * smaller than the document count, and each group's collect is
    * bounded by capacity / min-doc-length documents, so no group can
    * outgrow a task. */
  def packedChunks(spark: SparkSession, dir: String,
      capacity: Int = 512): DataFrame =
    packSequences(spark, dir, capacity)
      .groupBy(col("pack_group"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), "-").as("doc_ids"))

  /** TOPIC-COHERENT sequence packing — the in-context-pretraining
    * variant of [[packSequences]] (pack related documents into the
    * same training sequence so cross-document attention sees coherent
    * context, rather than the hash-random neighbors of the default
    * packer): the pack group is the document's TOPIC — its nearest
    * coarse centroid under the literal codebook (the q184/q46
    * assignment, bit-identical, oracle-replayable) — and the
    * within-group order/chunking is the q52 running-sum convention
    * verbatim. A document with no embedding packs into the explicit
    * topic −1 group (declared, never dropped — the trainer still
    * needs its tokens). Same scale shape as q52: one window per
    * topic-sized partition; topic count is codebook-bounded, so a
    * giant topic just means longer chunk ids, never wider state. */
  def topicPackAssignments(spark: SparkSession, dir: String,
      capacity: Int = 512, numCentroids: Int = 16): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cents: Array[(Long, Array[Float])] = emb.filter(col("vec_id") < numCentroids)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val assigned = Similarity.assignCells(emb, cents)
      .select(col("vec_id"), col("centroid_id").as("tpc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("topic")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(assigned, col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), coalesce(col("tpc"), lit(-1L)).as("topic"),
        col("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("topic"), col("n_tokens"),
        ((col("_cum") - col("n_tokens")) / capacity).cast("long").as("chunk_id"),
        (pmod(col("_cum") - col("n_tokens"), lit(capacity.toLong)) + col("n_tokens")
          > capacity).as("spans_boundary"))
  }

  /** Corpus DATASHEET — the one-page (stat, value) summary a dataset
    * card leads with: document/source/embedding coverage, token and
    * character mass, vocabulary size, and the token-length min/median/
    * max (median by the deterministic lower-rank convention). Shapes:
    * one scan for the mass stats, one token-explode aggregate for the
    * exact vocabulary (the 100 TB datasheet swaps in the HLL twin),
    * one keys-only semi count for embedding coverage — every leg
    * folds to a 1-row scalar before the union, so the result is
    * stats-sized by construction. */
  def corpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("source"), col("n_chars"),
      Text.tokenCount(col("text")).cast("long").as("tc"))
    def row(stat: String, v: Column): DataFrame =
      base.agg(v.cast("long").as("value")).select(lit(stat).as("stat"), col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tc").asc, col("doc_id").asc)
    val median = base
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(lit("median_doc_tokens").as("stat"), col("tc").as("value"))
    val vocab = docs.select(explode(Text.tokens(col("text"))).as("token"))
      .agg(count_distinct(col("token")).as("value"))
      .select(lit("vocab_size").as("stat"), col("value"))
    val embedded = docs
      .join(Tables(spark, dir, "embeddings").select(col("vec_id")),
        col("doc_id") === col("vec_id"), "left_semi")
      .agg(count(lit(1)).as("value"))
      .select(lit("n_embedded_docs").as("stat"), col("value"))
    row("n_docs", count(lit(1)))
      .union(row("n_sources", count_distinct(col("source"))))
      .union(row("total_tokens", sum(col("tc"))))
      .union(row("total_chars", sum(col("n_chars"))))
      .union(row("min_doc_tokens", min(col("tc"))))
      .union(row("max_doc_tokens", max(col("tc"))))
      .union(median).union(vocab).union(embedded)
  }

  // ---- PII scrubbing --------------------------------------------------

  /** (name, regex, replacement) per PII category, applied IN ORDER —
    * emails first (their digit runs must not feed the phone pattern),
    * then IPv4 (dotted quads are not phone numbers), then phone
    * numbers over whatever digits remain. The regexes stay in the
    * RE2 ∩ java.util.regex common dialect (character classes, bounded
    * repetition, `\b` — no backreferences, no lookaround) so the Spark
    * scan and the DuckDB oracle compile the identical automaton. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+?\\d[\\d() -]{7,}\\d", "<PHONE>"))

  /** PII redaction — the pre-training scrub pass: emails, IPv4s, and
    * phone-shaped digit runs replaced with typed placeholder tokens,
    * plus per-category match counts (counted against the ORIGINAL
    * text, so the counts are category-independent and replayable).
    * Pure per-row expressions fused into the scan: no shuffle, no UDF
    * — `regexp_replace`/`regexp_extract_all` are codegen'd Catalyst
    * expressions, so the pass runs at scan speed at any corpus size.
    *
    * The synthetic corpus carries no PII (all counts 0, text passes
    * through) — the driver oracle still hash-checks the full
    * replace/count pipeline end-to-end, and TextDedupSpec proves the
    * redaction itself on injected fixtures. */
  def scrubPii(spark: SparkSession, dir: String): DataFrame =
    scrubPiiOf(Tables(spark, dir, "documents"))

  /** [[scrubPii]] over an arbitrary (doc_id, text) frame — the
    * fixture-injectable core (the shipped corpus is PII-free, so the
    * redaction behavior itself is proven on synthetic documents). */
  def scrubPiiOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id") +:
        PiiPatterns.map { case (name, re, _) =>
          size(regexp_extract_all(col("text"), lit(re), lit(0)))
            .cast("long").as(s"n_$name")
        } :+
        PiiPatterns.foldLeft(col("text")) { case (c, (_, re, token)) =>
          regexp_replace(c, re, token)
        }.as("clean_text"): _*)

  // ---- boilerplate / span-level dedup ---------------------------------

  /** Per-document distinct k-shingle rows — the shared scan under the
    * boilerplate miner and its per-doc coverage face. Distinct WITHIN
    * the doc so a shingle repeated inside one document counts that
    * document once (document frequency, not term frequency). */
  private def docShingles(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("text"), k))).as("shingle"))

  /** Boilerplate mining — k-token spans appearing in ≥ `minDf` distinct
    * documents (headers, footers, license blocks, templated spans; the
    * inter-document repeated-span pass of C4-style cleaning).
    *
    * Scale: explode → one shuffle keyed by shingle (cardinality grows
    * with the corpus — no hot key), map-side partial counts; the
    * surviving boilerplate set is tiny relative to the corpus. */
  def boilerplateShingles(spark: SparkSession, dir: String, k: Int = 5,
      minDf: Int = 2): DataFrame =
    docShingles(spark, dir, k)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Per-document boilerplate coverage: what fraction of a document's
    * distinct k-shingles are corpus boilerplate (per
    * [[boilerplateShingles]]). The removal decision of a cleaning
    * pipeline keys off this — a doc that is mostly boilerplate is
    * dropped, one with a boilerplate header is trimmed.
    *
    * Scale: the shingle rows are persisted once (PlanCache) and feed
    * both the df aggregate and the coverage join; the join is keyed by
    * shingle — same grown cardinality as the aggregate, no broadcast of
    * anything corpus-sized; the final rollup shuffles on doc_id. */
  def boilerplateCoverage(spark: SparkSession, dir: String, k: Int = 5,
      minDf: Int = 2): DataFrame = {
    val sh = PlanCache.tracked(docShingles(spark, dir, k))
    val boiler = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("shingle"))
    val hits = sh.join(boiler, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 4).as("boiler_frac"))
  }

  /** Sub-document chunk dedup: fixed `width`-token windows hashed and
    * grouped across the corpus; a chunk hash landing in ≥2 distinct
    * documents is a duplicated SPAN — the unit content-dedup pipelines
    * remove when whole-document near-dup misses partial copies.
    *
    * Scale: ⌈n/width⌉ chunk rows per doc, one shuffle keyed by chunk
    * hash (cardinality ∝ corpus tokens — no hot key), count/min all
    * map-side combined. The md5 chunk key is the same cross-engine
    * hash the rest of the dedup family uses. */
  def chunkDedup(spark: SparkSession, dir: String, width: Int = 32): DataFrame = {
    val toks = Text.tokens(col("text"))
    val chunks = transform(
      sequence(lit(0), ceil(size(toks).cast("double") / width).cast("int") - 1),
      i => md5(array_join(slice(toks, i * width + 1, lit(width)), " ")))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(chunks).as("chunk_md5"))
      .groupBy(col("chunk_md5"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Chunk-level corpus REWRITE — the output face of exact-substring
    * dedup (the "train once on every unique span" regime): where
    * [[chunkDedup]] only reports duplicated spans, this emits the
    * cleaned corpus. Every document is cut into the same fixed
    * `width`-token windows; an occurrence survives iff its chunk hash
    * is corpus-unique OR this document is the duplicated chunk's
    * canonical owner (min doc_id — so exactly one copy of every span
    * survives corpus-wide, and the canonical document keeps its full
    * text). Survivors reassemble in position order into `clean_text`;
    * fully-boilerplate documents stay in the output with an empty
    * rewrite rather than vanishing (downstream mixes key on doc_id).
    *
    * Scale: one shuffle keyed by chunk hash (cardinality ∝ corpus
    * tokens) for the duplicate census, one shuffle-join back on the
    * same key, one shuffle keyed by doc_id for reassembly — all keys
    * grow with the corpus, no driver-side data movement, and the
    * reassembly `sort_array(collect_list(...))` holds only one
    * document's chunks per group (bounded by doc length, not corpus).
    * The census side is NOT broadcast by design: duplicated-chunk
    * counts grow with corpus size. */
  def chunkRewrite(spark: SparkSession, dir: String, width: Int = 32): DataFrame = {
    val toks = Text.tokens(col("text"))
    val nChunks = ceil(size(toks).cast("double") / width).cast("int")
    val chunkStructs = transform(
      sequence(lit(0), nChunks - 1),
      i => struct(
        i.as("pos"),
        md5(array_join(slice(toks, i * width + 1, lit(width)), " ")).as("h"),
        array_join(slice(toks, i * width + 1, lit(width)), " ").as("body")))
    val occ = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(chunkStructs).as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"), col("c.h").as("h"),
        col("c.body").as("body"))
    val dups = occ.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), col("first_doc"))
    val kept = occ.join(dups, Seq("h"), "left")
      .filter(col("first_doc").isNull || col("doc_id") === col("first_doc"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_chunks"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("body")))),
            c => c.getField("body")), " ").as("clean_text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), nChunks.cast("long").as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-source token-distribution DIVERGENCE — KL(source ‖ corpus)
    * over unigram distributions, the domain-mixing diagnostic: a source
    * whose token distribution sits far from the corpus mean shifts the
    * mixture when its weight changes (and a near-zero divergence source
    * adds volume, not diversity). Per-token log-ratios round to integer
    * micro-units before the occurrence-weighted fold (the [[unigramLm]]
    * float-parity discipline: round early, sum integers), so the report
    * is deterministic cross-engine.
    *
    * Scale: one (source, token) hash-agg (map-side combined), corpus
    * token totals broadcast (vocab-sized), per-source totals via a
    * window over the vocab-sized aggregate; output is one row per
    * source. */
  def sourceTokenDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
    val st = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("n_st"))
    val corpus = toks.groupBy(col("token")).agg(count(lit(1)).as("n_t"))
      .withColumn("total",
        sum(col("n_t")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val perSource = st
      .withColumn("n_s", sum(col("n_st")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .join(broadcast(corpus), Seq("token"))
      // lr = ln(p_s / p_c) = ln((n_st · total) / (n_s · n_t)), rounded
      // to integer micro before any summation
      .select(col("source"), col("n_st"), col("n_s"),
        round(log((col("n_st") * col("total")).cast("double") /
          (col("n_s") * col("n_t")).cast("double")) * 1000000.0, 0)
          .cast("long").as("lr_micro"))
    perSource.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        sum(col("n_st") * col("lr_micro")).as("_w"))
      // signed dividend (per-token rounding can leave a near-zero
      // divergence marginally negative): both engines TRUNCATE toward
      // zero on integer division (Spark `div`, DuckDB `//` —
      // measured), so the plain form matches on both signs
      .select(col("source"), col("n_tokens"), col("n_distinct_tokens"),
        expr("_w div n_tokens").as("kl_micro"))
  }

  /** DEDUP SAVINGS by source — the accounting face of [[chunkRewrite]]:
    * per source, raw tokens vs tokens surviving the chunk-level
    * rewrite, and the saving rate in integer micro — the number a
    * pipeline owner reads to decide whether sub-document dedup pays
    * for a given source (a mirror-heavy crawl saves 30%; a curated
    * source saves ~0). One extra join (rewrite output ⋈ source dim)
    * and a types-bounded rollup on top of the rewrite's own plan. */
  def dedupSavingsBySource(spark: SparkSession, dir: String,
      width: Int = 32): DataFrame = {
    val rewritten = chunkRewrite(spark, dir, width)
      .select(col("doc_id"),
        when(col("clean_text") === "", 0L)
          .otherwise(size(Text.tokens(col("clean_text"))).cast("long")).as("kept_tokens"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).cast("long").as("raw_tokens"))
      .join(rewritten, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("raw_tokens")).as("raw_tokens"),
        sum(col("kept_tokens")).as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("raw_tokens"), col("kept_tokens"),
        expr("(raw_tokens - kept_tokens) * 1000000 div raw_tokens").as("saving_micro"))
  }

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT — the Efraimidis–Spirakis
    * exponential-key scheme: each document draws a deterministic
    * uniform u from its salted md5 and ranks by ln(u)/w (equivalent to
    * u^(1/w); the top-k of those keys IS a weight-proportional sample
    * without replacement — unlike [[weightedSample]]'s Bernoulli
    * rates, the output size is EXACTLY k and inclusion probability
    * tracks the weight). Weights are the quality score floored at
    * 1e-4 (a zero weight would be a −∞ key). The same salted-md5
    * uniform convention as every sampler here: deterministic,
    * growth-stable, replayable cross-engine; keys round at 6 dp
    * before ranking, ties break by doc_id.
    *
    * Scale: one scan computes the key; top-k is TakeOrdered-shaped
    * (bounded heaps, no global sort of the corpus). */
  def weightedSampleTopK(spark: SparkSession, dir: String,
      k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Text.md5Hash60(concat(lit("wrs-"), col("doc_id").cast("string")))
    val u = (pmod(h, lit(9007199254740992L)).cast("double") + 1.0) /
      9007199254740992.0
    val w = greatest(Text.qualityScore(col("text")), lit(0.0001))
    val key6 = round(log(u) / w, 6)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), w.as("weight"), key6.as("key6"))
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("key6").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("source"), col("weight"),
        round(col("key6") * 1000000.0, 0).cast("long").as("key_micro"))
  }

  /** DOCUMENT NOVELTY — the data-valuation opposite of
    * [[boilerplateCoverage]]: the fraction of a document's DISTINCT
    * 3-shingles that appear NOWHERE else in the corpus (df = 1). A
    * high-novelty document contributes content no other document
    * carries; a zero-novelty one is recombined boilerplate even if no
    * single near-dup partner exists. Integer micro ratio. Same
    * two-aggregate shape as the boilerplate report: shingle df census
    * (map-side combined, corpus-growing key), one join back, one
    * per-doc rollup. */
  def noveltyScores(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // INVERTED join (the boilerplateCoverage shape): joining every
    // exploded shingle against the full df census shuffles the
    // corpus-dominant UNIQUE side for nothing — count hits against
    // the SMALL repeated-shingle set instead and subtract. The
    // exploded shingles feed the census and the hit join — tracked
    // cache so the explode runs once (caller releases).
    val sh = PlanCache.tracked(Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("text"), k))).as("s")))
    val repeated = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("s"))
    val hits = sh.join(repeated, Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_repeated"))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        (col("n_shingles") - coalesce(col("n_repeated"), lit(0L))).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("n_unique * 1000000 div n_shingles").as("novelty_micro"))
  }

  /** ZIPF SLOPE — the rank-frequency power-law fit over the corpus
    * vocabulary: natural text sits near slope −1 in log-log space;
    * a templated or synthetic corpus flattens (this one measures it,
    * whatever it is). Least-squares over (ln rank, ln freq) with the
    * engine's float discipline: both logs round to integer micro
    * FIRST, the four regression moments are then EXACT int64 sums,
    * and the slope/intercept are single integer divisions — zero
    * summation-order dependence. Ranks are deterministic (freq desc,
    * token asc). Vocab-sized everything. Logs land on the MILLI grid
    * (not micro): the slope numerator carries n·Σxy·10⁶, and milli
    * inputs keep it inside int64 to ~20k vocabulary terms (micro
    * inputs overflow at THIS corpus already); a web-scale vocabulary
    * needs the [[lengthBurstiness]] DECIMAL(38) rearrangement — noted,
    * not silently wrong (ANSI long-overflow fails loudly). Outputs
    * stay micro-named; their precision is the milli input grid. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables(spark, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("freq").desc, col("token").asc)))
    val pts = vocab.select(
      round(log(col("rank").cast("double")) * 1000.0, 0).cast("long").as("x"),
      round(log(col("freq").cast("double")) * 1000.0, 0).cast("long").as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)")
          .as("slope_micro"),
        expr("((sy - ((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx))" +
          " * sx div 1000000) div n) * 1000").as("intercept_micro"))
  }

  /** TOKEN BUDGET CURVE — how many documents and tokens survive each
    * candidate quality bar: the planning report a training run reads
    * BEFORE committing to a threshold ("0.7 keeps 40B tokens; 0.75
    * keeps 12B — can we afford taste?"). One scan computes each doc's
    * quality and token count; the per-threshold rollup is a
    * thresholds × 1 fold over conditional sums (no per-threshold
    * re-scan — the explode is over the LITERAL threshold list, and
    * Catalyst evaluates quality once per row under it). Micro share
    * of the corpus token mass per row. */
  def tokenBudgetCurve(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.0, 0.6, 0.66, 0.7, 0.75)): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(Text.qualityScore(col("text")).as("q"),
        Text.tokenCount(col("text")).cast("long").as("n_tok"))
      .select(explode(lit(thresholds.toArray)).as("threshold"), col("q"), col("n_tok"))
    base.groupBy(col("threshold"))
      .agg(sum(when(col("q") >= col("threshold"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("q") >= col("threshold"), col("n_tok")).otherwise(0L))
          .as("n_tokens"),
        sum(col("n_tok")).as("_all_tokens"))
      .select(col("threshold"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000 div _all_tokens").as("token_share_micro"))
  }

  // ---- language temperature rebalancing -------------------------------

  /** Temperature-based language rebalancing (the multilingual α-sampling
    * step, α = 0.5): per-language keep rates ∝ n_l^α / n_l, so
    * minority languages keep a larger fraction and the head language is
    * downsampled, targeting ⌊N/2⌋ total documents. The per-row draw is
    * the same salted-md5 basis-point decision as [[weightedSample]] —
    * deterministic, growth-stable, replayable cross-engine.
    *
    * All rate math is INTEGER (weights = ⌊√n·1000⌋, rates in basis
    * points via integer division), so both engines compute identical
    * rates — no float summation order to drift. The BIGINT products
    * hold to ~10¹⁸; beyond that rearrange to divide before multiplying.
    *
    * Scale: one tiny per-language aggregate, broadcast back over the
    * scan; the keep decision is a per-row filter — no corpus shuffle. */
  def langTemperatureMix(spark: SparkSession, dir: String,
      salt: String = "temp-"): DataFrame = {
    val stats = Tables(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .withColumn("w_l", floor(sqrt(col("n_l").cast("double")) * 1000).cast("long"))
    // totals via a global window over the per-LANGUAGE stats frame —
    // single-partition WindowExec over ≤ #languages rows (languages
    // don't grow with the corpus), and the plan stays join-free here
    // (a crossJoin with the 1-row aggregate would plan the banned
    // BroadcastNestedLoopJoin)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val rates = stats
      .withColumn("n_total", sum(col("n_l")).over(all))
      .withColumn("w_total", sum(col("w_l")).over(all))
      .withColumn("rate_bp", least(lit(10000L),
        expr("((n_total div 2) * w_l * 10000) div (w_total * n_l)")))
      .select(col("lang"), col("rate_bp"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        pmod(Text.md5Hash60(concat(lit(salt), col("doc_id").cast("string"))),
          lit(10000)).as("mix_bp"))
      .join(broadcast(rates), Seq("lang"))
      .filter(col("mix_bp") < col("rate_bp"))
      .select(col("doc_id"), col("lang"), col("mix_bp"), col("rate_bp"))
  }

  // ---- count-min sketch -----------------------------------------------

  /** Count-min sketch shape: depth (independent hash rows) × width
    * (cells per row). Width 16 is deliberately SMALLER than the
    * testdata vocabulary so hash collisions — the thing the depth-min
    * corrects for — actually occur under test. */
  val CmsDepth = 4
  val CmsWidth = 16

  /** Count-min-sketch token frequencies: every token folds into
    * [[CmsDepth]] md5-derived cells, cell counts sum occurrences, and
    * a token's estimate is the MIN over its cells — always ≥ the true
    * count, tight unless all its cells are collided. The sketch is the
    * fixed-size (depth × width) frequency summary a 100 TB pipeline
    * keeps when the vocabulary itself is too large to hold — merging
    * two corpora's sketches is cell-wise addition.
    *
    * Output: per token, true count and sketch estimate, top-`topK` by
    * count (count desc, token asc — fully deterministic order). The
    * true count ships alongside the estimate because the testdata
    * vocabulary IS enumerable — the spec and oracle verify the
    * estimate's ≥-and-tight contract against it.
    *
    * Scale: token counts are one map-side-combined aggregate; the
    * sketch is depth×width rows regardless of corpus size; estimate
    * lookup joins vocab-sized frames on (row, cell). The md5 cell hash
    * is the engine-parity hash the mixers use. */
  def cmsTokenFrequencies(spark: SparkSession, dir: String,
      topK: Int = 50): DataFrame = {
    val tf = PlanCache.tracked(Tables(spark, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf")))
    def cells(df: DataFrame) = df.select(col("token"), col("tf"),
        posexplode(array((0 until CmsDepth).map(d =>
          pmod(Text.md5Hash60(concat(lit(s"cms$d-"), col("token"))),
            lit(CmsWidth))): _*)))
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "cell")
    val sketch = cells(tf).groupBy(col("d"), col("cell")).agg(sum(col("tf")).as("cnt"))
    val est = cells(tf).join(sketch, Seq("d", "cell"))
      .groupBy(col("token")).agg(min(col("cnt")).as("est"))
    tf.join(est, Seq("token"))
      .orderBy(col("tf").desc, col("token").asc).limit(topK)
      .select("token", "tf", "est")
  }

  // ---- BPE merge mining -----------------------------------------------

  /** Number of byte-pair merges [[bpeMerges]] learns. */
  val BpeIters = 8

  /** BPE (byte-pair encoding) merge mining — the tokenizer-training
    * core: count corpus word frequencies ONCE (the only corpus-scale
    * pass), split words into character symbols, then repeatedly (a)
    * count adjacent symbol pairs weighted by word frequency, (b) take
    * the most frequent pair (ties: lexicographic on left, then right),
    * (c) apply the merge greedily left-to-right inside every word.
    * Output: one row per learned merge (iter, lhs, rhs, pair_count).
    *
    * Scale: the corpus pass is a map-side-combined word count; every
    * iteration then works on the VOCABULARY frame (types × weights,
    * not occurrences) — pair counting is a distributed aggregate over
    * it, top-1 is TakeOrdered, and the merge applies as a per-row
    * `aggregate` fold (codegen, no UDF). The per-iteration collect is
    * exactly one row. k iterations = k small jobs — the standard
    * distributed-BPE shape (count once, iterate on the weighted
    * vocab).
    *
    * Greedy fold correctness: a merged symbol's NAME (left+right
    * concatenated) differs from `left`, so "a a a" merges to
    * [aa, a], never [aa, aa] — the leftmost-first semantics real BPE
    * trainers use. Words shorter than 2 symbols contribute no pairs
    * (guarded — `sequence` would otherwise run descending). */
  def bpeMerges(spark: SparkSession, dir: String,
      iters: Int = BpeIters): DataFrame = {
    val chars = filter(split(col("word"), ""), c => c =!= "")
    var vocab = PlanCache.tracked(
      Tables(spark, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wf"))
        .select(col("wf"), chars.as("syms")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (it <- 1 to iters) {
      val pairs = vocab.select(col("wf"), explode(when(size(col("syms")) >= 2,
          transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(element_at(col("syms"), i + 1).as("l"),
              element_at(col("syms"), i + 2).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r")).agg(sum(col("wf")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
        .collect() // exactly one row per iteration — metadata-bounded
      if (top.isEmpty) return merges.result().toDF_(spark)
      val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((it, l, r, cnt))
      vocab = PlanCache.tracked(vocab.select(col("wf"),
        greedyMerge(col("syms"), l, r).as("syms")))
    }
    merges.result().toDF_(spark)
  }

  /** One greedy leftmost-first merge pass: fold symbols, replacing
    * each (l, r) adjacency with the concatenated symbol. The fold's
    * accumulator tail is the MERGED symbol after a match (≠ l unless
    * l·r = l·l = … degenerates, which concatenation prevents), so
    * "a a a" under (a,a) becomes [aa, a] — identical to the oracle's
    * jump-2 recursive scan. Shared by the miner ([[bpeMerges]]) and
    * the encoder ([[applyBpe]]). */
  private def greedyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, cur) =>
      when(size(acc) > 0 && element_at(acc, -1) === l && cur === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(cur))))

  /** The merge table [[applyBpe]] encodes with by default: the
    * [[BpeIters]] merges the miner learned at sf0.01, frozen as
    * literals so the declared query (and its oracle) are
    * self-contained — the merges.txt a training run would ship, not a
    * per-slice recomputation (merge ranks are frequency-dependent and
    * differ across slices; the spec proves train→encode composition
    * with freshly mined merges separately). Note merge 6 ("m","er")
    * consumes merge 1's output — rank order is semantic, exactly as
    * in a shipped tokenizer's merges.txt. */
  val DefaultMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** BPE APPLICATION — the other half of the tokenizer lifecycle
    * ([[bpeMerges]] trains, this encodes): each distinct corpus word
    * starts as its character symbols and replays the merge table in
    * rank order, one greedy leftmost-first pass per merge — the
    * semantics of a standard merges.txt encoder. Output is the
    * subword segmentation per word type (the vocabulary artifact a
    * data pipeline ships to the trainer), with before/after symbol
    * counts.
    *
    * Scale: the fold chain is ONE projection over the distinct-word
    * frame (|vocabulary| rows, not corpus rows — encode cost is
    * amortized over every occurrence); no shuffle after the distinct.
    * The oracle replays every pass through the same jump-2 recursive
    * scan the mining oracle uses. */
  def applyBpe(spark: SparkSession, dir: String,
      merges: Seq[(String, String)] = DefaultMerges): DataFrame =
    encodeWords(spark, dir, merges)
      .select(col("word"), length(col("word")).cast("long").as("n_chars"),
        size(col("syms")).cast("long").as("n_syms"),
        array_join(col("syms"), " ").as("segmentation"))

  /** Distinct corpus words encoded under `merges`: (word, syms).
    * Vocab-sized — the frame [[applyBpe]] and [[bpeFertility]] share. */
  private def encodeWords(spark: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val chars = filter(split(col("word"), ""), c => c =!= "")
    val start = Tables(spark, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("word")).distinct()
      .select(col("word"), chars.as("syms"))
    merges.foldLeft(start) { case (df, (l, r)) =>
      df.select(col("word"), greedyMerge(col("syms"), l, r).as("syms")) }
  }

  /** Tokenizer FERTILITY by language — subword tokens per whitespace
    * word under the frozen merge table, the efficiency metric a
    * multilingual pipeline tracks per language before committing to a
    * tokenizer (high fertility = that language pays more sequence
    * length per word, trains slower, truncates sooner). Also reports
    * chars-per-subword (the compression face of the same ratio).
    * Occurrence-weighted: each word type's symbol count weighs in by
    * its corpus frequency in that language. Integer micro-units end to
    * end (floor division), bit-identical cross-engine.
    *
    * Scale: the encode runs once per distinct WORD (vocab-sized, not
    * corpus-sized); frequencies are one token-explode aggregate
    * (map-side combined); the join keys on word (vocab-sized, grows
    * sub-linearly with the corpus); output is one row per language. */
  def bpeFertility(spark: SparkSession, dir: String,
      merges: Seq[(String, String)] = DefaultMerges): DataFrame = {
    val freq = Tables(spark, dir, "documents")
      .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n_occ"))
    val enc = encodeWords(spark, dir, merges)
      .select(col("word"), length(col("word")).cast("long").as("n_chars"),
        size(col("syms")).cast("long").as("n_syms"))
    freq.join(enc, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("n_occ")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("n_occ") * col("n_syms")).as("n_subwords"),
        sum(col("n_occ") * col("n_chars")).as("_chars"))
      .select(col("lang"), col("n_words"), col("n_distinct_words"), col("n_subwords"),
        expr("n_subwords * 1000000 div n_words").as("fertility_micro"),
        expr("_chars * 1000000 div n_subwords").as("chars_per_subword_micro"))
  }

  /** Builder for the merge-table frame (kept out of the loop so an
    * early-exhausted pair supply returns the partial table). */
  private implicit class MergeRows(rows: Seq[(Int, String, String, Long)]) {
    def toDF_(spark: SparkSession): DataFrame = {
      import spark.implicits._
      rows.toDF("iter", "lhs", "rhs", "pair_count")
    }
  }

  // ---- importance scoring (DSIR-style) --------------------------------

  /** Importance score for data selection: per-document mean
    * log-likelihood RATIO between a target unigram LM (fit on the
    * high-quality slice, quality ≥ `minQuality`) and the corpus unigram
    * LM — DSIR-style "does this doc look like the data I want more of".
    * Positive = target-like. Both LMs are add-1 smoothed over the
    * corpus vocabulary; per-token ratios round to 6 dp, then the
    * per-doc mean is computed in INTEGER micro-units and truncated at
    * 4 dp — `round(avg, 4)` of 6 dp values HITS half-ties (a 12-token
    * doc whose ratio sum ends in …50 splits HALF_UP vs half-even
    * across engines; found at sf0.1), while an integer sum is
    * order-independent and `floor` is bit-deterministic.
    *
    * Scale: two token aggregates (corpus, target — the second a
    * filtered re-scan, map-side combined), one join keyed by token to
    * attach ratios (vocab-sized, grows with corpus — no broadcast
    * assumption), one doc_id rollup. No driver-side state. */
  def importanceScores(spark: SparkSession, dir: String,
      minQuality: Double = 0.66): DataFrame = {
    // two-step select: in the fused form Catalyst plans the Generate
    // UNDER the quality projection, re-evaluating the quality
    // expression (distinct-card kernel + four splits) once per TOKEN
    // row instead of once per document — ~100× redundant compute
    // cached into the token frame. Projecting quality first pins it
    // below the explode; Project chains don't collapse across a
    // Generate.
    val toks = PlanCache.tracked(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"),
          Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("quality"), explode(col("toks")).as("token")))
    // ONE aggregation pass carries both counts — a separate
    // target-slice groupBy would rescan and reshuffle the token
    // stream for a strict subset of this conditional count
    val counts = toks.groupBy(col("token")).agg(
      count(lit(1)).as("cc"),
      count(when(col("quality") >= minQuality, 1)).as("ct"))
    val lr = round(
      log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
        (col("t_tot") + col("vocab")).cast("double")) -
      log((col("cc") + 1).cast("double") /
        (col("c_tot") + col("vocab")).cast("double")), 6)
    // totals + vocab size via a global window over the VOCAB-sized
    // joined frame (the unigramLm shape — single-partition WindowExec
    // holds vocabulary rows, fine at corpus scale, join-free); target
    // tokens ⊆ corpus vocab, so sum(ct) here IS the target total
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    val ratios = counts
      .withColumn("c_tot", sum(col("cc")).over(all))
      .withColumn("vocab", count(lit(1)).over(all))
      .withColumn("t_tot", sum(coalesce(col("ct"), lit(0L))).over(all))
      // exact micro-units: the inner round pins lr to the 1e-6 grid, so
      // ×1e6 is within ~1e-10 of an integer and the outer round is
      // tie-free by construction
      .select(col("token"), round(lr * 1e6, 0).cast("long").as("lr_u"))
    toks.join(ratios, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(col("lr_u")).cast("double") /
          (count(lit(1)).cast("double") * 100.0)) / 10000.0).as("score"))
  }

  /** Leakage-free train/test split: a held-out eval set is worthless
    * if near-duplicates of its members stay in train — the
    * decontamination literature's in-corpus twin. Test = the
    * deterministic stratified sample ([[stratifiedSample]]); every
    * document sharing a near-dup CLUSTER with a test member is
    * EXCLUDED from train (not silently kept, not leaked); the rest
    * trains. Output: every document labeled test / excluded / train.
    *
    * Scale: the test set and its cluster ids are sample-sized —
    * broadcast both; the corpus is touched by one scan + two
    * broadcast semi-join probes and the cluster closure comes from
    * the shared band index. */
  def cleanSplit(spark: SparkSession, dir: String,
      testPerSource: Int = 12): DataFrame = {
    val test = stratifiedSample(spark, dir, testPerSource).select("doc_id")
    val clusters = PlanCache.tracked(
      Dedup.dedupClusters(spark, dir).select("doc_id", "cluster_id"))
    val testClusters = clusters.join(test, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val excluded = clusters.join(broadcast(testClusters), Seq("cluster_id"), "left_semi")
      .select("doc_id")
    Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
      .join(broadcast(test.withColumn("t", lit(1))), Seq("doc_id"), "left")
      .join(broadcast(excluded.withColumn("x", lit(1))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("t").isNotNull, "test")
          .when(col("x").isNotNull, "excluded")
          .otherwise("train").as("split"))
  }

  /** REGISTRY-SERVED [[cleanSplit]] — once a model is founded, the
    * TRAIN side is additionally gated by the live quality model: a
    * would-be train document that fails the live gate (non-English or
    * logit < 0) is labeled `filtered` instead of `train`, so the
    * training corpus the split feeds is exactly the registry-curated
    * one. Test and leakage-excluded labels are model-independent and
    * unchanged (an eval member stays an eval member across
    * promotions — re-labeling test on a model change would silently
    * change the benchmark). Before the founding promotion this IS
    * [[cleanSplit]] (declared q116 semantics) with a NULL
    * `logit_micro` riding along.
    *
    * Scale: the live weights fold into the one documents scan as
    * literal arithmetic ([[liveGateScan]]); test and excluded sets
    * stay sample-sized broadcasts — no corpus-sized keep-set join. */
  def cleanSplitWithLiveModel(spark: SparkSession, dir: String,
      storeDir: String, testPerSource: Int = 12): DataFrame =
    ModelStore.liveModel(spark, storeDir) match {
      case None =>
        cleanSplit(spark, dir, testPerSource)
          .withColumn("logit_micro", lit(null).cast("long"))
      case Some((w, _)) =>
        val test = stratifiedSample(spark, dir, testPerSource).select("doc_id")
        val clusters = PlanCache.tracked(
          Dedup.dedupClusters(spark, dir).select("doc_id", "cluster_id"))
        val testClusters = clusters.join(test, Seq("doc_id"), "left_semi")
          .select("cluster_id").distinct()
        val excluded = clusters
          .join(broadcast(testClusters), Seq("cluster_id"), "left_semi")
          .select("doc_id")
        liveGateScan(spark, dir, w)
          .join(broadcast(test.withColumn("t", lit(1))), Seq("doc_id"), "left")
          .join(broadcast(excluded.withColumn("x", lit(1))), Seq("doc_id"),
            "left")
          .select(col("doc_id"), col("source"),
            when(col("t").isNotNull, "test")
              .when(col("x").isNotNull, "excluded")
              .when(col("guess") =!= "en" || col("logit_micro") < 0L,
                "filtered")
              .otherwise("train").as("split"),
            col("logit_micro"))
    }

  /** Joint lexical + semantic curation — the full modern filter chain
    * in one declarative plan: the [[curate]] bar (quality ∧ langID ∧
    * MinHash near-dup survivor) intersected with the
    * [[Similarity.semDedup]] verdicts (embedding-space duplicates the
    * lexical pass cannot see — paraphrases, translations, re-renders).
    * Documents and embeddings pair on doc_id == vec_id; a document
    * WITHOUT an embedding has no semantic verdict and passes (only a
    * KNOWN semantic duplicate is removed — the anti-join against the
    * dropped set encodes that, and the dropped set is the small,
    * broadcastable side). Both legs are the operators the oracles
    * already verify. */
  def jointCurate(spark: SparkSession, dir: String): DataFrame =
    curate(spark, dir)
      .join(Similarity.semDedup(spark, dir).filter(!col("is_kept"))
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")

  /** REGISTRY-SERVED [[jointCurate]] — the lexical leg's quality bar
    * comes from the live [[ModelStore]] weights once a model is
    * founded ([[curateWithLiveModel]]'s contract, literal q114
    * semantics before the founding promotion); the semantic anti-join
    * leg is model-independent and unchanged. Same scale shape as the
    * literal face: one gated corpus scan + two small anti-joins. */
  def jointCurateWithLiveModel(spark: SparkSession, dir: String,
      storeDir: String): DataFrame =
    curateWithLiveModel(spark, dir, storeDir)
      .join(Similarity.semDedup(spark, dir).filter(!col("is_kept"))
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")

  /** OOV vocab default, sized BELOW the synthetic corpus's 31-token
    * vocabulary so the boundary actually bites (production: 32k–256k). */
  val OovVocab = 20

  /** Tokenizer-coverage report: per document, how many token
    * occurrences fall OUTSIDE the corpus's own top-`vocabSize`
    * vocabulary — the OOV-rate planning metric behind vocab sizing
    * (a tokenizer whose vocab misses 20% of a source's mass will
    * fragment it into bytes). Vocabulary = tf-ranked with the q61
    * tie-break (tf desc, token asc) so the boundary is deterministic
    * cross-engine.
    *
    * Scale: the vocab is top-k (TakeOrdered) and broadcast — tokens
    * stream past it map-side; the only corpus-sized shuffle is the
    * per-doc rollup. The token frame is persisted once and feeds both
    * the tf aggregate and the coverage join (the boilerplate-coverage
    * shape). */
  def oovReport(spark: SparkSession, dir: String, vocabSize: Int = OovVocab): DataFrame = {
    val toks = PlanCache.tracked(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(col("toks")).as("token")))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc).limit(vocabSize)
      .select(col("token"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_v").isNull, lit(1))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 4)
          .as("oov_rate"))
  }

  // ---- retrieval chunking ---------------------------------------------

  /** RAG ingestion chunking: OVERLAPPING token windows (width
    * [[ChunkWidth]], stride [[ChunkStride]] — 16-token overlap so no
    * answer span is ever split across a boundary without a copy that
    * contains it whole). One row per (doc, chunk) with the chunk's
    * token count and content hash — the narrow shape an embedding/
    * indexing stage consumes; the md5 stands in for the chunk text so
    * rows stay ~50 bytes, not kilobytes, through the shuffle-free
    * scan-fused explode. Complements [[chunkDedup]] (disjoint windows,
    * dedup) and [[packSequences]] (training packing): this is the
    * retrieval-index face. */
  val ChunkWidth = 64
  val ChunkStride = 48

  def ragChunks(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (ChunkWidth, ChunkStride)
    Tables(spark, dir, "documents")
      // project tokens FIRST, explode SECOND (the Generate-under-
      // Project hazard: a fused select re-runs the split per chunk)
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          ceil(size(col("toks")).cast("double") / s).cast("int") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        size(slice(col("toks"), col("chunk_idx") * s + 1, lit(w))).as("n_tokens"),
        md5(array_join(slice(col("toks"), col("chunk_idx") * s + 1, lit(w)), " "))
          .as("chunk_md5"))
  }

  /** Per-source duplication-rate report: what fraction of each
    * source's documents are non-canonical near-dup cluster members —
    * the ops-dashboard rollup a curation run reports ("source X is
    * 40% duplicated"). The cluster losers come from the SHARED corpus
    * band index ([[Dedup.bandIndex]]) like every other dedup consumer;
    * the rollup itself is one broadcast-friendly left join + a
    * per-source aggregate. */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val losers = Dedup.dedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1L).as("dup"))
    Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
      .join(losers, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("dup")).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs").cast("double"), 4)
          .as("dup_rate"))
  }

  /** Per-source unigram Shannon entropy — the corpus-diversity gate
    * (a source whose entropy collapses is templated/spammy; one whose
    * entropy spikes is likely noise). H = −Σ p·ln p with every float
    * hazard pinned: probabilities are integer MICRO-UNITS
    * (tf·1e6 div total), ln lands on the 1e-6 grid
    * (round(ln·1e6, 0) → BIGINT, the PSI pattern), and the Σ runs over
    * INTEGER p_u·ln_u products — so the fold is shuffle-order-
    * independent where a double Σ would drift. Tokens rarer than 1e-6
    * floor to p_u = 0 and drop (their total contribution is < 1.4e-5
    * nats — below the 4 dp output grid). p_u·ln_u ≤ 1.4e13 per term:
    * BIGINT holds to ~650k-token vocabularies; beyond that cast the
    * product to DECIMAL(38,0), as the anomaly moments do.
    *
    * Scale: one token scan → (source, token) hash-agg (map-side
    * combined), then a sources-sized broadcast join and a second tiny
    * aggregate. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables(spark, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy(col("source"))
      .agg(sum(col("tf")).as("total"), count(lit(1)).as("vocab"))
    val terms = tf.join(broadcast(totals), Seq("source"))
      .withColumn("p_u", expr("tf * 1000000 div total"))
      .filter(col("p_u") > 0)
      .withColumn("ln_u",
        expr("CAST(round(ln(p_u / 1000000.0) * 1000000, 0) AS BIGINT)"))
      .groupBy(col("source")).agg(sum(col("p_u") * col("ln_u")).as("s"))
    totals.join(terms, Seq("source"))
      .select(col("source"), col("total").as("n_tokens"), col("vocab"),
        round(-col("s").cast("double") / 1e12, 4).as("entropy"))
  }

  /** Per-source length burstiness — the Fano factor (variance/mean) of
    * per-document token counts, in floor micro-units from EXACT
    * integer moments (n, Σx, Σx²): a uniform-length templated source
    * sits near 0, organic text disperses. Sample variance over mean:
    * F = (n·Σx² − (Σx)²) div ((n−1)·Σx) at the 1e-6 grid — pure BIGINT
    * floor division, bit-identical cross-engine (decimal division
    * would round at engine-chosen scales and flap the floor). The
    * ·1e6 numerator holds in int64 while n·Σx² ≤ ~9·10¹¹ — fine for
    * per-source shards; a 10⁹-document source needs the
    * dailyAnomalies DECIMAL(38) rearrangement (divide before
    * multiplying), noted here, not silently wrong: the product order
    * below overflows loudly (Spark ANSI long-overflow), never quietly.
    *
    * One scan, one tiny per-source aggregate. */
  def lengthBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val x = Text.tokenCount(col("text")).cast("long")
    Tables(spark, dir, "documents")
      .select(col("source"), x.as("x"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n"), col("sx"),
        // degenerate sources (one document, or all-empty texts) have
        // no sample variance: NULL fano, not an ANSI divide-by-zero
        // that fails the whole report for every OTHER source
        when(col("n") > 1 && col("sx") > 0,
          expr("(n * sxx - sx * sx) * 1000000 div ((n - 1) * sx)"))
          .as("fano_micro"))
  }

  /** The default blocked-term list for [[blocklistReport]] — a
    * stand-in for the profanity/unsafe-content term lists every
    * production corpus filter carries (the real list is a config
    * artifact; the machinery is what's engine-owned). */
  val DefaultBlocklist: Seq[String] = Seq("slow", "dup", "big")

  /** Blocklist audit — per source: documents containing any blocked
    * term (exact token match, the corpus's space tokenization), total
    * hit occurrences, and the flagged-document share in integer
    * micro-units. The safety-filter face of quality gating: the list
    * rides the plan as an array literal (codegen'd `array_contains`
    * per token — no join, no UDF, no broadcast table needed until the
    * list outgrows a literal), so the whole audit is ONE scan with a
    * map-side-combined rollup. Counting is per-occurrence for hits
    * and per-document for the flag — a doc repeating one slur 100×
    * flags once but weighs 100 hits. */
  def blocklistReport(spark: SparkSession, dir: String,
      terms: Seq[String] = DefaultBlocklist): DataFrame = {
    val blocked = array(terms.map(lit).toIndexedSeq: _*)
    val hits = size(filter(Text.tokens(col("text")),
      t => array_contains(blocked, t)))
    Tables(spark, dir, "documents")
      .select(col("source"), hits.cast("long").as("n_hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("flagged_docs"),
        sum(col("n_hits")).as("total_hits"))
      .select(col("source"), col("n_docs"), col("flagged_docs"), col("total_hits"),
        expr("flagged_docs * 1000000 div n_docs").as("flagged_micro"))
  }

  /** Strict width-`w` token n-grams hashed to 64-bit hex keys —
    * shared by [[dupNgramCoverage]] and [[ngramDecontaminate]].
    * Unlike [[Text.shingles]] (which folds a short doc into one
    * whole-doc shingle for fingerprinting), docs shorter than `w`
    * tokens contribute NOTHING here: a duplication metric over
    * sub-width grams would count fragments no dedup pass acts on.
    * The 16-hex-char md5 prefix keeps the census shuffle rows
    * narrow (8 B of entropy vs a ~30-char gram string) and is
    * reproducible in the DuckDB oracle, unlike xxhash64. */
  /** The exploded (doc_id, h) gram-position rows both census faces
    * consume — position-first (one posexplode, the hash as a plain
    * codegen'd expression per position) instead of exploding a
    * per-document transform lambda, which evaluated every
    * md5(array_join(slice(...))) inside an interpreted
    * CodegenFallback HOF (the q218 lesson). Same grams (strict: docs
    * under w tokens contribute nothing), same 16-hex-char md5
    * prefixes. */
  private def ngramHashRows(spark: SparkSession, dir: String,
      w: Int): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(col("t")).as(Seq("i", "tok")))
      .filter(size(col("t")) - col("i") >= w)
      .select(col("doc_id"), substring(
        md5(array_join(slice(col("t"), col("i") + lit(1), lit(w)), " ")),
        1, 16).as("h"))
  }

  /** Cross-document duplicated n-gram COVERAGE (the RefinedWeb /
    * "Deduplicating Training Data Makes Language Models Better"
    * report): per document, the fraction of its width-5 token
    * n-gram POSITIONS whose gram also occurs in at least one OTHER
    * document. This is the metric that decides whether exact
    * substring dedup is worth running at all — per-doc coverage near
    * zero means MinHash-level dedup already caught everything;
    * heavy tails name the docs to rewrite (cf. [[chunkRewrite]],
    * which acts at chunk granularity; this measures at the finer
    * n-gram granularity rewrites can't reach).
    *
    * Scale: the postings shape, folded through a (doc, gram)
    * pre-aggregate so the join-back shuffles occurrence COUNTS, not
    * raw positions (repeated in-doc grams collapse before the
    * gram-keyed join; position semantics survive as the weights —
    * measured 34.7 s → 24.8 s at the sf1 slice). The census (cross-doc
    * duplication is `min(doc)≠max(doc)` — no count_distinct) reads
    * the scan directly: the optimizer's RemoveRedundantAggregates
    * correctly drops the (doc, gram) level under a min/max(doc) fold.
    * No all-pairs anywhere; the census side is NOT broadcast by
    * design (it grows with the corpus). */
  def dupNgramCoverage(spark: SparkSession, dir: String,
      width: Int = 5): DataFrame = {
    val perDoc = ngramHashRows(spark, dir, width)
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("occ"))
    val census = perDoc.groupBy(col("h"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("dup"))
    perDoc.join(census, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_ngrams"),
        sum(when(col("dup"), col("occ")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
        expr("n_dup * 1000000 div n_ngrams").as("dup_micro"))
  }

  /** N-GRAM DECONTAMINATION — the GPT-3/PaLM eval-leak method at
    * width 5: an eval document is contaminated iff any of its token
    * n-grams appears anywhere in the training split (here the
    * deterministic holdout `doc_id % 97 = 0` plays the eval set).
    * Complements the two existing faces: [[graft.operators.Dedup]]'s
    * exact-fingerprint decontamination (q56, whole-doc) and the
    * token-SET containment probe (q145, order-blind) — n-gram overlap
    * is the standard published middle ground (order-aware, partial).
    *
    * Scale: eval sets are SMALL by definition, so the eval gram set
    * broadcasts and the train corpus streams past it exactly once —
    * hit grams (≤ eval-gram-count rows) come back, collapse to
    * distinct, and join the eval positions. The 100 TB cost is one
    * train-corpus scan with a broadcast semi-filter; nothing
    * corpus-sized shuffles. */
  def ngramDecontaminate(spark: SparkSession, dir: String,
      width: Int = 5): DataFrame = {
    val pos = ngramHashRows(spark, dir, width)
    val evalPos = pos.filter(col("doc_id") % 97 === 0)
    val evalGrams = evalPos.select(col("h")).distinct()
    val hitGrams = pos.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
      .select(col("h")).distinct()
      .withColumn("hit", lit(true))
    evalPos.join(hitGrams, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hits"),
        (col("n_hits") > 0L).as("contaminated"),
        expr("n_hits * 1000000 div n_ngrams").as("hit_micro"))
  }

  /** The [[qualityClassifier]] logit column — shared by the
    * classifier, its lift table, and the agreement/AUC evals so all
    * four stay ONE scan each with bit-identical scores. */
  private def classifierLogit: Column = {
    val toks = Text.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val shs = Text.shingles(col("text"), 3)
    lit(-2.0) +
      lit(3.0) * (size(array_distinct(toks)).cast("double") / nTok) +
      lit(-1.5) * (Text.stopwordCount(col("text")).cast("double") / nTok) +
      lit(0.8) * least(nTok / 100.0, lit(1.0)) +
      lit(-2.5) * (lit(1.0) - size(array_distinct(shs)).cast("double") /
        size(shs).cast("double"))
  }

  /** COHEN'S KAPPA between the model gate ([[qualityClassifier]]'s
    * `logit > 0`) and the heuristic curation label (quality ≥ 0.66,
    * the q157 ground truth) — chance-corrected agreement, the
    * label-audit statistic run before swapping a heuristic filter for
    * a model (raw agreement flatters imbalanced labels; kappa doesn't).
    * Integer micro-units throughout: observed agreement and the
    * marginal rates are floor-divided micro shares, expected agreement
    * is the micro product-sum, and kappa is one final floor division —
    * float-free, so the report is deterministic cross-engine. The
    * degenerate all-one-label corpus (pe = 1) yields NULL, not a
    * divide-by-zero (the q127 ANSI lesson).
    *
    * Scale: ONE scan computing both labels (they share the token
    * pipeline), one 1-row aggregate; marginals stay ≤ 10⁶ so the
    * micro products never overflow BIGINT at any corpus size. */
  def agreementKappa(spark: SparkSession, dir: String): DataFrame = {
    val a = classifierLogit > 0
    val b = Text.qualityScore(col("text")) >= 0.66
    Tables(spark, dir, "documents")
      .select(a.as("a"), b.as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("(n11 + n00) * 1000000 div n").as("po_micro"),
        expr("""(((n11 + n10) * 1000000 div n) * ((n11 + n01) * 1000000 div n)
               + ((n01 + n00) * 1000000 div n) * ((n10 + n00) * 1000000 div n))
               div 1000000""").as("pe_micro"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        col("po_micro"), col("pe_micro"),
        expr("""CASE WHEN pe_micro = 1000000 THEN NULL
                ELSE (po_micro - pe_micro) * 1000000 div (1000000 - pe_micro)
                END""").as("kappa_micro"))
  }

  /** Exact ROC-AUC of the classifier logit against the curation
    * label — the threshold-free companion to [[classifierLift]]'s
    * decile table, computed as the midrank Mann–Whitney statistic:
    * AUC = (2·R₁ − n₁(n₁+1)) / (2·n₁n₀) where R₁ is the positive-
    * class midrank sum. Everything happens on an integer grid — the
    * logit quantizes to ×10⁴ ticks (the same 4-decimal precision the
    * classifier already publishes), midranks are carried doubled so
    * ties stay integral, and the final AUC is one micro floor
    * division: bit-identical cross-engine, no float rank fuzz.
    *
    * Scale: one scan folds to a (distinct tick → count, positives)
    * hash-agg whose size is bounded by the logit RANGE (~4·10⁴ ticks,
    * constant in corpus size), so the single-partition cumulative
    * window that assigns midranks runs over a fixed-size frame — the
    * same bounded-window convention as the percentile reports. The
    * doubled rank sum stays under BIGINT through ~10⁹ docs; beyond
    * that the tick histogram (already exact) is the artifact to
    * aggregate hierarchically. A one-class corpus yields NULL. */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tick from the PUBLISHED 4-decimal logit (the q71-proven-identical
    // double), so the grid is bit-stable cross-engine by construction
    val ticks = Tables(spark, dir, "documents")
      .select(round(round(classifierLogit, 4) * 10000).cast("long").as("s"),
        (Text.qualityScore(col("text")) >= 0.66).as("pos"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ticks
      .withColumn("cum_less", coalesce(sum(col("cnt")).over(below), lit(0L)))
      .withColumn("midrank2", lit(2L) * col("cum_less") + col("cnt") + lit(1L))
      .agg(sum(col("np")).as("n_pos"),
        sum(col("cnt") - col("np")).as("n_neg"),
        sum(col("np") * col("midrank2")).as("r1_x2"))
      .select(col("n_pos"), col("n_neg"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE (r1_x2 - n_pos * (n_pos + 1)) * 1000000
                     div (2 * n_pos * n_neg) END""").as("auc_micro"))
  }

  /** CALIBRATION (reliability) table for the quality classifier —
    * the third model-eval face beside rank quality ([[classifierAuc]])
    * and threshold yield ([[classifierLift]]): the logit maps to a
    * probability (sigmoid, published at the house 4-decimal grid),
    * probabilities cut into ten equal-width bins, and each bin
    * reports mean CONFIDENCE vs observed ACCURACY with the |gap| —
    * the per-bin terms of expected calibration error (ECE = the
    * doc-weighted gap mean, one fold away). An over-confident filter
    * model shows up here while its AUC still looks fine.
    *
    * Float discipline: the only transcendental (exp) is rounded to
    * 4 decimals immediately — the grid absorbs cross-engine libm ULP
    * differences (the q65 ln convention) — and every rate after that
    * is an integer micro floor division. Scale: one scan, a ≤10-row
    * hash-agg; `sum(tick)` stays under BIGINT to ~10¹² docs/bin. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    // sigmoid of the PUBLISHED 4-decimal logit (not the raw one): both
    // engines then exp() the identical double, and the sigmoid's own
    // 4-decimal round absorbs the libm ULP gap
    val p4 = round(lit(1.0) / (lit(1.0) + exp(-round(classifierLogit, 4))), 4)
    val tick = round(p4 * 10000).cast("long")
    Tables(spark, dir, "documents")
      .select(tick.as("tick"),
        (Text.qualityScore(col("text")) >= 0.66).as("pos"))
      .select(least(expr("tick div 1000"), lit(9L)).as("bin"),
        col("tick"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("tick")).as("sum_tick"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("sum_tick * 100 div n_docs").as("conf_micro"),
        expr("n_pos * 1000000 div n_docs").as("acc_micro"))
      .withColumn("gap_micro",
        abs(col("conf_micro") - col("acc_micro")))
  }

  /** Exact two-sample KOLMOGOROV–SMIRNOV drift screen: for each
    * source, the maximum CDF distance between ITS quality-score
    * distribution and the rest of the corpus — the unbinned companion
    * to the PSI drift report (PSI needs bucket choices; KS reads the
    * whole distribution and catches shape drift PSI's bins smooth
    * over). Scores live on the published 4-decimal grid, so both
    * CDFs are exact integer counts over at most 10⁴ ticks; the
    * distance compares micro floor-divided CDFs (deterministic
    * cross-engine, within 2·10⁻⁶ of the exact rational). A
    * single-source corpus reports NULL (no rest to drift from).
    *
    * Scale: one scan folds to a (source, tick) hash-agg bounded by
    * |sources| × the tick RANGE — constant in corpus size; every
    * source needs a CDF value at every pooled jump point, so the
    * source list (an enum-sized set, like the bucket lists the ANN
    * stores collect) rides the plan as a literal exploded over the
    * pooled ticks — a constant-key join here would fold into the
    * banned nested-loop product. All windows run over the bounded
    * grid. */
  def qualityKsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tick = round(Text.qualityScore(col("text")) * 10000).cast("long")
    val cnt = Tables(spark, dir, "documents")
      .select(col("source"), tick.as("tick"))
      .groupBy(col("source"), col("tick"))
      .agg(count(lit(1)).as("c"))
    val sources = cnt.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val grid = cnt.select(col("tick")).distinct()
      .select(col("tick"), explode(lit(sources)).as("source"))
    val byCdf = Window.partitionBy(col("source")).orderBy(col("tick"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = grid.join(cnt, Seq("source", "tick"), "left")
      .withColumn("cum_s", sum(coalesce(col("c"), lit(0L))).over(byCdf))
      .withColumn("cum_all", sum(col("cum_s")).over(
        Window.partitionBy(col("tick"))))
      .withColumn("n_s", max(col("cum_s")).over(
        Window.partitionBy(col("source"))))
      .withColumn("n_all", max(col("cum_all")).over(Window.partitionBy()))
    full
      .withColumn("diff", when(col("n_all") > col("n_s"),
        abs(expr("cum_s * 1000000 div n_s") -
          expr("(cum_all - cum_s) * 1000000 div (n_all - n_s)"))))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_source"),
        max(col("n_all") - col("n_s")).as("n_rest"),
        max(col("diff")).as("d_micro"))
  }

  /** QUANTILE–QUANTILE drift table — [[qualityKsDrift]]'s companion
    * with MAGNITUDE: per source and decile p ∈ {10..90}, the source's
    * quality quantile vs the rest-of-corpus quantile and their gap in
    * micro ticks. KS says "the worst CDF distance is D"; this says
    * WHERE in the distribution the drift lives and by how much — the
    * triage detail (a low-tail gap means the source ships junk, a
    * high-tail gap means it lacks excellence). Quantiles are the
    * smallest tick whose cumulative count reaches `ceil(p·n/100)`
    * (the q87 rank convention restated over the cumulative grid, so
    * both sides read off ONE shared frame).
    *
    * Scale: identical envelope to the KS screen — a (source, tick)
    * hash-agg bounded by |sources| × tick range, the literal-exploded
    * grid, bounded windows; output sources × 9 rows. */
  def qualityQqDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tick = round(Text.qualityScore(col("text")) * 10000).cast("long")
    val cnt = Tables(spark, dir, "documents")
      .select(col("source"), tick.as("tick"))
      .groupBy(col("source"), col("tick"))
      .agg(count(lit(1)).as("c"))
    val sources = cnt.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val grid = cnt.select(col("tick")).distinct()
      .select(col("tick"), explode(lit(sources)).as("source"))
    val byCdf = Window.partitionBy(col("source")).orderBy(col("tick"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = grid.join(cnt, Seq("source", "tick"), "left")
      .withColumn("cum_s", sum(coalesce(col("c"), lit(0L))).over(byCdf))
      .withColumn("cum_all", sum(col("cum_s")).over(
        Window.partitionBy(col("tick"))))
      .withColumn("n_s", max(col("cum_s")).over(
        Window.partitionBy(col("source"))))
      .withColumn("n_all", max(col("cum_all")).over(Window.partitionBy()))
      .withColumn("cum_r", col("cum_all") - col("cum_s"))
      .withColumn("n_r", col("n_all") - col("n_s"))
    val deciles = full
      .select(col("source"), col("tick"), col("cum_s"), col("n_s"),
        col("cum_r"), col("n_r"),
        explode(lit((1 to 9).map(_ * 10).toArray)).as("pct"))
    deciles
      .groupBy(col("source"), col("pct"))
      .agg(
        min(when(col("cum_s") >= ceil(col("pct") * col("n_s") / lit(100.0)),
          col("tick"))).as("q_source"),
        min(when(col("n_r") > 0 &&
            col("cum_r") >= ceil(col("pct") * col("n_r") / lit(100.0)),
          col("tick"))).as("q_rest"))
      .select(col("source"), col("pct").cast("long").as("pct"),
        (col("q_source") * 100).as("q_source_micro"),
        (col("q_rest") * 100).as("q_rest_micro"),
        (col("q_source") * 100 - col("q_rest") * 100).as("gap_micro"))
  }

  /** SAMPLING-MIX PLANNER — derives the per-source DOWN-sampling
    * rates that move the corpus toward a target mix (uniform by
    * default), where the fixed-weight ops (q51 weighted mix, q78
    * language temperature) APPLY rates someone else chose. Without
    * up-sampling, the achievable mix is anchored by the most
    * under-represented source: the budget is minᵢ(nᵢ/targetᵢ) rows,
    * each source keeps rate = budget·targetᵢ/nᵢ (≤ 1 by
    * construction, exact integer micro), and the report carries
    * natural vs target vs achieved shares — the plan a curation run
    * reviews before q51-style deterministic draws execute it.
    *
    * Scale: one hash-agg to source counts, windows over the
    * sources-bounded frame. All shares are micro floor divisions. */
  def samplingMixPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("n_sources", count(lit(1)).over(Window.partitionBy()))
      .withColumn("n_total", sum(col("n_docs")).over(Window.partitionBy()))
    // uniform target: budget = n_sources · min(n_docs) rows overall
    counts
      .withColumn("n_min", min(col("n_docs")).over(Window.partitionBy()))
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 div n_total").as("natural_micro"),
        expr("1000000 div n_sources").as("target_micro"),
        expr("n_min * 1000000 div n_docs").as("rate_micro"),
        col("n_min").as("n_kept"))
  }

  /** JOINT length × quality histogram — the 2-D profiling face the
    * 1-D reports (q63 length histogram, q120 quality percentiles)
    * can't show: curation thresholds interact (a length floor and a
    * quality floor each look harmless alone and together delete a
    * corner of the corpus), and the joint mass table is what a
    * threshold review reads. Cells: token-count decades × quality
    * deciles, counts and micro shares. One scan, one ≤100-cell
    * hash-agg, one windowed share. */
  def lengthQualityHistogram(spark: SparkSession, dir: String): DataFrame = {
    val qTick = round(Text.qualityScore(col("text")) * 10000).cast("long")
    Tables(spark, dir, "documents")
      .select((Text.tokenCount(col("text")).cast("long")).as("n_tokens"),
        qTick.as("qt"))
      .select(expr("n_tokens div 10").as("len_decade"),
        least(expr("qt div 1000"), lit(9L)).as("q_decile"))
      .groupBy(col("len_decade"), col("q_decile"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_micro",
        expr("n_docs * 1000000 div sum(n_docs) OVER ()"))
  }

  /** DISTINCT-n corpus diversity — for each source and n ∈ 1..4, the
    * distinct-n-gram to total-n-gram-position ratio (the "distinct-1/
    * distinct-2" metric generation and data-mixing papers track): a
    * source full of templated or looped text collapses toward 0 while
    * genuinely diverse prose stays high, and the n=1→4 profile
    * separates "small vocabulary" from "repeated phrasing" — the
    * corpus-level companion to the per-document repetition score
    * (q57) and the duplicated-position coverage (q205).
    *
    * Scale: one explode pass emits ≤4 gram hashes per token position,
    * then ONE hash-agg per (source, n) with a single distinct
    * aggregate (no Expand) — the postings-census cost envelope,
    * bounded output (sources × 4 rows). Unlike q205/q210, nothing
    * JOINS on these keys — only their distinct count matters, and a
    * distinct count is hash-function-agnostic (any collision-free
    * 64-bit key yields the same count) — so the Spark side uses
    * codegen'd `xxhash64` over the raw token slice (no string build,
    * no md5) while the oracle counts md5 keys; both are 64-bit, same
    * collision class. The sf1 sweep measures the op linear (≈9× at
    * 10× data); its absolute cost IS the 4-width gram volume — about
    * two q205 passes, by construction. */
  def distinctNgramProfile(spark: SparkSession, dir: String,
      maxN: Int = 4): DataFrame = {
    val toks = Text.tokens(col("text"))
    // position-first expansion: one posexplode of the token array,
    // then each width's gram hash as a PLAIN codegen'd expression per
    // (position, n) — the transform-lambda form evaluated ~4M
    // xxhash64(slice(...)) calls inside interpreted CodegenFallback
    // HOFs. Identical gram multiset (slice start i+1 on the 0-based
    // posexplode index ≡ the 1-based transform index; widths past the
    // tail null out and drop), identical hashes, identical counts.
    Tables(spark, dir, "documents")
      .select(col("source"), toks.as("t"))
      .select(col("source"), col("t"),
        posexplode(col("t")).as(Seq("i", "tok")))
      .select(col("source"), explode(array((1 to maxN).map(n =>
        struct(lit(n.toLong).as("n"),
          when(size(col("t")) - col("i") >= n,
            xxhash64(slice(col("t"), col("i") + lit(1), lit(n)))).as("h"))): _*))
        .as("g"))
      .filter(col("g.h").isNotNull)
      .select(col("source"), col("g.n").as("n"), col("g.h").as("h"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_positions"),
        count_distinct(col("h")).as("n_distinct"))
      .select(col("source"), col("n"), col("n_positions"), col("n_distinct"),
        expr("n_distinct * 1000000 div n_positions").as("distinct_micro"))
  }

  /** DISTINCT-N APPROX — [[distinctNgramProfile]]'s 100 TB twin (the
    * q99 → q136 precedent applied to the diversity profile): the exact
    * form's `count_distinct` keys its shuffle by the gram hash, so the
    * full gram volume crosses the wire; this form folds each
    * (source, n)'s grams into one `hll_card` register buffer — ONE
    * 256-byte row per group reaches the exchange whatever the corpus
    * size, and the estimate lands within HLL's ~6.5% at m = 256.
    * Grams feed the registers as STRINGS (the md5 'hllc-' scheme) so
    * the DuckDB replay is register-identical — the xxhash64 shortcut
    * the exact form takes is fine there (distinct counts are
    * hash-agnostic) and fatal here (registers are hash-defined).
    *
    * Honest accounting: locally this is only ~1.15× faster than the
    * exact form (sf0.1 and sf1 both) — the per-gram string build +
    * md5 costs what the exact form's map-side distinct saves. The
    * lever is the EXCHANGE: the exact form ships its partition-
    * distinct gram rows (corpus-growing) where this ships 256 bytes
    * per (source, n) — the trade a shuffle-bound cluster takes and a
    * CPU-bound single node doesn't. */
  def distinctNgramApprox(spark: SparkSession, dir: String,
      maxN: Int = 4): DataFrame = {
    val toks = Text.tokens(col("text"))
    // position-first expansion (the q218 rewrite): one posexplode,
    // gram strings as codegen'd expressions — NOT interpreted
    // transform lambdas. Register inputs (the md5 'hllc-' scheme
    // downstream) are byte-identical: same joined gram strings.
    Tables(spark, dir, "documents")
      .select(col("source"), toks.as("t"))
      .select(col("source"), col("t"),
        posexplode(col("t")).as(Seq("i", "tok")))
      .select(col("source"), explode(array((1 to maxN).map(n =>
        struct(lit(n.toLong).as("n"),
          when(size(col("t")) - col("i") >= n,
            array_join(slice(col("t"), col("i") + lit(1), lit(n)), " "))
            .as("g"))): _*)).as("x"))
      .filter(col("x.g").isNotNull)
      .select(col("source"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_positions"),
        graft.functions.HllCard.hllCard(col("g")).as("_hll"))
      .select(col("source"), col("n"), col("n_positions"),
        round(Sketches.hllEstimate(col("_hll.m_hit"), col("_hll.sumpow")), 2)
          .as("est_distinct"))
  }

  /** HELD-OUT PERPLEXITY — the train/test-discipline face of the
    * unigram LM (q65 fits and scores the SAME corpus; a data-quality
    * gate must score unseen text): the LM fits on the training split
    * only (add-one smoothing over the train vocabulary), and the
    * deterministic holdout (`doc_id % 97 = 0`, the q210 convention)
    * is scored against it — unseen tokens get the smoothed OOV floor
    * 1/(T+V) instead of silently vanishing. Per eval doc: token and
    * OOV counts, mean log-probability (per-token logp rounds to 6
    * decimals BEFORE the average — the q65 float discipline), and
    * perplexity exp(−avg), the number LM papers quote.
    *
    * Scale: one train hash-agg to the vocab frame (totals via the
    * vocab-side window, q65's join-free shape), logp broadcast into
    * the eval scan; the (T, V) scalars ride a 1-row collect —
    * driver-safe by construction. */
  def holdoutPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val vocab = toks.filter(col("doc_id") % 97 =!= 0)
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val stats = vocab
      .withColumn("total", sum(col("tf")).over(Window.partitionBy()))
      .withColumn("v", count(lit(1)).over(Window.partitionBy()))
    val logp = stats.select(col("token"),
      round(log((col("tf") + 1).cast("double") /
        (col("total") + col("v")).cast("double")), 6).as("logp"))
    // the OOV floor needs (T, V) as scalars: a 1-row fold, driver-safe
    val tv = vocab.agg(sum(col("tf")).as("t"), count(lit(1)).as("v")).head()
    // replicate Catalyst round() exactly (HALF_UP on the decimal — the
    // sign-aware form; math.round floors and drifts on negative ties)
    val oovLogp = java.math.BigDecimal
      .valueOf(math.log(1.0 / (tv.getLong(0) + tv.getLong(1))))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    toks.filter(col("doc_id") % 97 === 0)
      .join(broadcast(logp), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("logp").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(avg(coalesce(col("logp"), lit(oovLogp))), 4).as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 2))
  }

  /** CROSS-LANGUAGE DUPLICATE CONFLICTS — near-dup fingerprint groups
    * (q23's winnowing min-shingle, stable under local edits) whose
    * members carry DIFFERENT language labels: each group is either a
    * translated duplicate cluster (dedup policy decision: keep one
    * per lang or one total?) or a language-labeling error feeding the
    * per-lang mixes (q78) the wrong masses. Neither face is visible
    * to same-lang dedup or to the langID confusion report (q158),
    * which never looks across documents.
    *
    * Scale: one scan computes fingerprints; one hash-agg on the
    * fingerprint key (corpus-growing); the lang set per group is
    * bounded by the language inventory, so collect_set is constant-
    * sized and the conflict output is the anomaly mass only. */
  def langConflicts(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(Text.fingerprint(col("text")).as("fingerprint"), col("lang"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_set(col("lang"))).as("ls"))
      .select(col("fingerprint"), col("n_docs"),
        size(col("ls")).cast("long").as("n_langs"),
        array_join(col("ls"), ",").as("langs"))
      .filter(col("n_langs") >= 2)
  }

  /** SPEARMAN rank correlation between document length and quality,
    * per source — the monotone-association screen beside q195's linear
    * Pearson: quality's length-saturation term guarantees SOME
    * association, and the rank form answers "is longer monotonically
    * better here" without assuming linearity, robustly to the heavy
    * length tail. Ties take MIDRANKS (the q209 exact-AUC discipline),
    * carried in HALF-UNITS (2·midrank = 2·min_rank + ties − 1, always
    * integer) so the moment fold is exact; the only floats are the
    * final Pearson-on-ranks ratio, computed from bit-identical integer
    * moments with one op order on both engines (the q195 contract).
    *
    * Scale: two rank windows partitioned by source (parallelism grows
    * with sources; within a source the sort is the price of ranking —
    * Spearman IS a rank statistic) and one exact-moment aggregate;
    * moments ride Decimal(38) — Σ(2r)² reaches 4n³ per source, far
    * past int64 at corpus scale. Degenerate sources (constant length
    * or constant quality) report NULL, never a divide-by-zero. */
  def lengthQualitySpearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Tables(spark, dir, "documents")
      .select(col("source"),
        Text.tokenCount(col("text")).cast("long").as("x"),
        round(Text.qualityScore(col("text")) * 10000, 0).cast("long").as("y"))
    def midrank2(c: String) = {
      val w = Window.partitionBy(col("source")).orderBy(col(c).asc)
      val tiesW = Window.partitionBy(col("source"), col(c))
      lit(2) * rank().over(w) + count(lit(1)).over(tiesW) - 1
    }
    val ranked = base
      .withColumn("xr", midrank2("x").cast("long"))
      .withColumn("yr", midrank2("y").cast("long"))
    val (dx, dy) = (col("xr").cast(dec), col("yr").cast(dec))
    val m = ranked.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(col("xr")).as("sx"), sum(col("yr")).as("sy"),
      sum(dx * dx).as("sxx"), sum(dy * dy).as("syy"), sum(dx * dy).as("sxy"))
    val nD = col("n").cast("double")
    val varX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    // the q195 final-expression discipline: one double ratio from
    // bit-identical integer moments, reported on the micro grid
    m.select(col("source"), col("n").as("n_docs"),
      when(varX > 0 && varY > 0,
        round(round(cov / sqrt(varX * varY), 6) * 1000000, 0).cast("long"))
        .as("spearman_micro"))
  }

  /** SPLIT-CONFORMAL prediction intervals for per-source quality — the
    * distribution-free error bars for a prediction rule, here the
    * simplest one (predict each document's quality as its source's
    * CALIBRATION-mean quality): the calibration split's absolute
    * residuals are ranked and the ⌈(n+1)(1−α)⌉-th smallest becomes the
    * radius q̂, which by the exchangeability argument covers a fresh
    * document's quality with probability ≥ 1−α — no distributional
    * assumption, the guarantee modern eval pipelines quote. Reported
    * per source with the TEST split's observed coverage (the honest
    * empirical check beside the theoretical bound). The split is a
    * salted-hash draw (the q67 replay convention — doc_id itself
    * STRIDES by source in this corpus, so a modulo split would pick
    * whole sources): calibration = hash % 10 < 3, test the rest (a
    * 30% calibration share — per-source conformal needs the split to
    * reach every source); α = 0.1. All integer: quality in basis
    * points, q̂ by rank selection, coverage in micro. A source with no
    * calibration (or no test) documents reports nothing — strict
    * conformal has no finite radius to offer it.
    *
    * Scale: one scan folds calibration means (sources-sized), one
    * rank window per source over the calibration split, two
    * broadcast-joined aggregates — nothing row-scale leaves the first
    * shuffle. */
  def conformalQualityIntervals(spark: SparkSession, dir: String,
      alphaPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = PlanCache.tracked(Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        round(Text.qualityScore(col("text")) * 10000, 0).cast("long").as("q_bp")))
    val splitHash = pmod(
      Text.md5Hash60(concat_ws("-", lit("conf"), col("doc_id"))), lit(10L))
    val cal = docs.filter(splitHash < 3)
    val test = docs.filter(splitHash >= 3)
    val mean = cal.groupBy(col("source")).agg(count(lit(1)).as("n_cal"),
      expr("CAST(sum(q_bp) AS DECIMAL(38,0)) div count(1)").as("mean_bp"))
    val resid = cal.join(broadcast(mean), Seq("source"))
      .select(col("source"), col("n_cal"),
        abs(col("q_bp") - col("mean_bp")).as("r"))
    // q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration residual (positive
    // ceil as (x+99) div 100 — identical truncation on both engines),
    // clamped to the max residual when the calibration set is too
    // small for the index to exist (the finite-sample degeneracy —
    // strict conformal would say q̂ = ∞ there)
    val qhat = resid
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("r").asc)))
      .filter(col("rnk") === expr(
        s"least(((n_cal + 1) * (100 - $alphaPct) + 99) div 100, n_cal)"))
      .select(col("source"), col("n_cal"), col("r").as("qhat_bp"))
    val covered = test.join(broadcast(mean.select(col("source"), col("mean_bp"))),
        Seq("source"))
      .join(broadcast(qhat), Seq("source"))
      .groupBy(col("source"), col("n_cal"), col("qhat_bp"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("q_bp") - col("mean_bp")) <= col("qhat_bp"), 1L)
          .otherwise(0L)).as("n_covered"))
    covered.select(col("source"), col("n_cal"), col("qhat_bp"), col("n_test"),
      col("n_covered"),
      // a source's test split at corpus scale pushes covered·1e6 past
      // int64 — the recommenderEval/markovPredictionEval widening
      expr("CAST(n_covered AS DECIMAL(38,0)) * 1000000 div n_test")
        .as("coverage_micro"))
  }

  /** Poisson(1) CDF thresholds on the 2⁶⁰ grid (P(X≤k)·2⁶⁰, k = 0..6,
    * floor) — frozen at authoring time like the DCG/Benford literals,
    * so neither engine evaluates e⁻¹ at query time. The tail past 6
    * (≈8·10⁻⁵) clamps to weight 7. */
  private[graft] val PoissonCdf60: Seq[Long] = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L)

  /** POISSON-BOOTSTRAP confidence intervals for per-source mean
    * quality — the error bars a curation report needs before anyone
    * compares two sources' scores: `nReplicas` bootstrap resamples of
    * each source, each document's multiplicity drawn as Poisson(1)
    * from a salted md5 hash (the deterministic-replay discipline of
    * q67's sampler — same corpus, same intervals, forever, on any
    * engine). Poisson bootstrap IS the big-data bootstrap: weights are
    * per-row independent, so no replica ever needs the source's row
    * count, a global index, or any cross-row coordination — the exact
    * property that lets it run as one scan at 100 TB.
    *
    * The interval is the percentile bootstrap: per source, the
    * replica means' ⌊B/40⌋+1-th and (B−⌊B/40⌋)-th order statistics
    * (2.5%/97.5% for B = 200). All arithmetic is integer — quality on
    * the basis-point grid, replica means as ⌊Σwq·100 div Σw⌋ micro,
    * rank selection instead of float quantiles — so both engines walk
    * identical grids.
    *
    * Scale: the explode inflates the scan CPU ×B, but the per-(source,
    * replica) sums combine MAP-SIDE, so the shuffle carries
    * sources × B rows — metadata-bounded however large the corpus;
    * the rank windows run on that same small frame. */
  def bootstrapQualityCi(spark: SparkSession, dir: String,
      nReplicas: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qb = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        round(Text.qualityScore(col("text")) * 10000, 0).cast("long").as("q_bp"))
    // two-step select: quality folds BEFORE the replica explode, or the
    // Generate plans under the projection and re-scores per replica
    val reps = qb
      .withColumn("b", explode(sequence(lit(0), lit(nReplicas - 1))))
      .withColumn("h",
        Text.md5Hash60(concat_ws("-", lit("boot"), col("doc_id"), col("b"))))
      .withColumn("w",
        PoissonCdf60.zipWithIndex.foldRight(lit(7L): Column) {
          case ((thr, k), rest) => when(col("h") < thr, lit(k.toLong)).otherwise(rest)
        })
    val means = reps.groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("q_bp")).as("swq"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0) // an all-zero-weight replica is ~e^(−n): degenerate sources only
      .select(col("source"), col("b"),
        expr("CAST(swq AS DECIMAL(38,0)) * 100 div sw").as("rep_micro"))
    val rnk = row_number().over(
      Window.partitionBy(col("source")).orderBy(col("rep_micro").asc, col("b").asc))
    val loIdx = nReplicas / 40 + 1
    val hiIdx = nReplicas - nReplicas / 40
    val ci = means.withColumn("rnk", rnk)
      .filter(col("rnk") === loIdx || col("rnk") === hiIdx)
      .groupBy(col("source"))
      .agg(max(when(col("rnk") === loIdx, col("rep_micro"))).as("ci_lo_micro"),
        max(when(col("rnk") === hiIdx, col("rep_micro"))).as("ci_hi_micro"))
    val point = qb.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(q_bp) AS DECIMAL(38,0)) * 100 div count(1)")
          .as("mean_micro"))
    point.join(ci, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"),
        (col("ci_hi_micro") - col("ci_lo_micro")).as("ci_width_micro"))
  }

  /** IN-ENGINE QUALITY-CLASSIFIER TRAINING — closes the one lifecycle
    * half q71 left hardcoded: where [[qualityClassifier]] scores with
    * LITERAL weights, this trains them — deterministic fixed-iteration
    * logistic regression over the same four per-document signals
    * (lexical diversity, stopword ratio, length saturation, shingle
    * repetition), labels = the curation bar (quality ≥ 0.66, the
    * q157/q209 ground truth), trained on the salted-hash train split
    * (doc_id STRIDES by source in this corpus, so a modulo split would
    * pick whole sources — the q238 lesson). Returns the weight vector;
    * TrainedClassifierSpec shows the trained weights beating the
    * literal ones on held-out AUC through the q209 midrank machinery.
    *
    * Determinism contract (the trainCodebook/q140 unrolled-iteration
    * discipline): features land on the integer micro grid straight
    * from token counts (no doubles touch them), the logit is integer
    * micro with the per-row division SHIFTED positive (truncation ≡
    * floor, identical on both engines), the sigmoid is the house
    * round-the-transcendental-immediately move (p quantized to micro,
    * absorbing libm ULP differences), and gradients fold as EXACT
    * integer sums through Decimal(38) ≙ HUGEINT — order-independent,
    * so the unrolled iterations land on byte-identical weights
    * however the corpus is partitioned. The weight update divides the
    * gradient sum by n·10⁶ with TRUNCATING division on both sides
    * (Scala BigInt `/` ≙ DuckDB `//` — both round toward zero,
    * verified).
    *
    * Scale: the feature frame is computed once and cached (one corpus
    * scan); each iteration is ONE aggregate pass over it folding five
    * exact integer sums to a single driver row (the profiler scalar
    * convention — driver traffic is 6 numbers per iteration, never
    * rows). At 100 TB: iters × one map-side-combined aggregate. */
  def trainedQualityClassifier(spark: SparkSession, dir: String,
      iters: Int = 20, lr: Long = 16L): DataFrame = {
    import spark.implicits._
    val w = trainQualityWeights(spark, dir, iters, lr)
    Seq(("bias", w(0)), ("distinct_ratio", w(1)), ("stop_ratio", w(2)),
        ("len_sat", w(3)), ("dup_frac", w(4)))
      .toDF("feature", "weight_micro")
  }

  /** The integer-micro feature frame (f1..f4, y) over one split of the
    * documents table — train (`heldout = false`) or test. */
  private[graft] def qualityFeatureFrame(spark: SparkSession, dir: String,
      heldout: Boolean): DataFrame =
    qualityFeatures(spark, dir, Some(heldout))

  /** The feature frame over the train split (`Some(false)`), the
    * held-out split (`Some(true)`) or the whole corpus (`None` — the
    * registry's scoring face). */
  private[graft] def qualityFeatures(spark: SparkSession, dir: String,
      split: Option[Boolean]): DataFrame = {
    val toks = Text.tokens(col("text"))
    val shs = Text.shingles(col("text"), 3)
    val splitCol = pmod(Text.md5Hash60(
      concat_ws("-", lit("qcls"), col("doc_id"))), lit(10L))
    Tables(spark, dir, "documents")
      .filter(split match {
        case Some(true)  => splitCol >= 8
        case Some(false) => splitCol < 8
        case None        => lit(true)
      })
      .select(col("doc_id"),
        size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("nd"),
        Text.stopwordCount(col("text")).cast("long").as("ns"),
        size(shs).cast("long").as("nsh"),
        size(array_distinct(shs)).cast("long").as("ndsh"),
        when(Text.qualityScore(col("text")) >= 0.66, 1L).otherwise(0L).as("y"))
      .select(col("doc_id"),
        expr("CAST(nd AS DECIMAL(38,0)) * 1000000 div nt").as("f1"),
        expr("CAST(ns AS DECIMAL(38,0)) * 1000000 div nt").as("f2"),
        least(col("nt") * lit(10000L), lit(1000000L)).as("f3"),
        expr("1000000 - CAST(ndsh AS DECIMAL(38,0)) * 1000000 div nsh").as("f4"),
        col("y"))
  }

  /** The integer-micro logit for a weight vector — shared by the
    * training loop's gradient pass and the spec's held-out scoring.
    * The feature dot product is divided on the SHIFTED-positive grid
    * so truncation equals floor on both engines. */
  private[graft] def microLogitExpr(w: IndexedSeq[Long]): String =
    s"${w(0)} + CAST((CAST(${w(1)} AS DECIMAL(38,0)) * f1" +
      s" + CAST(${w(2)} AS DECIMAL(38,0)) * f2" +
      s" + CAST(${w(3)} AS DECIMAL(38,0)) * f3" +
      s" + CAST(${w(4)} AS DECIMAL(38,0)) * f4" +
      s" + 1000000000000000000) div 1000000 AS BIGINT) - 1000000000000"

  /** Run the fixed-iteration training loop; returns (bias, w1..w4) in
    * integer micro. */
  private[graft] def trainQualityWeights(spark: SparkSession, dir: String,
      iters: Int = 20, lr: Long = 16L): Seq[Long] = {
    val feats = PlanCache.tracked(qualityFeatureFrame(spark, dir, heldout = false))
    val w = Array(0L, 0L, 0L, 0L, 0L)
    for (_ <- 1 to iters) {
      val z = microLogitExpr(w.toIndexedSeq)
      // p = σ(z) on the micro grid — round the one transcendental
      // immediately (the q212 calibration convention)
      val e = s"(CAST(round(1000000.0 / (1.0 + exp(-(CAST(($z) AS DOUBLE)" +
        s" / 1000000.0))), 0) AS BIGINT) - y * 1000000)"
      val g = feats.agg(
        expr(s"sum(CAST($e AS DECIMAL(38,0)) * 1000000)").as("g0"),
        expr(s"sum(CAST($e AS DECIMAL(38,0)) * f1)").as("g1"),
        expr(s"sum(CAST($e AS DECIMAL(38,0)) * f2)").as("g2"),
        expr(s"sum(CAST($e AS DECIMAL(38,0)) * f3)").as("g3"),
        expr(s"sum(CAST($e AS DECIMAL(38,0)) * f4)").as("g4"),
        count(lit(1)).as("n")).head()
      val n = BigInt(g.getLong(5))
      for (j <- 0 to 4) {
        // BigInt / truncates toward zero ≙ DuckDB // (verified) —
        // the mean gradient in micro per weight
        val mean = BigInt(g.getDecimal(j).toBigInteger) / (n * 1000000L)
        w(j) = w(j) - lr * mean.toLong
      }
    }
    w.toSeq
  }

  /** TWO-SAMPLE MANN–WHITNEY EFFECT SIZE between two sources' token-
    * count distributions: the common-language effect
    * `CL = P(random A doc longer than random B doc) + ½·P(tie)` =
    * U/(m·n), in exact micro — the nonparametric "are A's documents
    * longer" answer that needs no normality story, joining the
    * statistical-test family (q237 Spearman, q244 χ², q238
    * conformal). 500000µ ≈ interchangeable lengths; the judge of
    * whether a source swap shifted the mix before any mean would
    * move.
    *
    * Integer discipline: U comes from the q237 half-unit midrank grid
    * (`midrank2 = 2·cum_less + cnt + 1`, ties exact, no doubles), so
    * `2U = ΣA midrank2 − m(m+1)` and `CL_micro = 2U·10⁶ div (2·m·n)`
    * — every term positive, truncating div identical on both engines,
    * products widened through Decimal(38) ≙ HUGEINT.
    *
    * Scale: one filtered scan partial-aggregates into the distinct-
    * value tick frame; the midrank window is the [[classifierAuc]]
    * single-partition fold over that bounded frame. */
  def mannWhitneyEffect(spark: SparkSession, dir: String,
      srcA: String = "src0", srcB: String = "src1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "documents")
      .filter(col("source").isin(srcA, srcB))
      .select(Text.tokenCount(col("text")).cast("long").as("v"),
        (col("source") === srcA).as("isa"))
    val ticks = d.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("na"))
    val below = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ticks
      .withColumn("cum_less", coalesce(sum(col("cnt")).over(below), lit(0L)))
      .withColumn("midrank2", lit(2L) * col("cum_less") + col("cnt") + lit(1L))
      .agg(sum(col("na")).as("m"), sum(col("cnt") - col("na")).as("n"),
        sum(expr("CAST(na AS DECIMAL(38,0)) * midrank2")).as("ra2"))
      .select(lit(srcA).as("source_a"), lit(srcB).as("source_b"),
        col("m"), col("n"),
        expr("""CASE WHEN m = 0 OR n = 0 THEN NULL
                ELSE CAST((ra2 - CAST(m AS DECIMAL(38,0)) * (m + 1))
                     * 1000000 div (2 * CAST(m AS DECIMAL(38,0)) * n)
                     AS BIGINT) END""").as("cl_micro"))
  }

  /** Held-out ROC-AUC (micro) of an ARBITRARY integer weight vector —
    * the [[classifierAuc]] midrank machinery over the candidate's
    * integer logit instead of the literal classifier's. The promote-
    * if-better retrain loop scores both the candidate and the
    * incumbent through this one function, so the comparison can never
    * drift onto two different AUC definitions. None when the held-out
    * split lost a class (a degenerate corpus must HOLD, not promote).
    *
    * Scale: the tick frame is distinct-logit-bounded; the midrank
    * window is the classifierAuc single-partition fold over that
    * bounded frame (same documented trade). */
  private[graft] def weightsAucMicro(spark: SparkSession, dir: String,
      w: Seq[Long]): Option[Long] =
    weightsAucMicroOn(qualityFeatureFrame(spark, dir, heldout = true), w)

  /** [[weightsAucMicro]] over an already-built (ideally cached)
    * holdout feature frame — the retrain loop scores candidate AND
    * incumbent against one frame, one corpus scan. */
  private[graft] def weightsAucMicroOn(held: DataFrame,
      w: Seq[Long]): Option[Long] = {
    import org.apache.spark.sql.expressions.Window
    val ticks = held
      .select(expr(s"(${microLogitExpr(w.toIndexedSeq)})").as("s"), col("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("np"))
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val row = ticks
      .withColumn("cum_less", coalesce(sum(col("cnt")).over(below), lit(0L)))
      .withColumn("midrank2", lit(2L) * col("cum_less") + col("cnt") + lit(1L))
      .agg(sum(col("np")).as("n_pos"),
        sum(col("cnt") - col("np")).as("n_neg"),
        sum(expr("CAST(np AS DECIMAL(38,0)) * midrank2")).as("r1_x2"))
      .select(expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
              ELSE CAST((r1_x2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                   * 1000000 div (2 * n_pos * n_neg) AS BIGINT) END""")
        .as("auc_micro"))
      .head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** PRECISION–RECALL curve + average precision for the quality
    * classifier — the imbalance-honest eval face beside
    * [[classifierAuc]]'s ROC (ROC-AUC flatters a classifier when
    * positives are rare because false positives drown in the huge
    * negative denominator; the PR curve charges every false positive
    * against precision directly, which is the regime corpus filtering
    * actually lives in). One row per distinct published-logit
    * threshold, walked from the highest score down: cumulative
    * TP/FP/FN, precision and recall in integer micro, and the running
    * average precision (Σ Δtp·precision div P — the last row is the
    * full AP). All integer: the score grid is q209's 4-decimal logit
    * tick, divisions truncate identically, the AP numerator rides
    * Decimal(38) ≙ HUGEINT.
    *
    * Scale: one corpus scan folds to the tick spine (bounded by the
    * published 4-decimal logit grid); every window runs on that
    * spine. */
  /** PARETO SKYLINE of documents on (quality, length) — the
    * non-dominated set: a document survives iff NO other document is
    * ≥ on both axes and strictly better on one. This is the curation
    * frontier ("the best quality at every length budget") — a
    * different operator CLASS from top-k or thresholds, served with
    * the classic 2-D sweep instead of the O(n²) dominance join: on
    * the exact integer grid (quality ticks ×10⁴, token count), a
    * document is on the skyline iff its length equals its
    * quality-group's max AND beats the running max length over all
    * STRICTLY higher quality groups. Duplicated (q, t) points are all
    * kept — neither dominates the other (no strict axis).
    *
    * Scale: one scan → a (quality-tick)-grouped aggregate (grid-
    * bounded), one ordered window over that bounded spine, and one
    * semi-join back — never a pairwise dominance test. */
  def paretoDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = PlanCache.tracked(Tables(spark, dir, "documents")
      .select(col("doc_id"),
        round(Text.qualityScore(col("text")) * 10000).cast("long").as("q"),
        Text.tokenCount(col("text")).cast("long").as("t")))
    val groups = docs.groupBy(col("q")).agg(max(col("t")).as("gmax"))
    val wDesc = Window.orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val skyline = groups
      .withColumn("hmax", max(col("gmax")).over(wDesc))
      .filter(col("hmax").isNull || col("gmax") > col("hmax"))
      .select(col("q"), col("gmax").as("t"))
    docs.join(skyline, Seq("q", "t"), "left_semi")
      .select(col("doc_id"), col("q").as("quality_tick"),
        col("t").as("n_tokens"))
      .orderBy(col("quality_tick").desc, col("doc_id").asc)
  }

  /** ROC CURVE of the quality classifier — q288's PR walk with the
    * other axis pair: per published-logit tick (descending), the
    * cumulative true/false-positive counts and the tpr/fpr pair in
    * integer micro, plus Youden's J (tpr − fpr) — the
    * threshold-picking readout a deployment uses where the PR curve
    * answers ranking quality. q209's one-number AUC is the integral
    * of exactly this walk, so the three rows triangulate each other.
    * Same discipline as [[prCurve]]: the corpus folds to the
    * 4-decimal-logit tick spine, all counts exact, divisions truncate
    * identically cross-engine. */
  def rocCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir, "documents")
      .select(round(round(classifierLogit, 4) * 10000).cast("long").as("s"),
        (Text.qualityScore(col("text")) >= 0.66).as("pos"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
      .withColumn("tp", sum(col("np")).over(wDesc))
      .withColumn("pp", sum(col("cnt")).over(wDesc))
      .withColumn("p_total", sum(col("np")).over(Window.partitionBy()))
      .withColumn("n_total",
        sum(col("cnt") - col("np")).over(Window.partitionBy()))
      .select(col("s").as("s_tick"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        expr("tp * 1000000 div greatest(p_total, 1)").as("tpr_micro"),
        expr("(pp - tp) * 1000000 div greatest(n_total, 1)").as("fpr_micro"))
      .withColumn("youden_micro", col("tpr_micro") - col("fpr_micro"))
      .orderBy(col("s_tick").desc)
  }

  /** GOOD–TURING census of each source's BIGRAM distribution — the
    * unseen-mass estimate an LM pipeline reads before trusting a
    * held-out perplexity: per source, the bigram token/type counts,
    * the singleton/doubleton frequencies-of-frequencies f1/f2, the
    * Good–Turing unseen probability mass p₀ = f1/N, and the
    * discounted true-count estimate for a singleton r₁* = 2·f2/f1 —
    * all exact integer ratios in micro. Bigrams, not unigrams, by
    * MEASUREMENT: the synthetic corpus has 31 unigram types (f1 ≈ 0,
    * a degenerate tail) but ~700 bigram types with f1 ≈ 300 per
    * source. A source with no singletons reports p₀ = 0 — nothing
    * unseen is the correct claim, not a division error.
    *
    * Scale: one scan explodes adjacent token pairs (the q279 zip
    * idiom), one (source, bigram) hash-agg, then a sources-sized
    * frequency-of-frequencies fold. */
  def goodTuring(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("source"), Text.tokens(col("text")).as("ts"))
      .select(col("source"),
        explode(zip_with(col("ts"), slice(col("ts"), 2, 1000000),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"))
      .filter(col("z.w2").isNotNull)
      .select(col("source"),
        concat(col("z.w1"), lit(" "), col("z.w2")).as("bg"))
      .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).as("n_bigrams"),
        count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_bigrams"), col("vocab"), col("f1"),
        col("f2"),
        expr("f1 * 1000000 div greatest(n_bigrams, 1)")
          .as("unseen_mass_micro"),
        expr("2 * f2 * 1000000 div greatest(f1, 1)").as("r1_star_micro"))

  /** HEAPS'-LAW fit over the corpus's TRIGRAM vocabulary growth —
    * V(n) ≈ K·nᵝ, the exponent that says how fast new types keep
    * appearing as the corpus grows (β ≈ 1 = every batch is novel,
    * β ≈ 0 = saturated; the number a crawl-sizing plan extrapolates
    * with). Cumulative distinct trigrams at 10 doc-id-prefix
    * checkpoints, then the q211 OLS on the (ln n_grams, ln vocab)
    * pairs — logs quantized to the 1e-6 grid first (the q126
    * log-grid convention). Trigrams by measurement: ~16k types with
    * over half singletons — a live growth curve where unigrams
    * saturate in the first document.
    *
    * Scale: the explode is one scan; each checkpoint's distinct-count
    * is a prefix semi-aggregation (10 fixed cuts, not per-doc), and
    * the OLS runs on 10 rows. */
  def heapsLaw(spark: SparkSession, dir: String, checkpoints: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = PlanCache.tracked(Tables(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, greatest(size(ts) - 2, 0)), i -> " +
            "concat(ts[i-1], ' ', ts[i], ' ', ts[i+1]))")).as("g")))
    // the max doc_id is a 1-row fold (profiler convention); cuts are
    // doc_id <= (k+1)·(max+1)/K − 1 for k = 0..K−1
    val maxId = grams.agg(max(col("doc_id"))).head().getLong(0)
    val cuts = (1 to checkpoints)
      .map(k => (maxId + 1) * k / checkpoints - 1)
    // per trigram, its FIRST doc — every checkpoint's vocab then
    // reads off ONE conditional-aggregate pass over the types frame
    // (and the token mass off one pass over grams), not K re-distincts
    val firstSeen = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    def prefixCounts(df: DataFrame, idCol: String) = {
      val aggs = cuts.map(c =>
        sum(when(col(idCol) <= c, 1L).otherwise(0L)))
      df.agg(aggs.head, aggs.tail: _*).head()
    }
    val nRow = prefixCounts(grams, "doc_id")
    val vRow = prefixCounts(firstSeen, "first_doc")
    import spark.implicits._
    val pts = (0 until checkpoints)
      .map(i => ((i + 1).toLong, nRow.getLong(i), vRow.getLong(i)))
      .toDF("checkpoint", "n_grams", "vocab")
      // both axes quantized to the 1e-6 log grid (the q126 log-grid
      // convention) so the OLS below is EXACT integer arithmetic
      .select(col("checkpoint"), col("n_grams"), col("vocab"),
        round(log(col("n_grams").cast("double")) * 1000000, 0)
          .cast("long").as("lxu"),
        round(log(col("vocab").cast("double")) * 1000000, 0)
          .cast("long").as("lyu"))
    val all = Window.partitionBy()
    pts
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("sx", sum(col("lxu")).over(all))
      .withColumn("sy", sum(col("lyu")).over(all))
      .withColumn("sxx", sum(col("lxu") * col("lxu")).over(all))
      .withColumn("sxy", sum(col("lxu") * col("lyu")).over(all))
      .select(col("checkpoint"), col("n_grams"), col("vocab"),
        // β to 4 decimals as an exact integer rational (tick units
        // cancel between the axes); Decimal(38) headroom — n·Σxy·10⁴
        // brushes the int64 ceiling
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * sxy
              - CAST(sx AS DECIMAL(38,0)) * sy) * 10000
            div (CAST(n AS DECIMAL(38,0)) * sxx
              - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""").as("beta_e4"))
      .orderBy(col("checkpoint").asc)
  }

  /** FLEISS' KAPPA across three deterministic raters — q208's Cohen
    * kappa generalized past two raters, the agreement screen a
    * labeling pipeline runs before trusting consensus labels: each
    * document is "rated" keep/drop by three independent gates
    * (quality ≥ 0.66, language-ID = en, token count ≥ 30), and kappa
    * measures their agreement beyond chance. All algebra exact:
    * per-subject agreement Pᵢ = (Σⱼ nᵢⱼ² − r) / (r(r−1)) with r = 3
    * raters, P̄ and P̄ₑ as integer rationals over the corpus,
    * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) in micro via one BigInt-safe
    * cross-multiplication.
    *
    * Scale: one scan computes all three gates per row (shared
    * subexpressions), then a 1-row moment fold. */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val rated = Tables(spark, dir, "documents")
      .select(
        ((Text.qualityScore(col("text")) >= 0.66).cast("long") +
          (Text.langId(col("text")) === "en").cast("long") +
          (Text.tokenCount(col("text")) >= 30).cast("long")).as("keeps"))
    rated
      .agg(count(lit(1)).as("n_subjects"),
        sum(col("keeps")).as("total_keeps"),
        // Σ subjects' (n_keep² + n_drop²): with r = 3, n_drop = 3 − k
        sum((col("keeps") * col("keeps") +
          (lit(3L) - col("keeps")) * (lit(3L) - col("keeps"))).cast(dec))
          .as("sq"))
      .select(col("n_subjects"), col("total_keeps"),
        // P̄ micro: Σ(Σnᵢⱼ² − r) / (N·r·(r−1)) = (sq − 3N)·10⁶ / (6N)
        expr("CAST((sq - 3 * n_subjects) * 1000000 div (6 * n_subjects) AS BIGINT)")
          .as("p_bar_micro"),
        // P̄ₑ micro: p² + q² with p = keeps/(3N) — one exact rational
        expr("""CAST((CAST(total_keeps AS DECIMAL(38,0)) * total_keeps
             + CAST(3 * n_subjects - total_keeps AS DECIMAL(38,0))
               * (3 * n_subjects - total_keeps)) * 1000000
            div (CAST(3 * n_subjects AS DECIMAL(38,0)) * (3 * n_subjects))
            AS BIGINT)""").as("p_e_micro"))
      .select(col("n_subjects"), col("total_keeps"), col("p_bar_micro"),
        col("p_e_micro"),
        expr("""CAST(CASE WHEN p_e_micro = 1000000 THEN 0
            ELSE (p_bar_micro - p_e_micro) * 1000000
              div (1000000 - p_e_micro) END AS BIGINT)""")
          .as("kappa_micro"))
  }

  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wDesc = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables(spark, dir, "documents")
      .select(round(round(classifierLogit, 4) * 10000).cast("long").as("s"),
        (Text.qualityScore(col("text")) >= 0.66).as("pos"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
      .withColumn("tp", sum(col("np")).over(wDesc))
      .withColumn("pp", sum(col("cnt")).over(wDesc))
      .withColumn("p_total", sum(col("np")).over(Window.partitionBy()))
      .withColumn("precision_micro", expr("tp * 1000000 div pp"))
      .withColumn("ap_num",
        sum(col("np").cast(dec) * col("precision_micro")).over(wDesc))
      .select(col("s").as("s_tick"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        (col("p_total") - col("tp")).as("fn"),
        col("precision_micro"),
        expr("tp * 1000000 div greatest(p_total, 1)").as("recall_micro"),
        expr("CAST(ap_num div greatest(p_total, 1) AS BIGINT)")
          .as("ap_micro"))
      .orderBy(col("s_tick").desc)
  }

  /** SIMPSON DIVERSITY of each source's token distribution — the
    * EXACT-integer counterpart to q126's entropy (entropy needs logs
    * and therefore rides a micro-probability grid; Simpson's
    * λ = Σ n(n−1) / N(N−1) is a pure count ratio, so this row is the
    * diversity readout with NO grid approximation at all): the
    * probability two tokens drawn without replacement coincide.
    * Reported as diversity 1−λ (micro) plus the EFFECTIVE VOCABULARY
    * 1/λ-with-replacement — "this source behaves like K equally-common
    * token types", the number mixing plans actually reason with. The
    * collision mass rides Decimal(38) ≙ HUGEINT (Σn² passes int64 at
    * corpus scale).
    *
    * Scale: one (source, token) hash-agg (map-side combined), then a
    * sources-sized fold — the q126 plan with a cheaper readout. */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables(spark, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast(dec) * (col("tf") - 1)).as("coll"),
        sum(col("tf").cast(dec) * col("tf")).as("sq"))
      .select(col("source"), col("vocab"), col("n_tokens"),
        expr("""CAST(1000000 - coll * 1000000
            div greatest(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1), 1)
            AS BIGINT)""").as("diversity_micro"),
        // effective vocabulary: N²/Σn² (with-replacement 1/λ), floored
        expr("""CAST(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens
            div greatest(sq, 1) AS BIGINT)""").as("effective_vocab"))
      .orderBy(col("source").asc)
  }

  /** MURPHY (Brier) DECOMPOSITION — splits the classifier's mean
    * squared probability error into the three terms practitioners act
    * on differently: RELIABILITY (calibration error — fix with
    * recalibration, q212's table is the per-bin view of this term),
    * RESOLUTION (how far bin outcomes spread from the base rate —
    * fix with better features; subtracts from the score), and
    * UNCERTAINTY (the base rate's own variance — the floor no model
    * beats without new information). Brier = REL − RES + UNC up to
    * the floored-mean grid bias, which is emitted as its own column
    * so the identity is auditable instead of asserted. Everything
    * rides the q212 probability tick (10⁻⁴) and bins; squares are in
    * the 10⁻⁸ grid (`_e8` columns), sums on Decimal(38) ≙ HUGEINT.
    *
    * Scale: one corpus scan folds to the 10-bin spine; every term is
    * a bins-sized aggregate. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val p4 = round(lit(1.0) / (lit(1.0) + exp(-round(classifierLogit, 4))), 4)
    val tick = round(p4 * 10000).cast("long")
    val rows = Tables(spark, dir, "documents")
      .select(tick.as("tick"),
        when(Text.qualityScore(col("text")) >= 0.66, 1L).otherwise(0L)
          .as("o"))
      .select(least(expr("tick div 1000"), lit(9L)).as("bin"),
        col("tick"), col("o"),
        ((col("tick") - col("o") * 10000).cast(dec)
          * (col("tick") - col("o") * 10000)).as("d2"))
    val bins = rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("tick")).as("st"),
        sum(col("o")).as("np"), sum(col("d2")).as("sd2"))
      .withColumn("n_total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("p_total", sum(col("np")).over(Window.partitionBy()))
      .select(col("n"), col("sd2"), col("n_total"),
        expr("st div n").as("pbar"),
        expr("np * 10000 div n").as("obar"),
        expr("p_total * 10000 div n_total").as("obase"))
    bins.agg(
        max(col("n_total")).as("n_docs"),
        expr("CAST(sum(sd2) div max(n_total) AS BIGINT)").as("brier_e8"),
        expr("""CAST(sum(n * CAST(pbar - obar AS DECIMAL(38,0))
            * (pbar - obar)) div max(n_total) AS BIGINT)""").as("rel_e8"),
        expr("""CAST(sum(n * CAST(obar - obase AS DECIMAL(38,0))
            * (obar - obase)) div max(n_total) AS BIGINT)""").as("res_e8"),
        expr("CAST(max(obase) * (10000 - max(obase)) AS BIGINT)")
          .as("unc_e8"))
      .withColumn("grid_residual_e8",
        col("brier_e8") - (col("rel_e8") - col("res_e8") + col("unc_e8")))
  }

  /** TEXTRANK keyword ranking — PageRank over the token co-occurrence
    * graph (Mihalcea & Tarau 2004), the graph-centrality face of the
    * keyword family: q66 ranks tokens by tf-idf mass, q85 scores PAIRS
    * by PMI; this one asks which tokens sit at the CENTER of the
    * corpus' co-occurrence structure — a token ranks high when its
    * neighbors rank high, recursively, which surfaces connective
    * vocabulary tf-idf misses. Nodes are tokens (≥ 2 chars, the four
    * corpus stopwords dropped), edges join ADJACENT survivors inside
    * each document weighted by corpus-wide co-occurrence count, and
    * the ranking is [[Graph.pageRankOnEdges]] verbatim — the same five
    * unrolled power iterations on the integer pico grid the
    * co-purchase graph uses (one declared iteration algebra, two
    * pillars consuming it).
    *
    * Scale: tokenize + zip-adjacent is one corpus scan (the pair
    * explode is ≤ tokens-per-doc linear); the edge list folds to the
    * vocab²-bounded co-occurrence support, and the PR iterations ship
    * only the vocab-sized rank frame against the once-partitioned
    * edge list (q230's posture — string keys instead of int64, same
    * data movement). */
  def textRank(spark: SparkSession, dir: String, iters: Int = 5,
      k: Int = 25): DataFrame =
    textRankOf(Tables(spark, dir, "documents"), iters, k)

  /** [[textRank]] over any frame with a `text` column — the
    * fixture-parametric core. */
  def textRankOf(docs: DataFrame, iters: Int = 5, k: Int = 25): DataFrame =
    Graph.pageRankOnEdges(cooccurrenceEdges(docs), iters, k)
      .select(col("rank"), col("part").as("token"), col("score_pico"))

  /** The undirected token co-occurrence support: adjacent surviving
    * tokens (≥ 2 chars, stopwords dropped) inside each document,
    * canonical (pa < pb) order, corpus-wide counts. */
  private[graft] def cooccurrenceEdges(docs: DataFrame): DataFrame = {
    docs
      .select(expr("""filter(split(text, ' '), t ->
          length(t) >= 2 AND NOT t IN ('the', 'a', 'and', 'of'))""")
        .as("ts"))
      .select(explode(expr(
        // zip each surviving token with its successor; the trailing
        // null-padded struct and self-pairs fall out in the filter
        """filter(zip_with(ts, slice(ts, 2, size(ts)), (a, b) ->
             named_struct('pa', least(a, b), 'pb', greatest(a, b))),
           p -> p.pb IS NOT NULL AND p.pa <> p.pb)""")).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("w"))
  }
}
