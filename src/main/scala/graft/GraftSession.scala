package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: one place for the engine's Spark tuning so
  * Verify, Bench, and tests run identical configs.
  *
  * Scale posture (SURVEY §7.5 #5): AQE on (runtime coalesce + skew-join),
  * shuffle partitions sized to local cores here but meant to be set to
  * cluster width in production, session TZ pinned UTC (the reference does
  * all window math in explicit JST offsets from UTC,
  * reference pkg/utils/time_utils.go:100-156).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // custom Catalyst expressions register through the extensions
      // hook, so they resolve like built-ins (codegen'd, no UDF); the
      // optimizer rule fuses size(array_distinct(_)) into the native
      // cardinality kernel wherever operators write the composable form
      .withExtensions { ext =>
        ext.injectFunction(graft.functions.SetCard.injection)
        ext.injectFunction(graft.functions.HllCard.injection)
        ext.injectFunction(graft.functions.RegsMax.injection)
        ext.injectFunction(graft.functions.DHash.injection)
        graft.functions.PqCodec.injections.foreach(ext.injectFunction)
        ext.injectOptimizerRule(graft.functions.DistinctCard.injection)
        // whole-operator fusion: row_number-≤-k window+filter → the
        // bounded-heap TopKPerGroupExec (rule rewrites, strategy plans)
        ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
        ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // join posture (round-14 measurement): Spark's DEFAULT
      // preferSortMergeJoin=true, deliberately not overridden — the
      // global preferSortMergeJoin=false experiment was 12% WORSE on the
      // dedup family (it forfeits broadcasts of tiny closure frames).
      // Joins whose build side provably never broadcasts (triangle
      // adjacency arrays, the BFS frontier loops) carry explicit
      // per-join shuffle_hash hints at the call site instead.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are parquet timestamp[us] with
      // isAdjustedToUTC=false (pyarrow default); without this they'd
      // infer as TIMESTAMP_NTZ and break every TimestampType operator
      // (unix_micros & co.). Session TZ is UTC, so reading them as
      // TimestampType preserves the wall-clock values exactly.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // a bucketed upsert target holds up to NumBuckets partition dirs;
      // listing that many on the driver takes milliseconds, while the
      // parallel listing job Spark launches above its default cutoff
      // (32 paths) costs every merge and every full-target read a job
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        graft.operators.Upsert.NumBuckets.toString)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every Iterate.release unpersists a locally checkpointed generation
    // on purpose, and RDD.unpersist warns about each one on this logger
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    // AQE stays on for batch queries, and every stream start warns here
    // that streaming disables it
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
