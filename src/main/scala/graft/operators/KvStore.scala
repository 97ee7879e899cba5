package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.Tables

/** Redis-style KV pillar — the fourth engine of the reference
  * (reference pkg/syncer/redis/redis.go), re-expressed as a keyed
  * DataFrame state machine.
  *
  * Canonical KV record (SURVEY §1.1 #4): one row per live key —
  * `(key: String, kind: "string"|"hash", value: String,
  *   f_k/f_uid: hash fields, ttlMs: Long)`. TTL encoding follows the
  * reference probe (redis.go:125-133): `-1` = persistent, `-2` =
  * expired/non-existent, `>= 0` = concrete expiry in milliseconds.
  *
  * Operation semantics (redis.go:166-232 `handleKeyspaceChange` +
  * redis.go:125-164 `copyFullKey`):
  *  - `del`  → key removed from the target.
  *  - `set`  → typed upsert: string keys via SET (value), hash keys via
  *             HSET (fields); written with no expiry (`Set(ctx,key,val,0)`),
  *             so ttlMs becomes -1.
  *  - `copy` → DUMP+RESTORE REPLACE preserving the source TTL; if the
  *             source key is expired (`ttl < 0 && ttl != -1`) the copy is
  *             **skipped, not deleted** — a no-op that leaves the target's
  *             previous state intact (redis.go:130-133).
  *
  * Scale design: state lives in a parquet table hash-bucketed on `key`
  * and is merged by [[Upsert.mergeBucketed]]'s partition-scoped
  * read-modify-write; a change batch is reduced map-side to one
  * effective op per key (window over the batch, not the table) and only
  * the touched buckets are rewritten. No driver-side iteration: the
  * reference's per-key SCAN/RESTORE loop becomes one distributed keyed
  * full-outer join per micro-batch. Unlike the CDC target, which is
  * merge-on-read (each batch appends a blind delta), the KV merge must
  * read state: an HSET merges fields into the current row and inherits
  * its TTL, so a delta could not be written without the row it merges
  * into. A KV target therefore never holds deltas, and
  * [[Upsert.readTarget]] reads it as its base.
  */
object KvStore {

  /** P9 — the reference's expiry skip rule `ttl < 0 && ttl != -1`
    * (redis.go:130-133): keep persistent (-1) and concrete (>=0) TTLs. */
  def ttlAlive(ttlMs: Column): Column = ttlMs === -1L || ttlMs >= 0L

  /** copyFullKey's RESTORE expiry argument: persistent maps to 0
    * ("no expiry"), concrete TTLs pass through (redis.go:142-150). */
  def restoreExpireMs(ttlMs: Column): Column =
    when(ttlMs === -1L, 0L).otherwise(greatest(ttlMs, lit(0L)))

  // --- deterministic KV view of the `events` table -------------------
  // Same derivation trick as ChangeEvents.fromEvents: the synthetic
  // events table plays the role of the source Redis instance so the
  // final KV state is SQL-expressible for the DuckDB oracle.
  //  key   = 'user:' || user_id
  //  kind  = user_id % 3 == 0 ? 'hash' : 'string'   (TYPE probe result)
  //  op    = error → del, signup|purchase → set, view|click → copy
  //  ttl   = copy ops carry a source TTL derived from props.k:
  //          k%5==0 → -2 (expired), k%5==1 → (k+1)*1000, else -1

  /** S9-shaped keyspace-notification log: one `(op, key, …)` record per
    * event, ordered by (ts, offset) like the pubsub channel delivers. */
  def keyspaceOps(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    Tables(spark, dir, "events").select(
      when(col("event_type") === "error", "del")
        .when(col("event_type").isin("signup", "purchase"), "set")
        .otherwise("copy").as("op"),
      concat(lit("user:"), col("user_id")).as("key"),
      when(col("user_id") % 3 === 0, "hash").otherwise("string").as("kind"),
      when(col("user_id") % 3 === 0, lit(null).cast(StringType))
        .otherwise(k.cast(StringType)).as("value"),
      when(col("user_id") % 3 === 0, k.cast(StringType)).as("f_k"),
      when(col("user_id") % 3 === 0, col("user_id").cast(StringType)).as("f_uid"),
      when(col("event_type").isin("view", "click"),
        when(k % 5 === 0, -2L).when(k % 5 === 1, (k + 1) * 1000L).otherwise(-1L))
        .otherwise(lit(-1L)).as("ttlMs"),
      col("ts"),
      col("event_id").as("offset"))
  }

  /** W6: apply a keyspace-op batch to a KV state, op-faithful to
    * handleKeyspaceChange (redis.go:166-232):
    *  - `del` removes the key; `copy` (DUMP/RESTORE REPLACE) replaces
    *    the whole value and carries the source TTL; a string `set`
    *    replaces the value with no expiry (ttl → -1).
    *  - a hash `set` is an HSET (redis.go:216-222): it MERGES fields
    *    into the existing hash and leaves the key's TTL untouched —
    *    it does not replace the row.
    *
    * Distributed shape: the batch collapses per key into its final
    * "segment" — the last authoritative op (del / copy / string-set)
    * plus every hash-set after it — with one window + one aggregate,
    * both over the micro-batch only. The segment then resolves against
    * the state with a single keyed full-outer join: base `copy` keeps
    * its TTL under later HSETs, a hash-set-only segment inherits the
    * state row's TTL and merges fields per-field (coalesce), and a
    * fresh hash materializes persistent. Never a window over the
    * accumulated state.
    *
    * Same tombstone + staleness contract as [[Upsert.applyBatch]]: a
    * `del` rewrites the key as `(key, null payload, ttlMs=-2,
    * deleted=true)` carrying the delete's (ts, offset) recency, and a
    * whole batch segment whose max (ts, offset) is OLDER than the
    * state row is discarded — an out-of-order DLQ retry can neither
    * resurrect a deleted key nor regress a newer value. A tombstoned
    * state row counts as ABSENT for HSET merging (HSET on a deleted
    * key builds a fresh persistent hash, like Redis). Tombstones are
    * reclaimed by [[Upsert.sweepTombstones]] (same bucketed layout)
    * once the pipeline's retry queue is drained. */
  def applyKvBatch(state: DataFrame, batch: DataFrame): DataFrame = {
    val alive = batch.filter(!(col("op") === "copy" && !ttlAlive(col("ttlMs"))))
    val wAsc = Window.partitionBy(col("key")).orderBy(col("ts").asc, col("offset").asc)
    val marked = alive
      .withColumn("ord", row_number().over(wAsc))
      .withColumn("auth", // ops that REPLACE the key (vs HSET, which merges)
        col("op").isin("del", "copy") || (col("op") === "set" && col("kind") =!= "hash"))
      .withColumn("auth_rank", sum(when(col("auth"), 1).otherwise(0)).over(wAsc))
    val seg = marked
      .withColumn("max_rank", max(col("auth_rank")).over(Window.partitionBy(col("key"))))
      .filter(col("auth_rank") === col("max_rank"))
    // max_by ignores rows whose ordering expression is null: each
    // when(...) below selects "the last row satisfying <cond>". Payload
    // aggregates EXCLUDE `del` rows: a delete removes the value — any
    // payload riding on the del record must not leak into a hash
    // rebuilt by later HSETs (a del base starts from nothing).
    val notDel = col("op") =!= "del"
    val agg = seg.groupBy("key").agg(
      max_by(col("op"), col("ord")).as("last_op"),
      max_by(col("kind"), col("ord")).as("b_kind"),
      max_by(col("op"), when(col("auth"), col("ord"))).as("base_op"),
      max_by(col("ttlMs"), when(col("auth"), col("ord"))).as("ttl_base"),
      max_by(col("value"), when(col("value").isNotNull && notDel, col("ord"))).as("value_new"),
      max_by(col("f_k"), when(col("f_k").isNotNull && notDel, col("ord"))).as("f_k_new"),
      max_by(col("f_uid"), when(col("f_uid").isNotNull && notDel, col("ord"))).as("f_uid_new"),
      max(col("ts")).as("ts_new"),
      max_by(col("offset"), struct(col("ts"), col("offset"))).as("off_new"))
    // states written before the recency/tombstone columns read as null/false
    val sOff = if (state.columns.contains("updated_off")) col("updated_off")
               else lit(null).cast("long")
    val sDel = if (state.columns.contains("deleted"))
                 coalesce(col("deleted"), lit(false))
               else lit(false)
    val s = state.withColumnRenamed("kind", "s_kind")
      .withColumnRenamed("value", "s_value").withColumnRenamed("f_k", "s_f_k")
      .withColumnRenamed("f_uid", "s_f_uid").withColumnRenamed("ttlMs", "s_ttl")
      .withColumnRenamed("updated_at", "s_updated_at")
      .withColumn("s_off", sOff).withColumn("s_deleted", sDel)
      .drop("updated_off", "deleted")
    val stale = col("s_updated_at").isNotNull &&
      (col("s_updated_at") > col("ts_new") ||
        (col("s_updated_at") === col("ts_new") &&
          coalesce(col("s_off"), lit(Long.MinValue)) > col("off_new")))
    val keepState = col("last_op").isNull || stale
    val isDel = col("last_op") === "del"
    val mergeOnly = col("base_op").isNull // hash-set-only segment: merge into state
    // a tombstoned state row is ABSENT for merge purposes: its stored
    // payload is already null, but its TTL must not leak into a rebuilt
    // hash (fresh hash → persistent)
    val sLiveTtl = when(!col("s_deleted"), col("s_ttl"))
    s.join(agg, Seq("key"), "full_outer")
      .select(
        col("key"),
        when(keepState, col("s_kind"))
          .otherwise(coalesce(col("b_kind"), col("s_kind"))).as("kind"),
        when(keepState, col("s_value"))
          .when(isDel, lit(null).cast(StringType))
          .when(mergeOnly, coalesce(col("value_new"), col("s_value")))
          .otherwise(col("value_new")).as("value"),
        when(keepState, col("s_f_k"))
          .when(isDel, lit(null).cast(StringType))
          .when(mergeOnly, coalesce(col("f_k_new"), col("s_f_k")))
          .otherwise(col("f_k_new")).as("f_k"),
        when(keepState, col("s_f_uid"))
          .when(isDel, lit(null).cast(StringType))
          .when(mergeOnly, coalesce(col("f_uid_new"), col("s_f_uid")))
          .otherwise(col("f_uid_new")).as("f_uid"),
        when(keepState, col("s_ttl"))
          .when(isDel, lit(-2L))                                  // tombstone: gone
          .when(col("base_op") === "copy", col("ttl_base"))       // RESTORE carries source TTL
          .when(mergeOnly, coalesce(sLiveTtl, lit(-1L)))          // HSET leaves TTL untouched
          .otherwise(lit(-1L)).as("ttlMs"),                       // SET/fresh hash: persistent
        when(keepState, col("s_updated_at")).otherwise(col("ts_new")).as("updated_at"),
        when(keepState, col("s_off")).otherwise(col("off_new")).as("updated_off"),
        when(keepState, col("s_deleted")).otherwise(isDel).as("deleted"))
  }

  // --- bucketed parquet state (the "target Redis") --------------------

  /** Partition-scoped KV MERGE — the streaming sink's per-batch apply.
    * [[Upsert.mergeBucketed]] with [[applyKvBatch]] as the keyed apply:
    * the CDC target's bucket layout, four jobs per micro-batch, and the
    * only collect is the touched-bucket list, bounded by
    * [[Upsert.NumBuckets]]. */
  def mergeKvIntoParquet(spark: SparkSession, targetDir: String, batch: DataFrame): Unit =
    Upsert.mergeBucketed(spark, targetDir, batch, "key",
      b => b.select(col("key"), col("kind"), col("value"), col("f_k"), col("f_uid"),
        col("ttlMs"), col("ts").as("updated_at"),
        col("offset").as("updated_off"), lit(false).as("deleted")).limit(0))(applyKvBatch)

  // --- q37/q38/q39: oracle-checked KV queries -------------------------

  /** q37 — S8 initial full sync + P9 TTL skip: SCAN sees the source's
    * *current* keys — the last raw op per key, no no-op filtering (a key
    * whose latest state is expired is skipped by the TTL probe, even
    * though the notification replay in [[finalState]] would have kept
    * its older value) — then emits the DUMP/RESTORE view with the
    * reference's expireMs mapping (redis.go:89-164). */
  def snapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ts").desc, col("offset").desc)
    val cur = keyspaceOps(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("op") =!= "del")
    cur.filter(ttlAlive(col("ttlMs")))
      .select(col("key"), col("kind"), col("value"), col("f_k"), col("f_uid"),
        restoreExpireMs(col("ttlMs")).as("expire_ms"))
  }

  /** q38 — S9/W6 final KV state after replaying the whole keyspace-
    * notification log in (ts, offset) order. The live view: tombstone
    * guard rows (kept for stale-retry protection) are filtered out. */
  def finalState(spark: SparkSession, dir: String): DataFrame = {
    val empty = keyspaceOps(spark, dir).select(
      col("key"), col("kind"), col("value"), col("f_k"), col("f_uid"),
      col("ttlMs"), col("ts").as("updated_at")).limit(0)
    Upsert.liveRows(applyKvBatch(empty, keyspaceOps(spark, dir)))
      .select("key", "kind", "value", "f_k", "f_uid", "ttlMs", "updated_at")
      .withColumnRenamed("ttlMs", "ttl_ms")
  }

  /** q39 — S10 stream-consumer materialization: every stream message
    * becomes hash key `msg:{id}` with the message fields HSET into it
    * (redis.go:281-317 processStreamMessage). Purchases play the part
    * of XMessages; ids are unique so state = all messages. */
  def streamMessages(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").filter(col("event_type") === "purchase")
      .select(
        concat(lit("msg:"), col("event_id")).as("hash_key"),
        col("user_id").cast(StringType).as("f_user"),
        get_json_object(col("props"), "$.k").as("f_amount"))
}
