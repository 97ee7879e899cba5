package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.Text
import graft.operators.Dedup

/** Online near-duplicate detection — the STREAMING face of
  * [[graft.operators.Dedup.incrementalPairs]]: documents arrive on a
  * stream and each is checked against everything seen so far, with the
  * LSH band state maintained by Structured Streaming instead of a
  * persisted batch index.
  *
  * Shape: per-document MinHash signature (identical expressions to the
  * batch path, so buckets line up with a batch-built index) → explode
  * to (band, bucket) rows → `flatMapGroupsWithState` keyed by the
  * bucket. Each group's state holds the element-hash sets of its
  * members; a new arrival merge-walks against them (the same
  * sorted-intersect the batch verify uses) and emits verified pairs.
  *
  * Scale: state is per (band, bucket) — the same key the batch join
  * shuffles on, uniformly distributed by construction — and holds only
  * that bucket's doc hash-sets, so state partitions like the data and
  * no task holds the corpus. A pair can surface from several buckets;
  * emission is at-least-once per pair and [[currentPairs]] dedupes at
  * the read face (exactly how the batch path dropDuplicates after its
  * candidate join).
  *
  * State aging: with a dedup `horizon` the documents carry an event
  * time, the query carries a watermark, and bucket state ages out two
  * ways — (a) members whose event time has fallen more than the
  * horizon behind the watermark are pruned on the bucket's next
  * invocation (they can never pair with a future in-watermark doc),
  * and (b) a bucket IDLE past the horizon is evicted whole by an
  * event-time timeout, so state size is bounded by the horizon's data
  * volume, not the stream's lifetime. Without a horizon the contract
  * is unbounded-history dedup, matching the batch oracle.
  */
object StreamingDedup {

  /** One (band, bucket) observation of a document. `ts` is the
    * document's event time (null in unbounded mode, where it is never
    * consulted). Kept as a real timestamp — not pre-converted millis —
    * so the watermark metadata on the column survives into the
    * stateful operator's input (EventTimeTimeout requires it). */
  final case class BandedDoc(band: Int, bucket: String, docId: Long, hs: Seq[Long],
      ts: java.sql.Timestamp = null)

  /** Bucket state: members' doc ids + sorted-distinct element hashes. */
  final case class BucketMembers(docs: Seq[BandedDoc])

  final case class DupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  /** Sorted-long merge-walk intersection cardinality — the Scala twin
    * of [[graft.functions.SetCard.sortedIntersectCard]] for use inside
    * the state function. */
  private[graft] def intersectCard(a: Seq[Long], b: Seq[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  private[graft] def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val inter = intersectCard(a, b).toDouble
    val j = inter / (a.length + b.length - inter)
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** The per-bucket state transition: verify each arrival against the
    * members already in the bucket (and earlier arrivals of the same
    * batch), emit pairs ≥ threshold, append to state. The size-ratio
    * prefilter mirrors the batch join's `sizeRatioOk`.
    *
    * With `horizonMs` set (event-time-timeout mode): a timed-out bucket
    * is dropped whole; live buckets prune members older than
    * watermark − horizon before pairing, and re-arm their timeout at
    * newest-member-time + horizon. */
  private def dedupeBucket(threshold: Double, horizonMs: Option[Long])(
      docs: Iterator[BandedDoc],
      state: GroupState[BucketMembers]): Iterator[DupPair] = {
    if (horizonMs.isDefined && state.hasTimedOut) {
      // idle past the horizon: every member is older than any document
      // the watermark still admits, so the whole bucket is dead weight
      state.remove()
      return Iterator.empty
    }
    var members = state.getOption.map(_.docs).getOrElse(Seq.empty)
    horizonMs.foreach { h =>
      val wm = state.getCurrentWatermarkMs()
      if (wm > 0) members = members.filter(_.ts.getTime >= wm - h)
    }
    val out = Seq.newBuilder[DupPair]
    docs.foreach { d =>
      if (!members.exists(_.docId == d.docId)) { // replayed batch: idempotent
        members.foreach { m =>
          val (small, big) = if (d.hs.length < m.hs.length) (d.hs, m.hs) else (m.hs, d.hs)
          // rounded-down threshold: jaccard() below rounds HALF_UP to 4
          // decimals before the >= compare, so raw J slightly under the
          // threshold can still pass — the prefilter must not drop it
          if (small.length >= (threshold - Dedup.RoundSlack) * big.length) {
            val j = jaccard(d.hs, m.hs)
            if (j >= threshold)
              out += DupPair(math.min(d.docId, m.docId), math.max(d.docId, m.docId), j)
          }
        }
        members = members :+ d
      }
    }
    if (members.isEmpty) state.remove()
    else {
      state.update(BucketMembers(members))
      horizonMs.foreach { h =>
        // newest member + horizon, clamped above the watermark (Spark
        // rejects a timeout at-or-before it; pruning guarantees
        // maxTs ≥ wm − h so the clamp only fires on the boundary)
        val maxTs = members.map(_.ts.getTime).max
        state.setTimeoutTimestamp(math.max(maxTs + h, state.getCurrentWatermarkMs() + 1))
      }
    }
    out.result().iterator
  }

  /** Banded per-document rows from a (doc_id, text) frame — batch or
    * streaming — with the exact banding expressions of the batch path.
    * A `ts` column (event time), if present, rides along for the
    * horizon mode. */
  def bandedDocs(docs: DataFrame, k: Int = 3): DataFrame = {
    val hasTs = docs.columns.contains("ts")
    val base = col("doc_id") +: (if (hasTs) Seq(col("ts")) else Nil)
    val hashed = docs.select(base :+
      Dedup.elementHashes(array_distinct(Text.shingles(col("text"), k))).as("hs"): _*)
    val sigs = hashed.select(base ++ Seq(col("hs"),
      Dedup.minhashFromHashes(col("hs")).as("mh")): _*)
    Dedup.explodeBands(sigs, carry = if (hasTs) Seq("hs", "ts") else Seq("hs"))
  }

  /** Wire the stateful dedup over banded rows; exposed for batch-mode
    * unit tests of the state function via the same code path. With
    * `horizonMs` the group state carries an event-time timeout (the
    * input must have a `ts` column and the stream a watermark on it). */
  def pairStream(banded: DataFrame, threshold: Double,
      horizonMs: Option[Long] = None): Dataset[DupPair] = {
    val spark = banded.sparkSession
    import spark.implicits._
    // select (not map-to-object): groupByKey over .as[] appends the key
    // columns to the ORIGINAL attributes, so the watermark metadata on
    // `ts` reaches the stateful operator — a .map would re-serialize
    // through the encoder and strip it, failing the EventTimeTimeout
    // analysis check
    val tsCol = if (banded.columns.contains("ts")) col("ts")
                else lit(null).cast("timestamp")
    val timeout = if (horizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
                  else GroupStateTimeout.NoTimeout
    banded
      .select(col("band"), col("bucket"), col("doc_id").as("docId"), col("hs"),
        tsCol.as("ts"))
      .as[BandedDoc]
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (_, docs, state) => dedupeBucket(threshold, horizonMs)(docs, state))
  }

  /** Start online dedup over a JSONL document stream (`doc_id`, `text`,
    * and `ts` when a horizon is set) into a [[Sink.parquetLog]] of
    * pairs at `outDir`. Read results through [[currentPairs]].
    *
    * `horizonMs` bounds dedup history: only documents whose event times
    * fall within the horizon pair up, and bucket state ages out with
    * the watermark (delayed by `lateness`) instead of growing with the
    * stream's lifetime. */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      checkpoint: String, threshold: Double = 0.8,
      availableNow: Boolean = true, horizonMs: Option[Long] = None,
      lateness: String = "0 seconds"): StreamingQuery = {
    val schema = if (horizonMs.isDefined) "doc_id LONG, text STRING, ts TIMESTAMP"
                 else "doc_id LONG, text STRING"
    val raw = spark.readStream.schema(schema).json(sourceDir)
    val stream = if (horizonMs.isDefined) raw.withWatermark("ts", lateness) else raw
    Sink.parquetLog(pairStream(bandedDocs(stream), threshold, horizonMs),
      outDir, checkpoint, availableNow)
  }

  /** Read face over the pair log: emissions are at-least-once per PAIR
    * (one per agreeing band); the distinct is the read-side analogue of
    * the batch path's post-candidate dropDuplicates. */
  def currentPairs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema("doc_a LONG, doc_b LONG, jaccard DOUBLE").parquet(outDir)
      .dropDuplicates("doc_a", "doc_b")
}
