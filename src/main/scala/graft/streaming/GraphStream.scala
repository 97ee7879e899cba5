package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Atomic, Graph}

/** Streaming ingest for the persisted co-purchase graph — the online
  * face of [[Graph.appendToGraphStore]]: an order-lines stream keeps
  * the graph fresh, each micro-batch's baskets pair-expanded and
  * landed as edge deltas.
  *
  * Unlike the stateless IVF assignment, the pair expansion AGGREGATES
  * within the batch (collect the basket, expand i<j pairs), which the
  * append-mode file sink cannot express — so this face is a
  * [[Sink.foreachBatch]] writer with idempotence built from DYNAMIC
  * PARTITION OVERWRITE: each batch writes its deltas under
  * `edges/ingest_batch=stream-<id>/` with overwrite mode, so a
  * replayed batch (crash between sink write and checkpoint commit)
  * REPLACES its own partition instead of double-counting deltas. The
  * layout is the graph store's shared convention ([[Graph]]'s
  * writeDeltas), with prefix-disjoint keys per ingest face — stream,
  * batch append, and reconcile deltas coexist in one store.
  *
  * Basket-atomicity is the stream's contract too: an order's lines
  * must arrive in one micro-batch (deliver whole-order files; pairs
  * form within a batch only). */
object GraphStream {

  /** Order-line shape: basket key + item key. */
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType)))

  def start(spark: SparkSession, sourceDir: String, storeDir: String,
      checkpoint: String, availableNow: Boolean = true): StreamingQuery =
    Sink.foreachBatch(spark.readStream.schema(schema).json(sourceDir),
        checkpoint, availableNow) { (batch, batchId) =>
      // resolve the LIVE edge dir per batch (not once at start):
      // after a compaction publishes edges_v<N>, the legacy `edges`
      // path is a dead directory the next publish deletes — deltas
      // written there would be checkpoint-committed yet invisible
      // and then physically lost (the round-10 advice finding)
      val spark = batch.sparkSession
      Graph.writeDeltas(Graph.pairDeltas(batch),
        Atomic.resolve(spark, storeDir, "edges"), s"stream-$batchId")
      // ledger AFTER deltas (the reconcile crash-order contract): a
      // replayed batch re-lands its own delta partition idempotently
      // and at worst duplicates ledger rows, which the reconcile
      // anti-join reads as mere presence
      Graph.appendLedger(
        batch.select(col("l_orderkey").as("basket")).distinct(), storeDir)
    }
}
