package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Right-to-be-forgotten propagation through the persisted indexes:
  * tombstone → probes blind immediately → compaction erases
  * physically and clears the tombstones. */
class ForgetSpec extends SparkSpec {

  test("band index: a forgotten doc vanishes from probes at once and from disk at compaction") {
    val indexDir = Files.createTempDirectory("graft_forget_band").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    Dedup.appendToStoredIndex(docs, indexDir)
    // the containment leg shares the store and the erasure contract
    Dedup.appendToPostingsStore(docs, indexDir)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def probePairs(): Set[(Long, Long)] =
      Dedup.pairsAgainstStoredIndex(spark, indexDir, batch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probePairs()
    assert(before.nonEmpty)
    // forget one member of some pair: every pair touching it must go
    val victim = before.head._1
    graft.operators.Atomic.forget(spark, indexDir, Seq(victim))
    val after = probePairs()
    assert(after == before.filterNot(p => p._1 == victim || p._2 == victim))
    // compaction: physical erasure + tombstone clear, probes unchanged.
    // Erasure must reach ALL FIVE tables — the victim's content-derived
    // shingle hashes live in postings/rare and its counts in census_inc
    Dedup.compactStoredIndex(spark, indexDir)
    Seq("hashed", "bands", "postings", "rare").foreach { t =>
      assert(!spark.read
        .parquet(graft.operators.Atomic.resolve(spark, indexDir, t))
        .select("doc_id").collect().map(_.getLong(0)).contains(victim),
        s"victim still on disk in $t")
    }
    // the rebuilt census carries no trace of the victim's counts: its
    // delta total equals the compacted postings row count exactly
    val postRows = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "postings")).count()
    val censusTotal = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "census_inc"))
      .agg(sum(col("delta"))).collect().head.getLong(0)
    assert(censusTotal == postRows)
    assert(!new java.io.File(s"$indexDir/forgotten").exists())
    // erasure compaction PURGES the superseded versions (grace
    // retention would keep the victim's bytes readable on disk):
    // exactly one physical generation of each table remains
    val children = new java.io.File(indexDir).list().toSeq
    Seq("hashed", "bands", "postings", "census_inc", "rare").foreach { t =>
      val gens = children.filter(n => n == t || n.startsWith(s"${t}_v"))
      assert(gens.size == 1, s"superseded $t generation survived erasure: $gens")
    }
    assert(probePairs() == after)
    // the containment probe still answers over the compacted store
    assert(Dedup.containmentAgainstStoredIndex(spark, indexDir, batch,
      thresholdMicro = 500000L).count() >= 0)
  }

  test("ivf index: a forgotten vector leaves top-k, occupancy, and — after compaction — disk") {
    val indexDir = Files.createTempDirectory("graft_forget_ivf").toString
    val emb = Tables(spark, sf, "embeddings")
    Similarity.buildStoredIvf(emb, indexDir)
    val queries = emb.filter(col("vec_id") < 10)
    def topk(): Set[(Long, Long)] =
      Similarity.ivfTopKAgainstStoredIndex(spark, indexDir, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = topk()
    // forget a returned candidate (not a query/centroid): it must drop
    // out and the freed rank refills from the remaining candidates
    val victim = before.collect { case (_, c) if c >= 16 => c }.head
    graft.operators.Atomic.forget(spark, indexDir, Seq(victim))
    val after = topk()
    assert(!after.exists(_._2 == victim))
    assert(after.map(_._1) == before.map(_._1), "every query still answers")
    val total = emb.count()
    assert(Similarity.ivfCellStats(spark, indexDir).collect()
      .map(_.getLong(1)).sum == total - 1)
    Similarity.compactStoredIvf(spark, indexDir)
    assert(!spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "cells"))
      .select("vec_id").collect().map(_.getLong(0)).contains(victim))
    assert(!new java.io.File(s"$indexDir/forgotten").exists())
    assert(topk() == after)
  }

  test("code index: found+append probes like in-process; forget blinds at once, compaction erases") {
    val indexDir = Files.createTempDirectory("graft_forget_codes").toString
    val emb = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    Similarity.foundCodeIndex(emb.filter(col("vec_id") % 2 === 0), indexDir)
    Similarity.appendToCodeIndex(emb.filter(col("vec_id") % 2 =!= 0), indexDir)
    val queries = emb.filter(col("vec_id") < 10)
    def topk(): Set[(Long, Long, Double, Int)] =
      Similarity.hammingTopKAgainstStoredCodes(spark, indexDir, queries, emb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val before = topk()
    val want = Similarity.hammingTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    graft.operators.PlanCache.release()
    assert(before == want, "stored-codes probe must replay the in-process path")
    // tombstone one hit: probes blind immediately, survivors re-rank
    val victim = before.filter(_._2 >= 10).head._2
    graft.operators.Atomic.forget(spark, indexDir, Seq(victim))
    val after = topk()
    assert(!after.exists(_._2 == victim))
    assert(after.map(_._1) == before.map(_._1), "every query still answers")
    // compaction: the row leaves disk, tombstones clear, probe unchanged
    val rawBefore = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "codes")).count()
    Similarity.compactCodeIndex(spark, indexDir)
    assert(spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "codes"))
      .count() == rawBefore - 1)
    assert(!spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "codes"))
      .collect().map(_.getLong(0)).contains(victim))
    assert(!new java.io.File(s"$indexDir/forgotten").exists())
    assert(topk() == after)
  }
}
