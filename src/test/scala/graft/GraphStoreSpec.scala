package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Atomic, Graph}

/** The persisted co-purchase graph store: additive edge-delta appends,
  * read-face parity with the in-process build, and the forget
  * lifecycle the band/IVF/code stores share. */
class GraphStoreSpec extends SparkSpec {

  private def edgeMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("found + basket-atomic appends reproduce the full-corpus edges; stored pagerank replays in-process") {
    val storeDir = Files.createTempDirectory("graft_graph").toString
    val li = Tables(spark, sf, "lineitem")
    // found on even orders, append odd orders in two batches — each
    // increment holds COMPLETE baskets (the append contract)
    val seedDir = Files.createTempDirectory("graft_graph_seed").toString
    li.filter(col("l_orderkey") % 2 === 0).write.parquet(s"$seedDir/lineitem.parquet")
    Graph.foundGraphStore(spark, seedDir, storeDir)
    Graph.appendToGraphStore(li.filter(col("l_orderkey") % 4 === 1), storeDir)
    Graph.appendToGraphStore(li.filter(col("l_orderkey") % 4 === 3), storeDir)
    val stored = edgeMap(Graph.storedEdges(spark, storeDir))
    val full = edgeMap(Graph.coPurchaseEdges(spark, sf))
    assert(stored == full, "delta sum must equal the one-shot pair expansion")
    // read-face parity: stored pagerank is bit-equal to in-process
    val fromStore = Graph.pageRankFromStore(spark, storeDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val inProcess = Graph.pageRank(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    graft.operators.PlanCache.release()
    assert(fromStore == inProcess)
    // connected components read face ≡ in-process (the q246 operator)
    val ccStore = Graph.connectedComponentsFromStore(spark, storeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.PlanCache.release()
    val ccLocal = Graph.connectedComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.PlanCache.release()
    assert(ccStore == ccLocal)
    // ANF sketch read face ≡ in-process (the q252 operator): identical
    // edges → identical registers → bit-equal integer estimates
    val anfStore = Graph.neighborhoodSketchFromStore(spark, storeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    graft.operators.PlanCache.release()
    val anfLocal = Graph.neighborhoodSketch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    graft.operators.PlanCache.release()
    assert(anfStore == anfLocal)
    // modularity + quotient read faces ≡ in-process (q267/q272):
    val modStore = Graph.communityModularityFromStore(spark, storeDir)
      .collect().map(_.toSeq).toSeq
    graft.operators.PlanCache.release()
    val modLocal = Graph.communityModularity(spark, sf)
      .collect().map(_.toSeq).toSeq
    graft.operators.PlanCache.release()
    assert(modStore == modLocal)
    val qtStore = Graph.communityQuotientFromStore(spark, storeDir)
      .collect().map(_.toSeq).toSeq
    graft.operators.PlanCache.release()
    val qtLocal = Graph.communityQuotient(spark, sf)
      .collect().map(_.toSeq).toSeq
    graft.operators.PlanCache.release()
    assert(qtStore == qtLocal)
    // link-prediction read face ≡ in-process (the q261 operator):
    // identical edges → identical split/candidates/ranks → bit-equal
    val lpStore = Graph.linkPredictionFromStore(spark, storeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    graft.operators.PlanCache.release()
    val lpLocal = Graph.linkPredictionEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    graft.operators.PlanCache.release()
    assert(lpStore == lpLocal)
    // every ingest face maintained the baskets ledger, so a reconcile
    // against the full corpus is a NO-OP — the round-10 advice found a
    // ledger-less founding made the first reconcile double-count every
    // founding edge
    assert(Graph.reconcileGraphStore(spark, sf, storeDir) == 0L)
  }

  test("reconcile: founding run expands everything, an unchanged corpus is a no-op, an increment is O(increment)") {
    val storeDir = Files.createTempDirectory("graft_graph_recon").toString
    val li = Tables(spark, sf, "lineitem")
    // the "orders of record" start as the even half...
    val d1 = Files.createTempDirectory("graft_recon_src1").toString
    li.filter(col("l_orderkey") % 2 === 0).write.parquet(s"$d1/lineitem.parquet")
    val n1 = Graph.reconcileGraphStore(spark, d1, storeDir)
    assert(n1 > 0)
    // ...an unchanged corpus reconciles to a no-op...
    assert(Graph.reconcileGraphStore(spark, d1, storeDir) == 0L)
    // ...and the grown corpus appends exactly the new baskets
    val d2 = Files.createTempDirectory("graft_recon_src2").toString
    li.write.parquet(s"$d2/lineitem.parquet")
    val n2 = Graph.reconcileGraphStore(spark, d2, storeDir)
    val totalBaskets = li.select("l_orderkey").distinct().count()
    assert(n1 + n2 == totalBaskets)
    assert(Graph.reconcileGraphStore(spark, d2, storeDir) == 0L)
    // content equals the one-shot expansion; compaction preserves it
    val full = edgeMap(Graph.coPurchaseEdges(spark, sf))
    assert(edgeMap(Graph.storedEdges(spark, storeDir)) == full)
    Graph.compactGraphStore(spark, storeDir)
    assert(edgeMap(Graph.storedEdges(spark, storeDir)) == full)
    // post-compaction reconcile still works over the compacted layout
    assert(Graph.reconcileGraphStore(spark, d2, storeDir) == 0L)
    graft.operators.PlanCache.release()
  }

  test("forget a part: its whole neighborhood blinds at once, compaction erases and collapses deltas") {
    val storeDir = Files.createTempDirectory("graft_graph_forget").toString
    val d = Files.createTempDirectory("graft_graph_src").toString
    val li = Tables(spark, sf, "lineitem")
    li.write.parquet(s"$d/lineitem.parquet")
    Graph.foundGraphStore(spark, d, storeDir)
    Graph.appendToGraphStore(li.limit(0), storeDir) // no-op append is legal
    val before = edgeMap(Graph.storedEdges(spark, storeDir))
    val victim = before.keySet.head._1
    Atomic.forget(spark, storeDir, Seq(victim))
    val after = edgeMap(Graph.storedEdges(spark, storeDir))
    assert(after == before.filterNot { case ((a, b), _) => a == victim || b == victim })
    Graph.compactGraphStore(spark, storeDir)
    // physically gone: raw rows (no Forgotten filter) carry no victim,
    // exactly one physical generation remains, tombstones cleared
    val raw = spark.read.parquet(Atomic.resolve(spark, storeDir, "edges"))
    assert(raw.filter(col("pa") === victim || col("pb") === victim).count() == 0)
    val gens = new java.io.File(storeDir).list().toSeq
      .filter(n => n == "edges" || n.startsWith("edges_v"))
    assert(gens.size == 1, s"superseded generation survived erasure: $gens")
    assert(!new java.io.File(s"$storeDir/forgotten").exists())
    assert(edgeMap(Graph.storedEdges(spark, storeDir)) == after)
  }

  test("epoch-windowed read face: an ingest-batch window reads only its epochs' graph") {
    val storeDir = Files.createTempDirectory("graft_graph_epoch").toString
    val li = Tables(spark, sf, "lineitem")
    // two ingest epochs with a time-like split on the basket axis
    val early = li.filter(col("l_orderkey") % 2 === 0)
    val late = li.filter(col("l_orderkey") % 2 === 1)
    Graph.appendToGraphStore(early, storeDir)
    Graph.appendToGraphStore(late, storeDir)
    val batches = Graph.ingestBatches(spark, storeDir).collect()
      .map(_.getString(0)).sorted
    assert(batches.length == 2 && batches.forall(_.startsWith("append-")))
    // window = the first epoch only → exactly that increment's graph,
    // never the store (partition pruning is the layout's whole point)
    val earlyKey = {
      // the window key is whichever batch holds the even baskets: probe
      // one even-basket edge's partition via the raw layout
      val raw = spark.read.parquet(
        Atomic.resolve(spark, storeDir, "edges"))
      raw.select(col("ingest_batch")).distinct().collect()
        .map(_.getString(0)).find { k =>
          edgeMap(Graph.storedEdgesWhere(spark, storeDir,
            col("ingest_batch") === k)) ==
            edgeMap(Graph.pairDeltas(early))
        }
    }
    assert(earlyKey.isDefined,
      "one ingest window must reproduce the early increment's graph")
    // both windows together ≡ the unwindowed merge
    assert(edgeMap(Graph.storedEdgesWhere(spark, storeDir, lit(true))) ==
      edgeMap(Graph.storedEdges(spark, storeDir)))
    // windowed evolution gauge: modularity over one epoch's window
    // equals the in-process build on that increment (read-face parity,
    // the pageRankFromStore convention applied to the time axis)
    val modWindow = Graph.modularityOnEdges(
      Graph.storedEdgesWhere(spark, storeDir,
        col("ingest_batch") === earlyKey.get), 4, 25)
      .collect().map(_.toSeq).toSeq
    graft.operators.PlanCache.release()
    val modLocal = Graph.modularityOnEdges(Graph.pairDeltas(early), 4, 25)
      .collect().map(_.toSeq).toSeq
    graft.operators.PlanCache.release()
    assert(modWindow == modLocal)
    // a forgotten part is blind in every window — RTBF has no as-of
    val victim = edgeMap(Graph.pairDeltas(early)).keySet.head._1
    Atomic.forget(spark, storeDir, Seq(victim))
    val blinded = edgeMap(Graph.storedEdgesWhere(spark, storeDir,
      col("ingest_batch") === earlyKey.get))
    assert(blinded.keySet.forall { case (a, b) =>
      a != victim && b != victim })
  }
}
