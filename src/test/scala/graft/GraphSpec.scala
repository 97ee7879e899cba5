package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Graph-analytics semantics the oracle replay can't see: PageRank
  * mass accounting and a brute-force triangle recount. */
class GraphSpec extends SparkSpec {

  test("co-purchase edges are canonical and distinct: pa < pb, one row per pair") {
    // trussPeel's founding triangle census and its per-round live
    // filter join on the edge key — a reversed or repeated edge would
    // inflate support
    val edges = Graph.coPurchaseEdges(spark, sf)
      .select("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    assert(edges.forall { case (a, b) => a < b })
    assert(edges.distinct.length == edges.length)
  }

  test("pagerank: every node scored, mass conserved up to integer truncation, floor = teleport") {
    val all = Graph.pageRank(spark, sf, k = Int.MaxValue).collect()
    val edges = Graph.coPurchaseEdges(spark, sf)
    val nNodes = edges.select(col("pa")).union(edges.select(col("pb")))
      .distinct().count()
    assert(all.length == nNodes, "one rank row per co-purchased part")
    val scores = all.map(_.getLong(2))
    val base = Graph.PrScale / nNodes
    val teleport = 15L * base / 100L
    // every score carries at least the teleport mass; total mass can
    // only leak DOWN from SCALE (each integer div truncates), and five
    // rounds over this graph should not shed more than 1%
    assert(scores.forall(_ >= teleport))
    assert(scores.sum <= Graph.PrScale)
    assert(scores.sum >= Graph.PrScale * 99L / 100L,
      s"mass leaked: ${scores.sum} of ${Graph.PrScale}")
    // ranks are the (score desc, part asc) order, dense from 1
    assert(all.map(_.getInt(0)).toSeq == (1 to nNodes.toInt).toSeq)
    val sorted = all.sortBy(r => (-r.getLong(2), r.getLong(1)))
    assert(sorted.map(_.getInt(0)).toSeq == (1 to nNodes.toInt).toSeq)
    graft.operators.PlanCache.release()
  }

  test("personalized pagerank: seeds excluded, ranks dense, all mass from the seed walk") {
    val got = Graph.personalizedPageRank(spark, sf).collect()
    val edges = Graph.coPurchaseEdges(spark, sf)
    val seeds = edges.select(col("pa")).union(edges.select(col("pb")))
      .distinct().orderBy(col("pa").asc).limit(3)
      .collect().map(_.getLong(0)).toSet
    graft.operators.PlanCache.release()
    assert(got.length == 25)
    assert(got.map(_.getInt(0)).toSeq == (1 to 25))
    assert(got.forall(r => !seeds(r.getLong(1))), "a seed leaked into the ranking")
    val scores = got.map(_.getLong(2))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    assert(scores.forall(s => s > 0 && s <= Graph.PrScale))
  }

  test("label propagation: hand-walked path graph (incl. the synchronous period-2 oscillation)") {
    import spark.implicits._
    // baskets {10,20} and {20,30} → path 10—20—30, all weights 1.
    // Synchronous rounds: l1 = {10→20, 20→10(tie, min), 30→20},
    // l2 = {10→10, 20→20, 30→10}, l3 = l1, l4 = l2 — the deterministic
    // period-2 snapshot the fixed round count reports
    val dir = java.nio.file.Files.createTempDirectory("graft_lpa").toString
    Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = Graph.labelPropagation(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.operators.PlanCache.release()
    assert(got == Seq((10L, 2L, 10L), (20L, 1L, 20L)))
  }

  test("label propagation: every node lands in exactly one community") {
    val all = Graph.labelPropagation(spark, sf, k = Int.MaxValue).collect()
    val edges = Graph.coPurchaseEdges(spark, sf)
    val nNodes = edges.select(col("pa")).union(edges.select(col("pb")))
      .distinct().count()
    graft.operators.PlanCache.release()
    assert(all.map(_.getLong(1)).sum == nNodes, "memberships partition the node set")
    assert(all.map(_.getLong(0)).distinct.length == all.length, "one row per community")
    assert(all.forall(_.getLong(1) >= 1L))
  }

  test("triangles: hub skew — a node in every basket closes only its real triangles") {
    import spark.implicits._
    // star around part 1 (degree 10) plus the single closing edge
    // 2—3: exactly ONE triangle {1,2,3}. The degree-ordered
    // orientation points every star edge INTO the hub, so the hub's
    // own adjacency list stays size 0 and contributes no wedges —
    // the skew-robustness the orientation exists for
    val rows = (2L to 11L).flatMap(k => Seq((k, 1L), (k, k))) :+
      (100L, 2L) :+ (100L, 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft_hub").toString
    rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val got = Graph.triangles(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    graft.operators.PlanCache.release()
    assert(got == Map(
      1L -> ((10L, 1L, 2L * 1000000L / (10L * 9L))),
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((2L, 1L, 1000000L))))
  }

  test("triangles: per-node counts replay a brute-force closure over the edge list") {
    val got = Graph.triangles(spark, sf, k = Int.MaxValue).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val edges = Graph.coPurchaseEdges(spark, sf)
      .select("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.operators.PlanCache.release()
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    // each triangle {a,b,c} has three edges, and walking edge (a,b)
    // credits the OPPOSITE corner c — so every node of the triangle is
    // credited exactly once and triCount(x) = triangles containing x
    val triCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).foreach { c => triCount(c) += 1L }
    }
    val want = triCount.toMap.filter(_._2 > 0)
    assert(got.keySet == want.keySet)
    got.foreach { case (node, (deg, t, cc)) =>
      assert(t == want(node), s"node $node: got $t want ${want(node)}")
      assert(deg == adj(node).size.toLong)
      assert(cc == 2L * t * 1000000L / (deg * (deg - 1)), s"node $node cc")
      assert(cc <= 1000000L, s"clustering coefficient bounded: $node")
    }
  }

  test("sampled neighborhood: balls replay a brute-force BFS and grow monotonically") {
    val got = Graph.sampledNeighborhood(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val edges = Graph.coPurchaseEdges(spark, sf)
      .select("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.operators.PlanCache.release()
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val samples = got.keySet.map(_._1)
    assert(samples.size == 8)
    samples.foreach { s =>
      var ball = Set(s)
      (1 to 3).foreach { h =>
        ball = ball ++ ball.flatMap(adj)
        assert(got((s, h.toLong)) == ball.size.toLong, s"sample $s hop $h")
      }
    }
  }

  test("neighborhood sketch: per-hop means track the exact BFS balls within sketch error") {
    // All nodes' balls here are similar-sized, so per-node sketch
    // errors (±18 % s.e. at 32 registers) do NOT average out across
    // nodes — the bound below is the honest 3σ-ish envelope, and the
    // oracle pins exact integer replay separately (q252).
    val sketch = Graph.neighborhoodSketch(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    graft.operators.PlanCache.release()
    val exact = Graph.sampledNeighborhood(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).sum / xs.length }
    graft.operators.PlanCache.release()
    (1 to 3).foreach { h =>
      val est = sketch(h.toLong).toDouble / 1e6
      val ex = exact(h.toLong).toDouble
      assert(est > ex * 0.5 && est < ex * 1.6,
        s"hop $h: sketch mean $est vs exact sample mean $ex")
    }
  }

  test("walk-pair PMI: ranks dense per anchor, scores ordered, contexts reachable") {
    val got = Graph.walkPmiSimilarity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    graft.operators.PlanCache.release()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (anchor, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to rows.length).map(_.toLong),
        s"anchor $anchor ranks not dense")
      // rank order ≡ (score desc, context asc)
      assert(sorted.toSeq.sliding(2).forall {
        case Seq(a, b) => a._4 > b._4 || (a._4 == b._4 && a._2 < b._2)
        case _ => true
      }, s"anchor $anchor rank/score order")
      assert(rows.forall(r => r._3 > 0 && r._4 >= 0), s"anchor $anchor values")
      assert(rows.length <= 5)
    }
  }

  /** The corpus co-purchase graph as a driver-side undirected edge set. */
  private def corpusEdges(): Set[(Long, Long)] =
    Graph.coPurchaseEdges(spark, sf).select("pa", "pb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def adjacency(es: Set[(Long, Long)]): Map[Long, Set[Long]] =
    es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }

  test("k-core peel: per-round census replays a driver-side synchronous peel") {
    val k = 70 // this fixture's degrees run 49..109: every round peels
    val got = Graph.kCorePeel(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    var es = corpusEdges()
    graft.operators.PlanCache.release()
    val want = (1 to 5).map { r =>
      val surv = adjacency(es).filter(_._2.size >= k).keySet
      es = es.filter { case (a, b) => surv(a) && surv(b) }
      (r.toLong, surv.size.toLong, es.size.toLong)
    }
    assert(got == want, s"got $got, want $want")
    assert(want.map(_._3).distinct.length == 5 && want.last._3 > 0,
      s"the fixture must peel each round and keep a core: $want")
  }

  test("truss peel: per-round census on the corpus graph replays a driver-side support recompute") {
    val k = 40 // this fixture's edge supports run 13..58
    val got = Graph.trussPeel(spark, sf, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    var es = corpusEdges()
    graft.operators.PlanCache.release()
    val want = (0 to 2).map { r =>
      if (r > 0) {
        val adj = adjacency(es)
        es = es.filter { case (a, b) => (adj(a) & adj(b)).size >= k - 2 }
      }
      (r.toLong, es.size.toLong, es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong)
    }
    assert(got == want, s"got $got, want $want")
    assert(want.map(_._2).distinct.length == 3, s"the fixture must peel each round: $want")
  }

  test("seed distances: replay a driver-side BFS from the three smallest parts") {
    val got = Graph.seedDistances(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = adjacency(corpusEdges())
    graft.operators.PlanCache.release()
    var dist = adj.keys.toSeq.sorted.take(3).map(_ -> 0L).toMap
    var frontier = dist.keySet
    for (h <- 1 to 4) {
      frontier = frontier.flatMap(adj) -- dist.keySet
      dist ++= frontier.map(_ -> h.toLong)
    }
    assert(got == dist)
    assert(dist.values.max >= 2, "the walk must go past the seeds' neighbors")
  }
}
