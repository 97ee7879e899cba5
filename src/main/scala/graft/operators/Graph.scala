package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the part co-purchase graph — the engine's
  * iterative-computation pillar (power iteration, wedge closure)
  * expressed as plain joins + aggregates so Catalyst owns the physical
  * plan, no GraphX/RDD detour.
  *
  * The graph: parts are nodes; an undirected edge (a, b) with weight w
  * joins two parts co-purchased in w distinct orders (the q197 basket
  * machinery, unthresholded — candidate generation is a within-basket
  * self-join whose fan-out is basket-width², bounded by order width,
  * never catalog², so the edge list grows LINEARLY with the corpus).
  * Both operators' iteration state is node-keyed; nothing
  * corpus-pair-shaped materializes.
  *
  * All arithmetic is integer (pico/micro grids, products widened
  * through Decimal(38) ≙ the oracle's HUGEINT) — iterative float
  * accumulation would drift cross-engine after five rounds.
  */
object Graph {

  /** Undirected co-purchase edges, canonical orientation pa < pb.
    * Pair expansion happens INSIDE each basket's collected item array
    * (sorted set → i<j slices) rather than as a basket-keyed self-join:
    * one shuffle (the basket agg) instead of two join sides plus their
    * sort, with identical fan-out (basket-width², order-width-bounded —
    * collect_set is safe here for exactly that reason). */
  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    pairDeltas(Tables(spark, dir, "lineitem"))

  /** The pair expansion over an arbitrary lineitem slice — shared by
    * the in-process graph build and the store's append increments. */
  private[graft] def pairDeltas(lineitem: DataFrame): DataFrame = {
    val baskets = lineitem
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("arr"))
    // pair expansion as two codegen'd Generates instead of one nested
    // higher-order transform (HOFs are CodegenFallback — every pair
    // emission ran interpreted): baskets are order-width-bounded
    // (~4 items), so carrying the sorted array through the first
    // explode costs a few dozen bytes per row and every emission now
    // runs inside a WholeStageCodegen span. Same i<j slices, same
    // pair set (posexplode's i is 0-based exactly like transform's)
    baskets
      .select(col("arr"), posexplode(col("arr")).as(Seq("i", "pa")))
      .select(col("pa"), explode(
        slice(col("arr"), col("i") + lit(2), size(col("arr")))).as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("w"))
  }

  /** Both orientations of an undirected (pa, pb, …) edge list as
    * directed (src, dst, `cols`…) rows. */
  private def directed(und: DataFrame, cols: Column*): DataFrame =
    und.select(col("pa").as("src") +: col("pb").as("dst") +: cols: _*)
      .union(und.select(col("pb").as("src") +: col("pa").as("dst") +: cols: _*))

  /** The `n` smallest source keys of a directed edge list — the
    * deterministic, SF-stable seed set (an `n`-bounded driver fold). */
  private def smallestSeeds(edges: DataFrame, n: Int): Seq[Long] =
    edges.select(col("src")).distinct()
      .orderBy(col("src").asc).limit(n)
      .collect().map(_.getLong(0)).toSeq

  /** `n` sources of a directed edge list in `salt`-ed md5 order, as
    * `sample` — a deterministic source sample the oracle replays (an
    * md5 ORDER BY + LIMIT: TakeOrdered, no global sort). */
  private def md5Samples(edges: DataFrame, salt: String, n: Int): DataFrame =
    edges.select(col("src")).distinct()
      .orderBy(md5(concat(lit(salt), col("src").cast("string"))).asc)
      .limit(n)
      .select(col("src").as("sample"))

  /** Rank scale: picoshares (1e-12 of total mass) — coarser grids lose
    * too much mass to the per-edge integer division at five rounds. */
  private[graft] val PrScale = 1000000000000L

  /** PAGERANK over the co-purchase graph — five UNROLLED power
    * iterations on the integer pico grid: r₀ = SCALE div N;
    * rₖ₊₁(v) = (15·(SCALE div N)) div 100
    *           + (85 · Σᵤ (rₖ(u)·w(u,v)) div outw(u)) div 100.
    * Every node of the (undirected, symmetrized) graph has degree ≥ 1
    * by construction, so there are no dangling nodes; integer division
    * leaks bounded mass per step, identically on both engines — the
    * determinism contract matters more than the conserved-mass nicety
    * here (both engines walk the same grid).
    *
    * Scale: the edge list is persisted once and re-joined five times —
    * each iteration is one equi-join on the source key plus one
    * aggregate on the destination key, the canonical shuffle pair of
    * distributed power iteration (Pregel does the same data movement);
    * state between iterations is one row per node. Products ride
    * Decimal(38): rank ≤ SCALE = 1e12 and a 100 TB catalog's pair
    * weights push r·w past int64. N is a 1-row scalar fold (profiler
    * convention). Top-k is one TakeOrdered.
    *
    * Reference scope: the reference engine has no graph operator — this
    * extends the training-data-pipeline surface (e.g. ranking canonical
    * products/documents inside a dedup cluster family). */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 5,
      k: Int = 25): DataFrame =
    pageRankOnEdges(coPurchaseEdges(spark, dir), iters, k)

  /** The power iteration over an arbitrary undirected edge list
    * (pa < pb, weight w) — shared by the in-process build and the
    * persisted graph store's read face (GraphStoreSpec pins bit
    * equality between the two). */
  private[graft] def pageRankOnEdges(und: DataFrame, iters: Int = 5,
      k: Int = 25): DataFrame = {
    // symmetrize, hash-partition by source, and fold each source's
    // total out-weight ONTO its edges once — the persisted frame keeps
    // its HashPartitioning(src), so each of the five iteration joins
    // shuffles only the node-sized rank frame, never the edge list
    // (the window reuses the same partitioning: one shuffle total)
    val sym = directed(und, col("w"))
    val edges = PlanCache.tracked(sym.repartition(col("src"))
      .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("src")))))
    val nNodes = edges.select(col("src")).distinct().count()
    val base = PrScale / nNodes
    val teleport = 15L * base / 100L
    var rank = edges.select(col("src").as("part")).distinct()
      .withColumn("r", lit(base))
    for (_ <- 0 until iters) {
      // SHUFFLE_HASH with the node-sized rank frame as build side: SMJ
      // would re-sort the persisted edge list every iteration, and a
      // broadcast would cap the node count at driver memory (a 100 TB
      // catalog's part dimension is shuffle-sized, not broadcast-sized)
      rank = rank.hint("shuffle_hash")
        .join(edges, rank("part") === edges("src"))
        // r ≤ SCALE = 1e12 and a 100 TB catalog's w breaks int64 in
        // the product — Decimal(38) through the div (returns LONG)
        .select(col("dst"),
          expr("CAST(r AS DECIMAL(38,0)) * w div outw").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("inflow"))
        // inflow ≤ total mass 1e12: the damping product stays int64
        .select(col("dst").as("part"),
          (lit(teleport) + expr("85 * inflow div 100")).as("r"))
    }
    rank.select(col("part"), col("r").as("score_pico"))
      .orderBy(col("score_pico").desc, col("part").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_pico").desc, col("part").asc)))
      .select(col("rank"), col("part"), col("score_pico"))
  }

  /** PERSONALIZED PAGERANK — "parts related to THIS seed set", the
    * recommendation face of [[pageRank]]: the teleport mass returns to
    * the seed parts instead of spreading uniformly, so scores measure
    * proximity to the seeds through the co-purchase structure (the
    * random walk with restart that item-to-item recommenders run).
    * Seeds default to the graph's three smallest part keys — a
    * deterministic, SF-stable choice the oracle replays. Seeds are
    * excluded from the output (a seed is trivially related to itself).
    *
    * Scale: identical data movement to [[pageRank]] — five rounds of
    * (rank ⋈ pre-partitioned edges) + a dst aggregate — EXCEPT the
    * rank frame starts seeds-sized and grows with the reachable
    * frontier, so early rounds ship almost nothing (the sparsity PPR
    * is loved for); the teleport re-injection is a 3-row union into
    * the aggregate. Integer pico grid, products through Decimal(38),
    * same determinism contract as q230. */
  def personalizedPageRank(spark: SparkSession, dir: String,
      nSeeds: Int = 3, iters: Int = 5, k: Int = 25): DataFrame = {
    import spark.implicits._
    val und = coPurchaseEdges(spark, dir)
    val sym = directed(und, col("w"))
    val edges = PlanCache.tracked(sym.repartition(col("src"))
      .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("src")))))
    val seeds = smallestSeeds(edges, nSeeds)
    val base = PrScale / seeds.size
    val teleport = 15L * base / 100L
    val seedRows = seeds.toDF("part").withColumn("r", lit(base))
    var rank = seedRows
    for (_ <- 0 until iters) {
      val damped = rank.hint("shuffle_hash")
        .join(edges, rank("part") === edges("src"))
        .select(col("dst").as("part"),
          expr("85 * (CAST(r AS DECIMAL(38,0)) * w div outw) div 100").as("c"))
      rank = damped
        .union(seeds.toDF("part").withColumn("c", lit(teleport)))
        .groupBy(col("part")).agg(sum(col("c")).as("r"))
    }
    rank.filter(!col("part").isin(seeds.map(lit): _*))
      .select(col("part"), col("r").as("score_pico"))
      .orderBy(col("score_pico").desc, col("part").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_pico").desc, col("part").asc)))
      .select(col("rank"), col("part"), col("score_pico"))
  }

  /** LABEL-PROPAGATION community detection over the co-purchase graph
    * — the "what sells together as a FAMILY" view that pair lift
    * (q197) and triangles (q231) only see locally: labels start as
    * node ids and each SYNCHRONOUS round reassigns every node the
    * weight-heaviest label among its neighbors (ties break to the
    * smallest label, so the fixed-round outcome is fully deterministic
    * — the async/random-order variants converge faster but are
    * unreplayable, the wrong trade for an oracle-checked engine).
    * Reported as the community-size table, largest first.
    *
    * Scale: per round, one equi-join of the node-sized label frame
    * against the pre-partitioned edge list and one (dst, label)
    * aggregate — edge-bounded rows, the PageRank data movement with a
    * per-node argmax window (partition keys grow with the graph)
    * instead of the damping fold. Synchronous LPA on a bipartite-ish
    * region can oscillate rather than converge; a fixed round count
    * reports the same deterministic snapshot on both engines either
    * way. */
  def labelPropagation(spark: SparkSession, dir: String, iters: Int = 4,
      k: Int = 25): DataFrame =
    lpaLabels(coPurchaseEdges(spark, dir), iters)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_member"))
      .orderBy(col("n_members").desc, col("community").asc)
      .limit(k)

  /** The fixed-round synchronous LPA walk itself — (node, lbl), every
    * node labeled. Shared by [[labelPropagation]]'s size table and
    * [[communityModularity]]'s quality readout. */
  private[graft] def lpaLabels(und: DataFrame, iters: Int): DataFrame = {
    val sym = directed(und, col("w"))
    val edges = PlanCache.tracked(sym.repartition(col("src")))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 0 until iters) {
      // argmax as a second hash aggregate — max(struct(votes, −lbl))
      // picks (votes DESC, lbl ASC) without the per-round sort a
      // row_number window would pay on the edge-bounded vote frame.
      // ONE exchange per round for both aggregates: the explicit
      // dst-repartition satisfies the clustering of BOTH groupBys
      // (HashPartitioning(dst) clusters (dst, lbl) and (dst) alike),
      // where the bare groupBy pair paid two exchanges — by (dst, lbl)
      // for the votes, then by (dst) for the argmax (guide §2.4,
      // "two operations keyed the same way can share one exchange")
      labels = labels
        .join(edges, labels("node") === edges("src"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("lbl")).agg(sum(col("w")).as("votes"))
        .groupBy(col("dst"))
        .agg(max(struct(col("votes"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
    }
    labels
  }

  /** NEWMAN MODULARITY of the LPA partition — the quality gauge the
    * q235 size table can't provide: community COUNTS say nothing about
    * whether the partition beats chance (a random labeling also has
    * sizes). Per community c: in_c = weight of intra-community
    * directed edges, tot_c = Σ weighted degree of members, and the
    * modularity contribution Q_c = in_c/(2m) − (tot_c/(2m))², folded
    * exactly on the micro grid as (in_c·2m − tot_c²)·10⁶ div (2m)² —
    * one rational per community through Decimal(38) ≙ HUGEINT
    * (tot_c² reaches ~10²⁶ at a 10¹³-weight corpus, far past int64;
    * the quotient is signed and `div` ≙ `//`, both truncating toward
    * zero). Global Q = Σ_c Q_c; the per-community rows localize WHICH
    * families are cohesive vs label-propagation artifacts.
    *
    * Scale: the label frame is node-sized and joined twice against
    * the edge list (the LPA round's own data movement); everything
    * downstream is community-sized. No window, no all-pairs. */
  def communityModularity(spark: SparkSession, dir: String,
      iters: Int = 4, k: Int = 25): DataFrame =
    modularityOnEdges(coPurchaseEdges(spark, dir), iters, k)

  /** [[communityModularity]] read purely from the persisted graph
    * store (the [[pageRankFromStore]] convention). */
  def communityModularityFromStore(spark: SparkSession, storeDir: String,
      iters: Int = 4, k: Int = 25): DataFrame =
    modularityOnEdges(storedEdges(spark, storeDir), iters, k)

  private[graft] def modularityOnEdges(undIn: DataFrame,
      iters: Int, k: Int): DataFrame = {
    val und = PlanCache.tracked(undIn)
    val labels = PlanCache.tracked(lpaLabels(und, iters))
    val sym = directed(und, col("w"))
    val m2 = sym.agg(sum(col("w")).as("m2")) // 2m: each edge, both ways
    val tot = sym.groupBy(col("src").as("node")).agg(sum(col("w")).as("wdeg"))
      .join(labels, Seq("node"))
      .groupBy(col("lbl"))
      .agg(sum(col("wdeg")).as("tot_w"), count(lit(1)).as("n_members"))
    val inW = sym
      .join(labels.select(col("node").as("src"), col("lbl").as("la")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("lbl").as("lb")),
        Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(sum(col("w")).as("in_w"))
    Scalars.attach(tot.join(inW, Seq("lbl"), "left"), m2,
      col("tot_w"), col("m2"))
      .select(col("lbl").as("community"), col("n_members"),
        coalesce(col("in_w"), lit(0L)).as("in_w"), col("tot_w"), col("m2"))
      .select(col("community"), col("n_members"), col("in_w"), col("tot_w"),
        expr("CAST((CAST(in_w AS DECIMAL(38,0)) * m2" +
          " - CAST(tot_w AS DECIMAL(38,0)) * tot_w) * 1000000" +
          " div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)")
          .as("contrib_micro"))
      .orderBy(col("n_members").desc, col("community").asc)
      .limit(k)
  }

  /** COMMUNITY QUOTIENT GRAPH (graph coarsening) — the LPA partition's
    * mixing matrix: one row per community PAIR that shares an edge
    * (and per community's internal face), with edge count, weight
    * mass, and each row's share of total edge weight in micro. This
    * is the standard multilevel-scale readout: a billion-node graph
    * folds to a communities²-bounded summary that answers "which
    * families border which" — the input a merchandiser (or a
    * multilevel layout/partitioner) actually consumes — without ever
    * materializing anything larger than the edge list joined to the
    * node-sized label frame twice.
    *
    * Pairs are canonical (min, max), so the matrix is upper-
    * triangular with the diagonal = q267's in_c mass (counted once
    * per undirected edge here, vs twice in the symmetrized modularity
    * fold — this face reads human, that face feeds the 2m algebra). */
  def communityQuotient(spark: SparkSession, dir: String,
      iters: Int = 4, k: Int = 25): DataFrame =
    quotientOnEdges(coPurchaseEdges(spark, dir), iters, k)

  /** [[communityQuotient]] read purely from the persisted graph
    * store (the [[pageRankFromStore]] convention). */
  def communityQuotientFromStore(spark: SparkSession, storeDir: String,
      iters: Int = 4, k: Int = 25): DataFrame =
    quotientOnEdges(storedEdges(spark, storeDir), iters, k)

  private[graft] def quotientOnEdges(undIn: DataFrame,
      iters: Int, k: Int): DataFrame = {
    val und = PlanCache.tracked(undIn)
    val labels = PlanCache.tracked(lpaLabels(und, iters))
    val tagged = und
      .join(labels.select(col("node").as("pa"), col("lbl").as("la")),
        Seq("pa"))
      .join(labels.select(col("node").as("pb"), col("lbl").as("lb")),
        Seq("pb"))
      .select(least(col("la"), col("lb")).as("ca"),
        greatest(col("la"), col("lb")).as("cb"), col("w"))
    val folded = tagged.groupBy(col("ca"), col("cb"))
      .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("w_sum"))
    val total = folded.agg(sum(col("w_sum")).as("w_total"))
    Scalars.attach(folded, total, col("w_sum"), col("w_total"))
      .select(col("ca").as("community_a"), col("cb").as("community_b"),
        col("n_edges"), col("w_sum"),
        // weight mass ~corpus-sized: the share product rides Decimal(38)
        expr("CAST(CAST(w_sum AS DECIMAL(38,0)) * 1000000 div w_total" +
          " AS BIGINT)").as("share_micro"))
      .orderBy(col("w_sum").desc, col("community_a").asc,
        col("community_b").asc)
      .limit(k)
  }

  /** COMMUNITY EVOLUTION across time halves — the q260/q253 drift
    * posture applied to the graph pillar: the co-purchase graph is
    * rebuilt from each half of the order history (epoch-microsecond
    * midpoint split, the q260 convention), each half runs the SAME
    * fixed-round LPA walk, and the readout is one row of paired
    * structural gauges plus two drift numbers — the global-modularity
    * delta (did the catalog get more or less community-structured?)
    * and the total-variation distance between the halves' community-
    * SIZE distributions (did the SHAPE of the families change —
    * q253's TVD, with community sizes as the type axis). Community
    * LABELS are half-local (LPA labels are node ids), so the
    * distributional gauges are the honest comparands; a label-matched
    * membership diff would compare accidents of propagation order.
    *
    * Scale: each half is one corpus-sized pair expansion + the LPA
    * family's own node-sized joins; everything after the label frame
    * is community-sized, the size histogram is distinct-sizes-sized,
    * and the final algebra folds 1-row gauges driver-side (the HITS
    * convention — each gauge is a scalar; BigInt keeps Σtot² exact
    * past int64 and BigInteger/`div`/`//` all truncate toward zero).
    *
    * Integer grid: global Q_micro = (Σin·2m − Σtot²)·10⁶ div (2m)²
    * (ONE truncation on the summed rationals, unlike q267's
    * per-community rows); TVD_micro = Σ_s |cA(s)·nB − cB(s)·nA|·10⁶
    * div (2·nA·nB). */
  def communityEvolution(spark: SparkSession, dir: String,
      iters: Int = 4): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"),
        unix_micros(col("o_orderdate")).as("d"))
    // 2-scalar driver fold: the midpoint that defines the halves
    val mm = ord.agg(min(col("d")).as("lo"), max(col("d")).as("hi")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val li = PlanCache.tracked(Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(ord, Seq("l_orderkey")))
    def gauges(isA: Boolean): HalfGauges =
      halfGauges(pairDeltas(
        li.filter(if (isA) col("d") < mid else col("d") >= mid)
          .select(col("l_orderkey"), col("l_partkey"))), iters)
    // the two halves are independent pipelines over disjoint slices:
    // overlap their driver actions (guide §2.6); assembly order fixed
    val Seq(a, b) = Par.mapOrdered(Seq(true, false))(gauges)
    val (qa, qb) = (qMicro(a), qMicro(b))
    val tvd: Long = {
      val (na, nb) = (BigInt(a.nComms), BigInt(b.nComms))
      // empty-half degenerate: both cross-multipliers vanish, the
      // numerator is 0 on either engine — keep the shared algebra
      if (na == 0 || nb == 0) 0L
      else {
        val num = (a.sizeHist.keySet ++ b.sizeHist.keySet).toSeq.map { s =>
          (BigInt(a.sizeHist.getOrElse(s, 0L)) * nb -
            BigInt(b.sizeHist.getOrElse(s, 0L)) * na).abs
        }.sum
        (num * 1000000 / (2 * na * nb)).toLong
      }
    }
    spark.range(1).select(
      lit(a.nNodes).as("n_nodes_a"), lit(a.nEdges).as("n_edges_a"),
      lit(a.wTotal).as("w_total_a"), lit(a.nComms).as("n_communities_a"),
      lit(a.topSize).as("top_size_a"), lit(qa).as("modularity_a_micro"),
      lit(b.nNodes).as("n_nodes_b"), lit(b.nEdges).as("n_edges_b"),
      lit(b.wTotal).as("w_total_b"), lit(b.nComms).as("n_communities_b"),
      lit(b.topSize).as("top_size_b"), lit(qb).as("modularity_b_micro"),
      lit(qb - qa).as("modularity_drift_micro"),
      lit(tvd).as("size_tvd_micro"))
  }

  private[graft] final case class HalfGauges(nNodes: Long, nEdges: Long,
      wTotal: Long, nComms: Long, topSize: Long, sumIn: BigInt,
      sumTotSq: BigInt, sizeHist: Map[Long, Long])

  /** DEGREE ASSORTATIVITY of the co-purchase graph — the one-number
    * mixing gauge the community pillar lacked: the Pearson correlation
    * of endpoint degrees over the (symmetrized) edge list. Positive =
    * hubs prefer hubs (a core-periphery mesh), negative = hubs fan out
    * to leaves (star-like, the typical retail shape), near-zero =
    * degree-neutral wiring — the number that says WHICH kind of graph
    * the LPA/k-core/rich-club results should be read against (a
    * rich-club coefficient on a disassortative graph means something
    * different than on an assortative one, q294's caveat quantified).
    *
    * Exactness: degrees and all five moments are exact integers
    * (Decimal(38) ≙ HUGEINT through the squares — both endpoint
    * moments coincide by symmetry, but the full Pearson form is kept
    * so the algebra is auditably the q195/q211 one); the final r is
    * the q284 discipline — one double expression with identical
    * operand order, rounded to 6 decimals, reported in micro.
    *
    * Scale: one degree aggregate (node-sized), two broadcast-shaped
    * joins of degrees onto the edge list, one 1-row moment fold. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = PlanCache.tracked(
      pairDeltas(Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))))
    val sym = directed(und)
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx").cast(dec) * col("dx")).as("sxx"),
        sum(col("dy").cast(dec) * col("dy")).as("syy"),
        sum(col("dx").cast(dec) * col("dy")).as("sxy"))
      .select(col("m2").as("n_directed_edges"),
        when(
          (col("m2").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) > 0 &&
          (col("m2").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double")) > 0,
          round(round(
            (col("m2").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            sqrt(
              (col("m2").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              (col("m2").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            * 1000000, 0).cast("long"))
          .as("assortativity_micro"))
  }

  /** Exact modularity in integer micro from a slice's gauge moments:
    * (Σin·2m − Σtot²)·10⁶ / (2m)², BigInt throughout. */
  private def qMicro(g: HalfGauges): Long = {
    val m2 = BigInt(2) * g.wTotal
    if (m2 == 0) 0L
    else ((g.sumIn * m2 - g.sumTotSq) * 1000000 / (m2 * m2)).toLong
  }

  /** N-EPOCH community evolution — [[communityEvolution]] generalized
    * from two halves to a SERIES: the order-date range splits into
    * `epochs` equal time slices, each slice's co-purchase graph gets
    * the full gauge treatment (LPA labels → nodes/edges/weight/
    * community census/exact modularity), and each epoch carries its
    * modularity DRIFT against the previous epoch — the trend face a
    * `graphHealthTasks` bound can watch (a community structure that
    * decays epoch over epoch is the real alarm; one low absolute Q on
    * a young graph is not). Epoch of a row: (d − lo)·N div span —
    * integer-exact on both engines, last day lands in epoch N−1.
    *
    * Scale: one corpus-sized pair expansion and one LPA per epoch
    * (each over its SLICE only — the q278 shape ×N/2); the final
    * algebra folds 1-row scalars driver-side with BigInt exactness,
    * and the output is an epochs-sized frame. */
  def communityEvolutionSeries(spark: SparkSession, dir: String,
      epochs: Int = 4, iters: Int = 4): DataFrame = {
    require(epochs >= 2, "a series needs at least 2 epochs")
    val (lo, span) = epochAxisOf(spark, dir)
    val li = epochTaggedLineitem(spark, dir, lo, span, epochs)
    // epochs are mutually independent slice pipelines: overlap their
    // driver actions (guide §2.6) so one epoch's straggler/fold tail
    // back-fills with the next epoch's tasks; assembly stays in epoch
    // order, so the series frame is unchanged
    val series = Par.mapOrdered((0 until epochs).toSeq)(e =>
      epochGaugeRow(li, e, iters))
    gaugeSeriesDf(spark, series)
  }

  /** The epoch axis of a corpus: (lo, span) over order dates in
    * micros — epoch of a row is (d − lo)·N div span. */
  private def epochAxisOf(spark: SparkSession, dir: String): (Long, Long) = {
    val mm = Tables(spark, dir, "orders")
      .select(unix_micros(col("o_orderdate")).as("d"))
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi")).head()
    (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
  }

  /** The epoch-tagged basket frame every per-epoch gauge slices. */
  private def epochTaggedLineitem(spark: SparkSession, dir: String,
      lo: Long, span: Long, epochs: Int): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"),
        unix_micros(col("o_orderdate")).as("d"))
    PlanCache.tracked(Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(ord, Seq("l_orderkey"))
      .withColumn("ep",
        expr(s"CAST(((d - ${lo}L) * ${epochs}L) DIV ${span}L AS BIGINT)")))
  }

  /** One epoch's gauge row — the slice's LPA + exact-modularity fold. */
  private def epochGaugeRow(li: DataFrame, e: Int,
      iters: Int): (Long, Long, Long, Long, Long, Long, Long) = {
    val g = halfGauges(pairDeltas(li.filter(col("ep") === e.toLong)
      .select(col("l_orderkey"), col("l_partkey"))), iters)
    (e.toLong, g.nNodes, g.nEdges, g.wTotal, g.nComms, g.topSize, qMicro(g))
  }

  /** Gauge rows → the drift-annotated series frame. */
  private def gaugeSeriesDf(spark: SparkSession,
      series: Seq[(Long, Long, Long, Long, Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    series.zipWithIndex.map { case ((e, nn, ne, wt, nc, ts, q), i) =>
      val drift: Option[Long] =
        if (i == 0) None else Some(q - series(i - 1)._7)
      (e, nn, ne, wt, nc, ts, q, drift)
    }.toDF("epoch", "n_nodes", "n_edges", "w_total", "n_communities",
      "top_size", "modularity_micro", "modularity_drift_micro")
      .orderBy(col("epoch").asc)
  }

  // ---- persisted epoch gauges ----------------------------------------

  /** Append NEWLY-CLOSED epochs' gauges to a persisted store — the
    * incremental face of [[communityEvolutionSeries]], which re-runs
    * every epoch's LPA on every invocation even though an epoch is
    * immutable once its time slice has passed. The store holds two
    * tables: `axis` (lo, span, epochs — founded once, so the epoch
    * boundaries NEVER shift as new data arrives) and `gauges` (one
    * row per closed epoch: nodes/edges/weight/census/modularity).
    * Each maintenance run computes gauges ONLY for closed epochs
    * (0 … N−2; the newest epoch N−1 stays open — its data is still
    * arriving) not yet stored and appends them: per-run cost is the
    * missing epochs' slices, zero on an unchanged store. Returns the
    * number of epochs appended.
    *
    * Crash-safe by the stored-epoch anti-set: the append is one
    * parquet job (atomic at commit), and a rerun recomputes exactly
    * the epochs the crash left missing. */
  def appendEpochGauges(spark: SparkSession, dir: String, storeDir: String,
      epochs: Int = 4, iters: Int = 4): Long = {
    require(epochs >= 2, "a series needs at least 2 epochs")
    import spark.implicits._
    val (lo, span, n) = Atomic.existing(spark, storeDir, "axis") match {
      case Some(axis) =>
        val r = axis.head()
        (r.getLong(0), r.getLong(1), r.getInt(2))
      case None =>
        val (l, s) = epochAxisOf(spark, dir)
        Atomic.append(Seq((l, s, epochs)).toDF("lo", "span", "epochs")
          .coalesce(1), storeDir, "axis")
        (l, s, epochs)
    }
    val stored: Set[Long] = Atomic.existing(spark, storeDir, "gauges")
      .fold(Set.empty[Long])(_.select("epoch").collect().map(_.getLong(0)).toSet)
    val missing = (0 until (n - 1)).map(_.toLong).filterNot(stored)
    if (missing.nonEmpty) {
      val li = epochTaggedLineitem(spark, dir, lo, span, n)
      try Atomic.append(
        Par.mapOrdered(missing)(e => epochGaugeRow(li, e.toInt, iters))
          .toDF("epoch", "n_nodes", "n_edges", "w_total", "n_communities",
            "top_size", "modularity_micro")
          .coalesce(1), storeDir, "gauges")
      finally PlanCache.release()
    }
    missing.size.toLong
  }

  /** The evolution series read THROUGH the gauge store: closed
    * epochs come off disk (an epochs-sized scan — no LPA, no pair
    * expansion), only the still-open newest epoch (plus any closed
    * epoch a crashed maintenance run left missing) is computed live.
    * Result ≡ [[communityEvolutionSeries]] over the same corpus and
    * axis (spec-pinned), so the q298 oracle replays it unchanged —
    * but the steady-state cost is ONE slice's LPA instead of N,
    * which is the 100 TB posture for an axis that only ever grows. */
  def evolutionSeriesFromStore(spark: SparkSession, dir: String,
      storeDir: String, iters: Int = 4): DataFrame = {
    val axis = Atomic.live(spark, storeDir, "axis").head()
    val (lo, span, n) = (axis.getLong(0), axis.getLong(1), axis.getInt(2))
    val stored: Map[Long, (Long, Long, Long, Long, Long, Long, Long)] =
      Atomic.existing(spark, storeDir, "gauges").fold(
          Map.empty[Long, (Long, Long, Long, Long, Long, Long, Long)]) {
        _.select("epoch", "n_nodes", "n_edges", "w_total", "n_communities",
            "top_size", "modularity_micro")
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      }
    // the open epoch is ALWAYS live (a stale stored row for it would
    // freeze the gauge mid-epoch); closed epochs are live only when a
    // crashed maintenance run left them missing
    val liveEpochs = (0 until n).map(_.toLong)
      .filter(e => e == (n - 1).toLong || !stored.contains(e))
    val live =
      if (liveEpochs.isEmpty) Nil
      else {
        val li = epochTaggedLineitem(spark, dir, lo, span, n)
        Par.mapOrdered(liveEpochs)(e => epochGaugeRow(li, e.toInt, iters))
      }
    val all = (stored.collect { case (k, v) if k < (n - 1).toLong => v }.toSeq
      ++ live).sortBy(_._1)
    gaugeSeriesDf(spark, all)
  }

  /** Memo: one founded gauge store per (session, dir) — the
    * [[graft.operators.Dedup.bandIndex]] model: founding (all closed
    * epochs' LPAs) lands on the first caller, steady-state callers
    * measure one open-epoch slice + an epochs-sized scan. */
  private val gaugeStoreMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  /** [[evolutionSeriesFromStore]] over the memoized store — the
    * declared steady-state board face (q315) beside q298's full
    * recompute, the q314-vs-q281 precedent on the graph pillar. */
  def evolutionSeriesStored(spark: SparkSession, dir: String,
      epochs: Int = 4, iters: Int = 4): DataFrame = {
    val storeDir = gaugeStoreMemo.computeIfAbsent((spark, dir), _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_epoch_gauges")
        .toString
      appendEpochGauges(spark, dir, d, epochs, iters)
      d
    })
    evolutionSeriesFromStore(spark, dir, storeDir, iters)
  }

  /** One half's structural gauges — every collect here is a 1-row
    * fold or the distinct-community-sizes histogram (tens of rows);
    * the corpus-sized work is the pair expansion and LPA's own
    * node-frame joins. */
  private def halfGauges(und0: DataFrame, iters: Int): HalfGauges = {
    val und = PlanCache.tracked(und0)
    val labels = PlanCache.tracked(lpaLabels(und, iters))
    val sym = directed(und, col("w"))
    val tot = sym.groupBy(col("src").as("node")).agg(sum(col("w")).as("wdeg"))
      .join(labels, Seq("node"))
      .groupBy(col("lbl")).agg(sum(col("wdeg")).as("tot_w"))
    val inW = sym
      .join(labels.select(col("node").as("src"), col("lbl").as("la")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("lbl").as("lb")),
        Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(sum(col("w")).as("in_w"))
    // the three gauge folds are independent actions over the shared
    // cached und/labels frames: overlap them (guide §2.6) — the block
    // manager's get-or-compute lock keeps a shared cached block
    // computed once even when two folds first-touch it concurrently
    val Seq(eAny, sumsAny, histAny) = Par.mapOrdered(Seq[() => Any](
      () => und.agg(count(lit(1)).as("ne"),
        coalesce(sum(col("w")), lit(0L)).as("wt")).head(),
      () => tot.join(inW, Seq("lbl"), "left")
        .agg(coalesce(sum(coalesce(col("in_w"), lit(0L))), lit(0L)).as("sin"),
          coalesce(sum(expr("CAST(tot_w AS DECIMAL(38,0)) * tot_w")),
            lit(0L).cast("decimal(38,0)")).as("stot2")).head(),
      () => labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))(_())
    val e = eAny.asInstanceOf[org.apache.spark.sql.Row]
    val sums = sumsAny.asInstanceOf[org.apache.spark.sql.Row]
    val hist = histAny.asInstanceOf[Map[Long, Long]]
    val nComms = hist.values.sum
    val nNodes = hist.map { case (s, c) => s * c }.sum
    val topSize = if (hist.isEmpty) 0L else hist.keys.max
    HalfGauges(nNodes, e.getLong(0), e.getLong(1), nComms, topSize,
      BigInt(sums.getLong(0)), BigInt(sums.getDecimal(1).toBigInteger),
      hist)
  }

  /** TRIANGLE COUNT + local clustering coefficient per part — the
    * cohesion screen over the co-purchase graph (a part whose
    * neighborhood closes into triangles sells in stable bundles; a
    * high-degree, zero-triangle part is a hub crossing unrelated
    * baskets). Per node: degree, triangles through it, and the local
    * clustering coefficient 2T·1e6 div (deg·(deg−1)) in integer micro.
    *
    * Scale — degree-ordered orientation + edge-iterator intersection:
    * edges direct from the (degree, id)-SMALLER endpoint, capping
    * every out-adjacency list at O(√m) regardless of hubs, and each
    * ORIENTED edge (u, v) finds its triangles as out(u) ∩ out(v) — a
    * per-row array intersection against the two endpoints' collected
    * neighbor lists, which never MATERIALIZES the wedge set (the naive
    * wedge self-join shuffles Σ outdeg² rows — 80M at sf0.1, measured
    * 19 s — where this form shuffles the edge list twice with bounded
    * array payloads). Orientation makes each triangle close exactly
    * once, at the edge between its two orientation-smallest corners;
    * the 3-row corner explode then credits it to all three nodes. */
  def triangles(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val und = PlanCache.tracked(coPurchaseEdges(spark, dir))
    val deg = PlanCache.tracked(
      und.select(col("pa").as("node")).union(und.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val perNode = triangleRows(und, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    perNode.join(deg, Seq("node"))
      // 2T·1e6 passes int64 for dense hubs — widen through Decimal(38)
      .select(col("node").as("part"), col("deg"), col("n_triangles"),
        expr("2 * CAST(n_triangles AS DECIMAL(38,0)) * 1000000" +
          " div (deg * (deg - 1))").as("clustering_micro"))
      .orderBy(col("n_triangles").desc, col("part").asc)
      .limit(k)
  }

  /** GLOBAL TRANSITIVITY — 3·triangles / wedges, the one-number "do
    * ties close" companion to q231's per-node census and the local
    * coefficients it ranks by: local C averages treat a 2-degree node
    * and a hub equally, transitivity weights by wedge mass — reading
    * them TOGETHER is the standard diagnosis for hub-dominated
    * closure. Wedges Σ deg·(deg−1)/2 from the one degree frame,
    * triangles from the shared degree-ordered edge-iterator closure;
    * the ratio exact in micro on Decimal(38) ≙ HUGEINT (3T·10⁶
    * clears int64 on dense graphs).
    *
    * Scale: the census is the q231 plan (out-lists O(√m)); the
    * readout folds two 1-row scalars. */
  def transitivity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = PlanCache.tracked(coPurchaseEdges(spark, dir))
    val deg = PlanCache.tracked(
      und.select(col("pa").as("node")).union(und.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val tri = triangleRows(und, deg).agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(
      (sum(col("deg").cast(dec) * (col("deg") - 1)) / lit(2))
        .cast(dec).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    wedges.transform(Scalars.attach(_, tri,
        col("n_nodes"), col("n_triangles")))
      .select(col("n_nodes"), col("n_wedges").cast("long").as("n_wedges"),
        col("n_triangles"),
        expr("""CAST(3 * CAST(n_triangles AS DECIMAL(38,0)) * 1000000
            div greatest(CAST(n_wedges AS DECIMAL(38,0)), 1) AS BIGINT)""")
          .as("transitivity_micro"))
  }

  /** One (a, b, c) row per triangle — the degree-ordered edge-iterator
    * closure shared by [[triangles]] and [[graphSummary]]. */
  private def triangleRows(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient each edge from the (deg, id)-smaller endpoint
    val oriented = und
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), Seq("pb"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
          .otherwise(col("pb")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
          .otherwise(col("pa")).as("dst"))
    val o = PlanCache.tracked(oriented)
    val adj = o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // SHUFFLE_HASH with the node-sized adjacency as build side: the
    // planner's sort-merge choice (array payloads blow the broadcast
    // estimate) sorted BOTH edge-sized sides per census — twice per
    // truss round (guide §3.1: prefer hash when one side is
    // moderately small per partition; out-lists are O(√m)-bounded).
    // Measured q274 16.5 s → 13.7 s; unlike the frontier loops, the
    // adjacency is never small enough to broadcast, so the hint
    // forfeits nothing.
    o.join(adj.select(col("src"), col("nbrs").as("nbrs_u"))
        .hint("shuffle_hash"), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nbrs_v"))
        .hint("shuffle_hash"), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("nbrs_u"), col("nbrs_v"))).as("c"))
  }

  /** K-TRUSS PEELING (fixed unrolled rounds) — the EDGE-grain cohesion
    * hierarchy beside [[kCorePeel]]'s node grain: a k-core keeps nodes
    * with enough neighbors, a k-truss keeps edges embedded in enough
    * TRIANGLES (support ≥ k−2), which is the stricter "is this tie
    * part of a dense bundle or just incident to a hub" test. Each
    * round recomputes per-edge support over the SURVIVING edge set and
    * drops weak edges; the readout is the shrinkage curve — (round,
    * edges, nodes) — the cohesion audit a bundle-detection consumer
    * reads before trusting q231's triangle census. Fixed rounds keep
    * the fixed-point deterministic cross-engine (the q235 discipline).
    *
    * Scale: support is NOT an adjacency-array intersection over raw
    * neighbor lists (hub arrays are unbounded) — the q231
    * degree-ordered edge-iterator closure (out-lists O(√m)) runs ONCE
    * over the founding edge set, its triangles are cached with their
    * three canonical edges, and every later round's census is the
    * founding triangles filtered to those whose edges all survive
    * (triangles of a subgraph ARE exactly the founding triangles whose
    * three edges lie in it — removing edges never creates triangles).
    * That replaces each round's degree pass + adjacency build + two
    * edge-sized hash joins + per-edge array intersection with three
    * triangle-sized equi-joins against the cached surviving edge frame
    * (round 15, guide §2.4 — remove recomputation across rounds).
    * Support is the 3-row explode + edge-keyed count as before; the
    * peel is an equi-join on the edge key. Every frame is edge- or
    * triangle-bounded. Each peeled edge set is a generation of
    * [[Iterate.rounds]]. */
  def trussPeel(spark: SparkSession, dir: String, k: Int = 4,
      rounds: Int = 2): DataFrame = {
    require(k >= 3,
      s"trussPeel implements k >= 3 semantics (a 2-truss keeps every " +
        s"edge; the inner join on support drops triangle-free edges, " +
        s"which is only correct for k >= 3) — got $k")
    val edges0 = PlanCache.tracked(
      coPurchaseEdges(spark, dir).select(col("pa"), col("pb")))
    val deg0 = edges0.select(col("pa").as("node"))
      .union(edges0.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // the founding census, one row per triangle with its three
    // canonical (min, max) edges — cached once, filtered every round
    val tri0 = PlanCache.tracked(triangleRows(edges0, deg0)
      .select(
        least(col("a"), col("b")).as("e1a"), greatest(col("a"), col("b")).as("e1b"),
        least(col("a"), col("c")).as("e2a"), greatest(col("a"), col("c")).as("e2b"),
        least(col("b"), col("c")).as("e3a"), greatest(col("b"), col("c")).as("e3b")))
    val gens = edges0 +: Iterate.rounds(edges0, rounds) { edges =>
      // the founding set censuses every founding triangle (no filter);
      // later rounds keep the founding triangles whose three edges all
      // survive
      val live = if (edges eq edges0) tri0 else tri0
        .join(edges.select(col("pa").as("e1a"), col("pb").as("e1b")), Seq("e1a", "e1b"))
        .join(edges.select(col("pa").as("e2a"), col("pb").as("e2b")), Seq("e2a", "e2b"))
        .join(edges.select(col("pa").as("e3a"), col("pb").as("e3b")), Seq("e3a", "e3b"))
      val support = live
        .select(explode(array(
          struct(col("e1a").as("pa"), col("e1b").as("pb")),
          struct(col("e2a").as("pa"), col("e2b").as("pb")),
          struct(col("e3a").as("pa"), col("e3b").as("pb")))).as("e"))
        .groupBy(col("e.pa").as("pa"), col("e.pb").as("pb"))
        .agg(count(lit(1)).as("support"))
      // an edge in no triangle has no support row: the inner join
      // drops it, which IS the k ≥ 3 peel semantics
      edges.join(support, Seq("pa", "pb"))
        .filter(col("support") >= k - 2)
        .select(col("pa"), col("pb"))
    }
    gens.zipWithIndex.map { case (edges, r) =>
      edges.select(explode(array(col("pa"), col("pb"))).as("node"))
        .agg(expr("count(1) div 2").as("n_edges"),
          count_distinct(col("node")).as("n_nodes"))
        .select(lit(r.toLong).as("round"), col("n_edges"), col("n_nodes"))
    }.reduce(_ union _)
  }

  /** GRAPH DATASHEET — the one-row structural summary read before
    * trusting any graph-derived signal: node/edge/weight totals, mean
    * degree, GLOBAL clustering coefficient (3·triangles / wedges, both
    * exact integers — wedges = Σ deg·(deg−1)/2), and the degree
    * assortativity coefficient (Pearson correlation of endpoint
    * degrees over the directed edge list — positive means hubs link
    * hubs, negative means hubs fan out to leaves; retail co-purchase
    * graphs typically read negative). Moments fold exactly through
    * Decimal(38) and the only float is the final ratio on the q195
    * op-order contract.
    *
    * Scale: the triangle closure is [[triangles]]'s edge-iterator; the
    * degree joins are node-keyed; everything folds to one row. */
  def graphSummary(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = PlanCache.tracked(coPurchaseEdges(spark, dir))
    val deg = PlanCache.tracked(
      und.select(col("pa").as("node")).union(und.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // assortativity over the directed edge list (each undirected edge
    // contributes both orientations, the standard convention)
    val ends = und
      .join(deg.select(col("node").as("pa"), col("deg").as("dx")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("dy")), Seq("pb"))
      .select(col("dx"), col("dy"))
    val sym = ends.union(ends.select(col("dy").as("dx"), col("dx").as("dy")))
    val (cx, cy) = (col("dx").cast(dec), col("dy").cast(dec))
    // three independent folds over the shared cached und/deg frames:
    // overlap their actions (guide §2.6)
    val Seq(nTriAny, degStatsAny, mAny) = Par.mapOrdered(Seq[() => Any](
      () => triangleRows(und, deg).count(),
      () => deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("deg")).as("sum_deg"),
        sum(expr("CAST(deg AS DECIMAL(38,0)) * (deg - 1) div 2")).as("n_wedges"))
        .head(),
      () => sym.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(cx * cx).as("sxx"), sum(cy * cy).as("syy"), sum(cx * cy).as("sxy"))
        .head()))(_())
    val nTri = nTriAny.asInstanceOf[Long]
    val degStats = degStatsAny.asInstanceOf[org.apache.spark.sql.Row]
    val m = mAny.asInstanceOf[org.apache.spark.sql.Row]
    val (nNodes, sumDeg, nWedges) =
      (degStats.getLong(0), degStats.getLong(1), degStats.getLong(2))
    // the q195 final-expression discipline, folded driver-side (the
    // profiler convention — every input is an exact integer scalar)
    val n = m.getLong(0).toDouble
    val sx = m.getLong(1).toDouble; val sy = m.getLong(2).toDouble
    val sxx = m.getDecimal(3).doubleValue()
    val syy = m.getDecimal(4).doubleValue()
    val sxy = m.getDecimal(5).doubleValue()
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    val cv = n * sxy - sx * sy
    val assortMicro: Option[Long] =
      if (vx > 0 && vy > 0)
        Some(BigDecimal(cv / math.sqrt(vx * vy))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000)).toLongExact)
      else None
    import spark.implicits._
    // ×1e6 folds through BigInt: degree/triangle totals at corpus
    // scale push the product past int64
    Seq((nNodes, sumDeg / 2, nTri, nWedges,
        (BigInt(sumDeg) * 1000000 / nNodes).toLong,
        if (nWedges > 0) Some((BigInt(3) * nTri * 1000000 / nWedges).toLong)
        else None,
        assortMicro))
      .toDF("n_nodes", "n_edges", "n_triangles", "n_wedges",
        "mean_degree_micro", "clustering_micro", "assortativity_micro")
  }

  /** RECOMMENDER EVALUATION — hit-rate@k of the "most co-purchased"
    * item-to-item recommender on HELD-OUT baskets: baskets split by a
    * salted hash (train ≈ 80%, test the rest — basket-level, so no
    * test pair ever leaks into the training edges), training edges are
    * the train split's co-purchase counts, and every ordered
    * (seed, target) pair inside a test basket asks "does the seed's
    * top-k co-purchase list contain the target?" — reported per k as
    * cases, hits, and hit-rate in integer micro. Cold-start seeds
    * (never purchased in train) count as misses, not exclusions — the
    * number a production recommender actually lives with.
    *
    * Scale: the candidate ranking is one window per seed part
    * (partition keys grow with the catalog); test pairs are
    * basket-width²-bounded; the metric join is rank-keyed equi. */
  def recommenderEval(spark: SparkSession, dir: String,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
    val split = pmod(graft.functions.Text.md5Hash60(
      concat_ws("-", lit("receval"), col("basket"))), lit(10L))
    val train = li.filter(split < 8)
    val test = li.filter(split >= 8).distinct()
    val und = pairDeltas(train.select(col("basket").as("l_orderkey"),
      col("item").as("l_partkey")))
    // rnk ≤ max(k) BEFORE the metric join — identical semantics (an
    // unjoined pair is already a miss; a joined pair with rank past
    // every k scores as a miss either way), and the bound turns the
    // window into the bounded-heap TopKPerGroup operator instead of a
    // full per-seed sort a hub part would pay at catalog scale
    // (PlanSpec pins the fusion)
    val ranked = directed(und, col("w"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)))
      .filter(col("rnk") <= lit(ks.max))
    val pairs = test.select(col("basket"), col("item").as("seed"))
      .join(test.select(col("basket"), col("item").as("target")), Seq("basket"))
      .filter(col("seed") =!= col("target"))
      .select(col("seed"), col("target"))
    val judged = pairs.join(ranked,
        pairs("seed") === ranked("src") && pairs("target") === ranked("dst"),
        "left")
      .select(col("seed"), col("target"), col("rnk"))
    judged
      .select(col("rnk"), explode(array(ks.map(k => lit(k)): _*)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_cases"),
        sum(when(col("rnk").isNotNull && col("rnk") <= col("k"), 1L)
          .otherwise(0L)).as("n_hits"))
      .select(col("k").cast("long").as("k"), col("n_cases"), col("n_hits"),
        // test-pair counts at corpus scale push hits·1e6 past int64
        expr("CAST(n_hits AS DECIMAL(38,0)) * 1000000 div n_cases")
          .as("hitrate_micro"))
  }

  /** BEYOND-ACCURACY RECOMMENDER EVAL — the two gauges hit-rate
    * ([[recommenderEval]]) cannot see: CATALOG COVERAGE@k (how much of
    * the part catalog ever appears in a top-k list — a recommender
    * can score a high hit-rate while funnelling every user to the
    * same fifty bestsellers) and POPULARITY BIAS (the mean popularity
    * percentile of recommended slots — 500000µ ≈ popularity-neutral,
    * near 10⁶ ≈ pure bestseller loop). One row, all integers: the
    * percentile is the dense popularity rank scaled by the catalog
    * (exact micro), the mean a Decimal(38) fold.
    *
    * Scale: the top-k lists are the q242 bounded ranking (heap-fused,
    * never a full per-seed sort); popularity is a node-sized strength
    * aggregate; both folds are 1-row. */
  def recCoverageEval(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val und = coPurchaseEdges(spark, dir)
    val sym = directed(und, col("w"))
    val ranked = PlanCache.tracked(sym
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)))
      .filter(col("rnk") <= k)
      .select(col("src"), col("dst")))
    // popularity = total co-purchase strength; dense rank ascending so
    // the strongest part sits at percentile 10⁶·(n−?)…/(n) exactly
    val pop = PlanCache.tracked(sym.groupBy(col("dst").as("part"))
      .agg(sum(col("w")).as("strength")))
    // two 1-number driver folds: catalog size (coverage denominator)
    // and graph-node count (percentile denominator — a part no one
    // co-purchased has no popularity to rank)
    val nParts = Tables(spark, dir, "part").count()
    val nNodes = pop.count()
    val pct = pop.withColumn("pop_rank",
        row_number().over(Window.orderBy(col("strength").asc, col("part").asc)))
      .select(col("part"),
        expr(s"CAST(pop_rank AS DECIMAL(38,0)) * 1000000 div $nNodes")
          .as("pop_pct_micro"))
    ranked.join(pct, ranked("dst") === pct("part"))
      .agg(count(lit(1)).as("n_slots"),
        count_distinct(col("dst")).as("n_rec_distinct"),
        expr("CAST(sum(CAST(pop_pct_micro AS DECIMAL(38,0))) div count(1)" +
          " AS BIGINT)").as("mean_pop_pct_micro"))
      .select(lit(k.toLong).as("k"), col("n_slots"), col("n_rec_distinct"),
        lit(nParts).as("n_catalog"),
        expr(s"CAST(n_rec_distinct AS DECIMAL(38,0)) * 1000000 div $nParts")
          .as("coverage_micro"),
        col("mean_pop_pct_micro"))
  }

  /** RECOMMENDATION-EXPOSURE GINI — the inequality face beside
    * [[recCoverageEval]]'s coverage/popularity gauges: how unevenly
    * the top-k slots distribute over the items that do get
    * recommended (0 = every recommended item appears equally often,
    * → 10⁶ = a handful of items absorb all exposure). Coverage can
    * look healthy while exposure is winner-take-all; this is the
    * gauge that sees it. Exact integers: with exposures sorted
    * ascending (count, then item — the house tie-break),
    * `G = Σ(2·rank − n − 1)·cnt / (n·Σcnt)`, in micro through
    * Decimal(38).
    *
    * Scale: top-k lists are the bounded heap ranking; exposures are a
    * node-sized aggregate; the rank is one single-partition window
    * over that bounded frame (the classifierAuc trade) and the Gini
    * is a 1-row fold. */
  def recExposureGini(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val und = coPurchaseEdges(spark, dir)
    val sym = directed(und, col("w"))
    val exposures = sym
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)))
      .filter(col("rnk") <= k)
      .groupBy(col("dst").as("item"))
      .agg(count(lit(1)).as("cnt"))
    exposures
      .withColumn("r", row_number().over(
        Window.orderBy(col("cnt").asc, col("item").asc)))
      .agg(count(lit(1)).as("n_items"), sum(col("cnt")).as("n_slots"),
        sum(expr("CAST(2 * r AS DECIMAL(38,0)) * cnt")).as("num2"))
      .select(lit(k.toLong).as("k"), col("n_items"), col("n_slots"),
        // G = (Σ2r·cnt − (n+1)·Σcnt) / (n·Σcnt), all positive terms
        // arranged so no intermediate goes negative
        expr("""CAST((num2 - CAST(n_items + 1 AS DECIMAL(38,0)) * n_slots)
                * 1000000 div (CAST(n_items AS DECIMAL(38,0)) * n_slots)
                AS BIGINT)""").as("gini_micro"))
  }

  /** INTRA-LIST SIMILARITY — the third beyond-accuracy gauge beside
    * coverage ([[recCoverageEval]]) and exposure inequality
    * ([[recExposureGini]]): how alike the items WITHIN one seed's
    * top-k list are, read as (a) the share of within-list pairs that
    * are themselves co-purchased and (b) their mean co-purchase
    * weight — a list of ten near-identical substitutes scores high
    * here while looking fine on hit-rate, and "accurate but
    * redundant" is the classic recommender failure this catches.
    *
    * Scale: within-list pairs are a self-join of the bounded top-k
    * frame on the seed key — k²-bounded fan-out per seed, never
    * catalog-shaped — and the similarity lookup joins the canonical
    * (pa < pb) edge list once; the readout is a 1-row exact-micro
    * fold. */
  def intraListSimilarity(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val und = PlanCache.tracked(coPurchaseEdges(spark, dir))
    val sym = directed(und, col("w"))
    val topk = PlanCache.tracked(sym
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)))
      .filter(col("rnk") <= k)
      .select(col("src"), col("dst")))
    val pairs = topk.join(
        topk.select(col("src"), col("dst").as("dst2")), Seq("src"))
      .filter(col("dst") < col("dst2"))
    pairs
      .join(und.select(col("pa").as("dst"), col("pb").as("dst2"),
          col("w").as("pw")),
        Seq("dst", "dst2"), "left")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("pw").isNotNull, 1L).otherwise(0L)).as("n_connected"),
        coalesce(sum(col("pw")), lit(0L)).as("w_sum"))
      .select(lit(k.toLong).as("k"), col("n_pairs"), col("n_connected"),
        expr("CAST(n_connected AS DECIMAL(38,0)) * 1000000 div n_pairs")
          .as("connected_micro"),
        expr("CAST(w_sum AS DECIMAL(38,0)) * 1000000 div n_pairs")
          .as("mean_w_micro"))
  }

  /** LINK-PREDICTION EVALUATION — hit-rate@k of the RESOURCE-ALLOCATION
    * index (Zhou/Lü/Zhang's RA: Σ_z 1/deg(z) over common neighbors z —
    * the integer-exact cousin of Adamic–Adar, and the stronger
    * predictor in their benchmarks) on HELD-OUT edges: the co-purchase
    * edge list is split by a salted hash (train ≈ 80%, test the rest,
    * EDGE-level — the structural-hole question "which missing links
    * close next" needs whole edges hidden, unlike q242's basket-level
    * interaction split), candidates are 2-hop pairs of the train
    * graph not already connected in train, scored by RA in exact
    * micro (1e6 div deg — integer on both engines) with
    * common-neighbor count as tiebreak, and every test edge asks both
    * directed ways "is my other endpoint in the seed's top-k
    * predicted links?". Cold-start endpoints (isolated in train)
    * count as misses, not exclusions.
    *
    * Scale: 2-hop enumeration fans out through each midpoint z as
    * (capped-adjacency)² — adjacency lists are truncated to the
    * top-[[capD]] strongest neighbors per node (the triangle family's
    * degree-bounding discipline), so a hub part contributes O(capD²)
    * wedges instead of deg² — while the RA DENOMINATOR stays the full
    * train degree, so capping narrows recall of weak candidates
    * without biasing scores. The candidate ranking is bounded to
    * rnk ≤ max(k) before the metric join (the q242 TopKPerGroup heap
    * fusion); the metric join is rank-keyed equi; the readout is
    * |ks| rows. The default cap is [[LinkPredCap]] = 16: wedge volume
    * grows as cap² per midpoint (cap 64 measured 50.7 s at sf0.1,
    * cap 16 a 16th of the pairs), and RA ranking draws its signal
    * from the STRONGEST ties — the q254 "measured against the
    * generator" discipline applied to a cost knob. */
  def linkPredictionEval(spark: SparkSession, dir: String,
      ks: Seq[Int] = Seq(1, 5, 10), capD: Int = LinkPredCap): DataFrame =
    linkPredictionOnEdges(coPurchaseEdges(spark, dir), ks, capD)

  /** [[linkPredictionEval]] read purely from the persisted graph
    * store — no corpus scan, no pair re-expansion (the
    * [[pageRankFromStore]] convention): the edge-level split needs
    * only the (pa, pb, w) frame the store already holds. */
  def linkPredictionFromStore(spark: SparkSession, storeDir: String,
      ks: Seq[Int] = Seq(1, 5, 10), capD: Int = LinkPredCap): DataFrame =
    linkPredictionOnEdges(storedEdges(spark, storeDir), ks, capD)

  /** Adjacency cap for link-prediction candidate generation — ONE
    * source of truth shared with the q261 oracle and LinkPredSpec. */
  val LinkPredCap = 16

  private[graft] def linkPredictionOnEdges(und: DataFrame,
      ks: Seq[Int], capD: Int): DataFrame = {
    val tagged = und.withColumn("h", pmod(graft.functions.Text.md5Hash60(
      concat_ws("-", lit("linkpred"), col("pa"), col("pb"))), lit(10L)))
    val train = tagged.filter(col("h") < 8).select("pa", "pb", "w")
    val test = tagged.filter(col("h") >= 8).select("pa", "pb")
    val trainSym = PlanCache.tracked(directed(train, col("w")))
    // full train degree — each undirected pair appears once per
    // orientation, so count(*) per src IS the distinct-neighbor degree
    val deg = trainSym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // cached: the wedge self-join reads this windowed frame twice
    val capped = PlanCache.tracked(trainSym
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst").asc)))
      .filter(col("rn") <= capD)
      .select(col("src"), col("dst")))
    val wedges = capped.select(col("src").as("a"), col("dst").as("z"))
      .join(capped.select(col("src").as("z"), col("dst").as("b")), Seq("z"))
      .filter(col("a") =!= col("b"))
    // RA in exact micro: Σ 1e6 div deg(z) — per-candidate sum bounded
    // by capD·1e6, comfortably int64 at any corpus size
    val scored = wedges
      .join(deg.select(col("node").as("z"), col("deg")), Seq("z"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div deg")).as("ra_micro"))
    val novel = scored.join(trainSym,
      scored("a") === trainSym("src") && scored("b") === trainSym("dst"),
      "left_anti")
    // rnk ≤ max(k) BEFORE the metric join (the q242 precedent): an
    // unjoined test pair is already a miss, and the bound turns the
    // per-seed window into the bounded-heap TopKPerGroup operator
    val ranked = novel.withColumn("rnk", row_number().over(
        Window.partitionBy(col("a")).orderBy(
          col("ra_micro").desc, col("cn").desc, col("b").asc)))
      .filter(col("rnk") <= lit(ks.max))
    val cases = test.select(col("pa").as("seed"), col("pb").as("target"))
      .union(test.select(col("pb").as("seed"), col("pa").as("target")))
    val judged = cases.join(ranked,
        cases("seed") === ranked("a") && cases("target") === ranked("b"),
        "left")
      .select(col("seed"), col("rnk"))
    judged
      .select(col("rnk"), explode(array(ks.map(k => lit(k)): _*)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_cases"),
        sum(when(col("rnk").isNotNull && col("rnk") <= col("k"), 1L)
          .otherwise(0L)).as("n_hits"))
      .select(col("k").cast("long").as("k"), col("n_cases"), col("n_hits"),
        // test-edge counts at corpus scale push hits·1e6 past int64
        expr("CAST(n_hits AS DECIMAL(38,0)) * 1000000 div n_cases")
          .as("hitrate_micro"))
  }

  /** HITS (Kleinberg's hubs-and-authorities) over the BIPARTITE
    * customer→part purchase graph — the directed-graph face beside
    * PageRank's undirected one: the co-purchase projection PageRank
    * walks cannot say WHO concentrates buying power, only which parts
    * sit central; HITS keeps the two sides distinct and lets them
    * reinforce (a hub customer is one whose basket concentrates on
    * authoritative parts; an authoritative part is one hub customers
    * buy). Fixed unrolled iterations on the integer pico grid:
    * authorities start at SCALE, each round folds hub mass
    * h(c) = Σ_p w(c,p)·a(p) then renormalizes to Σh = SCALE by
    * integer division (same for the authority leg), so both engines
    * walk the same grid (the q230 discipline — floats would drift by
    * round three).
    *
    * Scale: the edge list (customer, part, w) is persisted once and
    * re-joined 2·iters times — each leg is one equi-join plus one
    * node-sized aggregate, PageRank's canonical shuffle pair; the
    * normalizer is a 1-row fold collected driver-side and folded
    * back as a literal (never a global window over the node frame,
    * and never a lazy second plan reference — see the loop comment);
    * products ride Decimal(38)
    * (score ≤ 10¹², edge weights corpus-scale). Top-k per side is
    * the bounded rank idiom (TopKPerGroup-fused). */
  def hits(spark: SparkSession, dir: String, iters: Int = 3,
      k: Int = 25): DataFrame = {
    require(iters >= 1,
      s"hits needs at least one iteration to define hub scores (got $iters)")
    val edges = PlanCache.tracked(
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("cust"))
        .join(Tables(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey").as("part")), Seq("o_orderkey"))
        .groupBy(col("cust"), col("part")).agg(count(lit(1)).as("w")))
    val scale = PrScale
    var auth = edges.select(col("part")).distinct()
      .withColumn("a", lit(scale))
    var hub: DataFrame = null
    for (_ <- 1 to iters) {
      // 1-row scalar fold per leg, DRIVER-side (the q250 walk-PMI
      // precedent): each leg reads its raw mass frame twice — once
      // for the normalizer, once for the renormalizing join — and a
      // lazy second reference doubles the logical plan per leg, so
      // the unrolled loop's ANALYSIS cost turns exponential (measured
      // 32 s at 3 iters, sf0.01; ~3 s with the fold collected). The
      // collect is one Decimal row; the persisted frame it folds is
      // node-sized and every later reference reuses the cache.
      val hubRaw = PlanCache.tracked(edges.join(auth, Seq("part"))
        .groupBy(col("cust"))
        .agg(sum(col("w").cast("decimal(38,0)") * col("a")).as("hraw")))
      val hTot: java.math.BigDecimal =
        hubRaw.agg(sum(col("hraw"))).collect()(0).getDecimal(0)
      hub = hubRaw.select(col("cust"),
        expr(s"CAST(hraw * $scale div CAST('$hTot' AS DECIMAL(38,0))" +
          " AS BIGINT)").as("h"))
      val authRaw = PlanCache.tracked(edges.join(hub, Seq("cust"))
        .groupBy(col("part"))
        .agg(sum(col("w").cast("decimal(38,0)") * col("h")).as("araw")))
      val aTot: java.math.BigDecimal =
        authRaw.agg(sum(col("araw"))).collect()(0).getDecimal(0)
      auth = authRaw.select(col("part"),
        expr(s"CAST(araw * $scale div CAST('$aTot' AS DECIMAL(38,0))" +
          " AS BIGINT)").as("a"))
    }
    val sides = hub.select(lit("hub").as("side"), col("cust").as("key"),
        col("h").as("score_pico"))
      .union(auth.select(lit("auth").as("side"), col("part").as("key"),
        col("a").as("score_pico")))
    sides
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("side"))
          .orderBy(col("score_pico").desc, col("key").asc)))
      .filter(col("rnk") <= k)
      .select(col("side"), col("rnk").cast("long").as("rnk"), col("key"),
        col("score_pico"))
      .orderBy(col("side").asc, col("rnk").asc)
  }

  /** CONNECTED COMPONENTS of the co-purchase graph, reported as the
    * component-size histogram (the q121 shape) — the global-structure
    * census beside label propagation's community table: LPA's fixed
    * synchronous rounds find dense FAMILIES inside a component, while
    * this is the exact partition into reachability classes (how many
    * isolated pair-islands exist vs one connected catalog), the same
    * min-label fixpoint the dedup family's q49 closure computes over
    * near-dup pairs.
    *
    * Scale: delegates to [[Dedup.connectedComponents]] — per
    * iteration one join of the node-sized label frame against the
    * cached edge list plus one min-aggregate, converged when the
    * strictly-decreasing label sum repeats, iteration count bounded
    * by component diameter (co-purchase graphs are small-world —
    * single digits). Nothing pair-shaped beyond the edge list itself
    * ever materializes; the rollup is component-count-sized. */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame =
    componentHistogram(coPurchaseEdges(spark, dir))

  /** The histogram fold over an arbitrary undirected edge list —
    * shared by the in-process build and the persisted store's read
    * face (GraphStoreSpec pins equality between the two). */
  private[graft] def componentHistogram(und: DataFrame): DataFrame =
    Dedup.connectedComponents(
        und.select(col("pa").as("doc_a"), col("pb").as("doc_b")))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size")).agg(count(lit(1)).as("n_components"))

  /** [[connectedComponents]] read purely from the persisted graph
    * store — no corpus scan, no pair re-expansion (the
    * [[pageRankFromStore]] convention). */
  def connectedComponentsFromStore(spark: SparkSession, storeDir: String): DataFrame =
    componentHistogram(storedEdges(spark, storeDir))

  /** SEED-SET BFS DISTANCE — "how many co-purchase hops from the
    * promoted set" as a per-part column: fixed-frontier breadth-first
    * rounds from the `nSeeds` smallest part keys (the q236 seed
    * convention, deterministic and SF-stable), each part reported
    * with its hop distance 0..`maxHops`; parts beyond the horizon are
    * absent (the fixed-round snapshot is the deterministic contract —
    * both engines walk the same rounds).
    *
    * Scale: the PPR data movement minus the damping arithmetic — the
    * [[bfsLevels]] walk, whose early rounds ship only the seeds'
    * neighborhoods (the frontier sparsity BFS is loved for). */
  def seedDistances(spark: SparkSession, dir: String, nSeeds: Int = 3,
      maxHops: Int = 4): DataFrame = {
    import spark.implicits._
    val edges = PlanCache.tracked(directed(coPurchaseEdges(spark, dir))
      .repartition(col("src")))
    // one constant sample: the seed set is walked as a single source
    val seeds = smallestSeeds(edges, nSeeds).toDF("node")
      .select(lit(0L).as("sample"), col("node"))
    bfsLevels(edges, seeds, maxHops).select(col("node").as("part"), col("hops"))
  }

  /** Breadth-first levels over a src-partitioned directed edge list
    * from `sources` (`sample`, `node`): (`sample`, `node`, `hops`) for
    * every node within `maxHops` of its sample, `hops` the first-reach
    * distance. Per hop only the FRONTIER (new nodes, not the cumulative
    * set) joins the edge list shuffle_hash, and the anti-join that
    * strips already-reached nodes runs against the node-bounded reached
    * frame: every frame in flight is node-sized or smaller. */
  private def bfsLevels(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    var reached = PlanCache.tracked(sources.withColumn("hops", lit(0L)))
    var frontier = sources
    for (h <- 1 to maxHops) {
      val next = PlanCache.tracked(
        frontier.hint("shuffle_hash").join(edges,
            frontier("node") === edges("src"))
          .select(col("sample"), col("dst").as("node")).distinct()
          .join(reached, Seq("sample", "node"), "left_anti")
          .withColumn("hops", lit(h.toLong)))
      reached = PlanCache.tracked(reached.union(next))
      frontier = next.select(col("sample"), col("node"))
    }
    reached
  }

  /** WEIGHTED SEED DISTANCE (min-plus relaxation, the Bellman–Ford
    * rounds to [[seedDistances]]' BFS): cheapest co-purchase path cost
    * from the seed set when an edge costs the RECIPROCAL of its
    * strength (`10¹² div w` — a pair bought together often is a short
    * hop), so "near the promoted set" weighs tie strength, not just
    * hop count: two strong hops can beat one weak one, which is
    * exactly what the hop-BFS cannot see. Fixed `rounds` relaxations
    * bound path length (the deterministic snapshot contract shared by
    * every iterative operator here); parts unreachable within them
    * stay absent.
    *
    * Scale: per round the node-sized distance frame joins the
    * pre-partitioned edge list shuffle_hash and a min-aggregate folds
    * the relaxed candidates — edge-bounded movement, node-sized
    * state; min over equal costs is key-free deterministic (no
    * tie-break column needed, unlike every ranking here). */
  def weightedSeedDistances(spark: SparkSession, dir: String,
      nSeeds: Int = 3, rounds: Int = 4): DataFrame = {
    import spark.implicits._
    val und = coPurchaseEdges(spark, dir)
    val cost = expr("CAST(1000000000000 AS BIGINT) div w")
    val edges = PlanCache.tracked(
      directed(und, cost.as("cost")).repartition(col("src")))
    val seeds = smallestSeeds(edges, nSeeds)
    var dist = PlanCache.tracked(
      seeds.toDF("part").withColumn("dist_cost", lit(0L)))
    for (_ <- 1 to rounds) {
      val relaxed = dist.hint("shuffle_hash")
        .join(edges, dist("part") === edges("src"))
        .select(col("dst").as("part"), (col("dist_cost") + col("cost")).as("dist_cost"))
      dist = PlanCache.tracked(
        relaxed.union(dist).groupBy(col("part"))
          .agg(min(col("dist_cost")).as("dist_cost")))
    }
    dist
  }

  /** K-CORE PEEL CENSUS — the density-stratification read beside the
    * component census: `rounds` synchronous peeling rounds, each
    * deleting every node whose CURRENT degree is below `k` (and the
    * edges it carries), reporting per round how many nodes and edges
    * survive. The fixed-round snapshot is the determinism contract
    * (the q235 LPA convention — true k-core is this peel run to a
    * fixpoint; the census converges visibly when consecutive rows
    * repeat, and the snapshot is identical on both engines either
    * way). A collapsing row sequence says the graph is shallow
    * hub-fringe; a stable one names a dense co-purchase core worth
    * mining (the q231 triangle family's natural habitat).
    *
    * Scale: per round one degree aggregate over the surviving edge
    * list (exploded endpoints — one edge reference, the CC trick) and
    * two semi-joins back onto it — edge-bounded data movement,
    * node-sized survivor frames; the census rows fold from ONE
    * union-aggregate per round (no 1-row cross joins — the
    * no-cartesian plan rule holds engine-wide). Each peeled edge list
    * is a generation of [[Iterate.rounds]]. */
  def kCorePeel(spark: SparkSession, dir: String, k: Int = 100,
      rounds: Int = 5): DataFrame = {
    // each round's survivors, kept for its census row
    val survivors = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val gens = Iterate.rounds(PlanCache.tracked(
        coPurchaseEdges(spark, dir).select(col("pa"), col("pb"))), rounds) { edges =>
      val deg = edges.select(explode(array(col("pa"), col("pb"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val surv = PlanCache.tracked(
        deg.filter(col("deg") >= k).select(col("node")))
      survivors += surv
      edges
        .join(surv.withColumnRenamed("node", "pa"), Seq("pa"), "left_semi")
        .join(surv.withColumnRenamed("node", "pb"), Seq("pb"), "left_semi")
    }
    survivors.zip(gens).zipWithIndex.map { case ((surv, edges), i) =>
      // nodes and edges counted in ONE aggregate over a tagged union
      surv.select(lit(1L).as("t")).union(edges.select(lit(0L).as("t")))
        .agg(coalesce(sum(col("t")), lit(0L)).as("n_nodes"),
          coalesce(sum(lit(1L) - col("t")), lit(0L)).as("n_edges"))
        .select(lit(i + 1L).as("round"), col("n_nodes"), col("n_edges"))
    }.reduce(_ union _)
  }

  /** RANDOM-WALK POSITIVE-PAIR GENERATION (the node2vec/DeepWalk
    * sampling stand-in): one fixed-length walk per node over the
    * co-purchase graph, each step's neighbor chosen by a salted md5
    * draw over the node's (dst-sorted) adjacency — deterministic
    * replay on the 2⁶⁰ grid, the q67 sampler discipline, so both
    * engines walk byte-identical paths. Emits the (anchor, context)
    * co-occurrence pairs — anchor = walk start, context = each node
    * the walk visits — that feed a skip-gram/contrastive embedding
    * trainer (the [[Similarity.contrastiveTriplets]] positives, graph
    * edition); a walk that returns to its anchor contributes no
    * self-pair.
    *
    * Scale: the adjacency index (per-source neighbor rank + degree,
    * one window pass over the pre-partitioned edge list) is built
    * once and cached; each of the `walkLen` steps joins the node-
    * sized walk frame against it shuffle_hash and keeps the one
    * md5-selected neighbor, so a step's in-flight volume is bounded
    * by the edge list and its output by the node count. Nothing
    * quadratic: total emitted pairs ≤ walkLen · |nodes|. */
  def randomWalkPairs(spark: SparkSession, dir: String,
      walkLen: Int = 4): DataFrame = {
    val und = coPurchaseEdges(spark, dir)
    val sym = directed(und)
    // neighbor rank + degree share one window partitioning: one
    // exchange builds the whole index
    val bysrc = Window.partitionBy(col("src"))
    val adj = PlanCache.tracked(sym.repartition(col("src"))
      .withColumn("idx", row_number().over(bysrc.orderBy(col("dst").asc)))
      .withColumn("outdeg", count(lit(1)).over(bysrc)))
    var cur = adj.select(col("src")).distinct()
      .select(col("src").as("walk_id"), col("src").as("cur"))
    val steps = (1 to walkLen).map { k =>
      // join fans out to the node's neighbors, the draw keeps exactly
      // one: per-step cost is one pass over the edge list
      cur = PlanCache.tracked(
        cur.hint("shuffle_hash").join(adj, cur("cur") === adj("src"))
          .filter(col("idx") === pmod(graft.functions.Text.md5Hash60(
              concat_ws("-", lit("walk"), col("walk_id"), lit(k))),
            col("outdeg")) + lit(1))
          .select(col("walk_id"), col("dst").as("cur")))
      cur
    }
    steps.reduce(_ union _)
      .filter(col("cur") =!= col("walk_id"))
      .groupBy(col("walk_id").as("anchor"), col("cur").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** WALK-PAIR PMI NODE SIMILARITY: the embedding-free reading of the
    * [[randomWalkPairs]] corpus — for each anchor the top-k contexts
    * by pointwise mutual information over walk co-occurrences, i.e.
    * the node pairs a skip-gram trainer would pull together hardest.
    * Factorizing the walk-PMI matrix IS what node2vec/word2vec
    * converge to (Levy & Goldberg 2014), so this table is the
    * direct-lookup twin of the embedding pipeline: same positives,
    * no training step, exact answers.
    *
    * PMI ranking stays on the integer grid: `ln` is monotone, so
    * ordering by pmi ≡ ordering by the exact rational
    * `n_pairs·T / (ca·cb)`; the score ships as that ratio in
    * micro-units through Decimal(38) ≙ HUGEINT (no cross-engine
    * float in sight — the q85 collocation miner rounds a double log
    * and got away with it; an oracle-checked ranking shouldn't).
    *
    * Scale: pair marginals are two node-sized aggregates off the
    * cached pair frame; T folds driver-side (one row, metadata). The
    * per-anchor top-k is the `row_number ≤ k` idiom, so the
    * bounded-heap TopKPerGroup operator fuses (PlanSpec pin) and a
    * hub anchor never pays a full partition sort. */
  def walkPmiSimilarity(spark: SparkSession, dir: String,
      walkLen: Int = 4, topK: Int = 5): DataFrame = {
    val pairs = PlanCache.tracked(randomWalkPairs(spark, dir, walkLen))
    // 1-row scalar fold: a crossJoin against a 1-row aggregate plans
    // the banned BroadcastNestedLoopJoin (the q85 precedent)
    val t = pairs.agg(sum(col("n_pairs"))).collect()(0).getLong(0)
    val ca = pairs.groupBy(col("anchor")).agg(sum(col("n_pairs")).as("ca"))
    val cb = pairs.groupBy(col("context")).agg(sum(col("n_pairs")).as("cb"))
    val scored = pairs
      .join(ca, Seq("anchor"))
      .join(cb, Seq("context"))
      // n_pairs·T·1e6 tops int64 once walks leave toy scale; exact
      // through Decimal(38), truncating div ≡ DuckDB // (all positive)
      .select(col("anchor"), col("context"), col("n_pairs"),
        expr(s"CAST(n_pairs AS DECIMAL(38,0)) * $t * 1000000" +
            " div (CAST(ca AS DECIMAL(38,0)) * cb)")
          .as("pmi_rate_u"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("anchor"))
        .orderBy(col("pmi_rate_u").desc, col("context").asc)))
      .filter(col("rnk") <= topK)
      .select(col("anchor"), col("context"), col("n_pairs"),
        col("pmi_rate_u"), col("rnk").cast("long").as("rnk"))
  }

  /** SAMPLED-SOURCE BETWEENNESS (Brandes, hop-bounded) — WHICH nodes
    * do shortest paths route THROUGH: the brokerage question none of
    * the existing centralities answer (PageRank rewards being linked,
    * HITS rewards reinforcement, degree rewards popularity; a
    * low-degree part bridging two dense families outranks them all
    * here). Exact Brandes from `nSamples` md5-chosen sources, BFS
    * truncated at `maxHops` (the q251 distance-probe convention —
    * exact per source, sampled over sources, the estimator literature's
    * standard scale posture for betweenness).
    *
    * Forward: level h holds (sample, node, σ) with σ = Σ of the
    * previous level's σ over in-edges — path counts, not visits; a
    * node claimed by an earlier level is excluded by anti-join, so σ
    * counts SHORTEST paths only. Backward (the Brandes accumulation):
    * δ_h(v) = Σ_{w ∈ level h+1, v→w} σ(v)·(10⁶ + δ(w)) div σ(w) in
    * integer micro — the pair-dependency rational, truncating
    * identically on both engines; a node with no successors keeps
    * δ = 0 via the left join. Betweenness(v) = Σ_h Σ_samples δ_h(v),
    * sources excluded (they sit at level 0, which never accrues).
    * σ products ride Decimal(38) ≙ HUGEINT — hop-3 path counts
    * through hubs pass int64 long before the corpus does.
    *
    * Scale: each forward level ships only the frontier's adjacency
    * (≤ samples·edges rows, shuffle_hash against the one persisted
    * edge list); each backward level joins two adjacent level frames
    * through the same edge partitioning. Nothing node² anywhere. */
  def sampledBetweenness(spark: SparkSession, dir: String,
      nSamples: Int = 8, maxHops: Int = 3, k: Int = 25): DataFrame = {
    val edges = PlanCache.tracked(directed(coPurchaseEdges(spark, dir))
      .repartition(col("src")))
    val samples = md5Samples(edges, "btw-", nSamples)
    var reached = PlanCache.tracked(
      samples.select(col("sample"), col("sample").as("node")))
    var frontier = PlanCache.tracked(
      samples.select(col("sample"), col("sample").as("node"),
        lit(1L).cast("decimal(38,0)").as("sigma")))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    for (_ <- 1 to maxHops) {
      val next = PlanCache.tracked(
        frontier.hint("shuffle_hash").join(edges,
            frontier("node") === edges("src"))
          .groupBy(col("sample"), col("dst").as("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(reached, Seq("sample", "node"), "left_anti"))
      reached = PlanCache.tracked(
        reached.union(next.select(col("sample"), col("node"))))
      frontier = next
      levels += next
    }
    // backward accumulation, deepest level first (δ there = 0)
    var deltas = List.empty[DataFrame]
    var below = levels(maxHops).select(col("sample"), col("node"),
      col("sigma"), lit(0L).as("delta"))
    for (h <- (maxHops - 1) to 1 by -1) {
      val dep = levels(h).hint("shuffle_hash")
        .join(edges, levels(h)("node") === edges("src"))
        .select(col("sample"), col("node"), col("sigma"),
          col("dst").as("wnode"))
        .join(below.select(col("sample"), col("node").as("wnode"),
          col("sigma").as("wsigma"), col("delta").as("wdelta")),
          Seq("sample", "wnode"))
        .groupBy(col("sample"), col("node"))
        .agg(sum(expr("sigma * (1000000 + wdelta) div wsigma"))
          .cast("long").as("dep"))
      below = PlanCache.tracked(levels(h)
        .join(dep, Seq("sample", "node"), "left")
        .select(col("sample"), col("node"), col("sigma"),
          coalesce(col("dep"), lit(0L)).as("delta")))
      deltas ::= below
    }
    deltas.reduce(_ union _)
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_micro"),
        count(lit(1)).as("n_source_levels"))
      .filter(col("bc_micro") > 0)
      .select(col("node").as("part"), col("bc_micro"),
        col("n_source_levels"))
      .orderBy(col("bc_micro").desc, col("part").asc)
      .limit(k)
  }

  /** RICH-CLUB coefficient ladder — do the hubs preferentially trade
    * with EACH OTHER? φ(k) = actual edges among nodes of degree > k
    * over the possible N_k·(N_k−1)/2, reported at the power-of-two
    * threshold ladder (the q289 bucket boundaries): a rising φ says
    * the top of the catalog is an interlocked clique (one promoted
    * hub drags the rest; a hub-partition failure is a correlated
    * failure), a flat φ says hub-to-hub edges are just what their
    * degrees force. The assortativity coefficient (q239) is this ladder's
    * one-number shadow; the ladder shows WHERE the mixing turns.
    *
    * Integer exactness: an edge counts at every threshold below
    * min(deg(u), deg(v)), so the census groups edges by that min once
    * and EXPLODES the bounded threshold ladder per spine row — no
    * threshold×edges join (and no nested-loop product); φ rides
    * Decimal(38) through 2·E·10⁶ div (N·(N−1)), NULL below two club
    * members on both engines.
    *
    * Scale: degrees are one edge-list pass; the min-degree census is
    * edge-keyed map work; everything after runs on the ≤ 9-row
    * ladder. */
  def richClub(spark: SparkSession, dir: String): DataFrame = {
    val ladder = "array(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L)"
    val edges = PlanCache.tracked(
      coPurchaseEdges(spark, dir).select(col("pa"), col("pb")))
    val deg = PlanCache.tracked(edges.select(col("pa").as("node"))
      .union(edges.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // nodes with deg > t, per ladder threshold: explode the ladder
    // over the bounded degree spine
    val nodesAbove = deg.groupBy(col("deg")).agg(count(lit(1)).as("n"))
      .select(col("n"), explode(expr(
        s"filter($ladder, t -> t < deg)")).as("t"))
      .groupBy(col("t")).agg(sum(col("n")).as("n_rich"))
    // edges whose BOTH endpoints clear t: group by min(deg_u, deg_v)
    val edgesAbove = edges
      .join(deg.select(col("node").as("pa"), col("deg").as("dx")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("dy")), Seq("pb"))
      .select(least(col("dx"), col("dy")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("e"))
      .select(col("e"), explode(expr(
        s"filter($ladder, t -> t < m)")).as("t"))
      .groupBy(col("t")).agg(sum(col("e")).as("e_rich"))
    nodesAbove.join(edgesAbove, Seq("t"), "left")
      .select(col("t").as("threshold"), col("n_rich"),
        coalesce(col("e_rich"), lit(0L)).as("e_rich"),
        when(col("n_rich") >= 2, expr(
          """CAST(2 * CAST(coalesce(e_rich, 0) AS DECIMAL(38,0)) * 1000000
             div (n_rich * (n_rich - 1)) AS BIGINT)""")).as("phi_micro"))
      .orderBy(col("threshold").asc)
  }

  /** EDGE EMBEDDEDNESS census — how many triangles run through each
    * edge (Granovetter's tie strength at the structural grain), rolled
    * to a histogram with the LOCAL BRIDGES called out: support-0 edges
    * close no triangle, so they are the only local route between their
    * endpoints' neighborhoods — the ties whose loss fragments a
    * recommendation graph, and (dually) the cross-community edges LPA
    * misassigns first. This is the COMPLEMENT of [[trussPeel]]'s
    * readout: the peel keeps high-support edges and deliberately
    * drops support-0 rows (its k ≥ 3 contract); the census LEFT-joins
    * support back onto every edge with coalesce 0 so the bridge
    * population is counted, not discarded.
    *
    * Scale: one q231 degree-ordered triangle census credited to each
    * triangle's three canonical edges, one edge-keyed left join, then
    * a support-bounded histogram. */
  def edgeEmbeddedness(spark: SparkSession, dir: String): DataFrame = {
    val edges = PlanCache.tracked(
      coPurchaseEdges(spark, dir).select(col("pa"), col("pb")))
    val deg = edges.select(col("pa").as("node"))
      .union(edges.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val support = triangleRows(edges, deg)
      .select(explode(array(
        struct(least(col("a"), col("b")).as("pa"),
          greatest(col("a"), col("b")).as("pb")),
        struct(least(col("a"), col("c")).as("pa"),
          greatest(col("a"), col("c")).as("pb")),
        struct(least(col("b"), col("c")).as("pa"),
          greatest(col("b"), col("c")).as("pb")))).as("e"))
      .groupBy(col("e.pa").as("pa"), col("e.pb").as("pb"))
      .agg(count(lit(1)).as("support"))
    edges.join(support, Seq("pa", "pb"), "left")
      .select(coalesce(col("support"), lit(0L)).as("support"))
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .withColumn("total", sum(col("n_edges")).over(Window.partitionBy()))
      .select(col("support"), col("n_edges"),
        expr("n_edges * 1000000 div total").as("share_micro"),
        (col("support") === 0).as("is_local_bridge"))
      .orderBy(col("support").asc)
  }

  /** DEGREE DISTRIBUTION in log₂ buckets with the CCDF — the
    * one-glance structure readout run before ANY of the iterative
    * operators here is sized: a heavy power-law tail says "salt the
    * hub keys" (the AQE skew posture), a truncated tail says the
    * shuffle_hash joins stay balanced as-is. Buckets are
    * floor(log₂ deg) via the bit-length identity (length(bin(d)) − 1 —
    * pure integer on both engines, no log()); ccdf_micro at bucket b =
    * nodes with deg ≥ 2ᵇ · 10⁶ div total (every member of a bucket
    * ≥ b clears the 2ᵇ boundary by construction, so the cumulative
    * sum from the top IS the boundary CCDF exactly).
    *
    * Scale: one pass over the edge list to degrees (map-side
    * combined), then everything runs on the ≤ 64-row bucket spine. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val und = coPurchaseEdges(spark, dir)
    und.select(col("pa").as("node"))
      .union(und.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .select((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_nodes"))
      .withColumn("total", sum(col("n_nodes")).over(Window.partitionBy()))
      .withColumn("at_or_above", sum(col("n_nodes")).over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bucket"),
        expr("CAST(1 AS BIGINT) << CAST(bucket AS INT)").as("lo_degree"),
        col("n_nodes"),
        expr("at_or_above * 1000000 div total").as("ccdf_micro"))
      .orderBy(col("bucket").asc)
  }

  /** SAMPLED HARMONIC CENTRALITY — "which nodes are CLOSE to
    * everything": H(v) = Σₛ 1/d(s,v) over the q251 md5-chosen source
    * sample, truncated at the same hop horizon — the closeness face
    * the centrality family still lacked (PageRank scores mass, HITS
    * scores endorsement, betweenness scores brokerage; harmonic
    * scores REACH, and unlike classic closeness it is defined on
    * disconnected graphs because unreached pairs contribute 0, not
    * ∞). Per (source, node) the first-reach hop is recorded by the
    * same anti-join BFS [[sampledNeighborhood]] runs; the readout
    * folds 10⁶ div hops per node. Self-distances are excluded.
    *
    * Scale: identical data movement to q251 — per hop one
    * frontier⋈edges shuffle_hash against the pre-partitioned edge
    * list, frontiers carry only sampled neighborhoods; the readout is
    * one node-sized aggregate and a TopKPerGroup-shaped rank. */
  def sampledHarmonic(spark: SparkSession, dir: String,
      nSamples: Int = 8, maxHops: Int = 3, k: Int = 25): DataFrame = {
    bfsFromSamples(spark, dir, nSamples, maxHops).filter(col("hops") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_sources"),
        sum(expr("1000000 div hops")).as("h_micro"))
      .select(col("node").as("part"), col("n_sources"), col("h_micro"))
      .orderBy(col("h_micro").desc, col("part").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("h_micro").desc, col("part").asc)))
      .select(col("rank"), col("part"), col("n_sources"), col("h_micro"))
  }

  /** SAMPLED-SOURCE NEIGHBORHOOD FUNCTION (exact twin of
    * [[neighborhoodSketch]]): for `nSamples` md5-chosen parts, the
    * exact ball size |B(v, h)| at each hop h ≤ `maxHops` — the
    * distance-distribution probe behind "what's the effective
    * diameter of the co-purchase graph", answered the way ANF-style
    * estimators validate themselves: exact BFS from a deterministic
    * source sample. Sampling sources (not sketching all nodes) keeps
    * the answer exact; the sketch twin covers every node at once.
    *
    * Scale: the [[bfsLevels]] walk — the cumulative reached frame is
    * ≤ samples·nodes rows — read once, each row counted in the balls
    * of every radius from its hop to `maxHops`. */
  def sampledNeighborhood(spark: SparkSession, dir: String,
      nSamples: Int = 8, maxHops: Int = 3): DataFrame = {
    // a node first reached at hop d lies in every ball of radius ≥ d
    bfsFromSamples(spark, dir, nSamples, maxHops)
      .select(col("sample").as("part"), explode(
        sequence(greatest(col("hops"), lit(1L)), lit(maxHops.toLong))).as("hops"))
      .groupBy(col("part"), col("hops")).agg(count(lit(1)).as("ball_n"))
  }

  /** [[bfsLevels]] over the co-purchase graph from the `anf-` md5
    * source sample that [[sampledNeighborhood]] and [[sampledHarmonic]]
    * share. */
  private def bfsFromSamples(spark: SparkSession, dir: String,
      nSamples: Int, maxHops: Int): DataFrame = {
    val edges = PlanCache.tracked(directed(coPurchaseEdges(spark, dir))
      .repartition(col("src")))
    val samples = PlanCache.tracked(md5Samples(edges, "anf-", nSamples))
    bfsLevels(edges, samples.select(col("sample"), col("sample").as("node")),
      maxHops)
  }

  /** Register count for the neighborhood sketch: 2⁵ = 32 registers,
    * ±18 % per-node standard error — the readout aggregates thousands
    * of per-node estimates, so the hop totals concentrate far
    * tighter; the exact twin [[sampledNeighborhood]] is the
    * ground-truth check. Kept deliberately small because HyperBall's
    * per-round cost multiplies the edge list by the per-node register
    * count. */
  val AnfRegisterBits = 5
  val AnfRegisters: Int = 1 << AnfRegisterBits // 32
  val AnfRestBits: Int = 60 - AnfRegisterBits // 55

  /** α·m²·2⁵⁶ — the raw-HLL estimator numerator, frozen as ONE
    * integer so both engines divide identical integers (the per-node
    * estimate is `Num div raw` in WHOLE units — micro units would
    * cross int64 for ~4·10⁸-node balls; whole units hold to 10¹³ —
    * exact integer division, no cross-engine float anywhere). 2⁵⁶ is
    * the register-term scale: an untouched register contributes 2⁵⁶,
    * a register holding rho contributes 2^(56−rho), rho ∈ [1, 56]. */
  val AnfNumerator: BigInt = {
    val m = AnfRegisters
    val alpha = 0.7213 / (1 + 1.079 / m)
    (BigDecimal(alpha * m * m) * BigDecimal(2).pow(56))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
  }

  /** Linear-counting lookup `round(m·ln(m/z))` for z empty registers
    * — the small-range branch, frozen as literals so the branch is
    * integer-only on both engines (whole-unit rounding is far inside
    * the sketch's ±18 % per-node error). */
  val AnfLinearCount: IndexedSeq[Long] = {
    val m = AnfRegisters
    (1 until m).map(z =>
      BigDecimal(m * math.log(m.toDouble / z))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
  }

  /** The `CASE zeros … END` literal table shared with the oracle. */
  private[graft] def anfLcCase(zerosCol: String): String =
    s"CASE $zerosCol " + AnfLinearCount.zipWithIndex.map {
      case (v, i) => s"WHEN ${i + 1} THEN ${v}"
    }.mkString(" ") + " ELSE 0 END"

  /** NEIGHBORHOOD-FUNCTION SKETCH (HyperBall, Boldi-Rosa-Vigna
    * 2011): every node carries a 32-register HLL of its h-hop ball;
    * one round ORs each node's registers into its neighbors', so
    * after h rounds register r of node v holds the max rho any node
    * within distance h hashed into r. Readout per hop: node count,
    * total estimated ball mass Σ|B(v,h)| (the ANF curve whose knee is
    * the effective diameter) and the mean ball size in micro-units.
    * Estimates follow the [[Sketches]] discipline — integer register
    * sums, the frozen [[AnfNumeratorMicro]] numerator, the frozen
    * linear-counting table for the small-range branch — so both
    * engines compute identical integers.
    *
    * Scale: state is ≤ nodes·m rows; a round explodes each edge by
    * its dst's CURRENT register count (≤ m) but the map-side partial
    * max collapses that fan-out to ≤ nodes·m before the shuffle —
    * the classic HyperBall trade (m × edge CPU for node-bounded
    * memory and exactly h rounds, vs exact BFS's frontier²
    * blow-up). Self-loops ride the cached edge list so each round
    * references the register frame ONCE (plans stay linear in h —
    * the kCore lesson). Measured ≈linear in edges at 10× data
    * (11.7×, the q231/q239 edge-iterator curve); if hop counts ever
    * grow past the small-world 3, the next lever is HyperBall's
    * systolic delta — ship only registers that changed last round
    * (most stop changing once balls saturate), at the price of one
    * anti-join per round. */
  def neighborhoodSketch(spark: SparkSession, dir: String,
      maxHops: Int = 3): DataFrame =
    neighborhoodSketchOnEdges(coPurchaseEdges(spark, dir), maxHops)

  /** The q252 sketch over the persisted store's live edges — the
    * read-face twin [[pageRankFromStore]]/[[connectedComponentsFromStore]]
    * established: maintenance appends deltas, analytics read the sum. */
  def neighborhoodSketchFromStore(spark: SparkSession, storeDir: String,
      maxHops: Int = 3): DataFrame =
    neighborhoodSketchOnEdges(storedEdges(spark, storeDir), maxHops)

  private[graft] def neighborhoodSketchOnEdges(und: DataFrame,
      maxHops: Int): DataFrame = {
    val m = AnfRegisters
    val sym = directed(und)
    val nodes = sym.select(col("src")).distinct()
    // self-loops let the round's single join carry the "keep your own
    // registers" leg, so each round references the iterated frame once
    val edges = PlanCache.tracked(
      sym.union(nodes.select(col("src"), col("src").as("dst")))
        .repartition(col("dst")))
    val h0 = graft.functions.Text.md5Hash60(
      concat(lit("anfreg-"), col("src").cast("string")))
    // PACKED register state: one m-byte blob per node (byte i = max
    // rho seen by register i). The first, per-register form shipped
    // m rows per edge per round; the blob form ships ONE — measured
    // 16.7 s → ~5 s at sf0.1 — with [[graft.functions.RegsMax]]'s
    // element-wise byte max as the round's merge aggregate. The
    // founding blob is built with string built-ins (hex pad → unhex),
    // so everything stays codegen'd; the DuckDB oracle keeps the
    // (node, reg, rho) grain — identical registers, identical
    // integers, the packing is invisible to the differential test.
    var regs = PlanCache.tracked(nodes
      .select(col("src").as("node"), pmod(h0, lit(m.toLong)).as("reg"),
        call_function("shiftright", h0, lit(AnfRegisterBits)).as("rest"))
      .select(col("node"), col("reg"),
        when(col("rest") === 0, lit(AnfRestBits + 1))
          .otherwise(lit(AnfRestBits + 1) - length(bin(col("rest"))))
          .cast("long").as("mrho"))
      .select(col("node"), expr(
        s"unhex(concat(repeat('00', CAST(reg AS INT)), lpad(hex(mrho), 2, '0')," +
          s" repeat('00', ${m - 1} - CAST(reg AS INT))))").as("regs")))
    // blob → per-node (zeros, sumpow) as UNROLLED plain expressions —
    // the transform/filter/aggregate lambda form evaluated every
    // register walk inside interpreted CodegenFallback HOFs (the q218
    // lesson); m is a compile-time constant, so the 32 byte terms
    // unroll into one codegen'd sum. hex(regs) is projected once and
    // the per-register rho is substr(hx, i*2+1, 2) exactly as before.
    def rhoAt(i: Int) =
      s"CAST(conv(substr(hx, ${i * 2 + 1}, 2), 16, 10) AS BIGINT)"
    val sumpowExpr = (0 until m).map(i =>
      s"IF(${rhoAt(i)} > 0, shiftleft(CAST(1 AS BIGINT)," +
        s" CAST(56 - ${rhoAt(i)} AS INT)), CAST(0 AS BIGINT))")
      .mkString("(", " + ", ")")
    val zerosExpr = "CAST(" + (0 until m).map(i =>
      s"IF(${rhoAt(i)} = 0, 1, 0)").mkString("(", " + ", ")") + " AS BIGINT)"
    // linear counting when the raw estimate is under 2.5m AND a
    // register is still empty — integer branch, identical both engines
    val estN =
      when(col("zeros") > 0 && col("est_raw") <= lit((5L * m) / 2),
        expr(anfLcCase("zeros"))).otherwise(col("est_raw")).as("est_n")
    val rows = (1 to maxHops).map { h =>
      regs = PlanCache.tracked(
        regs.hint("shuffle_hash").join(edges, regs("node") === edges("dst"))
          .groupBy(col("src").as("node2"))
          .agg(graft.functions.RegsMax.regsMax(col("regs")).as("regs"))
          .select(col("node2").as("node"), col("regs")))
      val perNode = regs
        .select(col("node"), hex(col("regs")).as("hx"))
        .select(col("node"), expr(zerosExpr).as("zeros"),
          expr(sumpowExpr).as("sumpow"))
        .select(col("node"), col("zeros"),
          expr(s"CAST('$AnfNumerator' AS DECIMAL(38,0))" +
            s" div (sumpow + zeros * ${1L << 56})").as("est_raw"))
        .select(col("node"), estN)
      perNode.agg(count(lit(1)).as("n_nodes"),
          // Σ est over 10⁹ nodes × 10⁹-node balls tops int64: widen
          expr("CAST(sum(CAST(est_n AS DECIMAL(38,0))) div 1" +
            " AS BIGINT)").as("anf_total"),
          expr("CAST(sum(CAST(est_n AS DECIMAL(38,0))) * 1000000" +
            " div count(*) AS BIGINT)").as("mean_ball_u"))
        .select(lit(h.toLong).as("hops"), col("n_nodes"),
          col("anf_total"), col("mean_ball_u"))
    }
    rows.reduce(_ union _)
  }

  // ---- persisted co-purchase graph store ------------------------------

  /** Found the durable co-purchase graph: one (pa, pb, w) edge-DELTA
    * table. Co-purchase weights are ADDITIVE over baskets, so the
    * store is append-only by construction — a crawl of new orders
    * appends its own within-basket pair counts and no old row is ever
    * rewritten; readers sum deltas per edge. At 100 TB the pair
    * expansion (the expensive scan) runs once per order, ever.
    *
    * Founding IS the first reconcile ([[reconcileGraphStore]] on an
    * empty store): it writes the `baskets` ledger alongside the edge
    * deltas, so a store founded here and later handed to the
    * scheduled reconcile job sees every founding basket as already
    * expanded — the round-10 advice found the ledger-less founding
    * silently double-counted every edge on the first reconcile. */
  def foundGraphStore(spark: SparkSession, dir: String, storeDir: String): Unit = {
    reconcileGraphStore(spark, dir, storeDir); ()
  }

  /** Append basket keys to the store's expansion ledger — every
    * ingest face (found/reconcile, batch append, stream) records the
    * baskets it expanded, so the faces compose: whichever face landed
    * a basket first, reconcile's anti-join sees it as done. Duplicate
    * ledger rows are harmless (the anti-join reads presence). Always
    * called AFTER the delta write: a crash between the two leaves the
    * basket unclaimed, and the face's retry contract (content-derived
    * partition key / checkpoint replay) re-lands the same delta
    * partition idempotently before claiming it. */
  private[graft] def appendLedger(baskets: DataFrame, storeDir: String): Unit =
    Atomic.append(baskets, storeDir, "baskets")

  /** One shared write convention for EVERY graph-store edge write:
    * deltas land under `ingest_batch=<key>` with dynamic partition
    * overwrite, so (a) all ingest faces (found / batch append /
    * stream / reconcile) and compaction produce ONE parquet layout —
    * bare files mixed with partition dirs would break discovery — and
    * (b) a write retried with the same deterministic key REPLACES its
    * own partition instead of double-counting deltas. */
  private[graft] def writeDeltas(deltas: DataFrame, target: String,
      batchKey: String): Unit =
    deltas.withColumn("ingest_batch", lit(batchKey))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(target)

  /** A deterministic, content-derived partition key for a basket
    * increment: (count, min, max, id-sum) of its baskets — identical
    * on exact retry (idempotent rewrite), and distinct across the
    * disjoint basket sets the append contract guarantees. */
  private def batchKeyOf(lineitemBatch: DataFrame): (Long, String) = {
    val s = lineitemBatch
      .select(col("l_orderkey").as("basket")).distinct()
      .agg(count(lit(1)), min(col("basket")), max(col("basket")),
        sum(col("basket"))).head()
    if (s.getLong(0) == 0) (0L, "empty")
    else (s.getLong(0),
      s"${s.getLong(0)}-${s.getLong(1)}-${s.getLong(2)}-${s.getLong(3)}")
  }

  /** Append one increment of COMPLETE new baskets. The contract is
    * basket-atomicity: pairs form within an order, so every line of an
    * order must arrive in the same increment — an order split across
    * two appends would silently miss its cross-append pairs (the
    * [[Dedup.appendToStoredIndex]] append-the-batch-first discipline,
    * transposed). An exact retry rewrites its own partition (the
    * content-derived key). Store contract: [[Atomic]]. */
  def appendToGraphStore(lineitemBatch: DataFrame, storeDir: String): Unit = {
    val (n, key) = batchKeyOf(lineitemBatch)
    if (n > 0) {
      writeDeltas(pairDeltas(lineitemBatch),
        Atomic.resolve(lineitemBatch.sparkSession, storeDir, "edges"),
        s"append-$key")
      // claim the baskets in the ledger AFTER the deltas land, so a
      // mixed append+reconcile maintenance schedule never re-expands
      // them (see [[appendLedger]] for the crash-order contract)
      appendLedger(lineitemBatch.select(col("l_orderkey").as("basket"))
        .distinct(), storeDir)
    }
  }

  /** The store's merged edge view: per-edge delta sum, tombstoned
    * parts excluded from EITHER endpoint (right-to-be-forgotten blinds
    * a part's entire neighborhood immediately; [[compactGraphStore]]
    * erases it physically). */
  def storedEdges(spark: SparkSession, storeDir: String): DataFrame =
    Atomic.live(spark, storeDir, "edges", "pa", "pb")
      .groupBy(col("pa"), col("pb")).agg(sum(col("w")).as("w"))

  /** The store's ingest epochs: one row per `ingest_batch` partition
    * with its edge-delta count — the axis [[storedEdgesWhere]] windows
    * over. Listing is partition-directory-sized. */
  def ingestBatches(spark: SparkSession, storeDir: String): DataFrame =
    Atomic.live(spark, storeDir, "edges")
      .groupBy(col("ingest_batch")).agg(count(lit(1)).as("n_deltas"))

  /** EPOCH-WINDOWED read face: [[storedEdges]] restricted to the
    * ingest batches `pred` admits — "the graph as of those ingest
    * epochs", the time axis the evolution gauges compare over.
    * `ingest_batch` is the delta layout's PARTITION column, so the
    * predicate prunes at the directory level: a two-epoch window over
    * a thousand-epoch store reads two directories, never the store.
    * Tombstones still apply (a forgotten part is blind in EVERY
    * window — RTBF has no as-of exemption). Compaction collapses all
    * prior epochs into one `compacted` partition: the store keeps
    * epoch resolution only SINCE the last compaction, by design —
    * retention of the full epoch axis is a compaction-schedule
    * decision, not a read-face one. */
  def storedEdgesWhere(spark: SparkSession, storeDir: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    Atomic.live(spark, storeDir, "edges", "pa", "pb").filter(pred)
      .groupBy(col("pa"), col("pb")).agg(sum(col("w")).as("w"))
  }

  /** PageRank read purely from the store — no corpus scan, no pair
    * re-expansion; semantics equal [[pageRank]] over the same orders
    * (spec-pinned bit equality). */
  def pageRankFromStore(spark: SparkSession, storeDir: String,
      iters: Int = 5, k: Int = 25): DataFrame =
    pageRankOnEdges(storedEdges(spark, storeDir), iters, k)

  /** RECONCILE the store against the orders of record — the
    * maintenance entry point `graphTasks` schedules: a `baskets`
    * LEDGER beside the edges records every basket already expanded,
    * so each run appends only the baskets the store lacks (an
    * anti-join on the basket key — a run over an unchanged corpus is
    * a no-op and work per run is O(increment), the annIndexTasks
    * reconcile discipline). Founding is the first reconcile: an empty
    * ledger admits every basket. Basket-atomicity holds by
    * construction — a basket is expanded the run it first appears,
    * whole, and never again.
    *
    * Crash safety: the edge deltas and the ledger are two writes, so
    * the deltas land under the content-derived partition key
    * (DETERMINISTIC in (corpus, ledger)) and the ledger commits
    * AFTER. A crash between them makes the rerun recompute the same
    * increment and OVERWRITE its own partition: no double-counted
    * delta, no lost basket. Returns the number of baskets appended. */
  def reconcileGraphStore(spark: SparkSession, dir: String,
      storeDir: String): Long = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val allBaskets = li.select(col("l_orderkey").as("basket")).distinct()
    val newBaskets = Atomic.existing(spark, storeDir, "baskets")
      .fold(allBaskets)(allBaskets.join(_, Seq("basket"), "left_anti"))
    val increment = li.join(
      newBaskets.withColumnRenamed("basket", "l_orderkey"),
      Seq("l_orderkey"), "left_semi")
    val (n, key) = batchKeyOf(increment)
    if (n > 0) {
      writeDeltas(pairDeltas(increment),
        Atomic.resolve(spark, storeDir, "edges"), s"recon-$key")
      appendLedger(newBaskets, storeDir)
    }
    n
  }

  /** Compact the edge store: collapse append-accumulated deltas to one
    * row per surviving edge, minus tombstoned parts' edges (the
    * durable erasure — [[Atomic.compact]]). */
  def compactGraphStore(spark: SparkSession, storeDir: String,
      numFiles: Int = 8): Unit = {
    Atomic.compact(spark, storeDir)(_.publish("edges") { staged =>
      // keep the shared partitioned layout: the collapsed deltas are
      // one "compacted" partition future appends sit beside
      writeDeltas(storedEdges(spark, storeDir).repartition(numFiles),
        staged, "compacted")
    })
    // the ledger accumulates one small file per ingest (stream batches
    // especially) — collapse it on the same maintenance schedule; a
    // tombstoned part's BASKETS stay in the ledger deliberately (the
    // baskets happened; only the part's edges are erased)
    Atomic.existing(spark, storeDir, "baskets").foreach { ledger =>
      Atomic.publish(spark, storeDir, "baskets") { staged =>
        ledger.distinct().repartition(numFiles).write.parquet(staged)
      }
    }
  }
}
