package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted entity-resolution store contract: two appends then a
  * read must equal the full-run clustering over the union (the
  * store-probe ≡ full-run statement), the batch side of each append
  * is the only side ever re-expanded, and right-to-be-forgotten
  * tombstones blind the closure immediately and erase physically at
  * compaction — the band-index lifecycle, instantiated on the
  * identity column. */
class EntityStoreSpec extends SparkSpec {
  import spark.implicits._

  private def clusters(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("two appends reproduce the full-run cluster set exactly") {
    val storeDir = Files.createTempDirectory("graft_er_store").toString
    val names = Tables(spark, sf, "customer")
      .selectExpr("c_custkey AS id", "c_name AS name")
    // split so near-match pairs exist WITHIN each batch and ACROSS the
    // two batches (sequential customer names differ in trailing digits,
    // so id-range halves put some chains on the boundary)
    val mid = names.agg(expr("percentile_approx(id, 0.5)")).first().getLong(0)
    Dedup.appendToEntityStore(names.filter(col("id") <= mid), storeDir)
    Dedup.appendToEntityStore(names.filter(col("id") > mid), storeDir)
    val got = clusters(Dedup.entityClustersFromStore(spark, storeDir))
    val want = clusters(Dedup.entityClustersOf(names))
    assert(want.nonEmpty, "fixture produced no clusters — split is vacuous")
    assert(got == want)
  }

  test("cross-batch chains close: a pair split across appends still merges") {
    val storeDir = Files.createTempDirectory("graft_er_chain").toString
    // 1~2 within batch 1; 2~3 across batches; 3~4 within batch 2:
    // the closure must produce ONE 4-member entity even though no
    // single append ever saw all four
    Dedup.appendToEntityStore(
      Seq((1L, "alice"), (2L, "alicx")).toDF("id", "name"), storeDir)
    Dedup.appendToEntityStore(
      Seq((3L, "alicxe"), (4L, "alicxz"), (10L, "bob")).toDF("id", "name"),
      storeDir)
    val got = clusters(Dedup.entityClustersFromStore(spark, storeDir))
    assert(got == Set((1L, 4L, "alice")))
  }

  test("forget blinds the closure at once and compaction erases physically") {
    val storeDir = Files.createTempDirectory("graft_er_forget").toString
    // a STRICT chain: alice ~ alicx (sub) ~ alibx (sub); alice↔alibx
    // are at distance 2 and share no deletion variant, so the ONLY
    // link between 1 and 3 runs through 2
    Dedup.appendToEntityStore(
      Seq((1L, "alice"), (2L, "alicx"), (3L, "alibx"),
        (20L, "carol"), (21L, "carol")).toDF("id", "name"), storeDir)
    assert(clusters(Dedup.entityClustersFromStore(spark, storeDir)) ==
      Set((1L, 3L, "alice"), (20L, 2L, "carol")))
    // forgetting the chain's middle member splits it: 1 and 3 lose
    // their bridge and drop out of the pair graph entirely
    graft.operators.Atomic.forget(spark, storeDir, Seq(2L))
    assert(clusters(Dedup.entityClustersFromStore(spark, storeDir)) ==
      Set((20L, 2L, "carol")))
    // a post-forget append never pairs against the tombstoned id:
    // "alicy" is within 1 edit of BOTH "alice" (1) and the tombstoned
    // "alicx" (2) — it must link to 1 only, and must NOT bridge the
    // split chain back to 3 through the forgotten member
    Dedup.appendToEntityStore(Seq((5L, "alicy")).toDF("id", "name"), storeDir)
    assert(clusters(Dedup.entityClustersFromStore(spark, storeDir)) ==
      Set((1L, 2L, "alice"), (20L, 2L, "carol")))
    // compaction: physical erasure from all three tables + tombstone
    // clear; the readout is unchanged afterwards
    Dedup.compactEntityStore(spark, storeDir)
    Seq("names", "variants", "absorbed").foreach { t =>
      assert(!spark.read
        .parquet(graft.operators.Atomic.resolve(spark, storeDir, t))
        .select("id").collect().map(_.getLong(0)).contains(2L),
        s"victim still on disk in $t")
    }
    val edges = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, storeDir, "edges"))
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(!edges.contains(2L), "victim still on disk in edges")
    assert(graft.operators.Atomic.tombstones(spark, storeDir).isEmpty)
    assert(clusters(Dedup.entityClustersFromStore(spark, storeDir)) ==
      Set((1L, 2L, "alice"), (20L, 2L, "carol")))
  }

  test("a crash between the names append and the edges append replays clean") {
    val storeDir = Files.createTempDirectory("graft_er_crash").toString
    val batch1 = Seq((1L, "alice"), (2L, "alicx")).toDF("id", "name")
    val batch2 = Seq((3L, "alicxe"), (4L, "alicxz")).toDF("id", "name")
    Dedup.appendToEntityStore(batch1, storeDir)
    // simulate the crashed batch-2 append: names landed, then the
    // process died before variants/edges/absorbed — the exact window
    // the round-13 protocol marked "done" forever
    batch2.write.mode("append")
      .parquet(graft.operators.Atomic.resolve(spark, storeDir, "names"))
    // the absorbed marker does NOT contain the crashed batch, so a
    // maintenance pass re-offers it; the replay must derive the
    // missing edges without duplicating the names rows
    val absorbed = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, storeDir, "absorbed"))
      .collect().map(_.getLong(0)).toSet
    assert(absorbed == Set(1L, 2L))
    Dedup.appendToEntityStore(batch2, storeDir)
    val got = clusters(Dedup.entityClustersFromStore(spark, storeDir))
    val want = clusters(Dedup.entityClustersOf(batch1.unionByName(batch2)))
    assert(got == want)
    assert(got == Set((1L, 4L, "alice")))
    val nameRows = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, storeDir, "names"))
      .collect().map(_.getLong(0)).toSeq
    assert(nameRows.sorted == Seq(1L, 2L, 3L, 4L), "names rows duplicated")
  }

  test("re-appending an absorbed batch is a no-op (idempotent replay)") {
    val storeDir = Files.createTempDirectory("graft_er_idem").toString
    val batch = Seq((1L, "alice"), (2L, "alicx"), (9L, "zed")).toDF("id", "name")
    Dedup.appendToEntityStore(batch, storeDir)
    val before = clusters(Dedup.entityClustersFromStore(spark, storeDir))
    Dedup.appendToEntityStore(batch, storeDir)
    assert(clusters(Dedup.entityClustersFromStore(spark, storeDir)) == before)
    Seq("names" -> 3, "absorbed" -> 3).foreach { case (t, n) =>
      val c = spark.read
        .parquet(graft.operators.Atomic.resolve(spark, storeDir, t)).count()
      assert(c == n, s"$t has $c rows after double append, want $n")
    }
    val edgeRows = spark.read
      .parquet(graft.operators.Atomic.resolve(spark, storeDir, "edges"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edgeRows.sorted == Seq((1L, 2L)), "edges duplicated on replay")
  }
}
