package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Persisted JL-index contract: the stored probe equals the
  * in-process q297 operator bit-for-bit, appends under the founding
  * codebook keep that equality, and right-to-be-forgotten tombstones
  * blind the probe at once and erase physically at compaction. */
class JlStoreSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

  test("stored probe equals the in-process operator; appends keep the equality") {
    val indexDir = Files.createTempDirectory("graft_jl_store").toString
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val want = rows(Similarity.jlIvfTopK(spark, sf))
    // found on the FIRST HALF (covers the vec_id < 16 codebook
    // members), append the rest: the founding codebook fixes cell
    // geometry, so the two-step build must reproduce the one-shot run
    val mid = emb.agg(expr("percentile_approx(vec_id, 0.5)")).first().getLong(0)
    Similarity.foundJlIndex(emb.filter(col("vec_id") <= mid), indexDir)
    Similarity.appendToJlIndex(emb.filter(col("vec_id") > mid), indexDir)
    val got = rows(Similarity.jlIvfAgainstStoredIndex(spark, indexDir,
      queries, emb))
    assert(got == want)
    graft.operators.PlanCache.release()
  }

  test("streamed jlproj probes exactly like the in-process operator; restart never double-assigns") {
    val emb = Tables(spark, sf, "embeddings")
    val src = Files.createTempDirectory("graft_jlstream_src").toString
    val idx = Files.createTempDirectory("graft_jlstream_idx").toString
    val ckpt = Files.createTempDirectory("graft_jlstream_ckpt").toString
    // found the codebook only — the stream owns jlproj
    Similarity.foundJlCodebook(emb, idx)
    emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
      .coalesce(1).write.mode("append").json(src)
    val q1 = graft.streaming.JlStream.start(spark, src, idx, ckpt)
    try q1.awaitTermination() finally q1.stop()
    // restart with the rest appended: only the new files process
    emb.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
      .coalesce(1).write.mode("append").json(src)
    val q2 = graft.streaming.JlStream.start(spark, src, idx, ckpt)
    try q2.awaitTermination() finally q2.stop()
    val proj = spark.read.parquet(s"$idx/jlproj")
    assert(proj.count() == emb.count(), "every vector assigned exactly once")
    assert(proj.select("vec_id").distinct().count() == emb.count())
    val got = rows(Similarity.jlIvfAgainstStoredIndex(spark, idx,
      emb.filter(col("vec_id") < 10), emb))
    val want = rows(Similarity.jlIvfTopK(spark, sf))
    graft.operators.PlanCache.release()
    assert(got == want,
      "JSON float round-trip + streamed projection must replay the batch tier")
    assert(want.nonEmpty)
  }

  test("forget blinds the stored probe at once; compaction erases and probes are unchanged") {
    val indexDir = Files.createTempDirectory("graft_jl_forget").toString
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.foundJlIndex(emb, indexDir)
    val before = rows(Similarity.jlIvfAgainstStoredIndex(spark, indexDir,
      queries, emb))
    assert(before.nonEmpty)
    // forget a returned candidate: every row naming it must go, and
    // lower-ranked survivors take its place (ranks stay dense 1..k)
    val victim = before.head._2
    graft.operators.Atomic.forget(spark, indexDir, Seq(victim))
    val after = rows(Similarity.jlIvfAgainstStoredIndex(spark, indexDir,
      queries, emb))
    assert(!after.exists(_._2 == victim))
    assert(after.groupBy(_._1).values.forall(_.map(_._4).sorted == (1 to 5)))
    // compaction: physical erasure + tombstone clear, probe unchanged
    Similarity.compactJlIndex(spark, indexDir)
    assert(!spark.read
      .parquet(graft.operators.Atomic.resolve(spark, indexDir, "jlproj"))
      .select("vec_id").collect().map(_.getLong(0)).contains(victim),
      "victim still on disk in jlproj")
    assert(graft.operators.Atomic.tombstones(spark, indexDir).isEmpty)
    val compacted = rows(Similarity.jlIvfAgainstStoredIndex(spark, indexDir,
      queries, emb))
    assert(compacted == after)
    graft.operators.PlanCache.release()
  }
}
