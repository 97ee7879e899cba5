package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexOps, Sketches, Similarity}

/** The cross-index ops report: row/file/tombstone counts must replay
  * direct reads for every store kind, and compaction must show up as
  * fewer files and zero tombstones. */
class IndexOpsSpec extends SparkSpec {

  test("report counts rows, files, and tombstones across the store family") {
    val band = Files.createTempDirectory("graft_ixops_band").toString
    val codes = Files.createTempDirectory("graft_ixops_codes").toString
    val sketch = Files.createTempDirectory("graft_ixops_sketch").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val emb = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    Dedup.appendToStoredIndex(docs, band)
    Similarity.foundCodeIndex(emb.filter(col("vec_id") % 2 === 0), codes)
    Similarity.appendToCodeIndex(emb.filter(col("vec_id") % 2 =!= 0), codes)
    Sketches.foundSketchStore(docs.join(
      Tables(spark, sf, "documents").select("doc_id", "source"), "doc_id"), sketch)
    graft.operators.Atomic.forget(spark, codes, Seq(7L))

    def rep(): Map[(String, String), (Long, Long, Long)] =
      IndexOps.report(spark,
        Map("band" -> band, "codes" -> codes, "sketch" -> sketch)).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val r1 = rep()
    // every artifact of every store appears; rows replay direct reads
    assert(r1.keySet == Set(("band", "hashed"), ("band", "bands"),
      ("codes", "codes"), ("sketch", "registers")))
    assert(r1(("codes", "codes"))._1 == emb.count())
    assert(r1(("codes", "codes"))._2 == 2) // found + one append
    assert(r1(("band", "hashed"))._1 ==
      spark.read.parquet(s"$band/hashed").count())
    assert(r1(("sketch", "registers"))._1 ==
      spark.read.parquet(s"$sketch/registers").count())
    // tombstones fold onto their own index only
    assert(r1(("codes", "codes"))._3 == 1)
    assert(r1(("band", "hashed"))._3 == 0 && r1(("sketch", "registers"))._3 == 0)

    // compaction: one file, one fewer row, tombstones cleared
    Similarity.compactCodeIndex(spark, codes)
    val r2 = rep()
    assert(r2(("codes", "codes")) == ((emb.count() - 1, 1L, 0L)))
    graft.operators.PlanCache.release()
  }
}
