package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Dedup, Graph, PlanCache}

/** Generation lifetime of the iterated loops: a converged closure
  * keeps exactly its returned generation, a failed one keeps none, and
  * the peels' generations go with the caller's release. */
class IterateSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leafRddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  test("connected components: after release only the returned generation stays persisted") {
    import spark.implicits._
    PlanCache.release()
    val before = persisted
    // a 16-chain: labels halve their distance to 1 per round, so the
    // closure makes six generations (initial, four jumps, the repeat)
    val labels = Dedup.connectedComponents(
      (1L until 16L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"))
    PlanCache.release()
    assert(persisted -- before == Set(leafRddId(labels)))
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 16L).map(_ -> 1L).toMap)
  }

  test("peel generations are freed by the caller's PlanCache.release") {
    PlanCache.release()
    val before = persisted
    Graph.kCorePeel(spark, sf, k = 70).collect()
    Graph.trussPeel(spark, sf, k = 40).collect()
    PlanCache.release()
    assert(persisted -- before == Set.empty)
  }

  test("connected components: a non-converged closure leaves no generation persisted") {
    import spark.implicits._
    PlanCache.release()
    val before = persisted
    val e = intercept[IllegalStateException](Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b"), maxIters = 1))
    assert(e.getMessage.contains("did not converge"))
    PlanCache.release()
    assert(persisted -- before == Set.empty)
  }
}
