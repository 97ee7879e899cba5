package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned quality-model registry — the persisted half of the
  * train→eval→promote lifecycle the q245 trainer opened: trained
  * weight vectors live under `storeDir/model_v<N>` with the held-out
  * AUC they were admitted at, published through [[Atomic]] (marker
  * commit, grace retention), so scorers resolving mid-promotion read
  * a complete version and a crashed publish leaves the incumbent
  * live. The reference keeps no model state at all (its transforms
  * are stateless config — the `pkg/syncer` packages); this registry is what the
  * training-data pipeline above it needs: quality-filter weights
  * that retrain on a schedule but only ever move FORWARD on held-out
  * AUC.
  *
  * One parquet child holds both the weights and the admitting gauge
  * (rows `bias..dup_frac` + `heldout_auc_micro`) so a promotion is
  * one atomic publish — weights and their evidence can never skew. */
object ModelStore {

  /** Row keys, in [[graft.operators.TextOps.trainQualityWeights]]'s
    * weight order. */
  val WeightKeys: Seq[String] =
    Seq("bias", "distinct_ratio", "stop_ratio", "len_sat", "dup_frac")
  val AucKey = "heldout_auc_micro"

  /** Publish a new live model (weights + the held-out AUC it was
    * admitted at). Single-promoter contract per store, as for every
    * Atomic child. */
  def publishModel(spark: SparkSession, storeDir: String,
      weights: Seq[Long], aucMicro: Long): Unit = {
    require(weights.length == WeightKeys.length, "weight arity")
    import spark.implicits._
    Atomic.publish(spark, storeDir, "model") { path =>
      (WeightKeys.zip(weights) :+ (AucKey -> aucMicro))
        .toDF("key", "value_micro")
        .coalesce(1).write.parquet(path)
    }
  }

  /** The live model, or None before the founding promotion. The read
    * is a 6-row collect — registry-sized, never corpus-sized. */
  def liveModel(spark: SparkSession, storeDir: String): Option[(Seq[Long], Long)] =
    Atomic.existing(spark, storeDir, "model").map { model =>
      val kv = model.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (WeightKeys.map(kv), kv(AucKey))
    }

  /** Score the WHOLE corpus with the live weights — the serving face:
    * (doc_id, logit_micro, keep). Throws before the founding
    * promotion: a pipeline must not silently score with nothing. */
  def scoreWithLiveModel(spark: SparkSession, dir: String,
      storeDir: String): DataFrame = {
    val (w, _) = liveModel(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no live model in $storeDir"))
    TextOps.qualityFeatures(spark, dir, split = None)
      .select(col("doc_id"),
        expr(s"(${TextOps.microLogitExpr(w.toIndexedSeq)})").as("logit_micro"))
      .select(col("doc_id"), col("logit_micro"),
        (col("logit_micro") >= 0L).as("keep"))
  }
}
