package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib face of the engine: feature-vector assembly over the wide feature
  * view, risk bucketing as a pipeline stage, a seeded KMeans segmenter, and
  * an MLlib-native MinHashLSH near-dup join (complementing the hand-rolled
  * banding in graft.ext.Dedup with the library implementation).
  *
  * Everything is seeded/deterministic where MLlib allows; these wrap the
  * engine's outputs so a downstream training pipeline consumes vectors, not
  * columns.
  */
object FeaturePipeline {

  val numericCols: Array[String] = Array(
    "total_orders", "avg_order_value", "total_transactions_30d",
    "total_amount_30d", "avg_transaction_amount", "weekend_transaction_ratio",
    "risk_score", "credit_utilization_ratio", "payment_delays_30d",
    "velocity_alerts_30d")

  /** Wide view → ML rows: null-safe numeric vector + Low/Medium/High risk
    * bucket index (the F2 CASE as a Bucketizer over (0.3, 0.7]). */
  def vectorize(featureView: DataFrame): DataFrame = {
    val assembler = new VectorAssembler()
      .setInputCols(numericCols)
      .setOutputCol("features")
      .setHandleInvalid("keep")
    // NOT a Bucketizer: its intervals are left-inclusive ([0.3,0.7) would
    // put risk_score = 0.3 in Medium), contradicting the F2 CASE's
    // right-inclusive <= 0.3 / <= 0.7 boundaries. The when-chain matches
    // FeatureViewJob.risk_category exactly.
    val filled = featureView.na.fill(0.0, numericCols).na.fill(0L, numericCols)
      .withColumn("risk_bucket",
        when(col("risk_score") <= 0.3, 0.0)
          .when(col("risk_score") <= 0.7, 1.0)
          .otherwise(2.0))
    new Pipeline().setStages(Array(assembler))
      .fit(filled).transform(filled)
  }

  /** Seeded user segmentation over the assembled vectors (the ml-pipeline
    * counterpart of the reference's premium/regular/new segments,
    * scripts/seed_data.py:149-154). */
  def segment(vectorized: DataFrame, k: Int = 3): DataFrame =
    new KMeans().setK(k).setSeed(42L).setFeaturesCol("features")
      .setPredictionCol("segment")
      .fit(vectorized).transform(vectorized)

  /** MLlib MinHashLSH near-dup candidates over token sets (library
    * counterpart of graft.ext.Dedup.minhashPairsPre; seeded). At scale the
    * approxSimilarityJoin is the same band-bucket join shape. */
  def lshNearDup(docs: DataFrame, jaccardDistance: Double): DataFrame = {
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(1 << 18).setBinary(true)
    val withTf = tf.transform(docs.select(col("doc_id"),
      split(col("text"), " ").as("tokens")))
    val lsh = new MinHashLSH().setInputCol("tf").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(withTf)
    model.approxSimilarityJoin(withTf, withTf, jaccardDistance, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(col("jaccard_dist"), 4).as("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
  }
}
