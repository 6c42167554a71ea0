package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.MergeByKey

/** The daily batch lifecycle — the engine-side form of the reference's
  * Airflow DAG (dags/batch_pipeline_dag.py:38-144 → BatchPipeline.
  * run_daily_pipeline, src/pipelines/batch_pipeline.py:63-125):
  *
  *   1. compute the three feature tables,
  *   2. validate row-volume floors (the DAG's validate_results gate,
  *      batch_pipeline_dag.py:87-91: user 1000 / txn 500 / risk 800 at
  *      production scale — thresholds are parameters here since test
  *      corpora are smaller),
  *   3. merge-by-key into the persisted feature store (upsert S9),
  *   4. export a date-partitioned warehouse copy (S10/S11).
  *
  * A failed validation aborts BEFORE any write — the DAG's task-dependency
  * semantics (validate runs between compute and downstream consumers). */
object DailyBatchRunner {

  final case class Thresholds(user: Long, transaction: Long, risk: Long)

  final case class RunResult(
    userRows: Long, transactionRows: Long, riskRows: Long, outputPath: String)

  /** The full-recompute run; IncrementalNightlyRunner.runIncremental is
    * the persisted-state incremental run with the same publish tail. */
  def run(spark: SparkSession, dir: String, outputPath: String,
          floors: Thresholds,
          runDate: java.time.LocalDate = graft.core.AsOf.date(graft.core.AsOf.orders))
      : RunResult = {
    val uf = UserFeaturesJob(spark, dir)
    val tf = TransactionFeaturesJob(spark, dir)
    val rf = RiskFeaturesJob(spark, dir)
    publish(spark, uf, tf, rf, outputPath, floors, runDate)
  }

  /** The shared tail of both runs: volume gates, versioned store swap per
    * group, date-partitioned wide-view export. */
  private[jobs] def publish(spark: SparkSession, uf: DataFrame, tf: DataFrame,
                            rf: DataFrame, outputPath: String,
                            floors: Thresholds,
                            runDate: java.time.LocalDate): RunResult = {
    val (nu, nt, nr) = (uf.count(), tf.count(), rf.count())
    def gate(name: String, n: Long, floor: Long): Unit =
      require(n >= floor,
        s"$name produced $n rows, below the volume floor $floor " +
          "(batch_pipeline_dag.py:87-91 validation)")
    gate("user_features", nu, floors.user)
    gate("transaction_features", nt, floors.transaction)
    gate("risk_features", nr, floors.risk)

    // Upsert each group into its store table, then export the wide view
    // date-partitioned (the BigQuery-export step, batch_pipeline.py:314-334).
    // Each group store is a versioned directory behind an atomic CURRENT
    // pointer (MigrationRunner's swap): the old version stays intact until
    // the new one is fully written and reconciled, so a crash mid-write
    // never leaves a missing or half-merged store (a delete-then-move swap
    // has exactly that hole).
    Seq("user_features" -> uf, "transaction_features" -> tf, "risk_features" -> rf)
      .foreach { case (name, df) =>
        val storeRoot = s"$outputPath/$name"
        val merged = scala.util.Try(MigrationRunner.current(spark, storeRoot))
          .toOption
          .map(old => MergeByKey.merge(old, df, Seq("user_id")))
          .getOrElse(df)
        val report = MigrationRunner.migrate(spark, merged, storeRoot,
          MigrationRunner.freshVersionName(spark, storeRoot, s"v$runDate"), "user_id")
        require(report.switched,
          s"$name store swap failed reconciliation: $report")
      }
    val view = FeatureViewJob.compute(uf, tf, rf)
      .withColumn("partition_date", lit(runDate.toString)) // injected, never now()
    MergeByKey.overwritePartitions(view, s"$outputPath/feature_view", "partition_date")
    RunResult(nu, nt, nr, outputPath)
  }
}
