package graft.finance

import org.apache.spark.sql.SparkSession
import graft.finance.ml.CategoryClassifier

/** Dagster-invokable entry point for the 7-job asset graph (SURVEY §2.11):
  * each reference job name maps to a composition of [[Jobs]] steps, so an
  * orchestrator launches `spark-submit --class graft.finance.JobsMain <jar>
  * <warehouseDir> <jobName>` exactly where the reference launched a Dagster
  * GraphQL run (north star: "Spark batch jobs within Dagster orchestration").
  *
  * | job | composition |
  * |---|---|
  * | 1_dagster_init                          | models → train → predict → models |
  * | 2_ingest_and_predict                    | [fleet ingest via DSv2 when GRAFT_SIMPLEFIN_ACCESS_URLS is set] → models → predict |
  * | 3_run_all_dbt_models                    | models |
  * | 4_refresh_validated_retrain_repredict   | models (incremental) → train → predict → models |
  * | z_a_rebuild_historic_data               | full-refresh models → train → predict → models |
  * | z_b_full_refresh_validated_trxns        | full-refresh models |
  * | 5_full_refresh_validated_retrain_repredict | full-refresh models → train → predict → models |
  */
object JobsMain {

  def main(args: Array[String]): Unit = {
    val Array(warehouseDir, jobName) = args.take(2)
    val spark = graft.GraftSession.local("graft-jobs").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, warehouseDir, jobName)
    finally spark.stop()
  }

  def run(spark: SparkSession, warehouseDir: String, jobName: String): Unit = {
    val store = new TableStore(spark, warehouseDir)
    val jobs = new Jobs(spark, store)

    def trainAndPredict(): Unit = jobs.trainClassifier() match {
      case Jobs.TrainRun(CategoryClassifier.Trained(model, labels, _, _, _, _), version) =>
        // version comes from the train run itself, not an is_latest lookup —
        // a restored-backup registry row with a newer timestamp must not
        // mislabel this model's predictions
        jobs.predict(model, labels, version)
        jobs.runAllModels() // predictions flow into fct_trxns_with_predictions
      case Jobs.TrainRun(CategoryClassifier.Skipped(reason, n), _) =>
        System.err.println(s"[train] skipped: $reason (n=$n)")
        predictWithExisting() // a previously trained model can still score
    }

    // Predict WITHOUT retraining (job 2's composition): load the active
    // model from the store; nothing trained yet → log and skip.
    def predictWithExisting(): Unit = {
      val registry = if (store.exists("model_registry")) Some(store.read("model_registry")) else None
      jobs.modelStore.loadForPredict(registry) match {
        case Some((model, labels, version)) =>
          jobs.predict(model, labels, version)
          jobs.runAllModels()
        case None =>
          System.err.println("[predict] no trained model available; skipping predictions")
      }
    }

    jobName match {
      case "1_dagster_init" | "4_refresh_validated_retrain_repredict" =>
        jobs.runAllModels(); trainAndPredict()
      case "2_ingest_and_predict" =>
        // fleet ingest head: when the deployment provides access URLs,
        // pull them through the `graft-simplefin` DSv2 source (one task
        // per url×chunk, executor-side fetch — Jobs.ingestFleet); with no
        // URLs configured the raw table is whatever the driver-side
        // connector last appended, the reference's one-URL posture
        sys.env.get("GRAFT_SIMPLEFIN_ACCESS_URLS").filter(_.nonEmpty).foreach { u =>
          val now = sys.env.get("GRAFT_NOW_EPOCH").map(_.toLong)
            .getOrElse(java.time.Instant.now().getEpochSecond)
          val n = jobs.ingestFleet(u.split(",").map(_.trim).filter(_.nonEmpty).toSeq, now)
          System.err.println(s"[ingest] fleet batch: $n rows")
        }
        // per the composition table: models → predict, NO retrain — the
        // ingest poll must not churn the model on every run
        jobs.runAllModels()
        predictWithExisting()
      case "3_run_all_dbt_models" =>
        jobs.runAllModels()
      case "z_b_full_refresh_validated_trxns" =>
        jobs.runAllModels(fullRefreshValidated = true)
      case "z_a_rebuild_historic_data" =>
        // seed refresh head: re-load CSV seeds when a seed dir is supplied
        // (the reference's dbt-seed step), then full-refresh + retrain
        sys.env.get("GRAFT_SEED_DIR").foreach { d =>
          val refreshed = jobs.rebuildSeeds(d)
          System.err.println(s"[seeds] refreshed: ${refreshed.mkString(", ")}")
        }
        jobs.runAllModels(fullRefreshValidated = true); trainAndPredict()
      case "5_full_refresh_validated_retrain_repredict" =>
        jobs.runAllModels(fullRefreshValidated = true); trainAndPredict()
      case other =>
        throw new IllegalArgumentException(s"unknown job: $other")
    }
  }
}
