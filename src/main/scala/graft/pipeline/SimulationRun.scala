package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{LabelCodec, OmicsReader, Scalers, Splits}
import graft.ml.GaussianNB
import graft.nn.{ArchZoo, Inference, Trainer}
import graft.search.{RandomSearch, Retrain}

/** The full reference flow wired end-to-end (SURVEY §3.1 → §3.2 → §3.3):
  * model selection (random search + median pruning over the published
  * space, k-fold CV per trial) → retraining with the best trial on the
  * full training split → evaluation (per-subject recon loss, embedding
  * extraction, NB CV) → S7/S8-shaped trial tables.
  *
  * `trialBudget`/`epochScale` shrink the search for CI-scale runs; the
  * composition and semantics are the reference's
  * (Simulation_Models/CNC_AE_model_selection.py:557-582 outer loop,
  * CNC_AE_retraining.py, Evaluation_Auxiliary/AE_results.ipynb).
  */
object SimulationRun {

  final case class RunResult(trials: DataFrame, bestTrial: Int,
      retrainLosses: Seq[Double], reconStats: (Double, Double),
      nbCv: DataFrame, testReconStats: (Double, Double))

  /** §3.1 prep output. `paired` (the scaled train split as x1/x2
    * views) is materialized and is the only cached frame, so
    * `paired.unpersist()` releases everything `prepare` holds.
    * `flagged` (every sample with `is_train`) is NOT cached: reading it
    * re-reads the input file. */
  final case class Prepared(paired: DataFrame, flagged: DataFrame,
      width: Int, splitAt: Int) {
    def d2: Int = width - splitAt
  }

  /** §3.2+§3.3 output for one (hypers, arch) choice. */
  final case class EvalResult(retrainLosses: Seq[Double],
      reconStats: (Double, Double), nbCv: DataFrame,
      testReconStats: (Double, Double))

  /** §3.1 data prep: scan → derived labels → stratified 80/20 →
    * per-column min-max on the train split → positional x1/x2 pair.
    * The input file is scanned once: the train split is cached for the
    * scaler fit and the `paired` build, then released. */
  def prepare(spark: SparkSession, path: String,
      splitAt: Int = 846): Prepared = {
    val m = OmicsReader.readTransposed(spark, path)
    val labeled = LabelCodec.withDerivedLabel(
      m.data, LabelCodec.simulationLabelMap)
    val flagged = Splits
      .stratifiedFlag(labeled, "label", "sample_id", 0.8, 42)
    val train = flagged.filter(col("is_train")).cache()
    val st = Scalers.fit(train)
    val width = st.min.length
    val paired = Scalers.transformWith(train, st)
      .select(
        col("sample_id"), col("label"), col("label_idx"),
        slice(col("features"), 1, splitAt).as("x1"),
        slice(col("features"), splitAt + 1, width - splitAt).as("x2"))
      .cache()
    paired.count()
    train.unpersist()
    Prepared(paired, flagged, width, splitAt)
  }

  /** §3.2 retrain with the given hypers + §3.3 evaluation (per-subject
    * recon, embedding NB CV, held-out test recon). */
  def evalBest(prep: Prepared, mkArch: (Int, Int, Double) => ArchZoo.Arch,
      best: RandomSearch.Hypers, epochScale: Double,
      modelDir: Option[String] = None): EvalResult = {
    val arch = mkArch(prep.splitAt, prep.d2, best.orthoMultiplier)
    val retrained = Retrain.run(prep.paired, _ => arch.model,
      best, epochScale = epochScale, savePath = modelDir)

    val inferred = Inference.embedAndRecon(prep.paired, arch.model,
      retrained.params, retrained.stats, arch.embed).cache()
    val stats = inferred.agg(avg("recon_loss"), stddev_pop("recon_loss"))
      .head()
    val nb = GaussianNB.crossValidate(
      inferred.select(col("sample_id"), col("label_idx"),
        col("embedding").as("features")), k = 5, seed = 2023)
    // held-out 20%: the retrained model applied to the test split
    // (reconloss_from_retrained_models.py:61-83; the published test
    // aggregate is AE_results.ipynb cell 30). The scaler REFITS on the
    // split it transforms — the reference's cell-81 quirk that
    // Scalers.fitTransform reproduces for both splits.
    val scaledTest = Scalers
      .fitTransform(prep.flagged.filter(!col("is_train")))
    val pairedTest = scaledTest.select(
      col("sample_id"), col("label"), col("label_idx"),
      slice(col("features"), 1, prep.splitAt).as("x1"),
      slice(col("features"), prep.splitAt + 1, prep.d2).as("x2"))
    val tstats = Inference
      .embedAndRecon(pairedTest, arch.model, retrained.params,
        retrained.stats, arch.embed)
      .agg(avg("recon_loss"), stddev_pop("recon_loss")).head()
    EvalResult(retrained.epochLosses,
      (stats.getDouble(0), stats.getDouble(1)), nb,
      (tstats.getDouble(0), tstats.getDouble(1)))
  }

  def run(spark: SparkSession, path: String,
      mkArch: (Int, Int, Double) => ArchZoo.Arch,
      nTrials: Int = 3, cv: Int = 3, epochScale: Double = 0.02,
      splitAt: Int = 846, modelDir: Option[String] = None): RunResult = {

    // §3.1 data prep
    val prep = prepare(spark, path, splitAt)

    // §3.1 model selection
    val search = RandomSearch.search(prep.paired,
      h => mkArch(splitAt, prep.d2, h.orthoMultiplier).model,
      nTrials = nTrials, cv = cv, seed = 42, epochScale = epochScale)

    // §3.2 retraining + §3.3 evaluation
    val ev = evalBest(prep, mkArch, search.best.hypers, epochScale,
      modelDir)
    prep.paired.unpersist()
    RunResult(search.trialsDf(spark), search.best.trial,
      ev.retrainLosses, ev.reconStats, ev.nbCv, ev.testReconStats)
  }
}
