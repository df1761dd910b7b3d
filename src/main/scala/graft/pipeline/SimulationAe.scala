package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.GaussianNB
import graft.nn.{Inference, Trainer, TwoViewAe}

/** End-to-end AE slice of the reference pipeline (SURVEY §3.1 + §3.3,
  * reduced): ingest → label → stratified split → min-max scale → two
  * views by positional feature slice (P3 — mocss.py:465-478; the RNA
  * view files are LFS-missing in the reference checkout, FIXTURES §1.1)
  * → CNC-style AE training (M15) → embeddings + per-subject recon loss
  * (M14/M24/A10) → GaussianNB CV on embeddings (M1). The data prep is
  * [[SimulationRun.prepare]].
  */
object SimulationAe {

  final case class Result(epochLosses: Seq[Double],
      trainRecon: DataFrame, nbCv: DataFrame)

  /** Same data prep, but trains a named ArchZoo architecture (graph
    * engine) instead of the small CNC kernel. */
  def runArch(spark: SparkSession, path: String,
      mkArch: (Int, Int) => graft.nn.ArchZoo.Arch, splitAt: Int = 846,
      epochs: Int = 2, batchSize: Int = 128, lr: Double = 1e-3): Result = {
    val prep = SimulationRun.prepare(spark, path, splitAt)
    val paired = prep.paired
    val arch = mkArch(prep.splitAt, prep.d2)
    val trained = Trainer.train(paired, arch.model,
      Trainer.Config(lr = lr, weightDecay = 1e-6, batchSize = batchSize,
        epochs = epochs, seed = 21))
    val inferred = Inference.embedAndRecon(paired, arch.model,
      trained.params, trained.stats, arch.embed).cache()
    val recon = inferred.select(col("sample_id"), col("recon_loss"))
    val nb = GaussianNB.crossValidate(
      inferred.select(col("sample_id"), col("label_idx"),
        col("embedding").as("features")),
      k = 5, seed = 2023)
    paired.unpersist()
    Result(trained.epochLosses, recon, nb)
  }

  def run(spark: SparkSession, path: String, splitAt: Int = 846,
      hidden: Seq[Int] = Seq(64), embed: Int = 16,
      epochs: Int = 5, batchSize: Int = 128, lr: Double = 1e-3): Result = {
    val prep = SimulationRun.prepare(spark, path, splitAt)
    val paired = prep.paired
    val ae = TwoViewAe.cncSized(splitAt, prep.d2, hidden, embed, drop = 0.1)
    val trained = Trainer.train(paired, ae,
      Trainer.Config(lr = lr, weightDecay = 1e-6, batchSize = batchSize,
        epochs = epochs, seed = 21))

    val inferred = Inference.embedAndRecon(paired, ae, trained.params,
      trained.stats).cache()
    val recon = inferred.select(col("sample_id"), col("recon_loss"))
    val nb = GaussianNB.crossValidate(
      inferred.select(col("sample_id"), col("label_idx"),
        col("embedding").as("features")),
      k = 5, seed = 2023)
    paired.unpersist()
    Result(trained.epochLosses, recon, nb)
  }
}
