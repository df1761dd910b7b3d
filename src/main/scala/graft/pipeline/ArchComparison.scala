package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.GaussianNB
import graft.nn.{ArchZoo, Inference, Trainer}

/** The AE_results comparison table across ALL 8 architectures
  * (Evaluation_Auxiliary/AE_results.ipynb cells 78-79 recon table +
  * cells 121/124 NB table shape): per model — per-subject recon loss
  * mean±std and mean NB CV accuracy on the extracted embeddings, plus
  * the raw-feature NB baselines (Gene/miRNA/concat rows of cell 124).
  */
object ArchComparison {

  def run(spark: SparkSession, path: String, splitAt: Int = 846,
      epochs: Int = 2, batchSize: Int = 128, lr: Double = 1e-3,
      orthoMultiplier: Double = 0.1): DataFrame = {
    val prep = SimulationRun.prepare(spark, path, splitAt)
    val paired = prep.paired

    def nbAcc(df: DataFrame): Double = {
      val accs = GaussianNB.crossValidate(df, k = 5, seed = 2023)
        .collect().map(_.getDouble(1))
      accs.sum / accs.length
    }

    // raw-feature baselines (cell 124's Gene / miRNA / Gene+miRNA rows)
    val rawRows = Seq(
      ("raw_x1", paired.select(col("sample_id"), col("label_idx"),
        col("x1").as("features"))),
      ("raw_x2", paired.select(col("sample_id"), col("label_idx"),
        col("x2").as("features"))),
      ("raw_concat", paired.select(col("sample_id"), col("label_idx"),
        concat(col("x1"), col("x2")).as("features")))
    ).map { case (name, df) =>
      (name, Double.NaN, Double.NaN, nbAcc(df))
    }

    val archRows = ArchZoo.all(splitAt, prep.d2, orthoMultiplier).map { arch =>
      val t = Trainer.train(paired, arch.model,
        Trainer.Config(lr = lr, weightDecay = 1e-6, batchSize = batchSize,
          epochs = epochs, seed = 21))
      val inf = Inference.embedAndRecon(paired, arch.model, t.params,
        t.stats, arch.embed).cache()
      val st = inf.agg(avg("recon_loss"), stddev_pop("recon_loss")).head()
      val acc = nbAcc(inf.select(col("sample_id"), col("label_idx"),
        col("embedding").as("features")))
      inf.unpersist()
      (arch.name, st.getDouble(0), st.getDouble(1), acc)
    }

    paired.unpersist()
    import spark.implicits._
    (rawRows ++ archRows)
      .toDF("model", "recon_mean", "recon_std", "nb_acc")
      .select(col("model"), round(col("recon_mean"), 4).as("recon_mean"),
        round(col("recon_std"), 4).as("recon_std"),
        round(col("nb_acc"), 4).as("nb_acc"))
  }
}
