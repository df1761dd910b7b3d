package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.Scalers
import graft.ml.{Clustering, GaussianNB}
import graft.metrics.ClusteringMetrics
import graft.nn.{ArchZoo, Inference}
import graft.pipeline.SimulationRun
import graft.search.{RandomSearch, Retrain}

/** The paper's study unit on seeded synthetic data in the reference
  * `Simulation_Data` layout: the composition of `SimulationRun.run`,
  * driven one public call at a time. The seed drives data generation
  * only; the split, trainer and CV seeds stay at the reference values
  * (42 / 21 / 2023) and one search trial is drawn, so every seed does
  * the same training work. With one trial the median pruner has no
  * history, so no fold is ever pruned. The epoch scale gives the drawn
  * trial (30 epochs) 3 epochs, which makes search plus retrain the
  * largest part of a pass. */
object OmicsAe {
  val Groups = 5
  val Times = 5
  val Reps = 5
  val Samples: Int = Groups * Times * Reps
  val Features = 1046
  val SplitAt = 846
  val Trials = 1
  val Folds = 2
  val EpochScale = 0.1
  val NbFolds = 5
  /** Stratified 80/20 over groups of 25 samples. */
  val TrainRows: Int = Groups * math.round(Times * Reps * 0.8).toInt
  val TestRows: Int = Samples - TrainRows

  /** Features-as-rows TSV with an R-style header (one column fewer than
    * the data rows): `GroupG.TimeT.RepR` sample ids, integer counts, and
    * per group a planted threefold shift on about a third of every
    * fifth feature. */
  def writeData(path: java.nio.file.Path, seed: Long): Unit = {
    val rng = new java.util.Random(seed)
    val ids = for (g <- 1 to Groups; t <- 1 to Times; r <- 1 to Reps)
      yield s"Group$g.Time$t.Rep$r"
    val base = Array.fill(Features)(math.exp(3.0 + rng.nextGaussian()))
    val shift = Array.tabulate(Groups, Features) { (g, f) =>
      if (f % Groups == g && rng.nextDouble() < 0.35) 3.0 else 1.0
    }
    val sb = new StringBuilder(ids.mkString("\t")).append('\n')
    for (f <- 0 until Features) {
      sb.append("feature").append(f)
      ids.indices.foreach { i =>
        val g = i / (Times * Reps)
        sb.append('\t').append(math.round(
          base(f) * shift(g)(f) * math.exp(0.3 * rng.nextGaussian())))
      }
      sb.append('\n')
    }
    java.nio.file.Files.writeString(path, sb)
  }

  final case class Result(trainRows: Long, testRows: Long,
      losses: Seq[Double], nbAccuracy: Double, testRecon: Double,
      nmi: Double, steps: Long, samples: Long, foldsTrained: Int,
      foldsPlanned: Int)

  /** Mini-batch steps and training rows (rows × epochs) of one training
    * run, as `Trainer.train` batches them. */
  private def work(rows: Int, h: RandomSearch.Hypers): (Long, Long) = {
    val epochs = math.max(1, math.round(h.epochs * EpochScale).toInt)
    val batches = math.max(1, (rows + h.batchSize - 1) / h.batchSize)
    (epochs.toLong * batches, epochs.toLong * rows)
  }

  /** One pass; `step(name)(body)` times each public call as one
    * operation. */
  def pass(spark: SparkSession, path: String,
      step: String => (=> Any) => Any): Result = {
    def call[A](name: String)(body: => A): A =
      step(name)(body).asInstanceOf[A]

    val prep = call("prepare") {
      val p = SimulationRun.prepare(spark, path, SplitAt)
      p.paired.count()
      p
    }
    val arch = ArchZoo.cnc(prep.splitAt, prep.d2)
    try {
      val search = call("search") {
        RandomSearch.search(prep.paired, _ => arch.model, nTrials = Trials,
          cv = Folds, seed = 42, epochScale = EpochScale)
      }
      val best = search.best.hypers
      val retrained = call("retrain") {
        Retrain.run(prep.paired, _ => arch.model, best,
          epochScale = EpochScale)
      }
      val (inferred, trainStats, testStats) = call("infer") {
        val inf = Inference.embedAndRecon(prep.paired, arch.model,
          retrained.params, retrained.stats, arch.embed).cache()
        val tr = inf.agg(avg("recon_loss"), count(lit(1))).head()
        val test = Scalers.fitTransform(prep.flagged.filter(!col("is_train")))
          .select(col("sample_id"), col("label"), col("label_idx"),
            slice(col("features"), 1, prep.splitAt).as("x1"),
            slice(col("features"), prep.splitAt + 1, prep.d2).as("x2"))
        val te = Inference.embedAndRecon(test, arch.model, retrained.params,
          retrained.stats, arch.embed)
          .agg(avg("recon_loss"), count(lit(1))).head()
        (inf, tr, te)
      }
      val embedded = inferred.select(col("sample_id"), col("label_idx"),
        col("embedding").as("features"))
      val nbAcc = call("nb") {
        val folds = GaussianNB.crossValidate(embedded, k = NbFolds,
          seed = 2023).collect()
        folds.map(_.getDouble(1)).sum / folds.length
      }
      val clustered = call("kmeans") {
        Clustering.kmeansPredict(embedded, k = Groups)
      }
      val agreement = call("agreement") {
        ClusteringMetrics.agreement(clustered, "label_idx", "pred")
      }
      inferred.unpersist()

      val trainRows = trainStats.getLong(1).toInt
      val foldWork = search.trials.flatMap { t =>
        t.foldLosses.indices.map { f =>
          val held = trainRows / Folds + (if (f < trainRows % Folds) 1 else 0)
          work(trainRows - held, t.hypers)
        }
      }
      val all = foldWork :+ work(trainRows, best)
      Result(trainStats.getLong(1), testStats.getLong(1),
        search.trials.flatMap(_.foldLosses) ++ retrained.epochLosses ++
          Seq(trainStats.getDouble(0), testStats.getDouble(0)),
        nbAcc, testStats.getDouble(0), agreement.nmi,
        all.map(_._1).sum, all.map(_._2).sum,
        search.trials.map(_.foldLosses.length).sum, Trials * Folds)
    } finally prep.paired.unpersist()
  }

  /** Failed checks of one pass, named; empty when it passes. */
  def check(r: Result): Seq[String] = Seq(
    (r.trainRows != TrainRows || r.testRows != TestRows) ->
      s"split ${r.trainRows}/${r.testRows}, expected $TrainRows/$TestRows",
    r.losses.exists(l => l.isNaN || l.isInfinite) ->
      s"non-finite loss in ${r.losses.mkString(",")}",
    !(r.nbAccuracy > 1.0 / Groups) ->
      s"nb_accuracy ${r.nbAccuracy} not above chance ${1.0 / Groups}"
  ).collect { case (true, msg) => msg }
}
