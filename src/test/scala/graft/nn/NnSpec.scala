package graft.nn

import breeze.linalg.DenseMatrix
import graft.SparkSpec

class NnSpec extends SparkSpec {

  private def randMat(rows: Int, cols: Int, seed: Int): DenseMatrix[Double] = {
    val rng = new java.util.Random(seed)
    DenseMatrix.tabulate(rows, cols)((_, _) => rng.nextDouble())
  }

  describe("Kernel gradient correctness (M15, FIXTURES §1.3 gradient check)") {
    it("analytic gradients match central finite differences") {
      // 5→3→5 two-view AE (views 3+2 wide), all layer types in play:
      // Linear, ReLU, BatchNorm (train mode), Sigmoid. Dropout = 0 so
      // the loss is deterministic.
      val ae = TwoViewAe(3, 2,
        trunk = Mlp.blocks(Seq(5, 4, 3), Seq(0.0, 0.0)),
        dec1 = Mlp.blocks(Seq(3, 4, 3), Seq(0.0, 0.0), sigmoidOut = true),
        dec2 = Mlp.blocks(Seq(3, 4, 2), Seq(0.0, 0.0), sigmoidOut = true))
      val (params, stats) = Kernel.init(ae, seed = 5)
      val x1 = randMat(8, 3, 11)
      val x2 = randMat(8, 2, 13)
      def loss(p: Array[Double]): Double =
        Kernel.batchGradient(ae, p, stats, x1, x2,
          new java.util.Random(0)).loss
      val analytic = Kernel.batchGradient(ae, params, stats, x1, x2,
        new java.util.Random(0)).grads
      val h = 1e-6
      val rng = new java.util.Random(3)
      val idxs = Seq.fill(60)(rng.nextInt(ae.paramCount)).distinct
      for (i <- idxs) {
        val pPlus = params.clone(); pPlus(i) += h
        val pMinus = params.clone(); pMinus(i) -= h
        val numeric = (loss(pPlus) - loss(pMinus)) / (2 * h)
        val diff = math.abs(numeric - analytic(i))
        val scale = math.max(1e-4, math.abs(numeric) + math.abs(analytic(i)))
        assert(diff / scale < 1e-4,
          s"param $i: numeric=$numeric analytic=${analytic(i)}")
      }
    }

    it("frobeniusNormalizedLoss matches the golden fixture") {
      val a = DenseMatrix((1.0, 2.0, 3.0, 4.0), (0.0, 1.0, 0.0, 1.0),
        (2.0, 2.0, 2.0, 2.0))
      val b = DenseMatrix((4.0, 3.0, 2.0, 1.0), (1.0, 1.0, 1.0, 1.0),
        (2.0, 0.0, 0.0, 2.0))
      val (l, _) = Kernel.frobeniusNormalizedLoss(a, b)
      assert(math.abs(l - 1.3558169278779773) < 1e-12)
    }
  }

  describe("Trainer (distributed mini-batch Adam)") {
    lazy val data: org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val rng = new java.util.Random(42)
      // 64 samples, two views correlated through a shared 2-d factor
      (0 until 64).map { i =>
        val f = Array(rng.nextDouble(), rng.nextDouble())
        val x1 = Array.tabulate(6)(j => f(j % 2) * (j + 1) / 6.0 +
          rng.nextGaussian() * 0.01)
        val x2 = Array.tabulate(4)(j => f((j + 1) % 2) * (j + 1) / 4.0 +
          rng.nextGaussian() * 0.01)
        (s"s$i", x1.toSeq, x2.toSeq)
      }.toDF("sample_id", "x1", "x2")
    }

    it("loss decreases and training is seed-deterministic") {
      val ae = TwoViewAe.cncSized(6, 4, hidden = Seq(8), embed = 3)
      val cfg = Trainer.Config(lr = 1e-2, weightDecay = 1e-6,
        batchSize = 16, epochs = 12, seed = 21)
      val t1 = Trainer.train(data, ae, cfg)
      assert(t1.epochLosses.length == 12)
      val first3 = t1.epochLosses.take(3).sum / 3
      val last3 = t1.epochLosses.takeRight(3).sum / 3
      assert(last3 < first3 * 0.8,
        s"loss did not fall: ${t1.epochLosses.mkString(", ")}")
      val t2 = Trainer.train(data, ae, cfg)
      assert(t1.epochLosses == t2.epochLosses)
      assert(t1.params.sameElements(t2.params))
    }

    it("an empty frame trains to the seed's init params and zero losses") {
      import org.apache.spark.sql.functions.lit
      val ae = TwoViewAe.cncSized(6, 4, hidden = Seq(8), embed = 3)
      val cfg = Trainer.Config(lr = 1e-2, batchSize = 16, epochs = 3)
      val (p0, s0) = Kernel.init(ae, cfg.seed)
      val noPartitions = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], data.schema)
      assert(noPartitions.rdd.getNumPartitions == 0)
      for (empty <- Seq(noPartitions, data.filter(lit(false)))) {
        val t = Trainer.train(empty, ae, cfg)
        assert(t.epochLosses == Seq(0.0, 0.0, 0.0))
        assert(t.params.sameElements(p0) && t.stats.sameElements(s0))
      }
    }

    it("fewer rows than batchSize train as one batch per epoch") {
      val ae = TwoViewAe.cncSized(6, 4, hidden = Seq(8), embed = 3)
      val small = data.limit(10)
      def run(batchSize: Int) = Trainer.train(small, ae,
        Trainer.Config(lr = 1e-2, batchSize = batchSize, epochs = 3))
      // one batch of all 10 rows whatever the batch size above 10
      val whole = run(10)
      for (t <- Seq(run(16), run(512))) {
        assert(t.epochLosses == whole.epochLosses)
        assert(t.params.sameElements(whole.params))
      }
      assert(whole.epochLosses.forall(l => l > 0 && !l.isNaN))
      assert(!whole.params.sameElements(Kernel.init(ae, 21)._1))
    }

    it("rows train in input order when only some partitions have a " +
        "preferred location") {
      // Spark's default coalesce(1) starts with the first partition that
      // has a location (here the second), which would renumber the rows
      val ae = TwoViewAe.cncSized(6, 4, hidden = Seq(8), embed = 3)
      val cfg = Trainer.Config(lr = 1e-2, batchSize = 16, epochs = 2)
      val chunks = data.collect().toSeq.grouped(16).toSeq
        .zip(Seq(Nil, Seq("hostA"), Nil, Seq("hostB")))
      val mixed = spark.createDataFrame(
        spark.sparkContext.makeRDD(chunks).flatMap(identity), data.schema)
      val a = Trainer.train(mixed, ae, cfg)
      val b = Trainer.train(data, ae, cfg)
      assert(a.epochLosses == b.epochLosses && a.params.sameElements(b.params))
    }

    it("one training run is one Spark job") {
      val ae = TwoViewAe.cncSized(6, 4, hidden = Seq(8), embed = 3)
      // 64 rows at batch 16: 12 epochs x 4 batches = 48 steps
      val cfg = Trainer.Config(lr = 1e-2, batchSize = 16, epochs = 12)
      val sc = spark.sparkContext
      val key = "graft.nnspec.phase"
      val trainJobs = new java.util.concurrent.atomic.AtomicInteger
      val markerSeen = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty(key)) match {
            case Some("train") => trainJobs.incrementAndGet()
            case Some("marker") => markerSeen.countDown()
            case _ =>
          }
      }
      data.count() // materialise the input outside the counted window
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(key, "train")
        Trainer.train(data, ae, cfg)
        // the bus delivers events in order: once the marker job's start
        // arrives, every training job's start has been counted
        sc.setLocalProperty(key, "marker")
        sc.parallelize(Seq(1), 1).count()
        assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        sc.setLocalProperty(key, null)
        sc.removeSparkListener(listener)
      }
      assert(trainJobs.get == 1)
    }

    it("evaluateLoss + Inference round-trip with persisted model") {
      val ae = TwoViewAe.cncSized(6, 4, hidden = Seq(8), embed = 3)
      val cfg = Trainer.Config(lr = 1e-2, batchSize = 32, epochs = 4)
      val t = Trainer.train(data, ae, cfg)
      val evalLoss = Trainer.evaluateLoss(data, ae, t.params, t.stats)
      assert(evalLoss > 0)

      val dir = java.nio.file.Files.createTempDirectory("graft-model")
        .toString
      ModelIO.save(spark, dir, ae, t.params, t.stats)
      val (ae2, p2, s2) = ModelIO.load(spark, dir)
      assert(ae2 == ae && p2.sameElements(t.params) &&
        s2.sameElements(t.stats))

      val inf = Inference.embedAndRecon(data, ae2, p2, s2)
      val rows = inf.select("embedding", "recon_loss").collect()
      assert(rows.length == 64)
      assert(rows.forall(_.getSeq[Double](0).length == 3))
      // Frobenius eval loss ≤ Σ per-subject row losses (triangle-ish
      // sanity: sqrt(Σ s²) ≤ Σ s for nonneg s), and both positive
      val sumPerSubject = rows.map(_.getDouble(1)).sum
      assert(evalLoss <= sumPerSubject + 1e-9)
    }
  }
}
