package graft.ml

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.etl.Splits
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass `GaussianNB.crossValidate` against the public per-fold
  * `fit` + `predict` it replaces. */
class GaussianNBSpec extends SparkSpec {

  /** 5 overlapping Gaussian classes × 16 rows in 3 dims, seeded. */
  private lazy val blobs: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    (for (c <- 0 until 5; r <- 0 until 16) yield
      (s"s$c-$r", c, Seq.tabulate(3)(d => c * (d + 1) * 0.6 +
        rng.nextGaussian())))
      .toDF("sample_id", "label_idx", "features")
  }

  private def accuracies(cv: DataFrame): Seq[(Int, Double)] =
    cv.collect().map(r => r.getInt(0) -> r.getDouble(1)).toSeq

  it("gives each fold the accuracy of public fit + predict on it") {
    val k = 5
    val folded = Splits.stratifiedKFold(blobs, "label_idx", "sample_id",
      k, 2023)
    val expected = (0 until k).map { i =>
      val model = GaussianNB.fit(folded.filter(col("fold") =!= i))
      val scored = GaussianNB.predict(folded.filter(col("fold") === i), model)
      i -> scored.agg(avg(when(col("pred") === col("label_idx"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    }
    val got = accuracies(GaussianNB.crossValidate(blobs, k = k, seed = 2023))
    assert(got == expected)
    assert(got.exists(_._2 < 1.0), "the classes should overlap")
  }

  it("omits the folds that tiny strata leave empty") {
    import spark.implicits._
    val tiny = Seq(
      ("a1", 0, Seq(0.0, 1.0)), ("a2", 0, Seq(0.4, 1.3)),
      ("b1", 1, Seq(5.0, 2.0)), ("b2", 1, Seq(5.5, 2.2)),
      ("c1", 2, Seq(9.0, 7.0)), ("c2", 2, Seq(9.3, 7.4))
    ).toDF("sample_id", "label_idx", "features")
    val got = accuracies(GaussianNB.crossValidate(tiny, k = 4, seed = 2023))
    assert(got.map(_._1) == Seq(0, 1))
    assert(got.forall(_._2 == 1.0))
  }

  it("runs the same number of Spark jobs for k = 3 and k = 5") {
    val sc = spark.sparkContext
    val key = "graft.nbspec.phase"
    def jobsOf(k: Int): Int = {
      val jobs = new AtomicInteger
      val markerSeen = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty(key)) match {
            case Some("cv") => jobs.incrementAndGet()
            case Some("marker") => markerSeen.countDown()
            case _ =>
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty(key, "cv")
        GaussianNB.crossValidate(blobs, k = k, seed = 2023).collect()
        // the bus delivers events in order: once the marker job's start
        // arrives, every CV job's start has been counted
        sc.setLocalProperty(key, "marker")
        sc.parallelize(Seq(1), 1).count()
        assert(markerSeen.await(60, TimeUnit.SECONDS))
      } finally {
        sc.setLocalProperty(key, null)
        sc.removeSparkListener(listener)
      }
      jobs.get
    }
    blobs.count()
    val (j3, j5) = (jobsOf(3), jobsOf(5))
    assert(j3 == j5, s"k = 3 ran $j3 jobs, k = 5 ran $j5")
  }
}
