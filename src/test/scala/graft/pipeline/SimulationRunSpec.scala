package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class SimulationRunSpec extends SparkSpec {

  describe("SimulationRun (§3.1→§3.2→§3.3 composition)") {
    it("selection -> retrain -> eval on real reference data") {
      val res = SimulationRun.run(spark,
        "/root/reference/Simulation_Data/miRNA_seq_2_groups_1_diff.csv",
        (d1, d2, mult) => graft.nn.ArchZoo.jisaeO3(d1, d2, mult),
        nTrials = 2, cv = 2, epochScale = 0.01)
      assert(res.trials.count() == 2)
      assert(res.retrainLosses.nonEmpty &&
        res.retrainLosses.forall(l => !l.isNaN))
      val (mean, std) = res.reconStats
      assert(mean > 0 && std >= 0)
      val nb = res.nbCv.collect()
      assert(nb.length == 5)
      assert(nb.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
    }
  }

  describe("SimulationRun.prepare") {
    it("scans the input file once and leaves only `paired` cached") {
      // 5 groups × 5 samples × 20 features, Simulation_Data layout
      val ids = for (g <- 1 to 5; r <- 1 to 5) yield s"Group$g.Time1.Rep$r"
      val rng = new scala.util.Random(3)
      val text = (ids.mkString("\t") +: (0 until 20).map { f =>
        (s"feature$f" +: ids.map(_ => rng.nextInt(100).toString))
          .mkString("\t")
      }).mkString("", "\n", "\n")
      val file = java.nio.file.Files.createTempFile("graft-prep", ".tsv")
      java.nio.file.Files.writeString(file, text)

      val sc = spark.sparkContext
      val key = "graft.prepspec.phase"
      val scans = new AtomicInteger
      val markerSeen = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (Option(e.properties).exists(_.getProperty(key) == "prepare") &&
              e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
            scans.incrementAndGet()
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty(key) == "marker"))
            markerSeen.countDown()
      }
      sc.addSparkListener(listener)
      val prep = try {
        sc.setLocalProperty(key, "prepare")
        val p = SimulationRun.prepare(spark, file.toString, splitAt = 12)
        // the bus delivers events in order: once the marker job's start
        // arrives, every stage of `prepare` has been seen
        sc.setLocalProperty(key, "marker")
        sc.parallelize(Seq(1), 1).count()
        assert(markerSeen.await(60, TimeUnit.SECONDS))
        p
      } finally {
        sc.setLocalProperty(key, null)
        sc.removeSparkListener(listener)
      }
      assert(scans.get == 1, s"prepare scanned the file ${scans.get} times")
      assert((prep.width, prep.d2) == (20, 8))
      assert(prep.paired.storageLevel != StorageLevel.NONE)
      assert(prep.paired.count() == 20) // round(5 × 0.8) per group
      assert(prep.flagged.storageLevel == StorageLevel.NONE)
      assert(prep.flagged.filter(col("is_train")).storageLevel ==
        StorageLevel.NONE)
      prep.paired.unpersist()
    }
  }
}
