package graft.nn

import breeze.linalg.DenseMatrix
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.DataFrame

/** Mini-batch AE training (M15/M25, SURVEY §3.1/§4.3).
  *
  * Faithful to the reference's sequential DataLoader semantics
  * (Simulation_Models/CNC_AE_model_selection.py:233-316): per epoch the
  * rows are re-shuffled by a seeded hash and dealt into batches; each
  * batch is ONE gradient step. [[train]] runs a whole training run as
  * one Spark job with one task: the rows are coalesced, in input order,
  * into a single partition, and that task runs every epoch's shuffle,
  * every step's gradient, the Adam and BatchNorm updates and the loss
  * sums where the rows are. Parameters cross once each way per run
  * (the model in, the trained params and stats out), not once per step.
  * The trade-off: a lost executor retries the whole run rather than one
  * step, and one task holds the rows plus the Adam state. [[trainSync]]
  * stays the cluster path for data or models beyond one task.
  */
object Trainer {

  /** Dropout mask-stream selector (QUALITY_r12 floor probe, VERDICT
    * r11 ask #1b). The kernel's inverted dropout matches torch's
    * SEMANTICS (Bernoulli keep-mask scaled by 1/(1−p),
    * model_structures.py:185-347) but necessarily not torch's RNG
    * STREAM (Philox on GPU vs java.util.Random here) — the mask
    * sequence is an uncontrolled nuisance variable between the two
    * implementations. `-Dgraft.dropout.stream=<k>` shifts ONLY the
    * per-batch dropout seed (init and shuffle order untouched), so
    * re-running the replayed best trial under k∈{0,1,2} measures how
    * much the floor depends on the particular mask stream. 0 (the
    * default) is bit-identical to the historical seeding. */
  val DropoutStream: Long = java.lang.Long.getLong("graft.dropout.stream", 0L)

  final case class Config(lr: Double, weightDecay: Double = 0.0,
      batchSize: Int = 128, epochs: Int = 30, seed: Long = 21)

  final case class Trained(model: AeModel, params: Array[Double],
      stats: Array[Double], epochLosses: Seq[Double])

  /** Adapter exposing the direct CNC-shaped kernel as an [[AeModel]]. */
  final case class TwoViewModel(ae: TwoViewAe) extends AeModel {
    def paramCount: Int = ae.paramCount
    def statCount: Int = ae.statCount
    def initParams(seed: Long): (Array[Double], Array[Double]) =
      Kernel.init(ae, seed)
    def batchGradient(params: Array[Double], stats: Array[Double],
        x1: DenseMatrix[Double], x2: DenseMatrix[Double],
        rng: java.util.Random): Kernel.BatchResult =
      Kernel.batchGradient(ae, params, stats, x1, x2, rng)
    def evalOutputs(params: Array[Double], stats: Array[Double],
        x1: DenseMatrix[Double], x2: DenseMatrix[Double])
        : Map[String, DenseMatrix[Double]] = {
      val (z, s1hat, s2hat) = Kernel.evalForward(ae, params, stats, x1, x2)
      Map("z12" -> z, "s1hat" -> s1hat, "s2hat" -> s2hat)
    }
  }

  /** Coalesces every parent partition into one, in partition order, so
    * the single task sees the rows in the order `zipWithIndex` numbers
    * them. The default coalescer may start the group with the first
    * partition that has a preferred location, which reorders the rows
    * when only some partitions have one; it also yields NO partition for
    * a 0-partition frame, where this yields one empty one, so an empty
    * frame still runs its one task. */
  private object InOrder extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val group = new PartitionGroup()
      group.partitions ++= parent.partitions
      Array(group)
    }
  }

  private def mat(rows: Seq[Array[Double]]): DenseMatrix[Double] = {
    val m = DenseMatrix.zeros[Double](rows.length, rows.head.length)
    var r = 0
    while (r < rows.length) {
      var c = 0
      while (c < rows(r).length) { m(r, c) = rows(r)(c); c += 1 }
      r += 1
    }
    m
  }

  /** Train on (x1, x2) array columns (CNC-shaped direct kernel). */
  def train(df: DataFrame, ae: TwoViewAe, cfg: Config,
      x1Col: String, x2Col: String): Trained =
    train(df, TwoViewModel(ae), cfg, x1Col, x2Col)
  def train(df: DataFrame, ae: TwoViewAe, cfg: Config): Trained =
    train(df, TwoViewModel(ae), cfg, "x1", "x2")

  /** Train any [[AeModel]] on (x1, x2) array columns: one Spark job,
    * one task (see the object doc). */
  def train(df: DataFrame, model: AeModel, cfg: Config,
      x1Col: String = "x1", x2Col: String = "x2"): Trained = {
    val rows = df.select(x1Col, x2Col).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .coalesce(1, shuffle = false, partitionCoalescer = Some(InOrder))
    val dropoutStream = DropoutStream // read on the driver, not executors
    val (params, stats, losses) = df.sparkSession.sparkContext
      .runJob(rows, (it: Iterator[(Array[Double], Array[Double])]) =>
        fit(model, cfg, dropoutStream, it.toArray))
      .head
    Trained(model, params, stats, losses)
  }

  /** The whole training run over `rows` (row i is the i-th input row),
    * executed inside one task. */
  private def fit(model: AeModel, cfg: Config, dropoutStream: Long,
      rows: Array[(Array[Double], Array[Double])])
      : (Array[Double], Array[Double], Seq[Double]) = {
    val n = rows.length
    val nBatches = (n + cfg.batchSize - 1) / cfg.batchSize // 0 when empty
    val (params, stats) = model.initParams(cfg.seed)
    val adam = new Adam(model.paramCount, cfg.lr, cfg.weightDecay)
    val losses = new scala.collection.mutable.ArrayBuffer[Double]

    for (epoch <- 0 until cfg.epochs) {
      // epoch-seeded global shuffle; batch b takes ranks
      // [b·batchSize, (b+1)·batchSize).
      // productHash is deprecated in favor of caseClassHash, which
      // mixes in the class name and CHANGES the hash values — this
      // hash IS the seeded shuffle order every trained model and
      // quality log depends on, so it stays pinned.
      val order = Array.tabulate(n)(identity).sortBy { i =>
        (scala.util.hashing.MurmurHash3.productHash(
          (i.toLong, epoch.toLong, cfg.seed)): @annotation.nowarn("cat=deprecation"))
      }

      var epochLoss = 0.0
      var seen = 0L
      for (b <- 0 until nBatches) {
        val batch = order.slice(b * cfg.batchSize, (b + 1) * cfg.batchSize)
          .map(rows(_)).toIndexedSeq
        val dropSeed = cfg.seed * 1000003L + epoch * 1009L + b +
          dropoutStream * 7919L
        val res = model.batchGradient(params, stats,
          mat(batch.map(_._1)), mat(batch.map(_._2)),
          new java.util.Random(dropSeed))
        adam.step(params, res.grads)
        // BN running-stats momentum update (torch: 0.1 toward batch)
        var i = 0
        while (i < stats.length) {
          stats(i) = (1 - Kernel.BnMomentum) * stats(i) +
            Kernel.BnMomentum * res.batchStats(i)
          i += 1
        }
        Kernel.qa(stats) // no-op unless the F32 numerics probe is on
        epochLoss += res.loss * res.n
        seen += res.n
      }
      losses += (if (seen > 0) epochLoss / seen else 0.0)
    }
    (params, stats, losses.toSeq)
  }

  /** Cluster-scale synchronous variant: ONE gradient step per epoch,
    * each partition acting as a local batch (torch DataParallel
    * semantics: per-replica BatchNorm statistics, per-replica batch-
    * local loss terms), gradients SUMMED across partitions with
    * treeAggregate, single Adam step + BN running update on the driver.
    * This is the 100 TB path: weights ship once per epoch, the gradient
    * reduction is O(log partitions), and no epoch-wise reshuffle is
    * required. Exact mini-batch parity is what [[train]] provides; this
    * trades batch-order semantics for cluster throughput.
    */
  /** Default per-slice byte bound for the chunked gradient reduction:
    * 64 MiB of doubles. SURVEY §4.4 risk register: the hyperparameter
    * search maximum is a ~45 M-param model, so a monolithic gradient is
    * ~360 MB — and a treeReduce merge holds TWO operands plus the
    * driver's final copy (~1 GB transient), hostile to an 8 GiB driver.
    * 64 MiB slices bound every merge and the driver fetch to ~128 MiB
    * regardless of model width; 45 M params reduce in 6 sequential
    * slice jobs (latency traded for a hard memory ceiling). */
  val DefaultGradSliceBytes: Long = 64L << 20

  /** Slice count that keeps every in-flight gradient slice within
    * `maxSliceBytes`: ceil(paramCount·8 / maxSliceBytes), min 1. */
  def gradChunksFor(paramCount: Long,
      maxSliceBytes: Long = DefaultGradSliceBytes): Int =
    math.max(1L, (paramCount * 8 + maxSliceBytes - 1) / maxSliceBytes).toInt

  /** `gradChunks > 1` bounds the reduction/driver peak to
    * paramCount/gradChunks doubles: per-partition gradients are cached
    * once per epoch, then reduced slice by slice (the SURVEY §4.4
    * per-layer-aggregation mitigation for 45 M-param search maxima —
    * sequential chunk jobs trade latency for bounded memory).
    * `gradChunks = 0` (the default) derives the count from
    * [[gradChunksFor]] — small models reduce whole (1 chunk), wide
    * search candidates are sliced automatically. */
  def trainSync(df: DataFrame, model: AeModel, cfg: Config,
      x1Col: String = "x1", x2Col: String = "x2",
      treeDepth: Int = 2, gradChunks: Int = 0,
      maxGradSliceBytes: Long = DefaultGradSliceBytes): Trained = {
    val resolvedChunks =
      if (gradChunks > 0) gradChunks
      else gradChunksFor(model.paramCount, maxGradSliceBytes)
    val rdd = df.select(x1Col, x2Col).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .cache()
    rdd.count()
    val (params, stats) = model.initParams(cfg.seed)
    val adam = new Adam(model.paramCount, cfg.lr, cfg.weightDecay)
    val losses = new scala.collection.mutable.ArrayBuffer[Double]
    val sc = df.sparkSession.sparkContext

    for (epoch <- 0 until cfg.epochs) {
      val bcParams = sc.broadcast(params.clone())
      val bcStats = sc.broadcast(stats.clone())
      val modelRef = model
      val seedBase = cfg.seed * 1000003L + epoch * 1009L +
        DropoutStream * 7919L
      val partial = rdd.mapPartitionsWithIndex { (pid, it) =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else Iterator(modelRef.batchGradient(bcParams.value, bcStats.value,
          mat(rows.map(_._1).toIndexedSeq), mat(rows.map(_._2).toIndexedSeq),
          new java.util.Random(seedBase + pid)))
      }
      def mergeStats(a: Kernel.BatchResult,
          b: Kernel.BatchResult): Kernel.BatchResult = {
        var i = 0
        // weighted merge of per-replica BN batch stats
        while (i < a.batchStats.length) {
          a.batchStats(i) = (a.batchStats(i) * a.n + b.batchStats(i) * b.n) /
            (a.n + b.n)
          i += 1
        }
        Kernel.BatchResult(a.loss * a.n / (a.n + b.n) +
          b.loss * b.n / (a.n + b.n), a.grads, a.batchStats, a.n + b.n)
      }

      val (aggLoss, aggStats, fullGrads) =
        if (resolvedChunks <= 1) {
          val agg = partial.treeReduce({ (a, b) =>
            var i = 0
            while (i < a.grads.length) { a.grads(i) += b.grads(i); i += 1 }
            mergeStats(a, b)
          }, treeDepth)
          (agg.loss, agg.batchStats, agg.grads)
        } else {
          // cache per-partition results once; reduce loss/stats without
          // gradients, then the gradient slice by slice
          val cached = partial.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val light = cached
            .map(r => Kernel.BatchResult(r.loss, Array.empty,
              r.batchStats.clone(), r.n))
            .treeReduce(mergeStats, treeDepth)
          val grads = new Array[Double](model.paramCount)
          val chunkLen = (model.paramCount + resolvedChunks - 1) / resolvedChunks
          for (c <- 0 until resolvedChunks) {
            val lo = c * chunkLen
            val hi = math.min(lo + chunkLen, model.paramCount)
            if (hi > lo) {
              val slice = cached
                .map(r => java.util.Arrays.copyOfRange(r.grads, lo, hi))
                .treeReduce({ (a, b) =>
                  var i = 0
                  while (i < a.length) { a(i) += b(i); i += 1 }
                  a
                }, treeDepth)
              System.arraycopy(slice, 0, grads, lo, hi - lo)
            }
          }
          cached.unpersist(false)
          (light.loss, light.batchStats, grads)
        }

      adam.step(params, fullGrads)
      var i = 0
      while (i < stats.length) {
        stats(i) = (1 - Kernel.BnMomentum) * stats(i) +
          Kernel.BnMomentum * aggStats(i)
        i += 1
      }
      Kernel.qa(stats) // no-op unless the F32 numerics probe is on
      losses += aggLoss
      bcParams.destroy(); bcStats.destroy()
    }
    rdd.unpersist(false)
    Trained(model, params, stats, losses.toSeq)
  }

  /** Eval-mode CustomLoss over a full dataset, computed distributed:
    * ‖·‖_F decomposes into per-partition sums of squares
    * (reference evaluates the val fold as one full batch —
    * reconloss_from_retrained_models.py:19). */
  def evaluateLoss(df: DataFrame, ae: TwoViewAe, params: Array[Double],
      stats: Array[Double]): Double =
    evaluateLoss(df, TwoViewModel(ae), params, stats, "x1", "x2")

  def evaluateLoss(df: DataFrame, model: AeModel, params: Array[Double],
      stats: Array[Double], x1Col: String = "x1",
      x2Col: String = "x2"): Double = {
    // recon outputs and their target view, covering both the plain AEs
    // (s1hat/s2hat) and MOCSS's four reconstructions
    val reconKeys = Seq("s1hat" -> 0, "s2hat" -> 1,
      "shared1_rec" -> 0, "specific1_rec" -> 0,
      "shared2_rec" -> 1, "specific2_rec" -> 1)
    val partials = df.select(x1Col, x2Col).rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val x1 = mat(rows.map(_._1).toIndexedSeq)
          val x2 = mat(rows.map(_._2).toIndexedSeq)
          val outs = model.evalOutputs(params, stats, x1, x2)
          def ssOf(out: DenseMatrix[Double], tgt: DenseMatrix[Double]): Double = {
            val (oh, _) = Kernel.rowNormalize(out)
            val (th, _) = Kernel.rowNormalize(tgt)
            var acc = 0.0
            var r = 0
            while (r < oh.rows) {
              var c = 0
              while (c < oh.cols) {
                val d = oh(r, c) - th(r, c); acc += d * d; c += 1
              }
              r += 1
            }
            acc
          }
          Iterator(reconKeys.collect {
            case (k, v) if outs.contains(k) =>
              k -> ssOf(outs(k), if (v == 0) x1 else x2)
          }.toMap)
        }
      }
      .fold(Map.empty[String, Double]) { (a, b) =>
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
      }
    partials.values.map(math.sqrt).sum
  }
}
