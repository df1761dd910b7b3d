package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, Sessions, SparkEntry}
import graft.operators.{ExtensionOps, MetricOps, RelationalOps, SimilarityOps, TextOps}

/** Closed-loop benchmark client: one process, one session on
  * `local[4]`, one operation at a time.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <sfDir> <workDir> <goldens.tsv> <spanFile>
  *
  * Set-up builds the session and the inputs and runs one untimed pass
  * (fixtures, JIT). Timed passes then run until `seconds` have elapsed,
  * at least one. With tracing on, every timed pass runs with the engine
  * listeners attached and records spans; tracing overhead is the traced
  * run's `trace.pass_s` minus an untraced run's `pass_s`. The last stdout
  * line is the result object. */
object Main {

  /** The query_suite: batch queries from every module, the short
    * planning-bound kind next to executor-bound (x29, y4) and
    * fixture-backed ones (x34 and x35 read the HLL and CMS sketches), and
    * stream queries, each an `AvailableNow` run plus a read of its sink
    * (z26 keeps HLL sketches in the state store). Stream queries form the
    * `streaming` layer; a batch query belongs to the module whose `defs`
    * list holds it. */
  val BatchQueries: Seq[String] = Seq(
    "a2_group_count", "p1_semi_join", "o1_topk",
    "m8_vmeasure", "m11_davies_bouldin",
    "x2_token_count", "x29_curation_pipeline", "x34_hll_distinct",
    "x35_cms_freq", "y1_cosine_topk", "y4_lsh_ann", "z3_events_hourly")

  val StreamQueries: Seq[String] =
    Seq("z4_stream_windowed", "z26_stream_windowed_hll")

  val Workloads: Seq[String] = Seq("query_suite", "omics_ae")

  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "RelationalOps" -> RelationalOps.defs, "MetricOps" -> MetricOps.defs,
    "TextOps" -> TextOps.defs, "SimilarityOps" -> SimilarityOps.defs,
    "ExtensionOps" -> ExtensionOps.defs)

  final case class Phase(name: String, startMs: Long, endMs: Long,
      seconds: Double, spanId: Int)

  /** One timed call: a query, or one public call of the AE pipeline.
    * `pass` is -1 for the untimed set-up pass. */
  final case class Op(pass: Int, name: String,
      layer: String, startMs: Long, endMs: Long, wallS: Double,
      phases: Seq[Phase], failure: Option[String])

  final case class PassRec(index: Int, wallS: Double, stealPct: Double,
      iowaitPct: Double, calibS: Double)

  final class OpFailed(msg: String) extends RuntimeException(msg)

  final class Client(val spans: SpanLog) {
    val ops = ArrayBuffer.empty[Op]
    val failures = ArrayBuffer.empty[String]

    /** Times `phases` in order as one operation; a phase returning a
      * message has failed its check. A throw or a failed check fails the
      * operation, which is then named in the output. */
    def op(pass: Int, traced: Boolean, parent: Int, name: String,
        layer: String)(phases: (String, () => Option[String])*): Op = {
      val startMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val done = ArrayBuffer.empty[Phase]
      val failure =
        try {
          phases.iterator.map { case (ph, body) =>
            val m = System.currentTimeMillis()
            val n = System.nanoTime()
            val bad = body()
            done += Phase(ph, m, System.currentTimeMillis(),
              (System.nanoTime() - n) / 1e9, 0)
            bad
          }.collectFirst { case Some(msg) => msg }
        } catch {
          case t: Throwable => Some(s"${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).linesIterator.nextOption()
              .getOrElse(""))
        }
      val wall = (System.nanoTime() - n0) / 1e9
      val endMs = System.currentTimeMillis()
      val phasesOut =
        if (!traced) done.toSeq
        else {
          val id = spans.add(parent, "operation", name, startMs, endMs)
          done.toSeq.map(p =>
            p.copy(spanId = spans.add(id, "phase", p.name, p.startMs, p.endMs)))
        }
      failure.foreach(f => failures += s"$name (pass $pass): $f")
      val o = Op(pass, name, layer, startMs, endMs, wall, phasesOut,
        failure)
      ops += o
      o
    }
  }

  /** Tab-separated `name rows xor sum`, hex for the two hashes. */
  def readGoldens(path: String): Map[String, Fold] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).map { f =>
          f(0) -> Fold(java.lang.Long.parseUnsignedLong(f(2), 16),
            java.lang.Long.parseUnsignedLong(f(3), 16), f(1).toLong)
        }.toMap
      finally src.close()
    }

  def goldenLine(name: String, f: Fold): String =
    f"$name\t${f.count}\t${f.xor}%016x\t${f.sum}%016x"

  /** construct → plan → execute; the execute job folds the checksum,
    * which must equal the golden. */
  def queryPhases(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame, golden: Option[Fold],
      seen: Fold => Unit = _ => ()): Seq[(String, () => Option[String])] = {
    var df: DataFrame = null
    Seq(
      "construct" -> (() => { df = fn(spark, sfDir); None }),
      "plan" -> (() => { df.queryExecution.executedPlan; None }),
      "execute" -> (() => {
        val got = Checksum.of(df)
        seen(got)
        golden match {
          case Some(g) if g != got =>
            Some(s"checksum ${got.show}, golden ${g.show}")
          case Some(_) => None
          case None => Some(s"no golden (got ${got.show})")
        }
      }))
  }

  def session(workDir: java.nio.file.Path): SparkSession = {
    val spark = Sessions.builder("local[4]", "4")
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full GC: the least of a few readings, since
    * Spark's background threads allocate between a collection and the
    * reading. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(20)
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, workDirS, goldenPath,
      spanPath) = argv
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val workDir = Paths.get(workDirS)

    val spark = session(workDir)
    val spans = new SpanLog
    val client = new Client(spans)
    val runSpan = spans.open(0, "run", s"$workload seed=$seed",
      System.currentTimeMillis())

    // A pass runs every operation of the workload once.
    val runPass: (Int, Boolean, Int) => Option[OmicsAe.Result] =
      workload match {
        case "omics_ae" =>
          val data = workDir.resolve("simulation.tsv")
          OmicsAe.writeData(data, seed)
          (pass, traced, parent) =>
            try {
              val r = OmicsAe.pass(spark, data.toString, name => body => {
                var out: Any = null
                val o = client.op(pass, traced, parent, name, "omics")(
                  "call" -> (() => { out = body; None }))
                o.failure.foreach(f => throw new OpFailed(f))
                out
              })
              OmicsAe.check(r).foreach(f =>
                client.failures += s"omics_ae (pass $pass): $f")
              Some(r)
            } catch {
              case _: OpFailed => None
              case t: Throwable =>
                client.failures += s"omics_ae (pass $pass): $t"
                None
            }
        case _ =>
          val layerOf = Modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap ++
            StreamQueries.map(_ -> "streaming")
          val golden = readGoldens(goldenPath)
          (pass, traced, parent) => {
            val order = new scala.util.Random(seed * 1000003L + pass)
              .shuffle(BatchQueries ++ StreamQueries)
            order.foreach { n =>
              client.op(pass, traced, parent, n, layerOf(n))(
                queryPhases(spark, sfDir, SparkEntry.queries(n), golden.get(n)): _*)
            }
            None
          }
      }

    val warm = runPass(-1, false, runSpan).toSeq
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val passes = ArrayBuffer.empty[PassRec]
    val results = ArrayBuffer.empty[(Int, OmicsAe.Result)]
    val probe = new EngineProbe
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = passes.length
      val calib = Box.calibrate()
      val ticks0 = Box.ticks()
      if (trace) probe.attach(spark)
      val passSpan =
        if (trace) spans.open(runSpan, "pass", s"pass $i", System.currentTimeMillis())
        else 0
      val n0 = System.nanoTime()
      runPass(i, trace, passSpan).foreach(r => results += (i -> r))
      val wall = (System.nanoTime() - n0) / 1e9
      if (trace) { spans.close(passSpan, System.currentTimeMillis()); probe.detach(spark) }
      val (steal, iowait) = Box.shares(ticks0, Box.ticks())
      passes += PassRec(i, wall, steal, iowait, calib)
    }
    if ((warm ++ results.map(_._2)).map(_.losses).distinct.length > 1)
      client.failures += "omics_ae: losses differ between passes of one run"

    val heapMb = liveHeapMb()
    spans.close(runSpan, System.currentTimeMillis())
    spark.stop()

    val timed = client.ops.filter(_.pass >= 0).toSeq
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(passes.map(_.wallS).toSeq), "s"),
      ("op_geomean_s", Stats.median(passes.toSeq.map(p =>
        Stats.geomean(timed.filter(_.pass == p.index).map(_.wallS)))), "s"),
      ("live_heap_mb", heapMb, "MB"))
    val layers =
      if (!trace) Nil
      else Layers.metrics(client.ops.toSeq, passes.toSeq, results.toMap,
        probe, spans, storageMb)

    println(s"workload=$workload seed=$seed seconds=$seconds " +
      s"trace=${if (trace) 1 else 0} passes=${passes.length} " +
      s"timed_ops=${timed.length} sf_dir=$sfDir")
    println(f"info op_p50_s = ${Stats.median(timed.map(_.wallS))}%.4f s (${timed.length} samples)")
    Stats.tail(timed.map(_.wallS)).foreach { case (p, v) =>
      println(f"info op_tail_s = $v%.4f s (p$p of ${timed.length} samples)")
    }
    println("info pass_s of each pass: " + passes.map(p => f"${p.wallS}%.3f").mkString(" "))
    println(f"info box steal=${Stats.median(passes.map(_.stealPct).toSeq)}%.2f%% " +
      f"iowait=${Stats.median(passes.map(_.iowaitPct).toSeq)}%.2f%% " +
      f"calib_mt=${Stats.median(passes.map(_.calibS).toSeq)}%.3f s on ${Box.Threads} threads")
    results.lastOption.foreach { case (_, r) =>
      println(f"info nb_accuracy = ${r.nbAccuracy}%.4f ratio, " +
        f"test_recon_loss = ${r.testRecon}%.4f loss, " +
        f"kmeans_nmi = ${r.nmi}%.4f ratio, train rows x epochs = ${r.samples}, " +
        s"steps = ${r.steps}")
    }
    timed.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      println(f"op $n%-26s layer=${os.head.layer}%-14s median_s=${Stats.median(os.map(_.wallS))}%.4f")
    }
    e2e.foreach { case (n, v, u) => println(s"metric $n = $v $u (lower is better)") }
    layers.foreach { case (n, v, u) => println(s"layer $n = $v $u") }
    client.failures.foreach(f => println(s"FAILED $f"))
    if (trace) {
      spans.write(Paths.get(spanPath))
      println(s"spans: $spanPath (${spans.spans.length})")
    }
    val shown = if (trace) layers else e2e
    val metrics = shown.map { case (n, v, u) =>
      s"${Json.str(n)}:{" + "\"value\":" + Json.num(v) + ",\"unit\":" +
        Json.str(u) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${client.failures.isEmpty},""" +
      s""""attempted":${client.ops.length},""" +
      s""""failed":${client.failures.length},"metrics":$metrics}""")
  }
}

/** Writes the checksum goldens of every `SparkEntry.queries` entry.
  * Usage: perfbench.Goldens <sfDir> <workDir> <out.tsv> */
object Goldens {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, workDir, out) = args
    val spark = Main.session(Paths.get(workDir))
    val client = new Main.Client(new SpanLog)
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      var got: Option[Fold] = None
      client.op(-1, false, 0, n, "")(
        Main.queryPhases(spark, sfDir, fn, None, f => got = Some(f)): _*)
      got.map(Main.goldenLine(n, _))
    }
    spark.stop()
    Files.writeString(Paths.get(out), lines.mkString(
      s"# name\trows\txor\tsum, sf=${Paths.get(sfDir).getFileName}\n", "\n", "\n"))
    println(s"${lines.length} goldens written to $out")
  }
}
