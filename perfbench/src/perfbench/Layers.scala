package perfbench

import scala.jdk.CollectionConverters._

import perfbench.EngineProbe.{JobRec, StageRec, TriggerRec}
import perfbench.Main.{Op, PassRec}

/** Per-layer metrics of a traced run: each summed over one timed pass,
  * then the median over the timed passes. Engine records belong to the
  * operation whose window holds their start. Also adds the job, stage
  * and trigger spans under their operations. */
object Layers {

  val QueryLayers: Seq[String] = Main.Modules.map(_._1) :+ "streaming"

  final case class Engine(jobs: Int, stages: Int, skipped: Int, tasks: Long,
      schedS: Double, runS: Double, cpuS: Double, shuffleMb: Double,
      spillMb: Double, noJobS: Double)

  def metrics(ops: Seq[Op], passes: Seq[PassRec],
      results: Map[Int, OmicsAe.Result], probe: EngineProbe, spans: SpanLog,
      storageMb: Double): Seq[(String, Double, String)] = {
    val timedOps = ops.filter(_.pass >= 0)
    val jobs = probe.jobs.asScala.toSeq
    val stages = probe.stages.asScala.toSeq
    val triggers = probe.triggers.asScala.toSeq

    def in(o: Op)(t: Long): Boolean = t >= o.startMs && t <= o.endMs
    def jobsOf(o: Op): Seq[JobRec] = jobs.filter(j => in(o)(j.startMs))
    def stagesOf(o: Op): Seq[StageRec] = stages.filter(s => in(o)(s.startMs))
    def triggersOf(o: Op): Seq[TriggerRec] = triggers.filter(t => in(o)(t.startMs))

    addSpans(timedOps, jobs, stages, triggers, spans)

    def engine(os: Seq[Op]): Engine = {
      val js = os.flatMap(jobsOf)
      val ss = os.flatMap(stagesOf)
      val noJobMs = os.map { o =>
        val self = Span(0, 0, "", "", o.startMs, o.endMs)
        Spans.selfMs(self, jobsOf(o).map(j => Span(0, 0, "", "", j.startMs, j.endMs)))
      }.sum
      Engine(js.length, ss.length,
        math.max(0, js.map(_.stageIds.length).sum - ss.length),
        ss.map(_.tasks.toLong).sum, ss.map(_.schedDelayMs).sum / 1e3,
        ss.map(_.runMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9,
        ss.map(_.shuffleBytes).sum / 1e6, ss.map(_.spillBytes).sum / 1e6,
        noJobMs / 1e3)
    }
    def opsIn(p: PassRec): Seq[Op] = timedOps.filter(_.pass == p.index)
    def med(f: PassRec => Double): Double =
      Stats.median(passes.map(f))
    def phaseS(os: Seq[Op], ph: String): Double =
      os.flatMap(_.phases).filter(_.name == ph).map(_.seconds).sum
    def stepS(p: PassRec, step: String): Double =
      opsIn(p).filter(_.name == step).map(_.wallS).sum

    val query = QueryLayers.flatMap { l =>
      def os(p: PassRec) = opsIn(p).filter(_.layer == l)
      def e(f: Engine => Double) = med(p => f(engine(os(p))))
      Seq(
        (s"$l.construct_s", med(p => phaseS(os(p), "construct")), "s"),
        (s"$l.plan_s", med(p => phaseS(os(p), "plan")), "s"),
        (s"$l.exec_s", med(p => phaseS(os(p), "execute")), "s"),
        (s"$l.no_job_s", e(_.noJobS), "s"),
        (s"$l.jobs", e(_.jobs), "count"),
        (s"$l.stages", e(_.stages), "count"),
        (s"$l.stages_skipped", e(_.skipped), "count"),
        (s"$l.tasks", e(_.tasks.toDouble), "count"),
        (s"$l.sched_delay_s", e(_.schedS), "s"),
        (s"$l.executor_run_s", e(_.runS), "s"),
        (s"$l.executor_cpu_s", e(_.cpuS), "s"),
        (s"$l.shuffle_mb", e(_.shuffleMb), "MB"),
        (s"$l.spill_mb", e(_.spillMb), "MB"))
    }

    def trig(p: PassRec): Seq[TriggerRec] =
      opsIn(p).filter(_.layer == "streaming").flatMap(triggersOf)
    // state held at the end of each stream run: its last trigger's reading
    def lastPerRun(ts: Seq[TriggerRec]): Seq[TriggerRec] =
      ts.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val streaming = Seq(
      ("streaming.batches", med(p => trig(p).length), "count"),
      ("streaming.state_rows", med(p => lastPerRun(trig(p)).map(_.stateRows).sum), "rows"),
      ("streaming.state_rows_updated", med(p => trig(p).map(_.stateRowsUpdated).sum), "rows"),
      ("streaming.state_mem_mb", med(p => lastPerRun(trig(p)).map(_.stateMemBytes).sum / 1e6), "MB"),
      ("streaming.add_batch_s", med(p => trig(p).map(_.addBatchMs).sum / 1e3), "s"),
      ("streaming.commit_s", med(p => trig(p).map(_.commitMs).sum / 1e3), "s"),
      ("streaming.trigger_s", med(p => trig(p).map(t => t.endMs - t.startMs).sum / 1e3), "s"))

    def res(p: PassRec): Option[OmicsAe.Result] = results.get(p.index)
    def r(f: OmicsAe.Result => Double): PassRec => Double =
      p => res(p).map(f).getOrElse(0.0)
    def trainS(p: PassRec): Double = stepS(p, "search") + stepS(p, "retrain")
    def omicsE(f: Engine => Double) =
      med(p => f(engine(opsIn(p).filter(_.layer == "omics"))))
    val omics = Seq(
      ("etl.prepare_s", med(stepS(_, "prepare")), "s"),
      ("search.wall_s", med(stepS(_, "search")), "s"),
      ("search.folds_trained", med(r(_.foldsTrained)), "count"),
      ("search.pruned_share", med(r(x => 1.0 - x.foldsTrained.toDouble / x.foldsPlanned)), "ratio"),
      ("nn.retrain_s", med(stepS(_, "retrain")), "s"),
      ("nn.steps", med(r(_.steps.toDouble)), "count"),
      ("nn.step_ms", med(p => res(p).map(x => 1e3 * trainS(p) / x.steps).getOrElse(0.0)), "ms"),
      ("nn.train_samples_per_s", med(p => res(p).map(x => x.samples / trainS(p)).getOrElse(0.0)), "rows/s"),
      ("nn.infer_s", med(stepS(_, "infer")), "s"),
      ("nn.test_recon_loss", med(r(_.testRecon)), "loss"),
      ("ml.nb_cv_s", med(stepS(_, "nb")), "s"),
      ("ml.nb_accuracy", med(r(_.nbAccuracy)), "ratio"),
      ("ml.kmeans_s", med(stepS(_, "kmeans")), "s"),
      ("metrics.agreement_s", med(stepS(_, "agreement")), "s"),
      ("metrics.kmeans_nmi", med(r(_.nmi)), "ratio"),
      ("omics.jobs", omicsE(_.jobs), "count"),
      ("omics.stages", omicsE(_.stages), "count"),
      ("omics.tasks", omicsE(_.tasks.toDouble), "count"),
      ("omics.executor_run_s", omicsE(_.runS), "s"),
      ("omics.no_job_s", omicsE(_.noJobS), "s"))

    val shared = Seq(
      ("cache.storage_mb", storageMb, "MB"),
      ("box.steal_pct", Stats.median(passes.map(_.stealPct)), "%"),
      ("box.iowait_pct", Stats.median(passes.map(_.iowaitPct)), "%"),
      ("box.calib_mt_s", Stats.median(passes.map(_.calibS)), "s"),
      ("trace.pass_s", med(_.wallS), "s"))

    query ++ streaming ++ omics ++ shared
  }

  /** Job, stage and trigger spans under the operation phase that was
    * running when each started; a stage goes under the job that lists it. */
  private def addSpans(ops: Seq[Op], jobs: Seq[JobRec], stages: Seq[StageRec],
      triggers: Seq[TriggerRec], spans: SpanLog): Unit = {
    val phases = ops.flatMap(_.phases)
    def phaseAt(t: Long): Option[Int] =
      phases.find(p => t >= p.startMs && t <= p.endMs).map(_.spanId)
    val jobSpans = jobs.sortBy(_.startMs).flatMap { j =>
      phaseAt(j.startMs).map { parent =>
        j -> spans.add(parent, "job", s"job ${j.id}", j.startMs, j.endMs,
          Seq("stages" -> j.stageIds.length.toDouble))
      }
    }
    stages.sortBy(_.startMs).foreach { s =>
      jobSpans.find { case (j, _) =>
        j.stageIds.contains(s.id) && s.startMs >= j.startMs && s.startMs <= j.endMs
      }.map(_._2).orElse(phaseAt(s.startMs)).foreach { parent =>
        spans.add(parent, "stage", s"stage ${s.id}", s.startMs, s.endMs, Seq(
          "tasks" -> s.tasks.toDouble, "executor_run_s" -> s.runMs / 1e3,
          "executor_cpu_s" -> s.cpuNs / 1e9, "sched_delay_s" -> s.schedDelayMs / 1e3,
          "shuffle_mb" -> s.shuffleBytes / 1e6, "spill_mb" -> s.spillBytes / 1e6))
      }
    }
    triggers.sortBy(_.startMs).foreach { t =>
      phaseAt(t.startMs).foreach { parent =>
        spans.add(parent, "trigger", s"batch ${t.batchId}", t.startMs, t.endMs, Seq(
          "add_batch_s" -> t.addBatchMs / 1e3, "commit_s" -> t.commitMs / 1e3,
          "state_rows" -> t.stateRows.toDouble,
          "state_rows_updated" -> t.stateRowsUpdated.toDouble))
      }
    }
  }
}
