package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import perfbench.Harness.OpRec
import perfbench.Ledger.{Job, Stage, unionMs}

/** Turns a drained [[Ledger]] into one ledger row per traced op (every
  * per-layer metric) and a span file (op -> phase -> query execution ->
  * job -> stage, shared op id, parent ids).
  */
object Trace {
  private def jobsIn(l: Ledger, lo: Long, hi: Long): Seq[Job] =
    l.jobs.values.asScala.toSeq.filter(j => j.start >= lo && j.start <= hi)
      .sortBy(_.id)

  private def stagesIn(l: Ledger, lo: Long, hi: Long): Seq[Stage] =
    l.stages.values.asScala.toSeq
      .filter(s => s.tasks > 0 && s.submitted >= lo && s.submitted <= hi)

  private def plansIn(l: Ledger, lo: Long, hi: Long) =
    l.plans.values.asScala.toSeq.filter(p => p.start >= lo && p.start <= hi)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def jobEnd(j: Job, hi: Long) = if (j.end < 0) hi else j.end

  def row(l: Ledger, o: OpRec, cores: Int): Map[String, Any] = {
    val jobs = jobsIn(l, o.startMs, o.endMs)
    val stages = stagesIn(l, o.startMs, o.endMs)
    val plans = plansIn(l, o.startMs, o.endMs)
    val iv = jobs.map(j => (j.start, jobEnd(j, o.endMs)))
    val jobWall = unionMs(iv, o.startMs, o.endMs) / 1000.0
    val build = o.phases.find(_.name == "build")
    val buildJobs = build.map(b => jobsIn(l, b.startMs, b.endMs).size).getOrElse(0)
    val driverOnly = build.map(b =>
      b.secs - unionMs(iv, b.startMs, b.endMs) / 1000.0).getOrElse(0.0)
    val sinkPhases = o.phases.filterNot(p => Set("build", "execute", "read")(p.name))
    val sinkJobs = sinkPhases.map(p => jobsIn(l, p.startMs, p.endMs).size).sum
    val taskRun = stages.map(_.runMs).sum / 1000.0
    // skew of the op's longest stage: slowest task over the median task
    val skew = stages.sortBy(s => s.completed - s.submitted).lastOption
      .map { s =>
        val d = s.durations.map(_.toDouble).toSeq
        val m = median(d)
        if (m > 0) d.max / m else 1.0
      }.getOrElse(1.0)
    def mb(f: Stage => Long) = stages.map(f).sum / 1048576.0
    def phase(n: String) = o.phases.filter(_.name == n).map(_.secs).sum
    Map(
      "op" -> o.id, "pass" -> o.pass, "name" -> o.name, "wall_s" -> o.wall,
      "entry.build_s" -> build.map(_.secs).getOrElse(0.0),
      "entry.build_jobs" -> buildJobs,
      "entry.driver_only_s" -> math.max(driverOnly, 0.0),
      "plan.analysis_s" -> plans.map(_.analysisMs).sum / 1000.0,
      "plan.optimize_s" -> plans.map(_.optimizeMs).sum / 1000.0,
      "plan.physical_s" -> plans.map(_.physicalMs).sum / 1000.0,
      "sched.jobs" -> jobs.size,
      "sched.stages" -> stages.size,
      "sched.tasks" -> stages.map(_.tasks).sum,
      "sched.job_wall_s" -> jobWall,
      "sched.gap_s" -> (o.wall - jobWall),
      "sched.job_ms" -> jobs.map(j => jobEnd(j, o.endMs) - j.start),
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "exec.deser_s" -> stages.map(_.deserMs).sum / 1000.0,
      "exec.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "exec.core_util" -> (if (jobWall > 0) taskRun / (jobWall * cores) else 0.0),
      "exec.skew" -> skew,
      "shuffle.write_mb" -> mb(_.shuffleWrite),
      "shuffle.read_mb" -> mb(_.shuffleRead),
      "shuffle.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.spill_mb" -> mb(_.spill),
      "sources.input_mb" -> mb(_.inputBytes),
      "sources.input_rows" -> stages.map(_.inputRows).sum,
      "collect.result_mb" -> mb(_.resultBytes),
      "sink.upsert_s" -> phase("upsert"),
      "sink.insert_new_s" -> phase("insert_new"),
      "sink.purge_s" -> phase("purge"),
      "sink.compact_s" -> phase("compact"),
      "sink.jobs" -> sinkJobs,
      "sink.write_mb" -> mb(_.outputBytes),
      "read.s" -> phase("read"),
    ) ++ o.extra.get("files").map("sink.files" -> _)
  }

  def writeSpans(path: String, l: Ledger, ops: Seq[OpRec]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    def span(id: String, parent: String, op: Int, kind: String, name: String,
        start: Long, end: Long, extra: Map[String, Any] = Map.empty): Unit =
      w.println(Json(Map("span" -> id, "parent" -> parent, "op" -> op,
        "kind" -> kind, "name" -> name, "start_ms" -> start, "end_ms" -> end)
        ++ extra))
    try ops.foreach { o =>
      val opSpan = s"op/${o.id}"
      span(opSpan, null, o.id, "op", o.name, o.startMs, o.endMs)
      def phaseAt(t: Long) = o.phases.find(p => t >= p.startMs && t <= p.endMs)
        .map(p => s"$opSpan/${p.name}").getOrElse(opSpan)
      o.phases.foreach(p =>
        span(s"$opSpan/${p.name}", opSpan, o.id, "call", p.name, p.startMs, p.endMs))
      val sqls = l.sqls.values.asScala.toSeq
        .filter(s => s.start >= o.startMs && s.start <= o.endMs)
      sqls.foreach(s => span(s"sql/${s.id}", phaseAt(s.start), o.id, "query",
        s"execution ${s.id}", s.start, s.end))
      plansIn(l, o.startMs, o.endMs).foreach(p => span(s"plan/${p.id}",
        phaseAt(p.start), o.id, "plan", s"plan ${p.id}", p.start, p.end,
        Map("analysis_ms" -> p.analysisMs, "optimize_ms" -> p.optimizeMs,
          "physical_ms" -> p.physicalMs)))
      val sqlIds = sqls.map(_.id).toSet
      val jobs = jobsIn(l, o.startMs, o.endMs)
      jobs.foreach { j =>
        val parent = j.exec.filter(sqlIds).map(e => s"sql/$e")
          .getOrElse(phaseAt(j.start))
        span(s"job/${j.id}", parent, o.id, "job", s"job ${j.id}", j.start, j.end)
      }
      stagesIn(l, o.startMs, o.endMs).foreach { s =>
        val job = jobs.find(_.stageIds.contains(s.id)).map(j => s"job/${j.id}")
          .getOrElse(opSpan)
        span(s"stage/${s.id}.${s.attempt}", job, o.id, "stage", s"stage ${s.id}",
          s.submitted, s.completed, Map("tasks" -> s.tasks))
      }
    } finally w.close()
  }
}
