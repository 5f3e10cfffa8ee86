package perfbench

/** Per-layer aggregates over recorded spans. Per-operation figures are
  * means over the operations of the window they are taken in. */
object Layers {
  val Families: Seq[String] = Seq("transit", "rel", "dedup", "sim", "text", "stream", "mm")

  def familyOf(face: String): String = face.takeWhile(_ != '_')

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Executor-side totals of every job started in [w0, w1], per operation. */
  def exec(t: Trace, w0: Long, w1: Long, ops: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val n = math.max(ops, 1).toDouble
    val jobs = t.jobsIn(w0, w1)
    val tasks = t.tasks.asScala.filter(x => x.end >= w0 && x.end <= w1).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val ran = t.stages.asScala.filter(s => stageIds.contains(s.id)).map(_.id).toSet
    val doneIn = t.stages.asScala.count(s => s.end >= w0 && s.end <= w1)
    Map(
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> doneIn / n,
      "exec.tasks" -> tasks.size / n,
      "exec.job_wall_ms" -> jobs.map(j => (if (j.end < 0) w1 else j.end) - j.start).sum / n,
      "exec.task_ms" -> tasks.map(_.runMs).sum / n,
      "exec.task_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "exec.shuffle_read_bytes" -> tasks.map(_.shReadB).sum / n,
      "exec.shuffle_write_bytes" -> tasks.map(_.shWriteB).sum / n,
      "exec.spill_bytes" -> tasks.map(_.spillB).sum / n,
      "exec.input_bytes" -> tasks.map(_.inB).sum / n,
      "exec.output_bytes" -> tasks.map(_.outB).sum / n,
      "exec.skipped_stage_frac" ->
        (if (stageIds.isEmpty) 0.0 else (stageIds.size - ran.size).toDouble / stageIds.size),
      "exec.failed_tasks" -> tasks.count(_.failed).toDouble)
  }

  /** Planning and driver-gap figures for operations run one at a time, so
    * every job and query execution inside an operation's interval is its
    * own. Returns means per operation plus summed plan-node counts. */
  def sequential(t: Trace, ops: Seq[(Double, Double)]): Map[String, Double] = {
    val per = ops.map { case (s, dur) =>
      val e = s + dur
      val qes = t.qesIn(s.toLong, math.ceil(e).toLong)
      val jobs = t.jobsIn(s.toLong, math.ceil(e).toLong)
      val planning = qes.map(q => q.analysisMs + q.optimizerMs + q.planningMs).sum
      val busy = Trace.unionMs(jobs.map(j => (j.start, if (j.end < 0) e.toLong else j.end)),
        s.toLong, math.ceil(e).toLong)
      (qes, math.max(0.0, dur - planning - busy))
    }
    val qes = per.flatMap(_._1)
    val n = math.max(ops.size, 1).toDouble
    Map(
      "plan.analysis_ms" -> qes.map(_.analysisMs).sum / n,
      "plan.optimizer_ms" -> qes.map(_.optimizerMs).sum / n,
      "plan.planning_ms" -> qes.map(_.planningMs).sum / n,
      "exec.driver_gap_ms" -> mean(per.map(_._2))) ++
      Trace.NodeKinds.map(k => s"plan.${k}_nodes" -> qes.map(_.nodes.getOrElse(k, 0)).sum.toDouble)
  }

  def batch(t: Trace, ops: Seq[(OpRec, Double)], faces: Seq[String],
      w0: Long, w1: Long): Map[String, Double] = {
    val timings = ops.map { case (r, _) => (r.startMs, r.durMs) }
    // plan-node counts are exact totals over one pass (the last one)
    val lastPass = sequential(t, timings.takeRight(faces.size))
      .filter(_._1.endsWith("_nodes"))
    val build = ops.map { case (r, builtAt) =>
      (builtAt - r.startMs, t.jobsIn(r.startMs.toLong, math.ceil(builtAt).toLong).size.toDouble,
        r.startMs + r.durMs - builtAt)
    }
    val byFace = ops.map(_._1).filter(_.ok).groupBy(_.name)
      .map { case (n, rs) => n -> median(rs.map(_.durMs)) }
    val families = Families.map { f =>
      s"family.$f.wall_s" -> byFace.filter { case (n, _) => familyOf(n) == f }.values.sum / 1e3
    }
    exec(t, w0, w1, ops.size) ++ sequential(t, timings) ++ lastPass ++ families ++ Map(
      "face.build_ms" -> mean(build.map(_._1)),
      "face.build_jobs" -> mean(build.map(_._2)),
      "face.action_ms" -> mean(build.map(_._3)))
  }
}
