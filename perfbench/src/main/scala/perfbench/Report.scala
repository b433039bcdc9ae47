package perfbench

import scala.collection.mutable

/** A timed fit and what the per-layer report needs from it. */
final case class FitRec(span: Span, traced: Boolean, barrier: Boolean, counters: Counters,
    createdBytes: Long, broadcastBytes: Long, expectedLevelJobs: Int)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A finite number; a non-finite one (already reported as a failure)
    * prints as -1 to keep the line valid JSON. */
  def num(v: Double): String = java.lang.Double.toString(if (java.lang.Double.isFinite(v)) v else -1.0)

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Map[String, Double]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(Bench.unitOf(k))}}"""
      }.mkString(", ") + "}}"
}

object Files {
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

/** Turns one run's samples and spans into the metrics it prints. */
final class Report(shape: Shape, args: Main.Args,
    samples: collection.Map[String, collection.Seq[Double]], ops: Seq[Span], fits: Seq[FitRec],
    tracer: TraceListener, hashes: Seq[String]) {
  private val MB = 1024.0 * 1024.0

  private def med(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)

  def endToEnd: Map[String, Double] =
    Seq("fit_s", "score_rows_per_s", "model_roundtrip_s", "holdout_loss", "cached_state_mb")
      .map(k => k -> med(k)).toMap

  // ---- traced-run attribution

  private lazy val jobsByOp: Map[Long, Seq[JobRec]] =
    tracer.jobs.values.toSeq.groupBy(_.span.parent)
  private lazy val stagesByJob: Map[Long, Seq[Span]] =
    tracer.stages.values.toSeq.groupBy(_.parent)
  private lazy val tasks: Seq[TaskRec] = tracer.linkedTasks
  private lazy val stageSpan: Map[Long, Span] = tracer.stages.values.map(s => s.id -> s).toMap
  private lazy val tasksByJob: Map[Long, Seq[TaskRec]] =
    tasks.filter(t => stageSpan.contains(t.span.parent)).groupBy(t => stageSpan(t.span.parent).parent)

  /** Wall time of an op's jobs by layer. A job's time goes to its layer,
    * except the part its stages of another layer (a repartition) cover. */
  private def wallByLayer(op: Span): Map[String, Double] = {
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    jobsByOp.getOrElse(op.id, Nil).foreach { j =>
      val (a, b) = (math.max(j.span.start, op.start), math.min(j.span.end, op.end))
      if (b > a) {
        var rest = b - a
        stagesByJob.getOrElse(j.span.id, Nil).groupBy(_.layer)
          .filter(_._1 != j.span.layer).foreach { case (layer, ss) =>
            val part = Intervals.covered(ss.map(s => (s.start, s.end)), a, b)
            acc(layer) += part
            rest -= part
          }
        acc(j.span.layer) += rest
      }
    }
    acc.toMap
  }

  private def opTasks(op: Span): Seq[TaskRec] =
    jobsByOp.getOrElse(op.id, Nil).flatMap(j => tasksByJob.getOrElse(j.span.id, Nil))

  private def gapMs(op: Span): Double =
    op.dur - Intervals.covered(jobsByOp.getOrElse(op.id, Nil).map(j => (j.span.start, j.span.end)),
      op.start, op.end)

  private def perFit(f: FitRec): Map[String, Double] = {
    val op = f.span
    val wall = wallByLayer(op).withDefaultValue(0.0)
    val ts = opTasks(op)
    val jobs = jobsByOp.getOrElse(op.id, Nil)
    def of(layer: String) = ts.filter(_.span.layer == layer)
    def cpu(layer: String) = of(layer).map(_.cpuMs).sum / 1000
    def resultMb(layer: String) = of(layer).map(_.resultBytes).sum / MB
    val barrierRun = of("BarrierTrainer").map(_.runMs).sum / 1000
    val barrierBlocked = of("BarrierTrainer").map(t => t.runMs - t.cpuMs).sum / 1000
    val gap = gapMs(op) / 1000
    val c = f.counters
    Map(
      "driver.gap_s" -> gap,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_overhead_s" -> ts.map(t => t.durMs - t.runMs).sum / 1000,
      "spark.task_retry_ratio" -> (if (ts.isEmpty) 0.0 else ts.count(_.retry).toDouble / ts.size),
      "spark.broadcast_mb" -> f.broadcastBytes / MB,
      "DistTrainer.level_jobs" -> jobs.count(_.span.layer == "DistTrainer.level").toDouble,
      "DistTrainer.level_job_s" -> wall("DistTrainer.level") / 1000,
      "DistTrainer.level_result_mb" -> resultMb("DistTrainer.level"),
      "DistTrainer.level_task_cpu_s" -> cpu("DistTrainer.level"),
      "DistTrainer.materialize_s" -> wall("DistTrainer.materialize") / 1000,
      "DistTrainer.cached_mb" -> f.createdBytes / MB,
      "DistTrainer.repartition_s" -> wall("DistTrainer.repartition") / 1000,
      "QuantileCuts.job_s" -> wall("QuantileCuts") / 1000,
      "QuantileCuts.task_cpu_s" -> cpu("QuantileCuts"),
      "QuantileCuts.result_mb" -> resultMb("QuantileCuts"),
      "BarrierTrainer.job_s" -> wall("BarrierTrainer") / 1000,
      "BarrierTrainer.repartition_s" -> wall("BarrierTrainer.repartition") / 1000,
      "BarrierTrainer.task_cpu_s" -> cpu("BarrierTrainer"),
      "BarrierTrainer.task_blocked_s" -> barrierBlocked,
      "BarrierTrainer.blocked_share" -> (if (barrierRun > 0) barrierBlocked / barrierRun else 0.0),
      "Trainer.task_s" -> of("Trainer").map(_.durMs).sum / 1000,
      "Trainer.task_cpu_s" -> cpu("Trainer"),
      "Trainer.repartition_s" -> wall("Trainer.repartition") / 1000,
      "Estimators.prep_jobs" -> jobs.count(_.span.layer == "Estimators.prep").toDouble,
      "Estimators.prep_s" -> wall("Estimators.prep") / 1000,
      "jvm.gc_s" -> c.gcMs / 1000.0,
      "jvm.gc_count" -> c.gcCount.toDouble,
      "jvm.alloc_gb" -> c.allocBytes / (MB * 1024),
      "proc.user_s" -> c.userTicks / Counters.TicksPerSecond,
      "proc.sys_s" -> c.sysTicks / Counters.TicksPerSecond,
      "proc.minflt" -> c.minflt.toDouble,
      "trace.level_jobs_expected" -> f.expectedLevelJobs.toDouble,
      "trace.wall_accounted_share" -> (if (op.dur > 0) (wall.values.sum / 1000 + gap) / (op.dur / 1000) else 1.0))
  }

  // the workload's own traced fits, and traced side fits through the barrier path
  private lazy val tracedFits = fits.filter(f => f.traced && !f.barrier)
  private lazy val fitMetrics = tracedFits.map(perFit)
  private lazy val barrierMetrics = fits.filter(_.barrier).map(perFit)

  /** Attribution sanity checks of a traced run, each with its verdict. */
  lazy val sanity: Seq[(String, Boolean)] =
    if (!args.trace) Nil
    else {
      val unattributed = fits.filter(_.traced).flatMap(f => jobsByOp.getOrElse(f.span.id, Nil))
        .map(_.span.layer).filter(l => l.startsWith("other(") || l == "unknown").distinct
      // a job that ran during a traced fit but is not tied to it would be
      // counted as driver.gap_s; the guard absorbs millisecond rounding of
      // Spark's event times at the fit's edges
      val Guard = 2.0
      val stray = fits.filter(_.traced).flatMap { f =>
        tracer.jobs.values.filter(j => j.span.parent != f.span.id &&
          j.span.start <= f.span.end - Guard && j.span.end >= f.span.start + Guard).map(_.span.name)
      }
      Seq(
        s"traced fits: ${tracedFits.size} (need >= 1)" -> tracedFits.nonEmpty,
        "every fit job attributed to a module" +
          (if (unattributed.isEmpty) "" else s" (not: ${unattributed.mkString("; ")})") -> unattributed.isEmpty,
        "no job outside a traced fit's operation ran during it" +
          (if (stray.isEmpty) "" else s" (ran: ${stray.distinct.mkString("; ")})") -> stray.isEmpty,
        "per-module job time + driver.gap_s = fit wall time (within 1%): " +
          (fitMetrics ++ barrierMetrics).map(m => f"${m("trace.wall_accounted_share")}%.4f").mkString(", ") ->
          (fitMetrics ++ barrierMetrics).forall(m => math.abs(m("trace.wall_accounted_share") - 1.0) <= 0.01)) ++
      (if (shape.singleNode) Nil
       else Seq("DistTrainer.level_jobs = (round, class, level) triples grown: " +
         fitMetrics.map(m => s"${m("DistTrainer.level_jobs").toInt}/${m("trace.level_jobs_expected").toInt}")
           .mkString(", ") ->
         fitMetrics.forall(m => m("DistTrainer.level_jobs") == m("trace.level_jobs_expected"))))
    }

  /** Self time per layer over the traced operations: an op's time outside
    * its jobs is the driver's, a job's or stage's time outside its children
    * is Spark's scheduling, and a task's time is its layer's. */
  def selfTimes: Seq[(String, Double)] = {
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    ops.filter(o => jobsByOp.contains(o.id)).foreach { op =>
      acc("driver") += gapMs(op)
      jobsByOp(op.id).foreach { j =>
        val ss = stagesByJob.getOrElse(j.span.id, Nil)
        acc("spark.scheduling") += j.span.dur - Intervals.covered(ss.map(s => (s.start, s.end)),
          j.span.start, j.span.end)
        ss.foreach { s =>
          val ts = tasks.filter(_.span.parent == s.id)
          acc("spark.scheduling") += s.dur - Intervals.covered(ts.map(t => (t.span.start, t.span.end)),
            s.start, s.end)
        }
        tasksByJob.getOrElse(j.span.id, Nil).foreach(t => acc(t.span.layer) += t.durMs)
      }
    }
    acc.toSeq.map { case (k, v) => k -> v / 1000 }
  }

  /** Where a traced fit's wall time goes, as medians over the traced fits
    * of one path: driver.gap_s, then each layer's job wall time with its
    * task CPU time. */
  def splits: Seq[(String, Int, Seq[(String, Double, Double)])] =
    Seq("fit" -> tracedFits, "barrier side fit" -> fits.filter(_.barrier)).filter(_._2.nonEmpty).map {
      case (what, fs) =>
        val per = fs.map { f =>
          val ts = opTasks(f.span)
          val cpu = ts.groupBy(_.span.layer).map { case (l, xs) => l -> xs.map(_.cpuMs).sum / 1000 }
          val wall = wallByLayer(f.span).map { case (l, ms) => l -> ms / 1000 }
          (f.span.dur / 1000, gapMs(f.span) / 1000, wall, cpu)
        }
        val layers = per.flatMap(p => p._3.keys ++ p._4.keys).distinct.sorted
        (what, fs.size, ("wall", Stats.median(per.map(_._1)), Double.NaN) +:
          ("driver.gap", Stats.median(per.map(_._2)), Double.NaN) +:
          layers.map(l => (l, Stats.median(per.map(_._3.getOrElse(l, 0.0))),
            Stats.median(per.map(_._4.getOrElse(l, 0.0))))))
    }

  def perLayer(direct: Map[String, Double]): Map[String, Double] = {
    val fitPart = Report.PerFitKeys.map { k =>
      val from = if (k.startsWith("BarrierTrainer.") && barrierMetrics.nonEmpty) barrierMetrics else fitMetrics
      k -> Stats.median(from.map(_(k)))
    }.toMap
    val scoreOps = ops.filter(o => o.name == "score" && jobsByOp.contains(o.id))
    val scoreCpu = scoreOps.map(o => opTasks(o).map(_.cpuMs).sum / 1000)
    val rows = if (shape.scoreRows == 0) shape.trainRows else shape.scoreRows
    val traced = med("traced_fit_s")
    val plain = med("fit_s")
    fitPart ++ direct ++ Map(
      "Estimators.score_task_cpu_s" -> Stats.median(scoreCpu),
      "Estimators.score_cpu_us_per_row" -> Stats.median(scoreCpu) * 1e6 / rows,
      "GraftMLIO.save_s" -> med("save_s"),
      "GraftMLIO.load_s" -> med("load_s"),
      "trace.overhead_share" -> (if (plain > 0) traced / plain - 1 else 0.0))
  }

  def writeSpans(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      def line(s: Span): Unit = w.println(
        s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": ${Json.str(s.kind)}, "name": ${Json.str(s.name)}, """ +
          f""""layer": ${Json.str(s.layer)}, "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f}""")
      ops.foreach(line)
      tracer.jobs.values.foreach(j => line(j.span))
      tracer.stages.values.foreach(line)
      tasks.foreach(t => line(t.span))
    } finally w.close()
  }

  /** Human-readable report: every metric with its unit and sample count,
    * the verdict, set-up components and, when traced, the attribution. */
  def print(attempted: Int, failed: Int, problems: Seq[String], setup: Seq[(String, Double)]): Unit = {
    println(s"workload ${shape.name} seed ${args.seed} seconds ${args.seconds} trace ${if (args.trace) 1 else 0}")
    println(f"operations attempted $attempted failed $failed error_rate ${if (attempted > 0) failed.toDouble / attempted else 0.0}%.4f")
    problems.foreach(p => println(s"  failure: $p"))
    setup.foreach { case (k, v) => println(f"setup  $k%-22s $v%12.4f s") }
    samples.foreach { case (k, xs) =>
      println(f"sample $k%-22s median ${Stats.median(xs.toSeq)}%12.4f ${Bench.unitOf(k)}%-7s n=${xs.size}%-3d " +
        xs.map(x => f"$x%.4g").mkString("[", " ", "]"))
    }
    println(s"model_json_sha256_prefix ${hashes.mkString(" ")}")
    if (args.trace) {
      selfTimes.foreach { case (k, v) => println(f"self_s $k%-28s $v%10.4f") }
      splits.foreach { case (what, n, rows) =>
        println(s"split of a traced $what, median of $n: wall s, task cpu s")
        rows.foreach { case (k, wall, cpu) =>
          println(f"split  $k%-28s $wall%10.4f" + (if (cpu.isNaN) "" else f" $cpu%10.4f"))
        }
      }
      sanity.foreach { case (k, ok) => println(s"sanity ${if (ok) "PASS" else "FAIL"} $k") }
    }
  }
}

object Report {
  val PerFitKeys: Seq[String] = Seq(
    "driver.gap_s", "spark.jobs", "spark.tasks", "spark.task_overhead_s", "spark.task_retry_ratio",
    "spark.broadcast_mb", "DistTrainer.level_jobs", "DistTrainer.level_job_s",
    "DistTrainer.level_result_mb", "DistTrainer.level_task_cpu_s", "DistTrainer.materialize_s",
    "DistTrainer.cached_mb", "DistTrainer.repartition_s", "QuantileCuts.job_s",
    "QuantileCuts.task_cpu_s", "QuantileCuts.result_mb", "BarrierTrainer.job_s",
    "BarrierTrainer.repartition_s", "BarrierTrainer.task_cpu_s", "BarrierTrainer.task_blocked_s",
    "BarrierTrainer.blocked_share", "Trainer.task_s", "Trainer.task_cpu_s", "Trainer.repartition_s",
    "Estimators.prep_jobs", "Estimators.prep_s", "jvm.gc_s", "jvm.gc_count", "jvm.alloc_gb",
    "proc.user_s", "proc.sys_s", "proc.minflt", "trace.level_jobs_expected")
}
