package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM and process counters, read as deltas around an operation. Under
  * `local[n]` the executors share the driver's JVM, so these cover the
  * whole of Spark's work. */
final case class Counters(gcMs: Long, gcCount: Long, allocBytes: Long,
    userTicks: Long, sysTicks: Long, minflt: Long) {
  def -(o: Counters): Counters = Counters(gcMs - o.gcMs, gcCount - o.gcCount,
    allocBytes - o.allocBytes, userTicks - o.userTicks, sysTicks - o.sysTicks,
    minflt - o.minflt)
}

object Counters {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  // /proc reports times in USER_HZ, which Linux fixes at 100
  val TicksPerSecond = 100.0

  def read(): Counters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val stat = procStat()
    Counters(gcs.map(_.getCollectionTime.max(0L)).sum, gcs.map(_.getCollectionCount.max(0L)).sum,
      threads.getTotalThreadAllocatedBytes, stat(11), stat(12), stat(7))
  }

  /** Fields of /proc/self/stat after the command name; index 0 is the
    * state (field 3 of proc(5)). Zeros where /proc is absent. */
  private def procStat(): Array[Long] = {
    val f = new java.io.File("/proc/self/stat")
    if (!f.exists()) return new Array[Long](16)
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath))
    s.substring(s.lastIndexOf(')') + 2).split(' ').take(16)
      .map(t => scala.util.Try(t.toLong).getOrElse(0L))
  }
}

/** One traced interval: an operation of the benchmark, or a Spark job,
  * stage or task. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** A finished task with the metrics the per-layer report needs. */
final case class TaskRec(span: Span, stageKey: (Int, Int), durMs: Double, runMs: Double,
    cpuMs: Double, resultBytes: Long, retry: Boolean)

object Ids {
  private val next = new AtomicLong(1)
  def apply(): Long = next.getAndIncrement()
}

/** Maps a job or stage to the repository module that started it, by the
  * innermost frame of its call site outside Spark, Scala and the JDK.
  * Line numbers are ignored, so edits inside a module do not move work
  * between layers. */
object Layers {
  private val Runtime = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  def userFrame(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .find(l => l.nonEmpty && !Runtime.exists(l.startsWith))

  /** `shuffleMap`: the stage writes shuffle output. One created inside a
    * trainer's `train` is that trainer's input repartition. */
  def classify(frame: String, shuffleMap: Boolean, opKind: String): String =
    if (shuffleMap && frame.startsWith("graft.ml.DistTrainer$.train")) "DistTrainer.repartition"
    else if (shuffleMap && frame.startsWith("graft.ml.BarrierTrainer$.train")) "BarrierTrainer.repartition"
    else if (shuffleMap && frame.contains("trainSingleNode")) "Trainer.repartition"
    else if (frame.startsWith("graft.ml.QuantileCuts")) "QuantileCuts"
    else if (frame.startsWith("graft.ml.DistTrainer$.growTree")) "DistTrainer.level"
    else if (frame.startsWith("graft.ml.DistTrainer")) "DistTrainer.materialize"
    else if (frame.startsWith("graft.ml.BarrierTrainer")) "BarrierTrainer"
    else if (frame.contains("trainSingleNode")) "Trainer"
    else if (frame.startsWith("graft.ml.FitSupport")) "Estimators.prep"
    else if (frame.startsWith("graft.ml.GraftMLIO")) "GraftMLIO"
    else if (opKind == "score") "Estimators.score"
    else if (opKind == "check") "perfbench.check"
    else s"other($frame)"

  def isRepartition(layer: String): Boolean = layer.endsWith(".repartition")
}

/** Always-on storage accounting: RDD block bytes (memory plus disk) held by
  * the block manager, and the bytes of broadcast pieces written, tracked
  * per measurement window. Only block events are handled. */
final class StorageListener extends SparkListener {
  private val rddBlocks = mutable.HashMap.empty[(Int, Int), Long]
  private val seenBroadcast = mutable.HashSet.empty[String]
  private var floor = Int.MaxValue
  private var inputs = Set.empty[Int]
  private var held = 0L
  private var created = 0L
  private var peakHeld = 0L
  private var peakCreated = 0L
  private var broadcastBytes = 0L

  private def isCreated(rdd: Int) = rdd > floor
  private def isHeld(rdd: Int) = isCreated(rdd) || inputs(rdd)

  private def add(rdd: Int, delta: Long): Unit = {
    if (isHeld(rdd)) held += delta
    if (isCreated(rdd)) created += delta
    peakHeld = math.max(peakHeld, held)
    peakCreated = math.max(peakCreated, created)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    info.blockId match {
      case RDDBlockId(rdd, split) =>
        val old = rddBlocks.getOrElse((rdd, split), 0L)
        if (bytes == 0L) rddBlocks.remove((rdd, split)) else rddBlocks((rdd, split)) = bytes
        add(rdd, bytes - old)
      case b: BroadcastBlockId if b.field.startsWith("piece") && bytes > 0 =>
        if (seenBroadcast.add(b.name)) broadcastBytes += bytes
      case _ =>
    }
  }

  // unpersisting removes an RDD's blocks without a block event
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    rddBlocks.keys.filter(_._1 == e.rddId).toList.foreach { k =>
      add(k._1, -rddBlocks.remove(k).getOrElse(0L))
    }
  }

  /** Ids of the RDDs that have blocks stored. */
  def rddIds: Set[Int] = synchronized { rddBlocks.keysIterator.map(_._1).toSet }

  /** Starts a fit's window: RDDs with an id above `rddFloor` count as
    * created by the fit, and the fit holds those and its `inputRdds`. */
  def open(rddFloor: Int, inputRdds: Set[Int]): Unit = synchronized {
    floor = rddFloor
    inputs = inputRdds
    held = rddBlocks.iterator.collect { case ((r, _), b) if isHeld(r) => b }.sum
    created = rddBlocks.iterator.collect { case ((r, _), b) if isCreated(r) => b }.sum
    peakHeld = held
    peakCreated = created
    broadcastBytes = 0L
  }

  /** (peak bytes of the fit's input and created RDDs, peak bytes of its
    * created RDDs, broadcast bytes written) since `open`. */
  def window: (Long, Long, Long) = synchronized { (peakHeld, peakCreated, broadcastBytes) }
}

/** A job's span (its parent is the operation that ran it) and the call
  * site frame its layer came from. */
final case class JobRec(span: Span, frame: String)

/** Traced-run listener: one span per job, stage and task, each job tied to
  * the benchmark operation that ran it through a local property. Spans stay
  * in memory until the run writes them out. */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Span]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageInfos = mutable.HashMap.empty[Int, StageInfo]
  private val opKinds = mutable.HashMap.empty[Long, String]
  // call sites of SQL executions: a job that Spark SQL submits from its own
  // threads (adaptive execution materializing a shuffle) has no user frame
  // in its stages, only in the execution that started it
  private val sqlFrames = mutable.HashMap.empty[Long, String]

  def registerOp(id: Long, kind: String): Unit = synchronized { opKinds(id) = kind }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Layers.userFrame(s.details).foreach(f => synchronized { sqlFrames(s.executionId) = f })
    case _ =>
  }

  private def stageLayer(info: StageInfo, job: JobRec): String = {
    val f = Layers.userFrame(info.details).getOrElse(job.frame)
    val l = Layers.classify(f, PerfbenchBus.isShuffleMap(info), opKinds.getOrElse(job.span.parent, ""))
    if (Layers.isRepartition(l)) l else job.span.layer
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(TraceListener.OpKey).map(_.toLong).getOrElse(0L)
    val result = e.stageInfos.maxBy(_.stageId)
    val frame = Layers.userFrame(result.details)
      .orElse(prop("spark.sql.execution.id").flatMap(id => sqlFrames.get(id.toLong)))
      .getOrElse("")
    val layer = Layers.classify(frame, PerfbenchBus.isShuffleMap(result), opKinds.getOrElse(op, ""))
    e.stageInfos.foreach { s =>
      stageInfos.getOrElseUpdate(s.stageId, s)
      stageJob.getOrElseUpdate(s.stageId, e.jobId)
    }
    jobs(e.jobId) = JobRec(Span(Ids(), op, "job", result.name, layer, e.time.toDouble, e.time.toDouble),
      frame)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(span = j.span.copy(end = e.time.toDouble)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    jobs.get(stageJob.getOrElse(info.stageId, -1)).foreach { j =>
      val start = info.submissionTime.getOrElse(j.span.start.toLong).toDouble
      val end = info.completionTime.map(_.toDouble).getOrElse(start)
      stages((info.stageId, info.attemptNumber())) =
        Span(Ids(), j.span.id, "stage", info.name, stageLayer(info, j), start, end)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val layer = jobs.get(stageJob.getOrElse(e.stageId, -1)).map { j =>
      stageInfos.get(e.stageId).map(stageLayer(_, j)).getOrElse(j.span.layer)
    }.getOrElse("unknown")
    val span = Span(Ids(), 0L, "task", s"task ${ti.index} of stage ${e.stageId}", layer,
      ti.launchTime.toDouble, ti.finishTime.toDouble)
    tasks += TaskRec(span, (e.stageId, e.stageAttemptId), ti.duration.toDouble,
      if (m == null) 0.0 else m.executorRunTime.toDouble,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0L else m.resultSize,
      ti.attemptNumber > 0 || ti.speculative || ti.failed || ti.killed)
  }

  /** Tasks with their parent set to the span of their stage. */
  def linkedTasks: Seq[TaskRec] = synchronized {
    tasks.toSeq.map { t =>
      t.copy(span = t.span.copy(parent = stages.get(t.stageKey).map(_.id).getOrElse(0L)))
    }
  }
}

object TraceListener {
  val OpKey = "perfbench.op"
}

/** Interval arithmetic for self time: the part of a span not covered by
  * any of its children. */
object Intervals {
  def covered(parts: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = parts.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
