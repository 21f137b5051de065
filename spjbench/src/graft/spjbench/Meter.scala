package graft.spjbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftInternal, SparkSession}

/** One finished task. Times are epoch ms, CPU in ns, sizes in bytes. */
final case class TaskRec(stageId: Int, launch: Long, finish: Long,
    cpuNs: Long, gcMs: Long, peakMem: Long, shufWrite: Long,
    shufWriteRecs: Long, shufRead: Long, spill: Long,
    accs: Map[String, Long])

/** One submitted job: the engine's call-site label (`graft.stats`, ...)
  * and the benchmark span that was open on the submitting thread. */
final case class JobRec(jobId: Int, time: Long, stageIds: Seq[Int],
    callSite: String, span: String)

/** Everything the listener saw between two [[Meter.take]] calls.
  * `sites` are the creation sites of the RDDs that SpatialJoin itself
  * built in the stages that ran: which of its code paths did the work. */
final case class Window(jobs: Seq[JobRec], tasks: Seq[TaskRec],
    sites: Set[String] = Set.empty) {
  def coreS: Double = tasks.map(_.cpuNs).sum / 1e9
  def shuffleMb: Double = tasks.map(_.shufWrite).sum / 1048576.0
  def peakMemMb: Double =
    if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1048576.0
  def acc(name: String): Long = tasks.map(_.accs.getOrElse(name, 0L)).sum

  /** Length of the union of task run intervals inside [t0, t1] (ms). */
  def busyMs(t0: Long, t1: Long): Long = {
    val iv = tasks.map(t => (math.max(t.launch, t0), math.min(t.finish, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}

/** Folds task metrics, named `graft.*` accumulator updates and job
  * call sites into plain records; the benchmark reads them after draining
  * the listener bus, so every record of a finished op is present. */
final class Meter(spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val sites = new ConcurrentLinkedQueue[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs.add(JobRec(e.jobId, e.time, e.stageIds,
      prop("callSite.short"), prop(Meter.SpanKey)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.rddInfos.foreach { r =>
      if (r.callSite.contains(Meter.EngineFile)) sites.add(r.callSite)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val accs = e.taskInfo.accumulables.iterator.flatMap { a =>
      a.name.filter(_.startsWith("graft.")).flatMap(n => a.update.collect {
        case v: java.lang.Long => n -> v.longValue
      })
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime,
      m.executorCpuTime + m.executorDeserializeCpuTime, m.jvmGCTime,
      m.peakExecutionMemory, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, accs))
  }

  /** Drain the bus and hand over (and forget) everything seen so far. */
  def take(): Window = {
    GraftInternal.drainListenerBus(spark)
    def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = mutable.ArrayBuffer.empty[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    Window(drain(jobs), drain(tasks), drain(sites).toSet)
  }
}

object Meter {
  /** Local property carrying the open benchmark span to job submissions. */
  val SpanKey = "spjbench.span"
  /** Source file of the join's code paths (fused kernel, general path). */
  val EngineFile = "at SpatialJoin.scala:"
}

/** One traced span: a named interval on the driver, with its parent. */
final case class Span(name: String, parent: String, start: Long, end: Long)

/** Span recorder for the traced run. Spans are kept in memory and
  * written out by the caller when the run ends. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[String]

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = open.headOption.getOrElse("")
    val t0 = System.currentTimeMillis()
    open = name :: open
    sc.setLocalProperty(Meter.SpanKey, name)
    try body
    finally {
      open = open.tail
      sc.setLocalProperty(Meter.SpanKey, open.headOption.orNull)
      spans += Span(name, parent, t0, System.currentTimeMillis())
    }
  }

  /** Layer a job belongs to: the engine's call-site label wins (it marks
    * work inside run() that has no public entry); otherwise the span that
    * submitted it, or failing that the innermost span open at its start. */
  def layerOf(j: JobRec): String = j.callSite match {
    case "graft.stats" => "stats"
    case "graft.refs" => "refs"
    case "graft.dupscan" => "dupscan"
    case _ if j.span.nonEmpty => j.span
    case _ =>
      spans.filter(s => s.start <= j.time && j.time <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.name).getOrElse("other")
  }
}

object Tracer {
  def json(spans: Seq[Span]): String = spans.map { s =>
    s"""{"name":"${s.name}","parent":"${s.parent}","start_ms":${s.start},"end_ms":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

/** Jobs and tasks of one window grouped by layer. Within the `kernel`
  * and `general.candidates` spans, stages that read no shuffle are the
  * cell-cover map side (cover rows are built and written to the cell
  * shuffle there), so they are booked to `cover`. */
final class Layers(w: Window, tracer: Tracer) {
  private val stageJob: Map[Int, JobRec] =
    w.jobs.sortBy(_.jobId).flatMap(j => j.stageIds.map(_ -> j))
      .groupBy(_._1).map { case (s, js) => s -> js.head._2 }
  private val stageReadsShuffle: Map[Int, Boolean] =
    w.tasks.groupBy(_.stageId).map { case (s, ts) => s -> ts.exists(_.shufRead > 0) }

  private def stageLayer(stage: Int): String = stageJob.get(stage) match {
    case None => "other"
    case Some(j) =>
      val l = tracer.layerOf(j)
      if ((l == "kernel" || l == "general.candidates") &&
          !stageReadsShuffle.getOrElse(stage, false)) "cover"
      else l
  }

  private val tasksBy = w.tasks.groupBy(t => stageLayer(t.stageId))
  def tasks(layer: String): Seq[TaskRec] = tasksBy.getOrElse(layer, Nil)
  def jobs(layer: String): Int = w.jobs.count(j => tracer.layerOf(j) == layer)
  def coreS(layer: String): Double = tasks(layer).map(_.cpuNs).sum / 1e9
  def sub(layer: String): Window = Window(Nil, tasks(layer))
  /** Busy wall time: union of the layer's task intervals. */
  def wallS(layer: String): Double =
    sub(layer).busyMs(Long.MinValue, Long.MaxValue) / 1e3
}
