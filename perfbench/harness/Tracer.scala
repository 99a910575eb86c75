package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Counts WARN and ERROR log events from every logger reaching the root. */
final class LogCounter extends AbstractAppender(
    "graftbench-log-counter", null, null, true, Property.EMPTY_ARRAY) {
  val errors = new AtomicLong
  val warns = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errors.incrementAndGet()
    else if (e.getLevel == Level.WARN) warns.incrementAndGet()
}

object LogCounter {
  def install(): LogCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val c = new LogCounter
    c.start()
    ctx.getConfiguration.getRootLogger.addAppender(c, Level.WARN, null)
    ctx.updateLoggers()
    c
  }
}

/** One span: `op` spans are roots and every span of an operation carries
  * the op span's id as `trace`. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Per-operation layer counters, measured from listener events. */
final class OpStats {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
}

/** Listener-side tracing. The harness tags every job with local
  * properties (operation id and phase); after each traced operation it
  * drains the listener bus and `collect`s the events that operation
  * produced into spans and counters. Nothing here calls into graft. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val events = new ConcurrentLinkedQueue[AnyRef]
  private val nextId = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (e.blockUpdatedInfo.blockId.isInstanceOf[RDDBlockId]) events.add(e)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      events.add(QeDone(qe.tracker.phases.toSeq.map { case (k, p) =>
        (k, p.startTimeMs, p.endTimeMs)
      }))
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    events.clear()
    attached = false
  }

  def newId(): Long = nextId.getAndIncrement()

  /** Cached RDD partitions and bytes right now (block manager view). */
  def retained(): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Turn the events of one finished operation into spans and counters.
    * `phases` are the harness's own phase windows (name, start, end in
    * epoch ms); planning phases of a query execution go to the window
    * that holds their start. */
  def collect(opSpan: Span, phases: Seq[Span], stats: OpStats): Unit = {
    PlanBridge.drainListenerBus(spark)
    val evs = Iterator.continually(events.poll()).takeWhile(_ != null).toVector
    spans += opSpan
    spans ++= phases
    val phaseSpan = phases.map(p => p.name -> p).toMap
    def parentFor(phase: String): Span = phaseSpan.getOrElse(phase, opSpan)

    val jobStart = mutable.Map.empty[Int, SparkListenerJobStart]
    val jobSpanId = mutable.Map.empty[Int, Long]
    val stageJob = mutable.Map.empty[Int, Int]
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
    evs.foreach {
      case e: SparkListenerJobStart =>
        jobStart(e.jobId) = e
        jobSpanId(e.jobId) = newId()
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      case e: SparkListenerJobEnd =>
        jobStart.get(e.jobId).foreach { s =>
          val phase = prop(s.properties, PhaseKey)
          spans += Span(jobSpanId(e.jobId), parentFor(phase).id, opSpan.id,
            "job", s.time.toDouble, e.time.toDouble,
            Map("job_id" -> e.jobId, "op" -> prop(s.properties, OpKey), "phase" -> phase,
              "ok" -> (e.jobResult == JobSucceeded)))
          jobIntervals += ((s.time.toDouble, e.time.toDouble))
          stats.add("jobs", 1)
          if (phase == "build") stats.add("build_jobs", 1)
        }
      case e: SparkListenerStageCompleted =>
        val si = e.stageInfo
        stats.add("stages", 1)
        val jid = stageJob.get(si.stageId)
        val parent = jid.flatMap(jobSpanId.get).getOrElse(opSpan.id)
        for (s <- si.submissionTime; f <- si.completionTime)
          spans += Span(newId(), parent, opSpan.id, "stage", s.toDouble, f.toDouble,
            Map("stage_id" -> si.stageId, "tasks" -> si.numTasks,
              "failed" -> si.failureReason.isDefined))
      case e: SparkListenerTaskEnd =>
        stats.add("tasks", 1)
        if (e.reason != org.apache.spark.Success) stats.add("failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          stats.add("task_run_s", m.executorRunTime / 1e3)
          stats.add("task_cpu_s", m.executorCpuTime / 1e9)
          stats.add("task_gc_s", m.jvmGCTime / 1e3)
          stats.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          stats.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          stats.add("spill_b", m.diskBytesSpilled.toDouble)
          stats.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          stats.add("input_b", m.inputMetrics.bytesRead.toDouble)
          stats.add("input_rows", m.inputMetrics.recordsRead.toDouble)
        }
      case e: SparkListenerBlockUpdated =>
        if (e.blockUpdatedInfo.storageLevel.isValid) stats.add("blocks_created", 1)
        else stats.add("blocks_released", 1)
      case QeDone(ph) =>
        val first = if (ph.isEmpty) 0L else ph.map(_._2).min
        val owner = phases.filter(_.start <= first).lastOption.getOrElse(opSpan)
        ph.foreach { case (name, s, f) =>
          spans += Span(newId(), owner.id, opSpan.id, s"plan.$name",
            s.toDouble, f.toDouble)
          if (owner.name != "build") stats.add(s"plan_$name", (f - s) / 1e3)
        }
      case _ =>
    }
    val covered = unionLength(jobIntervals.toSeq, opSpan.start, opSpan.end)
    stats.add("job_wall_s", covered / 1e3)
    stats.add("driver_s", (opSpan.dur - covered) / 1e3)
    stats.add("wall_s", opSpan.dur / 1e3)
  }
}

object Tracer {
  /** Planning phases (name, start ms, end ms) of one finished query execution. */
  private final case class QeDone(phases: Seq[(String, Long, Long)])

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s
          curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. Summed by span name (job/stage/plan.* ...). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.dur - unionLength(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
          s.start, s.end)
      }.sum / 1e3
    }
  }
}
