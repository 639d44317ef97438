package perfbench

import java.util.concurrent.atomic.AtomicInteger

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, made from the benchmark's own code. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, kept in memory.
  * Recording is off except during a traced operation. Spans opened on
  * other threads (the chain runner's stage pool) take as parent the
  * innermost span open on the client thread. */
object Tracer {
  @volatile var on = false
  @volatile var op = 0
  private val client = Thread.currentThread()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var ambient = 0
  private val done = mutable.ArrayBuffer.empty[Span]

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(ambient)
      val onClient = Thread.currentThread() eq client
      stack.set(id :: outer)
      if (onClient) ambient = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (onClient) ambient = outer.headOption.getOrElse(0)
        done.synchronized { done += Span(id, parent, op, layer, name, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toSeq)

  /** Each span's duration minus the part of it its child spans cover. */
  def selfTimes(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (0L, -1L)
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Engine counts for the traced operations: jobs, stages, tasks, task
  * time, scheduling wait, shuffle, spill, scan input, writes, and the
  * chain runner's jobs (described `chain ...`). */
final class EngineListener extends SparkListener {
  import EngineListener._
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRows, chainWritten = 0L
  /** (launch, launch + deserialize + run) ms of every task, and (start,
    * end) ms of every chain job: peaks come from these intervals, since
    * the bus may post a task's start before the end of the task whose
    * slot it took */
  private val taskIv = mutable.ArrayBuffer.empty[(Long, Long)]
  private val chainJobIv = mutable.ArrayBuffer.empty[(Long, Long)]
  /** per chain stage table: (first job start ms, last job end ms) */
  private val stageSpan = mutable.Map.empty[String, (Long, Long)]
  private val submitted = mutable.Map.empty[(Int, Int), Long]
  private val stageIsChain = mutable.Map.empty[Int, Boolean]
  /** running chain jobs: description and start ms */
  private val chainJobs = mutable.Map.empty[Int, (String, Long)]

  def peakRunning: Int = synchronized(peak(taskIv.toSeq))
  def peakChainJobs: Int = synchronized(peak(chainJobIv.toSeq))

  /** Each chain stage's first-start to last-end seconds since the last
    * call; the caller drains the bus first. */
  def takeStageSecs(): Map[String, Double] = synchronized {
    val out = stageSpan.map { case (t, (a, b)) => t -> (b - a) / 1000.0 }.toMap
    stageSpan.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val chain = desc.startsWith(ChainPrefix)
    e.stageIds.foreach(stageIsChain(_) = chain)
    if (chain) {
      chainJobs(e.jobId) = (desc, e.time)
      stageTable(desc).foreach { t =>
        val (a, b) = stageSpan.getOrElse(t, (e.time, e.time))
        stageSpan(t) = (math.min(a, e.time), b)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    chainJobs.remove(e.jobId).foreach { case (desc, start) =>
      chainJobIv += ((start, e.time))
      stageTable(desc).foreach { t =>
        val (a, b) = stageSpan.getOrElse(t, (e.time, e.time))
        stageSpan(t) = (a, math.max(b, e.time))
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    submitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    submitted.get((e.stageId, e.stageAttemptId))
      .foreach(s => waitMs += math.max(0L, e.taskInfo.launchTime - s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed || e.taskInfo.attemptNumber > 0)
      tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      // the slot is busy from launch through deserialization and run
      val l = e.taskInfo.launchTime
      taskIv += ((l, l + m.executorDeserializeTime + m.executorRunTime))
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRows += m.inputMetrics.recordsRead
      if (stageIsChain.getOrElse(e.stageId, false))
        chainWritten += m.outputMetrics.bytesWritten
    }
  }
}

object EngineListener {
  /** Job descriptions the chain runner sets on its jobs. */
  private val ChainPrefix = "chain "
  private val StagePrefix = "chain stage: "

  def stageTable(desc: String): Option[String] =
    if (desc.startsWith(StagePrefix)) Some(desc.stripPrefix(StagePrefix)) else None

  /** Most intervals open at once; an interval ending at t is closed
    * before one starting at t opens. */
  def peak(iv: Seq[(Long, Long)]): Int =
    iv.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
      .scanLeft(0)(_ + _._2).max
}

/** Planner counts for the traced operations, from each finished query:
  * the analysis/optimization/planning phase times, exchanges in the
  * final plan and how many were reused, and the bytes scanned from the
  * chain runner's own stage/final directories. */
final class PlanListener extends QueryExecutionListener {
  var analyzeMs, optimizeMs, planMs = 0L
  var exchanges, reused = 0L
  var pipelineReread = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      analyzeMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizeMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      planMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      walk(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => reused += 1
      case x @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
        exchanges += 1
        x.children.foreach(walk)
      case f: FileSourceScanExec =>
        // the chain runner's work dirs are temp dirs named graft_pipeline*
        if (f.relation.location.rootPaths.exists(_.toString.contains("graft_pipeline")))
          pipelineReread += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
      case other => other.children.foreach(walk)
    }
    p.subqueries.foreach(walk)
  }
}

/** Tracing for a stretch of operations: both listeners registered, spans
  * on, and the JVM's GC time and Spark's codegen compile count and time
  * taken as deltas over the stretch. */
final class Probe(spark: SparkSession) {
  val engine = new EngineListener
  val plans = new PlanListener
  var attached = false
  var gcS, compileS = 0.0
  var compiles = 0L
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var gc0, cc0, cn0 = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    gc0 = gcMs
    cc0 = CodeGenerator.compileTime
    cn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    attached = true
    Tracer.on = true
  }

  def detach(): Unit = {
    Tracer.on = false
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    gcS = (gcMs - gc0) / 1000.0
    compileS = (CodeGenerator.compileTime - cc0) / 1e9
    compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cn0
    attached = false
  }

  /** Chain stage times of the operations since the last call. */
  def stageSecs(): Map[String, Double] = {
    Bus.drain(spark.sparkContext)
    engine.takeStageSecs()
  }
}
