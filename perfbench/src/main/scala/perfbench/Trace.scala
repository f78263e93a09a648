package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the harness into a layer. `parent` is the id of
  * the enclosing span on the same thread (0 at top level); `op` is the
  * workload operation the call belongs to. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans once started; before that the body runs bare. A
  * traced run starts its tracer at the traced half of the window. */
final class Tracer {
  @volatile private var enabled = false
  def start(): Unit = enabled = true

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, op: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        done.add(Span(id, name, t0, t1, parent, op))
      }
    }

  def spans: Vector[Span] = done.asScala.toVector

  def durationsMs(name: String): Vector[Double] =
    spans.filter(_.name == name).map(_.ms)
}

object Tracer {
  /** Per span name: count, total and self milliseconds (self = own
    * time minus direct children), plus the number of children that
    * leak outside their parent's interval — 0 for a well-nested
    * trace. */
  final case class Summary(name: String, count: Int, totalMs: Double, selfMs: Double)

  def summarize(spans: Seq[Span]): (Seq[Summary], Int) = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.filter(_.parent != 0).groupBy(_.parent)
    val leaks = spans.count(s => byId.get(s.parent).exists(p =>
      s.startNs < p.startNs || s.endNs > p.endNs))
    val rows = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map(s => s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum).sum
      Summary(n, ss.size, total, self)
    }
    (rows, leaks)
  }
}

/** Snapshot of the Spark-side counters at one instant. */
final case class SparkSnap(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
                           jobWallMs: Long, shuffleBytes: Long, gcMs: Long,
                           codegenCompiles: Long, codegenMs: Double,
                           queryExecutions: Long, planningMs: Double,
                           broadcastBytesMax: Long) {
  def minus(o: SparkSnap): SparkSnap = SparkSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, jobWallMs - o.jobWallMs,
    shuffleBytes - o.shuffleBytes, gcMs - o.gcMs, codegenCompiles - o.codegenCompiles,
    codegenMs - o.codegenMs, queryExecutions - o.queryExecutions,
    planningMs - o.planningMs, broadcastBytesMax)
  def plus(o: SparkSnap): SparkSnap = SparkSnap(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuNs + o.taskCpuNs, jobWallMs + o.jobWallMs,
    shuffleBytes + o.shuffleBytes, gcMs + o.gcMs, codegenCompiles + o.codegenCompiles,
    codegenMs + o.codegenMs, queryExecutions + o.queryExecutions,
    planningMs + o.planningMs, broadcastBytesMax)
}

object SparkSnap {
  val Zero: SparkSnap = SparkSnap(0, 0, 0, 0, 0, 0, 0, 0, 0.0, 0, 0.0, 0)
}

/** The public Spark hooks the traced run registers: a SparkListener
  * (jobs, stages, tasks, task CPU, shuffle), a QueryExecutionListener
  * (planning phases from the query's tracker, broadcast sizes) and a
  * StreamingQueryListener (micro-batch progress). Codegen comes from
  * CodegenMetrics and GC from the JVM's collector beans. */
final class SparkProbe(spark: SparkSession) {
  private val jobs, stages, tasks, taskCpuNs, jobWallMs, shuffleBytes = new LongAdder
  private val qes = new LongAdder
  private val planningUs = new LongAdder
  private val broadcastMax = new AtomicLong(0)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  // stages of jobs started by the harness's own direct calls (see
  // direct): excluded, so per-op counts describe the workload's
  // operations only
  private val directStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(SparkProbe.DirectProp) != null))
        e.stageIds.foreach(directStages.add)
      else { jobs.increment(); jobStart.put(e.jobId, e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t0 => jobWallMs.add(e.time - t0))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!directStages.contains(e.stageInfo.stageId)) stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!directStages.contains(e.stageId)) {
      tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        taskCpuNs.add(m.executorCpuTime)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qes.increment()
      val ph = qe.tracker.phases
      val us = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs * 1000L).sum
      planningUs.add(us)
      SparkProbe.broadcastBytes(qe.executedPlan).foreach(b => broadcastMax.accumulateAndGet(b, math.max))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.increment()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // what the counters recorded while direct calls ran, taken off
  // every snapshot
  @volatile private var directTotal = SparkSnap.Zero

  def snap(): SparkSnap = raw().minus(directTotal)

  private def raw(): SparkSnap = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    SparkSnap(jobs.sum, stages.sum, tasks.sum, taskCpuNs.sum, jobWallMs.sum,
      shuffleBytes.sum, gc, cg.getCount, cg.getSnapshot.getMean * cg.getCount,
      qes.sum, planningUs.sum / 1000.0, broadcastMax.get)
  }

  /** Runs one of the harness's own direct calls and leaves its work out
    * of the counters. Its jobs carry the thread's Spark local property
    * and are dropped as they arrive. Query executions, planning,
    * codegen and GC carry no such mark, and a direct call can run
    * queries in the workload's session (at-rest serving plans against
    * the layout read at registration), so they are measured around the
    * call, with the listener bus drained on both sides, and taken off.
    * That needs the workload's own operations to be idle meanwhile:
    * call it from a single-client workload only. */
  def direct[A](body: => A): A = {
    val sc = spark.sparkContext
    val before = raw()
    sc.setLocalProperty(SparkProbe.DirectProp, "1")
    try body
    finally {
      sc.setLocalProperty(SparkProbe.DirectProp, null)
      directTotal = directTotal.plus(raw().minus(before))
    }
  }
}

object SparkProbe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  val DirectProp = "perfbench.direct"

  /** Data sizes of the plan's broadcast exchanges, looking inside
    * adaptive query stages and subqueries. */
  def broadcastBytes(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Long] =
    collectWithSubqueries(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }

  /** The spark.* and plans.* per-op metrics of a traced window:
    * counter deltas divided by the ops in it; the driver remainder is
    * the op wall time not covered by job wall time or planning. */
  def perOp(d: SparkSnap, ops: Long, opWallMs: Double): Seq[Metric] = {
    def m(n: String, u: String, v: Double) = Metric.ratio(n, u, v, ops.toDouble, ops)
    Seq(
      m("plans.query_executions_per_op", "count", d.queryExecutions.toDouble),
      m("plans.planning_ms_per_op", "ms", d.planningMs),
      m("spark.jobs_per_op", "count", d.jobs.toDouble),
      m("spark.stages_per_op", "count", d.stages.toDouble),
      m("spark.tasks_per_op", "count", d.tasks.toDouble),
      m("spark.task_cpu_ms_per_op", "ms", d.taskCpuNs / 1e6),
      m("spark.job_wall_ms_per_op", "ms", d.jobWallMs.toDouble),
      m("spark.shuffle_bytes_per_op", "bytes", d.shuffleBytes.toDouble),
      m("spark.gc_ms_per_op", "ms", d.gcMs.toDouble),
      m("spark.codegen_compiles_per_op", "count", d.codegenCompiles.toDouble),
      m("spark.codegen_ms_per_op", "ms", d.codegenMs),
      m("spark.driver_remainder_ms_per_op", "ms",
        opWallMs - d.jobWallMs - d.planningMs))
  }
}
