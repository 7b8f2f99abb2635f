package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed interval around a call into a layer. Times are epoch ms;
  * `parent` names the enclosing span, `req` ties the spans of one request. */
case class Span(name: String, start: Long, end: Long, parent: String,
    req: String) {
  def seconds: Double = (end - start) / 1000.0
}

/** One finished Spark job as the listener saw it. */
case class JobRec(id: Int, group: String, desc: String, start: Long,
    end: Long)

/** Counters summed over the tasks and queries of a window. */
case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    cpuNs: Long = 0, shuffleWriteB: Long = 0, spillB: Long = 0,
    bytesRead: Long = 0, rowsRead: Long = 0, bytesWritten: Long = 0,
    rowsWritten: Long = 0, actions: Long = 0, analysisMs: Long = 0,
    optimizerMs: Long = 0, planningMs: Long = 0, exchanges: Long = 0)

/** Records everything the traced run reports, from outside the program:
  * a SparkListener (jobs with their group and description, task metrics),
  * a QueryExecutionListener (planning phases, shuffle exchanges), codegen
  * and JVM MXBean counters, and the benchmark's own spans around each call
  * into a layer. Spans stay in memory and are written once, at exit. */
class Tracer(s: SparkSession) {
  private val lock = new Object
  private var c = Counters()
  private val jobStarts = mutable.Map.empty[Int, (String, String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobStarts(e.jobId) = (prop("spark.jobGroup.id"),
        prop("spark.job.description"), e.time)
      c = c.copy(jobs = c.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (g, d, t0) =>
        jobs += JobRec(e.jobId, g, d, t0, e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
          cpuNs = c.cpuNs + m.executorCpuTime,
          shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
          spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
          bytesRead = c.bytesRead + m.inputMetrics.bytesRead,
          rowsRead = c.rowsRead + m.inputMetrics.recordsRead,
          bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten,
          rowsWritten = c.rowsWritten + m.outputMetrics.recordsWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val ex = Tracer.exchanges(qe.executedPlan)
      lock.synchronized {
        c = c.copy(actions = c.actions + 1,
          analysisMs = c.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
          optimizerMs = c.optimizerMs + ms(QueryPlanningTracker.OPTIMIZATION),
          planningMs = c.planningMs + ms(QueryPlanningTracker.PLANNING),
          exchanges = c.exchanges + ex)
      }
    }
    // a failed query fails its operation, which the workload counts
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  s.sparkContext.addSparkListener(sparkListener)
  s.listenerManager.register(queryListener)

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.BusDrain.drain(s.sparkContext)

  def counters: Counters = { drain(); lock.synchronized(c) }
  def jobsSince(t: Long): Seq[JobRec] = { drain(); lock.synchronized(jobs.filter(_.start >= t).toSeq) }

  def span[T](name: String, parent: String = "", req: String = "")(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally {
      val sp = Span(name, t0, System.currentTimeMillis(), parent, req)
      lock.synchronized(spans += sp)
    }
  }
  def spansNamed(prefix: String): Seq[Span] =
    lock.synchronized(spans.filter(_.name.startsWith(prefix)).toSeq)

  /** Write every span as one JSON line; called once, at exit. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = lock.synchronized(spans.toSeq).map { sp =>
      s"""{"name":${Json.str(sp.name)},"start":${sp.start},"end":${sp.end},""" +
        s""""parent":${Json.str(sp.parent)},"req":${Json.str(sp.req)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Shuffle exchanges in an executed plan, looking through adaptive
    * execution's stage wrappers; reused exchanges are not counted again. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** JVM-wide counters: GC time, JIT time, codegen compiles and time. */
  case class Jvm(gcMs: Long, jitMs: Long, compiles: Long, compileNs: Long)
  def jvm(): Jvm = Jvm(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)
}
