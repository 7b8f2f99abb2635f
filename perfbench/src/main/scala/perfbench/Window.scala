package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.sun.management.OperatingSystemMXBean

/** The measured window shared by every workload: the generic end-to-end
  * metrics from operation latencies and process CPU time, and — traced —
  * the per-layer counters (`exec`, `plans`, `codegen`, `jvm`, `sources`) as
  * deltas over the window. */
class Window(ctx: Main.Ctx) {
  private val t0Ms = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  private val c0 = ctx.tracer.map(_.counters)
  private val j0 = Tracer.jvm()
  private val cpu0 = Window.processCpuNs()
  ctx.heap.reset()
  Log("window opens")
  ctx.report.e2e("setup_jvm_s") =
    ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  val deadline: Long = t0 + (ctx.args.seconds * 1e9).toLong
  def open: Boolean = System.nanoTime() < deadline
  def startMs: Long = t0Ms

  /** Close the window: `latMs` are the operation latencies, `rowsOut` the
    * rows the workload's operations returned to it. */
  def close(latMs: Seq[Double], rowsOut: Long): Unit = {
    val wallS = (System.nanoTime() - t0) / 1e9
    Log(f"window closes after $wallS%.1fs, ${latMs.size} operations")
    val r = ctx.report
    if (latMs.isEmpty) { r.fail("no operation completed in the window"); return }
    r.e2e("op_s") = Stats.median(latMs) / 1000.0
    // CPU time is not charged for time the host gives to other guests
    // (steal), which op_s includes
    r.e2e("op_cpu_s") = (Window.processCpuNs() - cpu0) / 1e9 / latMs.size
    r.e2e("peak_heap_mb") = ctx.heap.peakMb()
    r.info("ops") = latMs.size.toString
    r.info("op_p95_ms") = f"${Stats.quantile(latMs, 0.95)}%.1f"
    r.info("window_s") = f"$wallS%.3f"
    r.info("code_cache_peak_mb") = f"${Window.codeCachePeakMb()}%.1f"
    for (tr <- ctx.tracer; before <- c0) {
      val c = tr.counters
      val j = Tracer.jvm()
      val taskS = (c.taskMs - before.taskMs) / 1000.0
      val l = r.layers
      l("exec.jobs") = (c.jobs - before.jobs).toDouble
      l("exec.tasks") = (c.tasks - before.tasks).toDouble
      l("exec.task_s") = taskS
      l("exec.cpu_s") = (c.cpuNs - before.cpuNs) / 1e9
      l("exec.util") = taskS / (wallS * ctx.cores)
      l("exec.gc_s") = (j.gcMs - j0.gcMs) / 1000.0
      l("exec.shuffle_write_mb") = (c.shuffleWriteB - before.shuffleWriteB) / 1e6
      l("exec.spill_mb") = (c.spillB - before.spillB) / 1e6
      l("plans.actions") = (c.actions - before.actions).toDouble
      l("plans.analysis_ms") = (c.analysisMs - before.analysisMs).toDouble
      l("plans.optimizer_ms") = (c.optimizerMs - before.optimizerMs).toDouble
      l("plans.planning_ms") = (c.planningMs - before.planningMs).toDouble
      l("plans.exchanges") = (c.exchanges - before.exchanges).toDouble
      l("codegen.compiles") = (j.compiles - j0.compiles).toDouble
      l("codegen.compile_ms") = (j.compileNs - j0.compileNs) / 1e6
      l("jvm.jit_ms") = (j.jitMs - j0.jitMs).toDouble
      val rowsRead = c.rowsRead - before.rowsRead
      val rowsWritten = c.rowsWritten - before.rowsWritten
      l("sources.rows_read") = rowsRead.toDouble
      l("sources.mb_read") = (c.bytesRead - before.bytesRead) / 1e6
      l("sources.mb_written") = (c.bytesWritten - before.bytesWritten) / 1e6
      l("sources.rows_read_per_row_out") =
        rowsRead.toDouble / math.max(1L, rowsWritten + rowsOut)
      l("trace.op_s") = Stats.median(latMs) / 1000.0
    }
  }
}

object Window {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[OperatingSystemMXBean]
  /** CPU time of every thread of this JVM: Spark's tasks, the driver, the
    * JIT compilers and the garbage collector. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Peak use of the JIT's code cache (all its segments): a full cache
    * stops the JIT, so a run near its reserved size is not comparable. */
  def codeCachePeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
