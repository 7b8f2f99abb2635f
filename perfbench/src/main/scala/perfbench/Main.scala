package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs from
  * the seed and launches this with
  *   --workload <name> --seconds <s> --trace <0|1> --inputs <dir>
  *   --tables <dir> --work <dir> [--pin]
  * It sets up, measures for `--seconds`, checks every output, and writes
  * `<work>/result.json` (and, traced, `<work>/spans.jsonl`). */
object Main {

  case class Args(workload: String, seconds: Double, trace: Boolean,
      inputs: Path, tables: Path, work: Path, pin: Boolean)

  /** Everything a workload needs: the session, its arguments, the report
    * it fills, and the tracer (present only in a traced run). */
  case class Ctx(s: SparkSession, args: Args, report: Report,
      tracer: Option[Tracer], heap: HeapWatch) {
    def cores: Int = s.sparkContext.defaultParallelism
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m("workload"), m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m("inputs")), Paths.get(m("tables")), Paths.get(m("work")),
      argv.contains("--pin"))
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    // The program's own benchmark settings (graft.Bench): one shuffle
    // partition per core, UTC, the Catalyst extensions, lean status stores.
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.event.truncate.length", "2048")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val heap = new HeapWatch
    val s = session(args.work)
    s.sparkContext.setLogLevel("WARN")
    val report = new Report
    Log(s"session up; workload ${args.workload}")
    val tracer = if (args.trace) Some(new Tracer(s)) else None
    val ctx = Ctx(s, args, report, tracer, heap)
    try {
      args.workload match {
        case "nightly_build" => Nightly.run(ctx)
        case "corpus_prep" => CorpusPrep.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        report.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    tracer.foreach(_.writeSpans(args.work.resolve("spans.jsonl")))
    if (args.pin) Pins.write(args.work.resolve("pins_seen.json"))
    Files.write(args.work.resolve("result.json"), report.json.getBytes("UTF-8"))
    s.stop()
  }
}

/** Outcome of one run: attempted/failed operations, metrics, notes. */
class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific metric names (`build_s`, `dedup_docs_per_s`, ...):
    * value and unit. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  def fail(why: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += why
  }

  /** Run one checked operation: an exception or a failed check (a Some
    * message) counts it as failed. Returns the value when it succeeded. */
  def op[T](what: String)(f: => T)(check: T => Option[String]): Option[T] = {
    synchronized(attempted += 1)
    try {
      val v = f
      check(v) match {
        case Some(why) => fail(s"$what: $why"); None
        case None => Some(v)
      }
    } catch {
      case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def json: String = Json.obj(Seq(
    "attempted" -> attempted.toString, "failed" -> failed.toString,
    "failures" -> Json.arr(failures.toSeq.map(Json.str)),
    "e2e" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "named" -> Json.obj(named.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
    "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) })))
}

/** Progress lines on stderr (the run's jvm.log), stamped with JVM uptime. */
object Log {
  def apply(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1fs] $msg")
}

object Json {
  private val mapper = new ObjectMapper()
  def read(p: Path): JsonNode = mapper.readTree(p.toFile)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Highest heap occupancy right after a garbage collection, from the JVM's
  * GC notifications. `reset` starts a new window; `peakMb` forces one
  * collection first so every window has at least one reading. */
class HeapWatch {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200) // notifications are delivered asynchronously
    val p: Long = synchronized { peak }
    p / (1024.0 * 1024.0)
  }
}
