package graft
import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` for a comma-separated list of
  * catalog queries to <outDir>/<name>_<suffix>.txt (suffix defaults to
  * `before`) — plan evidence for an optimization. Plans only; nothing is
  * executed except what a query's own construction executes (e.g. a
  * chain runner's writes). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <query prefixes, comma-separated> <outDir> [suffix]")
    val names = args(0).split(",").toSeq
    val outDir = args(1)
    val suffix = args.drop(2).headOption.getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val full = SparkEntry.queries.keys.find(_.startsWith(n)).getOrElse(n)
      val fn = SparkEntry.queries(full)
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${full}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${full}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $full FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
