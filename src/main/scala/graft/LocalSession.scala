package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: `local[n]` with n shuffle
  * partitions, UTC session time, the graft Catalyst extensions and no UI.
  * Used by the mains and the specs alike. */
object LocalSession {
  def apply(n: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
