package graft

import java.nio.file.Files

/** Degenerate-input robustness: every catalog query must run (not throw)
  * when every source table is EMPTY but schema-complete.
  *
  * At 100 TB this is not a corner case — a partition filter, a date window,
  * or an incremental refresh slice routinely selects zero rows, and an
  * operator that drives plan construction from collected data (centroid
  * seeds, broadcast configs, schema inference over a sink dir) will see an
  * empty driver-side result. Such failures never show up on the happy-path
  * testdata, so they get their own sweep.
  */
class EmptyInputSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val root = Files.createTempDirectory("graft_empty_sf").toFile

  private lazy val emptyDir: String = {
    val dir = root.toString
    // preserve exact physical types (incl. events' TIMESTAMP(NANOS)) by
    // rewriting zero rows of the real files rather than hand-declaring
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  override def afterAll(): Unit =
    try graft.queries.LifecycleQueries.deleteRecursively(root)
    finally super.afterAll()

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs on empty tables") {
      val out = fn(spark, emptyDir)
      assert(out.count() >= 0) // materialize: the assertion is "no throw"
    }
  }
}
