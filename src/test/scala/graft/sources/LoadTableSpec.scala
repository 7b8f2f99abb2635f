package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.Scratch

class LoadTableSpec extends SparkSpec {

  test("compact shrinks a many-file table without changing its contents") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_compact")
    val base = s"$root/t"
    try {
      val df = (1L to 10000L).map(i => (i, s"v$i", i * 1.5)).toDF("id", "v", "w")
      df.repartition(50).write.parquet(base)
      def parquetFiles = new java.io.File(base).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(parquetFiles == 50)
      val before = spark.read.parquet(base)
        .agg(count(lit(1)), sum(col("id")), sum(col("w"))).collect()(0)

      LoadTable.compact(spark, base, df.schema, targetRowsPerFile = 4000L)

      assert(parquetFiles == 3, s"expected ceil(10000/4000)=3 files, got $parquetFiles")
      val after = spark.read.parquet(base)
        .agg(count(lit(1)), sum(col("id")), sum(col("w"))).collect()(0)
      assert(after == before)
      // staging/old trees are gone
      assert(!new java.io.File(base + "_compact_staging").exists())
      assert(!new java.io.File(base + "_compact_old").exists())
    } finally Scratch.delete(root)
  }

  test("sanitizeColumn applies the CDR replacement chain in order") {
    assert(LoadTable.sanitizeColumn("Cust Key") === "cust_key")
    assert(LoadTable.sanitizeColumn("Name (Legal)") === "name_legal")
    assert(LoadTable.sanitizeColumn("Acct-Bal") === "acct_bal")
    assert(LoadTable.sanitizeColumn("Mkt/Segment, Name")
      === "mkt_segment_name")
    // comma dropped BEFORE spaces fold — "a, b" -> "a_b", not "a,_b"
    assert(LoadTable.sanitizeColumn("A, B") === "a_b")
  }

  test("loadCdrRaw: noise stripped, multi-char separator, declared " +
    "all-varchar schema") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cdr_spec")
    try {
      Seq("Code One|@|Val~@~").toDF("value")
        .coalesce(1).write.mode("overwrite").text(s"$base/h")
      Seq("a|@|1", "b|@|2").toDF("value")
        .coalesce(1).write.mode("overwrite").text(s"$base/d")
      val out = LoadTable.loadCdrRaw(spark, s"$base/h", s"$base/d")
      assert(out.columns.toSeq === Seq("code_one", "val"))
      assert(out.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.StringType))
      assert(out.orderBy("code_one").collect().map(_.toSeq).toSeq
        === Seq(Seq("a", "1"), Seq("b", "2")))
    } finally Scratch.delete(base)
  }

  test("deleteDataYear: yyyymm int and DATE columns delete the year, " +
    "unknown column names are skipped") {
    import spark.implicits._
    // int yyyymm: 1995 rows drop, 19950-prefix pitfalls don't exist
    // (yyyymm rendering is always 6 chars)
    val elig = Seq((1L, 199412), (2L, 199501), (3L, 199512),
      (4L, 199601)).toDF("key", "CLNDR_YEAR_MNTH")
    val keptElig = LoadTable.deleteDataYear(elig, "CLNDR_YEAR_MNTH", 1995)
      .get.select("key").as[Long].collect().sorted
    assert(keptElig.toSeq === Seq(1L, 4L))
    // DATE: ISO rendering carries the calendar year as its prefix
    val claims = Seq((1L, "1994-12-31"), (2L, "1995-01-01"),
      (3L, "1995-12-31"), (4L, "1996-01-01")).toDF("key", "d")
      .select(col("key"), to_date(col("d")).as("FROM_SRVC_DATE"))
    val keptClaims = LoadTable
      .deleteDataYear(claims, "FROM_SRVC_DATE", 1995)
      .get.select("key").as[Long].collect().sorted
    assert(keptClaims.toSeq === Seq(1L, 4L))
    // unknown date column: the script's `next` branch — no delete
    assert(LoadTable.deleteDataYear(claims
      .withColumnRenamed("FROM_SRVC_DATE", "etl_batch_date"),
      "etl_batch_date", 1995).isEmpty)
  }
}
