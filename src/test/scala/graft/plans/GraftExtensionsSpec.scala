package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.{JoinQueries => J}

/** Contracts for the injected Catalyst rules (the shared test session runs
  * with spark.sql.extensions=graft.plans.GraftExtensions). */
class GraftExtensionsSpec extends SparkSpec {

  test("OR-equality join rewrites to a union of equi-joins, same results") {
    val withRewrite = J.q51ThetaOr(spark, sf)
    val planStr = withRewrite.queryExecution.executedPlan.toString
    assert(planStr.contains("Union"), s"no union in rewritten plan:\n$planStr")
    assert(!planStr.contains("BroadcastNestedLoopJoin"),
      "rewrite should eliminate the nested-loop join")
    val rewritten = withRewrite.collect().map(_.toString).toSeq
    // Spark's own rule exclusion turns the injected rule off
    spark.conf.set("spark.sql.optimizer.excludedRules",
      OrEqualityJoinRewrite.ruleName)
    try {
      val baseline = J.q51ThetaOr(spark, sf).collect().map(_.toString).toSeq
      assert(rewritten == baseline, "rewrite changed join semantics")
      val basePlan = J.q51ThetaOr(spark, sf).queryExecution.executedPlan.toString
      assert(basePlan.contains("BroadcastNestedLoopJoin"),
        "baseline should be the nested-loop plan")
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("rewrite preserves rows matching multiple disjuncts exactly once") {
    val s = spark
    import s.implicits._
    val facts = Seq((1, "a", "x"), (2, "a", "y"), (3, "b", "x"), (4, "c", "z"))
      .toDF("id", "f1", "f2")
    val dims = Seq(("a", "x", "both"), ("c", "q", "first_only"))
      .toDF("d1", "d2", "name")
    // row 1 matches dim 'both' on BOTH disjuncts -> must appear once
    val out = facts.join(dims, col("f1") === col("d1") || col("f2") === col("d2"))
      .select(col("id"), col("name")).orderBy(col("id"), col("name"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "both"), (2, "both"), (3, "both"), (4, "first_only")))
  }

  test("global-window guard fails fast in strict mode") {
    spark.conf.set("spark.graft.failOnGlobalWindow", "true")
    try {
      val df = graft.queries.Q.t(spark, sf, "orders")
        .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
      val e = intercept[Exception](df.collect())
      assert(e.getMessage != null && e.getMessage.contains("unpartitioned Window"),
        s"unexpected: $e")
    } finally spark.conf.set("spark.graft.failOnGlobalWindow", "false")
  }

  test("custom kernels are callable from SQL and match the Column API") {
    val s = spark
    import s.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("id", "text").createOrReplaceTempView("graft_fn_docs")
    val viaSql = spark.sql("""
      SELECT id,
        simhash64(split(text, ' ')) AS sh,
        size(shingle_hashes(split(text, ' '), 3)) AS n_shingles,
        size(minhash_sig(shingle_hashes(split(text, ' '), 3), 4)) AS k,
        size(winnow_fp(text, 8, 4)) AS n_fp,
        round(cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)), 4) AS cos_same,
        round(dot_product(array(1.0f, 2.0f), array(3.0f, 4.0f)), 4) AS dot
      FROM graft_fn_docs ORDER BY id""").collect()
    val viaCols = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs").map { t =>
      graft.functions.SimHash64.simhashStrings(t.split(" ").toSeq)
    }
    assert(viaSql.map(_.getLong(1)).toSeq == viaCols)
    viaSql.foreach { r =>
      assert(r.getInt(2) > 0 && r.getInt(3) == 4 && r.getInt(4) > 0)
      assert(r.getDouble(5) == 1.0 && r.getDouble(6) == 11.0)
    }
  }

  test("SQL kernel registration rejects non-literal config parameters") {
    val e = intercept[Exception](
      spark.sql("SELECT winnow_fp('abc', cast(rand()*4 AS INT), 4)").collect())
    assert(e.getMessage.contains("literal INT"), s"unexpected: $e")
  }
}
