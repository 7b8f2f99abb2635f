package graft.pipeline

import graft.SparkSpec
import graft.pipeline.AnalyticPipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Analytic-pipeline runner: deterministic topological order, the
  * load/distinctness gates, the rename-promote, and the
  * master_mcaid_analytic.R:355-358 hard-gate stop() semantics. */
class PipelineSpec extends SparkSpec {

  private def mk(n: Int): (SparkSession, String) => DataFrame =
    (s, _) => { import s.implicits._
      (1 to n).map(_.toLong).toDF("id") }

  private def dup: (SparkSession, String) => DataFrame =
    (s, _) => { import s.implicits._
      Seq(1L, 1L, 2L).toDF("id") }

  /** The runner's work dirs currently under the session's scratch root. */
  private def runDirs(): Set[String] =
    Option(graft.Scratch.root(spark).toFile.list())
      .getOrElse(Array.empty[String])
      .filter(_.startsWith("pipeline_")).toSet

  /** Polls `cond` for up to `secs` seconds. */
  private def eventually(secs: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50L)
    cond
  }

  /** Nothing of a finished run is left: no pool thread, no Spark job
    * (cancelled jobs get a few seconds to wind down), no work dir. */
  private def assertNothingLeft(dirsBefore: Set[String]): Unit = {
    def chainThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-chain-") && t.isAlive)
    assert(eventually(5)(chainThreads.isEmpty),
      s"pool threads outlived run(): ${chainThreads.map(_.getName)}")
    val tracker = spark.sparkContext.statusTracker
    assert(eventually(10)(tracker.getActiveJobIds.isEmpty),
      s"Spark jobs outlived run(): ${tracker.getActiveJobIds.toSeq}")
    assert(runDirs() -- dirsBefore == Set.empty,
      "the run's work dir outlived run()")
  }

  /** One row whose Spark TASK (not the driver) sleeps until interrupted
    * or 60 s pass; [[PipelineSpec.napping]] counts such tasks running. */
  private def sleepyTask: (SparkSession, String) => DataFrame = (s, _) => {
    val nap = udf { (x: Long) =>
      PipelineSpec.napping.incrementAndGet()
      try Thread.sleep(60000L)
      finally PipelineSpec.napping.decrementAndGet()
      x
    }.asNondeterministic()
    s.range(0, 1, 1, 1).select(nap(col("id")).as("id"))
  }

  test("topoOrder: parents always precede children; ready ties break " +
      "by DECLARED order (scrambled declarations sort correctly)") {
    val stages = Seq(
      StageDef("d", Seq("b", "c"), mk(1)),
      StageDef("c", Seq("a"), mk(1)),
      StageDef("b", Seq("a"), mk(1)),
      StageDef("a", Nil, mk(1)),
      StageDef("e", Nil, mk(1)))
    val got = topoOrder(stages).map(_.table)
    // declared d,c,b,a,e: first ready in declared order is a; then c
    // (declared 2nd) wins over the also-ready b; then b, then d; e was
    // ready from the start but declared last, so it emits last
    assert(got == Seq("a", "c", "b", "d", "e"))
  }

  test("topoOrder: unknown (external) parents are ambient; a cycle " +
      "throws") {
    val ok = topoOrder(Seq(
      StageDef("x", Seq("external_input"), mk(1)))).map(_.table)
    assert(ok == Seq("x"))
    val cyc = Seq(
      StageDef("p", Seq("q"), mk(1)),
      StageDef("q", Seq("p"), mk(1)))
    assertThrows[IllegalArgumentException](topoOrder(cyc))
  }

  test("mcaidChain topo order matches the oracle's pinned sequence " +
      "(csv-alphabetical declarations, Kahn earliest-declared; the " +
      "late claim tables moud/naloxone/preg_episode emit 11-13 — " +
      "ready only after procedure, and declared after header/bh/ccw " +
      "which grab 8-10 the moment procedure lands)") {
    assert(topoOrder(mcaidChain).map(_.table) == Seq(
      "mcaid_elig_demo", "mcaid_elig_month", "mcaid_elig_timevar",
      "mcaid_claim_icdcm_header", "mcaid_claim_line",
      "mcaid_claim_pharm", "mcaid_claim_procedure",
      "mcaid_claim_header", "mcaid_claim_bh", "mcaid_claim_ccw",
      "mcaid_claim_moud", "mcaid_claim_naloxone",
      "mcaid_claim_preg_episode"))
  }

  test("mcaidPromoteList is the master script's hand-written 13-table " +
      "sequence, not the Kahn order") {
    assert(mcaidPromoteList == Seq(
      "mcaid_elig_demo", "mcaid_elig_timevar", "mcaid_elig_month",
      "mcaid_claim_line", "mcaid_claim_icdcm_header",
      "mcaid_claim_procedure", "mcaid_claim_pharm",
      "mcaid_claim_header", "mcaid_claim_naloxone",
      "mcaid_claim_moud", "mcaid_claim_preg_episode",
      "mcaid_claim_ccw", "mcaid_claim_bh"))
    assert(mcaidPromoteList.toSet == mcaidChain.map(_.table).toSet)
  }

  test("deferred promote: stages emit 2 rows, the update step rewrites " +
      "the keyed table (flag set where id matches, NULL elsewhere), " +
      "the promote loop walks the fixed list unconditionally") {
    val stages = Seq(
      StageDef("demo", Nil, (s, _) => { import s.implicits._
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "x") }),
      StageDef("bad", Nil, dup),  // distinct gate fails — still promotes
      StageDef("t3", Seq("demo"), mk(4)))
    val upd = UpdateStep("demo", "demo_extra", "user_id", "flag",
      (s, _) => { import s.implicits._; Seq(2L, 9L).toDF("id") })
    val out = AnalyticPipeline.run(spark, "", stages,
      update = Some(upd), promoteList = Seq("demo", "t3", "bad"))
      .collect()
    // stage phase: 2 rows per stage, no inline promote_rows
    assert(out.count(r => r.getAs[Int]("stage_seq") <= 3) == 6)
    val updRows = out.filter(_.getAs[String]("table_name") == "demo_extra")
      .map(r => r.getAs[String]("item") ->
        (r.getAs[Int]("pass"), r.getAs[Long]("observed"))).toMap
    assert(updRows("update_rows") == ((1, 3L)))   // cardinality kept
    assert(updRows("update_flagged") == ((1, 1L))) // only id 2 matched
    // promote loop: list order, seqs 5,6,7; the QA-failed 'bad' stage
    // still promotes (the reference loop has no gate)
    val promo = out.filter(_.getAs[String]("item") == "promote_rows")
      .sortBy(_.getAs[Int]("stage_seq"))
      .map(r => (r.getAs[Int]("stage_seq"), r.getAs[String]("table_name"),
        r.getAs[Int]("pass"), r.getAs[Long]("observed")))
    assert(promo.toSeq == Seq((5, "demo", 1, 3L), (6, "t3", 1, 4L),
      (7, "bad", 1, 3L)))
  }

  test("deferred promote under a fired hard gate: the update and the " +
      "WHOLE promote loop abort (the stop() blast radius)") {
    val stages = Seq(
      StageDef("claims", Nil, dup),
      StageDef("header", Seq("claims"), mk(5)))
    val upd = UpdateStep("claims", "extra", "id", "flag",
      (s, _) => { import s.implicits._; Seq(1L).toDF("id") })
    val out = AnalyticPipeline.run(spark, "", stages,
      hardGate = Map("header" -> Seq("claims")),
      update = Some(upd), promoteList = Seq("claims", "header"))
      .collect()
    val aborted = out.filter(_.getAs[String]("item") == "aborted")
      .map(r => r.getAs[Int]("stage_seq") -> r.getAs[String]("table_name"))
    // header (2), the update (3), both promote entries (4, 5)
    assert(aborted.toSet == Set(2 -> "header", 3 -> "extra",
      4 -> "claims", 5 -> "header"))
    assert(!out.exists(_.getAs[String]("item") == "promote_rows"))
  }

  test("mcaidMcareChain topo order matches the q278 oracle's pinned " +
      "sequence (header/ccw emit before the later-declared elig tables)") {
    assert(topoOrder(mcaidMcareChain).map(_.table) == Seq(
      "xwalk_apde_mcaid_mcare_pha", "mcaid_mcare_claim_icdcm_header",
      "mcaid_mcare_claim_line", "mcaid_mcare_claim_procedure",
      "mcaid_mcare_claim_header", "mcaid_mcare_claim_ccw",
      "mcaid_mcare_elig_demo", "mcaid_mcare_elig_timevar"))
  }

  test("green chain: every stage gets load_gate/distinct_rows/" +
      "promote_rows, all passing, promote re-count equals stage count") {
    val stages = Seq(
      StageDef("t1", Nil, mk(7)),
      StageDef("t2", Seq("t1"), mk(3)))
    val dirsBefore = runDirs()
    val out = AnalyticPipeline.run(spark, "", stages).collect()
    assert(out.length == 6)
    assert(out.forall(_.getAs[Int]("pass") == 1))
    val promo = out.filter(_.getAs[String]("item") == "promote_rows")
    assert(promo.map(r => (r.getAs[String]("table_name"),
      r.getAs[Long]("observed"))).toSet == Set(("t1", 7L), ("t2", 3L)))
    assert(runDirs() -- dirsBefore == Set.empty,
      "the run's work dir outlived run()")
  }

  test("a failing NON-gated stage does not promote but the chain " +
      "continues (the master script messages and moves on)") {
    val stages = Seq(
      StageDef("bad", Nil, dup),   // duplicate rows -> distinct gate fails
      StageDef("after", Nil, mk(2)))
    val out = AnalyticPipeline.run(spark, "", stages).collect()
    val bad = out.filter(_.getAs[String]("table_name") == "bad")
      .map(r => r.getAs[String]("item") -> r.getAs[Int]("pass")).toMap
    assert(bad("distinct_rows") == 0)
    assert(bad("promote_rows") == 0)
    val badPromo = out.find(r =>
      r.getAs[String]("table_name") == "bad" &&
      r.getAs[String]("item") == "promote_rows").get
    assert(badPromo.getAs[Long]("observed") == 0L) // never promoted
    // the chain continued
    val after = out.filter(_.getAs[String]("table_name") == "after")
    assert(after.length == 3 && after.forall(_.getAs[Int]("pass") == 1))
  }

  test("hard gate: a failed gate parent aborts the gated stage AND " +
      "everything after it (the reference stop())") {
    val stages = Seq(
      StageDef("claims", Nil, dup), // fails QA
      StageDef("header", Seq("claims"), mk(5)),
      StageDef("downstream", Seq("header"), mk(5)))
    val out = AnalyticPipeline.run(spark, "", stages,
      hardGate = Map("header" -> Seq("claims"))).collect()
    val header = out.filter(_.getAs[String]("table_name") == "header")
    assert(header.length == 1 &&
      header.head.getAs[String]("item") == "aborted")
    val down = out.filter(_.getAs[String]("table_name") == "downstream")
    assert(down.length == 1 &&
      down.head.getAs[String]("item") == "aborted")
    // the failing stage itself still reported its three verdict rows
    assert(out.count(_.getAs[String]("table_name") == "claims") == 3)
  }

  test("duplicate stage table names are refused up front (two stages " +
      "named alike would silently share ONE speculative future)") {
    val stages = Seq(StageDef("t", Nil, mk(1)), StageDef("t", Nil, mk(2)))
    val e = intercept[IllegalArgumentException](
      AnalyticPipeline.run(spark, "", stages))
    assert(e.getMessage.contains("duplicate stage table names"))
  }

  test("abort with speculative builds in flight: the dead stages' " +
      "futures are cancelled and drained BEFORE run() returns — no " +
      "job bleeds into whatever the caller does next") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val slow: (SparkSession, String) => DataFrame = (s, _) => {
      inFlight.incrementAndGet()
      try Thread.sleep(20000L)
      finally inFlight.decrementAndGet()
      import s.implicits._
      Seq(1L).toDF("id")
    }
    val stages = Seq(
      StageDef("claims", Nil, dup),            // fails QA -> gate fires
      StageDef("header", Seq("claims"), mk(5)), // hard-gated: aborts
      StageDef("down1", Seq("header"), slow),   // speculated, then dead
      StageDef("down2", Seq("header"), slow))
    val t0 = System.nanoTime()
    val out = AnalyticPipeline.run(spark, "", stages,
      hardGate = Map("header" -> Seq("claims"))).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // the sleeps were interrupted, not waited out (20 s each)
    assert(secs < 15.0, s"run() took $secs s — cancelled builds not drained")
    // and nothing is still running after run() returned
    assert(inFlight.get() == 0, "a cancelled build outlived run()")
    val abortedTables = out.filter(_.getAs[String]("item") == "aborted")
      .map(_.getAs[String]("table_name")).toSet
    assert(abortedTables == Set("header", "down1", "down2"))
  }

  test("UpdateStep composes with INLINE promote (no promote list): the " +
      "stage is already renamed to final when the update runs, and the " +
      "update follows it there (update_rows keeps cardinality, flag " +
      "lands on the matching key)") {
    // the update rewrites the stage table, then the promote phase renames
    // it to final: the final table is the same either way round
    val stages = Seq(
      StageDef("demo", Nil, (s, _) => { import s.implicits._
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "x") }),
      StageDef("t2", Seq("demo"), mk(4)))
    val upd = UpdateStep("demo", "demo_extra", "user_id", "flag",
      (s, _) => { import s.implicits._; Seq(2L, 9L).toDF("id") })
    val out = AnalyticPipeline.run(spark, "", stages, update = Some(upd))
      .collect()
    // inline discipline: 3 rows per stage (incl. promote_rows), all green
    val stageRows = out.filter(_.getAs[Int]("stage_seq") <= 2)
    assert(stageRows.length == 6 &&
      stageRows.forall(_.getAs[Int]("pass") == 1))
    val updRows = out.filter(_.getAs[String]("table_name") == "demo_extra")
      .map(r => r.getAs[String]("item") ->
        (r.getAs[Int]("pass"), r.getAs[Long]("observed"))).toMap
    assert(updRows("update_rows") == ((1, 3L)))   // cardinality kept
    assert(updRows("update_flagged") == ((1, 1L))) // only id 2 matched
  }

  test("an EMPTY stage fails the rowcount gate and does not promote") {
    val stages = Seq(StageDef("empty", Nil, mk(0)))
    val out = AnalyticPipeline.run(spark, "", stages).collect()
    val promo = out.find(_.getAs[String]("item") == "promote_rows").get
    assert(promo.getAs[Int]("pass") == 0 &&
      promo.getAs[Long]("observed") == 0L)
  }

  test("a stage build that throws: the exception reaches the caller and " +
      "the run leaves no pool thread, Spark job or work dir behind") {
    val stages = Seq(
      StageDef("ok", Nil, mk(3)),
      StageDef("boom", Seq("ok"),
        (_, _) => throw new IllegalStateException("build boom")))
    val dirsBefore = runDirs()
    val e = intercept[IllegalStateException](
      AnalyticPipeline.run(spark, "", stages))
    assert(e.getMessage == "build boom")
    assertNothingLeft(dirsBefore)
  }

  test("an await timeout: TimeoutException within a bounded time, and " +
      "the stage's still-running Spark task is cancelled, not leaked") {
    val stages = Seq(StageDef("slow", Nil, sleepyTask))
    val dirsBefore = runDirs()
    spark.conf.set("spark.graft.chainAwaitTimeoutSec", "2")
    val t0 = System.nanoTime()
    try intercept[TimeoutException](AnalyticPipeline.run(spark, "", stages))
    finally spark.conf.unset("spark.graft.chainAwaitTimeoutSec")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, s"timeout surfaced after $secs s")
    assertNothingLeft(dirsBefore)
    assert(eventually(5)(PipelineSpec.napping.get == 0),
      "the slow stage's task outlived run()")
  }

  test("abort while a dead stage's Spark task is running: run() returns " +
      "the aborted verdict and leaves no pool thread, Spark job or work " +
      "dir behind") {
    // the gate parent fails only once the dead stage's task is running
    val claims: (SparkSession, String) => DataFrame = (s, d) => {
      assert(eventually(30)(PipelineSpec.napping.get > 0),
        "the dead stage's task never started")
      dup(s, d)
    }
    val stages = Seq(
      StageDef("claims", Nil, claims),            // fails QA -> gate fires
      StageDef("header", Seq("claims"), mk(5)),   // hard-gated: aborts
      StageDef("down", Seq("header"), sleepyTask))
    val dirsBefore = runDirs()
    val t0 = System.nanoTime()
    val out = AnalyticPipeline.run(spark, "", stages,
      hardGate = Map("header" -> Seq("claims"))).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, s"run() took $secs s — the running task not cancelled")
    val abortedTables = out.filter(_.getAs[String]("item") == "aborted")
      .map(_.getAs[String]("table_name")).toSet
    assert(abortedTables == Set("header", "down"))
    assertNothingLeft(dirsBefore)
    assert(eventually(5)(PipelineSpec.napping.get == 0),
      "the dead stage's task outlived run()")
  }
}

object PipelineSpec {
  /** Sleeping Spark tasks currently running (see `sleepyTask`). */
  val napping = new AtomicInteger(0)
}
