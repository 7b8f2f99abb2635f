package graft.pipeline

import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.qa.Qa

/** Composed analytic-pipeline runner — the reference's master build
  * orchestration (claims_db/db_loader/mcaid/master_mcaid_analytic.R:
  * 66-143 and 345-371, claims_db/phclaims/table_dependencies.csv):
  * the analytic tables form a dependency DAG (the csv's (schema, table,
  * parent_schema, parent_table) rows), the master script executes the
  * loads in dependency order, runs each table's qa_stage battery
  * between the stage load and the final promote, and hard-gates
  * mcaid_claim_header behind the four claim tables it reads — a QA
  * failure there `stop()`s the whole script
  * (master_mcaid_analytic.R:355-358), killing every later stage.
  *
  * Re-expression:
  *  - [[StageDef]] carries a table, its IN-CHAIN parents (the csv rows
  *    restricted to tables the chain itself builds — external inputs
  *    like stage.mcaid_elig and the ref tables are ambient), and the
  *    stage build as a function.
  *  - [[topoOrder]] is deterministic Kahn: among ready stages, always
  *    the earliest-DECLARED one. Stages are declared in the csv's
  *    physical row order (alphabetical — NOT a valid execution order),
  *    so the sort is load-bearing, and the tie-break makes the
  *    resulting schedule a pure function of the declared rows.
  *  - [[run]] builds each stage, writes the stage table and QAs the
  *    WRITTEN table: [[Qa.loadGate]] against the run's metadata log
  *    (the metadata.qa_mcaid analog; a fresh run-scoped log, so the
  *    gate has first-load semantics and the verdict is deterministic)
  *    plus the exact-duplicate check (the grain-distinctness QA every
  *    qa_stage battery opens with). A sequential fold in topo order
  *    then decides each stage: a failed stage is not promoted but the
  *    chain continues (the master script messages and moves on) —
  *    EXCEPT the hard gate: once a gated stage's gate fails, that
  *    stage and everything after it abort (the `stop()`). After the
  *    optional [[UpdateStep]], one promote phase renames stage → final
  *    (the reference's sp_rename / alter_schema — a metadata move, not
  *    a rewrite) and re-counts the final table
  *    (master_mcaid_analytic.R's rows_claim_stage == rows_claim_final
  *    check).
  *
  * Output: one verdict frame — (stage_seq, table_name, item, pass,
  * observed, expected). Inline-promote masters (q278) emit three rows
  * per executed stage (load_gate, distinct_rows, promote_rows);
  * deferred-promote masters (q279) emit two per stage, then the
  * [[UpdateStep]] rows, then one promote_rows per fixed-list entry
  * (see [[run]]); killed steps emit one 'aborted' row each.
  *
  * The reference's per-table qa_stage batteries (the full check lists
  * each stage runs) are pinned as their own catalog rows — q288/q289
  * (elig demo/timevar), q292-q295 (the four claim tables), q296-q300
  * (bh/moud/naloxone/preg/housing) — each with verbatim note
  * rendering. The runner's in-chain gate is deliberately the fused
  * count + grain-distinctness pair: the chain row pins ORDER and gate
  * SEMANTICS, the battery rows pin each battery's full content, and
  * composing all ten batteries into the chain would make the chain
  * row re-execute every build twice for no added coverage.
  *
  * Scale: every check is a distributed aggregate (count / distinct
  * count / anti-join-free re-count of the renamed final); only the
  * per-stage VERDICT reaches the driver (3 rows/stage). The promote is
  * a filesystem rename. The builds themselves are the audited catalog
  * builds (q61/q64/q66/q67/q68/q79/q80/q81/q83/q169) — the runner adds
  * one stage-table write each, which the reference also pays (its
  * stage loads are physical tables).
  */
object AnalyticPipeline {

  /** One chain stage: the table it builds, its in-chain parents
    * (table_dependencies.csv rows restricted to chain tables), and the
    * stage load. */
  case class StageDef(table: String, parents: Seq[String],
      build: (SparkSession, String) => DataFrame)

  /** An UPDATE-shaped step between the stage loads and the promote
    * loop — the master script's mcaid_elig_demo_extra section
    * (master_mcaid_analytic.R:374-392): compute a flag-id set from
    * the claims side (load_stage.mcaid_elig_demo_extra.R:307-377's
    * cascade → all_ids), then UPDATE the staged demographics table,
    * setting `flagColumn` = 1 on rows whose `key` is in the set and
    * leaving every other row's value as loaded (NULL on a first
    * load, :379-386). The runner rewrites the stage table in place
    * (the reference updates stage.mcaid_elig_demo before the promote
    * loop copies it) and emits two verdict rows: update_rows (the
    * UPDATE preserves cardinality) and update_flagged (the
    * qa_mcaid_elig_demo_extra noncisgender-share probe's numerator,
    * qa_stage.mcaid_elig_demo.R:253-258). */
  case class UpdateStep(table: String, name: String, key: String,
      flagColumn: String, flags: (SparkSession, String) => DataFrame)

  /** Deterministic Kahn topological sort: repeatedly emit the
    * earliest-DECLARED stage whose in-chain parents have all been
    * emitted. Unknown parents (external inputs) are ignored; a cycle
    * throws. */
  def topoOrder(stages: Seq[StageDef]): Seq[StageDef] = {
    val known = stages.map(_.table).toSet
    val emitted = scala.collection.mutable.LinkedHashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[StageDef]
    while (out.length < stages.length) {
      val next = stages.find(st => !emitted.contains(st.table) &&
        st.parents.forall(p => !known.contains(p) || emitted.contains(p)))
      next match {
        case Some(st) => emitted += st.table; out += st
        case None =>
          val stuck = stages.filterNot(st => emitted.contains(st.table))
            .map(_.table).mkString(", ")
          throw new IllegalArgumentException(
            s"dependency cycle among: $stuck")
      }
    }
    out.toSeq
  }

  /** The mcaid analytic chain, declared in table_dependencies.csv ROW
    * order (alphabetical by table — the csv's physical order, which is
    * not an execution order; [[topoOrder]] derives one). Parents are
    * the csv's in-chain rows: the claim tables carry
    * final.mcaid_elig_demo / final.mcaid_elig_timevar
    * (table_dependencies.csv:3-9 qa dependencies), claim_header
    * additionally the four claim tables it rolls up
    * (table_dependencies.csv stage,mcaid_claim_header rows), and
    * ccw/bh the header+icdcm(+pharm) frames load_ccw / load_bh read
    * (scripts_general/load_ccw.R, claim_bh.R). */
  def mcaidChain: Seq[StageDef] = Seq(
    StageDef("mcaid_claim_bh",
      Seq("mcaid_claim_header", "mcaid_claim_icdcm_header",
        "mcaid_claim_pharm"),
      graft.queries.PlrBhQueries.q83ClaimBh),
    StageDef("mcaid_claim_ccw",
      Seq("mcaid_claim_header", "mcaid_claim_icdcm_header"),
      graft.queries.BuildQueries.q61ConditionLoop),
    StageDef("mcaid_claim_header",
      Seq("mcaid_claim_line", "mcaid_claim_icdcm_header",
        "mcaid_claim_procedure", "mcaid_claim_pharm",
        "mcaid_elig_demo", "mcaid_elig_timevar"),
      graft.queries.BuildQueries.q66ClaimHeader),
    StageDef("mcaid_claim_icdcm_header",
      Seq("mcaid_elig_demo", "mcaid_elig_timevar"),
      graft.queries.NormalizeQueries.q79ClaimIcdcm),
    StageDef("mcaid_claim_line",
      Seq("mcaid_elig_demo", "mcaid_elig_timevar"),
      graft.queries.BuildQueries.q169McaidClaimStage),
    // the three late claim tables (master_mcaid_analytic.R:362-371);
    // parents are the final tables their loads read —
    // load_stage.mcaid_claim_moud.R:76,158 (procedure + pharm),
    // …naloxone.R:72-147 (pharm + procedure),
    // …preg_episode.R:57-100 (icdcm_header + procedure)
    StageDef("mcaid_claim_moud",
      Seq("mcaid_claim_procedure", "mcaid_claim_pharm"),
      graft.queries.BuildQueries.q92ClaimMoud),
    StageDef("mcaid_claim_naloxone",
      Seq("mcaid_claim_pharm", "mcaid_claim_procedure"),
      graft.queries.BuildQueries.q144Naloxone),
    StageDef("mcaid_claim_pharm",
      Seq("mcaid_elig_demo", "mcaid_elig_timevar"),
      graft.queries.NormalizeQueries.q81ClaimPharm),
    StageDef("mcaid_claim_preg_episode",
      Seq("mcaid_claim_icdcm_header", "mcaid_claim_procedure"),
      graft.queries.BuildQueries.q84PregEpisode),
    StageDef("mcaid_claim_procedure",
      Seq("mcaid_elig_demo", "mcaid_elig_timevar"),
      graft.queries.NormalizeQueries.q80ClaimProcedure),
    StageDef("mcaid_elig_demo", Nil,
      graft.queries.BuildQueries.q67EligDemo),
    StageDef("mcaid_elig_month", Nil,
      graft.queries.BuildQueries.q68EligMonth),
    StageDef("mcaid_elig_timevar", Nil,
      graft.queries.BuildQueries.q64EligTimevar))

  /** The master script's mcaid_elig_demo_extra UPDATE
    * (master_mcaid_analytic.R:374-392): flag ids come from the q159
    * cascade (its own claims fixtures — the chain's stage frames are
    * grain summaries, the reference reads the row-level finals), the
    * UPDATE lands on the staged mcaid_elig_demo keyed by its entity
    * id. */
  def mcaidEligDemoExtra: UpdateStep = UpdateStep(
    table = "mcaid_elig_demo", name = "mcaid_elig_demo_extra",
    key = "user_id", flagColumn = "noncisgender",
    flags = (s, dir) =>
      graft.queries.BuildQueries.q159EligDemoExtra(s, dir)
        .filter(org.apache.spark.sql.functions
          .col("noncisgender") === 1)
        .select(org.apache.spark.sql.functions.col("id_mcaid")))

  /** The STAGE TABLE TO FINAL TABLE loop's fixed table list
    * (master_mcaid_analytic.R:399-404) — NOT the Kahn order; the
    * reference promotes in this hand-written sequence. */
  def mcaidPromoteList: Seq[String] = Seq(
    "mcaid_elig_demo", "mcaid_elig_timevar", "mcaid_elig_month",
    "mcaid_claim_line", "mcaid_claim_icdcm_header",
    "mcaid_claim_procedure", "mcaid_claim_pharm",
    "mcaid_claim_header", "mcaid_claim_naloxone", "mcaid_claim_moud",
    "mcaid_claim_preg_episode", "mcaid_claim_ccw", "mcaid_claim_bh")

  /** The master script's hard gate: mcaid_claim_header aborts the
    * chain unless ALL FOUR claim tables passed QA
    * (master_mcaid_analytic.R:355-358 — `stop()` on any fail). */
  def mcaidHardGate: Map[String, Seq[String]] = Map(
    "mcaid_claim_header" -> Seq("mcaid_claim_line",
      "mcaid_claim_icdcm_header", "mcaid_claim_procedure",
      "mcaid_claim_pharm"))

  /** The COMBINED mcaid+mcare analytic chain
    * (db_loader/mcaid_mcare/master_mcaid_mcare_analytic.R:43-266 +
    * the csv's stage,mcaid_mcare_* rows): identity crosswalk first,
    * then the dual elig tables and the crosswalked claim tables, the
    * header over its rollups, CCW last. Same csv-alphabetical
    * declaration discipline; this master has NO hard gate (each
    * table section runs unconditionally), and its promote is
    * archive-then-rename (alter_schema final→archive, stage→final —
    * master_mcaid_mcare_analytic.R:232-237); the archive leg only
    * differs from [[run]]'s rename on a RE-run against an existing
    * final, which a single execution never sees. claim_provider
    * (Table 4) is a placeholder in the reference itself ("once
    * mcaid_claim_provider table exists") — absent here too. */
  def mcaidMcareChain: Seq[StageDef] = Seq(
    StageDef("mcaid_mcare_claim_ccw",
      Seq("mcaid_mcare_claim_header", "mcaid_mcare_claim_icdcm_header"),
      graft.queries.BuildQueries.q154McaidMcareCcw),
    StageDef("mcaid_mcare_claim_header",
      Seq("mcaid_mcare_claim_line", "mcaid_mcare_claim_icdcm_header",
        "mcaid_mcare_claim_procedure", "xwalk_apde_mcaid_mcare_pha"),
      graft.queries.BuildQueries.q105McaidMcareHeader),
    StageDef("mcaid_mcare_claim_icdcm_header",
      Seq("xwalk_apde_mcaid_mcare_pha"),
      graft.queries.BuildQueries.q140McaidMcareIcdcm),
    StageDef("mcaid_mcare_claim_line",
      Seq("xwalk_apde_mcaid_mcare_pha"),
      graft.queries.BuildQueries.q139McaidMcareLine),
    StageDef("mcaid_mcare_claim_procedure",
      Seq("xwalk_apde_mcaid_mcare_pha"),
      graft.queries.BuildQueries.q141McaidMcareProcedure),
    StageDef("mcaid_mcare_elig_demo",
      Seq("xwalk_apde_mcaid_mcare_pha"),
      graft.queries.BuildQueries.q119McaidMcareDemo),
    StageDef("mcaid_mcare_elig_timevar",
      Seq("xwalk_apde_mcaid_mcare_pha"),
      graft.queries.BuildQueries.q118McaidMcareTimevar),
    StageDef("xwalk_apde_mcaid_mcare_pha", Nil,
      graft.queries.BuildQueries.q155ApdeXwalk))

  /** Pool size for the chain's stage futures. */
  private val chainThreads = 6

  /** One stage's QA result: row count, distinct-row count and the load
    * gate's verdict. */
  private case class StageRes(n: Long, d: Long, gate: Qa.QaCheck)

  /** Execute the chain and return the verdict frame (see object doc).
    *
    *  1. Stage futures, submitted in topo order to a bounded pool: each
    *     builds its stage, writes the stage table and QAs it, nothing
    *     more.
    *  2. The decision fold, sequential in topo order: it awaits each
    *     stage, records pass / fail and the load_gate and distinct_rows
    *     rows, and fires the hard gate (the stage and everything after
    *     it abort; in-flight speculation is cancelled).
    *  3. The optional [[UpdateStep]] rewrites its table's stage dir.
    *  4. One promote phase. Its targets follow the reference's two
    *     promote disciplines:
    *      - `promoteList` NON-empty (q279's master): the STAGE→FINAL
    *        loop's fixed list (master_mcaid_analytic.R:399-404), every
    *        entry UNCONDITIONALLY — the loop has no QA gate, only the
    *        stage-vs-final row-count compare whose PASS/FAIL lands in
    *        qa_mcaid (:455-470). One promote_rows row per entry follows
    *        the update rows. A fired stop() kills the update and the
    *        whole loop: aborted rows for every remaining step.
    *      - `promoteList` EMPTY (q278's master, alter_schema per
    *        section, master_mcaid_mcare_analytic.R:232-237): the stages
    *        that passed and were not aborted, in topo order. Each
    *        stage's promote_rows row joins its own rows (3 per stage);
    *        a stage that did not promote observes 0.
    *     Each target is renamed in order on the caller; the re-counts
    *     (parquet footer reads) overlap on the pool.
    *
    * Every exit — a verdict, a rethrown build failure, an await
    * timeout — goes through one `finally`: it cancels the job group
    * unless the run completed without an abort, stops the pool
    * and deletes the run's work dir. The verdict is a local relation,
    * so nothing reads that dir after `run` returns. */
  def run(s: SparkSession, dir: String, stages: Seq[StageDef],
      hardGate: Map[String, Seq[String]] = Map.empty,
      update: Option[UpdateStep] = None,
      promoteList: Seq[String] = Nil): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.{Duration, SECONDS}
    // duplicate stage table names would silently collapse to ONE future
    // in the speculative map below — refuse them up front
    require(stages.map(_.table).distinct.size == stages.size,
      s"duplicate stage table names: ${stages.map(_.table)
        .groupBy(identity).collect { case (t, g) if g.size > 1 => t }
        .mkString(", ")}")
    // Finite await for every speculative result: one wedged Spark job
    // must fail the query, not hang the caller forever. Long default —
    // real chain stages at scale run hours, and the timeout exists to
    // convert "forever" into a diagnosable error.
    val awaitSec = s.conf.getOption("spark.graft.chainAwaitTimeoutSec")
      .map(_.toLong).getOrElse(21600L)
    val awaitD = Duration(awaitSec, SECONDS)
    val ord = topoOrder(stages)
    val deferred = promoteList.nonEmpty
    val threadN = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      chainThreads, (r: Runnable) => {
        val t = new Thread(r, s"graft-chain-${threadN.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Every Spark job of the run carries one cancellable, run-scoped
    // job group; setJobGroup is thread-local, so each task sets it.
    val jobGroup = s"graft-chain-${java.util.UUID.randomUUID()}"
    @volatile var aborted = false
    var completed = false
    val work = Files.createTempDirectory("graft_pipeline")
    try {
      // run-scoped metadata.qa_mcaid analog (see Qa.LoadLog — an
      // in-memory log; Qa.LoadLog synchronizes internally)
      val qaLog = new Qa.LoadLog
      val failed = scala.collection.mutable.Set.empty[String]
      val stageN = scala.collection.mutable.Map.empty[String, Long]
      def stageDirOf(t: String) = work.resolve(s"stage_$t")
      def finalDirOf(t: String) = work.resolve(s"final_$t")

      // ---- Speculative phase (opt guide §2.6: overlap independent jobs).
      // The chain's stages are independent Spark jobs — the reference
      // runs them back-to-back only because its master script is
      // sequential R. Submitting them from a bounded pool lets the next
      // stage's tasks back-fill executors idled by the current stage's
      // write tail. The futures only build, write and QA, so a stage
      // the fold aborts merely has its result ignored (the work dir is
      // run-scoped, the qa log per-table), and a build failure is
      // rethrown at the fold only if the stage is not aborted — exactly
      // when and what a sequential runner would throw.
      //
      // The flag-id cascade reads only the run's INPUT dir, so it is
      // independent of every stage build. It is submitted FIRST: the
      // pool is FIFO, so queued behind the stages it would start only
      // once a stage finished and then run on alone after the last of
      // them. localCheckpoint materializes the small id set off the
      // caller; result identical, lineage just truncated.
      val flagsFut = update.map(u => Future {
        if (aborted) throw new InterruptedException(
          s"chain aborted before update flags ${u.name} started")
        s.sparkContext.setJobGroup(jobGroup,
          s"chain update flags: ${u.name}", interruptOnCancel = true)
        u.flags(s, dir).toDF("flag_id").distinct().localCheckpoint()
      })
      val futs: Map[String, Future[StageRes]] = ord.map { st =>
        st.table -> Future {
          if (aborted) throw new InterruptedException(
            s"chain aborted before stage ${st.table} started")
          s.sparkContext.setJobGroup(jobGroup,
            s"chain stage: ${st.table}", interruptOnCancel = true)
          // stage load: write the stage table, QA the WRITTEN table (the
          // reference QAs stage.<table> in the database, not the query).
          // The row count and the exact-duplicate check FUSE into one
          // aggregation (one scan, one partial-agg shuffle) — a separate
          // loadGate count plus a distinct().count() job would triple
          // the per-stage QA scans (the Qa.fusedTableChecks rule).
          val stageDir = stageDirOf(st.table).toString
          st.build(s, dir).write.parquet(stageDir)
          val staged = s.read.parquet(stageDir)
          val allCols = struct(staged.columns.map(col).toIndexedSeq: _*)
          val qaRow = staged.agg(count(lit(1)).as("n"),
            count_distinct(allCols).as("d")).head()
          val n = qaRow.getLong(0)
          StageRes(n, qaRow.getLong(1), qaLog.gate(n, st.table))
        }
      }.toMap

      // ---- Decision fold: sequential, topo order. Per stage: its seq
      // and, unless aborted, its load_gate and distinct_rows rows.
      val decided = ord.zipWithIndex.map { case (st, i) =>
        val seq = i + 1
        val gateBroken = hardGate.getOrElse(st.table, Nil).exists(failed)
        if (aborted || gateBroken) {
          // the reference stop(): this stage and everything after it
          // die, and the speculation still in flight is cancelled
          if (!aborted) s.sparkContext.cancelJobGroup(jobGroup)
          aborted = true
          failed += st.table
          (st.table, seq, None)
        } else {
          val StageRes(n, d, gate) = Await.result(futs(st.table), awaitD)
          stageN(st.table) = n
          if (!(gate.pass && d == n && n > 0)) failed += st.table
          (st.table, seq, Some(Seq(
            (seq, st.table, "load_gate", if (gate.pass) 1 else 0, n,
              gate.expected),
            (seq, st.table, "distinct_rows", if (d == n) 1 else 0, d, n))))
        }
      }
      val nStages = stages.length
      val updRows = update.toSeq.flatMap { u =>
        val seq = nStages + 1
        if (aborted) Seq((seq, u.name, "aborted", 0, 0L, 0L))
        else {
          val before = stageN(u.table)
          val updDir = stageDirOf(u.table)
          val demo = s.read.parquet(updDir.toString)
          val flagIds = broadcast(Await.result(flagsFut.get, awaitD))
          val updated = demo
            .join(flagIds, demo(u.key) === col("flag_id"), "left")
            .withColumn(u.flagColumn,
              when(col("flag_id").isNotNull, lit(1))
                .otherwise(lit(null).cast("int")))
            .drop("flag_id")
          val newDir = work.resolve(s"upd_${u.table}")
          updated.write.parquet(newDir.toString)
          // swap the rewritten table in (the reference UPDATEs in place)
          Files.move(updDir, work.resolve(s"pre_upd_${u.table}"))
          Files.move(newDir, updDir)
          val m = s.read.parquet(updDir.toString).agg(count(lit(1)).as("n"),
            count(when(col(u.flagColumn) === 1, 1)).as("f")).head()
          val (after, flagged) = (m.getLong(0), m.getLong(1))
          stageN(u.table) = after
          Seq(
            (seq, u.name, "update_rows", if (after == before) 1 else 0,
              after, before),
            (seq, u.name, "update_flagged", 1, flagged, after))
        }
      }

      // ---- Promote phase: the renames are sequential metadata moves in
      // target order; the re-counts are independent, so they overlap.
      val targets =
        if (!deferred) decided.collect {
          case (t, _, Some(_)) if !failed(t) => t }
        else if (aborted) Nil
        else promoteList
      val promoted: Map[String, Long] = targets.map { t =>
        // the sp_rename / alter_schema metadata move
        val finalDir = Files.move(stageDirOf(t), finalDirOf(t)).toString
        t -> Future {
          s.sparkContext.setJobGroup(jobGroup,
            s"chain promote: $t", interruptOnCancel = true)
          s.read.parquet(finalDir).count()
        }
      }.map { case (t, fut) => t -> Await.result(fut, awaitD) }.toMap
      def promoteRow(seq: Int, t: String) = {
        val finalN = promoted.getOrElse(t, 0L)
        (seq, t, "promote_rows",
          if (promoted.contains(t) && finalN == stageN(t)) 1 else 0,
          finalN, stageN(t))
      }

      val stageRows = decided.flatMap {
        case (t, seq, None) => Seq((seq, t, "aborted", 0, 0L, 0L))
        case (_, _, Some(base)) if deferred => base
        case (t, seq, Some(base)) => base :+ promoteRow(seq, t)
      }
      val listSeq = nStages + update.size
      val promoRows = promoteList.zipWithIndex.map { case (t, i) =>
        if (aborted) (listSeq + 1 + i, t, "aborted", 0, 0L, 0L)
        else promoteRow(listSeq + 1 + i, t)
      }
      import s.implicits._
      val verdict = (stageRows ++ updRows ++ promoRows).toDF("stage_seq",
        "table_name", "item", "pass", "observed", "expected")
      completed = true
      verdict
    } finally {
      // A run that completed without an abort has no job in flight.
      // Otherwise cancel the group, including any job a straggler
      // submits after this point, so none outlives run().
      if (!completed || aborted)
        try s.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
        catch { case NonFatal(_) => () }
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      graft.queries.LifecycleQueries.deleteRecursively(work.toFile)
    }
  }
}
