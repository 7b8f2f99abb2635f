package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, struct}

import graft.pipeline.AnalyticPipeline
import graft.pipeline.AnalyticPipeline.{StageDef, UpdateStep}
import graft.qa.Qa

/** nightly_build: the paper's nightly master. One operation is
  * `AnalyticPipeline.run` over the mcaid chain (hard gate, the
  * mcaid_elig_demo_extra update, the 13-table promote list) in a fresh JVM,
  * as a nightly batch job runs. The traced run then adds a decomposed
  * pass that builds and QAs each stage alone, for the `builds` and `qa`
  * self times. */
object Nightly {

  case class Chain(name: String, stages: Seq[StageDef],
      gate: Map[String, Seq[String]], update: Option[UpdateStep],
      promote: Seq[String])

  val mcaid = Chain("mcaid", AnalyticPipeline.mcaidChain,
    AnalyticPipeline.mcaidHardGate, Some(AnalyticPipeline.mcaidEligDemoExtra),
    AnalyticPipeline.mcaidPromoteList)

  /** Verdict rows in the runner's emission order, one string each. */
  def verdict(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.mkString("|"))

  /** The runner leaves its run-scoped work dir under java.io.tmpdir. */
  private def clearRunDirs(): Unit = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("graft_pipeline"))
      .foreach(Fs.deleteTree)
  }

  def runChain(ctx: Main.Ctx, c: Chain): Option[Seq[String]] = {
    val s = ctx.s
    val dir = ctx.args.tables.toString
    val pinned = Pins.get(s"nightly.${c.name}")
    val out = ctx.report.op(s"nightly ${c.name}") {
      s.sparkContext.setJobDescription(s"nightly: ${c.name}")
      verdict(AnalyticPipeline.run(s, dir, c.stages, c.gate, c.update,
        c.promote).collect())
    } { v =>
      val failed = v.filterNot(_.split('|')(3) == "1")
      if (failed.nonEmpty) Some(s"verdict rows not passing: ${failed.take(3).mkString(", ")}")
      else if (!ctx.args.pin && !pinned.contains(v.mkString(";")))
        Some("verdict counts differ from the pinned counts")
      else None
    }
    clearRunDirs()
    Log(s"chain ${c.name} done")
    out
  }

  def run(ctx: Main.Ctx): Unit = {
    val r = ctx.report
    r.info("input") = s"${ctx.args.tables} (fixed; --seed does not vary it)"
    val w = new Window(ctx)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pinV: Option[Seq[String]] = None
    do {
      val t0 = System.nanoTime()
      pinV = ctx.tracer match {
        case Some(tr) => tr.span("pipeline.chain.mcaid")(runChain(ctx, mcaid))
        case None => runChain(ctx, mcaid)
      }
      lat += (System.nanoTime() - t0) / 1e6
    } while (w.open)
    w.close(lat.toSeq, 0L)
    if (lat.nonEmpty) r.named("build_s") = (Stats.median(lat.toSeq) / 1000.0, "s")
    if (ctx.args.pin) pinV.foreach(v => Pins.put("nightly.mcaid", v.mkString(";")))
    ctx.tracer.foreach(tr => traced(ctx, tr, w))
  }

  /** The traced run's extra work: pipeline metrics from the first timed
    * chain's span and the runner's own job descriptions, then a decomposed
    * pass for the builds and qa self times. */
  private def traced(ctx: Main.Ctx, tr: Tracer, w: Window): Unit = {
    val l = ctx.report.layers
    val chain = tr.spansNamed("pipeline.chain.mcaid").head
    val jobs = tr.jobsSince(w.startMs)
      .filter(j => j.start >= chain.start && j.end <= chain.end)
    def span(js: Seq[JobRec]) =
      if (js.isEmpty) 0.0 else (js.map(_.end).max - js.map(_.start).min) / 1000.0
    l("pipeline.chain_s.mcaid") = chain.seconds
    val stageS = mcaid.stages.map { st =>
      st.table -> span(jobs.filter(_.desc == s"chain stage: ${st.table}"))
    }
    stageS.foreach { case (t, v) => l(s"pipeline.stage_s.$t") = v }
    val promote = jobs.filter(_.desc.startsWith("chain promote:"))
    val stages = jobs.filter(_.desc.startsWith("chain stage:"))
    l("pipeline.promote_s") = span(promote)
    // the update step runs between the last stage job and the promote loop
    if (promote.nonEmpty && stages.nonEmpty) l("pipeline.update_s") =
      math.max(0L, promote.map(_.start).min - stages.map(_.end).max) / 1000.0
    l("pipeline.overlap") = stageS.map(_._2).sum / chain.seconds

    // decomposed pass over the timed chain: each stage built and QA'd
    // alone, for its self time
    val self = for (st <- AnalyticPipeline.topoOrder(mcaid.stages)) yield {
      val out = ctx.args.work.resolve("decomposed").resolve(st.table)
      val b = timed(tr, s"builds.${st.table}", mcaid.name) {
        st.build(ctx.s, ctx.args.tables.toString).write.parquet(out.toString)
      }
      // the runner's gate: row count plus whole-row distinctness (a struct
      // of every column, so rows holding nulls are compared too)
      val staged = ctx.s.read.parquet(out.toString)
      val rows = staged.select(struct(staged.columns.toIndexedSeq.map(col): _*).as("row"))
      val q = timed(tr, s"qa.${st.table}", mcaid.name) {
        ctx.report.op(s"qa ${st.table}") {
          Qa.fusedTableChecks(rows, st.table,
            Qa.TableQa(distinctKeys = Seq(Seq("row")), minRows = Some(1)))
        } { checks =>
          checks.find(!_.pass).map(c => s"${c.check} observed ${c.observed}")
        }
      }
      Log(f"decomposed ${st.table}: build $b%.1fs qa $q%.1fs")
      l(s"builds.${st.table}_s") = b
      l(s"qa.${st.table}_s") = q
      b + q
    }
    Fs.deleteTree(ctx.args.work.resolve("decomposed"))
    l("pipeline.wait_s") = stageS.map(_._2).sum - self.sum
  }

  private def timed(tr: Tracer, name: String, parent: String)(f: => Any): Double = {
    val t0 = System.nanoTime()
    tr.span(name, parent)(f)
    (System.nanoTime() - t0) / 1e9
  }
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p).toArray.map(_.asInstanceOf[Path])
    paths.reverse.foreach(Files.delete)
  }
}
