package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup}

/** corpus_prep: a closed loop with one caller, in a fresh JVM, over a
  * seeded corpus with planted truth. One operation (a pass) is the dedup phase — exact,
  * MinHash-LSH near-dup, connected components — then the decontamination
  * phase — Bloom pre-filter, exact containment on the flagged docs. Every
  * pass is checked against the planted truth. The traced run then drives
  * the cohort API (`CohortApi`). */
object CorpusPrep {

  val Threshold = 0.5 // containment threshold, as the generator's truth

  case class Pass(exactS: Double, minhashS: Double, componentsS: Double,
      bloomS: Double, containS: Double, pairs: Long, flagged: Long,
      truePositive: Long, rowsOut: Long) {
    def dedupS: Double = exactS + minhashS + componentsS
    def decontamS: Double = bloomS + containS
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Main.Ctx): Unit = {
    val s = ctx.s
    import s.implicits._
    val r = ctx.report
    val dir = ctx.args.inputs
    val truth = Json.read(dir.resolve("truth.json"))
    val nDocs = truth.get("n_docs").asLong
    val exactTruth = truth.get("exact_groups").properties.asScala
      .map(e => e.getKey.toLong -> e.getValue.asLong).toMap
    val nearTruth = truth.get("near_pairs").elements.asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
    val contamTruth = truth.get("contaminated").elements.asScala.map(_.asLong).toSet
    val docs = s.read.parquet(dir.resolve("corpus").toString)
    val probes = s.read.parquet(dir.resolve("probes.parquet").toString)
    r.info("docs") = nDocs.toString
    r.info("files") = docs.inputFiles.length.toString

    /** One pass over `docs`: both phases, each result collected. */
    def phases(docs: DataFrame, tag: String) = {
      def phase[T](n: String)(f: => T): (T, Double) = timed {
        ctx.tracer.fold(f)(_.span(s"operators.$n", parent = tag)(f))
      }
      val (exact, exactS) = phase("exact") {
        Dedup.exact(docs, "doc_id", "text").filter(col("n_copies") > 1)
          .select(col("keep_id"), col("n_copies")).as[(Long, Long)].collect()
      }
      val (pairs, minhashS) = phase("minhash") {
        Dedup.minhashNearDups(docs, "doc_id", "text")
          .select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
      }
      val (comps, componentsS) = phase("components") {
        Components.connectedComponents(pairs.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long)].collect()
      }
      // the catalog's sound composition (q210): a doc that holds >= t of
      // some probe's grams has at least ceil(t * smallest probe) maybe-hits
      val (flagged, bloomS) = phase("bloom") {
        val minP = probes.select(size(Dedup.wordGrams(col("text"), 3)).as("n"))
          .agg(min(col("n"))).as[Int].head()
        Dedup.bloomDecontaminate(docs, "doc_id", "text", probes, "text",
            shingleN = 3, mBits = 1 << 18, k = 3)
          .filter(col("n_maybe") >= math.ceil(Threshold * minP).toLong)
          .select(col("doc_id")).as[Long].collect()
      }
      val (contam, containS) = phase("containment") {
        val cand = docs.join(flagged.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
        Dedup.contamination(cand, "doc_id", "text", probes, "probe_id", "text",
            shingleN = 3, threshold = Threshold)
          .select(col("doc_id")).distinct().as[Long].collect()
      }
      (exact, pairs, comps, flagged.toSet, contam.toSet,
        Pass(exactS, minhashS, componentsS, bloomS, containS, pairs.length,
          flagged.length, flagged.count(contamTruth),
          exact.length + pairs.length + comps.length + flagged.length + contam.length))
    }

    def pass(i: Int): Option[Pass] = r.op(s"pass $i")(phases(docs, s"pass $i")) {
      case (exact, pairs, comps, flagged, contam, _) =>
      val found = pairs.toSet
      val recall = nearTruth.count(found).toDouble / math.max(1, nearTruth.size)
      val comp = comps.toMap
      if (exact.toMap != exactTruth) Some("exact-duplicate groups differ from the planted groups")
      else if (recall < 0.95) Some(f"near-dup recall $recall%.3f < 0.95")
      else if (!nearTruth.filter(found).forall { case (a, b) => comp.get(a) == comp.get(b) })
        Some("a found planted pair is split across components")
      else if (!contamTruth.subsetOf(flagged)) Some("the Bloom pre-filter dropped a contaminated doc")
      else if (contam != contamTruth)
        Some(s"contaminated set: ${contam.size} found, ${contamTruth.size} planted")
      else None
    }.map(_._6)

    // no warm-up: like the nightly build, a corpus pass is a batch job in
    // a fresh JVM, which pays codegen and JIT on every run
    val w = new Window(ctx)
    val done = mutable.ArrayBuffer.empty[Pass]
    var i = 1
    val lat = mutable.ArrayBuffer.empty[Double]
    do {
      val t0 = System.nanoTime()
      pass(i).foreach(done += _)
      lat += (System.nanoTime() - t0) / 1e6
      i += 1
    } while (w.open)
    w.close(lat.toSeq, done.map(_.rowsOut).sum)
    // the cohort API has no workload of its own (README.md, Sizing): the
    // traced run drives it here, after the window, for the api metrics
    if (ctx.tracer.isDefined || ctx.args.pin) CohortApi.run(ctx)
    if (done.nonEmpty) {
      val med = (f: Pass => Double) => Stats.median(done.map(f).toSeq)
      r.named("dedup_docs_per_s") = (nDocs / med(_.dedupS), "docs/s")
      r.named("decontam_docs_per_s") = (nDocs / med(_.decontamS), "docs/s")
      r.info("near_dup_pairs") = done.head.pairs.toString
      ctx.tracer.foreach { _ =>
        val l = r.layers
        l("operators.exact_s") = med(_.exactS)
        l("operators.minhash_s") = med(_.minhashS)
        l("operators.components_s") = med(_.componentsS)
        l("operators.near_dup_pairs") = done.head.pairs.toDouble
        l("operators.bloom_s") = med(_.bloomS)
        l("operators.containment_s") = med(_.containS)
        l("operators.bloom_flag_frac") = done.head.flagged.toDouble / nDocs
        l("operators.bloom_precision") =
          done.head.truePositive.toDouble / math.max(1L, done.head.flagged)
        l("operators.dedup_docs_per_s") = r.named("dedup_docs_per_s")._1
        l("operators.decontam_docs_per_s") = r.named("decontam_docs_per_s")._1
      }
    }
  }
}
