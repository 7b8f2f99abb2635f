package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{ClaimsElig, McaidCohort, Tabloop, TopCauses}
import graft.queries.{BuildQueries, CohortQueries, Q, RelationalQueries}

/** The cohort API phase: a closed loop of `cores / 2` clients, each
  * sending its next request when the previous one returns, over a seeded
  * request stream spread across the five cohort/tabulation endpoints.
  * Requests read final tables materialized once from the fixed tables;
  * every response's row count and checksum must equal the pinned value for
  * its (endpoint, params). */
object CohortApi {

  val summaryFlags = Seq("inpatient", "ipt_medsurg", "ipt_bh", "ed",
    "ed_avoid_ca", "ed_emergent_nyu", "ed_nonemergent_nyu",
    "ed_intermediate_nyu")

  /** The final tables the endpoints read. */
  class Finals(s: SparkSession, dir: String) {
    private def t(n: String) = s.read.parquet(s"$dir/$n")
    def events: DataFrame = Q.normalizeTs(t("events"))
    def eligOverall: DataFrame = t("elig_overall")
    def demoever: DataFrame = t("demoever")
    def address: DataFrame = t("address")
    def covgrp: DataFrame = t("covgrp")
    def hraRegion: DataFrame = t("hra_region")
    def claimSummary: DataFrame = t("claim_summary")
    def orders: DataFrame = t("orders")
    def claims: DataFrame = t("claims")
  }

  /** Setup: materialize the final tables from the generated inputs. */
  def materialize(s: SparkSession, in: String, out: String): Unit = {
    val (eo, de, ad, cg, hr, cs) = BuildQueries.mcaidCohortFrames(s, in)
    Seq("elig_overall" -> eo, "demoever" -> de, "address" -> ad,
      "covgrp" -> cg, "hra_region" -> hr, "claim_summary" -> cs)
      .foreach { case (n, df) => df.write.parquet(s"$out/$n") }
    Q.t(s, in, "events").write.parquet(s"$out/events")
    Q.t(s, in, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("string"))
      .withColumn("o_custbucket", (col("o_custkey") % 7).cast("string"))
      .write.parquet(s"$out/orders")
    Q.t(s, in, "lineitem")
      .join(Q.t(s, in, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Q.t(s, in, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), col("p_brand"), col("p_name"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .write.parquet(s"$out/claims")
  }

  private def optD(n: JsonNode, k: String) =
    Option(n.get(k)).filterNot(_.isNull).map(_.asDouble)
  private def optI(n: JsonNode, k: String) =
    Option(n.get(k)).filterNot(_.isNull).map(_.asInt)
  private def optS(n: JsonNode, k: String) =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText)
  private def strs(n: JsonNode): Seq[String] =
    n.elements.asScala.map(_.asText).toSeq

  def cohortParams(p: JsonNode): McaidCohort.CohortParams =
    McaidCohort.CohortParams(fromDate = p.get("from").asText,
      toDate = p.get("to").asText, covMin = p.get("cov_min").asDouble,
      ccovMin = p.get("ccov_min").asInt, covgapMax = optI(p, "covgap_max"),
      dualMax = p.get("dual_max").asDouble, ageMin = p.get("age_min").asInt,
      ageMax = p.get("age_max").asInt, zip = optS(p, "zip"),
      region = optS(p, "region"))

  def claimsElig(f: Finals, p: ClaimsElig.EligParams): DataFrame =
    ClaimsElig.cohort(f.events, p)

  def mcaidCohort(f: Finals, p: McaidCohort.CohortParams): DataFrame =
    McaidCohort.cohort(f.eligOverall, f.demoever, f.address, f.covgrp,
      f.hraRegion, p)

  def claimsSummary(f: Finals, p: McaidCohort.CohortParams,
      flags: Seq[String]): DataFrame =
    McaidCohort.claimsSummary(mcaidCohort(f, p),
      McaidCohort.idsInWindow(f.eligOverall, p), f.claimSummary, flags,
      p.fromDate, p.toDate)

  def tabloop(f: Finals, fixed: String, loops: Seq[String],
      yearMin: Option[Int]): DataFrame = {
    val o = yearMin.fold(f.orders)(y => f.orders.filter(col("o_year") >= y.toString))
    Tabloop.tabloop(o, Seq(fixed), loops,
      Seq(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("amt")),
      Seq("n", "amt"))
  }

  def topCauses(f: Finals, cause: String, yr: Int, n: Int): DataFrame =
    TopCauses.topCauses(
      f.claims.filter(col("o_year") === yr)
        .select(col(cause).as("cause"), col("o_custkey")),
      "cause", "o_custkey", n)

  /** One request: the endpoint's frame for a pool entry. */
  def request(f: Finals, endpoint: String, p: JsonNode): DataFrame =
    endpoint match {
      case "claims_elig" => claimsElig(f, ClaimsElig.EligParams(
        fromDate = p.get("from").asText, toDate = p.get("to").asText,
        covMinPct = optD(p, "cov_min_pct"), covgapMaxDays = optI(p, "covgap_max"),
        modalTypes = Option(p.get("modal_types")).filterNot(_.isNull).map(strs),
        minCovDays = optI(p, "min_cov_days")))
      case "mcaid_cohort" => mcaidCohort(f, cohortParams(p))
      case "claims_summary" => claimsSummary(f, cohortParams(p), strs(p.get("flags")))
      case "tabloop" => tabloop(f, p.get("fixed").asText, strs(p.get("loops")),
        optI(p, "year_min"))
      case "top_causes" => topCauses(f, p.get("cause").asText,
        p.get("year").asInt, p.get("n").asInt)
    }

  /** The catalog's own parameter sets through the same request path,
    * against the catalog queries over the generated inputs. */
  def catalogChecks(s: SparkSession, f: Finals, in: String): Seq[(String, DataFrame, DataFrame)] = Seq(
    ("q49_claims_elig", claimsElig(f, ClaimsElig.EligParams(
      fromDate = "2024-01-05", toDate = "2024-01-25", covMinPct = Some(20.0),
      covgapMaxDays = Some(10))), CohortQueries.q49ClaimsElig(s, in)),
    ("q192_mcaid_cohort", mcaidCohort(f, BuildQueries.CohortP),
      BuildQueries.q192McaidCohort(s, in)),
    ("q193_mcaid_claims_simple", claimsSummary(f, BuildQueries.CohortP, summaryFlags),
      BuildQueries.q193McaidClaimsSimple(s, in)),
    ("q18_tabloop", tabloop(f, "o_orderstatus", Seq("o_orderpriority", "o_year"), None),
      RelationalQueries.q18Tabloop(s, in)),
    ("q62_top_causes", topCauses(f, "p_type", 1996, 10),
      BuildQueries.q62TopCauses(s, in)))

  /** Serve the request stream with `cores / 2` closed-loop clients for
    * `--seconds` (and until each endpoint has had a request), after the
    * catalog cross-checks. Runs in corpus_prep's traced and pin runs, after
    * that workload's window: it reports only `api.*` metrics, and every
    * request is an operation of the run (`attempted`, `failed`). In a pin
    * run it records the response of every pool entry instead. */
  def run(ctx: Main.Ctx): Unit = {
    val s = ctx.s
    val r = ctx.report
    val in = ctx.args.tables.toString
    val finalDir = ctx.args.work.resolve("final").toString
    val t0 = System.nanoTime()
    materialize(s, in, finalDir)
    val f = new Finals(s, finalDir)
    val pool = Json.read(ctx.args.work.resolve("pool.json"))
    val stream = Json.read(ctx.args.work.resolve("requests.json"))
      .elements.asScala.map(n => (n.get("endpoint").asText, n.get("param").asInt))
      .toIndexedSeq
    r.info("api_materialize_s") = f"${(System.nanoTime() - t0) / 1e9}%.1f"
    Log("final tables materialized")

    for ((name, ours, catalog) <- catalogChecks(s, f, in))
      r.op(s"catalog $name")(Pins.checksum(ours.collect()) -> Pins.checksum(catalog.collect())) {
        case (a, b) => if (a == b) None else Some(s"request path $a != catalog $b")
      }
    Log("catalog cross-checks done")

    if (ctx.args.pin) {
      // every pool entry, so each has a pinned response
      for (ep <- pool.fieldNames.asScala; k <- 0 until pool.get(ep).size) {
        r.op(s"pin $ep#$k")(Pins.checksum(request(f, ep, pool.get(ep).get(k)).collect())) { sum =>
          Pins.put(s"cohort.$ep.$k", sum); None
        }
      }
      return
    }

    def serve(i: Int): (String, Double, Option[Long]) = {
      val (ep, k) = stream(i % stream.size)
      s.sparkContext.setJobGroup(s"req-$i", s"request $ep", interruptOnCancel = false)
      val t0 = System.nanoTime()
      val out = r.op(s"$ep#$k") {
        val body = () => Pins.checksum(request(f, ep, pool.get(ep).get(k)).collect())
        ctx.tracer.fold(body())(_.span(s"api.$ep", req = s"req-$i")(body()))
      } { sum =>
        if (Pins.get(s"cohort.$ep.$k").contains(sum)) None
        else Some(s"response $sum, pinned ${Pins.get(s"cohort.$ep.$k").getOrElse("none")}")
      }
      (ep, (System.nanoTime() - t0) / 1e6, out.map(_.takeWhile(_ != ':').toLong))
    }

    val clients = math.max(1, ctx.cores / 2)
    val c0 = ctx.tracer.map(_.counters)
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val deadline = start + (ctx.args.seconds * 1e9).toLong
    val next = new AtomicInteger(0)
    val done = mutable.ArrayBuffer.empty[(String, Double, Option[Long])]
    // the stream comes in blocks that hold each endpoint once
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline || i < pool.size) {
          val res = serve(i)
          done.synchronized(done += res)
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - start) / 1e9
    // a failed request is timed like any other and counted in `failed`
    val all = done.toSeq
    val lat = all.map(_._2)
    Log(f"api window closes after $wallS%.1fs, ${all.size} requests")
    r.info("api_clients") = clients.toString
    r.info("api_requests") = all.size.toString
    val l = r.layers
    l("api.p50_ms") = Stats.median(lat)
    l("api.p95_ms") = Stats.quantile(lat, 0.95)
    l("api.qps") = all.size / wallS
    l("api.requests") = all.size.toDouble
    for ((ep, xs) <- all.groupBy(_._1))
      l(s"api.$ep.p50_ms") = Stats.median(xs.map(_._2))
    for (tr <- ctx.tracer; before <- c0) {
      val c = tr.counters
      val reqJobs = tr.jobsSince(startMs).count(_.group.startsWith("req-"))
      l("api.jobs_per_request") = reqJobs.toDouble / all.size
      l("api.plan_ms_per_request") = (c.analysisMs - before.analysisMs +
        c.optimizerMs - before.optimizerMs + c.planningMs - before.planningMs
        ).toDouble / all.size
    }
  }
}
