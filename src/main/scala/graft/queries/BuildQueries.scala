package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.TopCauses
import graft.builds.{ClaimHeader, ConditionLoop, EligDemo, EligMonth, EligTimevar, PerfMeasures}
import graft.core.Salt
import graft.core.Intervals
import graft.qa.Qa
import graft.queries.Q.t

/** Composed analytic-build catalog: QA suite, performance measures,
  * condition loop, tabulation consumers (SURVEY §2.4/§2.9, §5). */
object BuildQueries {

  /** §5 the QA assertion framework run as a suite: key distinctness,
    * referential integrity (anti-joins), domain invariants, monotonic row
    * counts — the reference's qa_stage checks as one result frame. */
  def q59QaSuite(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val customer = t(s, dir, "customer")
    val nation = t(s, dir, "nation")
    val part = t(s, dir, "part")
    Qa.suite(s,
      // row-local checks fuse to ONE scan per table (Qa.fusedTableChecks);
      // referential integrity stays per-pair anti-joins
      Qa.fusedTableChecks(orders, "orders", Qa.TableQa(
        distinctKeys = Seq(Seq("o_orderkey")),
        nullAtMost = Seq("o_orderdate" -> 0L))) ++
      Qa.fusedTableChecks(lineitem, "lineitem", Qa.TableQa(
        violations = Seq("neg_quantity" -> (col("l_quantity") < 0)),
        minRows = Some(1000L))) ++
      Qa.fusedTableChecks(part, "part", Qa.TableQa(
        distinctKeys = Seq(Seq("p_partkey")))) ++
      Seq(
        Qa.refIntegrity(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem"),
        Qa.refIntegrity(orders, "o_custkey", customer, "c_custkey", "orders"),
        Qa.refIntegrity(customer, "c_nationkey", nation, "n_nationkey", "customer"),
        // prior-load comparison (the loadGate shape, deterministic here:
        // the "prior load" is the pre-1998 archive slice of orders, the
        // "current load" the full table — current must not shrink)
        Qa.rowCountAtLeast(orders, "orders_vs_prior_load",
          orders.filter(year(to_date(col("o_orderdate"))) < 1998).count())))
      .orderBy(col("table"), col("check"))
  }

  /** §2.4/§2.9 per-measure dispatch over the rolling enroll-denominator
    * staging (sp_perf_measures + sp_mcaid_perf_enroll_denom). */
  def q60PerfMeasures(s: SparkSession, dir: String): DataFrame =
    PerfMeasures.run(t(s, dir, "orders"), "1996-01-01", "1996-12-01",
        rollingMonths = 3, denomMinMonths = 2)
      .orderBy(col("measure"), col("ym"))

  /** §2.9 config-driven condition loop (CCW 1-claim/2-claim rules),
    * rolled up per condition. */
  def q61ConditionLoop(s: SparkSession, dir: String): DataFrame =
    ConditionLoop.build(t(s, dir, "orders"))
      .groupBy(col("condition"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_claims")).as("total_claims"),
        min(col("first_date")).as("first_any"),
        max(col("last_date")).as("last_any"))
      .orderBy(col("condition"))

  /** top_causes.R consumer: top-10 causes by claim count in a year window
    * with distinct-person counts and small-cell suppression. */
  def q62TopCauses(s: SparkSession, dir: String): DataFrame = {
    val claims = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(year(col("o_orderdate")) === 1996)
      .select(col("p_type").as("cause"), col("o_custkey"))
    TopCauses.topCauses(claims, "cause", "o_custkey", n = 10)
  }

  /** §7.2 phase 2: the elig_timevar 5-step build end-to-end — person-month
    * staging, sub-month trim, attribute islands, collapse, cov_time_day +
    * contiguous flags. The full interval table is the query result. */
  def q64EligTimevar(s: SparkSession, dir: String): DataFrame =
    EligTimevar.build(t(s, dir, "events"))
      .orderBy(col("user_id"), col("from_date"))

  /** §7.2 phase 3: the distilled claim_header multi-step build — line flag
    * rollups, EXCEPT membership, primary-line pick, per-person episodes. */
  def q66ClaimHeader(s: SparkSession, dir: String): DataFrame =
    ClaimHeader.build(t(s, dir, "orders"), t(s, dir, "lineitem"))
      .orderBy(col("o_orderkey"))

  /** §7.2 phase 4: the distilled elig_demo person-level demographics build
    * — ever flags, percent-of-period vars, modal with latest-period
    * tie-break, most-recent pick. */
  def q67EligDemo(s: SparkSession, dir: String): DataFrame =
    EligDemo.build(t(s, dir, "events")).orderBy(col("user_id"))

  /** §1.1 person-month densification (elig_month): customer order-activity
    * intervals (30-day continuity) exploded onto the month grid with
    * covered-days and full-month flags, rolled up per month. */
  def q68EligMonth(s: SparkSession, dir: String): DataFrame =
    EligMonth.build(
        t(s, dir, "orders").select(col("o_custkey"),
          to_date(col("o_orderdate")).as("d")),
        "o_custkey", "d", maxGapDays = 30)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("cov_days")).as("cov_days"),
        sum(when(col("full_month"), 1).otherwise(0)).as("n_full_months"))
      .orderBy(col("month"))

  /** §2.9 pregnancy-episode placement shared by q84/q89/q90: lb/sb/deliv
    * endpoint days synthesized from orders (dates span 7 years, dense
    * enough that the sb/deliv classes are mostly conflict-blocked by
    * placed lb endpoints, exercising both filter branches), then the
    * per-class greedy WHILE-loop admission + per-class episode ranks.
    * UNSORTED — the global orderBy lives only in q84's own result, so
    * downstream compositions don't inherit a range exchange their windows
    * immediately destroy. */
  private def pregPlaced(s: SparkSession, dir: String): DataFrame =
    graft.builds.PregEpisode.build(
      t(s, dir, "orders").select(
        (col("o_custkey") % 100).as("id_person"),
        to_date(col("o_orderdate")).as("endpoint_date"),
        when(col("o_orderkey") % 7 <= 2, "lb")
          .when(col("o_orderkey") % 7 <= 4, "sb")
          .otherwise("deliv").as("cls")),
      "id_person", "endpoint_date", "cls")

  def q84PregEpisode(s: SparkSession, dir: String): DataFrame =
    pregPlaced(s, dir)
      .orderBy(col("id_person"), col("preg_endpoint"), col("preg_episode_id"))

  /** §7.5.5 multi-source union harmonization (q85): three synthesized
    * source frames with real schema drift — carrier (no drg_code, planted
    * duplicate rows), dme (no drg_code/status, INT person ids needing
    * widening), inpatient (all columns) — normalized to one declared
    * schema, unioned via unionByName(allowMissingColumns), DISTINCTed,
    * rolled up per (filetype, status) so any mis-cast, lost NULL-fill, or
    * surviving duplicate moves an aggregate. */
  def q85MultiSourceUnion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val target = StructType(Seq(
      StructField("id_person", LongType), StructField("claim_id", LongType),
      StructField("svc_date", DateType),
      StructField("charge", DecimalType(12, 2)),
      StructField("drg_code", StringType), StructField("status", StringType)))
    val orders = t(s, dir, "orders")
    val carrier = orders.filter(col("o_orderkey") % 3 === 0)
      .unionAll(orders.filter(col("o_orderkey") % 6 === 0)) // planted dups
      .select(col("o_custkey").as("id_person"),
        col("o_orderkey").as("claim_id"),
        to_date(col("o_orderdate")).as("svc_date"),
        col("o_totalprice").as("charge"),
        col("o_orderstatus").as("status"))
    val dme = t(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 0)
      .select(col("l_suppkey").cast("int").as("id_person"), // int -> widened
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("svc_date"),
        col("l_extendedprice").as("charge"))
    val inpatient = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_custkey").as("id_person"),
        col("o_orderkey").as("claim_id"),
        to_date(col("o_orderdate")).as("svc_date"),
        col("o_totalprice").as("charge"),
        concat(lit("DRG"), lpad((col("o_orderkey") % 77).cast("string"), 2, "0"))
          .as("drg_code"),
        col("o_orderstatus").as("status"))
    graft.builds.MultiSourceUnion.build(target,
        Seq("carrier" -> carrier, "dme" -> dme, "inpatient" -> inpatient))
      .groupBy(col("filetype"), col("status"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("id_person")).as("n_persons"),
        round(sum(col("charge")).cast("double"), 2).as("total_charge"),
        count(col("drg_code")).as("n_drg"),
        min(col("svc_date")).as("min_date"),
        max(col("svc_date")).as("max_date"))
      .orderBy(col("filetype"), col("status"))
  }

  /** §2.7-inside-§2.9 FUA index-visit measure (q87): the reference's
    * fn_perf_fua_ed_index_visit set algebra — qualifying-dx claims
    * INTERSECT (ED-by-revenue UNION ED-by-procedure), window + exact-
    * anniversary age filter — fed into the PerfMeasures dispatch as a
    * monthly extra fact alongside the default measures. */
  def q87FuaMeasure(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .withColumn("svc_date", to_date(col("o_orderdate")))
    val dx = orders.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_custkey").as("id_person"),
        col("o_orderkey").as("claim_id"), col("svc_date"))
    val li = t(s, dir, "lineitem").join(
      orders.select(col("o_orderkey"), col("o_custkey"), col("svc_date")),
      col("l_orderkey") === col("o_orderkey"))
    val rev = li.filter(col("l_returnflag") === "R")
      .select(col("o_custkey").as("id_person"),
        col("l_orderkey").as("claim_id"), col("svc_date"))
    val proc = li.filter(col("l_quantity") >= 45)
      .select(col("o_custkey").as("id_person"),
        col("l_orderkey").as("claim_id"), col("svc_date"))
    val demo = t(s, dir, "customer").select(
      col("c_custkey").as("id_person"),
      date_add(to_date(lit("1930-01-01")),
        ((col("c_custkey") * 97) % 17000).cast("int")).as("dob"))
    val idx = graft.builds.FuaMeasure.indexVisits(dx, rev, proc, demo,
      "1996-01-01", "1996-12-31", minAge = 18)
    val idxMonthly = idx
      .groupBy(col("id_person").as("o_custkey"),
        to_date(date_trunc("MONTH", col("svc_date"))).as("month"))
      .agg(countDistinct(col("claim_id")).as("n_index"))
    PerfMeasures.run(orders, "1996-01-01", "1996-12-01",
        rollingMonths = 3, denomMinMonths = 2,
        measures = PerfMeasures.defaultMeasures :+
          PerfMeasures.MeasureDef("fua_index",
            (col("n_index") > 0).cast("int")),
        extraFacts = Seq(idxMonthly -> Seq("n_index")))
      .orderBy(col("measure"), col("ym"))
  }

  /** §2.9 full 7-class pregnancy hierarchy (q91): every class of the
    * reference's STEP 5A-5G placed on one timeline — all six conflict-
    * window matrix rows and all three greedy gaps (182/168/56/42) under
    * the oracle hash, not just the spec. */
  /** Shared q91/q299 7-class endpoint fixture. */
  private[queries] def preg7Endpoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      (col("o_custkey") % 60).as("id_person"),
      to_date(col("o_orderdate")).as("endpoint_date"),
      when(col("o_orderkey") % 17 <= 2, "lb")
        .when(col("o_orderkey") % 17 <= 5, "sb")
        .when(col("o_orderkey") % 17 <= 8, "deliv")
        .when(col("o_orderkey") % 17 <= 10, "tro")
        .when(col("o_orderkey") % 17 <= 12, "ect")
        .when(col("o_orderkey") % 17 <= 14, "ab")
        .otherwise("sa").as("cls"))

  def q91PregFull(s: SparkSession, dir: String): DataFrame =
    graft.builds.PregEpisode.build(preg7Endpoints(s, dir),
      "id_person", "endpoint_date", "cls")
      .orderBy(col("id_person"), col("preg_endpoint"), col("preg_episode_id"))

  /** §7.2 APCD elig_timevar 4-step variant (q93): presence-combination
    * coverage groups per family, empirical dual flag, month-arithmetic
    * islands per (person, zip, covgrps, dual), collapse with cov_time_day,
    * and the contiguous-with-prior flag. Flags flip every 6 months and zip
    * every 24 so islands collapse multi-month runs and still break. */
  def q93EligTimevarApcd(s: SparkSession, dir: String): DataFrame = {
    val pm = t(s, dir, "orders").select(
      (col("o_custkey") % 40).as("id_person"),
      (year(to_date(col("o_orderdate"))) * 100 +
        month(to_date(col("o_orderdate")))).as("year_month"))
      .distinct()
    val mi = (col("year_month") / 100).cast("int") * 12 +
      col("year_month") % 100
    val q = col("id_person") + (mi / 6).cast("int")
    def mk(cond: org.apache.spark.sql.Column) = when(cond, lit("x"))
    val det = pm.select(col("id_person"), col("year_month"),
      concat(lit("Z"), ((col("id_person") + (mi / 24).cast("int")) % 5)
        .cast("string")).as("zip_code"),
      mk(q % 3 === 0).as("med_mcaid_id"),
      mk(q % 4 === 0).as("med_comm_id"),
      mk(q % 5 === 0).as("med_mcare_id"),
      mk(q % 2 === 0).as("med_any_id"),
      mk(q % 3 === 1).as("rx_mcaid_id"),
      mk(q % 4 === 1).as("rx_comm_id"),
      mk(q % 5 === 1).as("rx_mcare_id"),
      mk(q % 2 === 1).as("rx_any_id"),
      mk(q % 6 === 0).as("dental_mcaid_id"),
      mk(q % 7 === 0).as("dental_comm_id"),
      mk(q % 8 === 0).as("dental_mcare_id"),
      mk(lit(false)).as("dental_any_id"))
    graft.builds.EligTimevarApcd.build(det)
      .orderBy(col("id_person"), col("from_date"))
  }

  /** §2.9 MOUD treatment-event build (q92): code-set dispatch, H0033
    * monthly-context disambiguation (proc + rx evidence), and the next-
    * service-date methadone days-supply with quarter-median fallbacks —
    * rolled up per (person, quarter). */
  /** Shared q92/q297 MOUD person-day frame (the methDaysSupply output
    * the quarter rollup and the QA battery both read) — factored so the
    * build fixture and its battery cannot drift. */
  private[queries] def moudDayFrame(s: SparkSession, dir: String): DataFrame = {
    val codes = Seq("H0033", "H0020", "S0109", "G2078", "G2067", "J0571",
      "J0572", "J0573", "Q9991", "G2068", "G2073", "J2315", "G2074",
      "G2075", "G2086")
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") % 80).as("id_person"),
        to_date(col("l_shipdate")).as("ship_d"),
        col("l_partkey"), col("l_suppkey"))
    val code = codes.zipWithIndex.foldLeft(lit("OTH")) { case (acc, (c, i)) =>
      when(col("l_partkey") % 24 === i, c).otherwise(acc)
    }
    val proc = li.select(col("id_person"), col("ship_d").as("service_date"),
      code.as("procedure_code")).distinct()
    val rx = t(s, dir, "orders").filter(col("o_orderkey") % 6 === 0)
      .select((col("o_custkey") % 80).as("id_person"),
        to_date(col("o_orderdate")).as("service_date"),
        lit(1).as("bup_rx_flag")).distinct()
    val resolved = graft.builds.ClaimMoud.disambiguateH0033(
      graft.builds.ClaimMoud.flagEvents(proc), rx)
    val daily = resolved.groupBy(col("id_person"), col("service_date"))
      .agg(max(col("meth_proc_flag")).as("meth_proc_flag"),
        max(col("bup_proc_flag")).as("bup_proc_flag"),
        max(col("nal_proc_flag")).as("nal_proc_flag"),
        max(col("unspec_proc_flag")).as("unspec_proc_flag"),
        sum(col("moud_days_supply")).as("moud_days_supply"))
    graft.builds.ClaimMoud.methDaysSupply(daily)
  }

  def q92ClaimMoud(s: SparkSession, dir: String): DataFrame = {
    moudDayFrame(s, dir)
      .groupBy(col("id_person"), col("service_quarter"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("meth_proc_flag")).as("meth_days"),
        sum(col("bup_proc_flag")).as("bup_days"),
        sum(col("nal_proc_flag")).as("nal_days"),
        sum(col("next_meth_diff")).as("sum_next_diff"),
        round(sum(col("moud_days_supply_new")), 2).as("supply_new"))
      .orderBy(col("id_person"), col("service_quarter"))
  }

  /** §2.9 pregnancy prenatal windows (q89): q84's placed timeline enriched
    * with per-person episode seq, default-gestation start date clipped to
    * the prior endpoint + buffer, and the plausible-start bounds
    * (STEP 6-7 of the reference build). */
  def q89PregWindows(s: SparkSession, dir: String): DataFrame =
    graft.builds.PregEpisode.withPrenatalWindows(
        pregPlaced(s, dir))
      .select(col("id_person"), col("preg_endpoint"), col("preg_episode_seq"),
        col("preg_start_date"), col("preg_end_date"),
        col("preg_start_date_max"), col("preg_start_date_min"))
      .orderBy(col("id_person"), col("preg_episode_seq"))

  /** §2.9 gestational-age correction (q90): STEP 8A over q89's episodes —
    * anchor procedures inside the prenatal window correct the start date
    * (closest-to-end wins), yielding ga_weeks and the 22/20-week validity
    * and 37-week ftb/ptb classification flags. */
  def q90PregGaCorrect(s: SparkSession, dir: String): DataFrame = {
    val episodes = graft.builds.PregEpisode.withPrenatalWindows(
      pregPlaced(s, dir))
    val procs = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") % 100).as("id_person"),
        to_date(col("l_shipdate")).as("procedure_date"),
        when(col("l_partkey") % 13 === 0, "58321")
          .when(col("l_partkey") % 13 === 1, "S4035")
          .otherwise("OTHER").as("procedure_code"))
    graft.builds.PregEpisode.gaCorrection(episodes, procs,
        Seq("58321", "58322", "S4035", "58974", "58976", "S4037"))
      .select(col("id_person"), col("preg_endpoint"), col("preg_episode_seq"),
        col("preg_start_date_correct"), col("ga_weeks"),
        col("valid_start_date"), col("valid_ga"), col("lb_type"))
      .orderBy(col("id_person"), col("preg_episode_seq"))
  }

  /** §5 table profiler (q88): the sp_profile_table / sp_min_max_value
    * analog — per-column min/max/null-count/distinct-count in ONE fused
    * scan (the reference runs one full-table scan per column per
    * statistic). Exact-distinct mode here so DuckDB can replicate; the
    * approx (HLL) default is the 100-TB path, pinned by QaSpec. */
  def q88TableProfile(s: SparkSession, dir: String): DataFrame = {
    val typed = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"),
      to_date(col("o_orderdate")).as("o_orderdate"),
      col("o_orderpriority"),
      when(col("o_orderkey") % 3 === 0, col("o_orderstatus")).as("o_flag"))
    graft.qa.TableProfile.profile(typed, "stage.orders",
        exactDistinct = true)
      .orderBy(col("ordinal_position"))
  }

  /** §5 distinct-values profile (q94): the sp_comma_separated_list analog
    * — sorted distinct values per categorical column in one pass, with the
    * cardinality cap kicking in on the high-cardinality column. */
  def q94ValueList(s: SparkSession, dir: String): DataFrame =
    graft.qa.TableProfile.valueList(t(s, dir, "orders"), "stage.orders",
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"),
        maxValues = 10)
      .orderBy(col("ordinal_position"))

  /** §7.5.5 mcare claim_header payment harmonization (q95): each source
    * file computes the shared payment columns with ITS OWN arithmetic
    * (load_stage.mcare_claim_header.R:106-119 — carrier derives
    * paid_insurance/bene/cost from five component amounts; facility files
    * differently), applies its own denial filter (:121 pmt_dnl_cd), and
    * the union harmonizes. All arithmetic stays in decimal(12,2) +/- so
    * both engines agree bit-for-bit. */
  def q95PaymentUnion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
    val target = StructType(Seq(
      StructField("id_person", LongType), StructField("claim_id", LongType),
      StructField("svc_date", DateType),
      StructField("submitted_charges", DecimalType(12, 2)),
      StructField("total_paid_payer", DecimalType(12, 2)),
      StructField("total_paid_bene", DecimalType(12, 2)),
      StructField("total_cost_of_care", DecimalType(12, 2)),
      StructField("drg_code", StringType)))
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    val carrier = li.filter(col("l_orderkey") % 3 === 0)
      .filter(col("l_linenumber") % 7 =!= 0) // denial-code exclusion
      .select(col("o_custkey").as("id_person"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("svc_date"),
        dec(col("l_extendedprice")).as("submitted_charges"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")) * 3)
          .as("total_paid_payer"),
        (dec(col("l_quantity")) * 2).as("total_paid_bene"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")))
          .as("total_cost_of_care"))
    val dme = li.filter(col("l_orderkey") % 3 === 1)
      .select(col("o_custkey").as("id_person"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("svc_date"),
        dec(col("l_extendedprice")).as("submitted_charges"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")))
          .as("total_paid_payer"),
        // no bene column at all in this source
        (dec(col("l_extendedprice")) - dec(col("l_quantity")))
          .as("total_cost_of_care"))
    val inpatient = t(s, dir, "orders").filter(col("o_orderkey") % 5 === 0)
      .select(col("o_custkey").as("id_person"),
        col("o_orderkey").as("claim_id"),
        to_date(col("o_orderdate")).as("svc_date"),
        dec(col("o_totalprice")).as("submitted_charges"),
        (dec(col("o_totalprice")) - dec(lit(250))).as("total_paid_payer"),
        dec(lit(250)).as("total_paid_bene"),
        dec(col("o_totalprice")).as("total_cost_of_care"),
        concat(lit("DRG"), (col("o_orderkey") % 30).cast("string"))
          .as("drg_code"))
    graft.builds.MultiSourceUnion.build(target,
        Seq("carrier" -> carrier, "dme" -> dme, "inpatient" -> inpatient))
      .groupBy(col("filetype"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("submitted_charges")).cast("double"), 2).as("submitted"),
        round(sum(col("total_paid_payer")).cast("double"), 2).as("paid_payer"),
        round(sum(col("total_paid_bene")).cast("double"), 2).as("paid_bene"),
        round(sum(col("total_cost_of_care")).cast("double"), 2).as("cost"),
        count(col("drg_code")).as("n_drg"))
      .orderBy(col("filetype"))
  }

  /** §2.9 FUH follow-up-after-hospitalization measure (q96): the full
    * v_perf_fuh_* + sp_perf_fuh_join_step chain — MI/MHD acute index stays
    * by value-set algebra, chained-discharge collapse to the last
    * discharge, readmission/direct-transfer exclusion, and the 7/30-day
    * follow-up indicators with the TCM-14 30-day-only idiosyncrasy.
    * Persons are folded (custkey % 120) so discharges chain and follow-up
    * visits actually land inside the windows. */
  def q96FuhMeasure(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val header = orders.select(col("o_orderkey").as("claim_id"),
      to_date(col("o_orderdate")).as("admit_date"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 5).cast("int")).as("discharge_date"),
      to_date(col("o_orderdate")).as("first_service_date"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 5).cast("int")).as("last_service_date"))
    val claims = orders.select((col("o_custkey") % 120).as("id_person"),
      col("o_orderkey").as("claim_id"))
    val miDx = claims.filter(col("claim_id") % 5 === 0)
    val mhdDx = claims.filter(col("claim_id") % 3 === 0)
    val inpatient = claims.filter(col("claim_id") % 2 === 0)
    val nonacute = claims.filter(col("claim_id") % 7 === 0)
    val demo = orders.select((col("o_custkey") % 120).as("id_person"))
      .distinct()
      .withColumn("dob", date_add(to_date(lit("1940-01-01")),
        ((col("id_person") * 89) % 15000).cast("int")))
    val li = t(s, dir, "lineitem")
      .join(orders.select(col("o_orderkey"),
        (col("o_custkey") % 120).as("id_person")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("id_person"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("service_date"),
        col("l_returnflag"), col("l_quantity"), col("l_linenumber"))
    def visits(c: org.apache.spark.sql.Column) = li.filter(c)
      .select(col("id_person"), col("claim_id"), col("service_date"))
    val standalone = visits(col("l_returnflag") === "R")
    val g1 = visits(col("l_quantity") >= 40)
      .intersect(visits(col("l_linenumber") % 2 === 0))
    val tcm14 = visits(col("l_quantity") < 5)
    val fu = graft.builds.FuhMeasure.followUpVisits(
      Seq(standalone, g1), Seq(tcm14))
    val idx = graft.builds.FuhMeasure.indexStays(
      miDx, mhdDx, inpatient, nonacute, demo, header)
    val re = graft.builds.FuhMeasure.readmitStays(
      mhdDx, inpatient, nonacute, header)
    graft.builds.FuhMeasure.joinStep(idx, re, fu,
        "1996-01-01", "1996-12-31")
      .select(col("ym"), col("id_person"), col("age"), col("claim_id"),
        col("admit_date"), col("discharge_date"),
        col("inpatient_index_stay"), col("inpatient_within_30_day"),
        col("need_1_month_coverage"), col("follow_up_7_day"),
        col("follow_up_30_day"))
      .orderBy(col("id_person"), col("claim_id"))
  }

  /** §2.9 PCR plan-all-cause-readmissions join step (q97): acute stays
    * within 1 day stitched into direct-transfer episodes (the island
    * kernel), episode-level exclusions (death, same-day, pregnancy over
    * the whole episode, planned on the first stay), then the 30-day
    * readmission self-join keeping the first subsequent episode. Persons
    * folded (custkey % 90) so transfer chains and readmissions occur. */
  def q97PcrReadmit(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val claims = orders.select((col("o_custkey") % 90).as("id_person"),
      col("o_orderkey").as("claim_id"))
    val stays = orders.filter(col("o_orderkey") % 2 === 0).select(
      (col("o_custkey") % 90).as("id_person"),
      col("o_orderkey").as("claim_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 9).cast("int")).as("last_service_date"),
      when(col("o_orderkey") % 37 === 0, "20").otherwise("10")
        .as("patient_status"),
      concat(lit("DX"), (col("o_orderkey") % 50).cast("string"))
        .as("primary_diagnosis"))
    def vs(m: Int) = claims.filter(col("claim_id") % m === 0)
    val inp = vs(2)
    val preg = graft.builds.PcrMeasure.pregnancyExclusion(inp, vs(13), vs(19))
    val planned = graft.builds.PcrMeasure.plannedExclusion(inp,
      Seq(vs(17), vs(23)), vs(29), vs(31), vs(19))
    graft.builds.PcrMeasure.joinStep(
        graft.builds.PcrMeasure.directTransfer(stays), preg, planned)
      .orderBy(col("id_person"), col("episode_first_service_date"),
        col("episode_id"))
  }

  /** §7.5.5 composed mcare claim_header build (q98): the full
    * load_stage.mcare_claim_header.R assembly — three drifted sources with
    * per-source payment arithmetic + denial filters, eligibility-existence
    * filter, broadcast claim-type crosswalk, claim-window admission/
    * discharge + dedup (the inpatient source is line-grain with varying
    * admission dates, so the window+distinct collapse does real work),
    * line/procedure/diagnosis rollups, and the claim-type-gated ED flags.
    * Line-grain claim ids are ok*10+ln (ln in 1..7); order-grain ids are
    * ok*10 — the id spaces cannot collide. */
  def q98McareClaimHeader(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import s.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
    val target = StructType(Seq(
      StructField("id_person", LongType), StructField("claim_id", LongType),
      StructField("first_service_date", DateType),
      StructField("last_service_date", DateType),
      StructField("claim_type_src", StringType),
      StructField("patient_status_code", StringType),
      StructField("admission_date", DateType),
      StructField("discharge_date", DateType),
      StructField("drg_code", StringType),
      StructField("submitted_charges", DecimalType(12, 2)),
      StructField("total_paid_payer", DecimalType(12, 2)),
      StructField("total_paid_bene", DecimalType(12, 2)),
      StructField("total_cost_of_care", DecimalType(12, 2))))
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    val pid = (col("o_custkey") % 150).as("id_person")
    val carrier = li.filter(col("l_orderkey") % 3 === 0 &&
        col("l_linenumber") % 7 =!= 0)
      .select(pid,
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("first_service_date"),
        date_add(to_date(col("l_shipdate")), 2).as("last_service_date"),
        lit("71").as("claim_type_src"),
        dec(col("l_extendedprice")).as("submitted_charges"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")) * 3)
          .as("total_paid_payer"),
        (dec(col("l_quantity")) * 2).as("total_paid_bene"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")))
          .as("total_cost_of_care"))
    val dme = li.filter(col("l_orderkey") % 3 === 1)
      .select(pid,
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("first_service_date"),
        to_date(col("l_shipdate")).as("last_service_date"),
        lit("82").as("claim_type_src"),
        dec(col("l_extendedprice")).as("submitted_charges"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")))
          .as("total_paid_payer"),
        (dec(col("l_extendedprice")) - dec(col("l_quantity")))
          .as("total_cost_of_care"))
    val inpatient = li.filter(col("o_orderkey") % 5 === 0)
      .select(pid, (col("o_orderkey") * 10).as("claim_id"),
        to_date(col("o_orderdate")).as("first_service_date"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 6).cast("int")).as("last_service_date"),
        lit("60").as("claim_type_src"),
        when(col("o_orderkey") % 23 === 0, "20").otherwise("30")
          .as("patient_status_code"),
        date_sub(to_date(col("o_orderdate")),
          (col("l_linenumber") % 4).cast("int")).as("admission_date"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 6).cast("int")).as("discharge_date"),
        concat(lit("DRG"), (col("o_orderkey") % 40).cast("string"))
          .as("drg_code"),
        dec(col("o_totalprice")).as("submitted_charges"),
        (dec(col("o_totalprice")) - dec(lit(300))).as("total_paid_payer"),
        dec(lit(300)).as("total_paid_bene"),
        dec(col("o_totalprice")).as("total_cost_of_care"))
    val elig = t(s, dir, "customer")
      .select((col("c_custkey") % 150).as("id_person")).distinct()
      .filter(col("id_person") % 4 =!= 3)
    val xwalk = Seq(("71", 5), ("82", 4), ("60", 1))
      .toDF("claim_type_src", "claim_type_id")
    val lineGrain = li.filter(col("l_orderkey") % 3 <= 1)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        col("l_partkey"), col("l_linenumber"))
    val orderGrain = li.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") * 10).as("claim_id"), col("l_partkey"),
        col("l_linenumber"))
    val lineSrc = lineGrain.unionAll(orderGrain)
    val lines = lineSrc.select(col("claim_id"),
      when(col("l_partkey") % 9 === 0, "23").otherwise("11").as("pos_code"),
      when(col("l_partkey") % 11 === 0, "0450")
        .when(col("l_partkey") % 11 === 1, "0981")
        .when(col("l_partkey") % 11 === 2, "0456")
        .otherwise("0300").as("rev_code"))
    val procs = lineSrc.select(col("claim_id"),
      when(col("l_partkey") % 13 === 0, "99281")
        .when(col("l_partkey") % 13 === 1, "99285")
        .when(col("l_partkey") % 13 === 2, "99291")
        .when(col("l_partkey") % 13 === 3, "99288")
        .otherwise("10120").as("procedure_code"))
    val dxf = lineSrc.select(col("claim_id"),
      when(col("l_linenumber") === 1, "01").otherwise("02")
        .as("icdcm_number"),
      concat(lit("F"), lpad((col("l_partkey") % 90).cast("string"), 2, "0"))
        .as("icdcm_norm"))
    graft.builds.McareClaimHeader.build(target,
        Seq("carrier" -> carrier, "dme" -> dme, "inpatient" -> inpatient),
        elig, xwalk, lines, procs, dxf)
      .groupBy(col("filetype"), col("claim_type_id"))
      .agg(count(lit(1)).as("n_claims"),
        countDistinct(col("id_person")).as("n_persons"),
        sum(col("inpatient_flag")).as("n_inpatient"),
        sum(col("ed_perform")).as("n_ed_perform"),
        sum(col("ed_yale_carrier")).as("n_yale_carrier"),
        sum(col("ed_yale_opt")).as("n_yale_opt"),
        sum(col("ed_yale_ipt")).as("n_yale_ipt"),
        count(col("primary_diagnosis")).as("n_primary_dx"),
        min(col("admission_date")).as("min_admit"),
        max(col("discharge_date")).as("max_discharge"),
        round(sum(col("submitted_charges")).cast("double"), 2)
          .as("submitted"),
        round(sum(col("total_paid_payer")).cast("double"), 2)
          .as("paid_payer"),
        round(sum(col("total_paid_bene")).cast("double"), 2).as("paid_bene"),
        round(sum(col("total_cost_of_care")).cast("double"), 2).as("cost"))
      .orderBy(col("filetype"))
  }

  /** R-package surface: generic elig_timevar_collapse (q99) — collapse a
    * person-month timevar over a caller-chosen attribute subset (plan
    * survives, zip is collapsed over), with the ids restriction and the
    * cov_time_day recompute. Plan flips every 3 months and zip every 2,
    * so collapsing over plan merges real multi-month runs that the
    * full-attribute table keeps split. */
  def q99TimevarCollapse(s: SparkSession, dir: String): DataFrame = {
    val pm = t(s, dir, "orders").select(
        (col("o_custkey") % 50).as("id_person"),
        to_date(date_trunc("MONTH", col("o_orderdate"))).as("from_date"))
      .distinct()
    val mi = year(col("from_date")) * 12 + month(col("from_date"))
    val det = pm.select(col("id_person"), col("from_date"),
      last_day(col("from_date")).as("to_date"),
      concat(lit("P"), ((col("id_person") + floor(mi / 3)) % 3)
        .cast("string")).as("plan"),
      concat(lit("Z"), ((col("id_person") + floor(mi / 2)) % 4)
        .cast("string")).as("zip"))
    Intervals.collapseTimevar(det, "id_person", "from_date", "to_date",
        vars = Seq("plan"), ids = Some((0L to 34L).toSeq))
      .orderBy(col("id_person"), col("from_date"), col("plan"))
  }

  /** §2.9 hospice member-month denominator exclusion (q100): the
    * v_mcaid_perf_hospice_member_month 3-source union (header tob, line
    * rev, procedure code) distinct'ed to member-months, wired into the
    * PerfMeasures enroll denominator so hospice months drop out of every
    * measure's denominator AND numerator gate. */
  def q100HospiceDenom(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val hdr = orders.select(col("o_custkey").as("id_person"),
      to_date(col("o_orderdate")).as("svc_date"),
      lpad((col("o_orderkey") % 120).cast("string"), 3, "0").as("code"))
    val li = t(s, dir, "lineitem").join(
      orders.select(col("o_orderkey"), col("o_custkey")),
      col("l_orderkey") === col("o_orderkey"))
    val line = li.select(col("o_custkey").as("id_person"),
      to_date(col("l_shipdate")).as("svc_date"),
      lpad((col("l_suppkey") % 200).cast("string"), 4, "0").as("code"))
    val proc = li.select(col("o_custkey").as("id_person"),
      date_add(to_date(col("l_shipdate")), 3).as("svc_date"),
      concat(lit("T"), (col("l_partkey") % 300).cast("string")).as("code"))
    val hospice = graft.builds.HospiceMemberMonth.build(hdr, line, proc,
      hospiceTob = Seq("081", "082"), hospiceRev = Seq("0115", "0125"),
      hospiceProc = Seq("T42", "T43"))
    PerfMeasures.run(orders, "1996-01-01", "1996-12-01",
        rollingMonths = 3, denomMinMonths = 2,
        denomExclusion = Some(hospice.select(
          col("id_person").as("o_custkey"), col("month"))))
      .orderBy(col("measure"), col("ym"))
  }

  /** §2.9 enroll-provider plan attribution (q101): per measurement month,
    * each member attributes to the plan (MCO or FFS) with the most
    * trailing-12-month coverage, current-month enrollment then plan name
    * breaking ties — sp_mcaid_perf_enroll_provider's cross-join grid +
    * trailing window + tie-break pick. Plans flip every 4 months so
    * attribution actually switches. */
  def q101EnrollProvider(s: SparkSession, dir: String): DataFrame = {
    val mon = to_date(date_trunc("MONTH", col("o_orderdate")))
    val mi = year(mon) * 12 + month(mon)
    val mm = t(s, dir, "orders").select(
      (col("o_custkey") % 60).as("id_person"),
      mon.as("month"),
      when(col("o_orderkey") % 4 === 0, "FFS")
        .otherwise(concat(lit("MCO"),
          ((col("o_custkey") + floor(mi / 4)) % 3).cast("string")))
        .as("mco_or_ffs"))
    graft.builds.EnrollProvider.build(mm, "1996-01-01", "1996-12-01",
        windowMonths = 12)
      .orderBy(col("year_month"), col("id_person"))
  }

  /** §2.9 FUM follow-up-after-ED measure (q102): the FUA index-visit set
    * algebra feeding the WHILE-loop 31-day greedy ED dedup (one
    * flatMapGroups pass), the day-0-inclusive inpatient exclusion flag,
    * and MHD-intersected follow-up visits over [last, last+7/30] — the
    * sp_perf_fum_join_step chain end-to-end. */
  def q102FumMeasure(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .withColumn("svc_date", to_date(col("o_orderdate")))
    val pid = (col("o_custkey") % 110).as("id_person")
    def oc(m: Int) = orders.filter(col("o_orderkey") % m === 0)
      .select(pid, col("o_orderkey").as("claim_id"), col("svc_date"))
    val demo = orders.select((col("o_custkey") % 110).as("id_person"))
      .distinct()
      .withColumn("dob", date_add(to_date(lit("1935-01-01")),
        ((col("id_person") * 73) % 16000).cast("int")))
    val idx = graft.builds.FuaMeasure.indexVisits(oc(5), oc(2), oc(3),
      demo, "1996-01-01", "1996-12-31", minAge = 6)
    val visits = idx.select(col("id_person"), col("claim_id"), col("age"),
      col("svc_date").as("first_service_date"),
      date_add(col("svc_date"), (col("claim_id") % 3).cast("int"))
        .as("last_service_date"))
    val inpatient = orders.filter(col("o_orderkey") % 7 === 0)
      .select(pid, col("svc_date").as("first_service_date"))
      .filter(col("first_service_date").between(
        to_date(lit("1996-01-01")), to_date(lit("1996-12-31"))))
    val flagged = graft.builds.FumMeasure.withInpatientFlag(
      graft.builds.FumMeasure.greedyEdDedup(visits), inpatient)
    val li = t(s, dir, "lineitem")
      .join(orders.select(col("o_orderkey"), pid),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("id_person"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_id"),
        to_date(col("l_shipdate")).as("service_date"),
        col("l_returnflag"), col("l_quantity"), col("l_linenumber"),
        col("l_partkey"))
    def vsel(c: org.apache.spark.sql.Column) = li.filter(c)
      .select(col("id_person"), col("claim_id"), col("service_date"))
    val conds = Seq(vsel(col("l_returnflag") === "R"),
      vsel(col("l_quantity") >= 40).intersect(vsel(col("l_linenumber") % 2 === 0)))
    val fu = graft.builds.FumMeasure.followUpVisits(conds,
      vsel(col("l_partkey") % 3 === 0))
    graft.builds.FumMeasure.joinStep(
        flagged.withColumn("flag", lit(1)), fu, "1996-01-01", "1996-12-31")
      .select(col("ym"), col("id_person"), col("age"), col("claim_id"),
        col("first_service_date"), col("last_service_date"),
        col("ed_index_visit"), col("ed_within_30_day"),
        col("inpatient_within_30_day"), col("need_1_month_coverage"),
        col("follow_up_7_day"), col("follow_up_30_day"))
      .orderBy(col("id_person"), col("claim_id"))
  }

  /** §7.5.5 combined mcaid+mcare claim_header (q105): per-source
    * crosswalk to the shared person id (left join — unmatched persons
    * keep NULL id_apde in the union but are excluded from episode
    * clustering; the reference's NULL partition would merge unrelated
    * people), drift union, Yale flags from claim type, and the
    * cross-source ED episode re-clustering over the combined timeline.
    * Persons fold so mcaid and mcare ED visits genuinely interleave
    * within the 1-day match window. */
  def q105McaidMcareHeader(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").withColumn("d", to_date(col("o_orderdate")))
    val ctid = when(col("o_orderkey") % 3 === 0, 1)
      .when(col("o_orderkey") % 3 === 1, 4).otherwise(5)
    val mcaid = orders.filter(col("o_orderkey") % 2 === 0).select(
      (col("o_custkey") % 70).as("id_mcaid"),
      col("o_orderkey").cast("string").as("claim_id"),
      col("d").as("first_service_date"),
      date_add(col("d"), (col("o_orderkey") % 3).cast("int"))
        .as("last_service_date"),
      ctid.as("claim_type_id"),
      (col("o_orderkey") % 5 === 0).cast("int").as("ed_pophealth_flag"),
      lpad((col("o_orderkey") % 99).cast("string"), 2, "0")
        .as("place_of_service_code"))
    val mcare = orders.filter(col("o_orderkey") % 2 === 1).select(
      concat(lit("C"), (col("o_custkey") % 80).cast("string")).as("id_mcare"),
      concat(lit("X"), col("o_orderkey").cast("string")).as("claim_id"),
      col("d").as("first_service_date"),
      date_add(col("d"), (col("o_orderkey") % 4).cast("int"))
        .as("last_service_date"),
      ctid.as("claim_type_id"),
      (col("o_orderkey") % 7 === 0).cast("int").as("ed_pophealth_flag"),
      when(col("o_orderkey") % 23 === 0, "20").otherwise("30")
        .as("patient_status_code"))
    val cust = t(s, dir, "customer")
    val xw1 = cust.select((col("c_custkey") % 70).as("id_mcaid")).distinct()
      .filter(col("id_mcaid") % 9 =!= 8)
      .withColumn("id_apde", lit(100) + col("id_mcaid") % 50)
    val xw2 = cust.select((col("c_custkey") % 80).as("n")).distinct()
      .filter(col("n") % 7 =!= 6)
      .select(concat(lit("C"), col("n").cast("string")).as("id_mcare"),
        (lit(100) + col("n") % 50).as("id_apde"))
    graft.builds.McaidMcareClaimHeader.build(mcaid, mcare, xw1, xw2)
      .select(col("id_apde"), col("source_desc"), col("claim_id"),
        col("first_service_date"), col("last_service_date"),
        col("claim_type_id"), col("ed_pophealth_flag"),
        col("place_of_service_code"), col("patient_status_code"),
        col("ed_type"), col("ed_pophealth_seq"))
      .orderBy(col("source_desc"), col("claim_id"))
  }

  /** §2.9 AH avoidable-hospitalization numerator (q106): direct-transfer
    * episodes (the q97 stitching) plus observation stays RECLASSIFIED
    * when an acute admission lands on the observation date or one day
    * after, deaths excluded, the exclusion claim set anti-joined, and
    * the medicine/surgery split from pivoted value-set flags. */
  /** Shared synthetic claim frames for the value-set measure family
    * (q109-q112): diagnosis rows (with a deliberately inconsistent
    * icdcm_version sliver so the version/date cut actually filters),
    * procedure rows, pharmacy fills, and the RDA/HEDIS code dims. */
  private[graft] object Vs {
    val subGroups = Seq("ADHD", "Adjustment", "Anxiety", "Depression",
      "Disrup/Impulse/Conduct", "Mania/Bipolar", "Psychotic")
    val rxClasses = Seq("ADHD Rx", "Antianxiety Rx", "Antidepressants Rx",
      "Antimania Rx", "Antipsychotic Rx")
    val rxRecode: Map[String, String] = Map(
      "ADHD Rx" -> "ADHD", "Antianxiety Rx" -> "Anxiety",
      "Antidepressants Rx" -> "Depression",
      "Antimania Rx" -> "Mania/Bipolar", "Antipsychotic Rx" -> "Psychotic")
    val cut = "1995-06-01"

    def li(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") % 100).as("id_person"),
          col("l_orderkey").as("claim_id"),
          to_date(col("l_shipdate")).as("first_service_date"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"))

    def dx(s: SparkSession, dir: String): DataFrame =
      li(s, dir).select(col("id_person"), col("claim_id"),
        col("first_service_date"),
        when(col("l_partkey") % 11 === 0, 10)
          .when(col("first_service_date") < to_date(lit(cut)), 9)
          .otherwise(10).as("icdcm_version"),
        when(col("l_linenumber") % 2 === 1, "01").otherwise("02")
          .as("icdcm_number"),
        concat(lit("DX"), (col("l_partkey") % 60).cast("string"))
          .as("icdcm_norm"))

    def proc(s: SparkSession, dir: String): DataFrame =
      li(s, dir).select(col("id_person"), col("claim_id"),
        col("first_service_date"),
        concat(lit("PC"), (col("l_suppkey") % 40).cast("string"))
          .as("procedure_code"))

    def pharm(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
        .select((col("o_custkey") % 100).as("id_person"),
          col("o_orderkey").as("claim_id"),
          to_date(col("o_orderdate")).as("rx_fill_date"),
          concat(lit("ND"), (col("o_orderkey") % 50).cast("string"))
            .as("ndc"))

    /** The ref.rda_value_set dim — a curated lookup in the reference,
      * reproduced as a deterministic literal frame (broadcast either
      * way). */
    def rda(s: SparkSession): DataFrame = {
      import s.implicits._
      def cptHcpcs(i: Int) = if (i % 2 == 0) "CPT" else "HCPCS"
      val rows =
        (0 until 8).map(i => ("MH-procedure-value-set", cptHcpcs(i),
          s"PC$i", null: String, "Y")) ++
        (8 until 14).map(i => ("MH-procedure-with-Dx-value-set",
          cptHcpcs(i), s"PC$i", null: String, "Y")) ++
        (0 until 24).map(i => ("MH-Dx-value-set", "ICD9CM", s"DX$i",
          subGroups(i % 7), "Y")) ++
        (12 until 48).map(i => ("MH-Dx-value-set", "ICD10CM", s"DX$i",
          subGroups(i % 7), "Y")) ++
        (0 until 20).map(i => ("MH-Rx-value-set", "NDC", s"ND$i",
          rxClasses(i % 5), "Y"))
      rows.toDF("value_set_name", "code_set", "code", "sub_group",
        "active")
    }

    /** OUD (opioid) value sets for TPO — includes inactive NDC rows so
      * the `active = 'Y'` residual is exercised. */
    def rdaOud(s: SparkSession): DataFrame = {
      import s.implicits._
      val rows =
        (0 until 15).map(i => ("OUD-Tx-Pen-Value-Set-2", "NDC", s"ND$i",
          null: String, if (i % 4 == 0) "N" else "Y")) ++
        (20 until 28).map(i => ("OUD-Tx-Pen-Receipt-of-MAT", "HCPCS",
          s"PC$i", null: String, "Y")) ++
        (5 until 21).map(i => ("OUD-Tx-Pen-Value-Set-1", "ICD9CM",
          s"DX$i", null: String, "Y")) ++
        (15 until 41).map(i => ("OUD-Tx-Pen-Value-Set-1", "ICD10CM",
          s"DX$i", null: String, "Y"))
      rows.toDF("value_set_name", "code_set", "code", "sub_group",
        "active")
    }
  }

  /** §2.9 RDA MH treatment-penetration staging rows (q109): value-set
    * membership joins over procedure/dx/pharm frames, the reference's
    * UNION/INTERSECT numerator and 3-arm denominator, folded to one
    * MAX(flag) row per (year_month, person) tagged N/D
    * (create_stage.v_perf_tpm_*.sql + sp_perf_staging.sql:414-492). */
  def q109TpmStaging(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.ValueSetMeasures
    // one-scan flag-algebra path (UNION ≡ OR / INTERSECT ≡ AND over
    // per-tuple MAX flags); the DuckDB oracle runs the reference's
    // set-op formulation, so the compare pins path equality at scale
    ValueSetMeasures.tpmStagingOneScan(Vs.proc(s, dir), Vs.dx(s, dir),
        Vs.pharm(s, dir), Vs.rda(s),
        "Mental Health Treatment Penetration", Vs.cut)
      .orderBy(col("year_month"), col("id_person"), col("num_denom"))
  }

  /** §2.9 TPM by-diagnosis sub-group variant (q110): procedure claims
    * fan out to every sub-group (broadcast cross join with the 7-row
    * list), primary-dx claims keep their code's sub-group gated by a
    * LEFT SEMI join on with-Dx procedure claims; pharmacy classes recode
    * to dx sub-groups in the denominator
    * (create_stage.v_perf_tpm_by_dx_*.sql). */
  def q110TpmByDx(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.ValueSetMeasures
    val rda = Vs.rda(s)
    val num = ValueSetMeasures.tpmByDxNumerator(Vs.proc(s, dir),
      Vs.dx(s, dir), rda, Vs.subGroups, Vs.cut)
    val den = ValueSetMeasures.tpmByDxDenominator(Vs.dx(s, dir),
      Vs.pharm(s, dir), rda, Vs.rxRecode, Vs.cut)
    ValueSetMeasures.byDxStaging(num, "MH Treatment Penetration", "N")
      .unionAll(ValueSetMeasures.byDxStaging(den,
        "MH Treatment Penetration", "D"))
      .orderBy(col("year_month"), col("id_person"), col("measure_name"),
        col("num_denom"))
  }

  /** §2.9 CAP ambulatory-visit feeder (q111): one HEDIS value set matched
    * against three claim frames (procedure CPT/HCPCS, ICD-10 dx, line
    * revenue codes), UNION-distinct, stamped with the service year_month
    * (create_stage.v_perf_cap_ambulatory_visit.sql). The line frame
    * reuses the dx codes as revenue codes under the UBREV code_set —
    * distinct code-system namespaces may share strings. */
  def q111CapVisits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Vs.li(s, dir)
    val withLsd = (df: DataFrame) => df.withColumn("last_service_date",
      date_add(col("first_service_date"), (col("claim_id") % 4).cast("int")))
    val proc = withLsd(Vs.proc(s, dir))
    val dx10 = withLsd(Vs.dx(s, dir)).filter(col("icdcm_version") === 10)
    val lines = withLsd(li.select(col("id_person"), col("claim_id"),
      col("first_service_date"),
      concat(lit("RV"), (col("l_partkey") % 30).cast("string"))
        .as("rev_code")))
    val hedis =
      ((0 until 6).map(i => ("Ambulatory Visits",
          (if (i % 2 == 0) "CPT" else "HCPCS"), s"PC${i * 3}")) ++
        (0 until 8).map(i => ("Ambulatory Visits", "ICD10CM", s"DX${i * 5}")) ++
        (0 until 5).map(i => ("Ambulatory Visits", "UBREV", s"RV${i * 6}")))
        .toDF("value_set_name", "code_set", "code")
        .withColumn("sub_group", lit(null).cast("string"))
    graft.builds.ValueSetMeasures.capAmbulatoryVisits(proc, dx10, lines,
        hedis)
      .orderBy(col("year_month"), col("id_person"), col("claim_id"),
        col("first_service_date"), col("last_service_date"))
  }

  /** §2.9 MH/AOD ED-episode pivot (q112): ED population-health episodes
    * classified by primary-dx membership in two HEDIS sets, PIVOTed to
    * one row per episode with explicit pivot values (no discovery scan)
    * (create_stage.v_mcaid_mh_aod_ed.sql). */
  def q112MhAodEd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val headers = t(s, dir, "orders").select(
      when(col("o_orderkey") % 3 =!= 0, col("o_orderkey") % 500)
        .as("ed_pophealth_id"),
      lit(10).as("icdcm_version"),
      concat(lit("DX"), (col("o_custkey") % 60).cast("string"))
        .as("primary_diagnosis"))
    val hedis =
      ((0 until 10).map(i => ("Mental Illness", "ICD10CM", s"DX${i * 2}")) ++
        (0 until 10).map(i => ("AOD Abuse and Dependence", "ICD10CM",
          s"DX${i * 2 + 30}")))
        .toDF("value_set_name", "code_set", "code")
    graft.builds.ValueSetMeasures.mhAodEd(headers, hedis)
      .orderBy(col("ed_pophealth_id"))
  }

  /** §2.9 performance-measure enrollment denominator (q114): dense
    * member x month grid with eligibility/RAC/hospice flags, then the
    * trailing-12 / prior-12 / next-2 window battery and last-known-ZIP
    * fill, filtered to in-range months with any trailing-year enrollment
    * (fn_mcaid_perf_enroll_member_month.sql +
    * sp_mcaid_perf_enroll_denom.sql). */
  def q114EnrollDenom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val demo = t(s, dir, "customer")
      .select((col("c_custkey") % 150).as("id_person")).distinct()
      .withColumn("dob", date_add(to_date(lit("1950-01-01")),
        ((col("id_person") * 97) % 15000).cast("int")))
    val spine = (0 until 24).map { i =>
        val y = 1996 + i / 12; val m = i % 12 + 1
        (y * 100 + m, m, f"$y-$m%02d-01", i + 1)
      }.toDF("year_month", "month", "beg", "row_num")
      .withColumn("end_month", last_day(to_date(col("beg")))).drop("beg")
    val ym = col("id_person") + col("year_month")
    val elig = t(s, dir, "orders")
      .select((col("o_custkey") % 150).as("id_person"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("year_month"))
      .distinct()
      .select(col("id_person"), col("year_month"),
        when(ym % 7 === 0, "Y").otherwise("N").as("dual"),
        when(ym % 5 === 0, "Y").otherwise(" ").as("tpl"),
        ((col("id_person") * 3 + col("year_month")) % 6).as("rac_code"),
        when(col("year_month") % 3 =!= 0,
          concat(lit("98"), lpad((ym % 100).cast("string"), 3, "0")))
          .as("zip_code"))
    val rac = (0 until 6).map(i => (i, if (i % 2 == 0) "Y" else "N"))
      .toDF("rac_code", "full_benefit")
    val hospice = elig.filter(ym % 11 === 0)
      .select(col("id_person"), col("year_month"),
        lit(1).as("hospice_flag"))
    graft.builds.EnrollDenom.enrollDenom(
        graft.builds.EnrollDenom.memberMonths(demo, spine, elig, rac,
          hospice), 199701, 199712)
      .orderBy(col("id_person"), col("year_month"))
  }

  /** §2.9 AHRQ PQI ED classifier (q115): stacked indicator rules —
    * primary-dx value-set inclusion (one with a proc-AND-dx inclusion),
    * NOT-IN exclusions, group recodes, episode-level MAX + composite
    * (create_stage.v_mcaid_pqi_ed.sql). Runs the one-scan flag-algebra
    * shape: one broadcast join per source table collects EVERY relevant
    * set membership as claim-level flags ([[PqiMeasure.claimSetFlags]]),
    * and each rule is boolean algebra over them — the DuckDB oracle runs
    * the reference's per-rule set-op formulation, so the compare pins
    * the two paths against each other at three scales. */
  def q115PqiEd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val headers = t(s, dir, "orders").select(
      col("o_orderkey").as("claim_id"),
      when(col("o_orderkey") % 4 =!= 0, col("o_orderkey") % 300)
        .as("ed_pophealth_id"),
      concat(lit("DX"), (col("o_custkey") % 60).cast("string"))
        .as("primary_diagnosis"),
      concat(lit("DRG"), (col("o_orderkey") % 20).cast("string"))
        .as("drg_code"))
    val dx = Vs.dx(s, dir)
    val proc = Vs.proc(s, dir)
    def mk(name: String, group: String, prefix: String, lo: Int, hi: Int) =
      (lo until hi).map(i => (name, group, s"$prefix$i"))
    val ahrq = (mk("ACDIASD", "PQI 01", "DX", 0, 6) ++
      mk("ACDIALD", "PQI 03", "DX", 6, 12) ++
      mk("ACCOPDD", "PQI 05", "DX", 12, 16) ++
      mk("ACSASTD", "PQI 05/PQI 15", "DX", 16, 20) ++
      mk("RESPAN", "EXCL", "DX", 50, 56) ++
      mk("ACSHYPD", "PQI 07", "DX", 20, 24) ++
      mk("ACSCARP", "EXCL", "PC", 0, 4) ++
      mk("ACSHY2D", "EXCL", "DX", 24, 28) ++
      mk("DIALY2P", "EXCL", "PC", 4, 7) ++
      mk("ACDIAUD", "PQI 14", "DX", 28, 32) ++
      mk("ACSLEAP", "PQI 16", "PC", 8, 13) ++
      mk("ACSLEAD", "PQI 16", "DX", 32, 36) ++
      mk("ACLEA2D", "EXCL", "DX", 56, 59) ++
      mk("MDC 14", "EXCL", "DRG", 0, 4))
      .toDF("value_set_name", "value_set_group", "code")
    // one scan per source: claim-level flags for every set at once
    val dxFlags = graft.builds.PqiMeasure.claimSetFlags(
      dx.filter(col("icdcm_version") === 10), "icdcm_norm", ahrq,
      Seq("RESPAN" -> "respan", "ACSHY2D" -> "hy2d",
        "ACLEA2D" -> "lea2d", "ACSLEAD" -> "lead"))
    val procFlags = graft.builds.PqiMeasure.claimSetFlags(proc,
      "procedure_code", ahrq,
      Seq("ACSCARP" -> "carp", "DIALY2P" -> "dialy",
        "ACSLEAP" -> "leap"))
    val hdrFlags = graft.builds.PqiMeasure.claimSetFlags(
      headers.filter(col("ed_pophealth_id").isNotNull),
      "primary_diagnosis", ahrq,
      Seq("ACDIASD" -> "diasd", "ACDIALD" -> "diald",
        "ACCOPDD" -> "copdd", "ACSASTD" -> "astd",
        "ACSHYPD" -> "hypd", "ACDIAUD" -> "diaud"))
    val base = headers.filter(col("ed_pophealth_id").isNotNull)
      .select(col("claim_id"), col("ed_pophealth_id"),
        when(col("drg_code").isin((0 until 4).map(i => s"DRG$i"): _*), 1)
          .otherwise(0).as("mdc14"))
    val f = graft.builds.PqiMeasure.flag _
    // the reference's NOT IN / INTERSECT rules as flag algebra
    val rules = Seq[(String, org.apache.spark.sql.Column)](
      "pqi_01" -> f("diasd"),
      "pqi_03" -> f("diald"),
      "pqi_05" -> ((f("copdd") || f("astd")) && !f("respan")),
      "pqi_07" -> (f("hypd") && !f("carp") && !(f("hy2d") && f("dialy"))),
      "pqi_14" -> f("diaud"),
      "pqi_15" -> (f("astd") && !f("respan")),
      "pqi_16" -> (f("leap") && f("lead") && !f("lea2d") &&
        !(col("mdc14") === 1)))
    graft.builds.PqiMeasure.classifyEpisodes(base, "ed_pophealth_id",
      Seq(hdrFlags, dxFlags, procFlags), rules)
  }

  /** §2.9 TPO opioid treatment-penetration staging (q125): the TPM
    * sibling with MAT-fill + receipt-of-MAT numerator arms and an
    * any-position OUD-dx denominator (create_stage.v_perf_tpo_*.sql) —
    * the active='Y' NDC residual is live (the fixture plants inactive
    * rows). */
  def q125TpoStaging(s: SparkSession, dir: String): DataFrame =
    graft.builds.ValueSetMeasures.tpoStaging(Vs.proc(s, dir),
        Vs.dx(s, dir), Vs.pharm(s, dir), Vs.rdaOud(s),
        "Substance Use Disorder Treatment Penetration (Opioid)", Vs.cut)
      .orderBy(col("year_month"), col("id_person"), col("num_denom"))

  /** §1.1 mcare elig_timevar (q127): the Medicare enrollment timeline
    * (load_stage.mcare_elig_timevar.R) — wide 12-month x 4-family
    * indicator columns reshaped in ONE stack pass (vs the reference's 4
    * UNPIVOTs + 3 self-joins), ResDAC code→flag recodes with
    * non-exhaustive (NULL-able) CASEs, the NULL-propagating
    * cov_type_sum>0 month drop, death-date truncation, and the
    * islands/collapse/contiguous battery. Codes cycle through valid,
    * invalid ('9') and NULL values so every recode branch is live. */
  def q127McareTimevar(s: SparkSession, dir: String): DataFrame = {
    val (bene, demo) = McareBene.frames(s, dir)
    graft.builds.McareEligTimevar.build(bene, demo,
        kcZips = Seq("98100", "98102"))
      .orderBy(col("id_mcare"), col("from_date"))
  }

  /** Shared synthetic MBSF bene_enrollment + demo frames for the mcare
    * monthly builds (q127 timevar, q167 elig_month) — codes cycle
    * through valid, invalid ('9') and NULL values so every recode
    * branch is live. One copy, so a fixture change cannot drift between
    * the two oracles. */
  private[graft] object McareBene {
    def frames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      def arr(xs: Seq[String]) =
        array(xs.map(x => lit(x).cast("string")): _*)
      val buyinCodes = Seq("0", "1", "2", "3", "A", "B", "C", "9")
      val hmoCodes = Seq("0", "1", "2", "4", "A", "5")
      val rxCodes = Seq("E123", "H45", "N", "*", "0", "X9", null, "R2")
      val dualCodes =
        Seq("00", "01", "02", "04", "08", "09", "10", "99", "**", null)
      val iy = t(s, dir, "orders").select(
        (col("o_custkey") % 80).as("p"),
        year(to_date(col("o_orderdate"))).as("y")).distinct()
      val monthCols = (1 to 12).flatMap { m =>
        val mm = f"$m%02d"
        val k = col("p") * 31 + col("y") * 12 + lit(m)
        Seq(
          element_at(arr(buyinCodes), (k % 8).cast("int") + 1)
            .as(s"buyin_$mm"),
          element_at(arr(hmoCodes), (k % 6).cast("int") + 1)
            .as(s"hmo_$mm"),
          element_at(arr(rxCodes), (k % 8).cast("int") + 1).as(s"rx_$mm"),
          element_at(arr(dualCodes), (k % 10).cast("int") + 1)
            .as(s"dual_$mm"))
      }
      val bene = iy.select(
        concat(lit("E"), col("p").cast("string")).as("id_mcare") +:
        col("y").as("cal_year") +:
        when((col("p") + col("y")) % 7 === 0, "9812")
          .otherwise(concat(lit("9810"),
            ((col("p") + col("y")) % 4).cast("string"))).as("zip_cd") +:
        monthCols: _*)
      val demo = iy.select(col("p")).distinct().select(
        concat(lit("E"), col("p").cast("string")).as("id_mcare"),
        when(col("p") % 9 === 0,
          date_add(to_date(lit("1995-06-15")),
            (col("p") * 13 % 700).cast("int"))).as("death_dt"))
      (bene, demo)
    }
  }

  /** §1.1 mcare elig_month (q167, load_stage.mcare_elig_month.R): the
    * month-grain Medicare enrollment table — the reference's 4 UNPIVOTs
    * + 3 (bene, year, month) self-joins as ONE stack pass, ResDAC
    * recodes shared with the q127 timevar build, one broadcast date-dim
    * join supplying month bounds AND year_quarter/year (the reference
    * joins ref.date twice), NULL-propagating cov_type_sum month drop,
    * death truncation, and the LEFT-JOIN geo_kc attach (NULL zip keeps
    * NULL geo_kc). */
  def q167McareEligMonth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (bene, demo) = McareBene.frames(s, dir)
    val dateDim = s.range(1992, 2003)
      .select(col("id").cast("int").as("y"),
        explode(sequence(lit(1), lit(12))).as("m"))
      .select((col("y") * 100 + col("m")).cast("int").as("year_month"),
        to_date(concat(col("y").cast("string"),
          lpad(col("m").cast("string"), 2, "0"), lit("01")), "yyyyMMdd")
          .as("first_day_month"),
        (col("y") * 10 + floor((col("m") - 1) / 3) + 1).cast("int")
          .as("year_quarter"),
        col("y").as("year"))
      .withColumn("last_day_month", last_day(col("first_day_month")))
    val geoKc = Seq(("98100", 1), ("98101", 0), ("98102", 1),
      ("98103", 0), ("98999", 1)).toDF("geo_zip", "geo_kc")
    graft.builds.McareEligMonth.build(bene, demo, dateDim, geoKc)
      .orderBy(col("id_mcare"), col("year_month"))
  }

  /** §1.1 mcare elig_demo (q131): person-level Medicare demographics
    * (load_stage.mcare_elig_demo.R) — latest-year dob/death picks, ever
    * flags, multiple-endorsed gender/race recodes over rti_race_cd
    * (codes 0/3 excluded), dual recent columns (race_recent excludes
    * Latino), KC-ever — all as ONE conditional-aggregation scan instead
    * of the reference's ~10 rank-CTE temp tables + 5 joins. Codes cycle
    * through valid, unknown-'0'/Other-'3' and NULL so every branch and
    * the all-invalid→NULL path are live. */
  def q131McareDemo(s: SparkSession, dir: String): DataFrame = {
    def pick(xs: Seq[String], idx: org.apache.spark.sql.Column) =
      element_at(array(xs.map(x => lit(x).cast("string")): _*),
        idx.cast("int"))
    val e = t(s, dir, "orders").select(
      (col("o_custkey") % 70).as("pid"),
      year(to_date(col("o_orderdate"))).as("y")).distinct()
    val bene = e.select(
      concat(lit("E"), col("pid").cast("string")).as("id_mcare"),
      col("y").as("year"),
      when((col("pid") + col("y")) % 13 === 0,
        lit(null).cast("date"))
        .otherwise(date_add(to_date(lit("1940-01-01")),
          ((col("pid") * 37 + (col("y") % 3) * 11) % 9000).cast("int")))
        .as("dob"),
      when(col("pid") % 11 === 0 && col("y") % 2 === 0,
        date_add(to_date(lit("1996-01-01")), (col("pid") % 400)
          .cast("int"))).as("death_dt"),
      pick(Seq("0", "1", "2", null),
        (col("pid") + col("y")) % 4 + 1).as("sex_cd"),
      pick(Seq("0", "1", "2", "3", "4", "5", "6", null),
        (col("pid") * 3 + col("y")) % 8 + 1).as("rti_race_cd"),
      concat(lit("9810"), ((col("pid") + col("y")) % 8).cast("string"))
        .as("zip_cd"))
    graft.builds.McareEligDemo.build(bene, Seq("98101", "98105"))
      .orderBy(col("id_mcare"))
  }

  /** §2.9 ED-visit numerator (q126): the DSRIP utilization feeder
    * (create_stage.v_perf_ed_visit_num.sql) — ED claim types qualified by
    * place-of-service 23 OR an ED revenue-code line OR an ED E&M
    * procedure, UNION-distinct at claim grain. */
  def q126EdVisitNum(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val headers = t(s, dir, "orders").select(
      ok.as("claim_id"), (col("o_custkey") % 100).as("id_person"),
      to_date(col("o_orderdate")).as("first_service_date"),
      date_add(to_date(col("o_orderdate")), (ok % 3).cast("int"))
        .as("last_service_date"),
      when(ok % 5 === 0, "3").when(ok % 5 === 1, "26")
        .when(ok % 5 === 2, "34").otherwise("1").as("clm_type"),
      when(ok % 7 === 0, "23").otherwise("11").as("pos"))
    val lines = t(s, dir, "lineitem").select(
      col("l_orderkey").as("claim_id"),
      when(col("l_suppkey") % 9 === 0, "0450")
        .when(col("l_suppkey") % 9 === 1, "0451")
        .when(col("l_suppkey") % 9 === 2, "0456")
        .otherwise("0300").as("rev_code"))
    val procs = t(s, dir, "lineitem").select(
      col("l_orderkey").as("claim_id"),
      when(col("l_partkey") % 11 === 0, "99281")
        .when(col("l_partkey") % 11 === 1, "99284")
        .when(col("l_partkey") % 11 === 2, "99288")
        .otherwise("OTHER").as("procedure_code"))
    graft.builds.ValueSetMeasures.edVisitNum(headers, lines, procs)
      .orderBy(col("claim_id"))
  }

  /** §2.9 AHRQ PQI inpatient classifier (q124): the inpatient sibling of
    * q115 (create_stage.v_mcaid_pqi_inpatient.sql) — keyed on
    * inpatient_id instead of the ED episode, gated by the
    * direct-transfer admission-source residual (`admsn_source IS NULL OR
    * NOT IN ('4','5','6','A','B','C','D','E','F')`, the view's repeated
    * WHERE), and carrying the three indicators the ED variant lacks:
    * PQI 08 heart failure (cardiac-proc exclusion), PQI 11 bacterial
    * pneumonia (sickle-cell + immunocompromised dx/proc exclusions),
    * PQI 12 UTI (kidney + immunocompromised exclusions). Same one-scan
    * flag-algebra shape as q115; the oracle runs the reference's
    * per-rule set-op formulation. */
  def q124PqiInpatient(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val headers = t(s, dir, "orders").select(
      col("o_orderkey").as("claim_id"),
      when(col("o_orderkey") % 3 === 0, col("o_orderkey") % 500)
        .as("inpatient_id"),
      concat(lit("DX"), (col("o_custkey") % 60).cast("string"))
        .as("primary_diagnosis"),
      concat(lit("DRG"), (col("o_orderkey") % 20).cast("string"))
        .as("drg_code"),
      when(col("o_orderkey") % 7 === 0, "4")
        .when(col("o_orderkey") % 7 === 1, "A")
        .when(col("o_orderkey") % 7 === 2, lit(null).cast("string"))
        .otherwise("1").as("admsn_source"))
    val dx = Vs.dx(s, dir)
    val proc = Vs.proc(s, dir)
    def mk(name: String, prefix: String, lo: Int, hi: Int) =
      (lo until hi).map(i => (name, s"$prefix$i"))
    val ahrq = (mk("ACDIASD", "DX", 0, 6) ++ mk("ACDIALD", "DX", 6, 12) ++
      mk("ACCOPDD", "DX", 12, 16) ++ mk("ACSASTD", "DX", 16, 20) ++
      mk("ACSHYPD", "DX", 20, 24) ++ mk("ACDIAUD", "DX", 28, 32) ++
      mk("MTCHFD", "DX", 36, 40) ++ mk("ACSBACD", "DX", 40, 44) ++
      mk("ACSUTID", "DX", 44, 48) ++ mk("ACSLEAD", "DX", 32, 36) ++
      mk("RESPAN", "DX", 50, 56) ++ mk("ACSHY2D", "DX", 24, 28) ++
      mk("ACLEA2D", "DX", 56, 59) ++ mk("ACSBA2D", "DX", 36, 39) ++
      mk("IMMUNID", "DX", 39, 42) ++ mk("KIDNEY", "DX", 42, 45) ++
      mk("ACSCARP", "PC", 0, 4) ++ mk("DIALY2P", "PC", 4, 7) ++
      mk("ACSLEAP", "PC", 8, 13) ++ mk("IMMUNIP", "PC", 14, 17) ++
      mk("MDC 14", "DRG", 0, 4))
      .map { case (n, c) => (n, "VS", c) }
      .toDF("value_set_name", "value_set_group", "code")
    val dxFlags = graft.builds.PqiMeasure.claimSetFlags(
      dx.filter(col("icdcm_version") === 10), "icdcm_norm", ahrq,
      Seq("RESPAN" -> "respan", "ACSHY2D" -> "hy2d",
        "ACLEA2D" -> "lea2d", "ACSLEAD" -> "lead",
        "ACSBA2D" -> "ba2d", "IMMUNID" -> "immunid",
        "KIDNEY" -> "kidney"))
    val procFlags = graft.builds.PqiMeasure.claimSetFlags(proc,
      "procedure_code", ahrq,
      Seq("ACSCARP" -> "carp", "DIALY2P" -> "dialy",
        "ACSLEAP" -> "leap", "IMMUNIP" -> "immunip"))
    val nonTransfer = col("admsn_source").isNull ||
      !col("admsn_source").isin("4", "5", "6", "A", "B", "C", "D", "E",
        "F")
    val inpatient = headers
      .filter(col("inpatient_id").isNotNull && nonTransfer)
    val hdrFlags = graft.builds.PqiMeasure.claimSetFlags(inpatient,
      "primary_diagnosis", ahrq,
      Seq("ACDIASD" -> "diasd", "ACDIALD" -> "diald",
        "ACCOPDD" -> "copdd", "ACSASTD" -> "astd",
        "ACSHYPD" -> "hypd", "ACDIAUD" -> "diaud",
        "MTCHFD" -> "chfd", "ACSBACD" -> "bacd", "ACSUTID" -> "utid"))
    val base = inpatient
      .select(col("claim_id"), col("inpatient_id"),
        when(col("drg_code").isin((0 until 4).map(i => s"DRG$i"): _*), 1)
          .otherwise(0).as("mdc14"))
    val f = graft.builds.PqiMeasure.flag _
    val rules = Seq[(String, org.apache.spark.sql.Column)](
      "pqi_01" -> f("diasd"),
      "pqi_03" -> f("diald"),
      "pqi_05" -> ((f("copdd") || f("astd")) && !f("respan")),
      "pqi_07" -> (f("hypd") && !f("carp") && !(f("hy2d") && f("dialy"))),
      "pqi_08" -> (f("chfd") && !f("carp")),
      "pqi_11" -> (f("bacd") && !f("ba2d") && !f("immunid") &&
        !f("immunip")),
      "pqi_12" -> (f("utid") && !f("kidney") && !f("immunid") &&
        !f("immunip")),
      "pqi_14" -> f("diaud"),
      "pqi_15" -> (f("astd") && !f("respan")),
      "pqi_16" -> (f("leap") && f("lead") && !f("lea2d") &&
        !(col("mdc14") === 1)))
    graft.builds.PqiMeasure.classifyEpisodes(base, "inpatient_id",
      Seq(hdrFlags, dxFlags, procFlags), rules)
  }

  def q106AhNumerator(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val pid = (col("o_custkey") % 90).as("id_person")
    val stays = orders.filter(col("o_orderkey") % 2 === 0).select(
      pid, col("o_orderkey").as("claim_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 9).cast("int")).as("last_service_date"),
      when(col("o_orderkey") % 37 === 0, "20").otherwise("10")
        .as("patient_status"),
      concat(lit("DX"), (col("o_orderkey") % 50).cast("string"))
        .as("primary_diagnosis"))
    val obs = orders.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderkey") % 3 === 0)
      .select(pid, col("o_orderkey").as("claim_id"),
        to_date(col("o_orderdate")).as("first_service_date"),
        to_date(col("o_orderdate")).as("last_service_date"),
        when(col("o_orderkey") % 41 === 0, "20").otherwise("10")
          .as("patient_status"))
    val obsStays = graft.builds.AhMeasure.observationStays(obs,
      stays.select(col("id_person"), col("first_service_date")),
      obs.filter(col("claim_id") % 21 === 0).select(col("claim_id")))
    val vs = orders.select(col("o_orderkey").as("claim_id"),
        when(col("o_orderkey") % 11 === 0, "Surgery")
          .when(col("o_orderkey") % 13 === 0, "Surgery MS-DRG")
          .as("value_set_name"))
      .filter(col("value_set_name").isNotNull)
    val excl = orders.filter(col("o_orderkey") % 17 === 0)
      .select(col("o_orderkey").as("claim_id"))
    graft.builds.AhMeasure.inpatientNumerator(
        graft.builds.PcrMeasure.directTransfer(stays), obsStays,
        graft.builds.AhMeasure.medicineSurgery(vs), excl)
      .orderBy(col("id_person"), col("claim_id"))
  }

  /** §1.1 combined mcaid+mcare elig_timevar (q118): the dual-enrollment
    * timeline merge (load_stage.mcaid_mcare_elig_timevar.R) — crosswalk
    * to the common person id, sweep-line overlay of the two interval
    * sets into elementary both/mcaid/mcare segments, equal-attribute
    * collapse, then the flag battery (mcare/mcaid/apde_dual, the
    * full_criteria rules incl. the reference's R-precedence quirk,
    * NULL→0 fills, contiguous, cov_time_day, zip coalesce, geo_kc).
    * mcaid intervals are calendar months; mcare intervals are months
    * shifted +14 days, so segments genuinely straddle boundaries. */
  def q118McaidMcareTimevar(s: SparkSession, dir: String): DataFrame = {
    val persons = t(s, dir, "customer")
      .select((col("c_custkey") % 60).as("id_apde")).distinct()
    val xwalk = persons.select(col("id_apde"),
      when(col("id_apde") % 3 =!= 0,
        concat(lit("M"), col("id_apde").cast("string"))).as("id_mcaid"),
      when(col("id_apde") % 2 === 0,
        concat(lit("E"), col("id_apde").cast("string"))).as("id_mcare"))
    val om = t(s, dir, "orders").select(
      (col("o_custkey") % 60).as("p"),
      trunc(to_date(col("o_orderdate")), "month").as("m"))
    val mi = year(col("m")) * 12 + month(col("m"))
    val k = col("p") + mi
    val mcaidTv = om.filter(col("p") % 3 =!= 0).distinct().select(
      concat(lit("M"), col("p").cast("string")).as("id_mcaid"),
      col("m").as("from_date"), last_day(col("m")).as("to_date"),
      lit(0).as("dual"),
      when(k % 5 === 0, 1).otherwise(0).as("tpl"),
      when(k % 3 =!= 0, 1).otherwise(0).as("full_benefit"),
      when(k % 2 === 0, "FFS").otherwise("MC").as("cov_type"),
      concat(lit("Z"), ((col("p") + (mi / 4).cast("int")) % 4)
        .cast("string")).as("geo_zip"),
      when(k % 4 === 0, "033").when(k % 4 === 1, "053")
        .otherwise(lit(null).cast("string")).as("geo_county_code"))
    val mcareTv = om.filter(col("p") % 2 === 0).distinct().select(
      concat(lit("E"), col("p").cast("string")).as("id_mcare"),
      date_add(col("m"), 14).as("from_date"),
      date_add(last_day(col("m")), 14).as("to_date"),
      when(k % 4 =!= 0, 1).otherwise(0).as("part_a"),
      when(k % 5 =!= 0, 1).otherwise(0).as("part_b"),
      when(k % 7 === 0, 1).otherwise(0).as("part_c"),
      when(k % 6 === 0, 1).otherwise(0).as("partial"),
      when(k % 8 === 0, 1).otherwise(0).as("buy_in"),
      concat(lit("Z"), ((col("p") + (mi / 3).cast("int")) % 4)
        .cast("string")).as("geo_zip_mcare"))
    graft.builds.McaidMcareEligTimevar.build(xwalk, mcaidTv, mcareTv,
        kcZips = Seq("Z0", "Z2"),
        noPartialFrom = "1994-01-01", noPartialTo = "1995-12-31")
      .orderBy(col("id_apde"), col("from_date"))
  }

  /** §1.1 combined mcaid+mcare elig_demo (q119): cross-source demographic
    * reconciliation (load_stage.mcaid_mcare_elig_demo.R) — crosswalk,
    * deterministic per-person pick, full-outer merge with per-column
    * precedence (dob: mcare wins; gender/race: mcaid wins), single-source
    * pass-throughs, apde_dual, and the NULL-blocking race_unk recompute.
    * Several customers share an id (custkey % 60), so the dedup pick is
    * genuinely exercised. */
  def q119McaidMcareDemo(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val pid = col("c_custkey") % 60
    val c = col("c_custkey")
    val xwalk = cust.select(pid.as("id_apde")).distinct().select(
      col("id_apde"),
      when(col("id_apde") % 3 =!= 0,
        concat(lit("M"), col("id_apde").cast("string"))).as("id_mcaid"),
      when(col("id_apde") % 2 === 0,
        concat(lit("E"), col("id_apde").cast("string"))).as("id_mcare"))
    val mcaidDemo = cust.filter(pid % 3 =!= 0).select(
      concat(lit("M"), pid.cast("string")).as("id_mcaid"),
      date_add(to_date(lit("1960-01-01")), (c % 8000).cast("int"))
        .as("dob"),
      when(c % 23 === 0, lit(null).cast("string"))
        .when(c % 17 === 0, "Multiple")
        .when(c % 2 === 0, "Female").otherwise("Male").as("gender_me"),
      (c % 2 === 0).cast("int").as("gender_female"),
      (c % 2 === 1).cast("int").as("gender_male"),
      when(c % 31 === 0, lit(null).cast("int"))
        .otherwise((c % 13 === 0).cast("int")).as("race_aian"),
      (c % 7 === 0).cast("int").as("race_asian"),
      (c % 5 === 0).cast("int").as("race_black"),
      (c % 11 === 0).cast("int").as("race_latino"),
      (c % 19 === 0).cast("int").as("race_nhpi"),
      (c % 3 === 0).cast("int").as("race_white"),
      concat(lit("RE"), (c % 4).cast("string")).as("race_eth_recent"),
      when(c % 6 <= 1, "ENGLISH").when(c % 6 <= 3, "SPANISH")
        .otherwise("VIETNAMESE").as("lang_max"))
    val mcareDemo = cust.filter(pid % 2 === 0).select(
      concat(lit("E"), pid.cast("string")).as("id_mcare"),
      date_add(to_date(lit("1955-06-15")), (c % 9000).cast("int"))
        .as("dob"),
      when(c % 13 === 0, lit(null).cast("string"))
        .when(c % 3 === 0, "Female").otherwise("Male").as("gender_me"),
      (c % 3 === 0).cast("int").as("gender_female"),
      (c % 3 =!= 0).cast("int").as("gender_male"),
      (c % 14 === 0).cast("int").as("race_aian"),
      (c % 8 === 0).cast("int").as("race_asian"),
      (c % 6 === 0).cast("int").as("race_black"),
      (c % 12 === 0).cast("int").as("race_latino"),
      (c % 20 === 0).cast("int").as("race_nhpi"),
      (c % 4 === 0).cast("int").as("race_white"),
      concat(lit("RE"), (c % 5).cast("string")).as("race_eth_recent"),
      when(c % 29 === 0,
        date_add(to_date(lit("2015-01-01")), (c % 1000).cast("int")))
        .as("death_dt"),
      (c % 9 === 0).cast("int").as("race_asian_pi"))
    graft.builds.McaidMcareEligDemo.build(xwalk, mcaidDemo, mcareDemo)
      .orderBy(col("id_apde"))
  }

  /** §4 skew: two-phase salted aggregation over the 3-hot-key returnflag
    * grouping (600k rows, 3 keys — the textbook hot-key shape); must equal
    * the plain aggregate exactly. */
  def q69SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Salt.saltedStats(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_quantity", col("l_orderkey"), buckets = 32)
      .select(col("l_returnflag"),
        round(col("sum_val"), 2).as("sum_qty"), col("n"),
        col("min_val").as("min_qty"), col("max_val").as("max_qty"))
      .orderBy(col("l_returnflag"))

  /** §1.1 cross-source person identity: per-source ids resolved to a
    * master id through a crosswalk table with coalesce fallback
    * (xwalk_apde_mcaid_mcare_pha — claims_elig.R:424-436). The crosswalk
    * is small -> broadcast; unmatched ids keep their source id. */
  def q70IdXwalk(s: SparkSession, dir: String): DataFrame = {
    val xwalk = t(s, dir, "customer")
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("id_src"),
        (col("c_custkey") % 100 + 9000000).as("id_master"))
    t(s, dir, "orders")
      .join(broadcast(xwalk), col("o_custkey") === col("id_src"), "left")
      .withColumn("id_apde", coalesce(col("id_master"), col("o_custkey")))
      .groupBy((col("id_apde") < 9000000).as("unresolved"))
      .agg(countDistinct(col("id_apde")).as("n_ids"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("unresolved"))
  }

  /** The SQL front door: the same engine surface through spark.sql over
    * registered views — proving a reference user can keep writing SQL. */
  def q71SqlApi(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("v_orders")
    t(s, dir, "customer").createOrReplaceTempView("v_customer")
    s.sql("""
      SELECT c.c_mktsegment,
        count(*) AS n_orders,
        round(sum(o.o_totalprice), 2) AS revenue,
        count(DISTINCT o.o_custkey) AS n_customers
      FROM v_orders o
      JOIN v_customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY c.c_mktsegment
      ORDER BY c.c_mktsegment""")
  }

  /** Shared fixture for the combined mcaid+mcare claim DETAIL family
    * (q139-q141): a person universe folded from customer keys where each
    * person is mcaid-only (k%3=0), dual-enrolled (k%3=1), or mcare-only
    * (k%3=2) — so every branch of the id-migration join is populated —
    * plus line-grain claim facts carved from lineitem joined to orders
    * for the person key. */
  private[graft] object Mm {
    import org.apache.spark.sql.Column
    val k: Column = col("c_custkey") % 90
    /** Full crosswalk (id_apde, id_mcaid, id_mcare); `recut` drops every
      * 11th person and re-cuts the apde id space — the new-xwalk shape
      * [[graft.builds.McaidMcareClaimDetail.remapIds]] migrates to. */
    def xwalk(s: SparkSession, dir: String, recut: Boolean): DataFrame = {
      val base = t(s, dir, "customer").select(k.as("k")).distinct()
      val cut = if (recut) base.filter(col("k") % 11 =!= 7) else base
      cut.select(
        (lit(if (recut) 2000 else 1000) + col("k")).as("id_apde"),
        when(col("k") % 3 =!= 2, col("k")).as("id_mcaid"),
        when(col("k") % 3 =!= 0, concat(lit("C"), col("k").cast("string")))
          .as("id_mcare"))
    }
    def mcaidSide(xw: DataFrame): DataFrame =
      xw.filter(col("id_mcaid").isNotNull).select("id_mcaid", "id_apde")
    def mcareSide(xw: DataFrame): DataFrame =
      xw.filter(col("id_mcare").isNotNull).select("id_mcare", "id_apde")
    /** Line-grain facts: person key from orders, line columns from
      * lineitem. Even order keys are mcaid, odd mcare. */
    def lines(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"), (col("o_custkey") % 90).as("k")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("k"), col("l_orderkey").as("ok"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"),
          to_date(col("l_shipdate")).as("fsd"),
          date_add(to_date(col("l_shipdate")),
            (col("l_linenumber") % 5).cast("int")).as("lsd"))
  }

  /** §7.5.5 combined mcaid+mcare claim_line (q139) — the full reference
    * script order (load_stage.mcaid_mcare_claim_line.R): (1) build the
    * existing stage table with the OLD crosswalk, (2) migrate its ids to
    * the re-cut crosswalk (remapIds — the UPDATE at :192-206), (3)
    * partial-refresh with per-source asymmetric date windows (mcaid cut
    * at 1997-06-01, mcare at year 1997) from a rebuild carrying corrected
    * revenue codes — so refreshed rows are visibly different from kept
    * ones in the output. */
  def q139McaidMcareLine(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McaidMcareClaimDetail
    val li = Mm.lines(s, dir)
    def mcaid(rev: org.apache.spark.sql.Column) = li.filter(col("ok") % 2 === 0)
      .select(col("k").as("id_mcaid"),
        col("ok").cast("string").as("claim_header_id"),
        col("l_linenumber").cast("string").as("claim_line_id"),
        col("fsd").as("first_service_date"), col("lsd").as("last_service_date"),
        rev.as("revenue_code"),
        (col("l_suppkey") % 100).cast("int").as("rac_code_line"))
    def mcare(tos: org.apache.spark.sql.Column) = li.filter(col("ok") % 2 === 1)
      .select(concat(lit("C"), col("k").cast("string")).as("id_mcare"),
        concat(lit("X"), col("ok").cast("string")).as("claim_header_id"),
        col("l_linenumber").cast("string").as("claim_line_id"),
        col("fsd").as("first_service_date"), col("lsd").as("last_service_date"),
        lpad((col("l_partkey") % 750).cast("string"), 4, "0").as("revenue_code"),
        lpad((col("l_suppkey") % 32).cast("string"), 2, "0")
          .as("place_of_service_code"),
        tos.as("type_of_service"),
        when(col("l_quantity") < 25, "carrier").otherwise("outpatient")
          .as("filetype_mcare"))
    val revOld = lpad((col("l_partkey") % 750).cast("string"), 4, "0")
    val revNew = lpad(((col("l_partkey") + 13) % 750).cast("string"), 4, "0")
    val tosOld = (col("l_linenumber") % 9).cast("string")
    val tosNew = ((col("l_linenumber") + 1) % 9).cast("string")
    val xwOld = Mm.xwalk(s, dir, recut = false)
    val xwNew = Mm.xwalk(s, dir, recut = true)
    val existing = McaidMcareClaimDetail.xwalkUnion(
      mcaid(revOld), mcare(tosOld), Mm.mcaidSide(xwOld), Mm.mcareSide(xwOld))
    val migrated = McaidMcareClaimDetail.remapIds(existing, xwOld, xwNew)
    val rebuilt = McaidMcareClaimDetail.xwalkUnion(
      mcaid(revNew), mcare(tosNew), Mm.mcaidSide(xwNew), Mm.mcareSide(xwNew))
    McaidMcareClaimDetail.refresh(migrated, rebuilt,
        mcaidDate = Some("1997-06-01"), mcareYear = Some(1997))
      .select(col("id_apde"), col("source_desc"), col("claim_header_id"),
        col("claim_line_id"), col("first_service_date"),
        col("last_service_date"), col("revenue_code"),
        col("place_of_service_code"), col("type_of_service"),
        col("rac_code_line"), col("filetype_mcare"))
      .orderBy(col("source_desc"), col("claim_header_id"), col("claim_line_id"))
  }

  /** §7.5.5 combined mcaid+mcare claim_icdcm_header (q140,
    * load_stage.mcaid_mcare_claim_icdcm_header.R:25-62): crosswalked
    * drift union at diagnosis grain — mcare contributes filetype_mcare,
    * mcaid NULL-pads it; icdcm_number arrives int-typed from mcaid and is
    * cast to the shared varchar (the reference's collation-resolving
    * CAST). */
  def q140McaidMcareIcdcm(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McaidMcareClaimDetail
    val li = Mm.lines(s, dir)
    val ver = when(col("l_partkey") % 7 === 0, 9).otherwise(10)
    val raw = (col("l_partkey") % 900).cast("string")
    val norm = when(col("l_partkey") % 7 === 0, lpad(raw, 5, "0"))
      .otherwise(lpad(raw, 7, "0"))
    val mcaid = li.filter(col("ok") % 2 === 0)
      .select(col("k").as("id_mcaid"),
        col("ok").cast("string").as("claim_header_id"),
        col("fsd").as("first_service_date"), col("lsd").as("last_service_date"),
        raw.as("icdcm_raw"), norm.as("icdcm_norm"),
        ver.as("icdcm_version"),
        lpad(col("l_linenumber").cast("string"), 2, "0").as("icdcm_number"))
    val mcare = li.filter(col("ok") % 2 === 1)
      .select(concat(lit("C"), col("k").cast("string")).as("id_mcare"),
        concat(lit("X"), col("ok").cast("string")).as("claim_header_id"),
        col("fsd").as("first_service_date"), col("lsd").as("last_service_date"),
        raw.as("icdcm_raw"), norm.as("icdcm_norm"),
        ver.as("icdcm_version"),
        lpad(col("l_linenumber").cast("string"), 2, "0").as("icdcm_number"),
        when(col("l_quantity") < 25, "carrier").otherwise("outpatient")
          .as("filetype_mcare"))
    val xw = Mm.xwalk(s, dir, recut = false)
    McaidMcareClaimDetail.xwalkUnion(mcaid, mcare,
        Mm.mcaidSide(xw), Mm.mcareSide(xw))
      .select(col("id_apde"), col("source_desc"), col("claim_header_id"),
        col("first_service_date"), col("last_service_date"),
        col("icdcm_raw"), col("icdcm_norm"), col("icdcm_version"),
        col("icdcm_number"), col("filetype_mcare"))
      .orderBy(col("source_desc"), col("claim_header_id"), col("icdcm_number"))
  }

  /** §7.5.5 combined mcaid+mcare claim_procedure (q141,
    * load_stage.mcaid_mcare_claim_procedure.R:10-68): drift union at
    * procedure grain — both sides carry code + modifiers, mcare adds
    * filetype_mcare; modifiers beyond the first are sparsely populated,
    * matching real modifier columns. */
  def q141McaidMcareProcedure(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McaidMcareClaimDetail
    val li = Mm.lines(s, dir)
    val pcode = lpad((col("l_partkey") % 9999).cast("string"), 5, "0")
    val mod1 = when(col("l_quantity") > 30, "GT")
    val mcaid = li.filter(col("ok") % 2 === 0)
      .select(col("k").as("id_mcaid"),
        col("ok").cast("string").as("claim_header_id"),
        col("fsd").as("first_service_date"), col("lsd").as("last_service_date"),
        pcode.as("procedure_code"),
        col("l_linenumber").cast("string").as("procedure_code_number"),
        mod1.as("modifier_1"),
        when(col("l_suppkey") % 13 === 0, "59").as("modifier_2"))
    val mcare = li.filter(col("ok") % 2 === 1)
      .select(concat(lit("C"), col("k").cast("string")).as("id_mcare"),
        concat(lit("X"), col("ok").cast("string")).as("claim_header_id"),
        col("fsd").as("first_service_date"), col("lsd").as("last_service_date"),
        pcode.as("procedure_code"),
        lpad(col("l_linenumber").cast("string"), 2, "0")
          .as("procedure_code_number"),
        mod1.as("modifier_1"),
        when(col("l_quantity") < 25, "carrier").otherwise("outpatient")
          .as("filetype_mcare"))
    val xw = Mm.xwalk(s, dir, recut = false)
    McaidMcareClaimDetail.xwalkUnion(mcaid, mcare,
        Mm.mcaidSide(xw), Mm.mcareSide(xw))
      .select(col("id_apde"), col("source_desc"), col("claim_header_id"),
        col("first_service_date"), col("last_service_date"),
        col("procedure_code"), col("procedure_code_number"),
        col("modifier_1"), col("modifier_2"), col("filetype_mcare"))
      .orderBy(col("source_desc"), col("claim_header_id"),
        col("procedure_code_number"), col("procedure_code"))
  }

  /** Shared APCD synthetic frames (q142/q143): header from orders, line /
    * procedure / diagnosis / provider detail from lineitem, provider refs
    * from supplier, code dims inline. Sentinel -1/-2 slivers, denied /
    * orphaned rows, ED codes, PC codes, and BH codes are all planted so
    * every branch of the build fires. */
  private[graft] object Apcd {
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      val fsd = to_date(col("o_orderdate"))
      t(s, dir, "orders").select(
        (col("o_custkey") % 400).as("id_apcd"),
        ok.as("claim_header_id"),
        when(ok % 29 === 0, -1).when(ok % 29 === 1, -2)
          .otherwise((ok % 12).cast("int")).cast("int").as("product_code_id"),
        fsd.as("first_service_date"),
        date_add(fsd, (ok % 4).cast("int")).as("last_service_date"),
        date_add(fsd, 7).as("first_paid_date"),
        date_add(fsd, 14).as("last_paid_date"),
        round(col("o_totalprice"), 2).as("charge_amt"),
        col("o_orderstatus").as("claim_status_code"),
        when(ok % 23 === 0, "-1").when(ok % 23 === 1, "-2")
          .otherwise(concat(lit("011"), (ok % 8).cast("string")))
          .as("type_of_bill_code"),
        (lit(1) + ok % 3).cast("int").as("claim_type_raw"),
        (lit(1) + ok % 2).cast("int").as("type_of_setting_id"),
        when(ok % 13 === 0, -1).when(ok % 13 === 1, -2)
          .otherwise((lit(1) + ok % 4).cast("int")).cast("int")
          .as("place_of_setting_id"),
        when(ok % 6 === 0, "Y").otherwise("N").as("emergency_room_flag"),
        when(ok % 17 === 0, "Y").otherwise("N").as("denied_header_flag"),
        when(ok % 19 === 0, "Y").otherwise("N").as("orphaned_header_flag"),
        (ok % 21 === 0).cast("int").as("cardiac_imaging_and_tests_flag"),
        (ok % 22 === 0).cast("int").as("telehealth_flag"),
        (ok % 35 === 0).cast("int").as("covid19_flag"))
    }
    def line(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("claim_header_id"),
        when(col("l_suppkey") % 11 === 0, "23")
          .otherwise(lpad((col("l_suppkey") % 32).cast("string"), 2, "0"))
          .as("place_of_service_code"),
        when(col("l_partkey") % 9 === 0,
            concat(lit("045"), (col("l_partkey") % 10).cast("string")))
          .otherwise(lpad((col("l_partkey") % 2000).cast("string"), 4, "0"))
          .as("revenue_code"),
        when(col("l_linenumber") === 1 && col("l_orderkey") % 3 === 0,
          to_date(col("l_shipdate"))).as("discharge_date"))
    def proc(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("claim_header_id"),
        when(col("l_partkey") % 17 === 0,
            concat(lit("9928"), (lit(1) + col("l_partkey") % 7).cast("string")))
          .when(col("l_partkey") % 17 === 1, "99291")
          .when(col("l_partkey") % 17 === 2,
            concat(lit("992"), (lit(11) + col("l_partkey") % 5).cast("string")))
          .otherwise(lpad((col("l_partkey") % 88888).cast("string"), 5, "0"))
          .as("procedure_code"))
    def dx(s: SparkSession, dir: String): DataFrame = {
      val ver = when(col("l_partkey") % 6 === 0, 9).otherwise(10)
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("claim_header_id"),
        ver.as("icdcm_version"),
        when(ver === 10 && col("l_partkey") % 5 === 0,
            concat(lit("Z00"), (col("l_partkey") % 4).cast("string")))
          .when(ver === 10,
            concat(lit("F"), lpad((col("l_partkey") % 400).cast("string"), 3, "0")))
          .otherwise(lpad((col("l_partkey") % 999).cast("string"), 4, "0"))
          .as("icdcm_norm"),
        lpad(col("l_linenumber").cast("string"), 2, "0").as("icdcm_number"))
    }
    def provider(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("claim_header_id"),
        col("l_suppkey").as("provider_id_apcd"),
        when(col("l_linenumber") % 3 === 0, "rendering")
          .when(col("l_linenumber") % 3 === 1, "attending")
          .otherwise("billing").as("provider_type"))
    def npiRef(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "supplier").select(
        col("s_suppkey").as("provider_id_apcd"),
        (lit(1000000000L) + col("s_suppkey")).as("npi"))
    def providerMaster(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "supplier").select(
        (lit(1000000000L) + col("s_suppkey")).as("npi"),
        when(col("s_suppkey") % 7 === 0, "207Q00000X")
          .otherwise("208D00000X").as("primary_taxonomy"),
        when(col("s_suppkey") % 11 === 0, "207R00000X").as("secondary_taxonomy"))
    def pcRef(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(("99211", "cpt"), ("99212", "cpt"), ("99213", "cpt"),
        ("G0402", "hcpcs"), ("Z000", "icd10cm"), ("Z001", "icd10cm"),
        ("207Q00000X", "provider_taxonomy"), ("207R00000X", "provider_taxonomy"))
        .toDF("code", "code_system")
    }
    def statusRef(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(("O", 1), ("F", 5), ("P", 30)).toDF("claim_status_code", "claim_status_id")
    }
    def typeXwalk(s: SparkSession, dir: String): DataFrame = {
      val h = header(s, dir)
      h.select(col("claim_type_raw"), col("type_of_setting_id"),
          when(col("place_of_setting_id").isin(-1, -2), lit(null))
            .otherwise(col("place_of_setting_id")).as("pos"))
        .filter(col("pos").isNotNull).distinct()
        .select(concat(col("claim_type_raw").cast("string"), lit("."),
            col("type_of_setting_id").cast("string"), lit("."),
            col("pos").cast("string")).as("source_clm_type_id"),
          when(col("claim_type_raw") === 1, 1)
            .when(col("claim_type_raw") === 2, 4).otherwise(5)
            .cast("int").as("kc_clm_type_id"),
          lit("apcd").as("source_desc"))
    }
    /** Injury-flavored diagnosis rows (q143): ICD-9 codes spanning the
      * CDC ranges incl. the literal-'%' BETWEEN boundary quirks and the
      * 9093/9095 exclusions; ICD-10 codes from planted 6-char bases ×
      * a 7th-character qualifier cycle (A/B/C/D/'' — D is excluded by
      * the definition, '' is included). */
    def dxInjury(s: SparkSession, dir: String): DataFrame = {
      val pk = col("l_partkey")
      val ver = when(pk % 4 === 0, 9).otherwise(10)
      val suffix = when(pk % 5 === 0, "A").when(pk % 5 === 1, "B")
        .when(pk % 5 === 2, "C").when(pk % 5 === 3, "D").otherwise("")
      val icd9 = when(pk % 5 === 0,
          concat(lit("80"), lpad((pk % 99).cast("string"), 2, "0")))
        .when(pk % 5 === 1, lit("9093"))
        .when(pk % 5 === 2, concat(lit("9955"), (pk % 10).cast("string")))
        .when(pk % 5 === 3, concat(lit("9958"), (pk % 8).cast("string")))
        .otherwise(concat(lit("E95"), (pk % 10).cast("string")))
      val base10 = when(pk % 8 === 0, "S02100").when(pk % 8 === 1, "T24999")
        .when(pk % 8 === 2, "T39913").when(pk % 8 === 3, "T39995")
        .when(pk % 8 === 4, "T51230").when(pk % 8 === 5, "T79010")
        .when(pk % 8 === 6, "M97500").otherwise("O9A300")
      t(s, dir, "lineitem").select(
        col("l_orderkey").as("claim_header_id"),
        ver.as("icdcm_version"),
        when(ver === 9, icd9).otherwise(concat(base10, suffix))
          .as("icdcm_norm"),
        lpad(col("l_linenumber").cast("string"), 2, "0").as("icdcm_number"))
    }
    def causeRef(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(("T3991", 10, Some("unintentional"), Some("poisoning")),
        ("S0210", 10, Some("assault"), Some("struck")),
        ("9955", 9, Some("assault"), Some("other")),
        ("T79", 10, Some("unintentional"), Some("other")),
        ("M97", 10, None: Option[String], None: Option[String]))
        .toDF("icdcm", "icdcm_version", "intent", "mechanism")
    }
    def ccsRef(s: SparkSession, dir: String): DataFrame =
      dxInjury(s, dir).select(col("icdcm_norm").as("icdcm"),
          col("icdcm_version")).distinct()
        .withColumn("ccs_detail_desc",
          when(col("icdcm").startsWith("S02"), "Fracture; initial encounter")
            .when(col("icdcm").startsWith("T51"), "Burns")
            .when(col("icdcm").startsWith("T39"), "Crushing injury")
            .when(col("icdcm").startsWith("M97"), "Other specified injury")
            .when(col("icdcm").startsWith("T79"), "Spinal cord injury (SCI)")
            .when(col("icdcm").startsWith("T24"),
              "Superficial injury, initial encounter")
            .otherwise("Unclassified"))
    def icdRef(s: SparkSession, dir: String): DataFrame =
      dx(s, dir).select(col("icdcm_norm").as("icdcm"), col("icdcm_version"))
        .distinct()
        .withColumn("mh_any",
          when(col("icdcm").rlike("^F[23]"), 1).otherwise(0))
        .withColumn("sud_any",
          when(col("icdcm").rlike("^F1") ||
            (col("icdcm_version") === 9 && col("icdcm").startsWith("030")), 1)
            .otherwise(0))
        .filter(col("mh_any") === 1 || col("sud_any") === 1)

    /** Raw claim-line table for the q149 line build (the pre-exclusion
      * OnPoint extract). Admission/discharge slivers are planted so every
      * branch of the 2023-07-28 discharge correction fires: discharge <
      * admission, NULL admission with discharge < first_service, NULL
      * discharge, and the untouched pass-through. The `line_counter = 1`
      * rows are re-unioned by the query glue to exercise the DISTINCT. */
    def lineRaw(s: SparkSession, dir: String): DataFrame = {
      val fsd = to_date(col("l_shipdate"))
      val lsd = date_add(fsd, (col("l_suppkey") % 5).cast("int"))
      t(s, dir, "lineitem").select(
        (col("l_orderkey") % 400).as("id_apcd"),
        col("l_orderkey").as("claim_header_id"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("claim_line_id"),
        col("l_linenumber").as("line_counter"),
        fsd.as("first_service_dt"),
        lsd.as("last_service_dt"),
        round(col("l_extendedprice"), 2).as("charge_amt"),
        when(col("l_partkey") % 9 === 0,
            concat(lit("045"), (col("l_partkey") % 10).cast("string")))
          .otherwise(lpad((col("l_partkey") % 2000).cast("string"), 4, "0"))
          .as("revenue_code"),
        when(col("l_suppkey") % 11 === 0, "23")
          .otherwise(lpad((col("l_suppkey") % 32).cast("string"), 2, "0"))
          .as("place_of_service_code"),
        when(col("l_partkey") % 3 === 0, lit(null).cast("date"))
          .otherwise(date_sub(fsd, (col("l_partkey") % 4).cast("int")))
          .as("admission_dt"),
        when(col("l_partkey") % 7 === 0, date_sub(fsd, 5))
          .when(col("l_partkey") % 7 === 1, lit(null).cast("date"))
          .otherwise(date_add(lsd, (col("l_partkey") % 3).cast("int")))
          .as("discharge_dt"),
        lpad((col("l_partkey") % 30).cast("string"), 2, "0")
          .as("discharge_status_code"),
        (col("l_suppkey") % 9).cast("string")
          .as("admission_point_of_origin_code"),
        (lit(1) + col("l_orderkey") % 4).cast("int").as("admission_type"))
    }

    /** Raw dx rows for the q150 icdcm build: [[dx]]'s code formulas
      * widened with id/date columns and a dotted `icdcm_raw` (norm
      * strips the dot). */
    def dxRaw(s: SparkSession, dir: String): DataFrame = {
      val fsd = to_date(col("l_shipdate"))
      val ver = when(col("l_partkey") % 6 === 0, 9).otherwise(10)
      val norm = when(ver === 10 && col("l_partkey") % 5 === 0,
          concat(lit("Z00"), (col("l_partkey") % 4).cast("string")))
        .when(ver === 10,
          concat(lit("F"), lpad((col("l_partkey") % 400).cast("string"), 3, "0")))
        .otherwise(lpad((col("l_partkey") % 999).cast("string"), 4, "0"))
      t(s, dir, "lineitem").select(
        (col("l_orderkey") % 400).as("id_apcd"),
        col("l_orderkey").as("claim_header_id"),
        fsd.as("first_service_dt"),
        date_add(fsd, (col("l_suppkey") % 3).cast("int"))
          .as("last_service_dt"),
        when(length(norm) > 3,
            concat(substring(norm, 1, 3), lit("."), substring(norm, 4, 9)))
          .otherwise(norm).as("icdcm_raw"),
        norm.as("icdcm_norm"),
        ver.as("icdcm_version"),
        lpad(col("l_linenumber").cast("string"), 2, "0").as("icdcm_number"))
    }

    /** Raw procedure rows for the q151 build: [[proc]]'s codes widened
      * with id/date columns and a sparse consolidated modifier. */
    def procRaw(s: SparkSession, dir: String): DataFrame = {
      val fsd = to_date(col("l_shipdate"))
      t(s, dir, "lineitem").select(
        (col("l_orderkey") % 400).as("id_apcd"),
        col("l_orderkey").as("claim_header_id"),
        fsd.as("first_service_dt"),
        date_add(fsd, (col("l_suppkey") % 3).cast("int"))
          .as("last_service_dt"),
        when(col("l_partkey") % 17 === 0,
            concat(lit("9928"), (lit(1) + col("l_partkey") % 7).cast("string")))
          .when(col("l_partkey") % 17 === 1, "99291")
          .when(col("l_partkey") % 17 === 2,
            concat(lit("992"), (lit(11) + col("l_partkey") % 5).cast("string")))
          .otherwise(lpad((col("l_partkey") % 88888).cast("string"), 5, "0"))
          .as("procedure_code"),
        when(col("l_linenumber") % 4 === 0, "26")
          .when(col("l_linenumber") % 4 === 1, "TC")
          .as("modifier_code"))
    }

    /** Raw provider rows for the provider reshape: [[provider]] widened
      * with id/date/raw-id columns. */
    def providerRaw(s: SparkSession, dir: String): DataFrame = {
      val fsd = to_date(col("l_shipdate"))
      t(s, dir, "lineitem").select(
        (col("l_orderkey") % 400).as("id_apcd"),
        col("l_orderkey").as("claim_header_id"),
        fsd.as("first_service_dt"),
        date_add(fsd, (col("l_suppkey") % 3).cast("int"))
          .as("last_service_dt"),
        col("l_suppkey").as("provider_id_apcd"),
        concat(lit("RAW"), col("l_suppkey").cast("string"))
          .as("provider_id_raw_apcd"),
        when(col("l_linenumber") % 3 === 0, "rendering")
          .when(col("l_linenumber") % 3 === 1, "attending")
          .otherwise("billing").as("provider_type"))
    }

    /** Header-grain medical-claim slice with the four provider slots
      * (q317's source side — the columns qa_stage.apcd_claim_provider
      * .sql reads back from stage.apcd_medical_claim): billing always
      * present, rendering NULL on ok % 5, attending present only on
      * ok % 7, referring only on ok % 11. */
    def medicalClaim(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      val fsd = to_date(col("o_orderdate"))
      t(s, dir, "orders").select(
        (col("o_custkey") % 400).as("id_apcd"),
        ok.as("claim_header_id"),
        fsd.as("first_service_dt"),
        date_add(fsd, (ok % 4).cast("int")).as("last_service_dt"),
        (lit(9000) + ok % 150).cast("long")
          .as("billing_provider_internal_id"),
        when(ok % 5 === 0, lit(null).cast("long"))
          .otherwise((lit(7000) + (ok * 3) % 150).cast("long"))
          .as("rendering_internal_provider_id"),
        when(ok % 7 === 0, (lit(5000) + (ok * 7) % 150).cast("long"))
          .as("attending_internal_provider_id"),
        when(ok % 11 === 0, (lit(3000) + (ok * 11) % 150).cast("long"))
          .as("referring_internal_provider_id"))
    }

    /** The provider rows "as delivered" for the q317 audit: the
      * faithful slot unpivot of [[medicalClaim]] with two PLANTED
      * delivery defects so the battery's missing/extra arms genuinely
      * fire — rendering rows vanish on header % 37, billing ids are
      * off by one on header % 41 (missing + extra in the same breath).
      * attending/referring arrive clean, so their rows PASS. */
    def providerDelivered(s: SparkSession, dir: String): DataFrame = {
      val hid = col("claim_header_id")
      medicalClaim(s, dir).select(col("id_apcd"), hid,
          col("first_service_dt"), col("last_service_dt"),
          expr("""stack(4,
            'attending', attending_internal_provider_id,
            'billing', billing_provider_internal_id,
            'referring', referring_internal_provider_id,
            'rendering', rendering_internal_provider_id)
            AS (provider_type, provider_id)"""))
        .filter(col("provider_id").isNotNull)
        .filter(!(col("provider_type") === "rendering" && hid % 37 === 0))
        .select(col("id_apcd"), hid, col("first_service_dt"),
          col("last_service_dt"),
          when(col("provider_type") === "billing" && hid % 41 === 0,
            col("provider_id") + 1).otherwise(col("provider_id"))
            .as("provider_id_apcd"),
          (col("provider_id") + 500000).as("provider_id_raw_apcd"),
          col("provider_type"))
    }
  }

  /** §7.5.6 APCD claim header (q142): the reference's biggest-source
    * staging composition — denied/orphan exclusion, status/type-crosswalk
    * mapping, sentinel nulling, line/procedure/dx rollups, Oregon PC
    * visit via the provider-taxonomy chain, RDA + Yale ED flags,
    * inpatient flag, BH dx flags, per-person concept sequences, and the
    * 1-day Yale ED episode clustering. */
  def q142ApcdClaimHeader(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApcdClaimHeader.build(
        Apcd.header(s, dir), Apcd.line(s, dir), Apcd.proc(s, dir),
        Apcd.dx(s, dir), Apcd.provider(s, dir), Apcd.statusRef(s),
        Apcd.typeXwalk(s, dir), Apcd.npiRef(s, dir),
        Apcd.providerMaster(s, dir), Apcd.pcRef(s), Apcd.icdRef(s, dir),
        flagCols = Seq("cardiac_imaging_and_tests_flag", "telehealth_flag",
          "covid19_flag"))
      .orderBy(col("claim_header_id"))

  /** APCD claim-header QA battery (q246,
    * load_stage.apcd_claim_header.R:1105-1258 + the 10001 interactive
    * probes): distributed verdict counts over q142's staged frame —
    * header/raw reconciliation, elig membership, typed-claim and
    * discharge gates, per-person seq density, the Yale 1-day chain.
    * elig_demo covers every claim member (expect-0 holds); timevar
    * deliberately omits id 17 so the membership check FIRES. */
  def q246ApcdHeaderQa(s: SparkSession, dir: String): DataFrame = {
    val stage = graft.builds.ApcdClaimHeader.build(
      Apcd.header(s, dir), Apcd.line(s, dir), Apcd.proc(s, dir),
      Apcd.dx(s, dir), Apcd.provider(s, dir), Apcd.statusRef(s),
      Apcd.typeXwalk(s, dir), Apcd.npiRef(s, dir),
      Apcd.providerMaster(s, dir), Apcd.pcRef(s), Apcd.icdRef(s, dir),
      flagCols = Seq("cardiac_imaging_and_tests_flag", "telehealth_flag",
        "covid19_flag"))
    val eligDemo = t(s, dir, "customer")
      .select((col("c_custkey") % 400).as("id_apcd")).distinct()
    val eligTimevar = eligDemo.filter(col("id_apcd") =!= 17)
    graft.builds.ApcdHeaderQa.build(stage, Apcd.header(s, dir),
        eligDemo, eligTimevar)
      .orderBy(col("table"), col("qa_type"))
  }

  /** Quarterly-refresh QA census (q247,
    * qa_stage.apcd_all_tables_quarterly_refresh.sql:1-79): per-table
    * row/column census, pre-cutoff row monitors for the
    * last-12-months-overwritten tables (service-date AND paid-date
    * variants — the pharmacy quirk), per-extract date envelopes, and
    * the added-column non-null counts. Uniform verdict schema
    * (section, table_name, item, extract_id, n, d); every section is
    * one aggregate scan of its frame. */
  def q247QuarterlyRefreshQa(s: SparkSession, dir: String): DataFrame = {
    val hdr = Apcd.header(s, dir)
    val line = Apcd.line(s, dir)
    val pad = Seq(lit(null).cast("int").as("extract_id"),
      lit(null).cast("long").as("n"), lit(null).cast("date").as("d"))
    def countsRow(df: DataFrame, table: String, item: String,
        pred: org.apache.spark.sql.Column, section: String) =
      df.agg(sum(when(pred, 1L).otherwise(0L)).as("c"))
        .select(lit(section).as("section"), lit(table).as("table_name"),
          lit(item).as("item"), lit(null).cast("int").as("extract_id"),
          coalesce(col("c"), lit(0L)).as("n"),
          lit(null).cast("date").as("d"))
    val census = graft.qa.Qa.refreshCensus(Seq(
        "apcd_medical_claim_header" -> hdr,
        "apcd_medical_claim" -> line,
        "apcd_claim_procedure_raw" -> Apcd.proc(s, dir),
        "apcd_claim_icdcm_raw" -> Apcd.dx(s, dir),
        "apcd_claim_provider_raw" -> Apcd.provider(s, dir)))
      .select(col("section"), col("table_name"), col("item"),
        lit(null).cast("int").as("extract_id"), col("n"),
        lit(null).cast("date").as("d"))
    val cutoff = to_date(lit("1995-12-31"))
    val pre = Seq(
      countsRow(hdr, "apcd_medical_claim_header",
        "rows_first_service_le_cutoff",
        col("first_service_date") <= cutoff, "precutoff"),
      countsRow(hdr, "apcd_medical_claim_header",
        "rows_first_paid_le_cutoff",
        col("first_paid_date") <= cutoff, "precutoff"),
      countsRow(line, "apcd_medical_claim",
        "rows_discharge_le_cutoff",
        col("discharge_date") <= cutoff, "precutoff"))
    val withExtract = (df: DataFrame) => df.withColumn("extract_id",
      lit(1) + col("claim_header_id") % 4)
    val ext = Seq(
      graft.qa.Qa.extractDates(
        withExtract(hdr), "apcd_medical_claim_header",
        "first_service_date"),
      graft.qa.Qa.extractDates(
        withExtract(line), "apcd_medical_claim", "discharge_date"))
      .map(_.select(col("section"), col("table_name"), col("item"),
        col("extract_id"), lit(null).cast("long").as("n"), col("d")))
    // added-column non-null counts: the refresh introduced
    // submitted_claim_type_id / eci_diagnosis on the line feed
    val lineAdd = line
      .withColumn("submitted_claim_type_id",
        when(col("claim_header_id") % 3 === 0, 1))
      .withColumn("eci_diagnosis",
        when(col("claim_header_id") % 7 === 0, "E1"))
    val colAdd = Seq(
      countsRow(lineAdd, "apcd_medical_claim",
        "submitted_claim_type_id_nonnull",
        col("submitted_claim_type_id").isNotNull, "column_add"),
      countsRow(lineAdd, "apcd_medical_claim", "eci_diagnosis_nonnull",
        col("eci_diagnosis").isNotNull, "column_add"))
    (Seq(census) ++ pre ++ ext ++ colAdd).reduce(_ unionAll _)
      .orderBy(col("section"), col("table_name"), col("item"),
        col("extract_id"))
  }

  /** §7.5.6 APCD injury nature/cause classification (q143,
    * load_stage.apcd_claim_header.R step 9): CDC surveillance inclusion
    * on the distinct code vocabulary, prefix-join external-cause
    * intent/mechanism, rank-1 collapse to header grain, CCS nature-type
    * normalization. */
  def q143ApcdInjury(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApcdInjury.build(Apcd.dxInjury(s, dir),
        Apcd.causeRef(s), Apcd.ccsRef(s, dir))
      .orderBy(col("claim_header_id"))

  /** §7.5.7 naloxone events (q144, load_stage.mcaid_claim_naloxone.R):
    * NDC contains-expansion over the distinct pharmacy vocabulary,
    * pharmacy fills with form/dosage classification from the NDC dim,
    * procedure-billed naloxone with the J3490 modifier gate, union
    * distinct. Year floor scaled to the fixture's 1992-1998 epoch. */
  def q144Naloxone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"),
          (col("o_custkey") % 70).as("id_mcaid")),
        col("l_orderkey") === col("o_orderkey"))
    val pk = col("l_partkey")
    val pharm = li.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 13 === 0, "00093216519").when(pk % 13 === 1, "55150034510")
        .when(pk % 13 === 2, "55150032710")
        .when(pk % 13 === 3, "00409121525")
        .when(pk % 13 === 4, "012345678901")
        .when(pk % 13 === 5, "12345678901")
        .otherwise(lpad(pk.cast("string"), 11, "0")).as("ndc"),
      to_date(col("l_shipdate")).as("rx_fill_date"),
      when(pk % 7 === 0, 0.5).otherwise((lit(1) + pk % 5).cast("double"))
        .as("rx_quantity"))
    val proc = li.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 9 === 0, "G1028").when(pk % 9 === 1, "G2215")
        .when(pk % 9 === 2, "G2216").when(pk % 9 === 3, "J2310")
        .when(pk % 9 === 4, "J2311").when(pk % 9 === 5, "J2312")
        .when(pk % 9 === 6, "J3490")
        .otherwise(lpad((pk % 88888).cast("string"), 5, "0"))
        .as("procedure_code"),
      when(col("l_suppkey") % 3 === 0, "HG")
        .when(col("l_suppkey") % 3 === 1, "TG").otherwise("XX")
        .as("modifier_code"),
      to_date(col("l_shipdate")).as("last_service_date"))
    val ndcList = Seq("00093216519", "55150034510", "55150032710",
      "00409121525", "12345678901").toDF("ndc")
    val ndcCodes = Seq(
      ("00093216519", "Narcan Nasal", "NASAL SPRAY", 4.0, "mg/.1mL"),
      ("55150034510", "Naloxone HCl", "SOLUTION FOR INJECTION", 1.0, "mg/mL"),
      ("55150032710", "Naloxone HCl", "SOLUTION FOR INJECTION", 0.4, "mg/mL"),
      ("00409121525", "Naloxone HCl", "INJECTION, SOLUTION", 0.4, "mg/mL"),
      ("12345678901", "Generic Nalox", "SOLUTION", 2.0, "mg/.1mL"),
      ("012345678901", "Wrapped Nalox", "SPRAY SOLUTION", 8.0, "oddunit"))
      .toDF("ndc", "proprietaryname", "dosageformname",
        "active_numerator_strength", "active_ingred_unit")
    val procDesc = Seq(
      ("G1028", "Naloxone nasal 8mg"), ("G2215", "Naloxone nasal 4mg"),
      ("G2216", "Naloxone injection"), ("J2310", "Injection naloxone"),
      ("J2311", "Injection naloxone 1mg"),
      ("J2312", "Injection naloxone 0.5mg"), ("J3490", "Unclassified drug"))
      .toDF("procedure_code", "procedure_long_desc")
    graft.builds.ClaimNaloxone.build(pharm, proc, ndcList, ndcCodes,
        procDesc, minYear = 1996)
      .orderBy(col("id_mcaid"), col("claim_header_id"), col("code"),
        col("location"), col("event_date"))
  }

  /** mcare naloxone events (q226, load_stage.mcare_claim_naloxone.R):
    * the q144 build over the mcare sources — same NDC contains-
    * expansion, dosage classification, J3490 HG/TG modifier gate, and
    * the SAME fixture (incl. planted J2312 rows) so the one semantic
    * difference is visible in the hash: mcare's procedure list drops
    * J2312. Output id aliased to id_mcare. */
  def q226McareNaloxone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"),
          (col("o_custkey") % 70).as("id_mcaid")),
        col("l_orderkey") === col("o_orderkey"))
    val pk = col("l_partkey")
    val pharm = li.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 13 === 0, "00093216519").when(pk % 13 === 1, "55150034510")
        .when(pk % 13 === 2, "55150032710")
        .when(pk % 13 === 3, "00409121525")
        .when(pk % 13 === 4, "012345678901")
        .when(pk % 13 === 5, "12345678901")
        .otherwise(lpad(pk.cast("string"), 11, "0")).as("ndc"),
      to_date(col("l_shipdate")).as("rx_fill_date"),
      when(pk % 7 === 0, 0.5).otherwise((lit(1) + pk % 5).cast("double"))
        .as("rx_quantity"))
    val proc = li.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 9 === 0, "G1028").when(pk % 9 === 1, "G2215")
        .when(pk % 9 === 2, "G2216").when(pk % 9 === 3, "J2310")
        .when(pk % 9 === 4, "J2311").when(pk % 9 === 5, "J2312")
        .when(pk % 9 === 6, "J3490")
        .otherwise(lpad((pk % 88888).cast("string"), 5, "0"))
        .as("procedure_code"),
      when(col("l_suppkey") % 3 === 0, "HG")
        .when(col("l_suppkey") % 3 === 1, "TG").otherwise("XX")
        .as("modifier_code"),
      to_date(col("l_shipdate")).as("last_service_date"))
    val ndcList = Seq("00093216519", "55150034510", "55150032710",
      "00409121525", "12345678901").toDF("ndc")
    val ndcCodes = Seq(
      ("00093216519", "Narcan Nasal", "NASAL SPRAY", 4.0, "mg/.1mL"),
      ("55150034510", "Naloxone HCl", "SOLUTION FOR INJECTION", 1.0, "mg/mL"),
      ("55150032710", "Naloxone HCl", "SOLUTION FOR INJECTION", 0.4, "mg/mL"),
      ("00409121525", "Naloxone HCl", "INJECTION, SOLUTION", 0.4, "mg/mL"),
      ("12345678901", "Generic Nalox", "SOLUTION", 2.0, "mg/.1mL"),
      ("012345678901", "Wrapped Nalox", "SPRAY SOLUTION", 8.0, "oddunit"))
      .toDF("ndc", "proprietaryname", "dosageformname",
        "active_numerator_strength", "active_ingred_unit")
    val procDesc = Seq(
      ("G1028", "Naloxone nasal 8mg"), ("G2215", "Naloxone nasal 4mg"),
      ("G2216", "Naloxone injection"), ("J2310", "Injection naloxone"),
      ("J2311", "Injection naloxone 1mg"),
      ("J2312", "Injection naloxone 0.5mg"), ("J3490", "Unclassified drug"))
      .toDF("procedure_code", "procedure_long_desc")
    graft.builds.ClaimNaloxone.build(pharm, proc, ndcList, ndcCodes,
        procDesc, minYear = 1996,
        injCodes = graft.builds.ClaimNaloxone.McareInjCodes)
      .withColumnRenamed("id_mcaid", "id_mcare")
      .orderBy(col("id_mcare"), col("claim_header_id"), col("code"),
        col("location"), col("event_date"))
  }

  /** §2.9 AMR asthma-medication-ratio measure (q145,
    * load_stage.mcaid_perf_measure_amr.R): two measurement years so the
    * persistent-asthma prior-year self-join genuinely fires; all five
    * pharmacy event buckets, the dx_needed/dx_made rule, respiratory
    * exclusions, and the controller/(controller+reliever) ratio with
    * its >= 0.5 numerator cut. */
  def q145Amr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "customer")
      .select((col("c_custkey") % 120).as("id_mcaid")).distinct()
    def popFor(em: String, ym: Int, beg: Int) = ids.select(col("id_mcaid"),
      lit(ym).as("year_month"), to_date(lit(em)).as("end_month"),
      (col("id_mcaid") % 80).cast("int").as("end_month_age"),
      (lit(9) + col("id_mcaid") % 4).cast("int").as("full_benefit_t_12_m"),
      (col("id_mcaid") % 17 === 0).cast("int").as("dual_t_12_m"),
      lit(beg).as("beg_measure_year_month"))
    val pop = popFor("1996-12-31", 199612, 199601)
      .unionByName(popFor("1997-12-31", 199712, 199701))
    val ok = col("o_orderkey")
    val header = t(s, dir, "orders").select(
      (col("o_custkey") % 120).as("id_mcaid"),
      ok.as("claim_header_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      (ok % 11 === 0).cast("int").as("ed_perform"),
      (ok % 12 === 0).cast("int").as("inpatient"))
    val li = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"),
          (col("o_custkey") % 120).as("id_mcaid")),
        col("l_orderkey") === col("o_orderkey"))
    val pk = col("l_partkey")
    val dx = li.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 10 === 0, "J4540").when(pk % 10 === 1, "49390")
        .when(pk % 10 === 2, "J440").when(pk % 10 === 3, "4912")
        .otherwise(lpad((pk % 900).cast("string"), 4, "0")).as("icdcm_norm"),
      when(pk % 10 === 1 || pk % 10 === 3, 9).otherwise(10)
        .as("icdcm_version"),
      lpad(col("l_linenumber").cast("string"), 2, "0").as("icdcm_number"))
    val proc = li.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 6 === 0, "99213").when(pk % 6 === 1, "99214")
        .otherwise(lpad((pk % 88888).cast("string"), 5, "0"))
        .as("procedure_code"))
    val pharm = li.select(col("id_mcaid"),
      when(pk % 11 < 7,
          concat(lit("1000000000"), (lit(1) + pk % 11).cast("string")))
        .otherwise(concat(lit("9"), lpad(pk.cast("string"), 10, "0")))
        .as("ndc"),
      to_date(col("l_shipdate")).as("rx_fill_date"),
      (lit(1) + pk % 60).cast("int").as("rx_days_supply"),
      (lit(1) + pk % 20).cast("double").as("rx_quantity"))
    val valueSets = Seq(
      ("Asthma", "J4540", "ICD10CM"), ("Asthma", "49390", "ICD9CM"),
      ("COPD", "J440", "ICD10CM"),
      ("Obstructive Chronic Bronchitis", "4912", "ICD9CM"),
      ("Outpatient", "99213", "CPT"), ("Outpatient", "99214", "CPT"))
      .toDF("value_set_name", "code", "code_system")
    val medLists = Seq(
      ("Asthma Controller Medications", "10000000001", "NDC",
        "montelukast", "oral", "Leukotriene modifiers", None),
      ("Asthma Controller Medications", "10000000002", "NDC",
        "theophylline", "oral", "Methylxanthines", None),
      ("Asthma Controller Medications", "10000000003", "NDC",
        "fluticasone", "inhalation", "Inhaled corticosteroids", None),
      ("Asthma Controller Medications", "10000000004", "NDC",
        "omalizumab", "subcutaneous", "Antibody inhibitor", Some(5.0)),
      ("Asthma Controller Medications", "10000000005", "NDC",
        "reslizumab", "intravenous", "Interleukin antagonist", Some(10.0)),
      ("Asthma Reliever Medications", "10000000006", "NDC",
        "albuterol", "inhalation", "SABA", None),
      ("Asthma Reliever Medications", "10000000007", "NDC",
        "levalbuterol", "inhalation", "SABA", None))
      .toDF("medication_list_name", "code", "code_system",
        "generic_product_name", "route", "drug_class", "package_size")
    val ageGrp = pop.select(col("end_month_age").as("age")).distinct()
      .withColumn("age_grp_10", concat(
        (floor(col("age") / 10) * 10).cast("int").cast("string"), lit("-"),
        (floor(col("age") / 10) * 10 + 9).cast("int").cast("string")))
    graft.builds.AmrMeasure.build(pop, header, dx, proc, pharm,
        valueSets, medLists, ageGrp,
        endMonths = Seq("1996-12-31", "1997-12-31"))
      .orderBy(col("id_mcaid"), col("end_month"))
  }

  /** Shared q146/q280/q281 address fixture: the distinct raw stage
    * addresses (geo_hash_raw minted, the `k` derivation column kept for
    * slicing) and the manual-correction table. One copy, so the three
    * address-chain queries cannot drift (the q186/q187 shared-frame
    * discipline). */
  private def addressFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val k = col("k")
    val base = t(s, dir, "customer")
      .select((col("c_custkey") % 300).as("k")).distinct()
    val raw = base.select(k,
      when(k % 11 === 0, concat(lit("#"), (lit(100) + k % 90).cast("string")))
        .when(k % 7 === 0, concat(lit("P O BOX  "), (k % 500).cast("string")))
        .otherwise(concat((k % 900).cast("string"), lit("  MAIN ST")))
        .as("geo_add1_raw"),
      when(k % 5 === 0, concat(lit("APT "), (k % 20).cast("string")))
        .as("geo_add2_raw"),
      concat(lit("city"), (k % 40).cast("string")).as("geo_city_raw"),
      when(k % 3 === 0, "wa").otherwise("OR").as("geo_state_raw"),
      lpad((k % 999).cast("string"), 5, "0").as("geo_zip_raw"))
    val stage = raw.withColumn("geo_hash_raw",
      upper(sha2(concat_ws("|",
        coalesce(col("geo_add1_raw"), lit("")),
        coalesce(col("geo_add2_raw"), lit("")), lit(""),
        col("geo_city_raw"), col("geo_state_raw"), col("geo_zip_raw")), 256)))
    val manual = raw.filter(k % 13 === 1).select(
      col("geo_add1_raw"), col("geo_add2_raw"), col("geo_city_raw"),
      col("geo_state_raw"), col("geo_zip_raw"),
      concat(lit("FIXED "), k.cast("string")).as("geo_add1_clean"),
      lit(null).cast("string").as("geo_add2_clean"),
      lit("FIXEDCITY").as("geo_city_clean"),
      lit("WA").as("geo_state_clean"),
      col("geo_zip_raw").as("geo_zip_clean"))
    (stage, manual)
  }

  /** §7.5.8 address clean stage (q146,
    * load_stage.address_clean_partial.R): hash anti-join new-address
    * detection, deterministic stand-in cleaner, '#'/PO-box folding
    * rules, NULL-safe manual overrides, SHA-256 identity hashes. */
  def q146AddressClean(s: SparkSession, dir: String): DataFrame = {
    val (stage, manual) = addressFixture(s, dir)
    val ref = stage.filter(col("k") % 4 === 0).select(col("geo_hash_raw"))
    graft.builds.AddressClean.build(stage.drop("k"), ref, manual)
      .orderBy(col("geo_hash_raw"))
  }

  /** §5 address-clean partial-refresh QA battery (q280,
    * qa_stage.address_clean_partial.R:50-132): after a partial refresh
    * loads stage.address_clean = ref.address_clean + the cleaned
    * increment, the battery checks (1) row-count monotonicity — stage
    * strictly gaining on ref PASSes, fewer rows FAILs — with the
    * reference's verbatim note strings INCLUDING its quirk that the
    * FAIL note renders the NEGATIVE stage-minus-ref difference inside
    * "... fewer rows ..." (R glue interpolates rows_stage - rows_ref in
    * both branches); (2) positional field-name equality between the
    * two tables (the TOP(0) column-name compare). The prior ref table
    * is the q146 build over the k%4 slice with an empty ref (the
    * previously-cleaned full-schema table the hash-only q146 ref
    * stands for); the increment is exactly q146's output. Both checks
    * are one distributed count each; verdict rows only. */
  def q280AddressCleanPartialQa(s: SparkSession, dir: String): DataFrame = {
    val (stage, manual) = addressFixture(s, dir)
    val emptyRef = stage.select(col("geo_hash_raw")).limit(0)
    val priorRef = graft.builds.AddressClean.build(
      stage.filter(col("k") % 4 === 0).drop("k"), emptyRef, manual)
    val increment = graft.builds.AddressClean.build(stage.drop("k"),
      priorRef.select(col("geo_hash_raw")), manual)
    val newStage = priorRef.unionByName(increment)
    graft.qa.Qa.stageVsRefQa(newStage, priorRef, "stage.address_clean")
      .orderBy(col("qa_item"))
  }

  /** Deterministic ESRI/HERE response stand-ins for a geocode-grain
    * address list — the q147 generator formulas keyed on the numeric
    * ZIP (the external geocoders don't exist here; the chain around
    * them is the real surface). */
  private def geoResponses(addr: DataFrame): (DataFrame, DataFrame) = {
    val k = coalesce(col("geo_zip_clean").cast("int"), lit(0))
    val esri = addr.select(col("geo_add1_clean"), col("geo_city_clean"),
      col("geo_state_clean"), col("geo_zip_clean"),
      k.as("_kc"),
      when(k % 5 === 0, "zip_5_digit_gc")
        .when(k % 5 === 1, lit(null).cast("string"))
        .otherwise("street_gc").as("loc_name"),
      when(k % 7 === 0, "U").otherwise("M").as("status"),
      when(k % 9 === 0, concat(col("geo_add1_clean"), lit(", "),
          col("geo_city_clean"), lit(", "), col("geo_state_clean"),
          lit(", USA")))
        .otherwise(concat(col("geo_add1_clean"), lit(", "),
          col("geo_city_clean"), lit(", "), col("geo_state_clean"),
          lit(" "), col("geo_zip_clean"))).as("match_addr"),
      round(lit(-122.0) - (k % 500) / 1000.0, 4).as("esri_lon"),
      round(lit(47.0) + (k % 500) / 1000.0, 4).as("esri_lat"))
    val kc = col("_kc")
    val here = esri
      .filter((col("status") === "U" || col("loc_name") === "zip_5_digit_gc"
        || col("loc_name").isNull) && kc % 10 < 6)
      .select(col("geo_add1_clean"), col("geo_city_clean"),
        col("geo_state_clean"), col("geo_zip_clean"),
        when(kc % 4 === 0, "houseNumber").when(kc % 4 === 1, "street")
          .when(kc % 4 === 2, "postalCode").otherwise("district")
          .as("address_type"),
        concat(col("geo_add1_clean"), lit(", "), col("geo_city_clean"),
          lit(", "), col("geo_zip_clean"), lit(", USA"))
          .as("formatted_address"),
        round(lit(-121.0) - (kc % 500) / 1000.0, 4).as("here_lon"),
        round(lit(46.0) + (kc % 500) / 1000.0, 4).as("here_lat"))
    (esri.drop("_kc", "status"), here)
  }

  /** §7.5.8 composed geocode-side address chain (q281,
    * load_stage.address_clean_geocode.R:40-129): DISTINCT stage
    * addresses hash-anti-joined against the ref table (the new-address
    * detection), the cleaning-service stand-in (the q146 build), the
    * geocode attach over the GEOCODE grain (geo_hash_geocode — clean
    * minus add2, so two units at one street address geocode once), and
    * the ref.address_geocode upsert: prior rows pass through, only
    * geocode-grain addresses NOT yet in the ref insert. The reference's
    * log gate (upload-log nrow = addresses exported for cleaning,
    * geocode-log nrow = rows added to ref.address_geocode, checked
    * upload → clean → geocode in timestamp order) rides as the
    * log_clean_n / log_geocode_n accounting columns.
    *
    * Scale: address-vocabulary-sized frames throughout (DISTINCT
    * first); the upsert is one geocode-hash anti-join; the log values
    * are two counts broadcast back as literals. */
  def q281AddressGeocodeChain(s: SparkSession, dir: String): DataFrame = {
    val (stage, manual) = addressFixture(s, dir)
    val emptyRef = stage.select(col("geo_hash_raw")).limit(0)
    val priorRef = graft.builds.AddressClean.build(
      stage.filter(col("k") % 4 === 0).drop("k"), emptyRef, manual)
    val increment = graft.builds.AddressClean.build(stage.drop("k"),
      priorRef.select(col("geo_hash_raw")), manual)
    val gkeys = Seq("geo_add1_clean", "geo_city_clean",
      "geo_state_clean", "geo_zip_clean")
    def geoInput(df: DataFrame) = df.select(gkeys.map(col): _*).distinct()
    // geo_hash_geocode is a pure function of the four geocode-grain
    // keys (AddressClean.withHashes), so recomputing it after the
    // attach avoids a NULL-hostile join-back
    val ghash = upper(sha2(concat_ws("|",
      gkeys.map(c => coalesce(col(c), lit(""))): _*), 256))
    def attach(in: DataFrame) = {
      val (esri, here) = geoResponses(in)
      graft.builds.AddressClean.geocodeAttach(esri, here)
        .withColumn("geo_hash_geocode", ghash)
    }
    val priorGeo = attach(geoInput(priorRef))
    val newGeo = attach(geoInput(increment))
      .join(priorGeo.select(col("geo_hash_geocode")),
        Seq("geo_hash_geocode"), "left_anti")
    val nClean = increment.count()
    val nGeo = newGeo.count()
    priorGeo.withColumn("is_new", lit(0))
      .unionByName(newGeo.withColumn("is_new", lit(1)))
      .withColumn("log_clean_n", lit(nClean))
      .withColumn("log_geocode_n", lit(nGeo))
      .orderBy(col("geo_hash_geocode"))
  }

  /** §7.5.8 geocode attach (q147, load_stage.address_geocode.R):
    * ESRI-first / HERE-fallback source selection, centroid flags,
    * regex ZIP harvest (with the reference's leading-space artifact on
    * the HERE side), coordinate pick. */
  def q147AddressGeocode(s: SparkSession, dir: String): DataFrame = {
    val k = col("k")
    val base = t(s, dir, "customer")
      .select((col("c_custkey") % 250).as("k")).distinct()
    val addr = base.select(k,
      concat(k.cast("string"), lit(" MAIN STREET")).as("geo_add1_clean"),
      concat(lit("CITY"), (k % 40).cast("string")).as("geo_city_clean"),
      when(k % 3 === 0, "WA").otherwise("OR").as("geo_state_clean"),
      lpad((k % 999).cast("string"), 5, "0").as("geo_zip_clean"))
    val esri = addr.select(k, col("geo_add1_clean"), col("geo_city_clean"),
      col("geo_state_clean"), col("geo_zip_clean"),
      when(k % 5 === 0, "zip_5_digit_gc")
        .when(k % 5 === 1, lit(null).cast("string"))
        .otherwise("street_gc").as("loc_name"),
      when(k % 7 === 0, "U").otherwise("M").as("status"),
      when(k % 9 === 0, concat(col("geo_add1_clean"), lit(", "),
          col("geo_city_clean"), lit(", "), col("geo_state_clean"),
          lit(", USA")))
        .otherwise(concat(col("geo_add1_clean"), lit(", "),
          col("geo_city_clean"), lit(", "), col("geo_state_clean"),
          lit(" "), col("geo_zip_clean"))).as("match_addr"),
      round(lit(-122.0) - (k % 500) / 1000.0, 4).as("esri_lon"),
      round(lit(47.0) + (k % 500) / 1000.0, 4).as("esri_lat"))
    val here = esri
      .filter((col("status") === "U" || col("loc_name") === "zip_5_digit_gc"
        || col("loc_name").isNull) && k % 10 < 6)
      .select(col("geo_add1_clean"), col("geo_city_clean"),
        col("geo_state_clean"), col("geo_zip_clean"),
        when(k % 4 === 0, "houseNumber").when(k % 4 === 1, "street")
          .when(k % 4 === 2, "postalCode").otherwise("district")
          .as("address_type"),
        concat(col("geo_add1_clean"), lit(", "), col("geo_city_clean"),
          lit(", "), col("geo_zip_clean"), lit(", USA"))
          .as("formatted_address"),
        round(lit(-121.0) - (k % 500) / 1000.0, 4).as("here_lon"),
        round(lit(46.0) + (k % 500) / 1000.0, 4).as("here_lat"))
    graft.builds.AddressClean.geocodeAttach(esri.drop("k"), here)
      .orderBy(col("geo_add1_clean"), col("geo_city_clean"),
        col("geo_state_clean"), col("geo_zip_clean"))
  }

  /** §7.5.9 housing status periods (q148,
    * load_stage.mcaid_housing_status.R): Z-code pull, month-period range
    * join, address-substring flag, status/source classification, and the
    * per-period conflict collapse. */
  def q148HousingStatus(s: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    val eligMonth = t(s, dir, "orders").select(
        (col("o_custkey") % 100).as("id_mcaid"),
        trunc(d, "month").as("from_date"),
        last_day(d).as("to_date")).distinct()
      .withColumn("geo_add1",
        when((col("id_mcaid") + month(col("from_date"))) % 9 === 0,
          "123 HOMELESS SHELTER")
          .otherwise(concat(col("id_mcaid").cast("string"),
            lit(" MAIN ST"))))
      .withColumn("geo_add2",
        when((col("id_mcaid") + month(col("from_date"))) % 25 === 0,
          "HOMELESS"))
    val pk = col("l_partkey")
    val icdcm = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"),
          (col("o_custkey") % 100).as("id_mcaid")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("id_mcaid"),
        to_date(col("l_shipdate")).as("first_service_date"),
        when(pk % 23 === 0, "Z590").when(pk % 23 === 1, "Z5900")
          .when(pk % 23 === 2, "Z5901").when(pk % 23 === 3, "Z5902")
          .when(pk % 23 === 4, "Z591").when(pk % 23 === 5, "Z5910")
          .when(pk % 23 === 6, "Z5919").when(pk % 23 === 7, "Z59811")
          .when(pk % 23 === 8, "Z59812")
          .otherwise(concat(lit("A"), lpad((pk % 900).cast("string"), 3, "0")))
          .as("icdcm_norm"))
    graft.builds.HousingStatus.build(eligMonth, icdcm)
      .orderBy(col("id_mcaid"), col("from_date"), col("housing_status"),
        col("housing_status_source"))
  }

  /** §7.5.6 APCD claim line (q149, load_stage.apcd_claim_line.R):
    * denied/orphan LEFT-SEMI gate, the 2023-07-28 discharge-date
    * correction, and the line-grain DISTINCT — exercised against planted
    * duplicate rows (the `line_counter = 1` sliver re-unioned). */
  def q149ApcdClaimLine(s: SparkSession, dir: String): DataFrame = {
    val raw = Apcd.lineRaw(s, dir)
    graft.builds.ApcdClaimDetail.line(
        raw.unionAll(raw.filter(col("line_counter") === 1)),
        Apcd.header(s, dir))
      .orderBy(col("claim_header_id"), col("claim_line_id"))
  }

  /** §7.5.6 APCD claim icdcm header (q150,
    * load_stage.apcd_claim_icdcm_header.R): dx-grain raw/norm/version/
    * number projection under the denied/orphan gate. */
  def q150ApcdClaimIcdcm(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApcdClaimDetail.icdcm(Apcd.dxRaw(s, dir),
        Apcd.header(s, dir))
      .orderBy(col("claim_header_id"), col("icdcm_number"),
        col("icdcm_norm"))

  /** §7.5.6 APCD claim procedure (q151,
    * load_stage.apcd_claim_procedure.R): procedure + consolidated
    * modifier under the denied/orphan gate. */
  def q151ApcdClaimProcedure(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApcdClaimDetail.procedure(Apcd.procRaw(s, dir),
        Apcd.header(s, dir))
      .orderBy(col("claim_header_id"), col("procedure_code"),
        col("modifier_code"), col("last_service_date"))

  /** §7.5.6 APCD claim provider (q316,
    * load_stage.apcd_claim_provider.R:15-24 via the raw loader
    * load_load_raw.apcd_claim_provider_raw_full.R): the provider-slot
    * table arrives long from the APCD, so the stage build is a pure
    * rename projection — no exclusion join (the one detail extract the
    * reference does NOT gate on denied/orphan). Pinned as its own row
    * so the provider grain has a contract like line/dx/procedure do. */
  def q316ApcdClaimProvider(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApcdClaimDetail.provider(Apcd.providerDelivered(s, dir))
      .orderBy(col("claim_header_id"), col("provider_type"),
        col("provider_id_apcd"))

  /** Synthetic APCD eligibility-side frames (q152): member months from a
    * customer × 14-month spine (crossing a year boundary so the T-SQL
    * Dec→Jan `89` contiguity branch fires), with planted gaps,
    * single-month persons (id % 11), age-90 top-coded persons (id % 13),
    * and a gender cycle that includes 'U' and NULL months; eligibility
    * race rows from orders with out-of-domain race/hispanic codes and
    * two ethnicity columns against a partial ethnicity→race map. */
  private[graft] object ApcdElig {
    def memberMonth(s: SparkSession, dir: String): DataFrame = {
      val id = col("id_apcd")
      t(s, dir, "customer")
        .select(col("c_custkey").as("id_apcd"))
        .select(id, explode(sequence(lit(1), lit(14))).as("m"))
        .filter(when(id % 11 === 0, col("m") === 6)
          .otherwise((id + col("m")) % 5 =!= 0))
        .withColumn("ms", add_months(to_date(lit("2020-01-01")), col("m") - 1))
        .withColumn("dob_true",
          add_months(to_date(lit("1950-01-01")), (id % 600).cast("int")))
        .select(id,
          date_format(col("ms"), "yyyyMM").as("year_month"),
          when(id % 13 === 0, 90)
            .otherwise(floor(months_between(col("ms"), col("dob_true")) / 12)
              .cast("int")).as("age"),
          when((id + col("m")) % 17 === 0, "U")
            .when(id % 4 === 0, "F")
            .when(id % 4 === 1, "M")
            .when(id % 4 === 2, when(col("m") % 2 === 0, "F").otherwise("M"))
            .as("gender_code"))
    }
    def eligibility(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      // custkey % 31 == 0 members are pinned single-race-Black +
      // hispanic on EVERY row (ethnicity ids pushed out of the map's
      // domain), so the "multiple only because Latino is counted"
      // person-level category (qa_stage.apcd_elig_demo.sql's
      // 11671583225 exemplar) exists at every scale.
      val pinned = col("o_custkey") % 31 === 0
      t(s, dir, "orders").select(
        ok.as("eligibility_id"),
        col("o_custkey").as("id_apcd"),
        date_add(to_date(col("o_orderdate")), (ok % 300).cast("int"))
          .as("eligibility_end_dt"),
        when(pinned, 3).otherwise(ok % 9).cast("int").as("race_id1"),
        when(pinned, lit(3))
          .otherwise(expr("(o_orderkey div 7) % 7")).cast("int")
          .as("race_id2"),
        when(pinned, 1).otherwise(ok % 4).cast("int").as("hispanic_id"),
        when(pinned, 23).otherwise(ok % 12).cast("int")
          .as("ethnicity_id1"),
        when(pinned, lit(24))
          .otherwise(expr("(o_orderkey div 5) % 12")).cast("int")
          .as("ethnicity_id2"))
    }
    def ethMap(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq((1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (6, 8), (7, 8), (8, 2),
        (9, 5)).toDF("ethnicity_id", "race_id")
    }
  }

  /** Synthetic combined-source BH frames (q153): id_apde-grain claim
    * facts (the BH build consumes the FINAL combined tables — the
    * crosswalk union mechanics are pinned separately by q139-q141) with
    * planted RDA value-set hits: depression/anxiety dx + NDC evidence,
    * OUD dx/NDC/MOUD-procedure claims (H0020 requires primary-OUD via the
    * header, J0571 does not), and noise codes on every axis. */
  private[graft] object Bh {
    private def fact(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"),
            (lit(1000) + col("o_custkey") % 90).as("id_apde")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("id_apde"), col("l_orderkey").as("claim_header_id"),
          col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          to_date(col("l_shipdate")).as("fsd"))
    def icdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("pk")
      val ver = when(pk % 6 === 0, 9).otherwise(10)
      fact(s, dir).select(col("id_apde"), col("claim_header_id"),
        when(ver === 9,
            when(pk % 11 === 0, "29620").when(pk % 11 === 1, "30400")
              .otherwise(lpad((pk % 999).cast("string"), 5, "0")))
          .otherwise(
            when(pk % 11 === 0, "F329").when(pk % 11 === 1, "F411")
              .when(pk % 11 === 2, "F1120")
              .otherwise(concat(lit("G"),
                lpad((pk % 400).cast("string"), 3, "0"))))
          .as("icdcm_norm"),
        ver.as("icdcm_version"),
        col("fsd").as("first_service_date"))
    }
    def pharm(s: SparkSession, dir: String): DataFrame =
      fact(s, dir).select(col("id_apde"), col("claim_header_id"),
        when(col("sk") % 9 === 0, "11111111111")
          .when(col("sk") % 9 === 1, "22222222222")
          .when(col("sk") % 9 === 2, "33333333333")
          .otherwise(lpad((col("sk") * 7).cast("string"), 11, "0"))
          .as("ndc"),
        date_add(col("fsd"), 2).as("rx_fill_date"))
    def proc(s: SparkSession, dir: String): DataFrame =
      fact(s, dir).select(col("id_apde"), col("claim_header_id"),
        when(col("pk") % 13 === 0, "H0020")
          .when(col("pk") % 13 === 1, "J0571")
          .otherwise(lpad((col("pk") % 88888).cast("string"), 5, "0"))
          .as("procedure_code"),
        col("fsd").as("first_service_date"))
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(ok.as("claim_header_id"),
        when(ok % 15 === 0, "F1120").when(ok % 15 === 1, "30400")
          .otherwise("I10").as("primary_diagnosis"),
        when(ok % 15 === 1, 9).otherwise(10).as("icdcm_version"))
    }
    def ref(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(
        ("bh_depression", "ICD9CM", "29620", Some(9), "rda-bh", None),
        ("bh_depression", "ICD10CM", "F329", Some(10), "rda-bh", None),
        ("bh_anxiety", "ICD10CM", "F411", Some(10), "rda-bh", None),
        ("bh_depression", "NDC", "11111111111", None, "rda-ndc", None),
        ("bh_anxiety", "NDC", "22222222222", None, "rda-ndc", None),
        ("sud_opioid", "ICD9CM", "30400", Some(9), "rda-bh", None),
        ("sud_opioid", "ICD10CM", "F1120", Some(10), "rda-bh", None),
        ("sud_opioid", "NDC", "33333333333", None, "rda-ndc", None),
        ("sud_opioid", "HCPCS", "H0020", None, "apde-moud-procedure",
          Some(1)),
        ("sud_opioid", "HCPCS", "J0571", None, "apde-moud-procedure",
          Some(0)))
        .toDF("sub_group_condition", "code_set", "code", "icdcm_version",
          "value_set_name", "oud_dx1_flag")
    }
  }

  /** §7.5.10 combined mcaid+mcare claim_bh (q153,
    * scripts_general/claim_bh.R instantiated with the mcaid_mcare
    * dispatch: id_apde + rx_fill_date): non-OUD condition encounter
    * spans from dx/NDC value-set evidence, plus the OUD
    * condition-specific logic — primary-dx-gated MOUD procedures, the
    * T-SQL diagnosis-keyed full-join tree, person-month OUD rows, and
    * the first-diagnosis-month gate on undiagnosed MOUD claims. */
  def q153McaidMcareBh(s: SparkSession, dir: String): DataFrame =
    graft.builds.BhConditions.build(Bh.icdcm(s, dir), Bh.pharm(s, dir),
        Bh.proc(s, dir), Bh.header(s, dir), Bh.ref(s))
      .orderBy(col("id_apde"), col("bh_cond"),
        col("first_encounter_date"), col("last_encounter_date"))

  /** Synthetic combined-source CCW frames (q154): header claim types
    * 1..6 split the condition-1/condition-2 lists; dx codes plant hits
    * for all three condition configs plus exclusion codes; the wide
    * icdcm ref carries per-condition 0/1 flag columns like the
    * reference's ref.icdcm_codes. */
  private[graft] object Ccw {
    import graft.builds.CcwConditions.{CcwArm, CcwDef}
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(
        (lit(1000) + col("o_custkey") % 90).as("id_apde"),
        ok.as("claim_header_id"),
        (lit(1) + ok % 6).cast("int").as("claim_type_id"),
        to_date(col("o_orderdate")).as("first_service_date"))
    }
    def icdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("l_partkey")
      val ver = when(pk % 5 === 0, 9).otherwise(10)
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"),
            (lit(1000) + col("o_custkey") % 90).as("id_apde")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("id_apde"), col("l_orderkey").as("claim_header_id"),
          when(ver === 9,
              when(pk % 9 === 0, "2440").when(pk % 9 === 1, "25000")
                .when(pk % 9 === 2, "64800").when(pk % 9 === 3, "43491")
                .otherwise(lpad((pk % 999).cast("string"), 4, "0")))
            .otherwise(
              when(pk % 9 === 0, "E039").when(pk % 9 === 1, "E119")
                .when(pk % 9 === 2, "O2412").when(pk % 9 === 3, "I6350")
                .when(pk % 9 === 4, "Z3480")
                .otherwise(concat(lit("J"),
                  lpad((pk % 400).cast("string"), 3, "0"))))
            .as("icdcm_norm"),
          ver.as("icdcm_version"),
          lpad(col("l_linenumber").cast("string"), 2, "0")
            .as("icdcm_number"))
    }
    def icdcmRef(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(
        ("2440", 9, 1, 0, 0, 0, 0), ("E039", 10, 1, 0, 0, 0, 0),
        ("25000", 9, 0, 1, 0, 0, 0), ("E119", 10, 0, 1, 0, 0, 0),
        ("64800", 9, 0, 0, 1, 0, 0), ("O2412", 10, 0, 0, 1, 0, 0),
        ("43491", 9, 0, 0, 0, 1, 0), ("I6350", 10, 0, 0, 0, 1, 0),
        ("Z3480", 10, 0, 0, 0, 0, 1))
        .toDF("icdcm", "icdcm_version", "ccw_hypothyroid", "ccw_diabetes",
          "ccw_diabetes_exclude", "ccw_stroke", "ccw_stroke_exclude")
    }
    val conds: Seq[CcwDef] = Seq(
      CcwDef(1, "Acquired hypothyroidism", "hypothyroid", claimCount = 1,
        lookbackMonths = 12, dxClaim1 = Seq(1, 2, 3), dxClaim2 = Seq(4, 5),
        exclude1 = None, exclude2 = None,
        icd9 = CcwArm(run = true, dxFields = "any"),
        icd10 = CcwArm(run = true, dxFields = "any")),
      CcwDef(2, "Diabetes", "diabetes", claimCount = 2,
        lookbackMonths = 24, dxClaim1 = Seq(1), dxClaim2 = Seq(2, 4, 5),
        exclude1 = Some("ccw_diabetes_exclude"), exclude2 = None,
        icd9 = CcwArm(run = true, dxFields = "1-2"),
        icd10 = CcwArm(run = true, dxFields = "1-2")),
      CcwDef(3, "Stroke / TIA", "stroke", claimCount = 2,
        lookbackMonths = 12, dxClaim1 = Seq(1), dxClaim2 = Seq(2, 4),
        exclude1 = Some("ccw_stroke_exclude"), exclude2 = None,
        icd9 = CcwArm(run = false, dxFields = "1",
          exclude1Fields = "1-2"),
        icd10 = CcwArm(run = true, dxFields = "1",
          exclude1Fields = "1-2")))
  }

  /** §7.5.10 combined mcaid+mcare claim_ccw (q154, load_ccw.R for
    * source=mcaid_mcare): per-condition dx_fields restrictions, wide-ref
    * condition flags, claim-level exclusion gates, claim-type-split
    * condition-1/2 classification, T-SQL month-boundary lookback
    * windows, and the LEAST/GREATEST encounter-span collapse — all
    * conditions reduced in ONE icdcm scan. */
  def q154McaidMcareCcw(s: SparkSession, dir: String): DataFrame =
    graft.builds.CcwConditions.build(Ccw.header(s, dir), Ccw.icdcm(s, dir),
        Ccw.icdcmRef(s), Ccw.conds)
      .orderBy(col("ccw_code"), col("id_apde"))

  /** Synthetic mcare-grain BH/CCW fixtures (q229/q230): the reference
    * ships mcare_claim_bh / mcare_claim_ccw as YAML-only configs
    * (load_stage.mcare_claim_bh.yaml) driving the same generic loaders
    * at id_mcare grain over the mcare final tables — here the q153/q154
    * kernels instantiated with idCol = id_mcare, the mcare pharm date
    * column (last_service_date), and a fixture keyed 'mc...' ids with
    * its own moduli. */
  private[graft] object McareBhCcw {
    private def pid = concat(lit("mc"), (col("o_custkey") % 75)
      .cast("string"))
    private def fact(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"),
            pid.as("id_mcare")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("id_mcare"), col("l_orderkey").as("claim_header_id"),
          col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          to_date(col("l_shipdate")).as("fsd"),
          col("l_linenumber").as("ln"))
    def icdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("pk")
      val ver = when(pk % 7 === 0, 9).otherwise(10)
      fact(s, dir).select(col("id_mcare"), col("claim_header_id"),
        when(ver === 9,
            when(pk % 12 === 0, "29620").when(pk % 12 === 1, "30400")
              .otherwise(lpad((pk % 999).cast("string"), 5, "0")))
          .otherwise(
            when(pk % 12 === 0, "F329").when(pk % 12 === 1, "F411")
              .when(pk % 12 === 2, "F1120")
              .otherwise(concat(lit("G"),
                lpad((pk % 400).cast("string"), 3, "0"))))
          .as("icdcm_norm"),
        ver.as("icdcm_version"),
        col("fsd").as("first_service_date"),
        lpad(col("ln").cast("string"), 2, "0").as("icdcm_number"))
    }
    def pharm(s: SparkSession, dir: String): DataFrame =
      fact(s, dir).select(col("id_mcare"), col("claim_header_id"),
        when(col("sk") % 8 === 0, "11111111111")
          .when(col("sk") % 8 === 1, "22222222222")
          .when(col("sk") % 8 === 2, "33333333333")
          .otherwise(lpad((col("sk") * 7).cast("string"), 11, "0"))
          .as("ndc"),
        date_add(col("fsd"), 3).as("last_service_date"))
    def proc(s: SparkSession, dir: String): DataFrame =
      fact(s, dir).select(col("id_mcare"), col("claim_header_id"),
        when(col("pk") % 14 === 0, "H0020")
          .when(col("pk") % 14 === 1, "J0571")
          .otherwise(lpad((col("pk") % 88888).cast("string"), 5, "0"))
          .as("procedure_code"),
        col("fsd").as("first_service_date"))
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(ok.as("claim_header_id"),
        when(ok % 14 === 0, "F1120").when(ok % 14 === 1, "30400")
          .otherwise("I10").as("primary_diagnosis"),
        when(ok % 14 === 1, 9).otherwise(10).as("icdcm_version"))
    }
    def ccwHeader(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(pid.as("id_mcare"),
        ok.as("claim_header_id"),
        (lit(1) + ok % 6).cast("int").as("claim_type_id"),
        to_date(col("o_orderdate")).as("first_service_date"))
    }
    def ccwIcdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("pk")
      val ver = when(pk % 4 === 0, 9).otherwise(10)
      fact(s, dir).select(col("id_mcare").as("id_mcare"),
        col("claim_header_id"),
        when(ver === 9,
            when(pk % 10 === 0, "2440").when(pk % 10 === 1, "25000")
              .when(pk % 10 === 2, "64800").when(pk % 10 === 3, "43491")
              .otherwise(lpad((pk % 999).cast("string"), 4, "0")))
          .otherwise(
            when(pk % 10 === 0, "E039").when(pk % 10 === 1, "E119")
              .when(pk % 10 === 2, "O2412").when(pk % 10 === 3, "I6350")
              .when(pk % 10 === 4, "Z3480")
              .otherwise(concat(lit("J"),
                lpad((pk % 400).cast("string"), 3, "0"))))
          .as("icdcm_norm"),
        ver.as("icdcm_version"),
        lpad(col("ln").cast("string"), 2, "0").as("icdcm_number"))
    }
  }

  /** mcare-grain claim_bh (q229, load_stage.mcare_claim_bh.yaml): the
    * generic claim_bh kernel at id_mcare grain over mcare sources —
    * mcare pharm dates ride last_service_date (the per-source rx-date
    * dispatch the R config carries). */
  def q229McareBh(s: SparkSession, dir: String): DataFrame =
    graft.builds.BhConditions.build(McareBhCcw.icdcm(s, dir),
        McareBhCcw.pharm(s, dir), McareBhCcw.proc(s, dir),
        McareBhCcw.header(s, dir), Bh.ref(s),
        idCol = "id_mcare", rxDateCol = "last_service_date")
      .orderBy(col("id_mcare"), col("bh_cond"),
        col("first_encounter_date"), col("last_encounter_date"))

  /** mcare-grain claim_ccw (q230, load_stage.mcare_claim_ccw.yaml): the
    * load_ccw kernel at id_mcare grain over the mcare header/dx. */
  def q230McareCcw(s: SparkSession, dir: String): DataFrame =
    graft.builds.CcwConditions.build(McareBhCcw.ccwHeader(s, dir),
        McareBhCcw.ccwIcdcm(s, dir), Ccw.icdcmRef(s), Ccw.conds,
        idCol = "id_mcare")
      .orderBy(col("ccw_code"), col("id_mcare"))

  /** Synthetic apcd-grain CCW frames (q244): id_apcd is a BIGINT (the
    * APCD member id is numeric, unlike the string mcaid/mcare ids) and
    * claim types span 1..7 — types 6/7 appear in no condition's
    * claim-type list, so the per-condition type filter is exercised
    * against genuinely non-qualifying claims. */
  private[graft] object ApcdCcw {
    private def pid = (lit(40000L) + col("o_custkey") % 110)
      .cast("bigint")
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(pid.as("id_apcd"),
        ok.as("claim_header_id"),
        (lit(1) + ok % 7).cast("int").as("claim_type_id"),
        to_date(col("o_orderdate")).as("first_service_date"))
    }
    def icdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("l_partkey")
      val ver = when(pk % 6 === 0, 9).otherwise(10)
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"),
            pid.as("id_apcd")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("id_apcd"), col("l_orderkey").as("claim_header_id"),
          when(ver === 9,
              when(pk % 13 === 0, "2440").when(pk % 13 === 1, "25000")
                .when(pk % 13 === 2, "64800").when(pk % 13 === 3, "43491")
                .otherwise(lpad((pk % 999).cast("string"), 4, "0")))
            .otherwise(
              when(pk % 13 === 0, "E039").when(pk % 13 === 1, "E119")
                .when(pk % 13 === 2, "O2412").when(pk % 13 === 3, "I6350")
                .when(pk % 13 === 4, "Z3480")
                .otherwise(concat(lit("J"),
                  lpad((pk % 400).cast("string"), 3, "0"))))
            .as("icdcm_norm"),
          ver.as("icdcm_version"),
          lpad(col("l_linenumber").cast("string"), 2, "0")
            .as("icdcm_number"))
    }
  }

  /** apcd-grain claim_ccw (q244, load_stage.apcd_claim_ccw.yaml:1-18):
    * the source-generic load_ccw kernel (load_ccw.R:65 lists apcd as a
    * first-class source) at id_apcd grain over the APCD header/dx —
    * the chronic-condition sibling of q236's apcd claim_bh. */
  def q244ApcdCcw(s: SparkSession, dir: String): DataFrame =
    graft.builds.CcwConditions.build(ApcdCcw.header(s, dir),
        ApcdCcw.icdcm(s, dir), Ccw.icdcmRef(s), Ccw.conds,
        idCol = "id_apcd")
      .orderBy(col("ccw_code"), col("id_apcd"))

  /** Synthetic mcaid frames for the new-criteria QA (q245): four
    * phenotype flags in the wide ref, both ICD versions, claim types
    * 1..6 so each phenotype's type list bites. */
  private[graft] object CcwQa {
    private def pid = concat(lit("qa"), (col("o_custkey") % 2400)
      .cast("string"))
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(pid.as("id_mcaid"),
        ok.as("claim_header_id"),
        (lit(1) + ok % 6).cast("int").as("claim_type_id"),
        to_date(col("o_orderdate")).as("first_service_date"))
    }
    def icdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("l_partkey")
      val ver = when(pk % 8 === 0, 9).otherwise(10)
      // rare flags (~3% of dx rows) over many persons: some people
      // qualify under the old count rule but FAIL the new adjacency
      // rule, so old_not_new is exercised, not identically zero
      val m = pk % 149
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"),
            pid.as("id_mcaid")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("id_mcaid"), col("l_orderkey").as("claim_header_id"),
          when(ver === 9,
              when(m === 0, "41071").when(m === 1, "82009")
                .when(m === 2, "2859").when(m === 3, "311")
                .otherwise(lpad((pk % 999).cast("string"), 5, "0")))
            .otherwise(
              when(m === 0, "I214").when(m === 1, "S72001A")
                .when(m === 2, "D649").when(m === 3, "F329")
                .when(m === 4, "F331")
                .otherwise(concat(lit("K"),
                  lpad((pk % 400).cast("string"), 3, "0"))))
            .as("icdcm_norm"),
          ver.as("icdcm_version"),
          lpad(col("l_linenumber").cast("string"), 2, "0")
            .as("icdcm_number"))
    }
    def ref(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq(
        ("41071", 9, 1, 0, 0, 0), ("I214", 10, 1, 0, 0, 0),
        ("82009", 9, 0, 1, 0, 0), ("S72001A", 10, 0, 1, 0, 0),
        ("2859", 9, 0, 0, 1, 0), ("D649", 10, 0, 0, 1, 0),
        ("311", 9, 0, 0, 0, 1), ("F329", 10, 0, 0, 0, 1),
        ("F331", 10, 0, 0, 0, 1))
        .toDF("icdcm", "icdcm_version", "ccw_mi", "ccw_hip_fracture",
          "ccw_anemia", "ccw_depression")
    }
  }

  /** CCW new-criteria line-level cross-check (q245,
    * qa_stage.mcaid_claim_ccw_new_criteria.sql:1-160): the four named
    * phenotypes' new-criteria spans vs the count-based line-level
    * evidence rule, as distributed PASS/FAIL verdict rows. */
  def q245CcwNewCriteriaQa(s: SparkSession, dir: String): DataFrame =
    graft.builds.CcwNewCriteriaQa.build(CcwQa.header(s, dir),
        CcwQa.icdcm(s, dir), CcwQa.ref(s))
      .orderBy(col("ccw_desc"))

  /** §7.5.10 apde identity crosswalk (q155,
    * load_stage.xwalk_apde_mcaid_mcare_pha.R): IM_HISTORY extracts with
    * pattern gates (9-digit+KC master id, all-digit mcaid id, 64-char
    * phousing id), most-recently-touched link dedup, deterministic
    * md5-prefix stand-in for the seeded random id_apde, and the
    * intentionally multiplicative KCMASTER full merges. The synthetic
    * history table plants invalid master ids (link-free, as the
    * reference's error gate demands), invalid mcaid/pha ids, historical
    * rows, and cross-master duplicate links with differing touch dates. */
  /** Shared q155/q305 raw IDH history fixture. */
  private[queries] def xwalkHistory(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val kcmBase = lpad((col("o_custkey") % 200).cast("string"), 9, "0")
    t(s, dir, "orders").select(
      when(ok % 31 === 0, concat(lit("BAD"), kcmBase))
        .otherwise(concat(kcmBase, lit("KC"))).as("KCMASTER_ID"),
      when(ok % 2 === 0, "MEDICAID").otherwise("HOUSING")
        .as("SOURCE_SYSTEM"),
      when(ok % 2 === 0 && ok % 31 =!= 0,
        when(ok % 17 === 0, concat(lit("X"), (ok % 5000).cast("string")))
          .otherwise((lit(100000) + ok % 5000).cast("string")))
        .as("MBR_H_SID"),
      when(ok % 3 === 0 && ok % 31 =!= 0,
        when(ok % 29 === 0, lit("SHORT"))
          .otherwise(concat(md5((ok % 700).cast("string")),
            md5((ok % 700 + 1).cast("string"))))).as("PHOUSING_ID"),
      date_add(to_date(col("o_orderdate")), (ok % 90).cast("int"))
        .as("LAST_TOUCHED"),
      when(ok % 13 === 0, "Y").otherwise("N").as("IS_HISTORICAL"))
  }

  def q155ApdeXwalk(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApdeXwalk.build(xwalkHistory(s, dir))
      .orderBy(col("id_apde"), col("KCMASTER_ID"), col("id_mcaid"),
        col("phousing_id"))

  /** §7.5.6 APCD elig_month (q156, load_stage.apcd_elig_month.R):
    * presence-combination 0-8 coverage groups for the three domains,
    * covgrp-decoded market flags, empirical dual, ZIP→county/ACH/FIPS
    * geo attach, month boundaries + inclusive cov_time_day, and the
    * period variables. Domain-id presence is driven by independent
    * order-key bits so every covgrp value 0-8 occurs. */
  def q156ApcdEligMonth(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    def idIf(n: Int) = when(expr(s"o_orderkey div $n") % 2 === 0, ok)
    val mm = t(s, dir, "orders").select(
      (col("o_custkey") % 300).as("internal_member_id"),
      date_format(to_date(col("o_orderdate")), "yyyyMM").as("year_month"),
      when(ok % 5 === 0, "98101").when(ok % 5 === 1, "98052")
        .when(ok % 5 === 2, "99201").when(ok % 5 === 3, "97201")
        .as("zip_code"),
      idIf(1).as("med_medicaid_eligibility_id"),
      idIf(2).as("med_commercial_eligibility_id"),
      idIf(4).as("med_medicare_eligibility_id"),
      idIf(8).as("medical_eligibility_id"),
      idIf(16).as("rx_medicaid_eligibility_id"),
      idIf(32).as("rx_commercial_eligibility_id"),
      idIf(64).as("rx_medicare_eligibility_id"),
      idIf(128).as("pharmacy_eligibility_id"),
      idIf(256).as("dental_medicaid_eligibility_id"),
      idIf(512).as("dental_commercial_eligibility_id"),
      idIf(1024).as("dental_medicare_eligibility_id"),
      idIf(2048).as("dental_eligibility_id"))
    import s.implicits._
    val zipGroup = Seq(
      ("98101", "County", null, "King"),
      ("98052", "County", null, "King"),
      ("99201", "County", null, "Spokane"),
      ("98101", "Accountable Community of Health", "ACH-KC",
        "HealthierHere"),
      ("98052", "Accountable Community of Health", "ACH-KC",
        "HealthierHere"),
      ("99201", "Accountable Community of Health", "ACH-BH",
        "Better Health Together"))
      .toDF("zip_code", "zip_group_type_desc", "zip_group_code",
        "zip_group_desc")
    val countyRef = Seq(("King", "033"), ("Spokane", "063"))
      .toDF("geo_county_name", "geo_county_code_fips")
    graft.builds.ApcdEligMonth.build(mm, zipGroup, countyRef)
      .orderBy(col("id_apcd"), col("from_date"), col("med_covgrp"),
        col("pharm_covgrp"), col("dental_covgrp"), col("geo_zip"))
  }

  /** §7.5.11 mcare claim_pharm (q157, load_stage.mcare_claim_pharm.R):
    * five facility revenue-center arms (NDC-bearing lines, T-SQL
    * charclass alpha exclusion, ResDAC denial rule incl. the
    * no-base-claim pass-through, enrollment existence, 11-digit NDC
    * right-pad) UNIONed with three drifted Part D arms (current schema
    * with the no-op ON-clause enrollment quirk, 2014 schema with NULL
    * ncvrd, split a/b legacy schema with renamed columns and a real
    * enrollment filter). */
  def q157McareClaimPharm(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val pk = col("l_partkey")
    val ft = when(ok % 5 === 0, "hha").when(ok % 5 === 1, "hospice")
      .when(ok % 5 === 2, "inpatient").when(ok % 5 === 3, "outpatient")
      .otherwise("snf")
    val revAll = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("B"), col("o_custkey").cast("string")).as("bene_id"),
        concat(lit("C"), col("l_orderkey").cast("string")).as("clm_id"),
        col("l_linenumber").cast("string").as("clm_line_num"),
        when(pk % 13 === 0, lit(null).cast("string"))
          .when(pk % 13 === 1,
            concat(lit("N"), lpad((pk % 9999).cast("string"), 4, "0")))
          .otherwise(lpad((pk % 100000000).cast("string"), 8, "0"))
          .as("rev_cntr_ide_ndc_upc_num"),
        (col("l_quantity") + 0.25).as("rev_cntr_ndc_qty"),
        when(col("l_suppkey") % 2 === 0, "UN").otherwise("ML")
          .as("rev_cntr_ndc_qty_qlfr_cd"),
        ft.as("ft"))
    def rev(f: String) = revAll.filter(col("ft") === f).drop("ft")
    val base = t(s, dir, "orders").filter(ok % 19 =!= 0).select(
      concat(lit("C"), ok.cast("string")).as("clm_id"),
      to_date(col("o_orderdate")).as("clm_thru_dt"),
      when(ok % 11 === 0, "N").when(ok % 11 === 1, lit(null).cast("string"))
        .otherwise("").as("clm_mdcr_non_pmt_rsn_cd"))
    val enroll = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 3)
      .select(concat(lit("B"), col("c_custkey").cast("string"))
        .as("bene_id"))
    def pdeSlice(r: Int) = t(s, dir, "orders").filter(ok % 3 === r).select(
      concat(lit("B"), col("o_custkey").cast("string")).as("bene_id"),
      concat(lit("P"), ok.cast("string")).as("pde_id"),
      to_date(col("o_orderdate")).as("srvc_dt"),
      when(ok % 4 === 0, "1").when(ok % 4 === 1, "01")
        .when(ok % 4 === 2, "7").as("prscrbr_id_qlfyr_cd"),
      lpad((ok % 2000000000).cast("string"), 10, "0").as("prscrbr_id"),
      lpad(((ok * 3) % 999999999).cast("string"), 9, "0")
        .as("prod_srvc_id"),
      (ok % 2).cast("string").as("cmpnd_cd"),
      ((ok % 300) * 0.5).as("qty_dspnsd_num"),
      (ok % 90).cast("int").as("days_suply_num"),
      (ok % 12).cast("int").as("fill_num"),
      (col("o_totalprice") * 0.1).as("ptnt_pay_amt"),
      (col("o_totalprice") * 0.05).as("othr_troop_amt"),
      (col("o_totalprice") * 0.02).as("lics_amt"),
      (col("o_totalprice") * 0.01).as("plro_amt"),
      (col("o_totalprice") * 0.6).as("cvrd_d_plan_pd_amt"),
      (col("o_totalprice") * 0.15).as("ncvrd_plan_pd_amt"),
      (col("o_totalprice") * 0.93).as("tot_rx_cst_amt"),
      when(ok % 2 === 0, "TAB").otherwise("CAP").as("gcdf"),
      when(ok % 2 === 0, "TABLET").otherwise("CAPSULE").as("gcdf_desc"),
      concat((ok % 500).cast("string"), lit("MG")).as("str"),
      lpad((ok % 90000).cast("string"), 5, "0").as("ncpdp_id"),
      when(ok % 2 === 0, "B").otherwise("G").as("brnd_gnrc_cd"),
      (ok % 9).cast("string").as("phrmcy_srvc_type_cd"))
    val pdeA = pdeSlice(2).select(col("bene_id"), col("pde_id"),
      col("srvc_dt"), col("prscrbr_id_qlfyr_cd").as("prscqlfr"),
      col("prscrbr_id").as("prscrbid"), col("prod_srvc_id").as("prdsrvid"),
      col("cmpnd_cd"), col("qty_dspnsd_num").as("qtydspns"),
      col("days_suply_num").as("dayssply"), col("fill_num"),
      col("ptnt_pay_amt").as("ptpayamt"),
      col("othr_troop_amt").as("othtroop"), col("lics_amt"),
      col("plro_amt"), col("cvrd_d_plan_pd_amt").as("cpp_amt"),
      col("ncvrd_plan_pd_amt").as("npp_amt"),
      col("tot_rx_cst_amt").as("totalcst"))
    val pdeB = pdeSlice(2).select(col("pde_id"), col("gcdf"),
      col("gcdf_desc"), col("str"), col("ncpdp_id"),
      col("brnd_gnrc_cd").as("brndgncd"), col("phrmcy_srvc_type_cd"))
    graft.builds.McareClaimPharm.build(
        Seq("hha", "hospice", "inpatient", "outpatient", "snf")
          .map(f => (f, rev(f), base)),
        enroll, pdeSlice(0), pdeSlice(1), pdeA, pdeB)
      .orderBy(col("filetype_mcare"), col("claim_header_id"),
        col("claim_line_id"), col("ndc"))
  }

  /** §7.5.11 mcare claim_provider (q158,
    * load_stage.mcare_claim_provider.R): seven per-filetype wide
    * provider-role projections UNPIVOTed to long, the 10-digit
    * ISNUMERIC NPI gate, role-mapped zip/specialty, carrier-vs-facility
    * denial rules, base-then-line rendering coalesce (with the
    * specialty following the pick), UNION distinct. The role matrix per
    * filetype matches the reference's per-arm UNPIVOT lists; planted
    * NPIs include 9-digit and alpha-lead invalids. */
  def q158McareClaimProvider(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McareClaimProvider
    val ok = col("o_orderkey")
    val ck = col("o_custkey")
    val ft = when(ok % 7 === 0, "carrier").when(ok % 7 === 1, "dme")
      .when(ok % 7 === 2, "hha").when(ok % 7 === 3, "hospice")
      .when(ok % 7 === 4, "inpatient").when(ok % 7 === 5, "outpatient")
      .otherwise("snf")
    def npi(i: Int) = {
      val v = ok * 31 + lit(i * 7)
      when(v % 5 === 0, lpad((v % 999999999).cast("string"), 10, "0"))
        .when(v % 5 === 1, lpad((v % 99999999).cast("string"), 9, "0"))
        .when(v % 5 === 2,
          concat(lit("A"), lpad((v % 99999999).cast("string"), 9, "0")))
    }
    def spec(i: Int) = lpad(((ok + i) % 100).cast("string"), 2, "0")
    val isFacility = !ft.isin("carrier", "dme")
    val aRnd = when(ok % 3 =!= 0, npi(5))
    val dnl = when(ok % 10 === 0, "0")
      .otherwise((lit(1) + ok % 9).cast("string"))
    val nonPmt = when(ok % 11 === 0, "N")
      .when(ok % 11 === 1, lit(null).cast("string")).otherwise("")
    val wide = t(s, dir, "orders").select(
        concat(lit("B"), ck.cast("string")).as("id_mcare"),
        concat(lit("C"), ok.cast("string")).as("claim_header_id"),
        to_date(col("o_orderdate")).as("first_service_date"),
        date_add(to_date(col("o_orderdate")), 3).as("last_service_date"),
        ft.as("ft"), dnl.as("dnl"), nonPmt.as("non_pmt"),
        npi(1).as("billing"),
        npi(2).as("referring"),
        when(ft === "carrier", npi(3)).as("care_plan_oversight"),
        when(ft =!= "dme", npi(4)).as("site_of_service"),
        when(ft === "carrier", npi(5))
          .when(isFacility, coalesce(aRnd, npi(6))).as("rendering"),
        when(ft === "carrier", npi(6)).as("organization"),
        when(isFacility, npi(7)).as("attending"),
        when(isFacility, npi(8)).as("operating"),
        when(isFacility, npi(9)).as("other"),
        when(ft === "carrier", (ok % 9).cast("string"))
          .as("provider_type_nch"),
        when(ft === "carrier",
          lpad((ok % 999999999).cast("string"), 9, "0")).as("provider_tin"),
        when(ft =!= "dme" && ft =!= "hospice",
          lpad((ck % 99999).cast("string"), 5, "0"))
          .as("provider_zip_rendering"),
        when(ft === "carrier",
          lpad(((ck + 7) % 99999).cast("string"), 5, "0"))
          .as("provider_zip_billing"),
        when(isFacility, spec(1)).as("provider_specialty_attending"),
        when(isFacility, spec(2)).as("provider_specialty_operating"),
        when(isFacility, spec(3)).as("provider_specialty_other"),
        when(isFacility, spec(4)).as("provider_specialty_referring"),
        when(ft === "carrier", spec(5))
          .when(isFacility,
            when(aRnd.isNotNull, spec(5)).otherwise(spec(6)))
          .as("provider_specialty_rendering"))
      .filter(when(col("ft").isin("carrier", "dme"),
          McareClaimProvider.carrierPaid(col("dnl")))
        .otherwise(McareClaimProvider.facilityPaid(col("non_pmt"))))
    def arm(f: String, roles: Seq[String]) =
      (wide.filter(col("ft") === f), roles, f)
    McareClaimProvider.build(Seq(
        arm("carrier", McareClaimProvider.carrierRoles),
        arm("dme", McareClaimProvider.dmeRoles),
        arm("hha", McareClaimProvider.facilityRoles),
        arm("hospice", McareClaimProvider.facilityRoles),
        arm("inpatient", McareClaimProvider.facilityRoles),
        arm("outpatient", McareClaimProvider.facilityRoles),
        arm("snf", McareClaimProvider.facilityRoles)))
      .orderBy(col("filetype_mcare"), col("claim_header_id"),
        col("provider_type"), col("provider_npi"))
  }

  /** §7.5.12 mcaid elig_demo extra — the noncisgender flag (q159,
    * load_stage.mcaid_elig_demo_extra.R): dysphoria/endocrine dx sets,
    * six procedure sets with claim-level cancer exclusions, name-LIKE
    * hormone sets with parsed strength × dosage-form thresholds, and
    * the union/intersect/conflict-removal cascade into a demographics
    * flag. */
  def q159EligDemoExtra(s: SparkSession, dir: String): DataFrame = {
    val pk = col("l_partkey")
    val sk = col("l_suppkey")
    val ver = when(pk % 4 === 0, 9).otherwise(10)
    val fact = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"),
          (col("o_custkey") % 120).as("id_mcaid")),
        col("l_orderkey") === col("o_orderkey"))
    val icdcm = fact.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(ver === 9,
          when(pk % 13 === 0, "1830").when(pk % 13 === 1, "1841")
            .when(pk % 13 === 2, "18751").when(pk % 13 === 3, "18712")
            .otherwise(lpad((pk % 999).cast("string"), 4, "0")))
        .otherwise(
          when(pk % 13 === 0, concat(lit("F64"), (pk % 10).cast("string")))
            .when(pk % 13 === 1, "F6510")
            .when(pk % 13 === 2, "Z878901")
            .when(pk % 13 === 3, "E348").when(pk % 13 === 4, "E049")
            .when(pk % 13 === 5, "E251").when(pk % 13 === 6, "E70")
            .when(pk % 13 === 7, "C561").when(pk % 13 === 8, "C511")
            .when(pk % 13 === 9, "C62").when(pk % 13 === 10, "C601")
            .otherwise(concat(lit("A"),
              lpad((pk % 400).cast("string"), 3, "0"))))
        .as("icdcm_norm"),
      ver.as("icdcm_version"))
    val proc = fact.select(col("id_mcaid"),
      col("l_orderkey").as("claim_header_id"),
      when(pk % 17 === 0, "55980").when(pk % 17 === 1, "58661")
        .when(pk % 17 === 2, "0UTG0ZZ").when(pk % 17 === 3, "55970")
        .when(pk % 17 === 4, "54520").when(pk % 17 === 5, "643")
        .when(pk % 17 === 6, "15757").when(pk % 17 === 7, "0W4M070")
        .otherwise(lpad((pk % 88888).cast("string"), 5, "0"))
        .as("procedure_code"))
    val pharm = fact.select(col("id_mcaid"),
      when(sk % 7 === 0, "10000000001").when(sk % 7 === 1, "10000000002")
        .when(sk % 7 === 2, "10000000003").when(sk % 7 === 3, "10000000004")
        .when(sk % 7 === 4, "10000000005")
        .otherwise(lpad((sk * 11).cast("string"), 11, "0")).as("ndc"))
    import s.implicits._
    val demo = t(s, dir, "customer")
      .select((col("c_custkey") % 120).as("id_mcaid")).distinct()
      .withColumn("gender_me",
        when(col("id_mcaid") % 3 === 0, "Female")
          .when(col("id_mcaid") % 3 === 1, "Male").otherwise("Multiple"))
    val ndcRef = Seq(
      ("10000000001", "ESTRADIOL VALERATE", "INJECTION", "10 mg", "MG"),
      ("10000000002", "NANDROLONE DECANOATE", "INJECTION", "200 ", "MG"),
      ("10000000003", "TESTOSTERONE CYPIONATE", "INJECTION", "100; 50",
        "MG"),
      ("10000000004", "TESTOSTERONE", "GEL", "1.62", "MG"),
      ("10000000005", "SPIRONOLACTONE", "TABLET", "50", "MG"),
      ("10000000006", "ASPIRIN", "TABLET", "325", "MG"))
      .toDF("ndc", "nonproprietaryname", "dosageformname",
        "active_numerator_strength", "active_ingred_unit")
    graft.builds.EligDemoExtra.build(icdcm, proc, pharm, demo, ndcRef)
      .orderBy(col("id_mcaid"))
  }

  /** §7.5.12 mcaid perf elig member-month feeder (q160,
    * load_stage.mcaid_perf_elig_member_month.R): MC plan-name recode,
    * King-County ZIP restriction, longest-coverage-span row pick per
    * (member, month) with the tie deterministically pinned. */
  def q160PerfEligMemberMonth(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val d = to_date(col("o_orderdate"))
    val rawElig = t(s, dir, "orders").select(
      date_format(d, "yyyyMM").as("CLNDR_YEAR_MNTH"),
      concat(lit("M"), (col("o_custkey") % 150).cast("string"))
        .as("MEDICAID_RECIPIENT_ID"),
      lpad((ok % 50).cast("string"), 4, "0").as("RPRTBL_RAC_CODE"),
      trunc(d, "month").as("FROM_DATE"),
      least(date_add(trunc(d, "month"), (ok % 40).cast("int")),
        last_day(d)).as("TO_DATE"),
      when(ok % 3 === 0, "MC").otherwise("FFS").as("COVERAGE_TYPE_IND"),
      when(ok % 7 === 0, "Amerigroup Washington Inc")
        .when(ok % 7 === 1, "Community Health Plan of Washington")
        .when(ok % 7 === 2, "Coordinated Care Corporation")
        .when(ok % 7 === 3, "Coordinated Care of Washington")
        .when(ok % 7 === 4, "Molina Healthcare of Washington Inc")
        .when(ok % 7 === 5, "United Health Care Community Plan")
        .otherwise("Some Other Plan").as("MC_PRVDR_NAME"),
      when(ok % 5 === 0, "Y").otherwise("N").as("DUAL_ELIG"),
      when(ok % 6 === 0, "Y").otherwise("N").as("TPL_FULL_FLAG"),
      when(ok % 4 === 0, "98101").when(ok % 4 === 1, "98052")
        .when(ok % 4 === 2, "99201").as("RSDNTL_POSTAL_CODE"))
    import s.implicits._
    val zipRef = Seq(("98101", "WA", "King"), ("98052", "WA", "King"),
      ("99201", "WA", "Spokane"))
      .toDF("zip_code", "state", "county_name")
    graft.builds.PerfEligMemberMonth.build(rawElig, zipRef)
      .orderBy(col("MEDICAID_RECIPIENT_ID"), col("CLNDR_YEAR_MNTH"))
  }

  /** §5 config-driven file-load QA (q164, qa_load_file.R): per-source-
    * year expected row counts with the strip-non-digit config parse
    * ("15,000" → 15000), an absent-year zero row, an overall total row,
    * and positional column-order checks (one passing, one failing). */
  def q164LoadFileQa(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    Qa.suite(s,
      Qa.fileRowCounts(orders, "orders", year(to_date(col("o_orderdate"))),
        expectedByYear = Seq("1995" -> "1,234", "1996" -> "5,678",
          "2099" -> "0"),
        overall = Some("999,999")) ++
      Seq(
        Qa.columnOrder(orders, "orders", Seq("o_orderkey", "o_custkey",
          "o_orderstatus", "o_totalprice", "o_orderdate",
          "o_orderpriority")),
        Qa.columnOrder(lineitem, "lineitem", Seq("l_shipdate",
          "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus"))))
      .orderBy(col("table"), col("check"))
  }

  /** §7.5.6 APCD elig_demo (q152, load_stage.apcd_elig_demo.R): DOB
    * estimated from contiguous member-month age increments (Dec→Jan `89`
    * quirk preserved), alone-or-in-combination + mutually-exclusive
    * gender, ethnicity-map race recodes, z_Multiple recent-race
    * tie-break, and the member-month LEFT JOIN race collapse. */
  def q152ApcdEligDemo(s: SparkSession, dir: String): DataFrame =
    graft.builds.ApcdEligDemo.build(ApcdElig.memberMonth(s, dir),
        ApcdElig.eligibility(s, dir), ApcdElig.ethMap(s))
      .orderBy(col("id_apcd"))

  /** §7.2 claim↔value-set membership table (q165,
    * load_stage.mcaid_claim_value_set.R:55-333): the reference's 14
    * INSERT arms (RDA procedure/DRG/dx-primary/dx-any/NDC/UBREV + six
    * HEDIS arms) re-expressed as ONE scan per claim table — unified
    * broadcast code dims, a stack() unpivot for the header's three code
    * namespaces, a primary/any explode for the dx arms. The DuckDB
    * oracle runs the reference's 14-arm formulation, so the compare pins
    * the rewrite against the original set algebra. */
  def q165ClaimValueSet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ren = (df: DataFrame) => df
      .withColumnRenamed("id_person", "id_mcaid")
      .withColumnRenamed("claim_id", "claim_header_id")
    val proc = ren(Vs.proc(s, dir))
    val dx = ren(Vs.dx(s, dir))
    val pharm = ren(Vs.pharm(s, dir))
    val line = ren(Vs.li(s, dir).select(col("id_person"), col("claim_id"),
      col("first_service_date"),
      concat(lit("RV"), (col("l_partkey") % 30).cast("string"))
        .as("rev_code")))
    // header frame with the three code namespaces, sparsely populated so
    // the stack() NULL drop is exercised
    val header = t(s, dir, "orders").select(
      (col("o_custkey") % 100).as("id_mcaid"),
      col("o_orderkey").as("claim_header_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      when(col("o_orderkey") % 5 === 0,
        concat(lit("DG"), (col("o_orderkey") % 12).cast("string")))
        .as("drvd_drg_code"),
      when(col("o_orderkey") % 3 === 0,
        concat(lit("TB"), (col("o_custkey") % 15).cast("string")))
        .as("type_of_bill_code"),
      when(col("o_orderkey") % 2 === 0,
        concat(lit("PS"), (col("o_custkey") % 10).cast("string")))
        .as("place_of_service_code"))
    // ref.rda_value_set with the full descriptive column set; inactive
    // NDC rows pin the active = 'Y' residual (ignored by non-NDC arms)
    val rda = {
      val sg = Vs.subGroups; val rx = Vs.rxClasses
      ((0 until 16).map(i => ("RDA", "MH-procedure-value-set", "claim",
          null: String,
          if (i < 13) (if (i % 2 == 0) "CPT" else "HCPCS") else "ICD10PCS",
          s"PC$i", if (i % 5 == 0) "N" else "Y")) ++
        (0 until 10).map(i => ("RDA", "MH-inpatient-drg", "claim",
          null: String, "DRG", s"DG$i", "Y")) ++
        (0 until 24).map(i => ("RDA", "MH-Dx-value-set", "claim",
          sg(i % 7), "ICD9CM", s"DX$i", "Y")) ++
        (12 until 48).map(i => ("RDA", "MH-Dx-value-set", "claim",
          sg(i % 7), "ICD10CM", s"DX$i", "Y")) ++
        (0 until 20).map(i => ("RDA", "MH-Rx-value-set", "pharmacy",
          rx(i % 5), "NDC", s"ND$i", if (i % 4 == 0) "N" else "Y")) ++
        (0 until 10).map(i => ("RDA", "MH-revenue-value-set", "claim",
          null: String, "UBREV", s"RV${i * 3}", "Y")))
        .toDF("value_set_group", "value_set_name", "data_source_type",
          "sub_group", "code_set", "code", "active")
    }
    val hedisProc = Seq("FUH Stand Alone Visits", "FUH Visits Group 1",
      "FUH Visits Group 2", "TCM 7 Day", "TCM 14 Day")
    val hedisLine = Seq("Inpatient Stay", "Nonacute Inpatient Stay",
      "FUH RevCodes Group 1", "FUH RevCodes Group 2")
    val hedis =
      ((0 until 6).map(i => (hedisProc(i % 5),
          if (i % 2 == 0) "CPT" else "HCPCS", s"PC${i * 2 + 1}")) ++
        (0 until 4).map(i => (hedisLine(i), "UBREV", s"RV${i * 6}")) ++
        (0 until 4).map(i =>
          ("Nonacute Inpatient Stay", "UBTOB", s"TB${i * 3}")) ++
        (0 until 4).map(i => (if (i % 2 == 0) "FUH POS Group 1"
          else "FUH POS Group 2", "POS", s"PS${i * 3}")) ++
        (0 until 8).map(i => (if (i % 2 == 0) "Mental Health Diagnosis"
          else "Mental Illness", "ICD10CM", s"DX${i * 5}")) ++
        // a set no arm asks for — pins the value-set-name filters
        Seq(("AOD Abuse and Dependence", "ICD10CM", "DX2")))
        .toDF("value_set_name", "code_system", "code")
    graft.builds.ClaimValueSet.build(proc, header, dx, pharm, line, rda,
        hedis)
      .orderBy(col("value_set_group"), col("value_set_name"),
        col("data_source_type"), col("sub_group"), col("code_set"),
        col("primary_dx_only"), col("id_mcaid"), col("claim_header_id"),
        col("service_date"))
  }

  /** §7.5 full APCD person-level rollup (q166,
    * load_stage.apcd_elig_plr.R:42-360): the year-scoped PLR — ten
    * clipped per-flavor day counts, person sums + percent columns,
    * day-weighted single-ZIP pick (the reference's `sum(covd) + 1`
    * quirk and T-SQL NULLS-FIRST zip tie-break kept), picked-ACH
    * duration, capped-age demographics, and the WA / overall-Medicaid /
    * 6-7-11-month cohort flags evaluated on the rounded percents. */
  /** Shared q166/q319 PLR fixture frames (timevar, demo, zip-group).
    * private[graft] so the q319 battery audits the exact frames the
    * catalog's q166 row pins. */
  private[graft] object ApcdPlr {
    def frames(s: SparkSession,
        dir: String): (DataFrame, DataFrame, DataFrame) = {
      import s.implicits._
      val ok = col("o_orderkey")
    val z = col("o_custkey") % 30
      val tv = t(s, dir, "orders").select(
        (col("o_custkey") % 200).as("id_apcd"),
        to_date(col("o_orderdate")).as("from_date"),
        date_add(to_date(col("o_orderdate")), (ok % 400).cast("int"))
          .as("to_date"),
        (ok % 4).cast("int").as("med_covgrp"),
        (ok % 3).cast("int").as("pharm_covgrp"),
        when(ok % 5 < 2, 1).otherwise(0).as("med_medicaid"),
        when(ok % 7 < 2, 1).otherwise(0).as("med_medicare"),
        when(ok % 3 === 0, 1).otherwise(0).as("med_commercial"),
        when(ok % 6 < 2, 1).otherwise(0).as("pharm_medicaid"),
        when(ok % 11 < 3, 1).otherwise(0).as("pharm_medicare"),
        when(ok % 4 === 1, 1).otherwise(0).as("pharm_commercial"),
        when(ok % 7 =!= 6,
          concat(lit("98"), lpad(z.cast("string"), 3, "0"))).as("geo_zip"),
        // ach coherent with zip (the timevar build derives it from zip);
        // zips 27-29 have no ACH mapping
        when(ok % 7 =!= 6 && z < 27,
          concat(lit("ACH-"), (z % 5).cast("string"))).as("geo_ach"),
        // the stage table's carried columns the q325 month-census
        // battery reads (unused by the PLR build itself)
        when(ok % 10 === 0, 1).otherwise(0).as("dual"),
        (ok % 4).cast("int").as("bsp_group_cid"),
        when(ok % 7 =!= 6 && z < 27, 1).otherwise(0).as("geo_wa"),
        when(ok % 7 =!= 6, when(z < 8, "King")
          .when(z < 27, concat(lit("County-"), (z % 6).cast("string"))))
          .as("geo_county"),
        when(ok % 8 < 2, 1).otherwise(0).as("dental_medicaid"),
        when(ok % 9 === 0, 1).otherwise(0).as("dental_medicare"),
        when(ok % 5 === 2, 1).otherwise(0).as("dental_commercial"))
      val ck = col("ck")
      val races = Seq("AI/AN", "Asian", "Black", "Latino", "NH/PI", "White",
        "Unknown")
      def race(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        races.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (acc, (r, i)) => when(c === i, r).otherwise(acc) }
      val dm = t(s, dir, "customer")
        .groupBy((col("c_custkey") % 200).as("id_apcd"))
        .agg(min(col("c_custkey")).as("ck"))
        .filter(ck % 13 =!= 7) // some persons lack demo rows entirely
        .select(col("id_apcd"),
          date_add(to_date(lit("1900-01-01")),
            (ck * 97 % 35500).cast("int")).as("dob"),
          when(ck % 40 === 0, 1).otherwise(0).as("ninety_only"),
          when(ck % 3 === 0, "Multiple").when(ck % 3 === 1, "Female")
            .otherwise("Male").as("gender_me"),
          when(ck % 2 === 0, "Female").otherwise("Male")
            .as("gender_recent"),
          (ck % 2).cast("int").as("gender_female"),
          ((ck + 1) % 2).cast("int").as("gender_male"),
          race(ck % 7).as("race_eth_me"),
          race((ck + 2) % 7).as("race_me"),
          race((ck + 4) % 7).as("race_eth_recent"),
          race((ck + 5) % 7).as("race_recent"),
          when(ck % 11 === 0, 1).otherwise(0).as("race_aian"),
          when(ck % 7 === 1, 1).otherwise(0).as("race_asian"),
          when(ck % 6 === 2, 1).otherwise(0).as("race_black"),
          when(ck % 5 === 3, 1).otherwise(0).as("race_latino"),
          when(ck % 13 === 4, 1).otherwise(0).as("race_nhpi"),
          when(ck % 3 === 2, 1).otherwise(0).as("race_white"),
          when(ck % 17 === 5, 1).otherwise(0).as("race_unknown"))
      val zg = ((0 until 24).map(i => (f"98$i%03d", "County",
          s"County-${i % 6}")) ++
        (0 until 27).map(i => (f"98$i%03d",
          "Accountable Community of Health", s"ACH-${i % 5}")) ++
        Seq(("98999", "County", "County-X")))
        .toDF("zip_code", "zip_group_type_desc", "zip_group_desc")
      (tv, dm, zg)
    }
  }

  def q166ApcdEligPlr(s: SparkSession, dir: String): DataFrame = {
    val (tv, dm, zg) = ApcdPlr.frames(s, dir)
    graft.builds.ApcdEligPlr.build(tv, dm, zg, "1995-01-01", "1995-12-31")
      .orderBy(col("id_apcd"))
  }

  /** §2.1 combined MBSF AB/ABCD staging load (q168,
    * load_stage.mcare_mbsf.r:38-142): the per-source year-level
    * (year, count) incremental gate, per-source DISTINCT, AB→ABCD
    * column renames, the two ZIP normalizations ('999999999'→NULL +
    * left-5 for AB; '99999'→NULL + zero-pad-5 for ABCD), the drift
    * union, and the case-insensitive bene_id duplicate flag (Medicare
    * ids are case sensitive; a row equal on everything but id case is a
    * suspected dup — surfaced as a `dup` column instead of the
    * reference's hard stop). Planted: a count-drifted stage year (1996)
    * that must re-load, an absent year (1993), fully-matched years that
    * must NOT re-load (1992/1994/1995), and case-flipped duplicate rows
    * in 1997+. */
  def q168McareMbsf(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("ok"),
      col("o_custkey").as("ck"),
      year(to_date(col("o_orderdate"))).as("yr"))
    val ab = base.filter(col("yr") <= 1994).select(
      concat(when(col("ck") % 3 === 0, "B").otherwise("b"),
        (col("ck") % 60).cast("string")).as("bene_id"),
      col("yr").as("bene_enrollmt_ref_yr"),
      when(col("ck") % 13 === 0, "999999999")
        .otherwise(lpad((col("ck") * 7919 % 1000000000).cast("string"),
          9, "0")).as("zip_cd"),
      (col("ok") % 5).cast("string").as("race_old"),
      (col("ok") % 2).cast("int").as("a_only"))
    def abcdCols(df: DataFrame): DataFrame = df.select(
      concat(lit("B"), (col("ck") % 60).cast("string")).as("bene_id"),
      col("yr").as("bene_enrollmt_ref_yr"),
      when(col("ck") % 17 === 0, "99999")
        .otherwise((col("ck") * 31 % 100000).cast("string")).as("zip_cd"),
      (col("ok") % 6).cast("string").as("race_cd"),
      (col("ok") % 3).cast("int").as("d_only"),
      col("yr").as("data_year"))
    val abcd = abcdCols(base.filter(col("yr") >= 1995))
      .unionByName(abcdCols(
        base.filter(col("yr") >= 1997 && col("ok") % 101 === 0))
        .withColumn("bene_id", lower(col("bene_id"))))
    val stage = base.filter(
        (col("yr") <= 1994 && col("yr") =!= 1993) || col("yr") === 1995 ||
          (col("yr") === 1996 && col("ok") % 97 =!= 0))
      .select(col("yr").as("bene_enrollmt_ref_yr"))
    graft.builds.McareMbsf.build(ab, abcd, stage,
        renameAb = Map("race_old" -> "race_cd"))
      .orderBy(col("bene_enrollmt_ref_yr"), col("bene_id"), col("zip_cd"),
        col("race_cd"), col("d_only"), col("a_only"))
  }

  /** §2.1 master Medicaid claim-line staging load (q169,
    * load_stage.mcaid_claim.R:104-127 incremental path): archive rows
    * strictly before the incoming batch's MIN service date, the
    * re-delivered batch DISTINCTed with the derived clndr_year_mnth and
    * right-3-of-TCN clm_line columns, combined under UNION distinct.
    * The 1996 order-year overlap plants rows present in BOTH branches,
    * and a re-delivered duplicate sliver exercises the DISTINCT. */
  def q169McaidClaimStage(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").join(t(s, dir, "orders"),
      col("l_orderkey") === col("o_orderkey"))
    def claims(df: DataFrame): DataFrame = df.select(
      col("o_custkey").as("mbr_h_sid"),
      concat(lit("R"), (col("o_custkey") % 300).cast("string"))
        .as("medicaid_recipient_id"),
      when(col("l_linenumber") % 2 === 0, "Y").otherwise("N")
        .as("baby_on_mom_ind"),
      concat(lit("T"), col("l_orderkey").cast("string")).as("tcn"),
      concat(lit("T"), col("l_orderkey").cast("string"),
        lpad(col("l_linenumber").cast("string"), 3, "0"))
        .as("clm_line_tcn"),
      to_date(col("l_shipdate")).as("from_srvc_date"),
      round(col("l_extendedprice"), 2).as("paid_amt"))
    val oy = year(to_date(col("o_orderdate")))
    val incoming0 = claims(li.filter(oy >= 1996))
    val incoming = incoming0.unionAll(
      incoming0.filter(col("mbr_h_sid") % 89 === 0))
    val archive = claims(li.filter(oy <= 1996)).select(
      (year(col("from_srvc_date")) * 100 + month(col("from_srvc_date")))
        .cast("int").as("clndr_year_mnth"),
      col("mbr_h_sid"), col("medicaid_recipient_id"),
      col("baby_on_mom_ind"), col("tcn"), col("clm_line_tcn"),
      substring(col("clm_line_tcn"), -3, 3).cast("int").as("clm_line"),
      col("from_srvc_date"), col("paid_amt"))
    graft.builds.McaidClaimStage.build(archive, incoming,
        "from_srvc_date")
      .orderBy(col("clm_line_tcn"), col("from_srvc_date"))
  }

  /** mcare bene↔SSN crosswalk (q232, load_stage.mcare_xwalk_bene_ssn.R
    * :49-57): DISTINCT then the first (source, ssn) row per bene_id —
    * the reference's setorder + counter == 1. Fixture plants exact
    * duplicate rows (collapsed by the DISTINCT), multi-source ids
    * (lowest source wins) and same-source multi-SSN ids (lowest ssn
    * wins). */
  def q232BeneSsn(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val ssn = t(s, dir, "orders").select(
      concat(lit("B"), (col("o_custkey") % 400).cast("string"))
        .as("bene_id"),
      when(ok % 3 === 0, "edb").otherwise("mbsf").as("source"),
      lpad(((col("o_custkey") % 400) * 13 + ok % 5).cast("string"), 9,
        "0").as("ssn"))
    graft.builds.McareXwalk.ssnPick(ssn)
      .orderBy(col("bene_id"))
  }

  /** §2.2 EDB user-view crosswalk dedup (q170,
    * load_stage.mcare_xwalk_edb_user_view.R:52-77): per-year Medicare
    * name history collapsed to one row per bene_id via the reference's
    * three branches — singleton pass-through, exact-dup max-source
    * pick, and the middle-initial forward-fill + max-source pick for
    * genuinely drifting names. */
  def q170EdbXwalk(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select((col("o_custkey") % 80).as("p"),
      year(to_date(col("o_orderdate"))).as("yr")).distinct()
    val p = col("p"); val yr = col("yr")
    val edb = base
      .filter((p % 5 >= 3 && yr === 1995) || p % 5 < 3)
      .select(concat(lit("E"), p.cast("string")).as("bene_id"),
        yr.as("source"),
        when(p % 5 === 0, concat(lit("S"), p.cast("string")))
          .otherwise(concat(lit("S"), p.cast("string"), lit("-"),
            (yr % 3).cast("string"))).as("bene_srnm_name"),
        concat(lit("G"), p.cast("string")).as("bene_gvn_name"),
        when(p % 5 === 0, concat(lit("M"), (p % 4).cast("string")))
          .when((p + yr) % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("M"), (yr % 4).cast("string")))
          .as("bene_mdl_name"),
        when(yr % 2 === 0, "Y").otherwise("N").as("crnt_rec_ind"))
    graft.builds.McareXwalk.edbDedup(edb).orderBy(col("bene_id"))
  }

  /** §3.3 annual demographic roll-up ref table (q171,
    * load_ref.mcaid_demo_summary.R:66-360): modal geocode per
    * person-year (deterministic hash tie-break documented), the
    * gender-fallback + T-SQL month-boundary age-group person-year
    * frame, the 11-measure UNPIVOT with race flags collapsed to
    * race_aic, and the (year, measure, value) distinct-person
    * tabulation with per-(year, measure) totals and 1-10 small-count
    * suppression. */
  def q171DemoSummary(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey"); val ck = col("o_custkey")
    val month = t(s, dir, "orders").select(
      (ck % 100).as("id_mcaid"),
      year(to_date(col("o_orderdate"))).as("year"),
      concat(lit("H"), (ck % 100).cast("string"), lit("-"),
        (ok % 4).cast("string")).as("geo_hash_geocode"),
      when(ok % 3 === 0, 0).otherwise(1).as("full_benefit"),
      when(ok % 5 === 4, 0).otherwise(1).as("geo_kc"))
    val ckm = col("ckm")
    val dm = t(s, dir, "customer")
      .groupBy((col("c_custkey") % 100).as("id_mcaid"))
      .agg(min(col("c_custkey")).as("ckm"))
      .filter(ckm % 19 =!= 3)
      .select(col("id_mcaid"),
        when(ckm % 23 === 0, lit(null).cast("date"))
          .otherwise(date_add(to_date(lit("1935-01-01")),
            (ckm * 131 % 23000).cast("int"))).as("dob"),
        when(ckm % 6 === 0, "Unknown").when(ckm % 2 === 0, "Female")
          .otherwise("Male").as("gender_recent"),
        when(ckm % 4 === 0, "Female").otherwise("Male").as("gender_me"),
        when(ckm % 11 === 0, 1).otherwise(0).as("race_aian"),
        when(ckm % 7 === 1, 1).otherwise(0).as("race_asian"),
        when(ckm % 6 === 2, 1).otherwise(0).as("race_black"),
        when(ckm % 5 === 3, 1).otherwise(0).as("race_latino"),
        when(ckm % 13 === 4, 1).otherwise(0).as("race_nhpi"),
        when(ckm % 3 === 2, 1).otherwise(0).as("race_white"),
        when(ckm % 17 === 5, 1).otherwise(0).as("race_unk"))
    val geocode = s.range(0, 100)
      .select(col("id").cast("int").as("p"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(concat(lit("H"), col("p").cast("string"), lit("-"),
          col("k").cast("string")).as("geo_hash_geocode"),
        when(col("k") === 3, lit(null).cast("string"))
          .otherwise(((col("p") + col("k")) % 9 + 1).cast("string"))
          .as("geo_id20_kccdist"),
        concat(lit("981"), ((col("p") + col("k")) % 10).cast("string"))
          .as("geo_zip_clean"))
    graft.builds.DemoSummary.build(month, dm, geocode,
        currentYear = 1998)
      .orderBy(col("measure"), col("value"), col("year"))
  }

  /** §5 per-table QA battery for claim_header (q177,
    * qa_stage.mcaid_claim_header.R:67-260): id containment vs the two
    * elig tables (anti-join row counts), claim-header-id distinctness,
    * and the per-year header + ED counts vs the prior load — the
    * reference's 4 per-slice GROUP BY scans fused into ONE
    * conditional-aggregation scan per side, verdict rows distributed.
    * Planted: ids missing from demo (orphan FAIL), duplicated header
    * ids (distinctness FAIL), extra prior-1994 rows (year FAIL), a
    * new-only 1998 year (passes vs 0). */
  def q177ClaimHeaderQa(s: SparkSession, dir: String): DataFrame = {
    import graft.qa.Qa
    val ok = col("o_orderkey"); val ck = col("o_custkey")
    val hdr0 = t(s, dir, "orders").select(
      (ck % 90).as("id_mcaid"), ok.as("claim_header_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      when(ok % 6 === 0, 1).otherwise(0).as("ed_pophealth_flag"))
    val hdr = hdr0.unionByName(
      hdr0.filter(col("claim_header_id") % 997 === 0))
    // parent keys renamed: refIntegrity's equi-join would otherwise be
    // ambiguous (both frames share hdr0's lineage)
    val demo = hdr0.select(col("id_mcaid").as("elig_id")).distinct()
      .filter(col("elig_id") % 17 =!= 3)
    val timevar = hdr0.select(col("id_mcaid").as("elig_id")).distinct()
    val prior = hdr.filter(year(col("first_service_date")) =!= 1998)
      .unionByName(hdr.filter(
        year(col("first_service_date")) === 1994 &&
          col("claim_header_id") % 7 === 0))
    val scalar = Seq(
      Qa.refIntegrity(hdr, "id_mcaid", demo, "elig_id",
        "mcaid_claim_header vs demo"),
      Qa.refIntegrity(hdr, "id_mcaid", timevar, "elig_id",
        "mcaid_claim_header vs timevar"),
      Qa.keyDistinct(hdr, "mcaid_claim_header",
        Seq("claim_header_id")))
    Qa.suite(s, scalar).unionByName(
        Qa.yearSliceCountsVsPrior(hdr, prior, "first_service_date",
          "mcaid_claim_header", Seq(
            "num_header" -> lit(true),
            "num_ed" -> (col("ed_pophealth_flag") === 1))))
      .orderBy(col("table"), col("check"))
  }

  /** §7.5.11 mcare claim_line (q183, load_stage.mcare_claim_line.R):
    * nine source arms — carrier/dme professional lines under the ResDAC
    * carrier denial rule (base-row code IN '1'..'9', so a line with NO
    * base claim is excluded) and seven facility revenue-center arms
    * under the facility rule (non-pmt code empty/NULL, so a no-base-row
    * line PASSES) — POS left-padded to 2 and revenue code to 4 only
    * when the TRIMMED value is short (else the raw value survives),
    * enrollment existence, UNION distinct. Planted: short/padded/
    * blank-led codes, missing base claims, unenrolled members, and
    * both inpatient/outpatient vintage slices tagging one filetype. */
  def q183McareClaimLine(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val arm = ok % 9
    val lineAll = t(s, dir, "lineitem").join(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("B"), col("o_custkey").cast("string")).as("bene_id"),
        concat(lit("C"), col("l_orderkey").cast("string")).as("clm_id"),
        col("l_linenumber").cast("string").as("line_no"),
        when(col("l_partkey") % 5 === 0, "1")
          .when(col("l_partkey") % 5 === 1, " 2")
          .when(col("l_partkey") % 5 === 2, "23")
          .when(col("l_partkey") % 5 === 3, lit(null).cast("string"))
          .otherwise("11").as("line_place_of_srvc_cd"),
        (col("l_suppkey") % 10).cast("string")
          .as("line_cms_type_srvc_cd"),
        when(col("l_partkey") % 7 === 0, "45")
          .when(col("l_partkey") % 7 === 1, " 450")
          .when(col("l_partkey") % 7 === 2, "0450")
          .when(col("l_partkey") % 7 === 3, lit(null).cast("string"))
          .otherwise(lpad((col("l_partkey") % 10000).cast("string"), 4,
            "0")).as("rev_cntr"),
        (col("l_orderkey") % 9).as("arm"))
    val base = t(s, dir, "orders").filter(ok % 19 =!= 0).select(
      concat(lit("C"), ok.cast("string")).as("clm_id"),
      to_date(col("o_orderdate")).as("clm_from_dt"),
      date_add(to_date(col("o_orderdate")), (ok % 15).cast("int"))
        .as("clm_thru_dt"),
      when(ok % 12 === 10, lit(null).cast("string"))
        .when(ok % 12 === 11, "D")
        .otherwise((ok % 12).cast("string")).as("carr_clm_pmt_dnl_cd"),
      when(ok % 11 === 0, "N")
        .when(ok % 11 === 1, lit(null).cast("string"))
        .otherwise("").as("clm_mdcr_non_pmt_rsn_cd"))
    val enroll = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 3)
      .select(concat(lit("B"), col("c_custkey").cast("string"))
        .as("bene_id"))
    def slice(a: Int) = lineAll.filter(col("arm") === a).drop("arm")
    def carrierLine(a: Int) = slice(a).select(col("bene_id"),
      col("clm_id"), col("line_no").as("line_num"),
      col("line_place_of_srvc_cd"), col("line_cms_type_srvc_cd"))
    def facilityRev(a: Int) = slice(a).select(col("bene_id"),
      col("clm_id"), col("line_no").as("clm_line_num"), col("rev_cntr"))
    graft.builds.McareClaimLine.build(
        carrier = Seq("carrier" -> 0, "dme" -> 1).map { case (ft, a) =>
          (ft, carrierLine(a), base) },
        facility = Seq("hha" -> 2, "hospice" -> 3, "inpatient" -> 4,
          "inpatient" -> 5, "outpatient" -> 6, "outpatient" -> 7,
          "snf" -> 8).map { case (ft, a) => (ft, facilityRev(a), base) },
        enroll = enroll)
      .orderBy(col("filetype_mcare"), col("claim_header_id"),
        col("claim_line_id"), col("revenue_code"),
        col("place_of_service_code"))
  }

  /** §7.5.11 mcare claim_icdcm_header (q184,
    * load_stage.mcare_claim_icdcm_header.R): nine arms with per-filetype
    * dx slot matrices (carrier/dme 12 slots, facility 25 + 12 e-codes,
    * inpatient/snf an admit dx), per-shape denial rules, one 38-slot
    * unpivot, exact-`' '` slot drop, first-service-date-gated ICD-9
    * right-pad + version, DISTINCT. Planted: 3/4/5-char digit codes,
    * V/E codes on both sides of the 2015-10-01 cutover, NULL and
    * single-space slots, missing base denial codes. */
  def q184McareClaimIcdcm(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McareClaimIcdcm
    val ok = col("o_orderkey")
    def dxv(i: Int): Column = {
      val k = (ok * 7 + lit(i * 13)) % 11
      when(k === 0, lit(null).cast("string"))
        .when(k === 1, " ")
        .when(k === 2, "250")
        .when(k === 3, "2504")
        .when(k === 4, "25043")
        .when(k === 5, "V12")
        .when(k === 6, "V123")
        .when(k === 7, "E950")
        .when(k === 8, "A1505")
        .when(k === 9,
          concat(lit("E"), lpad(((ok + i) % 999).cast("string"), 3, "0")))
        .otherwise(concat(lit("Z"), ((ok + i) % 99).cast("string")))
    }
    val from = add_months(to_date(col("o_orderdate")),
      (ok % 3).cast("int") * 120)
    val wideAll = t(s, dir, "orders").select(Seq(
      concat(lit("B"), col("o_custkey").cast("string")).as("bene_id"),
      concat(lit("C"), ok.cast("string")).as("clm_id"),
      from.as("clm_from_dt"),
      date_add(from, (ok % 15).cast("int")).as("clm_thru_dt"),
      when(ok % 12 === 10, lit(null).cast("string"))
        .when(ok % 12 === 11, "D")
        .otherwise((ok % 12).cast("string")).as("dnl"),
      when(ok % 11 === 0, "N")
        .when(ok % 11 === 1, lit(null).cast("string"))
        .otherwise("").as("nonpmt"),
      (ok % 9).as("arm")) ++
      (0 to 37).map(i => dxv(i).as(s"d$i")): _*)
      // materialize the 9-way-shared source once (guide §2.4): in the
      // reference each filetype arm reads its OWN staged table; this
      // fixture derives all nine from one frame, and without the
      // checkpoint every arm re-scans and re-computes the 38-slot
      // fixture expressions (9 scans of orders per run). A staged-
      // table analog, not cross-run caching — rebuilt every invocation.
      .localCheckpoint(true)
    val enroll = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 3)
      .select(concat(lit("B"), col("c_custkey").cast("string"))
        .as("bene_id"))
    def armOf(a: Int) = wideAll.filter(col("arm") === a)
    val dx12 = (1 to 12).map(i => s"d$i")
    val dx25 = (1 to 25).map(i => s"d$i")
    val ec12 = (26 to 37).map(i => s"d$i")
    val arms =
      Seq(0 -> "carrier", 1 -> "dme").map { case (a, ft) =>
        McareClaimIcdcm.arm(
          McareClaimIcdcm.carrierDenial(armOf(a), "dnl"), ft, None, dx12,
          Nil) } ++
      Seq(2 -> "hha", 3 -> "hospice", 6 -> "outpatient",
          7 -> "outpatient").map { case (a, ft) =>
        McareClaimIcdcm.arm(
          McareClaimIcdcm.facilityDenial(armOf(a), "nonpmt"), ft, None,
          dx25, ec12) } ++
      Seq(4 -> "inpatient", 5 -> "inpatient", 8 -> "snf").map {
        case (a, ft) =>
          McareClaimIcdcm.arm(
            McareClaimIcdcm.facilityDenial(armOf(a), "nonpmt"), ft,
            Some("d0"), dx25, ec12) }
    McareClaimIcdcm.build(arms, enroll)
      .orderBy(col("filetype_mcare"), col("claim_header_id"),
        col("icdcm_number"), col("icdcm_raw"))
  }

  /** §7.5.11 mcare claim_procedure (q185,
    * load_stage.mcare_claim_procedure.R): nine arms under the
    * per-filetype feature matrix (2/3/4/0 modifier slots, hha/hospice
    * `' '`→NULL fold, carrier/dme BETOS, facility ICD-PCS 25-slot
    * unpivot, per-shape denial rules), each arm ONE explode pass instead
    * of the reference's 2-4 base-CTE rereads; enrollment semi + UNION
    * distinct. Planted: NULL/`' '` modifiers and PCS slots, claims with
    * no line rows, unenrolled members. */
  def q185McareClaimProcedure(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McareClaimProcedure
    import McareClaimProcedure.ArmSpec
    val ok = col("o_orderkey")
    def pcv(i: Int): Column = {
      val k = (ok * 11 + lit(i * 17)) % 9
      when(k === 0, lit(null).cast("string"))
        .when(k === 1, " ")
        .when(k === 2, "0210093")
        .when(k === 3, "8606")
        .otherwise(lpad(((ok + i) % 99999).cast("string"), 5, "0"))
    }
    val base = t(s, dir, "orders").select(Seq(
      concat(lit("B"), col("o_custkey").cast("string")).as("bene_id"),
      concat(lit("C"), ok.cast("string")).as("clm_id"),
      to_date(col("o_orderdate")).as("clm_from_dt"),
      date_add(to_date(col("o_orderdate")), (ok % 15).cast("int"))
        .as("clm_thru_dt"),
      when(ok % 12 === 10, lit(null).cast("string"))
        .when(ok % 12 === 11, "D")
        .otherwise((ok % 12).cast("string")).as("dnl"),
      when(ok % 11 === 0, "N")
        .when(ok % 11 === 1, lit(null).cast("string"))
        .otherwise("").as("nonpmt"),
      (ok % 9).as("arm")) ++
      (1 to 25).map(i => pcv(i).as(s"pc$i")): _*)
    val pk = col("l_partkey")
    def modv(i: Int): Column = {
      val k = (pk * 5 + lit(i * 11) + col("l_suppkey")) % 7
      when(k === 0, lit(null).cast("string"))
        .when(k === 1, " ")
        .when(k === 2, "25").when(k === 3, "59").when(k === 4, "GT")
        .when(k === 5, "LT").otherwise("76")
    }
    val hv = (pk * 3 + col("l_linenumber")) % 6
    val lines = t(s, dir, "lineitem").select(Seq(
      concat(lit("C"), col("l_orderkey").cast("string")).as("clm_id"),
      when(hv === 0, lit(null).cast("string"))
        .when(hv === 1, "99213").when(hv === 2, "G0438")
        .otherwise(lpad((pk % 99999).cast("string"), 5, "0"))
        .as("pchcpcs"),
      when((pk + 7) % 5 === 0, lit(null).cast("string"))
        .when((pk + 7) % 5 === 1, "M1A")
        .when((pk + 7) % 5 === 2, "T1H")
        .when((pk + 7) % 5 === 3, "O1A")
        .otherwise(lit(null).cast("string")).as("pcbetos")) ++
      (1 to 4).map(i => modv(i).as(s"mod$i")): _*)
    // materialize the claims⟕lines staging frame once (guide §2.4): the
    // reference's nine arms each read their OWN staged filetype table;
    // this fixture derives all nine from one joined frame, and without
    // the checkpoint every arm re-executes the orders⟕lineitem join
    // (9 joins per run). A staged-table analog, not cross-run caching.
    val joined = base.join(lines, Seq("clm_id"), "left").localCheckpoint(true)
    def gated(a: Int, carrierStyle: Boolean) = {
      val f = joined.filter(col("arm") === a)
      if (carrierStyle)
        f.filter(col("dnl").isin("1", "2", "3", "4", "5", "6", "7", "8",
          "9"))
      else f.filter(col("nonpmt") === "" || col("nonpmt").isNull)
    }
    def mods(n: Int) = (1 to n).map(i => s"mod$i")
    val pcs = (1 to 25).map(i => s"pc$i")
    val arms = Seq(
      (0, true, ArmSpec("carrier", mods(2), false, Some("pcbetos"), Nil)),
      (1, true, ArmSpec("dme", mods(4), false, Some("pcbetos"), Nil)),
      (2, false, ArmSpec("hha", mods(3), true, None, Nil)),
      (3, false, ArmSpec("hospice", mods(3), true, None, Nil)),
      (4, false, ArmSpec("inpatient", mods(3), false, None, pcs)),
      (5, false, ArmSpec("inpatient", Nil, false, None, pcs)),
      (6, false, ArmSpec("outpatient", mods(4), false, None, pcs)),
      (7, false, ArmSpec("outpatient", mods(2), false, None, pcs)),
      (8, false, ArmSpec("snf", mods(3), false, None, pcs))
    ).map { case (a, cs, spec) =>
      McareClaimProcedure.arm(gated(a, cs), spec) }
    val enroll = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 3)
      .select(concat(lit("B"), col("c_custkey").cast("string"))
        .as("bene_id"))
    McareClaimProcedure.build(arms, enroll)
      .orderBy(col("filetype_mcare"), col("claim_header_id"),
        col("procedure_code"), col("modifier_code"))
  }

  /** Stage-vars column order for the q186/q187 mcaid_elig staging pair
    * (a representative subset of load_stage.mcaid_elig.yaml's vars, in
    * its order: prefix … geo_hash_raw, MBR_ACES_IDNTFR, etl_batch_id). */
  private val EligStageVars = Seq("CLNDR_YEAR_MNTH", "MBR_H_SID",
    "MEDICAID_RECIPIENT_ID", "GENDER", "RAC_CODE", "RAC_NAME",
    "RAC_FROM_DATE", "RAC_TO_DATE", "END_REASON_NAME",
    "DUALELIGIBLE_INDICATOR", "RSDNTL_ADRS_LINE_1", "RSDNTL_ADRS_LINE_2",
    "RSDNTL_CITY_NAME", "RSDNTL_STATE_CODE", "RSDNTL_POSTAL_CODE",
    "geo_hash_raw", "MBR_ACES_IDNTFR", "etl_batch_id")

  /** Synthetic (raw, archive) for the mcaid_elig staging build: raw =
    * base rows + three planted duplicate families (END_REASON variant,
    * HOH_ID variant, misspelled-RAC variant); archive = a prior-load
    * slice spanning months on both sides of the incremental cut. */
  private def eligStageFrames(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ok = col("o_orderkey")
    val ck = col("o_custkey")
    def mkBase(monthBase: Int, batch: Int) = t(s, dir, "orders").select(
      (lit(monthBase) + (ok % (if (batch == 1) 6 else 5)) * 100 +
        (ok % 12 + 1)).cast("int").as("CLNDR_YEAR_MNTH"),
      concat(lit("S"), ck.cast("string")).as("MBR_H_SID"),
      when(ok % 8 === 0, concat(lit("id"), ck.cast("string")))
        .otherwise(concat(lit("ID"), ck.cast("string")))
        .as("MEDICAID_RECIPIENT_ID"),
      when(ck % 3 === 0, "Female").when(ck % 3 === 1, "Male")
        .otherwise(lit(null).cast("string")).as("GENDER"),
      when(ok % 13 === 0, lit(null).cast("int"))
        .otherwise((ok % 50).cast("int")).as("RAC_CODE"),
      when(ok % 10 === 2, graft.builds.McaidEligStage.RacCorrect)
        .when(ok % 15 === 0, graft.builds.McaidEligStage.RacMisspelled)
        .otherwise(concat(lit("RAC "), (ok % 50).cast("string")))
        .as("RAC_NAME"),
      when(ok % 9 === 0, lit(null).cast("date"))
        .otherwise(to_date(col("o_orderdate"))).as("RAC_FROM_DATE"),
      when(ok % 9 === 1, lit(null).cast("date"))
        .otherwise(date_add(to_date(col("o_orderdate")), 30))
        .as("RAC_TO_DATE"),
      when(ok % 6 === 0, lit(null).cast("string"))
        .when(ok % 6 === 1, "Review Not Complete")
        .when(ok % 6 === 2, "No Eligible Household Members")
        .when(ok % 6 === 3, "Already Eligible for Program in Different AU")
        .when(ok % 6 === 4, "Moved out of state")
        .otherwise("Aged out").as("END_REASON_NAME"),
      (ok % 2).cast("string").as("DUALELIGIBLE_INDICATOR"),
      when(ok % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("H"), (ok % 1000).cast("string")))
        .as("HOH_ID"),
      when(ck % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("100 Main St "), (ck % 90).cast("string")))
        .as("RSDNTL_ADRS_LINE_1"),
      when(ck % 4 === 0, concat(lit("Apt "), (ck % 20).cast("string")))
        .otherwise(lit(null).cast("string")).as("RSDNTL_ADRS_LINE_2"),
      when(ck % 2 === 0, "Seattle").otherwise("Spokane")
        .as("RSDNTL_CITY_NAME"),
      lit("WA").as("RSDNTL_STATE_CODE"),
      (lit(98000) + ck % 200).cast("string").as("RSDNTL_POSTAL_CODE"),
      concat(lit("A"), ck.cast("string")).as("MBR_ACES_IDNTFR"),
      lit(batch).as("etl_batch_id"),
      ok.as("ok"))
    val raw0 = mkBase(199200, 2)
    // planted duplicate families (the reference's three types)
    val dup1 = raw0.filter(col("ok") % 10 === 0)
      .withColumn("END_REASON_NAME", lit("Other"))
    val dup2 = raw0.filter(col("ok") % 10 === 1)
      .withColumn("HOH_ID", lit(null).cast("string"))
    val dup3 = raw0.filter(col("ok") % 10 === 2)
      .withColumn("RAC_NAME",
        lit(graft.builds.McaidEligStage.RacMisspelled))
    // NULL plain-equality id key: the reference's dedup self-join drops
    // these rows entirely (only the RAC columns join NULL-safe)
    val dup4 = raw0.filter(col("ok") % 10 === 3)
      .withColumn("MBR_H_SID", lit(null).cast("string"))
    val raw = raw0.unionByName(dup1).unionByName(dup2).unionByName(dup3)
      .unionByName(dup4)
      .drop("ok")
    val archive = mkBase(199100, 1)
      .withColumn("geo_hash_raw", graft.builds.McaidEligStage.geoHashRaw)
      .select(EligStageVars.map(col): _*)
    (raw, archive)
  }

  /** §7.5 mcaid_elig staging (q186, load_stage.mcaid_elig.R:225-420):
    * RAC-misspelling fix, END_REASON priority dedup (max-score keep,
    * DISTINCT over the stage vars — which exclude HOH_ID, making
    * HOH-only duplicates vanish in the projection), archive-before-cut
    * UNION-distinct incoming-with-geo_hash merge, and the post-load
    * MEDICAID_RECIPIENT_ID upper-case applied after the distinct. */
  def q186McaidEligStage(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McaidEligStage
    val (raw, archive) = eligStageFrames(s, dir)
    McaidEligStage.stage(
        McaidEligStage.dedup(raw,
          EligStageVars.filterNot(_ == "geo_hash_raw")),
        archive, EligStageVars, "CLNDR_YEAR_MNTH")
      .orderBy(col("CLNDR_YEAR_MNTH"), col("MBR_H_SID"),
        col("MEDICAID_RECIPIENT_ID"), col("RAC_CODE"),
        col("RAC_FROM_DATE"), col("RAC_NAME"), col("END_REASON_NAME"),
        col("geo_hash_raw"), col("etl_batch_id"))
  }

  /** q187: the duplicate-diagnosis probes (load_stage.mcaid_elig.R:
    * 144-182) — three fixed distinct-count projections fused into one
    * scan, each dropping one suspect discriminator. */
  def q187EligDupProbes(s: SparkSession, dir: String): DataFrame = {
    val (raw, _) = eligStageFrames(s, dir)
    graft.builds.McaidEligStage.duplicateProbes(raw)
      .orderBy(col("probe"))
  }

  /** §7.5.8 address_clean full refresh (q188,
    * load_stage.address_clean_full.R): two-source combine (distinct
    * Medicaid + folded PHA addresses, NA-equal joint/anti split carrying
    * both source flags, manual trim, blank/"NA" fold), cleaning-service
    * left join, manual-row bind + R's NULL-propagating po_box fix, and
    * the PHA full-join restore (pha_xfer raw→clean backfill, unit_*
    * raw restore, add3 from unit_apt2, flag recompute + per-key max,
    * distinct). Planted: ''/'NA'/NULL keys on both sides, joint
    * addresses, unmatched-service PHA rows (xfer path), manual hits. */
  def q188AddressCleanFull(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.AddressClean
    import s.implicits._
    val k = col("k")
    val mcaid = t(s, dir, "customer")
      .select((col("c_custkey") % 120).as("k")).distinct()
      .select(
        when(k % 13 === 0, "").when(k % 17 === 0, "NA")
          .when(k % 11 === 0, lit(null).cast("string"))
          .otherwise(concat((k % 50).cast("string"), lit(" PINE ST")))
          .as("geo_add1_raw"),
        when(k % 5 === 0, concat(lit("APT "), (k % 9).cast("string")))
          .when(k % 7 === 0, "").otherwise(lit(null).cast("string"))
          .as("geo_add2_raw"),
        when(k % 19 === 0, "NA")
          .otherwise(concat(lit("CITY"), (k % 20).cast("string")))
          .as("geo_city_raw"),
        when(k % 3 === 0, "WA").otherwise("OR").as("geo_state_raw"),
        lpad((k % 400).cast("string"), 5, "0").as("geo_zip_raw"))
    val j = col("j")
    val phaFull = t(s, dir, "supplier")
      .select((col("s_suppkey") % 80).as("j")).distinct()
      .select(
        when(j % 9 === 0, lit(null).cast("string"))
          .otherwise(concat((j % 60).cast("string"), lit(" PINE ST")))
          .as("unit_add"),
        when(j % 4 === 0, concat(lit("UNIT "), (j % 6).cast("string")))
          .otherwise(lit(null).cast("string")).as("unit_apt"),
        when(j % 8 === 0, concat(lit("FL "), (j % 3).cast("string")))
          .otherwise(lit(null).cast("string")).as("unit_apt2"),
        concat(lit("CITY"), (j % 20).cast("string")).as("unit_city"),
        when(j % 3 === 0, "WA").otherwise("OR").as("unit_state"),
        lpad((j % 400).cast("string"), 5, "0").as("unit_zip"),
        when(j % 10 === 0, "").when(j % 15 === 5, "NA")
          .otherwise(concat((j % 50).cast("string"), lit(" PINE ST")))
          .as("geo_add1_raw"),
        when(j % 4 === 0, concat(lit("UNIT "), (j % 6).cast("string")))
          .otherwise(lit(null).cast("string")).as("geo_add2_raw"),
        concat(lit("CITY"), (j % 20).cast("string")).as("geo_city_raw"),
        when(j % 3 === 0, "WA").otherwise("OR").as("geo_state_raw"),
        lpad((j % 400).cast("string"), 5, "0").as("geo_zip_raw"))
    val manual = Seq(
      ("3 PINE ST", null, "CITY3", "WA", "00003",
        "3 PINE STREET", "UNIT 1", "CITY3", "WA", "00003",
        "PO BOX 9"),
      ("999 X ST", "STE 9", "CITYX", "WA", "99999",
        "999 X STREET", null, "CITYX", "WA", "99999", null))
      .toDF("geo_add1_raw", "geo_add2_raw", "geo_city_raw",
        "geo_state_raw", "geo_zip_raw", "geo_add1_clean",
        "geo_add2_clean", "geo_city_clean", "geo_state_clean",
        "geo_zip_clean", "mailbox")
      .withColumn("overridden", lit(1))
    val combined = AddressClean.fullCombine(mcaid, phaFull, manual)
    // deterministic stand-in for the cleaning-service round trip: some
    // rows unmatched (-> NULL cleans, the pha_xfer path)
    val l1 = coalesce(length(col("geo_add1_raw")), lit(0))
    val svc = combined
      .select(col("geo_add1_raw"), col("geo_add2_raw"),
        col("geo_city_raw"), col("geo_state_raw"), col("geo_zip_raw"))
      .distinct()
      .filter((l1 + coalesce(length(col("geo_city_raw")), lit(0))) % 4
        =!= 0)
      .withColumn("geo_add1_clean",
        concat(lit("CL "), coalesce(col("geo_add1_raw"), lit("NONE"))))
      .withColumn("geo_add2_clean",
        when(col("geo_add2_raw").isNotNull,
          concat(lit("CL "), col("geo_add2_raw"))))
      .withColumn("geo_city_clean", upper(col("geo_city_raw")))
      .withColumn("geo_state_clean", col("geo_state_raw"))
      .withColumn("geo_zip_clean", col("geo_zip_raw"))
      .withColumn("po_box", (l1 % 5 === 0).cast("int"))
      .withColumn("mailabilty_score", (l1 % 4).cast("int"))
    val rawK = Seq("geo_add1_raw", "geo_add2_raw", "geo_city_raw",
      "geo_state_raw", "geo_zip_raw")
    val svcR = svc.select(rawK.map(c => col(c).as(s"s_$c")) ++
      Seq("geo_add1_clean", "geo_add2_clean", "geo_city_clean",
        "geo_state_clean", "geo_zip_clean", "po_box", "mailabilty_score")
        .map(col): _*)
    val cond = rawK.map(c => col(c) <=> col(s"s_$c")).reduce(_ && _)
    val clean = combined.join(svcR, cond, "left")
      .select(rawK.map(col) ++ Seq("geo_source_mcaid", "geo_source_pha",
        "geo_add1_clean", "geo_add2_clean", "geo_city_clean",
        "geo_state_clean", "geo_zip_clean", "po_box", "mailabilty_score")
        .map(col): _*)
    val full0 = clean
      .unionByName(manual, allowMissingColumns = true).distinct()
    val pbCond = col("po_box") === 1 || col("mailbox").isNotNull
    val full = full0
      .withColumn("po_box", when(pbCond, 1).when(!pbCond, 0))
      .distinct()
    AddressClean.phaRestore(full, phaFull)
      .orderBy(col("geo_add1_raw"), col("geo_add2_raw"),
        col("geo_add3_raw"), col("geo_city_raw"), col("geo_zip_raw"),
        col("geo_add1_clean"), col("geo_add2_clean"),
        col("geo_source_mcaid"), col("geo_source_pha"), col("po_box"),
        col("overridden"))
  }

  // ---- sp_mcaidcohort sproc family (q192-q194) ----

  /** Language battery shared by the q192/q193 fixtures and oracles. */
  val CohortLangs: Seq[String] = Seq("english", "spanish", "vietnamese",
    "chinese", "somali", "russian", "arabic", "korean", "ukrainian",
    "amharic")

  /** Synthetic sproc-input frames (elig_overall, demoever, address,
    * covgrp, hra_region, claim_summary), keyed off orders/customer/
    * nation; the oracle CTE prefix in SparkEntry mirrors these mods
    * exactly. Interval tables are thinned (%31/%13/%23) so per-person
    * coverage sums stay inside the sproc's DECIMAL(4,1) covper. */
  def mcaidCohortFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val orders = t(s, dir, "orders")
    val pidOf = (k: Column) => k % 100
    val mkId = (k: Column) => concat(lit("P"), pidOf(k).cast("string"))

    val pid = col("pid")
    val langFlag = (i: Int) =>
      when(pid % 10 === i || pid % (29 + i) === 0, 1).otherwise(0)
    val tTwist = (m: Int, f: Column) =>
      when(pid % 23 === m, 1).otherwise(f)
    val aian = when(pid % 11 === 0, 1).otherwise(0)
    val asian = when(pid % 7 === 1, 1).otherwise(0)
    val black = when(pid % 7 === 2, 1).otherwise(0)
    val nhpi = when(pid % 13 === 3, 1).otherwise(0)
    val white = when(pid % 3 === 0, 1).otherwise(0)
    val latino = when(pid % 5 === 1, 1).otherwise(0)
    val raceN = aian + asian + black + nhpi + white
    val raceMx = when(raceN > 1, "Multiple").when(aian === 1, "AI/AN")
      .when(asian === 1, "Asian").when(black === 1, "Black")
      .when(nhpi === 1, "NH/PI").when(white === 1, "White")
      .otherwise("Unknown")
    val maleC = when(pid % 17 =!= 0 && pid % 2 === 1, 1).otherwise(0)
    val femaleC = when(pid % 17 =!= 0 && pid % 2 === 0, 1).otherwise(0)
    val maxlangC = CohortLangs.zipWithIndex.tail.foldLeft(
      when(pid % 10 === 0, CohortLangs.head.toUpperCase)) {
      case (acc, (l, i)) => acc.when(pid % 10 === i, l.toUpperCase)
    }
    val demoever = t(s, dir, "customer")
      .select(pidOf(col("c_custkey")).as("pid")).distinct()
      .select(Seq(
        concat(lit("P"), pid.cast("string")).as("id"),
        date_add(to_date(lit("1930-01-01")), ((pid * 61) % 24000)
          .cast("int")).as("dobnew"),
        when(pid % 17 === 0, "Unknown").when(maleC === 1, "Male")
          .otherwise("Female").as("gender_mx"),
        maleC.as("male"), femaleC.as("female"),
        tTwist(1, maleC).as("male_t"), tTwist(2, femaleC).as("female_t"),
        when(pid % 17 === 0, 1).otherwise(0).as("gender_unk"),
        when(latino === 1, "Latino").otherwise(raceMx).as("race_eth_mx"),
        raceMx.as("race_mx"),
        aian.as("aian"), asian.as("asian"), black.as("black"),
        nhpi.as("nhpi"), white.as("white"), latino.as("latino"),
        tTwist(3, aian).as("aian_t"), tTwist(3, asian).as("asian_t"),
        tTwist(3, black).as("black_t"), tTwist(3, nhpi).as("nhpi_t"),
        tTwist(3, white).as("white_t"), tTwist(3, latino).as("latino_t"),
        when(raceN === 0, 1).otherwise(0).as("race_unk"),
        maxlangC.as("maxlang")) ++
        CohortLangs.zipWithIndex.map { case (l, i) =>
          langFlag(i).as(l) } ++
        CohortLangs.zipWithIndex.map { case (l, i) =>
          tTwist(4, langFlag(i)).as(s"${l}_t") } :+
        when(pid % 37 === 0, 1).otherwise(0).as("lang_unk"): _*)

    val ok = col("o_orderkey")
    val eligOverall = orders.filter(ok % 7 === 0)
      .select(mkId(col("o_custkey")).as("id"),
        to_date(col("o_orderdate")).as("from_date"),
        date_add(to_date(col("o_orderdate")), (ok % 45).cast("int"))
          .as("to_date"))
    val address = orders.filter(ok % 3 === 0)
      .select(mkId(col("o_custkey")).as("id"),
        (lit(98001) + ok % 5).cast("int").as("zip_new"),
        (ok % 7).cast("int").as("hra_id"),
        (lit(100) + ok % 9).cast("int").as("tractce10"),
        date_add(to_date(col("o_orderdate")),
          (ok % 200 - 100).cast("int")).as("from_date"),
        date_add(date_add(to_date(col("o_orderdate")),
          (ok % 200 - 100).cast("int")), (ok % 150).cast("int"))
          .as("to_date"))
    val covgrp = orders.filter(ok % 5 === 0)
      .select(mkId(col("o_custkey")).as("id"),
        when(ok % 4 === 0, "Y").otherwise("N").as("dual"),
        to_date(col("o_orderdate")).as("from_date"),
        date_add(to_date(col("o_orderdate")), (ok % 90).cast("int"))
          .as("to_date"))
    val hraRegion = t(s, dir, "nation").filter(col("n_nationkey") < 7)
      .select(col("n_nationkey").cast("int").as("hra_id"),
        concat(lit("HRA "), col("n_nationkey").cast("string")).as("hra"),
        (col("n_nationkey") % 3).cast("int").as("region_id"),
        concat(lit("Region "), (col("n_nationkey") % 3).cast("string"))
          .as("region"))
    val claimSummary = orders.select(
      mkId(col("o_custkey")).as("id"),
      concat(lit("T"), ok.cast("string")).as("tcn"),
      to_date(col("o_orderdate")).as("from_date"),
      when(ok % 5 === 0, 1).otherwise(0).as("inpatient"),
      when(ok % 10 === 0, 1).otherwise(0).as("ipt_medsurg"),
      when(ok % 15 === 0, 1).otherwise(0).as("ipt_bh"),
      when(ok % 3 === 0, 1).otherwise(0).as("ed"),
      when(ok % 6 === 0, 1).otherwise(0).as("ed_avoid_ca"),
      when(ok % 9 === 0, 1).otherwise(0).as("ed_emergent_nyu"),
      when(ok % 9 === 3, 1).otherwise(0).as("ed_nonemergent_nyu"),
      when(ok % 9 === 6, 1).otherwise(0).as("ed_intermediate_nyu"),
      (ok % 6).cast("string").as("clm_type_code"))
    (eligOverall, demoever, address, covgrp, hraRegion, claimSummary)
  }

  /** Shared q192/q193 parameters — exercises every gate class: numeric
    * (cov/gap/dual/age) plus three Split-driven lists. */
  val CohortP = graft.api.McaidCohort.CohortParams(
    fromDate = "1995-01-01", toDate = "1995-12-31",
    covMin = 2.0, ccovMin = 3, covgapMax = Some(360), dualMax = 95.0,
    ageMin = 1, ageMax = 64,
    maxlang = Some("ENGLISH,SPANISH,RUSSIAN,CHINESE,VIETNAMESE,SOMALI"),
    zip = Some("98001,98002,98003,98004"),
    region = Some("Region 0,Region 1"))

  /** sp_mcaidcohort steps 1-6 (q192). */
  def q192McaidCohort(s: SparkSession, dir: String): DataFrame = {
    val (eo, de, ad, cg, hr, _) = mcaidCohortFrames(s, dir)
    graft.api.McaidCohort.cohort(eo, de, ad, cg, hr, CohortP)
      .orderBy(col("id"))
  }

  /** sp_mcaid_claims_simple_r over the q192 cohort (q193). The detail
    * sproc is the same kernel on a wider flag list (spec-pinned). */
  def q193McaidClaimsSimple(s: SparkSession, dir: String): DataFrame = {
    val (eo, de, ad, cg, hr, cs) = mcaidCohortFrames(s, dir)
    val cohortDf = graft.api.McaidCohort.cohort(eo, de, ad, cg, hr, CohortP)
    val ids = graft.api.McaidCohort.idsInWindow(eo, CohortP)
    graft.api.McaidCohort.claimsSummary(cohortDf, ids, cs,
        Seq("inpatient", "ipt_medsurg", "ipt_bh", "ed", "ed_avoid_ca",
          "ed_emergent_nyu", "ed_nonemergent_nyu", "ed_intermediate_nyu"),
        CohortP.fromDate, CohortP.toDate)
      .orderBy(col("id"))
  }

  /** dbo.Split faithful behavior (q194) on column-valued delimited
    * strings: planted empty slices, all-blank slices (T-SQL LEN = 0 ->
    * dropped), duplicates (kept), trailing delimiters. */
  def q194TsqlSplit(s: SparkSession, dir: String): DataFrame = {
    val k = col("k")
    t(s, dir, "customer")
      .select((col("c_custkey") % 50).as("k")).distinct()
      .select(k,
        concat(lit("A"), (k % 5).cast("string"), lit(",,B"),
          (k % 3).cast("string"), lit(", ,"),
          when(k % 4 === 0, "dup,dup")
            .otherwise(concat(lit("C"), (k % 7).cast("string"))),
          when(k % 6 === 0, ",").otherwise("")).as("csv"))
      .select(k, col("csv"),
        explode(graft.api.McaidCohort.splitItems(col("csv"), ","))
          .as("item"))
      .orderBy(k, col("item"))
  }

  /** §2.3 chronic-meds fuzzy crosswalk (q286,
    * ref/tables/load_ref.chronic_meds_eli.R): the curated med list
    * (an external xlsx in the reference — a literal dim here, the
    * q51 local-frame discipline) regex-left-joined against the
    * DISTINCT lowercased claim drug names; '%'-wildcard names match
    * anywhere (str_detect semantics — unanchored), plain names match
    * as '^' prefixes; multi-matches expand, non-matches keep a NULL
    * row. Drug names derive from part names so the vocabulary scales
    * with the data. */
  def q286ChronicMeds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val meds = t(s, dir, "part")
      .select(lower(col("p_name")).as("ndc_desc")).distinct()
    val medList = Seq(
      ("spring%", "seasonal"),
      ("golden", "metallic"),
      ("%peru%", "regional"),
      ("navy", "marine"),
      ("drab snow", "weather"),
      ("antique%", "vintage")).toDF("drug_name", "med_category")
    graft.sources.RefTables.chronicMedsCrosswalk(meds, medList)
      .orderBy(col("ndc_desc"), col("drug_name"))
  }

  /** §2.8 dbo.CSVToTable broad-use function (q287,
    * analysis/Broad use functions/csvtotable_function.sql): the
    * WHERE-IN list-split whose quirks DIFFER from dbo.Split (q194) —
    * appended comma, ONE non-overlapping REPLACE(',,' -> ',') pass so
    * 3+-comma runs leave EMPTY values, every prefix inserted in order
    * with duplicates and blanks kept. Planted literals cover each
    * quirk; one input derives from the data (the distinct market
    * segments joined with ',,' — a bounded dim read). Output carries
    * the insertion position to pin order. */
  def q287CsvToTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = t(s, dir, "customer").select(col("c_mktsegment"))
      .distinct().orderBy(col("c_mktsegment"))
      .collect().map(_.getString(0)).toSeq
    val inputs = Seq(
      ("plain", "1,2,3"),
      ("double", "a,,b"),
      ("triple", "x,,,y"),
      ("empty", ""),
      ("lone_comma", ","),
      ("solo", "solo"),
      ("trailing", "t1,t2,"),
      ("segments", segs.mkString(",,")))
    val rows = inputs.flatMap { case (lbl, in) =>
      graft.api.McaidCohort.csvToTable(in).zipWithIndex.map {
        case (v, i) => (lbl, i + 1, v) }
    }
    rows.toDF("label", "pos", "id")
      .orderBy(col("label"), col("pos"))
  }

  /** §7.5 address_geocode spatial overlay (q195,
    * load_stage.address_geocode_partial.R:440-520): geocoded points
    * st_join'ed against polygon layers — census-tract rectangle grid,
    * region strips, school-district triangles — via the grid-partitioned
    * equi-join ([[graft.operators.Spatial.overlay]]), LEFT semantics so
    * out-of-coverage points keep NULL attrs. */
  def q195GeoOverlay(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Spatial
    val pts = t(s, dir, "customer").select(
      col("c_custkey").as("pid"),
      (col("c_custkey") % 1000 / 100.0 + 0.005).as("px"),
      (col("c_custkey") * 7 % 1000 / 100.0 + 0.005).as("py"))
    def pt(x: Column, y: Column): Column =
      struct(x.cast("double").as("x"), y.cast("double").as("y"))
    val k = col("n_nationkey")
    val tracts = t(s, dir, "nation").select(
      concat(lit("T"), k.cast("string")).as("tract_id"),
      array(
        pt(k % 5 * 2, (k / 5).cast("int") * 2),
        pt(k % 5 * 2 + 2, (k / 5).cast("int") * 2),
        pt(k % 5 * 2 + 2, (k / 5).cast("int") * 2 + 2),
        pt(k % 5 * 2, (k / 5).cast("int") * 2 + 2)).as("poly"))
    val r = col("r_regionkey")
    val regions = t(s, dir, "region").select(
      concat(lit("R"), r.cast("string")).as("region_name"),
      array(pt(r * 2, lit(0)), pt(r * 2 + 2, lit(0)),
        pt(r * 2 + 2, lit(10)), pt(r * 2, lit(10))).as("poly"))
    val schools = t(s, dir, "nation").filter(k < 10).select(
      concat(lit("S"), k.cast("string")).as("school"),
      array(pt(k, lit(0)), pt(k + 1, lit(0)),
        pt(k + 0.5, lit(9.75))).as("poly"))
    Spatial.overlay(pts, "pid", "px", "py",
        Seq(tracts, regions, schools), cellSize = 2.0)
      .orderBy(col("pid"))
  }

  /** §5 CCW prevalence QA battery (q198,
    * qa_stage.mcaid_claim_ccw.R:104-280): per-condition year-prevalent
    * person counts as a share of the year-covered population, compared
    * to a fixed external benchmark table (abs + percent diffs; the
    * reference's human review prompt is automated with its own
    * documented guidance — PASS when |percent diff| < 10 OR |abs diff|
    * < 0.5, conditions without a benchmark stay unverdicted); plus the
    * per-condition age_grp7 distribution against the population's,
    * with the script's leap-year divisor (1996 -> 366), its
    * dob-after-year-end NULL age branch, and its zero-padded labels.
    * One scan per aggregate; the population total is a 1-row broadcast
    * cross (never a driver round-trip). */
  def q198CcwPrevalenceQa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = 1996
    val pt = 366.0 // leap year
    val yearEnd = to_date(lit(s"$yr-12-31"))
    val orders = t(s, dir, "orders")
    val ccw = ConditionLoop.build(orders)
    val prevalent = ccw
      .filter(year(col("first_date")) <= yr &&
        year(col("last_date")) >= yr)
      .select(col("condition"), col("o_custkey"))
    val cover = orders.select(col("o_custkey"),
        to_date(col("o_orderdate")).as("fd"),
        date_add(to_date(col("o_orderdate")),
          (col("o_orderkey") % 90).cast("int")).as("td"))
      .filter(year(col("fd")) <= yr && year(col("td")) >= yr)
      .select("o_custkey").distinct()
    val popN = cover.agg(count(lit(1)).as("pop"))
    val bench = Seq(("big_spender", 4.2), ("open_frequent", 30.0))
      .toDF("condition", "benchmark")
    val propRaw = col("id_dcount") / col("pop") * 100.0
    val prev = prevalent.groupBy(col("condition"))
      .agg(countDistinct(col("o_custkey")).as("id_dcount"))
      .crossJoin(broadcast(popN))
      .join(broadcast(bench), Seq("condition"), "left")
      .select(lit("prevalence").as("section"), col("condition"),
        lit(null).cast("string").as("age_grp7"),
        col("id_dcount"), col("pop"),
        round(propRaw, 4).as("prop"), col("benchmark"),
        round(propRaw - col("benchmark"), 4).as("abs_diff"),
        round((propRaw - col("benchmark")) / propRaw * 100.0, 4)
          .as("per_diff"),
        when(col("benchmark").isNull, lit(null).cast("string"))
          .when(abs((propRaw - col("benchmark")) / propRaw * 100.0) < 10
            || abs(propRaw - col("benchmark")) < 0.5, "PASS")
          .otherwise("REVIEW").as("verdict"))
    val demo = orders.select(col("o_custkey")).distinct()
      .withColumn("dob", date_add(to_date(lit("1930-01-01")),
        (col("o_custkey") * 61 % 24800).cast("int")))
      .withColumn("age",
        when(datediff(yearEnd, col("dob")) >= 0,
          floor((datediff(yearEnd, col("dob")) + 1) / pt)).cast("int"))
      .withColumn("age_grp7",
        when(col("age") >= 0 && col("age") < 5, "00-04")
          .when(col("age") >= 5 && col("age") < 12, "05-11")
          .when(col("age") >= 12 && col("age") < 18, "12-17")
          .when(col("age") >= 18 && col("age") < 25, "18-24")
          .when(col("age") >= 25 && col("age") < 45, "25-44")
          .when(col("age") >= 45 && col("age") < 65, "45-64")
          .when(col("age") >= 65, "65 and over"))
      .select("o_custkey", "age_grp7")
    val popAge = cover.join(demo, "o_custkey")
      .filter(col("age_grp7").isNotNull)
      .groupBy("age_grp7")
      .agg(countDistinct(col("o_custkey")).as("pop"))
    val condAge = prevalent.distinct()
      .join(demo, Seq("o_custkey"), "left")
      .filter(col("age_grp7").isNotNull)
      .groupBy("condition", "age_grp7")
      .agg(countDistinct(col("o_custkey")).as("id_dcount"))
      .join(popAge, "age_grp7")
      .select(lit("age_dist").as("section"), col("condition"),
        col("age_grp7"), col("id_dcount"), col("pop"),
        round(col("id_dcount") / col("pop") * 100.0, 4).as("prop"),
        lit(null).cast("double").as("benchmark"),
        lit(null).cast("double").as("abs_diff"),
        lit(null).cast("double").as("per_diff"),
        lit(null).cast("string").as("verdict"))
    prev.unionByName(condAge)
      .orderBy(col("section"), col("condition"), col("age_grp7"))
  }

  /** §7.5 partner-export stable surrogate ids (q202,
    * dugan_p1_export/mcaid_data_prep.sql:44-83): phase 1 assigns dense
    * surrogates to the first study window's people; phase 2 re-runs on
    * a shifted window, KEEPING every prior surrogate and numbering only
    * newcomers after the kept block — the reference's
    * row_number-over-prior-DESC kernel, scale-safe (range sort +
    * zipWithIndex, no unpartitioned window). The chain (phase 1 feeding
    * phase 2) is what the oracle pins. */
  def q202StableIds(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StableIds
    val orders = t(s, dir, "orders")
    def window(lo: String, hi: String): DataFrame = orders
      .filter(to_date(col("o_orderdate")).between(lit(lo), lit(hi)))
      .select(concat(lit("P"), (col("o_custkey") % 150).cast("string"))
        .as("id"))
    val eligA = window("1993-01-01", "1994-12-31")
    val eligB = window("1995-01-01", "1997-12-31")
    val emptyPrior = eligA.select(col("id"), lit(0L).as("id_uw")).limit(0)
    val phase1 = StableIds.assign(eligA, "id", emptyPrior)
    StableIds.assign(eligB, "id", phase1)
      .withColumnRenamed("id", "id_mcaid")
      .orderBy(col("id_mcaid"))
  }

  /** §7.5 de-identified study extract (q203,
    * uw_fresh_export/uw_fresh_cdr_export_v1.sql): KC study-cohort
    * reference (period residence flags incl. the was-here-and-moved OR
    * branch, index-patient requirement, 18th-birthday gate,
    * EXCEPT-backfilled CHR arm with NULL P1 id), then one clinical
    * export subset to it with the 18+-at-service-date row gate, the
    * DISTINCT collapse, and dob leaving only as a single-year age. */
  def q203StudyExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.StudyExtract
    val orders = t(s, dir, "orders")
    val ok = col("o_orderkey")
    val pid = col("o_custkey") % 200
    val mpmPerson = orders.select(
      concat(lit("P"), pid.cast("string")).as("provideroneid"),
      to_date(col("o_orderdate")).as("insurance_start_date"),
      concat((lit(98000) + ok % 150).cast("string"),
        when(ok % 7 === 0, "-1234").otherwise("")).as("zip"))
    val k200 = col("k")
    val mpmIndex = t(s, dir, "customer")
      .select((col("c_custkey") % 200).as("k")).distinct()
      .select(concat(lit("P"), k200.cast("string")).as("provideroneid"),
        when(k200 % 23 === 7, lit(null).cast("string"))
          .otherwise(concat(lit("PT"), k200.cast("string")))
          .as("patientid"),
        date_add(to_date(lit("1930-01-01")),
          ((k200 * 89) % 25000).cast("int")).as("birthdate"))
    val chrPatients = t(s, dir, "customer")
      .select((col("c_custkey") % 240).as("k")).distinct()
      .select(concat(lit("PT"), k200.cast("string")).as("patient_id"),
        date_add(to_date(lit("1930-01-01")),
          ((k200 * 97) % 25000).cast("int")).as("date_of_birth"),
        (lit(98000) + k200 % 150).cast("string").as("zip"),
        date_add(to_date(lit("1992-01-01")),
          ((k200 * 13) % 2200).cast("int")).as("record_change_date"))
    val kcZip = t(s, dir, "customer")
      .select((col("c_custkey") % 100).as("k")).distinct()
      .select((lit(98000) + k200).cast("string").as("geo_zip"),
        lit(1).as("geo_kc"))
    val encounters = orders.select(
      concat(lit("PT"), (col("o_custkey") % 240).cast("string"))
        .as("patient_id"),
      to_date(col("o_orderdate")).as("service_date"),
      concat(lit("PR"), (ok % 50).cast("string")).as("proc_code"))
    val cohort = StudyExtract.kcCohort(mpmPerson, mpmIndex, chrPatients,
      kcZip, "1994-06-01", "1997-12-31")
    StudyExtract.exportClinical(cohort, encounters, "patient_id",
        "service_date", Seq("service_date", "proc_code"))
      .orderBy(col("patient_id"), col("service_date"), col("proc_code"))
  }

  /** Fellegi-Sunter probabilistic record linkage (q213) — the scale path
    * behind the reference's deterministic person xwalks: two synthetic
    * person sources (the B side with planted zip typos, 30-day dob
    * drift, name suffixes, partial overlap, and unmatched extras),
    * blocked on (birth YEAR, ZIP decade) — the two-key block: single-key
    * birth-year blocks grow linearly with corpus size so candidates per
    * block grow QUADRATICALLY; the second key caps that at the usual
    * blocking trade (a drifted dob can cross the year boundary and a
    * zip typo the decade boundary — both classic blocking misses, kept
    * on purpose and caught by q214's complementary sorted-neighborhood
    * generator). Scored with fixed half-integer literal weights (sums
    * are IEEE-exact -> bit-stable), cut into match / possible /
    * non-match bands. Output bounded to score >= the lower cut. */
  /** The q213/q214 planted-noise two-source person fixture (see
    * q213FsLinkage's scaladoc). */
  private def linkageSources(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = t(s, dir, "customer").select(
        col("c_custkey").as("k"),
        lower(regexp_replace(col("c_name"), "#", " ")).as("name0"))
      .withColumn("zip", (lit(98000) + col("k") % 150).cast("int"))
      .withColumn("dob", date_add(to_date(lit("1940-01-01")),
        (col("k") * 73 % 20000).cast("int")))
      .withColumn("yob", year(col("dob")))
    val srcA = base.select(
      concat(lit("A"), col("k").cast("string")).as("pid"),
      col("name0").as("name"), col("dob"), col("zip"), col("yob"))
    val overlapB = base.filter(col("k") % 3 =!= 0).select(
      concat(lit("B"), col("k").cast("string")).as("pid"),
      when(col("k") % 13 === 0, concat(col("name0"), lit(" jr")))
        .otherwise(col("name0")).as("name"),
      when(col("k") % 11 === 0, date_add(col("dob"), 30))
        .otherwise(col("dob")).as("dob"),
      when(col("k") % 7 === 0, col("zip") + 1)
        .otherwise(col("zip")).as("zip"),
      col("yob"))
    val extraB = base.filter(col("k") % 5 === 0).select(
      concat(lit("X"), col("k").cast("string")).as("pid"),
      concat(lit("zz "), col("name0")).as("name"),
      date_add(col("dob"), 5000).as("dob"),
      col("zip"), year(date_add(col("dob"), 5000)).as("yob"))
    (srcA, overlapB.unionByName(extraB))
  }

  private val fsWeights = graft.operators.Linkage.FieldWeights(
    nameAgree = 3.5, nameDisagree = -1.5,
    dobExact = 4.0, dobNear = 2.0, dobDisagree = -3.0,
    zipAgree = 2.5, zipDisagree = -1.0)

  def q213FsLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val (srcA0, srcB0) = linkageSources(s, dir)
    val srcA = srcA0.withColumn("zd", expr("zip div 10"))
    val srcB = srcB0.withColumn("zd", expr("zip div 10"))
    val scored = Linkage.scorePairs(srcA, srcB, "pid", "pid",
      Seq("yob", "zd"), fsWeights, maxNameDist = 2, nearDays = 90)
    scored.filter(col("score") >= 2.0)
      .withColumn("band", Linkage.bandCol(col("score"), 7.0, 2.0))
      .select(col("id_a"), col("id_b"), col("name_agree"),
        col("dob_band"), col("zip_agree"), col("score"), col("band"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Fellegi-Sunter EM parameter estimation (q260): agreement-pattern
    * counts from the q213 candidate generator (UNFILTERED — EM must
    * see non-matches), binary bits name / exact-dob / zip, 5 integer
    * EM rounds at 1e6 fixed-point — the data-driven weights the q213
    * scorer's hand-set ones approximate. */
  def q260LinkageEm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val (srcA0, srcB0) = linkageSources(s, dir)
    val srcA = srcA0.withColumn("zd", expr("zip div 10"))
    val srcB = srcB0.withColumn("zd", expr("zip div 10"))
    val cand = Linkage.scorePairs(srcA, srcB, "pid", "pid",
      Seq("yob", "zd"), fsWeights, maxNameDist = 2, nearDays = 90)
    val patterns = cand.select(
        col("name_agree").cast("int").as("g_name"),
        (col("dob_band") === 2).cast("int").as("g_dob"),
        col("zip_agree").cast("int").as("g_zip"))
      .groupBy(col("g_name"), col("g_dob"), col("g_zip"))
      .agg(count(lit(1)).as("cnt"))
    Linkage.emFieldProbs(patterns, Seq("name", "dob", "zip"))
  }

  /** Sorted-neighborhood linkage (q214): the same fixture and scorer as
    * q213, candidates from the Hernandez-Stolfo sliding window over the
    * name sort order instead of birth-year blocking — the generator that
    * CATCHES the cross-year dob drifts blocking misses (name order keeps
    * the pair adjacent) while missing prefix-mangled names instead; the
    * two generators are complements, and running both is standard
    * practice. Pairs oriented A-side first (all agreement measures are
    * symmetric), bounded to score >= the lower cut. */
  def q214SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val (srcA, srcB) = linkageSources(s, dir)
    val u = srcA.unionByName(srcB)
    val cand = Linkage.sortedNeighborhoodPairs(u, "pid", Seq("name"),
      window = 5)
    val scored = Linkage.scoreCandidatePairs(cand, u, "pid", fsWeights)
    val aIsA = substring(col("id_a"), 1, 1) === "A"
    val bIsA = substring(col("id_b"), 1, 1) === "A"
    scored.filter(aIsA =!= bIsA) // cross-source only
      .select(
        when(aIsA, col("id_a")).otherwise(col("id_b")).as("aid"),
        when(aIsA, col("id_b")).otherwise(col("id_a")).as("bid"),
        col("name_agree"), col("dob_band"), col("zip_agree"),
        col("score"))
      .filter(col("score") >= 2.0)
      .withColumn("band", Linkage.bandCol(col("score"), 7.0, 2.0))
      .orderBy(col("aid"), col("bid"))
  }

  /** Frequency-weighted linkage (q223, the Winkler refinement): same
    * scorer family as q213 but agreement on a RARE name earns a bonus
    * bucketed by corpus frequency — the fixture gives 1-in-7 people a
    * unique name and pools everyone else onto five common names, so a
    * common-name full agreement lands at 7.5 ('possible') while the
    * same evidence on a rare name lands at 10.5 ('match'): identical
    * field pattern, different conclusion, which is the point of
    * value-specific weights. */
  def q223FreqLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val raw = t(s, dir, "customer").select(
        col("c_custkey").as("k"),
        lower(regexp_replace(col("c_name"), "#", " ")).as("name0"))
      .withColumn("zip", (lit(98000) + col("k") % 150).cast("int"))
      .withColumn("dob", date_add(to_date(lit("1940-01-01")),
        (col("k") * 73 % 20000).cast("int")))
      .withColumn("yob", year(col("dob")))
      .withColumn("name", when(col("k") % 7 === 0, col("name0"))
        .otherwise(concat(lit("common name "),
          (col("k") % 5).cast("string"))))
    val srcA = raw.select(
      concat(lit("A"), col("k").cast("string")).as("pid"),
      col("name"), col("dob"), col("zip"), col("yob"))
    val srcB = raw.filter(col("k") % 3 =!= 0).select(
      concat(lit("B"), col("k").cast("string")).as("pid"),
      col("name"),
      when(col("k") % 11 === 0, date_add(col("dob"), 30))
        .otherwise(col("dob")).as("dob"),
      col("zip"), col("yob"))
    // block on (birth year, ZIP decade) — the standard two-key block;
    // vs yob alone it cuts candidates ~15x at the usual blocking trade
    // (cross-decade zip coincidences are never compared)
    val pairs = srcA.select(col("pid").as("id_a"), col("yob"),
        expr("zip div 10").as("zb"))
      .join(srcB.select(col("pid").as("id_b"), col("yob"),
        expr("zip div 10").as("zb")), Seq("yob", "zb"))
      .select(col("id_a"), col("id_b"))
    val attrs = srcA.unionByName(srcB)
    val w = Linkage.FieldWeights(
      nameAgree = 1.0, nameDisagree = -1.5,
      dobExact = 4.0, dobNear = 2.0, dobDisagree = -3.0,
      zipAgree = 2.5, zipDisagree = -1.0)
    Linkage.scoreCandidatePairsFreqWeighted(pairs, attrs, "pid", w)
      .filter(col("score") >= 2.0)
      .withColumn("band", Linkage.bandCol(col("score"), 8.0, 2.0))
      .select(col("id_a"), col("id_b"), col("freq_bucket"),
        col("name_agree"), col("dob_band"), col("zip_agree"),
        col("score"), col("band"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** k-anonymity generalization ladder (q219): the de-identification
    * audit behind exports like q203's study extract — minimal
    * full-domain level (zip5+yob -> zip3 -> decade -> suppressed) where
    * records in sub-k groups fit a 5% suppression budget. One explode +
    * one (level, key) shuffle for every level at once. */
  def q219KAnonLadder(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Anonymize
    val recs = t(s, dir, "customer").select(
      concat(lit("98"),
        lpad((col("c_custkey") % 900).cast("string"), 3, "0")).as("zip"),
      (lit(1930) + col("c_custkey") % 65).cast("int").as("yob"))
    val decade = expr("(yob div 10) * 10")
    Anonymize.ladderStats(recs, Seq(
        ("zip5_yob", Seq(col("zip"), col("yob"))),
        ("zip3_yob", Seq(substring(col("zip"), 1, 3), col("yob"))),
        ("zip3_decade", Seq(substring(col("zip"), 1, 3), decade)),
        ("any_decade", Seq(lit("*"), decade)),
        ("suppressed", Seq(lit("*"), lit("*")))), k = 5)
      .orderBy(col("level_idx"))
  }

  /** APCD pregnancy-episode build (q224,
    * load_stage.apcd_claim_preg_episode.R — the largest uncovered
    * reference build): dx + procedure code vocabularies LIKE-expanded
    * against the Moll endpoint prefix reference, exact fact joins,
    * claim-header distinct, per-(person, day) flag max with the
    * endpoint_dcount <= 1 gate and the DELIV recode, the FULL 7-class
    * hierarchical placement ([[graft.builds.PregEpisode]]'s
    * flatMapGroups WHILE loops), prenatal windows, and the STEP-9
    * age-at-outcome join (T-SQL floor((datediff+1)/365.25) with
    * ninety_only cap and the newborn -1 -> 0 branch) with the cat6
    * bands and the 12-55 subset. Demo rows are deliberately missing
    * for some persons (the reference's LEFT join then drops them at
    * the age gate). */
  def q224ApcdPregEpisode(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val dx = t(s, dir, "orders").select(
      (col("o_custkey") % 80).as("id_person"),
      ok.as("claim_header_id"),
      to_date(col("o_orderdate")).as("last_service_date"),
      when(ok % 29 === 0, concat(lit("O80"), (ok % 10).cast("string")))
        .when(ok % 29 === 1, concat(lit("Z371"), (ok % 10).cast("string")))
        .when(ok % 29 === 2, concat(lit("O82"), (ok % 10).cast("string")))
        .when(ok % 29 === 3, concat(lit("O01"), (ok % 10).cast("string")))
        .when(ok % 29 === 4, concat(lit("O00"), (ok % 10).cast("string")))
        .when(ok % 29 === 5, concat(lit("O04"), (ok % 10).cast("string")))
        .when(ok % 29 === 6, concat(lit("O03"), (ok % 10).cast("string")))
        .otherwise(concat(lit("K5"), (ok % 100).cast("string")))
        .as("icdcm_norm"))
    val px = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") % 80).as("id_person"),
        col("l_orderkey").as("claim_header_id"),
        to_date(col("l_shipdate")).as("last_service_date"),
        when(col("l_partkey") % 31 === 0,
          concat(lit("10D0"), (col("l_partkey") % 8).cast("string")))
          .when(col("l_partkey") % 31 === 1, lit("59409"))
          .when(col("l_partkey") % 31 === 2,
            concat(lit("10A0"), (col("l_partkey") % 8).cast("string")))
          .otherwise(concat(lit("99"), (col("l_partkey") % 400)
            .cast("string")))
          .as("procedure_code"))
    import s.implicits._
    def flags(f: String) = {
      def b(n: String) = if (n == f) Some(1) else None
      (b("lb"), b("ect"), b("ab"), b("sa"), b("sb"), b("tro"), b("deliv"))
    }
    def refDf(rows: Seq[(String, String)]) = rows.map { case (p, f) =>
      val (lb, ect, ab, sa, sb, tro, deliv) = flags(f)
      (p, lb, ect, ab, sa, sb, tro, deliv)
    }.toDF("code_like", "lb", "ect", "ab", "sa", "sb", "tro", "deliv")
    val dxRef = refDf(Seq("O80%" -> "lb", "Z371%" -> "sb",
      "O82%" -> "deliv", "O01%" -> "tro", "O00%" -> "ect",
      "O04%" -> "ab", "O03%" -> "sa"))
    val pxRef = refDf(Seq("10D0%" -> "lb", "59409%" -> "deliv",
      "10A0%" -> "ab"))
    val demo = t(s, dir, "customer")
      .select((col("c_custkey") % 80).as("id_person")).distinct()
      .filter(col("id_person") % 19 =!= 5) // planted missing-demo persons
      .select(col("id_person"),
        date_add(to_date(lit("1950-01-01")),
          (col("id_person") * 211 % 17000).cast("int")).as("dob"),
        (col("id_person") % 37 === 0).cast("int").as("ninety_only"))
    graft.builds.ApcdPregEpisode.build(dx, px, dxRef, pxRef, demo,
        minDate = "1994-01-01")
      .select(col("id_person"), col("preg_endpoint"),
        col("preg_episode_seq"), col("preg_start_date"),
        col("preg_end_date"), col("age_at_outcome"),
        col("age_at_outcome_cat6"))
      .orderBy(col("id_person"), col("preg_episode_seq"))
  }

  /** mcare MOUD build (q225, load_stage.mcare_claim_moud.R): the full
    * chain — extended dispatch table (1/7/30/180-day tiers), claim-level
    * OUD-primary-dx gate on H0033 + the bup-TBD codes, pharmacy arm
    * with supplied days supply and dosage-form admin method (incl. the
    * four per-NDC oral overrides and a planted NDC missing from the
    * dim), claim-header-grain union (duplicate same-day claims COUNT,
    * as the reference documents), H0033 monthly-context resolution,
    * per-(id, date, flags, admin) collapse, the same-day
    * NDC-over-HCPCS dedup with the reference's loose re-join, and the
    * period-column finalize. */
  def q225McareClaimMoud(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.McareClaimMoud
    import s.implicits._
    val moudCodes = Seq("H0033", "H0020", "S0109", "G2078", "J0571",
      "J0574", "G2068", "Q9991", "G2069", "G2070", "J0570", "96372",
      "11981", "G0516", "G2073", "J2315", "G2074", "G2086")
    // staged once (the established staging-table analog): both the
    // procedure arm and the claim-header arm below consume this join —
    // without materialization the lineitem⋈orders SMJ executes twice
    // (the reference reads its own staged claim tables here)
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") % 60).as("id_person"),
        (col("l_orderkey") * 10 + col("l_linenumber"))
          .as("claim_header_id"),
        to_date(col("l_shipdate")).as("last_service_date"),
        col("l_partkey"), col("l_suppkey"))
      .localCheckpoint(true)
    val code = moudCodes.zipWithIndex.foldLeft(lit("ZZZZ")) {
      case (acc, (c, i)) =>
        when(col("l_partkey") % 40 === i, c).otherwise(acc)
    }
    val proc = li.select(col("id_person"), col("claim_header_id"),
        col("last_service_date"), code.as("procedure_code"))
      .filter(col("last_service_date") >= lit("1994-01-01"))
    val headers = li.select(col("claim_header_id"),
      when(col("l_suppkey") % 7 === 0, "F1120")
        .when(col("l_suppkey") % 7 === 1, "30400")
        .otherwise("J450").as("primary_diagnosis"),
      when(col("l_suppkey") % 7 === 1, 9).otherwise(10)
        .as("icdcm_version"))
    val oudDx = Seq(("F1120", 10), ("30400", 9))
      .toDF("code", "icdcm_version")
    val ok = col("o_orderkey")
    val pharm = t(s, dir, "orders").select(
      (col("o_custkey") % 60).as("id_person"),
      ok.as("claim_header_id"),
      when(ok % 9 === 0, "00093572156")
        .when(ok % 9 === 1, "12345678901")
        .when(ok % 9 === 2, "49452483501")
        .when(ok % 9 === 3, "55555555555")
        .when(ok % 9 === 4, "66666666666")
        .otherwise(concat(lit("9990"), (ok % 1000).cast("string")))
        .as("ndc"),
      to_date(col("o_orderdate")).as("last_service_date"),
      (ok % 30 + 1).as("days_supply"))
    val rxSets = Seq(
      ("00093572156", "pharm_buprenorphine"),
      ("12345678901", "pharm_buprenorphine_naloxone"),
      ("49452483501", "pharm_naltrexone_rx"),
      ("55555555555", "pharm_naltrexone_rx"),
      ("66666666666", "pharm_buprenorphine"))
      .toDF("code", "sub_group_pharmacy")
    val ndcCodes = Seq(
      ("00093572156", "SOLUTION, SPRAY"),
      ("12345678901", "FILM, EXTENDED RELEASE"),
      ("49452483501", "KIT"),
      ("55555555555", "SOLUTION"))
      .toDF("ndc", "dosageformname")
    val gated = McareClaimMoud.gateByOudDx(
      McareClaimMoud.flagProcEvents(proc), headers, oudDx)
    val rx = McareClaimMoud.pharmEvents(pharm, rxSets, ndcCodes,
      "1994-01-01")
    McareClaimMoud.finalize(McareClaimMoud.dedupSameDay(
        McareClaimMoud.resolveAndCollapse(gated, rx)))
      .select(col("id_person"), col("last_service_date"),
        col("service_year"), col("service_quarter"), col("service_month"),
        col("year_half"), col("meth_proc_flag"), col("bup_proc_flag"),
        col("nal_proc_flag"), col("unspec_proc_flag"), col("bup_rx_flag"),
        col("nal_rx_flag"), col("admin_method"), col("moud_flag_count"),
        col("moud_days_supply"))
      .orderBy(col("id_person"), col("last_service_date"),
        col("meth_proc_flag"), col("bup_proc_flag"), col("nal_proc_flag"),
        col("unspec_proc_flag"), col("bup_rx_flag"), col("nal_rx_flag"),
        col("admin_method"))
  }

  /** WAHBE partner-export prep (q227,
    * dugan_p1_export/wahbe_data_prep.sql — completes the Dugan pair
    * next to q202/q204): ACES zero-pad normalization over the two
    * union-distinct report extracts, inner join to the distinct raw-
    * elig pairs, UW person-id left join, the unmatched-person modal
    * ACES pick (row_count DESC, aces ASC), and BOTH groups' coverage
    * tabulations (window-overlap timevar rollup, rank()=1 pick, 5-arm
    * UNION battery incl. the RAC-name arm with a planted unmapped
    * cid). Output = the two tabulations under a wahbe_matched flag. */
  def q227WahbePrep(s: SparkSession, dir: String): DataFrame = {
    import graft.builds.WahbeDataPrep
    import s.implicits._
    val ok = col("o_orderkey")
    val ck = col("o_custkey")
    val base = t(s, dir, "orders")
    def report(f: Column) = base.filter(f).select(
      when(ok % 2 === 0, (lit(1000000) + ck % 500).cast("string"))
        .otherwise((lit(10000000) + ck % 500).cast("string"))
        .as("aces_id"),
      when(ok % 3 === 0, "CURRENT SMOKER").when(ok % 3 === 1, "NEVER")
        .otherwise("FORMER").as("smoking_status"),
      to_date(col("o_orderdate")).as("eligibility_start_date"),
      date_add(to_date(col("o_orderdate")), 365)
        .as("eligibility_end_date"))
    val report1 = report(ok % 5 < 3)
    val report2 = report(ok % 5 >= 2) // %5=2 rows in BOTH -> union dedup
    val elig = base.select(
      when(ok % 4 === 0,
        concat(lit("0"), (lit(10000000) + ck % 500).cast("string")))
        .when(ok % 4 === 3,
          concat(lit("88888"), lpad((ck % 1000).cast("string"), 4, "0")))
        .otherwise(
          concat(lit("00"), (lit(1000000) + ck % 500).cast("string")))
        .as("MBR_ACES_IDNTFR"),
      concat(lit("ID"), (ck % 900).cast("string"))
        .as("MEDICAID_RECIPIENT_ID"))
    val personIds = t(s, dir, "customer")
      .select((col("c_custkey") % 1200).as("k")).distinct()
      .select(concat(lit("UW"), col("k").cast("string")).as("id_uw"),
        concat(lit("ID"), col("k").cast("string")).as("id_mcaid"))
    val timevar = base.select(
      concat(lit("ID"), (ck % 1200).cast("string")).as("id_mcaid"),
      (ok % 2).as("dual"),
      (ok % 6).cast("int").as("bsp_group_cid"),
      when(ok % 2 === 0, "Y").otherwise("N").as("full_benefit"),
      when(ok % 3 === 0, "FFS").when(ok % 3 === 1, "MC")
        .otherwise("PARTIAL").as("cov_type"),
      (ok % 200 + 1).cast("int").as("cov_time_day"),
      to_date(col("o_orderdate")).as("from_date"),
      date_add(to_date(col("o_orderdate")), 180).as("to_date"))
    val racRef = Seq((0, "Group A"), (1, "Group B"), (2, "Group C"),
      (3, "Group D"), (4, "Group E"))
      .toDF("bsp_group_cid", "bsp_group_name")
    val matched = WahbeDataPrep.matchedWahbe(report1, report2, elig)
    val persons = WahbeDataPrep.personMatches(personIds, matched)
    val (winF, winT) = ("1994-01-01", "1997-06-30")
    val unmatchedPick = WahbeDataPrep.coveragePick(
      WahbeDataPrep.unmatchedAces(persons, elig), timevar, winF, winT)
    val matchedPick = WahbeDataPrep.coveragePick(
      persons.filter(col("MEDICAID_RECIPIENT_ID").isNotNull)
        .select(col("id_mcaid")),
      timevar, winF, winT)
    WahbeDataPrep.coverageTabulation(unmatchedPick, racRef)
      .withColumn("wahbe_matched", lit(0))
      .unionByName(WahbeDataPrep.coverageTabulation(matchedPick, racRef)
        .withColumn("wahbe_matched", lit(1)))
      .select(col("wahbe_matched"), col("sort_order"),
        col("cov_group_cat"), col("cov_group"), col("id_dcount"))
      .orderBy(col("wahbe_matched"), col("sort_order"),
        col("cov_group_cat"), col("cov_group"))
  }

  /** mcare pharmacy characteristics (q228,
    * load_stage.mcare_claim_pharm_char.R:14-43): the staging table is a
    * straight projection of the raw pharmacy-characteristics extract
    * with ONE rename (ncpdp_id -> pharmacy_id) and the passthrough
    * dispenser/taxonomy/relationship/service-indicator columns — the
    * smallest load_stage in the reference, closing the coverage list.
    * (getdate() last_run is audit metadata, not query semantics.) */
  def q228McarePharmChar(s: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val raw = t(s, dir, "supplier").select(
      concat(lit("NCPDP"), lpad(k.cast("string"), 7, "0")).as("ncpdp_id"),
      when(k % 3 === 0, "WA").when(k % 3 === 1, "OR").otherwise("ID")
        .as("physical_location_state_code"),
      date_add(to_date(lit("1980-01-01")), (k * 37 % 9000).cast("int"))
        .as("physical_location_open_date"),
      when(k % 11 === 0,
        date_add(to_date(lit("1995-01-01")), (k % 1200).cast("int")))
        .as("physical_location_close_date"),
      when(k % 4 === 0, "INDEPENDENT").when(k % 4 === 1, "CHAIN")
        .when(k % 4 === 2, "FRANCHISE").otherwise("GOVERNMENT")
        .as("dispenser_class"),
      (k % 20).cast("int").as("primary_dispenser_type"),
      concat(lit("33"), lpad((k % 999).cast("string"), 7, "0"), lit("X"))
        .as("primary_taxonomy_code"),
      when(k % 5 === 0, (k % 20 + 1).cast("int"))
        .as("secondary_dispenser_type"),
      when(k % 5 === 0,
        concat(lit("33"), lpad((k % 887).cast("string"), 7, "0"),
          lit("Y"))).as("secondary_taxonomy_code"),
      when(k % 2 === 0, "Y").otherwise("N").as("eprscrb_srvc_ind"),
      when(k % 7 === 0, "Y").otherwise("N").as("walkin_clinic_ind"),
      when(k % 13 === 0, "Y").otherwise("N").as("status_340b_ind"))
    raw.select(col("ncpdp_id").as("pharmacy_id") +:
        raw.columns.filterNot(_ == "ncpdp_id").map(col).toSeq: _*)
      .orderBy(col("pharmacy_id"))
  }

  /** FUA follow-up visits (q234,
    * create_stage.fn_perf_fua_follow_up_visit.sql): the HEDIS
    * five-condition UNION-of-INTERSECTs — IET stand-alone (proc ∪
    * UBREV line), the two IET-visits × POS-group pairs, telephone and
    * online-assessment arms, each intersected with the AOD primary-dx
    * (ICD-10-only) claim set inside the measurement window. */
  def q234FuaFollowUp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ok = col("o_orderkey")
    val headers = t(s, dir, "orders").select(
      (col("o_custkey") % 150).as("id_person"),
      ok.as("claim_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      date_add(to_date(col("o_orderdate")), 1).as("last_service_date"),
      when(ok % 9 === 0, "57").when(ok % 9 === 1, "53")
        .otherwise(lpad((ok % 99).cast("string"), 2, "0")).as("pos"))
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") % 150).as("id_person"),
        col("l_orderkey").as("claim_id"),
        to_date(col("o_orderdate")).as("first_service_date"),
        date_add(to_date(col("o_orderdate")), 1).as("last_service_date"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        col("l_linenumber").as("ln"))
    val proc = li.select(col("id_person"), col("claim_id"),
      col("first_service_date"), col("last_service_date"),
      when(col("pk") % 17 === 0, "H0015")
        .when(col("pk") % 17 === 1, "90791")
        .when(col("pk") % 17 === 2, "99408")
        .when(col("pk") % 17 === 3, "99409")
        .when(col("pk") % 17 === 4, "98966")
        .when(col("pk") % 17 === 5, "98970")
        .otherwise(lpad((col("pk") % 88888).cast("string"), 5, "0"))
        .as("procedure_code"))
    val lines = li.select(col("id_person"), col("claim_id"),
      col("first_service_date"), col("last_service_date"),
      when(col("sk") % 13 === 0, "0906")
        .otherwise(lpad((col("sk") % 9999).cast("string"), 4, "0"))
        .as("rev_code"))
    val dx = li.select(col("id_person"), col("claim_id"),
      col("first_service_date"), col("last_service_date"),
      when(col("pk") % 11 === 0, "F1010")
        .when(col("pk") % 11 === 1, "F1120")
        .otherwise(concat(lit("J"),
          lpad((col("pk") % 400).cast("string"), 3, "0")))
        .as("icdcm_norm"),
      when(col("pk") % 6 === 0, 9).otherwise(10).as("icdcm_version"),
      lpad(col("ln").cast("string"), 2, "0").as("icdcm_number"))
    val hedis = Seq(
      ("IET Stand Alone Visits", "CPT", "90791"),
      ("IET Stand Alone Visits", "HCPCS", "H0015"),
      ("IET Stand Alone Visits", "UBREV", "0906"),
      ("IET Visits Group 1", "CPT", "99408"),
      ("IET POS Group 1", "POS", "57"),
      ("IET Visits Group 2", "CPT", "99409"),
      ("IET POS Group 2", "POS", "53"),
      ("Telephone Visits", "CPT", "98966"),
      ("Online Assessments", "CPT", "98970"),
      ("AOD Abuse and Dependence", "ICD10CM", "F1010"),
      ("AOD Abuse and Dependence", "ICD10CM", "F1120"))
      .toDF("value_set_name", "code_system", "code")
    graft.builds.ValueSetMeasures.fuaFollowUpVisits(proc, lines, headers,
        dx, hedis, "1995-01-01", "1997-12-31")
      .orderBy(col("id_person"), col("claim_id"),
        col("first_service_date"))
  }

  /** FUA join step (q235, create_stage.sp_perf_fua_join_step.sql):
    * excluded-flag filter, the need_1_month_coverage 31-day-month
    * quirk, and the 7/30-day follow-up window flags — ONE range join
    * carrying both windows vs the reference's two independent left
    * joins; the oracle replays the reference's two-join formulation,
    * pinning the equivalence. */
  def q235FuaJoinStep(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val idx = t(s, dir, "orders").filter(ok % 3 === 0).select(
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .as("year_month"),
      (col("o_custkey") % 120).as("id_person"),
      (lit(18) + col("o_custkey") % 60).cast("int").as("age"),
      ok.as("claim_header_id"),
      to_date(col("o_orderdate")).as("first_service_date"),
      date_add(to_date(col("o_orderdate")), (ok % 3).cast("int"))
        .as("last_service_date"),
      (ok % 5 === 0).cast("int").as("ed_within_30_day"),
      (ok % 7 === 0).cast("int").as("inpatient_within_30_day"))
    val followUps = t(s, dir, "orders").filter(ok % 4 === 1).select(
      (col("o_custkey") % 120).as("id_person"),
      date_add(to_date(col("o_orderdate")), (ok % 40).cast("int"))
        .as("first_service_date"))
    graft.builds.FuaMeasure.joinStep(idx, followUps)
      .orderBy(col("id_person"), col("claim_header_id"))
  }

  /** Synthetic APCD-grain BH fixture (q236): the APCD sources carry
    * their own raw column names — the pharmacy fact keys on
    * `internal_member_id`, dates fills on `prescription_filled_dt`,
    * codes drugs as `national_drug_code`, and its "claim header id" is
    * the PHARMACY SERVICE LINE id (claim_bh_apcd_dev.R:59-95), a
    * different keyspace from the medical claim_header_id — so the rx
    * arm of the OUD full-join tree essentially never equi-joins the
    * diagnosis arm and surfaces as its own rows. The fixture makes the
    * line-id keyspace `chid * 10 + linenumber` so that divergence is
    * load-bearing in the hash, not accidental. */
  private[graft] object ApcdBhFix {
    private def pid = concat(lit("ap"), (col("o_custkey") % 95)
      .cast("string"))
    private def fact(s: SparkSession, dir: String): DataFrame =
      t(s, dir, "lineitem").join(
          t(s, dir, "orders").select(col("o_orderkey"),
            pid.as("id_apcd")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("id_apcd"), col("l_orderkey").as("claim_header_id"),
          col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          to_date(col("l_shipdate")).as("fsd"),
          col("l_linenumber").as("ln"))
    def icdcm(s: SparkSession, dir: String): DataFrame = {
      val pk = col("pk")
      val ver = when(pk % 8 === 0, 9).otherwise(10)
      fact(s, dir).select(col("id_apcd"), col("claim_header_id"),
        when(ver === 9,
            when(pk % 13 === 0, "29620").when(pk % 13 === 1, "30400")
              .otherwise(lpad((pk % 999).cast("string"), 5, "0")))
          .otherwise(
            when(pk % 13 === 0, "F329").when(pk % 13 === 1, "F411")
              .when(pk % 13 === 2, "F1120")
              .otherwise(concat(lit("G"),
                lpad((pk % 400).cast("string"), 3, "0"))))
          .as("icdcm_norm"),
        ver.as("icdcm_version"),
        col("fsd").as("first_service_date"))
    }
    /** Raw APCD pharmacy names, per claim_bh_apcd_dev.R's dispatch. */
    def pharm(s: SparkSession, dir: String): DataFrame =
      fact(s, dir).select(col("id_apcd").as("internal_member_id"),
        (col("claim_header_id") * 10 + col("ln"))
          .as("pharmacy_claim_service_line_id"),
        when(col("sk") % 7 === 0, "11111111111")
          .when(col("sk") % 7 === 1, "22222222222")
          .when(col("sk") % 7 === 2, "33333333333")
          .otherwise(lpad((col("sk") * 7).cast("string"), 11, "0"))
          .as("national_drug_code"),
        date_add(col("fsd"), 4).as("prescription_filled_dt"))
    def proc(s: SparkSession, dir: String): DataFrame =
      fact(s, dir).select(col("id_apcd"), col("claim_header_id"),
        when(col("pk") % 15 === 0, "H0020")
          .when(col("pk") % 15 === 1, "J0571")
          .otherwise(lpad((col("pk") % 88888).cast("string"), 5, "0"))
          .as("procedure_code"),
        col("fsd").as("first_service_date"))
    def header(s: SparkSession, dir: String): DataFrame = {
      val ok = col("o_orderkey")
      t(s, dir, "orders").select(ok.as("claim_header_id"),
        when(ok % 13 === 0, "F1120").when(ok % 13 === 1, "30400")
          .otherwise("I10").as("primary_diagnosis"),
        when(ok % 13 === 1, 9).otherwise(10).as("icdcm_version"))
    }
  }

  /** APCD-grain claim_bh (q236, claim_bh_apcd_dev.R — the OD2A-revised
    * build's WA-APCD instantiation): the q153 kernel dispatched with the
    * APCD knobs the R function branches on (:60-95) — id_apcd as the
    * person key, the pharmacy fact's `internal_member_id` /
    * `pharmacy_claim_service_line_id` / `national_drug_code` aliased to
    * the kernel's names at scan time (the reference's `a.{id_source_pharm}
    * as {id_source}` SELECT aliases), and rx dates on
    * `prescription_filled_dt`. The service-line "claim header id"
    * keyspace quirk rides through the OUD full-join tree unchanged. */
  def q236ApcdBh(s: SparkSession, dir: String): DataFrame = {
    val pharm = ApcdBhFix.pharm(s, dir).select(
      col("internal_member_id").as("id_apcd"),
      col("pharmacy_claim_service_line_id").as("claim_header_id"),
      col("national_drug_code").as("ndc"),
      col("prescription_filled_dt"))
    graft.builds.BhConditions.build(ApcdBhFix.icdcm(s, dir), pharm,
        ApcdBhFix.proc(s, dir), ApcdBhFix.header(s, dir), Bh.ref(s),
        idCol = "id_apcd", rxDateCol = "prescription_filled_dt")
      .orderBy(col("id_apcd"), col("bh_cond"),
        col("first_encounter_date"), col("last_encounter_date"))
  }

  /** §3.2/§7.1 composed analytic-pipeline runner (q279,
    * master_mcaid_analytic.R:66-143 + table_dependencies.csv): the full
    * mcaid analytic chain — elig_demo/timevar/month, the four claim
    * tables, the hard-gated header, ccw, bh, and the late claim
    * tables moud/naloxone/preg_episode (master_mcaid_analytic.R:
    * 345-371) — executed in the dependency order
    * AnalyticPipeline.topoOrder derives from the csv-ordered
    * declarations, each stage load QA-gated (Qa.loadGate +
    * distinctness); then the mcaid_elig_demo_extra noncisgender
    * UPDATE (:374-392, flag ids from the composed q159 cascade), and
    * the STAGE→FINAL promote loop over the master's fixed 13-table
    * list (:399-404 — unconditional, row-count-compared). Output:
    * the verdict frame; the oracle composes each stage's own oracle
    * SQL, so chain order, gate logic, the update counts, and every
    * promote count are pinned end-to-end (the q248 import-chain
    * discipline). */
  def q279AnalyticPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.AnalyticPipeline._
    run(s, dir, mcaidChain, mcaidHardGate,
        update = Some(mcaidEligDemoExtra),
        promoteList = mcaidPromoteList)
      .orderBy(col("stage_seq"), col("item"))
  }

  /** §3.2/§7.1 combined mcaid+mcare analytic chain (q278,
    * master_mcaid_mcare_analytic.R:43-266): the SAME runner over the
    * combined master's eight stages — identity crosswalk, the dual
    * elig tables, the crosswalked claim tables, header, CCW — with
    * no hard gate (that master has no stop()). The second chain
    * instantiation proves the runner is parameterized, not a one-off
    * (the ValueSetMeasures multi-instantiation discipline). */
  def q278McaidMcarePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.AnalyticPipeline._
    run(s, dir, mcaidMcareChain)
      .orderBy(col("stage_seq"), col("item"))
  }

  /** §5 mcaid_elig_demo QA battery (q288,
    * qa_stage.mcaid_elig_demo.R:63-189 — the gate the analytic
    * pipeline runs between the demo stage load and its final promote):
    * rows vs the most recent run (signed-diff notes), distinct ids ==
    * rows, distinct ids == raw source ids. The prior run is the
    * current build restricted to user_id % 20 != 0 (a smaller
    * data-derived earlier load), so the monotonic check passes with a
    * real nonzero diff. */
  def q288EligDemoQa(s: SparkSession, dir: String): DataFrame = {
    val demo = q67EligDemo(s, dir)
    val prior = demo.filter(col("user_id") % 20 =!= 0).count()
    graft.qa.Qa.eligDemoQaBattery(demo, t(s, dir, "events"), "user_id",
        "user_id", prior, "stage.mcaid_elig_demo")
      .orderBy(col("qa_item"))
  }

  /** §5 mcaid_elig_timevar QA battery (q289,
    * qa_stage.mcaid_elig_timevar.R:46-243): rows vs most recent run,
    * distinct ids vs raw (the battery's own wording, which differs
    * from the demo battery's — kept verbatim), duplicate rows over the
    * full column set (the reference excludes ref_geo vars; this build
    * has none), and the from/to date envelope against the raw
    * CLNDR_YEAR_MNTH month range with the reference's asymmetric
    * FAIL/PASS note dates. */
  def q289EligTimevarQa(s: SparkSession, dir: String): DataFrame = {
    val tv = q64EligTimevar(s, dir)
    val prior = tv.filter(col("user_id") % 20 =!= 0).count()
    val raw = t(s, dir, "events")
    graft.qa.Qa.eligTimevarQaBattery(tv, raw, "user_id", "user_id",
        tv.columns.toSeq, "from_date", "to_date",
        (year(col("ts")) * 100 + month(col("ts"))).cast("int"),
        prior, "stage.mcaid_elig_timevar")
      .orderBy(col("qa_item"))
  }

  /** claims_condition.R consumer: members whose condition span overlaps an
    * ask window (interval-overlap filter, claims_condition.R:129), spans
    * clipped to the window. */
  /** §2.4/§2.5 perf member-month spine (q301,
    * create_stage.sp_mcaid_perf_elig_member_month.sql:20-105): the MCO
    * name→code CASE (five plans, both Coordinated Care spellings, any
    * other name → NULL), the King-County zip gate, and the
    * longest-coverage-span pick per (member, month) — with
    * deterministic tie-breaks added to the reference's span-only
    * ROW_NUMBER (see [[graft.builds.PerfMemberMonth]]). Fixture plants
    * all five mapped names plus two unmapped ones, FFS rows, varying
    * span lengths (orderkey % 60), and a zip universe where only
    * custkey % 25 < 15 is King County, so the map, the gate, and the
    * pick all move rows. */
  def q301PerfMemberMonth(s: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val names = Seq("Amerigroup Washington Inc",
      "Community Health Plan of Washington",
      "Coordinated Care Corporation", "Coordinated Care of Washington",
      "Molina Healthcare of Washington Inc",
      "United Health Care Community Plan", "Some Other Plan LLC")
    val nameCol = names.zipWithIndex.foldLeft(lit("Unknown Plan")) {
      case (acc, (n, i)) => when(ok % 8 === i, n).otherwise(acc)
    }
    val od = to_date(col("o_orderdate"))
    val elig = t(s, dir, "orders").select(
      (year(od) * 100 + month(od)).cast("int").as("clndr_year_mnth"),
      concat(lit("R"), (col("o_custkey") % 300).cast("string"))
        .as("medicaid_recipient_id"),
      concat(lit("RAC"), lpad((ok % 50).cast("string"), 2, "0"))
        .as("rprtbl_rac_code"),
      od.as("from_date"),
      date_add(od, (ok % 60).cast("int")).as("to_date"),
      when(ok % 3 =!= 0, "MC").otherwise("FFS").as("coverage_type_ind"),
      nameCol.as("mc_prvdr_name"),
      when(ok % 2 === 0, "Y").otherwise("N").as("dual_elig"),
      when(ok % 5 === 0, "Y").otherwise("N").as("tpl_full_flag"),
      concat(lit("Z"), lpad((col("o_custkey") % 25).cast("string"), 2, "0"))
        .as("rsdntl_postal_code"))
    val kingZips = t(s, dir, "customer")
      .filter(col("c_custkey") % 25 < 15)
      .select(concat(lit("Z"),
        lpad((col("c_custkey") % 25).cast("string"), 2, "0"))
        .as("zip_code"))
    graft.builds.PerfMemberMonth.build(elig, kingZips)
      .orderBy(col("medicaid_recipient_id"), col("clndr_year_mnth"),
        col("from_date"), col("rprtbl_rac_code"))
  }

  def q63ClaimsCondition(s: SparkSession, dir: String): DataFrame = {
    val winFrom = to_date(lit("1996-06-01"))
    val winTo = to_date(lit("1996-12-31"))
    ConditionLoop.build(t(s, dir, "orders"))
      .filter(Intervals.overlaps(col("first_date"), col("last_date"), winFrom, winTo))
      .groupBy(col("condition"))
      .agg(count(lit(1)).as("n_members"),
        min(greatest(col("first_date"), winFrom)).as("first_clip"),
        max(least(col("last_date"), winTo)).as("last_clip"))
      .orderBy(col("condition"))
  }
}
