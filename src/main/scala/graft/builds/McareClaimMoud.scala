package graft.builds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** mcare MOUD treatment events — the reference's
  * load_stage.mcare_claim_moud.R, the Medicare sibling of [[ClaimMoud]]
  * with the pieces the mcaid build does NOT have:
  *
  *  - **OUD-diagnosis gating** (STEPs 2-3, :84-135): a claim-level
  *    `oud_dx1_flag` (primary diagnosis in the sud_opioid value set) is
  *    required for H0033 and for the to-be-determined bup codes
  *    (96372/11981/11983/G0516/G0518) — naltrexone HCPCS are listed in
  *    both the no-dx IN-list and the dx-gated OR arm, so the gate is a
  *    no-op for them (reference artifact, kept);
  *  - **extended dispatch table** (STEP 1, :42-76): the full Busch et
  *    al. code list incl. the 30-day (Q9991/Q9992/G2069) and 180-day
  *    (G2070/G2072/J0570/11981/11983/G0516/G0518) supply tiers;
  *  - **pharmacy arm with supplied days supply** (STEP 4, :146-176):
  *    bup / bup-naloxone / naltrexone NDC fills, admin method from the
  *    dosage-form name (FILM/TABLET -> oral, KIT/SOLUTION ->
  *    injection/implant) with four per-NDC oral overrides, and
  *    `days_suply_num` used directly — Medicare G-codes carry their own
  *    supply, so the mcaid build's next-service-date methadone
  *    estimation does not exist here (:454-456);
  *  - **same-day NDC-over-HCPCS dedup** (STEP 7, :396-449): when an
  *    (id, date, moudtype) group holds >1 (moudtype, admin) row, the
  *    HCPCS rows drop and the NDC rows keep the supply — the reference
  *    re-joins the >1 groups on (id, date, moudtype) WITHOUT
  *    admin_method, so an hcpcs row with a different admin method than
  *    the duplicated one is ALSO deleted (artifact, kept);
  *  - **H0033 monthly-context disambiguation** (STEP 6): the mcaid
  *    CASE itself — [[ClaimMoud.resolveH0033]] over the last service
  *    date.
  *
  * Scale: the value-set and NDC dims broadcast; the union's DISTINCT,
  * the person-month window, and the (id, date, moudtype) dedup joins
  * are the only wide shuffles, all on high-cardinality keys.
  */
object McareClaimMoud {

  private val methCodes = Seq("H0020", "S0109", "G2078", "G2067")
  private val bupCodes = Seq("J0571", "J0572", "J0573", "J0574", "J0575",
    "G2068", "G2079", "Q9991", "Q9992", "G2069", "G2070", "G2072", "J0570")
  private val bupTbdCodes = Seq("96372", "11981", "11983", "G0516", "G0518")
  private val nalCodes = Seq("G2073", "J2315")
  private val unspecCodes = Seq("G2074", "G2075", "G2076", "G2077",
    "G2080", "G2086", "G2087", "G2088", "G2213")

  /** STEP 1 dispatch over procedure events (already filtered to the
    * MOUD universe by the caller or here). */
  def flagProcEvents(proc: DataFrame): DataFrame = {
    val c = col("procedure_code")
    proc
      .filter(c.isin(methCodes ++ bupCodes ++ bupTbdCodes ++ nalCodes ++
        unspecCodes :+ "H0033": _*))
      .withColumn("moud_proc_flag_tbd", (c === "H0033").cast("int"))
      .withColumn("meth_proc_flag", c.isin(methCodes: _*).cast("int"))
      .withColumn("bup_proc_flag",
        (c.isin(bupCodes: _*) || c.isin(bupTbdCodes: _*)).cast("int"))
      .withColumn("nal_proc_flag", c.isin(nalCodes: _*).cast("int"))
      .withColumn("unspec_proc_flag", c.isin(unspecCodes: _*).cast("int"))
      .withColumn("moud_days_supply",
        when(c.isin("H0033", "H0020", "S0109", "J0571", "J0572", "J0573",
          "J0574", "J0575", "96372", "J2315"), 1)
          .when(c.isin("G2078", "G2067", "G2068", "G2079", "G2073"), 7)
          .when(c.isin("Q9991", "Q9992", "G2069"), 30)
          .when(c.isin("G2070", "G2072", "J0570", "11981", "11983",
            "G0516", "G0518"), 180)
          .otherwise(0))
      .withColumn("admin_method",
        when(c.isin("H0033", "H0020", "S0109", "G2078", "G2067", "J0571",
          "J0572", "J0573", "J0574", "J0575", "G2068", "G2079", "G2073",
          "96372"), "oral")
          .when(c.isin("Q9991", "Q9992", "G2069", "G2070", "G2072",
            "J0570", "11981", "11983", "G0516", "G0518", "J2315"),
            "injection/implant"))
  }

  /** STEPs 2-3: claim-level primary-dx OUD flag (MAX over the claim's
    * header rows) gates H0033 and the bup-TBD codes. `headers` carries
    * (claim_header_id, primary_diagnosis, icdcm_version); `oudDx`
    * carries (code, icdcm_version) — the sud_opioid diagnosis set. */
  def gateByOudDx(flagged: DataFrame, headers: DataFrame,
      oudDx: DataFrame): DataFrame = {
    val hdr = headers.join(broadcast(oudDx.select(
        col("code").as("primary_diagnosis"),
        col("icdcm_version"), lit(1).as("_oud"))),
        Seq("primary_diagnosis", "icdcm_version"), "left")
      .groupBy(col("claim_header_id"))
      .agg(max(coalesce(col("_oud"), lit(0))).as("oud_dx1_flag"))
    val c = col("procedure_code")
    flagged.join(hdr, Seq("claim_header_id"), "left")
      .withColumn("oud_dx1_flag", coalesce(col("oud_dx1_flag"), lit(0)))
      .filter(
        c.isin(methCodes ++ bupCodes ++ nalCodes ++ unspecCodes: _*) ||
          (c === "H0033" && col("oud_dx1_flag") === 1) ||
          (c.isin(bupTbdCodes: _*) && col("oud_dx1_flag") === 1))
  }

  /** STEP 4: pharmacy fills. `pharm` carries (id_person,
    * claim_header_id, ndc, last_service_date, days_supply); `rxSets`
    * carries (code, sub_group_pharmacy); `ndcCodes` carries
    * (ndc, dosageformname). */
  def pharmEvents(pharm: DataFrame, rxSets: DataFrame,
      ndcCodes: DataFrame, minDate: String): DataFrame = {
    val oralOverrides = Seq("00093572156", "00093572056", "49452483501",
      "00378876616")
    pharm
      .join(broadcast(rxSets.filter(col("sub_group_pharmacy").isin(
        "pharm_buprenorphine", "pharm_buprenorphine_naloxone",
        "pharm_naltrexone_rx"))
        .select(col("code").as("ndc"), col("sub_group_pharmacy"))
        .distinct()), Seq("ndc"))
      .join(broadcast(ndcCodes.select(col("ndc"), col("dosageformname"))),
        Seq("ndc"), "left")
      .filter(col("last_service_date") >= lit(minDate))
      .select(col("id_person"), col("claim_header_id"), col("ndc"),
        col("last_service_date"),
        when(col("sub_group_pharmacy").isin("pharm_buprenorphine",
          "pharm_buprenorphine_naloxone"), 1).otherwise(0)
          .as("bup_rx_flag"),
        when(col("sub_group_pharmacy") === "pharm_naltrexone_rx", 1)
          .otherwise(0).as("nal_rx_flag"),
        when(col("ndc").isin(oralOverrides: _*), "oral")
          .otherwise(
            when(col("dosageformname").startsWith("FILM") ||
              col("dosageformname").startsWith("TABLET"), "oral")
              .when(col("dosageformname").startsWith("KIT") ||
                col("dosageformname").startsWith("SOLUTION"),
                "injection/implant"))
          .as("admin_method"),
        col("days_supply").cast("double").as("moud_days_supply"))
      .distinct()
  }

  /** STEP 6 ([[ClaimMoud.resolveH0033]]) + the STEP-5/6 collapse: proc +
    * rx rows in ONE union AT CLAIM-HEADER GRAIN (the reference's
    * union_1 keeps claim_header_id, so same-day duplicate claims count
    * in the monthly sums and their nominal supplies add — the inflation
    * its own comment documents), person-month window sums decide H0033,
    * then the per-(id, date, flags, admin) rollup summing supply. */
  def resolveAndCollapse(procFlagged: DataFrame, rx: DataFrame): DataFrame = {
    val unioned = procFlagged
      .select(col("id_person"), col("claim_header_id"),
        col("last_service_date"),
        col("procedure_code"), col("meth_proc_flag"), col("bup_proc_flag"),
        col("nal_proc_flag"), col("unspec_proc_flag"),
        col("moud_days_supply").cast("double").as("moud_days_supply"),
        col("admin_method"))
      .withColumn("ndc", lit(null).cast("string"))
      .withColumn("bup_rx_flag", lit(null).cast("int"))
      .withColumn("nal_rx_flag", lit(null).cast("int"))
      .withColumn("_is_proc", lit(1))
      .unionByName(rx
        .withColumn("procedure_code", lit(null).cast("string"))
        .withColumn("meth_proc_flag", lit(null).cast("int"))
        .withColumn("bup_proc_flag", lit(null).cast("int"))
        .withColumn("nal_proc_flag", lit(null).cast("int"))
        .withColumn("unspec_proc_flag", lit(null).cast("int"))
        .withColumn("_is_proc", lit(0)))
      .distinct()
    val resolved = ClaimMoud.resolveH0033(unioned, col("last_service_date"))
      .drop("_is_proc", "procedure_code", "claim_header_id", "ndc")
    resolved.groupBy(col("id_person"), col("last_service_date"),
        col("meth_proc_flag"), col("bup_proc_flag"), col("nal_proc_flag"),
        col("unspec_proc_flag"), col("bup_rx_flag"), col("nal_rx_flag"),
        col("admin_method"))
      .agg(sum(col("moud_days_supply")).as("moud_days_supply"))
  }

  /** STEP 7: same-day same-moudtype NDC-over-HCPCS dedup, with the
    * reference's loose re-join (the >1 test includes admin_method, the
    * delete does not — see scaladoc). */
  def dedupSameDay(collapsed: DataFrame): DataFrame = {
    val typed = collapsed
      .withColumn("moudtype",
        when(col("bup_proc_flag") === 1 || col("bup_rx_flag") === 1,
          "buprenorphine")
          .when(col("nal_proc_flag") === 1 || col("nal_rx_flag") === 1,
            "naltrexone"))
      .withColumn("codetype",
        when(col("bup_proc_flag") === 1 || col("nal_proc_flag") === 1,
          "hcpcs")
          .when(col("bup_rx_flag") === 1 || col("nal_rx_flag") === 1,
            "ndc"))
    val dupKeys = typed
      .groupBy(col("id_person"), col("last_service_date"),
        col("moudtype"), col("admin_method"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("moudtype").isNotNull)
      .select(col("id_person"), col("last_service_date"), col("moudtype"))
      .distinct()
    typed.join(dupKeys.withColumn("_dup", lit(1)),
        Seq("id_person", "last_service_date", "moudtype"), "left")
      // keep unless BOTH flagged-dup and hcpcs (NULL-safe: a NULL _dup
      // or codetype keeps the row, like the reference's IS NULL filter)
      .filter(coalesce(col("_dup") === 1 && col("codetype") === "hcpcs",
        lit(false)) === false)
      .drop("_dup", "moudtype", "codetype")
  }

  /** STEP 8 + final projection: period columns from the service date
    * (the reference reads ref_date; year_half is derived the same way)
    * and the moud_flag_count sum. */
  def finalize(deduped: DataFrame): DataFrame =
    deduped
      .withColumn("service_year", year(col("last_service_date")))
      .withColumn("service_quarter",
        concat(year(col("last_service_date")).cast("string"), lit("-Q"),
          quarter(col("last_service_date")).cast("string")))
      .withColumn("service_month",
        date_format(col("last_service_date"), "yyyyMM"))
      .withColumn("year_half",
        concat(year(col("last_service_date")).cast("string"),
          when(quarter(col("last_service_date")) <= 2, "_top")
            .otherwise("_bottom")))
      .withColumn("moud_flag_count",
        coalesce(col("meth_proc_flag"), lit(0)) +
          coalesce(col("bup_proc_flag"), lit(0)) +
          coalesce(col("nal_proc_flag"), lit(0)) +
          coalesce(col("bup_rx_flag"), lit(0)) +
          coalesce(col("nal_rx_flag"), lit(0)))
}
