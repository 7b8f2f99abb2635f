package graft.builds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MOUD (medication-for-opioid-use-disorder) treatment-event build — the
  * reference's load_stage.mcaid_claim_moud.R, distilled to its three
  * distinctive kernels:
  *
  *   1. **Code-set dispatch** (STEP 1, :51-88): each HCPCS procedure code
  *      maps to drug flags (methadone / buprenorphine / naltrexone /
  *      unspecified / to-be-determined H0033), a nominal days-supply, and
  *      an administration method.
  *   2. **H0033 disambiguation by monthly context** (STEP 6, :223-282):
  *      H0033 can bill either methadone or oral bup; the reference decides
  *      per (person, month): methadone when the month's methadone events
  *      >= bup events (and nonzero), bup when bup events dominate, and
  *      with no proc evidence either way, bup only when a bup PHARMACY
  *      fill exists that month, else methadone.
  *   3. **Next-service-date methadone days-supply** (STEP 8, :364-424):
  *      daily methadone dosing is billed per visit, so supply = gap to the
  *      next methadone service date, EXCEPT: quarters with <= 2 methadone
  *      dates keep the nominal supply (low-count exception); gaps > 1.5 x
  *      the person-quarter median gap fall back to the median (skipped-
  *      dose exception); the last date of a run uses the median (no next
  *      date).
  *
  * The reference computes the per-(person, quarter) median gap with
  * `percentile_cont(0.5) WITHIN GROUP ... OVER (PARTITION BY ...)` —
  * T-SQL's windowed ordered-set aggregate. Spark's `median` is the same
  * linear-interpolated percentile and runs over the same window: ONE
  * window pass, no groupBy-plus-join-back re-reading the lineage. On
  * integer gaps its `0.5·a + 0.5·b` equals `(a + b) / 2` exactly.
  */
object ClaimMoud {

  /** STEP 1's dispatch table (subset of the full code list, same shape). */
  private val methCodes = Seq("H0020", "S0109", "G2078", "G2067")
  private val bupCodes = Seq("J0571", "J0572", "J0573", "Q9991", "G2068")
  private val nalCodes = Seq("G2073", "J2315")
  private val unspecCodes = Seq("G2074", "G2075", "G2086")

  private def in(c: Column, s: Seq[String]): Column = c.isin(s: _*)

  /** Flags + nominal supply + admin method per code — events outside every
    * MOUD code set are dropped (the reference's WHERE-IN). */
  def flagEvents(proc: DataFrame): DataFrame = {
    val c = col("procedure_code")
    proc
      .filter(in(c, methCodes ++ bupCodes ++ nalCodes ++ unspecCodes :+ "H0033"))
      .withColumn("moud_proc_flag_tbd", (c === "H0033").cast("int"))
      .withColumn("meth_proc_flag", in(c, methCodes).cast("int"))
      .withColumn("bup_proc_flag", in(c, bupCodes).cast("int"))
      .withColumn("nal_proc_flag", in(c, nalCodes).cast("int"))
      .withColumn("unspec_proc_flag", in(c, unspecCodes).cast("int"))
      .withColumn("moud_days_supply",
        when(c.isin("H0033", "H0020", "S0109", "J0571", "J0572", "J0573"), 1)
          .when(c.isin("G2078", "G2067", "G2068"), 7)
          .when(c.isin("Q9991", "G2073", "J2315"), 30)
          .otherwise(0))
      .withColumn("admin_method",
        when(c.isin("H0033", "H0020", "S0109", "G2078", "G2067",
          "J0571", "J0572", "J0573", "G2068", "G2073"), "oral")
          .when(c.isin("Q9991", "J2315"), "injection/implant"))
  }

  /** STEP 6: resolve H0033 rows into meth vs bup flags from the person-
    * month context. `rx` carries (id_person, service_date, bup_rx_flag)
    * pharmacy fills.
    *
    * Plan shape: the month sums must see BOTH event streams, so rx rows
    * ride along as skeleton rows in one union and the sums are WINDOW
    * aggregates over (person, month) — the flagged-claim lineage is read
    * ONCE. The groupBy-sums-then-join-back alternative references
    * `flagged` three times (sums, H0033-person restriction, final join)
    * and re-runs the whole upstream claims join for each. */
  def disambiguateH0033(flagged: DataFrame, rx: DataFrame): DataFrame = {
    val unioned = flagged
      .withColumn("bup_rx_flag", lit(0))
      .withColumn("_is_proc", lit(1))
      .unionByName(
        rx.select(col("id_person"), col("service_date"), col("bup_rx_flag"))
          .withColumn("_is_proc", lit(0)),
        allowMissingColumns = true)
    resolveH0033(unioned, col("service_date"))
      .filter(col("_is_proc") === 1)
      .drop("moud_proc_flag_tbd", "bup_rx_flag", "_is_proc")
  }

  /** STEP 6's verdict, shared with [[McareClaimMoud.resolveAndCollapse]]:
    * person-month (`date`'s yyyyMM) window sums of the meth / bup proc
    * flags and the bup rx flag over every row of `events`, then each
    * H0033 row's meth/bup flags from those sums — methadone when meth
    * events >= bup events and nonzero, bup when bup events dominate, and
    * with no proc evidence, bup only when a bup fill exists that month.
    * Other rows keep their flags. */
  private[builds] def resolveH0033(events: DataFrame,
      date: Column): DataFrame = {
    val wm = Window.partitionBy(col("id_person"), date_format(date, "yyyyMM"))
    def msum(c: String) = sum(coalesce(col(c), lit(0))).over(wm)
    val h = col("procedure_code") === "H0033"
    val (meth, bup, rx) = (col("meth_sum"), col("bup_sum"), col("bup_rx_sum"))
    // `flag`'s value when the month reads methadone (m) or bup (b)
    def verdict(flag: String, m: Int, b: Int): Column =
      when(h && meth === 0 && bup === 0 && rx === 0, m)
        .when(h && meth === 0 && bup === 0 && rx > 0, b)
        .when(h && meth >= bup && meth =!= 0, m)
        .when(h && meth < bup, b)
        .otherwise(col(flag))
    events
      .withColumn("meth_sum", msum("meth_proc_flag"))
      .withColumn("bup_sum", msum("bup_proc_flag"))
      .withColumn("bup_rx_sum", msum("bup_rx_flag"))
      .withColumn("meth_proc_flag", verdict("meth_proc_flag", 1, 0))
      .withColumn("bup_proc_flag", verdict("bup_proc_flag", 0, 1))
      .drop("meth_sum", "bup_sum", "bup_rx_sum")
  }

  /** STEP 8 over the per-(person, day) rollup: next-methadone-date gap,
    * person-quarter median gap (a windowed `median`), and the exception
    * rules. */
  def methDaysSupply(daily: DataFrame): DataFrame = {
    val q = concat(year(col("service_date")).cast("string"),
      lit("_"), quarter(col("service_date")).cast("string"))
    val wNext = Window.partitionBy(col("id_person"))
      .orderBy(col("meth_proc_flag").desc, col("service_date"))
    val wq = Window.partitionBy(col("id_person"), col("service_quarter"))
    val withNext = daily
      .withColumn("service_quarter", q)
      .withColumn("next_meth_diff",
        when(col("meth_proc_flag") === 1 &&
          lead(col("meth_proc_flag"), 1).over(wNext) === 1,
          datediff(lead(col("service_date"), 1).over(wNext),
            col("service_date"))))
      .withColumn("meth_sum_quarter",
        sum(col("meth_proc_flag")).over(wq))
    val withMedian = withNext.withColumn("median_gap_quarter",
      median(col("next_meth_diff")).over(wq))
    withMedian.withColumn("moud_days_supply_new",
      when(col("meth_proc_flag") === 1 && col("meth_sum_quarter") <= 2,
        col("moud_days_supply").cast("double"))
        .when(col("meth_proc_flag") === 1 &&
          col("next_meth_diff") > col("median_gap_quarter") * 1.5,
          col("median_gap_quarter"))
        .when(col("meth_proc_flag") === 1 && col("next_meth_diff").isNull,
          col("median_gap_quarter"))
        .when(col("meth_proc_flag") === 1,
          col("next_meth_diff").cast("double"))
        .otherwise(col("moud_days_supply").cast("double")))
  }
}
