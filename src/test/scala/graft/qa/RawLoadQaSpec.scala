package graft.qa

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.Scratch
import graft.sources.McareRawNormalize
import graft.sources.McareRawNormalize.DictCol

/** Planted-fixture pins for the raw-load QA batteries (the FAIL arms
  * the catalog fixtures deliberately keep green) and the mcare
  * delivery normalization mechanics (sniff, long/alt renames,
  * reorder/NULL-pad, proposals, the batch-year quirk). */
class RawLoadQaSpec extends SparkSpec {
  import spark.implicits._

  private def claimRaw(rows: Seq[(Long, Long, String, String)]): DataFrame =
    rows.toDF("CLM_LINE_TCN", "TCN", "FROM_SRVC_DATE",
        "BILLING_PRVDR_ADDRESS")
      .selectExpr("CLM_LINE_TCN", "TCN",
        "CAST(FROM_SRVC_DATE AS DATE) AS FROM_SRVC_DATE",
        "BILLING_PRVDR_ADDRESS",
        "'s' AS SERVICING_PRVDR_ADDRESS", "'m' AS MCO_PRVDR_ADDRESS",
        "'c' AS MCO_PRVDR_COUNTY")

  private def items(df: DataFrame): Map[String, (String, String)] =
    df.collect().map(r => r.getAs[String]("qa_item") ->
      ((r.getAs[String]("qa_result"), r.getAs[String]("note")))).toMap

  test("claim battery: address-excluded distinctness passes where " +
      "full-row distinctness would not; row-count and date-range " +
      "FAIL notes carry the reference strings; the PASS row-count " +
      "note keeps the dangling-separator quirk") {
    val raw = claimRaw(Seq(
      (11L, 1L, "2020-01-01", "a1"),
      (11L, 1L, "2020-01-01", "a2"),   // resubmit: differs ONLY in addr
      (12L, 1L, "2020-02-01", "a1")))
    val ok = items(RawLoadQa.mcaidClaimPartial(spark, raw,
      RawLoadQa.Batch(1, 3L, "2020-01-01", "2020-02-01")))
    assert(ok("Distinct TCNs")._1 == "PASS")
    assert(ok("Number rows loaded to SQL vs. expected value(s)") ==
      (("PASS", "Number of rows loaded to SQL match expected value(s): ")))
    // wrong expectation → FAIL with the expected/actual note
    val bad = items(RawLoadQa.mcaidClaimPartial(spark, raw,
      RawLoadQa.Batch(1, 99L, "2020-01-01", "2020-03-01")))
    assert(bad("Number rows loaded to SQL vs. expected value(s)") ==
      (("FAIL", "The following table(s) had discrepancies in row " +
        "counts: overall (Expected: 99, actual: 3)")))
    assert(bad("Actual vs. expected date range in data") ==
      (("FAIL", "The following table(s) had discrepancies in date " +
        "ranges: overall (Expected min: 2020-01-01, actual min: " +
        "2020-01-01 /  Expected max: 2020-03-01, actual max: " +
        "2020-02-01)")))
    // a TRUE line-level duplicate (same addr too) breaks the check
    val dup = claimRaw(Seq(
      (11L, 1L, "2020-01-01", "a1"),
      (13L, 1L, "2020-01-01", "a1"),
      (13L, 1L, "2020-01-02", "a1")))  // same TCN line, different date
    val d = items(RawLoadQa.mcaidClaimPartial(spark, dup,
      RawLoadQa.Batch(1, 3L, "2020-01-01", "2020-01-02")))
    assert(d("Distinct TCNs") == (("FAIL",
      "No. distinct TCNs did not match rows even after excluding " +
        "addresses")))
  }

  test("elig battery: outcome-dependent distinct item label, legacy " +
      "SECONDARY_RAC_CODE key, fixed-width gates, null-share notes") {
    def elig(rows: Seq[(String, Int, String, String, String)]) =
      rows.toDF("MBR_H_SID", "CLNDR_YEAR_MNTH", "MEDICAID_RECIPIENT_ID",
          "RAC_CODE", "RAC_FROM_DATE")
        .selectExpr("MBR_H_SID", "CLNDR_YEAR_MNTH",
          "MEDICAID_RECIPIENT_ID", "RAC_CODE",
          "CAST(RAC_FROM_DATE AS DATE) AS RAC_FROM_DATE",
          "CAST('2020-12-31' AS DATE) AS RAC_TO_DATE",
          "'end' AS END_REASON_NAME", "'N/A' AS DUALELIGIBLE_INDICATOR",
          "'2b' AS SECONDARY_RAC_CODE")
    val good = elig(Seq(
      ("m1", 202001, "R0000000001", "1234", "2020-01-01"),
      ("m2", 202002, "R0000000002", "5678", null)))
    val g = items(RawLoadQa.mcaidEligPartial(spark, good,
      RawLoadQa.Batch(2, 2L, "202001", "202002")))
    assert(g.contains("Distinct rows (ID, CLNDR_YEAR_MNTH, FROM/TO " +
      "DATE, RAC_CODE, END_REASON_NAME, DUALELIGIBLE_INDICATOR)"))
    assert(g("Length of Medicaid ID") ==
      (("PASS", "All Medicaid IDs were 11 characters")))
    // 1 of 2 rows null → 50% > 2% → FAIL with the count+pct note
    assert(g("NULL from dates") == (("FAIL",
      "There were 1 NULL from dates (50% of total rows)")))
    // duplicate key rows → FAIL label spells out the full column
    // list; legacy=true splices SECONDARY_RAC_CODE into it
    val dup = elig(Seq(
      ("m1", 202001, "R0000000001", "1234", "2020-01-01"),
      ("m1", 202001, "R0000000001", "1234", "2020-01-01")))
    val d = items(RawLoadQa.mcaidEligPartial(spark, dup,
      RawLoadQa.Batch(2, 2L, "202001", "202001"), legacy = true))
    val label = d.keys.find(_.startsWith("Distinct rows (MBR_H_SID")).get
    assert(label.contains("SECONDARY_RAC_CODE, END_REASON_NAME"))
    assert(d(label) == (("FAIL",
      "Number distinct rows (1) != total rows (2)")))
    // bad widths
    val wide = elig(Seq(("m1", 202001, "R001", "12345", "2020-01-01")))
    val w = items(RawLoadQa.mcaidEligPartial(spark, wide,
      RawLoadQa.Batch(2, 1L, "202001", "202001")))
    assert(w("Length of Medicaid ID") == (("FAIL",
      "Minimum ID length was 4, maximum was 4")))
    assert(w("Length of RAC codes") == (("FAIL",
      "Min RAC_CODE length was 5, max was 5")))
  }

  test("pctString: exact milli-percent, trailing zeros stripped, " +
      "half-up at the boundary") {
    assert(RawLoadQa.pctString(1, 80) == "1.25")
    assert(RawLoadQa.pctString(0, 100) == "0")
    assert(RawLoadQa.pctString(1, 3) == "33.333")
    assert(RawLoadQa.pctString(2, 100) == "2")
    assert(RawLoadQa.pctString(1, 2) == "50")
    assert(RawLoadQa.pctString(1, 160000) == "0.001")  // 0.000625 → up
    assert(RawLoadQa.pctString(1, 1000000) == "0")     // 0.0001 → down
  }

  test("mcare normalization: sniff, long/alt renames, reorder + " +
      "NULL-pad, unknown-column drop + proposal, batch-year quirk") {
    val dict = Seq(
      DictCol("t", "a", "a_long", None, 1),
      DictCol("t", "b", "b_long", Some("b_alt"), 2),
      DictCol("t", "c", "c_long", None, 3))
    assert(McareRawNormalize.sniffSep("x,y") == ",")
    assert(McareRawNormalize.sniffSep("x|y") == "|")
    assert(McareRawNormalize.canonical("b_alt", dict) == "b")
    assert(McareRawNormalize.canonical("b_long", dict) == "b")
    assert(McareRawNormalize.canonical("zzz", dict) == "zzz")
    assert(McareRawNormalize.newColumns(Seq("a", "b_alt", "zzz"), dict)
      == Seq(("zzz", "VARCHAR(255)", 4)))
    assert(McareRawNormalize.batchYear("t_2023.csv", 2024) == 2023)
    assert(McareRawNormalize.batchYear("t_2026.csv", 2024) == 2024)
    // real pipe file: header renames land, c NULL-pads, zzz drops
    val work = java.nio.file.Files.createTempDirectory("graft_nrmspec")
    try {
      val p = s"$work/t_2023.csv"
      Seq(("1", "2", "9")).toDF("A_LONG", "B_ALT", "ZZZ")
        .coalesce(1).write.mode("overwrite")
        .option("header", true).option("sep", "|").csv(p)
      val (out, headers) = McareRawNormalize.normalizeFile(spark, p, dict)
      assert(headers == Seq("a_long", "b_alt", "zzz"))
      assert(out.columns.toSeq == Seq("a", "b", "c"))
      val r = out.collect()
      assert(r.length == 1 && r(0).getString(0) == "1" &&
        r(0).getString(1) == "2" && r(0).isNullAt(2))
    } finally Scratch.delete(work)
  }
}
