package graft.pipeline

import graft.SparkSpec
import graft.pipeline.AnalyticPipeline.{mcaidChain, mcaidEligDemoExtra}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content pins for the mcaid chain at sf0.001: every stage build, and
  * the update's flag-id build, hashed row by row. The checksum is the
  * decimal sum of `xxhash64` over the row struct, so it ignores row
  * order and partitioning but moves with any changed value; a count
  * alone would not. A rewrite of a build must leave both numbers as
  * they are. */
class ChainContentSpec extends SparkSpec {

  /** (rows, sum(xxhash64(row)) as decimal(38,0)) */
  private def content(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
        sum(xxhash64(struct(df.columns.map(col): _*))
          .cast("decimal(38,0)")))
      .head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private val pins: Map[String, (Long, BigDecimal)] = Map(
      "mcaid_claim_bh" -> (150L, BigDecimal("29352033946540734942")),
      "mcaid_claim_ccw" -> (3L, BigDecimal("6034962336646014286")),
      "mcaid_claim_header" -> (1500L, BigDecimal("74477361186946990070")),
      "mcaid_claim_icdcm_header" -> (6L, BigDecimal("-3196297214704593847")),
      "mcaid_claim_line" -> (5038L, BigDecimal("664144619193239140011")),
      "mcaid_claim_moud" -> (1774L, BigDecimal("-58435995483861468822")),
      "mcaid_claim_naloxone" -> (5999L, BigDecimal("555110495504976228354")),
      "mcaid_claim_pharm" -> (4L, BigDecimal("-14934963684460065510")),
      "mcaid_claim_preg_episode" -> (677L, BigDecimal("-185976110902452584204")),
      "mcaid_claim_procedure" -> (5L, BigDecimal("-18892495417479486433")),
      "mcaid_elig_demo" -> (15L, BigDecimal("23808979582623293036")),
      "mcaid_elig_month" -> (80L, BigDecimal("53896060740350524396")),
      "mcaid_elig_timevar" -> (15L, BigDecimal("9946328028839558657")),
      "mcaid_elig_demo_extra.flags" -> (2L, BigDecimal("-8320923043179285374")))

  private val builds: Seq[(String, (org.apache.spark.sql.SparkSession,
      String) => DataFrame)] =
    mcaidChain.map(st => st.table -> st.build) :+
      (mcaidEligDemoExtra.name + ".flags" -> mcaidEligDemoExtra.flags)

  test("every mcaid chain build keeps its pinned rows and checksum") {
    val got = builds.map { case (name, build) =>
      name -> content(build(spark, sf))
    }
    val off = got.filterNot { case (name, c) => pins.get(name).contains(c) }
    assert(off.isEmpty, "content moved:\n" + off.map { case (n, (k, h)) =>
      s"""      "$n" -> (${k}L, BigDecimal("$h")),"""
    }.mkString("\n"))
  }
}
