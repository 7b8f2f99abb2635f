package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling with EXACT integer quotas — the
  * eval-set / ablation-subset construction step: draw exactly N docs,
  * allocated across strata proportionally, reproducible to the row on
  * any engine and any cluster layout.
  *
  * Allocation is Hamilton's largest-remainder method in pure integer
  * arithmetic: stratum h gets floor(N*n_h/total), and the R = N - sum
  * leftover seats go to the largest remainders (N*n_h mod total),
  * ties by stratum key. Within a stratum, rows are ranked by
  * (md5(salt:id), id) — the catalog's engine-portable order — and the
  * first quota_h survive.
  *
  * Scale shape: one count per stratum, two 1-row broadcasts (total,
  * leftover), remainder ranking via a bounded broadcast self-join over
  * the STRATA frame (strata cardinality is a config-sized handful; a
  * pipeline with millions of strata should rank them with the
  * zipWithIndex kernel instead), and ONE stratum-partitioned window for
  * the in-stratum rank — no global window, no driver data collect.
  */
object Sampling {

  /** @return input rows annotated with (n_h, quota, samp_rank), filtered
    *         to the selected sample. */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String],
      idCol: String, sampleFrac: (Int, Int) = (1, 3),
      salt: String = "samp"): DataFrame = {
    val sk = strataCols.map(col)
    val counts = df.groupBy(sk: _*).agg(count(lit(1)).as("n_h"))
    // N = total * num / den, computed in-plan off the 1-row total
    val (num, den) = sampleFrac
    val totals = counts.agg(sum(col("n_h")).as("_total"))
      .withColumn("_n", expr(s"(_total * $num) div $den"))
    val shares = counts.crossJoin(broadcast(totals))
      .withColumn("floor_q", expr("(_n * n_h) div _total"))
      .withColumn("rem", expr("(_n * n_h) % _total"))
    val leftover = shares
      .agg((min(col("_n")) - sum(col("floor_q"))).as("_r"))
    // remainder rank: predecessor-count broadcast self-join (TopN's
    // no-global-window discipline), ties by stratum key ascending
    val keyCmp = strataCols.map(c =>
      (col(s"_o_$c"), col(c))) // (other, mine) per key col
    def keyLess: Column = keyCmp.foldRight(lit(false)) {
      case ((o, m), rest) => o < m || (o === m && rest) }
    val others = shares.select(
      col("rem").as("_o_rem") +: strataCols.map(c => col(c).as(s"_o_$c")): _*)
    val ranked = shares.join(broadcast(others),
        col("_o_rem") > col("rem") ||
          (col("_o_rem") === col("rem") && keyLess), "left")
      .groupBy(shares.columns.toIndexedSeq.map(col): _*)
      .agg((count(col("_o_rem")) + 1).as("rem_rank"))
      .crossJoin(broadcast(leftover))
      .withColumn("quota",
        col("floor_q") + when(col("rem_rank") <= col("_r"), 1L)
          .otherwise(0L))
      .select(sk :+ col("n_h") :+ col("quota"): _*)
    val w = Window.partitionBy(sk: _*)
      .orderBy(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))),
        col(idCol))
    df.join(ranked, strataCols)
      .withColumn("samp_rank", row_number().over(w))
      .filter(col("samp_rank") <= col("quota"))
  }

  /** Weighted sample WITHOUT replacement — Efraimidis & Spirakis 2006
    * A-Res, the one-pass distributed formulation: each row draws a
    * deterministic uniform u from md5(salt:id) (the [[stratifiedSample]]
    * / hashSplit discipline — the +0.5 centers the 32-bit bucket, so u
    * is an exact dyadic rational in (0,1)), keys itself with
    * `round(ln(u)·1e6) / w` (a monotone transform of the paper's
    * u^(1/w), safe from pow() underflow at large weights), and the k
    * LARGEST keys are the sample. The whole draw is a pure function of
    * (salt, id, w), so re-runs, re-partitions, and other engines
    * reproduce it to the row; the unique id is the tie-break.
    *
    * Bit-stability of the key: the NUMERATOR rounds to an integer
    * (|ln(u)|·1e6 ≤ ~2.3e7, exactly representable as a double), and an
    * integer-valued-double / integer-valued-double division is IEEE
    * correctly rounded — identical in every conforming engine, with no
    * cross-libm ln() boundary risk (the rounding granularity 1e-6 is
    * nine orders above a 1-ulp ln difference). Rounding the QUOTIENT
    * instead (the first formulation) collapses keys at large weights —
    * at w ≈ 1e4 only ~2.2e3 distinct 6-dp quotients survive, degrading
    * weight-proportionality exactly at corpus scale; rounding the
    * numerator keeps distinct u draws distinct at ANY weight.
    *
    * Weight contract: INTEGER weights — `weight` is cast to long, so
    * fractional weights floor and 0 < w < 1 truncates to 0 and is
    * excluded with the rest of w <= 0 (zero-weight rows cannot be
    * drawn; negative weights are undefined). Callers with fractional
    * weights must pre-scale to integers (e.g. ×1e6) — inclusion
    * probabilities then follow the scaled weights exactly.
    *
    * Scale: key assignment is a shuffle-free codegen'd Column; the
    * top-k is [[graft.core.TopN]]'s TakeOrderedAndProject — a
    * per-partition heap merge, no global sort, no window. Weighted
    * sampling over 100 TB is one scan. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      k: Int, salt: String = "ares"): DataFrame = {
    val u = (Sketches.saltedDraw(salt, col(idCol)).cast("double") + 0.5) /
      4294967296.0
    val keyed = df.select(col(idCol), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("ares_key",
        round(log(u) * 1000000.0, 0) / col("w").cast("double"))
    graft.core.TopN.topNByRank(keyed, "ares_key", idCol, k)
  }
}
