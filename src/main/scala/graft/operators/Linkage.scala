package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter 1969) — the scale path
  * behind the reference's deterministic person crosswalks
  * (claims_db xwalk builds, e.g. stage.xwalk_apde_mcaid_mcare_pha): when
  * two sources lack a shared key, candidate pairs are scored by a sum of
  * per-field agreement weights (log-likelihood ratios log2(m/u)) and cut
  * into match / possible / non-match bands.
  *
  * Determinism: the field weights are FIXED literal doubles supplied by
  * the caller (trained offline, as in production linkage), so a score is
  * a sum of a handful of literals — bit-stable across engines. Name
  * agreement uses integer levenshtein; date agreement integer day
  * windows.
  *
  * Scale shape: candidates come from a BLOCKING equi-join (never a cross
  * join) — the classic linkage discipline; comparisons run once per
  * candidate pair inside the join projection (codegen'd levenshtein /
  * datediff), and the band cut is a row-local CASE. Block-key skew is the
  * caller's lever: finer blocks = fewer comparisons, with the usual
  * missed-pair trade documented by Fellegi-Sunter practice.
  */
object Linkage {

  /** Per-field agreement weights: (agree, disagree) log-ratios, plus a
    * partial-credit band for dates. */
  case class FieldWeights(
      nameAgree: Double, nameDisagree: Double,
      dobExact: Double, dobNear: Double, dobDisagree: Double,
      zipAgree: Double, zipDisagree: Double)

  /** Agreement vector + score for a candidate frame carrying
    * `_na/_nb`, `_da/_db`, `_za/_zb` (name/dob/zip per side); `extra`
    * columns are kept between the agreement vector and the score. */
  private def scored(cand: DataFrame, w: FieldWeights, maxNameDist: Int,
      nearDays: Int, extra: Column*): DataFrame = {
    val nameAgree =
      levenshtein(lower(col("_na")), lower(col("_nb"))) <= maxNameDist
    val dobBand = when(col("_da") === col("_db"), 2)
      .when(abs(datediff(col("_da"), col("_db"))) <= nearDays, 1)
      .otherwise(0)
    val zipAgree = col("_za") === col("_zb")
    cand.select(Seq(col("id_a"), col("id_b"),
        nameAgree.as("name_agree"), dobBand.as("dob_band"),
        zipAgree.as("zip_agree")) ++ extra: _*)
      .withColumn("score",
        when(col("name_agree"), w.nameAgree).otherwise(w.nameDisagree) +
        when(col("dob_band") === 2, w.dobExact)
          .when(col("dob_band") === 1, w.dobNear)
          .otherwise(w.dobDisagree) +
        when(col("zip_agree"), w.zipAgree).otherwise(w.zipDisagree))
  }

  private def sided(df: DataFrame, idCol: String, side: String): DataFrame =
    df.select(col(idCol).as(s"id_$side"),
      col("name").as(s"_n$side"), col("dob").as(s"_d$side"),
      col("zip").as(s"_z$side"))

  /** Candidate (id_a, id_b) pairs with each side's attributes looked up
    * in `attrs` by id — the one attribute join-back of both candidate
    * scorers. */
  private def withAttrs(pairs: DataFrame, attrs: DataFrame,
      idCol: String): DataFrame =
    pairs.select("id_a", "id_b").join(sided(attrs, idCol, "a"), Seq("id_a"))
      .join(sided(attrs, idCol, "b"), Seq("id_b"))

  /** Score blocked candidate pairs from two sources carrying
    * (idCol, name, dob DATE, zip). `blockCols` must exist in both: the
    * blocking key. Prefer a COMPOSITE key (e.g. birth year + ZIP
    * decade): block sizes under a single coarse key grow linearly with
    * corpus size, so candidate pairs per block grow QUADRATICALLY — the
    * one super-linear cost curve in a linkage plan. A second key cuts
    * candidates by its selectivity at the usual blocking trade (a value
    * drifting across the second key's boundary is a missed pair —
    * run a complementary generator like [[sortedNeighborhoodPairs]] to
    * catch those). */
  def scorePairs(a: DataFrame, b: DataFrame, idA: String, idB: String,
      blockCols: Seq[String], w: FieldWeights, maxNameDist: Int,
      nearDays: Int): DataFrame = {
    val blk = blockCols.zipWithIndex.map { case (c, i) =>
      (c, s"_blk$i")
    }
    val la = a.select(col(idA).as("id_a") +:
      blk.map { case (c, n) => col(c).as(n) } ++:
      Seq(col("name").as("_na"), col("dob").as("_da"),
        col("zip").as("_za")): _*)
    val lb = b.select(col(idB).as("id_b") +:
      blk.map { case (c, n) => col(c).as(n) } ++:
      Seq(col("name").as("_nb"), col("dob").as("_db"),
        col("zip").as("_zb")): _*)
    scored(la.join(lb, blk.map(_._2)), w, maxNameDist, nearDays)
  }

  /** Single-block-key convenience overload. */
  def scorePairs(a: DataFrame, b: DataFrame, idA: String, idB: String,
      blockCol: String, w: FieldWeights, maxNameDist: Int = 2,
      nearDays: Int = 90): DataFrame =
    scorePairs(a, b, idA, idB, Seq(blockCol), w, maxNameDist, nearDays)

  /** Sorted-neighborhood candidate generation (Hernandez & Stolfo 1995)
    * — the complementary candidate generator to blocking: records sorted
    * by a fuzzy key, every pair within `window` ranks compared. Rank is
    * the scale-safe range-sort + zipWithIndex kernel (no global window);
    * pairs come from a bucket equi-join — bucket = rank div window, each
    * right row joins its own and the previous bucket — so every
    * neighborhood pair appears exactly once (0 < Δrank < window), never
    * all-pairs, and bucket sizes are EXACTLY `window` (skew-free by
    * construction, whatever the key distribution — the property blocking
    * lacks). Both sources go in ONE frame; the caller filters/orients
    * cross-source pairs. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      sortCols: Seq[String], window: Int): DataFrame = {
    val ranked = graft.sources.BatchExport.rowNumbers(
      df.select((idCol +: sortCols).distinct.map(col): _*),
      sortCols :+ idCol, "_rank")
    val left = ranked.select(col(idCol).as("id_a"),
      col("_rank").as("_ra"),
      expr(s"(_rank - 1) div $window").as("_jb"))
    val right = ranked.select(col(idCol).as("id_b"),
      col("_rank").as("_rb"),
      explode(array(expr(s"(_rank - 1) div $window"),
        expr(s"(_rank - 1) div $window - 1"))).as("_jb"))
    left.join(right, Seq("_jb"))
      .filter(col("_rb") > col("_ra") &&
        col("_rb") - col("_ra") < window)
      .select(col("id_a"), col("id_b"), col("_ra"), col("_rb"))
  }

  /** Score pre-generated candidate id pairs against the attribute
    * frame(s): `pairs` carries (id_a, id_b); attributes are looked up in
    * `attrs` (idCol, name, dob, zip) by each side's id. */
  def scoreCandidatePairs(pairs: DataFrame, attrs: DataFrame,
      idCol: String, w: FieldWeights, maxNameDist: Int = 2,
      nearDays: Int = 90): DataFrame =
    scored(withAttrs(pairs, attrs, idCol), w, maxNameDist, nearDays)

  /** Value-frequency weight refinement (Winkler): agreement on a RARE
    * name is stronger evidence than on a common one, so an agreeing
    * pair earns a bonus bucketed by the A-side name's corpus frequency
    * (freq <= rareMax -> rareBonus, <= uncommonMax -> uncommonBonus,
    * else 0; half-integer bonuses keep score sums IEEE-exact). The
    * frequency table is vocabulary-bounded (Zipf) and joins once per
    * pair on the normalized name — one extra hash join, no new shuffle
    * shape. Output adds `freq_bucket` ('rare'/'uncommon'/'common'). */
  def scoreCandidatePairsFreqWeighted(pairs: DataFrame, attrs: DataFrame,
      idCol: String, w: FieldWeights, rareMax: Int = 2,
      uncommonMax: Int = 10, rareBonus: Double = 3.0,
      uncommonBonus: Double = 1.5, maxNameDist: Int = 2,
      nearDays: Int = 90): DataFrame = {
    val freq = attrs.groupBy(lower(col("name")).as("_fn"))
      .agg(count(lit(1)).as("_nf"))
    // LEFT join (vs inner) so a NULL A-side name keeps its pair row —
    // scored exactly as scoreCandidatePairs scores it — landing in the
    // 'common' bucket (no rarity evidence) instead of being dropped.
    val cand = withAttrs(pairs, attrs, idCol)
      .join(freq, lower(col("_na")) === col("_fn"), "left")
    val bucket = when(col("_nf") <= rareMax, "rare")
      .when(col("_nf") <= uncommonMax, "uncommon")
      .otherwise("common")
    scored(cand, w, maxNameDist, nearDays, bucket.as("freq_bucket"))
      .withColumn("score", col("score") +
        when(col("name_agree") && col("freq_bucket") === "rare",
          rareBonus)
        .when(col("name_agree") && col("freq_bucket") === "uncommon",
          uncommonBonus)
        .otherwise(0.0))
  }

  /** The three Fellegi-Sunter decision bands. */
  def bandCol(score: Column, upper: Double, lower: Double): Column =
    when(score >= upper, "match")
      .when(score >= lower, "possible")
      .otherwise("non_match")

  /** INTEGER EM estimation of the Fellegi-Sunter parameters — the
    * classic unsupervised fit of per-field match/unmatch agreement
    * probabilities (m_f, u_f) and the match prevalence lambda from
    * agreement-PATTERN counts (Winkler's EM, the step that turns the
    * scorer's hand-set weights into data-driven ones).
    *
    * All arithmetic is 1e6 fixed-point integer: the E-step's pattern
    * match probability is a sequential fixed-point product
    * `lam * prod_f (g_f ? m_f : 1-m_f)` with `div` after every factor,
    * the posterior w = pm*S div (pm+pu), and the M-step's ratio
    * numerators/denominators are downscaled by 1000 before the final
    * division so no product exceeds a LONG (sums reach ~1e13; a
    * straight *1e6 would overflow). Every round is therefore
    * bit-reproducible and replayed by a generated oracle CTE.
    *
    * `patterns` is PATTERN-grain: one row per distinct agreement
    * vector with its pair count (columns `g_<field>` in {0,1} and
    * `cnt`) — at most 2^F rows, so every EM round is dim-sized work;
    * the one heavy step (pattern counting) happens once upstream.
    * Returns (param, value_fp): lambda plus m_/u_ per field. */
  def emFieldProbs(patterns: DataFrame, fields: Seq[String],
      iters: Int = 5, m0: Long = 900000L, u0: Long = 100000L,
      lam0: Long = 100000L): DataFrame = {
    val S = 1000000L
    // materialize the pattern dim ONCE: each EM round would otherwise
    // replay the upstream pair generation (measured 5x on q260)
    val pat = patterns.localCheckpoint(true)
    var state = patterns.sparkSession.range(1).select(
      Seq(lit(lam0).as("lam")) ++ fields.flatMap(f =>
        Seq(lit(m0).as(s"m_$f"), lit(u0).as(s"u_$f"))): _*)
    for (_ <- 1 to iters) {
      var j = pat.crossJoin(broadcast(state))
        .withColumn("_pm", col("lam"))
        .withColumn("_pu", lit(S) - col("lam"))
      fields.foreach { f =>
        j = j.withColumn("_pm", expr(
            s"_pm * (CASE WHEN g_$f = 1 THEN m_$f ELSE $S - m_$f END)" +
              s" div ${S}L"))
          .withColumn("_pu", expr(
            s"_pu * (CASE WHEN g_$f = 1 THEN u_$f ELSE $S - u_$f END)" +
              s" div ${S}L"))
      }
      j = j.withColumn("_w",
        expr(s"_pm * ${S}L div greatest(_pm + _pu, 1L)"))
      val aggs = Seq(
        sum(expr("cnt * _w")).as("_sw"),
        sum(col("cnt")).as("_sc")) ++ fields.flatMap(f => Seq(
        sum(expr(s"cnt * _w * g_$f")).as(s"_swg_$f"),
        sum(expr(s"cnt * (${S}L - _w) * g_$f")).as(s"_sug_$f")))
      val t = j.agg(aggs.head, aggs.tail: _*)
      state = t.select(
        Seq(expr("_sw div greatest(_sc, 1L)").as("lam")) ++
          fields.flatMap(f => Seq(
            expr(s"(_swg_$f div 1000L) * ${S}L div " +
              "greatest(_sw div 1000L, 1L)").as(s"m_$f"),
            expr(s"(_sug_$f div 1000L) * ${S}L div " +
              s"greatest((${S}L * _sc - _sw) div 1000L, 1L)")
              .as(s"u_$f"))): _*)
    }
    val stackArgs = (Seq("'lambda', lam") ++ fields.flatMap(f =>
      Seq(s"'m_$f', m_$f", s"'u_$f', u_$f"))).mkString(", ")
    state.select(expr(s"stack(${1 + 2 * fields.size}, $stackArgs) " +
        "AS (param, value_fp)"))
      .orderBy(col("param"))
  }

}
