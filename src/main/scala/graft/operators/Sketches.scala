package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency sketches for corpus statistics at 100 TB — fixed-size
  * summaries where the exact histogram would be vocabulary-sized.
  *
  * Count-Min (Cormode & Muthukrishnan 2005): a depth x width count grid;
  * each item adds its weight to one bucket per row, a point estimate is
  * the MIN over its depth cells. Estimates never underestimate, and
  * overestimate by at most the collision mass (eps = e/width with
  * probability 1 - e^-depth). Row hashes use the catalog's
  * engine-portable md5 double hashing (pos_r = (h1 + r*h2) mod width —
  * the same Kirsch-Mitzenmacher discipline as the Bloom filter), so the
  * whole grid is reproducible in any engine.
  *
  * Scale shape: the build is ONE partial-aggregatable shuffle on
  * (row, bucket) — depth*width cells total regardless of corpus size, so
  * the finished grid broadcasts anywhere (depth 4 x width 2048 = 64 KB).
  * Callers should collapse occurrences to (item, count) first (Zipf-
  * bounded) so the explode multiplies the VOCABULARY by depth, not the
  * corpus.
  */
object Sketches {

  /** The catalog's engine-portable 32-bit draw: the first 32 bits of
    * md5, a long in [0, 2^32). Every md5 u32 in the catalog is this
    * one expression: the sketch rows here, [[saltedDraw]] and
    * [[md5Bucket]]. */
  private[graft] def md5U32(item: Column): Column =
    conv(substring(md5(item), 1, 8), 16, 10).cast("long")
  // second 32 bits of md5 — same portable halves as Dedup's Bloom
  private def h2(item: Column): Column =
    conv(substring(md5(item), 9, 8), 16, 10).cast("long")

  /** The per-row uniform draw of the samplers and splitters: the
    * [[md5U32]] of "salt:id". A pure function of (salt, id), so a
    * re-run, a re-partition or another engine draws the same value, and
    * a new salt is an independent draw. */
  private[graft] def saltedDraw(salt: String, id: Column): Column =
    md5U32(concat_ws(":", lit(salt), id.cast("string")))

  /** The hashed bag-of-words feature of a token: its [[md5U32]] mod
    * `nBuckets`, a long in [0, nBuckets). */
  private[graft] def md5Bucket(token: Column, nBuckets: Int): Column =
    pmod(md5U32(token), lit(nBuckets))

  private def bucketOf(item: Column, row: Column, width: Int): Column =
    pmod(md5U32(item) + row * h2(item), lit(width.toLong))

  /** Build the depth x width grid from weighted items:
    * (row, bucket, cnt), absent cells implicitly 0. */
  def countMinGrid(items: DataFrame, itemCol: Column, weightCol: Column,
      depth: Int, width: Int): DataFrame =
    items.select(itemCol.as("_it"), weightCol.as("_w"))
      .select(col("_it"), col("_w"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("row"),
        bucketOf(col("_it"), col("row"), width).as("bucket"), col("_w"))
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("_w")).as("cnt"))

  /** Per-item (row, bucket) cell explode as a STATELESS projection —
    * composes into Structured Streaming unchanged (only the downstream
    * windowed count is stateful), the same way the hash-split kernel
    * rides q180's stream. */
  def withCells(df: DataFrame, itemCol: Column, depth: Int,
      width: Int): DataFrame =
    df.withColumn("row", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bucket", bucketOf(itemCol, col("row"), width))

  /** Point estimates for `probes`: min over each probe's depth cells
    * (missing cell = 0). Returns (item, cms_est). */
  def cmsEstimate(grid: DataFrame, probes: DataFrame, itemCol: Column,
      depth: Int, width: Int): DataFrame =
    probes.select(itemCol.as("item"))
      .select(col("item"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .withColumn("bucket", bucketOf(col("item"), col("row"), width))
      .join(grid, Seq("row", "bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  /** INTEGER HyperLogLog distinct-count sketch — the classic register
    * layout (2^p registers, leading-zero ranks from a 60-bit md5-slice
    * hash) with the ESTIMATOR kept in pure integer arithmetic: the
    * harmonic mean's 2^-M_j terms are rescaled by the per-key maximum
    * register so the sum is the exact integer S = sum 2^(maxM - M_j)
    * (absent registers contribute 2^maxM each), and the estimate is
    * `(alpha_e4 * m^2 div 10000) * 2^maxM div S` — no pow(), no ln(),
    * no float harmonic sum whose accumulation order could differ
    * between engines, so the whole sketch replays bit-exactly in a SQL
    * oracle. The standard small-range LinearCounting correction needs
    * ln(); it is deliberately NOT applied — `zero_registers` rides the
    * output so a consumer that wants the correction has V, and the raw
    * estimate stays engine-portable.
    *
    * Register state is (key, register) -> max(rank): one partial-agg
    * shuffle builds it, max() makes sketches of unions MERGEABLE by
    * construction (union-then-build == build-then-max), and the per-key
    * finalize touches at most 2^p rows per key. */
  def intHllEstimate(df: DataFrame, keys: Seq[String], value: Column,
      p: Int = 8, alphaE4: Long = -1L,
      salt: String = "hll"): DataFrame =
    intHllFromRegisters(intHllRegisters(df, keys, value, p, salt),
      keys, p, alphaE4)

  /** The HLL bias-correction constant for m = 2^p registers, scaled to
    * 1e4 fixed point (Flajolet et al. 2007 §4: 0.673 / 0.697 / 0.709
    * for m = 16/32/64, else 0.7213/(1 + 1.079/m)). Derived from p so a
    * non-default precision gets the matching alpha — a fixed constant
    * is calibrated for ONE m and biases every other (alpha spans
    * 0.673..0.7213 over p = 4..14). At p = 8 this yields 7183, the
    * value q255/q256/q272 have always pinned. */
  def hllAlphaE4(p: Int): Long = (1L << p) match {
    case 16L => 6730L
    case 32L => 6970L
    case 64L => 7090L
    case m => math.round(0.7213 / (1.0 + 1.079 / m) * 10000.0)
  }

  /** The sketch STATE: (keys, _reg, _m) — one register row per
    * occupied register. This is what a production pipeline persists
    * per shard/day; [[intHllMerge]] folds states, and
    * [[intHllFromRegisters]] finalizes. One partial-agg shuffle. */
  def intHllRegisters(df: DataFrame, keys: Seq[String], value: Column,
      p: Int = 8, salt: String = "hll"): DataFrame =
    withHllRank(df, value, p, salt)
      .groupBy(keys.map(col) :+ col("_reg"): _*)
      .agg(max(col("_rank")).as("_m"))

  /** The STATELESS half of [[intHllRegisters]]: annotate each row with
    * its (_reg, _rank) — pure Columns, so it rides a stream unchanged
    * (the q211 CMS discipline); the caller supplies the grouping
    * (batch keys or a watermarked event-time window) and max(). */
  def withHllRank(df: DataFrame, value: Column, p: Int = 8,
      salt: String = "hll"): DataFrame = {
    require(p >= 4 && p <= 14, "4 <= p <= 14")
    val m = 1L << p
    val hashBits = 60 // 15 md5 hex chars: stays positive in a LONG
    val h = conv(substring(md5(concat_ws(":", lit(salt),
      value.cast("string"))), 1, 15), 16, 10).cast("long")
    val reg = h % m
    val w = expr(s"_h div $m")
    // integer bit length via base-2 string render (codegen'd, exact)
    val bitlen = when(col("_w") === 0, lit(0))
      .otherwise(length(conv(col("_w"), 10, 2)))
    val rank = lit(hashBits - p + 1) - bitlen
    df.withColumn("_h", h).withColumn("_w", w)
      .withColumn("_reg", reg).withColumn("_rank", rank)
  }

  /** Merge sketch states: register-wise max — associative and
    * commutative, so build-then-merge equals union-then-build by
    * construction (the law IntHllSpec and q256 pin). */
  def intHllMerge(a: DataFrame, b: DataFrame,
      keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col) :+ col("_reg"): _*)
      .agg(max(col("_m")).as("_m"))

  /** Finalize a register state into (keys, zero_registers, hll_est) —
    * see [[intHllEstimate]] for the integer-estimator derivation. */
  def intHllFromRegisters(regs: DataFrame, keys: Seq[String],
      p: Int = 8, alphaE4: Long = -1L): DataFrame = {
    val m = 1L << p
    val kw = Window.partitionBy(keys.map(col): _*)
    // alphaE4 <= 0 (the default) derives the constant from p; an
    // explicit positive value overrides (e.g. replaying a sketch built
    // under a different calibration)
    val a = if (alphaE4 > 0) alphaE4 else hllAlphaE4(p)
    val alphaM2 = a * m * m / 10000L
    regs.withColumn("_maxm", max(col("_m")).over(kw))
      .groupBy(keys.map(col): _*)
      .agg(max(col("_maxm")).as("maxm"),
        count(lit(1)).as("_present"),
        sum(expr("shiftleft(1L, cast(_maxm - _m as int))")).as("_sp"))
      .select(keys.map(col) :+
        (lit(m) - col("_present")).as("zero_registers") :+
        expr(s"${alphaM2}L * shiftleft(1L, cast(maxm as int)) div " +
          s"(_sp + ($m - _present) * shiftleft(1L, cast(maxm as int)))")
          .as("hll_est"): _*)
  }


  /** Mergeable INTEGER log-bucket histogram — the HdrHistogram layout
    * (exponent + `subBits` mantissa bits per bucket) with everything
    * integer: bucket id = bitlen(v) * 2^subBits + top mantissa slice
    * (2^(subBits-1) occupied sub-buckets per octave — the top bit is
    * always set), so relative bucket width (and thus quantile error)
    * is bounded by 2^-(subBits-1). State is (keys, _bucket, _cnt):
    * counts ADD under
    * union — associative, mergeable across shards/days like the HLL
    * registers. One partial-agg shuffle. */
  def logHistogram(df: DataFrame, keys: Seq[String], value: Column,
      subBits: Int = 5): DataFrame = {
    require(subBits >= 1 && subBits <= 16, "1 <= subBits <= 16")
    val sb = 1L << subBits
    val bitlen = when(col("_v") <= 0, lit(0))
      .otherwise(length(conv(col("_v"), 10, 2)))
    df.withColumn("_v", value.cast("long"))
      .withColumn("_e", bitlen)
      .withColumn("_low", when(col("_e") <= subBits, col("_v"))
        .otherwise(expr(s"shiftright(_v, cast(_e - $subBits as int))")))
      .withColumn("_bucket", col("_e") * sb + col("_low"))
      .groupBy(keys.map(col) :+ col("_bucket"): _*)
      .agg(count(lit(1)).as("_cnt"))
  }

  /** Quantile estimates from a [[logHistogram]] state: for each
    * requested quantile (basis points), the LOWER BOUND of the first
    * bucket whose cumulative count reaches ceil(q*N/10000) — a
    * deterministic integer answer with relative error
    * <= 2^-(subBits-1), no float interpolation. Cumulative sums ride a keys-partitioned
    * window over the bucket order; the histogram is at most
    * ~64*2^subBits rows per key, so the finalize is dim-sized. */
  def histQuantiles(hist: DataFrame, keys: Seq[String],
      quantilesBp: Seq[Int], subBits: Int = 5): DataFrame = {
    val sb = 1L << subBits
    val kw = Window.partitionBy(keys.map(col): _*)
    val ow = kw.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lower = {
      val e = (col("_bucket") / sb).cast("long")
      val low = col("_bucket") - e * sb
      when(e <= subBits, low)
        .otherwise(expr(s"shiftleft(_low2, cast(_e2 - $subBits as int))"))
    }
    val cum = hist
      .withColumn("_n", sum(col("_cnt")).over(kw))
      .withColumn("_cum", sum(col("_cnt")).over(ow))
      .withColumn("_e2", (col("_bucket") / sb).cast("long"))
      .withColumn("_low2", col("_bucket") - col("_e2") * sb)
      .withColumn("_lower", lower)
    // ONE pass for every quantile: explode the (tiny) quantile list
    // onto the cumulative rows — per-quantile union branches would
    // re-execute the upstream scan once each.
    cum.withColumn("q_bp",
        explode(array(quantilesBp.map(lit): _*)))
      .filter(col("_cum") * 10000L >= col("_n") * col("q_bp"))
      .groupBy(keys.map(col) :+ col("q_bp"): _*)
      .agg(min(col("_lower")).as("est"))
  }

}
