package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.Random
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.operators.Dedup

/** Differential spec for the compiled word-gram and Bloom kernels
  * ([[WordGrams]], [[Bloom]]): seeded random texts plus hand cases run
  * through two independent references —
  *   - the Column formulation the kernels replaced (lambda `wordGrams`,
  *     md5/conv halves, per-gram explode), kept here only as a reference;
  *   - plain Scala: sliding windows, distinct, and a `MessageDigest` md5
  *     replay of the k bit positions.
  * Every comparison runs with whole-stage codegen on (`doGenCode`) and
  * with codegen off entirely (`nullSafeEval`). */
class WordGramsSpec extends SparkSpec {

  private val N = 3
  private val K = 3

  // ---- reference 1: the replaced Column formulation ----------------------

  private def lambdaWordGrams(text: Column, n: Int): Column = {
    val toks = Dedup.tokens(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  private def columnContains(bits: Array[Long], g: Column, mBits: Int,
      k: Int): Column = {
    val h1 = conv(substring(md5(g), 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(md5(g), 9, 8), 16, 10).cast("long")
    (0 until k).map { i =>
      val pos = pmod(h1 + lit(i.toLong) * h2, lit(mBits.toLong))
      val word = element_at(lit(bits), (pos / 64).cast("int") + 1)
      call_function("shiftrightunsigned", word,
        pmod(pos, lit(64)).cast("int")).bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
  }

  private def explodedCounts(docs: DataFrame, bits: Array[Long],
      mBits: Int): Map[Long, (Long, Long)] =
    docs.select(col("doc_id"), explode(lambdaWordGrams(col("text"), N)).as("g"))
      .withColumn("maybe", columnContains(bits, col("g"), mBits, K))
      .groupBy("doc_id")
      .agg(count(lit(1)), sum(when(col("maybe"), 1L).otherwise(0L)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  // ---- reference 2: plain Scala ------------------------------------------

  /** trim strips only ' '; split keeps trailing empty tokens. */
  private def scalaGrams(text: String, n: Int): Seq[String] = {
    val norm = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val toks = norm.split(" ", -1).toSeq
    val windows = if (toks.length < n) Seq(toks) else toks.sliding(n).toSeq
    windows.map(_.mkString(" ")).distinct
  }

  private def md5Positions(g: String, mBits: Int): Seq[Long] = {
    val d = MessageDigest.getInstance("MD5").digest(g.getBytes(UTF_8))
    def word(from: Int) =
      (from until from + 4).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xffL))
    val (h1, h2) = (word(0), word(4))
    (0 until K).map(i => (h1 + i * h2) % mBits)
  }

  private def scalaBitmap(grams: Iterable[String], mBits: Int): Array[Long] = {
    val bits = new Array[Long](mBits / 64)
    for (g <- grams; p <- md5Positions(g, mBits))
      bits((p / 64).toInt) |= 1L << (p % 64)
    bits
  }

  private def scalaCounts(rows: Seq[(Long, String)], set: Set[Long],
      mBits: Int): Map[Long, (Long, Long)] =
    rows.filter(_._2 != null).groupBy(_._1).map { case (id, rs) =>
      val perRow = rs.map { case (_, t) =>
        val gs = scalaGrams(t, N)
        (gs.size.toLong,
          gs.count(g => md5Positions(g, mBits).forall(set)).toLong)
      }
      id -> ((perRow.map(_._1).sum, perRow.map(_._2).sum))
    }

  // ---- fixtures -----------------------------------------------------------

  private val handTexts: Seq[String] = Seq(
    "A  b c b c",                      // repeated gram
    "a b c a b c a b c",               // every gram repeats
    "hi", "two words",                 // fewer than n tokens
    "",                                // one gram: ""
    "tab\tsep\tand\nnew\nlines here",  // \s+ folds tabs and newlines
    "\tleading tab token list",        // trim keeps \t: empty first token
    "trailing newline token list\n",   // ...and an empty last token
    "  spaces  around  the  text  ",   // trim strips ' ' only
    " \t mixed \t edge \t ",
    "Café Über naïve 東京 東京 東京 café über",
    null)

  private def randomTexts(n: Int, seed: Long): Seq[String] = {
    val rng = new Random(seed)
    val vocab = Seq("alpha", "beta", "Gamma", "delta", "x", "y", "é", "東京",
      "the", "cat")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    Seq.fill(n) {
      val toks = Seq.fill(rng.nextInt(13))(vocab(rng.nextInt(vocab.size)))
      val body = toks.map(_ + seps(rng.nextInt(seps.size))).mkString
      (if (rng.nextInt(4) == 0) seps(rng.nextInt(seps.size)) else "") +
        body.dropRight(if (rng.nextBoolean()) 1 else 0)
    }
  }

  /** (doc_id, text), doc 3 duplicated with a second text. */
  private lazy val rows: Seq[(Long, String)] = {
    val texts = handTexts ++ randomTexts(300, seed = 11L)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      ((3L, "a second row for doc three"))
  }

  /** An RDD-backed frame, so projections are not folded into a local
    * relation at optimization time: the expressions run in the plan. */
  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    spark.sparkContext.parallelize(rows, 3).toDF("doc_id", "text")
  }

  private def bothModes(f: String => Unit): Unit =
    for ((mode, confs) <- Seq(
        "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
        "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f(mode) finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }

  // ---- specs --------------------------------------------------------------

  test("tokens equals the regexp_replace-then-split formulation") {
    val edges = Seq("", " ", "\t", "\ta", "a\t", "A\t\nB  c ", "x\u000By",
      null)
    val s = spark
    import s.implicits._
    val texts = spark.sparkContext
      .parallelize(edges ++ rows.map(_._2), 3).toDF("text")
    val text = col("text")
    val replaced = split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")
    bothModes { mode =>
      val got = texts.select(text, Dedup.tokens(text), replaced).collect()
      assert(got.length == edges.length + rows.length)
      got.foreach { r =>
        assert(Option(r.getSeq[String](1)) == Option(r.getSeq[String](2)),
          s"$mode: '${r.getString(0)}'")
      }
      assert(got.take(edges.length).map(r => Option(r.getSeq[String](1)))
        .toSeq == Seq(Seq(""), Seq(""), Seq("", ""), Seq("", "a"),
          Seq("a", ""), Seq("a", "b", "c"), Seq("x", "y")).map(Some(_)) :+
          None, mode)
    }
  }

  test("wordGrams matches the lambda formulation and plain Scala") {
    bothModes { mode =>
      val got = docs.select(col("doc_id"), col("text"),
          Dedup.wordGrams(col("text"), N).as("g"),
          lambdaWordGrams(col("text"), N).as("ref"))
        .collect()
      assert(got.length == rows.length)
      got.foreach { r =>
        val text = r.getString(1)
        val g = Option(r.getSeq[String](2))
        if (text == null) {
          // null in, null out, so explode drops the row as the DuckDB
          // oracles do; the lambda turned null text into one "" gram
          assert(g.isEmpty, s"$mode: null text gave $g")
          assert(r.getSeq[String](3) == Seq(""), s"$mode: lambda on null")
        } else {
          assert(g.contains(r.getSeq[String](3)), s"$mode: lambda on '$text'")
          assert(g.contains(scalaGrams(text, N)), s"$mode: scala on '$text'")
        }
      }
    }
  }

  test("bloomBits sets exactly the md5-replayed positions") {
    bothModes { mode =>
      for (mBits <- Seq(1024, 1 << 18)) {
        val grams = rows.collect { case (_, t) if t != null => scalaGrams(t, N) }
          .flatten.distinct
        val s = spark
        import s.implicits._
        val bits = Dedup.bloomBits(spark.sparkContext.parallelize(grams, 3)
          .toDF("g"), col("g"), mBits, K)
        assert(bits.toSeq == scalaBitmap(grams, mBits).toSeq, s"$mode m=$mBits")
      }
    }
  }

  /** Shuffle exchanges in an executed plan, through adaptive execution's
    * stage wrappers. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }

  test("the bitmap build is one aggregation with one shuffle exchange") {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // bloomDecontaminate is lazy but for its bitmap build, the one action
      Dedup.bloomDecontaminate(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 7 === 0), "text", shingleN = N, k = K)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1)
    assert(exchanges(plans.peek) == 1, plans.peek.toString)
  }

  test("(n_grams, n_maybe) match the exploded probe and the md5 replay") {
    bothModes { mode =>
      // m = 1024 is dense enough for false positives; 2^18 is q207's sizing
      for (mBits <- Seq(1024, 1 << 18)) {
        val bench = docs.filter(col("doc_id") % 7 === 0)
        val benchGrams = rows.collect {
          case (id, t) if id % 7 == 0 && t != null => scalaGrams(t, N)
        }.flatten.toSet
        val set = benchGrams.flatMap(md5Positions(_, mBits))
        val got = Dedup.bloomDecontaminate(docs, "doc_id", "text", bench,
            "text", shingleN = N, mBits = mBits, k = K, threshold = 0.3)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
        val counts = got.map { case (id, (ng, nm, _)) => id -> ((ng, nm)) }
        val scala = scalaCounts(rows, set, mBits)
        assert(counts == scala, s"$mode m=$mBits: scala replay")
        val exploded = explodedCounts(docs.filter(col("text").isNotNull),
          scalaBitmap(benchGrams, mBits), mBits)
        assert(counts == exploded, s"$mode m=$mBits: exploded probe")
        // the null-text doc is dropped; the duplicated id sums its rows
        assert(!got.contains(handTexts.indexOf(null).toLong))
        assert(counts(3L)._1 == scalaGrams(handTexts(3), N).size +
          scalaGrams("a second row for doc three", N).size)
        got.values.foreach { case (ng, nm, flag) =>
          assert(flag == (nm.toDouble / math.max(ng, 1L) >= 0.3))
        }
        assert(got.values.exists(_._2 > 0), s"$mode m=$mBits: no hits")
        if (mBits == 1024)
          assert(rows.collect { case (_, t) if t != null => scalaGrams(t, N) }
            .flatten.exists(g => !benchGrams(g) &&
              md5Positions(g, mBits).forall(set)),
            "the dense filter shows no false positive")
      }
    }
  }

  test("bloomContains agrees with the md5 replay item by item") {
    bothModes { mode =>
      val inserted = (0 until 50).map(i => s"gram $i")
      val probes = inserted ++ (0 until 200).map(i => s"other $i") :+ ""
      val mBits = 1024
      val bits = scalaBitmap(inserted, mBits)
      val set = inserted.flatMap(md5Positions(_, mBits)).toSet
      val s = spark
      import s.implicits._
      val got = spark.sparkContext.parallelize(probes, 2).toDF("g")
        .select(col("g"), Dedup.bloomContains(bits, col("g"), mBits, K))
        .as[(String, Boolean)].collect().toMap
      assert(got == probes.map(g => g -> md5Positions(g, mBits).forall(set)).toMap,
        mode)
    }
  }
}
