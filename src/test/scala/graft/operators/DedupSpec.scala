package graft.operators

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.SimHash64

/** Planted-fixture recall specs for the near-duplicate operators — the
  * queries these back (q38-q40, q43) are approximate/banded and have no SQL
  * oracle, so correctness is pinned here instead.
  */
class DedupSpec extends SparkSpec {

  /** Deterministic corpus: nDocs distinct docs of ~30 tokens over a 5000
    * word vocab (far apart pairwise), as (id, text, source). */
  private def corpus(nDocs: Int, seed: Long = 7L): Seq[(Long, String, String)] = {
    val rng = new Random(seed)
    (0L until nDocs).map { i =>
      val toks = Seq.fill(30)(s"w${rng.nextInt(5000)}")
      (i, toks.mkString(" "), s"src${i % 3}")
    }
  }

  private def toDf(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private def shingleSet(text: String, n: Int): Set[String] =
    text.split(" ").sliding(n).map(_.mkString(" ")).toSet

  private def jac(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / math.max(a.union(b).size, 1).toDouble

  test("exact dedup groups normalized copies, keeps lowest id") {
    val base = corpus(20)
    val dups = Seq(
      (100L, base(3)._2.toUpperCase + "  ", "src0"), // case+space normalize
      (101L, base(3)._2, "src1"),
      (102L, "  " + base(7)._2.replace(" ", "   "), "src2"))
    val out = Dedup.exact(toDf(base ++ dups), "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 20) // 20 distinct contents
    val byKeep = out.map(r => r._2 -> r._3).toMap
    assert(byKeep(3L) == 3L)   // group of {3,100,101} keeps id 3
    assert(out.count(_._3 == 3L) == 1)
    assert(byKeep.getOrElse(7L, 0L) == 2L) // {7,102}
    assert(out.filter(_._3 == 1L).length == 18)
  }

  test("minhash finds all planted near-dup pairs, each exactly once") {
    val base = corpus(120)
    val rng = new Random(11)
    // plant 10 near-dups: copy doc i, replace one middle token
    val planted = (0 until 10).map { i =>
      val toks = base(i)._2.split(" ")
      toks(15) = s"x${rng.nextInt(1000)}"
      (1000L + i, toks.mkString(" "), base(i)._3)
    }
    val out = Dedup.minhashNearDups(toDf(base ++ planted), "doc_id", "text",
      shingleN = 3, bands = 8, rows = 2, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = out.map(r => (r._1, r._2)).toSet
    (0 until 10).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)), s"planted pair $i missed")
    }
    // each pair reported once (deduped across bands) with correct jaccard
    assert(out.length == out.map(r => (r._1, r._2)).distinct.length)
    out.foreach { case (a, b, j) =>
      val ja = jac(shingleSet(base.find(_._1 == a).map(_._2).getOrElse(
        planted.find(_._1 == a).get._2), 3),
        shingleSet(planted.find(_._1 == b).map(_._2).getOrElse(
          base.find(_._1 == b).get._2), 3))
      assert(math.abs(j - ja) < 1e-9, s"jaccard mismatch for ($a,$b)")
      assert(j >= 0.7)
    }
  }

  test("simhash matches brute force at maxHamming=6, incl. spread-bit pairs") {
    val base = corpus(80, seed = 13L)
    // Search for a mutation whose simhash differs from doc 0's in 4..6 bits
    // spread across ALL FOUR 16-bit chunks — exactly the pigeonhole case
    // the r2 4x16-bit bucketing silently dropped (VERDICT r2 #2).
    val toks0 = base(0)._2.split(" ").toSeq
    val sig0 = SimHash64.simhashStrings(toks0)
    val rng = new Random(17)
    val spread = Iterator.continually {
      val t = toks0.toArray
      t(rng.nextInt(t.length)) = s"y${rng.nextInt(100000)}"
      t(rng.nextInt(t.length)) = s"y${rng.nextInt(100000)}"
      t.mkString(" ")
    }.take(200000).find { txt =>
      val d = sig0 ^ SimHash64.simhashStrings(txt.split(" ").toSeq)
      val ham = java.lang.Long.bitCount(d)
      ham >= 4 && ham <= 6 &&
        (0 until 4).forall(c => ((d >>> (c * 16)) & 0xffffL) != 0L)
    }
    assert(spread.nonEmpty, "no spread-bit variant found in search budget")
    val all = base :+ ((2000L, spread.get, "src0"))
    val out = Dedup.simhashNearDups(toDf(all), "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force oracle over the same signatures
    val sigs = all.map { case (id, txt, _) =>
      id -> SimHash64.simhashStrings(txt.split(" ").toSeq)
    }
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (ia, ib, h)).toSet
    assert(brute.exists(p => p._2 == 2000L || p._1 == 2000L),
      "planted spread pair should be within hamming 6")
    assert(out == brute)
  }

  test("hot-bucket cap: a bucket of maxBucket rows pairs, one of " +
    "maxBucket + 1 is dropped") {
    val s = spark
    import s.implicits._
    val maxBucket = 3
    // ids 0-2 are maxBucket identical docs: every bucket they share holds
    // exactly maxBucket rows. ids 10-13 are maxBucket + 1 copies of
    // another doc: every bucket holding them is over the cap.
    val texts = corpus(2, seed = 29L).map(_._2)
    val kept = (0L until maxBucket).map(i => (i, texts(0), "src0"))
    val hot = (10L to 10L + maxBucket).map(i => (i, texts(1), "src0"))
    val docs = toDf(kept ++ hot)
    val expected = Set((0L, 1L), (0L, 2L), (1L, 2L))
    def pairs(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.minhashNearDups(docs, "doc_id", "text",
      maxBucket = maxBucket)) === expected)
    assert(pairs(Dedup.simhashNearDups(docs, "doc_id", "text",
      maxBucket = maxBucket)) === expected)
    assert(pairs(Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      minShared = 1, maxBucket = maxBucket)) === expected)
    // semDedup: the cell is the bucket and maxCell the cap. The capped
    // cell's docs are compared (1 and 2 pruned to 0); the hot cell's
    // identical vectors are never compared, so all stay kept.
    val c0 = Seq(1f, 1f, 1f, 1f)
    val c1 = Seq(-1f, 1f, -1f, 1f)
    val vecs = (kept.map(d => (d._1, c0)) ++ hot.map(d => (d._1, c1)))
      .toDF("vec_id", "embedding")
    val pruned = Similarity.semDedup(vecs, "vec_id", "embedding",
        Array(0 -> c0, 1 -> c1), threshold = 0.999, maxCell = maxBucket)
      .filter(col("pruned") === 1).collect().map(_.getLong(0)).toSet
    assert(pruned === Set(1L, 2L))
  }

  test("ngram jaccard matches in-block brute force, incl. cross-band lengths") {
    val base = corpus(60, seed = 19L)
    // planted A: same length (same band)
    val pa = (3000L, base(2)._2.split(" ").updated(10, "zz1").mkString(" "), base(2)._3)
    // planted B: truncated copy — shingle count drops, may cross a length band
    val pb = (3001L, base(4)._2.split(" ").dropRight(6).mkString(" "), base(4)._3)
    val all = base ++ Seq(pa, pb)
    val out = Dedup.ngramJaccardDups(toDf(all), "doc_id", "text",
      blockCols = Seq("source"), shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = (for {
      (ia, ta, sa) <- all; (ib, tb, sb) <- all
      if ia < ib && sa == sb
      j = jac(shingleSet(ta, 3), shingleSet(tb, 3)) if j >= 0.5
    } yield (ia, ib, j)).toSet
    assert(brute.exists(p => p._1 == 2L && p._2 == 3000L))
    assert(brute.exists(p => p._1 == 4L && p._2 == 3001L))
    assert(out.map(p => (p._1, p._2)) == brute.map(p => (p._1, p._2)))
  }

  test("embedding LSH recovers >=90% of true near-dup pairs (OR-amplified)") {
    val dim = 16
    val rng = new Random(23)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val baseVecs = (0L until 100L).map(i => (i, unit().toSeq))
    val planted = (0 until 10).map { i =>
      val v = baseVecs(i)._2.toArray.map(_.toDouble)
      val noisy = v.map(x => x + 0.05 * rng.nextGaussian())
      val n = math.sqrt(noisy.map(x => x * x).sum)
      (500L + i, noisy.map(x => (x / n).toFloat).toSeq)
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val truePairs = (0 until 10).flatMap { i =>
      if (cos(baseVecs(i)._2, planted(i)._2) >= 0.95) Some((i.toLong, 500L + i))
      else None
    }
    assert(truePairs.length >= 8, "fixture should produce mostly >=0.95 pairs")
    val s = spark
    import s.implicits._
    val df = (baseVecs ++ planted).toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDups(df, "vec_id", "embedding",
      dim = dim, nPlanes = 8, nTables = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = truePairs.count(found.contains)
    assert(recalled.toDouble / truePairs.length >= 0.9,
      s"recall $recalled/${truePairs.length}")
    // precision is exact by construction (cosine verify) — every reported
    // pair must truly clear the threshold
    val vecs = (baseVecs ++ planted).toMap
    found.foreach { case (a, b) =>
      assert(cos(vecs(a), vecs(b)) >= 0.95 - 1e-6)
    }
  }

  test("contamination scores an embedded probe ~1 where jaccard is diluted") {
    val base = corpus(40)
    // doc 2000 contains ALL of probe doc 3's tokens inside 60 tokens of noise
    val rng = new Random(31)
    val noise = Seq.fill(60)(s"n${rng.nextInt(5000)}").mkString(" ")
    val host = (2000L, s"$noise ${base(3)._2} $noise", "src0")
    val out = Dedup.contamination(toDf(base :+ host), "doc_id", "text",
      toDf(Seq(base(3))), "doc_id", "text", shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(p => (p._1, p._2)).toSet == Set((3L, 2000L)),
      s"expected exactly the planted containment, got ${out.mkString(",")}")
    assert(out.head._3 == 1.0, s"full containment should score 1.0: ${out.head}")
    // while symmetric jaccard on the same pair is diluted well below 0.5
    assert(jac(shingleSet(base(3)._2, 3), shingleSet(host._2, 3)) < 0.4)
  }

  test("contamination inverted-index path matches broadcast path, no nested-loop join") {
    val base = corpus(40)
    val rng = new Random(43)
    // two planted hosts, each fully containing a different probe doc
    val hosts = Seq(3, 9).zipWithIndex.map { case (src, i) =>
      val noise = Seq.fill(60)(s"n${rng.nextInt(5000)}").mkString(" ")
      (2000L + i, s"$noise ${base(src)._2} $noise", "src0")
    }
    val corpusDf = toDf(base ++ hosts)
    val probesDf = toDf(Seq(base(3), base(9), base(20)))
    def run(maxBroadcast: Long) =
      Dedup.contamination(corpusDf, "doc_id", "text",
        probesDf, "doc_id", "text", shingleN = 3, threshold = 0.5,
        maxBroadcastProbes = maxBroadcast)
    val viaBroadcast = run(maxBroadcast = 1000)
    val viaIndex = run(maxBroadcast = 0) // 3 probes > 0 -> indexed plan
    val exec = viaIndex.queryExecution.executedPlan.toString
    assert(!exec.contains("BroadcastNestedLoopJoin") &&
      !exec.contains("CartesianProduct"),
      s"indexed contamination plan must not nested-loop:\n$exec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = rows(viaBroadcast)
    assert(rows(viaIndex) === b, "paths disagree")
    assert(b.map(p => (p._1, p._2)) === Set((3L, 2000L), (9L, 2001L)))
  }

  test("winnow overlap finds partial containment that whole-doc jaccard misses") {
    val base = corpus(60)
    // doc 1000 embeds a 12-token RUN of doc 0 inside otherwise-unrelated
    // text: local overlap, but whole-document similarity is low
    val run = base(0)._2.split(" ").slice(5, 17).mkString(" ")
    val rng = new Random(23)
    val noise = Seq.fill(40)(s"n${rng.nextInt(5000)}").mkString(" ")
    val partial = (1000L, s"$noise $run $noise", "src0")
    val out = Dedup.winnowOverlapPairs(toDf(base :+ partial),
      "doc_id", "text", k = 8, w = 4, minShared = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((0L, 1000L)), "contained run not detected")
    // the run is ~2% of either doc's shingles — whole-doc jaccard would
    // never clear a near-dup threshold; confirm the detection is local
    assert(jac(shingleSet(base(0)._2, 3), shingleSet(partial._2, 3)) < 0.2)
    // base corpus docs are pairwise unrelated: no false pairs among them
    assert(out.forall { case (a, b, _) => a == 0L && b == 1000L },
      s"unexpected pairs: ${out.filterNot(p => p._1 == 0L && p._2 == 1000L).mkString(",")}")
  }

  test("editDistancePairs matches brute-force levenshtein exactly " +
    "(substitutions, insert/delete, short strings, empty string)") {
    import spark.implicits._
    val base = Seq("spark analytics engine", "sparkly analytics engine",
      "spark analytic engine", "distributed query planner",
      "distributed query planners", "wholly unrelated text here",
      "ab", "ba", "abcd", "", "x")
    val docs = base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "str")
    val got = Dedup.editDistancePairs(docs, "id", "str", d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val want = (for {
      i <- base.indices; j <- base.indices if i < j
      dist = lev(base(i), base(j)) if dist <= 2
    } yield (i.toLong, j.toLong, dist)).toSet
    assert(got === want)
    assert(want.exists(_._3 == 0) === false)
    assert(want.contains((0L, 2L, 1)))   // one-word deletion of an 's'
    assert(want.contains((6L, 7L, 2)))   // ab <-> ba transposition = 2
    assert(want.contains((9L, 10L, 1)))  // empty vs 1-char
  }

  test("incremental dedup equals from-scratch pairs touching the delta") {
    val docs = toDf(corpus(60) ++ Seq(
      // planted near-dups: delta-vs-old, delta-vs-delta, old-vs-old
      (100L, corpus(60)(5)._2 + " tail", "src0"),   // 100 % 10 == 0: delta
      (110L, corpus(60)(5)._2 + " tails", "src0"),  // delta
      (61L, corpus(60)(7)._2 + " x", "src0")))      // old
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = Dedup.minhashDeltaPairs(existing, delta, "doc_id", "text",
        shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(inc == want)
    // the probe finds delta-old AND delta-delta pairs...
    assert(inc.contains((5L, 100L)) || inc.contains((100L, 5L)) ||
      inc.contains((5L, 110L)) || inc.contains((100L, 110L)))
    // ...and never an old-old pair
    assert(inc.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
    assert(full.exists(p => p._1 % 10 != 0 && p._2 % 10 != 0))
  }

  test("bloom filter: no false negatives; absent items reject at low load") {
    import spark.implicits._
    val inserted = (0 until 200).map(i => s"gram number $i")
    val bits = Dedup.bloomBits(inserted.toDF("g"), col("g"),
      mBits = 1 << 16, k = 3)
    // every inserted item MUST probe true (Bloom's hard guarantee)
    val inHits = inserted.toDF("g")
      .select(Dedup.bloomContains(bits, col("g"), 1 << 16, 3).as("m"))
      .as[Boolean].collect()
    assert(inHits.forall(identity))
    // at load 600/65536 the FP rate is ~1e-6 — 500 absent probes all miss
    val absent = (0 until 500).map(i => s"other thing $i")
    val outHits = absent.toDF("g")
      .select(Dedup.bloomContains(bits, col("g"), 1 << 16, 3).as("m"))
      .as[Boolean].collect()
    assert(!outHits.exists(identity))
  }

  test("wordGrams: distinct space-joined n-grams; short doc = whole text") {
    import spark.implicits._
    val got = Seq("A  b c b c", "hi", "", "\ta b", "a b\n").toDF("t")
      .select(Dedup.wordGrams(col("t"), 3).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b c", "b c b", "c b c"))
    assert(got(1) == Seq("hi"))
    assert(got(2) == Seq(""))
    // trim strips only ' ': a tab or newline at an edge leaves an empty token
    assert(got(3) == Seq(" a b"))
    assert(got(4) == Seq("a b "))
  }

  test("bloom pre-filter is conservative: flags every exact-pass doc") {
    // superset property on real docs: the bloom maybe-ratio upper-bounds
    // the exact containment ratio, so at the same threshold the
    // pre-filter can only ADD docs, never lose one
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 29 === 0)
    val bloomFlagged = Dedup.bloomDecontaminate(docs, "doc_id", "text",
        bench, "text", shingleN = 3, mBits = 1 << 18, k = 3,
        threshold = 0.3)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // exact per-doc containment vs the pooled benchmark gram set
    val benchGrams = bench
      .select(explode(Dedup.wordGrams(col("text"), 3)).as("g"))
      .distinct()
    val exactFlagged = docs
      .select(col("doc_id"), explode(Dedup.wordGrams(col("text"), 3)).as("g"))
      .join(benchGrams.withColumn("hit", lit(1)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg((sum(col("hit")).cast("double") / count(lit(1))).as("r"))
      .filter(col("r") >= 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(exactFlagged.nonEmpty)
    assert(exactFlagged.subsetOf(bloomFlagged))
  }

  test("bloom prune is sound AND actually prunes (q210 composition)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 29 === 0)
    val minP = bench
      .select(size(Dedup.wordGrams(col("text"), 3)).as("_np"))
      .agg(min(col("_np")).as("_minp"))
    val counts = Dedup.bloomDecontaminate(docs, "doc_id", "text",
      bench, "text", shingleN = 3, mBits = 1 << 18, k = 3)
    val flagged = counts.crossJoin(broadcast(minP))
      .filter(col("n_maybe") >= expr("(3 * _minp + 9) div 10"))
      .select(col("doc_id"))
    // the prune must remove a real share of the corpus...
    val nDocs = docs.count()
    val nFlagged = flagged.count()
    assert(nFlagged < nDocs, s"prune kept everything ($nFlagged/$nDocs)")
    // ...without changing the exact pass's answer
    val pruned = Dedup.contamination(
        docs.join(flagged, Seq("doc_id"), "left_semi"), "doc_id", "text",
        bench, "doc_id", "text", shingleN = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.contamination(docs, "doc_id", "text",
        bench, "doc_id", "text", shingleN = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == full)
    assert(full.nonEmpty)
  }
}
