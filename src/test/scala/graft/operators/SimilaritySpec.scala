package graft.operators

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Q

/** ANN specs: IVF recall vs the exact brute-force baseline — the contract
  * VectorQueries promises — and the rank cut every ranked-retrieval
  * operator shares. */
class SimilaritySpec extends SparkSpec {

  test("IVF with nProbe = nCells degenerates to exact brute force") {
    val emb = Q.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val (assigned, centroids) = Similarity.ivfAssign(
      emb, "vec_id", "embedding", nCells = 8, iters = 2)
    val ivf = Similarity.ivfTopK(queries, "vec_id", "embedding",
      assigned, centroids, k = 5, nProbe = 8)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("integer-Lloyd IVF with nProbe = nCells degenerates to brute force") {
    val emb = Q.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val (assigned, centroids) = Similarity.ivfIntLloyd(
      emb, "vec_id", "embedding", nCells = 8, iters = 3)
    val ivf = Similarity.ivfIntTopK(queries, "vec_id", "embedding",
      assigned, centroids, k = 5, nProbe = 8)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("integer-Lloyd IVF recall >= 0.9 with nProbe=4/8 on clustered vectors") {
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new Random(47)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5))
    val vecs = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + 0.3 * rng.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", df, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val (assigned, centroids) = Similarity.ivfIntLloyd(
      df, "vec_id", "embedding", nCells = 8, iters = 3)
    val ivf = Similarity.ivfIntTopK(queries, "vec_id", "embedding",
      assigned, centroids, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean int-Lloyd IVF recall@5 = $mean")
  }

  test("integer Lloyd is bit-identical under re-partitioning — the " +
    "claim the float version could not make") {
    val emb = Q.t(spark, sf, "embeddings")
    def train(parts: Int) = Similarity.ivfIntLloyd(
      emb.repartition(parts), "vec_id", "embedding", nCells = 8,
      iters = 3)._2.toSeq.map { case (c, v) => (c, v.toList) }
    assert(train(1) == train(7))
  }

  test("IVF recall >= 0.9 with nProbe=4/8 on clustered vectors") {
    // IVF's contract only holds when the corpus clusters (random vectors
    // are the adversarial case — every cell is equally likely to hold a
    // neighbor). Build 8 well-separated clusters and verify the probe path.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new Random(31)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5))
    val vecs = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + 0.3 * rng.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", df, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val (assigned, centroids) = Similarity.ivfAssign(
      df, "vec_id", "embedding", nCells = 8, iters = 2)
    val ivf = Similarity.ivfTopK(queries, "vec_id", "embedding",
      assigned, centroids, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean IVF recall@5 = $mean")
  }

  test("IVF at nCells=256 assigns and probes (constant-size expression tree)") {
    // The r5 assignment built one array(struct(...)) element PER centroid —
    // the expression tree (and generated code) grew with nCells and fell
    // over at a realistic sqrt(N). The transform-over-literal rewrite must
    // handle hundreds of cells; nProbe = nCells keeps the check exact.
    val s = spark
    import s.implicits._
    val dim = 8
    val rng = new Random(17)
    val vecs = (0L until 600L).map { i =>
      (i, Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(
      queries, "vec_id", "embedding", df, "vec_id", "embedding", k = 4)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (assigned, centroids) = Similarity.ivfAssign(
      df, "vec_id", "embedding", nCells = 256, iters = 1)
    assert(centroids.length == 256)
    // every corpus vector lands in exactly one cell
    assert(assigned.filter(col("_cell").isNull).count() == 0)
    val ivf = Similarity.ivfTopK(queries, "vec_id", "embedding",
      assigned, centroids, k = 4, nProbe = 256)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("semDedup prunes planted near-dups to the lowest id, keeps the rest") {
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new Random(47)
    // two well-separated centroids; docs 0-2 near centroid 0 but mutually
    // distinct, docs 10/11/12 planted near-identical (same cell); 20/21
    // land in the other cell — 20 hugs its centroid but has no same-cell
    // near-dup, so it must stay kept
    val c0 = Array.fill(dim)(1f)
    val c1 = Array.tabulate(dim)(i => if (i % 2 == 0) -1f else 1f)
    val centroids = Array(0 -> c0.toSeq, 1 -> c1.toSeq)
    def jitter(base: Array[Float], eps: Double) =
      base.map(x => (x + eps * rng.nextGaussian()).toFloat).toSeq
    val docs = Seq(
      (0L, jitter(c0, 0.8)), (1L, jitter(c0, 0.8)), (2L, jitter(c0, 0.8)),
      (10L, jitter(c0, 0.001)), (11L, jitter(c0, 0.001)),
      (12L, jitter(c0, 0.001)),
      (20L, jitter(c1, 0.001)), (21L, jitter(c1, 0.8))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(docs, "vec_id", "embedding",
        centroids, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // 10 is the lowest id of the planted group -> kept; 11/12 pruned
    assert(out(10L) == 0 && out(11L) == 1 && out(12L) == 1)
    // loosely-scattered docs and the isolated other-cell docs stay kept
    assert(Seq(0L, 1L, 2L, 20L, 21L).forall(out(_) == 0))
  }

  test("brute-force top-k is exact and deterministically ordered") {
    val emb = Q.t(spark, sf, "embeddings")
    val out = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
      .orderBy(col("rank")).collect()
    assert(out.length == 3)
    // rank 1 must be the vector itself (cosine 1.0)
    assert(out(0).getLong(1) == 0L)
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-6)
    // cosine non-increasing with rank
    assert(out.map(_.getDouble(2)).sliding(2).forall(w => w(0) >= w(1) - 1e-9))
  }

  test("a tie at the k-th place keeps the lower id, in every ranked " +
      "retrieval operator") {
    import spark.implicits._
    // doc 5 is the query itself; docs 9 and 2 are one vector, tied in
    // every score just behind it; doc 7 points away. At k = 2 the cut
    // falls inside the tie: 2 stays, 9 goes. The two-stage operators
    // cut at coarseK = 2 too, where 5, 9 and 2 share one sign pattern.
    val qv = Seq(1.0f, 0.5f, 0.25f, -0.5f)
    val tied = Seq(1.0f, 0.4f, 0.3f, -0.5f)
    val corpus = Seq((9L, tied), (5L, qv), (7L, Seq(-1.0f, 0.5f, -0.2f,
      0.6f)), (2L, tied)).toDF("vec_id", "embedding")
    val queries = Seq((0L, qv)).toDF("vec_id", "embedding")
    val cen = Array((0, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    def kept(df: org.apache.spark.sql.DataFrame, id: String) =
      df.orderBy(col("rank")).select(col(id)).as[Long].collect().toSeq
    val want = Seq(5L, 2L)
    val vector = Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(queries, "vec_id",
        "embedding", corpus, "vec_id", "embedding", k = 2),
      "ivfTopK" -> Similarity.ivfTopK(queries, "vec_id", "embedding",
        Similarity.assignCells(corpus, "vec_id", "embedding", cen), cen,
        k = 2, nProbe = 1),
      "pqTopK" -> Similarity.pqTopK(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding",
        Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 2,
          k = 4), k = 2),
      "binaryTopK" -> Similarity.binaryTopK(queries, "vec_id",
        "embedding", corpus, "vec_id", "embedding", dim = 4, k = 2,
        coarseK = 2),
      "jlTopK" -> Similarity.jlTopK(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", dIn = 4, dOut = 4, k = 2,
        coarseK = 2),
      "matryoshkaTopK" -> Similarity.matryoshkaTopK(queries, "vec_id",
        "embedding", corpus, "vec_id", "embedding", prefixDim = 4, k = 2,
        coarseK = 2))
    // the same cut through the lexical and fusion operators
    val docs = Seq((9L, "apple pear"), (5L, "apple"), (7L, "plum"),
      (2L, "apple pear")).toDF("doc_id", "text")
    val l0 = Seq(("Q", 5L, 1), ("Q", 9L, 2)).toDF("query_id", "doc_id", "rank")
    val l1 = Seq(("Q", 5L, 1), ("Q", 2L, 2)).toDF("query_id", "doc_id", "rank")
    val text = Seq(
      "bm25TopK" -> TextAnalysis.bm25TopK(docs,
        Seq(("Q", "apple")).toDF("query_id", "query_text"), k = 2),
      "rrfFuse" -> TextAnalysis.rrfFuse(Seq(l0, l1), topK = 2))
    val got = vector.map { case (op, df) => op -> kept(df, "neighbor_id") } ++
      text.map { case (op, df) => op -> kept(df, "doc_id") }
    assert(got.filter(_._2 != want) === Nil)
  }

  test("int8 quantization: bounds, zero vectors, high top-k agreement") {
    val s = spark
    import s.implicits._
    val emb = Q.t(spark, sf, "embeddings")
    val q = Similarity.quantize(emb, "vec_id", "embedding")
      .select(col("vec_id"), col("qvec"), col("q_scale")).collect()
    // every component on the int8 grid
    assert(q.forall(_.getSeq[Float](1).forall(v =>
      v == v.round.toFloat && math.abs(v) <= 127f)))
    // all-zero vector quantizes to zeros without NaN
    val z = Seq((1L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantize(z, "vec_id", "embedding").head()
    assert(zq.getAs[Seq[Float]]("qvec").forall(_ == 0.0f))
    // quantized top-5 overlaps float top-5 heavily (int8 keeps ~2
    // decimal digits of cosine)
    val base = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val overlap = (base intersect quant).size.toDouble / base.size
    assert(overlap >= 0.8, s"quantized/float top-k overlap $overlap")
  }

  test("PQ: codebook rows encode to themselves, self-query ranks first " +
      "with pq_dist 0, empty corpus yields empty result") {
    import spark.implicits._
    val emb = Q.t(spark, sf, "embeddings")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16)
    assert(cb.length === 8 && cb.forall(_.length === 16))
    // a codebook-sample row's subvectors ARE its codes: distance 0 at its
    // own index and the argmin can only pick a zero-distance code -> its
    // ADC self-distance is 0 and it must rank 1 for its own query
    val self = Similarity.pqTopK(emb.filter(col("vec_id") === 3),
        "vec_id", "embedding", emb, "vec_id", "embedding", cb, k = 3)
      .filter(col("rank") === 1)
      .select("neighbor_id", "pq_dist").as[(Long, Double)].collect()
    assert(self.length === 1)
    assert(self.head._2 === 0.0)
    // rank-1 at distance 0 must be a vector PQ cannot distinguish from
    // the query; the query itself is one of those, and the id tie-break
    // means the winner's id is <= the query's
    assert(self.head._1 <= 3L)
    // integer-exactness: every ADC distance is a whole number
    val dists = Similarity.pqTopK(emb.filter(col("vec_id") < 3), "vec_id",
        "embedding", emb, "vec_id", "embedding", cb, k = 10)
      .select("pq_dist").as[Double].collect()
    assert(dists.forall(d => d == math.rint(d)))
    val empty = emb.filter(col("vec_id") < 0)
    val cbEmpty = Similarity.pqCodebooks(empty, "vec_id", "embedding",
      m = 8, k = 16)
    assert(cbEmpty.isEmpty)
    assert(Similarity.pqTopK(emb.filter(col("vec_id") < 5), "vec_id",
      "embedding", empty, "vec_id", "embedding", cbEmpty, k = 5)
      .count() === 0L)
  }

  test("IVF-PQ with nProbe = nCells degenerates to flat PQ") {
    import spark.implicits._
    val emb = Q.t(spark, sf, "embeddings")
    val centroids = Array.tabulate(8)(j =>
      (j, Seq.tabulate(64)(d => (((j * 31 + d * 7) % 13) - 6).toFloat)))
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "pq_dist", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val flat = rows(Similarity.pqTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", cb, k = 8))
    val ivf = rows(Similarity.ivfPqTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", centroids, cb, k = 8, nProbe = 8))
    assert(ivf === flat)
  }

  test("binarize packs sign bits incl. the word-63 sign bit") {
    import spark.implicits._
    // one 64-dim vector: positive at components 0, 5, 63
    val v = Seq.tabulate(64)(i =>
      if (i == 0 || i == 5 || i == 63) 1.0f else -1.0f)
    val out = Similarity.binarize(
        Seq((1L, v)).toDF("id", "emb"), "emb", dim = 64)
      .select(col("bvec")).as[Seq[Long]].head()
    assert(out == Seq((1L << 0) | (1L << 5) | (1L << 63)))
    // zero components are NOT positive -> bit clear
    val z = Similarity.binarize(
        Seq((1L, Seq.fill(64)(0.0f))).toDF("id", "emb"), "emb", 64)
      .select(col("bvec")).as[Seq[Long]].head()
    assert(z == Seq(0L))
  }

  test("hammingDist: hand-computed popcount of xor across words") {
    import spark.implicits._
    val df = Seq((Seq(0x0FL, 0x3L), Seq(0x01L, 0x0L)))
      .toDF("a", "b")
    val h = df.select(Similarity.hammingDist(col("a"), col("b")))
      .as[Int].head()
    // 0x0F ^ 0x01 = 0x0E (3 bits); 0x3 ^ 0x0 = 0x3 (2 bits)
    assert(h == 5)
  }

  test("binaryTopK with coarseK = corpus size ranks like quantizedTopK") {
    import spark.implicits._
    val emb = Q.t(spark, sf, "embeddings")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    val full = Similarity.quantizedTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val bin = Similarity.binaryTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", dim = 64, k = 5, coarseK = n)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(bin === full)
  }

  test("matryoshka with prefixDim = dim degenerates to quantizedTopK") {
    import spark.implicits._
    val emb = Q.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val full = Similarity.quantizedTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val mat = Similarity.matryoshkaTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", prefixDim = 64, k = 5,
        coarseK = emb.count().toInt)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(mat === full)
  }

  test("jlTopK with coarseK = corpus size ranks like quantizedTopK") {
    import spark.implicits._
    val emb = Q.t(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val full = Similarity.quantizedTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val jl = Similarity.jlTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", dIn = 64, dOut = 16, k = 5,
        coarseK = emb.count().toInt)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(jl === full)
  }

  test("jl signs are balanced-ish and deterministic") {
    val s1 = Similarity.jlSigns(16, 64)
    val s2 = Similarity.jlSigns(16, 64)
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    val pos = s1.flatten.count(_ == 1)
    // md5 top bit is uniform: expect ~512 of 1024 within a wide margin
    assert(pos > 384 && pos < 640, s"unbalanced sign matrix: $pos")
  }

  test("knnGraph: k=1 mutual pair vs asymmetric hub neighbor") {
    import spark.implicits._
    // one cell (single centroid). Vectors on a line: 0 and 1 are a
    // tight pair; 2 is a hub-ish outlier whose nearest is 1, but 1's
    // nearest is 0 -> edge 2->1 must NOT be mutual at k=1.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.00f)),
      (1L, Seq(1.0f, 0.01f)),
      (2L, Seq(1.0f, 0.30f)))
      .toDF("vec_id", "embedding")
    val cen = Array((0, Seq(1.0f, 0.0f)))
    val out = Similarity.knnGraph(vecs, "vec_id", "embedding", cen, k = 1)
      .select("src", "dst", "mutual")
      .as[(Long, Long, Int)].collect().toSet
    assert(out === Set((0L, 1L, 1), (1L, 0L, 1), (2L, 1L, 0)))
  }
}
