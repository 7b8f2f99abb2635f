package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Star-contraction connected components: hand fixtures, a long chain
  * (the worst case for naive label propagation), hand and random graph
  * shapes vs a local union-find, a Spark-job budget for a graph that
  * converges in one round, and the wiring onto real minhash near-dup
  * pairs. */
class ComponentsSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Components.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
  }

  /** Local union-find for the expected labels. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // label every node by the min id in its component
    val roots = parent.keys.map(k => k -> find(k)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (k, r) => k -> minOf(r) }
  }

  test("path, triangle, and separate pair get distinct min labels") {
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 4L),   // path -> component 1
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle -> component 10
      (20L, 21L))                      // pair -> component 20
    val got = cc(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("128-node chain contracts in logarithmic rounds") {
    // naive min-propagation would need 127 rounds; star alternation must
    // finish well inside the 50-round bound (it converges in ~log n)
    val edges = (1L until 128L).map(i => (i + 1, i))
    val got = cc(edges)
    assert(got.keySet == (1L to 128L).toSet)
    assert(got.values.forall(_ == 1L))
  }

  test("random graphs match a local union-find") {
    for (seed <- 1 to 5) {
      val rng = new Random(seed)
      val n = 60
      val edges = Seq.fill(45)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = cc(edges)
      assert(got == unionFind(edges), s"seed $seed")
    }
  }

  test("maxIter bounds the rounds: the 128-chain does not fit in one") {
    val s = spark
    import s.implicits._
    val chain = (1L until 128L).map(i => (i + 1, i)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      Components.connectedComponents(chain, "src", "dst", maxIter = 1))
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("graph shapes match a local union-find") {
    val star = (1L until 20L).map(i => (20L, i)) // the hub has the largest id
    val k8 = for (a <- 1L to 8L; b <- 1L to 8L if a < b) yield (a, b)
    // complete binary tree over 63 nodes, numbered in reverse BFS order:
    // the root is 63 and every parent is larger than its children
    val tree = (2 to 63).map(i => ((64 - i).toLong, (64 - i / 2).toLong))
    val shapes = Seq(
      "duplicate and reversed edges" -> Seq[(Long, Long)]((1L, 2L), (2L, 1L),
        (1L, 2L), (3L, 2L), (2L, 3L), (3L, 2L), (7L, 9L), (9L, 7L), (9L, 7L)),
      "star with the hub largest" -> star,
      "K8" -> k8,
      "reverse-BFS binary tree" -> tree) ++
      (1 to 5).map { seed =>
        val rng = new Random(100 + seed)
        s"dense random seed $seed" -> Seq.fill(150)(
          (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
          .filter { case (a, b) => a != b }
      }
    for ((name, edges) <- shapes)
      assert(cc(edges) == unionFind(edges), name)
  }

  test("a graph that converges in one round runs at most 6 Spark jobs") {
    // near-dup shaped: 200 disjoint pairs and triangles, a star forest
    // after one round; the call and the collect of its labels are counted
    val edges = (0L until 200L).flatMap { c =>
      val b = c * 10
      if (c % 2 == 0) Seq((b, b + 1))
      else Seq((b, b + 1), (b + 1, b + 2), (b + 2, b))
    }
    val group = "components-job-budget"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "connectedComponents job budget")
      val got = try cc(edges) finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      assert(got == unionFind(edges))
      assert(jobs.get > 0 && jobs.get <= 6, s"${jobs.get} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("self-loop-only input yields an empty label frame") {
    val s = spark
    import s.implicits._
    val out = Components.connectedComponents(
      Seq((5L, 5L)).toDF("src", "dst"), "src", "dst")
    assert(out.isEmpty)
    assert(out.columns.toSeq == Seq("id", "component"))
  }

  test("dupClusters groups transitive minhash near-dup pairs") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the very end of this synthetic document text"
    // A~B and B~C share most shingles; A and C still land in ONE cluster
    // through the closure even if the A-C pair itself were missed
    val docs = Seq(
      (1L, base),
      (2L, base + " padding one"),
      (3L, base + " padding one two"),
      (50L, "completely different content about spark catalyst plans " +
        "and distributed shuffle execution strategies")).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
    val clusters = Components.dupClusters(pairs)
      .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    assert(clusters.map(_._1) == Seq(1L))
    assert(clusters.head._3 == Seq(1L, 2L, 3L))
  }
}
