package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair edges — the step that
  * turns pairwise near-dup output ([[Dedup.minhashNearDups]],
  * [[Dedup.simhashNearDups]], [[Dedup.embeddingNearDups]]) into duplicate
  * CLUSTERS with one keeper per cluster. Pairs alone under-dedup: if A~B
  * and B~C but A!~C, pairwise keep-min retains both A and C's cluster
  * rows inconsistently; the transitive closure is what "keep one copy per
  * duplicate group" actually means.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * standard shuffle-based formulation that converges in O(log n) rounds
  * on any graph, unlike naive min-label propagation whose round count is
  * the graph DIAMETER (a 10M-node chain would need 10M rounds; star
  * operations contract it in ~25). Each star step is one
  * `min(v) over (partition by u)` window mapping each edge row to one
  * edge row, so duplicate edges change no minimum and never multiply.
  *
  * The fixed point is a star forest whose roots are the component
  * minima, and large-star leaves such a forest unchanged. So each
  * large-star output is tested for that shape directly, by one
  * node-grain aggregation (every child has one distinct parent, and no
  * parent is a child), and that node table is the answer: near-dup pairs
  * and triples are a star forest after the first large-star step, which
  * costs one window and one check, with no confirming round. Otherwise
  * small-star runs, the edges are deduplicated, and the next round
  * starts. No driver-side state, no collect of edges; `localCheckpoint`
  * truncates lineage each round so the plan doesn't grow with iteration
  * count.
  *
  * At 100 TB: near-dup components are overwhelmingly tiny with a few
  * boilerplate monsters, which star rounds contract logarithmically. A
  * monster's hub is one window partition, which the window operator
  * buffers and spills to disk past
  * `spark.sql.windowExec.buffer.spill.threshold` rows.
  */
object Components {

  private val byU = Window.partitionBy("u")

  /** Large-star: for every node u, hang its LARGER neighbors off the
    * minimum of its neighborhood (including u). Operates on the
    * symmetrized edge list; every output edge has u > v. */
  private def largeStar(e: DataFrame): DataFrame =
    e.select(inline(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))))
      .withColumn("m", least(min(col("v")).over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))

  /** Small-star on edges oriented u > v: hang each node's smaller
    * neighbors, and the node itself, off the smallest of them. The row
    * holding that minimum emits (u, m), every other row (v, m). */
  private def smallStar(e: DataFrame): DataFrame =
    e.withColumn("m", min(col("v")).over(byU))
      .select(
        when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
        col("m").as("v"))

  /** One row per node x of child -> parent edges: x's smallest parent
    * (null for a node that is only a parent), and whether x fits a star
    * forest — a root, or a child with one distinct parent that is never
    * a parent itself. */
  private def nodes(e: DataFrame): DataFrame =
    e.select(inline(array(struct(col("u").as("x"), col("v").as("p")),
        struct(col("v").as("x"), lit(null).cast("long").as("p")))))
      .groupBy("x")
      .agg(min(col("p")).as("p"),
        (max(col("p")).isNull ||
          min(col("p")) === max(col("p")) && !bool_or(col("p").isNull))
          .as("ok"))

  /** Transitive closure of a pair list into component labels.
    *
    * @param edges pair frame; endpoints must be numeric ids
    * @param srcCol,dstCol endpoint columns
    * @param maxIter safety bound on rounds (large-star steps) — star
    *                alternation converges in O(log n) rounds, so 50
    *                covers any realistic graph; a round-`maxIter` output
    *                that is still not a star forest throws rather than
    *                returning a partial closure
    * @return (id, component) — component is the minimum node id reachable
    *         from id; every endpoint appears exactly once
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 50): DataFrame = {
    @annotation.tailrec
    def round(e: DataFrame, it: Int): DataFrame = {
      require(it < maxIter,
        s"connectedComponents did not converge in $maxIter rounds")
      // lazy: the check's job fills both; `next` is kept for a next round
      val next = largeStar(e).localCheckpoint(false)
      val n = nodes(next).localCheckpoint(false)
      if (n.filter(!col("ok")).isEmpty)
        n.select(col("x").as("id"),
          coalesce(col("p"), col("x")).as("component"))
      else round(smallStar(next).distinct().localCheckpoint(false), it + 1)
    }
    round(edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v")), 0)
  }

  /** Duplicate clusters from a near-dup PAIR frame: transitive closure,
    * labeled by the minimum doc id (the keeper), with cluster size — the
    * "keep one per group" driver for any of the Dedup pair generators. */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .groupBy(col("component").as("keep_id"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("id"))).as("doc_ids"))
}
