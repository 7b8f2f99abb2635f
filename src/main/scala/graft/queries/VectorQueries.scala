package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.queries.Q.t

/** Embedding-column operators over the `embeddings` table: brute-force and
  * IVF approximate-nearest-neighbor search, embedding-cosine near-dup. */
object VectorQueries {

  private def queries(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < 5)

  /** Int8-quantized brute-force top-k (q129): symmetric per-vector
    * quantization (scale = max|x|/127), integer-exact scores under one
    * double division — the memory-bandwidth-bound ANN variant, and the
    * only cosine whose scores reproduce bit-identically in an external
    * engine (so the oracle hashes UNROUNDED scores). */
  def q129QuantizedAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizedTopK(
        queries(s, dir), "vec_id", "embedding",
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("qcosine"))
      .orderBy(col("query_id"), col("rank"))

  /** Brute-force cosine top-k (exact-recall ANN baseline): broadcast the
    * query set, single scan of the corpus, per-query top-k window. */
  def q40AnnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      queries(s, dir), "vec_id", "embedding",
      t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))

  /** IVF ANN with INTEGER Lloyd (q42) — the full pipeline (init ->
    * 3 Lloyd rounds -> assignment -> probe -> exact-cosine top-k) under
    * a hard SQL oracle: every Lloyd step is integer arithmetic on the
    * shifted int8 grid (squared-distance assignment, floor-div centroid
    * means, lowest-cell ties), so the oracle replays all three
    * iterations as generated CTEs and the trained index is
    * bit-identical in DuckDB — closing the float-order caveat the old
    * float-Lloyd q42 documented (its deterministic probe half remains
    * q42b). */
  def q42AnnIvfInt(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centroids) = Similarity.ivfIntLloyd(
      t(s, dir, "embeddings"), "vec_id", "embedding", nCells = 8,
      iters = 3)
    Similarity.ivfIntTopK(queries(s, dir), "vec_id", "embedding",
      assigned, centroids, k = 5, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The deterministic half of IVF under FIXED synthesized centroids
    * (VERDICT r5 #7): cell assignment, probe selection, and within-cell
    * top-k are exact given the centroids, so with centroids both sides can
    * reproduce (integer arithmetic, exact in float), the full path gets a
    * SQL oracle. Lloyd refinement remains the only unoracled piece of q42,
    * pinned by SimilaritySpec instead. */
  def q42bIvfProbe(s: SparkSession, dir: String): DataFrame = {
    val centroids = Array.tabulate(8)(j =>
      (j, Seq.tabulate(64)(d => (((j * 31 + d * 7) % 13) - 6).toFloat)))
    val assigned = Similarity.assignCells(
      t(s, dir, "embeddings"), "vec_id", "embedding", centroids)
    Similarity.ivfTopK(queries(s, dir), "vec_id", "embedding",
      assigned, centroids, k = 5, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (q104): fixed
    * synthesized centroids (so assignment is deterministic, like q42b),
    * within-cell pairwise cosine, prune to the lowest id per
    * over-threshold pair. Full per-doc (id, cell, pruned) output under
    * the oracle hash. */
  def q104SemDedup(s: SparkSession, dir: String): DataFrame = {
    val centroids = Array.tabulate(8)(j =>
      (j, Seq.tabulate(64)(d => (((j * 29 + d * 11) % 15) - 7).toFloat)))
    Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        centroids, threshold = 0.30)
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine near-duplicates via random-hyperplane LSH buckets +
    * exact cosine verify (approximate recall -> spec-checked, no oracle). */
  def q42EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, nPlanes = 8, threshold = 0.95)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))

  /** End-to-end embedding pipeline (q138) — the vector-side sibling of
    * q133's text pipeline: SemDeDup semantic dedup (q104's fixed
    * centroids + threshold) prunes the corpus, the SURVIVORS are
    * int8-quantized, and the quantized ANN (q129's integer-exact
    * scoring) answers the fixed query set over the deduped index. The
    * oracle composes the same three stages in SQL, so the CHAIN —
    * dedup feeding retrieval — is pinned, not just each stage. */
  def q138EmbedPipeline(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = Array.tabulate(8)(j =>
      (j, Seq.tabulate(64)(d => (((j * 29 + d * 11) % 15) - 7).toFloat)))
    val survivors = emb.join(
      Similarity.semDedup(emb, "vec_id", "embedding", centroids,
        threshold = 0.30)
        .filter(col("pruned") === 0).select("vec_id"),
      "vec_id")
    Similarity.quantizedTopK(
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        survivors, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("qcosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization ANN (q162): the memory path beyond flat int8 —
    * 8 subspaces x 16 deterministic codes over the quantized grid,
    * argmin encode, ADC scoring. Distances are exact integers, so
    * codebooks, codes, and scores are all oracled bit-exactly. */
  def q162PqAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16)
    Similarity.pqTopK(emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", emb, "vec_id", "embedding", cb, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ (q163): the FAISS-style production composition — q42b's
    * fixed coarse centroids partition the corpus, q162's deterministic
    * codebooks compress it, queries probe 4 of 8 cells and score by
    * integer-exact ADC. The whole path (assignment, probe pick, encode,
    * ADC, rank) is under one SQL oracle. */
  def q163IvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = Array.tabulate(8)(j =>
      (j, Seq.tabulate(64)(d => (((j * 31 + d * 7) % 13) - 6).toFloat)))
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", emb, "vec_id", "embedding", centroids, cb,
        k = 10, nProbe = 4)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hard-negative mining (q179) — the contrastive-training data prep
    * (DPR/SimCSE style): for each anchor, its quantized-ANN top
    * neighbors split by label into positives (same label) and HARD
    * negatives (different label but maximally similar — the pairs that
    * teach the margin), top `perRole` of each by similarity rank.
    * Mining is restricted to the top-k candidate list (the standard
    * practice — full-corpus negatives are the brute scan q129 already
    * prices); integer-grid scores keep ranks bit-stable. */
  def q179HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val anchors = emb.filter(col("vec_id") < 5)
    val nn = Similarity.quantizedTopK(anchors, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 21)
      .filter(col("neighbor_id") =!= col("query_id"))
    val aLbl = emb.select(col("vec_id").as("query_id"),
      col("label").as("a_label"))
    val nLbl = emb.select(col("vec_id").as("n_id"),
      col("label").as("n_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("role")).orderBy(col("rank"))
    nn.join(broadcast(aLbl), Seq("query_id"))
      .join(nLbl, col("neighbor_id") === col("n_id"))
      .withColumn("role",
        when(col("n_label") === col("a_label"), "pos").otherwise("neg"))
      .withColumn("role_rank", row_number().over(w))
      .filter(col("role_rank") <= 3)
      .select(col("query_id").as("anchor_id"), col("role"),
        col("role_rank"), col("neighbor_id"), col("qcosine"))
      .orderBy(col("anchor_id"), col("role"), col("role_rank"))
  }

  /** MMR diversified re-ranking (q174): top-20 quantized candidates per
    * query, then 5 greedy λ=0.7 MMR picks; integer objective (λ in
    * tenths over integer dot products) makes every selection round
    * bit-stable, so the full greedy trajectory is under the oracle. */
  def q174MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.mmrRerank(emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", emb, "vec_id", "embedding",
        nCandidates = 20, k = 5, lambdaTenths = 7)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rel"),
        col("mmr10"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Two-stage binary ANN (q189): sign-bit packed words, coarse Hamming
    * top-20 (the only corpus scan, 8 bytes/vector at dim 64), exact
    * int8-cosine re-rank to top-5. All-integer coarse stage; the
    * re-rank is the q129 bit-stable cosine — the oracle replicates the
    * full chain incl. the sign-bit packing. */
  def q189BinaryAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.binaryTopK(
        queries(s, dir), "vec_id", "embedding",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 5, coarseK = 20)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("hamming"), col("qcosine"))
      .orderBy(col("query_id"), col("rank"))

  /** Matryoshka two-stage ANN (q190, Kusupati et al. 2022): coarse
    * scoring on the first 16 int8 components (1/4 of the vector bytes),
    * full 64-dim int8 re-rank over the top-20 candidates. Both stages
    * integer-exact -> fully oracled. */
  def q190MatryoshkaAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.matryoshkaTopK(
        queries(s, dir), "vec_id", "embedding",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        prefixDim = 16, k = 5, coarseK = 20)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("prefix_cosine"), col("qcosine"))
      .orderBy(col("query_id"), col("rank"))

  /** JL sign-projection two-stage ANN (q217, Johnson-Lindenstrauss /
    * Achlioptas): 64-dim int8 vectors projected to 16 integral
    * components by a portable md5-derived ±1 matrix (mixes ALL dims,
    * unlike the q190 prefix), coarse integer cosine on the projection,
    * exact int8 re-rank over the top-20. Fully oracled — the oracle
    * re-derives the sign matrix from the same md5 bits. */
  def q217JlAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.jlTopK(
        queries(s, dir), "vec_id", "embedding",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        dIn = 64, dOut = 16, k = 5, coarseK = 20)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("proj_cosine"), col("qcosine"))
      .orderBy(col("query_id"), col("rank"))

  /** Mutual-kNN graph (q197): q104's fixed centroids partition the
    * corpus, each vector's top-4 same-cell neighbors scored on the int8
    * grid (integer-exact, fully oracled), edges flagged mutual when the
    * reverse edge also ranks. */
  def q197KnnGraph(s: SparkSession, dir: String): DataFrame = {
    val centroids = Array.tabulate(8)(j =>
      (j, Seq.tabulate(64)(d => (((j * 29 + d * 11) % 15) - 7).toFloat)))
    Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        centroids, k = 4)
      .orderBy(col("src"), col("rank"))
  }
}
