package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against a full scan of the corpus; embarrassingly parallel, no shuffle
  * until the final per-query top-k (tiny). This is the exact-recall path.
  *
  * Scale path: IVF — k-means-lite coarse quantizer (deterministic seeded
  * centroids refined by a few Lloyd iterations), corpus partitioned by
  * nearest centroid, queries probe only `nProbe` cells. Recall trades off
  * against the fraction of the corpus scanned; at 100 TB the cell
  * assignment is a write-once layout (partitioned parquet), and each query
  * batch touches nProbe/nCells of the data.
  */
object Similarity {

  /** The one rank-and-cut of every ranked-retrieval operator: number the
    * rows of each `partition` group by `order` (best first), ties to the
    * LOWER `id`, into `rankCol`, and keep ranks 1..k. One window per
    * call; the group's rows are sorted, never collected. */
  private[graft] def topK(df: DataFrame, partition: Seq[String],
      order: Column, id: String, k: Int, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(partition.map(col): _*)
          .orderBy(order, col(id).asc)))
      .filter(col(rankCol) <= k)

  /** A search over an empty index: the (query_id, neighbor_id, <score>,
    * rank) schema with no rows. */
  private def noHits(queries: DataFrame, qid: String,
      score: String): DataFrame =
    queries.select(col(qid).as("query_id"),
      lit(null).cast("long").as("neighbor_id"),
      lit(null).cast("double").as(score),
      lit(null).cast("int").as("rank")).limit(0)

  /** Exact brute-force cosine top-k.
    * @param queries frame with (qid, qvec) — expected small, broadcast
    * @param corpus  frame with (id, vec) — the big side, scanned once
    */
  def bruteForceTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(qid).as("query_id"), col(qvec).as("_qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("_cv"))
    topK(c.crossJoin(broadcast(q))
        .select(col("query_id"), col("neighbor_id"),
          VectorFns.cosineSim(col("_qv"), col("_cv")).as("cosine")),
      Seq("query_id"), col("cosine").desc, "neighbor_id", k, "rank")
  }

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127, each
    * component rounded to the nearest integer of x / scale. Returns the
    * input plus `q_scale` (double) and `qvec` — the quantized components
    * stored as array<float> so the codegen'd [[VectorFns]] kernels apply
    * unchanged (|q| <= 127, exactly representable; a 4x-smaller int8
    * encoding is a storage-format concern the engine's parquet writer
    * would apply at rest). All-zero vectors quantize to zeros.
    *
    * Every arithmetic step is exact or IEEE-deterministic (integer
    * products summed in double), so quantized scores reproduce
    * bit-identically across engines — unlike raw float cosine, which
    * depends on accumulation order.
    */
  def quantize(df: DataFrame, id: String, emb: String): DataFrame =
    df
      .withColumn("q_scale",
        array_max(transform(col(emb), x => abs(x))).cast("double")
          / 127.0)
      .withColumn("qvec",
        when(col("q_scale") === 0.0,
          transform(col(emb), _ => lit(0.0f)))
        .otherwise(transform(col(emb),
          x => round(x.cast("double") / col("q_scale"), 0)
            .cast("float"))))

  /** Brute-force top-k over int8-quantized vectors — the
    * memory-bandwidth-bound ANN variant: same broadcast-queries shape as
    * [[bruteForceTopK]], but the corpus scan reads the 4x-smaller
    * quantized column and the scores are exact integers under one double
    * division. Ties (more common on the integer grid) break on
    * neighbor id, deterministically. */
  def quantizedTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String, k: Int): DataFrame =
    bruteForceTopK(
      quantize(queries, qid, qvec).select(col(qid), col("qvec")), qid,
      "qvec",
      quantize(corpus, id, vec).select(col(id), col("qvec")), id, "qvec",
      k)
      .withColumnRenamed("cosine", "qcosine")

  /** Deterministic IVF index: pick nCells seeded corpus vectors as initial
    * centroids, run `iters` Lloyd rounds, return corpus tagged with cell id.
    * All steps are DataFrame ops (centroids collected only — nCells rows). */
  def ivfAssign(corpus: DataFrame, id: String, vec: String,
      nCells: Int, iters: Int = 2, seed: Long = 42L): (DataFrame, Array[(Int, Seq[Float])]) = {
    val c = corpus.select(col(id).as("_id"), col(vec).as("_v"))
    // init: deterministic sample (hash-ordered first nCells ids)
    var centroids: Array[(Int, Seq[Float])] = c
      .orderBy(xxhash64(col("_id"), lit(seed))).limit(nCells)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }
    if (centroids.isEmpty)  // empty corpus: nothing to index
      return (c.withColumn("_cell", lit(null).cast("int")), centroids)
    var assigned: DataFrame = null
    for (_ <- 0 until iters) {
      assigned = assignToNearest(c, centroids)
      val dim = centroids.head._2.length
      centroids = assigned.groupBy(col("_cell"))
        .agg(array((0 until dim).map(d => avg(col("_v").getItem(d))): _*).as("_cen"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).map(_.toFloat)))
    }
    (assignToNearest(c, centroids), centroids)
  }

  /** One literal array<struct<cell, cen>> column holding every centroid:
    * downstream expressions are a single `transform` over it, so the
    * expression tree and generated code stay CONSTANT SIZE at any nCells
    * (the r5 per-centroid `array(struct(...), ...)` construction grew the
    * tree linearly — codegen fallback / JIT limits at realistic √N cell
    * counts — VERDICT r5 #3). The literal rides the task binary exactly
    * like a broadcast: nCells × dim floats, once per executor. */
  private def centroidLit(centroids: Array[(Int, Seq[Float])]) =
    typedlit(centroids.toSeq.map { case (cid, cen) => (cid, cen) })

  /** Per-vector scored cells: transform(centroids, cen -> (sim, cell)).
    * array_max over it picks max sim, ties to the higher cell id — the
    * lexicographic struct order the previous implementation had. */
  private def scoredCells(v: Column,
      centroids: Array[(Int, Seq[Float])]): Column =
    transform(centroidLit(centroids), cen =>
      struct(VectorFns.cosineSim(v, cen.getField("_2")).as("sim"),
        cen.getField("_1").as("cell")))

  /** The float-IVF probe pick, one row per probed cell: the nProbe cells
    * whose centroids are most cosine-similar to `v` (ties to the higher
    * cell id), exploded to an int cell id. */
  private def probeCells(v: Column, centroids: Array[(Int, Seq[Float])],
      nProbe: Int): Column =
    explode(transform(
      slice(reverse(array_sort(scoredCells(v, centroids))), 1, nProbe),
      _.getField("cell").cast("int")))

  private def assignToNearest(c: DataFrame,
      centroids: Array[(Int, Seq[Float])]): DataFrame =
    c.withColumn("_cell",
      array_max(scoredCells(col("_v"), centroids)).getField("cell").cast("int"))

  /** Assign corpus vectors to PRECOMPUTED centroid cells — the separable
    * index-build step at scale (cell layout is written once as partitioned
    * parquet; queries later probe cells without re-running Lloyd). Output
    * matches [[ivfAssign]]'s assigned frame: (_id, _v, _cell). */
  def assignCells(corpus: DataFrame, id: String, vec: String,
      centroids: Array[(Int, Seq[Float])]): DataFrame =
    assignToNearest(
      corpus.select(col(id).as("_id"), col(vec).as("_v")), centroids)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means cells partition the corpus and only WITHIN-CELL pairs are
    * compared — the pair space is the sum of squared cell sizes, never
    * corpus². A document is pruned when some same-cell document with a
    * SMALLER id reaches `threshold` cosine — the deterministic
    * keep-lowest-id variant of the paper's one-representative-per-group
    * rule (the paper keeps the member farthest from the centroid; any
    * single-representative pick satisfies the dedup guarantee, and this
    * one needs no extra centroid pass and reproduces bit-identically in
    * the oracle). Under precomputed centroids the operator is fully
    * deterministic (q104).
    *
    * Scale: one assignment pass (constant-size centroid literal), one
    * self-join shuffled on the cell id; `maxCell` skips comparison inside
    * degenerate oversized cells (those docs stay kept) — Dedup's LSH
    * bucket self-join and skew guard ([[Dedup.bucketPairs]]) with the
    * cell as the bucket. The assignment lineage feeds both the pair
    * join (keyed by cell) and the final output join (keyed by id) — at
    * corpus scale run [[assignCells]] once, write the layout (exactly the
    * IVF write-once index step), and call [[semDedupAssigned]] on the
    * read-back so the corpus is scanned once, not re-assigned per side.
    *
    * @return one row per corpus doc: (id, cell, pruned 0/1) */
  def semDedup(corpus: DataFrame, id: String, vec: String,
      centroids: Array[(Int, Seq[Float])], threshold: Double,
      maxCell: Int = 100000): DataFrame =
    semDedupAssigned(assignCells(corpus, id, vec, centroids), threshold,
      maxCell).withColumnRenamed("_id", id)

  /** [[semDedup]] over a PRE-ASSIGNED frame ((_id, _v, _cell) — the
    * [[assignCells]] output, typically read back from the written cell
    * layout). Output columns: (_id, cell, pruned). */
  def semDedupAssigned(assigned: DataFrame, threshold: Double,
      maxCell: Int = 100000): DataFrame = {
    // the larger id of a close same-cell pair is pruned
    val pruned = Dedup.bucketPairs(assigned, Seq("_cell"), maxCell, Seq("_v"))
      .filter(VectorFns.cosineSim(col("_v_b"), col("_v_a")) >= threshold)
      .select(col("id_b").as("_id")).distinct()
      .withColumn("_pruned", lit(1))
    assigned.join(pruned, Seq("_id"), "left")
      .select(col("_id"), col("_cell").as("cell"),
        coalesce(col("_pruned"), lit(0)).as("pruned"))
  }

  /** Mutual-kNN graph over a cell-partitioned corpus — the sparsifier
    * behind graph-based dedup/clustering (and the neighbor lists
    * graph-ANN indexes start from): every vector's top-k same-cell
    * neighbors by the integer-exact int8 cosine (ties on neighbor id),
    * with an edge flagged `mutual` when each endpoint ranks the other
    * inside its own top-k — the symmetrization that separates dense
    * duplicate clusters from asymmetric hub neighbors.
    *
    * Scale: cell assignment bounds the pair space to Σ cell² (the
    * SemDeDup discipline — never corpus²); one cell-keyed shuffle for
    * the pair join, one id-keyed window for the per-node rank, one
    * edge-keyed self-join for mutuality. `maxCell` skips degenerate
    * cells. Assignment uses the raw floats (argmax is
    * rounding-robust); edge scores use the quantized grid so ranks
    * reproduce bit-identically in the oracle.
    *
    * Precondition: `id` is unique per row. The per-node rank is keyed by
    * (cell, salt, src), so a duplicated id whose rows land in different
    * cells or salts is ranked once per group and can emit up to 2k edges.
    *
    * @return (src, dst, qcosine, rank, mutual) — directed edges */
  def knnGraph(corpus: DataFrame, id: String, vec: String,
      centroids: Array[(Int, Seq[Float])], k: Int,
      maxCell: Int = 100000): DataFrame = {
    val assigned = quantize(assignCells(corpus, id, vec, centroids),
      "_id", "_v").select(col("_id"), col("_cell"), col("qvec"))
    // cell-size cap via a broadcast semi-join on the qualifying cells —
    // the count-over-cell window this replaces shuffled the whole corpus
    // into |cells| partitions twice (once per join side) just to read a
    // per-cell count (opt guide §2.4)
    val okCells = assigned.groupBy(col("_cell"))
      .agg(count(lit(1)).as("_cn"))
      .filter(col("_cn") <= maxCell).select(col("_cell"))
    val a = assigned.join(broadcast(okCells), Seq("_cell"))
    // SALT the within-cell pair join (opt guide §2.5): keyed on _cell
    // alone the shuffle lands on |cells| partitions (8 for q197 — 8 of
    // 32 cores busy, and one hot cell is a straggler). Each src row
    // takes one deterministic salt; the dst side replicates S ways; the
    // pair set is unchanged, spread over |cells|*S partitions.
    val S = math.max(1, scala.util.Try(corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt).getOrElse(200) /
      math.max(1, centroids.length))
    val l = a.select(col("_cell"),
      pmod(xxhash64(col("_id")), lit(S.toLong)).cast("int").as("_salt"),
      col("_id").as("src"), col("qvec").as("_sv"))
    val r = a.select(col("_cell"), col("_id").as("dst"),
      col("qvec").as("_dv"))
      .withColumn("_salt", explode(array((0 until S).map(lit): _*)))
    // rank per src INSIDE the join's partitioning: all of a src's
    // candidates live in its (_cell, _salt) group, so a window keyed
    // (_cell, _salt, src) ranks identically to one keyed src — and
    // hashpartitioning(_cell, _salt) already satisfies its clustering,
    // so the per-src rank costs a sort, not another full-pair exchange
    // (opt guide §2.4 — window sharing a preceding join's partitioning)
    // localCheckpoint: the mutual self-join below consumes edges TWICE
    // (forward + reversed); without materialization the whole pair join
    // re-executes per side. n*k rows — run-scoped, rebuilt per call.
    val edges = topK(l.join(r, Seq("_cell", "_salt"))
        .filter(col("src") =!= col("dst"))
        .select(col("_cell"), col("_salt"), col("src"), col("dst"),
          VectorFns.cosineSim(col("_sv"), col("_dv")).as("qcosine")),
      Seq("_cell", "_salt", "src"), col("qcosine").desc, "dst", k, "rank")
      .select(col("src"), col("dst"), col("qcosine"), col("rank"))
      .localCheckpoint(true)
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("_m", lit(1))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("qcosine"), col("rank"),
        coalesce(col("_m"), lit(0)).as("mutual"))
  }

  /** IVF query: probe the nProbe nearest cells per query, exact cosine
    * within probed cells only. */
  def ivfTopK(queries: DataFrame, qid: String, qvec: String,
      assigned: DataFrame, centroids: Array[(Int, Seq[Float])],
      k: Int, nProbe: Int = 2): DataFrame = {
    if (centroids.isEmpty) return noHits(queries, qid, "cosine")
    val q = queries.select(col(qid).as("query_id"), col(qvec).as("_qv"))
      .withColumn("_cell", probeCells(col("_qv"), centroids, nProbe))
    topK(assigned.join(broadcast(q), Seq("_cell"))
        .select(col("query_id"), col("_id").as("neighbor_id"),
          VectorFns.cosineSim(col("_qv"), col("_v")).as("cosine")),
      Seq("query_id"), col("cosine").desc, "neighbor_id", k, "rank")
  }

  // -------- Fixed-point (integer) Lloyd IVF --------
  //
  // Resolves the one float-order nondeterminism the float ivfAssign has
  // (centroid means depend on partial-sum accumulation order): k-means
  // over the SHIFTED int8 grid — per-vector quantization + 127, so
  // components are integers in [0, 254] — where the assignment metric
  // (squared Euclidean distance, shift-invariant), the centroid updates
  // (floor-div means over non-negative sums) and every tie-break are
  // INTEGER arithmetic. Integer addition is associative + commutative,
  // so the whole Lloyd trajectory is bit-reproducible in any engine
  // whatever the partition/accumulation order (the Graphs.pageRankInt /
  // PQ-distance discipline), and the q42 oracle replays each iteration
  // as a generated CTE. Init = the nCells lowest-id vectors (the PQ
  // lowest-id sample discipline — portable, no hash function needed).

  /** Per-vector int8 quantization shifted to [0, 254] ints (+127); the
    * all-zero vector lands on the grid center (127s). Output:
    * (_id, _v raw, _qv shifted ints). */
  private def quantizeShifted(df: DataFrame, id: String,
      vec: String): DataFrame =
    df.select(col(id).as("_id"), col(vec).as("_v"))
      .withColumn("_s",
        array_max(transform(col("_v"), x => abs(x))).cast("double") / 127.0)
      .withColumn("_qv",
        when(col("_s") === 0.0, transform(col("_v"), _ => lit(127)))
          .otherwise(transform(col("_v"),
            x => (round(x.cast("double") / col("_s"), 0) + 127).cast("int"))))
      .drop("_s")

  /** Squared Euclidean distance between an int vector column and each
    * centroid of the literal, as array<struct<d, cell>> — array_min
    * picks (lowest distance, then lowest cell id). One codegen'd tight
    * loop ([[VectorFns.intCellDists]]) over a single
    * array<array<int>> literal: constant-size expression tree at any
    * nCells AND no interpreted higher-order functions in the hot path
    * (the `transform(aggregate(zip_with))` formulation this replaces
    * ran interpreted — 5x slower on the sf0.1 build). Cell ids are the
    * centroid POSITIONS, which ivfIntLloyd constructs as 0..nCells-1. */
  private def intScoredCells(qv: Column,
      centroids: Array[(Int, Seq[Int])]): Column = {
    val ordered = centroids.sortBy(_._1)
    require(ordered.map(_._1).sameElements(ordered.indices),
      "integer-IVF cell ids must be consecutive positions")
    VectorFns.intCellDists(qv, typedlit(ordered.map(_._2).toSeq))
  }

  private def assignIntCells(qc: DataFrame,
      centroids: Array[(Int, Seq[Int])]): DataFrame =
    qc.withColumn("_cell",
      array_min(intScoredCells(col("_qv"), centroids))
        .getField("cell").cast("int"))

  /** Integer Lloyd: `iters` rounds of assign (argmin int distance, tie
    * to the LOWEST cell) + update (per-dim `sum div count`; an empty
    * cell keeps its previous centroid). Returns the assigned corpus
    * (_id, _v, _qv, _cell) and the final integer centroids. The per-
    * round collect is bounded at nCells rows (the ivfAssign centroid
    * discipline). */
  def ivfIntLloyd(corpus: DataFrame, id: String, vec: String,
      nCells: Int, iters: Int): (DataFrame, Array[(Int, Seq[Int])]) = {
    val qc = quantizeShifted(corpus, id, vec)
    var centroids: Array[(Int, Seq[Int])] = qc.orderBy(col("_id"))
      .limit(nCells).select(col("_qv")).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Int](0)) }
    if (centroids.isEmpty)
      return (qc.withColumn("_cell", lit(null).cast("int")), centroids)
    val dim = centroids.head._2.length
    for (_ <- 0 until iters) {
      val sums = assignIntCells(qc, centroids).groupBy(col("_cell"))
        .agg(count(lit(1)).as("_n"),
          (0 until dim).map(d =>
            sum(col("_qv").getItem(d).cast("long")).as(s"_s$d")): _*)
        .collect()
        .map(r => r.getInt(0) ->
          (1 to dim).map(i => (r.getLong(i + 1) / r.getLong(1)).toInt).toSeq)
        .toMap
      centroids = centroids.map { case (cid, old) =>
        (cid, sums.getOrElse(cid, old))
      }
    }
    (assignIntCells(qc, centroids), centroids)
  }

  /** IVF probe + exact top-k under integer centroids: queries quantize
    * on the same shifted grid, probe the nProbe cells with the SMALLEST
    * integer distance (ties to the lower cell id), and rank candidates
    * by exact cosine on the RAW vectors. Same broadcast-queries /
    * cell-equi-join shape as [[ivfTopK]]. */
  def ivfIntTopK(queries: DataFrame, qid: String, qvec: String,
      assigned: DataFrame, centroids: Array[(Int, Seq[Int])],
      k: Int, nProbe: Int): DataFrame = {
    if (centroids.isEmpty) return noHits(queries, qid, "cosine")
    val q = quantizeShifted(queries, qid, qvec)
      .withColumnRenamed("_id", "query_id")
      .withColumn("_cells",
        slice(array_sort(intScoredCells(col("_qv"), centroids)), 1, nProbe))
      .withColumn("_cell",
        explode(transform(col("_cells"), _.getField("cell").cast("int"))))
      .select(col("query_id"), col("_v").as("_qraw"), col("_cell"))
    topK(assigned.join(broadcast(q), Seq("_cell"))
        .select(col("query_id"), col("_id").as("neighbor_id"),
          VectorFns.cosineSim(col("_qraw"), col("_v")).as("cosine")),
      Seq("query_id"), col("cosine").desc, "neighbor_id", k, "rank")
  }

  // -------- Product quantization (PQ) over the int8 grid --------
  //
  // The memory path BEYOND flat int8: split each d-dim vector into m
  // subvectors, replace every subvector by the id of its nearest
  // codebook entry (k codes per subspace) — storage drops from d bytes
  // (int8) to m code bytes (64-dim, m=8, k=16: 64 B -> 8 x 4 bits), and
  // query scoring becomes m table lookups per candidate (ADC) instead
  // of d multiply-adds. Codebooks here are hash-free deterministic
  // samples (the lowest-id corpus rows), the same fixed-seeding
  // strategy as SemDeDup's centroids (q104): a Lloyd refinement would
  // re-introduce float-order nondeterminism (the q42 caveat) for a
  // marginal recall gain at these code sizes.
  //
  // Everything runs on int8-QUANTIZED vectors ([[quantize]]), so every
  // subspace distance is an exact INTEGER (sum of squared integer
  // diffs) — argmin encode, distance tables, and ADC sums are
  // bit-identical across engines and independent of summation order.

  /** Deterministic codebooks: subvectors of the `k` lowest-id corpus
    * rows, quantized. Returns codebooks(m)(j) = the j-th code of
    * subspace m (dsub doubles each). */
  def pqCodebooks(corpus: DataFrame, id: String, emb: String,
      m: Int, k: Int): Array[Array[Seq[Double]]] = {
    val rows = quantize(corpus, id, emb)
      .select(col(id), col("qvec")).orderBy(col(id)).limit(k)
      .collect().map(_.getSeq[Float](1))
    if (rows.isEmpty) return Array.empty // empty corpus: nothing to code
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m)(s =>
      rows.map(v => v.slice(s * dsub, (s + 1) * dsub)
        .map(_.toDouble).toSeq).toArray)
  }

  /** The whole codebook as ONE nested-array literal — a single Catalyst
    * node regardless of m·k·dsub, so plans stay small (per-term literal
    * expansion made driver-side planning the dominant cost). */
  private def codebookLit(codebooks: Array[Array[Seq[Double]]]): Column =
    typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Integer L2 between a quantized column's subvector (subspace `s`,
    * width dsub) and one codebook entry (an array column): zip, square,
    * fold. Exact integers, so fold order is immaterial. */
  private def subDistArr(vec: Column, s: Int, dsub: Int,
      code: Column): Column =
    aggregate(
      zip_with(slice(vec, s * dsub + 1, dsub), code,
        (a, b) => { val d = a.cast("double") - b; d * d }),
      lit(0.0), (acc, x) => acc + x)

  /** Encode: per subspace the argmin code id (tie → lowest id), exact
    * integer distances. Adds `code_0..code_{m-1}` int columns. */
  def pqEncode(quantized: DataFrame, vecCol: String,
      codebooks: Array[Array[Seq[Double]]]): DataFrame = {
    val cb = codebookLit(codebooks)
    val dsub = codebooks.head.head.length
    codebooks.indices.foldLeft(quantized) { case (df, s) =>
      // array_min orders struct fields lexicographically: distance then
      // code id — exactly the deterministic argmin
      df.withColumn(s"code_$s",
        array_min(transform(element_at(cb, s + 1), (code, j) =>
          struct(subDistArr(col(vecCol), s, dsub, code).as("d"),
            j.cast("int").as("j"))))
          .getField("j"))
    }
  }

  /** Per-query ADC distance tables, MATERIALIZED on the (small) query
    * frame before it broadcasts: `_dt_s` = the 16 subspace-s distances
    * from the query's quantized subvector to every code. Computing them
    * query-side means each (query, candidate) pair costs m array
    * lookups + m adds instead of re-evaluating m·k·dsub arithmetic. */
  private def withDistTables(q: DataFrame,
      codebooks: Array[Array[Seq[Double]]]): DataFrame = {
    val cb = codebookLit(codebooks)
    val dsub = codebooks.head.head.length
    codebooks.indices.foldLeft(q) { case (df, s) =>
      df.withColumn(s"_dt_$s",
        transform(element_at(cb, s + 1),
          code => subDistArr(col("_qv"), s, dsub, code)))
    }
  }

  private def adcSum(codebooks: Array[Array[Seq[Double]]]): Column =
    codebooks.indices.map(s =>
      element_at(col(s"_dt_$s"), col(s"code_$s") + 1)).reduce(_ + _)

  /** PQ ANN: quantize both sides, encode the corpus, score every
    * (query, candidate) by ADC — Σ_m distTable_m[code_m], with the
    * per-subspace tables precomputed per query row before the
    * broadcast. Lowest approximate distance wins; ties break on
    * neighbor id. Returns (query_id, neighbor_id, pq_dist, rank).
    *
    * Scale shape: corpus encoded once (write-once layout, m bytes per
    * vector); queries broadcast with their tables; the scan reads codes
    * only — at 100 TB the candidate scoring touches 8 code bytes and
    * does 8 lookups per vector. */
  def pqTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String,
      codebooks: Array[Array[Seq[Double]]], k: Int): DataFrame = {
    if (codebooks.isEmpty) return noHits(queries, qid, "pq_dist")
    val q = withDistTables(
      quantize(queries, qid, qvec)
        .select(col(qid).as("query_id"), col("qvec").as("_qv")),
      codebooks).drop("_qv")
    val encoded = pqEncode(
      quantize(corpus, id, vec).select(col(id).as("neighbor_id"),
        col("qvec")),
      "qvec", codebooks)
      .select(col("neighbor_id") +:
        codebooks.indices.map(s => col(s"code_$s")): _*)
    adcTopK(encoded.crossJoin(broadcast(q)), codebooks, k)
  }

  /** Score (query, candidate) rows by ADC and keep each query's k nearest:
    * (query_id, neighbor_id, pq_dist, rank). */
  private def adcTopK(pairs: DataFrame,
      codebooks: Array[Array[Seq[Double]]], k: Int): DataFrame =
    topK(pairs.select(col("query_id"), col("neighbor_id"),
        adcSum(codebooks).as("pq_dist")),
      Seq("query_id"), col("pq_dist").asc, "neighbor_id", k, "rank")

  /** IVF-PQ — the production composition (the FAISS IVFPQ shape): the
    * coarse quantizer partitions the corpus into cells ([[assignCells]],
    * a write-once layout at scale), PQ codes compress every vector to m
    * code bytes, and a query probes only its `nProbe` nearest cells,
    * scoring candidates by integer-exact ADC. Corpus touched per query:
    * (nProbe/nCells) of the rows × m bytes each — the double reduction
    * that makes 100 TB vector search tractable. Under FIXED centroids
    * and the deterministic sample codebooks, every step (assignment,
    * probe pick, codes, ADC) is reproducible, so the WHOLE path is
    * oracle-able (the q42b strategy extended through PQ).
    * Returns (query_id, neighbor_id, pq_dist, rank). */
  def ivfPqTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String,
      centroids: Array[(Int, Seq[Float])],
      codebooks: Array[Array[Seq[Double]]], k: Int,
      nProbe: Int = 2): DataFrame = {
    if (centroids.isEmpty || codebooks.isEmpty)
      return noHits(queries, qid, "pq_dist")
    val encoded = pqEncode(
      quantize(assignCells(corpus, id, vec, centroids), "_id", "_v"),
      "qvec", codebooks)
      .select(Seq(col("_id").as("neighbor_id"), col("_cell")) ++
        codebooks.indices.map(s => col(s"code_$s")): _*)
    // dist tables are built on the UN-exploded query frame — per query,
    // not per probed cell (exploding first would re-evaluate the m·k·dsub
    // table arithmetic nProbe times on the broadcast side)
    val q = withDistTables(
        quantize(
            queries.select(col(qid).as("query_id"), col(qvec).as("_raw")),
            "query_id", "_raw")
          .select(col("query_id"), col("_raw"), col("qvec").as("_qv")),
        codebooks)
      .withColumn("_cell", probeCells(col("_raw"), centroids, nProbe))
      .drop("_raw", "_qv")
    adcTopK(encoded.join(broadcast(q), Seq("_cell")), codebooks, k)
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein 1998) over the int8-quantized grid — the standard
    * redundancy-suppressing post-pass on an ANN candidate list: greedily
    * pick argmax λ·rel(q, d) − (1 − λ)·max_{s ∈ selected} sim(d, s),
    * so each next result balances query relevance against similarity to
    * what is already shown.
    *
    * All similarities are integer dot products on the quantized grid
    * (exact in double at 64 dims), and λ is expressed in tenths, so the
    * MMR objective `mmr10 = λ10·rel − (10 − λ10)·maxSim` is an exact
    * INTEGER — selection order is bit-stable across engines, ties break
    * on doc id. The first pick maximizes rel (the formula's selected-set
    * term is empty); its mmr10 is recorded as λ10·rel.
    *
    * Scale: candidate generation is the [[bruteForceTopK]] shape
    * (broadcast queries, one corpus scan, per-query top-nCandidates
    * window); everything after operates on candidate-set-sized frames —
    * the pairwise sim table is nCandidates² per query and the k
    * selection rounds are k chained (join + window) stages over those
    * bounded frames, independent of corpus size.
    */
  def mmrRerank(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String,
      nCandidates: Int = 20, k: Int = 5,
      lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1 && nCandidates >= k && lambdaTenths >= 0 &&
      lambdaTenths <= 10, "need 1 <= k <= nCandidates, lambda in 0..10")
    val q = quantize(queries, qid, qvec)
      .select(col(qid).as("query_id"), col("qvec").as("_qv"))
    val c = quantize(corpus, id, vec)
      .select(col(id).as("doc_id"), col("qvec").as("_dv"))
    // localCheckpoint truncates the lineage: the greedy rounds chain
    // anti-joins over `cand`, and without truncation round r re-runs
    // the corpus scan r times (the Components discipline; measured ~2x
    // end-to-end)
    val cand = topK(c.crossJoin(broadcast(q))
        .select(col("query_id"), col("doc_id"),
          VectorFns.dotProduct(col("_qv"), col("_dv")).cast("long")
            .as("rel"), col("_dv")),
      Seq("query_id"), col("rel").desc, "doc_id", nCandidates, "_rn")
      .localCheckpoint()
    val sims = cand.select(col("query_id"), col("doc_id").as("da"),
        col("_dv").as("_va"))
      .join(cand.select(col("query_id"), col("doc_id").as("db"),
        col("_dv").as("_vb")), Seq("query_id"))
      .filter(col("da") =!= col("db"))
      .select(col("query_id"), col("da"), col("db"),
        VectorFns.dotProduct(col("_va"), col("_vb")).cast("long")
          .as("sim"))

    val lam = lit(lambdaTenths.toLong)
    val oneMinus = lit((10 - lambdaTenths).toLong)
    var selected = cand.filter(col("_rn") === 1)
      .select(col("query_id"), col("doc_id"), col("rel"),
        lit(1).as("rank"), (lam * col("rel")).as("mmr10"))
    var remaining = cand.select(col("query_id"), col("doc_id"),
        col("rel"))
      .join(selected.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
    for (r <- 2 to k) {
      val maxSim = sims
        .join(selected.select(col("query_id"),
          col("doc_id").as("db")), Seq("query_id", "db"))
        .groupBy(col("query_id"), col("da").as("doc_id"))
        .agg(max(col("sim")).as("max_sim"))
      val pick = topK(remaining
          .join(maxSim, Seq("query_id", "doc_id"))
          .withColumn("mmr10",
            lam * col("rel") - oneMinus * col("max_sim")),
        Seq("query_id"), col("mmr10").desc, "doc_id", 1, "_rn")
        .select(col("query_id"), col("doc_id"), col("rel"),
          lit(r).as("rank"), col("mmr10"))
      // truncate per round: selected/remaining each embed the previous
      // round's frames twice (maxSim join + union, anti-join), so the
      // untruncated plan doubles per round — ~2^k subtrees by round k
      selected = selected.unionByName(pick).localCheckpoint()
      remaining = remaining.join(
        pick.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti").localCheckpoint()
    }
    selected
  }

  /** Sign-bit binary quantization: component i sets bit (i mod 64) of
    * word i/64 iff it is strictly positive; words packed as
    * array<bigint>. 32x smaller than float32 — the coarsest tier of the
    * quantization ladder (float -> int8 [[quantize]] -> PQ
    * [[pqEncode]] -> 1-bit here), and the only one whose distance
    * (Hamming) is pure bit arithmetic. */
  def binarize(df: DataFrame, emb: String, dim: Int,
      out: String = "bvec"): DataFrame =
    df.withColumn(out, signBits(col(emb), dim))

  private def signBits(v: Column, dim: Int): Column = {
    require(dim >= 1, "dim must be positive")
    array((0 until (dim + 63) / 64).map { w =>
      (w * 64 until math.min(w * 64 + 64, dim)).map { i =>
        when(v.getItem(i) > 0f, lit(1L << (i - w * 64))).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between packed sign-bit words: Σ popcount(a ^ b).
    * Exact integer — bit-stable across engines by construction. */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, x) => acc + x)

  /** The two-stage body of [[binaryTopK]], [[jlTopK]] and
    * [[matryoshkaTopK]]. Each side carries its int8 grid ([[quantize]])
    * and a coarse code, `code(raw, int8)`. The coarse stage — the only
    * one that scans every corpus row, and it reads the codes only —
    * keeps each query's `coarseK` best by `score` over the two codes,
    * ordered by `best`. The exact stage joins just those candidates back
    * to the int8 vectors and keeps the top k by int8 cosine. Ties break
    * on neighbor id at both stages. Returns (query_id, neighbor_id,
    * <scoreCol>, qcosine, rank<=k). */
  private def coarseThenExact(queries: DataFrame, qid: String,
      qvec: String, corpus: DataFrame, id: String, vec: String, k: Int,
      coarseK: Int, code: (Column, Column) => Column, scoreCol: String,
      score: (Column, Column) => Column, best: Column => Column): DataFrame = {
    require(k >= 1 && coarseK >= k, "need 1 <= k <= coarseK")
    def side(df: DataFrame, key: String, idCol: String, v: String) =
      quantize(df.select(col(idCol).as(key), col(v).as("_raw")), key, "_raw")
        .select(col(key), col("qvec").as(key + "_q"),
          code(col("_raw"), col("qvec")).as(key + "_c"))
    val q = side(queries, "query_id", qid, qvec)
    val c = side(corpus, "neighbor_id", id, vec)
    val cand = topK(c.select(col("neighbor_id"), col("neighbor_id_c"))
        .crossJoin(broadcast(q.select(col("query_id"), col("query_id_c"))))
        .select(col("query_id"), col("neighbor_id"),
          score(col("query_id_c"), col("neighbor_id_c")).as(scoreCol)),
      Seq("query_id"), best(col(scoreCol)), "neighbor_id", coarseK, "_cr")
      .drop("_cr")
    topK(c.select(col("neighbor_id"), col("neighbor_id_q"))
        .join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("query_id_q"))),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col(scoreCol),
          VectorFns.cosineSim(col("query_id_q"), col("neighbor_id_q"))
            .as("qcosine")),
      Seq("query_id"), col("qcosine").desc, "neighbor_id", k, "rank")
  }

  /** Two-stage binary ANN (the classic 1-bit retrieval shape): coarse
    * Hamming top-`coarseK` over the packed sign bits — the ONLY stage
    * that scans the corpus, reading dim/8 bytes per vector — then an
    * exact int8-cosine re-rank over the candidate set only. Ties break
    * on neighbor id at both stages. Returns (query_id, neighbor_id,
    * hamming, qcosine, rank<=k).
    *
    * Scale: stage 1 is a broadcast-queries scan of the 32x-compressed
    * bit matrix; stage 2 joins the nq x coarseK candidate list
    * (broadcast) back to the int8 vectors, so full-precision data is
    * read only for candidates — the standard memory-hierarchy split for
    * 100-TB vector stores. */
  def binaryTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String, dim: Int, k: Int,
      coarseK: Int): DataFrame =
    coarseThenExact(queries, qid, qvec, corpus, id, vec, k, coarseK,
      (raw, _) => signBits(raw, dim), "hamming", hammingDist, _.asc)

  /** Deterministic sign matrix for the JL projection: sign(j, i) from
    * the top bit of md5("jl:j:i") — the catalog's engine-portable hash,
    * reproducible in SQL. */
  def jlSigns(dOut: Int, dIn: Int): Array[Array[Int]] =
    Array.tabulate(dOut, dIn) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1 else -1
    }

  /** out_j = sum_i sign(j,i) * q_i over the int8 grid — integral values,
    * order-independent, bit-stable. The matrix is a literal; the
    * projection is a pure map inside the scan stage. */
  private def jlProject(v: Column, signs: Array[Array[Int]]): Column =
    array(signs.map { row =>
      aggregate(
        zip_with(v, typedlit(row.toSeq), (x, sg) => x.cast("double") * sg),
        lit(0.0), (acc, x) => acc + x).cast("float")
    }: _*)

  /** Two-stage ANN via sign random projection (Johnson-Lindenstrauss;
    * Achlioptas 2003 database-friendly variant): the coarse stage scans
    * dOut-dim projections — dOut/dim of even the int8 grid's bytes —
    * with integer-exact cosine; the exact int8 re-rank touches only each
    * query's coarseK candidates. The dense-projection sibling of the
    * binary (sign-bit) and Matryoshka (prefix) two-stage paths: unlike
    * the prefix, the projection mixes ALL input dims, so it degrades
    * gracefully when information is spread across components. The
    * projection matrix derives from portable md5 bits and never
    * materializes beyond a dOut x dIn literal. Returns (query_id,
    * neighbor_id, proj_cosine, qcosine, rank<=k). */
  def jlTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String, dIn: Int, dOut: Int,
      k: Int, coarseK: Int): DataFrame = {
    require(dOut >= 1, "dOut >= 1")
    val signs = jlSigns(dOut, dIn)
    coarseThenExact(queries, qid, qvec, corpus, id, vec, k, coarseK,
      (_, q8) => jlProject(q8, signs), "proj_cosine",
      VectorFns.cosineSim, _.desc)
  }

  /** Matryoshka two-stage ANN (Kusupati et al. 2022: MRL embeddings are
    * trained so every prefix is itself an embedding): coarse scoring on
    * the first `prefixDim` int8 components (reads prefixDim/dim of the
    * vector bytes), exact full-dim int8 re-rank over the candidates.
    * Both stages integer-exact under one double division; ties on
    * neighbor id. Returns (query_id, neighbor_id, prefix_cosine,
    * qcosine, rank<=k). */
  def matryoshkaTopK(queries: DataFrame, qid: String, qvec: String,
      corpus: DataFrame, id: String, vec: String, prefixDim: Int, k: Int,
      coarseK: Int): DataFrame = {
    require(prefixDim >= 1, "prefixDim >= 1")
    coarseThenExact(queries, qid, qvec, corpus, id, vec, k, coarseK,
      (_, q8) => slice(q8, 1, prefixDim), "prefix_cosine",
      VectorFns.cosineSim, _.desc)
  }
}
