package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling, Sketches, TextAnalysis}
import graft.queries.Q.t

/** Training-data text operators over the `documents` table: exact and
  * near-duplicate detection, language ID, quality scoring, token counting,
  * fingerprinting. */
object TextQueries {

  /** Exact dedup summary: md5-fingerprint groups (hash groupBy; one
    * partial-agg shuffle keyed on the 128-bit digest). */
  def q34DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_docs"),
        sum(when(col("n_copies") > 1, 1).otherwise(0)).as("n_dup_groups"),
        max(col("n_copies")).as("max_copies"))

  /** Per-language text-quality profile: token counts (whitespace + BPE-ish),
    * punctuation ratio, composite quality score. */
  def q35TextProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prof = docs.select(col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    prof.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_bpeish")), 4).as("avg_bpeish"),
        round(avg(col("punct_ratio")), 6).as("avg_punct"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("lang"))
  }

  /** Language-ID heuristic: docs per (labelled lang, predicted lang).
    * Uses the staged form so the marker scan runs once per row. */
  def q36LangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withLangId(t(s, dir, "documents"), "text", "lang_pred")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Document fingerprints: distinct md5 fingerprints per source (rolling
    * content-hash identity used for incremental dedup). */
  def q36bFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct_fp"))
      .orderBy(col("source"))

  /** Gopher-style repetition profile (q103): per-doc duplicate-word
    * fraction plus top word / word-bigram character-coverage fractions
    * with deterministic (count desc, token asc) tie-breaks — the
    * "repetitious text" quality-filter family. Full per-doc output so the
    * oracle hash pins every doc's signals. */
  def q103RepetitionProfile(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Config-driven quality-filter pipeline (q107): token-count and
    * repetition signals feed ordered first-match drop rules; per-language
    * rollup of kept/dropped docs and their token mass — the shape of a
    * real corpus-cleaning run's accounting output. */
  def q107QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val prof = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val rep = TextAnalysis.repetitionProfile(docs)
      .select(col("doc_id"), col("dup_word_frac"))
    TextAnalysis.qualityFilter(prof.join(rep, Seq("doc_id")),
        Seq("too_short" -> (col("n_tokens") < 30),
          "repetitive" -> (col("dup_word_frac") > 0.6)))
      .groupBy(col("lang"),
        coalesce(col("drop_reason"), lit("kept")).as("outcome"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("lang"), col("outcome"))
  }

  /** Deterministic token-budget sampling (q108): per-language greedy
    * prefix in a deterministic pseudo-shuffled priority order until 2000
    * tokens — the data-mixing primitive; rollup proves the budget holds
    * (max one-doc overshoot). */
  def q108TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    TextAnalysis.tokenBudgetSample(docs, Seq("lang"), "n_tokens",
        Seq(col("doc_id") % 7, col("doc_id")), budget = 2000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_kept"),
        max(col("cum_tokens")).as("max_cum"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  /** MinHash+LSH near-duplicate pairs verified by exact shingle Jaccard.
    * Oracled by exact all-pairs SQL (candidate recall is 1 on the driver
    * corpus); planted-fixture recall is pinned in DedupSpec. */
  def q37MinhashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-duplicates (custom codegen'd Catalyst expression +
    * 8-bit-chunk pigeonhole buckets, sound for hamming <= 7). */
  def q38Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
      maxHamming = 6)
      .orderBy(col("id_a"), col("id_b"))

  /** Blocked exact n-gram Jaccard: quadratic only within (source) blocks. */
  def q39NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardDups(t(s, dir, "documents"), "doc_id", "text",
      blockCols = Seq("source"), shingleN = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** Decontamination: probe docs (a stand-in benchmark set) checked for
    * n-gram containment inside every corpus doc; asymmetric on purpose —
    * an eval item inside a big doc still scores ~1. */
  def q78Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.contamination(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 29 === 0), "doc_id", "text",
      shingleN = 3, threshold = 0.3)
      .orderBy(col("probe_id"), col("doc_id"))
  }

  /** Bloom-filter decontamination pre-filter (q207): the benchmark set's
    * grams packed into a 32 KB bitmap, every corpus doc probed in one
    * codegen'd row expression with no join, then one doc-grain
    * aggregation — the stage to run in FRONT of q78's
    * exact containment at 100 TB (false negatives impossible, false
    * positives the filter's deterministic set, re-checked exactly by the
    * downstream join only for flagged docs). Same benchmark framing as
    * q78 (doc_id % 29), so the two stages compose. */
  def q207BloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.bloomDecontaminate(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 29 === 0), "text",
      shingleN = 3, mBits = 1 << 18, k = 3)
      .orderBy(col("doc_id"))
  }

  /** Composed two-stage decontamination (q210): Bloom pre-filter ->
    * exact containment, output REQUIRED to equal the unpruned q78 result
    * — the oracle IS q78's, so an unsound prune (a dropped true pair)
    * breaks the hash. Soundness: a probe at containment >= t shares at
    * least ceil(3*minP/10) grams with the doc (minP = smallest probe
    * gram count, integer arithmetic — 0.3 as a double is a hair looser,
    * so the integer bound is exact); the doc's bloom maybe-count
    * upper-bounds its true shared count, so pruning maybe-count < bound
    * can never lose a qualifying doc. At 100 TB the pre-filter removes
    * the inverted-index join for every unflagged doc at the cost of a
    * scan-stage row expression and one doc-grain aggregation. */
  def q210DecontamPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 29 === 0)
    val minP = bench
      .select(size(Dedup.wordGrams(col("text"), 3)).as("_np"))
      .agg(min(col("_np")).as("_minp"))
    val counts = Dedup.bloomDecontaminate(docs, "doc_id", "text",
      bench, "text", shingleN = 3, mBits = 1 << 18, k = 3)
    val flagged = counts.crossJoin(broadcast(minP))
      .filter(col("n_maybe") >= expr("(3 * _minp + 9) div 10"))
      .select(col("doc_id"))
    val candidates = docs.join(flagged, Seq("doc_id"), "left_semi")
    Dedup.contamination(candidates, "doc_id", "text",
      bench, "doc_id", "text", shingleN = 3, threshold = 0.3)
      .orderBy(col("probe_id"), col("doc_id"))
  }

  /** Integer PageRank (q220): 5 fixed iterations of the Pregel-free
    * join+aggregate plan over a deterministic synthetic citation graph,
    * every step PURE INTEGER (div-rounded damping, dangling mass, 1-row
    * broadcast teleport) so the whole trajectory is bit-reproducible —
    * float PageRank depends on accumulation order no engine pins. Top-20
    * by rank via the scale-safe TopN. */
  def q220PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders")
      .select((col("o_custkey") % 500).as("src"),
        (col("o_orderkey") % 500).as("dst"))
      .filter(col("src") =!= col("dst"))
    val pr = graft.operators.Graphs.pageRankInt(edges, iters = 5)
    graft.core.TopN.topNByRank(pr, "rank", "node", 20)
      .orderBy(col("rnk"))
  }

  /** Label propagation (q243): synchronous RAK community detection —
    * 4 fixed rounds of adopt-the-modal-neighbor-label (ties to the
    * smallest) over a planted-community graph: 30 dense 20-node
    * communities plus sparse bridge edges every 97th order. Unlike
    * connected components (q113), the bridges do NOT merge the
    * communities — label mass stays inside the dense blocks. Oracle
    * rounds are GENERATED per iteration (the q220 discipline). */
  def q243LabelProp(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val comm = col("o_custkey") % 30
    val intra = o.select(
      (comm * 100 + col("o_orderkey") % 20).as("src"),
      (comm * 100 + expr("(o_orderkey div 20) % 20")).as("dst"))
    val bridges = o.filter(col("o_orderkey") % 97 === 0).select(
      (comm * 100 + col("o_orderkey") % 20).as("src"),
      (((comm + 1) % 30) * 100 + col("o_orderkey") % 20).as("dst"))
    graft.operators.Graphs
      .labelPropagation(intra.unionByName(bridges), iters = 4)
      .orderBy(col("node"))
  }

  /** Incremental dedup (q216): the doc_id % 10 slice arrives as a DELTA
    * against the rest of the corpus; only pairs touching the delta are
    * generated (asymmetric bucket probe — corpus-size-independent work
    * outside hot buckets) and the result must equal the from-scratch
    * q38 pair set restricted to delta-touching pairs — the oracle IS
    * that restriction, so a recall loss in the incremental path breaks
    * the hash. */
  def q216IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.minhashDeltaPairs(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 3, bands = 8, rows = 2,
        threshold = 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Split-leakage audit (q215): near-duplicate pairs that straddle the
    * train/valid/test hash-split boundary — documents whose near-copy
    * sits in another split leak training data into eval. Composes the
    * q38 minhash pair kernel with the q123 split column; the oracle
    * recomputes pairs by exact Jaccard, so candidate recall stays pinned
    * through the composition. Cells keyed by (split_a, split_b); any
    * off-diagonal cell is leakage. */
  def q215SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val split = TextAnalysis.hashSplit(docs.select(col("doc_id")), "doc_id")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    pairs
      .join(split.select(col("doc_id").as("id_a"),
        col("split").as("split_a")), Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"),
        col("split").as("split_b")), Seq("id_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a") + col("id_b")).as("id_sum"))
      .withColumn("leak", col("split_a") =!= col("split_b"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Stratified exact-quota sample (q212): draw total/3 docs allocated
    * across (lang, source) strata by Hamilton largest-remainder — pure
    * integer apportionment, so quotas sum EXACTLY to N — with md5-ranked
    * in-stratum selection (engine-portable to the row). The per-stratum
    * id-sum pins membership, not just counts. */
  def q212StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(s, dir, "documents"),
        Seq("lang", "source"), "doc_id", sampleFrac = (1, 3))
      .groupBy(col("lang"), col("source"))
      .agg(min(col("n_h")).as("n_docs"), min(col("quota")).as("quota"),
        count(lit(1)).as("n_sel"), sum(col("doc_id")).as("sel_id_sum"))
      .orderBy(col("lang"), col("source"))

  /** Count-Min heavy hitters (q209): the corpus token histogram packed
    * into a 4 x 2048 count grid (64 KB, one (row, bucket) shuffle over
    * the Zipf-bounded vocabulary — built from collapsed counts, never
    * raw occurrences), then the top-20 tokens' sketch estimates audited
    * against their exact counts. `over` is the CMS guarantee: an
    * estimate NEVER undershoots; the overshoot is the deterministic
    * collision mass the oracle reproduces cell-for-cell. */
  def q209CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_cnt"))
    val grid = Sketches.countMinGrid(counts, col("tok"), col("true_cnt"),
      depth = 4, width = 2048)
    val top = counts.orderBy(col("true_cnt").desc, col("tok")).limit(20)
    val est = Sketches.cmsEstimate(grid, top, col("tok"), 4, 2048)
    top.join(est, top("tok") === est("item"))
      .select(col("tok"), col("true_cnt"), col("cms_est"),
        (col("cms_est") >= col("true_cnt")).as("over"))
      .orderBy(col("true_cnt").desc, col("tok"))
  }

  /** Winnowing (MOSS) rolling-hash fingerprint overlap: pairs sharing
    * >= minShared selected k-gram hashes — the LOCAL-overlap complement to
    * the whole-document Jaccard detectors. */
  def q72WinnowOverlap(s: SparkSession, dir: String): DataFrame =
    // k=16/w=8: guarantee run length k+w-1 = 23 chars (~4 tokens) — short
    // k drowns in ubiquitous template phrases on this corpus
    Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 5)
      .orderBy(col("id_a"), col("id_b"))

  /** Connected-components duplicate clustering (q113): transitive closure
    * of a pair list via alternating large-star/small-star rounds
    * ([[graft.operators.Components]]) — what turns pairwise near-dup
    * output into "keep one copy per duplicate GROUP". Edges here are a
    * deterministic synthetic graph (an affine chain family plus a
    * custkey-mixing family, so multi-hop chains actually occur) so the
    * DuckDB oracle can replicate the closure with a recursive CTE;
    * ComponentsSpec wires the operator to real minhash pair output. */
  /** Corpus vocabulary build + per-doc rare-token coverage (q116): the
    * vocabulary-coverage quality filter — integer-exact corpus token
    * histogram joined back per (doc, token) occurrence group. */
  def q116VocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5)
      .orderBy(col("doc_id"))

  /** CCNet-style line-level boilerplate dedup (q120): lines repeated
    * across >= minDocFreq distinct docs are struck everywhere and docs
    * are rebuilt in line order. The corpus text has no newlines, so the
    * query synthesizes the classic web-page shape — a per-source header
    * (boilerplate at corpus scale), two content slices (mostly unique),
    * and a global footer (always boilerplate). */
  def q120LineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("(c) site "), col("source"), lit("\n"),
        substring(col("text"), 1, 40), lit("\n"),
        substring(col("text"), 41, 40), lit("\n"),
        lit("contact admin")).as("text"))
    TextAnalysis.lineDedup(docs, "doc_id", "text", minDocFreq = 10)
      .orderBy(col("doc_id"))
  }

  /** Greedy next-fit sequence packing (q121): docs → fixed token-budget
    * context-window bins, sequential per hash shard, parallel across
    * shards (secondary-sort + one O(1)-state mapPartitions pass). */
  def q121PackSequences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
        budget = 500, shards = 64)
      .orderBy(col("doc_id"))

  /** PII pattern redaction (q122): count-then-scrub of email / IP / SSN /
    * phone shapes, all codegen'd Column ops. The corpus has no PII, so
    * the query plants deterministic specimens per doc-id class (and
    * leaves a quarter of docs clean). */
  def q122RedactPii(s: SparkSession, dir: String): DataFrame = {
    val idm = (n: Int) => col("doc_id") % n
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(idm(4) === 0, concat(lit(" contact bob"),
          col("doc_id").cast("string"), lit("@example.com now")))
        .when(idm(4) === 1, concat(lit(" call 206-555-"),
          lpad((idm(10000)).cast("string"), 4, "0"), lit(" today")))
        .when(idm(4) === 2, concat(lit(" from 10.0."),
          (idm(256)).cast("string"), lit("."),
          (idm(100)).cast("string"), lit(" logged")))
        .otherwise(lit("")),
        when(idm(7) === 0, concat(lit(" ssn 123-45-"),
          lpad((idm(10000)).cast("string"), 4, "0"))).otherwise(lit("")))
        .as("text"))
    TextAnalysis.redactPii(docs, "doc_id", "text")
      .select(col("doc_id"), col("text"), col("n_email"), col("n_ip"),
        col("n_ssn"), col("n_phone"), col("pii_total"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic hash split (q123): md5-bucketed 90/5/5
    * train/valid/test assignment, a pure function of (id, salt). */
  def q123HashSplit(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashSplit(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  /** Overlapping token-window chunking (q132): 64-token windows with a
    * 16-token overlap — the pre-embedding splitter; one generator map
    * stage, no shuffle. */
  def q132ChunkDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** End-to-end training-data pipeline (q133): the corpus ops COMPOSED —
    * line-level boilerplate dedup → PII redaction → token-count quality
    * gate → deterministic hash split — rolled up per (split, source).
    * Each stage is the exact operator behind q120/q122/q123; the oracle
    * is the same composition in SQL, so the chain's end-to-end result
    * (not just each stage) is pinned. */
  def q133Pipeline(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    val docs = base.select(col("doc_id"),
      concat(lit("(c) site "), col("source"), lit("\n"),
        substring(col("text"), 1, 40), lit("\n"),
        substring(col("text"), 41, 40), lit(" mail bob"),
        col("doc_id").cast("string"), lit("@example.com"), lit("\n"),
        lit("contact admin")).as("text"))
    val cleaned = TextAnalysis.lineDedup(docs, "doc_id", "text",
        minDocFreq = 10)
      .withColumnRenamed("text_clean", "text")
    val redacted = TextAnalysis.redactPii(cleaned, "doc_id", "text")
    val gated = redacted
      .filter(TextAnalysis.tokenCount(col("text")) >= 15)
    TextAnalysis.hashSplit(gated, "doc_id")
      .join(base.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("total_tokens"),
        sum(col("pii_total")).as("total_pii"))
      .orderBy(col("split"), col("source"))
  }

  /** Temperature-scaled domain mixture weights (q128): per-source token
    * shares raised to alpha=0.7, renormalized, with per-doc sampling
    * weight (ppm) — the standard multi-source training-mix recipe. */
  def q128MixtureWeights(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixtureWeights(t(s, dir, "documents"), "source", "text",
        alpha = 0.7)
      .orderBy(col("domain"))

  def q113Components(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val e1 = o.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") % 400).as("src"),
        ((col("o_orderkey") * 7 + 3) % 400).as("dst"))
    val e2 = o.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") % 400).as("src"),
        (col("o_custkey") % 400).as("dst"))
    graft.operators.Components.connectedComponents(e1.union(e2),
        "src", "dst")
      .orderBy(col("id"))
  }

  /** BM25 ranked retrieval (q134): five fixed term queries against the
    * documents corpus, top-10 per query. The oracle replicates idf,
    * length normalization, rounded-score ranking, and tie-breaks in SQL. */
  def q134Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      ("A", "hash join merge"), ("B", "window stream batch"),
      ("C", "customer order line"), ("D", "slow scan big table"),
      ("E", "vector spark data query key"))
      .toDF("query_id", "query_text")
    TextAnalysis.bm25TopK(t(s, dir, "documents"), queries, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hard-negative mining (q250): every 50th document becomes a query
    * (its first 5 tokens), its source doc is the known positive, and
    * the top-5 BM25 hits EXCLUDING the positive are the mined
    * negatives — the DPR-style contrastive-training data recipe. */
  def q250HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").cast("string").as("query_id"),
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 5),
          " ").as("query_text"))
    val positives = queries.select(col("query_id"),
      col("query_id").cast("long").as("pos_doc_id"))
    TextAnalysis.hardNegatives(docs, queries, positives, k = 10,
        negK = 5)
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** DoReMi integer domain reweighting (q251): per-domain mean token
    * count stands in for the excess-loss signal, 5 linearized
    * multiplicative-weight rounds at 1e6 fixed-point, 1/5 of the mass
    * smoothed back to uniform — the full trajectory replayed by
    * generated per-round oracle CTEs. */
  def q251DoremiWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val domLoss = docs.groupBy(col("source").as("domain"))
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
        .as("_tok"), count(lit(1)).as("_cnt"))
      .select(col("domain"), expr("_tok div _cnt").as("loss"))
    TextAnalysis.doremiWeights(domLoss)
      .orderBy(col("domain"))
  }

  /** Curriculum data ordering (q252): length-staged training order —
    * docs bucket into stages by deterministic data-independent token
    * thresholds (short → long, the classic length curriculum),
    * shuffle WITHIN a stage by the salted md5 draw (the hashSplit
    * discipline, so the intra-stage order is engine-portable and
    * re-partition-stable), and the GLOBAL order index is the
    * scale-safe range-sort + zipWithIndex — no global window, no
    * single-partition sort, the q202 StableIds discipline. */
  def q252Curriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val staged = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .withColumn("stage",
        least(lit(15L), expr("n_tokens div 8")))
      .withColumn("_draw",
        conv(substring(md5(concat_ws(":", lit("curr"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"))
    graft.sources.BatchExport.rowNumbers(staged,
        Seq("stage", "_draw", "doc_id"), "order_idx")
      .select(col("doc_id"), col("n_tokens"), col("stage"),
        col("order_idx"))
      .orderBy(col("order_idx"))
  }

  /** Contrastive positive pairs from adjacent chunks (q253): each
    * doc's consecutive chunk pairs (i, i+1) — the in-document
    * positives a contrastive embedding model trains on (same-source
    * adjacency as the similarity label). Composes q132's chunker with
    * a doc-keyed self-join on chunk_id + 1; token counts ride along so
    * the pair set is self-describing. */
  def q253ChunkPairs(s: SparkSession, dir: String): DataFrame = {
    val chunks = TextAnalysis.chunkDocs(t(s, dir, "documents"),
      chunkTokens = 64, overlapTokens = 16)
    // disjoint column names per side: a self-join on the same plan
    // would silently resolve both aliases to one attribute set
    val a = chunks.select(col("doc_id"), col("chunk_id").as("chunk_a"),
      col("n_chunk_tokens").as("tokens_a"))
    val b = chunks.select(col("doc_id"), col("chunk_id").as("chunk_b"),
      col("n_chunk_tokens").as("tokens_b"))
    a.join(b, Seq("doc_id"))
      .filter(col("chunk_b") === col("chunk_a") + 1)
      .select(col("doc_id"), col("chunk_a"), col("chunk_b"),
        col("tokens_a"), col("tokens_b"))
      .orderBy(col("doc_id"), col("chunk_a"))
  }

  /** Tokenizer fertility by language (q254): per detected language,
    * whitespace vs BPE-ish token counts and the fertility ratio in
    * basis points (integer fixed-point — subword tokenizers cost more
    * tokens per word on some languages, the standard multilingual
    * budget diagnostic). Composes q36's language-ID with q35's two
    * token counters in one scan. */
  def q254TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long")
          .as("bp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bp")).as("bpeish_tokens"))
      .withColumn("fertility_bp",
        expr("bpeish_tokens * 10000 div ws_tokens"))
      .orderBy(col("lang"))
  }

  /** Integer-HLL distinct sketch vs exact (q255): per customer
    * bucket, the bit-reproducible HyperLogLog estimate of distinct
    * order keys beside the exact count and the error in basis points
    * — the sketch self-reports its accuracy. */
  def q255IntHll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select((col("o_custkey") % 50).as("grp"), col("o_orderkey"))
    val est = graft.operators.Sketches.intHllEstimate(o, Seq("grp"),
      col("o_orderkey"))
    val exact = o.groupBy(col("grp"))
      .agg(countDistinct(col("o_orderkey")).as("exact_distinct"))
    est.join(exact, Seq("grp"))
      .withColumn("err_bp",
        expr("abs(hll_est - exact_distinct) * 10000 div exact_distinct"))
      .select(col("grp"), col("exact_distinct"), col("hll_est"),
        col("zero_registers"), col("err_bp"))
      .orderBy(col("grp"))
  }

  /** HLL shard-merge law (q256): orders split into two shards (odd /
    * even order keys), each sketched independently, states merged
    * register-wise, finalized — beside the direct union-build
    * estimate. Register-wise max is associative, so the two paths are
    * equal BY LAW; `merge_consistent` pins it per group and the
    * oracle computes the single mathematical result. */
  def q256HllMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches._
    val o = t(s, dir, "orders")
      .select((col("o_custkey") % 50).as("grp"), col("o_orderkey"))
    val shardA = o.filter(col("o_orderkey") % 2 === 0)
    val shardB = o.filter(col("o_orderkey") % 2 =!= 0)
    val merged = intHllFromRegisters(
      intHllMerge(
        intHllRegisters(shardA, Seq("grp"), col("o_orderkey")),
        intHllRegisters(shardB, Seq("grp"), col("o_orderkey")),
        Seq("grp")),
      Seq("grp"))
    val direct = intHllEstimate(o, Seq("grp"), col("o_orderkey"))
      .select(col("grp"), col("hll_est").as("est_direct"))
    merged.select(col("grp"), col("hll_est").as("est_merged"))
      .join(direct, Seq("grp"))
      .withColumn("merge_consistent",
        col("est_merged") === col("est_direct"))
      .orderBy(col("grp"))
  }

  /** Integer log-histogram quantiles vs exact (q257): p50/p90/p99 of
    * order totals (in cents) per customer bucket from the mergeable
    * HdrHistogram-style sketch, beside the exact discrete quantiles —
    * relative error bounded by 2^-5 and self-reported in basis
    * points. */
  def q257HistQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select((col("o_custkey") % 20).as("grp"),
        floor(col("o_totalprice") * 100).cast("long").as("v"))
    val hist = graft.operators.Sketches.logHistogram(o, Seq("grp"),
      col("v"))
    val est = graft.operators.Sketches.histQuantiles(hist, Seq("grp"),
      Seq(5000, 9000, 9900))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
    val pos = o.withColumn("_rn", row_number().over(w))
      .withColumn("_n",
        count(lit(1)).over(Window.partitionBy(col("grp"))))
    val exact = pos
      .withColumn("q_bp",
        explode(array(lit(5000), lit(9000), lit(9900))))
      .filter(col("_rn") ===
        expr("cast((cast(q_bp as bigint) * _n + 9999) div 10000 " +
          "as int)"))
      .select(col("grp"), col("q_bp"), col("v").as("exact"))
    est.join(exact, Seq("grp", "q_bp"))
      .withColumn("err_bp",
        expr("abs(est - exact) * 10000 div exact"))
      .orderBy(col("grp"), col("q_bp"))
  }

  /** Per-node triangle counts (q258): degree-ordered wedge join over
    * the orders-derived graph — each node's participation in closed
    * triads, the clustering signal `Components`/`labelPropagation`
    * don't see. */
  def q258Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders")
      .select((col("o_custkey") % 150).as("src"),
        (col("o_orderkey") % 150).as("dst"))
    graft.operators.Graphs.triangleCounts(edges)
      .orderBy(col("node"))
  }

  /** k-core peeling (q259): 4 synchronous peel rounds toward the
    * 3-core of a planted-community graph (dense blocks survive, chain
    * bridges peel away) — survivors with final-round degrees, each
    * round replayed by a generated oracle CTE. */
  def q259Kcore(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val comm = col("o_custkey") % 25
    val intra = o.select(
      (comm * 100 + col("o_orderkey") % 18).as("src"),
      (comm * 100 + expr("(o_orderkey div 18) % 18")).as("dst"))
    val bridges = o.filter(col("o_orderkey") % 89 === 0).select(
      (comm * 100 + col("o_orderkey") % 18).as("src"),
      (((comm + 1) % 25) * 100 + col("o_orderkey") % 18).as("dst"))
    graft.operators.Graphs
      .kcorePeel(intra.unionByName(bridges), k = 3, rounds = 4)
      .orderBy(col("node"))
  }

  /** Retrieval evaluation harness (q261): every 40th doc's first 4
    * tokens become a query whose RELEVANT document is its source; the
    * BM25 ranking is scored per query — relevant rank (NULL when
    * outside top-10), reciprocal rank in 1e6 fixed point, hit@1/5/10
    * — the standard eval loop for a retrieval stack, with MRR exactly
    * derivable from the rows. */
  def q261RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").cast("string").as("query_id"),
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 4),
          " ").as("query_text"))
    val ranked = TextAnalysis.bm25TopK(docs, queries, k = 10)
    val rel = ranked
      .filter(col("doc_id") === col("query_id").cast("long"))
      .select(col("query_id"), col("rank").as("rel_rank"))
    queries.select(col("query_id")).join(rel, Seq("query_id"), "left")
      .select(col("query_id"), col("rel_rank"),
        coalesce(expr("1000000 div rel_rank"), lit(0L)).as("rr_fp"),
        (coalesce(col("rel_rank"), lit(99)) <= 1).cast("int").as("hit1"),
        (coalesce(col("rel_rank"), lit(99)) <= 5).cast("int").as("hit5"),
        (coalesce(col("rel_rank"), lit(99)) <= 10).cast("int")
          .as("hit10"))
      .orderBy(col("query_id"))
  }

  /** Purity-vote quality classifier (q262): odd-numbered sources are
    * the positive class, the classifier trains on the whole corpus
    * and scores it back (the leakage is the fixture's point — it pins
    * the training arithmetic, not generalization). Per-source
    * accuracy rollup rides the same row set. */
  def q262PurityVote(s: SparkSession, dir: String): DataFrame = {
    // the shared synthetic vocabulary carries no source signal, so the
    // fixture plants 8 source-marker tokens per doc — the classifier
    // must discover that markers of odd sources are pure-positive
    val docs = t(s, dir, "documents")
      .withColumn("text",
        concat(col("text"),
          expr("repeat(concat(' marker', source), 8)")))
    val lab = expr("cast(substr(source, 4) as int) % 2")
    TextAnalysis.purityVoteScore(docs, docs, lab)
      .orderBy(col("doc_id"))
  }

  /** Right-to-be-forgotten purge sweep (q263): a delete list (every
    * 97th doc) cascades across the derived artifacts — the documents
    * table, its chunk store, the embedding store (vec_id aligns with
    * doc_id), and the near-dup pair set (a pair dies when EITHER side
    * is deleted). One key-only anti/semi-join per artifact; the
    * output is the per-artifact accounting a deletion audit files. */
  def q263PurgeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val del = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"))
    val chunks = TextAnalysis.chunkDocs(docs, chunkTokens = 64,
      overlapTokens = 16).select(col("doc_id"))
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"))
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    def acct(name: String, df: DataFrame,
        purged: DataFrame): DataFrame = {
      val b = df.agg(count(lit(1)).as("rows_before"))
      val p = purged.agg(count(lit(1)).as("rows_purged"))
      b.crossJoin(p).select(lit(name).as("artifact"),
        col("rows_before"), col("rows_purged"),
        (col("rows_before") - col("rows_purged")).as("rows_after"))
    }
    val pairsPurged = pairs
      .join(del.select(col("doc_id").as("id_a")), Seq("id_a"),
        "left_semi")
      .unionByName(pairs.join(del.select(col("doc_id").as("id_b")),
        Seq("id_b"), "left_semi").select(col("id_a"), col("id_b")))
      .distinct()
    Seq(
      acct("documents", docs,
        docs.join(del, Seq("doc_id"), "left_semi")),
      acct("chunks", chunks,
        chunks.join(del, Seq("doc_id"), "left_semi")),
      acct("embeddings", emb,
        emb.join(del, Seq("doc_id"), "left_semi")),
      acct("neardup_pairs", pairs, pairsPurged))
      .reduce(_ unionAll _)
      .orderBy(col("artifact"))
  }

  /** Leakage-free train/valid/test split (q264) — the FIX for the
    * eval-contamination q215 audits: split assignment at the near-dup
    * COMPONENT grain, not the document grain. Minhash pairs → connected
    * components → every member of a duplicate cluster hashes on its
    * CLUSTER id through the same md5 range cut [[TextAnalysis.hashSplit]]
    * uses per-document, so a near-dup pair can never straddle splits —
    * the per-split `n_leak_pairs` column is computed (not asserted) and
    * is 0 by construction, with cluster/doc counts and the id-sum
    * membership pin riding the same rows.
    *
    * Scale: pairs are banded minhash (linear, never all-pairs),
    * components contract in log rounds, the split itself is a
    * shuffle-free Column on the cluster id; the rollup is one
    * partial-agg shuffle at split grain. Singleton docs (no near-dup)
    * are their own cluster, so the split fractions still track the md5
    * uniformity at corpus size. */
  def q264LeakFreeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rows = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val comp = Components.connectedComponents(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      "src", "dst")
    val clustered = docs.select(col("doc_id"))
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    val split = TextAnalysis.hashSplit(clustered, "cluster")
    val base = split.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("doc_id")).as("id_sum"))
    val pr = pairs
      .join(split.select(col("doc_id").as("id_a"),
        col("split").as("split_a")), Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"),
        col("split").as("split_b")), Seq("id_b"))
      .groupBy(col("split_a").as("split"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("split_a") =!= col("split_b")).cast("long"))
          .as("n_leak_pairs"))
    base.join(pr, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("id_sum"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_leak_pairs"), lit(0L)).as("n_leak_pairs"))
      .orderBy(col("split"))
  }

  /** DSIR data SELECTION (q265) — the resampling half the q172 weights
    * feed: the doc_id%7 slice plays the high-quality target corpus,
    * [[TextAnalysis.dsirWeights]] fits the hashed-n-gram target/raw
    * models over the whole pool, and the top-25 most target-like RAW
    * docs are flagged through the scale-safe TopN (rank NULL outside
    * the selection; feature-less docs score 0). The paper's gumbel
    * resampling reduces to this deterministic top-k at temperature 0. */
  def q265DsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"))
      .join(TextAnalysis.dsirWeights(docs, col("doc_id") % 7 === 0),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("log_importance"), lit(0.0))
          .as("log_importance"))
    val top = graft.core.TopN
      .topNByRank(scored, "log_importance", "doc_id", 25)
      .select(col("doc_id"), col("rnk"))
    scored.join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_feats"), col("log_importance"),
        col("rnk").as("sel_rank"), col("rnk").isNotNull.as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Token-balanced shard assignment (q266): the corpus streams out in
    * md5-salted order and cuts into ~2048-token shards via the
    * two-phase scale-safe prefix sum — per-doc cumulative position and
    * shard id, a pure function of (salt, doc_id, tokens). */
  def q266BalancedShards(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.balancedShards(t(s, dir, "documents"),
        shardTokens = 2048L)
      .orderBy(col("ord"), col("doc_id"))

  /** Weighted sample without replacement (q267): 40 documents drawn
    * token-weighted by A-Res — long docs proportionally likelier, the
    * draw a pure function of (salt, doc_id, tokens), the top-k a
    * TakeOrderedAndProject scan. */
  def q267WeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), k = 40)
      .withColumnRenamed("w", "n_tokens")
      .orderBy(col("rnk"))

  /** Content-addressed shard manifest (q268): per-shard doc/token
    * counts, id-sum pins, and order-independent 60-bit content
    * fingerprints over the q266 shard layout, dataset-total row from
    * the same rollup — the dataset-versioning record. */
  def q268ShardManifest(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.shardManifest(t(s, dir, "documents"),
        shardTokens = 2048L)
      .orderBy(col("is_total"), col("shard"))

  /** Content-defined chunking (q270): every document cut at
    * rolling-window md5 boundaries under greedy [4, 16] length bounds
    * (expected ~8 tokens at mask 8) — per-chunk extents and 60-bit
    * content fingerprints, the dedup-stable chunk store. */
  def q270CdcChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cdcChunks(t(s, dir, "documents"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Chunk-store dedup accounting (q271) — the payoff CDC exists for:
    * identical chunks across the corpus collapse to one stored copy;
    * this is the copy-count histogram of the q270 chunk store with the
    * token mass a content-addressed store saves (same fp ⇒ same
    * content ⇒ same n_toks, so the group carries its token count).
    * One shuffle at chunk_fp grain, then a histogram-sized rollup. */
  def q271ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val ch = TextAnalysis.cdcChunks(t(s, dir, "documents"))
    ch.groupBy(col("chunk_fp"), col("n_toks"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_toks") * col("n_copies")).as("tokens_total"),
        sum(col("n_toks")).as("tokens_distinct"))
      .withColumn("tokens_saved",
        col("tokens_total") - col("tokens_distinct"))
      .orderBy(col("n_copies"))
  }

  /** PMI collocations (q275): pointwise mutual information of adjacent
    * word pairs — ln of the observed-over-independent rate, the
    * classic collocation statistic (Church & Hanks 1990) used for
    * tokenizer merge seeding and phrase mining. All ratios are exact
    * rationals of integer counts inside one ln (identical doubles
    * cross-engine), rounded at 6 dp before ranking; min support 5;
    * top-50 by (pmi desc, pair) through the scale-safe TopN. Counts
    * are two Zipf-bounded aggregations; totals broadcast. */
  def q275PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(Dedup.tokens(col("text")), w => length(w) > 0)
    val docs = t(s, dir, "documents").select(toks.as("t"))
    val uni = docs.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val ntok = uni.agg(sum(col("c")).as("ntok"))
    val bg = docs.select(explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val nbg = bg.agg(count(lit(1)).as("nbg"))
    val big = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5)
    val scored = big
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(ntok)).crossJoin(broadcast(nbg))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") /
            col("nbg").cast("double")) /
          ((col("c1").cast("double") / col("ntok").cast("double")) *
            (col("c2").cast("double") / col("ntok").cast("double")))),
          6).as("pmi"),
        concat_ws(" ", col("w1"), col("w2")).as("pair"))
    graft.core.TopN.topNByRank(scored, "pmi", "pair", 50)
      .select(col("w1"), col("w2"), col("c12"), col("pmi"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** LSH parameter audit (q276): the [[graft.operators.LshPlanner]]
    * S-curve grid — every b*r = 16 banding — evaluated against the
    * corpus's OBSERVED pair-similarity distribution (exact-recall
    * PPJoin pairs at the 0.3 audit floor), so the expected
    * caught-duplicate and false-candidate masses are facts about this
    * corpus, not a textbook curve. */
  def q276LshAudit(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardDups(t(s, dir, "documents"),
      "doc_id", "text", blockCols = Seq.empty, shingleN = 3,
      threshold = 0.3)
    graft.operators.LshPlanner.audit(pairs).orderBy(col("bands"))
  }

  /** Chunk-store incremental update cost (q277) — CDC's advantage made
    * a number: every 50th document gets a one-token prepend (the
    * edited variants ride the same frame under negated ids, so ONE
    * chunking pass covers both corpora), then each chunker's edited
    * chunks probe the base fingerprint store. Content-defined
    * boundaries resynchronize after the edit, so most CDC chunks are
    * reused; fixed windows shift wholesale and re-store nearly
    * everything — the exact difference an incremental 100-TB
    * re-process pays for. */
  def q277ChunkUpdateCost(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val edited = docs.filter(col("doc_id") % 50 === 0)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(lit("EDIT "), col("text")).as("text"))
    val all = docs.unionByName(edited)
    val cdc = TextAnalysis.cdcChunks(all)
      .select(col("doc_id"), col("chunk_fp"))
    val fixed = TextAnalysis.chunkDocs(all, chunkTokens = 8,
        overlapTokens = 0)
      .select(col("doc_id"),
        conv(substring(md5(col("chunk_text")), 1, 15), 16, 10)
          .cast("long").as("chunk_fp"))
    def acct(name: String, ch: DataFrame): DataFrame = {
      val baseFps = ch.filter(col("doc_id") >= 0)
        .select(col("chunk_fp")).distinct()
        .withColumn("_in", lit(1))
      ch.filter(col("doc_id") < 0)
        .join(baseFps, Seq("chunk_fp"), "left")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("_in").isNotNull, 1L).otherwise(0L))
            .as("n_reused"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_new"))
        .select(lit(name).as("chunker"), col("n_chunks"),
          col("n_reused"), col("n_new"))
    }
    acct("cdc", cdc).unionByName(acct("fixed", fixed))
      .orderBy(col("chunker"))
  }

  /** Corpus-trained bigram-LM perplexity (q135): train on the full
    * documents corpus, score every doc — the CCNet-style quality
    * signal. */
  def q135Perplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.bigramPerplexity(docs, docs)
      .orderBy(col("doc_id"))
  }

  /** Longest-common-substring pairs (q137): the reference's broad-use
    * `LongestCommonSubstring` T-SQL function as a codegen'd Catalyst
    * expression, driven over adjacent-doc-id pairs (every 10th doc vs
    * its successor, first 48 chars — the oracle enumerates all O(n²)
    * substrings per pair, so the probe set is bounded). */
  def q137Lcs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 48).as("s"))
    val a = d.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id1"), col("s").as("s1"))
    val b = d.select((col("doc_id") - 1).as("id1"),
      col("doc_id").as("id2"), col("s").as("s2"))
    a.join(b, "id1")
      .withColumn("r",
        graft.functions.LcsSubstring.lcsSubstring(col("s1"), col("s2")))
      .select(col("id1"), col("id2"),
        col("r.match_length").as("match_length"),
        col("r.first_pos").as("first_pos"),
        col("r.second_pos").as("second_pos"),
        col("r.common").as("common"))
      .orderBy(col("id1"))
  }

  /** Hybrid retrieval (q161): BM25 lexical top-20 and int8-quantized
    * ANN top-20 per query, merged by reciprocal-rank fusion — the
    * standard sparse+dense retrieval stack. Queries A-E carry both a
    * term string (q134's set) and an embedding (vec_id 0-4, which
    * aligns with doc_id in the synthetic corpus); the oracle composes
    * BOTH arms and the fusion in SQL, so the chain is pinned. */
  def q161HybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val queriesTxt = Seq(
      ("A", "hash join merge"), ("B", "window stream batch"),
      ("C", "customer order line"), ("D", "slow scan big table"),
      ("E", "vector spark data query key"))
      .toDF("query_id", "query_text")
    val bm = TextAnalysis.bm25TopK(t(s, dir, "documents"), queriesTxt,
        k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = t(s, dir, "embeddings")
    val qmap = when(col("vec_id") === 0, "A").when(col("vec_id") === 1, "B")
      .when(col("vec_id") === 2, "C").when(col("vec_id") === 3, "D")
      .otherwise("E")
    val qe = emb.filter(col("vec_id") < 5)
      .select(qmap.as("query_id"), col("embedding"))
    val ann = Similarity.quantizedTopK(qe, "query_id", "embedding",
        emb, "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank"))
    TextAnalysis.rrfFuse(Seq(bm, ann), topK = 10)
      .select(col("query_id"), col("doc_id"), col("rrf_score"),
        col("rank_0").as("bm25_rank"), col("rank_1").as("ann_rank"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DSIR importance weights (q172): target = English documents, raw =
    * everything else; hashed unigram+bigram bag models with add-one
    * smoothing, per-doc log importance ratio. High-weight raw docs are
    * the ones that "look English" — the published data-selection
    * recipe. */
  def q172DsirWeights(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(t(s, dir, "documents"),
        isTarget = col("lang") === "en")
      .orderBy(col("doc_id"))

  /** Linear quality classifier (q173): fasttext-style mean-pooled
    * hashed bag-of-words under a fixed deterministic weight vector,
    * sigmoid, keep decision at 0.5. */
  def q173QualityClassifier(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.linearQualityScore(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** ExactSubstr duplicate spans (q175): stride-1 char L-gram corpus
    * counts, merged maximal duplicated spans per document. */
  def q175ExactSubstr(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.exactSubstrSpans(t(s, dir, "documents"), minLen = 40)
      .orderBy(col("doc_id"), col("span_start"))

  /** Stupid Backoff trigram scoring (q176): corpus-trained
    * tri/bi/unigram counts, 0.4-backoff mean score per document. */
  def q176StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.stupidBackoff(docs, docs).orderBy(col("doc_id"))
  }

  /** BPE merge training (q181): 5 greedy pair-merge rounds over the
    * corpus word vocabulary — the learned merge table a tokenizer
    * ships. */
  def q181BpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeMerges(t(s, dir, "documents"), rounds = 5)
      .orderBy(col("round"))

  /** BPE corpus encoding (q182): apply the q181-learned merges to the
    * vocabulary and roll per-word symbol counts up to documents — the
    * tokens-per-doc accounting the budget/packing stages consume. */
  def q182BpeEncode(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncodedStats(t(s, dir, "documents"), rounds = 5)
      .orderBy(col("doc_id"))

  /** Cluster-cap sampling (q178) — the "soft dedup" composition every
    * large corpus ships: minhash near-dup pairs → connected components
    * → keep at most `cap` documents per duplicate cluster (lowest ids,
    * deterministic). Composes the q38 pair kernel and the q113
    * components contraction; singletons (no near-dup) form their own
    * cluster and always survive. The oracle recomputes pairs with the
    * exact-Jaccard all-pairs SQL (candidate recall 1 on this corpus,
    * same argument as q38) and the closure with a recursive CTE, so the
    * CHAIN is pinned. */
  def q178ClusterCapSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5)
    val comp = Components.connectedComponents(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      "src", "dst")
    val withComp = docs.select(col("doc_id"))
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("doc_id"))
    withComp
      .withColumn("rank_in_cluster", row_number().over(w))
      .withColumn("kept", col("rank_in_cluster") <= 2)
      .orderBy(col("doc_id"))
  }

  /** q191: trigram novelty of the non-reference documents against the
    * doc_id%3==0 reference slice — per-doc fraction of distinct word
    * trigrams unseen anywhere in the reference (the coverage-statistic
    * dual of q78's decontamination); short docs zero-filled with NULL
    * novelty. */
  def q191NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.TextAnalysis.ngramNovelty(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), n = 3)
      .orderBy(col("doc_id"))
  }

  /** q196: exact edit-distance similarity join (PassJoin) over short
    * title strings — part names plus planted substitution (dist 1) and
    * two-char-deletion (dist 2) mutants — every pair within Levenshtein
    * distance 2, exact recall; the oracle brute-forces the same pairs
    * with DuckDB's levenshtein. */
  def q196EditDistanceJoin(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "part")
      .filter(col("p_partkey") % 20 === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("str"))
    val titles = base
      .unionByName(base.filter(col("id") % 40 === 0).select(
        (col("id") + 100000000L).as("id"),
        concat(lit("X"), substring(col("str"), 2, 1000000)).as("str")))
      .unionByName(base.filter(col("id") % 60 === 0).select(
        (col("id") + 200000000L).as("id"),
        substring(col("str"), 3, 1000000).as("str")))
    Dedup.editDistancePairs(titles, "id", "str", d = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q200: Jensen-Shannon divergence matrix between the corpus's
    * language domains over hashed unigram distributions. */
  def q200JsdMatrix(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.jsdMatrix(t(s, dir, "documents"), col("lang"))
      .orderBy(col("source_a"), col("source_b"))

  /** q233: temperature-mixture sampler — the MATERIALIZATION of q128's
    * mixture weights: at alpha = 0.5 the normalized acceptance rate is
    * the closed form sqrt(min_tokens / tokens_domain) (bit-stable: one
    * integer-ratio division + one correctly-rounded sqrt, no pow or
    * cross-domain float sum), and each doc draws md5 first-32-bits
    * against floor(rate * 2^32) — the q123 split discipline. Output:
    * per-domain doc/kept counts, the kept-id-sum membership pin, and
    * the rounded rate. */
  def q233TemperatureSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.temperatureSample(t(s, dir, "documents"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 1, col("doc_id"))).as("kept_id_sum"),
        round(first(col("accept_rate")), 6).as("accept_rate"))
      .orderBy(col("source"))

  /** q239: epoch-multiplier upsampling — q233's data-constrained
    * complement: domains repeat toward token parity with the largest
    * one, capped at 4 epochs; whole copies from integer division of
    * token counts, the fractional epoch realized as one md5-gated extra
    * copy per doc (threshold floor(rem/tok_d * 2^32), the q123
    * discipline). Output: per-domain doc count, token count, whole
    * epochs, total materialized copies, frac-accepted extras, and the
    * sum(doc_id * epoch_idx) membership pin over the exploded copies. */
  def q239EpochUpsample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.epochUpsample(t(s, dir, "documents"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        first(col("tok_d")).as("tok_d"),
        first(col("full_epochs")).as("full_epochs"),
        count(lit(1)).as("n_copies"),
        sum(when(col("epoch_idx") > col("full_epochs"), 1L)
          .otherwise(0L)).as("extra_copies"),
        sum(col("doc_id") * col("epoch_idx")).as("id_epoch_sum"))
      .orderBy(col("source"))

  /** q241: corpus data card via CUBE — the GROUPING-SETS tabulation
    * SURVEY §3.3 sketches as tabloop's alternative strategy: every
    * (lang, source) cell, both 1-dim margins, and the grand total from
    * ONE aggregation (Catalyst Expand + single shuffle), grouping()
    * flags disambiguating margin NULLs from NULL dimension values. */
  def q241DataCardCube(s: SparkSession, dir: String): DataFrame =
    graft.api.Tabloop.cubeCard(t(s, dir, "documents"),
        Seq("lang", "source"),
        Seq(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          sum(col("n_chars")).as("total_chars")))
      .orderBy(col("g_lang"), col("g_source"), col("lang"),
        col("source"))

  /** q231: URL canonicalization + canonical dedup — the crawl-side
    * pre-content dedup (CCNet/RefinedWeb run it before MinHash). The
    * fixture mints seven URL variants per document family: plain,
    * upper-scheme + www + :80, trailing slash, tracking params +
    * unsorted query, fragment + sorted query, https (:443, a DISTINCT
    * resource from the http family), and a no-scheme garbage string
    * (the lower(trim) fallback). Variants 0-2 collapse to one
    * canonical, 3-4 to another; keep = lowest doc_id per canonical. */
  def q231UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val host = concat(lit("Example"), (id % 40).cast("string"),
      lit(".COM"))
    val pth = concat(lit("/docs/"), (id % 500).cast("string"))
    val url = when(id % 7 === 0, concat(lit("http://"), host, pth))
      .when(id % 7 === 1,
        concat(lit("HTTP://www."), host, lit(":80"), pth))
      .when(id % 7 === 2, concat(lit("http://"), host, pth, lit("/")))
      .when(id % 7 === 3,
        concat(lit("http://"), host, pth, lit("?utm_source=x&b=2&a=1")))
      .when(id % 7 === 4,
        concat(lit("http://"), host, pth, lit("?a=1&b=2#frag")))
      .when(id % 7 === 5,
        concat(lit("https://"), host, lit(":443"), pth))
      .otherwise(concat(lit("  Not A Url "), id.cast("string")))
    graft.operators.Urls.dedupByCanonical(
        t(s, dir, "documents").select(id, url.as("url")), "doc_id", "url")
      .select(col("doc_id"), col("canonical_url"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Linear quality-classifier TRAINING (q315): the batch-perceptron
    * trainer that upgrades q173's fixed-weight scorer to a data-driven
    * model — five integer rounds over md5-bucket presence features
    * with the q262 planted-marker labels (odd sources positive), so
    * the fixture is genuinely learnable and the audit frame shows the
    * misclassified count falling as the weights converge. All
    * arithmetic is integer (±1 labels, unit rate), so the generated
    * per-round oracle replays the weight trajectory bit-exactly. */
  def q315PerceptronTrain(s: SparkSession, dir: String): DataFrame = {
    // short base slice keeps per-bucket noise counts low (1-3) so the
    // planted x8 class-marker count dominates the margin; per-source
    // markers were tried first and rejected — 20 marker tokens into 32
    // buckets collide ACROSS classes, leaving ~30% of docs with
    // ambiguous signal (the two class tokens hash to distinct buckets
    // 28/31, pinned by the spec)
    val label = expr("cast(substr(source, 4) as int) % 2")
    val docs = t(s, dir, "documents").withColumn("text",
      concat(expr("substring(text, 1, 60)"),
        expr("repeat(concat(' ', CASE WHEN cast(substr(source, 4) as int) % 2 = 1 " +
          "THEN 'markergoodqual' ELSE 'markerbadqual' END), 8)")))
    graft.operators.LinearTrain.perceptronTrain(docs, label)
      .orderBy(col("item"))
  }
}
