package graft

import graft.queries.{RelationalQueries => R}

/** Physical-plan contracts: the at-scale properties the engine is designed
  * around, pinned so a regression (lost pushdown, dropped broadcast, a
  * global window sneaking back in) fails the build — not just the bench.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 predicates push down to the parquet scan") {
    val p = plan(R.q2FilterPred(spark, sf))
    assert(p.contains("PushedFilters:"), "no pushed filters section")
    assert(p.contains("IsNotNull(o_orderstatus)") ||
      p.contains("EqualTo(o_orderstatus"), s"status filter not pushed:\n$p")
  }

  test("q03 joins the dims via broadcast, not shuffle") {
    val p = plan(R.q3JoinInner(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "nation dim not broadcast")
  }

  test("q01 scan prunes to the referenced columns only") {
    val p = plan(R.q1Agg(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_comment")
      && !readSchema.contains("l_suppkey"),
      s"column pruning lost: $readSchema")
  }

  test("q15 top-N plans TakeOrderedAndProject, no global-window exchange") {
    val p = plan(R.q15TopN(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"two-phase top-N lost:\n$p")
  }

  test("no unpartitioned windows anywhere in the catalog") {
    // WindowExec warns 'No Partition Defined' when partitionSpec is empty;
    // statically: every Window node must carry a partition spec. The lit(0)
    // constant partitions (bounded post-limit ranks) count as partitioned.
    val offenders = SparkEntry.queries.keys.filterNot { name =>
      // streaming + write-path queries spin up real jobs; plan-only here
      Set("q48_stream_hourly", "q57_config_csv_orc", "q58_incremental_refresh",
        "q59_qa_suite")(name)
    }.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => name
      }
      bad.headOption
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }

  test("q74 bucketed join is exchange-free up to the post-join rollup") {
    val df = graft.queries.LifecycleQueries.q74BucketedJoin(spark, sf)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"bucketed scan lost:\n$p")
    // the join inputs print BELOW the SortMergeJoin line; neither may
    // shuffle — the only exchanges allowed are post-join (rollup + sort),
    // which print above it
    val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"),
      s"join input shuffled despite bucketing:\n$p")
  }

  test("temporal-kernel builds stay within their measured shuffle budgets") {
    // Exchange counts measured at the current plan shapes (2026-08): the
    // first hash(id) exchange is REUSED by every later window/group step
    // keyed on the id — a regression that re-shuffles mid-kernel shows up
    // as a count above budget. Budgets are exact current values, not
    // slack: tightening is fine, loosening needs a reason in the diff.
    val budgets = Map(
      "q22_sessions" -> 2,          // hash(id) + presentation sort
      "q46_interval_collapse" -> 3, // distinct(id,day) + hash(id) + sort
      "q49_claims_elig" -> 9,       // intervals + melt + pivot + joins
      "q64_elig_timevar" -> 5,
      "q66_claim_header" -> 9,
      "q68_elig_month" -> 4,
      "q60_perf_measures" -> 6, // one window pass + stack for all measures
      "q61_condition_loop" -> 3, // one scan + one shuffle for all configs
      // the measure chains print large counts because every distinct
      // set-op is a two-sided aggregate exchange and toString re-prints
      // shared subtrees; the pins still trip on a mid-chain re-shuffle
      "q96_fuh_measure" -> 42,
      "q97_pcr_readmit" -> 37,  // ONE person exchange drives all stitching
      "q98_mcare_claim_header" -> 24,
      "q102_fum_measure" -> 40)
    val over = budgets.flatMap { case (name, budget) =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      val n = p.linesIterator.count(_.contains("Exchange"))
      if (n > budget) Some(s"$name: $n > $budget") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded: $over")
  }

  test("no unintended cartesian or nested-loop joins in the catalog") {
    // CartesianProductExec shuffles both sides everywhere — never acceptable.
    // BroadcastNestedLoopJoin is the designed shape only where a small side
    // is deliberately crossed/broadcast against the big side.
    val intendedBnl = Set(
      "q10_cross_spine", // month spine x dim: tiny x tiny by design
      "q41_ann_brute",   // crossJoin(broadcast(queries)): the ANN baseline
      "q42_ann_ivf",     // broadcast probe set against partitioned cells
      "q18_tabloop",     // zero-fill group spine cross (suppression input)
      "q19_suppress",
      "q60_perf_measures", // month-spine cross for the rolling denominator
      "q87_fua_measure",   // same PerfMeasures month-spine cross as q60
      "q100_hospice_denom", // same PerfMeasures month-spine cross as q60
      "q101_enroll_provider", // (member x plan) x broadcast month spine
      "q09_join_theta_prefix", // LIKE-prefix theta: non-equi by nature,
                               // broadcast dim side is the designed plan
      "q15_topn",        // windowless rank: n x n broadcast self-join,
      "q62_top_causes",  // bounded by limit(n) upstream (core/TopN)
      "q78_contamination", // broadcast probe set x corpus: the designed shape
      "q110_tpm_by_dx",  // procedure claims x broadcast 7-row sub-group
                         // list (v_perf_tpm_by_dx_numerator CROSS JOIN)
      "q114_enroll_denom", // member x broadcast 24-row month spine (the
                           // fn_mcaid_perf_enroll_member_month CROSS JOIN)
      "q128_mixture_weights", // domain frame x broadcast 1-row totals
                              // (renormalization without a global window)
      "q129_quantized_ann", // crossJoin(broadcast(queries)): same ANN
                            // baseline shape as q41
      "q134_bm25",       // hit set x broadcast 1-row (N, avgdl) totals
      "q250_hard_negatives", // composes bm25TopK — same broadcast
                             // 1-row (N, avgdl) totals shape as q134
      "q261_retrieval_eval", // composes bm25TopK — same broadcast
                             // 1-row (N, avgdl) totals shape as q134
      "q251_doremi_weights", // domain dim x broadcast 1-row count/min/
                             // max/total scalars per multiplicative-
                             // weights round (the q169 scalar shape)
      "q260_linkage_em", // pattern dim x broadcast 1-row EM state per
                         // round (the q169 scalar shape)
      "q263_purge_sweep", // per-artifact 1-row count x 1-row purge
                          // count accounting cross (scalar x scalar)
      "q135_perplexity", // doc bigrams x broadcast 1-row vocab size
      "q138_embed_pipeline", // crossJoin(broadcast(queries)): q129 shape
      "q144_naloxone", // NDC contains-join: DISTINCT pharmacy vocabulary
                       // x broadcast naloxone list (bounded dims only;
                       // fact rows join the expansion by exact key)
      "q161_hybrid_retrieval", // ANN arm is q129's crossJoin(broadcast(
                               // queries)) + BM25's 1-row totals cross
      "q162_pq_ann", // crossJoin(broadcast(queries)) over the encoded
                     // corpus: the q41/q129 ANN baseline shape
      "q169_mcaid_claim_stage", // archive x broadcast 1-row MIN(date)
                                // truncate cut (no driver round-trip)
      "q172_dsir_weights", // bucket counts x broadcast 1-row corpus
                           // totals (the q128/q135 renormalizer shape)
      "q174_mmr_rerank", // crossJoin(broadcast(queries)): the q41/q129
                         // ANN candidate-generation shape
      "q176_stupid_backoff", // doc trigrams x broadcast 1-row corpus
                             // total (the q128/q135 renormalizer shape)
      "q179_hard_negatives", // crossJoin(broadcast(anchors)): the
                             // q41/q129 ANN candidate shape
      "q186_mcaid_elig_stage", // archive x broadcast 1-row MIN(month)
                               // truncate cut (the q169 shape)
      "q189_binary_ann", // crossJoin(broadcast(queries)): the q41/q129
                         // ANN candidate shape over packed sign bits
      "q190_matryoshka_ann", // crossJoin(broadcast(queries)): the same
                             // shape over prefix-dim int8 vectors
      "q198_ccw_prevalence_qa", // prevalence x broadcast 1-row
                                // population total (the q128/q176
                                // renormalizer shape)
      "q202_stable_ids", // newcomers x broadcast 1-row kept-count
                         // offset (the q169 scalar shape)
      "q205_apcd_etl_log", // new files x broadcast 1-row prior-max id +
                           // file series x 1-row counts (q169 shape)
      "q206_etl_batch_ids", // requests x broadcast 1-row latest id
                            // (the q202 numbering-offset shape)
      "q248_apcd_import_chain", // the q205 chain run to completion —
                                // same new-files x broadcast 1-row
                                // prior-max id + file-series x 1-row
                                // counts (q169 scalar shape)
      "q208_cdr_file_prep", // rollup x broadcast 1-row terminator-check
                            // flag (the q128 renormalizer shape)
      "q210_decontam_pipeline", // counts x broadcast 1-row minP bound,
                                // then q78's broadcast probe shape
      "q212_stratified_sample", // strata x 1-row totals/leftover + the
                                // TopN n x n remainder-rank self-join
      "q217_jl_ann", // crossJoin(broadcast(queries)): the q41/q129 ANN
                     // candidate shape over JL projections
      "q219_kanon_ladder", // per-level stats x broadcast 1-row chosen-
                           // level min (the q128 renormalizer shape)
      "q220_pagerank", // teleport/dangling 1-row broadcasts + the TopN
                       // n x n rank self-join (the q15/q62 shape)
      "q224_apcd_preg_episode", // Moll prefix LIKE-join: DISTINCT code
                                // vocabulary x broadcast endpoint ref
                                // (the q144 vocabulary-first shape;
                                // fact rows join the expansion exactly)
      "q226_mcare_naloxone", // the q144 NDC contains-join shape over
                             // the mcare sources
      "q233_temperature_sample", // domain frame x broadcast 1-row
                                 // min-token total (the q128
                                 // renormalizer shape)
      "q237_delete_data_year", // per-table before-count x broadcast
                               // 1-row after-agg audit (the q169
                               // scalar shape)
      "q239_epoch_upsample", // domain frame x broadcast 1-row
                             // max-token total (the q128 shape)
      "q242_zorder_layout", // per-layout totals x broadcast 1-row
                            // probe-touch agg (the q237 audit shape)
      "q265_dsir_select", // bucket dim x broadcast 1-row corpus totals
                          // (the q172 renormalizer shape) + the TopN
                          // n x n rank self-join (the q15/q62 shape)
      "q266_balanced_shards", // partition-sum dim (#partitions rows) x
                              // broadcast prefix self-join on < — the
                              // two-phase prefix-sum offset table
      "q267_weighted_sample", // the TopN n x n rank self-join (the
                              // q15/q62 shape) over A-Res keys
      "q268_shard_manifest", // composes q266's prefix-sum offset
                             // self-join (the same bounded dim)
      "q269_stream_drift", // emitted-hours dim x broadcast type
                           // reference + 1-row total (the q128
                           // renormalizer shape, post-stream)
      "q274_funnel", // 1-row step totals crossed (the q263
                     // scalar-accounting shape)
      "q275_pmi_collocations", // 1-row ntok/nbg totals crossed (q128
                               // shape) + the TopN rank self-join
      "q325_apcd_timevar_month_qa", // month allocation: timevar x
                                    // broadcast ~84-row month spine on
                                    // interval overlap (the q114
                                    // member-month-spine shape)
      "q286_chronic_meds") // regex-containment theta join: the curated
                           // med list is a broadcast dim probed by
                           // rlike against the DISTINCT drug-name
                           // vocabulary — non-equi by nature, the
                           // designed fuzzyjoin::regex_left_join shape
    val skip = Set("q48_stream_hourly", "q57_config_csv_orc",
      "q58_incremental_refresh", "q59_qa_suite", "q65_stream_sessions",
      "q201_cdr_raw_load") // write-path round-trip, like q57
    val offenders = SparkEntry.queries.keys.filterNot(skip).flatMap { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      val cart = p.contains("CartesianProduct")
      val bnl = p.contains("BroadcastNestedLoopJoin") && !intendedBnl(name)
      if (cart) Some(s"$name: CartesianProduct")
      else if (bnl) Some(s"$name: BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, s"unintended cross joins: $offenders")
  }

  test("q159 flag cascade plans a bounded number of joins and scans") {
    // Each DataFrame val is inlined at every use, so a set-algebra
    // cascade of semi/anti joins duplicates its input subtrees once per
    // use. Over one parquet relation per input, the aggregation shape
    // reads icdcm and demo twice, the others once, with three joins.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("q159_plan")
    try {
      def rel(name: String, df: org.apache.spark.sql.DataFrame) = {
        val p = root.resolve(name).toString
        df.write.parquet(p)
        spark.read.parquet(p)
      }
      val icdcm = rel("icdcm", Seq((1L, 10L, "F640", 10))
        .toDF("id_mcaid", "claim_header_id", "icdcm_norm", "icdcm_version"))
      val proc = rel("proc", Seq((1L, 10L, "15757"))
        .toDF("id_mcaid", "claim_header_id", "procedure_code"))
      val pharm = rel("pharm", Seq((1L, "n1")).toDF("id_mcaid", "ndc"))
      val demo = rel("demo", Seq((1L, "Female")).toDF("id_mcaid", "gender_me"))
      val ndcRef = rel("ndcref", Seq(("n1", "ESTRADIOL", "TABLET", "1", "MG"))
        .toDF("ndc", "nonproprietaryname", "dosageformname",
          "active_numerator_strength", "active_ingred_unit"))
      val optimized = graft.builds.EligDemoExtra
        .build(icdcm, proc, pharm, demo, ndcRef).queryExecution.optimizedPlan
      val joins = optimized.collect { case j: Join => j }.size
      val scans = optimized.collectLeaves().collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.head.getName
          case other => other.toString
        }
      }.groupBy(identity).view.mapValues(_.size).toMap
      assert(joins <= 6, s"$joins joins:\n$optimized")
      assert(scans.keySet === Set("icdcm", "proc", "pharm", "demo", "ndcref"),
        s"inputs lost or unrecognised: $scans")
      assert(scans.values.forall(_ <= 2), s"inputs re-scanned: $scans")
    } finally graft.queries.LifecycleQueries.deleteRecursively(root.toFile)
  }

  test("q207 probes corpus grams in one kernel: no explode, no lambda") {
    // the Bloom probe builds, hashes and tests each doc's grams inside one
    // row expression; a Generate would mean one row per corpus gram, a
    // lambda an interpreted transform over them
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
      LambdaFunction}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val optimized = SparkEntry.queries("q207_bloom_decontam")(spark, sf)
      .queryExecution.optimizedPlan
    val generates = optimized.collect { case g: Generate => g }
    val lambdas = optimized.flatMap(_.expressions.flatMap(_.collect {
      case e: LambdaFunction => e
      case e: ArrayTransform => e
    }))
    assert(generates.isEmpty, s"per-gram Generate in q207:\n$optimized")
    assert(lambdas.isEmpty, s"lambda in q207:\n$optimized")
  }
}
