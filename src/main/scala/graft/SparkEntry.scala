package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Timeline}
import graft.queries.{RelationalQueries => R, TextQueries => T, VectorQueries => V, WindowQueries => W}
import graft.streaming.EventStream

/** Driver contract — the full operator catalog (SURVEY.md §2) exposed as
  * named queries over the driver testdata, each paired (where ANSI-SQL
  * expressible) with DuckDB oracle SQL in [[oracleSql]]. Non-SQL operators
  * (LSH dedup, IVF ANN, iterative timeline, multimodal decode, streaming)
  * get rows-only checks plus ScalaTest specs.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the claims_elig cohort API end-to-end — the reference's primary user
    * entry point through the full temporal kernel (interval collapse, window
    * clipping, covgap, one-pass weighted modes, param predicates). */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.CohortQueries.q49ClaimsElig(spark, "/root/testdata/sf0.001")

  /** §2.9 iterative greedy timeline admission (pregnancy-episode WHILE loop)
    * via flatMapGroups; per-user episode rollup for a stable shape. */
  def qTimeline(s: SparkSession, dir: String): DataFrame =
    Timeline.greedyEpisodes(
        graft.queries.Q.t(s, dir, "events"), minGapDays = 2)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_episodes"),
        min(col("start_event_id")).as("first_event_id"),
        max(col("episode_seq")).as("max_seq"))
      .orderBy(col("user_id"))

  /** Multimodal plumbing: binary media column + stub decode features. */
  def qMultimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.withMediaColumn(s.read.parquet(s"$dir/documents.parquet")))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        round(element_at(col("feature"), 1), 4).as("f0"))
      .orderBy(col("doc_id"))

  /** Video-shaped frame sampling: fixed-size binary frames, every 2nd kept
    * (sampled BEFORE the explode), per-frame stub decode, per-doc rollup. */
  def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.sampleFrames(
      Multimodal.withMediaColumn(s.read.parquet(s"$dir/documents.parquet")),
      frameBytes = 64, stride = 2)
    Multimodal.frameFeatures(frames)
      .groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        count(lit(1)).as("n_sampled"),
        max(when(col("frame_idx") === 0, col("f_int"))).as("f0"),
        sum(col("f_int")).as("f_sum"))
      .orderBy(col("doc_id"))
  }

  /** Streaming exact dedup over a doubled source: every event arrives
    * twice; bounded-state dropDuplicatesWithinWatermark must restore
    * batch-distinct semantics exactly (the oracle is the plain batch
    * aggregate of the single-copy table). */
  def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    EventStream.dedupStream(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
      .orderBy(col("event_type"))

  /** Structured Streaming hourly rollup (append mode + file sink; only
    * watermark-finalized windows are emitted — the oracle applies the same
    * cutoff). */
  def qStream(s: SparkSession, dir: String): DataFrame =
    EventStream.hourlyRollup(s, dir)
      .select(col("hour_ts").as("hour_start"), col("event_type"),
        col("n"), col("val"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Stream-static enrichment rollup: the stream left-joined to a
    * broadcast static dim (with a dim-side filter), then watermarked
    * window aggregation — stateless join, bounded agg state. */
  def qStreamEnrich(s: SparkSession, dir: String): DataFrame =
    EventStream.enrichedRollup(s, dir)

  def qStreamJoin(s: SparkSession, dir: String): DataFrame =
    EventStream.clickPurchaseJoin(s, dir)

  /** Stream-stream LEFT OUTER interval join: matched pairs plus
    * watermark-finalized never-converted clicks. */
  def qStreamLeftJoin(s: SparkSession, dir: String): DataFrame =
    EventStream.clickPurchaseLeftJoin(s, dir)

  /** Streaming hash-split + per-split rollup: the q123 md5 range cut as
    * a stateless stream Column, then watermarked hourly windows. */
  def qStreamSplit(s: SparkSession, dir: String): DataFrame =
    EventStream.splitRollup(s, dir)

  /** Streaming Count-Min grid: the q209 cell explode stateless in-stream,
    * hourly per-(row, bucket) counts under the watermark. */
  def qStreamCms(s: SparkSession, dir: String): DataFrame =
    EventStream.cmsRollup(s, dir)

  def qStreamDrift(s: SparkSession, dir: String): DataFrame =
    EventStream.driftMonitor(s, dir)

  def qStreamHll(s: SparkSession, dir: String): DataFrame =
    EventStream.hllRollup(s, dir)

  def qStreamNearDup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.DocStream.nearDupGate(s, dir)

  /** One entry per implemented operator from SURVEY.md §2, in insertion
    * order (ListMap). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
    "q01_agg" -> (R.q1Agg _),
    "q02_filter_pred" -> (R.q2FilterPred _),
    "q03_join_inner" -> (R.q3JoinInner _),
    "q04_join_left" -> (R.q4JoinLeft _),
    "q05_join_semi" -> (R.q5JoinSemi _),
    "q06_join_anti" -> (R.q6JoinAnti _),
    "q07_join_full" -> (R.q7JoinFull _),
    "q08_join_range" -> (R.q8JoinRange _),
    "q09_join_theta_prefix" -> (R.q9JoinThetaPrefix _),
    "q10_cross_spine" -> (R.q10CrossSpine _),
    "q11_agg_cond" -> (R.q11AggCond _),
    "q12_count_distinct" -> (R.q12CountDistinct _),
    "q13_mode" -> (W.q13Mode _),
    "q14_weighted_mode" -> (W.q14WeightedMode _),
    "q15_topn" -> (R.q15TopN _),
    "q16_greatest_least" -> (R.q16GreatestLeast _),
    "q17_median" -> (R.q17Median _),
    "q18_tabloop" -> (R.q18Tabloop _),
    "q19_suppress" -> (R.q19Suppress _),
    "q20_pct_of_group" -> (R.q20PctOfGroup _),
    "q21_lag_gaps" -> (W.q21LagGaps _),
    "q22_sessions" -> (W.q22Sessions _),
    "q23_rolling" -> (W.q23Rolling _),
    "q24_running_fill" -> (W.q24RunningFill _),
    "q25_rank_select" -> (W.q25RankSelect _),
    "q26_episodes" -> (W.q26Episodes _),
    "q27_union_nullpad" -> (R.q27UnionNullpad _),
    "q28_setops" -> (R.q28SetOps _),
    "q29_scalar_dates" -> (W.q29ScalarDates _),
    "q30_scalar_strings" -> (W.q30ScalarStrings _),
    "q31_unpivot" -> (W.q31Unpivot _),
    "q32_case_bucket" -> (W.q32CaseBucket _),
    "q33_incremental_merge" -> (R.q33IncrementalMerge _),
    "q34_dedup_exact" -> (T.q34DedupExact _),
    "q35_text_profile" -> (T.q35TextProfile _),
    "q36_langid" -> (T.q36LangId _),
    "q37_fingerprint" -> (T.q36bFingerprint _),
    "q38_minhash_neardup" -> (T.q37MinhashDedup _),
    "q39_simhash_neardup" -> (T.q38Simhash _),
    "q40_ngram_jaccard" -> (T.q39NgramJaccard _),
    "q41_ann_brute" -> (V.q40AnnBrute _),
    "q42_ann_ivf" -> (V.q42AnnIvfInt _),
    "q42b_ivf_probe" -> (V.q42bIvfProbe _),
    "q43_embedding_neardup" -> (V.q42EmbeddingNearDup _),
    "q44_timeline_episodes" -> (qTimeline _),
    "q45_multimodal" -> (qMultimodal _),
    "q46_interval_collapse" -> (W.q47IntervalCollapse _),
    "q47_clip_days" -> (W.q48ClipDays _),
    "q48_stream_hourly" -> (qStream _),
    "q49_claims_elig" -> (graft.queries.CohortQueries.q49ClaimsElig _),
    "q50_join_right" -> (graft.queries.JoinQueries.q50JoinRight _),
    "q51_theta_or" -> (graft.queries.JoinQueries.q51ThetaOr _),
    "q52_submonth_trim" -> (graft.queries.JoinQueries.q52SubmonthTrim _),
    "q53_islands_arith" -> (graft.queries.JoinQueries.q53IslandsArithmetic _),
    "q54_recent_pick" -> (graft.queries.JoinQueries.q54RecentPick _),
    "q55_selfjoin_twice" -> (graft.queries.JoinQueries.q55SelfJoinTwice _),
    "q56_rlike_pattern" -> (graft.queries.JoinQueries.q56RlikePattern _),
    "q57_config_csv_orc" -> (graft.queries.LifecycleQueries.q57ConfigCsvOrc _),
    "q58_incremental_refresh" -> (graft.queries.LifecycleQueries.q58IncrementalRefresh _),
    "q59_qa_suite" -> (graft.queries.BuildQueries.q59QaSuite _),
    "q60_perf_measures" -> (graft.queries.BuildQueries.q60PerfMeasures _),
    "q61_condition_loop" -> (graft.queries.BuildQueries.q61ConditionLoop _),
    "q62_top_causes" -> (graft.queries.BuildQueries.q62TopCauses _),
    "q63_claims_condition" -> (graft.queries.BuildQueries.q63ClaimsCondition _),
    "q64_elig_timevar" -> (graft.queries.BuildQueries.q64EligTimevar _),
    "q65_stream_sessions" -> ((s: SparkSession, dir: String) =>
      EventStream.sessionizeStream(s, dir)),
    "q66_claim_header" -> (graft.queries.BuildQueries.q66ClaimHeader _),
    "q67_elig_demo" -> (graft.queries.BuildQueries.q67EligDemo _),
    "q68_elig_month" -> (graft.queries.BuildQueries.q68EligMonth _),
    "q69_salted_agg" -> (graft.queries.BuildQueries.q69SaltedAgg _),
    "q70_id_xwalk" -> (graft.queries.BuildQueries.q70IdXwalk _),
    "q71_sql_api" -> (graft.queries.BuildQueries.q71SqlApi _),
    "q72_winnow_overlap" -> (T.q72WinnowOverlap _),
    "q73_weighted_mode_agg" -> (W.q73WeightedModeAgg _),
    "q74_bucketed_join" -> (graft.queries.LifecycleQueries.q74BucketedJoin _),
    "q75_frame_sample" -> (qFrameSample _),
    "q76_approx_sketches" -> (R.q76ApproxSketches _),
    "q77_stream_dedup" -> (qStreamDedup _),
    "q78_contamination" -> (T.q78Contamination _),
    "q79_claim_icdcm" -> (graft.queries.NormalizeQueries.q79ClaimIcdcm _),
    "q80_claim_procedure" -> (graft.queries.NormalizeQueries.q80ClaimProcedure _),
    "q81_claim_pharm" -> (graft.queries.NormalizeQueries.q81ClaimPharm _),
    "q82_elig_plr" -> (graft.queries.PlrBhQueries.q82EligPlr _),
    "q84_preg_episode" -> (graft.queries.BuildQueries.q84PregEpisode _),
    "q85_multisource_union" -> (graft.queries.BuildQueries.q85MultiSourceUnion _),
    "q86_year_sections" -> (graft.queries.LifecycleQueries.q86YearSections _),
    "q87_fua_measure" -> (graft.queries.BuildQueries.q87FuaMeasure _),
    "q88_table_profile" -> (graft.queries.BuildQueries.q88TableProfile _),
    "q89_preg_windows" -> (graft.queries.BuildQueries.q89PregWindows _),
    "q90_preg_ga_correct" -> (graft.queries.BuildQueries.q90PregGaCorrect _),
    "q91_preg_full" -> (graft.queries.BuildQueries.q91PregFull _),
    "q92_claim_moud" -> (graft.queries.BuildQueries.q92ClaimMoud _),
    "q93_elig_timevar_apcd" -> (graft.queries.BuildQueries.q93EligTimevarApcd _),
    "q94_value_list" -> (graft.queries.BuildQueries.q94ValueList _),
    "q95_payment_union" -> (graft.queries.BuildQueries.q95PaymentUnion _),
    "q96_fuh_measure" -> (graft.queries.BuildQueries.q96FuhMeasure _),
    "q97_pcr_readmit" -> (graft.queries.BuildQueries.q97PcrReadmit _),
    "q98_mcare_claim_header" -> (graft.queries.BuildQueries.q98McareClaimHeader _),
    "q99_timevar_collapse" -> (graft.queries.BuildQueries.q99TimevarCollapse _),
    "q100_hospice_denom" -> (graft.queries.BuildQueries.q100HospiceDenom _),
    "q102_fum_measure" -> (graft.queries.BuildQueries.q102FumMeasure _),
    "q103_repetition_profile" -> (T.q103RepetitionProfile _),
    "q104_semdedup" -> (V.q104SemDedup _),
    "q105_mcaid_mcare_header" -> (graft.queries.BuildQueries.q105McaidMcareHeader _),
    "q106_ah_numerator" -> (graft.queries.BuildQueries.q106AhNumerator _),
    "q107_quality_filter" -> (T.q107QualityFilter _),
    "q108_token_budget" -> (T.q108TokenBudget _),
    "q101_enroll_provider" -> (graft.queries.BuildQueries.q101EnrollProvider _),
    "q83_claim_bh" -> (graft.queries.PlrBhQueries.q83ClaimBh _),
    "q109_tpm_staging" -> (graft.queries.BuildQueries.q109TpmStaging _),
    "q110_tpm_by_dx" -> (graft.queries.BuildQueries.q110TpmByDx _),
    "q111_cap_visits" -> (graft.queries.BuildQueries.q111CapVisits _),
    "q112_mh_aod_ed" -> (graft.queries.BuildQueries.q112MhAodEd _),
    "q113_dup_components" -> (T.q113Components _),
    "q114_enroll_denom" -> (graft.queries.BuildQueries.q114EnrollDenom _),
    "q115_pqi_ed" -> (graft.queries.BuildQueries.q115PqiEd _),
    "q116_vocab_coverage" -> (T.q116VocabCoverage _),
    "q117_json_extract" -> (R.q117JsonExtract _),
    "q118_mcaid_mcare_timevar" ->
      (graft.queries.BuildQueries.q118McaidMcareTimevar _),
    "q119_mcaid_mcare_demo" ->
      (graft.queries.BuildQueries.q119McaidMcareDemo _),
    "q120_line_dedup" -> (T.q120LineDedup _),
    "q121_pack_sequences" -> (T.q121PackSequences _),
    "q122_redact_pii" -> (T.q122RedactPii _),
    "q123_hash_split" -> (T.q123HashSplit _),
    "q124_pqi_inpatient" ->
      (graft.queries.BuildQueries.q124PqiInpatient _),
    "q125_tpo_staging" -> (graft.queries.BuildQueries.q125TpoStaging _),
    "q126_ed_visit_num" -> (graft.queries.BuildQueries.q126EdVisitNum _),
    "q127_mcare_timevar" ->
      (graft.queries.BuildQueries.q127McareTimevar _),
    "q128_mixture_weights" -> (T.q128MixtureWeights _),
    "q129_quantized_ann" -> (V.q129QuantizedAnn _),
    "q130_stream_enrich" -> (qStreamEnrich _),
    "q131_mcare_demo" -> (graft.queries.BuildQueries.q131McareDemo _),
    "q132_chunk_docs" -> (T.q132ChunkDocs _),
    "q133_pipeline" -> (T.q133Pipeline _),
    "q134_bm25" -> (T.q134Bm25 _),
    "q135_perplexity" -> (T.q135Perplexity _),
    "q136_stream_join" -> (qStreamJoin _),
    "q137_lcs" -> (T.q137Lcs _),
    "q138_embed_pipeline" -> (V.q138EmbedPipeline _),
    "q139_mcaid_mcare_line" -> (graft.queries.BuildQueries.q139McaidMcareLine _),
    "q140_mcaid_mcare_icdcm" -> (graft.queries.BuildQueries.q140McaidMcareIcdcm _),
    "q141_mcaid_mcare_procedure" -> (graft.queries.BuildQueries.q141McaidMcareProcedure _),
    "q142_apcd_claim_header" -> (graft.queries.BuildQueries.q142ApcdClaimHeader _),
    "q143_apcd_injury" -> (graft.queries.BuildQueries.q143ApcdInjury _),
    "q144_naloxone" -> (graft.queries.BuildQueries.q144Naloxone _),
    "q145_amr" -> (graft.queries.BuildQueries.q145Amr _),
    "q146_address_clean" -> (graft.queries.BuildQueries.q146AddressClean _),
    "q147_address_geocode" -> (graft.queries.BuildQueries.q147AddressGeocode _),
    "q148_housing_status" -> (graft.queries.BuildQueries.q148HousingStatus _),
    "q149_apcd_claim_line" -> (graft.queries.BuildQueries.q149ApcdClaimLine _),
    "q150_apcd_claim_icdcm" -> (graft.queries.BuildQueries.q150ApcdClaimIcdcm _),
    "q151_apcd_claim_procedure" -> (graft.queries.BuildQueries.q151ApcdClaimProcedure _),
    "q152_apcd_elig_demo" -> (graft.queries.BuildQueries.q152ApcdEligDemo _),
    "q153_mcaid_mcare_bh" -> (graft.queries.BuildQueries.q153McaidMcareBh _),
    "q154_mcaid_mcare_ccw" -> (graft.queries.BuildQueries.q154McaidMcareCcw _),
    "q155_apde_xwalk" -> (graft.queries.BuildQueries.q155ApdeXwalk _),
    "q156_apcd_elig_month" -> (graft.queries.BuildQueries.q156ApcdEligMonth _),
    "q157_mcare_claim_pharm" -> (graft.queries.BuildQueries.q157McareClaimPharm _),
    "q158_mcare_claim_provider" -> (graft.queries.BuildQueries.q158McareClaimProvider _),
    "q159_elig_demo_extra" -> (graft.queries.BuildQueries.q159EligDemoExtra _),
    "q160_perf_member_month" -> (graft.queries.BuildQueries.q160PerfEligMemberMonth _),
    "q161_hybrid_retrieval" -> (T.q161HybridRetrieval _),
    "q162_pq_ann" -> (V.q162PqAnn _),
    "q163_ivf_pq" -> (V.q163IvfPq _),
    "q164_load_file_qa" -> (graft.queries.BuildQueries.q164LoadFileQa _),
    "q165_claim_value_set" -> (graft.queries.BuildQueries.q165ClaimValueSet _),
    "q166_apcd_elig_plr" -> (graft.queries.BuildQueries.q166ApcdEligPlr _),
    "q167_mcare_elig_month" -> (graft.queries.BuildQueries.q167McareEligMonth _),
    "q168_mcare_mbsf" -> (graft.queries.BuildQueries.q168McareMbsf _),
    "q169_mcaid_claim_stage" -> (graft.queries.BuildQueries.q169McaidClaimStage _),
    "q170_edb_xwalk" -> (graft.queries.BuildQueries.q170EdbXwalk _),
    "q171_demo_summary" -> (graft.queries.BuildQueries.q171DemoSummary _),
    "q172_dsir_weights" -> (T.q172DsirWeights _),
    "q173_quality_classifier" -> (T.q173QualityClassifier _),
    "q174_mmr_rerank" -> (V.q174MmrRerank _),
    "q175_exact_substr" -> (T.q175ExactSubstr _),
    "q176_stupid_backoff" -> (T.q176StupidBackoff _),
    "q177_claim_header_qa" -> (graft.queries.BuildQueries.q177ClaimHeaderQa _),
    "q178_cluster_cap" -> (T.q178ClusterCapSample _),
    "q179_hard_negatives" -> (V.q179HardNegatives _),
    "q180_stream_split" -> (qStreamSplit _),
    "q181_bpe_merges" -> (T.q181BpeMerges _),
    "q182_bpe_encode" -> (T.q182BpeEncode _),
    "q183_mcare_claim_line" -> (graft.queries.BuildQueries.q183McareClaimLine _),
    "q184_mcare_claim_icdcm" -> (graft.queries.BuildQueries.q184McareClaimIcdcm _),
    "q185_mcare_claim_procedure" -> (graft.queries.BuildQueries.q185McareClaimProcedure _),
    "q186_mcaid_elig_stage" -> (graft.queries.BuildQueries.q186McaidEligStage _),
    "q187_elig_dup_probes" -> (graft.queries.BuildQueries.q187EligDupProbes _),
    "q188_address_clean_full" -> (graft.queries.BuildQueries.q188AddressCleanFull _),
    "q189_binary_ann" -> (V.q189BinaryAnn _),
    "q190_matryoshka_ann" -> (V.q190MatryoshkaAnn _),
    "q191_ngram_novelty" -> (T.q191NgramNovelty _),
    "q192_mcaid_cohort" -> (graft.queries.BuildQueries.q192McaidCohort _),
    "q193_mcaid_claims_simple" ->
      (graft.queries.BuildQueries.q193McaidClaimsSimple _),
    "q194_tsql_split" -> (graft.queries.BuildQueries.q194TsqlSplit _),
    "q195_geo_overlay" -> (graft.queries.BuildQueries.q195GeoOverlay _),
    "q196_edit_distance_join" -> (T.q196EditDistanceJoin _),
    "q197_knn_graph" -> (V.q197KnnGraph _),
    "q198_ccw_prevalence_qa" ->
      (graft.queries.BuildQueries.q198CcwPrevalenceQa _),
    "q199_stream_left_join" -> (qStreamLeftJoin _),
    "q200_jsd_matrix" -> (T.q200JsdMatrix _),
    "q201_cdr_raw_load" ->
      (graft.queries.LifecycleQueries.q201CdrRawLoad _),
    "q202_stable_ids" -> (graft.queries.BuildQueries.q202StableIds _),
    "q203_study_extract" ->
      (graft.queries.BuildQueries.q203StudyExtract _),
    "q204_batch_export" ->
      (graft.queries.LifecycleQueries.q204BatchExport _),
    "q205_apcd_etl_log" ->
      (graft.queries.LifecycleQueries.q205ApcdEtlLog _),
    "q206_etl_batch_ids" ->
      (graft.queries.LifecycleQueries.q206EtlBatchIds _),
    "q207_bloom_decontam" -> (T.q207BloomDecontam _),
    "q208_cdr_file_prep" ->
      (graft.queries.LifecycleQueries.q208CdrFilePrep _),
    "q209_cms_heavy_hitters" -> (T.q209CmsHeavyHitters _),
    "q210_decontam_pipeline" -> (T.q210DecontamPipeline _),
    "q211_stream_cms" -> (qStreamCms _),
    "q212_stratified_sample" -> (T.q212StratifiedSample _),
    "q213_fs_linkage" -> (graft.queries.BuildQueries.q213FsLinkage _),
    "q214_sorted_neighborhood" ->
      (graft.queries.BuildQueries.q214SortedNeighborhood _),
    "q215_split_leakage" -> (T.q215SplitLeakage _),
    "q216_incremental_dedup" -> (T.q216IncrementalDedup _),
    "q217_jl_ann" -> (V.q217JlAnn _),
    "q218_scd2_merge" ->
      (graft.queries.LifecycleQueries.q218Scd2Merge _),
    "q219_kanon_ladder" ->
      (graft.queries.BuildQueries.q219KAnonLadder _),
    "q220_pagerank" -> (T.q220PageRank _),
    "q221_asof_join" -> (graft.queries.JoinQueries.q221AsOfJoin _),
    "q222_versioned_enrich" ->
      (graft.queries.LifecycleQueries.q222VersionedEnrich _),
    "q223_freq_linkage" ->
      (graft.queries.BuildQueries.q223FreqLinkage _),
    "q224_apcd_preg_episode" ->
      (graft.queries.BuildQueries.q224ApcdPregEpisode _),
    "q225_mcare_moud" ->
      (graft.queries.BuildQueries.q225McareClaimMoud _),
    "q226_mcare_naloxone" ->
      (graft.queries.BuildQueries.q226McareNaloxone _),
    "q227_wahbe_prep" ->
      (graft.queries.BuildQueries.q227WahbePrep _),
    "q228_mcare_pharm_char" ->
      (graft.queries.BuildQueries.q228McarePharmChar _),
    "q229_mcare_bh" -> (graft.queries.BuildQueries.q229McareBh _),
    "q230_mcare_ccw" -> (graft.queries.BuildQueries.q230McareCcw _),
    "q231_url_dedup" -> (T.q231UrlDedup _),
    "q232_bene_ssn" -> (graft.queries.BuildQueries.q232BeneSsn _),
    "q233_temperature_sample" -> (T.q233TemperatureSample _),
    "q234_fua_follow_up" ->
      (graft.queries.BuildQueries.q234FuaFollowUp _),
    "q235_fua_join_step" ->
      (graft.queries.BuildQueries.q235FuaJoinStep _),
    "q236_apcd_bh" -> (graft.queries.BuildQueries.q236ApcdBh _),
    "q237_delete_data_year" ->
      (graft.queries.LifecycleQueries.q237DeleteDataYear _),
    "q238_export_metadata" ->
      (graft.queries.LifecycleQueries.q238ExportMetadata _),
    "q239_epoch_upsample" -> (T.q239EpochUpsample _),
    "q240_snapshot_diff" ->
      (graft.queries.LifecycleQueries.q240SnapshotDiff _),
    "q241_data_card_cube" -> (T.q241DataCardCube _),
    "q242_zorder_layout" ->
      (graft.queries.LifecycleQueries.q242ZorderLayout _),
    "q243_label_prop" -> (T.q243LabelProp _),
    "q244_apcd_ccw" -> (graft.queries.BuildQueries.q244ApcdCcw _),
    "q245_ccw_new_criteria_qa" ->
      (graft.queries.BuildQueries.q245CcwNewCriteriaQa _),
    "q246_apcd_header_qa" ->
      (graft.queries.BuildQueries.q246ApcdHeaderQa _),
    "q247_quarterly_refresh_qa" ->
      (graft.queries.BuildQueries.q247QuarterlyRefreshQa _),
    "q248_apcd_import_chain" ->
      (graft.queries.LifecycleQueries.q248ApcdImportChain _),
    "q249_stream_neardup_gate" -> (qStreamNearDup _),
    "q250_hard_negatives" -> (T.q250HardNegatives _),
    "q251_doremi_weights" -> (T.q251DoremiWeights _),
    "q252_curriculum_order" -> (T.q252Curriculum _),
    "q253_chunk_pairs" -> (T.q253ChunkPairs _),
    "q254_tokenizer_fertility" -> (T.q254TokenizerFertility _),
    "q255_int_hll" -> (T.q255IntHll _),
    "q256_hll_merge" -> (T.q256HllMerge _),
    "q257_hist_quantiles" -> (T.q257HistQuantiles _),
    "q258_triangles" -> (T.q258Triangles _),
    "q259_kcore" -> (T.q259Kcore _),
    "q260_linkage_em" ->
      (graft.queries.BuildQueries.q260LinkageEm _),
    "q261_retrieval_eval" -> (T.q261RetrievalEval _),
    "q262_purity_vote" -> (T.q262PurityVote _),
    "q263_purge_sweep" -> (T.q263PurgeSweep _),
    "q264_leakfree_split" -> (T.q264LeakFreeSplit _),
    "q265_dsir_select" -> (T.q265DsirSelect _),
    "q266_balanced_shards" -> (T.q266BalancedShards _),
    "q267_weighted_sample" -> (T.q267WeightedSample _),
    "q268_shard_manifest" -> (T.q268ShardManifest _),
    "q269_stream_drift" -> (qStreamDrift _),
    "q270_cdc_chunks" -> (T.q270CdcChunks _),
    "q271_chunk_dedup" -> (T.q271ChunkDedup _),
    "q272_stream_hll" -> (qStreamHll _),
    "q273_event_transitions" -> (W.q273EventTransitions _),
    "q274_funnel" -> (W.q274Funnel _),
    "q275_pmi_collocations" -> (T.q275PmiCollocations _),
    "q276_lsh_audit" -> (T.q276LshAudit _),
    "q277_chunk_update_cost" -> (T.q277ChunkUpdateCost _),
    "q278_mcaid_mcare_pipeline" ->
      (graft.queries.BuildQueries.q278McaidMcarePipeline _),
    "q279_analytic_pipeline" ->
      (graft.queries.BuildQueries.q279AnalyticPipeline _),
    "q280_address_clean_partial_qa" ->
      (graft.queries.BuildQueries.q280AddressCleanPartialQa _),
    "q281_address_geocode_chain" ->
      (graft.queries.BuildQueries.q281AddressGeocodeChain _),
    "q282_icdcm_refresh" ->
      (graft.queries.LifecycleQueries.q282IcdcmRefresh _),
    "q283_apcd_provider_npi" ->
      (graft.queries.LifecycleQueries.q283ApcdProviderNpi _),
    "q284_ethnicity_map_check" ->
      (graft.queries.LifecycleQueries.q284EthnicityMapCheck _),
    "q285_provider_npi_qa" ->
      (graft.queries.LifecycleQueries.q285ProviderNpiQa _),
    "q286_chronic_meds" ->
      (graft.queries.BuildQueries.q286ChronicMeds _),
    "q287_csv_to_table" ->
      (graft.queries.BuildQueries.q287CsvToTable _),
    "q288_elig_demo_qa" ->
      (graft.queries.BuildQueries.q288EligDemoQa _),
    "q289_elig_timevar_qa" ->
      (graft.queries.BuildQueries.q289EligTimevarQa _),
    "q290_date_dim" ->
      (graft.queries.LifecycleQueries.q290DateDim _),
    "q291_date_dim_qa" ->
      (graft.queries.LifecycleQueries.q291DateDimQa _),
    "q292_claim_icdcm_qa" ->
      (graft.queries.ClaimQaQueries.q292IcdcmHeaderQa _),
    "q293_claim_line_qa" ->
      (graft.queries.ClaimQaQueries.q293ClaimLineQa _),
    "q294_claim_procedure_qa" ->
      (graft.queries.ClaimQaQueries.q294ClaimProcedureQa _),
    "q295_claim_pharm_qa" ->
      (graft.queries.ClaimQaQueries.q295ClaimPharmQa _),
    "q296_claim_bh_qa" ->
      (graft.queries.ClaimQaQueries.q296ClaimBhQa _),
    "q297_claim_moud_qa" ->
      (graft.queries.ClaimQaQueries.q297ClaimMoudQa _),
    "q298_claim_naloxone_qa" ->
      (graft.queries.ClaimQaQueries.q298ClaimNaloxoneQa _),
    "q299_preg_episode_qa" ->
      (graft.queries.ClaimQaQueries.q299PregEpisodeQa _),
    "q300_housing_qa" ->
      (graft.queries.ClaimQaQueries.q300HousingQa _),
    "q301_perf_member_month" ->
      (graft.queries.BuildQueries.q301PerfMemberMonth _),
    "q302_mm_elig_demo_qa" ->
      (graft.queries.ClaimQaQueries.q302MmEligDemoQa _),
    "q303_mm_elig_timevar_qa" ->
      (graft.queries.ClaimQaQueries.q303MmEligTimevarQa _),
    "q304_mcare_timevar_qa" ->
      (graft.queries.ClaimQaQueries.q304McareTimevarQa _),
    "q305_xwalk_qa" ->
      (graft.queries.ClaimQaQueries.q305XwalkQa _),
    "q306_mm_header_dup_qa" ->
      (graft.queries.ClaimQaQueries.q306MmHeaderDupQa _),
    "q307_mm_ccw_qa" ->
      (graft.queries.ClaimQaQueries.q307MmCcwQa _),
    "q308_rac_code" ->
      (graft.queries.LifecycleQueries.q308RacCode _),
    "q309_rac_code_qa" ->
      (graft.queries.LifecycleQueries.q309RacCodeQa _),
    "q310_kc_provider_master" ->
      (graft.queries.LifecycleQueries.q310KcProviderMaster _),
    "q311_age_grp" ->
      (graft.queries.LifecycleQueries.q311AgeGrp _),
    "q312_carrier_npi" ->
      (graft.queries.LifecycleQueries.q312CarrierNpi _),
    "q313_comorb_scores" ->
      (graft.queries.LifecycleQueries.q313ComorbScores _),
    "q314_ndc_codes" ->
      (graft.queries.LifecycleQueries.q314NdcCodes _),
    "q315_perceptron_train" ->
      (graft.queries.TextQueries.q315PerceptronTrain _),
    "q316_apcd_claim_provider" ->
      (graft.queries.BuildQueries.q316ApcdClaimProvider _),
    "q317_apcd_claim_provider_qa" ->
      (graft.queries.ClaimQaQueries.q317ApcdClaimProviderQa _),
    "q318_apcd_elig_demo_qa" ->
      (graft.queries.ClaimQaQueries.q318ApcdEligDemoQa _),
    "q319_apcd_elig_plr_qa" ->
      (graft.queries.ClaimQaQueries.q319ApcdEligPlrQa _),
    "q320_apcd_ccw_line_qa" ->
      (graft.queries.ClaimQaQueries.q320ApcdCcwLineQa _),
    "q321_nppes_apde_load" ->
      (graft.queries.LifecycleQueries.q321NppesApdeLoad _),
    "q322_hedis_value_sets" ->
      (graft.queries.LifecycleQueries.q322HedisValueSets _),
    "q323_rda_value_sets" ->
      (graft.queries.LifecycleQueries.q323RdaValueSets _),
    "q324_fda_ndc_product" ->
      (graft.queries.LifecycleQueries.q324FdaNdcProduct _),
    "q325_apcd_timevar_month_qa" ->
      (graft.queries.ClaimQaQueries.q325ApcdTimevarMonthQa _),
    "q326_icdcm_enrich" ->
      (graft.queries.LifecycleQueries.q326IcdcmEnrich _),
    "q327_ethnicity_map_load" ->
      (graft.queries.LifecycleQueries.q327EthnicityMapLoad _),
    "q328_claim_type_xwalk" ->
      (graft.queries.LifecycleQueries.q328ClaimTypeXwalk _),
    "q329_ahrq_value_set" ->
      (graft.queries.LifecycleQueries.q329AhrqValueSet _),
    "q330_nppes_load" ->
      (graft.queries.LifecycleQueries.q330NppesLoad _),
    "q331_mcare_ccw_tmp_qa" ->
      (graft.queries.ClaimQaQueries.q331McareCcwTmpQa _),
    "q332_raw_claim_load_qa" ->
      (graft.queries.ClaimQaQueries.q332RawClaimLoadQa _),
    "q333_raw_elig_load_qa" ->
      (graft.queries.ClaimQaQueries.q333RawEligLoadQa _),
    "q334_mcare_raw_normalize" ->
      (graft.queries.LifecycleQueries.q334McareRawNormalize _),
    "q335_mcare_raw_etl" ->
      (graft.queries.LifecycleQueries.q335McareRawEtl _),
    "q336_delivery_qa" ->
      (graft.queries.ClaimQaQueries.q336DeliveryQa _),
  )

  /** q323 oracle — replays the RDA refresh over the q323 fixture; the
    * NO HARMS VALUES list is GENERATED from RefTables.NoHarmsCodes so
    * the 66-code constant cannot drift. */
  private def rdaOracle: String = {
    val nhValues = graft.sources.RefTables.NoHarmsCodes
      .map(c => s"('$c')").mkString(", ")
    s"""
      WITH base AS (SELECT DISTINCT p_partkey % 200 AS pk FROM part),
      newraw AS (
        SELECT pk,
          CASE WHEN pk % 2 = 0 THEN 'mh' ELSE 'sud' END
            AS value_set_group,
          CASE WHEN pk % 7 = 6 THEN 'VS2 ' || CAST(pk % 20 AS VARCHAR)
            ELSE 'VS ' || CAST(pk % 20 AS VARCHAR) END
            AS value_set_name,
          CASE WHEN pk % 7 IN (0,1,2,3,6) THEN 'diagnosis'
            WHEN pk % 7 = 4 THEN 'pharmacy' ELSE 'procedure' END
            AS data_source_type,
          CASE WHEN pk % 7 IN (0,1,2,3,6) THEN 'ICDCM'
            WHEN pk % 7 = 4 THEN 'NDC' ELSE 'HCPCS' END AS code_set,
          CASE WHEN pk % 7 = 0
              THEN lpad(CAST(pk % 20 AS VARCHAR), 3, '0') ||
                (CASE WHEN (pk // 20) % 3 = 0 THEN ''
                  WHEN (pk // 20) % 3 = 1 THEN '0' ELSE '00' END)
            WHEN pk % 7 = 1
              THEN 'E' || lpad(CAST(pk % 80 AS VARCHAR), 3, '0')
            WHEN pk % 7 = 2
              THEN 'V' || lpad(CAST(pk % 90 AS VARCHAR), 2, '0')
            WHEN pk % 7 IN (3,6)
              THEN 'F' || lpad(CAST(pk % 329 AS VARCHAR), 3, '0')
            WHEN pk % 7 = 4
              THEN lpad(CAST((pk * 7) % 99999999 AS VARCHAR),
                CAST(7 + pk % 5 AS INT), '0')
            ELSE 'H' || lpad(CAST(pk % 9999 AS VARCHAR), 4, '0') END
            AS code,
          CASE WHEN pk % 7 = 1 THEN
              (CASE WHEN pk % 2 = 0 THEN 'accidental   poisoning  event'
                ELSE 'allergy note' END)
            WHEN pk % 7 = 4 THEN
              (CASE pk % 8 WHEN 0 THEN 'ACAMPROSATE  calcium'
                WHEN 1 THEN 'sertraline HCL'
                WHEN 2 THEN 'NALTREXONE HCL 50MG'
                WHEN 3 THEN 'BRIXADI' WHEN 4 THEN 'METHYLPHENIDATE'
                WHEN 5 THEN 'LOREEV XR' WHEN 6 THEN 'DISULFIRAM TAB'
                ELSE 'VITAMIN D' END)
            ELSE 'dx  code ' || CAST(pk AS VARCHAR) END AS "desc"
        FROM base),
      n0 AS (SELECT pk, value_set_group, value_set_name,
          data_source_type, code_set, code,
          trim(regexp_replace(upper("desc"), '\\s+', ' ', 'g'))
            AS "desc"
        FROM newraw),
      n1 AS (SELECT *, code AS code_raw,
          CASE WHEN code_set = 'ICDCM'
              AND regexp_matches(code, '^[0-9]') THEN 'ICD9CM'
            WHEN code_set = 'ICDCM' AND regexp_matches(code, '^E')
              AND regexp_matches("desc",
                'POISON|INJURY|INJURIES|INJU|POIS|SELF') THEN 'ICD9CM'
            WHEN code_set = 'ICDCM' AND regexp_matches(code, '^V')
              THEN 'ICD9CM'
            WHEN code_set = 'ICDCM'
              AND regexp_matches(code, '^[A-Za-z]') THEN 'ICD10CM'
            ELSE code_set END AS cs2
        FROM n0),
      padded AS (SELECT DISTINCT value_set_group, value_set_name,
          data_source_type, cs2 AS code_set,
          CASE WHEN cs2 = 'ICD9CM' AND len(code) = 3 THEN code || '00'
            WHEN cs2 = 'ICD9CM' AND len(code) = 4 THEN code || '0'
            WHEN cs2 = 'NDC' AND len(code) BETWEEN 7 AND 10
              THEN lpad(code, 11, '0')
            ELSE code END AS code,
          "desc", code_raw
        FROM n1),
      picked AS (SELECT * FROM (
          SELECT *,
            CASE WHEN code_set IN ('ICD9CM','ICD10CM')
              THEN len(code_raw) END AS crl,
            row_number() OVER (PARTITION BY code ORDER BY
              (CASE WHEN code_set IN ('ICD9CM','ICD10CM')
                THEN len(code_raw) END) DESC NULLS LAST,
              code_raw ASC) AS rk
          FROM padded)
        WHERE crl IS NULL OR rk = 1),
      n2 AS (SELECT value_set_group, value_set_name, data_source_type,
          code_set, code, "desc",
          CAST(CASE WHEN code_set = 'ICD9CM' THEN 9
            WHEN code_set = 'ICD10CM' THEN 10 END AS INT)
            AS icdcm_version
        FROM picked),
      reff AS (SELECT DISTINCT
          'F' || lpad(CAST(pk % 329 AS VARCHAR), 3, '0') AS icdcm,
          10 AS ver,
          CASE WHEN pk % 329 % 2 = 0 THEN 'MBD005' ELSE '5.1' END
            AS ccs
        FROM base),
      refd AS (SELECT DISTINCT
          lpad(CAST(pk % 20 AS VARCHAR), 3, '0') || '00' AS icdcm,
          9 AS ver, 'SKN002' AS ccs
        FROM base),
      refe9 AS (SELECT DISTINCT
          'E' || lpad(CAST(pk % 80 AS VARCHAR), 3, '0') || '0'
            AS icdcm, 9 AS ver, '5.1' AS ccs
        FROM base),
      refe10 AS (SELECT DISTINCT
          'E' || lpad(CAST(pk % 80 AS VARCHAR), 3, '0') AS icdcm,
          10 AS ver, '5.2' AS ccs
        FROM base),
      refnh0(icdcm, ccs, descr) AS (VALUES
        ('T43652', 'MBD012', 'Poisoning by SSRI self-harm'),
        ('X75XXX', 'MBD012', 'Self-harm by explosive material'),
        ('T4992X', 'MBD012', 'Poisoning topical agent self-harm'),
        ('X72XXX', 'MBD012', 'Self-harm by handgun discharge')),
      icdref AS (
        SELECT icdcm, ver, ccs, NULL AS descr FROM reff
        UNION ALL SELECT icdcm, ver, ccs, NULL FROM refd
        UNION ALL SELECT icdcm, ver, ccs, NULL FROM refe9
        UNION ALL SELECT icdcm, ver, ccs, NULL FROM refe10
        UNION ALL SELECT icdcm, 10, ccs, descr FROM refnh0),
      ccsmap(ccs, sgc) AS (VALUES ('MBD005', 'mh_anxiety'),
        ('5.1', 'mh_adjustment'), ('5.2', 'mh_anxiety'),
        ('SKN002', 'mh_anxiety'), ('MBD012', 'mh_other')),
      withccs AS (
        SELECT n.*, CASE WHEN n.icdcm_version IS NOT NULL THEN m.sgc
          END AS sub_group_condition
        FROM n2 n
        LEFT JOIN icdref r ON n.code = r.icdcm
          AND n.icdcm_version = r.ver
        LEFT JOIN ccsmap m ON r.ccs = m.ccs),
      pmap0(desc_1, grp) AS (VALUES
        ('ACAMPROSATE CALCIUM', 'Acamprosate'),
        ('SERTRALINE HCL', 'Antidepressants Rx'),
        ('NALTREXONE MICROSPHERES', 'Naltrexone'),
        ('NALTREXONE MICROSPHERES', 'Antidepressants Rx')),
      prio(grp, p, sgp) AS (VALUES ('Acamprosate', 0,
          'pharm_acamprosate'),
        ('Disulfiram', 1, 'pharm_disulfiram'),
        ('ADHD Rx', 2, 'pharm_adhd'),
        ('Antianxiety Rx', 3, 'pharm_antianxiety'),
        ('Antidepressants Rx', 4, 'pharm_antidepressant'),
        ('Antimania Rx', 5, 'pharm_antimania'),
        ('Antipsychotic Rx', 6, 'pharm_antipsychotic'),
        ('Buprenorphine-Naloxone', 7, 'pharm_buprenorphine_naloxone'),
        ('Buprenorphine', 8, 'pharm_buprenorphine'),
        ('Naltrexone', 9, 'pharm_naltrexone_rx')),
      pmap AS (
        SELECT desc_1, min_by(sgp, p) AS sgp_mapped
        FROM pmap0 JOIN prio USING (grp) GROUP BY desc_1),
      rx0 AS (
        SELECT w.*, CASE WHEN w.data_source_type = 'pharmacy'
            THEN p.sgp_mapped END AS sgp0
        FROM withccs w LEFT JOIN pmap p ON w."desc" = p.desc_1),
      rx1 AS (
        SELECT * REPLACE (CASE
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" IN ('METHYLPHENIDATE', 'DICLOFENAC SODIUM DR',
              'LISDEXAMFETAMINE DIMESYLATE',
              'GUANFACINE HYDROCHLORIDE ER', 'RELEXXII',
              'AMPHETAMINE/DEXTROAMPHETAMINE ER') THEN 'pharm_adhd'
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" IN ('VILAZODONE HYDROCHLORIDE',
              'VENLAFAXINE BESYLATE ER', 'ABILIFY MYCITE STARTER KIT',
              'ABILIFY MYCITE MAINTENANCE KIT', 'AUVELITY', 'ZURZUVAE')
            THEN 'pharm_antidepressant'
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" IN ('INVEGA HAFYERA', 'LURASIDONE HYDROCHLORIDE',
              'RYKINDO', 'RISPERIDONE ER', 'UZEDY', 'ABILIFY ASIMTUFII')
            THEN 'pharm_antipsychotic'
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" = 'LOREEV XR' THEN 'pharm_antianxiety'
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" LIKE '%NALTREXONE%' THEN 'pharm_naltrexone_rx'
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" LIKE '%DISULFIRAM%' THEN 'pharm_disulfiram'
          WHEN data_source_type = 'pharmacy' AND sgp0 IS NULL
            AND "desc" = 'BRIXADI' THEN 'pharm_buprenorphine'
          ELSE sgp0 END AS sgp0)
        FROM rx0),
      newfin AS (
        SELECT value_set_group, value_set_name, data_source_type,
          code_set, code, "desc", icdcm_version,
          CASE WHEN data_source_type = 'pharmacy'
              AND sgp0 IN ('pharm_acamprosate', 'pharm_disulfiram')
              THEN 'sud_alcohol'
            WHEN data_source_type = 'pharmacy' AND sgp0 = 'pharm_adhd'
              THEN 'mh_adhd'
            WHEN data_source_type = 'pharmacy'
              AND sgp0 = 'pharm_antianxiety' THEN 'mh_anxiety'
            WHEN data_source_type = 'pharmacy'
              AND sgp0 = 'pharm_antidepressant' THEN 'mh_depression'
            WHEN data_source_type = 'pharmacy'
              AND sgp0 = 'pharm_antimania' THEN 'mh_mania_bipolar'
            WHEN data_source_type = 'pharmacy'
              AND sgp0 = 'pharm_antipsychotic' THEN 'mh_psychotic'
            WHEN data_source_type = 'pharmacy'
              AND sgp0 IN ('pharm_buprenorphine_naloxone',
                'pharm_buprenorphine', 'pharm_naltrexone_rx')
              THEN 'sud_opioid'
            ELSE sub_group_condition END AS sub_group_condition,
          sgp0 AS sub_group_pharmacy
        FROM rx1),
      nh(code) AS (VALUES $nhValues),
      extra AS (
        SELECT 'mh' AS value_set_group,
          'apde-added-diagnosis' AS value_set_name,
          'diagnosis' AS data_source_type, 'ICD10CM' AS code_set,
          n.code, upper(r.descr) AS "desc",
          CAST(10 AS INT) AS icdcm_version,
          'mh_other' AS sub_group_condition,
          CAST(NULL AS VARCHAR) AS sub_group_pharmacy
        FROM nh n LEFT JOIN refnh0 r ON n.code = r.icdcm),
      exf AS (
        SELECT 'mh' AS value_set_group,
          'VS ' || CAST(pk % 20 AS VARCHAR) AS value_set_name,
          'diagnosis' AS data_source_type, 'ICD10CM' AS code_set,
          'F' || lpad(CAST(pk % 329 AS VARCHAR), 3, '0') AS code,
          'PRIOR DESC ' || CAST(pk AS VARCHAR) AS "desc",
          CAST(10 AS INT) AS icdcm_version,
          CASE WHEN pk % 329 % 2 = 0 THEN 'mh_anxiety'
            ELSE 'mh_adjustment' END AS sub_group_condition,
          CAST(NULL AS VARCHAR) AS sub_group_pharmacy
        FROM base WHERE pk % 7 = 3 AND pk % 2 = 0),
      disrupt AS (
        SELECT 'mh' AS value_set_group,
          'VS-DISRUPT' AS value_set_name,
          'diagnosis' AS data_source_type, 'ICD10CM' AS code_set,
          c AS code, 'DISRUPT DESC' AS "desc",
          CAST(10 AS INT) AS icdcm_version,
          'mh_disrupt' AS sub_group_condition,
          CAST(NULL AS VARCHAR) AS sub_group_pharmacy
        FROM (VALUES ('F068'), ('F09'), ('F488'), ('F54')) t(c)),
      bound AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY value_set_group,
              value_set_name, data_source_type, code_set, code,
              icdcm_version, sub_group_condition, sub_group_pharmacy
            ORDER BY bind_priority ASC, "desc" ASC NULLS LAST) AS dk
          FROM (
            SELECT *, 0 AS bind_priority FROM exf
            UNION ALL SELECT *, 0 FROM disrupt
            UNION ALL SELECT *, 1 FROM newfin
            UNION ALL SELECT *, 2 FROM extra))
        WHERE dk = 1),
      cleaned AS (
        SELECT value_set_group, value_set_name, data_source_type,
          code_set, code, "desc", icdcm_version, sub_group_condition,
          sub_group_pharmacy
        FROM bound
        WHERE NOT (code IN ('F068', 'F09', 'F488', 'F489', 'F54',
            'F59', 'F938', 'F939', 'F989', 'F99', 'O9934', 'O99340',
            'O99341', 'O99342', 'O99343', 'O99344', 'O99345')
          AND sub_group_condition = 'mh_disrupt')),
      moud AS (
        SELECT 'sud' AS value_set_group,
          'apde-moud-procedure' AS value_set_name,
          'procedure' AS data_source_type, 'HCPCS' AS code_set,
          pc AS code, upper(d) AS "desc",
          CAST(NULL AS INT) AS icdcm_version,
          'sud_opioid' AS sub_group_condition,
          CAST(NULL AS VARCHAR) AS sub_group_pharmacy,
          CASE WHEN pc IN ('H0033', '96372', '11981', '11983', 'G0516',
            'G0518', 'G2073', 'J2315') THEN 1 ELSE 0 END
            AS oud_dx1_flag
        FROM (VALUES ('H0020', 'Methadone administration'),
          ('H0033', 'Oral medication administration'),
          ('J0571', 'Buprenorphine oral 1mg')) t(pc, d))
      SELECT * FROM (
        SELECT *, CAST(NULL AS INT) AS oud_dx1_flag FROM cleaned
        UNION ALL SELECT * FROM moud)
      ORDER BY data_source_type, code_set, value_set_name, code,
        "desc"
    """
  }

  /** q322 oracle, GENERATED over the measurement years. */
  private def hedisOracle: String = {
    val codeExpr = """CASE WHEN pk % 4 = 0 THEN 'A' ||
            lpad(CAST(pk % 90 AS VARCHAR), 2, '0') || '.' ||
            CAST(pk % 10 AS VARCHAR) ||
            (CASE WHEN pk % 3 = 0 THEN '1' ELSE '' END)
          WHEN pk % 4 = 1 THEN lpad(CAST(pk % 999 AS VARCHAR), 3, '0')
            || (CASE WHEN pk % 3 = 0 THEN ''
              WHEN pk % 3 = 1 THEN '.1' ELSE '.12' END)
          WHEN pk % 4 = 2 THEN lpad(CAST(pk % 99999 AS VARCHAR), 5, '0')
          ELSE lpad(CAST(pk % 999 AS VARCHAR), 4, '0') END"""
    val sysExpr = """CASE WHEN pk % 4 = 0 THEN 'ICD10CM'
          WHEN pk % 4 = 1 THEN 'ICD9CM'
          WHEN pk % 4 = 2 THEN 'CPT' ELSE 'UBREV' END"""
    val arms = (2018 to 2024).map { y =>
      val ver = if (y == 2018) "CAST(NULL AS VARCHAR)" else s"'MY $y'"
      s"""SELECT $y AS year,
          'VS ' || CAST(pk % 40 AS VARCHAR) AS value_set_name,
          '2.16.840.1.' || CAST(pk % 40 AS VARCHAR) AS value_set_oid,
          $codeExpr AS code,
          $sysExpr AS code_system,
          $ver AS value_set_version
        FROM base WHERE (pk + $y) % 5 <> 0""" }.mkString(
      "\n        UNION ALL ")
    s"""
      WITH base AS (
        SELECT DISTINCT p_partkey % 600 AS pk FROM part),
      unioned AS (
        $arms),
      stripped AS (
        SELECT year, value_set_name, value_set_oid,
          CASE WHEN code_system IN ('ICD10CM', 'ICD9CM')
            THEN regexp_replace(code, '[[:punct:]]', '', 'g')
            ELSE code END AS code,
          code_system, value_set_version
        FROM unioned)
      SELECT year, value_set_name, value_set_oid,
        CASE WHEN code_system = 'ICD9CM' AND len(code) = 3
            THEN code || '00'
          WHEN code_system = 'ICD9CM' AND len(code) = 4
            THEN code || '0'
          ELSE code END AS code,
        code_system, value_set_version
      FROM stripped
      ORDER BY year, value_set_name, code_system, code"""
  }

  /** q321 oracle, GENERATED over the 15 slot indexes so the unpivot
    * arms cannot drift from the fixture's slot formulas. */
  private def nppesOracle: String = {
    val taxArms = (1 to 15).map(i =>
      s"""SELECT npi, $i AS slot,
          'T' || lpad(CAST((ck * $i) % 40 AS VARCHAR), 2, '0')
            AS taxonomy
        FROM scrub WHERE (ck + $i) % 4 = 0""").mkString(
      "\n        UNION ALL ")
    val priArms = (1 to 15).map(i =>
      s"""SELECT npi, $i AS slot,
          CASE WHEN $i = 1 + ck % 2 OR (ck % 37 = 0 AND $i <= 8)
            THEN 'Y' ELSE 'N' END AS pf
        FROM scrub WHERE (ck + $i) % 4 = 0""").mkString(
      "\n        UNION ALL ")
    s"""
      WITH base AS (
        SELECT c_custkey AS ck,
          CASE WHEN c_custkey % 17 = 0 THEN '1,' ||
              substr(CAST(1000000000 + c_custkey AS VARCHAR), 2)
            ELSE CAST(1000000000 + c_custkey AS VARCHAR) END AS npi_raw,
          CASE WHEN c_custkey % 23 = 0 THEN NULL
            WHEN c_custkey % 3 = 0 THEN '2' ELSE '1' END
            AS entity_type_code,
          CASE WHEN c_custkey % 3 = 0
            THEN 'ORG ' || CAST(c_custkey % 100 AS VARCHAR) END
            AS name_org,
          CASE WHEN c_custkey % 13 = 0
            THEN 'LAST,JR ' || CAST(c_custkey % 50 AS VARCHAR)
            ELSE 'LAST ' || CAST(c_custkey % 50 AS VARCHAR) END
            AS name_last,
          'FIRST ' || CAST(c_custkey % 40 AS VARCHAR) AS name_first,
          CASE WHEN c_custkey % 11 <> 0
            THEN CAST(100 + c_custkey % 900 AS VARCHAR) || ' MAIN ST'
            END AS address_practice_first,
          CASE WHEN c_custkey % 6 = 0
            THEN 'STE ' || CAST(c_custkey % 30 AS VARCHAR) END
            AS address_practice_second,
          CASE WHEN c_custkey % 5 = 0 THEN 'SEATTLE'
            WHEN c_custkey % 5 = 1 THEN 'TACOMA'
            WHEN c_custkey % 5 = 2 THEN 'PORTLAND'
            ELSE 'SPOKANE' END AS address_practice_city,
          CASE WHEN c_custkey % 29 = 0 THEN 'wa'
            WHEN c_custkey % 4 = 0 THEN 'WA'
            WHEN c_custkey % 4 = 1 THEN 'WASHINGTON'
            WHEN c_custkey % 4 = 2 THEN 'OR' END
            AS address_practice_state,
          '98' || lpad(CAST(c_custkey % 999 AS VARCHAR), 3, '0')
            || '1234' AS address_practice_zip_code,
          '2008-0' || CAST(1 + c_custkey % 9 AS VARCHAR) || '-15'
            AS enumeration_date,
          '2020-0' || CAST(1 + c_custkey % 9 AS VARCHAR) || '-01'
            AS last_update,
          CASE WHEN c_custkey % 23 = 0 OR c_custkey % 19 = 0
            THEN '2021-0' || CAST(1 + c_custkey % 9 AS VARCHAR)
              || '-20' END AS deactivation_date,
          CASE WHEN c_custkey % 2 = 0 THEN 'F'
            WHEN c_custkey % 7 = 0 THEN 'M' END AS gender_code
        FROM customer),
      scrub AS (
        SELECT ck, CAST(replace(npi_raw, ',', '') AS BIGINT) AS npi,
          entity_type_code, name_org,
          replace(name_last, ',', '') AS name_last, name_first,
          address_practice_first, address_practice_second,
          address_practice_city, address_practice_state,
          address_practice_zip_code, enumeration_date, last_update,
          deactivation_date, gender_code
        FROM base),
      tax_long AS (SELECT DISTINCT npi, slot, taxonomy FROM (
        $taxArms)),
      pri_long AS (SELECT DISTINCT npi, slot, pf FROM (
        $priArms)),
      joined AS (
        SELECT t.npi, t.taxonomy, p.pf
        FROM tax_long t LEFT JOIN pri_long p
          ON t.npi = p.npi AND t.slot = p.slot),
      collapsed AS (
        SELECT npi, taxonomy,
          max(CASE WHEN pf = 'Y' THEN 1 ELSE 0 END) AS primary_flag
        FROM joined GROUP BY npi, taxonomy),
      ranked AS (
        SELECT *, rank() OVER (PARTITION BY npi
          ORDER BY primary_flag DESC, taxonomy ASC) AS taxonomy_number
        FROM collapsed),
      tax_final AS (
        SELECT a.npi, a.taxonomy AS taxonomy_1, b.taxonomy AS taxonomy_2,
          c.taxonomy AS taxonomy_3,
          a.primary_flag AS taxonomy_primary_flag
        FROM (SELECT * FROM ranked
          WHERE primary_flag = 1 OR taxonomy_number = 1) a
        LEFT JOIN (SELECT * FROM ranked WHERE taxonomy_number = 2) b
          ON a.npi = b.npi
        LEFT JOIN (SELECT * FROM ranked WHERE taxonomy_number = 3) c
          ON a.npi = c.npi)
      SELECT s.npi, s.entity_type_code, s.name_org, s.name_last,
        s.name_first, s.address_practice_first,
        s.address_practice_second, s.address_practice_city,
        s.address_practice_state, s.address_practice_zip_code,
        CASE WHEN upper(s.address_practice_state)
          IN ('WA', 'WASHINGTON') THEN 1 ELSE 0 END AS geo_wa,
        upper(sha256(upper(
          coalesce(s.address_practice_first, '') || '|' ||
          coalesce(s.address_practice_second, '') || '|' ||
          coalesce(s.address_practice_city, '') || '|' ||
          coalesce(s.address_practice_state, '') || '|' ||
          coalesce(substr(s.address_practice_zip_code, 1, 5), ''))))
          AS geo_hash_raw,
        CAST(s.enumeration_date AS DATE) AS enumeration_date,
        CAST(s.last_update AS DATE) AS last_update,
        CASE WHEN s.entity_type_code IS NULL
          AND s.deactivation_date IS NOT NULL THEN 1 ELSE 0 END
          AS deactivation_flag,
        CAST(s.deactivation_date AS DATE) AS deactivation_date,
        s.gender_code, f.taxonomy_1, f.taxonomy_2, f.taxonomy_3,
        f.taxonomy_primary_flag
      FROM scrub s LEFT JOIN tax_final f ON s.npi = f.npi
      ORDER BY s.npi, f.taxonomy_1"""
  }

  /** DuckDB oracle SQL per query (same column names + ordering). Omitted
    * for approximate / iterative / stub operators → rows-only check. */
  /** Shared 3-class placement CTE prefix (ep -> lbfin/sbfin/dvfin ->
    * placed) for the q84/q89/q90 pregnancy oracles — one copy, so a
    * placement-semantics fix cannot drift between them. */
  /** Shared synthetic claim/value-set CTE prefix for the q109/q110 RDA
    * treatment-penetration oracles — mirrors BuildQueries.Vs exactly (one
    * copy, so a frame change cannot drift between the two oracles). */
  /** Shared synthetic raw/archive CTE prefix for the q186/q187 mcaid
    * elig staging oracles — mirrors BuildQueries.eligStageFrames exactly
    * (one copy, so a generator change cannot drift between the two). */
  /** Shared planted-noise two-source person fixture for the q213/q214
    * linkage oracles — one copy, so a fixture change cannot drift
    * between the two candidate generators. */
  private val LinkageFixtureCte: String = """
      WITH base AS (
        SELECT c_custkey AS k,
          lower(replace(c_name, '#', ' ')) AS name0,
          CAST(98000 + c_custkey % 150 AS INTEGER) AS zip,
          DATE '1940-01-01'
            + CAST(c_custkey * 73 % 20000 AS INTEGER) AS dob
        FROM customer),
      a AS (
        SELECT 'A' || CAST(k AS VARCHAR) AS pid, name0 AS name, dob,
          zip, year(dob) AS yob
        FROM base),
      b AS (
        SELECT 'B' || CAST(k AS VARCHAR) AS pid,
          CASE WHEN k % 13 = 0 THEN name0 || ' jr' ELSE name0 END AS name,
          CASE WHEN k % 11 = 0 THEN dob + 30 ELSE dob END AS dob,
          CASE WHEN k % 7 = 0 THEN zip + 1 ELSE zip END AS zip,
          year(dob) AS yob
        FROM base WHERE k % 3 <> 0
        UNION ALL
        SELECT 'X' || CAST(k AS VARCHAR), 'zz ' || name0, dob + 5000,
          zip, year(dob + 5000)
        FROM base WHERE k % 5 = 0)"""

  /** One integer-PageRank oracle iteration (dangling mass, damped
    * contributions, teleport) — generated per round so the 5-step chain
    * cannot drift between rounds. */
  private def prIter(i: Int): String = {
    val p = if (i == 1) "r0" else s"r${i - 1}"
    s"""
      d$i AS (
        SELECT CAST(coalesce(sum((rank * 85) // 100), 0) AS BIGINT)
          AS dang
        FROM $p LEFT JOIN od USING (node) WHERE outdeg IS NULL),
      c$i AS (
        SELECT e.dst AS node,
          CAST(sum(((r.rank * 85) // 100) // o.outdeg) AS BIGINT) AS cin
        FROM e JOIN $p r ON e.src = r.node JOIN od o ON e.src = o.node
        GROUP BY 1),
      r$i AS (
        SELECT n2.node,
          ((1000000000000 * 15) // 100) // nn.n
            + d$i.dang // nn.n + coalesce(c$i.cin, 0) AS rank
        FROM nodes n2 LEFT JOIN c$i ON n2.node = c$i.node
        CROSS JOIN nn CROSS JOIN d$i)"""
  }

  /** One label-propagation oracle round (q243): count each node's
    * neighbor labels on the undirected edge set, adopt the most
    * frequent with ties to the SMALLEST label — generated per round so
    * the 4-step chain cannot drift from `Graphs.labelPropagation`. */
  private def lpIter(i: Int): String = {
    val p = s"lbl${i - 1}"
    s"""
      cnt$i AS (
        SELECT u.src AS node, l.label, count(*) AS cnt
        FROM und u JOIN $p l ON u.dst = l.node
        GROUP BY 1, 2),
      lbl$i AS (
        SELECT node, label FROM (
          SELECT node, label, row_number() OVER (PARTITION BY node
            ORDER BY cnt DESC, label) AS rn
          FROM cnt$i) WHERE rn = 1)"""
  }

  /** Shared CCW oracle body (q230 mcare / q244 apcd): the full
    * per-condition replay — wide-ref join, per-arm dx_fields masks,
    * exclusion gates, claim-type condition-1/2 split, T-SQL
    * month-boundary lookback windows, LEAST/GREATEST collapse — over
    * fixture CTEs `hdr($idc, chid, ctid, fsd)` and `dx($idc, chid,
    * ver, norm, dxnum)`. ONE generator for every id grain, so the
    * grain-specific oracles cannot drift from each other. */
  /** The CCW condition chain (ref..stfin) WITHOUT the final union —
    * composable by the q320 line-level battery, which needs the three
    * per-condition frames as a `build` CTE. */
  private def ccwOracleCtes(idc: String): String = s"""
      ref(icdcm, ver, hypo, diab, diab_ex, stroke, stroke_ex) AS (VALUES
        ('2440',9,1,0,0,0,0), ('E039',10,1,0,0,0,0),
        ('25000',9,0,1,0,0,0), ('E119',10,0,1,0,0,0),
        ('64800',9,0,0,1,0,0), ('O2412',10,0,0,1,0,0),
        ('43491',9,0,0,0,1,0), ('I6350',10,0,0,0,1,0),
        ('Z3480',10,0,0,0,0,1)),
      dxr AS (
        SELECT d.*, r.hypo, r.diab, r.diab_ex, r.stroke, r.stroke_ex
        FROM dx d JOIN ref r ON d.norm = r.icdcm AND d.ver = r.ver),
      hyflag AS (
        SELECT $idc, chid FROM dxr GROUP BY $idc, chid
        HAVING max(CASE WHEN hypo = 1 THEN 1 ELSE 0 END) = 1),
      hyrows AS (
        SELECT DISTINCT f.$idc, h.fsd,
          CASE WHEN h.ctid IN (1,2,3) THEN h.fsd END AS c1d,
          CASE WHEN h.ctid IN (4,5) THEN h.fsd END AS c2d
        FROM hyflag f JOIN hdr h ON f.chid = h.chid
        WHERE h.ctid IN (1,2,3,4,5)),
      hyfin AS (
        SELECT $idc,
          least(min(c1d), min(c2d)) AS first_encounter_date,
          greatest(max(c1d), max(c2d)) AS last_encounter_date,
          CAST(1 AS INT) AS ccw_code, 'ccw_hypothyroid' AS ccw_desc
        FROM hyrows WHERE c1d IS NOT NULL GROUP BY $idc),
      dbflag AS (
        SELECT $idc, chid,
          max(CASE WHEN diab = 1 AND dxnum IN ('01','02') THEN 1 ELSE 0
            END) AS m,
          max(CASE WHEN diab_ex = 1 THEN 1 ELSE 0 END) AS x
        FROM dxr GROUP BY $idc, chid),
      dbrows AS (
        SELECT DISTINCT f.$idc, h.fsd,
          CASE WHEN h.ctid IN (1) THEN h.fsd END AS c1d,
          CASE WHEN h.ctid IN (2,4,5) THEN h.fsd END AS c2d
        FROM dbflag f JOIN hdr h ON f.chid = h.chid
        WHERE f.m = 1 AND f.x = 0 AND h.ctid IN (1,2,4,5)),
      dbcalc AS (
        SELECT *,
          date_diff('day', c2d, lead(c2d) OVER w) AS dfwd,
          (year(lead(c2d) OVER w) * 12 + month(lead(c2d) OVER w))
            - (year(c2d) * 12 + month(c2d)) AS mfwd,
          date_diff('day', lag(c2d) OVER w, c2d) AS dback,
          (year(c2d) * 12 + month(c2d))
            - (year(lag(c2d) OVER w) * 12 + month(lag(c2d) OVER w))
            AS mback
        FROM dbrows
        WINDOW w AS (PARTITION BY $idc ORDER BY c2d ASC NULLS FIRST)),
      dbfin AS (
        SELECT $idc,
          least(min(c1d), min(c2d)) AS first_encounter_date,
          greatest(max(c1d), max(c2d)) AS last_encounter_date,
          CAST(2 AS INT) AS ccw_code, 'ccw_diabetes' AS ccw_desc
        FROM dbcalc
        WHERE c1d IS NOT NULL
          OR (c2d IS NOT NULL AND mfwd <= 24 AND dfwd >= 1)
          OR (c2d IS NOT NULL AND mback <= 24 AND dback >= 1)
        GROUP BY $idc),
      stflag AS (
        SELECT $idc, chid,
          max(CASE WHEN stroke = 1 AND ver = 10 AND dxnum = '01' THEN 1
            ELSE 0 END) AS m,
          max(CASE WHEN stroke_ex = 1 AND dxnum IN ('01','02') THEN 1
            ELSE 0 END) AS x
        FROM dxr GROUP BY $idc, chid),
      strows AS (
        SELECT DISTINCT f.$idc, h.fsd,
          CASE WHEN h.ctid IN (1) THEN h.fsd END AS c1d,
          CASE WHEN h.ctid IN (2,4) THEN h.fsd END AS c2d
        FROM stflag f JOIN hdr h ON f.chid = h.chid
        WHERE f.m = 1 AND f.x = 0 AND h.ctid IN (1,2,4)),
      stcalc AS (
        SELECT *,
          date_diff('day', c2d, lead(c2d) OVER w) AS dfwd,
          (year(lead(c2d) OVER w) * 12 + month(lead(c2d) OVER w))
            - (year(c2d) * 12 + month(c2d)) AS mfwd,
          date_diff('day', lag(c2d) OVER w, c2d) AS dback,
          (year(c2d) * 12 + month(c2d))
            - (year(lag(c2d) OVER w) * 12 + month(lag(c2d) OVER w))
            AS mback
        FROM strows
        WINDOW w AS (PARTITION BY $idc ORDER BY c2d ASC NULLS FIRST)),
      stfin AS (
        SELECT $idc,
          least(min(c1d), min(c2d)) AS first_encounter_date,
          greatest(max(c1d), max(c2d)) AS last_encounter_date,
          CAST(3 AS INT) AS ccw_code, 'ccw_stroke' AS ccw_desc
        FROM stcalc
        WHERE c1d IS NOT NULL
          OR (c2d IS NOT NULL AND mfwd <= 12 AND dfwd >= 1)
          OR (c2d IS NOT NULL AND mback <= 12 AND dback >= 1)
        GROUP BY $idc)"""

  private def ccwOracleBody(idc: String): String =
    ccwOracleCtes(idc) + s"""
      SELECT * FROM hyfin
      UNION ALL SELECT * FROM dbfin
      UNION ALL SELECT * FROM stfin
      ORDER BY ccw_code, $idc"""

  /** One q245 phenotype block, GENERATED from
    * [[graft.builds.CcwNewCriteriaQa.Phenos]] so the oracle's criteria
    * cannot drift from the Scala config. Assumes both ICD arms run
    * with the same dx_fields (true of every configured phenotype) so
    * the two version arms fuse into one any-version flag, exactly as
    * ccwOracleBody does for hypothyroid. Expects CTEs `hdr(id, chid,
    * ctid, fsd)`, `dxr(id, chid, ver, norm, dxnum, <abbrev> flags)`,
    * and `ev(id, chid, <flags>, ctid, fsd)`. */
  private def ccwQaPhenoBlock(
      p: graft.builds.CcwNewCriteriaQa.Pheno): String = {
    val a = p.abbrev
    val fields = p.dxFields match {
      case "1" => "dxnum = '01'"
      case "1-2" => "dxnum IN ('01','02')"
      case _ => "TRUE"
    }
    val t1 = p.types1.mkString(",")
    val tAll = (p.types1 ++ p.types2).mkString(",")
    val c2dSel =
      if (p.types2.isEmpty) "CAST(NULL AS DATE) AS c2d"
      else s"CASE WHEN h.ctid IN (${p.types2.mkString(",")}) " +
        "THEN h.fsd END AS c2d"
    val oldT2 =
      if (p.types2.isEmpty) "FALSE"
      else s"ctid IN (${p.types2.mkString(",")})"
    val fin =
      if (p.claimCount == 1)
        s"""${a}fin AS (
        SELECT DISTINCT id FROM ${a}rows WHERE c1d IS NOT NULL)"""
      else s"""${a}calc AS (
        SELECT *,
          date_diff('day', c2d, lead(c2d) OVER w) AS dfwd,
          (year(lead(c2d) OVER w) * 12 + month(lead(c2d) OVER w))
            - (year(c2d) * 12 + month(c2d)) AS mfwd,
          date_diff('day', lag(c2d) OVER w, c2d) AS dback,
          (year(c2d) * 12 + month(c2d))
            - (year(lag(c2d) OVER w) * 12 + month(lag(c2d) OVER w))
            AS mback
        FROM ${a}rows
        WINDOW w AS (PARTITION BY id ORDER BY c2d ASC NULLS FIRST)),
      ${a}fin AS (
        SELECT DISTINCT id FROM ${a}calc
        WHERE c1d IS NOT NULL
          OR (c2d IS NOT NULL AND mfwd <= ${p.lookbackMonths}
            AND dfwd >= 1)
          OR (c2d IS NOT NULL AND mback <= ${p.lookbackMonths}
            AND dback >= 1))"""
    s"""
      ${a}flag AS (
        SELECT id, chid FROM dxr GROUP BY id, chid
        HAVING max(CASE WHEN $a = 1 AND $fields THEN 1 ELSE 0 END) = 1),
      ${a}rows AS (
        SELECT DISTINCT f.id, h.fsd,
          CASE WHEN h.ctid IN ($t1) THEN h.fsd END AS c1d,
          $c2dSel
        FROM ${a}flag f JOIN hdr h ON f.chid = h.chid
        WHERE h.ctid IN ($tAll)),
      $fin,
      ${a}old AS (
        SELECT id,
          count(DISTINCT CASE WHEN $a = 1 AND ctid IN ($tAll)
            THEN chid END) AS evc,
          count(DISTINCT CASE WHEN $a = 1 AND ctid IN ($t1)
            THEN chid END) AS cnt1,
          count(DISTINCT CASE WHEN $a = 1 AND $oldT2
            THEN fsd END) AS d2
        FROM ev GROUP BY id),
      ${a}oldq AS (
        SELECT id FROM ${a}old WHERE cnt1 >= 1 OR d2 >= 2),
      ${a}v AS (
        SELECT 'ccw_$a' AS ccw_desc,
          CAST((SELECT count(*) FROM ${a}fin) AS BIGINT)
            AS span_persons,
          CAST(coalesce((SELECT sum(evc) FROM ${a}old), 0) AS BIGINT)
            AS evidence_claims,
          CAST((SELECT count(*) FROM ${a}old WHERE evc > 0) AS BIGINT)
            AS evidence_persons,
          CAST((SELECT count(*) FROM ${a}oldq) AS BIGINT)
            AS oldq_persons,
          CAST((SELECT count(*) FROM ${a}fin f
            WHERE f.id NOT IN (SELECT id FROM ${a}oldq)) AS BIGINT)
            AS new_not_old,
          CAST((SELECT count(*) FROM ${a}oldq o
            WHERE o.id NOT IN (SELECT id FROM ${a}fin)) AS BIGINT)
            AS old_not_new)"""
  }

  /** One k-core peel round (q259): prune edges to survivors, degree
    * count, threshold — generated per round so the chain cannot drift
    * from `Graphs.kcorePeel`. */
  private def kcIter(i: Int): String = {
    val p = s"a${i - 1}"
    s"""
      e$i AS (
        SELECT b.src, b.dst FROM bth b
        WHERE b.src IN (SELECT node FROM $p)
          AND b.dst IN (SELECT node FROM $p)),
      d$i AS (
        SELECT src AS node, count(*) AS dg FROM e$i GROUP BY 1),
      a$i AS (SELECT node FROM d$i WHERE dg >= 3)"""
  }

  /** One Fellegi-Sunter EM oracle round (q260): fixed-point E-step
    * product, posterior, downscaled M-step ratios — generated per
    * round so the chain cannot drift from `Linkage.emFieldProbs`. */
  private def emIter(i: Int, fields: Seq[String]): String = {
    val S = 1000000L
    val p = s"s${i - 1}"
    def prod(init: String, mu: String): String =
      fields.foldLeft(init) { (acc, f) =>
        s"(($acc) * (CASE WHEN p.g_$f = 1 THEN s.${mu}_$f " +
          s"ELSE $S - s.${mu}_$f END)) // $S"
      }
    s"""
      e$i AS (
        SELECT p.cnt, ${fields.map(f => s"p.g_$f").mkString(", ")},
          ${prod("s.lam", "m")} AS pm,
          ${prod(s"$S - s.lam", "u")} AS pu
        FROM pat p CROSS JOIN $p s),
      w$i AS (
        SELECT *, pm * $S // greatest(pm + pu, 1) AS w FROM e$i),
      t$i AS (
        SELECT CAST(sum(cnt * w) AS BIGINT) AS sw,
          CAST(sum(cnt) AS BIGINT) AS sc,
          ${fields.map(f =>
            s"CAST(sum(cnt * w * g_$f) AS BIGINT) AS swg_$f")
            .mkString(", ")},
          ${fields.map(f =>
            s"CAST(sum(cnt * ($S - w) * g_$f) AS BIGINT) AS sug_$f")
            .mkString(", ")}
        FROM w$i),
      s$i AS (
        SELECT sw // greatest(sc, 1) AS lam,
          ${fields.map(f =>
            s"(swg_$f // 1000) * $S // greatest(sw // 1000, 1) " +
              s"AS m_$f").mkString(", ")},
          ${fields.map(f =>
            s"(sug_$f // 1000) * $S // " +
              s"greatest(($S * sc - sw) // 1000, 1) AS u_$f")
            .mkString(", ")}
        FROM t$i)"""
  }

  /** One DoReMi oracle round (q251): linearized multiplicative update
    * + integer renormalization — generated per round so the 5-step
    * chain cannot drift from `TextAnalysis.doremiWeights`. */
  private def dmIter(i: Int): String = s"""
      r$i AS (
        SELECT b.domain, b.excn,
          CAST((w.weight * (1000000 + 3 * b.excn // 10)) // 1000000
            AS BIGINT) AS wr
        FROM base b JOIN w${i - 1} w ON b.domain = w.domain),
      w$i AS (
        SELECT domain,
          CAST(wr * 1000000 // (SELECT sum(wr) FROM r$i) AS BIGINT)
            AS weight
        FROM r$i)"""

  /** Integer squared distance between a quantized vector `v` and a
    * centroid list `c` (both LIST(BIGINT), 64 dims) — the q42 metric. */
  private def ivfDist(v: String, c: String): String =
    s"""list_sum(list_transform(range(1, 65),
          d -> ($v[d] - $c[d]) * ($v[d] - $c[d])))"""

  /** One integer-Lloyd oracle iteration (argmin-distance assignment
    * with lowest-cell ties, floor-div centroid means, empty cells keep
    * the prior centroid) — generated per round so the 3-step chain
    * cannot drift. */
  /** q264 oracle component rounds: min-label propagation — each round
    * every node takes the min of its own and its neighbors' labels.
    * The fixed point is the per-component min id (what the Spark-side
    * star contraction returns); the convergence guard in the oracle
    * makes the fixed-round replay SOUND (unconverged -> zero rows ->
    * red), never silently approximate. */
  private val LpRounds = 12
  // AS MATERIALIZED: each round references its predecessor twice (own
  // label + neighbor labels); inlining would duplicate the whole
  // upstream chain per reference — 2^rounds base scans.
  private def lpMinRound(i: Int): String =
    s"""l$i AS MATERIALIZED (
        SELECT n.node, least(n.lbl, coalesce(min(nb.lbl), n.lbl))
          AS lbl
        FROM l${i - 1} n
        LEFT JOIN sym e ON e.u = n.node
        LEFT JOIN l${i - 1} nb ON nb.node = e.v
        GROUP BY n.node, n.lbl)"""

  /** q276 oracle, GENERATED from the same LshPlanner grid and power-
    * chain builder the Spark plan uses — config grid or formula drift
    * is structurally impossible. Pairs are the exact all-pairs jaccard
    * at the 0.3 audit floor (the q38/q40 recall-1 replay). */
  private def lshAuditOracle: String = {
    val arms = graft.operators.LshPlanner.configs.map { case (b, r) =>
      val ppm = graft.operators.LshPlanner.pCollidePpm("jaccard", b, r)
      s"""SELECT $b AS bands, $r AS rows_per_band,
        CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN 1 END), 0)
          AS BIGINT) AS n_hi,
        CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN $ppm END), 0)
          AS BIGINT) AS exp_hi_ppm,
        CAST(coalesce(sum(CASE WHEN jaccard < 0.5 THEN 1 END), 0)
          AS BIGINT) AS n_lo,
        CAST(coalesce(sum(CASE WHEN jaccard < 0.5 THEN $ppm END), 0)
          AS BIGINT) AS exp_lo_ppm
      FROM p2"""
    }.mkString(" UNION ALL ")
    s"""
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
            'g'), ' ') AS toks
          FROM documents)),
      p2 AS (
        SELECT len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(a.sh) + len(b.sh)
              - len(list_intersect(a.sh, b.sh)), 1) AS jaccard
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(a.sh) + len(b.sh)
              - len(list_intersect(a.sh, b.sh)), 1) >= 0.3)
      SELECT * FROM ($arms) ORDER BY bands"""
  }

  private def ivfIter(i: Int): String = {
    val p = s"cen${i - 1}"
    s"""
      asg$i AS (
        SELECT vec_id, q, cell FROM (
          SELECT v.vec_id, v.q, c.cell,
            row_number() OVER (PARTITION BY v.vec_id
              ORDER BY ${ivfDist("v.q", "c.cv")}, c.cell) AS rn
          FROM qvec v CROSS JOIN $p c) WHERE rn = 1),
      cen$i AS (
        SELECT p.cell, coalesce(u.cv, p.cv) AS cv
        FROM $p p LEFT JOIN (
          SELECT cell, list(m ORDER BY d) AS cv FROM (
            SELECT cell, d, CAST(sum(q[d]) // count(*) AS BIGINT) AS m
            FROM asg$i, generate_series(1, 64) t(d)
            GROUP BY cell, d)
          GROUP BY cell) u ON p.cell = u.cell)"""
  }

  /** Generated recursive placement chain (the pregnancy STEP 5A-5G
    * WHILE loops) over an `ep` CTE carrying (id, d, cls) — one block
    * per hierarchy class taken from PregEpisode.McaidHierarchy itself,
    * so the conflict-window matrix in the oracle CANNOT drift from the
    * Scala. Ends with a `placed(id, cls, d)` CTE. */
  private def pregPlacementChain: String = {
    val classes = graft.builds.PregEpisode.McaidHierarchy
    val blocks = classes.map { c =>
      val base = s"SELECT id, d FROM ep WHERE cls = '${c.name}'"
      val surv = c.conflictWindows.zipWithIndex.foldLeft(base) {
        case (inner, ((h, w), i)) =>
          s"""SELECT s$i.id, s$i.d FROM ($inner) s$i
            ANTI JOIN ${h}fin h$i ON h$i.id = s$i.id AND h$i.d <> s$i.d
              AND abs(date_diff('day', h$i.d, s$i.d)) <= $w"""
      }
      s"""
      ${c.name}0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day',
            lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM ($surv)),
      ${c.name}rec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM ${c.name}0
        WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > ${c.greedyGapDays} THEN 0
            ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > ${c.greedyGapDays} THEN 1 ELSE 0 END
        FROM ${c.name}rec a JOIN ${c.name}0 b
          ON b.id = a.id AND b.rk = a.rk + 1),
      ${c.name}fin AS MATERIALIZED (
        SELECT id, d FROM ${c.name}rec WHERE inc = 1)"""
    }
    val placedSel = classes.map(c =>
      s"SELECT id, '${c.name}' AS cls, d FROM ${c.name}fin")
      .mkString("\n        UNION ALL ")
    blocks.mkString(",") + s""",
      placed AS (
        $placedSel)"""
  }

  /** Shared q218/q222 SCD-2 fixture + merge oracle CTE — one copy, so
    * the merge semantics cannot drift between the build and its
    * enrichment consumer. */
  private val Scd2MergedCte: String = """
      WITH base AS (
        SELECT c_custkey AS id, c_mktsegment AS seg FROM customer),
      closedrows AS (
        SELECT id, 'OLD_' || seg AS seg, DATE '1995-01-01' AS from_date,
          DATE '1996-12-31' AS to_date
        FROM base WHERE id % 4 = 0),
      openrows AS (
        SELECT id, seg, DATE '1997-01-01' AS from_date,
          CAST(NULL AS DATE) AS to_date
        FROM base),
      delta AS (
        SELECT id, CASE WHEN id % 2 = 1 THEN 'NEW_' || seg ELSE seg END
          AS seg, DATE '1998-06-01' AS eff
        FROM base WHERE id % 3 <> 0
        UNION ALL
        SELECT id + 1000000, seg, DATE '1998-06-01'
        FROM base WHERE id % 10 = 0),
      j AS (
        SELECT coalesce(o.id, d.id) AS id, o.seg AS o_seg,
          o.from_date, d.seg AS d_seg, d.eff
        FROM openrows o FULL JOIN delta d ON o.id = d.id),
      merged AS (
        SELECT id, seg, from_date, to_date FROM closedrows
        UNION ALL
        SELECT id, o_seg, from_date, CAST(NULL AS DATE)
        FROM j WHERE from_date IS NOT NULL
          AND (eff IS NULL OR d_seg = o_seg)
        UNION ALL
        SELECT id, o_seg, from_date, eff - 1
        FROM j WHERE from_date IS NOT NULL AND eff IS NOT NULL
          AND d_seg <> o_seg
        UNION ALL
        SELECT id, d_seg, eff, CAST(NULL AS DATE)
        FROM j WHERE eff IS NOT NULL
          AND (from_date IS NULL OR d_seg <> o_seg))"""

  private val EligStageRawCte: String = """
      WITH raw0 AS (
        SELECT
          CAST(199200 + (o_orderkey % 5) * 100 + (o_orderkey % 12 + 1)
            AS INT) AS CLNDR_YEAR_MNTH,
          'S' || CAST(o_custkey AS VARCHAR) AS MBR_H_SID,
          CASE WHEN o_orderkey % 8 = 0
            THEN 'id' || CAST(o_custkey AS VARCHAR)
            ELSE 'ID' || CAST(o_custkey AS VARCHAR) END
            AS MEDICAID_RECIPIENT_ID,
          CASE WHEN o_custkey % 3 = 0 THEN 'Female'
            WHEN o_custkey % 3 = 1 THEN 'Male' END AS GENDER,
          CASE WHEN o_orderkey % 13 = 0 THEN NULL
            ELSE CAST(o_orderkey % 50 AS INT) END AS RAC_CODE,
          CASE WHEN o_orderkey % 10 = 2
            THEN 'Involuntary Inpatient Psychiatric Treatment (ITA)'
            WHEN o_orderkey % 15 = 0
            THEN 'Involuntary Inpatient Psychiactric Treatment (ITA)'
            ELSE 'RAC ' || CAST(o_orderkey % 50 AS VARCHAR) END
            AS RAC_NAME,
          CASE WHEN o_orderkey % 9 = 0 THEN NULL
            ELSE CAST(o_orderdate AS DATE) END AS RAC_FROM_DATE,
          CASE WHEN o_orderkey % 9 = 1 THEN NULL
            ELSE CAST(o_orderdate AS DATE) + 30 END AS RAC_TO_DATE,
          CASE WHEN o_orderkey % 6 = 0 THEN NULL
            WHEN o_orderkey % 6 = 1 THEN 'Review Not Complete'
            WHEN o_orderkey % 6 = 2 THEN 'No Eligible Household Members'
            WHEN o_orderkey % 6 = 3
              THEN 'Already Eligible for Program in Different AU'
            WHEN o_orderkey % 6 = 4 THEN 'Moved out of state'
            ELSE 'Aged out' END AS END_REASON_NAME,
          CAST(o_orderkey % 2 AS VARCHAR) AS DUALELIGIBLE_INDICATOR,
          CASE WHEN o_orderkey % 7 = 0 THEN NULL
            ELSE 'H' || CAST(o_orderkey % 1000 AS VARCHAR) END AS HOH_ID,
          CASE WHEN o_custkey % 11 = 0 THEN NULL
            ELSE '100 Main St ' || CAST(o_custkey % 90 AS VARCHAR) END
            AS RSDNTL_ADRS_LINE_1,
          CASE WHEN o_custkey % 4 = 0
            THEN 'Apt ' || CAST(o_custkey % 20 AS VARCHAR) END
            AS RSDNTL_ADRS_LINE_2,
          CASE WHEN o_custkey % 2 = 0 THEN 'Seattle' ELSE 'Spokane' END
            AS RSDNTL_CITY_NAME,
          'WA' AS RSDNTL_STATE_CODE,
          CAST(98000 + o_custkey % 200 AS VARCHAR)
            AS RSDNTL_POSTAL_CODE,
          'A' || CAST(o_custkey AS VARCHAR) AS MBR_ACES_IDNTFR,
          2 AS etl_batch_id,
          o_orderkey AS ok
        FROM orders),
      raw AS (
        SELECT * FROM raw0
        UNION ALL
        SELECT * REPLACE ('Other' AS END_REASON_NAME) FROM raw0
        WHERE ok % 10 = 0
        UNION ALL
        SELECT * REPLACE (CAST(NULL AS VARCHAR) AS HOH_ID) FROM raw0
        WHERE ok % 10 = 1
        UNION ALL
        SELECT * REPLACE (
          'Involuntary Inpatient Psychiactric Treatment (ITA)'
            AS RAC_NAME) FROM raw0
        WHERE ok % 10 = 2
        UNION ALL
        SELECT * REPLACE (CAST(NULL AS VARCHAR) AS MBR_H_SID) FROM raw0
        WHERE ok % 10 = 3),
      arch0 AS (
        SELECT
          CAST(199100 + (o_orderkey % 6) * 100 + (o_orderkey % 12 + 1)
            AS INT) AS CLNDR_YEAR_MNTH,
          'S' || CAST(o_custkey AS VARCHAR) AS MBR_H_SID,
          CASE WHEN o_orderkey % 8 = 0
            THEN 'id' || CAST(o_custkey AS VARCHAR)
            ELSE 'ID' || CAST(o_custkey AS VARCHAR) END
            AS MEDICAID_RECIPIENT_ID,
          CASE WHEN o_custkey % 3 = 0 THEN 'Female'
            WHEN o_custkey % 3 = 1 THEN 'Male' END AS GENDER,
          CASE WHEN o_orderkey % 13 = 0 THEN NULL
            ELSE CAST(o_orderkey % 50 AS INT) END AS RAC_CODE,
          CASE WHEN o_orderkey % 10 = 2
            THEN 'Involuntary Inpatient Psychiatric Treatment (ITA)'
            WHEN o_orderkey % 15 = 0
            THEN 'Involuntary Inpatient Psychiactric Treatment (ITA)'
            ELSE 'RAC ' || CAST(o_orderkey % 50 AS VARCHAR) END
            AS RAC_NAME,
          CASE WHEN o_orderkey % 9 = 0 THEN NULL
            ELSE CAST(o_orderdate AS DATE) END AS RAC_FROM_DATE,
          CASE WHEN o_orderkey % 9 = 1 THEN NULL
            ELSE CAST(o_orderdate AS DATE) + 30 END AS RAC_TO_DATE,
          CASE WHEN o_orderkey % 6 = 0 THEN NULL
            WHEN o_orderkey % 6 = 1 THEN 'Review Not Complete'
            WHEN o_orderkey % 6 = 2 THEN 'No Eligible Household Members'
            WHEN o_orderkey % 6 = 3
              THEN 'Already Eligible for Program in Different AU'
            WHEN o_orderkey % 6 = 4 THEN 'Moved out of state'
            ELSE 'Aged out' END AS END_REASON_NAME,
          CAST(o_orderkey % 2 AS VARCHAR) AS DUALELIGIBLE_INDICATOR,
          CASE WHEN o_custkey % 11 = 0 THEN NULL
            ELSE '100 Main St ' || CAST(o_custkey % 90 AS VARCHAR) END
            AS RSDNTL_ADRS_LINE_1,
          CASE WHEN o_custkey % 4 = 0
            THEN 'Apt ' || CAST(o_custkey % 20 AS VARCHAR) END
            AS RSDNTL_ADRS_LINE_2,
          CASE WHEN o_custkey % 2 = 0 THEN 'Seattle' ELSE 'Spokane' END
            AS RSDNTL_CITY_NAME,
          'WA' AS RSDNTL_STATE_CODE,
          CAST(98000 + o_custkey % 200 AS VARCHAR)
            AS RSDNTL_POSTAL_CODE,
          'A' || CAST(o_custkey AS VARCHAR) AS MBR_ACES_IDNTFR,
          1 AS etl_batch_id
        FROM orders)"""

  private val VsFramesCte: String = """
      WITH li AS (
        SELECT o_custkey % 100 AS id_person, l_orderkey AS claim_id,
          CAST(l_shipdate AS DATE) AS fsd, l_partkey, l_suppkey,
          l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      dx AS (
        SELECT id_person, claim_id, fsd AS first_service_date,
          CASE WHEN l_partkey % 11 = 0 THEN 10
               WHEN fsd < DATE '1995-06-01' THEN 9 ELSE 10 END
            AS icdcm_version,
          CASE WHEN l_linenumber % 2 = 1 THEN '01' ELSE '02' END
            AS icdcm_number,
          'DX' || CAST(l_partkey % 60 AS VARCHAR) AS icdcm_norm
        FROM li),
      proc AS (
        SELECT id_person, claim_id, fsd AS first_service_date,
          'PC' || CAST(l_suppkey % 40 AS VARCHAR) AS procedure_code
        FROM li),
      pharm AS (
        SELECT o_custkey % 100 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS rx_fill_date,
          'ND' || CAST(o_orderkey % 50 AS VARCHAR) AS ndc
        FROM orders WHERE o_orderkey % 4 = 0),
      sg AS (
        SELECT i, CASE i % 7
          WHEN 0 THEN 'ADHD' WHEN 1 THEN 'Adjustment' WHEN 2 THEN 'Anxiety'
          WHEN 3 THEN 'Depression' WHEN 4 THEN 'Disrup/Impulse/Conduct'
          WHEN 5 THEN 'Mania/Bipolar' ELSE 'Psychotic' END AS sub_group
        FROM range(0, 48) t(i)),
      rda_dx AS (
        SELECT 'ICD9CM' AS code_set, 'DX' || CAST(i AS VARCHAR) AS code,
          sub_group
        FROM sg WHERE i < 24
        UNION ALL
        SELECT 'ICD10CM', 'DX' || CAST(i AS VARCHAR), sub_group
        FROM sg WHERE i >= 12),
      procm1 AS (
        SELECT id_person, claim_id, first_service_date FROM proc
        WHERE procedure_code IN
          ('PC0','PC1','PC2','PC3','PC4','PC5','PC6','PC7')),
      procm2 AS (
        SELECT id_person, claim_id, first_service_date FROM proc
        WHERE procedure_code IN
          ('PC8','PC9','PC10','PC11','PC12','PC13')),
      dxm AS (
        SELECT d.id_person, d.claim_id, d.first_service_date,
          d.icdcm_number, r.sub_group
        FROM dx d JOIN rda_dx r
          ON ((r.code_set = 'ICD9CM' AND d.icdcm_version = 9
               AND d.first_service_date < DATE '1995-06-01')
           OR (r.code_set = 'ICD10CM' AND d.icdcm_version = 10
               AND d.first_service_date >= DATE '1995-06-01'))
          AND d.icdcm_norm = r.code),
      rxm AS (
        SELECT p.id_person, p.claim_id, p.rx_fill_date
            AS first_service_date,
          CASE (CAST(substr(p.ndc, 3) AS INT)) % 5
            WHEN 0 THEN 'ADHD Rx' WHEN 1 THEN 'Antianxiety Rx'
            WHEN 2 THEN 'Antidepressants Rx' WHEN 3 THEN 'Antimania Rx'
            ELSE 'Antipsychotic Rx' END AS sub_group
        FROM pharm p WHERE CAST(substr(p.ndc, 3) AS INT) < 20),"""

  private val PregPlacementCte: String = """
      WITH RECURSIVE ep AS MATERIALIZED (
        SELECT DISTINCT o_custkey % 100 AS id, CAST(o_orderdate AS DATE) AS d,
          CASE WHEN o_orderkey % 7 <= 2 THEN 'lb'
               WHEN o_orderkey % 7 <= 4 THEN 'sb' ELSE 'deliv' END AS cls
        FROM orders),
      lb0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM ep WHERE cls = 'lb'),
      lbrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM lb0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 182 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 182 THEN 1 ELSE 0 END
        FROM lbrec a JOIN lb0 b ON b.id = a.id AND b.rk = a.rk + 1),
      lbfin AS MATERIALIZED (SELECT id, d FROM lbrec WHERE inc = 1),
      sbsurv AS (
        SELECT s.id, s.d FROM (SELECT id, d FROM ep WHERE cls = 'sb') s
        ANTI JOIN lbfin l ON l.id = s.id AND l.d <> s.d
          AND abs(date_diff('day', l.d, s.d)) <= 182),
      sb0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM sbsurv),
      sbrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM sb0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 168 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 168 THEN 1 ELSE 0 END
        FROM sbrec a JOIN sb0 b ON b.id = a.id AND b.rk = a.rk + 1),
      sbfin AS MATERIALIZED (SELECT id, d FROM sbrec WHERE inc = 1),
      dvsurv AS (
        SELECT s2.id, s2.d FROM (
          SELECT s.id, s.d FROM (SELECT id, d FROM ep WHERE cls = 'deliv') s
          ANTI JOIN lbfin l ON l.id = s.id AND l.d <> s.d
            AND abs(date_diff('day', l.d, s.d)) <= 182) s2
        ANTI JOIN sbfin m ON m.id = s2.id AND m.d <> s2.d
          AND abs(date_diff('day', m.d, s2.d)) <= 168),
      dv0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM dvsurv),
      dvrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM dv0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 168 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 168 THEN 1 ELSE 0 END
        FROM dvrec a JOIN dv0 b ON b.id = a.id AND b.rk = a.rk + 1),
      dvfin AS MATERIALIZED (SELECT id, d FROM dvrec WHERE inc = 1),
      placed AS (
        SELECT id, 'lb' AS cls, d FROM lbfin
        UNION ALL SELECT id, 'sb', d FROM sbfin
        UNION ALL SELECT id, 'deliv', d FROM dvfin)"""

  /** q181/q182 shared BPE chain. Every stage is MATERIALIZED: the
    * merge-selection CTEs are referenced twice per successor stage
    * (two scalar subqueries inside each replace()), so DuckDB's
    * default inlining re-evaluates the whole prefix chain
    * multiplicatively — the unannotated q182 oracle cost ~400 s at
    * sf0.01 vs ~0.5 s materialized, byte-identical result (the
    * compare-budget fix the r12 empty driver artifact pointed at). */
  private val BpeCte: String = """
      WITH w AS MATERIALIZED (
        SELECT word, count(*)::BIGINT AS freq FROM (
          SELECT unnest(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' ')) AS word
          FROM documents)
        WHERE len(word) > 0 AND word NOT LIKE '%[%'
          AND word NOT LIKE '%]%'
        GROUP BY word),
      s0 AS MATERIALIZED (
        SELECT word, freq, array_to_string(list_transform(
          range(1, len(word) + 1),
          i -> '[' || word[i] || ']'), '') AS seq
        FROM w),
      p1 AS (
        SELECT sy[i] AS a, sy[i+1] AS b,
          CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq,
            string_split(substr(seq, 2, len(seq) - 2), '][') AS sy
          FROM s0) t,
          LATERAL unnest(generate_series(1, len(sy) - 1)) u(i)
        GROUP BY 1, 2),
      m1 AS MATERIALIZED (SELECT a, b, cnt FROM p1
        ORDER BY cnt DESC, a, b LIMIT 1),
      s1 AS MATERIALIZED (
        SELECT word, freq, replace(seq,
          '[' || (SELECT a FROM m1) || '][' || (SELECT b FROM m1) || ']',
          '[' || (SELECT a FROM m1) || (SELECT b FROM m1) || ']') AS seq
        FROM s0),
      p2 AS (
        SELECT sy[i] AS a, sy[i+1] AS b,
          CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq,
            string_split(substr(seq, 2, len(seq) - 2), '][') AS sy
          FROM s1) t,
          LATERAL unnest(generate_series(1, len(sy) - 1)) u(i)
        GROUP BY 1, 2),
      m2 AS MATERIALIZED (SELECT a, b, cnt FROM p2
        ORDER BY cnt DESC, a, b LIMIT 1),
      s2 AS MATERIALIZED (
        SELECT word, freq, replace(seq,
          '[' || (SELECT a FROM m2) || '][' || (SELECT b FROM m2) || ']',
          '[' || (SELECT a FROM m2) || (SELECT b FROM m2) || ']') AS seq
        FROM s1),
      p3 AS (
        SELECT sy[i] AS a, sy[i+1] AS b,
          CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq,
            string_split(substr(seq, 2, len(seq) - 2), '][') AS sy
          FROM s2) t,
          LATERAL unnest(generate_series(1, len(sy) - 1)) u(i)
        GROUP BY 1, 2),
      m3 AS MATERIALIZED (SELECT a, b, cnt FROM p3
        ORDER BY cnt DESC, a, b LIMIT 1),
      s3 AS MATERIALIZED (
        SELECT word, freq, replace(seq,
          '[' || (SELECT a FROM m3) || '][' || (SELECT b FROM m3) || ']',
          '[' || (SELECT a FROM m3) || (SELECT b FROM m3) || ']') AS seq
        FROM s2),
      p4 AS (
        SELECT sy[i] AS a, sy[i+1] AS b,
          CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq,
            string_split(substr(seq, 2, len(seq) - 2), '][') AS sy
          FROM s3) t,
          LATERAL unnest(generate_series(1, len(sy) - 1)) u(i)
        GROUP BY 1, 2),
      m4 AS MATERIALIZED (SELECT a, b, cnt FROM p4
        ORDER BY cnt DESC, a, b LIMIT 1),
      s4 AS MATERIALIZED (
        SELECT word, freq, replace(seq,
          '[' || (SELECT a FROM m4) || '][' || (SELECT b FROM m4) || ']',
          '[' || (SELECT a FROM m4) || (SELECT b FROM m4) || ']') AS seq
        FROM s3),
      p5 AS (
        SELECT sy[i] AS a, sy[i+1] AS b,
          CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq,
            string_split(substr(seq, 2, len(seq) - 2), '][') AS sy
          FROM s4) t,
          LATERAL unnest(generate_series(1, len(sy) - 1)) u(i)
        GROUP BY 1, 2),
      m5 AS MATERIALIZED (SELECT a, b, cnt FROM p5
        ORDER BY cnt DESC, a, b LIMIT 1)"""

  /** Shared synthetic-source + cohort CTE prefix for the q192/q193
    * sp_mcaidcohort oracles — mirrors BuildQueries.mcaidCohortFrames
    * and the sproc steps exactly (one copy; the lang battery is
    * generated from the same BuildQueries.CohortLangs list the fixture
    * uses, so the two cannot drift). */
  private val McaidCohortCte: String = {
    val langs = graft.queries.BuildQueries.CohortLangs
    val langFlags = langs.zipWithIndex.map { case (l, i) =>
      s"""CASE WHEN pid % 10 = $i OR pid % ${29 + i} = 0
            THEN 1 ELSE 0 END AS $l""" }.mkString(",\n          ")
    val langT = langs.zipWithIndex.map { case (l, i) =>
      s"""CASE WHEN pid % 23 = 4 THEN 1
            WHEN pid % 10 = $i OR pid % ${29 + i} = 0
            THEN 1 ELSE 0 END AS ${l}_t""" }.mkString(",\n          ")
    val maxlang = langs.zipWithIndex.map { case (l, i) =>
      s"WHEN pid % 10 = $i THEN '${l.toUpperCase}'" }
      .mkString("CASE ", " ", " END AS maxlang")
    def pick(v: String) = s"""
      ${v}_pick AS (
        SELECT id, $v FROM (
          SELECT id, $v, ROW_NUMBER() OVER (
            PARTITION BY id ORDER BY dur DESC NULLS LAST, $v ASC) AS r
          FROM (
            SELECT id, $v, SUM(covd) + 1 AS dur FROM (
              SELECT a.id, a.$v,
                CASE WHEN a.from_date <= DATE '1995-12-31'
                  AND a.to_date >= DATE '1995-01-01'
                  THEN datediff('day',
                    GREATEST(a.from_date, DATE '1995-01-01'),
                    LEAST(a.to_date, DATE '1995-12-31')) + 1 END AS covd
              FROM address a JOIN ids USING (id)) t
            GROUP BY id, $v) d) rr
        WHERE rr.r = 1)"""
    s"""
      WITH pid_src AS (
        SELECT DISTINCT c_custkey % 100 AS pid FROM customer),
      demoever AS (
        SELECT 'P' || CAST(pid AS VARCHAR) AS id,
          DATE '1930-01-01' + CAST((pid * 61) % 24000 AS INT) AS dobnew,
          CASE WHEN pid % 17 = 0 THEN 'Unknown'
            WHEN pid % 2 = 1 THEN 'Male' ELSE 'Female' END AS gender_mx,
          CASE WHEN pid % 17 <> 0 AND pid % 2 = 1 THEN 1 ELSE 0 END
            AS male,
          CASE WHEN pid % 17 <> 0 AND pid % 2 = 0 THEN 1 ELSE 0 END
            AS female,
          CASE WHEN pid % 23 = 1 THEN 1
            WHEN pid % 17 <> 0 AND pid % 2 = 1 THEN 1 ELSE 0 END
            AS male_t,
          CASE WHEN pid % 23 = 2 THEN 1
            WHEN pid % 17 <> 0 AND pid % 2 = 0 THEN 1 ELSE 0 END
            AS female_t,
          CASE WHEN pid % 17 = 0 THEN 1 ELSE 0 END AS gender_unk,
          CASE WHEN pid % 5 = 1 THEN 'Latino' ELSE race_mx END
            AS race_eth_mx,
          race_mx,
          aian, asian, black, nhpi, white,
          CASE WHEN pid % 5 = 1 THEN 1 ELSE 0 END AS latino,
          CASE WHEN pid % 23 = 3 THEN 1 ELSE aian END AS aian_t,
          CASE WHEN pid % 23 = 3 THEN 1 ELSE asian END AS asian_t,
          CASE WHEN pid % 23 = 3 THEN 1 ELSE black END AS black_t,
          CASE WHEN pid % 23 = 3 THEN 1 ELSE nhpi END AS nhpi_t,
          CASE WHEN pid % 23 = 3 THEN 1 ELSE white END AS white_t,
          CASE WHEN pid % 23 = 3 THEN 1
            WHEN pid % 5 = 1 THEN 1 ELSE 0 END AS latino_t,
          CASE WHEN aian + asian + black + nhpi + white = 0
            THEN 1 ELSE 0 END AS race_unk,
          $maxlang,
          $langFlags,
          $langT,
          CASE WHEN pid % 37 = 0 THEN 1 ELSE 0 END AS lang_unk
        FROM (
          SELECT pid,
            CASE WHEN pid % 11 = 0 THEN 1 ELSE 0 END AS aian,
            CASE WHEN pid % 7 = 1 THEN 1 ELSE 0 END AS asian,
            CASE WHEN pid % 7 = 2 THEN 1 ELSE 0 END AS black,
            CASE WHEN pid % 13 = 3 THEN 1 ELSE 0 END AS nhpi,
            CASE WHEN pid % 3 = 0 THEN 1 ELSE 0 END AS white,
            CASE WHEN
              (CASE WHEN pid % 11 = 0 THEN 1 ELSE 0 END) +
              (CASE WHEN pid % 7 = 1 THEN 1 ELSE 0 END) +
              (CASE WHEN pid % 7 = 2 THEN 1 ELSE 0 END) +
              (CASE WHEN pid % 13 = 3 THEN 1 ELSE 0 END) +
              (CASE WHEN pid % 3 = 0 THEN 1 ELSE 0 END) > 1
              THEN 'Multiple'
              WHEN pid % 11 = 0 THEN 'AI/AN'
              WHEN pid % 7 = 1 THEN 'Asian'
              WHEN pid % 7 = 2 THEN 'Black'
              WHEN pid % 13 = 3 THEN 'NH/PI'
              WHEN pid % 3 = 0 THEN 'White'
              ELSE 'Unknown' END AS race_mx
          FROM pid_src) b),
      elig_overall AS (
        SELECT 'P' || CAST(o_custkey % 100 AS VARCHAR) AS id,
          CAST(o_orderdate AS DATE) AS from_date,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 45 AS INT)
            AS to_date
        FROM orders WHERE o_orderkey % 7 = 0),
      address AS (
        SELECT 'P' || CAST(o_custkey % 100 AS VARCHAR) AS id,
          CAST(98001 + o_orderkey % 5 AS INT) AS zip_new,
          CAST(o_orderkey % 7 AS INT) AS hra_id,
          CAST(100 + o_orderkey % 9 AS INT) AS tractce10,
          CAST(o_orderdate AS DATE)
            + CAST(o_orderkey % 200 - 100 AS INT) AS from_date,
          CAST(o_orderdate AS DATE)
            + CAST(o_orderkey % 200 - 100 AS INT)
            + CAST(o_orderkey % 150 AS INT) AS to_date
        FROM orders WHERE o_orderkey % 3 = 0),
      covgrp AS (
        SELECT 'P' || CAST(o_custkey % 100 AS VARCHAR) AS id,
          CASE WHEN o_orderkey % 4 = 0 THEN 'Y' ELSE 'N' END AS dual,
          CAST(o_orderdate AS DATE) AS from_date,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 90 AS INT)
            AS to_date
        FROM orders WHERE o_orderkey % 5 = 0),
      hra_region AS (
        SELECT CAST(n_nationkey AS INT) AS hra_id,
          'HRA ' || CAST(n_nationkey AS VARCHAR) AS hra,
          CAST(n_nationkey % 3 AS INT) AS region_id,
          'Region ' || CAST(n_nationkey % 3 AS VARCHAR) AS region
        FROM nation WHERE n_nationkey < 7),
      claim_summary AS (
        SELECT 'P' || CAST(o_custkey % 100 AS VARCHAR) AS id,
          'T' || CAST(o_orderkey AS VARCHAR) AS tcn,
          CAST(o_orderdate AS DATE) AS from_date,
          CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS inpatient,
          CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END AS ipt_medsurg,
          CASE WHEN o_orderkey % 15 = 0 THEN 1 ELSE 0 END AS ipt_bh,
          CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS ed,
          CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END AS ed_avoid_ca,
          CASE WHEN o_orderkey % 9 = 0 THEN 1 ELSE 0 END
            AS ed_emergent_nyu,
          CASE WHEN o_orderkey % 9 = 3 THEN 1 ELSE 0 END
            AS ed_nonemergent_nyu,
          CASE WHEN o_orderkey % 9 = 6 THEN 1 ELSE 0 END
            AS ed_intermediate_nyu,
          CAST(o_orderkey % 6 AS VARCHAR) AS clm_type_code
        FROM orders),
      ids AS (
        SELECT DISTINCT id FROM elig_overall
        WHERE from_date <= DATE '1995-12-31'
          AND to_date >= DATE '1995-01-01'),
      demo AS (
        SELECT * FROM (
          SELECT DISTINCT d.*,
            CAST(CASE
              WHEN FLOOR((datediff('day', d.dobnew, DATE '1995-12-31')
                + 1) / 365.25) >= 0
              THEN FLOOR((datediff('day', d.dobnew, DATE '1995-12-31')
                + 1) / 365.25)
              WHEN FLOOR((datediff('day', d.dobnew, DATE '1995-12-31')
                + 1) / 365.25) = -1 THEN 0 END AS INT) AS age
          FROM demoever d JOIN ids USING (id)) x
        WHERE age >= 1 AND age <= 64
          AND maxlang IN ('ENGLISH', 'SPANISH', 'RUSSIAN',
            'CHINESE', 'VIETNAMESE', 'SOMALI')),
      demo7 AS (
        SELECT *, CASE
            WHEN age >= 0 AND age < 5 THEN '0-4'
            WHEN age >= 5 AND age < 12 THEN '5-11'
            WHEN age >= 12 AND age < 18 THEN '12-17'
            WHEN age >= 18 AND age < 25 THEN '18-24'
            WHEN age >= 25 AND age < 45 THEN '25-44'
            WHEN age >= 45 AND age < 65 THEN '45-64'
            WHEN age >= 65 THEN '65 and over' END AS age_grp7
        FROM demo),${pick("zip_new")},${pick("hra_id")},${pick("tractce10")},
      geo AS (
        SELECT z.id, CAST(t.tractce10 AS VARCHAR) AS tractce10,
          CAST(z.zip_new AS VARCHAR) AS zip_new,
          CAST(h.hra_id AS VARCHAR) AS hra_id, r.hra,
          CAST(r.region_id AS VARCHAR) AS region_id, r.region
        FROM zip_new_pick z
        JOIN hra_id_pick h ON z.id = h.id
        JOIN tractce10_pick t ON z.id = t.id
        LEFT JOIN hra_region r ON h.hra_id = r.hra_id
        WHERE CAST(z.zip_new AS VARCHAR)
            IN ('98001', '98002', '98003', '98004')
          AND r.region IN ('Region 0', 'Region 1')),
      cov AS (
        SELECT * FROM (
          SELECT id, CAST(SUM(covd) AS BIGINT) AS covd,
            CAST(SUM(covd) * 1.0 / 365.0 * 100.0 AS DECIMAL(4,1))
              AS covper,
            MAX(covd) AS ccovd_max,
            GREATEST(MAX(pregap), MAX(postgap)) AS covgap_max
          FROM (
            SELECT id, from_date, to_date,
              CASE WHEN from_date <= DATE '1995-12-31'
                AND to_date >= DATE '1995-01-01'
                THEN datediff('day',
                  GREATEST(from_date, DATE '1995-01-01'),
                  LEAST(to_date, DATE '1995-12-31')) + 1 END AS covd,
              CASE WHEN from_date <= DATE '1995-01-01' THEN 0
                WHEN LAG(to_date, 1) OVER w_to IS NULL
                  THEN datediff('day', DATE '1995-01-01', from_date) - 1
                ELSE datediff('day', LAG(to_date, 1) OVER w_to,
                  from_date) - 1 END AS pregap,
              CASE WHEN to_date >= DATE '1995-12-31' THEN 0
                WHEN LEAD(to_date, 1) OVER w_to IS NULL
                  THEN datediff('day', to_date, DATE '1995-12-31') - 1
                ELSE datediff('day', to_date,
                  LEAD(from_date, 1) OVER w_from) - 1 END AS postgap
            FROM (
              SELECT DISTINCT id, from_date, to_date FROM elig_overall
              WHERE from_date <= DATE '1995-12-31'
                AND to_date >= DATE '1995-01-01') t
            WINDOW
              w_to AS (PARTITION BY id ORDER BY to_date, from_date),
              w_from AS (PARTITION BY id ORDER BY from_date, to_date))
          GROUP BY id) c
        WHERE covper >= 2.0 AND ccovd_max >= 3 AND covgap_max <= 360),
      dualt AS (
        SELECT * FROM (
          SELECT id, CAST(SUM(duald) AS BIGINT) AS duald,
            CAST(SUM(duald) * 1.0 / 365.0 * 100.0 AS DECIMAL(4,1))
              AS dualper,
            CASE WHEN SUM(duald) >= 1 THEN 1 ELSE 0 END AS dual_flag
          FROM (
            SELECT DISTINCT id, dual, from_date, to_date,
              CASE WHEN dual = 'Y'
                AND from_date <= DATE '1995-12-31'
                AND to_date >= DATE '1995-01-01'
                THEN datediff('day',
                  GREATEST(from_date, DATE '1995-01-01'),
                  LEAST(to_date, DATE '1995-12-31')) + 1
                ELSE 0 END AS duald
            FROM covgrp
            WHERE from_date <= DATE '1995-12-31'
              AND to_date >= DATE '1995-01-01') y
          GROUP BY id) z
        WHERE dualper <= 95.0),
      mcohort AS (
        SELECT cov.id,
          CASE
            WHEN cov.covgap_max <= 30 AND dualt.dual_flag = 0
              THEN 'small gap, nondual'
            WHEN cov.covgap_max > 30 AND dualt.dual_flag = 0
              THEN 'large gap, nondual'
            WHEN cov.covgap_max <= 30 AND dualt.dual_flag = 1
              THEN 'small gap, dual'
            WHEN cov.covgap_max > 30 AND dualt.dual_flag = 1
              THEN 'large gap, dual' END AS cov_cohort,
          cov.covd, cov.covper, cov.ccovd_max, cov.covgap_max,
          dualt.duald, dualt.dualper, dualt.dual_flag,
          demo7.* EXCLUDE (id),
          geo.tractce10, geo.zip_new, geo.hra_id, geo.hra,
          geo.region_id, geo.region
        FROM cov
        JOIN dualt ON cov.id = dualt.id
        JOIN geo ON cov.id = geo.id
        JOIN demo7 ON cov.id = demo7.id)"""
  }

  /** The q142 apcd_claim_header replay — factored so the q246 QA
    * battery audits EXACTLY the frame the q142 oracle pins. */
  private def apcdHeaderOracle: String = """
      WITH hdr AS (
        SELECT o_custkey % 400 AS id_apcd, o_orderkey AS chid,
          CASE WHEN o_orderkey % 29 = 0 THEN -1
            WHEN o_orderkey % 29 = 1 THEN -2
            ELSE CAST(o_orderkey % 12 AS INT) END AS pcode_raw,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 4 AS INT) AS lsd,
          CAST(o_orderdate AS DATE) + 7 AS first_paid_date,
          CAST(o_orderdate AS DATE) + 14 AS last_paid_date,
          round(o_totalprice, 2) AS charge_amt,
          o_orderstatus AS status_code,
          CASE WHEN o_orderkey % 23 = 0 THEN '-1'
            WHEN o_orderkey % 23 = 1 THEN '-2'
            ELSE '011' || CAST(o_orderkey % 8 AS VARCHAR) END AS tob,
          CAST(1 + o_orderkey % 3 AS INT) AS ct,
          CAST(1 + o_orderkey % 2 AS INT) AS tos,
          CASE WHEN o_orderkey % 13 = 0 THEN -1
            WHEN o_orderkey % 13 = 1 THEN -2
            ELSE CAST(1 + o_orderkey % 4 AS INT) END AS pos,
          CASE WHEN o_orderkey % 6 = 0 THEN 'Y' ELSE 'N' END AS er_flag,
          CASE WHEN o_orderkey % 17 = 0 THEN 'Y' ELSE 'N' END AS denied,
          CASE WHEN o_orderkey % 19 = 0 THEN 'Y' ELSE 'N' END AS orphaned,
          CAST(o_orderkey % 21 = 0 AS INT) AS cardiac_imaging_and_tests_flag,
          CAST(o_orderkey % 22 = 0 AS INT) AS telehealth_flag,
          CAST(o_orderkey % 35 = 0 AS INT) AS covid19_flag
        FROM orders),
      lin AS (
        SELECT l_orderkey AS chid,
          CASE WHEN l_suppkey % 11 = 0 THEN '23'
            ELSE lpad(CAST(l_suppkey % 32 AS VARCHAR), 2, '0') END AS pos_code,
          CASE WHEN l_partkey % 9 = 0
            THEN '045' || CAST(l_partkey % 10 AS VARCHAR)
            ELSE lpad(CAST(l_partkey % 2000 AS VARCHAR), 4, '0')
            END AS revenue_code,
          CASE WHEN l_linenumber = 1 AND l_orderkey % 3 = 0
            THEN CAST(l_shipdate AS DATE) END AS discharge_date
        FROM lineitem),
      linagg AS (
        SELECT chid, max(discharge_date) AS discharge_date,
          max(CASE WHEN pos_code = '23' THEN 1 ELSE 0 END) AS ed_pos_temp,
          max(CASE WHEN regexp_matches(revenue_code, '^045[01269]$')
            OR revenue_code = '0981' THEN 1 ELSE 0 END) AS ed_rev_temp
        FROM lin GROUP BY chid),
      prc AS (
        SELECT l_orderkey AS chid,
          CASE WHEN l_partkey % 17 = 0
            THEN '9928' || CAST(1 + l_partkey % 7 AS VARCHAR)
            WHEN l_partkey % 17 = 1 THEN '99291'
            WHEN l_partkey % 17 = 2
            THEN '992' || CAST(11 + l_partkey % 5 AS VARCHAR)
            ELSE lpad(CAST(l_partkey % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code
        FROM lineitem),
      edproc AS (
        SELECT chid, 1 AS ed_procedure_code_temp FROM prc GROUP BY chid
        HAVING max(CASE WHEN regexp_matches(procedure_code, '^9928[12345]$')
          OR procedure_code = '99291' THEN 1 ELSE 0 END) = 1),
      dxt AS (
        SELECT l_orderkey AS chid,
          CASE WHEN l_partkey % 6 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 6 <> 0 AND l_partkey % 5 = 0
            THEN 'Z00' || CAST(l_partkey % 4 AS VARCHAR)
            WHEN l_partkey % 6 <> 0
            THEN 'F' || lpad(CAST(l_partkey % 400 AS VARCHAR), 3, '0')
            ELSE lpad(CAST(l_partkey % 999 AS VARCHAR), 4, '0') END AS norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS dxnum
        FROM lineitem),
      pdx AS (
        SELECT chid, min(norm) AS primary_diagnosis,
          min(ver) AS icdcm_version
        FROM dxt WHERE dxnum = '01' GROUP BY chid),
      icdref AS (
        SELECT * FROM (
          SELECT DISTINCT norm AS icdcm, ver AS rver,
            CASE WHEN regexp_matches(norm, '^F[23]') THEN 1 ELSE 0 END
              AS ref_mh,
            CASE WHEN regexp_matches(norm, '^F1')
              OR (ver = 9 AND norm LIKE '030%') THEN 1 ELSE 0 END AS ref_sud
          FROM dxt)
        WHERE ref_mh = 1 OR ref_sud = 1),
      bh AS (
        SELECT d.chid,
          max(CASE WHEN d.dxnum = '01' AND r.ref_mh = 1 THEN 1 ELSE 0 END)
            AS mh_primary,
          max(CASE WHEN r.ref_mh = 1 THEN 1 ELSE 0 END) AS mh_any,
          max(CASE WHEN d.dxnum = '01' AND r.ref_sud = 1 THEN 1 ELSE 0 END)
            AS sud_primary,
          max(CASE WHEN r.ref_sud = 1 THEN 1 ELSE 0 END) AS sud_any
        FROM dxt d JOIN icdref r ON d.norm = r.icdcm AND d.ver = r.rver
        GROUP BY d.chid),
      pcref(code, code_system) AS (
        VALUES ('99211','cpt'),('99212','cpt'),('99213','cpt'),
          ('G0402','hcpcs'),('Z000','icd10cm'),('Z001','icd10cm'),
          ('207Q00000X','provider_taxonomy'),
          ('207R00000X','provider_taxonomy')),
      pcproc AS (SELECT DISTINCT p.chid FROM prc p JOIN pcref r
        ON p.procedure_code = r.code AND r.code_system IN ('cpt','hcpcs')),
      pcz AS (SELECT DISTINCT d.chid FROM dxt d JOIN pcref r
        ON d.norm = r.code AND r.code_system = 'icd10cm' WHERE d.ver = 10),
      prov AS (
        SELECT l_orderkey AS chid, l_suppkey AS pid,
          CASE WHEN l_linenumber % 3 = 0 THEN 'rendering'
            WHEN l_linenumber % 3 = 1 THEN 'attending'
            ELSE 'billing' END AS ptype
        FROM lineitem),
      mastertax AS (
        SELECT 1000000000 + s_suppkey AS npi,
          CASE WHEN s_suppkey % 7 = 0 THEN '207Q00000X'
            ELSE '208D00000X' END AS taxonomy FROM supplier
        UNION ALL
        SELECT 1000000000 + s_suppkey, '207R00000X' FROM supplier
        WHERE s_suppkey % 11 = 0),
      pcnpi AS (SELECT DISTINCT m.npi FROM mastertax m JOIN pcref r
        ON m.taxonomy = r.code AND r.code_system = 'provider_taxonomy'),
      pctax AS (
        SELECT DISTINCT p.chid FROM prov p
        JOIN (SELECT s_suppkey AS pid, 1000000000 + s_suppkey AS npi
          FROM supplier) n ON p.pid = n.pid
        JOIN pcnpi q ON n.npi = q.npi
        WHERE p.ptype IN ('rendering','attending')),
      pcv AS (
        SELECT chid FROM pctax
        WHERE chid IN (SELECT chid FROM pcproc)
          OR chid IN (SELECT chid FROM pcz)),
      base AS (
        SELECT h.id_apcd, h.chid, h.fsd, h.lsd, h.first_paid_date,
          h.last_paid_date, h.charge_amt,
          h.cardiac_imaging_and_tests_flag, h.telehealth_flag,
          h.covid19_flag, s.claim_status_id, g.discharge_date,
          g.ed_pos_temp, g.ed_rev_temp,
          CASE WHEN h.pcode_raw IN (-1,-2) THEN NULL ELSE h.pcode_raw END
            AS product_code_id,
          CASE WHEN h.tob IN ('-1','-2') THEN NULL ELSE h.tob END
            AS type_of_bill_code,
          CAST(h.ct AS VARCHAR) || '.' || CAST(h.tos AS VARCHAR) || '.' ||
            CAST(CASE WHEN h.pos IN (-1,-2) THEN NULL ELSE h.pos END
              AS VARCHAR) AS claim_type_apcd_id,
          CASE WHEN h.er_flag = 'Y' THEN 1 ELSE 0 END AS ed_perform_temp,
          CASE WHEN h.ct = 1 AND h.tos = 1 AND h.pos = 1
            AND s.claim_status_id IN (-1,-2,1,5,2,6)
            AND g.discharge_date IS NOT NULL THEN 1 ELSE 0 END AS ipt_flag
        FROM hdr h
        LEFT JOIN (VALUES ('O',1),('F',5),('P',30))
          AS s(claim_status_code, claim_status_id)
          ON h.status_code = s.claim_status_code
        LEFT JOIN linagg g ON h.chid = g.chid
        WHERE h.denied = 'N' AND h.orphaned = 'N'),
      xw AS (
        SELECT DISTINCT CAST(ct AS VARCHAR) || '.' || CAST(tos AS VARCHAR)
            || '.' || CAST(pos AS VARCHAR) AS source_clm_type_id,
          CAST(CASE WHEN ct = 1 THEN 1 WHEN ct = 2 THEN 4 ELSE 5 END
            AS INT) AS kc_clm_type_id
        FROM hdr WHERE pos NOT IN (-1,-2)),
      flagged AS (
        SELECT b.*, x.kc_clm_type_id AS claim_type_id,
          CASE WHEN b.ed_perform_temp = 1 AND x.kc_clm_type_id = 4
            THEN 1 ELSE 0 END AS ed_perform,
          CASE WHEN x.kc_clm_type_id = 5 AND
            ((e.ed_procedure_code_temp = 1 AND b.ed_pos_temp = 1)
              OR b.ed_rev_temp = 1) THEN 1 ELSE 0 END AS ed_yale_carrier,
          CASE WHEN x.kc_clm_type_id = 4 AND (b.ed_rev_temp = 1
            OR b.ed_pos_temp = 1 OR e.ed_procedure_code_temp = 1)
            THEN 1 ELSE 0 END AS ed_yale_opt,
          CASE WHEN x.kc_clm_type_id = 1 AND (b.ed_rev_temp = 1
            OR b.ed_pos_temp = 1 OR e.ed_procedure_code_temp = 1)
            THEN 1 ELSE 0 END AS ed_yale_ipt,
          b.ipt_flag AS inpatient,
          CASE WHEN b.chid IN (SELECT chid FROM pcv)
            AND b.claim_type_apcd_id NOT IN
              ('1.1.1','1.1.14','1.1.2','2.3.8','2.3.2','1.2.8')
            AND b.claim_status_id IN (-1,-2,1,5,2,6)
            THEN 1 ELSE 0 END AS pc_visit
        FROM base b
        LEFT JOIN xw x ON b.claim_type_apcd_id = x.source_clm_type_id
        LEFT JOIN edproc e ON b.chid = e.chid),
      pcseq AS (SELECT chid, CAST(dense_rank() OVER (PARTITION BY id_apcd
          ORDER BY fsd) AS INT) AS pc_visit_seq
        FROM flagged WHERE pc_visit = 1),
      iptseq AS (SELECT chid, CAST(dense_rank() OVER (PARTITION BY id_apcd
          ORDER BY fsd) AS INT) AS inpatient_seq
        FROM flagged WHERE inpatient = 1),
      edpseq AS (SELECT chid, CAST(dense_rank() OVER (PARTITION BY id_apcd
          ORDER BY fsd) AS INT) AS ed_perform_seq
        FROM flagged WHERE ed_perform = 1),
      ed0 AS (
        SELECT id_apcd, chid, fsd, lsd,
          lag(fsd) OVER (PARTITION BY id_apcd
            ORDER BY fsd, fsd, lsd, chid) AS prev_f
        FROM flagged WHERE ed_yale_carrier = 1 OR ed_yale_opt = 1
          OR ed_yale_ipt = 1),
      phseq AS (
        SELECT chid, CAST(sum(CASE WHEN prev_f IS NULL
            OR date_diff('day', prev_f, fsd) > 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY id_apcd ORDER BY fsd, fsd, lsd, chid
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ed_pophealth_seq
        FROM ed0)
      SELECT DISTINCT f.id_apcd, f.chid AS claim_header_id,
        f.product_code_id, f.fsd AS first_service_date,
        f.lsd AS last_service_date, f.first_paid_date, f.last_paid_date,
        f.charge_amt, p.primary_diagnosis, p.icdcm_version,
        f.claim_status_id, f.claim_type_apcd_id, f.claim_type_id,
        f.type_of_bill_code,
        coalesce(b2.mh_primary, 0) AS mh_primary,
        coalesce(b2.mh_any, 0) AS mh_any,
        coalesce(b2.sud_primary, 0) AS sud_primary,
        coalesce(b2.sud_any, 0) AS sud_any,
        f.cardiac_imaging_and_tests_flag, f.telehealth_flag,
        f.covid19_flag, f.ed_perform, f.ed_yale_carrier, f.ed_yale_opt,
        f.ed_yale_ipt, f.inpatient, f.discharge_date, f.pc_visit,
        q1.pc_visit_seq, q2.inpatient_seq, q3.ed_perform_seq,
        q4.ed_pophealth_seq
      FROM flagged f
      LEFT JOIN pdx p ON f.chid = p.chid
      LEFT JOIN bh b2 ON f.chid = b2.chid
      LEFT JOIN pcseq q1 ON f.chid = q1.chid
      LEFT JOIN iptseq q2 ON f.chid = q2.chid
      LEFT JOIN edpseq q3 ON f.chid = q3.chid
      LEFT JOIN phseq q4 ON f.chid = q4.chid
      ORDER BY claim_header_id
"""

  /** The q205 oracle CTE chain (fixture series, mid-import log,
    * name parse, scan-order id assignment, the `unioned` state) —
    * shared with q248, which runs the import to completion on the
    * same state. */
  private def apcdEtlLogCtes: String = """
      WITH no AS (SELECT count(*) AS n FROM orders),
      nc AS (SELECT count(*) AS n FROM customer),
      nn AS (SELECT count(*) AS n FROM nation),
      s_o26 AS (
        SELECT concat('final.orders.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20260318.csv.gz') AS file_name,
          'final' AS file_schema, 'orders' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2026-03-18' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 7.0) AS BIGINT) AS bs
              FROM generate_series(1, 7) t(fn) CROSS JOIN no) x),
      s_c26 AS (
        SELECT concat('stage.customer.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20260318.csv.gz') AS file_name,
          'stage' AS file_schema, 'customer' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2026-03-18' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 3.0) AS BIGINT) AS bs
              FROM generate_series(1, 3) t(fn) CROSS JOIN nc) x),
      s_r26 AS (
        SELECT concat('ref.nation.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20260318.csv.gz') AS file_name,
          'ref' AS file_schema, 'nation' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2026-03-18' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 1.0) AS BIGINT) AS bs
              FROM generate_series(1, 1) t(fn) CROSS JOIN nn) x),
      s_o24a AS (
        SELECT concat('final.orders.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20240601.csv.gz') AS file_name,
          'final' AS file_schema, 'orders' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2024-06-01' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 3.0) AS BIGINT) AS bs
              FROM generate_series(1, 3) t(fn) CROSS JOIN no) x),
      s_o24b AS (
        SELECT concat('final.orders.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20241217.csv.gz') AS file_name,
          'final' AS file_schema, 'orders' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2024-12-17' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 7.0) AS BIGINT) AS bs
              FROM generate_series(1, 7) t(fn) CROSS JOIN no) x),
      s_c24 AS (
        SELECT concat('stage.customer.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20241217.csv.gz') AS file_name,
          'stage' AS file_schema, 'customer' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2024-12-17' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 3.0) AS BIGINT) AS bs
              FROM generate_series(1, 3) t(fn) CROSS JOIN nc) x),
      s_r24 AS (
        SELECT concat('ref.nation.', lpad(CAST(fn AS VARCHAR), 3, '0'),
            '_20241217.csv.gz') AS file_name,
          'ref' AS file_schema, 'nation' AS file_table,
          CAST(fn AS INTEGER) AS file_number, '2024-12-17' AS file_date,
          greatest(0, least(n, fn * (bs + 1)) - (fn - 1) * (bs + 1))
            AS rows_file
        FROM (SELECT fn, n, CAST(round(n / 1.0) AS BIGINT) AS bs
              FROM generate_series(1, 1) t(fn) CROSS JOIN nn) x),
      log AS (
        SELECT CAST(0 + file_number AS BIGINT) AS etl_id, file_name,
          file_schema, file_table, file_number, file_date,
          'deleted' AS status, rows_file, rows_file AS rows_loaded
        FROM s_o24a
        UNION ALL
        SELECT CAST(3 + file_number AS BIGINT), file_name, file_schema,
          file_table, file_number, file_date, 'archived', rows_file,
          rows_file
        FROM s_r24
        UNION ALL
        SELECT CAST(4 + file_number AS BIGINT), file_name, file_schema,
          file_table, file_number, file_date, 'archived', rows_file,
          rows_file
        FROM s_c24
        UNION ALL
        SELECT CAST(7 + file_number AS BIGINT), file_name, file_schema,
          file_table, file_number, file_date, 'archived', rows_file,
          rows_file
        FROM s_o24b
        UNION ALL
        SELECT CAST(15 AS BIGINT), file_name, file_schema, file_table,
          file_number, file_date, 'loaded', rows_file, rows_file - 5
        FROM s_c26 WHERE file_number = 1
        UNION ALL
        SELECT CAST(16 AS BIGINT), file_name, file_schema, file_table,
          file_number, file_date, 'loaded', rows_file, rows_file
        FROM s_o26 WHERE file_number = 1),
      incoming AS (
        SELECT * FROM s_r26 UNION ALL SELECT * FROM s_c26
        UNION ALL SELECT * FROM s_o26),
      newf AS (
        SELECT file_name, file_schema, rows_file,
          split_part(file_name, '.', 2) AS file_table,
          CAST(substring(split_part(file_name, '.', 3), 1, 3) AS INTEGER)
            AS file_number,
          concat_ws('-', substring(file_name, -15, 4),
            substring(file_name, -11, 2), substring(file_name, -9, 2))
            AS file_date
        FROM incoming
        WHERE file_name NOT IN (SELECT file_name FROM log)),
      newid AS (
        SELECT *,
          (SELECT max(etl_id) FROM log) + row_number() OVER (ORDER BY
            CASE file_schema WHEN 'ref' THEN 0 WHEN 'stage' THEN 1
              ELSE 2 END, file_name) AS etl_id
        FROM newf),
      unioned AS (
        SELECT etl_id, file_name, file_schema, file_table, file_number,
          file_date, status, rows_file, rows_loaded,
          CASE WHEN rows_loaded IS NULL THEN NULL
            WHEN rows_file = rows_loaded THEN 'OK'
            ELSE concat('ERROR: Row Count of File ', file_name, ' (',
              CAST(rows_file AS VARCHAR),
              ') does NOT MATCH Rows Loaded to SQL Table (',
              CAST(rows_loaded AS VARCHAR), ')!!!') END AS load_result
        FROM log
        UNION ALL
        SELECT etl_id, file_name, file_schema, file_table, file_number,
          file_date, 'created', rows_file, CAST(NULL AS BIGINT),
          CAST(NULL AS VARCHAR)
        FROM newid)
"""

  /** Composed-pipeline oracle for INLINE-promote chains (q278),
    * GENERATED from the stage oracles the chain executes (the q246
    * discipline: the audit replays the exact pinned frames — here by
    * string-composing each stage's own oracle SQL as a MATERIALIZED
    * CTE, so the chain oracle can never drift from the per-stage
    * oracles). Stage sequence = the deterministic Kahn order
    * AnalyticPipeline.topoOrder derives from the csv-ordered
    * declarations (see the runner's scaladoc); a hard gate appears as
    * a `pp_gate` CTE — stages at/after it emit their verdict rows
    * only when it holds and one 'aborted' row each when it does not,
    * exactly the runner's stop() semantics (structural, not
    * fixture-accidental). */
  private def chainOracleSql(base: Map[String, String],
      stages: Seq[(Int, String, String)],
      gateSeqs: Seq[Int], gatedSeqs: Set[Int]): String = {
    val ctes = stages.map { case (i, _, key) =>
      s"pp_s$i AS MATERIALIZED (${base(key)}),\n" +
        s"pp_c$i AS (SELECT (SELECT count(*) FROM pp_s$i) AS n, " +
        s"(SELECT count(*) FROM (SELECT DISTINCT * FROM pp_s$i)) AS d)"
    }.mkString(",\n")
    val gate = if (gateSeqs.isEmpty) ""
      else ",\npp_gate AS (SELECT " + gateSeqs.map(i =>
        s"(SELECT n > 0 AND d = n FROM pp_c$i)").mkString(" AND ") +
        " AS ok)"
    val arms = stages.map { case (i, t, _) =>
      val from = s"pp_c$i" + (if (gatedSeqs(i)) ", pp_gate WHERE pp_gate.ok"
        else "")
      val normal =
        s"""SELECT CAST($i AS INT) AS stage_seq, '$t' AS table_name,
          'load_gate' AS item, CAST(1 AS INT) AS pass,
          n AS observed, CAST(0 AS BIGINT) AS expected FROM $from
        UNION ALL SELECT CAST($i AS INT), '$t', 'distinct_rows',
          CAST(CASE WHEN d = n THEN 1 ELSE 0 END AS INT), d, n FROM $from
        UNION ALL SELECT CAST($i AS INT), '$t', 'promote_rows',
          CAST(CASE WHEN n > 0 AND d = n THEN 1 ELSE 0 END AS INT),
          CASE WHEN n > 0 AND d = n THEN n ELSE CAST(0 AS BIGINT) END,
          n FROM $from"""
      if (gatedSeqs(i)) normal +
        s"""
        UNION ALL SELECT CAST($i AS INT), '$t', 'aborted',
          CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM pp_gate WHERE NOT pp_gate.ok"""
      else normal
    }.mkString("\n        UNION ALL ")
    s"WITH $ctes$gate\n$arms\nORDER BY stage_seq, item"
  }

  /** The q279 oracle, round-13 shape: THIRTEEN stages (the master's
    * full table list — moud/naloxone/preg_episode emit 11-13 in Kahn
    * order), two verdict rows per stage (promote is DEFERRED), the
    * mcaid_elig_demo_extra UPDATE step at seq 14 (flag ids = the
    * composed q159 cascade oracle; update_rows pins cardinality
    * preservation, update_flagged the flagged-row count), and the
    * master script's fixed 13-entry STAGE→FINAL loop at seqs 15-27
    * (promotes are UNCONDITIONAL — the loop has no QA gate, only the
    * row-count compare). The header hard gate aborts stages 8-13,
    * the update, and the whole promote loop — exactly the stop()
    * blast radius. */
  private def pipelineOracleSql(base: Map[String, String]): String = {
    // (seq, table, stage-oracle key) in the runner's topo order
    val stages = Seq(
      (1, "mcaid_elig_demo", "q67_elig_demo"),
      (2, "mcaid_elig_month", "q68_elig_month"),
      (3, "mcaid_elig_timevar", "q64_elig_timevar"),
      (4, "mcaid_claim_icdcm_header", "q79_claim_icdcm"),
      (5, "mcaid_claim_line", "q169_mcaid_claim_stage"),
      (6, "mcaid_claim_pharm", "q81_claim_pharm"),
      (7, "mcaid_claim_procedure", "q80_claim_procedure"),
      (8, "mcaid_claim_header", "q66_claim_header"),
      (9, "mcaid_claim_bh", "q83_claim_bh"),
      (10, "mcaid_claim_ccw", "q61_condition_loop"),
      (11, "mcaid_claim_moud", "q92_claim_moud"),
      (12, "mcaid_claim_naloxone", "q144_naloxone"),
      (13, "mcaid_claim_preg_episode", "q84_preg_episode"))
    val gateSeqs = Seq(4, 5, 6, 7)   // the four claim tables
    val gatedSeqs = (8 to 13).toSet  // header and everything after
    // promote-loop entries: (seq, table, its stage seq) in the
    // master's hand-written order (master_mcaid_analytic.R:399-404)
    val promotes = Seq(
      (15, "mcaid_elig_demo", 1), (16, "mcaid_elig_timevar", 3),
      (17, "mcaid_elig_month", 2), (18, "mcaid_claim_line", 5),
      (19, "mcaid_claim_icdcm_header", 4),
      (20, "mcaid_claim_procedure", 7), (21, "mcaid_claim_pharm", 6),
      (22, "mcaid_claim_header", 8), (23, "mcaid_claim_naloxone", 12),
      (24, "mcaid_claim_moud", 11),
      (25, "mcaid_claim_preg_episode", 13),
      (26, "mcaid_claim_ccw", 10), (27, "mcaid_claim_bh", 9))
    val ctes = stages.map { case (i, _, key) =>
      s"pp_s$i AS MATERIALIZED (${base(key)}),\n" +
        s"pp_c$i AS (SELECT (SELECT count(*) FROM pp_s$i) AS n, " +
        s"(SELECT count(*) FROM (SELECT DISTINCT * FROM pp_s$i)) AS d)"
    }.mkString(",\n")
    val gate = ",\npp_gate AS (SELECT " + gateSeqs.map(i =>
      s"(SELECT n > 0 AND d = n FROM pp_c$i)").mkString(" AND ") +
      " AS ok)"
    val upd = s""",
      pp_q159 AS MATERIALIZED (${base("q159_elig_demo_extra")}),
      pp_upd AS (SELECT (SELECT n FROM pp_c1) AS nb,
        (SELECT count(*) FROM pp_s1 WHERE user_id IN
          (SELECT id_mcaid FROM pp_q159 WHERE noncisgender = 1))
          AS fl)"""
    val stageArms = stages.map { case (i, t, _) =>
      val from = s"pp_c$i" + (if (gatedSeqs(i)) ", pp_gate WHERE pp_gate.ok"
        else "")
      val normal =
        s"""SELECT CAST($i AS INT) AS stage_seq, '$t' AS table_name,
          'load_gate' AS item, CAST(1 AS INT) AS pass,
          n AS observed, CAST(0 AS BIGINT) AS expected FROM $from
        UNION ALL SELECT CAST($i AS INT), '$t', 'distinct_rows',
          CAST(CASE WHEN d = n THEN 1 ELSE 0 END AS INT), d, n FROM $from"""
      if (gatedSeqs(i)) normal +
        s"""
        UNION ALL SELECT CAST($i AS INT), '$t', 'aborted',
          CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM pp_gate WHERE NOT pp_gate.ok"""
      else normal
    }
    val updArm =
      s"""SELECT CAST(14 AS INT), 'mcaid_elig_demo_extra',
          'update_rows', CAST(1 AS INT), nb, nb
        FROM pp_upd, pp_gate WHERE pp_gate.ok
        UNION ALL SELECT CAST(14 AS INT), 'mcaid_elig_demo_extra',
          'update_flagged', CAST(1 AS INT), fl, nb
        FROM pp_upd, pp_gate WHERE pp_gate.ok
        UNION ALL SELECT CAST(14 AS INT), 'mcaid_elig_demo_extra',
          'aborted', CAST(0 AS INT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT)
        FROM pp_gate WHERE NOT pp_gate.ok"""
    val promoArms = promotes.map { case (seq, t, sj) =>
      s"""SELECT CAST($seq AS INT), '$t', 'promote_rows',
          CAST(1 AS INT), n, n FROM pp_c$sj, pp_gate WHERE pp_gate.ok
        UNION ALL SELECT CAST($seq AS INT), '$t', 'aborted',
          CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM pp_gate WHERE NOT pp_gate.ok"""
    }
    val arms = (stageArms ++ Seq(updArm) ++ promoArms)
      .mkString("\n        UNION ALL ")
    s"WITH $ctes$gate$upd\n$arms\nORDER BY stage_seq, item"
  }

  /** q278 oracle: the combined mcaid+mcare chain
    * (master_mcaid_mcare_analytic.R) — same composed-stage-oracle
    * generation; NO hard gate (that master has no stop()). */
  private def mcaidMcarePipelineOracleSql(
      base: Map[String, String]): String =
    chainOracleSql(base,
      // Kahn order: after the three claim tables, claim_header is
      // READY and declared before the elig tables (csv-alphabetical:
      // claim_* < elig_*), so header/ccw emit at 5/6 and the elig
      // tables trail at 7/8 — pinned by PipelineSpec.
      Seq(
        (1, "xwalk_apde_mcaid_mcare_pha", "q155_apde_xwalk"),
        (2, "mcaid_mcare_claim_icdcm_header", "q140_mcaid_mcare_icdcm"),
        (3, "mcaid_mcare_claim_line", "q139_mcaid_mcare_line"),
        (4, "mcaid_mcare_claim_procedure", "q141_mcaid_mcare_procedure"),
        (5, "mcaid_mcare_claim_header", "q105_mcaid_mcare_header"),
        (6, "mcaid_mcare_claim_ccw", "q154_mcaid_mcare_ccw"),
        (7, "mcaid_mcare_elig_demo", "q119_mcaid_mcare_demo"),
        (8, "mcaid_mcare_elig_timevar", "q118_mcaid_mcare_timevar")),
      gateSeqs = Nil, gatedSeqs = Set.empty)

  /** The q282 ICD-CM order-file combine as a reusable CTE chain
    * ending in `im_master` (icdcode, dx_description, ver) —
    * `extraOldArms` lets q326 plant its D-code families into the
    * `old` arm exactly as LifecycleQueries.icdcmMaster(plantD=true)
    * does on the Spark side. */
  private def icdcmMasterOracleCtes(extraOldArms: String): String = """
      pks AS (SELECT DISTINCT p_partkey % 400 AS pk FROM part),
      codes AS (
        SELECT pk,
          CASE WHEN pk % 3 = 0 THEN 'A' || lpad(CAST(pk AS VARCHAR), 4, '0')
            WHEN pk % 3 = 1 THEN 'B' || lpad(CAST(pk AS VARCHAR), 4, '0')
              || 'X'
            ELSE 'C' || lpad(CAST(pk AS VARCHAR), 3, '0') END AS code
        FROM pks),
      lines AS (
        SELECT y,
          lpad(CAST(pk AS VARCHAR), 5, '0') || ' ' || rpad(code, 6, ' ')
            || ' ' || CAST(pk % 2 AS VARCHAR) || '  '
            || rpad(CASE WHEN pk % 5 = 0
                THEN 'DESC ' || code || ' REV ' || CAST(y - 2019 AS VARCHAR)
                ELSE 'DESC ' || code END, 61, ' ')
            || 'LONGTAIL9' AS v1
        FROM codes CROSS JOIN (VALUES (2019), (2020), (2021), (2022),
          (2023)) t(y)
        WHERE (pk + y) % 7 <> 0),
      parsed AS (
        SELECT y, substr(v1, 7, 6) AS icdcode_raw,
          substr(v1, 17, 61) AS dx_raw
        FROM lines),
      dedup AS (
        SELECT icdcode_raw, dx_raw, min(y) AS prio
        FROM parsed GROUP BY 1, 2),
      newt AS (
        SELECT trim(icdcode_raw) AS icdcode, trim(dx_raw)
          AS dx_description, 10 AS ver, prio
        FROM dedup),
      old AS (
        SELECT '9' || lpad(CAST(pk AS VARCHAR), 3, '0') AS icdcode,
          'ICD9 ' || lpad(CAST(pk AS VARCHAR), 3, '0') AS dx_description,
          9 AS ver, -1 AS prio
        FROM pks WHERE pk % 2 = 0
        UNION ALL
        SELECT code, 'OLD ' || code, 10, -1
        FROM codes WHERE pk % 6 = 0""" + extraOldArms + """),
      allr AS (SELECT * FROM old UNION ALL SELECT * FROM newt),
      im_master AS (
        SELECT icdcode, dx_description, CAST(ver AS INT) AS ver
        FROM (SELECT *, row_number() OVER (PARTITION BY icdcode, ver
            ORDER BY prio, dx_description) AS rn FROM allr)
        WHERE rn = 1)"""

  /** q326 oracle — the full load_ref.icdcm_codes.R enrichment
    * replayed in DuckDB over the SAME fixture derivations: the master
    * CTEs above (D families planted), fixture CTEs generated from
    * [[graft.queries.IcdcmFixture]], the kernel's literal mapping
    * tables rendered to CASE text by [[graft.sources.IcdcmEnrich]]'s
    * SQL renderers (single definition, both sides), and the while
    * loop unrolled to FOUR 6/5/4/3-digit fill passes (the fixture
    * converges in two — extra passes are the identity, and a Spark
    * run needing more than four would leave NULLs the compare
    * catches). */
  private def icdcmEnrichOracleSql: String = {
    import graft.sources.IcdcmEnrich
    import graft.queries.IcdcmFixture
    val lp4 = "lpad(CAST(pk AS VARCHAR), 4, '0')"
    val lp3 = "lpad(CAST(pk AS VARCHAR), 3, '0')"
    val a5 = s"'A' || $lp4"
    val b6 = s"'B' || $lp4 || 'X'"
    val c4 = s"'C' || $lp3"
    val n9 = s"'9' || $lp3"
    def v10arm(m: Int, codeExpr: String, tag: String): String =
      s"""SELECT $codeExpr AS code, 10 AS version,
          'I10$tag-' || CAST(pk % 4 AS VARCHAR) AS intent,
          'M10$tag-' || CAST(pk % 5 AS VARCHAR) AS mechanism,
          'MF10$tag-' || CAST(pk % 6 AS VARCHAR) AS mechanism_full
        FROM pks WHERE pk % 12 = $m"""
    val extCte = s"""
      ie_ext AS (
        SELECT $n9 AS code, 9 AS version,
          'I9-' || CAST(pk % 3 AS VARCHAR) AS intent,
          'M9-' || CAST(pk % 5 AS VARCHAR) AS mechanism,
          'MF9-' || CAST(pk % 7 AS VARCHAR) AS mechanism_full
        FROM pks WHERE pk % 4 = 0
        UNION ALL ${v10arm(1, b6, "F")}
        UNION ALL ${v10arm(1, s"$b6 || 'D'", "D")}
        UNION ALL ${v10arm(0, s"$a5 || 'XY'", "A")}
        UNION ALL ${v10arm(4, s"$b6 || 'A'", "B")}
        UNION ALL ${v10arm(7, s"$b6 || 'B'", "C1")}
        UNION ALL ${v10arm(7, s"$b6 || 'C'", "C2")})"""
    val ccwCte = s"""
      ie_ccw AS (
        SELECT $a5 AS dx, 10 AS ver, 'diabetes' AS ccw_abbrev
        FROM pks WHERE pk % 15 = 0
        UNION ALL SELECT $a5, 10, 'hypertension' FROM pks
        WHERE pk % 30 = 0
        UNION ALL SELECT $n9, 9, 'copd' FROM pks WHERE pk % 6 = 0
        UNION ALL SELECT $n9, 9, 'depression' FROM pks
        WHERE pk % 12 = 0)"""
    def caseOn(sel: String, vals: Seq[String]): String =
      s"CASE $sel " + vals.zipWithIndex.map { case (x, i) =>
        s"WHEN $i THEN ${IcdcmEnrich.sqlLit(x)}" }.mkString(" ") +
        " END"
    val b9 = IcdcmFixture.ccs9Branches
    val ccs9Cte = s"""
      ie_ccs9 AS (
        SELECT $n9 AS icdcode,
          ${caseOn("v", b9.map(_._4))} AS ccs,
          ${caseOn("v", b9.map(_._1))} AS multiccs_lv1,
          ${caseOn("v", b9.map(_._2))} AS multiccs_lv2,
          ${caseOn("v", b9.map(_._3))} AS multiccs_lv3,
          ${caseOn("v", b9.map(b => b._5.getOrElse("Cat [of] " + b._2)))}
            AS multiccs_lv2_description,
          ${caseOn("v", b9.map(b => b._6.getOrElse("L3 [of] " + b._3)))}
            AS multiccs_lv3_description
        FROM (SELECT pk, (pk // 2) % 19 AS v FROM pks
          WHERE pk % 2 = 0 AND pk % 10 IN (0, 4)))"""
    val b10 = IcdcmFixture.ccs10Branches
    val ccsrCte = s"""
      ie_ccsr AS (
        SELECT '''' || code || '''' AS icdcode,
          '''' || ${caseOn("(pk // 3) % 8", b10.map(_._1))} || ''''
            AS ccs_detail_code,
          ${caseOn("(pk // 3) % 8", b10.map(_._2))} AS ccs_detail_desc
        FROM (
          SELECT pk, $a5 AS code FROM pks
          WHERE pk % 3 = 0 AND pk % 10 IN (0, 7, 8, 9)
          UNION ALL SELECT pk, $b6 FROM pks
          WHERE pk % 3 = 1 AND pk % 10 IN (0, 7, 8, 9)
          UNION ALL SELECT pk, $c4 FROM pks
          WHERE pk % 3 = 2 AND pk % 10 IN (0, 7, 8, 9)
          UNION ALL SELECT pk, 'D' || $lp4 || 'A' FROM pks
          WHERE pk % 20 = 5
          UNION ALL SELECT pk, 'D' || $lp4 || 'XA' FROM pks
          WHERE pk % 20 = 15))"""
    val xwalkCte = s"""
      ie_xwalk AS (
        SELECT d AS xw_detail, 'MID ' || substr(d, 1, 3)
            AS ccs_midlevel_desc,
          'SUPER ' || CAST(length(d) % 4 AS VARCHAR)
            AS ccs_superlevel_desc
        FROM (VALUES ${IcdcmFixture.xwalkDescs
          .map(d => s"(${IcdcmEnrich.sqlLit(d)})").mkString(",\n          ")}) t(d))"""
    val mh = IcdcmEnrich.mhConds
    val sud9 = IcdcmEnrich.sudConds9
    val sud10 = IcdcmEnrich.sudConds10
    val rdaCte = s"""
      ie_rda AS (
        SELECT $a5 AS code, 10 AS icdcm_version,
          ${caseOn("(pk // 21) % 8", mh)} AS sub_group_condition
        FROM pks WHERE pk % 21 = 0
        UNION ALL SELECT $a5, 10, 'sud_opioid' FROM pks
        WHERE pk % 42 = 0
        UNION ALL SELECT $b6, 10, ${caseOn("(pk // 21) % 9", sud10)}
        FROM pks WHERE pk % 21 = 10
        UNION ALL SELECT $n9, 9,
          CASE WHEN (pk // 8) % 2 = 0
            THEN ${caseOn("(pk // 16) % 8", mh)}
            ELSE ${caseOn("(pk // 16) % 8", sud9)} END
        FROM pks WHERE pk % 8 = 0)"""
    // ---- enrichment ----
    val extChain = s"""
      ie_i9 AS (
        SELECT m.icdcode, m.dx_description, m.ver, e.intent,
          e.mechanism, e.mechanism_full
        FROM (SELECT * FROM im_master WHERE ver = 9) m
        LEFT JOIN (SELECT * FROM ie_ext WHERE version = 9) e
          ON m.icdcode = e.code),
      ie_ext10 AS (
        SELECT code, substr(code, 1, 6) AS code_6,
          substr(code, 1, 5) AS code_5, intent, mechanism,
          mechanism_full
        FROM ie_ext WHERE version = 10),
      ie_u6 AS (SELECT code_6 AS k, max(intent) AS u_intent
        FROM ie_ext10 GROUP BY 1 HAVING count(*) = 1),
      ie_u5 AS (SELECT code_5 AS k, max(intent) AS u_intent
        FROM ie_ext10 GROUP BY 1 HAVING count(*) = 1),
      ie_extb AS (
        SELECT e.code,
          CASE WHEN u6.u_intent IS NOT NULL THEN e.code_6 ELSE '' END
            AS code_6,
          CASE WHEN u5.u_intent IS NOT NULL THEN e.code_5 ELSE '' END
            AS code_5,
          e.intent, e.mechanism, e.mechanism_full
        FROM ie_ext10 e
        LEFT JOIN ie_u6 u6 ON e.code_6 = u6.k
        LEFT JOIN ie_u5 u5 ON e.code_5 = u5.k),
      ie_i10 AS (
        SELECT m.icdcode, m.dx_description, m.ver,
          coalesce(f.intent, s6.intent, s5.intent) AS intent,
          coalesce(f.mechanism, s6.mechanism, s5.mechanism)
            AS mechanism,
          coalesce(f.mechanism_full, s6.mechanism_full,
            s5.mechanism_full) AS mechanism_full
        FROM (SELECT * FROM im_master WHERE ver = 10) m
        LEFT JOIN ie_extb f ON m.icdcode = f.code
        LEFT JOIN ie_extb s6 ON substr(m.icdcode, 1, 6) = s6.code_6
        LEFT JOIN ie_extb s5 ON substr(m.icdcode, 1, 5) = s5.code_5)"""
    val ccwAbbrevs = IcdcmFixture.ccwAbbrevs
    val ccwCols = ccwAbbrevs.map(a => s"ccw_$a")
    val ccwWide = s"""
      ie_ccww AS (
        SELECT dx, ver AS cver,
          ${ccwAbbrevs.map(a =>
            s"max(CASE WHEN ccw_abbrev = '$a' THEN 1 END) AS ccw_$a")
            .mkString(",\n          ")}
        FROM ie_ccw GROUP BY 1, 2)"""
    val ccsDerive = s"""
      ie_c9a AS (
        SELECT icdcode AS ccs_dx,
          ${IcdcmEnrich.broad9DescSql} AS ccs_broad_desc,
          ${IcdcmEnrich.broad9CodeSql} AS ccs_broad_code,
          ${IcdcmEnrich.detail9DescSql} AS dd0,
          ${IcdcmEnrich.detail9CodeSql} AS ccs_detail_code
        FROM ie_ccs9),
      ie_c9b AS (
        SELECT *, ${IcdcmEnrich.plainLang9Sql("ccs_detail_code", "dd0")}
            AS dd1,
          ${IcdcmEnrich.catchAll9Sql("ccs_detail_code")} AS ccs_catch_all
        FROM ie_c9a),
      ie_c9d AS (
        SELECT DISTINCT ccs_dx,
          ${IcdcmEnrich.normalizeBroad9DescSql("dd1", "ccs_broad_desc")}
            AS ccs_broad_desc,
          ${IcdcmEnrich.normalizeBroad9CodeSql("dd1", "ccs_broad_code")}
            AS ccs_broad_code,
          ${IcdcmEnrich.normalizeDetail9Sql("dd1")} AS ccs_detail_desc,
          ccs_detail_code, ccs_catch_all
        FROM ie_c9b),
      ie_c10a AS (
        SELECT regexp_replace(icdcode, '[[:punct:]]', '', 'g')
            AS ccs_dx,
          regexp_replace(ccs_detail_code, '[[:punct:]]', '', 'g')
            AS ccs_detail_code,
          ccs_detail_desc AS dd0
        FROM ie_ccsr),
      ie_c10d AS (
        SELECT DISTINCT ccs_dx,
          ${IcdcmEnrich.broadDesc10Sql("substr(ccs_detail_code, 1, 3)")}
            AS ccs_broad_desc,
          substr(ccs_detail_code, 1, 3) AS ccs_broad_code,
          ${IcdcmEnrich.normalizeDetail10Sql("dd0")} AS ccs_detail_desc,
          ccs_detail_code,
          ${IcdcmEnrich.catchAll10Sql("ccs_detail_code")}
            AS ccs_catch_all
        FROM ie_c10a)"""
    val passThrough = Seq("icdcode", "dx_description", "ver", "intent",
      "mechanism", "mechanism_full") ++ ccwCols
    def joined(mTbl: String, cTbl: String): String =
      s"""SELECT i.icdcode, i.dx_description, i.ver, i.intent,
          i.mechanism, i.mechanism_full,
          ${ccwCols.map(c => "w." + c).mkString(", ")},
          c.ccs_broad_desc, c.ccs_broad_code, c.ccs_detail_desc,
          c.ccs_detail_code, c.ccs_catch_all
        FROM $mTbl i
        LEFT JOIN ie_ccww w ON i.icdcode = w.dx AND i.ver = w.cver
        LEFT JOIN $cTbl c ON i.icdcode = c.ccs_dx"""
    val fill9 =
      s"""
      ie_f9_0 AS (${joined("ie_i9", "ie_c9d")}),
      ie_f9 AS (${IcdcmEnrich.fillPassSql("ie_f9_0", Seq(3),
        passThrough)})"""
    val fill10 = {
      val passes = (1 to 4).map { i =>
        val src = if (i == 1) "ie_f10_0" else s"ie_f10_${i - 1}"
        s"ie_f10_$i AS (${IcdcmEnrich.fillPassSql(src, Seq(6, 5, 4, 3),
          passThrough)})"
      }.mkString(",\n      ")
      s"""
      ie_f10_0 AS (${joined("ie_i10", "ie_c10d")}),
      $passes"""
    }
    def rdaWide(name: String, ver: Int, suds: Seq[String]): String = {
      val conds = mh ++ suds
      s"""
      ${name}0 AS (
        SELECT code AS rda_code,
          ${conds.map(c =>
            s"max(CASE WHEN sub_group_condition = '$c' THEN 1 END) " +
              s"AS $c").mkString(",\n          ")}
        FROM (SELECT DISTINCT code, sub_group_condition FROM ie_rda
          WHERE icdcm_version = $ver) GROUP BY 1),
      $name AS (
        SELECT *, coalesce(${mh.mkString(", ")}) AS mh_any,
          coalesce(${suds.mkString(", ")}) AS sud_any,
          coalesce(coalesce(${mh.mkString(", ")}),
            coalesce(${suds.mkString(", ")})) AS bh_any
        FROM ${name}0)"""
    }
    def outArm(fTbl: String, rTbl: String, inhalant: String): String =
      s"""SELECT f.icdcode AS icdcm, f.ver AS icdcm_version,
          f.dx_description AS icdcm_description,
          x.ccs_superlevel_desc, f.ccs_broad_desc, f.ccs_broad_code,
          x.ccs_midlevel_desc, f.ccs_detail_desc, f.ccs_detail_code,
          f.ccs_catch_all,
          ${ccwCols.map(c => "f." + c).mkString(", ")},
          r.bh_any, r.mh_any, r.sud_any,
          ${mh.map(c => "r." + c).mkString(", ")},
          ${sud9.map(c => "r." + c).mkString(", ")}, $inhalant,
          f.intent, f.mechanism, f.mechanism_full
        FROM $fTbl f
        LEFT JOIN ie_xwalk x ON f.ccs_detail_desc = x.xw_detail
        LEFT JOIN $rTbl r ON f.icdcode = r.rda_code"""
    "WITH " + icdcmMasterOracleCtes("""
        UNION ALL
        SELECT 'D' || lpad(CAST(pk AS VARCHAR), 4, '0') || sfx.s,
          'DX D' || lpad(CAST(pk AS VARCHAR), 4, '0') || sfx.s, 10, -1
        FROM pks CROSS JOIN (VALUES ('A'), ('B')) sfx(s)
        WHERE pk % 20 = 5
        UNION ALL
        SELECT 'D' || lpad(CAST(pk AS VARCHAR), 4, '0') || sfx.s,
          'DX D' || lpad(CAST(pk AS VARCHAR), 4, '0') || sfx.s, 10, -1
        FROM pks CROSS JOIN (VALUES ('XA'), ('XB')) sfx(s)
        WHERE pk % 20 = 15""") + "," +
      extCte + "," + ccwCte + "," + ccs9Cte + "," + ccsrCte + "," +
      xwalkCte + "," + rdaCte + "," + extChain + "," + ccwWide + "," +
      ccsDerive + "," + fill9 + "," + fill10 + "," +
      rdaWide("ie_rda9w", 9, sud9) + "," +
      rdaWide("ie_rda10w", 10, sud10) + s"""
      SELECT DISTINCT * FROM (
        ${outArm("ie_f10_4", "ie_rda10w", "r.sud_inhalant")}
        UNION ALL
        ${outArm("ie_f9", "ie_rda9w",
          "CAST(NULL AS INT) AS sud_inhalant")})
      ORDER BY icdcm_version, icdcm"""
  }

  /** q280 oracle: the address-clean partial QA battery over the SAME
    * template the q146 oracle is generated from — prior ref = the k%4
    * slice under an empty ref, increment = the q146 restriction; the
    * battery's stage table is their union, so the two counts compose.
    * The FAIL branch never fires on this fixture (the increment count
    * is >= 0 by construction) — the CASE mirrors the runner's logic so
    * the verdict is structural, and the FAIL-path note (including the
    * reference's negative-number-inside-"fewer" glue quirk) is pinned
    * by AddressQaSpec instead. */
  private def addressQaOracleSql: String = {
    val prior = addressCleanOracleSql("WHERE k % 4 = 0")
    val inc = addressCleanOracleSql(
      """WHERE geo_hash_raw NOT IN
          (SELECT geo_hash_raw FROM stage WHERE k % 4 = 0)""")
    s"""
      WITH pr AS (SELECT count(*) AS n FROM ($prior)),
      inc AS (SELECT count(*) AS n FROM ($inc))
      SELECT * FROM (
        SELECT 'stage.address_clean' AS table_name,
          'Row counts' AS qa_item,
          CASE WHEN inc.n < 0 THEN 'FAIL' ELSE 'PASS' END AS qa_result,
          CASE WHEN inc.n < 0 THEN 'Stage table has ' ||
              CAST(inc.n AS VARCHAR) || ' fewer rows than ref table'
            ELSE 'Stage table has ' || CAST(inc.n AS VARCHAR) ||
              ' more rows than ref table' END AS note,
          CAST(pr.n + inc.n AS BIGINT) AS observed,
          CAST(pr.n AS BIGINT) AS expected
        FROM pr, inc
        UNION ALL
        SELECT 'stage.address_clean', 'Field names', 'PASS',
          'Stage table columns match ref table',
          CAST(15 AS BIGINT), CAST(15 AS BIGINT))
      ORDER BY qa_item"""
  }

  /** q281 oracle: the composed geocode-side chain — the SAME clean
    * templates as q146/q280 (prior slice + increment), the q147
    * generator/attach replica keyed on the numeric ZIP, the
    * geocode-hash upsert restriction, and the two log counts — all
    * generated from one attach template so the prior and new arms
    * cannot drift. */
  private def geocodeChainOracleSql: String = {
    val prior = addressCleanOracleSql("WHERE k % 4 = 0")
    val inc = addressCleanOracleSql(
      """WHERE geo_hash_raw NOT IN
          (SELECT geo_hash_raw FROM stage WHERE k % 4 = 0)""")
    // the attach replica over one input CTE (q147 oracle logic, kc from
    // the numeric ZIP); emits `<pre>geo` with geo_hash_geocode minted
    def attach(in: String, pre: String): String = s"""
      ${pre}in AS (SELECT DISTINCT geo_add1_clean, geo_city_clean,
          geo_state_clean, geo_zip_clean FROM $in),
      ${pre}k AS (SELECT *, coalesce(CAST(geo_zip_clean AS INT), 0) AS kc
        FROM ${pre}in),
      ${pre}esri AS (
        SELECT a.*,
          CASE WHEN kc % 5 = 0 THEN 'zip_5_digit_gc'
            WHEN kc % 5 = 1 THEN NULL ELSE 'street_gc' END AS loc_name,
          CASE WHEN kc % 7 = 0 THEN 'U' ELSE 'M' END AS status,
          CASE WHEN kc % 9 = 0 THEN geo_add1_clean || ', '
              || geo_city_clean || ', ' || geo_state_clean || ', USA'
            ELSE geo_add1_clean || ', ' || geo_city_clean || ', '
              || geo_state_clean || ' ' || geo_zip_clean
            END AS match_addr,
          round(-122.0 - (kc % 500) / 1000.0, 4) AS esri_lon,
          round(47.0 + (kc % 500) / 1000.0, 4) AS esri_lat
        FROM ${pre}k a),
      ${pre}here AS (
        SELECT geo_add1_clean, geo_city_clean, geo_state_clean,
          geo_zip_clean,
          CASE WHEN kc % 4 = 0 THEN 'houseNumber'
            WHEN kc % 4 = 1 THEN 'street' WHEN kc % 4 = 2
            THEN 'postalCode' ELSE 'district' END AS address_type,
          geo_add1_clean || ', ' || geo_city_clean || ', '
            || geo_zip_clean || ', USA' AS formatted_address,
          round(-121.0 - (kc % 500) / 1000.0, 4) AS here_lon,
          round(46.0 + (kc % 500) / 1000.0, 4) AS here_lat
        FROM ${pre}esri
        WHERE (status = 'U' OR loc_name = 'zip_5_digit_gc'
          OR loc_name IS NULL) AND kc % 10 < 6),
      ${pre}joined AS (
        SELECT e.*, h.address_type, h.formatted_address, h.here_lon,
          h.here_lat,
          CASE WHEN h.geo_add1_clean IS NOT NULL THEN 1 ELSE 0 END
            AS geo_check_here,
          CASE WHEN h.here_lat IS NOT NULL AND (h.address_type =
            'houseNumber' OR e.loc_name IS NULL) THEN 'here' ELSE 'esri'
            END AS src
        FROM ${pre}esri e LEFT JOIN ${pre}here h
          ON e.geo_add1_clean = h.geo_add1_clean
          AND e.geo_city_clean = h.geo_city_clean
          AND e.geo_state_clean = h.geo_state_clean
          AND e.geo_zip_clean = h.geo_zip_clean),
      ${pre}geo AS (
        SELECT geo_add1_clean, geo_city_clean, geo_state_clean,
          geo_zip_clean, 1 AS geo_check_esri, geo_check_here,
          src AS geo_geocode_source,
          CASE WHEN (src = 'esri' AND loc_name = 'zip_5_digit_gc')
            OR (src = 'here' AND address_type IN ('postalCode','district'))
            THEN 1 ELSE 0 END AS geo_zip_centroid,
          CASE WHEN src = 'here' AND address_type = 'street' THEN 1
            ELSE 0 END AS geo_street_centroid,
          CASE WHEN src = 'esri' THEN upper(match_addr)
            ELSE upper(formatted_address) END AS geo_add_geocoded,
          CASE WHEN src = 'esri'
            THEN nullif(regexp_extract(match_addr, '[0-9]{5}$$', 0), '')
            ELSE nullif(' ' || regexp_extract(formatted_address,
              ' ([0-9]{5}),', 1), ' ') END AS geo_zip_geocoded,
          CASE WHEN src = 'esri' THEN loc_name ELSE address_type END
            AS geo_add_type,
          CASE WHEN src = 'esri' THEN esri_lon ELSE here_lon END
            AS geo_lon,
          CASE WHEN src = 'esri' THEN esri_lat ELSE here_lat END
            AS geo_lat,
          upper(sha256(coalesce(geo_add1_clean, '') || '|'
            || coalesce(geo_city_clean, '') || '|'
            || coalesce(geo_state_clean, '') || '|'
            || coalesce(geo_zip_clean, ''))) AS geo_hash_geocode
        FROM ${pre}joined)"""
    s"""
      WITH pr AS MATERIALIZED ($prior),
      incr AS MATERIALIZED ($inc),
      ${attach("pr", "p_")},
      ${attach("incr", "n_")},
      ngeo AS (SELECT * FROM n_geo WHERE geo_hash_geocode NOT IN
        (SELECT geo_hash_geocode FROM p_geo)),
      lg AS (SELECT (SELECT count(*) FROM incr) AS ncl,
        (SELECT count(*) FROM ngeo) AS ngo)
      SELECT p.*, CAST(0 AS INT) AS is_new, lg.ncl AS log_clean_n,
        lg.ngo AS log_geocode_n
      FROM p_geo p, lg
      UNION ALL
      SELECT n.*, CAST(1 AS INT), lg.ncl, lg.ngo FROM ngeo n, lg
      ORDER BY geo_hash_geocode"""
  }

  /** Shared q283/q285 oracle body: the provider-NPI master replica
    * (charclass gate via regexp_full_match, the rank-1 mode pick, the
    * master anti-join, UNION distinct) — q285's QA battery composes
    * the same body so the two cannot drift. */
  private val providerNpiOracleBody: String = """
      WITH cust AS (SELECT c_custkey AS ck, c_custkey % 120 AS pid
        FROM customer),
      master AS (
        SELECT pid AS provider_id_apcd,
          CASE WHEN pid % 50 = 0 THEN 12345
            ELSE 1000000000 + pid END AS npi
        FROM (SELECT DISTINCT pid FROM cust) WHERE pid % 10 = 0),
      pm AS (
        SELECT DISTINCT provider_id_apcd, CAST(npi AS BIGINT) AS npi,
          1 AS provider_master_flag
        FROM master),
      provider AS (
        SELECT pid AS provider_id_apcd,
          CASE WHEN ck % 7 = 0 THEN '12345'
            WHEN ck % 7 = 1 THEN '0'
              || lpad(CAST(pid * 31 AS VARCHAR), 9, '0')
            WHEN ck % 7 = 2 THEN NULL
            WHEN ck % 7 = 3 THEN 'ABC'
              || lpad(CAST(pid AS VARCHAR), 7, '0')
            WHEN ck % 7 = 4 THEN '1'
              || lpad(CAST(pid * 13 AS VARCHAR), 9, '0')
            ELSE '2' || lpad(CAST(pid % 60 AS VARCHAR), 9, '0')
            END AS orig_npi
        FROM cust),
      gated AS (
        SELECT provider_id_apcd, orig_npi AS npi_str
        FROM provider
        WHERE orig_npi IS NOT NULL
          AND regexp_full_match(orig_npi, '[1-9][0-9]{9}')),
      counts AS (
        SELECT provider_id_apcd, npi_str, count(*) AS row_count
        FROM gated GROUP BY 1, 2),
      ranked AS (
        SELECT provider_id_apcd, npi_str
        FROM (SELECT *, rank() OVER (PARTITION BY provider_id_apcd
            ORDER BY row_count DESC, npi_str) AS rk FROM counts)
        WHERE rk = 1),
      prov AS (
        SELECT DISTINCT g.provider_id_apcd,
          CAST(r.npi_str AS BIGINT) AS npi, 0 AS provider_master_flag
        FROM (SELECT DISTINCT provider_id_apcd FROM gated) g
        LEFT JOIN ranked r ON g.provider_id_apcd = r.provider_id_apcd
        WHERE g.provider_id_apcd NOT IN
          (SELECT provider_id_apcd FROM pm))
      SELECT * FROM pm UNION SELECT * FROM prov"""

  /** q288/q289 oracles: the elig QA batteries over the COMPOSED q67/
    * q64 oracle bodies (the q285 discipline) — prior run = the same
    * build restricted to user_id % 20 != 0; notes rendered exactly as
    * the Scala battery renders the reference's glue templates. */
  private def eligQaOracles(base: Map[String, String]): Map[String, String] = Map(
    "q288_elig_demo_qa" -> s"""
      WITH demo AS MATERIALIZED (${base("q67_elig_demo")}),
      st AS (SELECT count(*) AS n, count(DISTINCT user_id) AS ids
        FROM demo),
      rw AS (SELECT count(DISTINCT user_id) AS rids FROM events),
      pr AS (SELECT count(*) AS p FROM demo WHERE user_id % 20 <> 0)
      SELECT * FROM (
        SELECT 'stage.mcaid_elig_demo' AS table_name,
          'Number new rows compared to most recent run' AS qa_item,
          CASE WHEN n - p < 0 THEN 'FAIL' ELSE 'PASS' END AS qa_result,
          CASE WHEN n - p < 0
            THEN 'There were ' || CAST(n - p AS VARCHAR)
              || ' fewer rows in the most recent table ('
              || CAST(n AS VARCHAR) || ' vs. ' || CAST(p AS VARCHAR) || ')'
            ELSE 'There were ' || CAST(n - p AS VARCHAR)
              || ' more rows in the most recent table ('
              || CAST(n AS VARCHAR) || ' vs. ' || CAST(p AS VARCHAR) || ')'
            END AS note,
          n AS observed, p AS expected
        FROM st, pr
        UNION ALL
        SELECT 'stage.mcaid_elig_demo', 'Number distinct IDs',
          CASE WHEN ids <> n THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN ids <> n
            THEN 'There were ' || CAST(ids AS VARCHAR)
              || ' distinct IDs but ' || CAST(n AS VARCHAR)
              || ' rows (should be the same)'
            ELSE 'The number of distinct IDs matched the number of rows ('
              || CAST(ids AS VARCHAR) || ')' END,
          ids, n
        FROM st
        UNION ALL
        SELECT 'stage.mcaid_elig_demo',
          'Distinct IDs compared to raw data',
          CASE WHEN ids <> rids THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN ids <> rids
            THEN 'There were ' || CAST(ids AS VARCHAR)
              || ' distinct IDs but ' || CAST(rids AS VARCHAR)
              || ' IDs in the raw data (should be the same)'
            ELSE 'The number of distinct IDs matched the number in the '
              || 'raw data (' || CAST(ids AS VARCHAR) || ')' END,
          ids, rids
        FROM st, rw)
      ORDER BY qa_item""",
    "q289_elig_timevar_qa" -> s"""
      WITH tv AS MATERIALIZED (${base("q64_elig_timevar")}),
      st AS (SELECT count(*) AS n, count(DISTINCT user_id) AS ids,
        (SELECT count(*) FROM (SELECT DISTINCT * FROM tv)) AS dup,
        min(from_date) AS minf, max(to_date) AS maxt FROM tv),
      rw AS (SELECT count(DISTINCT user_id) AS rids,
        strptime(CAST(min(year(ts) * 100 + month(ts)) AS VARCHAR)
          || '01', '%Y%m%d')::DATE AS minm,
        last_day(strptime(CAST(max(year(ts) * 100 + month(ts))
          AS VARCHAR) || '01', '%Y%m%d')::DATE) AS maxm
        FROM events),
      pr AS (SELECT count(*) AS p FROM tv WHERE user_id % 20 <> 0)
      SELECT * FROM (
        SELECT 'stage.mcaid_elig_timevar' AS table_name,
          'Number new rows compared to most recent run' AS qa_item,
          CASE WHEN n - p < 0 THEN 'FAIL' ELSE 'PASS' END AS qa_result,
          CASE WHEN n - p < 0
            THEN 'There were ' || CAST(n - p AS VARCHAR)
              || ' fewer rows in the most recent table ('
              || CAST(n AS VARCHAR) || ' vs. ' || CAST(p AS VARCHAR) || ')'
            ELSE 'There were ' || CAST(n - p AS VARCHAR)
              || ' more rows in the most recent table ('
              || CAST(n AS VARCHAR) || ' vs. ' || CAST(p AS VARCHAR) || ')'
            END AS note,
          n AS observed, p AS expected
        FROM st, pr
        UNION ALL
        SELECT 'stage.mcaid_elig_timevar', 'Number distinct IDs',
          CASE WHEN ids <> rids THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN ids <> rids
            THEN 'There were ' || CAST(ids AS VARCHAR)
              || ' distinct IDs but ' || CAST(rids AS VARCHAR)
              || ' in the raw data (should be the same)'
            ELSE 'The number of distinct IDs matched number in raw data ('
              || CAST(ids AS VARCHAR) || ')' END,
          ids, rids
        FROM st, rw
        UNION ALL
        SELECT 'stage.mcaid_elig_timevar', 'Duplicate rows',
          CASE WHEN dup <> n THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN dup <> n
            THEN 'There were ' || CAST(dup AS VARCHAR)
              || ' distinct rows (excl. ref_geo vars) but '
              || CAST(n AS VARCHAR)
              || ' rows overall (should be the same)'
            ELSE 'The number of distinct rows (excl. ref_geo vars) '
              || 'matched number total rows (' || CAST(n AS VARCHAR)
              || ')' END,
          dup, n
        FROM st
        UNION ALL
        SELECT 'stage.mcaid_elig_timevar', 'Date range',
          CASE WHEN minf < minm OR maxt > maxm THEN 'FAIL' ELSE 'PASS'
            END,
          CASE WHEN minf < minm OR maxt > maxm
            THEN 'Some from/to dates fell outside the CLNDR_YEAR_MNTH '
              || 'range (min: ' || CAST(minf AS VARCHAR) || ', max: '
              || CAST(maxt AS VARCHAR) || ')'
            ELSE 'All from/to dates fell within the CLNDR_YEAR_MNTH '
              || 'range (min: ' || CAST(minm AS VARCHAR) || ', max: '
              || CAST(maxm AS VARCHAR) || ')' END,
          CASE WHEN minf < minm OR maxt > maxm THEN 0 ELSE 1 END
            AS observed,
          CAST(1 AS BIGINT) AS expected
        FROM st, rw)
      ORDER BY qa_item""")

  /** Shared q290/q291 oracle body: the full ref.date calendar replica
    * (load_ref.date.sql) — DuckDB dayofweek() is Sunday=0, so +1 maps
    * to the T-SQL DATEFIRST-7 numbering the Spark side (and Spark's
    * own dayofweek) uses; every other piece (day-suffix integer
    * division, DATEPART(week) formula, nth-weekday windows, holiday
    * CASE) replicates the same expressions. */
  // ---- q292-q295: per-claim-table QA batteries ---------------------
  // Shared row-level stage CTE texts, factored so each battery oracle
  // and the underlying build oracle (q79/q80/q81/q169) use ONE fixture
  // text and cannot drift (the q205/q248 discipline).

  /** q79/q292 shared icdcm rows (wide → lng → norm), verbatim from the
    * q79 oracle; norm MATERIALIZED because q292 reads it five times. */
  private val IcdcmRowsCtes: String = """wide AS (
        SELECT o_orderkey AS claim_header_id, o_custkey AS id_person,
          DATE '2014-01-01' + CAST(o_orderkey % 1460 AS INT) AS last_service_date,
          CAST(o_orderkey % 99999 AS VARCHAR) AS dx01,
          CASE WHEN o_orderkey % 3 <> 0 THEN
            chr(CAST(65 + o_custkey % 26 AS INT)) ||
            lpad(CAST(o_orderkey % 999 AS VARCHAR), 3, '0') END AS dx02,
          CASE WHEN o_orderkey % 5 = 0 THEN
            'E' || CAST(o_orderkey % 9999 AS VARCHAR) END AS dx03,
          CASE WHEN o_orderkey % 2 = 0 THEN
            CAST(o_custkey % 99999 AS VARCHAR) END AS dx_admit
        FROM orders),
      lng AS (
        SELECT claim_header_id, id_person, last_service_date, '01' AS icdcm_number, dx01 AS icdcm_raw FROM wide
        UNION ALL SELECT claim_header_id, id_person, last_service_date, '02', dx02 FROM wide
        UNION ALL SELECT claim_header_id, id_person, last_service_date, '03', dx03 FROM wide
        UNION ALL SELECT claim_header_id, id_person, last_service_date, 'admit', dx_admit FROM wide),
      norm AS MATERIALIZED (
        SELECT DISTINCT claim_header_id, id_person, last_service_date, icdcm_number, icdcm_raw,
          CASE WHEN regexp_matches(icdcm_raw, '^[0-9]')
                 OR (regexp_matches(icdcm_raw, '^[EV]')
                     AND last_service_date < DATE '2015-10-01') THEN 9
               ELSE 10 END AS icdcm_version,
          CASE WHEN (regexp_matches(icdcm_raw, '^[0-9]')
                 OR (regexp_matches(icdcm_raw, '^[EV]')
                     AND last_service_date < DATE '2015-10-01'))
                AND length(icdcm_raw) BETWEEN 3 AND 4
               THEN rpad(icdcm_raw, 5, '0') ELSE icdcm_raw END AS icdcm_norm
        FROM lng WHERE icdcm_raw IS NOT NULL AND trim(icdcm_raw) <> '')"""

  /** q80/q294 shared procedure rows — the q80 fixture carrying the
    * claimant id and service date at row grain (both are functions of
    * claim_header_id, so the DISTINCT multiset and therefore q80's
    * rollup are unchanged). */
  private val ProcRowsCtes: String = """wide AS (
        SELECT o_orderkey AS claim_header_id, o_custkey AS id_person,
          DATE '2014-01-01' + CAST(o_orderkey % 1460 AS INT) AS first_service_date,
          lpad(CAST(o_orderkey % 89999 + 10000 AS VARCHAR), 5, '0') AS pc01,
          CASE WHEN o_orderkey % 4 <> 1 THEN
            chr(CAST(65 + o_orderkey % 5 AS INT)) ||
            lpad(CAST(o_custkey % 9999 AS VARCHAR), 4, '0') END AS pc02,
          CASE WHEN o_orderkey % 7 = 0 THEN
            CAST(o_custkey % 99999 AS VARCHAR) END AS pc03,
          CASE WHEN o_orderkey % 3 = 0 THEN
            lower(substr(o_orderpriority, 1, 2)) END AS mod1,
          CASE WHEN o_orderkey % 11 = 0 THEN 'gt' END AS mod2
        FROM orders),
      lng AS (
        SELECT claim_header_id, id_person, first_service_date, '01' AS pcode_number, pc01 AS pcode_raw FROM wide
        UNION ALL SELECT claim_header_id, id_person, first_service_date, '02', pc02 FROM wide
        UNION ALL SELECT claim_header_id, id_person, first_service_date, '03', pc03 FROM wide
        UNION ALL SELECT claim_header_id, id_person, first_service_date, 'M1', mod1 FROM wide
        UNION ALL SELECT claim_header_id, id_person, first_service_date, 'M2', mod2 FROM wide),
      norm AS MATERIALIZED (
        SELECT DISTINCT claim_header_id, id_person, first_service_date, pcode_number,
          upper(trim(pcode_raw)) AS pcode
        FROM lng WHERE pcode_raw IS NOT NULL AND trim(pcode_raw) <> '')"""

  /** q81/q295 shared pharmacy rows — the q81 feed carrying the fill
    * date (lineitem-local; q81's rollup ignores it). */
  private val PharmRowsCtes: String = """raw AS (
        SELECT l_orderkey AS claim_header_id,
          CAST(l_shipdate AS DATE) AS rx_fill_date,
          CASE WHEN l_orderkey % 13 = 0 THEN
            'N' || lpad(CAST(l_partkey AS VARCHAR), 10, '0')
          ELSE lpad(CAST((l_partkey * 37 + l_suppkey) % 100000000000 AS VARCHAR),
            11, '0') END AS ndc_raw,
          CASE WHEN l_suppkey % 17 = 0 THEN 'NA'
            ELSE CAST(CAST(floor(l_quantity) AS INT) * 9 AS VARCHAR)
          END AS supply_days_raw
        FROM lineitem),
      norm AS (
        SELECT claim_header_id, rx_fill_date,
          CASE WHEN regexp_matches(ndc_raw, '^[0-9]{11}$') THEN ndc_raw END AS ndc,
          regexp_matches(ndc_raw, '^[0-9]{11}$') AS ndc_valid,
          CASE WHEN TRY_CAST(supply_days_raw AS INT) BETWEEN 0 AND 365
            THEN TRY_CAST(supply_days_raw AS INT) END AS supply_days
        FROM raw)"""

  /** q169/q293 shared master-staging chain ending in the `stage` CTE
    * (MATERIALIZED — q293 reads it four times). */
  private val LineStageCtes: String = """li AS (
        SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS sd,
          round(l_extendedprice, 2) AS paid, o_custkey,
          year(o_orderdate) AS oy
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      base AS (
        SELECT o_custkey AS mbr_h_sid,
          'R' || CAST(o_custkey % 300 AS VARCHAR)
            AS medicaid_recipient_id,
          CASE WHEN l_linenumber % 2 = 0 THEN 'Y' ELSE 'N' END
            AS baby_on_mom_ind,
          'T' || CAST(l_orderkey AS VARCHAR) AS tcn,
          'T' || CAST(l_orderkey AS VARCHAR) ||
            lpad(CAST(l_linenumber AS VARCHAR), 3, '0') AS clm_line_tcn,
          sd AS from_srvc_date, paid AS paid_amt, oy
        FROM li),
      incoming AS (
        SELECT * EXCLUDE (oy) FROM base WHERE oy >= 1996
        UNION ALL
        SELECT * EXCLUDE (oy) FROM base
        WHERE oy >= 1996 AND mbr_h_sid % 89 = 0),
      archive AS (
        SELECT CAST(year(from_srvc_date) * 100 +
            month(from_srvc_date) AS INT) AS clndr_year_mnth,
          mbr_h_sid, medicaid_recipient_id, baby_on_mom_ind, tcn,
          clm_line_tcn, CAST(right(clm_line_tcn, 3) AS INT) AS clm_line,
          from_srvc_date, paid_amt
        FROM base WHERE oy <= 1996),
      cut AS (SELECT min(from_srvc_date) AS dt FROM incoming),
      stage AS MATERIALIZED (
        SELECT * FROM archive
        WHERE from_srvc_date < (SELECT dt FROM cut)
        UNION
        SELECT DISTINCT CAST(year(from_srvc_date) * 100 +
            month(from_srvc_date) AS INT),
          mbr_h_sid, medicaid_recipient_id, baby_on_mom_ind, tcn,
          clm_line_tcn, CAST(right(clm_line_tcn, 3) AS INT),
          from_srvc_date, paid_amt
        FROM incoming WHERE from_srvc_date >= (SELECT dt FROM cut))"""

  /** 'Distinct IDs compared to elig tables' CTE pair: distinct stage
    * claimants anti-counted against the person dim (elig_demo stand-in)
    * and the claimant spine (elig_timevar stand-in); the dims default
    * to the raw custkey universes and are overridden where a fixture
    * keys people on a custkey modulus. */
  private def idsVsEligCtes(srcCte: String, idCol: String,
      demoSub: String = "SELECT DISTINCT c_custkey AS pid FROM customer",
      tvSub: String = "SELECT DISTINCT o_custkey AS pid FROM orders")
      : String =
    s"""ids AS (SELECT DISTINCT $idCol AS qa_id FROM $srcCte),
      idchk AS (SELECT
        (SELECT count(*) FROM ids a LEFT JOIN ($demoSub) b
          ON a.qa_id = b.pid WHERE b.pid IS NULL) AS d,
        (SELECT count(*) FROM ids a LEFT JOIN ($tvSub) b
          ON a.qa_id = b.pid WHERE b.pid IS NULL) AS t)"""

  /** `quoted` renders the bh battery's literally-apostrophed notes
    * (doubled quotes inside the SQL literal). */
  private def idsVsEligRowSql(table: String,
      quoted: Boolean = false): String = {
    val q = if (quoted) "''" else ""
    s"""SELECT '$table' AS table_name,
          'Distinct IDs compared to elig tables' AS qa_item,
          CASE WHEN d = 0 AND t = 0 THEN 'PASS' ELSE 'FAIL' END
            AS qa_result,
          CASE WHEN d = 0 AND t = 0
            THEN '${q}There were the same number of IDs as in the final mcaid_elig_demo and mcaid_elig_timevar tables$q'
            ELSE '${q}There were ' || CAST(d AS VARCHAR)
              || ' more IDs than in the final mcaid_elig_demo table and '
              || CAST(t AS VARCHAR)
              || ' more IDs than in the final mcaid_elig_timevar table$q'
            END AS note
        FROM idchk"""
  }

  /** Year-comparison CTE block: per-year counts of the new frame
    * LEFT-joined to the prior frame (the reference quirk — a year only
    * in the prior table escapes), micro-percent integers `m` for the
    * branch test and the R-style trimmed 2-dp pct string — fixed-point
    * exactly as ClaimTableQa.pctString computes it, half-up on the
    * absolute value with the sign applied after. */
  private def yearChangeCtes(srcCte: String, priorCte: String,
      dateCol: String): String = {
    val c = "CAST(round(abs(nw - cu) * 10000.0 / cu) AS BIGINT)"
    s"""yr AS (SELECT year($dateCol) AS y, count(*) AS nw
        FROM $srcCte GROUP BY 1),
      pyr AS (SELECT year($dateCol) AS y, count(*) AS cu
        FROM $priorCte GROUP BY 1),
      yj AS (SELECT yr.y AS y, yr.nw AS nw, coalesce(pyr.cu, 0) AS cu
        FROM yr LEFT JOIN pyr ON yr.y = pyr.y),
      ym AS (SELECT y, nw, cu,
        CASE WHEN cu = 0 THEN 9223372036854775807
          WHEN nw >= cu THEN CAST(round(abs(nw - cu) * 1000000.0 / cu) AS BIGINT)
          ELSE -CAST(round(abs(nw - cu) * 1000000.0 / cu) AS BIGINT) END AS m,
        CASE WHEN cu = 0 THEN 'Inf'
          ELSE CAST($c // 100 AS VARCHAR) ||
            CASE WHEN $c % 100 = 0 THEN ''
              WHEN ($c % 100) % 10 = 0
                THEN '.' || CAST(($c % 100) // 10 AS VARCHAR)
              ELSE '.' || lpad(CAST($c % 100 AS VARCHAR), 2, '0') END
          END AS pct
        FROM yj),
      ys AS (SELECT coalesce(max(m), 0) AS maxm,
        coalesce(min(m), 0) AS minm FROM ym),
      lmore AS (SELECT list(CAST(y AS VARCHAR) || ' (' || pct || '% more)'
        ORDER BY y) AS l FROM ym WHERE m > 0),
      lfewer AS (SELECT list(CAST(y AS VARCHAR) || ' (' || pct || '% fewer)'
        ORDER BY y) AS l FROM ym WHERE m < 0)"""
  }

  /** R glue_collapse(sep = ', ', last = ' and ') over a DuckDB list. */
  private def glueSql(l: String): String =
    s"""CASE WHEN $l IS NULL OR len($l) = 0 THEN ''
        WHEN len($l) = 1 THEN $l[1]
        ELSE array_to_string($l[1:len($l)-1], ', ')
          || ' and ' || $l[len($l)] END"""

  private def yearChangeRowSql(table: String, itemPass: String,
      itemFail: String, listUnit: String, noChangeUnit: String): String =
    s"""SELECT '$table',
          CASE WHEN maxm > 0 AND minm >= 0 THEN '$itemPass'
            ELSE '$itemFail' END,
          CASE WHEN maxm > 0 AND minm >= 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN maxm > 0 AND minm >= 0
            THEN 'The following years had more $listUnit than in the final schema table: '
              || ${glueSql("lmore.l")}
            WHEN minm + maxm = 0
            THEN 'No change in the number of $noChangeUnit compared to final schema table'
            ELSE 'The following years had fewer $listUnit than in the final schema table: '
              || ${glueSql("lfewer.l")} END
        FROM ys, lmore, lfewer"""

  /** q153/q296 shared mcaid+mcare behavioral-health spans ending in the `bh` CTE. */
  private val BhRowsCtes: String = """fact AS (
        SELECT 1000 + o_custkey % 90 AS id_apde,
          l_orderkey AS chid, l_partkey AS pk, l_suppkey AS sk,
          CAST(l_shipdate AS DATE) AS fsd
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      icdcm AS (
        SELECT id_apde, chid,
          CASE WHEN pk % 6 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN pk % 6 = 0 THEN
            CASE WHEN pk % 11 = 0 THEN '29620'
              WHEN pk % 11 = 1 THEN '30400'
              ELSE lpad(CAST(pk % 999 AS VARCHAR), 5, '0') END
          ELSE
            CASE WHEN pk % 11 = 0 THEN 'F329'
              WHEN pk % 11 = 1 THEN 'F411'
              WHEN pk % 11 = 2 THEN 'F1120'
              ELSE 'G' || lpad(CAST(pk % 400 AS VARCHAR), 3, '0') END
          END AS icdcm_norm,
          fsd FROM fact),
      pharm AS (
        SELECT id_apde, chid,
          CASE WHEN sk % 9 = 0 THEN '11111111111'
            WHEN sk % 9 = 1 THEN '22222222222'
            WHEN sk % 9 = 2 THEN '33333333333'
            ELSE lpad(CAST(sk * 7 AS VARCHAR), 11, '0') END AS ndc,
          fsd + 2 AS rx_fill_date FROM fact),
      prc AS (
        SELECT id_apde, chid,
          CASE WHEN pk % 13 = 0 THEN 'H0020'
            WHEN pk % 13 = 1 THEN 'J0571'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code,
          fsd FROM fact),
      hdr AS (
        SELECT o_orderkey AS chid,
          CASE WHEN o_orderkey % 15 = 0 THEN 'F1120'
            WHEN o_orderkey % 15 = 1 THEN '30400'
            ELSE 'I10' END AS primary_diagnosis,
          CASE WHEN o_orderkey % 15 = 1 THEN 9 ELSE 10 END AS ver
        FROM orders),
      ref(cond, code_set, code, ver, vset, oud_dx1_flag) AS (VALUES
        ('bh_depression','ICD9CM','29620',9,'rda-bh',NULL),
        ('bh_depression','ICD10CM','F329',10,'rda-bh',NULL),
        ('bh_anxiety','ICD10CM','F411',10,'rda-bh',NULL),
        ('bh_depression','NDC','11111111111',NULL,'rda-ndc',NULL),
        ('bh_anxiety','NDC','22222222222',NULL,'rda-ndc',NULL),
        ('sud_opioid','ICD9CM','30400',9,'rda-bh',NULL),
        ('sud_opioid','ICD10CM','F1120',10,'rda-bh',NULL),
        ('sud_opioid','NDC','33333333333',NULL,'rda-ndc',NULL),
        ('sud_opioid','HCPCS','H0020',NULL,'apde-moud-procedure',1),
        ('sud_opioid','HCPCS','J0571',NULL,'apde-moud-procedure',0)),
      diag_ev AS (
        SELECT DISTINCT d.id_apde, d.svc_date, r.cond AS bh_cond
        FROM (SELECT DISTINCT id_apde, icdcm_norm, ver, fsd AS svc_date
          FROM icdcm) d
        JOIN ref r ON d.icdcm_norm = r.code AND d.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond <> 'sud_opioid'),
      rx_ev AS (
        SELECT DISTINCT p.id_apde, p.rx_fill_date AS svc_date,
          r.cond AS bh_cond
        FROM pharm p JOIN ref r ON p.ndc = r.code
        WHERE r.code_set = 'NDC' AND r.cond <> 'sud_opioid'),
      spans AS (
        SELECT id_apde, min(svc_date) AS first_encounter_date,
          max(svc_date) AS last_encounter_date, bh_cond
        FROM (SELECT * FROM diag_ev UNION SELECT * FROM rx_ev)
        GROUP BY id_apde, bh_cond),
      ouddx1 AS (
        SELECT DISTINCT h.chid FROM hdr h
        JOIN ref r ON h.primary_diagnosis = r.code AND h.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond = 'sud_opioid'),
      darm AS (
        SELECT DISTINCT d.id_apde, d.chid, d.svc_date
        FROM (SELECT DISTINCT id_apde, chid, icdcm_norm, ver,
            fsd AS svc_date FROM icdcm) d
        JOIN ref r ON d.icdcm_norm = r.code AND d.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond = 'sud_opioid'),
      rarm AS (
        SELECT DISTINCT p.id_apde, p.chid, p.rx_fill_date AS svc_date
        FROM pharm p JOIN ref r ON p.ndc = r.code
        WHERE r.code_set = 'NDC' AND r.cond = 'sud_opioid'),
      parm AS (
        SELECT DISTINCT id_apde, chid, svc_date FROM (
          SELECT DISTINCT p.id_apde, p.chid, p.fsd AS svc_date,
            CASE WHEN r.oud_dx1_flag = 0 THEN 1
              WHEN r.oud_dx1_flag = 1 AND d.chid IS NOT NULL THEN 1
              ELSE 0 END AS ok
          FROM prc p
          JOIN ref r ON p.procedure_code = r.code
            AND r.vset = 'apde-moud-procedure' AND r.cond = 'sud_opioid'
          LEFT JOIN ouddx1 d ON p.chid = d.chid)
        WHERE ok = 1),
      oudclaims AS (
        SELECT coalesce(d.id_apde, r.id_apde, p.id_apde) AS id_apde,
          coalesce(d.svc_date, r.svc_date, p.svc_date) AS svc_date,
          CASE WHEN d.chid IS NOT NULL THEN 1 END AS icdcm_flag
        FROM darm d
        FULL JOIN rarm r ON d.chid = r.chid
        FULL JOIN parm p ON d.chid = p.chid),
      oudmonth AS (
        SELECT DISTINCT id_apde,
          date_trunc('month', svc_date)::DATE AS fe,
          last_day(svc_date) AS le
        FROM oudclaims WHERE icdcm_flag = 1),
      oudmin AS (
        SELECT id_apde, min(fe) AS dmin FROM oudmonth GROUP BY id_apde),
      moudmonth AS (
        SELECT DISTINCT a.id_apde,
          date_trunc('month', a.svc_date)::DATE AS fe,
          last_day(a.svc_date) AS le
        FROM oudclaims a JOIN oudmin b ON a.id_apde = b.id_apde
        WHERE a.icdcm_flag IS NULL AND b.dmin <= a.svc_date),
      oudrows AS (
        SELECT id_apde, fe, le FROM oudmonth
        UNION SELECT id_apde, fe, le FROM moudmonth),
      bh AS (
      SELECT id_apde, first_encounter_date, last_encounter_date, bh_cond
      FROM spans
      UNION
      SELECT id_apde, fe AS first_encounter_date,
        le AS last_encounter_date, 'sud_opioid' AS bh_cond
      FROM oudrows)"""

  /** q144/q298 shared naloxone row-grain build ending in the `nal` CTE. */
  private val NaloxoneRowsCtes: String = """li AS (
        SELECT o_custkey % 70 AS id_mcaid, l_orderkey AS chid,
          l_partkey AS pk, l_suppkey AS sk,
          CAST(l_shipdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      pharm AS (
        SELECT id_mcaid, chid,
          CASE WHEN pk % 13 = 0 THEN '00093216519'
            WHEN pk % 13 = 1 THEN '55150034510'
            WHEN pk % 13 = 2 THEN '55150032710'
            WHEN pk % 13 = 3 THEN '00409121525'
            WHEN pk % 13 = 4 THEN '012345678901'
            WHEN pk % 13 = 5 THEN '12345678901'
            ELSE lpad(CAST(pk AS VARCHAR), 11, '0') END AS ndc,
          d AS rx_fill_date,
          CASE WHEN pk % 7 = 0 THEN 0.5
            ELSE CAST(1 + pk % 5 AS DOUBLE) END AS rx_quantity
        FROM li),
      ndclist(ndc) AS (VALUES ('00093216519'),('55150034510'),
        ('55150032710'),('00409121525'),('12345678901')),
      ndccodes(ndc, pname, dform, strength, unit) AS (VALUES
        ('00093216519','Narcan Nasal','NASAL SPRAY',4.0,'mg/.1mL'),
        ('55150034510','Naloxone HCl','SOLUTION FOR INJECTION',1.0,'mg/mL'),
        ('55150032710','Naloxone HCl','SOLUTION FOR INJECTION',0.4,'mg/mL'),
        ('00409121525','Naloxone HCl','INJECTION, SOLUTION',0.4,'mg/mL'),
        ('12345678901','Generic Nalox','SOLUTION',2.0,'mg/.1mL'),
        ('012345678901','Wrapped Nalox','SPRAY SOLUTION',8.0,'oddunit')),
      expansion AS (
        SELECT DISTINCT p.ndc
        FROM (SELECT DISTINCT ndc FROM pharm) p
        JOIN ndclist l ON p.ndc LIKE '%' || l.ndc || '%'),
      rx AS (
        SELECT p.id_mcaid, p.chid AS claim_header_id, p.ndc AS code,
          upper(c.pname) AS description, p.rx_fill_date AS event_date,
          p.rx_quantity AS quantity,
          CASE WHEN c.dform LIKE '%SPRAY%' OR p.ndc = '00093216519'
            THEN 'SPRAY'
            WHEN c.dform LIKE '%INJECTION%' OR p.ndc IN
              ('55150034510','55150032710','00409121525')
            THEN 'INJECTION' END AS form,
          CAST(CASE WHEN p.ndc = '00093216519' THEN 40.0
            WHEN p.ndc = '55150034510' THEN 1.0
            WHEN p.ndc = '55150032710' THEN 0.4
            ELSE c.strength / (CASE WHEN c.unit = 'mg/.1mL' THEN 0.1
              WHEN c.unit = 'mg/mL' THEN 1.0 END) END AS DOUBLE)
            AS dosage_per_ml,
          'PHARMACY' AS location
        FROM pharm p
        LEFT JOIN ndccodes c ON p.ndc = c.ndc
        JOIN expansion e ON p.ndc = e.ndc
        WHERE year(p.rx_fill_date) >= 1996 AND p.rx_quantity >= 1.0),
      procs AS (
        SELECT id_mcaid, chid,
          CASE WHEN pk % 9 = 0 THEN 'G1028' WHEN pk % 9 = 1 THEN 'G2215'
            WHEN pk % 9 = 2 THEN 'G2216' WHEN pk % 9 = 3 THEN 'J2310'
            WHEN pk % 9 = 4 THEN 'J2311' WHEN pk % 9 = 5 THEN 'J2312'
            WHEN pk % 9 = 6 THEN 'J3490'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code,
          CASE WHEN sk % 3 = 0 THEN 'HG' WHEN sk % 3 = 1 THEN 'TG'
            ELSE 'XX' END AS modifier_code,
          d AS lsd
        FROM li),
      procdesc(procedure_code, pdesc) AS (VALUES
        ('G1028','Naloxone nasal 8mg'),('G2215','Naloxone nasal 4mg'),
        ('G2216','Naloxone injection'),('J2310','Injection naloxone'),
        ('J2311','Injection naloxone 1mg'),
        ('J2312','Injection naloxone 0.5mg'),('J3490','Unclassified drug')),
      px AS (
        SELECT p.id_mcaid, p.chid AS claim_header_id,
          p.procedure_code AS code, upper(dsc.pdesc) AS description,
          p.lsd AS event_date,
          CAST(CASE WHEN p.procedure_code IN ('G1028','G2215') THEN 2.0
            WHEN p.procedure_code IN ('G2216','J2310','J2311','J3490',
              'J2312') THEN 1.0 END AS DOUBLE) AS quantity,
          CASE WHEN p.procedure_code IN ('G1028','G2215') THEN 'SPRAY'
            WHEN p.procedure_code IN ('G2216','J2310','J2311','J2312')
            THEN 'INJECTION'
            WHEN p.procedure_code = 'J3490' THEN 'UNKNOWN' END AS form,
          CAST(CASE WHEN p.procedure_code = 'G1028' THEN 80.0
            WHEN p.procedure_code = 'G2215' THEN 40.0 END AS DOUBLE)
            AS dosage_per_ml,
          'PROCEDURE' AS location
        FROM procs p LEFT JOIN procdesc dsc USING (procedure_code)
        WHERE year(p.lsd) >= 1996
          AND (p.procedure_code IN ('G1028','G2215','G2216','J2310',
            'J2311','J2312')
          OR (p.procedure_code = 'J3490'
            AND p.modifier_code IN ('HG','TG')))),
      nal AS (
      SELECT DISTINCT * FROM
        (SELECT * FROM rx UNION ALL SELECT * FROM px))"""

  /** q148/q300 shared housing-status build ending in the `hs` CTE. */
  private val HousingRowsCtes: String = """em AS (
        SELECT *,
          CASE WHEN (id_mcaid + month(from_date)) % 9 = 0
            THEN '123 HOMELESS SHELTER'
            ELSE CAST(id_mcaid AS VARCHAR) || ' MAIN ST'
            END AS geo_add1,
          CASE WHEN (id_mcaid + month(from_date)) % 25 = 0
            THEN 'HOMELESS' END AS geo_add2
        FROM (
          SELECT DISTINCT o_custkey % 100 AS id_mcaid,
            date_trunc('month', CAST(o_orderdate AS DATE)) AS from_date,
            last_day(CAST(o_orderdate AS DATE)) AS to_date
          FROM orders)),
      icdcm AS (
        SELECT o_custkey % 100 AS id_mcaid,
          CAST(l_shipdate AS DATE) AS first_service_date,
          CASE WHEN l_partkey % 23 = 0 THEN 'Z590'
            WHEN l_partkey % 23 = 1 THEN 'Z5900'
            WHEN l_partkey % 23 = 2 THEN 'Z5901'
            WHEN l_partkey % 23 = 3 THEN 'Z5902'
            WHEN l_partkey % 23 = 4 THEN 'Z591'
            WHEN l_partkey % 23 = 5 THEN 'Z5910'
            WHEN l_partkey % 23 = 6 THEN 'Z5919'
            WHEN l_partkey % 23 = 7 THEN 'Z59811'
            WHEN l_partkey % 23 = 8 THEN 'Z59812'
            ELSE 'A' || lpad(CAST(l_partkey % 900 AS VARCHAR), 3, '0')
            END AS icdcm_norm
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      zcodes AS (
        SELECT id_mcaid, first_service_date, icdcm_norm FROM icdcm
        WHERE icdcm_norm IN ('Z590','Z5900','Z5901','Z5902','Z591',
          'Z5910','Z5919') OR icdcm_norm LIKE 'Z5981%'),
      temp1 AS (
        SELECT a.id_mcaid, a.from_date, a.to_date,
          CASE WHEN a.geo_add1 LIKE '%HOMELESS%'
            OR a.geo_add2 LIKE '%HOMELESS%' THEN 1 ELSE 0 END
            AS is_homeless_addr,
          CASE WHEN b.icdcm_norm IN ('Z590','Z5900','Z5901','Z5902')
            THEN 'homeless'
            WHEN b.icdcm_norm IN ('Z591','Z5910','Z5919')
              OR b.icdcm_norm LIKE 'Z5981%' THEN 'unstably housed'
            END AS zcode_status
        FROM em a LEFT JOIN zcodes b ON a.id_mcaid = b.id_mcaid
          AND b.first_service_date BETWEEN a.from_date AND a.to_date),
      temp2 AS (
        SELECT id_mcaid, from_date, to_date,
          CASE WHEN zcode_status IS NOT NULL THEN zcode_status
            WHEN is_homeless_addr = 1 THEN 'homeless' END
            AS housing_status,
          CASE WHEN is_homeless_addr = 1 AND zcode_status IS NOT NULL
            THEN 'multiple'
            WHEN is_homeless_addr = 1 AND zcode_status IS NULL
            THEN 'homeless_address'
            WHEN is_homeless_addr = 0 AND zcode_status IS NOT NULL
            THEN 'z_codes' END AS housing_status_source
        FROM temp1
        WHERE is_homeless_addr = 1 OR zcode_status IS NOT NULL),
      temp3 AS (
        SELECT id_mcaid, from_date, to_date,
          COUNT(DISTINCT housing_status) AS status_dcount,
          COUNT(DISTINCT housing_status_source) AS source_dcount
        FROM temp2 GROUP BY id_mcaid, from_date, to_date),
      hs AS (
      SELECT DISTINCT a.id_mcaid, a.from_date, a.to_date,
        CASE WHEN b.status_dcount > 1 THEN 'homeless'
          ELSE a.housing_status END AS housing_status,
        CASE WHEN b.source_dcount > 1 THEN 'multiple'
          ELSE a.housing_status_source END AS housing_status_source
      FROM temp2 a LEFT JOIN temp3 b ON a.id_mcaid = b.id_mcaid
        AND a.from_date = b.from_date AND a.to_date = b.to_date)"""

  /** q92/q297 shared MOUD person-day chain ending in the `fin` CTE. */
  private val MoudDayCtes: String = """li AS (
        SELECT o_custkey % 80 AS id_person, CAST(l_shipdate AS DATE) AS ship_d,
          l_partkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      proc0 AS (
        SELECT DISTINCT id_person, ship_d AS service_date,
          CASE l_partkey % 24
            WHEN 0 THEN 'H0033' WHEN 1 THEN 'H0020' WHEN 2 THEN 'S0109'
            WHEN 3 THEN 'G2078' WHEN 4 THEN 'G2067' WHEN 5 THEN 'J0571'
            WHEN 6 THEN 'J0572' WHEN 7 THEN 'J0573' WHEN 8 THEN 'Q9991'
            WHEN 9 THEN 'G2068' WHEN 10 THEN 'G2073' WHEN 11 THEN 'J2315'
            WHEN 12 THEN 'G2074' WHEN 13 THEN 'G2075' WHEN 14 THEN 'G2086'
            ELSE 'OTH' END AS procedure_code
        FROM li),
      flagged AS (
        SELECT id_person, service_date, procedure_code,
          CASE WHEN procedure_code IN ('H0020','S0109','G2078','G2067') THEN 1 ELSE 0 END AS meth_proc_flag,
          CASE WHEN procedure_code IN ('J0571','J0572','J0573','Q9991','G2068') THEN 1 ELSE 0 END AS bup_proc_flag,
          CASE WHEN procedure_code IN ('G2073','J2315') THEN 1 ELSE 0 END AS nal_proc_flag,
          CASE WHEN procedure_code IN ('G2074','G2075','G2086') THEN 1 ELSE 0 END AS unspec_proc_flag,
          CASE WHEN procedure_code IN ('H0033','H0020','S0109','J0571','J0572','J0573') THEN 1
               WHEN procedure_code IN ('G2078','G2067','G2068') THEN 7
               WHEN procedure_code IN ('Q9991','G2073','J2315') THEN 30
               ELSE 0 END AS moud_days_supply
        FROM proc0 WHERE procedure_code <> 'OTH'),
      rx AS (
        SELECT DISTINCT o_custkey % 80 AS id_person,
          CAST(o_orderdate AS DATE) AS service_date, 1 AS bup_rx_flag
        FROM orders WHERE o_orderkey % 6 = 0),
      h33 AS (SELECT DISTINCT id_person FROM flagged WHERE procedure_code = 'H0033'),
      msums AS (
        SELECT id_person, ym, sum(m) AS meth_sum, sum(b) AS bup_sum,
          sum(brx) AS bup_rx_sum
        FROM (
          SELECT f.id_person, strftime(f.service_date, '%Y%m') AS ym,
            f.meth_proc_flag AS m, f.bup_proc_flag AS b, 0 AS brx FROM flagged f
          UNION ALL
          SELECT r.id_person, strftime(r.service_date, '%Y%m'), 0, 0, r.bup_rx_flag
          FROM rx r) u
        WHERE id_person IN (SELECT id_person FROM h33)
        GROUP BY 1, 2),
      resolved AS (
        SELECT f.id_person, f.service_date,
          CASE WHEN f.procedure_code = 'H0033' AND s.meth_sum = 0 AND s.bup_sum = 0 AND s.bup_rx_sum = 0 THEN 1
               WHEN f.procedure_code = 'H0033' AND s.meth_sum = 0 AND s.bup_sum = 0 AND s.bup_rx_sum > 0 THEN 0
               WHEN f.procedure_code = 'H0033' AND s.meth_sum >= s.bup_sum AND s.meth_sum <> 0 THEN 1
               WHEN f.procedure_code = 'H0033' AND s.meth_sum < s.bup_sum THEN 0
               ELSE f.meth_proc_flag END AS meth_proc_flag,
          CASE WHEN f.procedure_code = 'H0033' AND s.meth_sum = 0 AND s.bup_sum = 0 AND s.bup_rx_sum = 0 THEN 0
               WHEN f.procedure_code = 'H0033' AND s.meth_sum = 0 AND s.bup_sum = 0 AND s.bup_rx_sum > 0 THEN 1
               WHEN f.procedure_code = 'H0033' AND s.meth_sum >= s.bup_sum AND s.meth_sum <> 0 THEN 0
               WHEN f.procedure_code = 'H0033' AND s.meth_sum < s.bup_sum THEN 1
               ELSE f.bup_proc_flag END AS bup_proc_flag,
          f.nal_proc_flag, f.unspec_proc_flag, f.moud_days_supply
        FROM flagged f LEFT JOIN msums s
          ON f.id_person = s.id_person AND strftime(f.service_date, '%Y%m') = s.ym),
      daily AS (
        SELECT id_person, service_date,
          max(meth_proc_flag) AS meth_proc_flag,
          max(bup_proc_flag) AS bup_proc_flag,
          max(nal_proc_flag) AS nal_proc_flag,
          max(unspec_proc_flag) AS unspec_proc_flag,
          sum(moud_days_supply) AS moud_days_supply
        FROM resolved GROUP BY 1, 2),
      s8 AS (
        SELECT *, CAST(year(service_date) AS VARCHAR) || '_' ||
            CAST(quarter(service_date) AS VARCHAR) AS service_quarter,
          CASE WHEN meth_proc_flag = 1 AND lead(meth_proc_flag) OVER wn = 1
            THEN date_diff('day', service_date, lead(service_date) OVER wn)
            END AS next_meth_diff
        FROM daily
        WINDOW wn AS (PARTITION BY id_person
          ORDER BY meth_proc_flag DESC, service_date)),
      s9 AS (
        SELECT *,
          sum(meth_proc_flag) OVER wq AS meth_sum_quarter,
          median(CAST(next_meth_diff AS DOUBLE)) OVER wq AS median_gap_quarter
        FROM s8
        WINDOW wq AS (PARTITION BY id_person, service_quarter)),
      fin AS (
        SELECT *,
          CASE WHEN meth_proc_flag = 1 AND meth_sum_quarter <= 2 THEN CAST(moud_days_supply AS DOUBLE)
               WHEN meth_proc_flag = 1 AND next_meth_diff > median_gap_quarter * 1.5 THEN median_gap_quarter
               WHEN meth_proc_flag = 1 AND next_meth_diff IS NULL THEN median_gap_quarter
               WHEN meth_proc_flag = 1 THEN CAST(next_meth_diff AS DOUBLE)
               ELSE CAST(moud_days_supply AS DOUBLE) END AS supply_new_row
        FROM s9)"""

  /** q91/q299 shared 7-class recursive placement ending in the `placed` CTE. */
  private val PregFullPlacedCtes: String = """ep AS MATERIALIZED (
        SELECT DISTINCT o_custkey % 60 AS id, CAST(o_orderdate AS DATE) AS d,
          CASE WHEN o_orderkey % 17 <= 2 THEN 'lb'
               WHEN o_orderkey % 17 <= 5 THEN 'sb'
               WHEN o_orderkey % 17 <= 8 THEN 'deliv'
               WHEN o_orderkey % 17 <= 10 THEN 'tro'
               WHEN o_orderkey % 17 <= 12 THEN 'ect'
               WHEN o_orderkey % 17 <= 14 THEN 'ab'
               ELSE 'sa' END AS cls
        FROM orders),
      lb0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT id, d FROM ep WHERE cls = 'lb')),
      lbrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM lb0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 182 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 182 THEN 1 ELSE 0 END
        FROM lbrec a JOIN lb0 b ON b.id = a.id AND b.rk = a.rk + 1),
      lbfin AS MATERIALIZED (SELECT id, d FROM lbrec WHERE inc = 1),
      sb0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT s0.id, s0.d FROM (SELECT id, d FROM ep WHERE cls = 'sb') s0
            ANTI JOIN lbfin h0 ON h0.id = s0.id AND h0.d <> s0.d
              AND abs(date_diff('day', h0.d, s0.d)) <= 182)),
      sbrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM sb0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 168 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 168 THEN 1 ELSE 0 END
        FROM sbrec a JOIN sb0 b ON b.id = a.id AND b.rk = a.rk + 1),
      sbfin AS MATERIALIZED (SELECT id, d FROM sbrec WHERE inc = 1),
      deliv0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT s1.id, s1.d FROM (SELECT s0.id, s0.d FROM (SELECT id, d FROM ep WHERE cls = 'deliv') s0
            ANTI JOIN lbfin h0 ON h0.id = s0.id AND h0.d <> s0.d
              AND abs(date_diff('day', h0.d, s0.d)) <= 182) s1
            ANTI JOIN sbfin h1 ON h1.id = s1.id AND h1.d <> s1.d
              AND abs(date_diff('day', h1.d, s1.d)) <= 168)),
      delivrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM deliv0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 168 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 168 THEN 1 ELSE 0 END
        FROM delivrec a JOIN deliv0 b ON b.id = a.id AND b.rk = a.rk + 1),
      delivfin AS MATERIALIZED (SELECT id, d FROM delivrec WHERE inc = 1),
      tro0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT s2.id, s2.d FROM (SELECT s1.id, s1.d FROM (SELECT s0.id, s0.d FROM (SELECT id, d FROM ep WHERE cls = 'tro') s0
            ANTI JOIN lbfin h0 ON h0.id = s0.id AND h0.d <> s0.d
              AND abs(date_diff('day', h0.d, s0.d)) <= 168) s1
            ANTI JOIN sbfin h1 ON h1.id = s1.id AND h1.d <> s1.d
              AND abs(date_diff('day', h1.d, s1.d)) <= 154) s2
            ANTI JOIN delivfin h2 ON h2.id = s2.id AND h2.d <> s2.d
              AND abs(date_diff('day', h2.d, s2.d)) <= 154)),
      trorec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM tro0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 56 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 56 THEN 1 ELSE 0 END
        FROM trorec a JOIN tro0 b ON b.id = a.id AND b.rk = a.rk + 1),
      trofin AS MATERIALIZED (SELECT id, d FROM trorec WHERE inc = 1),
      ect0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT s3.id, s3.d FROM (SELECT s2.id, s2.d FROM (SELECT s1.id, s1.d FROM (SELECT s0.id, s0.d FROM (SELECT id, d FROM ep WHERE cls = 'ect') s0
            ANTI JOIN lbfin h0 ON h0.id = s0.id AND h0.d <> s0.d
              AND abs(date_diff('day', h0.d, s0.d)) <= 168) s1
            ANTI JOIN sbfin h1 ON h1.id = s1.id AND h1.d <> s1.d
              AND abs(date_diff('day', h1.d, s1.d)) <= 154) s2
            ANTI JOIN delivfin h2 ON h2.id = s2.id AND h2.d <> s2.d
              AND abs(date_diff('day', h2.d, s2.d)) <= 154) s3
            ANTI JOIN trofin h3 ON h3.id = s3.id AND h3.d <> s3.d
              AND abs(date_diff('day', h3.d, s3.d)) <= 56)),
      ectrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM ect0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 56 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 56 THEN 1 ELSE 0 END
        FROM ectrec a JOIN ect0 b ON b.id = a.id AND b.rk = a.rk + 1),
      ectfin AS MATERIALIZED (SELECT id, d FROM ectrec WHERE inc = 1),
      ab0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT s4.id, s4.d FROM (SELECT s3.id, s3.d FROM (SELECT s2.id, s2.d FROM (SELECT s1.id, s1.d FROM (SELECT s0.id, s0.d FROM (SELECT id, d FROM ep WHERE cls = 'ab') s0
            ANTI JOIN lbfin h0 ON h0.id = s0.id AND h0.d <> s0.d
              AND abs(date_diff('day', h0.d, s0.d)) <= 168) s1
            ANTI JOIN sbfin h1 ON h1.id = s1.id AND h1.d <> s1.d
              AND abs(date_diff('day', h1.d, s1.d)) <= 154) s2
            ANTI JOIN delivfin h2 ON h2.id = s2.id AND h2.d <> s2.d
              AND abs(date_diff('day', h2.d, s2.d)) <= 154) s3
            ANTI JOIN trofin h3 ON h3.id = s3.id AND h3.d <> s3.d
              AND abs(date_diff('day', h3.d, s3.d)) <= 56) s4
            ANTI JOIN ectfin h4 ON h4.id = s4.id AND h4.d <> s4.d
              AND abs(date_diff('day', h4.d, s4.d)) <= 56)),
      abrec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM ab0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 56 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 56 THEN 1 ELSE 0 END
        FROM abrec a JOIN ab0 b ON b.id = a.id AND b.rk = a.rk + 1),
      abfin AS MATERIALIZED (SELECT id, d FROM abrec WHERE inc = 1),
      sa0 AS MATERIALIZED (
        SELECT id, d, rank() OVER (PARTITION BY id ORDER BY d) AS rk,
          date_diff('day', lag(d, 1, d) OVER (PARTITION BY id ORDER BY d), d) AS diff
        FROM (SELECT s5.id, s5.d FROM (SELECT s4.id, s4.d FROM (SELECT s3.id, s3.d FROM (SELECT s2.id, s2.d FROM (SELECT s1.id, s1.d FROM (SELECT s0.id, s0.d FROM (SELECT id, d FROM ep WHERE cls = 'sa') s0
            ANTI JOIN lbfin h0 ON h0.id = s0.id AND h0.d <> s0.d
              AND abs(date_diff('day', h0.d, s0.d)) <= 168) s1
            ANTI JOIN sbfin h1 ON h1.id = s1.id AND h1.d <> s1.d
              AND abs(date_diff('day', h1.d, s1.d)) <= 154) s2
            ANTI JOIN delivfin h2 ON h2.id = s2.id AND h2.d <> s2.d
              AND abs(date_diff('day', h2.d, s2.d)) <= 154) s3
            ANTI JOIN trofin h3 ON h3.id = s3.id AND h3.d <> s3.d
              AND abs(date_diff('day', h3.d, s3.d)) <= 56) s4
            ANTI JOIN ectfin h4 ON h4.id = s4.id AND h4.d <> s4.d
              AND abs(date_diff('day', h4.d, s4.d)) <= 56) s5
            ANTI JOIN abfin h5 ON h5.id = s5.id AND h5.d <> s5.d
              AND abs(date_diff('day', h5.d, s5.d)) <= 56)),
      sarec AS (
        SELECT id, d, rk, diff AS cum, 1 AS inc FROM sa0 WHERE rk = 1
        UNION ALL
        SELECT b.id, b.d, b.rk,
          CASE WHEN a.cum + b.diff > 42 THEN 0 ELSE a.cum + b.diff END,
          CASE WHEN a.cum + b.diff > 42 THEN 1 ELSE 0 END
        FROM sarec a JOIN sa0 b ON b.id = a.id AND b.rk = a.rk + 1),
      safin AS MATERIALIZED (SELECT id, d FROM sarec WHERE inc = 1),
      placed AS (SELECT id, 'lb' AS cls, d FROM lbfin
      UNION ALL SELECT id, 'sb', d FROM sbfin
      UNION ALL SELECT id, 'deliv', d FROM delivfin
      UNION ALL SELECT id, 'tro', d FROM trofin
      UNION ALL SELECT id, 'ect', d FROM ectfin
      UNION ALL SELECT id, 'ab', d FROM abfin
      UNION ALL SELECT id, 'sa', d FROM safin)"""

  /** q90/q299 shared prenatal-window episode construction (`tl` ->
    * `epi`) over a `placed` CTE of (id, cls, d) rows — 7-class-general
    * (the dg/mg/buffer CASEs carry every class). */
  private val EpisodeCtes: String = """tl AS (
        SELECT id, cls, d,
          row_number() OVER (PARTITION BY id ORDER BY d, cls) AS seq,
          date_diff('day',
            lag(d) OVER (PARTITION BY id ORDER BY d, cls), d) AS dd,
          lag(cls) OVER (PARTITION BY id ORDER BY d, cls) AS pcls
        FROM placed),
      epi AS MATERIALIZED (
        SELECT id AS id_person, cls AS preg_endpoint,
          CAST(seq AS INT) AS preg_episode_seq,
          CASE WHEN dd IS NULL OR dd >= dg THEN d - CAST(dg AS INT)
            ELSE d - CAST(dd AS INT) + CAST(buf AS INT) END AS preg_start_date,
          d AS preg_end_date,
          d - CAST(dg AS INT) AS preg_start_date_max,
          d - CAST(mg AS INT) AS preg_start_date_min
        FROM (
          SELECT id, cls, seq, dd, pcls, d,
            CASE WHEN cls IN ('lb','sb','deliv') THEN 301
                 WHEN cls = 'tro' THEN 112 WHEN cls = 'ect' THEN 84
                 WHEN cls = 'ab' THEN 168 WHEN cls = 'sa' THEN 133 END AS dg,
            CASE WHEN cls = 'lb' THEN 154 WHEN cls IN ('sb','deliv') THEN 140
                 WHEN cls IN ('tro','ect','ab') THEN 42
                 WHEN cls = 'sa' THEN 28 END AS mg,
            CASE WHEN pcls IN ('lb','sb','deliv') THEN 28
                 WHEN pcls IN ('tro','ect','ab','sa') THEN 14 END AS buf
          FROM tl))"""

  /** q90/q299 shared GA-correction chain (`procs` -> `corr` -> `final`)
    * over `epi`; the anchor-procedure fixture's person-id modulus is
    * the one knob the two placements differ on. */
  private def pregCorrectionCtes(idMod: Int): String = s"""      procs AS (
        SELECT o_custkey % $idMod AS id_person,
          CAST(l_shipdate AS DATE) AS procedure_date,
          CASE WHEN l_partkey % 13 = 0 THEN '58321'
               WHEN l_partkey % 13 = 1 THEN 'S4035'
               ELSE 'OTHER' END AS procedure_code
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      corr AS (
        SELECT e.id_person, e.preg_episode_seq,
          max(p.procedure_date - 13) AS preg_start_date_correct
        FROM epi e JOIN procs p ON p.id_person = e.id_person
        WHERE p.procedure_code IN
          ('58321', '58322', 'S4035', '58974', '58976', 'S4037')
          AND p.procedure_date BETWEEN e.preg_start_date AND e.preg_end_date
        GROUP BY 1, 2),
      final AS (
        SELECT e.id_person, e.preg_endpoint, e.preg_episode_seq,
          e.preg_start_date, e.preg_end_date,
          e.preg_start_date_max, e.preg_start_date_min,
          c.preg_start_date_correct,
          CASE WHEN c.preg_start_date_correct IS NULL THEN NULL
            ELSE date_diff('day', c.preg_start_date_correct,
              e.preg_end_date) + 1 END AS ga_days,
          CASE WHEN c.preg_start_date_correct IS NULL THEN NULL
            ELSE CAST(round((date_diff('day', c.preg_start_date_correct,
              e.preg_end_date) + 1) * 1.0 / 7, 1) AS DECIMAL(4,1)) END
            AS ga_weeks
        FROM epi e LEFT JOIN corr c USING (id_person, preg_episode_seq)),
      corrected AS (
        SELECT *,
          CASE WHEN preg_start_date_correct IS NULL THEN NULL
               WHEN preg_start_date_correct BETWEEN preg_start_date_max
                 AND preg_start_date_min THEN 1 ELSE 0 END
            AS valid_start_date,
          CASE WHEN preg_start_date_correct IS NULL THEN NULL
               WHEN preg_endpoint = 'lb' AND ga_weeks < 22 THEN 0
               WHEN preg_endpoint = 'sb' AND ga_weeks < 20 THEN 0
               WHEN preg_endpoint = 'sa' AND ga_weeks >= 20 THEN 0
               ELSE 1 END AS valid_ga,
          CASE WHEN preg_endpoint = 'lb' AND ga_weeks >= 37 THEN 'ftb'
               WHEN preg_endpoint = 'lb' AND ga_weeks < 37 THEN 'ptb'
               END AS lb_type
        FROM final)"""

  /** q118/q303 shared combined-timevar build ending in `mmtv`. */
  private val MmTimevarCtes: String = """om AS (
        SELECT DISTINCT o_custkey % 60 AS p,
          date_trunc('month', o_orderdate)::DATE AS m
        FROM orders),
      ma AS (
        SELECT p AS id_apde, m AS from_date, last_day(m) AS to_date,
          0 AS dual,
          CASE WHEN (p + mi) % 5 = 0 THEN 1 ELSE 0 END AS tpl,
          CASE WHEN (p + mi) % 3 <> 0 THEN 1 ELSE 0 END AS full_benefit,
          CASE WHEN (p + mi) % 2 = 0 THEN 'FFS' ELSE 'MC' END AS cov_type,
          'Z' || ((p + mi // 4) % 4)::VARCHAR AS geo_zip,
          CASE WHEN (p + mi) % 4 = 0 THEN '033'
               WHEN (p + mi) % 4 = 1 THEN '053' END AS geo_county_code
        FROM (SELECT p, m, year(m) * 12 + month(m) AS mi FROM om
              WHERE p % 3 <> 0)),
      mc AS (
        SELECT p AS id_apde, m + 14 AS from_date,
          last_day(m) + 14 AS to_date,
          CASE WHEN (p + mi) % 4 <> 0 THEN 1 ELSE 0 END AS part_a,
          CASE WHEN (p + mi) % 5 <> 0 THEN 1 ELSE 0 END AS part_b,
          CASE WHEN (p + mi) % 7 = 0 THEN 1 ELSE 0 END AS part_c,
          CASE WHEN (p + mi) % 6 = 0 THEN 1 ELSE 0 END AS partial,
          CASE WHEN (p + mi) % 8 = 0 THEN 1 ELSE 0 END AS buy_in,
          'Z' || ((p + mi // 3) % 4)::VARCHAR AS geo_zip_mcare
        FROM (SELECT p, m, year(m) * 12 + month(m) AS mi FROM om
              WHERE p % 2 = 0)),
      pts AS (
        SELECT id_apde, from_date AS pt FROM ma
        UNION SELECT id_apde, to_date + 1 FROM ma
        UNION SELECT id_apde, from_date FROM mc
        UNION SELECT id_apde, to_date + 1 FROM mc),
      segs AS (
        SELECT id_apde, pt AS f,
          lead(pt) OVER (PARTITION BY id_apde ORDER BY pt) - 1 AS t
        FROM pts
        QUALIFY lead(pt) OVER (PARTITION BY id_apde ORDER BY pt)
          IS NOT NULL),
      lab AS (
        SELECT s.id_apde, s.f, s.t,
          a.dual, a.tpl, a.full_benefit, a.cov_type, a.geo_zip,
          a.geo_county_code,
          c.part_a, c.part_b, c.part_c, c.partial, c.buy_in,
          c.geo_zip_mcare
        FROM segs s
        LEFT JOIN ma a ON s.id_apde = a.id_apde
          AND s.f BETWEEN a.from_date AND a.to_date
        LEFT JOIN mc c ON s.id_apde = c.id_apde
          AND s.f BETWEEN c.from_date AND c.to_date
        WHERE a.from_date IS NOT NULL OR c.from_date IS NOT NULL),
      isl AS (
        SELECT *, sum(CASE WHEN prev_t IS NULL
              OR date_diff('day', prev_t, f) > 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY id_apde, dual, tpl, full_benefit, cov_type,
              geo_zip, geo_county_code, part_a, part_b, part_c, partial,
              buy_in, geo_zip_mcare ORDER BY f, t
              ROWS UNBOUNDED PRECEDING) AS isl
        FROM (SELECT *, lag(t) OVER (PARTITION BY id_apde, dual, tpl,
                full_benefit, cov_type, geo_zip, geo_county_code, part_a,
                part_b, part_c, partial, buy_in, geo_zip_mcare
                ORDER BY f, t) AS prev_t FROM lab)),
      coll AS (
        SELECT id_apde, dual, tpl, full_benefit, cov_type, geo_zip,
          geo_county_code, part_a, part_b, part_c, partial, buy_in,
          geo_zip_mcare, min(f) AS from_date, max(t) AS to_date
        FROM isl
        GROUP BY id_apde, dual, tpl, full_benefit, cov_type, geo_zip,
          geo_county_code, part_a, part_b, part_c, partial, buy_in,
          geo_zip_mcare, isl),
      flg AS (
        SELECT *,
          CASE WHEN part_a = 1 OR part_b = 1 OR part_c = 1
            THEN 1 ELSE 0 END AS mcare,
          CASE WHEN cov_type IS NOT NULL THEN 1 ELSE 0 END AS mcaid
        FROM coll),
      flg2 AS (
        SELECT * REPLACE (
            CASE WHEN mcare * mcaid = 1 THEN 1 ELSE dual END AS dual),
          mcare * mcaid AS apde_dual,
          CASE WHEN from_date BETWEEN DATE '1994-01-01'
                AND DATE '1995-12-31'
              OR to_date BETWEEN DATE '1994-01-01' AND DATE '1995-12-31'
            THEN 1 ELSE 0 END AS y1114
        FROM flg
        WHERE NOT (mcare = 0 AND mcaid = 0)),
      fc AS (
        SELECT *, CASE WHEN
            (mcaid = 1 AND mcare = 0 AND dual = 0 AND full_benefit = 1
              AND tpl <> 1)
            OR (y1114 = 1 AND mcaid = 0 AND mcare = 1
              AND (part_a = 1 OR part_b = 1))
            OR (y1114 = 0 AND mcaid = 0 AND mcare = 1
              AND (part_a = 1 OR part_b = 1) AND partial = 0)
            OR (y1114 = 1 AND apde_dual = 1 AND full_benefit = 1
              AND tpl <> 1)
            OR (part_a = 1 OR part_b = 1)
            OR (y1114 = 0 AND apde_dual = 1
              AND ((full_benefit = 1 AND tpl <> 1)
                OR ((part_a = 1 OR part_b = 1) AND partial = 0)))
          THEN 1 ELSE 0 END AS full_criteria
        FROM flg2),
      fin AS (
        SELECT id_apde, from_date, to_date, apde_dual, dual,
          CASE WHEN mcare = 0 THEN coalesce(part_a, 0)
            ELSE part_a END AS part_a,
          CASE WHEN mcare = 0 THEN coalesce(part_b, 0)
            ELSE part_b END AS part_b,
          CASE WHEN mcare = 0 THEN coalesce(part_c, 0)
            ELSE part_c END AS part_c,
          CASE WHEN mcare = 0 THEN coalesce(partial, 0)
            ELSE partial END AS partial,
          CASE WHEN mcare = 0 THEN coalesce(buy_in, 0)
            ELSE buy_in END AS buy_in,
          CASE WHEN mcaid = 0 THEN coalesce(full_benefit, 0)
            ELSE full_benefit END AS full_benefit,
          cov_type, tpl, mcare, mcaid, full_criteria,
          coalesce(geo_zip, geo_zip_mcare) AS geo_zip, geo_county_code
        FROM fc),
      mmtv AS (
      SELECT id_apde, from_date, to_date,
        CAST(coalesce(date_diff('day',
          lag(to_date) OVER (PARTITION BY id_apde ORDER BY from_date),
          from_date) = 1, false) AS INTEGER) AS contiguous,
        apde_dual, dual, part_a, part_b, part_c, partial, buy_in,
        full_benefit, cov_type, tpl, mcare, mcaid, full_criteria,
        geo_zip, geo_county_code,
        CASE WHEN geo_county_code = '033' OR (geo_county_code IS NULL
          AND geo_zip IN ('Z0', 'Z2')) THEN 1 ELSE 0 END AS geo_kc,
        CAST(date_diff('day', from_date, to_date) + 1 AS INTEGER)
          AS cov_time_day
      FROM fin)"""

  /** q119/q302 shared combined-demo build ending in `mmdemo`. */
  private val MmDemoCtes: String = """mcaid0 AS (
        SELECT c_custkey % 60 AS id_apde,
          DATE '1960-01-01' + CAST(c_custkey % 8000 AS INT) AS dob,
          CASE WHEN c_custkey % 23 = 0 THEN NULL
               WHEN c_custkey % 17 = 0 THEN 'Multiple'
               WHEN c_custkey % 2 = 0 THEN 'Female'
               ELSE 'Male' END AS gender_me,
          CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS gender_female,
          CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END AS gender_male,
          CASE WHEN c_custkey % 31 = 0 THEN NULL
               WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END AS race_aian,
          CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS race_asian,
          CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS race_black,
          CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END AS race_latino,
          CASE WHEN c_custkey % 19 = 0 THEN 1 ELSE 0 END AS race_nhpi,
          CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS race_white,
          'RE' || (c_custkey % 4)::VARCHAR AS race_eth_recent,
          CASE WHEN c_custkey % 6 <= 1 THEN 'ENGLISH'
               WHEN c_custkey % 6 <= 3 THEN 'SPANISH'
               ELSE 'VIETNAMESE' END AS lang_max
        FROM customer WHERE (c_custkey % 60) % 3 <> 0),
      ma AS (
        SELECT * FROM mcaid0
        QUALIFY row_number() OVER (PARTITION BY id_apde
          ORDER BY dob ASC NULLS FIRST, gender_me ASC NULLS FIRST,
            gender_female ASC NULLS FIRST, gender_male ASC NULLS FIRST,
            race_aian ASC NULLS FIRST, race_asian ASC NULLS FIRST,
            race_black ASC NULLS FIRST, race_latino ASC NULLS FIRST,
            race_nhpi ASC NULLS FIRST, race_white ASC NULLS FIRST,
            race_eth_recent ASC NULLS FIRST, lang_max ASC NULLS FIRST)
          = 1),
      mcare0 AS (
        SELECT c_custkey % 60 AS id_apde,
          DATE '1955-06-15' + CAST(c_custkey % 9000 AS INT) AS dob,
          CASE WHEN c_custkey % 13 = 0 THEN NULL
               WHEN c_custkey % 3 = 0 THEN 'Female'
               ELSE 'Male' END AS gender_me,
          CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS gender_female,
          CASE WHEN c_custkey % 3 <> 0 THEN 1 ELSE 0 END AS gender_male,
          CASE WHEN c_custkey % 14 = 0 THEN 1 ELSE 0 END AS race_aian,
          CASE WHEN c_custkey % 8 = 0 THEN 1 ELSE 0 END AS race_asian,
          CASE WHEN c_custkey % 6 = 0 THEN 1 ELSE 0 END AS race_black,
          CASE WHEN c_custkey % 12 = 0 THEN 1 ELSE 0 END AS race_latino,
          CASE WHEN c_custkey % 20 = 0 THEN 1 ELSE 0 END AS race_nhpi,
          CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END AS race_white,
          'RE' || (c_custkey % 5)::VARCHAR AS race_eth_recent,
          CASE WHEN c_custkey % 29 = 0 THEN DATE '2015-01-01'
            + CAST(c_custkey % 1000 AS INT) END AS death_dt,
          CASE WHEN c_custkey % 9 = 0 THEN 1 ELSE 0 END AS race_asian_pi
        FROM customer WHERE (c_custkey % 60) % 2 = 0),
      mc AS (
        SELECT * FROM mcare0
        QUALIFY row_number() OVER (PARTITION BY id_apde
          ORDER BY dob ASC NULLS FIRST, gender_me ASC NULLS FIRST,
            gender_female ASC NULLS FIRST, gender_male ASC NULLS FIRST,
            race_aian ASC NULLS FIRST, race_asian ASC NULLS FIRST,
            race_black ASC NULLS FIRST, race_latino ASC NULLS FIRST,
            race_nhpi ASC NULLS FIRST, race_white ASC NULLS FIRST,
            race_eth_recent ASC NULLS FIRST, death_dt ASC NULLS FIRST,
            race_asian_pi ASC NULLS FIRST) = 1),
      j AS (
        SELECT coalesce(a.id_apde, c.id_apde) AS id_apde,
          coalesce(c.dob, a.dob) AS dob,
          c.death_dt,
          coalesce(a.gender_me, c.gender_me) AS gender_me,
          coalesce(a.gender_female, c.gender_female) AS gender_female,
          coalesce(a.gender_male, c.gender_male) AS gender_male,
          coalesce(a.race_aian, c.race_aian) AS race_aian,
          coalesce(a.race_asian, c.race_asian) AS race_asian,
          c.race_asian_pi,
          coalesce(a.race_black, c.race_black) AS race_black,
          coalesce(a.race_latino, c.race_latino) AS race_latino,
          coalesce(a.race_nhpi, c.race_nhpi) AS race_nhpi,
          coalesce(a.race_white, c.race_white) AS race_white,
          coalesce(a.race_eth_recent, c.race_eth_recent)
            AS race_eth_recent,
          a.lang_max,
          CASE WHEN a.id_apde IS NOT NULL AND c.id_apde IS NOT NULL
            THEN 1 ELSE 0 END AS apde_dual
        FROM ma a FULL JOIN mc c ON a.id_apde = c.id_apde),
      mmdemo AS (
      SELECT id_apde, dob, death_dt, gender_me, gender_female,
        gender_male, race_aian, race_asian, race_asian_pi, race_black,
        race_latino, race_nhpi, race_white,
        CASE WHEN race_aian = 0 AND race_asian = 0 AND race_asian_pi = 0
          AND race_black = 0 AND race_latino = 0 AND race_nhpi = 0
          AND race_white = 0 THEN 1 ELSE 0 END AS race_unk,
        race_eth_recent, lang_max, apde_dual
      FROM j)"""

  /** q105/q306/q307 shared combined-header build (with its mcaid/mcare
    * claim and xw1/xw2 crosswalk CTEs) ending in `mmhdr`. */
  private val MmHeaderCtes: String = """orders_d AS (
        SELECT o_orderkey AS ok, o_custkey,
          CAST(o_orderdate AS DATE) AS d
        FROM orders),
      mcaid AS (
        SELECT o_custkey % 70 AS id_mcaid, CAST(ok AS VARCHAR) AS claim_id,
          d AS fsd, d + CAST(ok % 3 AS INT) AS lsd,
          CASE ok % 3 WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 5 END
            AS claim_type_id,
          CASE WHEN ok % 5 = 0 THEN 1 ELSE 0 END AS ed_pophealth_flag,
          lpad(CAST(ok % 99 AS VARCHAR), 2, '0') AS place_of_service_code
        FROM orders_d WHERE ok % 2 = 0),
      mcare AS (
        SELECT 'C' || CAST(o_custkey % 80 AS VARCHAR) AS id_mcare,
          'X' || CAST(ok AS VARCHAR) AS claim_id,
          d AS fsd, d + CAST(ok % 4 AS INT) AS lsd,
          CASE ok % 3 WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 5 END
            AS claim_type_id,
          CASE WHEN ok % 7 = 0 THEN 1 ELSE 0 END AS ed_pophealth_flag,
          CASE WHEN ok % 23 = 0 THEN '20' ELSE '30' END
            AS patient_status_code
        FROM orders_d WHERE ok % 2 = 1),
      xw1 AS (
        SELECT id_mcaid, 100 + id_mcaid % 50 AS id_apde
        FROM (SELECT DISTINCT c_custkey % 70 AS id_mcaid FROM customer)
        WHERE id_mcaid % 9 <> 8),
      xw2 AS (
        SELECT 'C' || CAST(n AS VARCHAR) AS id_mcare,
          100 + n % 50 AS id_apde
        FROM (SELECT DISTINCT c_custkey % 80 AS n FROM customer)
        WHERE n % 7 <> 6),
      unioned AS (
        SELECT DISTINCT * FROM (
          SELECT x.id_apde, 'mcaid' AS source_desc, m.claim_id, m.fsd,
            m.lsd, m.claim_type_id, m.ed_pophealth_flag,
            m.place_of_service_code,
            CAST(NULL AS VARCHAR) AS patient_status_code
          FROM mcaid m LEFT JOIN xw1 x ON m.id_mcaid = x.id_mcaid
          UNION ALL
          SELECT x.id_apde, 'mcare', m.claim_id, m.fsd, m.lsd,
            m.claim_type_id, m.ed_pophealth_flag, NULL,
            m.patient_status_code
          FROM mcare m LEFT JOIN xw2 x ON m.id_mcare = x.id_mcare)),
      typed AS (
        SELECT *,
          CASE WHEN ed_pophealth_flag = 1 AND claim_type_id = 5
            THEN 'Carrier'
            WHEN ed_pophealth_flag = 1 AND claim_type_id = 4
            THEN 'Outpatient'
            WHEN ed_pophealth_flag = 1 AND claim_type_id = 1
            THEN 'Inpatient' END AS ed_type
        FROM unioned),
      ed0 AS (
        SELECT id_apde, source_desc, claim_id, fsd,
          lag(fsd) OVER (PARTITION BY id_apde
            ORDER BY fsd, fsd, claim_id) AS prev_f
        FROM typed WHERE ed_type IS NOT NULL AND id_apde IS NOT NULL),
      ed1 AS (
        SELECT *, CASE WHEN prev_f IS NULL
          OR date_diff('day', prev_f, fsd) > 1 THEN 1 ELSE 0 END AS st
        FROM ed0),
      epi AS (
        SELECT source_desc, claim_id,
          CAST(sum(st) OVER (PARTITION BY id_apde
            ORDER BY fsd, fsd, claim_id ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS ed_pophealth_seq
        FROM ed1),
      mmhdr AS (
      SELECT t.id_apde, t.source_desc, t.claim_id,
        t.fsd AS first_service_date, t.lsd AS last_service_date,
        t.claim_type_id, t.ed_pophealth_flag, t.place_of_service_code,
        t.patient_status_code, t.ed_type, e.ed_pophealth_seq
      FROM typed t LEFT JOIN epi e
        ON t.source_desc = e.source_desc AND t.claim_id = e.claim_id)"""

  /** q155/q305 shared xwalk raw-history fixture CTE (`hist`). */
  private val XwalkHistCte: String = """hist AS (
        SELECT
          CASE WHEN o_orderkey % 31 = 0
            THEN 'BAD' || lpad(CAST(o_custkey % 200 AS VARCHAR), 9, '0')
            ELSE lpad(CAST(o_custkey % 200 AS VARCHAR), 9, '0') || 'KC'
            END AS kcm,
          CASE WHEN o_orderkey % 2 = 0 THEN 'MEDICAID' ELSE 'HOUSING'
            END AS src,
          CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 31 <> 0 THEN
            CASE WHEN o_orderkey % 17 = 0
              THEN 'X' || CAST(o_orderkey % 5000 AS VARCHAR)
              ELSE CAST(100000 + o_orderkey % 5000 AS VARCHAR) END
            END AS mbr,
          CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 31 <> 0 THEN
            CASE WHEN o_orderkey % 29 = 0 THEN 'SHORT'
              ELSE md5(CAST(o_orderkey % 700 AS VARCHAR))
                || md5(CAST(o_orderkey % 700 + 1 AS VARCHAR)) END
            END AS ph,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 90 AS INT)
            AS touched,
          CASE WHEN o_orderkey % 13 = 0 THEN 'Y' ELSE 'N' END AS histflag
        FROM orders)"""

  /** q155/q305 shared xwalk build chain (cur -> idh/mc/phx -> j2),
    * parameterized by source CTE and name suffix so the q305 battery
    * can run the SAME chain over the full and the prior-slice history
    * in one statement. */
  private def xwalkChainCtes(src: String, sfx: String): String = s"""      cur$sfx AS (
        SELECT * FROM $src WHERE histflag = 'N' AND kcm IS NOT NULL),
      idh$sfx AS (
        SELECT DISTINCT kcm, substring(md5(kcm), 1, 10) AS id_apde
        FROM cur$sfx WHERE regexp_matches(kcm, '^[0-9]{9}KC$$')),
      mc0$sfx AS (
        SELECT DISTINCT kcm, mbr AS id_mcaid, touched FROM cur$sfx
        WHERE src = 'MEDICAID' AND regexp_matches(mbr, '^[0-9]+$$')),
      mc$sfx AS (
        SELECT kcm, id_mcaid FROM (
          SELECT *, row_number() OVER (PARTITION BY id_mcaid
            ORDER BY touched DESC, kcm ASC) AS rn FROM mc0$sfx)
        WHERE rn = 1),
      ph0$sfx AS (
        SELECT DISTINCT kcm, ph AS phousing_id, touched FROM cur$sfx
        WHERE ph IS NOT NULL AND length(ph) = 64),
      phx$sfx AS (
        SELECT kcm, phousing_id FROM (
          SELECT *, row_number() OVER (PARTITION BY phousing_id
            ORDER BY touched DESC, kcm ASC) AS rn FROM ph0$sfx)
        WHERE rn = 1),
      j1$sfx AS (
        SELECT coalesce(i.kcm, m.kcm) AS kcm, i.id_apde, m.id_mcaid
        FROM idh$sfx i FULL JOIN mc$sfx m ON i.kcm = m.kcm),
      j2$sfx AS (
        SELECT j.id_apde, coalesce(j.kcm, p.kcm) AS KCMASTER_ID,
          j.id_mcaid, CAST(NULL AS VARCHAR) AS id_mcare, p.phousing_id
        FROM j1$sfx j FULL JOIN phx$sfx p ON j.kcm = p.kcm)"""

  /** q127/q304 shared mcare timevar build ending in `mctv`. */
  private val McareTimevarCtes: String = """iy AS (
        SELECT DISTINCT o_custkey % 80 AS p, year(o_orderdate) AS y
        FROM orders),
      mg AS (
        SELECT p, y, m FROM iy,
          (SELECT unnest(generate_series(1, 12)) AS m) t),
      codes AS (
        SELECT p, y, m,
          ['0','1','2','3','A','B','C','9']
            [((p*31 + y*12 + m) % 8)::INT + 1] AS buyins,
          ['0','1','2','4','A','5']
            [((p*31 + y*12 + m) % 6)::INT + 1] AS hmos,
          ['E123','H45','N','*','0','X9',NULL,'R2']
            [((p*31 + y*12 + m) % 8)::INT + 1] AS rx,
          ['00','01','02','04','08','09','10','99','**',NULL]
            [((p*31 + y*12 + m) % 10)::INT + 1] AS duals,
          CASE WHEN (p + y) % 7 = 0 THEN '9812'
            ELSE '9810' || ((p + y) % 4)::VARCHAR END AS zip_cd
        FROM mg),
      monthly AS (
        SELECT 'E' || p::VARCHAR AS id_mcare,
          make_date(y, m, 1) AS from_date,
          last_day(make_date(y, m, 1)) AS to_date,
          CASE WHEN len(zip_cd) >= 5 THEN substr(zip_cd, 1, 5) END
            AS geo_zip,
          CASE WHEN buyins IN ('1','3','A','C') THEN 1
               WHEN buyins IN ('0','2','B') THEN 0 END AS part_a,
          CASE WHEN buyins IN ('2','3','B','C') THEN 1
               WHEN buyins IN ('0','1','A') THEN 0 END AS part_b,
          CASE WHEN hmos IN ('1','2','A','B','C') THEN 1
               WHEN hmos IN ('0','4') THEN 0 END AS part_c,
          CASE WHEN rx IN ('N','NULL','*','0','NA') OR rx IS NULL THEN 0
               WHEN substr(rx, 1, 1) IN ('E','H','R','S','X') THEN 1
            END AS part_d,
          CASE WHEN buyins IN ('0','1','2','3') THEN 0
               WHEN buyins IN ('A','B','C') THEN 1 END AS state_buyin,
          CASE WHEN duals IN ('NULL','**','0','00','2','02','4','04',
              '8','08','9','09','99','10','NA') OR duals IS NULL THEN 0
               WHEN duals IN ('1','01','3','03','5','05','6','06')
            THEN 1 END AS partial_dual,
          CASE WHEN duals IN ('NULL','**','0','00','9','09','99','NA',
              '1','01','3','03','5','05','6','06') OR duals IS NULL
            THEN 0
               WHEN duals IN ('2','02','4','04','8','08','10') THEN 1
            END AS full_dual
        FROM codes),
      demo AS (
        SELECT DISTINCT 'E' || p::VARCHAR AS id_mcare,
          CASE WHEN p % 9 = 0 THEN DATE '1995-06-15'
            + CAST(p * 13 % 700 AS INT) END AS death_dt
        FROM iy),
      alive AS (
        SELECT m.id_mcare, m.from_date,
          CASE WHEN d.death_dt IS NOT NULL
              AND m.from_date <= d.death_dt AND m.to_date > d.death_dt
            THEN d.death_dt ELSE m.to_date END AS to_date,
          m.geo_zip, m.part_a, m.part_b, m.part_c, m.part_d,
          m.state_buyin, m.partial_dual, m.full_dual
        FROM monthly m LEFT JOIN demo d ON m.id_mcare = d.id_mcare
        WHERE m.part_a + m.part_b + m.part_c + m.part_d + m.state_buyin
            + m.partial_dual + m.full_dual > 0
          AND (m.from_date <= d.death_dt OR d.death_dt IS NULL)),
      isl AS (
        SELECT *, sum(CASE WHEN prev_t IS NULL
              OR date_diff('day', prev_t, from_date) > 1
            THEN 1 ELSE 0 END)
            OVER (PARTITION BY id_mcare, geo_zip, part_a, part_b,
              part_c, part_d, state_buyin, partial_dual, full_dual
              ORDER BY from_date, to_date ROWS UNBOUNDED PRECEDING)
            AS grp
        FROM (SELECT *, lag(to_date) OVER (PARTITION BY id_mcare,
                geo_zip, part_a, part_b, part_c, part_d, state_buyin,
                partial_dual, full_dual ORDER BY from_date, to_date)
              AS prev_t FROM alive)),
      coll AS (
        SELECT id_mcare, geo_zip, part_a, part_b, part_c, part_d,
          state_buyin, partial_dual, full_dual,
          min(from_date) AS from_date, max(to_date) AS to_date
        FROM isl
        GROUP BY id_mcare, geo_zip, part_a, part_b, part_c, part_d,
          state_buyin, partial_dual, full_dual, grp),
      mctv AS (
      SELECT id_mcare, from_date, to_date,
        CAST(coalesce(date_diff('day',
          lag(to_date) OVER (PARTITION BY id_mcare ORDER BY from_date),
          from_date) = 1, false) AS INTEGER) AS contiguous,
        part_a, part_b, part_c, part_d, full_dual, partial_dual,
        state_buyin, geo_zip,
        CASE WHEN geo_zip IN ('98100', '98102') THEN 1 ELSE 0 END
          AS geo_kc,
        CAST(date_diff('day', from_date, to_date) + 1 AS INTEGER)
          AS cov_time_day
      FROM coll)"""

  /** q308/q309 shared RAC workbook-sheet CTEs (mirrors
    * LifecycleQueries.Rac exactly). */
  private val RacSheetCtes: String = """rk AS (
        SELECT DISTINCT p_partkey % 120 AS rk FROM part),
      fs AS (SELECT rk AS rac_code,
          'RAC ' || CAST(rk AS VARCHAR) AS rac_name,
          CASE rk % 4 WHEN 0 THEN 'Federal' WHEN 1 THEN 'Title XXI'
            WHEN 2 THEN 'State Only' ELSE 'Local' END
            AS fund_source_code
        FROM rk),
      det AS (SELECT rk AS b_rac, rk % 20 AS b_elig, rk % 7 AS b_sub
        FROM rk WHERE rk % 11 <> 0),
      grp AS (SELECT ev, 'CAT ' || CAST(ev AS VARCHAR) AS category,
          CASE WHEN ev % 3 = 0 THEN 'Y' WHEN ev % 3 = 1 THEN 'N' END
            AS xix_full,
          CASE WHEN ev % 2 = 0 THEN 'Y' ELSE 'N' END AS xix_lim,
          CASE WHEN ev % 5 = 0 THEN 'Y' WHEN ev % 5 <> 1 THEN 'N' END
            AS xxi_full,
          CASE WHEN ev % 2 = 1 THEN 'Y' ELSE 'N' END AS legacy_mcs,
          CASE WHEN ev % 4 = 0 THEN '--' WHEN ev % 4 = 1 THEN 'Y'
            ELSE 'N' END AS magi,
          'GRP ' || CAST(ev % 3 AS VARCHAR) AS major_cov
        FROM (SELECT DISTINCT rk % 20 AS ev FROM rk)
        WHERE ev % 9 <> 8),
      bsp AS (SELECT DISTINCT rk AS d_rac,
          'B' || CAST(rk % 6 AS VARCHAR) AS bsp_group_abbrev,
          'BSP ' || CAST(rk % 6 AS VARCHAR) AS bsp_group_name,
          CASE rk % 6 WHEN 0 THEN 1003960 WHEN 1 THEN 1003956
            WHEN 2 THEN 10066833 WHEN 3 THEN 1003962 WHEN 4 THEN 555
            ELSE 666 END AS bsp_group_cid
        FROM rk WHERE rk % 13 <> 1)"""

  /** q313 oracle fragments generated from Comorbidity.Conditions — the
    * shared constants make weight/prefix drift impossible. */
  private def comorbCondValues: String =
    graft.builds.Comorbidity.Conditions.map { c =>
      def w(o: Option[Int]) = o.map(_.toString).getOrElse("NULL")
      s"(${c.condId}, '${c.shortName}', ${w(c.elix)}, " +
        s"${w(c.charlson)}, ${w(c.gagne)})"
    }.mkString(",\n          ")

  private def comorbPrefixValues: String =
    graft.builds.Comorbidity.Conditions.flatMap { c =>
      c.icd9.map(p => s"(${c.condId}, 9, '$p')") ++
        c.icd10.map(p => s"(${c.condId}, 10, '$p')")
    }.mkString(",\n          ")

  /** q311 oracle generated from RefTables.AgeLadders. */
  private def ageGrpOracle: String = {
    val ladders = graft.sources.RefTables.AgeLadders.map {
      case (name, arms) =>
        val cases = arms.map { case (lo, hi, lab) =>
          if (hi == Int.MaxValue) s"WHEN age >= $lo THEN '$lab'"
          else s"WHEN age BETWEEN $lo AND $hi THEN '$lab'"
        }.mkString(" ")
        s"CASE $cases END AS $name"
    }.mkString(",\n        ")
    s"""
      WITH spine AS (SELECT CAST(range AS INT) AS age
        FROM range(-1, 251))
      SELECT age,
        $ladders
      FROM spine ORDER BY age"""
  }

  /** q315 oracle: the batch-perceptron rounds replayed as generated
    * CTEs (the q251/q260 iterative fixed-point discipline) — integer
    * weights, so the trajectory is bit-exact. */
  private def perceptronOracle: String = {
    val B = 32
    val R = 5
    val rounds = (1 to R).map { r =>
      val p = r - 1
      s"""m$r AS MATERIALIZED (
        SELECT f.doc_id, f.yy, sum(w.w * f.cnt) AS m
        FROM feats f JOIN w$p w USING (b) GROUP BY 1, 2),
      mis$r AS MATERIALIZED (
        SELECT doc_id, yy FROM m$r WHERE yy * m <= 0),
      g$r AS (SELECT f.b, sum(f.yy * f.cnt) AS g FROM feats f
        JOIN mis$r x ON f.doc_id = x.doc_id GROUP BY f.b),
      w$r AS MATERIALIZED (
        SELECT w.b, w.w + coalesce(g.g, 0) AS w
        FROM w$p w LEFT JOIN g$r g USING (b))"""
    }.mkString(",\n      ")
    val statRows = (1 to R).map { r =>
      f"""SELECT 'round_$r%02d_misclassified' AS item,
          (SELECT count(*) FROM mis$r) AS metric
        UNION ALL SELECT 'round_$r%02d_weight_l1',
          (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w$r)"""
    }.mkString("\n        UNION ALL ")
    s"""
      WITH docs0 AS (
        SELECT doc_id,
          substr(text, 1, 60) || repeat(' ' ||
            CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 1
              THEN 'markergoodqual' ELSE 'markerbadqual' END, 8) AS text,
          CAST(substr(source, 4) AS INT) % 2 AS y01
        FROM documents),
      toks AS (SELECT doc_id, y01, unnest(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
        FROM docs0),
      feats AS MATERIALIZED (
        SELECT doc_id, y01 * 2 - 1 AS yy,
          CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % $B AS BIGINT)
            AS b,
          count(*) AS cnt
        FROM toks WHERE len(t) > 0 GROUP BY 1, 2, 3
        UNION ALL
        SELECT doc_id, y01 * 2 - 1, $B, 1 FROM docs0),
      w0 AS (SELECT CAST(unnest(generate_series(0, $B)) AS BIGINT) AS b,
        CAST(0 AS BIGINT) AS w),
      $rounds,
      accm AS (SELECT f.doc_id, f.yy, sum(w.w * f.cnt) AS m
        FROM feats f JOIN w$R w USING (b) GROUP BY 1, 2)
      SELECT item, CAST(metric AS BIGINT) AS metric FROM (
        $statRows
        UNION ALL
        SELECT 'train_accuracy_ppm',
          CASE WHEN (SELECT count(*) FROM accm) = 0 THEN 0
            ELSE (SELECT coalesce(sum(CASE WHEN yy * m > 0
              THEN 1 ELSE 0 END), 0) FROM accm) * 1000000
              // (SELECT count(*) FROM accm) END
        UNION ALL
        SELECT 'final_weight_b' || lpad(CAST(b AS VARCHAR), 2, '0'), w
        FROM w$R)
      ORDER BY item"""
  }

  /** Rows-vs-prior verdict row (the qa_xwalk battery family's shared
    * shape): signed diff, fewer/more wording. */
  private def diffRowSql(table: String, item: String, unitFewer: String,
      unitMore: String, n: String, p: String, from: String): String =
    s"""SELECT '$table' AS table_name, '$item' AS qa_item,
          CASE WHEN $n - $p < 0 THEN 'FAIL' ELSE 'PASS' END AS qa_result,
          CASE WHEN $n - $p < 0
            THEN 'There were ' || CAST($n - $p AS VARCHAR)
              || ' $unitFewer in the most recent table ('
              || CAST($n AS VARCHAR) || ' vs. ' || CAST($p AS VARCHAR)
              || ')'
            ELSE 'There were ' || CAST($n - $p AS VARCHAR)
              || ' $unitMore in the most recent table ('
              || CAST($n AS VARCHAR) || ' vs. ' || CAST($p AS VARCHAR)
              || ')' END AS note
        FROM $from"""

  /** The battery oracles (qa_stage.mcaid_claim_*.R and the combined
    * mcaid+mcare family) — every note string rendered exactly as the
    * Scala batteries render the reference's glue templates. */
  private lazy val claimQaOracles: Map[String, String] = Map(
    "q292_claim_icdcm_qa" -> s"""
      WITH $IcdcmRowsCtes,
      prior AS MATERIALIZED (SELECT * FROM norm
        WHERE claim_header_id % 20 <> 0),
      refc AS (SELECT DISTINCT icdcm_version, icdcm_norm FROM prior),
      ${idsVsEligCtes("norm", "id_person")},
      env AS (SELECT
        coalesce(min(CASE WHEN icdcm_version = 9 THEN length(icdcm_norm) END), 0) AS min9,
        coalesce(max(CASE WHEN icdcm_version = 9 THEN length(icdcm_norm) END), 0) AS max9,
        coalesce(min(CASE WHEN icdcm_version = 10 THEN length(icdcm_norm) END), 0) AS min10,
        coalesce(max(CASE WHEN icdcm_version = 10 THEN length(icdcm_norm) END), 0) AS max10,
        coalesce(sum(CASE WHEN icdcm_number NOT IN ('01','02','03','04',
          '05','06','07','08','09','10','11','12','admit')
          THEN 1 ELSE 0 END), 0) AS badnum
        FROM norm),
      dxc AS (SELECT count(*) AS dx FROM
        (SELECT DISTINCT icdcm_version, icdcm_norm FROM norm) a
        WHERE NOT EXISTS (SELECT 1 FROM refc b
          WHERE a.icdcm_version = b.icdcm_version
            AND a.icdcm_norm = b.icdcm_norm)),
      ${yearChangeCtes("norm", "prior", "last_service_date")}
      SELECT * FROM (
        ${idsVsEligRowSql("stage.mcaid_claim_icdcm_header")}
        UNION ALL
        SELECT 'stage.mcaid_claim_icdcm_header', 'Length of ICD-9-CM codes',
          CASE WHEN min9 = 5 AND max9 = 5 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN min9 = 5 AND max9 = 5
            THEN 'The ICD-9-CM codes were all 5 characters in length'
            ELSE 'The ICD-9-CM codes ranged from ' || CAST(min9 AS VARCHAR)
              || ' to ' || CAST(max9 AS VARCHAR)
              || ' characters in length (should be all 5)' END
        FROM env
        UNION ALL
        SELECT 'stage.mcaid_claim_icdcm_header', 'Length of ICD-10-CM codes',
          CASE WHEN min10 = 3 AND max10 = 7 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN min10 = 3 AND max10 = 7
            THEN 'The ICD-10-CM codes ranged from ' || CAST(min10 AS VARCHAR)
              || ' to ' || CAST(max10 AS VARCHAR)
              || ' characters in length, as expected'
            ELSE 'The ICD-10-CM codes ranged from ' || CAST(min10 AS VARCHAR)
              || ' to ' || CAST(max10 AS VARCHAR)
              || ' characters in length (should be 3-7)' END
        FROM env
        UNION ALL
        SELECT 'stage.mcaid_claim_icdcm_header', 'icdcm_number = 01-12 or admit',
          CASE WHEN badnum = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN badnum = 0
            THEN 'All icdcm_number values were 01:12 or admit'
            ELSE 'There were ' || CAST(badnum AS VARCHAR)
              || ' icdcm_number values not 01 through 12 or admit' END
        FROM env
        UNION ALL
        SELECT 'stage.mcaid_claim_icdcm_header',
          'Almost all dx codes join to ICD-CM reference table',
          CASE WHEN dx < 350 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN dx < 350
            THEN 'There were ' || CAST(dx AS VARCHAR)
              || ' dx values not in ref.icdcm_codes (acceptable is < 350)'
            ELSE 'There were ' || CAST(dx AS VARCHAR)
              || ' dx values not in ref.icdcm_codes table (acceptable is < 350)'
            END
        FROM dxc
        UNION ALL
        ${yearChangeRowSql("stage.mcaid_claim_icdcm_header",
          "Change in number of diagnoses", "Change in number of diagnoses",
          "diagnoses", "diagnoses")})
      ORDER BY qa_item""",

    "q293_claim_line_qa" -> s"""
      WITH $LineStageCtes,
      rev AS MATERIALIZED (
        SELECT *, CASE WHEN mbr_h_sid % 11 = 0 THEN NULL
          ELSE lpad(CAST((clm_line * 37 + mbr_h_sid) % 10000 AS VARCHAR),
            4, '0') END AS rev_code
        FROM stage),
      prior AS (SELECT * FROM rev WHERE mbr_h_sid % 20 <> 0),
      ${idsVsEligCtes("rev", "mbr_h_sid")},
      cnts AS (SELECT count(DISTINCT clm_line_tcn) AS nline,
        coalesce(sum(CASE WHEN rev_code IS NOT NULL
          AND (length(rev_code) <> 4
            OR NOT regexp_matches(rev_code, '^[0-9]+$$'))
          THEN 1 ELSE 0 END), 0) AS badrev
        FROM rev),
      rawc AS (SELECT count(DISTINCT 'T' || CAST(l_orderkey AS VARCHAR)
        || lpad(CAST(l_linenumber AS VARCHAR), 3, '0')) AS nraw
        FROM lineitem),
      ${yearChangeCtes("rev", "prior", "from_srvc_date")}
      SELECT * FROM (
        ${idsVsEligRowSql("stage.mcaid_claim_line")}
        UNION ALL
        SELECT 'stage.mcaid_claim_line',
          'Number of distinct claim lines compared to raw data',
          CASE WHEN nline = nraw THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nline = nraw
            THEN 'There were the same number of distinct claim lines as in the raw data'
            ELSE 'stage.mcaid_claim_line had ' || CAST(nline AS VARCHAR)
              || ' distinct claim lines compared to '
              || CAST(nraw AS VARCHAR) || ' in load_raw.mcaid_claim' END
        FROM cnts, rawc
        UNION ALL
        SELECT 'stage.mcaid_claim_line', 'Format of rev_code field',
          CASE WHEN badrev = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN badrev = 0
            THEN 'All rows of rev_code formatted properly'
            ELSE 'rev_code field had some rows with length != 4 or characters'
            END
        FROM cnts
        UNION ALL
        ${yearChangeRowSql("stage.mcaid_claim_line",
          "Change in number of claim lines", "Change in number of claim lines",
          "claim lines", "claim lines")})
      ORDER BY qa_item""",

    "q294_claim_procedure_qa" -> s"""
      WITH $ProcRowsCtes,
      prior AS (SELECT * FROM norm WHERE claim_header_id % 20 <> 0),
      ${idsVsEligCtes("norm", "id_person")},
      fmt AS (SELECT count(DISTINCT pcode) AS unk FROM norm
        WHERE pcode_number NOT LIKE 'M%'
          AND NOT (regexp_matches(pcode, '^[0-9]{5}$$')
            OR regexp_matches(pcode, '^[0-9]{4}F$$')
            OR regexp_matches(pcode, '^[0-9]{4}T$$')
            OR regexp_matches(pcode, '^[0-9]{4}[MU]$$')
            OR regexp_matches(pcode, '^[A-Z][0-9]{4}$$')
            OR regexp_matches(pcode, '^[0-9]{3,4}$$')
            OR length(pcode) = 7)),
      ${yearChangeCtes("norm", "prior", "first_service_date")}
      SELECT * FROM (
        ${idsVsEligRowSql("stage.mcaid_claim_procedure")}
        UNION ALL
        SELECT 'stage.mcaid_claim_procedure', 'Format of procedure codes',
          CASE WHEN unk < 50 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN unk < 50
            THEN 'There were ' || CAST(unk AS VARCHAR)
              || ' distinct procedure codes with an unknown format (<50 ok)'
            ELSE 'There were ' || CAST(unk AS VARCHAR)
              || ' distinct procedure codes with an unknown format' END
        FROM fmt
        UNION ALL
        ${yearChangeRowSql("stage.mcaid_claim_procedure",
          "Change in number of procedures", "Change in number of procedures",
          "procedures", "procedures")})
      ORDER BY qa_item""",

    "q295_claim_pharm_qa" -> s"""
      WITH $PharmRowsCtes,
      pnorm AS MATERIALIZED (SELECT n.*, o_custkey AS id_mcaid
        FROM norm n JOIN orders ON n.claim_header_id = o_orderkey),
      prior AS (SELECT * FROM pnorm WHERE claim_header_id % 20 <> 0),
      ${idsVsEligCtes("pnorm", "id_mcaid")},
      fmt AS (SELECT coalesce(sum(CASE WHEN ndc IS NOT NULL
          AND (length(ndc) <> 11 OR NOT regexp_matches(ndc, '^[0-9]+$$'))
          THEN 1 ELSE 0 END), 0) AS badndc
        FROM pnorm),
      ${yearChangeCtes("pnorm", "prior", "rx_fill_date")}
      SELECT * FROM (
        ${idsVsEligRowSql("stage.mcaid_claim_pharm")}
        UNION ALL
        SELECT 'stage.mcaid_claim_pharm', 'Format of ndc field',
          CASE WHEN badndc = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN badndc = 0
            THEN 'All rows of ndc formatted properly'
            ELSE 'ndc field had some rows with length != 11 or numeric'
            END
        FROM fmt
        UNION ALL
        ${yearChangeRowSql("stage.mcaid_claim_pharm",
          "Change in number of pharmacy claim rows",
          "Change in number of pharmacy claim row",
          "pharmacy claim rows", "pharmacy claim lines")})
      ORDER BY qa_item""",

    "q296_claim_bh_qa" -> s"""
      WITH $BhRowsCtes,
      bhm AS MATERIALIZED (SELECT * FROM bh),
      prior AS (SELECT * FROM bhm WHERE id_apde % 20 <> 0),
      conds AS (SELECT
        (SELECT count(DISTINCT bh_cond) FROM bhm) AS nc,
        (SELECT count(DISTINCT bh_cond) FROM prior) AS nf),
      ${idsVsEligCtes("bhm", "id_apde",
        "SELECT DISTINCT 1000 + c_custkey % 90 AS pid FROM customer",
        "SELECT DISTINCT 1000 + o_custkey % 90 AS pid FROM orders")},
      pop AS (SELECT count(DISTINCT id_apde) AS np FROM (
        SELECT 1000 + o_custkey % 90 AS id_apde,
          CAST(o_orderdate AS DATE) AS f,
          CAST(o_orderdate AS DATE) + 180 AS tt FROM orders)
        WHERE year(f) <= 1996 AND year(tt) >= 1996),
      prev AS (SELECT bh_cond, count(DISTINCT id_apde) AS n FROM bhm
        WHERE year(first_encounter_date) <= 1996
          AND year(last_encounter_date) >= 1996
        GROUP BY 1)
      SELECT * FROM (
        SELECT 'stage.mcaid_claim_bh' AS table_name,
          '# distinct conditions' AS qa_item,
          CASE WHEN nc >= nf THEN 'PASS' ELSE 'FAIL' END AS qa_result,
          CASE WHEN nc >= nf
            THEN 'There were ' || CAST(nc AS VARCHAR)
              || ' conditions analyzed'
            ELSE 'There were ' || CAST(nc AS VARCHAR)
              || ' conditions analyzed, but there are '
              || CAST(nf AS VARCHAR) || ' conditions in the final table'
            END AS note
        FROM conds
        UNION ALL
        ${idsVsEligRowSql("stage.mcaid_claim_bh", quoted = true)}
        UNION ALL
        SELECT 'stage.mcaid_claim_bh',
          '1996 prevalence: ' || bh_cond, 'INFO',
          CAST(n AS VARCHAR) || ' of ' || CAST(np AS VARCHAR)
            || ' members ('
            || CAST(CAST(round(n * 10000.0 / np) AS BIGINT) // 100
              AS VARCHAR)
            || CASE WHEN CAST(round(n * 10000.0 / np) AS BIGINT) % 100 = 0
                THEN ''
              WHEN (CAST(round(n * 10000.0 / np) AS BIGINT) % 100) % 10 = 0
                THEN '.' || CAST((CAST(round(n * 10000.0 / np) AS BIGINT)
                  % 100) // 10 AS VARCHAR)
              ELSE '.' || lpad(CAST(CAST(round(n * 10000.0 / np)
                AS BIGINT) % 100 AS VARCHAR), 2, '0') END
            || '%)'
        FROM prev, pop)
      ORDER BY qa_item""",

    "q297_claim_moud_qa" -> s"""
      WITH $MoudDayCtes,
      mday AS MATERIALIZED (SELECT * FROM fin),
      ${idsVsEligCtes("mday", "id_person",
        "SELECT DISTINCT c_custkey % 80 AS pid FROM customer",
        "SELECT DISTINCT o_custkey % 80 AS pid FROM orders")},
      rxndc AS (SELECT o_custkey % 80 AS id_person, o_orderkey,
        lpad(CAST((o_custkey * 7 + 3) % 500 AS VARCHAR), 11, '0') AS ndc
        FROM orders WHERE o_orderkey % 6 = 0),
      refndc AS (SELECT DISTINCT ndc AS ref_ndc FROM rxndc
        WHERE o_orderkey % 30 <> 0),
      chk AS (SELECT
        (SELECT count(*) FROM rxndc r LEFT JOIN refndc f
          ON r.ndc = f.ref_ndc WHERE f.ref_ndc IS NULL) AS newndc,
        (SELECT coalesce(sum(CASE WHEN unspec_proc_flag = 1
            AND moud_days_supply > 0 THEN 1 ELSE 0 END), 0)
          FROM mday) AS nunspec,
        (SELECT coalesce(sum(CASE WHEN meth_proc_flag + bup_proc_flag
            + nal_proc_flag + unspec_proc_flag > 1 THEN 1 ELSE 0 END), 0)
          FROM mday) AS nmulti,
        (SELECT coalesce(sum(CASE WHEN (meth_proc_flag = 1
            OR bup_proc_flag = 1 OR nal_proc_flag = 1)
            AND supply_new_row IS NULL THEN 1 ELSE 0 END), 0)
          FROM mday) AS nmiss)
      SELECT * FROM (
        ${idsVsEligRowSql("stage.mcaid_claim_moud")}
        UNION ALL
        SELECT 'stage.mcaid_claim_moud',
          CASE WHEN newndc = 0 THEN 'No new NDCs'
            ELSE CAST(newndc AS VARCHAR)
              || ' new NDC(s) missing from ref.ndc_codes' END,
          CASE WHEN newndc = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN newndc = 0 THEN 'All rows of ndc formatted properly'
            ELSE 'ndc field had some rows with length != 11 or numeric'
            END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_moud',
          CASE WHEN nunspec = 0
            THEN 'No rows with unspec_proc_flag AND non-zero MOUD supply'
            ELSE CAST(nunspec AS VARCHAR)
              || ' row(s) with unspec_proc_flag AND non-zero MOUD supply'
            END,
          CASE WHEN nunspec = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nunspec = 0
            THEN 'All rows of ndc formatted properly'
            ELSE 'rows where ndc field not formatted properly' END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_moud',
          CASE WHEN nmulti = 0
            THEN 'No rows with more than one type of MOUD flag'
            ELSE CAST(nmulti AS VARCHAR)
              || ' rows with more than one type of MOUD flag' END,
          CASE WHEN nmulti = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nmulti = 0
            THEN 'All rows of ndc formatted properly'
            ELSE 'ndc field had some rows with more than one type of MOUD flag'
            END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_moud',
          CASE WHEN nmiss = 0
            THEN 'No rows that have missing MOUD days if methadone/bupe/naltrexone'
            ELSE CAST(nmiss AS VARCHAR)
              || ' rows that have missing MOUD days if methadone/bupe/naltrexone'
            END,
          CASE WHEN nmiss = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nmiss = 0 THEN 'All rows have MOUD days'
            ELSE 'rows have missing MOUD days if methadone/bupe/naltrexone'
            END
        FROM chk)
      ORDER BY qa_item""",

    "q298_claim_naloxone_qa" -> s"""
      WITH $NaloxoneRowsCtes,
      ${idsVsEligCtes("nal", "id_mcaid",
        "SELECT DISTINCT c_custkey % 70 AS pid FROM customer",
        "SELECT DISTINCT o_custkey % 70 AS pid FROM orders")}
      ${idsVsEligRowSql("stage.mcaid_claim_naloxone")}
      ORDER BY qa_item""",

    "q299_preg_episode_qa" -> s"""
      WITH RECURSIVE $PregFullPlacedCtes,
      $EpisodeCtes,
      ${pregCorrectionCtes(60)},
      pregf AS MATERIALIZED (
        SELECT *,
          CASE WHEN preg_start_date_correct IS NOT NULL
            THEN 'anchor_procedure' END AS ga_estimation_step,
          CAST(floor((date_diff('day',
            make_date(CAST(1955 + id_person % 25 AS INT),
              CAST(1 + id_person % 12 AS INT),
              CAST(1 + id_person % 28 AS INT)),
            preg_end_date) + 1) / 365.25) AS BIGINT) AS age_at_outcome
        FROM corrected),
      ${idsVsEligCtes("pregf", "id_person",
        "SELECT DISTINCT c_custkey % 60 AS pid FROM customer",
        "SELECT DISTINCT o_custkey % 60 AS pid FROM orders")},
      chk AS (SELECT
        coalesce(sum(CASE WHEN age_at_outcome < 12 THEN 1 ELSE 0 END),
          0) AS minage,
        coalesce(sum(CASE WHEN age_at_outcome > 55 THEN 1 ELSE 0 END),
          0) AS maxage,
        coalesce(sum(CASE WHEN preg_start_date IS NULL
          OR preg_end_date IS NULL THEN 1 ELSE 0 END), 0) AS nulldate,
        coalesce(sum(CASE WHEN valid_ga = 1 AND (ga_days IS NULL
          OR ga_weeks IS NULL OR ga_estimation_step IS NULL)
          THEN 1 ELSE 0 END), 0) AS nullga,
        count(DISTINCT preg_endpoint) AS endtypes,
        coalesce(sum(CASE WHEN preg_endpoint = 'lb' AND valid_ga = 1
          AND lb_type IS NULL THEN 1 ELSE 0 END), 0) AS nulllb
        FROM pregf)
      SELECT * FROM (
        ${idsVsEligRowSql("stage.mcaid_claim_preg_episode")}
        UNION ALL
        SELECT 'stage.mcaid_claim_preg_episode',
          CASE WHEN minage = 0 THEN 'Minimum age >= 12 as expected'
            ELSE 'Minimum age is under 12, lower than expected' END,
          CASE WHEN minage = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN minage = 0 THEN 'Minimum age >= 12 as expected'
            ELSE CAST(minage AS VARCHAR)
              || ' row(s) with age lower than expected minimum (12)' END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_preg_episode',
          CASE WHEN maxage = 0 THEN 'Maximum age <= 55 as expected'
            ELSE 'Maximum age is over 55, higher than expected' END,
          CASE WHEN maxage = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN maxage = 0 THEN 'Maximum age <= 55 as expected'
            ELSE CAST(maxage AS VARCHAR)
              || ' row(s) with age higher than expected maximum (55)' END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_preg_episode',
          CASE WHEN nulldate = 0
            THEN 'All rows with non-null start and end dates'
            ELSE 'Rows with null start or end dates' END,
          CASE WHEN nulldate = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nulldate = 0
            THEN 'All rows with non-null start and end dates'
            ELSE CAST(nulldate AS VARCHAR)
              || ' row(s) with null start or end dates' END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_preg_episode',
          CASE WHEN nullga = 0
            THEN 'All valid GA rows with non-null GA columns'
            ELSE 'Valid GA rows with null GA columns' END,
          CASE WHEN nullga = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nullga = 0
            THEN 'All valid GA rows with non-null GA columns'
            ELSE CAST(nullga AS VARCHAR)
              || ' valid GA row(s) with null GA columns' END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_preg_episode',
          CASE WHEN endtypes = 7
            THEN 'Expected # of distict preg endpoint types (7)'
            ELSE 'Incorrect # of distict preg endpoint types (expecting 7)'
            END,
          CASE WHEN endtypes = 7 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN endtypes = 7
            THEN 'Expected # of distict preg endpoint types (7)'
            ELSE CAST(endtypes AS VARCHAR)
              || ' distinct preg endpoint types (expecting 7)' END
        FROM chk
        UNION ALL
        SELECT 'stage.mcaid_claim_preg_episode',
          CASE WHEN nulllb = 0
            THEN 'All LB records with valid GA with non-null lb_type'
            ELSE 'LB records with valid GA with null lb_type' END,
          CASE WHEN nulllb = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nulllb = 0
            THEN 'All LB records with valid GA with non-null lb_type'
            ELSE CAST(nulllb AS VARCHAR)
              || ' LB row(s) with valid GA with null lb_type' END
        FROM chk)
      ORDER BY qa_item""",

    "q300_housing_qa" -> s"""
      WITH $HousingRowsCtes,
      hsm AS MATERIALIZED (SELECT * FROM hs),
      dupc AS (SELECT count(*) AS dup FROM (
        SELECT id_mcaid, from_date FROM hsm
        GROUP BY 1, 2 HAVING count(*) > 1)),
      mons AS (SELECT year(from_date) * 100 + month(from_date) AS ym,
        count(DISTINCT id_mcaid) AS ids FROM hsm GROUP BY 1),
      seqd AS (SELECT ym, ids, row_number() OVER (ORDER BY ym) AS num
        FROM mons),
      dif AS (SELECT
        CAST(round(abs(b.ids - a.ids) * 1000000.0 / a.ids) AS BIGINT)
          AS v
        FROM seqd a JOIN seqd b ON b.num = a.num + 1),
      trend AS (SELECT
        coalesce(sum(CASE WHEN v >= 50000 THEN 1 ELSE 0 END), 0)
          AS nover,
        max(v) AS maxv FROM dif)
      SELECT * FROM (
        SELECT 'stage.mcaid_housing_status' AS table_name,
          CASE WHEN dup = 0
            THEN 'Confirmed there are zero duplicate IDs per [from_date]'
            ELSE 'There are ' || CAST(dup AS VARCHAR)
              || ' duplicate IDs per [from_date]' END AS qa_item,
          CASE WHEN dup = 0 THEN 'PASS' ELSE 'FAIL' END AS qa_result,
          CASE WHEN dup = 0
            THEN 'There are no duplicate IDs per [from_date]'
            ELSE 'There are duplicate IDs per [from_date]' END AS note
        FROM dupc
        UNION ALL
        SELECT 'stage.mcaid_housing_status',
          CASE WHEN nover = 0
            THEN 'Confirmed there are zero months with >= 5% difference compared to previous months'
            ELSE CAST(nover AS VARCHAR) || ' months with up to '
              || CAST(maxv // 10000 AS VARCHAR)
              || CASE WHEN maxv % 10000 = 0 THEN ''
                ELSE '.' || rtrim(lpad(CAST(maxv % 10000 AS VARCHAR),
                  4, '0'), '0') END
              || '% difference' END,
          CASE WHEN nover = 0 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN nover = 0
            THEN 'Checked for Month-to-Month trends of >= 5% difference'
            ELSE 'There are trends of >= 5% difference' END
        FROM trend)
      ORDER BY qa_item""",

    "q302_mm_elig_demo_qa" -> s"""
      WITH $MmDemoCtes,
      dm AS MATERIALIZED (SELECT * FROM mmdemo),
      st AS (SELECT count(*) AS n, count(DISTINCT id_apde) AS ids
        FROM dm),
      pr AS (SELECT count(*) AS p FROM dm WHERE id_apde % 20 <> 0)
      SELECT * FROM (
        ${diffRowSql("stage.mcaid_mcare_elig_demo",
          "Number new rows compared to most recent run",
          "fewer rows", "more rows", "n", "p", "st, pr")}
        UNION ALL
        SELECT 'stage.mcaid_mcare_elig_demo', 'Number distinct IDs',
          CASE WHEN ids <> n THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN ids <> n
            THEN 'There were ' || CAST(ids AS VARCHAR)
              || ' distinct IDs but ' || CAST(n AS VARCHAR)
              || ' rows overall (should be the same)'
            ELSE 'The number of distinct IDs matched number of overall '
              || 'rows (' || CAST(ids AS VARCHAR) || ')' END
        FROM st)
      ORDER BY qa_item""",

    "q303_mm_elig_timevar_qa" -> s"""
      WITH $MmTimevarCtes,
      tvm AS MATERIALIZED (SELECT * FROM mmtv),
      st AS (SELECT count(*) AS n, count(DISTINCT id_apde) AS ids
        FROM tvm),
      pr AS (SELECT count(*) AS p, count(DISTINCT id_apde) AS pids
        FROM tvm WHERE id_apde % 20 <> 0)
      SELECT * FROM (
        ${diffRowSql("stage.mcaid_mcare_elig_timevar",
          "Number new rows compared to most recent run",
          "fewer rows", "more rows", "n", "p", "st, pr")}
        UNION ALL
        ${diffRowSql("stage.mcaid_mcare_elig_timevar",
          "Number distinct IDs", "fewer IDs", "more IDs", "ids", "pids",
          "st, pr")})
      ORDER BY qa_item""",

    "q304_mcare_timevar_qa" -> s"""
      WITH $McareTimevarCtes,
      mtv AS MATERIALIZED (SELECT * FROM mctv),
      st AS (SELECT count(*) AS n, count(DISTINCT id_mcare) AS ids,
        (SELECT count(*) FROM (SELECT DISTINCT * FROM mtv)) AS dup,
        min(from_date) AS minf, max(to_date) AS maxt FROM mtv),
      pr AS (SELECT count(*) AS p FROM mtv
        WHERE CAST(substring(id_mcare, 2) AS INT) % 20 <> 0),
      mb AS (SELECT count(DISTINCT o_custkey % 80) AS mids FROM orders)
      SELECT * FROM (
        ${diffRowSql("stage.mcare_elig_timevar",
          "Number new rows compared to most recent run",
          "fewer rows", "more rows", "n", "p", "st, pr")}
        UNION ALL
        SELECT 'stage.mcare_elig_timevar', 'Number distinct IDs',
          CASE WHEN ids <> mids THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN ids <> mids
            THEN 'There were ' || CAST(ids AS VARCHAR)
              || ' distinct IDs but ' || CAST(mids AS VARCHAR)
              || ' in the WA MBSF data (should be the same)'
            ELSE 'The number of distinct IDs matched number in the WA '
              || 'MBSF data (' || CAST(ids AS VARCHAR) || ')' END
        FROM st, mb
        UNION ALL
        SELECT 'stage.mcare_elig_timevar', 'Duplicate rows',
          CASE WHEN dup <> n THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN dup <> n
            THEN 'There were ' || CAST(dup AS VARCHAR)
              || ' distinct rows but ' || CAST(n AS VARCHAR)
              || ' rows overall (should be the same)'
            ELSE 'The number of distinct rows (excl. ref_geo vars) '
              || 'matched number total rows (' || CAST(n AS VARCHAR)
              || ')' END
        FROM st
        UNION ALL
        SELECT 'stage.mcare_elig_timevar', 'Date range',
          CASE WHEN minf < DATE '1992-01-01' OR maxt > DATE '1998-12-31'
            THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN minf < DATE '1992-01-01' OR maxt > DATE '1998-12-31'
            THEN 'Some from/to dates fell outside the CLNDR_YEAR_MNTH '
              || 'range (min: "' || CAST(minf AS VARCHAR)
              || '", max: "' || CAST(maxt AS VARCHAR) || '")'
            ELSE 'All from/to dates fell within the CLNDR_YEAR_MNTH '
              || 'range (min: "1992-01-01", max: "1998-12-31")' END
        FROM st)
      ORDER BY qa_item""",

    "q305_xwalk_qa" -> {
      val pairRows = Seq("id_mcaid", "id_mcare", "phousing_id",
        "KCMASTER_ID").map { c =>
        s"""
        UNION ALL
        SELECT 'claims.stage_xwalk_apde_mcaid_mcare_pha',
          'Unique pairing with id_apde - $c',
          CASE WHEN v_$c = p_$c THEN 'PASS' ELSE 'WARNING' END,
          CASE WHEN v_$c = p_$c
            THEN 'There were ' || CAST(v_$c AS VARCHAR)
              || ' $c values and ' || CAST(p_$c AS VARCHAR)
              || ' $c--id_apde pairs'
            ELSE 'There were ' || CAST(v_$c AS VARCHAR)
              || ' $c values but ' || CAST(p_$c AS VARCHAR)
              || ' $c--id_apde pairs' END
        FROM pairs"""
      }.mkString
      val pairAggs = Seq("id_mcaid", "id_mcare", "phousing_id",
        "KCMASTER_ID").map { c =>
        s"""count(DISTINCT $c) AS v_$c,
          count(DISTINCT CASE WHEN $c IS NOT NULL
            THEN ROW($c, id_apde) END) AS p_$c"""
      }.mkString(",\n          ")
      s"""
      WITH $XwalkHistCte,
      histp AS (SELECT * FROM hist WHERE day(touched) <> 1),
      ${xwalkChainCtes("hist", "")},
      ${xwalkChainCtes("histp", "p")},
      xw AS MATERIALIZED (SELECT * FROM j2),
      st AS (SELECT count(*) AS n,
        count(DISTINCT KCMASTER_ID) AS kcm,
        count(DISTINCT id_apde) AS apde,
        count(DISTINCT id_mcaid) AS mcaid,
        count(DISTINCT phousing_id) AS pha FROM xw),
      pr AS (SELECT count(*) AS pn,
        count(DISTINCT KCMASTER_ID) AS pkcm,
        count(DISTINCT id_apde) AS papde FROM j2p),
      idh2 AS (SELECT
        count(DISTINCT CASE WHEN src = 'MEDICAID'
          AND regexp_matches(mbr, '^[0-9]+$$') THEN mbr END) AS imcaid,
        count(DISTINCT CASE WHEN length(ph) = 64 THEN ph END) AS ipha
        FROM cur),
      pairs AS (SELECT
          $pairAggs
        FROM xw)
      SELECT * FROM (
        ${diffRowSql("claims.stage_xwalk_apde_mcaid_mcare_pha",
          "Number new rows compared to most recent run",
          "fewer rows", "more rows", "n", "pn", "st, pr")}
        UNION ALL
        SELECT 'claims.stage_xwalk_apde_mcaid_mcare_pha',
          'Number distinct IDs - KCMASTER_ID',
          CASE WHEN kcm < pkcm THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN kcm < pkcm
            THEN 'There were ' || CAST(kcm AS VARCHAR)
              || ' distinct KCMASTER_IDs but ' || CAST(pkcm AS VARCHAR)
              || ' in the most recent [claims].[metadata_qa_xwalk_values] (shoudl be >=)'
            ELSE 'The number of distinct KCMASTER_IDs ('
              || CAST(kcm AS VARCHAR)
              || ') is >= the most recent number in [claims].[metadata_qa_xwalk_values] ('
              || CAST(pkcm AS VARCHAR) || ')' END
        FROM st, pr
        UNION ALL
        SELECT 'claims.stage_xwalk_apde_mcaid_mcare_pha',
          'Number distinct IDs - ID_APDE',
          CASE WHEN apde < papde THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN apde < papde
            THEN 'There were ' || CAST(apde AS VARCHAR)
              || ' distinct ID_APDEs but ' || CAST(papde AS VARCHAR)
              || ' in the most recent [claims].[metadata_qa_xwalk_values] (shoudl be >=)'
            ELSE 'The number of distinct ID_APDEs ('
              || CAST(apde AS VARCHAR)
              || ') is >= the most recent number in [claims].[metadata_qa_xwalk_values] ('
              || CAST(papde AS VARCHAR) || ')' END
        FROM st, pr
        UNION ALL
        SELECT 'claims.stage_xwalk_apde_mcaid_mcare_pha',
          'Number distinct IDs - Medicaid',
          CASE WHEN mcaid <> imcaid THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN mcaid <> imcaid
            THEN 'There were ' || CAST(mcaid AS VARCHAR)
              || ' distinct MCAID IDs but ' || CAST(imcaid AS VARCHAR)
              || ' in the most recent IDH table ([IDMatch].[IM_HISTORY_TABLE]) (they should be equal)'
            ELSE 'The number of distinct MCAID IDs ('
              || CAST(mcaid AS VARCHAR)
              || ') is equal to the number in the IDH ([IDMatch].[IM_HISTORY_TABLE]) ('
              || CAST(imcaid AS VARCHAR) || ')' END
        FROM st, idh2
        UNION ALL
        SELECT 'claims.stage_xwalk_apde_mcaid_mcare_pha',
          'Number distinct IDs - phousing_id',
          CASE WHEN pha <> ipha THEN 'FAIL' ELSE 'PASS' END,
          CASE WHEN pha <> ipha
            THEN 'There were ' || CAST(pha AS VARCHAR)
              || ' distinct PHOUSING_IDs but ' || CAST(ipha AS VARCHAR)
              || ' in the most recent [IDMatch].[IM_HISTORY_TABLE] in the IDH ('
              || CAST(ipha AS VARCHAR) || ')'
            ELSE 'The number of distinct PHOUSING_IDs ('
              || CAST(pha AS VARCHAR)
              || ') is equal to the number in [IDMatch].[IM_HISTORY_TABLE] in the IDH'
            END
        FROM st, idh2$pairRows)
      ORDER BY qa_item"""
    },

    "q306_mm_header_dup_qa" -> s"""
      WITH $MmHeaderCtes,
      pcaid AS (SELECT o_custkey % 70 AS id_mcaid,
        date_trunc('month', d)::DATE AS fsd
        FROM orders_d WHERE ok % 2 = 0 AND ok % 5 = 0),
      pcare AS (SELECT 'C' || CAST(o_custkey % 80 AS VARCHAR) AS id_mcare,
        date_trunc('month', d)::DATE AS fsd
        FROM orders_d WHERE ok % 2 = 1 AND ok % 5 = 0),
      u AS (SELECT DISTINCT * FROM (
        SELECT x.id_apde, p.fsd, 'mcaid' AS source_desc
        FROM pcaid p LEFT JOIN xw1 x ON p.id_mcaid = x.id_mcaid
        UNION ALL
        SELECT x.id_apde, p.fsd, 'mcare'
        FROM pcare p LEFT JOIN xw2 x ON p.id_mcare = x.id_mcare))
      SELECT id_apde, fsd AS first_service_date,
        count(*) AS row_count
      FROM u GROUP BY 1, 2 HAVING count(*) > 1
      ORDER BY id_apde NULLS FIRST, first_service_date
      LIMIT 100""",

    "q307_mm_ccw_qa" -> s"""
      WITH $MmHeaderCtes,
      hm AS MATERIALIZED (SELECT * FROM mmhdr),
      xwapde AS (SELECT DISTINCT id_apde AS x_apde FROM xw2),
      c1 AS (SELECT count(DISTINCT h.id_apde) AS v FROM hm h
        LEFT JOIN xwapde x ON h.id_apde = x.x_apde
        WHERE h.source_desc = 'mcare' AND x.x_apde IS NULL),
      c2 AS (SELECT count(*) AS v FROM hm WHERE id_apde IS NULL),
      cond AS (SELECT count(*) AS v
        FROM (${baseOracleSql("q61_condition_loop")})),
      tvx AS (SELECT o_custkey % 60 AS id_apde,
          date_trunc('month', CAST(o_orderdate AS DATE))::DATE
            AS from_date,
          last_day(CAST(o_orderdate AS DATE)) AS to_date,
          1 AS mcare,
          CASE WHEN k % 7 = 0 THEN NULL
            ELSE CASE WHEN k % 3 <> 0 THEN 1 ELSE 0 END END AS part_a,
          CASE WHEN k % 11 = 0 THEN NULL
            ELSE CASE WHEN k % 4 <> 0 THEN 1 ELSE 0 END END AS part_b,
          CASE WHEN k % 13 = 0 THEN NULL
            ELSE CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END END AS part_c,
          CAST(o_custkey % 2 AS INT) AS geo_kc
        FROM (SELECT *, o_custkey % 60
            + year(CAST(o_orderdate AS DATE)) AS k FROM orders)),
      flags AS (SELECT id_apde,
          max(geo_kc) AS geo_kc_max, min(mcare) AS mcare_min,
          min(coalesce(part_a, 0)) AS part_a_min,
          min(coalesce(part_b, 0)) AS part_b_min,
          max(coalesce(part_c, 0)) AS part_c_max
        FROM tvx
        WHERE from_date <= DATE '1996-12-31'
          AND to_date >= DATE '1996-01-01'
        GROUP BY id_apde),
      d1 AS (SELECT count(DISTINCT CASE WHEN geo_kc_max = 1
          AND mcare_min = 1 AND part_a_min = 1 AND part_b_min = 1
          AND part_c_max = 0 THEN id_apde END) AS kc,
        count(DISTINCT CASE WHEN mcare_min = 1
          AND (part_a_min = 1 OR part_b_min = 1) AND part_c_max = 0
          THEN id_apde END) AS ab
        FROM flags)
      SELECT * FROM (
        SELECT 'distinct_ccw_conditions' AS qa_item, v AS qa_value
          FROM cond
        UNION ALL SELECT 'ffs_ab_1996', ab FROM d1
        UNION ALL SELECT 'ffs_full_dual_kc_1996', kc FROM d1
        UNION ALL SELECT 'mcare_claims_without_mcare_xwalk', v FROM c1
        UNION ALL SELECT 'null_id_apde_rows', v FROM c2)
      ORDER BY qa_item""")

  private val dateDimOracleBody: String = """
      WITH yr AS (
        SELECT min(year(o_orderdate::DATE)) AS y0,
          max(year(o_orderdate::DATE)) AS y1 FROM orders),
      days AS (
        SELECT unnest(generate_series(make_date(y0, 1, 1),
          make_date(y1 + 2, 1, 1) - INTERVAL 1 DAY,
          INTERVAL 1 DAY))::DATE AS d
        FROM yr),
      base AS (
        SELECT d AS "date",
          year(d) * 10000 + month(d) * 100 + day(d) AS year_month_day,
          CAST(day(d) AS INT) AS day,
          dayname(d) AS week_day_name,
          CASE WHEN dayofweek(d) + 1 IN (1, 7) THEN 'Weekend'
            ELSE 'Weekday' END AS is_weekend,
          row_number() OVER (PARTITION BY date_trunc('month', d),
            dayofweek(d) ORDER BY d) AS dow_in_month,
          row_number() OVER (PARTITION BY date_trunc('month', d),
            dayname(d) ORDER BY d DESC) AS last_dow_in_month,
          CAST(dayofyear(d) AS INT) AS day_of_year,
          CAST(floor((dayofyear(d)
            + (dayofweek(date_trunc('year', d)) + 1) - 2) / 7) + 1
            AS INT) AS week_of_year,
          CAST(month(d) AS INT) AS month,
          monthname(d) AS month_name,
          year(d) * 100 + month(d) AS year_month,
          date_trunc('month', d)::DATE AS first_day_month,
          max(d) OVER (PARTITION BY year(d), month(d))
            AS last_day_month,
          CAST(quarter(d) AS INT) AS quarter,
          CASE quarter(d) WHEN 1 THEN 'First' WHEN 2 THEN 'Second'
            WHEN 3 THEN 'Third' ELSE 'Fourth' END AS quarter_name,
          year(d) * 100 + quarter(d) AS year_quarter,
          min(d) OVER (PARTITION BY year(d), quarter(d))
            AS first_day_quarter,
          max(d) OVER (PARTITION BY year(d), quarter(d))
            AS last_day_quarter,
          CAST(year(d) AS INT) AS year,
          date_trunc('year', d)::DATE AS first_day_year,
          max(d) OVER (PARTITION BY year(d)) AS last_day_year
        FROM days),
      wom AS (
        SELECT *, dense_rank() OVER (PARTITION BY year, month
          ORDER BY week_of_year) AS week_of_month
        FROM base),
      suff AS (
        SELECT *, CASE WHEN day // 10 = 1 THEN 'th'
          WHEN day % 10 = 1 THEN 'st' WHEN day % 10 = 2 THEN 'nd'
          WHEN day % 10 = 3 THEN 'rd' ELSE 'th' END AS day_suffix
        FROM wom),
      hol AS (
        SELECT *,
          CASE WHEN "date" = first_day_year THEN 'New Year''s Day'
            WHEN dow_in_month = 3 AND month_name = 'January'
              AND week_day_name = 'Monday'
              THEN 'Martin Luther King Day'
            WHEN dow_in_month = 3 AND month_name = 'February'
              AND week_day_name = 'Monday' THEN 'President''s Day'
            WHEN last_dow_in_month = 1 AND month_name = 'May'
              AND week_day_name = 'Monday' THEN 'Memorial Day'
            WHEN month_name = 'July' AND day = 4
              THEN 'Independence Day'
            WHEN dow_in_month = 1 AND month_name = 'September'
              AND week_day_name = 'Monday' THEN 'Labor Day'
            WHEN dow_in_month = 2 AND month_name = 'October'
              AND week_day_name = 'Monday' THEN 'Columbus Day'
            WHEN month_name = 'November' AND day = 11
              THEN 'Veterans'' Day'
            WHEN dow_in_month = 4 AND month_name = 'November'
              AND week_day_name = 'Thursday' THEN 'Thanksgiving Day'
            WHEN month_name = 'December' AND day = 25
              THEN 'Christmas Day' END AS holiday_name
        FROM suff),
      dim AS (
        SELECT "date", year_month_day, day, day_suffix, week_day_name,
          is_weekend,
          CASE WHEN holiday_name IS NOT NULL THEN 'Holiday'
            ELSE 'Non-Holiday' END AS is_holiday,
          holiday_name, CAST(dow_in_month AS INT) AS dow_in_month,
          day_of_year, CAST(week_of_month AS INT) AS week_of_month,
          week_of_year, month, month_name, year_month, first_day_month,
          last_day_month, quarter, quarter_name, year_quarter,
          first_day_quarter, last_day_quarter, year, first_day_year,
          last_day_year
        FROM hol)"""

  /** The q152 apcd_elig_demo oracle body factored as a CTE chain
    * ending in `demo` so the q318 line-level battery can audit the
    * exact frame the catalog pins (the q246/apcdHeaderOracle
    * discipline). Fixture CTEs (mm = member-month, el0 = eligibility)
    * are shared by the battery's re-derivation arms. */
  private val ApcdDemoCtes: String = """mm0 AS (
        SELECT c_custkey AS id, m,
          (DATE '2020-01-01' + INTERVAL (m - 1) MONTH)::DATE AS ms,
          (DATE '1950-01-01' +
            INTERVAL (CAST(c_custkey % 600 AS INT)) MONTH)::DATE AS dob_true
        FROM customer CROSS JOIN (SELECT unnest(range(1, 15)) AS m) g
        WHERE CASE WHEN c_custkey % 11 = 0 THEN m = 6
          ELSE (c_custkey + m) % 5 <> 0 END),
      mm AS (
        SELECT id AS id_apcd, year(ms) * 100 + month(ms) AS ym,
          CASE WHEN id % 13 = 0 THEN 90
            ELSE CAST(floor(date_diff('month', dob_true, ms) / 12.0) AS INT)
            END AS age,
          CASE WHEN (id + m) % 17 = 0 THEN 'U'
            WHEN id % 4 = 0 THEN 'F'
            WHEN id % 4 = 1 THEN 'M'
            WHEN id % 4 = 2 THEN
              CASE WHEN m % 2 = 0 THEN 'F' ELSE 'M' END
            END AS gender_code
        FROM mm0),
      step1 AS (
        SELECT id_apcd, ym, age, gender_code,
          CASE WHEN age - lag(age) OVER w = 1
              AND ym - lag(ym) OVER w IN (1, 89)
            THEN CAST(strptime(CAST(ym - lag((age + 1) * 100) OVER w
              AS VARCHAR) || '01', '%Y%m%d') AS DATE) END AS dob_1,
          CASE WHEN lead(age) OVER w IS NULL
            THEN (CAST(strptime(CAST(ym - (age + 1) * 100 AS VARCHAR)
              || '01', '%Y%m%d') AS DATE) + INTERVAL 1 MONTH)::DATE
            END AS dob_2,
          CASE WHEN gender_code = 'F' THEN 1 WHEN gender_code = 'U'
            THEN NULL ELSE 0 END AS female,
          CASE WHEN gender_code = 'M' THEN 1 WHEN gender_code = 'U'
            THEN NULL ELSE 0 END AS male,
          CASE WHEN gender_code = 'U' THEN 1 ELSE 0 END AS gender_unk,
          last_value(gender_code) OVER (PARTITION BY id_apcd
            ORDER BY CASE WHEN gender_code = 'U' OR gender_code IS NULL
                THEN NULL ELSE ym END ASC NULLS FIRST,
              gender_code ASC NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS gr
        FROM mm
        WINDOW w AS (PARTITION BY id_apcd ORDER BY ym)),
      mmagg AS (
        SELECT id_apcd, coalesce(max(dob_1), max(dob_2)) AS dob,
          max(female) AS female, max(male) AS male,
          min(gender_unk) AS gender_unk,
          CASE WHEN min(age) = 90 THEN 1 ELSE 0 END AS ninety_only,
          max(gr) AS gr
        FROM step1 GROUP BY id_apcd),
      mmfin AS (
        SELECT id_apcd, dob, ninety_only,
          CASE WHEN female = 1 AND male = 1 THEN 'Multiple'
            WHEN female = 1 THEN 'Female' WHEN male = 1 THEN 'Male'
            WHEN gender_unk = 1 THEN 'Unknown' END AS gender_me,
          CASE WHEN gr = 'F' THEN 'Female' WHEN gr = 'M' THEN 'Male'
            WHEN gr = 'U' THEN 'Unknown' END AS gender_recent,
          female AS gender_female, male AS gender_male
        FROM mmagg),
      ethmap(ethnicity_id, race_id) AS (VALUES
        (1,1),(2,2),(3,3),(4,4),(5,5),(6,8),(7,8),(8,2),(9,5)),
      el0 AS (
        SELECT o_custkey AS id_apcd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 300 AS INT)
            AS end_dt,
          CAST(CASE WHEN o_custkey % 31 = 0 THEN 3
            ELSE o_orderkey % 9 END AS INT) AS race_id1_raw,
          CAST(CASE WHEN o_custkey % 31 = 0 THEN 3
            ELSE (o_orderkey // 7) % 7 END AS INT) AS race_id2_raw,
          CAST(CASE WHEN o_custkey % 31 = 0 THEN 1
            ELSE o_orderkey % 4 END AS INT) AS hispanic_id,
          CAST(CASE WHEN o_custkey % 31 = 0 THEN 23
            ELSE o_orderkey % 12 END AS INT) AS ethnicity_id1,
          CAST(CASE WHEN o_custkey % 31 = 0 THEN 24
            ELSE (o_orderkey // 5) % 12 END AS INT) AS ethnicity_id2
        FROM orders),
      el1 AS (
        SELECT e.id_apcd, e.end_dt,
          CASE WHEN race_id1_raw IN (1,2,3,4,5) THEN race_id1_raw
            ELSE 0 END AS r1,
          CASE WHEN race_id2_raw IN (1,2,3,4,5) THEN race_id2_raw
            ELSE 0 END AS r2,
          CASE WHEN hispanic_id IN (1,2) THEN hispanic_id ELSE 0 END
            AS latino_id,
          coalesce(m1.race_id, 0) AS r3, coalesce(m2.race_id, 0) AS r4
        FROM el0 e
        LEFT JOIN ethmap m1 ON e.ethnicity_id1 = m1.ethnicity_id
        LEFT JOIN ethmap m2 ON e.ethnicity_id2 = m2.ethnicity_id),
      flags AS (
        SELECT DISTINCT id_apcd, end_dt,
          CAST(r1 = 1 OR r2 = 1 OR r3 = 1 OR r4 = 1 AS INT) AS race_aian,
          CAST(r1 = 2 OR r2 = 2 OR r3 = 2 OR r4 = 2 AS INT) AS race_asian,
          CAST(r1 = 3 OR r2 = 3 OR r3 = 3 OR r4 = 3 AS INT) AS race_black,
          CAST(latino_id = 1 OR r3 = 8 OR r4 = 8 AS INT) AS race_latino,
          CAST(r1 = 4 OR r2 = 4 OR r3 = 4 OR r4 = 4 AS INT) AS race_nhpi,
          CAST(r1 = 5 OR r2 = 5 OR r3 = 5 OR r4 = 5 AS INT) AS race_white,
          CAST(r1 = 0 AND r2 = 0 AND (latino_id = 0 OR latino_id = 2)
            AND r3 = 0 AND r4 = 0 AS INT) AS race_unknown
        FROM el1),
      named AS (
        SELECT *,
          CASE WHEN race_aian + race_asian + race_black + race_latino
              + race_nhpi + race_white > 1 THEN 'z_Multiple'
            WHEN race_aian = 1 AND race_asian = 0 AND race_black = 0
              AND race_latino = 0 AND race_nhpi = 0 AND race_white = 0
              THEN 'AI/AN'
            WHEN race_asian = 1 AND race_aian = 0 AND race_black = 0
              AND race_latino = 0 AND race_nhpi = 0 AND race_white = 0
              THEN 'Asian'
            WHEN race_black = 1 AND race_aian = 0 AND race_asian = 0
              AND race_latino = 0 AND race_nhpi = 0 AND race_white = 0
              THEN 'Black'
            WHEN race_latino = 1 AND race_aian = 0 AND race_asian = 0
              AND race_black = 0 AND race_nhpi = 0 AND race_white = 0
              THEN 'Latino'
            WHEN race_nhpi = 1 AND race_aian = 0 AND race_asian = 0
              AND race_black = 0 AND race_latino = 0 AND race_white = 0
              THEN 'NH/PI'
            WHEN race_white = 1 AND race_aian = 0 AND race_asian = 0
              AND race_black = 0 AND race_latino = 0 AND race_nhpi = 0
              THEN 'White'
            WHEN race_unknown = 1 THEN 'Unknown' END AS race_eth_me,
          CASE WHEN race_aian + race_asian + race_black + race_nhpi
              + race_white > 1 THEN 'z_Multiple'
            WHEN race_aian = 1 AND race_asian = 0 AND race_black = 0
              AND race_nhpi = 0 AND race_white = 0 THEN 'AI/AN'
            WHEN race_asian = 1 AND race_aian = 0 AND race_black = 0
              AND race_nhpi = 0 AND race_white = 0 THEN 'Asian'
            WHEN race_black = 1 AND race_aian = 0 AND race_asian = 0
              AND race_nhpi = 0 AND race_white = 0 THEN 'Black'
            WHEN race_nhpi = 1 AND race_aian = 0 AND race_asian = 0
              AND race_black = 0 AND race_white = 0 THEN 'NH/PI'
            WHEN race_white = 1 AND race_aian = 0 AND race_asian = 0
              AND race_black = 0 AND race_nhpi = 0 THEN 'White'
            WHEN race_unknown = 1 THEN 'Unknown'
            ELSE 'Unknown' END AS race_me
        FROM flags),
      recent AS (
        SELECT *,
          last_value(race_eth_me) OVER (PARTITION BY id_apcd
            ORDER BY CASE WHEN race_unknown = 1 THEN NULL ELSE end_dt END
              ASC NULLS FIRST, race_eth_me ASC NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS race_eth_recent_raw,
          last_value(race_me) OVER (PARTITION BY id_apcd
            ORDER BY CASE WHEN race_unknown = 1 THEN NULL ELSE end_dt END
              ASC NULLS FIRST, race_me ASC NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS race_recent_raw
        FROM named),
      elfin AS (
        SELECT id_apcd,
          CASE WHEN max(race_aian) + max(race_asian) + max(race_black)
              + max(race_latino) + max(race_nhpi) + max(race_white) > 1
              THEN 'Multiple'
            ELSE max(CASE WHEN race_eth_me = 'Unknown' THEN NULL
              ELSE race_eth_me END) END AS race_eth_me,
          CASE WHEN max(race_aian) + max(race_asian) + max(race_black)
              + max(race_nhpi) + max(race_white) > 1 THEN 'Multiple'
            ELSE max(CASE WHEN race_me = 'Unknown' THEN NULL
              ELSE race_me END) END AS race_me,
          CASE WHEN max(race_eth_recent_raw) = 'z_Multiple'
            THEN 'Multiple' ELSE max(race_eth_recent_raw) END
            AS race_eth_recent,
          CASE WHEN max(race_recent_raw) = 'z_Multiple' THEN 'Multiple'
            ELSE max(race_recent_raw) END AS race_recent,
          max(race_aian) AS race_aian, max(race_asian) AS race_asian,
          max(race_black) AS race_black, max(race_latino) AS race_latino,
          max(race_nhpi) AS race_nhpi, max(race_white) AS race_white,
          min(race_unknown) AS race_unknown
        FROM recent GROUP BY id_apcd),
      demo AS (
      SELECT a.id_apcd, a.dob, a.ninety_only, a.gender_me,
        a.gender_recent, a.gender_female, a.gender_male, b.race_eth_me,
        b.race_me, b.race_eth_recent, b.race_recent, b.race_aian,
        b.race_asian, b.race_black, b.race_latino, b.race_nhpi,
        b.race_white, b.race_unknown
      FROM mmfin a LEFT JOIN elfin b ON a.id_apcd = b.id_apcd)"""

  /** The q166 apcd_elig_plr oracle body factored as a CTE chain
    * ending in `plr` (window = calendar 1995) so the q319 line-level
    * battery can audit the exact frame the catalog pins. The chain's
    * tv/ov (timevar rows), dm (demo rows) and zg CTEs are shared by
    * the battery's re-derivation arms. */
  private val ApcdPlrCtes: String = """tv AS (
        SELECT o_custkey % 200 AS id_apcd,
          CAST(o_orderdate AS DATE) AS from_date,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 400 AS INT)
            AS to_date,
          o_orderkey % 4 AS med_covgrp, o_orderkey % 3 AS pharm_covgrp,
          CASE WHEN o_orderkey % 5 < 2 THEN 1 ELSE 0 END AS med_medicaid,
          CASE WHEN o_orderkey % 7 < 2 THEN 1 ELSE 0 END AS med_medicare,
          CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END
            AS med_commercial,
          CASE WHEN o_orderkey % 6 < 2 THEN 1 ELSE 0 END
            AS pharm_medicaid,
          CASE WHEN o_orderkey % 11 < 3 THEN 1 ELSE 0 END
            AS pharm_medicare,
          CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END
            AS pharm_commercial,
          CASE WHEN o_orderkey % 7 <> 6 THEN '98' ||
            lpad(CAST(o_custkey % 30 AS VARCHAR), 3, '0') END AS geo_zip,
          CASE WHEN o_orderkey % 7 <> 6 AND o_custkey % 30 < 27
            THEN 'ACH-' || CAST((o_custkey % 30) % 5 AS VARCHAR) END
            AS geo_ach,
          CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END AS dual,
          CAST(o_orderkey % 4 AS INT) AS bsp_group_cid,
          CASE WHEN o_orderkey % 7 <> 6 AND o_custkey % 30 < 27 THEN 1
            ELSE 0 END AS geo_wa,
          CASE WHEN o_orderkey % 7 <> 6 THEN
            (CASE WHEN o_custkey % 30 < 8 THEN 'King'
              WHEN o_custkey % 30 < 27 THEN 'County-' ||
                CAST((o_custkey % 30) % 6 AS VARCHAR) END) END
            AS geo_county,
          CASE WHEN o_orderkey % 8 < 2 THEN 1 ELSE 0 END
            AS dental_medicaid,
          CASE WHEN o_orderkey % 9 = 0 THEN 1 ELSE 0 END
            AS dental_medicare,
          CASE WHEN o_orderkey % 5 = 2 THEN 1 ELSE 0 END
            AS dental_commercial
        FROM orders),
      ov AS (SELECT * FROM tv
        WHERE from_date <= DATE '1995-12-31'
          AND to_date >= DATE '1995-01-01'),
      cov1 AS (
        SELECT DISTINCT id_apcd, from_date, to_date,
          CASE WHEN med_covgrp <> 0 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS med_total_covd,
          CASE WHEN med_medicaid = 1 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS med_medicaid_covd,
          CASE WHEN med_medicare = 1 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS med_medicare_covd,
          CASE WHEN med_commercial = 1 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS med_commercial_covd,
          CASE WHEN pharm_covgrp <> 0 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS pharm_total_covd,
          CASE WHEN pharm_medicaid = 1 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS pharm_medicaid_covd,
          CASE WHEN pharm_medicare = 1 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS pharm_medicare_covd,
          CASE WHEN pharm_commercial = 1 THEN date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS pharm_commercial_covd,
          CASE WHEN (med_medicaid = 1 OR pharm_medicaid = 1)
            AND (med_medicare = 1 OR pharm_medicare = 1)
            THEN date_diff('day',
              greatest(from_date, DATE '1995-01-01'),
              least(to_date, DATE '1995-12-31')) + 1 ELSE 0 END
            AS dual_covd
        FROM ov),
      cov2 AS (
        SELECT id_apcd AS id,
          CAST(sum(med_total_covd) AS BIGINT) AS med_total_covd,
          CAST(sum(dual_covd) AS BIGINT) AS dual_covd,
          CAST(sum(med_medicaid_covd) AS BIGINT) AS med_medicaid_covd,
          CAST(sum(med_medicare_covd) AS BIGINT) AS med_medicare_covd,
          CAST(sum(med_commercial_covd) AS BIGINT)
            AS med_commercial_covd,
          CAST(sum(pharm_total_covd) AS BIGINT) AS pharm_total_covd,
          CAST(sum(pharm_medicaid_covd) AS BIGINT)
            AS pharm_medicaid_covd,
          CAST(sum(pharm_medicare_covd) AS BIGINT)
            AS pharm_medicare_covd,
          CAST(sum(pharm_commercial_covd) AS BIGINT)
            AS pharm_commercial_covd
        FROM cov1 GROUP BY id_apcd),
      covp AS (
        SELECT *,
          round(med_total_covd * 1.0 / 365 * 100.0, 1)
            AS med_total_covper,
          round(dual_covd * 1.0 / 365 * 100.0, 1) AS dual_covper,
          CASE WHEN dual_covd > 0 THEN 1 ELSE 0 END AS dual_flag,
          round(med_medicaid_covd * 1.0 / 365 * 100.0, 1)
            AS med_medicaid_covper,
          round(med_medicare_covd * 1.0 / 365 * 100.0, 1)
            AS med_medicare_covper,
          round(med_commercial_covd * 1.0 / 365 * 100.0, 1)
            AS med_commercial_covper,
          round(pharm_total_covd * 1.0 / 365 * 100.0, 1)
            AS pharm_total_covper,
          round(pharm_medicaid_covd * 1.0 / 365 * 100.0, 1)
            AS pharm_medicaid_covper,
          round(pharm_medicare_covd * 1.0 / 365 * 100.0, 1)
            AS pharm_medicare_covper,
          round(pharm_commercial_covd * 1.0 / 365 * 100.0, 1)
            AS pharm_commercial_covper
        FROM cov2),
      zipdur AS (
        SELECT id_apcd AS id, geo_zip,
          sum(date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1) + 1 AS zip_dur
        FROM ov GROUP BY id_apcd, geo_zip),
      zippick AS (
        SELECT id, geo_zip FROM (
          SELECT id, geo_zip, row_number() OVER (PARTITION BY id
            ORDER BY zip_dur DESC, geo_zip ASC NULLS FIRST) AS zipr
          FROM zipdur) WHERE zipr = 1),
      county AS (
        SELECT DISTINCT zip_code, zip_group_desc AS geo_county FROM (
          SELECT '98' || lpad(CAST(i AS VARCHAR), 3, '0') AS zip_code,
            'County-' || CAST(i % 6 AS VARCHAR) AS zip_group_desc
          FROM range(0, 24) t(i)
          UNION ALL SELECT '98999', 'County-X')),
      achref AS (
        SELECT DISTINCT zip_code, zip_group_desc AS geo_ach FROM (
          SELECT '98' || lpad(CAST(i AS VARCHAR), 3, '0') AS zip_code,
            'ACH-' || CAST(i % 5 AS VARCHAR) AS zip_group_desc
          FROM range(0, 27) t(i))),
      geo AS (
        SELECT z.id, z.geo_zip, c.geo_county, a.geo_ach
        FROM zippick z
        LEFT JOIN county c ON z.geo_zip = c.zip_code
        LEFT JOIN achref a ON z.geo_zip = a.zip_code),
      achd AS (
        SELECT g.id, CAST(sum(date_diff('day',
            greatest(o.from_date, DATE '1995-01-01'),
            least(o.to_date, DATE '1995-12-31')) + 1) AS BIGINT)
          AS geo_ach_covd
        FROM geo g JOIN ov o
          ON g.id = o.id_apcd AND g.geo_ach = o.geo_ach
        GROUP BY g.id),
      dm0 AS (
        SELECT c_custkey % 200 AS id_apcd, min(c_custkey) AS ck
        FROM customer GROUP BY c_custkey % 200),
      dm AS (
        SELECT id_apcd,
          DATE '1900-01-01' + CAST(ck * 97 % 35500 AS INT) AS dob,
          CASE WHEN ck % 40 = 0 THEN 1 ELSE 0 END AS ninety_only,
          CASE WHEN ck % 3 = 0 THEN 'Multiple'
            WHEN ck % 3 = 1 THEN 'Female' ELSE 'Male' END AS gender_me,
          CASE WHEN ck % 2 = 0 THEN 'Female' ELSE 'Male' END
            AS gender_recent,
          CAST(ck % 2 AS INT) AS gender_female,
          CAST((ck + 1) % 2 AS INT) AS gender_male,
          CASE ck % 7 WHEN 0 THEN 'AI/AN' WHEN 1 THEN 'Asian'
            WHEN 2 THEN 'Black' WHEN 3 THEN 'Latino' WHEN 4 THEN 'NH/PI'
            WHEN 5 THEN 'White' ELSE 'Unknown' END AS race_eth_me,
          CASE (ck + 2) % 7 WHEN 0 THEN 'AI/AN' WHEN 1 THEN 'Asian'
            WHEN 2 THEN 'Black' WHEN 3 THEN 'Latino' WHEN 4 THEN 'NH/PI'
            WHEN 5 THEN 'White' ELSE 'Unknown' END AS race_me,
          CASE (ck + 4) % 7 WHEN 0 THEN 'AI/AN' WHEN 1 THEN 'Asian'
            WHEN 2 THEN 'Black' WHEN 3 THEN 'Latino' WHEN 4 THEN 'NH/PI'
            WHEN 5 THEN 'White' ELSE 'Unknown' END AS race_eth_recent,
          CASE (ck + 5) % 7 WHEN 0 THEN 'AI/AN' WHEN 1 THEN 'Asian'
            WHEN 2 THEN 'Black' WHEN 3 THEN 'Latino' WHEN 4 THEN 'NH/PI'
            WHEN 5 THEN 'White' ELSE 'Unknown' END AS race_recent,
          CASE WHEN ck % 11 = 0 THEN 1 ELSE 0 END AS race_aian,
          CASE WHEN ck % 7 = 1 THEN 1 ELSE 0 END AS race_asian,
          CASE WHEN ck % 6 = 2 THEN 1 ELSE 0 END AS race_black,
          CASE WHEN ck % 5 = 3 THEN 1 ELSE 0 END AS race_latino,
          CASE WHEN ck % 13 = 4 THEN 1 ELSE 0 END AS race_nhpi,
          CASE WHEN ck % 3 = 2 THEN 1 ELSE 0 END AS race_white,
          CASE WHEN ck % 17 = 5 THEN 1 ELSE 0 END AS race_unknown
        FROM dm0 WHERE ck % 13 <> 7),
      aged AS (
        SELECT *,
          CASE
            WHEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
              / 365.25) >= 90 OR ninety_only = 1 THEN 90
            WHEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
              / 365.25) >= 0
              THEN CAST(floor((date_diff('day', dob,
                DATE '1995-12-31') + 1) / 365.25) AS BIGINT)
            WHEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
              / 365.25) = -1 THEN 0
          END AS age
        FROM dm),
      aged2 AS (
        SELECT *, CASE
            WHEN age >= 0 AND age < 5 THEN '0-4'
            WHEN age >= 5 AND age < 12 THEN '5-11'
            WHEN age >= 12 AND age < 18 THEN '12-17'
            WHEN age >= 18 AND age < 25 THEN '18-24'
            WHEN age >= 25 AND age < 45 THEN '25-44'
            WHEN age >= 45 AND age < 65 THEN '45-64'
            WHEN age >= 65 OR ninety_only = 1 THEN '65 and over'
          END AS age_grp7
        FROM aged),
      plr AS (
      SELECT p.id AS id_apcd,
        CASE WHEN g.geo_county IS NOT NULL THEN 1 ELSE 0 END AS geo_wa,
        CASE WHEN g.geo_county IS NOT NULL AND (p.med_medicaid_covd >= 1
          OR p.pharm_medicaid_covd >= 1) THEN 1 ELSE 0 END
          AS overall_mcaid,
        CASE WHEN g.geo_county IS NOT NULL AND p.med_medicaid_covd >= 1
          THEN 1 ELSE 0 END AS overall_mcaid_med,
        CASE WHEN g.geo_county IS NOT NULL AND p.pharm_medicaid_covd >= 1
          THEN 1 ELSE 0 END AS overall_mcaid_pharm,
        CASE WHEN g.geo_county IS NOT NULL AND p.med_total_covper >= 50.0
          THEN 1 ELSE 0 END AS medical_coverage_6mo,
        CASE WHEN g.geo_county IS NOT NULL AND p.med_total_covper >= 58.3
          THEN 1 ELSE 0 END AS medical_coverage_7mo,
        CASE WHEN g.geo_county IS NOT NULL AND p.med_total_covper >= 91.7
          THEN 1 ELSE 0 END AS medical_coverage_11mo,
        g.geo_zip, g.geo_county, g.geo_ach, a.geo_ach_covd,
        round(a.geo_ach_covd * 1.0 / 365 * 100.0, 1) AS geo_ach_covper,
        d.age, d.age_grp7,
        d.gender_me, d.gender_recent, d.gender_female, d.gender_male,
        d.race_eth_me, d.race_me, d.race_eth_recent, d.race_recent,
        d.race_aian, d.race_asian, d.race_black, d.race_latino,
        d.race_nhpi, d.race_white, d.race_unknown,
        p.med_total_covd, p.med_total_covper,
        p.dual_covd, p.dual_covper, p.dual_flag,
        p.med_medicaid_covd, p.med_medicare_covd, p.med_commercial_covd,
        p.med_medicaid_covper, p.med_medicare_covper,
        p.med_commercial_covper,
        p.pharm_total_covd, p.pharm_total_covper,
        p.pharm_medicaid_covd, p.pharm_medicare_covd,
        p.pharm_commercial_covd,
        p.pharm_medicaid_covper, p.pharm_medicare_covper,
        p.pharm_commercial_covper
      FROM covp p
      LEFT JOIN geo g ON p.id = g.id
      LEFT JOIN achd a ON p.id = a.id
      LEFT JOIN aged2 d ON p.id = d.id_apcd)"""

  /** Shared q244/q320 APCD CCW fixture CTEs (hdr + dx). */
  private val ApcdCcwFixtureCtes: String = """hdr AS (
        SELECT CAST(40000 + o_custkey % 110 AS BIGINT) AS id_apcd,
          o_orderkey AS chid,
          CAST(1 + o_orderkey % 7 AS INT) AS ctid,
          CAST(o_orderdate AS DATE) AS fsd
        FROM orders),
      dx AS (
        SELECT CAST(40000 + o_custkey % 110 AS BIGINT) AS id_apcd,
          l_orderkey AS chid,
          CASE WHEN l_partkey % 6 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 6 = 0 THEN
            CASE WHEN l_partkey % 13 = 0 THEN '2440'
              WHEN l_partkey % 13 = 1 THEN '25000'
              WHEN l_partkey % 13 = 2 THEN '64800'
              WHEN l_partkey % 13 = 3 THEN '43491'
              ELSE lpad(CAST(l_partkey % 999 AS VARCHAR), 4, '0') END
          ELSE
            CASE WHEN l_partkey % 13 = 0 THEN 'E039'
              WHEN l_partkey % 13 = 1 THEN 'E119'
              WHEN l_partkey % 13 = 2 THEN 'O2412'
              WHEN l_partkey % 13 = 3 THEN 'I6350'
              WHEN l_partkey % 13 = 4 THEN 'Z3480'
              ELSE 'J' || lpad(CAST(l_partkey % 400 AS VARCHAR), 3, '0')
              END
          END AS norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS dxnum
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"""

  /** Shared q316/q317 provider-slot fixture CTEs — the header-grain
    * medical-claim slots, their faithful unpivot, and the delivered
    * rows with the two planted defects (missing rendering on
    * header % 37, off-by-one billing on header % 41). One copy so the
    * build row and its QA battery cannot drift. */
  private val ProviderSlotCtes: String = """mcp AS (
        SELECT o_custkey % 400 AS id_apcd, o_orderkey AS hid,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 4 AS INT) AS lsd,
          CAST(9000 + o_orderkey % 150 AS BIGINT) AS billing,
          CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE CAST(7000 + (o_orderkey * 3) % 150 AS BIGINT) END
            AS rendering,
          CASE WHEN o_orderkey % 7 = 0
            THEN CAST(5000 + (o_orderkey * 7) % 150 AS BIGINT) END
            AS attending,
          CASE WHEN o_orderkey % 11 = 0
            THEN CAST(3000 + (o_orderkey * 11) % 150 AS BIGINT) END
            AS referring
        FROM orders),
      slots AS (
        SELECT id_apcd, hid, fsd, lsd, 'attending' AS provider_type,
          attending AS pid FROM mcp WHERE attending IS NOT NULL
        UNION ALL SELECT id_apcd, hid, fsd, lsd, 'billing', billing
          FROM mcp WHERE billing IS NOT NULL
        UNION ALL SELECT id_apcd, hid, fsd, lsd, 'referring', referring
          FROM mcp WHERE referring IS NOT NULL
        UNION ALL SELECT id_apcd, hid, fsd, lsd, 'rendering', rendering
          FROM mcp WHERE rendering IS NOT NULL),
      delivered AS (
        SELECT id_apcd, hid, fsd, lsd,
          CASE WHEN provider_type = 'billing' AND hid % 41 = 0
            THEN pid + 1 ELSE pid END AS provider_id_apcd,
          pid + 500000 AS provider_id_raw_apcd, provider_type
        FROM slots
        WHERE NOT (provider_type = 'rendering' AND hid % 37 = 0))"""

  def oracleSql: Map[String, String] = baseOracleSql ++
    eligQaOracles(baseOracleSql) ++ claimQaOracles +
    // q301: perf member-month spine — MCO CASE, King-zip gate,
    // longest-span pick with the repo's deterministic tie-breaks.
    ("q301_perf_member_month" -> """
      WITH elig AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
            AS clndr_year_mnth,
          'R' || CAST(o_custkey % 300 AS VARCHAR)
            AS medicaid_recipient_id,
          'RAC' || lpad(CAST(o_orderkey % 50 AS VARCHAR), 2, '0')
            AS rprtbl_rac_code,
          CAST(o_orderdate AS DATE) AS from_date,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 60 AS INT)
            AS to_date,
          CASE WHEN o_orderkey % 3 <> 0 THEN 'MC' ELSE 'FFS' END
            AS coverage_type_ind,
          CASE o_orderkey % 8
            WHEN 0 THEN 'Amerigroup Washington Inc'
            WHEN 1 THEN 'Community Health Plan of Washington'
            WHEN 2 THEN 'Coordinated Care Corporation'
            WHEN 3 THEN 'Coordinated Care of Washington'
            WHEN 4 THEN 'Molina Healthcare of Washington Inc'
            WHEN 5 THEN 'United Health Care Community Plan'
            WHEN 6 THEN 'Some Other Plan LLC'
            ELSE 'Unknown Plan' END AS mc_prvdr_name,
          CASE WHEN o_orderkey % 2 = 0 THEN 'Y' ELSE 'N' END
            AS dual_elig,
          CASE WHEN o_orderkey % 5 = 0 THEN 'Y' ELSE 'N' END
            AS tpl_full_flag,
          'Z' || lpad(CAST(o_custkey % 25 AS VARCHAR), 2, '0')
            AS rsdntl_postal_code
        FROM orders),
      mapped AS (
        SELECT * REPLACE (
          CASE WHEN coverage_type_ind = 'MC'
              AND mc_prvdr_name = 'Amerigroup Washington Inc' THEN 'AGP'
            WHEN coverage_type_ind = 'MC' AND mc_prvdr_name =
              'Community Health Plan of Washington' THEN 'CHP'
            WHEN coverage_type_ind = 'MC' AND mc_prvdr_name IN
              ('Coordinated Care Corporation',
               'Coordinated Care of Washington') THEN 'CCW'
            WHEN coverage_type_ind = 'MC' AND mc_prvdr_name =
              'Molina Healthcare of Washington Inc' THEN 'MHW'
            WHEN coverage_type_ind = 'MC' AND mc_prvdr_name =
              'United Health Care Community Plan' THEN 'UHC'
            ELSE NULL END AS mc_prvdr_name)
        FROM elig),
      kz AS (SELECT DISTINCT
          'Z' || lpad(CAST(c_custkey % 25 AS VARCHAR), 2, '0')
            AS zip_code
        FROM customer WHERE c_custkey % 25 < 15),
      ranked AS (
        SELECT m.*, row_number() OVER (
            PARTITION BY medicaid_recipient_id, clndr_year_mnth
            ORDER BY date_diff('day', from_date, to_date) DESC,
              from_date, rprtbl_rac_code, mc_prvdr_name NULLS FIRST,
              dual_elig, tpl_full_flag) AS rn
        FROM mapped m JOIN kz ON m.rsdntl_postal_code = kz.zip_code)
      SELECT clndr_year_mnth, medicaid_recipient_id, rprtbl_rac_code,
        from_date, to_date, coverage_type_ind, mc_prvdr_name, dual_elig,
        tpl_full_flag, rsdntl_postal_code
      FROM ranked WHERE rn = 1
      ORDER BY medicaid_recipient_id, clndr_year_mnth, from_date,
        rprtbl_rac_code""") +
    // q308: RAC-code ref build — three broadcast left joins, elig-14
    // category override, MAGI '--' null, both benefit CASEs.
    ("q308_rac_code" -> s"""
      WITH $RacSheetCtes
      SELECT f.rac_code, f.rac_name, f.fund_source_code,
        b.b_elig AS elig_value, b.b_sub AS sub_elig_value,
        CASE WHEN b.b_elig = 14 THEN 'MN - Other (Family/Pregnancy)'
          ELSE c.category END AS category,
        c.xix_full AS title_xix_full_benefit_1519_reporting,
        c.xix_lim AS title_xix_limited_benefit,
        c.xxi_full AS title_xxi_full_benefit,
        c.legacy_mcs,
        CASE WHEN c.magi = '--' THEN NULL ELSE c.magi END AS magi,
        c.major_cov AS major_cov_grp_1519_reporting,
        d.bsp_group_cid, d.bsp_group_abbrev, d.bsp_group_name,
        CASE WHEN d.bsp_group_cid IN (1003960, 1003956, 10066833,
            1003962) AND f.fund_source_code IN ('Federal', 'Title XXI')
          THEN 'Y'
          WHEN d.d_rac IS NOT NULL AND (d.bsp_group_cid NOT IN (1003960,
            1003956, 10066833, 1003962) OR f.fund_source_code NOT IN
            ('Federal', 'Title XXI')) THEN 'N'
          END AS full_benefit,
        CASE WHEN c.xix_full = 'Y' OR c.xxi_full = 'Y' THEN 'Y'
          WHEN b.b_rac IS NOT NULL AND c.xix_full IS NULL
            AND c.xxi_full IS NULL THEN 'N'
          END AS alternate_rda_full_benefit
      FROM fs f
      LEFT JOIN det b ON f.rac_code = b.b_rac
      LEFT JOIN grp c ON b.b_elig = c.ev
      LEFT JOIN bsp d ON f.rac_code = d.d_rac
      ORDER BY rac_code""") +
    // q309: the three NumRows histograms — verbatim (vacuous: DISTINCT
    // pair then GROUP BY the same pair) and intended (per-key).
    ("q309_rac_code_qa" -> {
      def hist(label: String, keys: String, full: String) = s"""
        SELECT '$label' AS qa_item, num_rows, count(*) AS n FROM (
          SELECT $keys, count(*) AS num_rows FROM (
            SELECT DISTINCT $full FROM bsp) GROUP BY $keys)
        GROUP BY num_rows"""
      s"""
      WITH $RacSheetCtes
      SELECT * FROM (
        ${hist("verbatim rac_code-bsp_group_cid",
          "d_rac, bsp_group_cid", "d_rac, bsp_group_cid")}
        UNION ALL ${hist("verbatim bsp_group_cid-bsp_group_abbrev",
          "bsp_group_cid, bsp_group_abbrev",
          "bsp_group_cid, bsp_group_abbrev")}
        UNION ALL ${hist("verbatim bsp_group_abbrev-bsp_group_name",
          "bsp_group_abbrev, bsp_group_name",
          "bsp_group_abbrev, bsp_group_name")}
        UNION ALL ${hist("intended rac_code-bsp_group_cid",
          "d_rac", "d_rac, bsp_group_cid")}
        UNION ALL ${hist("intended bsp_group_cid-bsp_group_abbrev",
          "bsp_group_cid", "bsp_group_cid, bsp_group_abbrev")}
        UNION ALL ${hist("intended bsp_group_abbrev-bsp_group_name",
          "bsp_group_abbrev", "bsp_group_abbrev, bsp_group_name")})
      ORDER BY qa_item, num_rows"""
    }) +
    // q310: KC provider master — charclass NPI gate, mode picks
    // (entity: count desc/entity desc; zip: count desc/zip asc;
    // taxonomy top-2), master anti-join, flag union.
    ("q310_kc_provider_master" -> """
      WITH pm AS (
        SELECT DISTINCT CAST(1000000000 + p_partkey % 400 AS BIGINT)
            AS npi,
          CASE WHEN p_partkey % 2 = 0 THEN 'Organization'
            ELSE 'Person' END AS entity_type,
          CASE WHEN p_partkey % 7 = 0 THEN NULL
            ELSE '98' || lpad(CAST(p_partkey % 999 AS VARCHAR), 3, '0')
            END AS geo_zip_practice,
          CASE WHEN p_partkey % 9 IN (0, 1) THEN NULL
            ELSE '207Q00000' || CAST(p_partkey % 10 AS VARCHAR) END
            AS primary_taxonomy,
          CASE WHEN p_partkey % 8 = 0 THEN NULL
            ELSE '208D00000' || CAST(p_partkey % 10 AS VARCHAR) END
            AS secondary_taxonomy,
          1 AS apcd_provider_master_flag
        FROM part WHERE p_partkey % 5 = 0),
      raw0 AS (
        SELECT CASE WHEN o_orderkey % 13 = 0
            THEN '0' || CAST(o_orderkey % 1000000000 AS VARCHAR)
            WHEN o_orderkey % 17 = 0 THEN 'NOTANPI'
            ELSE CAST(1000000000 + o_custkey % 600 AS VARCHAR) END
            AS orig_npi,
          CASE WHEN o_orderkey % 23 = 0 THEN NULL
            WHEN o_orderkey % 3 = 0 THEN 'Person'
            ELSE 'Organization' END AS entity_type,
          CASE WHEN o_orderkey % 11 = 0 THEN '98'
            ELSE '98' || lpad(CAST(o_custkey % 999 AS VARCHAR), 3, '0')
            END AS zip,
          CASE WHEN o_orderkey % 7 = 0 THEN 'SHORT'
            ELSE '2084P0800' || CAST(o_orderkey % 3 AS VARCHAR) END
            AS primary_specialty_code
        FROM orders),
      t1 AS (
        SELECT CASE WHEN regexp_matches(orig_npi, '^[1-9][0-9]{9}$')
            THEN orig_npi END AS npi,
          entity_type,
          CASE WHEN length(zip) = 5 THEN zip END AS geo_zip_practice,
          CASE WHEN length(primary_specialty_code) = 10
            THEN primary_specialty_code END AS taxonomy
        FROM raw0),
      ent AS (SELECT npi, entity_type FROM (
        SELECT npi, entity_type, row_number() OVER (PARTITION BY npi
          ORDER BY count(*) DESC, entity_type DESC) AS rk
        FROM t1 WHERE entity_type IS NOT NULL GROUP BY npi, entity_type)
        WHERE rk = 1),
      zp AS (SELECT npi, geo_zip_practice FROM (
        SELECT npi, geo_zip_practice, row_number() OVER (
          PARTITION BY npi
          ORDER BY count(*) DESC, geo_zip_practice) AS rk
        FROM t1 WHERE geo_zip_practice IS NOT NULL
        GROUP BY npi, geo_zip_practice) WHERE rk = 1),
      tx AS (SELECT npi, taxonomy, rk FROM (
        SELECT npi, taxonomy, row_number() OVER (PARTITION BY npi
          ORDER BY count(*) DESC, taxonomy) AS rk
        FROM t1 WHERE taxonomy IS NOT NULL GROUP BY npi, taxonomy)
        WHERE rk <= 2),
      derived AS (
        SELECT CAST(a.npi AS BIGINT) AS npi, e.entity_type,
          z.geo_zip_practice, x1.taxonomy AS primary_taxonomy,
          x2.taxonomy AS secondary_taxonomy,
          0 AS apcd_provider_master_flag
        FROM (SELECT DISTINCT npi FROM t1 WHERE npi IS NOT NULL
          AND CAST(npi AS BIGINT) NOT IN (SELECT npi FROM pm)) a
        LEFT JOIN ent e ON a.npi = e.npi
        LEFT JOIN zp z ON a.npi = z.npi
        LEFT JOIN (SELECT npi, taxonomy FROM tx WHERE rk = 1) x1
          ON a.npi = x1.npi
        LEFT JOIN (SELECT npi, taxonomy FROM tx WHERE rk = 2) x2
          ON a.npi = x2.npi)
      SELECT DISTINCT * FROM
        (SELECT * FROM pm UNION ALL SELECT * FROM derived)
      ORDER BY npi, apcd_provider_master_flag""") +
    ("q311_age_grp" -> ageGrpOracle) +
    // q312: carrier billing NPI — case-SENSITIVE control-number join
    // (the reference's collate clause; lower-cased plants must miss).
    ("q312_carrier_npi" -> """
      WITH apcd AS (
        SELECT CASE WHEN o_orderkey % 10 = 0
            THEN lower('S' || CAST(o_orderkey % 4000 AS VARCHAR))
            ELSE 'S' || CAST(o_orderkey % 4000 AS VARCHAR) END AS ctl,
          o_orderkey AS claim_header_id,
          23 + o_orderkey % 4 AS sct
        FROM orders),
      bc AS (SELECT 'S' || CAST(o_orderkey % 4000 AS VARCHAR) AS clm_id,
          max(1000000000 + o_custkey) AS npi
        FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1)
      SELECT a.claim_header_id,
        CAST(b.npi AS BIGINT) AS carr_clm_blg_npi_num
      FROM apcd a LEFT JOIN bc b ON a.ctl = b.clm_id
      WHERE a.sct IN (24, 25)
      ORDER BY claim_header_id""") +
    // q313: comorbidity scores — condition/prefix dims generated from
    // the SAME Scala constants the build uses.
    ("q313_comorb_scores" -> s"""
      WITH conds AS (SELECT * FROM (VALUES
          $comorbCondValues)
        AS t(cond_id, short_name, elix, charl, gagne)),
      pfx AS (SELECT * FROM (VALUES
          $comorbPrefixValues)
        AS t(cond_id, ver, dx_prefix)),
      dx AS (
        SELECT o_custkey % 150 AS id_person,
          CASE WHEN l_partkey % 2 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 2 = 0 THEN
            CASE l_partkey % 12 WHEN 0 THEN '39891' WHEN 1 THEN '4283'
              WHEN 2 THEN '44000' WHEN 3 THEN '4929' WHEN 4 THEN '25001'
              WHEN 5 THEN '25042' WHEN 6 THEN '5859' WHEN 7 THEN '19655'
              WHEN 8 THEN '29620' WHEN 9 THEN '3110' WHEN 10 THEN '04200'
              ELSE '71500' END
          ELSE
            CASE l_partkey % 12 WHEN 0 THEN 'I500' WHEN 1 THEN 'I4891'
              WHEN 2 THEN 'I7025' WHEN 3 THEN 'J449' WHEN 4 THEN 'E1199'
              WHEN 5 THEN 'E1122' WHEN 6 THEN 'N189' WHEN 7 THEN 'C771'
              WHEN 8 THEN 'F329' WHEN 9 THEN 'B2000' WHEN 10 THEN 'Z0000'
              ELSE 'K219' END
          END AS code
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      flg AS (SELECT DISTINCT d.id_person, p.cond_id
        FROM dx d JOIN pfx p ON d.ver = p.ver
          AND d.code LIKE p.dx_prefix || '%')
      SELECT id_person,
        CAST(coalesce(sum(elix), 0) AS BIGINT) AS elixhauser_score,
        CAST(coalesce(sum(charl), 0) AS BIGINT) AS charlson_score,
        CAST(coalesce(sum(gagne), 0) AS BIGINT) AS gagne_score,
        count(*) AS n_conditions
      FROM flg JOIN conds USING (cond_id)
      GROUP BY id_person ORDER BY id_person""") +
    // q314: FDA NDC directory — finished/unfinished/compounder union
    // and the 10->11-digit package-code normalization.
    ("q314_ndc_codes" -> """
      WITH shp AS (
        SELECT p_partkey AS pk, p_name, p_type,
          CASE WHEN p_partkey % 5 = 0 THEN
            lpad(CAST(p_partkey % 10000 AS VARCHAR), 4, '0') || '-' ||
            lpad(CAST((p_partkey * 3) % 10000 AS VARCHAR), 4, '0') ||
            '-' || lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0')
          WHEN p_partkey % 5 = 1 THEN
            lpad(CAST(p_partkey % 100000 AS VARCHAR), 5, '0') || '-' ||
            lpad(CAST((p_partkey * 3) % 1000 AS VARCHAR), 3, '0') ||
            '-' || lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0')
          WHEN p_partkey % 5 = 2 THEN
            lpad(CAST(p_partkey % 100000 AS VARCHAR), 5, '0') || '-' ||
            lpad(CAST((p_partkey * 3) % 10000 AS VARCHAR), 4, '0') ||
            '-' || lpad(CAST(p_partkey % 10 AS VARCHAR), 1, '0')
          WHEN p_partkey % 5 = 3 THEN
            lpad(CAST(p_partkey % 1000000 AS VARCHAR), 6, '0') || '-' ||
            lpad(CAST((p_partkey * 3) % 10000 AS VARCHAR), 4, '0') ||
            '-' || lpad(CAST(p_partkey % 100 AS VARCHAR), 2, '0')
          ELSE 'FREE TEXT' END AS ndcpackagecode
        FROM part),
      pkg AS (SELECT 'P' || CAST(pk % 500 AS VARCHAR) AS productid,
          'N' || CAST(pk AS VARCHAR) AS productndc, ndcpackagecode
        FROM shp),
      prod AS (SELECT 'P' || CAST(pk % 500 AS VARCHAR) AS productid,
          'N' || CAST(pk AS VARCHAR) AS productndc,
          p_name AS proprietaryname, p_type AS nonproprietaryname
        FROM shp WHERE pk % 4 <> 0),
      fin AS (SELECT k.productid, k.productndc, k.ndcpackagecode,
          p.proprietaryname, p.nonproprietaryname,
          'finished' AS source
        FROM pkg k LEFT JOIN prod p USING (productid, productndc)),
      unf AS (SELECT 'U' || CAST(pk % 500 AS VARCHAR) AS productid,
          'UN' || CAST(pk AS VARCHAR) AS productndc, ndcpackagecode,
          CAST(NULL AS VARCHAR) AS proprietaryname,
          p_type AS nonproprietaryname, 'unfinished' AS source
        FROM shp WHERE pk % 7 = 0),
      comp AS (SELECT CAST(NULL AS VARCHAR) AS productid,
          'CN' || CAST(pk AS VARCHAR) AS productndc, ndcpackagecode,
          p_name AS proprietaryname,
          CAST(NULL AS VARCHAR) AS nonproprietaryname,
          'compounder' AS source
        FROM shp WHERE pk % 9 = 0),
      u AS (SELECT * FROM fin UNION ALL SELECT * FROM unf
        UNION ALL SELECT * FROM comp)
      SELECT productid, productndc, ndcpackagecode,
        -- q314 normalization arms mirror functions/NdcCodes.ndc11
        CASE WHEN regexp_matches(ndcpackagecode,
            '^[0-9A-Za-z]{4}-[0-9A-Za-z]{4}-[0-9A-Za-z]{2}$')
          THEN '0' || string_split(ndcpackagecode, '-')[1]
            || string_split(ndcpackagecode, '-')[2]
            || string_split(ndcpackagecode, '-')[3]
          WHEN regexp_matches(ndcpackagecode,
            '^[0-9A-Za-z]{5}-[0-9A-Za-z]{3}-[0-9A-Za-z]{2}$')
          THEN string_split(ndcpackagecode, '-')[1] || '0'
            || string_split(ndcpackagecode, '-')[2]
            || string_split(ndcpackagecode, '-')[3]
          WHEN regexp_matches(ndcpackagecode,
            '^[0-9A-Za-z]{5}-[0-9A-Za-z]{4}-[0-9A-Za-z]{1}$')
          THEN string_split(ndcpackagecode, '-')[1]
            || string_split(ndcpackagecode, '-')[2] || '0'
            || string_split(ndcpackagecode, '-')[3]
          END AS ndc,
        proprietaryname, nonproprietaryname, source
      FROM u
      ORDER BY source, productndc, ndcpackagecode, productid""") +
    ("q315_perceptron_train" -> perceptronOracle) +
    // q316: provider-grain stage build — pure rename of the delivered
    // slot rows (no denied/orphan gate on this extract).
    ("q316_apcd_claim_provider" -> s"""
      WITH $ProviderSlotCtes
      SELECT id_apcd, hid AS claim_header_id, fsd AS first_service_date,
        lsd AS last_service_date, provider_id_apcd,
        provider_id_raw_apcd, provider_type
      FROM delivered
      ORDER BY claim_header_id, provider_type, provider_id_apcd""") +
    // q317: the slot-type set-equality battery + service-date
    // ride-along over the SAME delivered rows.
    ("q317_apcd_claim_provider_qa" -> s"""
      WITH $ProviderSlotCtes,
      src AS (SELECT hid, provider_type, pid FROM slots),
      fo AS (
        SELECT coalesce(s.provider_type, t.provider_type)
            AS provider_type,
          CASE WHEN s.hid IS NOT NULL THEN 1 END AS in_src,
          CASE WHEN t.hid IS NOT NULL THEN 1 END AS in_st
        FROM src s FULL OUTER JOIN delivered t
          ON s.hid = t.hid AND s.provider_type = t.provider_type
          AND s.pid = t.provider_id_apcd),
      slots_v AS (
        SELECT provider_type,
          CAST(coalesce(sum(in_src), 0) AS BIGINT) AS n_source,
          CAST(coalesce(sum(in_st), 0) AS BIGINT) AS n_stage,
          CAST(coalesce(sum(CASE WHEN in_st IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_missing,
          CAST(coalesce(sum(CASE WHEN in_src IS NULL THEN 1 END), 0)
            AS BIGINT) AS n_extra
        FROM fo GROUP BY provider_type),
      dates_v AS (
        SELECT 'service_dates' AS provider_type,
          CAST(count(*) AS BIGINT) AS n_source,
          CAST(count(*) AS BIGINT) AS n_stage,
          CAST(coalesce(sum(CASE WHEN d.fsd <> m.fsd OR d.lsd <> m.lsd
            THEN 1 END), 0) AS BIGINT) AS n_missing,
          CAST(0 AS BIGINT) AS n_extra
        FROM delivered d JOIN mcp m ON d.hid = m.hid)
      SELECT 'stage.apcd_claim_provider' AS table_name, provider_type,
        n_source, n_stage, n_missing, n_extra,
        CAST(n_missing = 0 AND n_extra = 0 AS INT) AS pass
      FROM (SELECT * FROM slots_v UNION ALL SELECT * FROM dates_v)
      ORDER BY provider_type""") +
    // q318: elig_demo line-level battery — the re-derivation arms
    // (pair self-join dob, max_by last-month estimate, grouped gender/
    // race collapses) over the factored q152 chain.
    ("q318_apcd_elig_demo_qa" -> s"""
      WITH $ApcdDemoCtes,
      prs AS (
        SELECT p.id_apcd,
          CAST(strptime(CAST(q.ym - q.age * 100 AS VARCHAR)
            || '01', '%Y%m%d') AS DATE) AS dob_imp
        FROM mm p JOIN mm q ON p.id_apcd = q.id_apcd
          AND q.ym - p.ym IN (1, 89) AND q.age - p.age = 1),
      inc AS (
        SELECT id_apcd, max(dob_imp) AS dob_inc FROM prs
        GROUP BY id_apcd),
      lastx AS (
        SELECT id_apcd, min(age) AS min_age,
          (CAST(strptime(CAST(max(ym) - (max_by(age, ym) + 1) * 100
            AS VARCHAR) || '01', '%Y%m%d') AS DATE)
            + INTERVAL 1 MONTH)::DATE AS dob_est
        FROM mm GROUP BY id_apcd),
      dj AS (
        SELECT d.id_apcd, d.dob, d.ninety_only, i.dob_inc, l.min_age,
          l.dob_est
        FROM demo d LEFT JOIN inc i USING (id_apcd)
        LEFT JOIN lastx l USING (id_apcd)),
      g AS (
        SELECT id_apcd,
          max(CASE WHEN gender_code = 'F' THEN 1
            WHEN gender_code = 'U' THEN NULL ELSE 0 END) AS ev_f,
          max(CASE WHEN gender_code = 'M' THEN 1
            WHEN gender_code = 'U' THEN NULL ELSE 0 END) AS ev_m,
          min(CASE WHEN gender_code = 'U' THEN 1 ELSE 0 END) AS all_u,
          max(CASE WHEN gender_code = 'U' THEN 1 ELSE 0 END) AS any_u,
          max(CASE WHEN gender_code IS NOT NULL AND gender_code <> 'U'
            THEN 1 ELSE 0 END) AS any_known,
          max_by(CASE WHEN gender_code IS NOT NULL
              AND gender_code <> 'U' THEN gender_code END,
            CASE WHEN gender_code IS NOT NULL AND gender_code <> 'U'
              THEN ym END) AS last_known
        FROM mm GROUP BY id_apcd),
      gexp AS (
        SELECT id_apcd, any_u, any_known,
          CASE WHEN ev_f = 1 AND ev_m = 1 THEN 'Multiple'
            WHEN ev_f = 1 THEN 'Female' WHEN ev_m = 1 THEN 'Male'
            WHEN all_u = 1 THEN 'Unknown' END AS exp_me,
          CASE WHEN last_known = 'F' THEN 'Female'
            WHEN last_known = 'M' THEN 'Male'
            WHEN last_known IS NULL AND any_u = 1 THEN 'Unknown' END
            AS exp_recent,
          ev_f AS exp_female, ev_m AS exp_male
        FROM g),
      gj AS (
        SELECT d.id_apcd, d.gender_me, d.gender_recent, d.gender_female,
          d.gender_male, e.any_u, e.any_known, e.exp_me, e.exp_recent,
          e.exp_female, e.exp_male
        FROM demo d JOIN gexp e USING (id_apcd)),
      ragg AS (
        SELECT id_apcd,
          max(CASE WHEN r1 = 1 OR r2 = 1 OR r3 = 1 OR r4 = 1 THEN 1
            ELSE 0 END) AS e_aian,
          max(CASE WHEN r1 = 2 OR r2 = 2 OR r3 = 2 OR r4 = 2 THEN 1
            ELSE 0 END) AS e_asian,
          max(CASE WHEN r1 = 3 OR r2 = 3 OR r3 = 3 OR r4 = 3 THEN 1
            ELSE 0 END) AS e_black,
          max(CASE WHEN r1 = 4 OR r2 = 4 OR r3 = 4 OR r4 = 4 THEN 1
            ELSE 0 END) AS e_nhpi,
          max(CASE WHEN r1 = 5 OR r2 = 5 OR r3 = 5 OR r4 = 5 THEN 1
            ELSE 0 END) AS e_white,
          max(CASE WHEN latino_id = 1 OR r3 = 8 OR r4 = 8 THEN 1
            ELSE 0 END) AS e_latino,
          min(CASE WHEN r1 = 0 AND r2 = 0 AND r3 = 0 AND r4 = 0
            AND latino_id <> 1 THEN 1 ELSE 0 END) AS all_unk
        FROM el1 GROUP BY id_apcd),
      rj AS (
        SELECT d.id_apcd, d.race_aian, d.race_asian, d.race_black,
          d.race_latino, d.race_nhpi, d.race_white, d.race_unknown,
          d.race_eth_me, d.race_me, a.e_aian, a.e_asian, a.e_black,
          a.e_nhpi, a.e_white, a.e_latino, a.all_unk,
          a.e_aian + a.e_asian + a.e_black + a.e_nhpi + a.e_white
            AS n_race
        FROM demo d JOIN ragg a USING (id_apcd)),
      rows_v AS (
        SELECT 'dob_age_increment_members' AS qa_category,
          sum(CASE WHEN dob_inc IS NOT NULL THEN 1 ELSE 0 END)
            AS n_checked,
          sum(CASE WHEN dob_inc IS NOT NULL
            AND dob IS DISTINCT FROM dob_inc THEN 1 ELSE 0 END)
            AS n_fail
        FROM dj
        UNION ALL
        SELECT 'dob_single_age_members',
          sum(CASE WHEN dob_inc IS NULL THEN 1 ELSE 0 END),
          sum(CASE WHEN dob_inc IS NULL
            AND dob IS DISTINCT FROM dob_est THEN 1 ELSE 0 END)
        FROM dj
        UNION ALL
        SELECT 'ninety_only_flag', count(*),
          sum(CASE WHEN ninety_only IS DISTINCT FROM
            (CASE WHEN min_age = 90 THEN 1 ELSE 0 END)
            THEN 1 ELSE 0 END)
        FROM dj
        UNION ALL
        SELECT 'gender_slot_flags', count(*),
          sum(CASE WHEN gender_me IS DISTINCT FROM exp_me
            OR gender_female IS DISTINCT FROM exp_female
            OR gender_male IS DISTINCT FROM exp_male
            THEN 1 ELSE 0 END)
        FROM gj
        UNION ALL
        SELECT 'gender_partial_unknown_not_unknown',
          sum(CASE WHEN any_u = 1 AND any_known = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN any_u = 1 AND any_known = 1
            AND gender_me = 'Unknown' THEN 1 ELSE 0 END)
        FROM gj
        UNION ALL
        SELECT 'gender_recent_last_known', count(*),
          sum(CASE WHEN gender_recent IS DISTINCT FROM exp_recent
            THEN 1 ELSE 0 END)
        FROM gj
        UNION ALL
        SELECT 'race_ever_flags', count(*),
          sum(CASE WHEN race_aian IS DISTINCT FROM e_aian
            OR race_asian IS DISTINCT FROM e_asian
            OR race_black IS DISTINCT FROM e_black
            OR race_nhpi IS DISTINCT FROM e_nhpi
            OR race_white IS DISTINCT FROM e_white
            OR race_latino IS DISTINCT FROM e_latino
            THEN 1 ELSE 0 END)
        FROM rj
        UNION ALL
        SELECT 'race_unknown_iff_no_signal', count(*),
          sum(CASE WHEN race_unknown IS DISTINCT FROM all_unk
            OR (all_unk = 1 AND race_eth_me IS NOT NULL)
            OR (all_unk = 0 AND (race_eth_me IS NULL
              OR race_eth_me = 'Unknown'))
            THEN 1 ELSE 0 END)
        FROM rj
        UNION ALL
        SELECT 'race_latino_drives_multiple',
          sum(CASE WHEN n_race = 1 AND e_latino = 1 THEN 1 ELSE 0 END),
          sum(CASE WHEN n_race = 1 AND e_latino = 1
            AND (race_eth_me <> 'Multiple' OR race_me = 'Multiple')
            THEN 1 ELSE 0 END)
        FROM rj
        UNION ALL
        SELECT 'one_row_per_member', count(*),
          sum(CASE WHEN c <> 1 THEN 1 ELSE 0 END)
        FROM (SELECT id_apcd, count(*) AS c FROM demo
          GROUP BY id_apcd))
      SELECT 'stage.apcd_elig_demo' AS table_name, qa_category,
        CAST(coalesce(n_checked, 0) AS BIGINT) AS n_checked,
        CAST(coalesce(n_fail, 0) AS BIGINT) AS n_fail,
        CAST(coalesce(n_fail, 0) = 0 AS INT) AS pass
      FROM rows_v
      ORDER BY qa_category""") +
    // q319: elig_plr line-level battery — exists-a-better-zip anti-
    // test, ref re-attach, ACH recompute, rounded-pct cohort flags,
    // clip bounds, capped-age ride-along over the factored q166 chain.
    ("q319_apcd_elig_plr_qa" -> s"""
      WITH $ApcdPlrCtes,
      zd AS (
        SELECT id_apcd AS zid, geo_zip,
          sum(date_diff('day',
            greatest(from_date, DATE '1995-01-01'),
            least(to_date, DATE '1995-12-31')) + 1) AS dur
        FROM ov GROUP BY id_apcd, geo_zip),
      pickd AS (
        SELECT p.id_apcd, p.geo_zip AS picked, z.dur AS dur_p
        FROM plr p LEFT JOIN zd z ON p.id_apcd = z.zid
          AND p.geo_zip IS NOT DISTINCT FROM z.geo_zip),
      viol AS (
        SELECT DISTINCT k.id_apcd
        FROM pickd k JOIN zd z ON k.id_apcd = z.zid
        WHERE z.dur > k.dur_p OR (z.dur = k.dur_p
          AND coalesce(z.geo_zip, '') < coalesce(k.picked, ''))),
      geoj AS (
        SELECT p.id_apcd, p.geo_county, p.geo_ach,
          c.geo_county AS exp_county, a.geo_ach AS exp_ach
        FROM plr p
        LEFT JOIN county c ON p.geo_zip = c.zip_code
        LEFT JOIN achref a ON p.geo_zip = a.zip_code),
      achx AS (
        SELECT p.id_apcd, sum(date_diff('day',
          greatest(o.from_date, DATE '1995-01-01'),
          least(o.to_date, DATE '1995-12-31')) + 1) AS exp_ach_covd
        FROM plr p JOIN ov o
          ON p.id_apcd = o.id_apcd AND p.geo_ach = o.geo_ach
        GROUP BY p.id_apcd),
      achj AS (
        SELECT p.id_apcd, p.geo_ach_covd, p.geo_ach_covper,
          x.exp_ach_covd
        FROM plr p LEFT JOIN achx x USING (id_apcd)),
      demox AS (
        SELECT id_apcd,
          CASE WHEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
                / 365.25) >= 90 OR ninety_only = 1 THEN 90
            WHEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
                / 365.25) >= 0
              THEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
                / 365.25)
            WHEN floor((date_diff('day', dob, DATE '1995-12-31') + 1)
                / 365.25) = -1 THEN 0 END AS exp_age,
          ninety_only AS d_ninety, gender_me AS d_gender_me,
          race_eth_me AS d_race_eth_me, race_latino AS d_race_latino
        FROM dm),
      demoj AS (
        SELECT p.id_apcd, p.age, p.age_grp7, p.gender_me, p.race_eth_me,
          p.race_latino, d.exp_age, d.d_ninety, d.d_gender_me,
          d.d_race_eth_me, d.d_race_latino
        FROM plr p LEFT JOIN demox d USING (id_apcd)),
      rows_v AS (
        SELECT 'geo_zip_longest_duration' AS qa_category,
          count(*) AS n_checked,
          sum(CASE WHEN v.id_apcd IS NOT NULL THEN 1 ELSE 0 END)
            AS n_fail
        FROM plr p LEFT JOIN viol v USING (id_apcd)
        UNION ALL
        SELECT 'geo_ref_attach', count(*),
          sum(CASE WHEN geo_county IS DISTINCT FROM exp_county
            OR geo_ach IS DISTINCT FROM exp_ach THEN 1 ELSE 0 END)
        FROM geoj
        UNION ALL
        SELECT 'geo_ach_covd_recompute', count(*),
          sum(CASE WHEN geo_ach_covd IS DISTINCT FROM exp_ach_covd
            OR geo_ach_covper IS DISTINCT FROM
              round(exp_ach_covd * 1.0 / 365 * 100.0, 1)
            THEN 1 ELSE 0 END)
        FROM achj
        UNION ALL
        SELECT 'cohort_flags_on_rounded_pct', count(*),
          sum(CASE WHEN geo_wa IS DISTINCT FROM
              (CASE WHEN geo_county IS NOT NULL THEN 1 ELSE 0 END)
            OR overall_mcaid IS DISTINCT FROM
              (CASE WHEN geo_county IS NOT NULL
                AND (med_medicaid_covd >= 1 OR pharm_medicaid_covd >= 1)
                THEN 1 ELSE 0 END)
            OR medical_coverage_6mo IS DISTINCT FROM
              (CASE WHEN geo_county IS NOT NULL
                AND med_total_covper >= 50.0 THEN 1 ELSE 0 END)
            OR medical_coverage_7mo IS DISTINCT FROM
              (CASE WHEN geo_county IS NOT NULL
                AND med_total_covper >= 58.3 THEN 1 ELSE 0 END)
            OR medical_coverage_11mo IS DISTINCT FROM
              (CASE WHEN geo_county IS NOT NULL
                AND med_total_covper >= 91.7 THEN 1 ELSE 0 END)
            OR dual_flag IS DISTINCT FROM
              (CASE WHEN dual_covd > 0 THEN 1 ELSE 0 END)
            OR med_total_covper IS DISTINCT FROM
              round(med_total_covd * 1.0 / 365 * 100.0, 1)
            OR dual_covper IS DISTINCT FROM
              round(dual_covd * 1.0 / 365 * 100.0, 1)
            OR pharm_total_covper IS DISTINCT FROM
              round(pharm_total_covd * 1.0 / 365 * 100.0, 1)
            THEN 1 ELSE 0 END)
        FROM plr
        UNION ALL
        SELECT 'covd_within_window_disjoint_members',
          sum(CASE WHEN multi_flag IS NULL AND olap IS NULL
            THEN 1 ELSE 0 END),
          sum(CASE WHEN multi_flag IS NULL AND olap IS NULL
            AND (med_total_covd < 0 OR med_total_covd > 365
            OR dual_covd < 0 OR dual_covd > 365
            OR med_medicaid_covd < 0 OR med_medicaid_covd > 365
            OR med_medicare_covd < 0 OR med_medicare_covd > 365
            OR med_commercial_covd < 0 OR med_commercial_covd > 365
            OR pharm_total_covd < 0 OR pharm_total_covd > 365
            OR pharm_medicaid_covd < 0 OR pharm_medicaid_covd > 365
            OR pharm_medicare_covd < 0 OR pharm_medicare_covd > 365
            OR pharm_commercial_covd < 0 OR pharm_commercial_covd > 365)
            THEN 1 ELSE 0 END)
        FROM plr p
        LEFT JOIN (
          SELECT DISTINCT id_apcd, 1 AS multi_flag FROM (
            SELECT id_apcd, from_date, to_date,
              count(DISTINCT (med_covgrp, pharm_covgrp, med_medicaid,
                med_medicare, med_commercial, pharm_medicaid,
                pharm_medicare, pharm_commercial)) AS nfl
            FROM ov GROUP BY id_apcd, from_date, to_date)
          WHERE nfl > 1) mf USING (id_apcd)
        LEFT JOIN (
          SELECT DISTINCT x.id_apcd, 1 AS olap
          FROM (SELECT DISTINCT id_apcd, from_date, to_date FROM ov) x
          JOIN (SELECT DISTINCT id_apcd, from_date, to_date FROM ov) y
            ON x.id_apcd = y.id_apcd
            AND (x.from_date < y.from_date OR (x.from_date = y.from_date
              AND x.to_date < y.to_date))
            AND y.from_date <= x.to_date) ol USING (id_apcd)
        UNION ALL
        SELECT 'demo_ride_along', count(*),
          sum(CASE WHEN age IS DISTINCT FROM exp_age
            OR age_grp7 IS DISTINCT FROM (CASE
              WHEN age >= 0 AND age < 5 THEN '0-4'
              WHEN age >= 5 AND age < 12 THEN '5-11'
              WHEN age >= 12 AND age < 18 THEN '12-17'
              WHEN age >= 18 AND age < 25 THEN '18-24'
              WHEN age >= 25 AND age < 45 THEN '25-44'
              WHEN age >= 45 AND age < 65 THEN '45-64'
              WHEN age >= 65 OR d_ninety = 1 THEN '65 and over' END)
            OR gender_me IS DISTINCT FROM d_gender_me
            OR race_eth_me IS DISTINCT FROM d_race_eth_me
            OR race_latino IS DISTINCT FROM d_race_latino
            THEN 1 ELSE 0 END)
        FROM demoj
        UNION ALL
        SELECT 'one_row_per_member', count(*),
          sum(CASE WHEN c <> 1 THEN 1 ELSE 0 END)
        FROM (SELECT id_apcd, count(*) AS c FROM plr
          GROUP BY id_apcd))
      SELECT 'stage.apcd_elig_plr' AS table_name, qa_category,
        CAST(coalesce(n_checked, 0) AS BIGINT) AS n_checked,
        CAST(coalesce(n_fail, 0) AS BIGINT) AS n_fail,
        CAST(coalesce(n_fail, 0) = 0 AS INT) AS pass
      FROM rows_v
      ORDER BY qa_category""") +
    // q320: CCW line-level battery — per-condition set-mechanics
    // re-derivation (per-condition joins + any-pair-within-window self
    // join) compared against the build chain's three condition frames.
    ("q320_apcd_ccw_line_qa" -> ("""
      WITH """ + ApcdCcwFixtureCtes + "," + ccwOracleCtes("id_apcd") +
      """,
      bld AS (
        SELECT * FROM hyfin UNION ALL SELECT * FROM dbfin
        UNION ALL SELECT * FROM stfin),
      mcl1 AS (SELECT DISTINCT id_apcd, chid FROM dxr WHERE hypo = 1),
      ev1 AS (SELECT DISTINCT m.id_apcd, h.ctid, h.fsd
        FROM mcl1 m JOIN hdr h ON m.chid = h.chid),
      c1_1 AS (SELECT DISTINCT id_apcd, fsd FROM ev1
        WHERE ctid IN (1,2,3)),
      red1 AS (SELECT id_apcd, min(fsd) AS rfirst, max(fsd) AS rlast
        FROM c1_1 GROUP BY id_apcd),
      bld1 AS (SELECT id_apcd, first_encounter_date AS bf,
        last_encounter_date AS bl FROM bld WHERE ccw_code = 1),
      v1 AS (
        SELECT CAST(1 AS INT) AS ccw_code,
          'Acquired hypothyroidism' AS ccw_desc,
          CAST(coalesce(sum(inb), 0) AS BIGINT) AS n_build,
          CAST(coalesce(sum(inr), 0) AS BIGINT) AS n_rederived,
          CAST(coalesce(sum(CASE WHEN inb IS NULL OR inr IS NULL
            THEN 1 END), 0) AS BIGINT) AS n_member_mismatch,
          CAST(coalesce(sum(CASE WHEN inb = 1 AND inr = 1
            AND (bf IS DISTINCT FROM rfirst OR bl IS DISTINCT FROM
              rlast) THEN 1 END), 0) AS BIGINT) AS n_span_mismatch
        FROM (SELECT id_apcd, 1 AS inb, bf, bl FROM bld1) x
        FULL OUTER JOIN (SELECT id_apcd, 1 AS inr, rfirst, rlast
          FROM red1) y USING (id_apcd)),
      mcl2 AS (SELECT DISTINCT id_apcd, chid FROM dxr
        WHERE diab = 1 AND dxnum IN ('01','02')),
      xcl2 AS (SELECT DISTINCT id_apcd, chid FROM dxr
        WHERE diab_ex = 1),
      cln2 AS (SELECT m.id_apcd, m.chid FROM mcl2 m
        WHERE NOT EXISTS (SELECT 1 FROM xcl2 x
          WHERE x.id_apcd = m.id_apcd AND x.chid = m.chid)),
      ev2 AS (SELECT DISTINCT m.id_apcd, h.ctid, h.fsd
        FROM cln2 m JOIN hdr h ON m.chid = h.chid),
      c1_2 AS (SELECT DISTINCT id_apcd, fsd FROM ev2 WHERE ctid IN (1)),
      c2_2 AS (SELECT DISTINCT id_apcd, fsd FROM ev2
        WHERE ctid IN (2,4,5)),
      c2p_2 AS (SELECT DISTINCT a.id_apcd, a.fsd
        FROM c2_2 a JOIN c2_2 b ON a.id_apcd = b.id_apcd
          AND a.fsd <> b.fsd
          AND abs((year(a.fsd) * 12 + month(a.fsd))
            - (year(b.fsd) * 12 + month(b.fsd))) <= 24),
      per2 AS (SELECT id_apcd FROM c1_2
        UNION SELECT id_apcd FROM c2p_2),
      dat2 AS (SELECT id_apcd, fsd FROM c1_2
        UNION SELECT id_apcd, fsd FROM c2p_2),
      red2 AS (SELECT p.id_apcd, min(d.fsd) AS rfirst,
          max(d.fsd) AS rlast
        FROM per2 p JOIN dat2 d USING (id_apcd) GROUP BY p.id_apcd),
      bld2 AS (SELECT id_apcd, first_encounter_date AS bf,
        last_encounter_date AS bl FROM bld WHERE ccw_code = 2),
      v2 AS (
        SELECT CAST(2 AS INT), 'Diabetes',
          CAST(coalesce(sum(inb), 0) AS BIGINT),
          CAST(coalesce(sum(inr), 0) AS BIGINT),
          CAST(coalesce(sum(CASE WHEN inb IS NULL OR inr IS NULL
            THEN 1 END), 0) AS BIGINT),
          CAST(coalesce(sum(CASE WHEN inb = 1 AND inr = 1
            AND (bf IS DISTINCT FROM rfirst OR bl IS DISTINCT FROM
              rlast) THEN 1 END), 0) AS BIGINT)
        FROM (SELECT id_apcd, 1 AS inb, bf, bl FROM bld2) x
        FULL OUTER JOIN (SELECT id_apcd, 1 AS inr, rfirst, rlast
          FROM red2) y USING (id_apcd)),
      mcl3 AS (SELECT DISTINCT id_apcd, chid FROM dxr
        WHERE stroke = 1 AND ver = 10 AND dxnum = '01'),
      xcl3 AS (SELECT DISTINCT id_apcd, chid FROM dxr
        WHERE stroke_ex = 1 AND dxnum IN ('01','02')),
      cln3 AS (SELECT m.id_apcd, m.chid FROM mcl3 m
        WHERE NOT EXISTS (SELECT 1 FROM xcl3 x
          WHERE x.id_apcd = m.id_apcd AND x.chid = m.chid)),
      ev3 AS (SELECT DISTINCT m.id_apcd, h.ctid, h.fsd
        FROM cln3 m JOIN hdr h ON m.chid = h.chid),
      c1_3 AS (SELECT DISTINCT id_apcd, fsd FROM ev3 WHERE ctid IN (1)),
      c2_3 AS (SELECT DISTINCT id_apcd, fsd FROM ev3
        WHERE ctid IN (2,4)),
      c2p_3 AS (SELECT DISTINCT a.id_apcd, a.fsd
        FROM c2_3 a JOIN c2_3 b ON a.id_apcd = b.id_apcd
          AND a.fsd <> b.fsd
          AND abs((year(a.fsd) * 12 + month(a.fsd))
            - (year(b.fsd) * 12 + month(b.fsd))) <= 12),
      per3 AS (SELECT id_apcd FROM c1_3
        UNION SELECT id_apcd FROM c2p_3),
      dat3 AS (SELECT id_apcd, fsd FROM c1_3
        UNION SELECT id_apcd, fsd FROM c2p_3),
      red3 AS (SELECT p.id_apcd, min(d.fsd) AS rfirst,
          max(d.fsd) AS rlast
        FROM per3 p JOIN dat3 d USING (id_apcd) GROUP BY p.id_apcd),
      bld3 AS (SELECT id_apcd, first_encounter_date AS bf,
        last_encounter_date AS bl FROM bld WHERE ccw_code = 3),
      v3 AS (
        SELECT CAST(3 AS INT), 'Stroke / TIA',
          CAST(coalesce(sum(inb), 0) AS BIGINT),
          CAST(coalesce(sum(inr), 0) AS BIGINT),
          CAST(coalesce(sum(CASE WHEN inb IS NULL OR inr IS NULL
            THEN 1 END), 0) AS BIGINT),
          CAST(coalesce(sum(CASE WHEN inb = 1 AND inr = 1
            AND (bf IS DISTINCT FROM rfirst OR bl IS DISTINCT FROM
              rlast) THEN 1 END), 0) AS BIGINT)
        FROM (SELECT id_apcd, 1 AS inb, bf, bl FROM bld3) x
        FULL OUTER JOIN (SELECT id_apcd, 1 AS inr, rfirst, rlast
          FROM red3) y USING (id_apcd))
      SELECT ccw_code, ccw_desc, n_build, n_rederived,
        n_member_mismatch, n_span_mismatch,
        CAST(n_member_mismatch = 0 AND n_span_mismatch = 0 AS INT)
          AS pass
      FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2
        UNION ALL SELECT * FROM v3)
      ORDER BY ccw_code""")) +
    ("q321_nppes_apde_load" -> nppesOracle) +
    ("q322_hedis_value_sets" -> hedisOracle) +
    ("q323_rda_value_sets" -> rdaOracle) +
    // q324: FDA NDC product load — all-VARCHAR projection + the
    // U+FFFD labeler-name strip.
    ("q324_fda_ndc_product" -> """
      SELECT productid, productndc, producttypename, proprietaryname,
        replace(labelername, chr(65533), '') AS labelername,
        substancename
      FROM (
        SELECT 'P' || CAST(p_partkey % 5000 AS VARCHAR) AS productid,
          lpad(CAST(p_partkey % 99999 AS VARCHAR), 5, '0') || '-' ||
            lpad(CAST(p_partkey % 999 AS VARCHAR), 3, '0')
            AS productndc,
          CASE WHEN p_partkey % 3 = 0 THEN 'HUMAN PRESCRIPTION DRUG'
            ELSE 'HUMAN OTC DRUG' END AS producttypename,
          p_name AS proprietaryname,
          CASE WHEN p_partkey % 9 = 0
            THEN 'ACME' || chr(65533) || ' PHARMA' || chr(65533) ||
              ' ' || CAST(p_partkey % 70 AS VARCHAR)
            ELSE 'ACME PHARMA ' || CAST(p_partkey % 70 AS VARCHAR) END
            AS labelername,
          p_type AS substancename
        FROM part)
      ORDER BY productndc, productid""") +
    // q325: timevar monthly member census — month allocation against
    // the q290 dim, the King-Medicaid census with the reference's
    // distinct-(id, month, dual, bsp) projection-then-count semantics,
    // the nine coverage arms, and the per-covgrp census.
    ("q325_apcd_timevar_month_qa" -> (dateDimOracleBody + ",\n      " +
      ApcdPlrCtes + s""",
      spine AS (
        SELECT DISTINCT year_month AS ym, first_day_month,
          last_day_month
        FROM dim WHERE year_month BETWEEN 199201 AND 199812),
      ovm AS (
        SELECT t.*, s.ym FROM tv t JOIN spine s
          ON t.from_date <= s.last_day_month
          AND t.to_date >= s.first_day_month),
      kc AS (
        SELECT 'overall_medicaid_by_month' AS section,
          'WA-APCD' AS data_source, 'Overall Medicaid' AS coverage,
          ym AS year_month, CAST(count(*) AS BIGINT) AS id_dcount
        FROM (SELECT DISTINCT id_apcd, ym, dual, bsp_group_cid
          FROM ovm WHERE geo_county = 'King'
            AND (med_medicaid = 1 OR pharm_medicaid = 1))
        GROUP BY ym),
      wa0 AS (
        SELECT DISTINCT id_apcd, ym, med_medicaid, med_medicare,
          med_commercial, pharm_medicaid, pharm_medicare,
          pharm_commercial, dental_medicaid, dental_medicare,
          dental_commercial
        FROM ovm WHERE geo_wa = 1),
      wac AS (
        SELECT ym,
          sum(CASE WHEN med_medicaid = 1 THEN 1 ELSE 0 END) AS c1,
          sum(CASE WHEN med_medicare = 1 THEN 1 ELSE 0 END) AS c2,
          sum(CASE WHEN med_commercial = 1 THEN 1 ELSE 0 END) AS c3,
          sum(CASE WHEN pharm_medicaid = 1 THEN 1 ELSE 0 END) AS c4,
          sum(CASE WHEN pharm_medicare = 1 THEN 1 ELSE 0 END) AS c5,
          sum(CASE WHEN pharm_commercial = 1 THEN 1 ELSE 0 END) AS c6,
          sum(CASE WHEN dental_medicaid = 1 THEN 1 ELSE 0 END) AS c7,
          sum(CASE WHEN dental_medicare = 1 THEN 1 ELSE 0 END) AS c8,
          sum(CASE WHEN dental_commercial = 1 THEN 1 ELSE 0 END) AS c9
        FROM wa0 GROUP BY ym),
      wa AS (
        SELECT 'wa_by_month_coverage' AS section,
          'WA-APCD' AS data_source, coverage, ym AS year_month,
          CAST(id_dcount AS BIGINT) AS id_dcount
        FROM (
          SELECT ym, 'Medicaid medical' AS coverage, c1 AS id_dcount
            FROM wac
          UNION ALL SELECT ym, 'Medicare medical', c2 FROM wac
          UNION ALL SELECT ym, 'Commercial medical', c3 FROM wac
          UNION ALL SELECT ym, 'Medicaid pharmacy', c4 FROM wac
          UNION ALL SELECT ym, 'Medicare pharmacy', c5 FROM wac
          UNION ALL SELECT ym, 'Commercial pharmacy', c6 FROM wac
          UNION ALL SELECT ym, 'Medicaid dental', c7 FROM wac
          UNION ALL SELECT ym, 'Medicare dental', c8 FROM wac
          UNION ALL SELECT ym, 'Commercial dental', c9 FROM wac)),
      covg AS (
        SELECT 'med_covgrp_census' AS section, 'WA-APCD' AS data_source,
          CAST(med_covgrp AS VARCHAR) AS coverage,
          CAST(NULL AS INT) AS year_month,
          CAST(count(DISTINCT id_apcd) AS BIGINT) AS id_dcount
        FROM tv GROUP BY med_covgrp)
      SELECT * FROM (
        SELECT * FROM kc UNION ALL SELECT * FROM wa
        UNION ALL SELECT * FROM covg)
      ORDER BY section, coverage, year_month""")) +
    ("q290_date_dim" -> (dateDimOracleBody + """
      SELECT * FROM dim ORDER BY "date"""")) +
    ("q291_date_dim_qa" -> (dateDimOracleBody + """,
      st AS (SELECT count(*) AS n,
        sum(CASE WHEN year_month_day = year("date") * 10000
          + month("date") * 100 + day("date") THEN 1 ELSE 0 END) AS m1,
        sum(CASE WHEN year_month_day <> year("date") * 10000
          + month("date") * 100 + day("date") THEN 1 ELSE 0 END) AS x1,
        sum(CASE WHEN year_month = year("date") * 100 + month("date")
          THEN 1 ELSE 0 END) AS m2,
        sum(CASE WHEN year_month <> year("date") * 100 + month("date")
          THEN 1 ELSE 0 END) AS x2,
        sum(CASE WHEN year_quarter = year("date") * 100
          + quarter("date") THEN 1 ELSE 0 END) AS m3,
        sum(CASE WHEN year_quarter <> year("date") * 100
          + quarter("date") THEN 1 ELSE 0 END) AS x3,
        sum(CASE WHEN year = year("date") THEN 1 ELSE 0 END) AS m4,
        sum(CASE WHEN year <> year("date") THEN 1 ELSE 0 END) AS x4
        FROM dim)
      SELECT qa_item, observed, expected, CAST(pass AS INT) AS pass
      FROM (
        SELECT 'row_count' AS qa_item, n AS observed, n AS expected,
          1 AS pass FROM st
        UNION ALL SELECT 'match_year_month_day', m1, n,
          CASE WHEN m1 = n THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'mismatch_year_month_day', x1,
          CAST(0 AS BIGINT), CASE WHEN x1 = 0 THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'match_year_month', m2, n,
          CASE WHEN m2 = n THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'mismatch_year_month', x2, CAST(0 AS BIGINT),
          CASE WHEN x2 = 0 THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'match_year_quarter', m3, n,
          CASE WHEN m3 = n THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'mismatch_year_quarter', x3,
          CAST(0 AS BIGINT), CASE WHEN x3 = 0 THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'match_year', m4, n,
          CASE WHEN m4 = n THEN 1 ELSE 0 END FROM st
        UNION ALL SELECT 'mismatch_year', x4, CAST(0 AS BIGINT),
          CASE WHEN x4 = 0 THEN 1 ELSE 0 END FROM st)
      ORDER BY qa_item""")) +
    ("q283_apcd_provider_npi" -> (providerNpiOracleBody +
      "\n      ORDER BY provider_id_apcd, npi")) +
    // q285: the QA battery over the SAME composed body — providers
    // with >1 row, NPIs with digit length != 10 (the three planted
    // provider_master rows).
    ("q285_provider_npi_qa" -> s"""
      WITH ref AS MATERIALIZED ($providerNpiOracleBody)
      SELECT 'ref.apcd_provider_npi' AS "table",
        '# of NPIs with length != 10, expect 0' AS qa_type,
        count(*) AS qa
      FROM ref WHERE len(CAST(npi AS VARCHAR)) <> 10
      UNION ALL
      SELECT 'ref.apcd_provider_npi',
        '# of provider IDs with >1 row, expect 0', count(*)
      FROM (SELECT provider_id_apcd FROM ref GROUP BY 1
        HAVING count(*) > 1)
      ORDER BY qa_type""") +
    // q284: ethnicity-map update probe — incl. the reference's
    // id2-probe-joins-on-id1 quirk, replicated verbatim.
    ("q284_ethnicity_map_check" -> """
      WITH elig AS (
        SELECT CAST(c_custkey % 30 AS BIGINT) AS ethnicity_id1,
          CAST((c_custkey * 7) % 37 AS BIGINT) AS ethnicity_id2
        FROM customer),
      map AS (
        SELECT ethnicity_id,
          'ETH ' || CAST(ethnicity_id AS VARCHAR) AS ethnicity_desc,
          ethnicity_id % 5 AS race_id,
          'RACE ' || CAST(ethnicity_id % 5 AS VARCHAR) AS race_desc
        FROM (SELECT DISTINCT CAST(c_custkey % 25 AS BIGINT)
          AS ethnicity_id FROM customer))
      SELECT DISTINCT 'ethnicity_id1' AS variable,
        e.ethnicity_id1 AS unmapped_id, m.ethnicity_desc, m.race_id,
        m.race_desc
      FROM elig e LEFT JOIN map m ON e.ethnicity_id1 = m.ethnicity_id
      WHERE m.race_desc IS NULL
      UNION ALL
      SELECT DISTINCT 'ethnicity_id2', e.ethnicity_id2,
        m.ethnicity_desc, m.race_id, m.race_desc
      FROM elig e LEFT JOIN map m ON e.ethnicity_id1 = m.ethnicity_id
      WHERE m.race_desc IS NULL
      ORDER BY variable, unmapped_id""") +
    ("q278_mcaid_mcare_pipeline" ->
      mcaidMcarePipelineOracleSql(baseOracleSql)) +
    ("q279_analytic_pipeline" -> pipelineOracleSql(baseOracleSql)) +
    ("q280_address_clean_partial_qa" -> addressQaOracleSql) +
    ("q281_address_geocode_chain" -> geocodeChainOracleSql) +
    // q286: chronic-meds fuzzy crosswalk — '%'-stripped names match
    // anywhere (str_detect is unanchored), plain names anchor '^';
    // regexp_matches is DuckDB's unanchored search, mirroring rlike.
    ("q286_chronic_meds" -> """
      WITH meds AS (
        SELECT DISTINCT lower(p_name) AS ndc_desc FROM part),
      ml AS (
        SELECT drug_name, med_category,
          CASE WHEN drug_name LIKE '%\%%' ESCAPE '\'
            THEN replace(drug_name, '%', '')
            ELSE '^' || drug_name END AS match_name
        FROM (VALUES ('spring%', 'seasonal'), ('golden', 'metallic'),
          ('%peru%', 'regional'), ('navy', 'marine'),
          ('drab snow', 'weather'), ('antique%', 'vintage'))
          t(drug_name, med_category))
      SELECT m.ndc_desc, l.drug_name, l.med_category, l.match_name
      FROM meds m LEFT JOIN ml l
        ON regexp_matches(m.ndc_desc, l.match_name)
      ORDER BY m.ndc_desc, l.drug_name""") +
    // q287: dbo.CSVToTable — append ',', ONE non-overlapping ',,'->','
    // replace pass, every prefix inserted, final remainder dropped.
    ("q287_csv_to_table" -> """
      WITH segs AS (
        SELECT string_agg(seg, ',,' ORDER BY seg) AS s
        FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer)),
      inputs AS (
        SELECT * FROM (VALUES ('plain', '1,2,3'), ('double', 'a,,b'),
          ('triple', 'x,,,y'), ('empty', ''), ('lone_comma', ','),
          ('solo', 'solo'), ('trailing', 't1,t2,')) t(label, s)
        UNION ALL SELECT 'segments', s FROM segs),
      f AS (
        SELECT label,
          string_split(replace(s || ',', ',,', ','), ',') AS parts
        FROM inputs),
      u AS (
        SELECT label, parts,
          unnest(generate_series(1, len(parts) - 1)) AS g
        FROM f)
      SELECT label, CAST(g AS INT) AS pos, parts[CAST(g AS INT)] AS id
      FROM u
      ORDER BY label, pos""") +
    // q282: ICD-CM master refresh — the oracle regenerates the SAME
    // fixed-width order-file lines the Spark side round-trips through
    // real text files, parses them with the reference's substr(7,12)/
    // substr(17,77) positions, replays the pre-trim year-ordered
    // exact-duplicate drop, and the keep-first (old beats new,
    // earliest year wins) combine via a (prio, description)-ordered
    // row_number pick.
    ("q282_icdcm_refresh" -> (
      "WITH " + icdcmMasterOracleCtes("") + """
      SELECT icdcode, dx_description, ver FROM im_master
      ORDER BY ver, icdcode""")) +
    ("q326_icdcm_enrich" -> icdcmEnrichOracleSql) +
    // q327: the ethnicity→race map LOAD — the oracle regenerates the
    // shared q284/q327 map rows under the archive yaml's declared
    // types; the Spark side must round-trip them through a REAL csv
    // (with a prior half-map overwritten by the full load).
    ("q327_ethnicity_map_load" -> """
      WITH ids AS (SELECT DISTINCT c_custkey % 25 AS eid FROM customer)
      SELECT CAST(eid AS INTEGER) AS ethnicity_id,
        'ETH ' || CAST(eid AS VARCHAR) AS ethnicity_desc,
        CAST(eid % 5 AS TINYINT) AS race_id,
        'RACE ' || CAST(eid % 5 AS VARCHAR) AS race_desc
      FROM ids ORDER BY ethnicity_id""") +
    // q328: KC claim-type crosswalk csv load under its yaml schema.
    ("q328_claim_type_xwalk" -> """
      WITH pks AS (SELECT DISTINCT p_partkey % 60 AS pk FROM part)
      SELECT
        CASE WHEN pk % 3 = 0 THEN CAST(pk AS VARCHAR)
          WHEN pk % 3 = 1 THEN 'M' || CAST(pk AS VARCHAR)
          ELSE 'AP' || lpad(CAST(pk AS VARCHAR), 3, '0') END
          AS source_clm_type_id,
        'SRC TYPE ' || CAST(pk AS VARCHAR) AS source_clm_type_desc,
        CASE WHEN pk % 3 = 0 THEN 'ProviderOne'
          WHEN pk % 3 = 1 THEN 'Medicare' ELSE 'WA-APCD' END
          AS source_desc,
        CAST(pk % 5 + 1 AS TINYINT) AS kc_clm_type_id,
        'KC TYPE ' || CAST(pk % 5 + 1 AS VARCHAR) AS kc_clm_type_desc
      FROM pks ORDER BY source_desc, source_clm_type_id""") +
    // q329: AHRQ value-set publish — the 12-char prefix strip
    // (SUBSTRING(code, 13, LEN-12); the 12-char-exact plant lands the
    // empty string).
    ("q329_ahrq_value_set" -> """
      WITH pks AS (SELECT DISTINCT p_partkey % 150 AS pk FROM part),
      tmp AS (
        SELECT
          CASE WHEN pk % 2 = 0 THEN 'PQI' ELSE 'PDI' END
            AS value_set_group,
          (CASE WHEN pk % 2 = 0 THEN 'PQI ' ELSE 'PDI ' END)
            || lpad(CAST(pk % 16 AS VARCHAR), 2, '0') AS value_set_name,
          CASE WHEN pk % 3 = 0 THEN 'diagnosis'
            WHEN pk % 3 = 1 THEN 'procedure' ELSE 'discharge' END
            AS data_source_type,
          CASE WHEN pk % 3 = 0 THEN 'ICD10CM'
            WHEN pk % 3 = 1 THEN 'ICD10PCS' ELSE 'MSDRG' END
            AS code_set,
          'XSECTORXREF:' || CASE WHEN pk % 17 = 0 THEN ''
            WHEN pk % 3 = 0 THEN 'I' || lpad(CAST(pk AS VARCHAR), 4, '0')
            WHEN pk % 3 = 1 THEN '0' || lpad(CAST(pk AS VARCHAR), 6, '0')
            ELSE lpad(CAST(pk AS VARCHAR), 3, '0') END AS code,
          CASE WHEN pk % 11 = 0 THEN NULL
            ELSE 'DESC ' || CAST(pk AS VARCHAR) END AS desc_1
        FROM pks)
      SELECT value_set_group, value_set_name, data_source_type,
        code_set, substring(code, 13, length(code) - 12) AS code,
        desc_1
      FROM tmp
      ORDER BY value_set_name, data_source_type, code_set, code""") +
    // q330: the non-APDE NPPES load — comma scrub + trim survive the
    // file round trip; positional rename to the yaml names.
    ("q330_nppes_load" -> """
      WITH c AS (SELECT c_custkey AS ck FROM customer)
      SELECT CAST(1000000000 + ck % 5000 AS VARCHAR) AS npi,
        CASE WHEN ck % 7 = 0 THEN NULL
          ELSE CAST(ck % 2 + 1 AS VARCHAR) END AS entity_type_code,
        CASE WHEN ck % 2 = 0
          THEN 'ACME INC ' || CAST(ck % 40 AS VARCHAR) END AS name_org,
        CASE WHEN ck % 2 = 1
          THEN 'LASTJR ' || CAST(ck % 40 AS VARCHAR) END AS name_last,
        'CITY' || CAST(ck % 30 AS VARCHAR) AS address_practice_city,
        CASE WHEN ck % 5 = 0 THEN 'WA' ELSE 'OR' END
          AS address_practice_state,
        lpad(CAST(ck % 99999 AS VARCHAR), 5, '0')
          AS address_practice_zip_code
      FROM c ORDER BY npi""") +
    // q331: the tmp-mode mcare CCW battery — replays the q230 build
    // oracle (the q246 audit-replays-the-pinned-frame discipline),
    // the fixture demo/timevar, the T-SQL age with the -1→0 clamp,
    // and the five STEP-1 sections.
    ("q331_mcare_ccw_tmp_qa" -> s"""
      WITH ccw AS MATERIALIZED (${baseOracleSql("q230_mcare_ccw")}),
      eids AS (SELECT DISTINCT c_custkey % 75 AS eid FROM customer),
      demo AS (
        SELECT 'mc' || CAST(eid AS VARCHAR) AS id_mcare,
          CASE eid % 9
            WHEN 0 THEN DATE '1992-07-01'
            WHEN 1 THEN DATE '1989-07-01'
            WHEN 2 THEN DATE '1982-07-01'
            WHEN 3 THEN DATE '1975-07-01'
            WHEN 4 THEN DATE '1960-07-01'
            WHEN 5 THEN DATE '1940-07-01'
            WHEN 6 THEN DATE '1920-07-01'
            WHEN 7 THEN DATE '1996-06-01'
            ELSE DATE '1997-06-01' END AS dob
        FROM eids WHERE eid % 11 <> 10),
      aged AS (
        SELECT id_mcare AS demo_id,
          CASE WHEN a >= 0 AND a < 5 THEN '0-4'
            WHEN a >= 5 AND a < 12 THEN '5-11'
            WHEN a >= 12 AND a < 18 THEN '12-17'
            WHEN a >= 18 AND a < 25 THEN '18-24'
            WHEN a >= 25 AND a < 45 THEN '25-44'
            WHEN a >= 45 AND a < 65 THEN '45-64'
            WHEN a >= 65 THEN '65 and over' END AS age_grp7
        FROM (
          SELECT id_mcare,
            CASE WHEN floor((datediff('day', dob, DATE '1995-12-31')
                + 1) / 365.25) >= 0
              THEN floor((datediff('day', dob, DATE '1995-12-31')
                + 1) / 365.25)
              WHEN floor((datediff('day', dob, DATE '1995-12-31')
                + 1) / 365.25) = -1 THEN 0 END AS a
          FROM demo)),
      tv AS (
        SELECT 'mc' || CAST(eid AS VARCHAR) AS id_mcare,
          DATE '1994-03-01' AS from_date, DATE '1995-05-31' AS to_date
        FROM eids WHERE eid % 4 <> 3
        UNION ALL
        SELECT 'mc' || CAST(eid AS VARCHAR), DATE '1998-01-01',
          DATE '1998-06-30'
        FROM eids),
      s4base AS (
        SELECT DISTINCT id_mcare, ccw_code, ccw_desc FROM ccw
        WHERE year(first_encounter_date) <= 1995
          AND year(last_encounter_date) >= 1995)
      SELECT * FROM (
        SELECT 'cond_person_dcount' AS qa_section,
          CAST(ccw_code AS INTEGER) AS ccw_code, ccw_desc,
          CAST(NULL AS VARCHAR) AS age_grp7,
          count(DISTINCT id_mcare) AS id_dcount
        FROM ccw GROUP BY ccw_code, ccw_desc
        UNION ALL
        SELECT 'demo_person_dcount', NULL, NULL, NULL,
          count(DISTINCT id_mcare) FROM demo
        UNION ALL
        SELECT 'cond_count', NULL, NULL, NULL,
          count(DISTINCT ccw_code) FROM ccw
        UNION ALL
        SELECT 'cond_age7', CAST(b.ccw_code AS INTEGER), b.ccw_desc,
          a.age_grp7, count(DISTINCT b.id_mcare)
        FROM s4base b LEFT JOIN aged a ON b.id_mcare = a.demo_id
        GROUP BY b.ccw_code, b.ccw_desc, a.age_grp7
        UNION ALL
        SELECT 'timevar_age7', NULL, NULL, a.age_grp7,
          count(DISTINCT t.id_mcare)
        FROM (SELECT id_mcare FROM tv
          WHERE year(from_date) <= 1995 AND year(to_date) >= 1995) t
        LEFT JOIN aged a ON t.id_mcare = a.demo_id
        GROUP BY a.age_grp7)
      ORDER BY qa_section, ccw_code, ccw_desc, age_grp7""") +
    // q332: raw mcaid CLAIM partial-load QA — the address-EXCLUDED
    // distinctness vs distinct CLM_LINE_TCN (the planted resubmitted
    // lines differ only in billing address), the etl-expectation row
    // count with the qa_load_file.R PASS-note double-assignment
    // quirk, and the FROM_SRVC_DATE range.
    ("q332_raw_claim_load_qa" -> """
      WITH keys AS (
        SELECT DISTINCT l_orderkey AS ok, l_linenumber AS ln
        FROM lineitem),
      f AS (
        SELECT ok * 10 + ln AS clm_line_tcn,
          ok AS tcn, DATE '1992-01-01' + CAST(ok % 2000 AS INT) AS fsd,
          CAST((ok + ln) % 31 AS VARCHAR) AS ctc,
          'ADDR ' || CAST(ok % 100 AS VARCHAR) AS addr1,
          'SRV ' || CAST(ln * 7 % 50 AS VARCHAR) AS addr2,
          CASE WHEN (ok + ln) % 3 = 0 THEN NULL
            ELSE 'MCO ' || CAST(ok % 7 AS VARCHAR) END AS addr3,
          'C' || CAST(ok % 39 AS VARCHAR) AS addr4
        FROM keys),
      dup AS (
        SELECT clm_line_tcn, tcn, fsd, ctc, 'ADDR RESUBMIT', addr2,
          addr3, addr4
        FROM f WHERE tcn % 37 = 0 AND clm_line_tcn % 10 = 1),
      raw AS (SELECT * FROM f UNION ALL SELECT * FROM dup),
      m AS (
        SELECT count(*) AS n,
          (SELECT count(*) FROM (SELECT DISTINCT clm_line_tcn, tcn,
            fsd, ctc FROM raw)) AS d,
          count(DISTINCT clm_line_tcn) AS tcn_d
        FROM raw)
      SELECT CAST(4001 AS INT) AS etl_batch_id,
        'load_raw.mcaid_claim' AS table_name, qa_item, qa_result, note
      FROM (
        SELECT 'Number rows loaded to SQL vs. expected value(s)'
            AS qa_item, 'PASS' AS qa_result,
          'Number of rows loaded to SQL match expected value(s): '
            AS note
        FROM m
        UNION ALL SELECT 'Distinct TCNs',
          CASE WHEN d = tcn_d THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN d = tcn_d THEN 'Number of distinct TCNs equals ' ||
            'total # rows (after excluding address fields)'
            ELSE 'No. distinct TCNs did not match rows even after ' ||
              'excluding addresses' END
        FROM m
        UNION ALL SELECT 'Actual vs. expected date range in data',
          'PASS',
          'Date range of table(s) loaded to SQL match(es) expected ' ||
            'value(s)'
        FROM m)
      ORDER BY qa_item""") +
    // q333: raw mcaid ELIG partial-load QA — the six-check battery;
    // the NULL-share note renders from the exact integer
    // milli-percent (RawLoadQa.pctString's SQL twin).
    ("q333_raw_elig_load_qa" -> """
      WITH raw AS (
        SELECT 'H' || lpad(CAST(o_custkey % 800 AS VARCHAR), 6, '0')
            AS mbr,
          year(CAST(o_orderdate AS DATE)) * 100
            + month(CAST(o_orderdate AS DATE)) AS ym,
          'R' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS rid,
          CASE WHEN o_orderkey % 80 = 0 THEN NULL
            ELSE CAST(o_orderdate AS DATE) END AS rac_from,
          CAST(o_orderdate AS DATE) + 59 AS rac_to,
          CAST(o_orderkey % 9000 + 1000 AS VARCHAR) AS rac,
          CASE WHEN o_orderkey % 4 = 0 THEN 'Aged Out'
            WHEN o_orderkey % 4 = 1 THEN 'Review Done'
            WHEN o_orderkey % 4 = 2 THEN NULL ELSE 'Other' END AS ern,
          CASE WHEN o_orderkey % 3 = 0 THEN 'DualEligible'
            WHEN o_orderkey % 3 = 1 THEN 'PartialDual' ELSE 'N/A' END
            AS dual
        FROM orders),
      m AS (
        SELECT count(*) AS n,
          (SELECT count(*) FROM (SELECT DISTINCT mbr, ym, rid,
            rac_from, rac_to, rac, ern, dual FROM raw)) AS d,
          min(length(rid)) AS id_min, max(length(rid)) AS id_max,
          min(length(rac)) AS rac_min, max(length(rac)) AS rac_max,
          count(CASE WHEN rac_from IS NULL THEN 1 END) AS nulls
        FROM raw),
      p AS (
        SELECT m.*, (nulls * 100000 * 2 + n) // (2 * n) AS milli
        FROM m),
      p2 AS (
        SELECT p.*,
          CAST(milli // 1000 AS VARCHAR) ||
            CASE WHEN milli % 1000 = 0 THEN ''
              ELSE '.' || rtrim(lpad(CAST(milli % 1000 AS VARCHAR),
                3, '0'), '0') END AS pct
        FROM p)
      SELECT CAST(4002 AS INT) AS etl_batch_id,
        'load_raw.mcaid_elig' AS table_name, qa_item, qa_result, note
      FROM (
        SELECT 'Number rows loaded to SQL vs. expected value(s)'
            AS qa_item, 'PASS' AS qa_result,
          'Number of rows loaded to SQL match expected value(s): '
            AS note
        FROM p2
        UNION ALL SELECT
          CASE WHEN d = n THEN 'Distinct rows (ID, CLNDR_YEAR_MNTH, ' ||
            'FROM/TO DATE, RAC_CODE, END_REASON_NAME, ' ||
            'DUALELIGIBLE_INDICATOR)'
            ELSE 'Distinct rows (MBR_H_SID, CLNDR_YEAR_MNTH, ' ||
              'MEDICAID_RECIPIENT_ID, RAC_FROM_DATE, RAC_TO_DATE, ' ||
              'RAC_CODE, END_REASON_NAME, DUALELIGIBLE_INDICATOR)' END,
          CASE WHEN d = n THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN d = n THEN 'Number of distinct rows equals ' ||
            'total # rows (' || CAST(n AS VARCHAR) || ')'
            ELSE 'Number distinct rows (' || CAST(d AS VARCHAR) ||
              ') != total rows (' || CAST(n AS VARCHAR) || ')' END
        FROM p2
        UNION ALL SELECT 'Actual vs. expected date range in data',
          'PASS',
          'Date range of table(s) loaded to SQL match(es) expected ' ||
            'value(s)'
        FROM p2
        UNION ALL SELECT 'Length of Medicaid ID',
          CASE WHEN id_min = 11 AND id_max = 11 THEN 'PASS'
            ELSE 'FAIL' END,
          CASE WHEN id_min = 11 AND id_max = 11
            THEN 'All Medicaid IDs were 11 characters'
            ELSE 'Minimum ID length was ' || CAST(id_min AS VARCHAR) ||
              ', maximum was ' || CAST(id_max AS VARCHAR) END
        FROM p2
        UNION ALL SELECT 'Length of RAC codes',
          CASE WHEN rac_min = 4 AND rac_max = 4 THEN 'PASS'
            ELSE 'FAIL' END,
          CASE WHEN rac_min = 4 AND rac_max = 4
            THEN 'All RAC codes were 4 characters'
            ELSE 'Min RAC_CODE length was ' ||
              CAST(rac_min AS VARCHAR) || ', max was ' ||
              CAST(rac_max AS VARCHAR) END
        FROM p2
        UNION ALL SELECT 'NULL from dates',
          CASE WHEN milli <= 20000 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN milli <= 20000
            THEN '<2% of from date rows were null (' || pct ||
              '% of total rows)'
            ELSE 'There were ' || CAST(nulls AS VARCHAR) ||
              ' NULL from dates (' || pct || '% of total rows)' END
        FROM p2)
      ORDER BY qa_item""") +
    // q334: the mcare delivery normalization — the oracle derives the
    // post-normalization shape directly; the Spark side earns it
    // through real comma/pipe files, the long/alt header renames, and
    // the dictionary reorder/NULL-pad (mechanics pinned by spec).
    ("q334_mcare_raw_normalize" -> """
      WITH fa AS (
        SELECT 'B' || lpad(CAST(c_custkey % 900 AS VARCHAR), 6, '0')
            AS bene_id,
          'C' || CAST((c_custkey * 13) % 100000 AS VARCHAR) AS clm_id,
          '2023-' || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0')
            || '-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
            AS first_service_date,
          CAST(c_custkey % 5000 AS VARCHAR) || '.50' AS paid_amt,
          CAST(NULL AS VARCHAR) AS filetype,
          'mcare_bcarrier_claims_2023.csv' AS file_name
        FROM customer),
      fb AS (
        SELECT 'B' || lpad(CAST(o_custkey % 900 AS VARCHAR), 6, '0'),
          'D' || CAST(o_orderkey % 100000 AS VARCHAR),
          '2026-' || lpad(CAST(o_orderkey % 12 + 1 AS VARCHAR), 2, '0')
            || '-01',
          CAST(NULL AS VARCHAR), 'bcarrier',
          'mcare_bcarrier_claims_2026.csv'
        FROM orders)
      SELECT * FROM (SELECT * FROM fa UNION ALL SELECT * FROM fb)
      ORDER BY file_name, bene_id, clm_id""") +
    // q335: the delivery's metadata arms — the new_flag proposal at
    // column_order 6 and the two etl_log entries (the 2026 file's
    // batch year reduced to 2024 by the maxyear quirk).
    ("q335_mcare_raw_etl" -> """
      WITH ca AS (SELECT count(*) AS n FROM customer),
      oa AS (SELECT count(*) AS n FROM orders)
      SELECT * FROM (
        SELECT 'new_column' AS section, CAST(NULL AS VARCHAR)
            AS file_name,
          'mcare_bcarrier_claims' AS table_name,
          'new_flag' AS column_name, 'VARCHAR(255)' AS column_type,
          '6' AS column_order, CAST(NULL AS VARCHAR) AS date_min,
          CAST(NULL AS VARCHAR) AS date_max,
          CAST(NULL AS VARCHAR) AS row_cnt
        UNION ALL
        SELECT 'etl_log', 'mcare_bcarrier_claims_2023.csv.gz',
          'mcare_bcarrier_claims', NULL, NULL, NULL, '2023-01-01',
          '2023-12-31', CAST(ca.n AS VARCHAR)
        FROM ca
        UNION ALL
        SELECT 'etl_log', 'mcare_bcarrier_claims_2026.csv.gz',
          'mcare_bcarrier_claims', NULL, NULL, NULL, '2024-01-01',
          '2024-12-31', CAST(oa.n AS VARCHAR)
        FROM oa)
      ORDER BY section, file_name, column_order""") +
    // q336: the pre-load delivery QA — month spans, the rpm drift vs
    // the previous delivery's literals, the month distribution, and
    // the whole-month expected-date stepping (day-clamped, month-end
    // counts whole).
    ("q336_delivery_qa" -> """
      WITH e AS (
        SELECT year(CAST(o_orderdate AS DATE)) * 100
          + month(CAST(o_orderdate AS DATE)) AS ym
        FROM orders),
      em AS (SELECT count(*) AS n, min(ym) AS ym0, max(ym) AS ym1,
        count(DISTINCT ym) AS mc FROM e),
      ef AS (
        SELECT *,
          make_date(CAST(ym0 // 100 AS INT), CAST(ym0 % 100 AS INT), 1)
            AS mind,
          last_day(make_date(CAST(ym1 // 100 AS INT),
            CAST(ym1 % 100 AS INT), 1)) AS maxd,
          (ym1 // 100 * 12 + ym1 % 100)
            - (ym0 // 100 * 12 + ym0 % 100) + 1 AS span
        FROM em),
      c AS (
        SELECT year(CAST(l_shipdate AS DATE)) * 100
          + month(CAST(l_shipdate AS DATE)) AS ym
        FROM lineitem),
      cm AS (SELECT count(*) AS n, min(ym) AS ym0, max(ym) AS ym1,
        count(DISTINCT ym) AS mc FROM c),
      cf AS (
        SELECT *,
          make_date(CAST(ym0 // 100 AS INT), CAST(ym0 % 100 AS INT), 1)
            AS mind,
          last_day(make_date(CAST(ym1 // 100 AS INT),
            CAST(ym1 % 100 AS INT), 1)) AS maxd,
          (ym1 // 100 * 12 + ym1 % 100)
            - (ym0 // 100 * 12 + ym0 % 100) + 1 AS span
        FROM cm)
      SELECT * FROM (
        SELECT 'file' AS section,
          'mcaid_elig_20250415.txt' AS file_name,
          CAST(NULL AS INT) AS ym, CAST(NULL AS BIGINT) AS n,
          CAST(NULL AS DOUBLE) AS perc, 'elig' AS type,
          '2025-04-15' AS del_date, CAST(mind AS VARCHAR) AS min_date,
          CAST(maxd AS VARCHAR) AS max_date, 'PASS' AS col_qa,
          n AS row_cnt,
          (CAST(n AS DOUBLE) / span - 18.0) / 18.0 AS rpm_diff,
          mc AS mon_cnt,
          CASE WHEN mc = 80 THEN 'PASS' ELSE 'FAIL' END AS monvprev,
          CASE WHEN
            (year(mind) * 12 + month(mind)) - (1994 * 12 + 12)
              - CASE WHEN day(mind) < 1
                  AND day(mind) <> day(last_day(mind)) THEN 1
                ELSE 0 END = 1
            AND (year(maxd) * 12 + month(maxd)) - (2001 * 12 + 7)
              - CASE WHEN day(maxd) < 31
                  AND day(maxd) <> day(last_day(maxd)) THEN 1
                ELSE 0 END = 1
            THEN 'PASS' ELSE 'FAIL' END AS expdates
        FROM ef
        UNION ALL
        SELECT 'file', 'mcaid_claims_20250415.txt', NULL, NULL, NULL,
          'claims', '2025-04-15', CAST(mind AS VARCHAR),
          CAST(maxd AS VARCHAR), 'FAIL', n,
          (CAST(n AS DOUBLE) / span - 700.0) / 700.0, mc,
          CASE WHEN mc = 5 THEN 'PASS' ELSE 'FAIL' END,
          CASE WHEN
            (year(mind) * 12 + month(mind)) - (1995 * 12 + 1)
              - CASE WHEN day(mind) < 1
                  AND day(mind) <> day(last_day(mind)) THEN 1
                ELSE 0 END = 1
            AND (year(maxd) * 12 + month(maxd)) - (2001 * 12 + 9)
              - CASE WHEN day(maxd) < 30
                  AND day(maxd) <> day(last_day(maxd)) THEN 1
                ELSE 0 END = 1
            THEN 'PASS' ELSE 'FAIL' END
        FROM cf
        UNION ALL
        SELECT 'month', 'mcaid_elig_20250415.txt', CAST(ym AS INT),
          count(*), CAST(count(*) AS DOUBLE) / (SELECT n FROM em),
          NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
        FROM e GROUP BY ym
        UNION ALL
        SELECT 'month', 'mcaid_claims_20250415.txt', CAST(ym AS INT),
          count(*), CAST(count(*) AS DOUBLE) / (SELECT n FROM cm),
          NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
        FROM c GROUP BY ym)
      ORDER BY section, file_name, ym""")

  /** Shared q146/q280 address-clean oracle template: the full
    * clean-chain replica with the `fresh` CTE's restriction
    * parameterized — q146 is the hash anti-join increment, q280's
    * prior-ref arm is the k%4 slice under an empty ref (the
    * q154/q230 shared-generator discipline). */
  private def addressCleanOracleSql(freshWhere: String): String =
    """
      WITH ks AS (SELECT DISTINCT c_custkey % 300 AS k FROM customer),
      raw0 AS (
        SELECT k,
          CASE WHEN k % 11 = 0 THEN '#' || CAST(100 + k % 90 AS VARCHAR)
            WHEN k % 7 = 0 THEN 'P O BOX  ' || CAST(k % 500 AS VARCHAR)
            ELSE CAST(k % 900 AS VARCHAR) || '  MAIN ST'
            END AS geo_add1_raw,
          CASE WHEN k % 5 = 0 THEN 'APT ' || CAST(k % 20 AS VARCHAR)
            END AS geo_add2_raw,
          'city' || CAST(k % 40 AS VARCHAR) AS geo_city_raw,
          CASE WHEN k % 3 = 0 THEN 'wa' ELSE 'OR' END AS geo_state_raw,
          lpad(CAST(k % 999 AS VARCHAR), 5, '0') AS geo_zip_raw
        FROM ks),
      stage AS (
        SELECT *, upper(sha256(
          coalesce(geo_add1_raw, '') || '|' || coalesce(geo_add2_raw, '')
          || '|' || '' || '|' || geo_city_raw || '|' || geo_state_raw
          || '|' || geo_zip_raw)) AS geo_hash_raw
        FROM raw0),
      fresh AS (
        SELECT DISTINCT geo_add1_raw, geo_add2_raw, geo_city_raw,
          geo_state_raw, geo_zip_raw, geo_hash_raw
        FROM stage
        """ + freshWhere + """),
      cleaned0 AS (
        SELECT *,
          CASE WHEN po <> '' THEN NULL ELSE a1 END AS add1,
          CASE WHEN po <> '' THEN 'PO BOX ' || po END AS po_box
        FROM (
          SELECT f.*,
            nullif(regexp_replace(trim(upper(geo_add1_raw)), ' +', ' ', 'g'),
              '') AS a1,
            regexp_extract(
              nullif(regexp_replace(trim(upper(geo_add1_raw)), ' +', ' ',
                'g'), ''), '^P\.? ?O\.? BOX ([0-9]+)$', 1) AS po,
            nullif(regexp_replace(trim(upper(geo_add2_raw)), ' +', ' ', 'g'),
              '') AS add2_0,
            nullif(regexp_replace(trim(upper(geo_city_raw)), ' +', ' ', 'g'),
              '') AS city,
            nullif(regexp_replace(trim(upper(geo_state_raw)), ' +', ' ',
              'g'), '') AS state,
            nullif(regexp_replace(trim(upper(geo_zip_raw)), ' +', ' ', 'g'),
              '') AS zip
          FROM fresh f)),
      norm1 AS (
        SELECT *, CASE WHEN add2_0 IS NULL AND geo_add1_raw LIKE '#%'
          THEN geo_add1_raw ELSE add2_0 END AS add2_1
        FROM cleaned0),
      norm2 AS (
        SELECT *, CASE WHEN add1 IS NULL AND po_box IS NOT NULL
          THEN po_box ELSE add1 END AS add1_2
        FROM norm1),
      normed AS (
        SELECT geo_add1_raw, geo_add2_raw, geo_city_raw, geo_state_raw,
          geo_zip_raw, add1_2 AS geo_add1_clean,
          CASE WHEN add1_2 = po_box THEN add2_1
            WHEN add2_1 IS NULL AND po_box IS NOT NULL
              AND add1_2 IS NOT NULL THEN po_box
            WHEN add2_1 IS NOT NULL AND po_box IS NOT NULL
              AND add1_2 IS NOT NULL THEN add2_1 || ' ' || po_box
            ELSE add2_1 END AS geo_add2_clean,
          city AS geo_city_clean, state AS geo_state_clean,
          zip AS geo_zip_clean
        FROM norm2),
      manual AS (
        SELECT geo_add1_raw, geo_add2_raw, geo_city_raw, geo_state_raw,
          geo_zip_raw, 'FIXED ' || CAST(k AS VARCHAR) AS geo_add1_clean,
          CAST(NULL AS VARCHAR) AS geo_add2_clean,
          'FIXEDCITY' AS geo_city_clean, 'WA' AS geo_state_clean,
          geo_zip_raw AS geo_zip_clean
        FROM raw0 WHERE k % 13 = 1),
      overridden AS (
        SELECT n.* FROM normed n
        WHERE NOT EXISTS (SELECT 1 FROM manual m
          WHERE n.geo_add1_raw IS NOT DISTINCT FROM m.geo_add1_raw
            AND n.geo_add2_raw IS NOT DISTINCT FROM m.geo_add2_raw
            AND n.geo_city_raw IS NOT DISTINCT FROM m.geo_city_raw
            AND n.geo_state_raw IS NOT DISTINCT FROM m.geo_state_raw
            AND n.geo_zip_raw IS NOT DISTINCT FROM m.geo_zip_raw)
        UNION ALL
        SELECT m.* FROM manual m
        WHERE EXISTS (SELECT 1 FROM normed n
          WHERE n.geo_add1_raw IS NOT DISTINCT FROM m.geo_add1_raw
            AND n.geo_add2_raw IS NOT DISTINCT FROM m.geo_add2_raw
            AND n.geo_city_raw IS NOT DISTINCT FROM m.geo_city_raw
            AND n.geo_state_raw IS NOT DISTINCT FROM m.geo_state_raw
            AND n.geo_zip_raw IS NOT DISTINCT FROM m.geo_zip_raw))
      SELECT geo_add1_raw, geo_add2_raw, CAST(NULL AS VARCHAR)
          AS geo_add3_raw,
        geo_city_raw, geo_state_raw, geo_zip_raw,
        upper(sha256(coalesce(geo_add1_raw, '') || '|'
          || coalesce(geo_add2_raw, '') || '|' || '' || '|'
          || coalesce(geo_city_raw, '') || '|'
          || coalesce(geo_state_raw, '') || '|'
          || coalesce(geo_zip_raw, ''))) AS geo_hash_raw,
        geo_add1_clean, geo_add2_clean, geo_city_clean, geo_state_clean,
        geo_zip_clean,
        upper(sha256(coalesce(geo_add1_clean, '') || '|'
          || coalesce(geo_add2_clean, '') || '|'
          || coalesce(geo_city_clean, '') || '|'
          || coalesce(geo_state_clean, '') || '|'
          || coalesce(geo_zip_clean, ''))) AS geo_hash_clean,
        upper(sha256(coalesce(geo_add1_clean, '') || '|'
          || coalesce(geo_city_clean, '') || '|'
          || coalesce(geo_state_clean, '') || '|'
          || coalesce(geo_zip_clean, ''))) AS geo_hash_geocode,
        0 AS geo_geocode_skip
      FROM overridden
      ORDER BY geo_hash_raw"""

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q01_agg" -> """
      SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        round(avg(l_quantity), 4) AS avg_qty,
        count(*) AS count_order,
        count(DISTINCT l_orderkey) AS n_orders
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_filter_pred" -> """
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
        o_orderpriority
      FROM orders
      WHERE o_orderstatus = 'O'
        AND lower(o_orderpriority) IN ('1-urgent', '2-high')
        AND o_totalprice >= 1000.0
        AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
      ORDER BY o_orderkey""",

    "q03_join_inner" -> """
      SELECT n_name,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",

    "q04_join_left" -> """
      SELECT c_custkey, c_mktsegment,
        count(o_orderkey) AS n_orders,
        round(coalesce(sum(o_totalprice), 0.0), 2) AS spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment
      ORDER BY c_custkey""",

    "q05_join_semi" -> """
      SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q06_join_anti" -> """
      SELECT c_nationkey, count(*) AS n_customers_no_orders
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q07_join_full" -> """
      WITH cn AS (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer GROUP BY 1),
           sn AS (SELECT s_nationkey AS nk_s, count(*) AS n_supp FROM supplier GROUP BY 1)
      SELECT coalesce(nk_c, nk_s) AS nationkey,
        coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      FROM cn FULL OUTER JOIN sn ON nk_c = nk_s
      ORDER BY nationkey""",

    "q08_join_range" -> """
      SELECT o_orderstatus, count(*) AS n_lines_shipped_30d,
        round(sum(l_extendedprice), 2) AS value_shipped_30d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        AND l_shipdate >= o_orderdate
        AND l_shipdate <= CAST(o_orderdate::DATE + 30 AS TIMESTAMP)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q09_join_theta_prefix" -> """
      SELECT prefix, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
      FROM part p
      JOIN (SELECT DISTINCT substring(p_type, 1, 6) AS prefix FROM part) x
        ON starts_with(p.p_type, x.prefix)
      GROUP BY prefix ORDER BY prefix""",

    "q10_cross_spine" -> """
      WITH months AS (
        SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-01',
          INTERVAL 1 MONTH))::DATE AS month),
      segs AS (SELECT DISTINCT c_mktsegment FROM customer),
      counts AS (
        SELECT c_mktsegment, date_trunc('month', o_orderdate)::DATE AS month,
          count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE year(o_orderdate) = 1996
        GROUP BY 1, 2)
      SELECT s.c_mktsegment, m.month, coalesce(c.n_orders, 0) AS n_orders
      FROM segs s CROSS JOIN months m
      LEFT JOIN counts c ON c.c_mktsegment = s.c_mktsegment AND c.month = m.month
      ORDER BY s.c_mktsegment, m.month""",

    "q11_agg_cond" -> """
      WITH o AS (
        SELECT l_orderkey,
          max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return,
          max(CASE WHEN l_discount >= 0.08 THEN 1 ELSE 0 END) AS has_deep_discount
        FROM lineitem GROUP BY l_orderkey)
      SELECT has_return, has_deep_discount, count(*) AS n_orders
      FROM o GROUP BY 1, 2 ORDER BY has_return, has_deep_discount""",

    "q12_count_distinct" -> """
      SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_suppliers,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_orderkey) AS n_orders
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q13_mode" -> """
      WITH counted AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      ranked AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
        FROM counted)
      SELECT event_type AS modal_type, count(*) AS n_users
      FROM ranked WHERE rn = 1 GROUP BY 1 ORDER BY modal_type""",

    "q14_weighted_mode" -> """
      WITH s AS (
        SELECT user_id, event_type, sum(value) AS wt
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      ranked AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY wt DESC, event_type) AS rn
        FROM s)
      SELECT user_id, event_type AS weighted_type
      FROM ranked WHERE rn = 1 ORDER BY user_id""",

    "q15_topn" -> """
      WITH totals AS (
        SELECT l_partkey, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY l_partkey)
      SELECT l_partkey, total_qty, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT *, rank() OVER (ORDER BY total_qty DESC, l_partkey) AS rnk
        FROM totals)
      WHERE rnk <= 10 ORDER BY rnk""",

    "q16_greatest_least" -> """
      SELECT l_returnflag,
        round(avg(greatest(l_tax, l_discount)), 6) AS avg_greatest,
        round(avg(least(l_tax, l_discount)), 6) AS avg_least
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q17_median" -> """
      SELECT l_returnflag,
        round(avg(l_quantity), 4) AS mean_qty,
        round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q18_tabloop" -> """
      WITH o AS (SELECT *, year(o_orderdate)::VARCHAR AS o_year FROM orders),
      res AS (
        SELECT o_orderstatus, 'o_orderpriority' AS group_cat,
          o_orderpriority::VARCHAR AS group_value,
          count(*) AS n, round(sum(o_totalprice), 2) AS amt
        FROM o GROUP BY 1, 3
        UNION ALL
        SELECT o_orderstatus, 'o_year' AS group_cat, o_year AS group_value,
          count(*) AS n, round(sum(o_totalprice), 2) AS amt
        FROM o GROUP BY 1, 3),
      fdims AS (SELECT DISTINCT o_orderstatus FROM o),
      ldims AS (
        SELECT DISTINCT 'o_orderpriority' AS group_cat,
          o_orderpriority::VARCHAR AS group_value FROM o
        UNION
        SELECT DISTINCT 'o_year' AS group_cat, o_year AS group_value FROM o)
      SELECT f.o_orderstatus, l.group_cat, l.group_value,
        coalesce(r.n, 0) AS n, coalesce(r.amt, 0.0) AS amt
      FROM fdims f CROSS JOIN ldims l
      LEFT JOIN res r ON r.o_orderstatus = f.o_orderstatus
        AND r.group_cat = l.group_cat AND r.group_value = l.group_value
      ORDER BY f.o_orderstatus, l.group_cat, l.group_value""",

    "q19_suppress" -> """
      SELECT c_nationkey, c_mktsegment,
        CASE WHEN n BETWEEN 1 AND 5 THEN NULL ELSE n END AS n
      FROM (SELECT c_nationkey, c_mktsegment, count(*) AS n
            FROM customer GROUP BY 1, 2)
      ORDER BY c_nationkey, c_mktsegment""",

    "q20_pct_of_group" -> """
      SELECT o_orderstatus, o_orderpriority, n,
        round(n * 100.0 / sum(n) OVER (PARTITION BY o_orderstatus), 4) AS pct
      FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders GROUP BY 1, 2)
      ORDER BY o_orderstatus, o_orderpriority""",

    "q21_lag_gaps" -> """
      WITH g AS (
        SELECT o_custkey,
          date_diff('day',
            lag(o_orderdate) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey)::DATE,
            o_orderdate::DATE) AS gap
        FROM orders)
      SELECT o_custkey, count(*) AS n_orders,
        CAST(max(gap) AS INTEGER) AS max_gap,
        round(avg(gap), 4) AS avg_gap
      FROM g GROUP BY o_custkey
      HAVING count(*) >= 2
      ORDER BY o_custkey""",

    "q22_sessions" -> """
      WITH w AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER uw IS NULL
            OR (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER uw) // 1000000) > 1800
            THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id,
          sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM w)
      SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        count(*) AS n_events
      FROM s GROUP BY user_id ORDER BY user_id""",

    "q23_rolling" -> """
      WITH monthly AS (
        SELECT c_mktsegment, date_trunc('month', o_orderdate)::DATE AS month,
          sum(o_totalprice) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2)
      SELECT c_mktsegment, month, round(rev, 2) AS rev,
        round(sum(rev) OVER (PARTITION BY c_mktsegment ORDER BY month
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rev_3m
      FROM monthly ORDER BY c_mktsegment, month""",

    "q24_running_fill" -> """
      SELECT o_custkey, o_orderkey,
        count(*) OVER w AS order_seq,
        round(sum(o_totalprice) OVER w, 2) AS spend_to_date,
        (min(o_orderdate) OVER w)::DATE AS first_order_date
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS UNBOUNDED PRECEDING)
      ORDER BY o_custkey, order_seq""",

    "q25_rank_select" -> """
      WITH r AS (
        SELECT *, row_number() OVER (PARTITION BY l_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_top_lines,
        round(sum(l_extendedprice), 2) AS sum_top_price
      FROM r WHERE rn = 1 GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q26_episodes" -> """
      WITH w AS (
        SELECT user_id, event_type, ts, event_id,
          CASE WHEN lag(ts) OVER uw IS NULL
            OR (epoch_us(ts) // 1000000) - (epoch_us(lag(ts) OVER uw) // 1000000) > 3600
            THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)),
      e AS (
        SELECT user_id, event_type,
          sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS episode_seq
        FROM w)
      SELECT event_type,
        count(DISTINCT concat_ws('#', user_id::VARCHAR, episode_seq::VARCHAR))
          AS n_episodes,
        count(*) AS n_events
      FROM e GROUP BY event_type ORDER BY event_type""",

    "q27_union_nullpad" -> """
      WITH y95 AS (
        SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS o_orderpriority
        FROM orders WHERE year(o_orderdate) = 1995),
      y96 AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE year(o_orderdate) = 1996),
      u AS (SELECT * FROM y95 UNION ALL SELECT * FROM y96)
      SELECT count(*) AS n_rows, count(o_orderpriority) AS n_with_priority,
        round(sum(o_totalprice), 2) AS total
      FROM u""",

    "q28_setops" -> """
      WITH oc AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
           bc AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
      SELECT 'except' AS op, count(*) AS n FROM
        (SELECT DISTINCT * FROM (SELECT * FROM oc EXCEPT SELECT * FROM bc))
      UNION ALL
      SELECT 'intersect' AS op, count(*) AS n FROM
        (SELECT DISTINCT * FROM (SELECT * FROM oc INTERSECT SELECT * FROM bc))
      UNION ALL
      SELECT 'union' AS op, count(*) AS n FROM
        (SELECT DISTINCT * FROM (SELECT * FROM oc UNION SELECT * FROM bc))
      ORDER BY op""",

    "q29_scalar_dates" -> """
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS yyyymm,
        last_day(o_orderdate)::DATE AS month_end,
        CAST((1998 * 12 + 1) - (year(o_orderdate) * 12 + month(o_orderdate))
          AS INTEGER) AS months_to_1998,
        count(*) AS n
      FROM orders GROUP BY 1, 2, 3 ORDER BY yyyymm""",

    "q30_scalar_strings" -> """
      WITH p AS (
        SELECT p_brand,
          lpad(p_size::VARCHAR, 5, '0') AS size_pad,
          upper(substring(p_type, 1, 8)) AS type_prefix,
          length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS consonants
        FROM part)
      SELECT p_brand, count(*) AS n,
        min(size_pad) AS min_size_pad,
        max(type_prefix) AS max_type_prefix,
        CAST(sum(consonants) AS BIGINT) AS sum_consonants
      FROM p GROUP BY p_brand ORDER BY p_brand""",

    "q31_unpivot" -> """
      WITH lng AS (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem)
      SELECT l_returnflag, measure, round(sum(val), 2) AS total
      FROM lng GROUP BY 1, 2 ORDER BY l_returnflag, measure""",

    "q32_case_bucket" -> """
      WITH b AS (
        SELECT c_acctbal,
          CASE WHEN c_acctbal < 0 THEN 'negative'
               WHEN c_acctbal < 3000 THEN 'low'
               WHEN c_acctbal < 7000 THEN 'mid'
               ELSE 'high' END AS bal_band
        FROM customer)
      SELECT bal_band, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
      FROM b GROUP BY bal_band ORDER BY bal_band""",

    "q33_incremental_merge" -> """
      WITH merged AS (
        SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        UNION ALL
        SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n,
        round(sum(o_totalprice), 2) AS total
      FROM merged GROUP BY 1 ORDER BY yr""",

    "q34_dedup_exact" -> """
      WITH fp AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f,
          doc_id
        FROM documents),
      groups AS (
        SELECT f, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM fp GROUP BY f)
      SELECT count(*) AS n_unique,
        CAST(sum(n_copies) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_groups,
        max(n_copies) AS max_copies
      FROM groups""",

    "q35_text_profile" -> """
      WITH prof AS (
        SELECT lang, length(text) AS nch,
          len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
            AS n_bpeish,
          (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
            * 1.0 / greatest(length(text), 1) AS punct_ratio,
          length(regexp_replace(trim(text), '\s+', '', 'g')) * 1.0
            / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)
            AS mean_tok_len
        FROM documents),
      scored AS (
        SELECT lang, n_tokens, n_bpeish, punct_ratio,
          round(((CASE WHEN nch BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN punct_ratio < 0.3 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN mean_tok_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END))
            / 3.0, 4) AS quality
        FROM prof)
      SELECT lang, count(*) AS n_docs,
        round(avg(n_tokens), 4) AS avg_tokens,
        round(avg(n_bpeish), 4) AS avg_bpeish,
        round(avg(punct_ratio), 6) AS avg_punct,
        round(avg(quality), 4) AS avg_quality
      FROM scored GROUP BY lang ORDER BY lang""",

    "q36_langid" -> """
      WITH t AS (
        SELECT lang,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
      h AS (
        SELECT lang,
          len(list_filter(toks, x -> x IN ('der','die','und','das','ist','von','den','ein'))) AS h_de,
          len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it'))) AS h_en,
          len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los','del'))) AS h_es,
          len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une'))) AS h_fr,
          len(list_filter(toks, x -> x IN ('de5','shi4','le5','zai4','you3','wo3','ta1','men5'))) AS h_zh
        FROM t),
      p AS (
        SELECT lang,
          CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
               WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
               WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
               WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
               WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
               ELSE 'zh' END AS lang_pred
        FROM h)
      SELECT lang, lang_pred, count(*) AS n
      FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred""",

    "q37_fingerprint" -> """
      SELECT source, count(*) AS n_docs,
        count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
          AS n_distinct_fp
      FROM documents GROUP BY source ORDER BY source""",

    // q38/q40: LSH/banding only *generates candidates*; the emitted pairs
    // are exact-Jaccard-verified, so the exact all-pairs SQL is a true
    // oracle whenever candidate recall is 1 — verified against this very
    // dataset (driver runs sf0.01; both plans are deterministic).
    "q38_minhash_neardup" -> """
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1),
          4) AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
        >= 0.5
      ORDER BY id_a, id_b""",

    // q39: full brute-force SimHash oracle — FNV-1a 64-bit (HUGEINT-mod
    // wrap-around multiply) folded per token, 64-lane sign accumulation,
    // then all-pairs bit_count(xor) <= maxHamming. The 8x8-bit pigeonhole
    // buckets in the Spark plan are sound for hamming <= 7, so brute force
    // and the bucketed plan emit identical pair sets.
    "q39_simhash_neardup" -> """
      WITH toks AS (
        SELECT doc_id,
          unnest(string_split(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents),
      hashed AS (
        SELECT doc_id,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(tok) + 1),
                             i -> unicode(substr(tok, i, 1))::HUGEINT)),
            (h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT
                       * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS h
        FROM toks),
      bits AS (
        SELECT doc_id, bs.b AS bit,
          CASE WHEN sum(CASE WHEN (h >> bs.b) % 2 = 1 THEN 1 ELSE -1 END) > 0
               THEN 1 ELSE 0 END AS bitval
        FROM hashed CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bs
        GROUP BY doc_id, bs.b),
      sigs AS (
        SELECT doc_id,
          sum(bitval::HUGEINT * (1::HUGEINT << bit))::HUGEINT AS sig
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        bit_count(xor(a.sig::UBIGINT, b.sig::UBIGINT))::BIGINT AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE hamming <= 6
      ORDER BY id_a, id_b""",

    "q40_ngram_jaccard" -> """
      WITH d AS (
        SELECT doc_id, source,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, source,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1),
          4) AS jaccard
      FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
        >= 0.5
      ORDER BY id_a, id_b""",

    // q43: the cosine verify after OR-amplified LSH makes the exact
    // all-pairs filter a true oracle at full candidate recall; on this
    // corpus the true pair set at 0.95 is empty (max pairwise cosine 0.51)
    // — recall semantics are pinned by DedupSpec's planted fixtures.
    "q43_embedding_neardup" -> """
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
          4) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        >= 0.95
      ORDER BY id_a, id_b""",

    "q41_ann_brute" -> """
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
            AS cosine
        FROM q CROSS JOIN embeddings c),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
        round(cosine, 4) AS cosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q42: the FULL IVF pipeline under a hard oracle — integer Lloyd on
    // the shifted int8 grid (init = 8 lowest-id vectors, 3 generated
    // iteration CTEs replaying argmin-distance assignment + floor-div
    // centroid means), integer probe selection, exact-cosine top-k.
    "q42_ann_ivf" -> ("""
      WITH qz AS (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s
        FROM embeddings),
      qvec AS (
        SELECT vec_id, embedding,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 127::BIGINT)
            ELSE list_transform(embedding,
              x -> CAST(round(x::DOUBLE / s, 0) AS BIGINT) + 127) END AS q
        FROM qz),
      cen0 AS (
        SELECT CAST(rn - 1 AS INTEGER) AS cell, q AS cv
        FROM (SELECT q, row_number() OVER (ORDER BY vec_id) AS rn
              FROM qvec)
        WHERE rn <= 8),""" +
      (1 to 3).map(ivfIter).mkString(",") + s""",
      fin AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT v.vec_id, v.embedding, c.cell,
            row_number() OVER (PARTITION BY v.vec_id
              ORDER BY ${ivfDist("v.q", "c.cv")}, c.cell) AS rn
          FROM qvec v CROSS JOIN cen3 c) WHERE rn = 1),
      probes AS (
        SELECT query_id, qemb, cell FROM (
          SELECT v.vec_id AS query_id, v.embedding AS qemb, c.cell,
            row_number() OVER (PARTITION BY v.vec_id
              ORDER BY ${ivfDist("v.q", "c.cv")}, c.cell) AS rn
          FROM qvec v CROSS JOIN cen3 c
          WHERE v.vec_id < 5) WHERE rn <= 4),
      scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          list_cosine_similarity(p.qemb::DOUBLE[], a.embedding::DOUBLE[])
            AS cosine
        FROM probes p JOIN fin a ON a.cell = p.cell),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
        round(cosine, 4) AS cosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank"""),

    // q42b: IVF's deterministic half — assignment + probe + within-cell
    // top-k under fixed integer-arithmetic centroids (exact in float on
    // both engines). Tie-breaks mirror Spark's struct order: higher cell
    // id wins on equal cosine for assignment and probe selection.
    "q42b_ivf_probe" -> """
      WITH cen AS (
        SELECT j AS cell,
          list(CAST(((j*31 + d*7) % 13) - 6 AS DOUBLE) ORDER BY d) AS cv
        FROM generate_series(0, 7) t(j), generate_series(0, 63) s(d)
        GROUP BY j),
      assigned AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM embeddings e CROSS JOIN cen c) WHERE rn = 1),
      q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
      probes AS (
        SELECT query_id, qv, cell FROM (
          SELECT q.vec_id AS query_id, q.embedding AS qv, c.cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM q CROSS JOIN cen c) WHERE rn <= 4),
      scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          list_cosine_similarity(p.qv::DOUBLE[], a.embedding::DOUBLE[])
            AS cosine
        FROM probes p JOIN assigned a ON a.cell = p.cell),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
        round(cosine, 4) AS cosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q44: the greedy WHILE-loop admission is iterative (depends on
    // previously accepted rows) but DuckDB expresses it as a recursive CTE
    // whose working table is exactly the per-user frontier.
    "q44_timeline_episodes" -> """
      WITH RECURSIVE adm AS (
        SELECT user_id, ts, event_id, 1 AS seq
        FROM (SELECT user_id, ts, event_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS rn
              FROM events) WHERE rn = 1
        UNION ALL
        SELECT user_id, ts, event_id, seq + 1
        FROM (
          SELECT a.user_id, e.ts, e.event_id, a.seq,
            row_number() OVER (PARTITION BY a.user_id ORDER BY e.ts, e.event_id)
              AS rn
          FROM adm a JOIN events e
            ON e.user_id = a.user_id
           AND e.ts >= a.ts + INTERVAL 2 DAY
        ) WHERE rn = 1
      )
      SELECT user_id, count(*) AS n_episodes, min(event_id) AS first_event_id,
        CAST(max(seq) AS INTEGER) AS max_seq
      FROM adm GROUP BY user_id ORDER BY user_id""",

    // q45: the decode step is a deterministic FNV-derived stub (no codec
    // libs in this container), which makes even the fake dims/features
    // oracle-able: replicate the byte-range FNV folds in SQL. Width/height
    // take the UNSIGNED hash mod 1024 (2^64 ≡ 0 mod 1024, so signedness is
    // moot); the feature lane mods by 10000, where 2^64 ≢ 0, so the oracle
    // must reproduce Java's SIGNED remainder before the +10000 wrap.
    "q45_multimodal" -> """
      WITH fnv AS (
        SELECT doc_id, length(text) AS n_bytes,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, length(text) + 1),
                             i -> unicode(substr(text, i, 1))::HUGEINT)),
            (h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT
                       * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS h,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(range(1, greatest(length(text) // 8, 1) + 1),
                             i -> unicode(substr(text, i, 1))::HUGEINT)),
            (h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT
                       * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS h0
        FROM documents),
      signed AS (
        SELECT doc_id, n_bytes, h,
          CASE WHEN h0 >= 9223372036854775808::HUGEINT
               THEN h0 - 18446744073709551616::HUGEINT ELSE h0 END AS s0
        FROM fnv)
      SELECT doc_id, n_bytes::INT AS n_bytes,
        (64 + (h % 1024))::INT AS width,
        (64 + ((h >> 32) % 1024))::INT AS height,
        ((((s0 % 10000) + 10000) % 10000)::BIGINT / 10000.0)::REAL AS f0
      FROM signed ORDER BY doc_id""",

    "q46_interval_collapse" -> """
      WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      w AS (
        SELECT user_id, day,
          CASE WHEN lag(day) OVER uw IS NULL
            OR date_diff('day', lag(day) OVER uw, day) > 1
            THEN 1 ELSE 0 END AS is_start
        FROM days WINDOW uw AS (PARTITION BY user_id ORDER BY day, day)),
      isl AS (
        SELECT user_id, day,
          sum(is_start) OVER (PARTITION BY user_id ORDER BY day, day
            ROWS UNBOUNDED PRECEDING) AS island
        FROM w),
      coll AS (
        SELECT user_id, island, min(day) AS d_from, max(day) AS d_to
        FROM isl GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_intervals,
        CAST(sum(date_diff('day', d_from, d_to) + 1) AS BIGINT) AS active_days,
        min(d_from) AS first_day, max(d_to) AS last_day
      FROM coll GROUP BY user_id ORDER BY user_id""",

    "q47_clip_days" -> """
      WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      w AS (
        SELECT user_id, day,
          CASE WHEN lag(day) OVER uw IS NULL
            OR date_diff('day', lag(day) OVER uw, day) > 1
            THEN 1 ELSE 0 END AS is_start
        FROM days WINDOW uw AS (PARTITION BY user_id ORDER BY day, day)),
      isl AS (
        SELECT user_id, day,
          sum(is_start) OVER (PARTITION BY user_id ORDER BY day, day
            ROWS UNBOUNDED PRECEDING) AS island
        FROM w),
      coll AS (
        SELECT user_id, island, min(day) AS d_from, max(day) AS d_to
        FROM isl GROUP BY 1, 2)
      SELECT user_id, CAST(sum(
        CASE WHEN d_from <= DATE '2024-01-31' AND d_to >= DATE '2024-01-01'
          THEN date_diff('day', greatest(d_from, DATE '2024-01-01'),
            least(d_to, DATE '2024-01-31')) + 1
          ELSE 0 END) AS BIGINT) AS days_in_jan
      FROM coll GROUP BY user_id
      HAVING sum(CASE WHEN d_from <= DATE '2024-01-31' AND d_to >= DATE '2024-01-01'
        THEN date_diff('day', greatest(d_from, DATE '2024-01-01'),
          least(d_to, DATE '2024-01-31')) + 1 ELSE 0 END) > 0
      ORDER BY user_id""",

    "q48_stream_hourly" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
        count(*) AS n, round(sum(value), 2) AS val
      FROM events
      GROUP BY 1, 2
      HAVING hour_start + INTERVAL 1 HOUR
        <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
      ORDER BY hour_start, event_type""",

    "q49_claims_elig" -> """
      WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      w1 AS (
        SELECT user_id, day,
          CASE WHEN lag(day) OVER uw IS NULL
            OR date_diff('day', lag(day) OVER uw, day) > 1
            THEN 1 ELSE 0 END AS is_start
        FROM days WINDOW uw AS (PARTITION BY user_id ORDER BY day)),
      isl AS (
        SELECT user_id, day,
          sum(is_start) OVER (PARTITION BY user_id ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS island
        FROM w1),
      ivl AS (SELECT user_id, island, min(day) AS d_from, max(day) AS d_to
              FROM isl GROUP BY 1, 2),
      clip AS (
        SELECT user_id,
          greatest(d_from, DATE '2024-01-05') AS cfrom,
          least(d_to, DATE '2024-01-25') AS cto
        FROM ivl
        WHERE d_from <= DATE '2024-01-25' AND d_to >= DATE '2024-01-05'),
      part AS (
        SELECT user_id, cfrom, cto,
          coalesce(date_diff('day', lag(cto) OVER pw, cfrom) - 1,
                   date_diff('day', DATE '2024-01-05', cfrom)) AS pre_gap,
          coalesce(date_diff('day', cto, lead(cfrom) OVER pw) - 1,
                   date_diff('day', cto, DATE '2024-01-25')) AS post_gap
        FROM clip WINDOW pw AS (PARTITION BY user_id ORDER BY cfrom)),
      tot AS (
        SELECT user_id,
          CAST(sum(date_diff('day', cfrom, cto) + 1) AS BIGINT) AS cov_days,
          CAST(greatest(max(pre_gap), max(post_gap)) AS INTEGER) AS covgap_max,
          round(sum(date_diff('day', cfrom, cto) + 1) * 100.0 / 21, 1) AS cov_pct
        FROM part GROUP BY user_id),
      we AS (
        SELECT user_id, event_type, props, value::DECIMAL(18,6) AS w, ts
        FROM events
        WHERE ts::DATE BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'),
      mt AS (
        SELECT user_id, event_type AS modal_type FROM (
          SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY sum(w) DESC, event_type) AS rn
          FROM we WHERE event_type IS NOT NULL
          GROUP BY user_id, event_type) WHERE rn = 1),
      mp AS (
        SELECT user_id, props AS modal_props FROM (
          SELECT user_id, props,
            row_number() OVER (PARTITION BY user_id
              ORDER BY sum(w) DESC, props) AS rn
          FROM we WHERE props IS NOT NULL GROUP BY user_id, props)
        WHERE rn = 1),
      rt AS (
        SELECT user_id, event_type AS recent_type FROM (
          SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_type) AS rn
          FROM we WHERE event_type IS NOT NULL) WHERE rn = 1)
      SELECT t.user_id, t.cov_days, t.cov_pct, t.covgap_max,
        mt.modal_type, mp.modal_props, rt.recent_type
      FROM tot t
      LEFT JOIN mt USING (user_id)
      LEFT JOIN mp USING (user_id)
      LEFT JOIN rt USING (user_id)
      WHERE t.cov_pct >= 20 AND t.covgap_max <= 10
      ORDER BY user_id""",

    "q50_join_right" -> """
      SELECT p_brand, count(l_orderkey) AS n_lines,
        CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unmatched_parts,
        count(DISTINCT p_partkey) AS n_parts
      FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""",

    "q51_theta_or" -> """
      WITH combos(flag, status, combo_name) AS (
        VALUES ('R','F','ret_f'), ('A','F','air_f'), ('N','O','new_o'))
      SELECT combo_name, count(*) AS n_lines,
        round(sum(l_extendedprice), 2) AS value
      FROM lineitem JOIN combos
        ON l_returnflag = flag OR l_linestatus = status
      GROUP BY combo_name ORDER BY combo_name""",

    "q52_submonth_trim" -> """
      WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      t AS (
        SELECT DISTINCT user_id, date_trunc('month', day)::DATE AS month_start,
          greatest(min(day) OVER w, date_trunc('month', day)::DATE) AS from_trim,
          least(max(day) OVER w, last_day(day)) AS to_trim
        FROM days
        WINDOW w AS (PARTITION BY user_id, date_trunc('month', day)))
      SELECT user_id, count(*) AS n_months,
        CAST(sum(date_diff('day', from_trim, to_trim) + 1) AS BIGINT)
          AS active_span_days,
        min(from_trim) AS first_day, max(to_trim) AS last_day
      FROM t GROUP BY user_id ORDER BY user_id""",

    "q53_islands_arith" -> """
      WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      k AS (
        SELECT user_id,
          date_diff('day', DATE '2024-01-01', day)
            - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        FROM days),
      runs AS (SELECT user_id, island, count(*) AS len FROM k GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_intervals,
        CAST(sum(len) AS BIGINT) AS active_days,
        max(len) AS longest_run
      FROM runs GROUP BY user_id ORDER BY user_id""",

    "q54_recent_pick" -> """
      WITH r AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_type) AS rn
        FROM events WHERE event_type IS NOT NULL)
      SELECT event_type AS recent_type, count(*) AS n_users
      FROM r WHERE rn = 1 GROUP BY 1 ORDER BY recent_type""",

    "q55_selfjoin_twice" -> """
      WITH monthly AS (
        SELECT o_custkey,
          CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
          year(o_orderdate) * 12 + month(o_orderdate) AS mi,
          sum(o_totalprice) AS spend
        FROM orders GROUP BY 1, 2, 3)
      SELECT a.ym, count(*) AS n_customers,
        round(sum(a.spend), 2) AS spend_now,
        round(sum(b.spend), 2) AS spend_2m_later
      FROM monthly a JOIN monthly b
        ON a.o_custkey = b.o_custkey AND b.mi = a.mi + 2
      GROUP BY a.ym ORDER BY a.ym""",

    "q56_rlike_pattern" -> """
      SELECT p_brand, count(*) AS n,
        round(avg(p_retailprice), 4) AS avg_price
      FROM part
      WHERE regexp_matches(p_type, '^(ECONOMY|PROMO) (ANODIZED|BURNISHED)')
        AND p_size IN (1,2,3,4,5,6,7,8,9,10)
      GROUP BY p_brand ORDER BY p_brand""",

    // q57: both reload paths (csv / orc) must re-aggregate to exactly the
    // source table — the oracle is the source-side aggregate repeated per
    // format tag (the empty 'shell' frame contributes no rows).
    "q57_config_csv_orc" -> """
      WITH typed AS (
        SELECT o_orderkey, o_orderstatus,
          o_totalprice::DECIMAL(12,2) AS p
        FROM orders),
      fmts AS (SELECT 'csv' AS fmt UNION ALL SELECT 'orc')
      SELECT f.fmt, t.o_orderstatus, count(*) AS n,
        round((sum(p))::DOUBLE, 2) AS total,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM typed t CROSS JOIN fmts f
      GROUP BY 1, 2 ORDER BY fmt, o_orderstatus""",

    // q58: after the stale-partition refresh the lake table must equal the
    // source table exactly — survived stale rows, lost pre-cut rows, or
    // undeduped duplicate extracts all break this aggregate.
    "q58_incremental_refresh" -> """
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n,
        round(sum(o_totalprice), 2) AS total,
        count(DISTINCT o_orderkey) AS n_keys
      FROM orders GROUP BY 1 ORDER BY yr""",

    "q59_qa_suite" -> """
      SELECT * FROM (
        SELECT 'orders' AS "table", 'distinct_o_orderkey' AS "check",
          count(*) = count(DISTINCT o_orderkey) AS pass,
          count(DISTINCT o_orderkey) AS observed,
          CAST(count(*) AS BIGINT) AS expected
        FROM orders
        UNION ALL
        SELECT 'part', 'distinct_p_partkey',
          count(*) = count(DISTINCT p_partkey),
          count(DISTINCT p_partkey), count(*) FROM part
        UNION ALL
        SELECT 'lineitem', 'orphan_l_orderkey', count(*) = 0, count(*), 0
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'orders', 'orphan_o_custkey', count(*) = 0, count(*), 0
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'customer', 'orphan_c_nationkey', count(*) = 0, count(*), 0
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)
        UNION ALL
        SELECT 'lineitem', 'neg_quantity', count(*) = 0, count(*), 0
        FROM lineitem WHERE l_quantity < 0
        UNION ALL
        SELECT 'orders', 'nulls_o_orderdate', count(*) <= 0, count(*), 0
        FROM orders WHERE o_orderdate IS NULL
        UNION ALL
        SELECT 'lineitem', 'rowcount_monotonic', count(*) >= 1000, count(*),
          1000
        FROM lineitem
        UNION ALL
        SELECT 'orders_vs_prior_load', 'rowcount_monotonic',
          (SELECT count(*) FROM orders) >= count(*),
          (SELECT count(*) FROM orders), count(*)
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) < 1998)
      ORDER BY "table", "check"""",

    "q60_perf_measures" -> """
      WITH members AS (SELECT DISTINCT o_custkey FROM orders),
      months AS (
        SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-01',
          INTERVAL 1 MONTH))::DATE AS month),
      grid AS (SELECT o_custkey, month FROM members CROSS JOIN months),
      facts AS (
        SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month,
          count(*) AS n_orders, max(o_totalprice) AS max_price
        FROM orders GROUP BY 1, 2),
      staged AS (
        SELECT g.o_custkey, g.month,
          coalesce(f.n_orders, 0) AS n_orders,
          coalesce(f.max_price, 0) AS max_price
        FROM grid g LEFT JOIN facts f USING (o_custkey, month)),
      denom AS (
        SELECT o_custkey, month,
          sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) OVER w AS active_m,
          sum(CASE WHEN max_price > 150000.0 THEN 1 ELSE 0 END) OVER w AS hv
        FROM staged
        WINDOW w AS (PARTITION BY o_custkey ORDER BY month
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
      per AS (
        SELECT month,
          CAST(sum(CASE WHEN active_m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_denom,
          CAST(sum(CASE WHEN active_m >= 2 AND active_m > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_any,
          CAST(sum(CASE WHEN active_m >= 2 AND hv > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hv
        FROM denom GROUP BY month)
      SELECT measure, ym, n_denom, n_num,
        CASE WHEN n_denom > 0
          THEN round(n_num * 100.0 / n_denom, 2) END AS rate
      FROM (
        SELECT 'order_any' AS measure,
          CAST(year(month) * 100 + month(month) AS INTEGER) AS ym,
          n_denom, n_any AS n_num FROM per
        UNION ALL
        SELECT 'high_value',
          CAST(year(month) * 100 + month(month) AS INTEGER),
          n_denom, n_hv FROM per)
      ORDER BY measure, ym""",

    "q61_condition_loop" -> """
      WITH c1 AS (
        SELECT o_custkey, min(o_orderdate::DATE) AS first_date,
          max(o_orderdate::DATE) AS last_date, count(*) AS n_claims
        FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1),
      oc AS (SELECT o_custkey, o_orderdate::DATE AS d FROM orders
             WHERE o_orderstatus = 'O'),
      ocq AS (
        SELECT o_custkey FROM (
          SELECT o_custkey, CASE WHEN date_diff('day', d,
            lead(d) OVER (PARTITION BY o_custkey ORDER BY d)) <= 90
            THEN 1 ELSE 0 END AS p
          FROM oc) GROUP BY 1 HAVING max(p) = 1),
      c2 AS (
        SELECT c.o_custkey, min(d) AS first_date, max(d) AS last_date,
          count(*) AS n_claims
        FROM oc c JOIN ocq USING (o_custkey) GROUP BY 1),
      fc AS (SELECT o_custkey, o_orderdate::DATE AS d FROM orders
             WHERE o_orderstatus = 'F'),
      fcq AS (
        SELECT o_custkey FROM (
          SELECT o_custkey, CASE WHEN date_diff('day', d,
            lead(d) OVER (PARTITION BY o_custkey ORDER BY d)) <= 180
            THEN 1 ELSE 0 END AS p
          FROM fc) GROUP BY 1 HAVING max(p) = 1),
      c3 AS (
        SELECT f.o_custkey, min(d) AS first_date, max(d) AS last_date,
          count(*) AS n_claims
        FROM fc f JOIN fcq USING (o_custkey) GROUP BY 1)
      SELECT 'big_spender' AS condition, count(*) AS n_members,
        CAST(sum(n_claims) AS BIGINT) AS total_claims,
        min(first_date) AS first_any, max(last_date) AS last_any FROM c1
      UNION ALL
      SELECT 'open_frequent', count(*), CAST(sum(n_claims) AS BIGINT),
        min(first_date), max(last_date) FROM c2
      UNION ALL
      SELECT 'filled_frequent', count(*), CAST(sum(n_claims) AS BIGINT),
        min(first_date), max(last_date) FROM c3
      ORDER BY condition""",

    "q62_top_causes" -> """
      WITH claims AS (
        SELECT p.p_type AS cause, o.o_custkey
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE year(o.o_orderdate) = 1996),
      agg AS (SELECT cause, count(*) AS claim_cnt,
        count(DISTINCT o_custkey) AS person_cnt FROM claims GROUP BY 1),
      ranked AS (SELECT *,
        rank() OVER (ORDER BY claim_cnt DESC, cause) AS rnk FROM agg)
      SELECT CAST(rnk AS INTEGER) AS rnk, cause, claim_cnt,
        CASE WHEN person_cnt BETWEEN 1 AND 5 THEN NULL
          ELSE person_cnt END AS person_cnt
      FROM ranked WHERE rnk <= 10 ORDER BY rnk""",

    "q63_claims_condition" -> """
      WITH c1 AS (
        SELECT o_custkey, min(o_orderdate::DATE) AS first_date,
          max(o_orderdate::DATE) AS last_date
        FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1),
      oc AS (SELECT o_custkey, o_orderdate::DATE AS d FROM orders
             WHERE o_orderstatus = 'O'),
      ocq AS (
        SELECT o_custkey FROM (
          SELECT o_custkey, CASE WHEN date_diff('day', d,
            lead(d) OVER (PARTITION BY o_custkey ORDER BY d)) <= 90
            THEN 1 ELSE 0 END AS p
          FROM oc) GROUP BY 1 HAVING max(p) = 1),
      c2 AS (
        SELECT c.o_custkey, min(d) AS first_date, max(d) AS last_date
        FROM oc c JOIN ocq USING (o_custkey) GROUP BY 1),
      fc AS (SELECT o_custkey, o_orderdate::DATE AS d FROM orders
             WHERE o_orderstatus = 'F'),
      fcq AS (
        SELECT o_custkey FROM (
          SELECT o_custkey, CASE WHEN date_diff('day', d,
            lead(d) OVER (PARTITION BY o_custkey ORDER BY d)) <= 180
            THEN 1 ELSE 0 END AS p
          FROM fc) GROUP BY 1 HAVING max(p) = 1),
      c3 AS (
        SELECT f.o_custkey, min(d) AS first_date, max(d) AS last_date
        FROM fc f JOIN fcq USING (o_custkey) GROUP BY 1),
      allc AS (
        SELECT 'big_spender' AS condition, * FROM c1
        UNION ALL SELECT 'open_frequent', * FROM c2
        UNION ALL SELECT 'filled_frequent', * FROM c3)
      SELECT condition, count(*) AS n_members,
        min(greatest(first_date, DATE '1996-06-01')) AS first_clip,
        max(least(last_date, DATE '1996-12-31')) AS last_clip
      FROM allc
      WHERE first_date <= DATE '1996-12-31' AND last_date >= DATE '1996-06-01'
      GROUP BY condition ORDER BY condition""",

    "q64_elig_timevar" -> """
      WITH ev AS (
        SELECT user_id, ts::DATE AS day, event_type,
          date_trunc('month', ts::DATE)::DATE AS month
        FROM events WHERE event_type IS NOT NULL),
      counted AS (
        SELECT user_id, month, event_type, count(*) AS cnt,
          min(day) AS d_min, max(day) AS d_max
        FROM ev GROUP BY 1, 2, 3),
      monthly AS (
        SELECT user_id, month,
          max(CASE WHEN rn = 1 THEN event_type END) AS attr,
          min(d_min) AS sub_from, max(d_max) AS sub_to
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, month
                ORDER BY cnt DESC, event_type) AS rn FROM counted)
        GROUP BY 1, 2),
      trimmed AS (
        SELECT user_id, attr,
          greatest(month, sub_from) AS from_date,
          least(last_day(month), sub_to) AS to_date
        FROM monthly),
      isl AS (
        SELECT user_id, attr, from_date, to_date,
          sum(CASE WHEN prev_to IS NULL
                OR date_diff('day', prev_to, from_date) > 1
              THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id, attr ORDER BY from_date, to_date
              ROWS UNBOUNDED PRECEDING) AS island
        FROM (SELECT *, lag(to_date) OVER (PARTITION BY user_id, attr
                ORDER BY from_date, to_date) AS prev_to FROM trimmed)),
      coll AS (
        SELECT user_id, attr, min(from_date) AS from_date,
          max(to_date) AS to_date
        FROM isl GROUP BY user_id, attr, island)
      SELECT user_id, from_date, to_date, attr,
        CAST(date_diff('day', from_date, to_date) + 1 AS INTEGER)
          AS cov_time_day,
        coalesce(date_diff('day',
          lag(to_date) OVER (PARTITION BY user_id
            ORDER BY from_date, to_date), from_date) = 1, false)
          AS contiguous
      FROM coll
      ORDER BY user_id, from_date""",

    // q65: flatMapGroupsWithState sessionization. Emitted = every session
    // closed by a later event, plus tail sessions whose event-time timeout
    // (session_end + gap) the final watermark passed.
    "q65_stream_sessions" -> """
      WITH w AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER uw IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER uw) > 1800000000
            THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id, ts,
          sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM w),
      sess AS (
        SELECT user_id, session_id, min(ts) AS session_start,
          max(ts) AS session_end, count(*) AS n_events,
          max(session_id) OVER (PARTITION BY user_id) AS last_sess
        FROM s GROUP BY user_id, session_id),
      m AS (SELECT max(ts) AS maxts FROM events)
      SELECT user_id, session_start, session_end, n_events
      FROM sess, m
      WHERE NOT (session_id = last_sess
        AND epoch_us(session_end) + 1800000000 > epoch_us(maxts) - 3600000000)
      ORDER BY user_id, session_start""",

    "q66_claim_header" -> """
      WITH line_agg AS (
        SELECT l_orderkey, count(*) AS n_lines,
          round(sum(l_extendedprice), 2) AS sum_price,
          max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return,
          max(CASE WHEN l_discount >= 0.08 THEN 1 ELSE 0 END)
            AS has_deep_discount
        FROM lineitem GROUP BY 1),
      ip AS (
        SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
        EXCEPT
        SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.09),
      prim AS (
        SELECT l_orderkey, l_partkey AS primary_partkey,
          round(l_extendedprice, 2) AS primary_price
        FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
              FROM lineitem) WHERE rn = 1),
      hdr AS (
        SELECT o_orderkey, o_custkey, o_orderdate::DATE AS order_date,
          CAST(sum(CASE WHEN prev IS NULL
                OR date_diff('day', prev, o_orderdate::DATE) > 1
              THEN 1 ELSE 0 END)
            OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate::DATE, o_orderkey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS episode_seq
        FROM (SELECT *, lag(o_orderdate::DATE)
                OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate::DATE, o_orderkey) AS prev
              FROM orders))
      SELECT h.o_orderkey, h.o_custkey, h.order_date,
        coalesce(a.n_lines, 0) AS n_lines,
        coalesce(a.sum_price, 0.0) AS sum_price,
        coalesce(a.has_return, 0) AS has_return,
        coalesce(a.has_deep_discount, 0) AS has_deep_discount,
        CASE WHEN ip.l_orderkey IS NOT NULL THEN 1 ELSE 0 END AS is_inpatient,
        p.primary_partkey, p.primary_price,
        h.episode_seq
      FROM hdr h
      LEFT JOIN line_agg a ON h.o_orderkey = a.l_orderkey
      LEFT JOIN prim p ON h.o_orderkey = p.l_orderkey
      LEFT JOIN ip ON h.o_orderkey = ip.l_orderkey
      ORDER BY h.o_orderkey""",

    "q67_elig_demo" -> """
      WITH ev AS (
        SELECT user_id, ts, event_type, props,
          CAST(year(ts) * 100 + month(ts) AS INTEGER) AS ym,
          ts::DATE AS day
        FROM events),
      daily AS (
        SELECT user_id, day,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS d_p,
          max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS d_e
        FROM ev GROUP BY 1, 2),
      pcts AS (
        SELECT user_id, count(*) AS n_days,
          round(sum(d_p) * 100.0 / count(*), 1) AS purchase_pct_t,
          round(sum(d_e) * 100.0 / count(*), 1) AS error_pct_t
        FROM daily GROUP BY 1),
      evers AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS purchase_ever,
          max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS error_ever
        FROM ev GROUP BY 1),
      modal AS (
        SELECT user_id, props AS modal_props FROM (
          SELECT user_id, props, row_number() OVER (PARTITION BY user_id
            ORDER BY count(*) DESC, max(ym) DESC, props) AS rn
          FROM ev WHERE props IS NOT NULL GROUP BY user_id, props)
        WHERE rn = 1),
      recent AS (
        SELECT user_id, event_type AS recent_type FROM (
          SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_type) AS rn
          FROM ev WHERE event_type IS NOT NULL)
        WHERE rn = 1)
      SELECT p.user_id, p.n_days, e.purchase_ever, e.error_ever,
        p.purchase_pct_t, p.error_pct_t, m.modal_props, r.recent_type
      FROM pcts p
      JOIN evers e USING (user_id)
      LEFT JOIN modal m USING (user_id)
      LEFT JOIN recent r USING (user_id)
      ORDER BY p.user_id""",

    "q68_elig_month" -> """
      WITH days AS (
        SELECT DISTINCT o_custkey, o_orderdate::DATE AS day FROM orders),
      w AS (
        SELECT o_custkey, day,
          CASE WHEN lag(day) OVER uw IS NULL
            OR date_diff('day', lag(day) OVER uw, day) > 30
            THEN 1 ELSE 0 END AS is_start
        FROM days WINDOW uw AS (PARTITION BY o_custkey ORDER BY day)),
      isl AS (
        SELECT o_custkey, day,
          sum(is_start) OVER (PARTITION BY o_custkey ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS island
        FROM w),
      ivl AS (SELECT o_custkey, island, min(day) AS d_from, max(day) AS d_to
              FROM isl GROUP BY 1, 2),
      mx AS (
        SELECT o_custkey, d_from, d_to,
          unnest(generate_series(date_trunc('month', d_from),
            date_trunc('month', d_to), INTERVAL 1 MONTH))::DATE AS month
        FROM ivl),
      pm AS (
        SELECT o_custkey, month,
          sum(CASE WHEN d_from <= last_day(month) AND d_to >= month
            THEN date_diff('day', greatest(d_from, month),
              least(d_to, last_day(month))) + 1 ELSE 0 END) AS cov_days
        FROM mx GROUP BY 1, 2)
      SELECT month, count(*) AS n_members,
        CAST(sum(cov_days) AS BIGINT) AS cov_days,
        CAST(sum(CASE WHEN cov_days = date_diff('day', month, last_day(month)) + 1
          THEN 1 ELSE 0 END) AS BIGINT) AS n_full_months
      FROM pm GROUP BY month ORDER BY month""",

    "q69_salted_agg" -> """
      SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        count(l_quantity) AS n,
        min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q70_id_xwalk" -> """
      WITH xwalk AS (
        SELECT c_custkey AS id_src, c_custkey % 100 + 9000000 AS id_master
        FROM customer WHERE c_custkey % 3 = 0),
      resolved AS (
        SELECT coalesce(x.id_master, o.o_custkey) AS id_apde, o.o_totalprice
        FROM orders o LEFT JOIN xwalk x ON o.o_custkey = x.id_src)
      SELECT id_apde < 9000000 AS unresolved,
        count(DISTINCT id_apde) AS n_ids, count(*) AS n_orders,
        round(sum(o_totalprice), 2) AS total
      FROM resolved GROUP BY 1 ORDER BY unresolved""",

    "q71_sql_api" -> """
      SELECT c.c_mktsegment, count(*) AS n_orders,
        round(sum(o.o_totalprice), 2) AS revenue,
        count(DISTINCT o.o_custkey) AS n_customers
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY c.c_mktsegment
      ORDER BY c.c_mktsegment""",

    // q72: full winnowing replica — per-k-gram polynomial hash mod 2^64
    // (HUGEINT fold; identical to the Spark kernel's rolling form), window
    // minima (list_min = the kernel's unsigned order, since values are
    // non-negative HUGEINTs), value-dedupe, then the shared-count join.
    // Assumes ASCII text (unicode() = byte), true of the driver corpus.
    "q72_winnow_overlap" -> """
      WITH norm AS (
        SELECT doc_id,
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        FROM documents),
      grams AS (
        SELECT doc_id,
          CASE WHEN length(s) <= 16 THEN
            [list_reduce(
              list_prepend(0::HUGEINT,
                list_transform(range(1, length(s) + 1),
                               i -> unicode(substr(s, i, 1))::HUGEINT)),
              (h, b) -> (h * 263 + b) % 18446744073709551616::HUGEINT)]
          ELSE
            list_transform(generate_series(1, length(s) - 15),
              i -> list_reduce(
                list_prepend(0::HUGEINT,
                  list_transform(generate_series(i, i + 15),
                                 j -> unicode(substr(s, j, 1))::HUGEINT)),
                (h, b) -> (h * 263 + b) % 18446744073709551616::HUGEINT))
          END AS hs
        FROM norm),
      sel AS (
        SELECT doc_id,
          unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(hs) - 7, 1)),
            t -> list_min(hs[t:t+7])))) AS fp
        FROM grams),
      capped AS (
        SELECT * FROM sel
        QUALIFY count(*) OVER (PARTITION BY fp) <= 10000)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 5
      ORDER BY id_a, id_b""",

    // q73: identical semantics to q14 — the Spark side differs only in
    // physical formulation (typed Aggregator, one shuffle).
    "q73_weighted_mode_agg" -> """
      WITH s AS (
        SELECT user_id, event_type, sum(value) AS wt
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      ranked AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY wt DESC, event_type) AS rn
        FROM s)
      SELECT user_id, event_type AS weighted_type
      FROM ranked WHERE rn = 1 ORDER BY user_id""",

    "q74_bucketed_join" -> """
      SELECT o.o_orderpriority, count(*) AS n_lines,
        round(sum(l.l_extendedprice), 2) AS total
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1 ORDER BY 1""",

    // q75: same FNV-replica technique as q45, per sampled frame — frame i
    // is the byte range [i*64, i*64+64); ASCII corpus makes substr == byte
    // slice. Java-signed mod 10000 as in q45.
    "q75_frame_sample" -> """
      WITH frames AS (
        SELECT doc_id,
          cast(ceil(length(text) / 64.0) AS INT) AS n_frames,
          unnest(generate_series(0,
            greatest(cast(ceil(length(text) / 64.0) AS INT) - 1, 0), 2))
            AS frame_idx,
          text
        FROM documents),
      feat AS (
        SELECT doc_id, n_frames, frame_idx,
          list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(
                range(1, length(substr(text, frame_idx * 64 + 1, 64)) + 1),
                i -> unicode(substr(substr(text, frame_idx * 64 + 1, 64),
                             i, 1))::HUGEINT)),
            (h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT
                       * 1099511628211::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS h
        FROM frames),
      fint AS (
        SELECT doc_id, n_frames, frame_idx,
          ((((CASE WHEN h >= 9223372036854775808::HUGEINT
                   THEN h - 18446744073709551616::HUGEINT ELSE h END)
             % 10000) + 10000) % 10000)::INT AS f_int
        FROM feat)
      SELECT doc_id, max(n_frames)::INT AS n_frames,
        count(*) AS n_sampled,
        max(CASE WHEN frame_idx = 0 THEN f_int END) AS f0,
        sum(f_int)::BIGINT AS f_sum
      FROM fint GROUP BY doc_id ORDER BY doc_id""",

    // q76: exact columns by hash; the sketch columns are within-tolerance
    // booleans the oracle expects to be uniformly true.
    "q76_approx_sketches" -> """
      SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_exact,
        TRUE AS hll_ok,
        round(quantile_cont(l_extendedprice, 0.5), 2) AS median_exact,
        TRUE AS quantile_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q77: the stream sees every event twice; within-watermark dedup must
    // restore exactly the batch aggregate of the single-copy table.
    "q77_stream_dedup" -> """
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS val
      FROM events GROUP BY event_type ORDER BY event_type""",

    // q78: containment on string shingles; the Spark side intersects
    // 64-bit shingle HASHES — counts agree absent xxh64 collisions, which
    // this corpus has none of (the hash-vs-string equality is exactly what
    // the driver compare certifies).
    "q78_contamination" -> """
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents))
      SELECT p.doc_id AS probe_id, c.doc_id AS doc_id,
        round(len(list_intersect(p.sh, c.sh)) * 1.0
          / greatest(len(p.sh), 1), 4) AS containment
      FROM d p JOIN d c ON p.doc_id != c.doc_id
      WHERE p.doc_id % 29 = 0
        AND len(list_intersect(p.sh, c.sh)) * 1.0
          / greatest(len(p.sh), 1) >= 0.3
      ORDER BY probe_id, doc_id""",

    "q79_claim_icdcm" -> s"""
      WITH $IcdcmRowsCtes
      SELECT icdcm_version, icdcm_number, count(*) AS n,
        count(DISTINCT icdcm_norm) AS n_codes,
        min(icdcm_norm) AS min_code, max(icdcm_norm) AS max_code
      FROM norm GROUP BY 1, 2 ORDER BY icdcm_version, icdcm_number""",

    "q80_claim_procedure" -> s"""
      WITH $ProcRowsCtes
      SELECT pcode_number, count(*) AS n,
        count(DISTINCT pcode) AS n_codes,
        min(pcode) AS min_code, max(pcode) AS max_code
      FROM norm GROUP BY 1 ORDER BY pcode_number""",

    "q81_claim_pharm" -> s"""
      WITH $PharmRowsCtes
      SELECT ndc_valid, supply_days IS NOT NULL AS supply_known,
        count(*) AS n, count(DISTINCT ndc) AS n_ndc,
        sum(supply_days) AS sum_supply
      FROM norm GROUP BY 1, 2 ORDER BY ndc_valid, supply_known""",

    "q82_elig_plr" -> """
      WITH iv AS (
        SELECT o_custkey AS id, o_orderstatus AS flavor,
          o_orderdate::DATE AS from_date,
          o_orderdate::DATE + CAST(o_orderkey % 20 + 5 AS INT) AS to_date
        FROM orders),
      mrk AS (
        SELECT id, flavor, from_date, to_date,
          CASE WHEN max(to_date) OVER pw IS NULL
            OR from_date > max(to_date) OVER pw + 1 THEN 1 ELSE 0 END AS is_start
        FROM iv WINDOW pw AS (PARTITION BY id, flavor
          ORDER BY from_date, to_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      isl AS (
        SELECT *, sum(is_start) OVER (PARTITION BY id, flavor
          ORDER BY from_date, to_date ROWS UNBOUNDED PRECEDING) AS island
        FROM mrk),
      coll AS (
        SELECT id, flavor, min(from_date) AS f, max(to_date) AS t
        FROM isl GROUP BY id, flavor, island),
      pf AS (
        SELECT id, flavor, CAST(sum(CASE WHEN f <= DATE '1996-12-31'
            AND t >= DATE '1996-01-01'
          THEN date_diff('day', greatest(f, DATE '1996-01-01'),
            least(t, DATE '1996-12-31')) + 1 ELSE 0 END) AS BIGINT) AS days
        FROM coll GROUP BY 1, 2),
      amrk AS (
        SELECT id, from_date, to_date,
          CASE WHEN max(to_date) OVER aw IS NULL
            OR from_date > max(to_date) OVER aw + 1 THEN 1 ELSE 0 END AS is_start
        FROM iv WINDOW aw AS (PARTITION BY id ORDER BY from_date, to_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      aisl AS (
        SELECT *, sum(is_start) OVER (PARTITION BY id
          ORDER BY from_date, to_date ROWS UNBOUNDED PRECEDING) AS island
        FROM amrk),
      acoll AS (
        SELECT id, min(from_date) AS f, max(to_date) AS t
        FROM aisl GROUP BY id, island),
      anyd AS (
        SELECT id, CAST(sum(CASE WHEN f <= DATE '1996-12-31'
            AND t >= DATE '1996-01-01'
          THEN date_diff('day', greatest(f, DATE '1996-01-01'),
            least(t, DATE '1996-12-31')) + 1 ELSE 0 END) AS BIGINT) AS days_any
        FROM acoll GROUP BY id),
      piv AS (
        SELECT id,
          coalesce(sum(CASE WHEN flavor = 'F' THEN days END), 0) AS days_F,
          coalesce(sum(CASE WHEN flavor = 'O' THEN days END), 0) AS days_O,
          coalesce(sum(CASE WHEN flavor = 'P' THEN days END), 0) AS days_P
        FROM pf GROUP BY id)
      SELECT p.id,
        CAST(days_F AS BIGINT) AS days_F,
        CAST(round(days_F * 100.0 / 366, 1) AS DECIMAL(4,1)) AS pct_F,
        CAST(days_O AS BIGINT) AS days_O,
        CAST(round(days_O * 100.0 / 366, 1) AS DECIMAL(4,1)) AS pct_O,
        CAST(days_P AS BIGINT) AS days_P,
        CAST(round(days_P * 100.0 / 366, 1) AS DECIMAL(4,1)) AS pct_P,
        coalesce(a.days_any, 0) AS days_any,
        CAST(round(coalesce(a.days_any, 0) * 100.0 / 366, 1)
          AS DECIMAL(4,1)) AS pct_any
      FROM piv p LEFT JOIN anyd a ON p.id = a.id
      ORDER BY p.id""",

    "q83_claim_bh" -> """
      WITH ol AS (
        SELECT o_custkey AS id,
          CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS INT) AS mi,
          l_returnflag, l_discount, l_quantity
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      dx AS (SELECT id, mi, count(*) AS n_dx FROM ol
        WHERE l_returnflag = 'R' GROUP BY 1, 2),
      rx AS (SELECT id, mi, count(*) AS n_rx FROM ol
        WHERE l_discount >= 0.08 GROUP BY 1, 2),
      px AS (SELECT id, mi, count(*) AS n_px FROM ol
        WHERE l_quantity >= 45 GROUP BY 1, 2),
      j1 AS (
        SELECT coalesce(a.id, b.id) AS id, coalesce(a.mi, b.mi) AS mi,
          coalesce(a.n_dx, 0) AS n_dx, coalesce(b.n_rx, 0) AS n_rx
        FROM dx a FULL JOIN rx b ON a.id = b.id AND a.mi = b.mi),
      m AS (
        SELECT coalesce(j.id, c.id) AS id, coalesce(j.mi, c.mi) AS mi,
          coalesce(j.n_dx, 0) AS n_dx, coalesce(j.n_rx, 0) AS n_rx,
          coalesce(c.n_px, 0) AS n_px
        FROM j1 j FULL JOIN px c ON j.id = c.id AND j.mi = c.mi),
      isl AS (
        SELECT *, mi - row_number() OVER (PARTITION BY id ORDER BY mi)
          AS island FROM m),
      ep AS (
        SELECT id, island, min(mi) AS from_mi, max(mi) AS to_mi,
          count(*) AS n_months,
          CAST(sum(n_dx) AS BIGINT) AS n_dx,
          CAST(sum(n_rx) AS BIGINT) AS n_rx,
          CAST(sum(n_px) AS BIGINT) AS n_px
        FROM isl GROUP BY 1, 2)
      SELECT id, count(*) AS n_episodes,
        CAST(sum(n_months) AS BIGINT) AS evidence_months,
        min(from_mi) AS first_mi, max(to_mi) AS last_mi,
        CAST(sum(n_dx) AS BIGINT) AS n_dx,
        CAST(sum(n_rx) AS BIGINT) AS n_rx,
        CAST(sum(n_px) AS BIGINT) AS n_px,
        max(CASE WHEN (n_dx > 0)::INT + (n_rx > 0)::INT + (n_px > 0)::INT >= 2
          THEN 1 ELSE 0 END) AS any_multi_source
      FROM ep GROUP BY id ORDER BY id""",

    // q84: the per-class greedy WHILE-loop admission is iterative (cum gap
    // resets on each admission), expressed as one recursive CTE per
    // endpoint class chained over the rank sequence; conflict filters vs
    // already-placed higher classes are ANTI JOINs (DuckDB's recursive-CTE
    // parser rejects EXCEPT). AS MATERIALIZED on the shared frames: without
    // it each downstream reference re-runs the recursion (~39 s -> 0.2 s).
    "q84_preg_episode" -> (PregPlacementCte + """
      SELECT id AS id_person, cls AS preg_endpoint, d AS endpoint_date,
        CAST(rank() OVER (PARTITION BY id, cls ORDER BY d) AS INT)
          AS preg_episode_id
      FROM placed ORDER BY id_person, preg_endpoint, preg_episode_id"""),

    "q85_multisource_union" -> """
      WITH src AS (
        SELECT DISTINCT * FROM (
          SELECT o_custkey AS id_person, o_orderkey AS claim_id,
            CAST(o_orderdate AS DATE) AS svc_date,
            CAST(o_totalprice AS DECIMAL(12,2)) AS charge,
            CAST(NULL AS VARCHAR) AS drg_code, o_orderstatus AS status,
            'carrier' AS filetype
          FROM orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE),
            CAST(o_totalprice AS DECIMAL(12,2)), NULL, o_orderstatus,
            'carrier'
          FROM orders WHERE o_orderkey % 6 = 0
          UNION ALL
          SELECT l_suppkey, l_orderkey * 10 + l_linenumber,
            CAST(l_shipdate AS DATE), CAST(l_extendedprice AS DECIMAL(12,2)),
            NULL, NULL, 'dme'
          FROM lineitem WHERE l_orderkey % 5 = 0
          UNION ALL
          SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE),
            CAST(o_totalprice AS DECIMAL(12,2)),
            'DRG' || lpad(CAST(o_orderkey % 77 AS VARCHAR), 2, '0'),
            o_orderstatus, 'inpatient'
          FROM orders WHERE o_orderkey % 7 = 0))
      SELECT filetype, status, count(*) AS n,
        count(DISTINCT id_person) AS n_persons,
        round(CAST(sum(charge) AS DOUBLE), 2) AS total_charge,
        count(drg_code) AS n_drg,
        min(svc_date) AS min_date, max(svc_date) AS max_date
      FROM src GROUP BY 1, 2 ORDER BY filetype, status""",

    "q86_year_sections" -> """
      WITH combined AS (
        SELECT o_orderkey AS claim_id, CAST(o_orderdate AS DATE) AS svc_date,
          CAST(o_totalprice AS DECIMAL(12,2)) AS charge,
          substr(o_orderstatus, 1, 1) AS legacy_flag,
          CAST(NULL AS VARCHAR) AS drg_code
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
        UNION ALL
        SELECT o_orderkey, CAST(o_orderdate AS DATE),
          CAST(o_totalprice AS DECIMAL(12,2)),
          substr(o_orderstatus, 1, 1),
          'D' || CAST(o_orderkey % 9 AS VARCHAR)
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997
        UNION ALL
        SELECT o_orderkey, CAST(o_orderdate AS DATE),
          CAST(o_totalprice AS DECIMAL(12,2)), NULL, NULL
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998)
      SELECT CAST(year(svc_date) AS INT) AS yr, count(*) AS n,
        count(legacy_flag) AS n_legacy, count(drg_code) AS n_drg,
        count(DISTINCT drg_code) AS n_drg_kinds,
        round(CAST(sum(charge) AS DOUBLE), 2) AS total
      FROM combined GROUP BY 1 ORDER BY yr""",

    // q87: the FUA index-visit set algebra (dx INTERSECT (rev UNION proc)),
    // T-SQL anniversary age (interval-year add clamps Feb 29 like DATEADD),
    // then the q60 measure pipeline with the fua fact joined on.
    "q87_fua_measure" -> """
      WITH orders_d AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS svc_date,
          o_orderdate, o_totalprice FROM orders),
      dx AS (
        SELECT o_custkey AS id, o_orderkey AS claim_id, svc_date
        FROM orders_d WHERE o_orderkey % 11 = 0
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      li AS (
        SELECT l.l_orderkey, l.l_returnflag, l.l_quantity, o.o_custkey,
          o.svc_date
        FROM lineitem l JOIN orders_d o ON l.l_orderkey = o.o_orderkey),
      ed AS (
        SELECT o_custkey AS id, l_orderkey AS claim_id, svc_date FROM li
        WHERE l_returnflag = 'R'
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        UNION
        SELECT o_custkey, l_orderkey, svc_date FROM li
        WHERE l_quantity >= 45
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      idx0 AS (SELECT * FROM dx INTERSECT SELECT * FROM ed),
      demo AS (
        SELECT c_custkey AS id,
          DATE '1930-01-01' + CAST((c_custkey * 97) % 17000 AS INT) AS dob
        FROM customer),
      idx AS (
        SELECT i.id, i.claim_id, i.svc_date
        FROM idx0 i JOIN demo d ON i.id = d.id
        WHERE (year(svc_date) - year(dob)) -
          CASE WHEN dob + to_years(CAST(year(svc_date) - year(dob) AS INT))
            > svc_date THEN 1 ELSE 0 END >= 18),
      idxm AS (
        SELECT id AS o_custkey, date_trunc('month', svc_date)::DATE AS month,
          count(DISTINCT claim_id) AS n_index
        FROM idx GROUP BY 1, 2),
      members AS (SELECT DISTINCT o_custkey FROM orders),
      months AS (
        SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-01',
          INTERVAL 1 MONTH))::DATE AS month),
      grid AS (SELECT o_custkey, month FROM members CROSS JOIN months),
      facts AS (
        SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month,
          count(*) AS n_orders, max(o_totalprice) AS max_price
        FROM orders GROUP BY 1, 2),
      staged AS (
        SELECT g.o_custkey, g.month,
          coalesce(f.n_orders, 0) AS n_orders,
          coalesce(f.max_price, 0) AS max_price,
          coalesce(x.n_index, 0) AS n_index
        FROM grid g LEFT JOIN facts f USING (o_custkey, month)
          LEFT JOIN idxm x USING (o_custkey, month)),
      denom AS (
        SELECT o_custkey, month,
          sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) OVER w AS active_m,
          sum(CASE WHEN max_price > 150000.0 THEN 1 ELSE 0 END) OVER w AS hv,
          sum(CASE WHEN n_index > 0 THEN 1 ELSE 0 END) OVER w AS fua
        FROM staged
        WINDOW w AS (PARTITION BY o_custkey ORDER BY month
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
      per AS (
        SELECT month,
          CAST(sum(CASE WHEN active_m >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_denom,
          CAST(sum(CASE WHEN active_m >= 2 AND active_m > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_any,
          CAST(sum(CASE WHEN active_m >= 2 AND hv > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hv,
          CAST(sum(CASE WHEN active_m >= 2 AND fua > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fua
        FROM denom GROUP BY month)
      SELECT measure, ym, n_denom, n_num,
        CASE WHEN n_denom > 0
          THEN round(n_num * 100.0 / n_denom, 2) END AS rate
      FROM (
        SELECT 'order_any' AS measure,
          CAST(year(month) * 100 + month(month) AS INTEGER) AS ym,
          n_denom, n_any AS n_num FROM per
        UNION ALL
        SELECT 'high_value',
          CAST(year(month) * 100 + month(month) AS INTEGER),
          n_denom, n_hv FROM per
        UNION ALL
        SELECT 'fua_index',
          CAST(year(month) * 100 + month(month) AS INTEGER),
          n_denom, n_fua FROM per)
      ORDER BY measure, ym""",

    "q88_table_profile" -> """
      WITH t AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
          CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
          CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END AS o_flag
        FROM orders),
      p AS (
        SELECT 1 AS ordinal_position, 'o_orderkey' AS column_name,
          CAST(min(o_orderkey) AS VARCHAR) AS min_value,
          CAST(max(o_orderkey) AS VARCHAR) AS max_value,
          CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          count(DISTINCT o_orderkey) AS n_distinct, count(*) AS n_rows FROM t
        UNION ALL
        SELECT 2, 'o_custkey', CAST(min(o_custkey) AS VARCHAR),
          CAST(max(o_custkey) AS VARCHAR),
          CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT o_custkey), count(*) FROM t
        UNION ALL
        SELECT 3, 'o_orderstatus', CAST(min(o_orderstatus) AS VARCHAR),
          CAST(max(o_orderstatus) AS VARCHAR),
          CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT o_orderstatus), count(*) FROM t
        UNION ALL
        SELECT 4, 'o_totalprice', CAST(min(o_totalprice) AS VARCHAR),
          CAST(max(o_totalprice) AS VARCHAR),
          CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT o_totalprice), count(*) FROM t
        UNION ALL
        SELECT 5, 'o_orderdate', CAST(min(o_orderdate) AS VARCHAR),
          CAST(max(o_orderdate) AS VARCHAR),
          CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT o_orderdate), count(*) FROM t
        UNION ALL
        SELECT 6, 'o_orderpriority', CAST(min(o_orderpriority) AS VARCHAR),
          CAST(max(o_orderpriority) AS VARCHAR),
          CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT o_orderpriority), count(*) FROM t
        UNION ALL
        SELECT 7, 'o_flag', CAST(min(o_flag) AS VARCHAR),
          CAST(max(o_flag) AS VARCHAR),
          CAST(sum(CASE WHEN o_flag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT o_flag), count(*) FROM t)
      SELECT 'stage.orders' AS object_name, ordinal_position, column_name,
        min_value, max_value, n_null, n_distinct, n_rows
      FROM p ORDER BY ordinal_position""",

    // q89: q84's recursive placement + the STEP 6-7 prenatal-window pass
    // (lag across the merged per-person timeline, default gestation
    // clipped to prior endpoint + buffer).
    "q89_preg_windows" -> (PregPlacementCte + """,
      tl AS (
        SELECT id, cls, d,
          row_number() OVER (PARTITION BY id ORDER BY d, cls) AS seq,
          date_diff('day',
            lag(d) OVER (PARTITION BY id ORDER BY d, cls), d) AS dd,
          lag(cls) OVER (PARTITION BY id ORDER BY d, cls) AS pcls
        FROM placed),
      fin AS (
        SELECT id, cls, seq, dd, pcls, d,
          CASE WHEN cls IN ('lb','sb','deliv') THEN 301
               WHEN cls = 'tro' THEN 112 WHEN cls = 'ect' THEN 84
               WHEN cls = 'ab' THEN 168 WHEN cls = 'sa' THEN 133 END AS dg,
          CASE WHEN cls = 'lb' THEN 154 WHEN cls IN ('sb','deliv') THEN 140
               WHEN cls IN ('tro','ect','ab') THEN 42
               WHEN cls = 'sa' THEN 28 END AS mg,
          CASE WHEN pcls IN ('lb','sb','deliv') THEN 28
               WHEN pcls IN ('tro','ect','ab','sa') THEN 14 END AS buf
        FROM tl)
      SELECT id AS id_person, cls AS preg_endpoint,
        CAST(seq AS INT) AS preg_episode_seq,
        CASE WHEN dd IS NULL OR dd >= dg THEN d - CAST(dg AS INT)
          ELSE d - CAST(dd AS INT) + CAST(buf AS INT) END AS preg_start_date,
        d AS preg_end_date,
        d - CAST(dg AS INT) AS preg_start_date_max,
        d - CAST(mg AS INT) AS preg_start_date_min
      FROM fin ORDER BY id_person, preg_episode_seq"""),

    // q90: q89's episodes + STEP 8A anchor-procedure start-date correction
    // (max corrected start = closest-to-end), ga_weeks to 1 decimal, and
    // the 22/20-week validity + 37-week ftb/ptb flags.
    "q90_preg_ga_correct" -> (PregPlacementCte + s""",
      $EpisodeCtes,
      ${pregCorrectionCtes(100)}
      SELECT id_person, preg_endpoint, preg_episode_seq,
        preg_start_date_correct, ga_weeks, valid_start_date, valid_ga,
        lb_type
      FROM corrected ORDER BY id_person, preg_episode_seq"""),

    // q91: the full 7-class hierarchy (STEP 5A-5G) — oracle generated
    // from the conflict-window matrix; one recursive phase per class.
    "q91_preg_full" -> s"""
      WITH RECURSIVE $PregFullPlacedCtes
      SELECT id AS id_person, cls AS preg_endpoint, d AS endpoint_date,
        CAST(rank() OVER (PARTITION BY id, cls ORDER BY d) AS INT)
          AS preg_episode_id
      FROM placed ORDER BY id_person, preg_endpoint, preg_episode_id""",

    // q92: MOUD build — code dispatch, H0033 monthly-context
    // disambiguation (proc + rx), next-service-date methadone supply
    // with quarter-median fallbacks (median-as-window in DuckDB; the
    // Spark side re-expresses T-SQL percentile_cont OVER as a sorted
    // window collect_list).
    "q92_claim_moud" -> s"""
      WITH $MoudDayCtes
      SELECT id_person, service_quarter, count(*) AS n_days,
        CAST(sum(meth_proc_flag) AS BIGINT) AS meth_days,
        CAST(sum(bup_proc_flag) AS BIGINT) AS bup_days,
        CAST(sum(nal_proc_flag) AS BIGINT) AS nal_days,
        CAST(sum(next_meth_diff) AS BIGINT) AS sum_next_diff,
        round(sum(supply_new_row), 2) AS supply_new
      FROM fin GROUP BY 1, 2 ORDER BY id_person, service_quarter""",

    // q93: APCD elig_timevar 4-step — presence-combination covgrps,
    // empirical dual flag, month-arithmetic islands, collapse with
    // cov_time_day, contiguous-with-prior flag.
    "q93_elig_timevar_apcd" -> """
      WITH pm AS (
        SELECT DISTINCT o_custkey % 40 AS id_person,
          year(CAST(o_orderdate AS DATE)) * 100 + month(CAST(o_orderdate AS DATE))
            AS year_month
        FROM orders),
      det AS (
        SELECT id_person, year_month,
          'Z' || CAST((id_person + ((year_month // 100) * 12 + year_month % 100) // 24) % 5 AS VARCHAR) AS zip_code,
          (id_person + ((year_month // 100) * 12 + year_month % 100) // 6) AS q
        FROM pm),
      s1 AS (
        SELECT id_person,
          make_date(CAST(year_month // 100 AS INT), CAST(year_month % 100 AS INT), 1) AS from_date,
          last_day(make_date(CAST(year_month // 100 AS INT), CAST(year_month % 100 AS INT), 1)) AS to_date,
          zip_code,
          CASE WHEN (q % 3 = 0 OR q % 3 = 1 OR q % 6 = 0)
                AND (q % 5 = 0 OR q % 5 = 1 OR q % 8 = 0) THEN 1 ELSE 0 END AS dual_flag,
          CASE WHEN q % 3 = 0 AND NOT q % 4 = 0 AND NOT q % 5 = 0 THEN 1
               WHEN NOT q % 3 = 0 AND NOT q % 4 = 0 AND q % 5 = 0 THEN 2
               WHEN NOT q % 3 = 0 AND q % 4 = 0 AND NOT q % 5 = 0 THEN 3
               WHEN q % 3 = 0 AND NOT q % 4 = 0 AND q % 5 = 0 THEN 4
               WHEN q % 3 = 0 AND q % 4 = 0 AND NOT q % 5 = 0 THEN 5
               WHEN NOT q % 3 = 0 AND q % 4 = 0 AND q % 5 = 0 THEN 6
               WHEN q % 3 = 0 AND q % 4 = 0 AND q % 5 = 0 THEN 7
               WHEN q % 2 = 0 THEN 8 ELSE 0 END AS med_covgrp,
          CASE WHEN q % 3 = 1 AND NOT q % 4 = 1 AND NOT q % 5 = 1 THEN 1
               WHEN NOT q % 3 = 1 AND NOT q % 4 = 1 AND q % 5 = 1 THEN 2
               WHEN NOT q % 3 = 1 AND q % 4 = 1 AND NOT q % 5 = 1 THEN 3
               WHEN q % 3 = 1 AND NOT q % 4 = 1 AND q % 5 = 1 THEN 4
               WHEN q % 3 = 1 AND q % 4 = 1 AND NOT q % 5 = 1 THEN 5
               WHEN NOT q % 3 = 1 AND q % 4 = 1 AND q % 5 = 1 THEN 6
               WHEN q % 3 = 1 AND q % 4 = 1 AND q % 5 = 1 THEN 7
               WHEN q % 2 = 1 THEN 8 ELSE 0 END AS pharm_covgrp,
          CASE WHEN q % 6 = 0 AND NOT q % 7 = 0 AND NOT q % 8 = 0 THEN 1
               WHEN NOT q % 6 = 0 AND NOT q % 7 = 0 AND q % 8 = 0 THEN 2
               WHEN NOT q % 6 = 0 AND q % 7 = 0 AND NOT q % 8 = 0 THEN 3
               WHEN q % 6 = 0 AND NOT q % 7 = 0 AND q % 8 = 0 THEN 4
               WHEN q % 6 = 0 AND q % 7 = 0 AND NOT q % 8 = 0 THEN 5
               WHEN NOT q % 6 = 0 AND q % 7 = 0 AND q % 8 = 0 THEN 6
               WHEN q % 6 = 0 AND q % 7 = 0 AND q % 8 = 0 THEN 7
               ELSE 0 END AS dental_covgrp
        FROM det),
      isl AS (
        SELECT DISTINCT *,
          (year(from_date) * 12 + month(from_date)) - row_number() OVER (
            PARTITION BY id_person, zip_code, med_covgrp, pharm_covgrp,
              dental_covgrp, dual_flag ORDER BY from_date) AS group_num
        FROM s1),
      coll AS (
        SELECT id_person, zip_code, med_covgrp, pharm_covgrp, dental_covgrp,
          dual_flag, min(from_date) AS from_date, max(to_date) AS to_date,
          date_diff('day', min(from_date), max(to_date)) + 1 AS cov_time_day
        FROM isl
        GROUP BY id_person, zip_code, med_covgrp, pharm_covgrp, dental_covgrp,
          dual_flag, group_num)
      SELECT id_person, from_date, to_date,
        CASE WHEN date_diff('day',
          lag(to_date) OVER (PARTITION BY id_person ORDER BY from_date),
          from_date) = 1 THEN 1 ELSE 0 END AS contiguous,
        med_covgrp, pharm_covgrp, dental_covgrp, dual_flag, zip_code,
        CAST(cov_time_day AS INT) AS cov_time_day
      FROM coll ORDER BY id_person, from_date""",

    // q94: sp_comma_separated_list analog — sorted distinct values per
    // column, count fallback past the cardinality cap.
    "q94_value_list" -> """
      WITH p AS (
        SELECT 1 AS ordinal_position, 'o_orderstatus' AS column_name,
          list_sort(list(DISTINCT CAST(o_orderstatus AS VARCHAR))) AS vals
        FROM orders
        UNION ALL
        SELECT 2, 'o_orderpriority',
          list_sort(list(DISTINCT CAST(o_orderpriority AS VARCHAR)))
        FROM orders
        UNION ALL
        SELECT 3, 'o_custkey',
          list_sort(list(DISTINCT CAST(o_custkey AS VARCHAR)))
        FROM orders)
      SELECT 'stage.orders' AS object_name, ordinal_position, column_name,
        CASE WHEN len(vals) <= 10
          THEN 'Values: ' || array_to_string(vals, ', ')
          ELSE 'Distinct values: ' || CAST(len(vals) AS VARCHAR) END
          AS column_description
      FROM p ORDER BY ordinal_position""",

    // q95: per-source payment arithmetic + denial filter + drift union
    // (decimal +/- only, so both engines agree exactly).
    "q95_payment_union" -> """
      WITH li AS (
        SELECT o_custkey, l_orderkey, l_linenumber,
          CAST(l_shipdate AS DATE) AS ship_d,
          CAST(l_extendedprice AS DECIMAL(12,2)) AS ext,
          CAST(l_quantity AS DECIMAL(12,2)) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      src AS (
        SELECT DISTINCT * FROM (
          SELECT o_custkey AS id_person,
            l_orderkey * 10 + l_linenumber AS claim_id, ship_d AS svc_date,
            ext AS submitted_charges,
            CAST(ext - qty * 3 AS DECIMAL(12,2)) AS total_paid_payer,
            CAST(qty * 2 AS DECIMAL(12,2)) AS total_paid_bene,
            CAST(ext - qty AS DECIMAL(12,2)) AS total_cost_of_care,
            CAST(NULL AS VARCHAR) AS drg_code, 'carrier' AS filetype
          FROM li WHERE l_orderkey % 3 = 0 AND l_linenumber % 7 <> 0
          UNION ALL
          SELECT o_custkey, l_orderkey * 10 + l_linenumber, ship_d,
            ext, CAST(ext - qty AS DECIMAL(12,2)), NULL,
            CAST(ext - qty AS DECIMAL(12,2)), NULL, 'dme'
          FROM li WHERE l_orderkey % 3 = 1
          UNION ALL
          SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE),
            CAST(o_totalprice AS DECIMAL(12,2)),
            CAST(CAST(o_totalprice AS DECIMAL(12,2)) - 250 AS DECIMAL(12,2)),
            CAST(250 AS DECIMAL(12,2)),
            CAST(o_totalprice AS DECIMAL(12,2)),
            'DRG' || CAST(o_orderkey % 30 AS VARCHAR), 'inpatient'
          FROM orders WHERE o_orderkey % 5 = 0))
      SELECT filetype, count(*) AS n,
        round(CAST(sum(submitted_charges) AS DOUBLE), 2) AS submitted,
        round(CAST(sum(total_paid_payer) AS DOUBLE), 2) AS paid_payer,
        round(CAST(sum(total_paid_bene) AS DOUBLE), 2) AS paid_bene,
        round(CAST(sum(total_cost_of_care) AS DOUBLE), 2) AS cost,
        count(drg_code) AS n_drg
      FROM src GROUP BY 1 ORDER BY filetype""",

    // q96: the FUH chain — value-set set algebra for MI/MHD acute index
    // stays, chained-discharge collapse (row_number desc w/ claim-id
    // tiebreak), readmit exclusion, 7/30-day follow-up flags with the
    // TCM-14 'Y' 30-day-only idiosyncrasy (MAX over 'Y'/'N').
    "q96_fuh_measure" -> """
      WITH header AS (
        SELECT o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS admit_date,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INT)
            AS discharge_date
        FROM orders),
      claims AS (
        SELECT o_custkey % 120 AS id_person, o_orderkey AS claim_id
        FROM orders),
      mi AS (SELECT * FROM claims WHERE claim_id % 5 = 0),
      mhd AS (SELECT * FROM claims WHERE claim_id % 3 = 0),
      inp AS (SELECT * FROM claims WHERE claim_id % 2 = 0),
      na AS (SELECT * FROM claims WHERE claim_id % 7 = 0),
      demo AS (
        SELECT id_person,
          DATE '1940-01-01' + CAST((id_person * 89) % 15000 AS INT) AS dob
        FROM (SELECT DISTINCT o_custkey % 120 AS id_person FROM orders)),
      acute AS (SELECT * FROM inp EXCEPT SELECT * FROM na),
      idx AS (
        SELECT c.value_set_name, c.id_person,
          CAST((year(h.discharge_date) - year(d.dob)) -
            CASE WHEN d.dob + to_years(CAST(year(h.discharge_date) -
              year(d.dob) AS INT)) > h.discharge_date THEN 1 ELSE 0 END
            AS INT) AS age,
          c.claim_id, h.admit_date, h.discharge_date, 1 AS flag
        FROM (
          SELECT 'Mental Illness' AS value_set_name, * FROM
            (SELECT * FROM mi INTERSECT SELECT * FROM acute)
          UNION ALL
          SELECT 'Mental Health Diagnosis', * FROM
            (SELECT * FROM mhd INTERSECT SELECT * FROM acute)) c
        JOIN demo d ON c.id_person = d.id_person
        JOIN header h ON c.claim_id = h.claim_id),
      readmit AS (
        SELECT r.id_person, r.claim_id, h.admit_date, h.discharge_date,
          1 AS flag
        FROM (
          SELECT * FROM inp INTERSECT SELECT * FROM na
          UNION
          ((SELECT * FROM inp EXCEPT SELECT * FROM na)
           EXCEPT SELECT * FROM mhd)) r
        JOIN header h ON r.claim_id = h.claim_id),
      li AS (
        SELECT o_custkey % 120 AS id_person,
          l_orderkey * 10 + l_linenumber AS claim_id,
          CAST(l_shipdate AS DATE) AS service_date,
          l_returnflag, l_quantity, l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      fu AS (
        SELECT id_person, claim_id, service_date, 1 AS flag,
          max(o30) AS only_30_day_fu
        FROM (
          SELECT id_person, claim_id, service_date, 'N' AS o30 FROM li
          WHERE l_returnflag = 'R'
          UNION
          SELECT id_person, claim_id, service_date, 'N' FROM (
            SELECT id_person, claim_id, service_date FROM li
            WHERE l_quantity >= 40
            INTERSECT
            SELECT id_person, claim_id, service_date FROM li
            WHERE l_linenumber % 2 = 0)
          UNION
          SELECT id_person, claim_id, service_date, 'Y' FROM li
          WHERE l_quantity < 5)
        GROUP BY 1, 2, 3, 4),
      a AS (
        SELECT * FROM idx WHERE value_set_name = 'Mental Illness'
        AND discharge_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      b AS (
        SELECT * FROM idx WHERE value_set_name = 'Mental Health Diagnosis'
        AND discharge_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      coll0 AS (
        SELECT
          coalesce(b.id_person, a.id_person) AS id_person,
          coalesce(b.age, a.age) AS age,
          coalesce(b.claim_id, a.claim_id) AS claim_id,
          coalesce(b.admit_date, a.admit_date) AS admit_date,
          coalesce(b.discharge_date, a.discharge_date) AS discharge_date,
          coalesce(b.flag, a.flag) AS flag,
          row_number() OVER (PARTITION BY a.claim_id
            ORDER BY b.discharge_date DESC NULLS LAST,
              b.claim_id DESC NULLS LAST) AS rn
        FROM a LEFT JOIN b ON a.id_person = b.id_person
          AND b.discharge_date BETWEEN a.discharge_date + 1
            AND a.discharge_date + 30),
      coll AS (
        SELECT DISTINCT id_person, age, claim_id, admit_date,
          discharge_date, flag
        FROM coll0 WHERE rn = 1),
      excl AS (
        SELECT c.id_person, c.age, c.claim_id, c.admit_date,
          c.discharge_date, c.flag,
          max(coalesce(r.flag, 0)) AS inpatient_within_30_day
        FROM coll c LEFT JOIN (
          SELECT * FROM readmit WHERE admit_date BETWEEN DATE '1996-01-01'
            AND DATE '1996-12-31') r
          ON c.id_person = r.id_person
          AND r.admit_date BETWEEN c.discharge_date + 1
            AND c.discharge_date + 30
        GROUP BY 1, 2, 3, 4, 5, 6
        HAVING max(coalesce(r.flag, 0)) = 0),
      fuw AS (
        SELECT * FROM fu WHERE service_date BETWEEN DATE '1996-01-01'
          AND DATE '1996-12-31'),
      with7 AS (
        SELECT e.*, max(coalesce(f.flag, 0)) AS follow_up_7_day
        FROM excl e LEFT JOIN (
          SELECT * FROM fuw WHERE only_30_day_fu = 'N') f
          ON e.id_person = f.id_person
          AND f.service_date BETWEEN e.discharge_date + 1
            AND e.discharge_date + 7
        GROUP BY ALL),
      with30 AS (
        SELECT w.*, max(coalesce(f.flag, 0)) AS follow_up_30_day
        FROM with7 w LEFT JOIN fuw f
          ON w.id_person = f.id_person
          AND f.service_date BETWEEN w.discharge_date + 1
            AND w.discharge_date + 30
        GROUP BY ALL)
      SELECT
        CAST(year(discharge_date) * 100 + month(discharge_date) AS INTEGER)
          AS ym,
        id_person, age, claim_id, admit_date, discharge_date,
        flag AS inpatient_index_stay, inpatient_within_30_day,
        CASE WHEN day(discharge_date) = 1 AND
          month(discharge_date) IN (1, 3, 5, 7, 8, 10, 12)
          THEN 1 ELSE 0 END AS need_1_month_coverage,
        follow_up_7_day, follow_up_30_day
      FROM with30
      ORDER BY id_person, claim_id""",

    // q97: PCR — lag/flag/running-sum transfer stitching, episode windows,
    // set-algebra exclusions (pregnancy over the episode, planned on stay
    // 1), 30-day readmission self-join with first-readmission pick and
    // planned-readmission drop.
    "q97_pcr_readmit" -> """
      WITH claims AS (
        SELECT o_custkey % 90 AS id_person, o_orderkey AS claim_id
        FROM orders),
      stays AS (
        SELECT o_custkey % 90 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 9 AS INT) AS lsd,
          CASE WHEN o_orderkey % 37 = 0 THEN '20' ELSE '10' END
            AS patient_status
        FROM orders WHERE o_orderkey % 2 = 0),
      inp AS (SELECT * FROM claims WHERE claim_id % 2 = 0),
      preg AS (
        SELECT *, 1 AS flag FROM (
          (SELECT * FROM inp
           INTERSECT SELECT * FROM claims WHERE claim_id % 13 = 0)
          EXCEPT SELECT * FROM claims WHERE claim_id % 19 = 0)),
      planned AS (
        SELECT *, 1 AS flag FROM (
          ((SELECT * FROM inp
            INTERSECT SELECT * FROM claims WHERE claim_id % 17 = 0)
           UNION
           (SELECT * FROM inp
            INTERSECT SELECT * FROM claims WHERE claim_id % 23 = 0)
           UNION
           ((SELECT * FROM inp
             INTERSECT SELECT * FROM claims WHERE claim_id % 29 = 0)
            EXCEPT
            (SELECT * FROM inp
             INTERSECT SELECT * FROM claims WHERE claim_id % 31 = 0)))
          EXCEPT SELECT * FROM claims WHERE claim_id % 19 = 0)),
      ep0 AS (
        SELECT *,
          max(lsd) OVER (PARTITION BY id_person
            ORDER BY fsd, lsd, claim_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_to
        FROM stays),
      ep1 AS (
        SELECT *, CASE WHEN prev_to IS NULL
          OR date_diff('day', prev_to, fsd) > 1 THEN 1 ELSE 0 END AS inc
        FROM ep0),
      ep AS (
        SELECT *, CAST(sum(inc) OVER (PARTITION BY id_person
          ORDER BY fsd, lsd, claim_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS episode_id
        FROM ep1),
      tr AS (
        SELECT *,
          min(fsd) OVER e AS ep_first,
          max(lsd) OVER e AS ep_last,
          CAST(row_number() OVER (PARTITION BY id_person, episode_id
            ORDER BY fsd, lsd, claim_id) AS INT) AS stay_id,
          max(CASE WHEN patient_status = '20' THEN 1 ELSE 0 END) OVER e
            AS death
        FROM ep
        WINDOW e AS (PARTITION BY id_person, episode_id)),
      j1 AS (
        SELECT t.*, p.flag AS preg_flag, pl.flag AS pl_flag
        FROM tr t
        LEFT JOIN preg p ON t.claim_id = p.claim_id
        LEFT JOIN planned pl ON t.claim_id = pl.claim_id),
      j2 AS (
        SELECT *,
          coalesce(max(preg_flag) OVER (PARTITION BY id_person, episode_id),
            0) AS pregnancy_exclusion,
          coalesce(CASE WHEN stay_id = 1 THEN pl_flag END, 0)
            AS planned_exclusion,
          CASE WHEN ep_first = ep_last THEN 1 ELSE 0 END AS same_day
        FROM j1),
      idx AS (
        SELECT id_person, episode_id, ep_first, ep_last, planned_exclusion
        FROM j2
        WHERE stay_id = 1 AND death = 0 AND same_day = 0
          AND pregnancy_exclusion = 0),
      sj AS (
        SELECT a.id_person, a.episode_id, a.ep_first, a.ep_last,
          b.ep_first AS b_first, b.ep_last AS b_last,
          b.planned_exclusion AS b_planned,
          row_number() OVER (PARTITION BY a.id_person, a.episode_id
            ORDER BY b.ep_first ASC NULLS LAST,
              b.episode_id ASC NULLS LAST) AS row_num
        FROM idx a LEFT JOIN idx b ON a.id_person = b.id_person
          AND b.ep_first BETWEEN a.ep_last + 1 AND a.ep_last + 30)
      SELECT
        CAST(year(ep_first) * 100 + month(ep_first) AS INTEGER) AS ym,
        id_person, episode_id,
        ep_first AS episode_first_service_date,
        ep_last AS episode_last_service_date,
        1 AS inpatient_index_stay,
        b_first AS readmission_first_service_date,
        b_last AS readmission_last_service_date,
        CASE WHEN b_first IS NOT NULL THEN 1 ELSE 0 END AS readmission_flag,
        CAST(date_diff('day', ep_last, b_first) AS INT) AS date_diff,
        b_planned AS planned_readmission
      FROM sj
      WHERE row_num = 1 AND (b_planned IS NULL OR b_planned = 0)
      ORDER BY id_person, episode_first_service_date, episode_id""",

    // q98: composed mcare claim_header — drifted 3-source union with
    // per-source payment arithmetic + denial filters, eligibility
    // existence, claim-type crosswalk, claim-window admission/discharge +
    // distinct collapse, line/proc/dx rollups, claim-type-gated ED flags.
    "q98_mcare_claim_header" -> """
      WITH li AS (
        SELECT l.*, o.o_custkey, o.o_orderkey AS ok,
          CAST(o.o_orderdate AS DATE) AS od, o.o_totalprice,
          CAST(l.l_extendedprice AS DECIMAL(12,2)) AS ext,
          CAST(l.l_quantity AS DECIMAL(12,2)) AS qty,
          CAST(l.l_shipdate AS DATE) AS ship_d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      carrier AS (
        SELECT o_custkey % 150 AS id_person,
          l_orderkey * 10 + l_linenumber AS claim_id,
          ship_d AS first_service_date, ship_d + 2 AS last_service_date,
          '71' AS claim_type_src, CAST(NULL AS VARCHAR) AS patient_status_code,
          CAST(NULL AS DATE) AS admission_date,
          CAST(NULL AS DATE) AS discharge_date,
          CAST(NULL AS VARCHAR) AS drg_code,
          ext AS submitted_charges,
          CAST(ext - qty * 3 AS DECIMAL(12,2)) AS total_paid_payer,
          CAST(qty * 2 AS DECIMAL(12,2)) AS total_paid_bene,
          CAST(ext - qty AS DECIMAL(12,2)) AS total_cost_of_care,
          'carrier' AS filetype
        FROM li WHERE l_orderkey % 3 = 0 AND l_linenumber % 7 <> 0),
      dme AS (
        SELECT o_custkey % 150, l_orderkey * 10 + l_linenumber, ship_d,
          ship_d, '82', NULL, NULL, NULL, NULL, ext,
          CAST(ext - qty AS DECIMAL(12,2)), NULL,
          CAST(ext - qty AS DECIMAL(12,2)), 'dme'
        FROM li WHERE l_orderkey % 3 = 1),
      inpatient AS (
        SELECT o_custkey % 150, ok * 10, od,
          od + CAST(ok % 6 AS INT), '60',
          CASE WHEN ok % 23 = 0 THEN '20' ELSE '30' END,
          od - CAST(l_linenumber % 4 AS INT), od + CAST(ok % 6 AS INT),
          'DRG' || CAST(ok % 40 AS VARCHAR),
          CAST(o_totalprice AS DECIMAL(12,2)),
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) - 300 AS DECIMAL(12,2)),
          CAST(300 AS DECIMAL(12,2)),
          CAST(o_totalprice AS DECIMAL(12,2)), 'inpatient'
        FROM li WHERE ok % 5 = 0),
      unioned AS (
        SELECT DISTINCT * FROM (
          SELECT * FROM carrier
          UNION ALL SELECT * FROM dme
          UNION ALL SELECT * FROM inpatient)),
      elig AS (
        SELECT id_person FROM
          (SELECT DISTINCT c_custkey % 150 AS id_person FROM customer)
        WHERE id_person % 4 <> 3),
      hdr0 AS (
        SELECT u.*, x.claim_type_id,
          min(u.admission_date) OVER (PARTITION BY u.claim_id) AS adm2,
          max(u.discharge_date) OVER (PARTITION BY u.claim_id) AS dis2
        FROM unioned u
        LEFT JOIN (VALUES ('71', 5), ('82', 4), ('60', 1))
          x(claim_type_src, claim_type_id)
          ON u.claim_type_src = x.claim_type_src
        WHERE u.id_person IN (SELECT id_person FROM elig)),
      hdr AS (
        SELECT DISTINCT id_person, claim_id, first_service_date,
          last_service_date, claim_type_src, claim_type_id,
          patient_status_code, adm2 AS admission_date,
          dis2 AS discharge_date, drg_code, submitted_charges,
          total_paid_payer, total_paid_bene, total_cost_of_care, filetype,
          CASE WHEN claim_type_src = '60' AND dis2 IS NOT NULL
            THEN 1 ELSE 0 END AS inpatient_flag
        FROM hdr0),
      linesrc AS (
        SELECT l_orderkey * 10 + l_linenumber AS claim_id, l_partkey,
          l_linenumber
        FROM li WHERE l_orderkey % 3 <= 1
        UNION ALL
        SELECT ok * 10, l_partkey, l_linenumber FROM li WHERE ok % 5 = 0),
      lineflags AS (
        SELECT claim_id,
          max(CASE WHEN l_partkey % 9 = 0 THEN 1 ELSE 0 END) AS ed_pos,
          max(CASE WHEN l_partkey % 11 IN (0, 2) THEN 1 ELSE 0 END)
            AS ed_rev_perform,
          max(CASE WHEN l_partkey % 11 IN (0, 1, 2) THEN 1 ELSE 0 END)
            AS ed_rev_pophealth
        FROM linesrc GROUP BY 1),
      procflags AS (
        SELECT * FROM (
          SELECT claim_id,
            max(CASE WHEN l_partkey % 13 IN (0, 1, 3) THEN 1 ELSE 0 END)
              AS ed_proc_perform,
            max(CASE WHEN l_partkey % 13 IN (0, 1, 2) THEN 1 ELSE 0 END)
              AS ed_proc_pophealth
          FROM linesrc GROUP BY 1)
        WHERE ed_proc_perform = 1 OR ed_proc_pophealth = 1),
      dx1 AS (
        SELECT claim_id,
          min('F' || lpad(CAST(l_partkey % 90 AS VARCHAR), 2, '0'))
            AS primary_diagnosis
        FROM linesrc WHERE l_linenumber = 1 GROUP BY 1),
      final AS (
        SELECT h.*, d.primary_diagnosis,
          CASE WHEN h.claim_type_id = 4 AND (lf.ed_rev_perform = 1
            OR pf.ed_proc_perform = 1 OR lf.ed_pos = 1)
            THEN 1 ELSE 0 END AS ed_perform,
          CASE WHEN h.claim_type_id = 5 AND ((pf.ed_proc_pophealth = 1
            AND lf.ed_pos = 1) OR lf.ed_rev_pophealth = 1)
            THEN 1 ELSE 0 END AS ed_yale_carrier,
          CASE WHEN h.claim_type_id = 4 AND (lf.ed_rev_pophealth = 1
            OR lf.ed_pos = 1 OR pf.ed_proc_pophealth = 1)
            THEN 1 ELSE 0 END AS ed_yale_opt,
          CASE WHEN h.claim_type_id = 1 AND (lf.ed_rev_pophealth = 1
            OR lf.ed_pos = 1 OR pf.ed_proc_pophealth = 1)
            THEN 1 ELSE 0 END AS ed_yale_ipt
        FROM hdr h
        LEFT JOIN lineflags lf ON h.claim_id = lf.claim_id
        LEFT JOIN procflags pf ON h.claim_id = pf.claim_id
        LEFT JOIN dx1 d ON h.claim_id = d.claim_id)
      SELECT filetype, claim_type_id, count(*) AS n_claims,
        count(DISTINCT id_person) AS n_persons,
        CAST(sum(inpatient_flag) AS BIGINT) AS n_inpatient,
        CAST(sum(ed_perform) AS BIGINT) AS n_ed_perform,
        CAST(sum(ed_yale_carrier) AS BIGINT) AS n_yale_carrier,
        CAST(sum(ed_yale_opt) AS BIGINT) AS n_yale_opt,
        CAST(sum(ed_yale_ipt) AS BIGINT) AS n_yale_ipt,
        count(primary_diagnosis) AS n_primary_dx,
        min(admission_date) AS min_admit,
        max(discharge_date) AS max_discharge,
        round(CAST(sum(submitted_charges) AS DOUBLE), 2) AS submitted,
        round(CAST(sum(total_paid_payer) AS DOUBLE), 2) AS paid_payer,
        round(CAST(sum(total_paid_bene) AS DOUBLE), 2) AS paid_bene,
        round(CAST(sum(total_cost_of_care) AS DOUBLE), 2) AS cost
      FROM final GROUP BY 1, 2 ORDER BY filetype""",

    // q99: generic elig_timevar_collapse — ids restriction, collapse over
    // the chosen attribute subset (plan only), cov_time_day recompute.
    "q99_timevar_collapse" -> """
      WITH pm AS (
        SELECT DISTINCT o_custkey % 50 AS id_person,
          date_trunc('month', CAST(o_orderdate AS DATE))::DATE AS from_date
        FROM orders),
      det AS (
        SELECT id_person, from_date, last_day(from_date) AS to_date,
          'P' || CAST((id_person +
            (year(from_date) * 12 + month(from_date)) // 3) % 3 AS VARCHAR)
            AS plan
        FROM pm WHERE id_person BETWEEN 0 AND 34),
      g0 AS (
        SELECT *, lag(to_date) OVER (PARTITION BY id_person, plan
          ORDER BY from_date, to_date) AS prev_to
        FROM det),
      g1 AS (
        SELECT *, CASE WHEN prev_to IS NULL
          OR date_diff('day', prev_to, from_date) > 1 THEN 1 ELSE 0 END
          AS st
        FROM g0),
      g2 AS (
        SELECT *, sum(st) OVER (PARTITION BY id_person, plan
          ORDER BY from_date, to_date ROWS UNBOUNDED PRECEDING) AS island
        FROM g1)
      SELECT id_person, plan, min(from_date) AS from_date,
        max(to_date) AS to_date,
        CAST(date_diff('day', min(from_date), max(to_date)) + 1 AS INT)
          AS cov_time_day
      FROM g2 GROUP BY id_person, plan, island
      ORDER BY id_person, from_date, plan""",

    // q100: q60's measure pipeline with the hospice member-month union
    // subtracted from the denominator (and so from every numerator gate).
    "q100_hospice_denom" -> """
      WITH li AS (
        SELECT l.*, o.o_custkey FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey),
      hospice AS (
        SELECT DISTINCT id_person, month FROM (
          SELECT o_custkey AS id_person,
            date_trunc('month', CAST(o_orderdate AS DATE))::DATE AS month
          FROM orders
          WHERE lpad(CAST(o_orderkey % 120 AS VARCHAR), 3, '0')
            IN ('081', '082')
          UNION
          SELECT o_custkey,
            date_trunc('month', CAST(l_shipdate AS DATE))::DATE
          FROM li
          WHERE lpad(CAST(l_suppkey % 200 AS VARCHAR), 4, '0')
            IN ('0115', '0125')
          UNION
          SELECT o_custkey,
            date_trunc('month', CAST(l_shipdate AS DATE) + 3)::DATE
          FROM li
          WHERE 'T' || CAST(l_partkey % 300 AS VARCHAR) IN ('T42', 'T43'))),
      members AS (SELECT DISTINCT o_custkey FROM orders),
      months AS (
        SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-01',
          INTERVAL 1 MONTH))::DATE AS month),
      grid AS (SELECT o_custkey, month FROM members CROSS JOIN months),
      facts AS (
        SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS month,
          count(*) AS n_orders, max(o_totalprice) AS max_price
        FROM orders GROUP BY 1, 2),
      staged AS (
        SELECT g.o_custkey, g.month,
          coalesce(f.n_orders, 0) AS n_orders,
          coalesce(f.max_price, 0) AS max_price,
          CASE WHEN h.id_person IS NOT NULL THEN 1 ELSE 0 END AS excl
        FROM grid g LEFT JOIN facts f USING (o_custkey, month)
        LEFT JOIN hospice h
          ON g.o_custkey = h.id_person AND g.month = h.month),
      denom AS (
        SELECT o_custkey, month, excl,
          sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) OVER w AS active_m,
          sum(CASE WHEN max_price > 150000.0 THEN 1 ELSE 0 END) OVER w AS hv
        FROM staged
        WINDOW w AS (PARTITION BY o_custkey ORDER BY month
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
      per AS (
        SELECT month,
          CAST(sum(CASE WHEN active_m >= 2 AND excl = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_denom,
          CAST(sum(CASE WHEN active_m >= 2 AND excl = 0 AND active_m > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
          CAST(sum(CASE WHEN active_m >= 2 AND excl = 0 AND hv > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_hv
        FROM denom GROUP BY month)
      SELECT measure, ym, n_denom, n_num,
        CASE WHEN n_denom > 0
          THEN round(n_num * 100.0 / n_denom, 2) END AS rate
      FROM (
        SELECT 'order_any' AS measure,
          CAST(year(month) * 100 + month(month) AS INTEGER) AS ym,
          n_denom, n_any AS n_num FROM per
        UNION ALL
        SELECT 'high_value',
          CAST(year(month) * 100 + month(month) AS INTEGER),
          n_denom, n_hv FROM per)
      ORDER BY measure, ym""",

    // q101: enroll-provider — (member x plan) grid, trailing-12 coverage
    // sum, per-month tie-break pick (coverage DESC, flag DESC, plan ASC).
    "q101_enroll_provider" -> """
      WITH mm AS (
        SELECT DISTINCT o_custkey % 60 AS id_person,
          date_trunc('month', CAST(o_orderdate AS DATE))::DATE AS month,
          CASE WHEN o_orderkey % 4 = 0 THEN 'FFS'
            ELSE 'MCO' || CAST((o_custkey +
              (year(CAST(o_orderdate AS DATE)) * 12 +
               month(CAST(o_orderdate AS DATE))) // 4) % 3 AS VARCHAR)
          END AS mco_or_ffs
        FROM orders),
      mmf AS (
        SELECT id_person, mco_or_ffs, month, 1 AS flag FROM mm
        WHERE month BETWEEN DATE '1995-02-01' AND DATE '1996-12-01'),
      universe AS (SELECT DISTINCT id_person, mco_or_ffs FROM mmf),
      months AS (
        SELECT unnest(generate_series(DATE '1995-02-01', DATE '1996-12-01',
          INTERVAL 1 MONTH))::DATE AS month),
      grid AS (SELECT id_person, mco_or_ffs, month
        FROM universe CROSS JOIN months),
      staged AS (
        SELECT g.id_person, g.mco_or_ffs, g.month,
          coalesce(f.flag, 0) AS flag
        FROM grid g LEFT JOIN mmf f
          USING (id_person, mco_or_ffs, month)),
      cov AS (
        SELECT *,
          CAST(sum(flag) OVER (PARTITION BY id_person, mco_or_ffs
            ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS coverage_months_t_12_m,
          CAST(date_diff('month', DATE '1995-02-01', month) + 1 AS INT)
            AS row_num
        FROM staged),
      tie AS (
        SELECT *, row_number() OVER (PARTITION BY id_person, month
          ORDER BY coverage_months_t_12_m DESC, flag DESC, mco_or_ffs)
          AS tie_breaker
        FROM cov)
      SELECT CAST(year(month) * 100 + month(month) AS INTEGER)
          AS year_month,
        CASE WHEN month(month) IN (3, 6, 9, 12) THEN 1 ELSE 0 END
          AS end_quarter,
        id_person, mco_or_ffs, coverage_months_t_12_m
      FROM tie
      WHERE row_num >= 12 AND coverage_months_t_12_m >= 1
        AND tie_breaker = 1 AND month >= DATE '1996-01-01'
      ORDER BY year_month, id_person""",

    // q102: FUM — FUA index-visit algebra, the WHILE-loop 31-day greedy
    // ED dedup as a recursive CTE (kept iff >= 31 days after last KEPT
    // start), day-0-inclusive inpatient flag, MHD-intersected follow-ups.
    "q102_fum_measure" -> """
      WITH RECURSIVE orders_d AS (
        SELECT o_custkey % 110 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS svc_date, o_orderkey AS ok
        FROM orders),
      dx AS (
        SELECT id_person, claim_id, svc_date FROM orders_d
        WHERE ok % 5 = 0
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      ed AS (
        SELECT id_person, claim_id, svc_date FROM orders_d
        WHERE ok % 2 = 0
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        UNION
        SELECT id_person, claim_id, svc_date FROM orders_d
        WHERE ok % 3 = 0
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      idx0 AS (
        SELECT * FROM (SELECT * FROM dx INTERSECT SELECT * FROM ed)),
      demo AS (
        SELECT id_person,
          DATE '1935-01-01' + CAST((id_person * 73) % 16000 AS INT) AS dob
        FROM (SELECT DISTINCT o_custkey % 110 AS id_person FROM orders)),
      idx1 AS (
        SELECT i.id_person, i.claim_id,
          CAST((year(i.svc_date) - year(d.dob)) -
            CASE WHEN d.dob + to_years(CAST(year(i.svc_date) -
              year(d.dob) AS INT)) > i.svc_date THEN 1 ELSE 0 END
            AS INT) AS age,
          i.svc_date AS fsd,
          i.svc_date + CAST(i.claim_id % 3 AS INT) AS lsd
        FROM idx0 i JOIN demo d ON i.id_person = d.id_person),
      v0 AS MATERIALIZED (
        SELECT *, row_number() OVER (PARTITION BY id_person
          ORDER BY fsd, lsd, claim_id) AS rk
        FROM idx1 WHERE age >= 6),
      vrec AS (
        SELECT id_person, claim_id, age, fsd, lsd, rk,
          fsd AS last_kept, 0 AS dropped
        FROM v0 WHERE rk = 1
        UNION ALL
        SELECT b.id_person, b.claim_id, b.age, b.fsd, b.lsd, b.rk,
          CASE WHEN date_diff('day', a.last_kept, b.fsd) < 31
            THEN a.last_kept ELSE b.fsd END,
          CASE WHEN date_diff('day', a.last_kept, b.fsd) < 31
            THEN 1 ELSE 0 END
        FROM vrec a JOIN v0 b
          ON b.id_person = a.id_person AND b.rk = a.rk + 1),
      ip AS (
        SELECT id_person, svc_date AS i_fsd FROM orders_d
        WHERE ok % 7 = 0
          AND svc_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      flagged AS (
        SELECT v.id_person, v.claim_id, v.age, v.fsd, v.lsd,
          v.dropped AS ed_within_30_day,
          max(CASE WHEN i.i_fsd IS NOT NULL THEN 1 ELSE 0 END)
            AS inpatient_within_30_day
        FROM vrec v LEFT JOIN ip i ON v.id_person = i.id_person
          AND i.i_fsd BETWEEN v.lsd AND v.lsd + 30
        GROUP BY 1, 2, 3, 4, 5, 6),
      li AS (
        SELECT o.id_person,
          l.l_orderkey * 10 + l.l_linenumber AS claim_id,
          CAST(l.l_shipdate AS DATE) AS service_date,
          l.l_returnflag, l.l_quantity, l.l_linenumber, l.l_partkey
        FROM lineitem l JOIN orders_d o ON l.l_orderkey = o.claim_id),
      mhd AS (
        SELECT id_person, claim_id, service_date FROM li
        WHERE l_partkey % 3 = 0),
      fuw AS (
        SELECT DISTINCT id_person, service_date FROM (
          (SELECT id_person, claim_id, service_date FROM li
           WHERE l_returnflag = 'R'
           INTERSECT SELECT * FROM mhd)
          UNION
          ((SELECT id_person, claim_id, service_date FROM li
            WHERE l_quantity >= 40
            INTERSECT
            SELECT id_person, claim_id, service_date FROM li
            WHERE l_linenumber % 2 = 0)
           INTERSECT SELECT * FROM mhd))
        WHERE service_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
      surv AS (
        SELECT * FROM flagged
        WHERE ed_within_30_day = 0 AND inpatient_within_30_day = 0),
      j7 AS (
        SELECT s.*, max(CASE WHEN f.service_date IS NOT NULL
          THEN 1 ELSE 0 END) AS follow_up_7_day
        FROM surv s LEFT JOIN fuw f ON s.id_person = f.id_person
          AND f.service_date BETWEEN s.lsd AND s.lsd + 7
        GROUP BY ALL),
      j30 AS (
        SELECT s.*, max(CASE WHEN f.service_date IS NOT NULL
          THEN 1 ELSE 0 END) AS follow_up_30_day
        FROM j7 s LEFT JOIN fuw f ON s.id_person = f.id_person
          AND f.service_date BETWEEN s.lsd AND s.lsd + 30
        GROUP BY ALL)
      SELECT
        CAST(year(fsd) * 100 + month(fsd) AS INTEGER) AS ym,
        id_person, age, claim_id,
        fsd AS first_service_date, lsd AS last_service_date,
        1 AS ed_index_visit, ed_within_30_day, inpatient_within_30_day,
        CASE WHEN day(lsd) = 1 AND month(lsd) IN (1, 3, 5, 7, 8, 10, 12)
          THEN 1 ELSE 0 END AS need_1_month_coverage,
        follow_up_7_day, follow_up_30_day
      FROM j30
      ORDER BY id_person, claim_id""",

    // q103: Gopher-style repetition signals — dup-word fraction, top word
    // and top word-bigram char-coverage with (count desc, token asc)
    // tie-breaks; bigram chars counted without the joining space.
    "q103_repetition_profile" -> """
      WITH words AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
          FROM documents)
        WHERE length(w) > 0),
      wc AS (
        SELECT doc_id, w, count(*) AS n FROM words GROUP BY 1, 2),
      perdoc AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
          count(*) AS n_distinct_words,
          CAST(sum(n * length(w)) AS BIGINT) AS chars_words
        FROM wc GROUP BY 1),
      topw AS (
        SELECT doc_id, w, n FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY n DESC, w) AS rn
          FROM wc)
        WHERE rn = 1),
      bgc AS (
        SELECT doc_id, bg, count(*) AS n FROM (
          SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
          FROM (
            SELECT doc_id,
              list_filter(regexp_split_to_array(text, '\s+'),
                x -> length(x) > 0) AS ws
            FROM documents),
          LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i))
        GROUP BY 1, 2),
      topbg AS (
        SELECT doc_id, bg, n FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY n DESC, bg) AS rn
          FROM bgc)
        WHERE rn = 1)
      SELECT p.doc_id, p.n_words, p.n_distinct_words,
        round((p.n_words - p.n_distinct_words) * 1.0 / p.n_words, 4)
          AS dup_word_frac,
        t.w AS top_word,
        round(t.n * length(t.w) * 1.0 / p.chars_words, 4) AS top_word_frac,
        b.bg AS top_bigram,
        round(b.n * (length(b.bg) - 1) * 1.0 / p.chars_words, 4)
          AS top_bigram_frac
      FROM perdoc p
      LEFT JOIN topw t ON p.doc_id = t.doc_id
      LEFT JOIN topbg b ON p.doc_id = b.doc_id
      ORDER BY p.doc_id""",

    // q104: SemDeDup under fixed centroids — deterministic assignment
    // (max cosine, tie -> higher cell, same as q42b), within-cell pairs,
    // prune when a smaller-id same-cell doc reaches the threshold.
    "q104_semdedup" -> """
      WITH cen AS (
        SELECT j AS cell,
          list(CAST(((j*29 + d*11) % 15) - 7 AS DOUBLE) ORDER BY d) AS cv
        FROM generate_series(0, 7) t(j), generate_series(0, 63) s(d)
        GROUP BY j),
      assigned AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM embeddings e CROSS JOIN cen c) WHERE rn = 1),
      pruned AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b ON a.cell = b.cell
          AND b.vec_id < a.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
          b.embedding::DOUBLE[]) >= 0.30)
      SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
        CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS pruned
      FROM assigned a LEFT JOIN pruned p ON a.vec_id = p.vec_id
      ORDER BY a.vec_id""",

    // q105: combined mcaid+mcare header — crosswalked union with drift,
    // Yale flags by claim type, cross-source 1-day ED episode clustering
    // on the combined per-person timeline (lag/flag/running-sum on the
    // FIRST service date; NULL id_apde persons cluster together).
    "q105_mcaid_mcare_header" -> s"""
      WITH $MmHeaderCtes
      SELECT * FROM mmhdr
      ORDER BY source_desc, claim_id""",

    // q106: AH numerator — q97's extent-chained stitching, observation
    // stays reclassified to inpatient when an acute admission lands on
    // the obs date or one day after, death/exclusion filters, and the
    // medicine/surgery split (medicine = absence of both surgery flags).
    "q106_ah_numerator" -> """
      WITH stays AS (
        SELECT o_custkey % 90 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 9 AS INT) AS lsd,
          CASE WHEN o_orderkey % 37 = 0 THEN '20' ELSE '10' END
            AS patient_status
        FROM orders WHERE o_orderkey % 2 = 0),
      ep0 AS (
        SELECT *,
          max(lsd) OVER (PARTITION BY id_person
            ORDER BY fsd, lsd, claim_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_to
        FROM stays),
      ep1 AS (
        SELECT *, CASE WHEN prev_to IS NULL
          OR date_diff('day', prev_to, fsd) > 1 THEN 1 ELSE 0 END AS inc
        FROM ep0),
      ep AS (
        SELECT *, CAST(sum(inc) OVER (PARTITION BY id_person
          ORDER BY fsd, lsd, claim_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS episode_id
        FROM ep1),
      tr AS (
        SELECT *,
          min(fsd) OVER e AS ep_first,
          max(lsd) OVER e AS ep_last,
          CAST(row_number() OVER (PARTITION BY id_person, episode_id
            ORDER BY fsd, lsd, claim_id) AS INT) AS stay_id,
          max(CASE WHEN patient_status = '20' THEN 1 ELSE 0 END) OVER e
            AS death
        FROM ep
        WINDOW e AS (PARTITION BY id_person, episode_id)),
      obs AS (
        SELECT o_custkey % 90 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) AS lsd,
          CASE WHEN o_orderkey % 41 = 0 THEN '20' ELSE '10' END
            AS patient_status
        FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0),
      conv AS (
        SELECT DISTINCT o.claim_id FROM obs o JOIN stays s
          ON o.id_person = s.id_person
          AND date_diff('day', o.lsd, s.fsd) BETWEEN 0 AND 1),
      obs2 AS (
        SELECT * FROM obs
        WHERE claim_id NOT IN (SELECT claim_id FROM conv)
          AND claim_id % 21 <> 0),
      medsurg AS (
        SELECT claim_id,
          max(CASE WHEN v = 'Surgery' THEN 1 END) AS surgery_rev,
          max(CASE WHEN v = 'Surgery MS-DRG' THEN 1 END) AS surgery_drg
        FROM (
          SELECT o_orderkey AS claim_id,
            CASE WHEN o_orderkey % 11 = 0 THEN 'Surgery'
              WHEN o_orderkey % 13 = 0 THEN 'Surgery MS-DRG' END AS v
          FROM orders)
        WHERE v IS NOT NULL GROUP BY 1),
      disch AS (
        SELECT DISTINCT * FROM (
          SELECT id_person, claim_id, ep_first AS fsd, ep_last AS lsd,
            0 AS observation_stay
          FROM tr WHERE stay_id = 1 AND death = 0
          UNION ALL
          SELECT id_person, claim_id, fsd, lsd, 1
          FROM obs2 WHERE patient_status <> '20'))
      SELECT
        CAST(year(d.lsd) * 100 + month(d.lsd) AS INTEGER) AS ym,
        d.id_person, d.claim_id,
        d.fsd AS first_service_date, d.lsd AS last_service_date,
        d.observation_stay, 1 AS total_discharges,
        CASE WHEN m.surgery_rev IS NULL AND m.surgery_drg IS NULL
          THEN 1 ELSE 0 END AS medicine,
        CASE WHEN m.surgery_rev = 1 OR m.surgery_drg = 1
          THEN 1 ELSE 0 END AS surgery
      FROM disch d LEFT JOIN medsurg m ON d.claim_id = m.claim_id
      WHERE d.claim_id % 17 <> 0
      ORDER BY d.id_person, d.claim_id""",

    // q107: first-match quality-filter dispatch (too_short then
    // repetitive, on the ROUNDED dup-word fraction) with per-language
    // kept/dropped accounting.
    "q107_quality_filter" -> """
      WITH prof AS (
        SELECT doc_id, lang,
          len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents),
      wc AS (
        SELECT doc_id, w, count(*) AS n FROM (
          SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
          FROM documents)
        WHERE length(w) > 0 GROUP BY 1, 2),
      rep AS (
        SELECT doc_id,
          round((sum(n) - count(*)) * 1.0 / sum(n), 4) AS dup_word_frac
        FROM wc GROUP BY 1),
      ruled AS (
        SELECT p.lang, p.n_tokens,
          CASE WHEN p.n_tokens < 30 THEN 'too_short'
            WHEN r.dup_word_frac > 0.6 THEN 'repetitive'
            ELSE 'kept' END AS outcome
        FROM prof p JOIN rep r ON p.doc_id = r.doc_id)
      SELECT lang, outcome, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM ruled GROUP BY 1, 2 ORDER BY lang, outcome""",

    // q108: greedy per-stratum token-budget prefix in deterministic
    // pseudo-shuffled order; kept iff the cumulative sum BEFORE the doc
    // is under budget.
    "q108_token_budget" -> """
      WITH d AS (
        SELECT doc_id, lang,
          len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents),
      c AS (
        SELECT *, sum(n_tokens) OVER (PARTITION BY lang
          ORDER BY doc_id % 7, doc_id ROWS UNBOUNDED PRECEDING)
          AS cum_tokens
        FROM d)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
        CAST(max(cum_tokens) AS BIGINT) AS max_cum,
        min(doc_id) AS first_doc
      FROM c WHERE cum_tokens - n_tokens < 2000
      GROUP BY 1 ORDER BY lang""",

    // q109: RDA MH treatment penetration — value-set joins over
    // proc/dx/pharm with the ICD9/10 version-date cut, UNION/INTERSECT
    // numerator, 3-arm denominator, per-(ym, person) MAX(flag) N/D rows.
    "q109_tpm_staging" -> (VsFramesCte + """
      num AS (
        SELECT DISTINCT id_person, claim_id, first_service_date FROM (
          SELECT id_person, claim_id, first_service_date FROM procm1
          UNION
          (SELECT id_person, claim_id, first_service_date FROM procm2
           INTERSECT
           SELECT id_person, claim_id, first_service_date FROM dxm
           WHERE icdcm_number = '01'))),
      den AS (
        SELECT DISTINCT id_person, claim_id, first_service_date FROM (
          SELECT id_person, claim_id, first_service_date FROM num
          UNION
          SELECT id_person, claim_id, first_service_date FROM dxm
          UNION
          SELECT id_person, claim_id, first_service_date FROM rxm))
      SELECT year_month, id_person, measure_name, num_denom, measure_value
      FROM (
        SELECT CAST(year(first_service_date) * 100 +
            month(first_service_date) AS INTEGER) AS year_month,
          id_person,
          'Mental Health Treatment Penetration' AS measure_name,
          'N' AS num_denom, MAX(1) AS measure_value
        FROM num GROUP BY 1, 2
        UNION ALL
        SELECT CAST(year(first_service_date) * 100 +
            month(first_service_date) AS INTEGER),
          id_person, 'Mental Health Treatment Penetration', 'D', MAX(1)
        FROM den GROUP BY 1, 2)
      ORDER BY year_month, id_person, num_denom"""),

    // q110: TPM by diagnosis sub-group — procedure claims fan out to all
    // 7 sub-groups, primary-dx claims gated by a with-Dx-procedure semi
    // join, pharmacy classes recoded to dx sub-groups.
    "q110_tpm_by_dx" -> (VsFramesCte + """
      num AS (
        SELECT DISTINCT id_person, claim_id, first_service_date, sub_group
        FROM (
          SELECT p.id_person, p.claim_id, p.first_service_date, s.sub_group
          FROM procm1 p CROSS JOIN
            (SELECT DISTINCT sub_group FROM sg WHERE i < 7) s
          UNION
          SELECT d.id_person, d.claim_id, d.first_service_date, d.sub_group
          FROM dxm d WHERE d.icdcm_number = '01'
            AND d.claim_id IN (SELECT claim_id FROM procm2))),
      den AS (
        SELECT DISTINCT id_person, claim_id, first_service_date, sub_group
        FROM (
          SELECT id_person, claim_id, first_service_date, sub_group FROM dxm
          UNION
          SELECT id_person, claim_id, first_service_date,
            CASE sub_group
              WHEN 'ADHD Rx' THEN 'ADHD'
              WHEN 'Antianxiety Rx' THEN 'Anxiety'
              WHEN 'Antidepressants Rx' THEN 'Depression'
              WHEN 'Antimania Rx' THEN 'Mania/Bipolar'
              WHEN 'Antipsychotic Rx' THEN 'Psychotic' END
          FROM rxm))
      SELECT year_month, id_person, measure_name, num_denom, measure_value
      FROM (
        SELECT CAST(year(first_service_date) * 100 +
            month(first_service_date) AS INTEGER) AS year_month,
          id_person,
          'MH Treatment Penetration: ' || sub_group AS measure_name,
          'N' AS num_denom, MAX(1) AS measure_value
        FROM num GROUP BY 1, 2, sub_group
        UNION ALL
        SELECT CAST(year(first_service_date) * 100 +
            month(first_service_date) AS INTEGER),
          id_person, 'MH Treatment Penetration: ' || sub_group, 'D', MAX(1)
        FROM den GROUP BY 1, 2, sub_group)
      ORDER BY year_month, id_person, measure_name, num_denom"""),

    // q111: CAP ambulatory visits — one HEDIS value set against three
    // claim frames (procedure, ICD-10 dx, line revenue), UNION-distinct,
    // stamped with the service year_month.
    "q111_cap_visits" -> """
      WITH li AS (
        SELECT o_custkey % 100 AS id_person, l_orderkey AS claim_id,
          CAST(l_shipdate AS DATE) AS fsd, l_partkey, l_suppkey,
          l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      visits AS (
        SELECT DISTINCT id_person, claim_id, fsd AS first_service_date,
          fsd + CAST(claim_id % 4 AS INT) AS last_service_date
        FROM (
          SELECT id_person, claim_id, fsd FROM li
          WHERE 'PC' || CAST(l_suppkey % 40 AS VARCHAR)
            IN ('PC0', 'PC3', 'PC6', 'PC9', 'PC12', 'PC15')
          UNION
          SELECT id_person, claim_id, fsd FROM li
          WHERE (CASE WHEN l_partkey % 11 = 0 THEN 10
                 WHEN fsd < DATE '1995-06-01' THEN 9 ELSE 10 END) = 10
            AND 'DX' || CAST(l_partkey % 60 AS VARCHAR)
              IN ('DX0', 'DX5', 'DX10', 'DX15', 'DX20', 'DX25', 'DX30',
                  'DX35')
          UNION
          SELECT id_person, claim_id, fsd FROM li
          WHERE 'RV' || CAST(l_partkey % 30 AS VARCHAR)
            IN ('RV0', 'RV6', 'RV12', 'RV18', 'RV24')))
      SELECT CAST(year(first_service_date) * 100 +
          month(first_service_date) AS INTEGER) AS year_month,
        id_person, claim_id, first_service_date, last_service_date,
        1 AS flag
      FROM visits
      ORDER BY year_month, id_person, claim_id, first_service_date,
        last_service_date""",

    // q112: MH/AOD ED-episode pivot — primary-dx membership in two HEDIS
    // sets, MAX(flag) pivoted to one row per ED episode.
    "q112_mh_aod_ed" -> """
      WITH headers AS (
        SELECT CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey % 500 END
            AS ed_pophealth_id,
          'DX' || CAST(o_custkey % 60 AS VARCHAR) AS primary_diagnosis
        FROM orders),
      joined AS (
        SELECT h.ed_pophealth_id, v.value_set_name
        FROM headers h JOIN (
          SELECT 'Mental Illness' AS value_set_name,
            'DX' || CAST(i * 2 AS VARCHAR) AS code FROM range(0, 10) t(i)
          UNION ALL
          SELECT 'AOD Abuse and Dependence',
            'DX' || CAST(i * 2 + 30 AS VARCHAR) FROM range(0, 10) t(i)) v
          ON h.primary_diagnosis = v.code
        WHERE h.ed_pophealth_id IS NOT NULL)
      SELECT ed_pophealth_id,
        coalesce(MAX(CASE WHEN value_set_name = 'Mental Illness'
          THEN 1 END), 0) AS mental_illness,
        coalesce(MAX(CASE WHEN value_set_name = 'AOD Abuse and Dependence'
          THEN 1 END), 0) AS aod_abuse_dependence
      FROM joined GROUP BY 1 ORDER BY ed_pophealth_id""",

    // q113: connected components over a pair list — min reachable node id
    // per node via a recursive CTE (the oracle computes the closure
    // directly; Spark contracts it with large-star/small-star rounds).
    "q113_dup_components" -> """
      WITH RECURSIVE e0 AS (
        SELECT o_orderkey % 400 AS src, (o_orderkey * 7 + 3) % 400 AS dst
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey % 400, o_custkey % 400
        FROM orders WHERE o_orderkey % 5 = 0),
      e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
      sym AS (
        SELECT src AS u, dst AS v FROM e
        UNION
        SELECT dst, src FROM e),
      reach AS (
        SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node)
      SELECT node AS id, min(lbl) AS component
      FROM reach GROUP BY node ORDER BY id""",

    // q114: enrollment-denominator window battery — dense member x month
    // grid, flag joins, trailing/prior/leading frame sums, and the
    // reference's two-window last-known-ZIP formulation (the Spark side
    // uses last(..., ignoreNulls) over the same frame — equivalent).
    "q114_enroll_denom" -> """
      WITH demo AS (
        SELECT id_person,
          DATE '1950-01-01' + CAST((id_person * 97) % 15000 AS INT) AS dob
        FROM (SELECT DISTINCT c_custkey % 150 AS id_person FROM customer)),
      spine AS (
        SELECT CAST((1996 + i // 12) * 100 + (i % 12 + 1) AS INT)
            AS year_month,
          CAST(i % 12 + 1 AS INT) AS month,
          last_day(make_date(CAST(1996 + i // 12 AS INT),
            CAST(i % 12 + 1 AS INT), 1)) AS end_month,
          CAST(i + 1 AS INT) AS row_num
        FROM range(0, 24) t(i)),
      elig AS (
        SELECT id_person, year_month,
          CASE WHEN (id_person + year_month) % 7 = 0 THEN 'Y' ELSE 'N' END
            AS dual,
          CASE WHEN (id_person + year_month) % 5 = 0 THEN 'Y' ELSE ' ' END
            AS tpl,
          (id_person * 3 + year_month) % 6 AS rac_code,
          CASE WHEN year_month % 3 <> 0 THEN '98' ||
            lpad(CAST((id_person + year_month) % 100 AS VARCHAR), 3, '0')
            END AS zip_code
        FROM (SELECT DISTINCT o_custkey % 150 AS id_person,
            year(o_orderdate) * 100 + month(o_orderdate) AS year_month
          FROM orders)),
      rac AS (
        SELECT i AS rac_code,
          CASE WHEN i % 2 = 0 THEN 'Y' ELSE 'N' END AS full_benefit
        FROM range(0, 6) t(i)),
      hospice AS (
        SELECT id_person, year_month, 1 AS hospice_flag FROM elig
        WHERE (id_person + year_month) % 11 = 0),
      mm AS (
        SELECT s.year_month, s.month, d.id_person, d.dob,
          CAST(year(s.end_month) - year(d.dob) - CASE WHEN d.dob +
            to_months(CAST((year(s.end_month) - year(d.dob)) * 12 AS INT))
            > s.end_month THEN 1 ELSE 0 END AS INT) AS end_month_age,
          CAST((year(s.end_month) - year(d.dob)) * 12 +
            (month(s.end_month) - month(d.dob)) - CASE WHEN d.dob +
            to_months(CAST((year(s.end_month) - year(d.dob)) * 12 +
              (month(s.end_month) - month(d.dob)) AS INT)) > s.end_month
            THEN 1 ELSE 0 END AS INT) AS age_in_months,
          CASE WHEN e.id_person IS NOT NULL THEN 1 ELSE 0 END
            AS enrolled_any,
          CASE WHEN r.full_benefit = 'Y' THEN 1 ELSE 0 END AS full_benefit,
          CASE WHEN e.dual = 'Y' THEN 1 ELSE 0 END AS dual,
          CASE WHEN e.tpl = 'Y' THEN 1 ELSE 0 END AS tpl,
          COALESCE(h.hospice_flag, 0) AS hospice,
          CASE WHEN e.id_person IS NOT NULL AND r.full_benefit = 'Y'
            AND e.dual = 'N' AND e.tpl = ' ' THEN 1 ELSE 0 END
            AS full_criteria,
          e.zip_code, s.row_num
        FROM demo d CROSS JOIN spine s
        LEFT JOIN elig e ON d.id_person = e.id_person
          AND s.year_month = e.year_month
        LEFT JOIN rac r ON e.rac_code = r.rac_code
        LEFT JOIN hospice h ON d.id_person = h.id_person
          AND s.year_month = h.year_month),
      lym AS (
        SELECT *, MAX(CASE WHEN zip_code IS NOT NULL THEN year_month END)
          OVER (PARTITION BY id_person ORDER BY row_num
            ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS last_year_month
        FROM mm),
      w AS (
        SELECT year_month,
          CASE WHEN month IN (3, 6, 9, 12) THEN 1 ELSE 0 END
            AS end_quarter,
          id_person, dob, end_month_age,
          CASE WHEN end_month_age BETWEEN 0 AND 20 THEN age_in_months END
            AS age_in_months,
          MAX(zip_code) OVER (PARTITION BY id_person, last_year_month)
            AS last_zip_code,
          enrolled_any,
          CAST(SUM(enrolled_any) OVER w12 AS BIGINT) AS enrolled_any_t_12_m,
          full_benefit, CAST(SUM(full_benefit) OVER w12 AS BIGINT) AS full_benefit_t_12_m,
          dual, CAST(SUM(dual) OVER w12 AS BIGINT) AS dual_t_12_m,
          tpl, CAST(SUM(tpl) OVER w12 AS BIGINT) AS tpl_t_12_m,
          hospice, CAST(SUM(hospice) OVER w12 AS BIGINT) AS hospice_t_12_m,
          CAST(SUM(hospice) OVER wp AS BIGINT) AS hospice_prior_t_12_m,
          CAST(SUM(hospice) OVER wn AS BIGINT) AS hospice_p_2_m,
          full_criteria,
          CAST(SUM(full_criteria) OVER w12 AS BIGINT) AS full_criteria_t_12_m,
          CAST(SUM(full_criteria) OVER wp AS BIGINT) AS full_criteria_prior_t_12_m,
          CAST(SUM(full_criteria) OVER wn AS BIGINT) AS full_criteria_p_2_m
        FROM lym
        WINDOW
          w12 AS (PARTITION BY id_person ORDER BY row_num
            ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
          wp AS (PARTITION BY id_person ORDER BY row_num
            ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING),
          wn AS (PARTITION BY id_person ORDER BY row_num
            ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING))
      SELECT * FROM w
      WHERE year_month BETWEEN 199701 AND 199712
        AND enrolled_any_t_12_m >= 1
      ORDER BY id_person, year_month""",

    // q115: PQI ED classifier — per-indicator primary-dx inclusion with
    // NOT IN exclusion chains (anti joins), group recodes, one
    // proc-INTERSECT-dx inclusion, episode MAX + wide pivot + composite.
    // Value-set membership reduces to residue ranges of the synthetic
    // code mapping (codes are 'DX'||k etc., so membership is k BETWEEN).
    "q115_pqi_ed" -> """
      WITH li AS (
        SELECT l_orderkey AS claim_id, CAST(l_shipdate AS DATE) AS fsd,
          l_partkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      hdr AS (
        SELECT o_orderkey AS claim_id,
          CASE WHEN o_orderkey % 4 <> 0 THEN o_orderkey % 300 END AS ed,
          o_custkey % 60 AS pdx, o_orderkey % 20 AS drg
        FROM orders),
      dxc AS (
        SELECT claim_id, l_partkey % 60 AS dxn,
          CASE WHEN l_partkey % 11 = 0 THEN 10
               WHEN fsd < DATE '1995-06-01' THEN 9 ELSE 10 END AS ver
        FROM li),
      prc AS (SELECT claim_id, l_suppkey % 40 AS pcn FROM li),
      respan AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 50 AND 55),
      carp AS (SELECT DISTINCT claim_id FROM prc
        WHERE pcn BETWEEN 0 AND 3),
      hy2d AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 24 AND 27),
      dialy AS (SELECT DISTINCT claim_id FROM prc
        WHERE pcn BETWEEN 4 AND 6),
      lea2d AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 56 AND 58),
      mdc14 AS (SELECT DISTINCT claim_id FROM hdr
        WHERE drg BETWEEN 0 AND 3),
      rules AS (
        SELECT 'PQI 01' AS g, claim_id, ed FROM hdr
        WHERE ed IS NOT NULL AND pdx BETWEEN 0 AND 5
        UNION ALL
        SELECT 'PQI 03', claim_id, ed FROM hdr
        WHERE ed IS NOT NULL AND pdx BETWEEN 6 AND 11
        UNION ALL
        SELECT 'PQI 05', claim_id, ed FROM hdr
        WHERE ed IS NOT NULL AND pdx BETWEEN 12 AND 19
          AND claim_id NOT IN (SELECT claim_id FROM respan)
        UNION ALL
        SELECT 'PQI 07', claim_id, ed FROM hdr
        WHERE ed IS NOT NULL AND pdx BETWEEN 20 AND 23
          AND claim_id NOT IN (SELECT claim_id FROM carp)
          AND claim_id NOT IN (SELECT claim_id FROM hy2d
            INTERSECT SELECT claim_id FROM dialy)
        UNION ALL
        SELECT 'PQI 14', claim_id, ed FROM hdr
        WHERE ed IS NOT NULL AND pdx BETWEEN 28 AND 31
        UNION ALL
        SELECT 'PQI 15', claim_id, ed FROM hdr
        WHERE ed IS NOT NULL AND pdx BETWEEN 16 AND 19
          AND claim_id NOT IN (SELECT claim_id FROM respan)
        UNION ALL
        SELECT 'PQI 16', h.claim_id, h.ed FROM hdr h
        JOIN (SELECT claim_id FROM prc WHERE pcn BETWEEN 8 AND 12
              INTERSECT
              SELECT claim_id FROM dxc
              WHERE ver = 10 AND dxn BETWEEN 32 AND 35) i
          ON h.claim_id = i.claim_id
        WHERE h.ed IS NOT NULL
          AND h.claim_id NOT IN (SELECT claim_id FROM lea2d)
          AND h.claim_id NOT IN (SELECT claim_id FROM mdc14)),
      agg AS (SELECT g, ed, 1 AS flag FROM rules GROUP BY g, ed)
      SELECT ed AS ed_pophealth_id,
        COALESCE(MAX(CASE WHEN g = 'PQI 01' THEN flag END), 0) AS pqi_01,
        COALESCE(MAX(CASE WHEN g = 'PQI 03' THEN flag END), 0) AS pqi_03,
        COALESCE(MAX(CASE WHEN g = 'PQI 05' THEN flag END), 0) AS pqi_05,
        COALESCE(MAX(CASE WHEN g = 'PQI 07' THEN flag END), 0) AS pqi_07,
        COALESCE(MAX(CASE WHEN g = 'PQI 14' THEN flag END), 0) AS pqi_14,
        COALESCE(MAX(CASE WHEN g = 'PQI 15' THEN flag END), 0) AS pqi_15,
        COALESCE(MAX(CASE WHEN g = 'PQI 16' THEN flag END), 0) AS pqi_16,
        CASE WHEN COALESCE(MAX(flag), 0) >= 1 THEN 1 ELSE 0 END
          AS pqi_composite
      FROM agg GROUP BY ed ORDER BY ed_pophealth_id""",

    // q116: corpus vocabulary + per-doc rare-token coverage — integer
    // counts throughout; the one ratio is a double division per doc.
    "q116_vocab_coverage" -> """
      WITH occ AS (
        SELECT doc_id, w, count(*) AS n FROM (
          SELECT doc_id,
            unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
          FROM documents)
        WHERE len(w) > 0
        GROUP BY doc_id, w),
      vocab AS (SELECT w, sum(n) AS c FROM occ GROUP BY w)
      SELECT o.doc_id,
        CAST(sum(o.n) AS BIGINT) AS n_tokens,
        count(*) AS n_distinct,
        CAST(sum(CASE WHEN v.c < 5 THEN o.n ELSE 0 END) AS BIGINT)
          AS n_rare,
        round(sum(CASE WHEN v.c < 5 THEN o.n ELSE 0 END) /
          CAST(sum(o.n) AS DOUBLE), 4) AS rare_rate
      FROM occ o JOIN vocab v ON o.w = v.w
      GROUP BY o.doc_id ORDER BY o.doc_id""",

    // q117: declared-schema JSON field extraction over events.props,
    // aggregated per event type.
    "q117_json_extract" -> """
      WITH ex AS (
        SELECT event_type,
          CAST(json_extract(props, '$.k') AS INT) AS k
        FROM events)
      SELECT event_type, count(*) AS n,
        CAST(sum(k) AS BIGINT) AS sum_k,
        min(k) AS min_k, max(k) AS max_k,
        round(avg(k), 4) AS avg_k,
        CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null_k
      FROM ex GROUP BY event_type ORDER BY event_type""",

    // q118: combined mcaid+mcare elig_timevar — sweep-line overlay of the
    // two per-person interval sets, equal-attribute collapse, flag
    // battery (incl. the reference's R-precedence full_criteria quirk:
    // the part-A/B disjunct applies unconditionally).
    "q118_mcaid_mcare_timevar" -> s"""
      WITH $MmTimevarCtes
      SELECT * FROM mmtv
      ORDER BY id_apde, from_date""",

    // q119: combined mcaid+mcare elig_demo — deterministic per-person
    // pick, full-outer precedence merge (dob: mcare wins; gender/race:
    // mcaid wins), NULL-blocking race_unk recompute.
    "q119_mcaid_mcare_demo" -> s"""
      WITH $MmDemoCtes
      SELECT * FROM mmdemo
      ORDER BY id_apde""",

    // q120: CCNet-style line-level boilerplate dedup — normalized lines
    // in >= 10 distinct docs are struck; docs rebuilt in line order;
    // fully-boilerplate docs drop.
    "q120_line_dedup" -> """
      WITH docs AS (
        SELECT doc_id, '(c) site ' || source || chr(10)
          || substr(text, 1, 40) || chr(10) || substr(text, 41, 40)
          || chr(10) || 'contact admin' AS txt
        FROM documents),
      lines AS (
        SELECT doc_id, i AS line_no, parts[i] AS line,
          lower(trim(parts[i])) AS lnorm
        FROM (SELECT doc_id, string_split(txt, chr(10)) AS parts
              FROM docs),
          LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g),
      dict AS (
        SELECT lnorm FROM (
          SELECT lnorm, count(*) AS df
          FROM (SELECT DISTINCT doc_id, lnorm FROM lines)
          GROUP BY lnorm)
        WHERE df >= 10),
      flagged AS (
        SELECT l.doc_id, l.line_no, l.line,
          d.lnorm IS NOT NULL AS boiler
        FROM lines l LEFT JOIN dict d ON l.lnorm = d.lnorm),
      agg AS (
        SELECT doc_id, count(*) AS n_lines,
          CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped,
          string_agg(CASE WHEN NOT boiler THEN line END, chr(10)
            ORDER BY line_no) AS text_clean
        FROM flagged GROUP BY doc_id)
      SELECT doc_id, text_clean,
        CAST(n_lines - n_dropped AS BIGINT) AS n_kept, n_dropped
      FROM agg WHERE n_dropped < n_lines
      ORDER BY doc_id""",

    // q121: greedy next-fit sequence packing — sequential per shard
    // (replicated as a per-shard recursive CTE), parallel across shards.
    "q121_pack_sequences" -> """
      WITH RECURSIVE s AS (
        SELECT doc_id % 64 AS shard, doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS tok,
          row_number() OVER (PARTITION BY doc_id % 64 ORDER BY doc_id)
            AS rn
        FROM documents),
      r AS (
        SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin,
          tok AS fill
        FROM s WHERE rn = 1
        UNION ALL
        SELECT s.shard, s.rn, s.doc_id, s.tok,
          CASE WHEN r.fill + s.tok > 500 THEN r.bin + 1 ELSE r.bin END,
          CASE WHEN r.fill + s.tok > 500 THEN s.tok
            ELSE r.fill + s.tok END
        FROM r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
      SELECT doc_id, CAST(shard AS INT) AS shard, bin AS bin_id,
        tok AS n_tokens
      FROM r ORDER BY doc_id""",

    // q122: PII pattern redaction — counts before replacement, then
    // sequential class-ordered scrub (email, ip, ssn, phone).
    "q122_redact_pii" -> """
      WITH docs AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN ' contact bob'
              || doc_id::VARCHAR || '@example.com now'
            WHEN doc_id % 4 = 1 THEN ' call 206-555-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today'
            WHEN doc_id % 4 = 2 THEN ' from 10.0.'
              || (doc_id % 256)::VARCHAR || '.'
              || (doc_id % 100)::VARCHAR || ' logged'
            ELSE '' END ||
          CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END AS txt
        FROM documents),
      c AS (
        SELECT doc_id, txt,
          CAST(len(regexp_extract_all(txt,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(txt,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
            AS n_ip,
          CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{2}-\d{4}\b'))
            AS BIGINT) AS n_ssn,
          CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b'))
            AS BIGINT) AS n_phone
        FROM docs)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(txt,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
            'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
          '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text,
        n_email, n_ip, n_ssn, n_phone,
        n_email + n_ip + n_ssn + n_phone AS pii_total
      FROM c ORDER BY doc_id""",

    // q123: deterministic md5-bucketed 90/5/5 split; cuts are
    // round(cum_frac * 2^32) = 3865470566 / 4080218931.
    "q123_hash_split" -> """
      SELECT doc_id, source,
        CASE WHEN b < 3865470566 THEN 'train'
             WHEN b < 4080218931 THEN 'valid'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id, source,
          ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))
            ::UBIGINT AS b
        FROM documents)
      ORDER BY doc_id""",

    // q124: PQI inpatient classifier — the reference's per-rule set-op
    // formulation (NOT IN / INTERSECT chains) pinning the flag-algebra
    // path, with the admission-source direct-transfer residual.
    "q124_pqi_inpatient" -> """
      WITH li AS (
        SELECT l_orderkey AS claim_id, CAST(l_shipdate AS DATE) AS fsd,
          l_partkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      hdr AS (
        SELECT o_orderkey AS claim_id,
          CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 500 END AS ip,
          o_custkey % 60 AS pdx, o_orderkey % 20 AS drg,
          CASE WHEN o_orderkey % 7 = 0 THEN '4'
               WHEN o_orderkey % 7 = 1 THEN 'A'
               WHEN o_orderkey % 7 = 2 THEN NULL
               ELSE '1' END AS adm
        FROM orders),
      base AS (
        SELECT * FROM hdr WHERE ip IS NOT NULL AND (adm IS NULL
          OR adm NOT IN ('4','5','6','A','B','C','D','E','F'))),
      dxc AS (
        SELECT claim_id, l_partkey % 60 AS dxn,
          CASE WHEN l_partkey % 11 = 0 THEN 10
               WHEN fsd < DATE '1995-06-01' THEN 9 ELSE 10 END AS ver
        FROM li),
      prc AS (SELECT claim_id, l_suppkey % 40 AS pcn FROM li),
      respan AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 50 AND 55),
      carp AS (SELECT DISTINCT claim_id FROM prc
        WHERE pcn BETWEEN 0 AND 3),
      hy2d AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 24 AND 27),
      dialy AS (SELECT DISTINCT claim_id FROM prc
        WHERE pcn BETWEEN 4 AND 6),
      lea2d AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 56 AND 58),
      ba2d AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 36 AND 38),
      immunid AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 39 AND 41),
      kidney AS (SELECT DISTINCT claim_id FROM dxc
        WHERE ver = 10 AND dxn BETWEEN 42 AND 44),
      immunip AS (SELECT DISTINCT claim_id FROM prc
        WHERE pcn BETWEEN 14 AND 16),
      mdc14 AS (SELECT DISTINCT claim_id FROM hdr
        WHERE drg BETWEEN 0 AND 3),
      rules AS (
        SELECT 'PQI 01' AS g, claim_id, ip FROM base
        WHERE pdx BETWEEN 0 AND 5
        UNION ALL
        SELECT 'PQI 03', claim_id, ip FROM base
        WHERE pdx BETWEEN 6 AND 11
        UNION ALL
        SELECT 'PQI 05', claim_id, ip FROM base
        WHERE pdx BETWEEN 12 AND 19
          AND claim_id NOT IN (SELECT claim_id FROM respan)
        UNION ALL
        SELECT 'PQI 07', claim_id, ip FROM base
        WHERE pdx BETWEEN 20 AND 23
          AND claim_id NOT IN (SELECT claim_id FROM carp)
          AND claim_id NOT IN (SELECT claim_id FROM hy2d
            INTERSECT SELECT claim_id FROM dialy)
        UNION ALL
        SELECT 'PQI 08', claim_id, ip FROM base
        WHERE pdx BETWEEN 36 AND 39
          AND claim_id NOT IN (SELECT claim_id FROM carp)
        UNION ALL
        SELECT 'PQI 11', claim_id, ip FROM base
        WHERE pdx BETWEEN 40 AND 43
          AND claim_id NOT IN (SELECT claim_id FROM ba2d)
          AND claim_id NOT IN (SELECT claim_id FROM immunid)
          AND claim_id NOT IN (SELECT claim_id FROM immunip)
        UNION ALL
        SELECT 'PQI 12', claim_id, ip FROM base
        WHERE pdx BETWEEN 44 AND 47
          AND claim_id NOT IN (SELECT claim_id FROM kidney)
          AND claim_id NOT IN (SELECT claim_id FROM immunid)
          AND claim_id NOT IN (SELECT claim_id FROM immunip)
        UNION ALL
        SELECT 'PQI 14', claim_id, ip FROM base
        WHERE pdx BETWEEN 28 AND 31
        UNION ALL
        SELECT 'PQI 15', claim_id, ip FROM base
        WHERE pdx BETWEEN 16 AND 19
          AND claim_id NOT IN (SELECT claim_id FROM respan)
        UNION ALL
        SELECT 'PQI 16', h.claim_id, h.ip FROM base h
        JOIN (SELECT claim_id FROM prc WHERE pcn BETWEEN 8 AND 12
              INTERSECT
              SELECT claim_id FROM dxc
              WHERE ver = 10 AND dxn BETWEEN 32 AND 35) i
          ON h.claim_id = i.claim_id
        WHERE h.claim_id NOT IN (SELECT claim_id FROM lea2d)
          AND h.claim_id NOT IN (SELECT claim_id FROM mdc14)),
      agg AS (SELECT g, ip, 1 AS flag FROM rules GROUP BY g, ip)
      SELECT ip AS inpatient_id,
        COALESCE(MAX(CASE WHEN g = 'PQI 01' THEN flag END), 0) AS pqi_01,
        COALESCE(MAX(CASE WHEN g = 'PQI 03' THEN flag END), 0) AS pqi_03,
        COALESCE(MAX(CASE WHEN g = 'PQI 05' THEN flag END), 0) AS pqi_05,
        COALESCE(MAX(CASE WHEN g = 'PQI 07' THEN flag END), 0) AS pqi_07,
        COALESCE(MAX(CASE WHEN g = 'PQI 08' THEN flag END), 0) AS pqi_08,
        COALESCE(MAX(CASE WHEN g = 'PQI 11' THEN flag END), 0) AS pqi_11,
        COALESCE(MAX(CASE WHEN g = 'PQI 12' THEN flag END), 0) AS pqi_12,
        COALESCE(MAX(CASE WHEN g = 'PQI 14' THEN flag END), 0) AS pqi_14,
        COALESCE(MAX(CASE WHEN g = 'PQI 15' THEN flag END), 0) AS pqi_15,
        COALESCE(MAX(CASE WHEN g = 'PQI 16' THEN flag END), 0) AS pqi_16,
        CASE WHEN COALESCE(MAX(flag), 0) >= 1 THEN 1 ELSE 0 END
          AS pqi_composite
      FROM agg GROUP BY ip ORDER BY inpatient_id""",

    // q125: TPO opioid treatment penetration — MAT-fill (active NDCs
    // only) UNION receipt-of-MAT numerator; any-position OUD dx with the
    // version/date cut UNION numerator denominator.
    "q125_tpo_staging" -> (VsFramesCte + """
      oud_rx AS (
        SELECT id_person, claim_id, rx_fill_date AS first_service_date
        FROM pharm WHERE ndc IN ('ND1','ND2','ND3','ND5','ND6','ND7',
          'ND9','ND10','ND11','ND13','ND14')),
      oud_mat AS (
        SELECT id_person, claim_id, first_service_date FROM proc
        WHERE procedure_code IN ('PC20','PC21','PC22','PC23','PC24',
          'PC25','PC26','PC27')),
      oud_dx AS (
        SELECT id_person, claim_id, first_service_date FROM dx
        WHERE (icdcm_version = 9
            AND first_service_date < DATE '1995-06-01'
            AND icdcm_norm IN ('DX5','DX6','DX7','DX8','DX9','DX10',
              'DX11','DX12','DX13','DX14','DX15','DX16','DX17','DX18',
              'DX19','DX20'))
          OR (icdcm_version = 10
            AND first_service_date >= DATE '1995-06-01'
            AND icdcm_norm IN ('DX15','DX16','DX17','DX18','DX19',
              'DX20','DX21','DX22','DX23','DX24','DX25','DX26','DX27',
              'DX28','DX29','DX30','DX31','DX32','DX33','DX34','DX35',
              'DX36','DX37','DX38','DX39','DX40'))),
      onum AS (
        SELECT DISTINCT id_person, claim_id, first_service_date FROM (
          SELECT * FROM oud_rx UNION SELECT * FROM oud_mat)),
      oden AS (
        SELECT DISTINCT id_person, claim_id, first_service_date FROM (
          SELECT * FROM onum UNION SELECT * FROM oud_dx))
      SELECT year_month, id_person, measure_name, num_denom,
        measure_value
      FROM (
        SELECT CAST(year(first_service_date) * 100 +
            month(first_service_date) AS INTEGER) AS year_month,
          id_person,
          'Substance Use Disorder Treatment Penetration (Opioid)'
            AS measure_name,
          'N' AS num_denom, MAX(1) AS measure_value
        FROM onum GROUP BY 1, 2
        UNION ALL
        SELECT CAST(year(first_service_date) * 100 +
            month(first_service_date) AS INTEGER),
          id_person,
          'Substance Use Disorder Treatment Penetration (Opioid)', 'D',
          MAX(1)
        FROM oden GROUP BY 1, 2)
      ORDER BY year_month, id_person, num_denom"""),

    // q126: ED-visit numerator — three qualification routes, UNION
    // distinct at claim grain.
    "q126_ed_visit_num" -> """
      WITH hdr AS (
        SELECT o_orderkey AS claim_id, o_custkey % 100 AS id_person,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 3 AS INT)
            AS lsd,
          CASE WHEN o_orderkey % 5 = 0 THEN '3'
               WHEN o_orderkey % 5 = 1 THEN '26'
               WHEN o_orderkey % 5 = 2 THEN '34' ELSE '1' END
            AS clm_type,
          CASE WHEN o_orderkey % 7 = 0 THEN '23' ELSE '11' END AS pos
        FROM orders),
      ed AS (SELECT * FROM hdr WHERE clm_type IN ('3', '26', '34')),
      rev AS (
        SELECT DISTINCT l_orderkey AS claim_id FROM lineitem
        WHERE (CASE WHEN l_suppkey % 9 = 0 THEN '0450'
               WHEN l_suppkey % 9 = 1 THEN '0451'
               WHEN l_suppkey % 9 = 2 THEN '0456' ELSE '0300' END)
          IN ('0450', '0451', '0452', '0456', '0459')),
      prc AS (
        SELECT DISTINCT l_orderkey AS claim_id FROM lineitem
        WHERE (CASE WHEN l_partkey % 11 = 0 THEN '99281'
               WHEN l_partkey % 11 = 1 THEN '99284'
               WHEN l_partkey % 11 = 2 THEN '99288' ELSE 'OTHER' END)
          IN ('99281', '99282', '99283', '99284', '99285', '99288')),
      u AS (
        SELECT id_person, claim_id, fsd, lsd FROM ed WHERE pos IN ('23')
        UNION
        SELECT id_person, e.claim_id, fsd, lsd
        FROM ed e JOIN rev r ON e.claim_id = r.claim_id
        UNION
        SELECT id_person, e.claim_id, fsd, lsd
        FROM ed e JOIN prc p ON e.claim_id = p.claim_id)
      SELECT CAST(year(fsd) * 100 + month(fsd) AS INTEGER) AS year_month,
        id_person, claim_id, fsd AS first_service_date,
        lsd AS last_service_date, 1 AS ed_visit_num
      FROM u ORDER BY claim_id""",

    // q127: mcare elig_timevar — ResDAC monthly code recodes (NULL-able
    // CASEs), NULL-propagating cov_type_sum>0 drop, death truncation,
    // islands/collapse/contiguous.
    "q127_mcare_timevar" -> s"""
      WITH $McareTimevarCtes
      SELECT * FROM mctv
      ORDER BY id_mcare, from_date""",

    // q128: temperature-scaled domain mixture weights (alpha = 0.7).
    "q128_mixture_weights" -> """
      WITH dom AS (
        SELECT source AS domain, count(*) AS n_docs,
          CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      sh AS (
        SELECT *, n_tokens * 1.0 / sum(n_tokens) OVER () AS nat_share
        FROM dom),
      mx AS (
        SELECT *, pow(nat_share, 0.7)
          / sum(pow(nat_share, 0.7)) OVER () AS mix_share
        FROM sh)
      SELECT domain, n_docs, n_tokens,
        round(nat_share, 6) AS nat_share,
        round(mix_share, 6) AS mix_share,
        round(mix_share / n_tokens * 1e6, 6) AS sample_weight_ppm
      FROM mx ORDER BY domain""",

    // q129: int8-quantized brute-force ANN — integer-exact scores under
    // one double division; the oracle hashes UNROUNDED qcosine.
    "q129_quantized_ann" -> """
      WITH qz AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM qz),
      scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          CASE WHEN list_inner_product(a.q, a.q) = 0
              OR list_inner_product(b.q, b.q) = 0 THEN 0.0
            ELSE list_inner_product(a.q, b.q)
              / (sqrt(list_inner_product(a.q, a.q))
                * sqrt(list_inner_product(b.q, b.q))) END AS qcosine
        FROM qv a CROSS JOIN qv b WHERE a.vec_id < 5),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY qcosine DESC, neighbor_id) AS rk
        FROM scored)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id, qcosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q130: stream-static enrichment — events left-joined to the
    // even-custkey segment dim, hourly windows, same watermark cutoff
    // as q48 (only finalized windows emit).
    "q130_stream_enrich" -> """
      WITH dim AS (
        SELECT c_custkey AS user_id, c_mktsegment AS segment
        FROM customer WHERE c_custkey % 2 = 0)
      SELECT coalesce(d.segment, 'UNKNOWN') AS segment,
        date_trunc('hour', e.ts) AS hour_start,
        count(*) AS n, round(sum(e.value), 2) AS val
      FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
      GROUP BY 1, 2
      HAVING hour_start + INTERVAL 1 HOUR
        <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
      ORDER BY segment, hour_start""",

    // q131: mcare elig_demo — latest-year picks (row_number over y DESC,
    // value DESC ≡ the build's max(struct)), ever flags, multiple-
    // endorsed recodes, rti 0/3 excluded, NULL for all-invalid persons.
    "q131_mcare_demo" -> """
      WITH e AS (
        SELECT DISTINCT o_custkey % 70 AS pid, year(o_orderdate) AS y
        FROM orders),
      b AS (
        SELECT 'E' || pid::VARCHAR AS id, y,
          CASE WHEN (pid + y) % 13 = 0 THEN NULL
            ELSE DATE '1940-01-01'
              + CAST((pid*37 + (y%3)*11) % 9000 AS INT) END AS dob,
          CASE WHEN pid % 11 = 0 AND y % 2 = 0 THEN DATE '1996-01-01'
            + CAST(pid % 400 AS INT) END AS dod,
          ['0','1','2',NULL][((pid + y) % 4)::INT + 1] AS sex,
          ['0','1','2','3','4','5','6',NULL]
            [((pid*3 + y) % 8)::INT + 1] AS race,
          '9810' || ((pid + y) % 8)::VARCHAR AS zip
        FROM e),
      dobp AS (
        SELECT id, dob FROM (SELECT id, dob, row_number() OVER
            (PARTITION BY id ORDER BY y DESC, dob DESC) rn
          FROM b WHERE dob IS NOT NULL) WHERE rn = 1),
      dodp AS (
        SELECT id, dod FROM (SELECT id, dod, row_number() OVER
            (PARTITION BY id ORDER BY y DESC, dod DESC) rn
          FROM b WHERE dod IS NOT NULL) WHERE rn = 1),
      sexr AS (
        SELECT id, sex FROM (SELECT id, sex, row_number() OVER
            (PARTITION BY id ORDER BY y DESC, sex DESC) rn
          FROM b WHERE sex IS NOT NULL AND sex <> '0') WHERE rn = 1),
      rethr AS (
        SELECT id, race FROM (SELECT id, race, row_number() OVER
            (PARTITION BY id ORDER BY y DESC, race DESC) rn
          FROM b WHERE race IS NOT NULL AND race NOT IN ('0','3'))
        WHERE rn = 1),
      racer AS (
        SELECT id, race FROM (SELECT id, race, row_number() OVER
            (PARTITION BY id ORDER BY y DESC, race DESC) rn
          FROM b WHERE race IS NOT NULL AND race NOT IN ('0','3')
            AND race <> '5') WHERE rn = 1),
      fl AS (
        SELECT id,
          max(CASE WHEN substr(zip,1,5) IN ('98101','98105') THEN 1
            END) AS geo_kc_ever,
          max(CASE WHEN sex = '1' THEN 1
            WHEN sex IS NOT NULL AND sex <> '0' THEN 0 END)
            AS gender_male,
          max(CASE WHEN sex = '2' THEN 1
            WHEN sex IS NOT NULL AND sex <> '0' THEN 0 END)
            AS gender_female,
          max(CASE WHEN race = '1' THEN 1 WHEN race IS NOT NULL
            AND race NOT IN ('0','3') THEN 0 END) AS race_white,
          max(CASE WHEN race = '2' THEN 1 WHEN race IS NOT NULL
            AND race NOT IN ('0','3') THEN 0 END) AS race_black,
          max(CASE WHEN race = '4' THEN 1 WHEN race IS NOT NULL
            AND race NOT IN ('0','3') THEN 0 END) AS race_asian_pi,
          max(CASE WHEN race = '5' THEN 1 WHEN race IS NOT NULL
            AND race NOT IN ('0','3') THEN 0 END) AS race_latino,
          max(CASE WHEN race = '6' THEN 1 WHEN race IS NOT NULL
            AND race NOT IN ('0','3') THEN 0 END) AS race_aian
        FROM b GROUP BY id),
      j AS (
        SELECT f.*, dobp.dob, dodp.dod, sexr.sex AS sx,
          rethr.race AS reth, racer.race AS rc,
          f.race_white + f.race_black + f.race_asian_pi + f.race_latino
            + f.race_aian AS eth_sum,
          f.race_white + f.race_black + f.race_asian_pi + f.race_aian
            AS r_sum
        FROM fl f
        LEFT JOIN dobp ON f.id = dobp.id
        LEFT JOIN dodp ON f.id = dodp.id
        LEFT JOIN sexr ON f.id = sexr.id
        LEFT JOIN rethr ON f.id = rethr.id
        LEFT JOIN racer ON f.id = racer.id)
      SELECT id AS id_mcare, dob, dod AS death_dt, geo_kc_ever,
        CASE WHEN gender_male = 1 AND gender_female = 1 THEN 'Multiple'
          WHEN gender_female = 1 THEN 'Female'
          WHEN gender_male = 1 THEN 'Male'
          WHEN gender_male IS NOT NULL THEN 'Unknown' END AS gender_me,
        CASE WHEN sx = '1' THEN 'Male' WHEN sx = '2' THEN 'Female'
          WHEN sx IS NOT NULL THEN 'Unknown' END AS gender_recent,
        gender_female, gender_male,
        CASE WHEN r_sum > 1 THEN 'Multiple'
          WHEN race_white = 1 THEN 'White'
          WHEN race_black = 1 THEN 'Black'
          WHEN race_asian_pi = 1 THEN 'Asian/PI'
          WHEN race_aian = 1 THEN 'AI/AN'
          WHEN r_sum = 0 THEN 'Unknown' END AS race_me,
        CASE WHEN eth_sum > 1 THEN 'Multiple'
          WHEN race_white = 1 THEN 'White'
          WHEN race_black = 1 THEN 'Black'
          WHEN race_asian_pi = 1 THEN 'Asian/PI'
          WHEN race_latino = 1 THEN 'Latino'
          WHEN race_aian = 1 THEN 'AI/AN'
          WHEN eth_sum = 0 THEN 'Unknown' END AS race_eth_me,
        CASE WHEN rc = '1' THEN 'White' WHEN rc = '2' THEN 'Black'
          WHEN rc = '4' THEN 'Asian/PI' WHEN rc = '6' THEN 'AI/AN'
          WHEN rc IS NOT NULL THEN 'Unknown' END AS race_recent,
        CASE WHEN reth = '1' THEN 'White' WHEN reth = '2' THEN 'Black'
          WHEN reth = '4' THEN 'Asian/PI' WHEN reth = '5' THEN 'Latino'
          WHEN reth = '6' THEN 'AI/AN'
          WHEN reth IS NOT NULL THEN 'Unknown' END AS race_eth_recent,
        race_aian, race_asian_pi, race_black, race_latino, race_white,
        CASE WHEN r_sum = 0 THEN 1 WHEN r_sum IS NOT NULL THEN 0 END
          AS race_unk,
        CASE WHEN eth_sum = 0 THEN 1 WHEN eth_sum IS NOT NULL THEN 0
          END AS race_eth_unk
      FROM j ORDER BY id_mcare""",

    // q132: overlapping 64/16 token-window chunking; windows advance by
    // 48 tokens, the last may be short, fully-contained tails are not
    // emitted.
    "q132_chunk_docs" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents),
      n AS (
        SELECT doc_id, t, len(t) AS total,
          1 + greatest(0, (len(t) - 64 + 47) // 48) AS nch
        FROM d),
      c AS (
        SELECT doc_id, t, total, i AS chunk_id
        FROM n, LATERAL (SELECT unnest(generate_series(0, nch - 1))
          AS i) g)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        CAST(chunk_id * 48 AS INT) AS start_token,
        CAST(len(t[chunk_id*48 + 1 : least(chunk_id*48 + 64,
          total)::INT]) AS INT) AS n_chunk_tokens,
        array_to_string(t[chunk_id*48 + 1 : least(chunk_id*48 + 64,
          total)::INT], ' ') AS chunk_text
      FROM c ORDER BY doc_id, chunk_id""",

    // q133: the composed pipeline — line dedup, PII redaction, token
    // gate, md5 split — rolled up per (split, source).
    "q133_pipeline" -> """
      WITH docs AS (
        SELECT doc_id, '(c) site ' || source || chr(10)
          || substr(text, 1, 40) || chr(10) || substr(text, 41, 40)
          || ' mail bob' || doc_id::VARCHAR || '@example.com'
          || chr(10) || 'contact admin' AS txt
        FROM documents),
      lines AS (
        SELECT doc_id, i AS line_no, parts[i] AS line,
          lower(trim(parts[i])) AS lnorm
        FROM (SELECT doc_id, string_split(txt, chr(10)) AS parts
              FROM docs),
          LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g),
      dict AS (
        SELECT lnorm FROM (
          SELECT lnorm, count(*) AS df
          FROM (SELECT DISTINCT doc_id, lnorm FROM lines)
          GROUP BY lnorm)
        WHERE df >= 10),
      flagged AS (
        SELECT l.doc_id, l.line_no, l.line,
          d.lnorm IS NOT NULL AS boiler
        FROM lines l LEFT JOIN dict d ON l.lnorm = d.lnorm),
      agg AS (
        SELECT doc_id, count(*) AS n_lines,
          sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS n_dropped,
          string_agg(CASE WHEN NOT boiler THEN line END, chr(10)
            ORDER BY line_no) AS text_clean
        FROM flagged GROUP BY doc_id),
      cleaned AS (
        SELECT doc_id, text_clean AS txt FROM agg
        WHERE n_dropped < n_lines),
      red AS (
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(txt,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
            '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS txt,
          CAST(len(regexp_extract_all(txt,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT)
          + CAST(len(regexp_extract_all(txt,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
          + CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{2}-\d{4}\b'))
            AS BIGINT)
          + CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b'))
            AS BIGINT) AS pii_total
        FROM cleaned),
      gated AS (
        SELECT * FROM red
        WHERE len(regexp_split_to_array(trim(txt), '\s+')) >= 15),
      spl AS (
        SELECT g.doc_id, g.txt, g.pii_total, d.source,
          CASE WHEN b < 3865470566 THEN 'train'
               WHEN b < 4080218931 THEN 'valid'
               ELSE 'test' END AS split
        FROM (SELECT *, ('0x' || substr(md5('split:'
            || doc_id::VARCHAR), 1, 8))::UBIGINT AS b FROM gated) g
        JOIN documents d ON g.doc_id = d.doc_id)
      SELECT split, source, count(*) AS n_docs,
        CAST(sum(len(regexp_split_to_array(trim(txt), '\s+')))
          AS BIGINT) AS total_tokens,
        CAST(sum(pii_total) AS BIGINT) AS total_pii
      FROM spl GROUP BY split, source
      ORDER BY split, source""",

    // q134: Okapi BM25 with Lucene idf, top-10 per query; ranking
    // compares the 6-decimal ROUNDED score (then doc_id) so float-order
    // noise can't flip a rank across engines.
    "q134_bm25" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t FROM documents),
      post AS (
        SELECT doc_id, tok, count(*)::BIGINT AS tf,
          max(dl) AS dl
        FROM (SELECT doc_id, unnest(t) AS tok, len(t)::BIGINT AS dl
              FROM d)
        WHERE len(tok) > 0 GROUP BY doc_id, tok),
      stats AS (
        SELECT count(*)::BIGINT AS n_docs,
          sum(len(t))::BIGINT AS tot_dl FROM d),
      q AS (SELECT * FROM (VALUES ('A', 'hash join merge'),
        ('B', 'window stream batch'), ('C', 'customer order line'),
        ('D', 'slow scan big table'), ('E', 'vector spark data query key'))
        v(query_id, query_text)),
      qt AS (
        SELECT DISTINCT query_id,
          unnest(regexp_split_to_array(trim(lower(query_text)), '\s+'))
          AS tok FROM q),
      dfreq AS (
        SELECT tok, count(*)::BIGINT AS df FROM post
        WHERE tok IN (SELECT DISTINCT tok FROM qt) GROUP BY tok),
      scored AS (
        SELECT qt.query_id, p.doc_id,
          round(sum(
            ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
            * p.tf * (1.2 + 1) / (p.tf + 1.2 * (1 - 0.75
              + 0.75 * p.dl::DOUBLE
                / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        FROM post p JOIN qt ON p.tok = qt.tok
          JOIN dfreq f ON p.tok = f.tok CROSS JOIN stats s
        GROUP BY qt.query_id, p.doc_id),
      r AS (
        SELECT query_id, doc_id, bm25,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        FROM scored)
      SELECT query_id, doc_id, bm25, rank FROM r
      WHERE rank <= 10 ORDER BY query_id, rank""",

    // q250: hard-negative mining — the q134 BM25 replay with generated
    // first-5-token queries, positive exclusion, and a survivor
    // re-rank to neg_rank 1..5.
    "q250_hard_negatives" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t FROM documents),
      post AS (
        SELECT doc_id, tok, count(*)::BIGINT AS tf,
          max(dl) AS dl
        FROM (SELECT doc_id, unnest(t) AS tok, len(t)::BIGINT AS dl
              FROM d)
        WHERE len(tok) > 0 GROUP BY doc_id, tok),
      stats AS (
        SELECT count(*)::BIGINT AS n_docs,
          sum(len(t))::BIGINT AS tot_dl FROM d),
      q AS (
        SELECT CAST(doc_id AS VARCHAR) AS query_id,
          array_to_string(t[1:5], ' ') AS query_text
        FROM d WHERE doc_id % 50 = 0),
      qt AS (
        SELECT DISTINCT query_id,
          unnest(regexp_split_to_array(trim(lower(query_text)), '\s+'))
          AS tok FROM q),
      dfreq AS (
        SELECT tok, count(*)::BIGINT AS df FROM post
        WHERE tok IN (SELECT DISTINCT tok FROM qt) GROUP BY tok),
      scored AS (
        SELECT qt.query_id, p.doc_id,
          round(sum(
            ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
            * p.tf * (1.2 + 1) / (p.tf + 1.2 * (1 - 0.75
              + 0.75 * p.dl::DOUBLE
                / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        FROM post p JOIN qt ON p.tok = qt.tok
          JOIN dfreq f ON p.tok = f.tok CROSS JOIN stats s
        GROUP BY qt.query_id, p.doc_id),
      r AS (
        SELECT query_id, doc_id, bm25,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        FROM scored),
      negs AS (
        SELECT query_id, doc_id, bm25, rank FROM r
        WHERE rank <= 10 AND doc_id <> CAST(query_id AS BIGINT)),
      ranked AS (
        SELECT query_id, doc_id, bm25,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rank) AS INT) AS neg_rank
        FROM negs)
      SELECT query_id, doc_id, bm25, neg_rank FROM ranked
      WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""",

    // q251: DoReMi integer reweighting — 5 generated multiplicative-
    // weight rounds replay the fixed-point trajectory exactly; final
    // 1/5 uniform smoothing.
    "q251_doremi_weights" -> ("""
      WITH dl AS (
        SELECT source AS domain,
          CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT) // count(*) AS loss
        FROM documents GROUP BY 1),
      st AS (SELECT count(*) AS n, min(loss) AS minl FROM dl),
      b0 AS (SELECT domain, loss,
        loss - (SELECT minl FROM st) AS excess FROM dl),
      mx AS (SELECT greatest(max(excess), 1) AS mxe FROM b0),
      base AS (SELECT domain, loss,
        CAST(excess * 1000000 // (SELECT mxe FROM mx) AS BIGINT)
          AS excn
        FROM b0),
      w0 AS (SELECT domain,
        CAST(1000000 // (SELECT n FROM st) AS BIGINT) AS weight
        FROM base),""" +
      (1 to 5).map(dmIter).mkString(",") + """
      SELECT b.domain AS domain, b.loss AS loss,
        CAST(w.weight * 4 // 5
          + 1000000 // (5 * (SELECT n FROM st)) AS BIGINT) AS weight
      FROM w5 w JOIN base b ON w.domain = b.domain
      ORDER BY b.domain"""),

    // q252: curriculum ordering — deterministic length stages, salted
    // md5 intra-stage shuffle, global order via row_number replay.
    "q252_curriculum_order" -> """
      WITH d AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      st AS (
        SELECT doc_id, n_tokens,
          least(15, n_tokens // 8) AS stage,
          CAST(('0x' || substr(md5('curr:' || CAST(doc_id AS VARCHAR)),
            1, 8)) AS UBIGINT) AS draw
        FROM d)
      SELECT doc_id, n_tokens, CAST(stage AS BIGINT) AS stage,
        CAST(row_number() OVER (ORDER BY stage, draw, doc_id)
          AS BIGINT) AS order_idx
      FROM st ORDER BY order_idx""",

    // q253: adjacent-chunk contrastive pairs — the q132 chunk replay
    // self-joined on chunk_id + 1.
    "q253_chunk_pairs" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents),
      n AS (
        SELECT doc_id, t, len(t) AS total,
          1 + greatest(0, (len(t) - 64 + 47) // 48) AS nch
        FROM d),
      c AS (
        SELECT doc_id, t, total, i AS chunk_id
        FROM n, LATERAL (SELECT unnest(generate_series(0, nch - 1))
          AS i) g),
      ch AS (
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          CAST(len(t[chunk_id*48 + 1 : least(chunk_id*48 + 64,
            total)::INT]) AS INT) AS n_chunk_tokens
        FROM c)
      SELECT a.doc_id AS doc_id, a.chunk_id AS chunk_a,
        b.chunk_id AS chunk_b, a.n_chunk_tokens AS tokens_a,
        b.n_chunk_tokens AS tokens_b
      FROM ch a JOIN ch b ON a.doc_id = b.doc_id
        AND b.chunk_id = a.chunk_id + 1
      ORDER BY doc_id, chunk_a""",

    // q254: tokenizer fertility by language — the q36 language-ID
    // replay aggregated with whitespace + BPE-ish token counts;
    // fertility in integer basis points.
    "q254_tokenizer_fertility" -> """
      WITH t AS (
        SELECT text,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
      h AS (
        SELECT text,
          len(list_filter(toks, x -> x IN ('der','die','und','das','ist','von','den','ein'))) AS h_de,
          len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it'))) AS h_en,
          len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los','del'))) AS h_es,
          len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une'))) AS h_fr,
          len(list_filter(toks, x -> x IN ('de5','shi4','le5','zai4','you3','wo3','ta1','men5'))) AS h_zh
        FROM t),
      p AS (
        SELECT text,
          CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
               WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
               WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
               WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
               WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
               ELSE 'zh' END AS lang
        FROM h),
      c AS (
        SELECT lang,
          CAST(len(regexp_split_to_array(trim(text), '\s+'))
            AS BIGINT) AS ws,
          CAST(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bp
        FROM p)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(ws) AS BIGINT) AS ws_tokens,
        CAST(sum(bp) AS BIGINT) AS bpeish_tokens,
        CAST(sum(bp) * 10000 // sum(ws) AS BIGINT) AS fertility_bp
      FROM c GROUP BY lang ORDER BY lang""",

    // q255: integer HLL — md5-slice 60-bit hash, 256 registers, exact
    // integer harmonic sum rescaled by the per-key max register;
    // alpha*m^2 pre-truncated to 47074 (7183 * 65536 div 10000).
    "q255_int_hll" -> """
      WITH v AS (
        SELECT o_custkey % 50 AS grp, o_orderkey AS val FROM orders),
      h AS (
        SELECT grp, val,
          CAST(CAST(('0x' || substr(md5('hll:' || CAST(val AS VARCHAR)),
            1, 15)) AS UBIGINT) AS BIGINT) AS hv
        FROM v),
      r AS (SELECT grp, hv % 256 AS reg, hv // 256 AS w FROM h),
      rk AS (
        SELECT grp, reg,
          53 - (CASE WHEN w = 0 THEN 0
            ELSE length(bin(w)) END) AS rank
        FROM r),
      regs AS (
        SELECT grp, reg, max(rank) AS m FROM rk GROUP BY 1, 2),
      mx AS (SELECT grp, max(m) AS maxm FROM regs GROUP BY 1),
      fin AS (
        SELECT r.grp, mx.maxm, count(*) AS present,
          CAST(sum(1::BIGINT << CAST(mx.maxm - r.m AS INT)) AS BIGINT)
            AS sp
        FROM regs r JOIN mx ON r.grp = mx.grp
        GROUP BY 1, 2),
      est AS (
        SELECT grp, CAST(256 - present AS BIGINT) AS zero_registers,
          CAST(47074 * (1::BIGINT << CAST(maxm AS INT))
            // (sp + (256 - present) * (1::BIGINT << CAST(maxm AS INT)))
            AS BIGINT) AS hll_est
        FROM fin),
      ex AS (
        SELECT grp, count(DISTINCT val) AS exact_distinct
        FROM v GROUP BY 1)
      SELECT e.grp AS grp, ex.exact_distinct, e.hll_est,
        e.zero_registers,
        CAST(abs(e.hll_est - ex.exact_distinct) * 10000
          // ex.exact_distinct AS BIGINT) AS err_bp
      FROM est e JOIN ex ON e.grp = ex.grp
      ORDER BY grp""",

    // q256: HLL shard-merge law — register-wise max is associative, so
    // merged == direct; the oracle computes the one mathematical
    // result and pins the equality flag TRUE.
    "q256_hll_merge" -> """
      WITH v AS (
        SELECT o_custkey % 50 AS grp, o_orderkey AS val FROM orders),
      h AS (
        SELECT grp, val,
          CAST(CAST(('0x' || substr(md5('hll:' || CAST(val AS VARCHAR)),
            1, 15)) AS UBIGINT) AS BIGINT) AS hv
        FROM v),
      r AS (SELECT grp, hv % 256 AS reg, hv // 256 AS w FROM h),
      rk AS (
        SELECT grp, reg,
          53 - (CASE WHEN w = 0 THEN 0
            ELSE length(bin(w)) END) AS rank
        FROM r),
      regs AS (
        SELECT grp, reg, max(rank) AS m FROM rk GROUP BY 1, 2),
      mx AS (SELECT grp, max(m) AS maxm FROM regs GROUP BY 1),
      fin AS (
        SELECT r.grp, mx.maxm, count(*) AS present,
          CAST(sum(1::BIGINT << CAST(mx.maxm - r.m AS INT)) AS BIGINT)
            AS sp
        FROM regs r JOIN mx ON r.grp = mx.grp
        GROUP BY 1, 2),
      est AS (
        SELECT grp,
          CAST(47074 * (1::BIGINT << CAST(maxm AS INT))
            // (sp + (256 - present) * (1::BIGINT << CAST(maxm AS INT)))
            AS BIGINT) AS e
        FROM fin)
      SELECT grp, e AS est_merged, e AS est_direct,
        TRUE AS merge_consistent
      FROM est ORDER BY grp""",

    // q257: integer log-histogram quantiles — exponent+5-mantissa-bit
    // buckets, cumulative window, lower-bound answers; exact side via
    // discrete position ceil(q*N/10000).
    "q257_hist_quantiles" -> """
      WITH o AS (
        SELECT o_custkey % 20 AS grp,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        FROM orders),
      h AS (
        SELECT grp, v,
          CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS e
        FROM o),
      b AS (
        SELECT grp,
          e * 32 + (CASE WHEN e <= 5 THEN v ELSE v >> (e - 5) END)
            AS bucket
        FROM h),
      hist AS (
        SELECT grp, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
      cum AS (
        SELECT grp, bucket, cnt,
          sum(cnt) OVER (PARTITION BY grp) AS n,
          sum(cnt) OVER (PARTITION BY grp ORDER BY bucket
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist),
      lo AS (
        SELECT grp, n, cum,
          CASE WHEN bucket // 32 <= 5 THEN bucket % 32
            ELSE (bucket % 32) << CAST((bucket // 32) - 5 AS INT)
            END AS lower
        FROM cum),
      qq AS (SELECT unnest([5000, 9000, 9900]) AS q_bp),
      est AS (
        SELECT l.grp, q.q_bp, CAST(min(l.lower) AS BIGINT) AS est
        FROM lo l CROSS JOIN qq q
        WHERE l.cum * 10000 >= l.n * q.q_bp
        GROUP BY 1, 2),
      ex0 AS (
        SELECT grp, v,
          row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
          count(*) OVER (PARTITION BY grp) AS n
        FROM o),
      ex AS (
        SELECT e.grp, q.q_bp, e.v AS exact
        FROM ex0 e CROSS JOIN qq q
        WHERE e.rn = (CAST(q.q_bp AS BIGINT) * e.n + 9999) // 10000)
      SELECT est.grp AS grp, est.q_bp AS q_bp, est.est, ex.exact,
        CAST(abs(est.est - ex.exact) * 10000 // ex.exact AS BIGINT)
          AS err_bp
      FROM est JOIN ex ON est.grp = ex.grp AND est.q_bp = ex.q_bp
      ORDER BY grp, q_bp""",

    // q258: per-node triangle counts — degree-ordered orientation,
    // wedge self-join on the apex, canonical-edge close.
    "q258_triangles" -> """
      WITH e0 AS (
        SELECT CAST(o_custkey % 150 AS BIGINT) AS src,
          CAST(o_orderkey % 150 AS BIGINT) AS dst
        FROM orders WHERE o_custkey % 150 <> o_orderkey % 150),
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0),
      deg AS (
        SELECT node, count(*) AS dg FROM (
          SELECT a AS node FROM und
          UNION ALL SELECT b FROM und)
        GROUP BY 1),
      wd AS (
        SELECT u.a, u.b, x.dg AS da, y.dg AS db
        FROM und u JOIN deg x ON u.a = x.node
          JOIN deg y ON u.b = y.node),
      o AS (
        SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b
            END AS u,
          CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a
            END AS v
        FROM wd),
      w AS (
        SELECT l.u, l.v AS x, r.v AS y
        FROM o l JOIN o r ON l.u = r.u WHERE l.v < r.v),
      t AS (
        SELECT w.u, w.x, w.y FROM w
        JOIN und ON w.x = und.a AND w.y = und.b)
      SELECT node, count(*) AS triangles FROM (
        SELECT u AS node FROM t
        UNION ALL SELECT x FROM t
        UNION ALL SELECT y FROM t)
      GROUP BY 1 ORDER BY node""",

    // q259: k-core peeling — 4 generated synchronous peel rounds over
    // the planted-community graph; survivors with final degrees.
    "q259_kcore" -> ("""
      WITH raw AS (
        SELECT CAST(o_custkey % 25 AS BIGINT) * 100
            + o_orderkey % 18 AS src,
          CAST(o_custkey % 25 AS BIGINT) * 100
            + (o_orderkey // 18) % 18 AS dst
        FROM orders
        UNION ALL
        SELECT CAST(o_custkey % 25 AS BIGINT) * 100 + o_orderkey % 18,
          CAST((o_custkey % 25 + 1) % 25 AS BIGINT) * 100
            + o_orderkey % 18
        FROM orders WHERE o_orderkey % 89 = 0),
      e0 AS (SELECT src, dst FROM raw WHERE src <> dst),
      bth AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0)),
      a0 AS (SELECT DISTINCT src AS node FROM bth),""" +
      (1 to 4).map(kcIter).mkString(",") + """
      SELECT node, dg FROM d4 WHERE dg >= 3 ORDER BY node"""),

    // q261: retrieval eval — the q134 BM25 replay with 4-token
    // self-queries and relevant-rank scoring.
    "q261_retrieval_eval" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t FROM documents),
      post AS (
        SELECT doc_id, tok, count(*)::BIGINT AS tf,
          max(dl) AS dl
        FROM (SELECT doc_id, unnest(t) AS tok, len(t)::BIGINT AS dl
              FROM d)
        WHERE len(tok) > 0 GROUP BY doc_id, tok),
      stats AS (
        SELECT count(*)::BIGINT AS n_docs,
          sum(len(t))::BIGINT AS tot_dl FROM d),
      q AS (
        SELECT CAST(doc_id AS VARCHAR) AS query_id,
          array_to_string(t[1:4], ' ') AS query_text
        FROM d WHERE doc_id % 40 = 0),
      qt AS (
        SELECT DISTINCT query_id,
          unnest(regexp_split_to_array(trim(lower(query_text)), '\s+'))
          AS tok FROM q),
      dfreq AS (
        SELECT tok, count(*)::BIGINT AS df FROM post
        WHERE tok IN (SELECT DISTINCT tok FROM qt) GROUP BY tok),
      scored AS (
        SELECT qt.query_id, p.doc_id,
          round(sum(
            ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
            * p.tf * (1.2 + 1) / (p.tf + 1.2 * (1 - 0.75
              + 0.75 * p.dl::DOUBLE
                / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        FROM post p JOIN qt ON p.tok = qt.tok
          JOIN dfreq f ON p.tok = f.tok CROSS JOIN stats s
        GROUP BY qt.query_id, p.doc_id),
      r AS (
        SELECT query_id, doc_id,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        FROM scored),
      rel AS (
        SELECT query_id, rank AS rel_rank FROM r
        WHERE rank <= 10 AND doc_id = CAST(query_id AS BIGINT))
      SELECT q.query_id, rel.rel_rank,
        CAST(coalesce(1000000 // rel.rel_rank, 0) AS BIGINT) AS rr_fp,
        CAST(coalesce(rel.rel_rank, 99) <= 1 AS INT) AS hit1,
        CAST(coalesce(rel.rel_rank, 99) <= 5 AS INT) AS hit5,
        CAST(coalesce(rel.rel_rank, 99) <= 10 AS INT) AS hit10
      FROM q LEFT JOIN rel ON q.query_id = rel.query_id
      ORDER BY q.query_id""",

    // q262: purity-vote classifier — token purity from labeled counts,
    // mean purity per doc, threshold at 1/2.
    "q262_purity_vote" -> """
      WITH lab AS (
        SELECT doc_id,
          text || repeat(' marker' || source, 8) AS text,
          CAST(substr(source, 4) AS INT) % 2 AS l
        FROM documents),
      tk AS (
        SELECT doc_id, l, unnest(
          regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM lab),
      tk2 AS (SELECT * FROM tk WHERE len(tok) > 0),
      vocab AS (
        SELECT tok, CAST(sum(l) AS BIGINT) AS pos,
          CAST(sum(1 - l) AS BIGINT) AS neg
        FROM tk2 GROUP BY tok),
      pur AS (
        SELECT tok,
          pos * 1000000 // greatest(pos + neg, 1) AS purity
        FROM vocab),
      sc AS (
        SELECT t.doc_id, count(*) AS n_scored_tokens,
          CAST(sum(p.purity) AS BIGINT) AS s
        FROM tk2 t JOIN pur p ON t.tok = p.tok
        GROUP BY t.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(sc.n_scored_tokens, 0) AS BIGINT)
          AS n_scored_tokens,
        CAST(coalesce(sc.s // sc.n_scored_tokens, 500000) AS BIGINT)
          AS purity_fp,
        CAST(coalesce(sc.s // sc.n_scored_tokens, 500000) > 500000
          AS INT) AS pred_label
      FROM lab d LEFT JOIN sc ON d.doc_id = sc.doc_id
      ORDER BY d.doc_id""",

    // q263: purge sweep — the q132 chunk replay and the q37 exact-pair
    // equivalence, cascaded through the every-97th delete list.
    "q263_purge_sweep" -> """
      WITH del AS (
        SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
      d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents),
      n AS (
        SELECT doc_id, len(t) AS total,
          1 + greatest(0, (len(t) - 64 + 47) // 48) AS nch
        FROM d),
      ch AS (
        SELECT doc_id FROM n, LATERAL (SELECT
          unnest(generate_series(0, nch - 1)) AS i) g),
      sh AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 2, 1)),
            i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
            'g'), ' ') AS t
          FROM documents)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0
          / greatest(len(a.s) + len(b.s)
            - len(list_intersect(a.s, b.s)), 1) >= 0.5)
      SELECT * FROM (
        SELECT 'documents' AS artifact,
          (SELECT count(*) FROM documents) AS rows_before,
          (SELECT count(*) FROM documents WHERE doc_id % 97 = 0)
            AS rows_purged,
          (SELECT count(*) FROM documents)
            - (SELECT count(*) FROM documents WHERE doc_id % 97 = 0)
            AS rows_after
        UNION ALL
        SELECT 'chunks',
          (SELECT count(*) FROM ch),
          (SELECT count(*) FROM ch WHERE doc_id % 97 = 0),
          (SELECT count(*) FROM ch)
            - (SELECT count(*) FROM ch WHERE doc_id % 97 = 0)
        UNION ALL
        SELECT 'embeddings',
          (SELECT count(*) FROM embeddings),
          (SELECT count(*) FROM embeddings WHERE vec_id % 97 = 0),
          (SELECT count(*) FROM embeddings)
            - (SELECT count(*) FROM embeddings WHERE vec_id % 97 = 0)
        UNION ALL
        SELECT 'neardup_pairs',
          (SELECT count(*) FROM pairs),
          (SELECT count(*) FROM pairs
            WHERE id_a % 97 = 0 OR id_b % 97 = 0),
          (SELECT count(*) FROM pairs)
            - (SELECT count(*) FROM pairs
              WHERE id_a % 97 = 0 OR id_b % 97 = 0))
      ORDER BY artifact""",

    // q264: leakage-free split — pairs (exact-Jaccard replay, recall-1
    // argument as q38/q178), components via GENERATED min-label
    // propagation rounds with a convergence GUARD (unconverged rounds
    // emit zero rows -> the compare goes red; the quadratic recursive
    // closure the q178 oracle uses did not finish at sf0.1), then the
    // q215 md5 range cut applied at CLUSTER grain; the per-split pair
    // rollup's n_leak_pairs is 0 by construction.
    "q264_leakfree_split" -> raw"""
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
            'g'), ' ') AS toks
          FROM documents)),
      p AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(a.sh) + len(b.sh)
              - len(list_intersect(a.sh, b.sh)), 1) >= 0.5),
      sym AS MATERIALIZED (
        SELECT ida AS u, idb AS v FROM p
        UNION SELECT idb, ida FROM p),
      l0 AS MATERIALIZED (
        SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)),
      ${(1 to LpRounds).map(lpMinRound).mkString(",\n      ")},
      conv AS (
        SELECT count(*) AS bad
        FROM l$LpRounds a JOIN l${LpRounds - 1} b ON a.node = b.node
        WHERE a.lbl <> b.lbl),
      comp AS (SELECT node AS id, lbl AS component FROM l$LpRounds),
      allc AS (
        SELECT doc_id, coalesce(component, doc_id) AS cluster
        FROM documents LEFT JOIN comp ON doc_id = id
        CROSS JOIN conv WHERE conv.bad = 0),
      sp AS (
        SELECT doc_id, cluster,
          CASE WHEN bkt < 3865470566 THEN 'train'
               WHEN bkt < 4080218931 THEN 'valid'
               ELSE 'test' END AS split
        FROM (
          SELECT doc_id, cluster,
            ('0x' || substr(md5('split:' || cluster::VARCHAR), 1, 8))
              ::UBIGINT AS bkt
          FROM allc)),
      base AS (
        SELECT split, count(*) AS n_docs,
          count(DISTINCT cluster) AS n_clusters,
          CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM sp GROUP BY split),
      pr AS (
        SELECT pa.split AS split, count(*) AS n_pairs,
          CAST(sum(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leak_pairs
        FROM p JOIN sp pa ON p.ida = pa.doc_id
        JOIN sp pb ON p.idb = pb.doc_id
        GROUP BY pa.split)
      SELECT base.split, n_docs, n_clusters, id_sum,
        coalesce(n_pairs, 0) AS n_pairs,
        coalesce(n_leak_pairs, 0) AS n_leak_pairs
      FROM base LEFT JOIN pr ON base.split = pr.split
      ORDER BY base.split""",

    // q265: DSIR selection — the q172 weights replay (same hashed
    // feature model, target = doc_id%7 slice) restricted to RAW docs,
    // zero-filled for feature-less docs, rank()-selected top-25.
    "q265_dsir_select" -> """
      WITH toks AS (
        SELECT doc_id, doc_id % 7 = 0 AS tgt,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
            'g'), ' ') AS tk
        FROM documents),
      feats AS (
        SELECT doc_id, tgt, unnest(tk) AS f FROM toks
        UNION ALL
        SELECT doc_id, tgt, unnest(list_transform(
            generate_series(1, greatest(len(tk) - 1, 0)),
            i -> tk[i] || ' ' || tk[i + 1])) AS f
        FROM toks),
      bk AS (
        SELECT doc_id, tgt,
          ('0x' || substr(md5(f), 1, 8))::UBIGINT % 64 AS b
        FROM feats WHERE len(f) > 0),
      counts AS (
        SELECT b,
          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
          CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        FROM bk GROUP BY b),
      tot AS (
        SELECT
          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
          CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS nr
        FROM bk),
      lam AS (
        SELECT b,
          ln((ct + 1)::DOUBLE / (nt + 64)::DOUBLE) -
            ln((cr + 1)::DOUBLE / (nr + 64)::DOUBLE) AS lam
        FROM counts, tot),
      docf AS (
        SELECT doc_id, b, count(*) AS m FROM bk GROUP BY 1, 2),
      sc0 AS (
        SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
          round(sum(m * lam), 6) AS log_importance
        FROM docf JOIN lam USING (b) GROUP BY doc_id),
      allr AS (
        SELECT d2.doc_id,
          CAST(coalesce(sc0.n_feats, 0) AS BIGINT) AS n_feats,
          coalesce(sc0.log_importance, 0.0) AS log_importance
        FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d2
        LEFT JOIN sc0 ON d2.doc_id = sc0.doc_id),
      rk AS (
        SELECT doc_id, rank() OVER (ORDER BY log_importance DESC,
          doc_id) AS rnk
        FROM allr)
      SELECT a.doc_id, a.n_feats, a.log_importance,
        CASE WHEN r.rnk <= 25 THEN CAST(r.rnk AS INT) END AS sel_rank,
        coalesce(r.rnk <= 25, false) AS selected
      FROM allr a JOIN rk r ON a.doc_id = r.doc_id
      ORDER BY a.doc_id""",

    // q266: token-balanced shards — the oracle states the SPEC (one
    // global ordered running sum); the Spark side implements it as the
    // two-phase partition-parallel prefix sum, equality proving the
    // decomposition exact.
    "q266_balanced_shards" -> """
      WITH b AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens,
          CAST(('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))
            ::UBIGINT AS BIGINT) AS ord
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens, ord,
          CAST(sum(n_tokens) OVER (ORDER BY ord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
        FROM b)
      SELECT doc_id, n_tokens, ord, cum_tokens,
        (cum_tokens - n_tokens) // 2048 AS shard
      FROM c ORDER BY ord, doc_id""",

    // q267: A-Res weighted sample — round(ln(u)*1e6)/w keys from
    // centered md5 32-bit draws (integer numerator, one IEEE division —
    // bit-stable, no large-weight key collapse), top-40 by (key desc,
    // id).
    "q267_weighted_sample" -> """
      WITH b AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS w,
          ('0x' || substr(md5('ares:' || doc_id::VARCHAR), 1, 8))
            ::UBIGINT AS bkt
        FROM documents),
      k AS (
        SELECT doc_id, w AS n_tokens,
          round(ln((bkt::DOUBLE + 0.5) / 4294967296.0) * 1000000.0, 0)
            / w::DOUBLE AS ares_key
        FROM b WHERE w > 0)
      SELECT doc_id, n_tokens, ares_key,
        CAST(row_number() OVER (ORDER BY ares_key DESC, doc_id)
          AS INT) AS rnk
      FROM k QUALIFY rnk <= 40 ORDER BY rnk""",

    // q268: shard manifest — the q266 shard layout joined to per-doc
    // 60-bit md5-prefix content hashes, ONE ROLLUP aggregation giving
    // per-shard rows and the dataset total; bit_xor is
    // order-independent so the fingerprint is layout-invariant.
    "q268_shard_manifest" -> """
      WITH b AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens,
          CAST(('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))
            ::UBIGINT AS BIGINT) AS ord
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY ord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
        FROM b),
      s AS (
        SELECT c.doc_id, c.n_tokens,
          (cum_tokens - c.n_tokens) // 2048 AS shard,
          CAST(('0x' || substr(md5(d.text), 1, 15))::UBIGINT AS BIGINT)
            AS h
        FROM c JOIN documents d ON c.doc_id = d.doc_id)
      SELECT shard, CAST(GROUPING(shard) AS INT) AS is_total,
        count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        CAST(sum(doc_id) AS BIGINT) AS id_sum,
        bit_xor(h) AS content_fp
      FROM s GROUP BY ROLLUP (shard)
      ORDER BY is_total, shard""",

    // q269: streaming drift monitor — batch-equivalence oracle: the
    // q48 watermark-cutoff predicate picks the emitted hours, then the
    // JSD of each hour's type distribution vs the full-history
    // reference, densified over the reference type dim (absent types
    // contribute their q*ln2 mass; the hour's support is a subset of
    // the reference's by construction).
    "q269_stream_drift" -> """
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
          count(*) AS n
        FROM events
        GROUP BY 1, 2
        HAVING hour_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR),
      ref AS (
        SELECT event_type, count(*) AS rn FROM events GROUP BY 1),
      rt AS (SELECT CAST(sum(rn) AS BIGINT) AS rt FROM ref),
      dense AS (
        SELECT h.hour_start, r.event_type,
          coalesce(x.n, 0) AS n, r.rn
        FROM (SELECT DISTINCT hour_start FROM hourly) h
        CROSS JOIN ref r
        LEFT JOIN hourly x ON h.hour_start = x.hour_start
          AND r.event_type = x.event_type),
      wt AS (
        SELECT hour_start, CAST(sum(n) AS BIGINT) AS wt
        FROM dense GROUP BY 1),
      terms AS (
        SELECT d.hour_start, d.n,
          d.n::DOUBLE / w.wt AS p, d.rn::DOUBLE / rt.rt AS q
        FROM dense d JOIN wt w ON d.hour_start = w.hour_start
        CROSS JOIN rt)
      SELECT hour_start, CAST(sum(n) AS BIGINT) AS n_events,
        CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_types,
        round(sum(
          (CASE WHEN n > 0 THEN p * ln(p / ((p + q) / 2))
            ELSE 0 END) * 0.5
          + q * ln(q / ((p + q) / 2)) * 0.5), 6) AS jsd
      FROM terms GROUP BY hour_start ORDER BY hour_start""",

    // q270: content-defined chunking — per-gap window-hash
    // eligibility, the next-cut-from-s table as set logic, and the
    // greedy chain replayed by a recursive CTE stepping cut_k ->
    // nxt(cut_k); chunk fingerprints are 60-bit md5 prefixes.
    "q270_cdc_chunks" -> """
      WITH RECURSIVE d AS (
        SELECT doc_id,
          list_filter(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' '), x -> len(x) > 0) AS t
        FROM documents),
      n0 AS (
        SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
      ok AS (
        SELECT doc_id, i,
          ('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8))
            ::UBIGINT % 8 = 0 AS ok
        FROM n0, LATERAL (SELECT unnest(
          generate_series(1, n - 1)) AS i) g),
      nxt AS (
        SELECT n0.doc_id, g.s,
          coalesce((SELECT min(o.i) FROM ok o
              WHERE o.doc_id = n0.doc_id AND o.ok
                AND o.i >= g.s + 4
                AND o.i <= least(g.s + 16, n0.n - 1)),
            least(g.s + 16, n0.n)) AS nx
        FROM n0, LATERAL (SELECT unnest(
          generate_series(0, n0.n - 1)) AS s) g),
      cuts AS (
        SELECT doc_id, 0 AS cut, 0 AS k FROM n0
        UNION ALL
        SELECT c.doc_id, x.nx, c.k + 1
        FROM cuts c
        JOIN n0 ON n0.doc_id = c.doc_id
        JOIN nxt x ON x.doc_id = c.doc_id AND x.s = c.cut
        WHERE c.cut < n0.n),
      ch AS (
        SELECT c.doc_id, CAST(c.k - 1 AS INT) AS chunk_idx,
          CAST(p.cut + 1 AS INT) AS start_tok,
          CAST(c.cut AS INT) AS end_tok
        FROM cuts c JOIN cuts p
          ON p.doc_id = c.doc_id AND p.k = c.k - 1
        WHERE c.k >= 1)
      SELECT ch.doc_id, chunk_idx, start_tok, end_tok,
        CAST(end_tok - start_tok + 1 AS INT) AS n_toks,
        CAST(('0x' || substr(md5(array_to_string(
          n0.t[start_tok:end_tok], ' ')), 1, 15))::UBIGINT AS BIGINT)
          AS chunk_fp
      FROM ch JOIN n0 ON ch.doc_id = n0.doc_id
      ORDER BY ch.doc_id, chunk_idx""",

    // q271: chunk-store dedup accounting — the q270 chunk replay
    // grouped to (fp, n_toks) copy counts, then the copy-count
    // histogram with saved-token mass.
    "q271_chunk_dedup" -> """
      WITH RECURSIVE d AS (
        SELECT doc_id,
          list_filter(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' '), x -> len(x) > 0) AS t
        FROM documents),
      n0 AS (
        SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
      ok AS (
        SELECT doc_id, i,
          ('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8))
            ::UBIGINT % 8 = 0 AS ok
        FROM n0, LATERAL (SELECT unnest(
          generate_series(1, n - 1)) AS i) g),
      nxt AS (
        SELECT n0.doc_id, g.s,
          coalesce((SELECT min(o.i) FROM ok o
              WHERE o.doc_id = n0.doc_id AND o.ok
                AND o.i >= g.s + 4
                AND o.i <= least(g.s + 16, n0.n - 1)),
            least(g.s + 16, n0.n)) AS nx
        FROM n0, LATERAL (SELECT unnest(
          generate_series(0, n0.n - 1)) AS s) g),
      cuts AS (
        SELECT doc_id, 0 AS cut, 0 AS k FROM n0
        UNION ALL
        SELECT c.doc_id, x.nx, c.k + 1
        FROM cuts c
        JOIN n0 ON n0.doc_id = c.doc_id
        JOIN nxt x ON x.doc_id = c.doc_id AND x.s = c.cut
        WHERE c.cut < n0.n),
      ch AS (
        SELECT c.doc_id, p.cut + 1 AS start_tok, c.cut AS end_tok
        FROM cuts c JOIN cuts p
          ON p.doc_id = c.doc_id AND p.k = c.k - 1
        WHERE c.k >= 1),
      fp AS (
        SELECT CAST(end_tok - start_tok + 1 AS INT) AS n_toks,
          CAST(('0x' || substr(md5(array_to_string(
            n0.t[start_tok:end_tok], ' ')), 1, 15))::UBIGINT AS BIGINT)
            AS chunk_fp
        FROM ch JOIN n0 ON ch.doc_id = n0.doc_id),
      g AS (
        SELECT chunk_fp, n_toks, count(*) AS n_copies
        FROM fp GROUP BY 1, 2)
      SELECT n_copies, count(*) AS n_groups,
        CAST(sum(n_toks * n_copies) AS BIGINT) AS tokens_total,
        CAST(sum(n_toks) AS BIGINT) AS tokens_distinct,
        CAST(sum(n_toks * n_copies) - sum(n_toks) AS BIGINT)
          AS tokens_saved
      FROM g GROUP BY n_copies ORDER BY n_copies""",

    // q272: streaming per-hour distinct-user HLL — the q255 integer
    // estimator replayed per finalized hour (q48 cutoff), joined to
    // exact distincts for the self-reported error.
    "q272_stream_hll" -> """
      WITH hrs AS (
        SELECT date_trunc('hour', ts) AS hour_start, user_id
        FROM events),
      fin_h AS (
        SELECT DISTINCT hour_start FROM hrs
        WHERE hour_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR),
      h AS (
        SELECT hrs.hour_start, user_id,
          CAST(CAST(('0x' || substr(md5('hll:'
            || CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT)
            AS BIGINT) AS hv
        FROM hrs JOIN fin_h ON hrs.hour_start = fin_h.hour_start),
      r AS (SELECT hour_start, hv % 256 AS reg, hv // 256 AS w FROM h),
      rk AS (
        SELECT hour_start, reg,
          53 - (CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS rank
        FROM r),
      regs AS (
        SELECT hour_start, reg, max(rank) AS m FROM rk GROUP BY 1, 2),
      mx AS (SELECT hour_start, max(m) AS maxm FROM regs GROUP BY 1),
      fin AS (
        SELECT r.hour_start, mx.maxm, count(*) AS present,
          CAST(sum(1::BIGINT << CAST(mx.maxm - r.m AS INT)) AS BIGINT)
            AS sp
        FROM regs r JOIN mx ON r.hour_start = mx.hour_start
        GROUP BY 1, 2),
      est AS (
        SELECT hour_start,
          CAST(256 - present AS BIGINT) AS zero_registers,
          CAST(47074 * (1::BIGINT << CAST(maxm AS INT))
            // (sp + (256 - present) * (1::BIGINT << CAST(maxm AS INT)))
            AS BIGINT) AS hll_est
        FROM fin),
      ex AS (
        SELECT hrs.hour_start,
          count(DISTINCT user_id) AS exact_distinct
        FROM hrs JOIN fin_h ON hrs.hour_start = fin_h.hour_start
        GROUP BY 1)
      SELECT e.hour_start, ex.exact_distinct, e.hll_est,
        e.zero_registers,
        CAST(abs(e.hll_est - ex.exact_distinct) * 10000
          // ex.exact_distinct AS BIGINT) AS err_bp
      FROM est e JOIN ex ON e.hour_start = ex.hour_start
      ORDER BY e.hour_start""",

    // q273: Markov transition matrix — lag over (user, micros-epoch,
    // event_id) order (the engine's timestamp read convention), pair
    // counts, per-source fixed-point probabilities.
    "q273_event_transitions" -> """
      WITH e AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tsu,
          event_id
        FROM events),
      tr AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY tsu, event_id) AS prev
        FROM e),
      cnt AS (
        SELECT prev AS from_type, event_type AS to_type,
          count(*) AS n
        FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, sum(n) AS tot FROM cnt GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n,
        CAST(c.n * 1000000 // t.tot AS BIGINT) AS prob_fp
      FROM cnt c JOIN tot t ON c.from_type = t.from_type
      ORDER BY c.from_type, c.to_type""",

    // q274: ordered funnel — per-user earliest view, first click
    // strictly after it, first purchase strictly after that; step
    // totals with id-sum pins and fixed-point conversions.
    "q274_funnel" -> """
      WITH e AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tsu
        FROM events),
      v AS (SELECT user_id, min(tsu) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.tsu) AS t2 FROM e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.tsu > v.t1 GROUP BY 1),
      p AS (SELECT e.user_id, min(e.tsu) AS t3 FROM e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.tsu > c.t2 GROUP BY 1),
      a AS (SELECT count(*) AS n1, CAST(sum(user_id) AS BIGINT) AS s1
        FROM v),
      b AS (SELECT count(*) AS n2, CAST(sum(user_id) AS BIGINT) AS s2
        FROM c),
      d AS (SELECT count(*) AS n3, CAST(sum(user_id) AS BIGINT) AS s3
        FROM p)
      SELECT * FROM (
        SELECT '1_view' AS step, n1 AS n_users, s1 AS id_sum,
          CAST(1000000 AS BIGINT) AS conv_from_prev_fp FROM a
        UNION ALL
        SELECT '2_click', n2, s2,
          CASE WHEN n1 = 0 THEN NULL
            ELSE CAST(n2 * 1000000 // n1 AS BIGINT) END
        FROM a, b
        UNION ALL
        SELECT '3_purchase', n3, s3,
          CASE WHEN n2 = 0 THEN NULL
            ELSE CAST(n3 * 1000000 // n2 AS BIGINT) END
        FROM b, d)
      ORDER BY step""",

    // q275: PMI collocations — exact-rational rates inside one ln,
    // rounded at 6 dp before the (pmi desc, pair) ranking; min
    // support 5, top-50.
    "q275_pmi_collocations" -> """
      WITH d AS (
        SELECT list_filter(string_split(regexp_replace(
          lower(trim(text)), '\s+', ' ', 'g'), ' '),
          x -> len(x) > 0) AS t
        FROM documents),
      u AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(t) AS w FROM d) GROUP BY w),
      ntok AS (SELECT CAST(sum(c) AS BIGINT) AS ntok FROM u),
      bg AS (
        SELECT unnest(t[1:len(t) - 1]) AS w1,
          unnest(t[2:len(t)]) AS w2
        FROM d WHERE len(t) >= 2),
      nbg AS (SELECT count(*) AS nbg FROM bg),
      big AS (
        SELECT w1, w2, count(*) AS c12 FROM bg
        GROUP BY 1, 2 HAVING count(*) >= 5),
      sc AS (
        SELECT big.w1, big.w2, big.c12,
          round(ln((c12::DOUBLE / nbg.nbg::DOUBLE)
            / ((u1.c::DOUBLE / ntok.ntok::DOUBLE)
              * (u2.c::DOUBLE / ntok.ntok::DOUBLE))), 6) AS pmi,
          big.w1 || ' ' || big.w2 AS pair
        FROM big JOIN u u1 ON big.w1 = u1.w
        JOIN u u2 ON big.w2 = u2.w
        CROSS JOIN ntok CROSS JOIN nbg)
      SELECT w1, w2, c12, pmi,
        CAST(row_number() OVER (ORDER BY pmi DESC, pair) AS INT) AS rnk
      FROM sc QUALIFY rnk <= 50 ORDER BY rnk""",

    // q276: LSH S-curve audit — the exact all-pairs jaccard at the 0.3
    // floor, then per-config sums of floor(p_collide * 1e6); the
    // power chains are GENERATED from LshPlanner.pCollidePpm, so the
    // Spark plan and this oracle parse the identical expression tree.
    "q276_lsh_audit" -> lshAuditOracle,

    // q277: chunk-store incremental update cost — base + edited docs
    // (negated ids) through ONE q270 CDC chain and one fixed-window
    // chain, edited chunks probed against each base fingerprint store.
    "q277_chunk_update_cost" -> """
      WITH RECURSIVE src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -doc_id - 1 AS doc_id, 'EDIT ' || text AS text
        FROM documents WHERE doc_id % 50 = 0),
      d AS (
        SELECT doc_id,
          list_filter(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' '), x -> len(x) > 0) AS t
        FROM src),
      n0 AS (
        SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
      ok AS (
        SELECT doc_id, i,
          ('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8))
            ::UBIGINT % 8 = 0 AS ok
        FROM n0, LATERAL (SELECT unnest(
          generate_series(1, n - 1)) AS i) g),
      nxt AS (
        SELECT n0.doc_id, g.s,
          coalesce((SELECT min(o.i) FROM ok o
              WHERE o.doc_id = n0.doc_id AND o.ok
                AND o.i >= g.s + 4
                AND o.i <= least(g.s + 16, n0.n - 1)),
            least(g.s + 16, n0.n)) AS nx
        FROM n0, LATERAL (SELECT unnest(
          generate_series(0, n0.n - 1)) AS s) g),
      cuts AS (
        SELECT doc_id, 0 AS cut, 0 AS k FROM n0
        UNION ALL
        SELECT c.doc_id, x.nx, c.k + 1
        FROM cuts c
        JOIN n0 ON n0.doc_id = c.doc_id
        JOIN nxt x ON x.doc_id = c.doc_id AND x.s = c.cut
        WHERE c.cut < n0.n),
      ch AS (
        SELECT c.doc_id, p.cut + 1 AS start_tok, c.cut AS end_tok
        FROM cuts c JOIN cuts p
          ON p.doc_id = c.doc_id AND p.k = c.k - 1
        WHERE c.k >= 1),
      cdcfp AS (
        SELECT ch.doc_id,
          CAST(('0x' || substr(md5(array_to_string(
            n0.t[start_tok:end_tok], ' ')), 1, 15))::UBIGINT AS BIGINT)
            AS fp
        FROM ch JOIN n0 ON ch.doc_id = n0.doc_id),
      f0 AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t2
        FROM src),
      fwin AS (
        SELECT doc_id, t2, len(t2) AS n2,
          1 + greatest(0, (len(t2) - 8 + 7) // 8) AS nch
        FROM f0),
      fixfp AS (
        SELECT doc_id,
          CAST(('0x' || substr(md5(array_to_string(
            t2[s * 8 + 1:least(s * 8 + 8, n2)], ' ')), 1, 15))
            ::UBIGINT AS BIGINT) AS fp
        FROM fwin, LATERAL (SELECT unnest(
          generate_series(0, nch - 1)) AS s) g)
      SELECT * FROM (
        SELECT 'cdc' AS chunker, count(*) AS n_chunks,
          CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_reused,
          CAST(sum(CASE WHEN b.fp IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new
        FROM (SELECT fp FROM cdcfp WHERE doc_id < 0) e
        LEFT JOIN (SELECT DISTINCT fp FROM cdcfp WHERE doc_id >= 0) b
          ON e.fp = b.fp
        UNION ALL
        SELECT 'fixed', count(*),
          CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          CAST(sum(CASE WHEN b.fp IS NULL THEN 1 ELSE 0 END)
            AS BIGINT)
        FROM (SELECT fp FROM fixfp WHERE doc_id < 0) e
        LEFT JOIN (SELECT DISTINCT fp FROM fixfp WHERE doc_id >= 0) b
          ON e.fp = b.fp)
      ORDER BY chunker""",

    // q135: add-k bigram LM trained on the corpus, per-doc perplexity.
    "q135_perplexity" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t FROM documents),
      bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(t) - 1))
          AS i) g),
      big AS (
        SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
      uni AS (
        SELECT w1, sum(c12)::BIGINT AS c1 FROM big GROUP BY w1),
      vocab AS (
        SELECT count(DISTINCT tok)::BIGINT AS v
        FROM (SELECT unnest(t) AS tok FROM d) WHERE len(tok) > 0),
      docbg AS (
        SELECT doc_id, w1, w2, count(*)::BIGINT AS m
        FROM bg GROUP BY doc_id, w1, w2),
      nll AS (
        SELECT b.doc_id, sum(b.m) AS n_bigrams,
          -sum(b.m * ln((coalesce(g.c12, 0) + 0.1)
            / (coalesce(u.c1, 0) + 0.1 * vocab.v))) / sum(b.m) AS anll
        FROM docbg b LEFT JOIN big g ON b.w1 = g.w1 AND b.w2 = g.w2
          LEFT JOIN uni u ON b.w1 = u.w1 CROSS JOIN vocab
        GROUP BY b.doc_id)
      SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        round(anll, 6) AS avg_nll, round(exp(anll), 6) AS perplexity
      FROM nll ORDER BY doc_id""",

    // q136: stream-stream interval join (click → purchase within 1 h,
    // same user). Inner-join emission is not withheld by the watermark
    // and the single-file source is one microbatch, so the streaming
    // result equals this batch join; epoch_us truncates ns → µs exactly
    // like the Spark-side read convention.
    "q136_stream_join" -> """
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        c.user_id,
        (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
      FROM events c JOIN events p
        ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND epoch_us(p.ts) >= epoch_us(c.ts)
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      ORDER BY click_id, purchase_id""",

    // q137: longest common substring per adjacent-doc pair, replicated
    // by enumerating every substring of s1 and taking its FIRST
    // occurrence in s2 (any occurrence of a globally-longest substring
    // is a maximal run, so first occurrence = the T-SQL's min
    // secondorder tie-break); selection (len DESC, start1, pos2)
    // matches the T-SQL's ORDER BY exactly.
    "q137_lcs" -> """
      WITH pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
          substr(a.text, 1, 48) AS s1, substr(b.text, 1, 48) AS s2
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 10 = 0),
      cand AS (
        SELECT id1, l, st, strpos(s2, substr(s1, st, l)) AS pos2,
          substr(s1, st, l) AS sub
        FROM pairs,
          LATERAL (SELECT unnest(generate_series(1, len(s1))) AS st) g1,
          LATERAL (SELECT unnest(generate_series(1, len(s1) - st + 1))
            AS l) g2
        WHERE strpos(s2, substr(s1, st, l)) > 0),
      best AS (
        SELECT id1, l, st, pos2, sub,
          row_number() OVER (PARTITION BY id1
            ORDER BY l DESC, st ASC, pos2 ASC) AS rn
        FROM cand)
      SELECT p.id1, p.id2,
        CAST(coalesce(b.l, 0) AS INT) AS match_length,
        CAST(coalesce(b.st, 0) AS INT) AS first_pos,
        CAST(coalesce(b.pos2, 0) AS INT) AS second_pos,
        coalesce(b.sub, '') AS common
      FROM pairs p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        ON p.id1 = b.id1
      ORDER BY p.id1""",

    // q138: embedding pipeline chain — q104's semdedup prune feeding
    // q129's quantized ANN over the surviving corpus; every stage is
    // deterministic so the composed result hashes exactly (unrounded
    // qcosine, like q129).
    "q138_embed_pipeline" -> """
      WITH cen AS (
        SELECT j AS cell,
          list(CAST(((j*29 + d*11) % 15) - 7 AS DOUBLE) ORDER BY d) AS cv
        FROM generate_series(0, 7) t(j), generate_series(0, 63) s(d)
        GROUP BY j),
      assigned AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM embeddings e CROSS JOIN cen c) WHERE rn = 1),
      pruned AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b ON a.cell = b.cell
          AND b.vec_id < a.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
          b.embedding::DOUBLE[]) >= 0.30),
      surv AS (
        SELECT e.vec_id, e.embedding FROM embeddings e
        LEFT JOIN pruned p ON e.vec_id = p.vec_id
        WHERE p.vec_id IS NULL),
      qzc AS (
        SELECT vec_id,
          CASE WHEN list_max(list_transform(embedding,
              x -> abs(x)))::DOUBLE / 127.0 = 0
            THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding, x -> round(x::DOUBLE
              / (list_max(list_transform(embedding,
                  x2 -> abs(x2)))::DOUBLE / 127.0), 0)) END AS q
        FROM surv),
      qzq AS (
        SELECT vec_id,
          CASE WHEN list_max(list_transform(embedding,
              x -> abs(x)))::DOUBLE / 127.0 = 0
            THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding, x -> round(x::DOUBLE
              / (list_max(list_transform(embedding,
                  x2 -> abs(x2)))::DOUBLE / 127.0), 0)) END AS q
        FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          CASE WHEN list_inner_product(a.q, a.q) = 0
              OR list_inner_product(b.q, b.q) = 0 THEN 0.0
            ELSE list_inner_product(a.q, b.q)
              / (sqrt(list_inner_product(a.q, a.q))
                * sqrt(list_inner_product(b.q, b.q))) END AS qcosine
        FROM qzq a CROSS JOIN qzc b),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY qcosine DESC, neighbor_id) AS rk
        FROM scored)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id, qcosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q139: combined mcaid+mcare claim_line — crosswalked drift union,
    // old→new xwalk id migration (3-branch null-guarded join, min pick),
    // then the asymmetric two-source partial refresh (mcaid day cutoff,
    // mcare year cutoff) replacing window rows with corrected rebuilds.
    "q139_mcaid_mcare_line" -> """
      WITH li AS (
        SELECT o_custkey % 90 AS k, l_orderkey AS ok, l_linenumber,
          l_partkey, l_suppkey, l_quantity,
          CAST(l_shipdate AS DATE) AS fsd,
          CAST(l_shipdate AS DATE) + CAST(l_linenumber % 5 AS INT) AS lsd
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ks AS (SELECT DISTINCT c_custkey % 90 AS k FROM customer),
      xw_old AS (
        SELECT 1000 + k AS id_apde,
          CASE WHEN k % 3 <> 2 THEN k END AS id_mcaid,
          CASE WHEN k % 3 <> 0 THEN 'C' || CAST(k AS VARCHAR) END AS id_mcare
        FROM ks),
      xw_new AS (
        SELECT 2000 + k AS id_apde,
          CASE WHEN k % 3 <> 2 THEN k END AS id_mcaid,
          CASE WHEN k % 3 <> 0 THEN 'C' || CAST(k AS VARCHAR) END AS id_mcare
        FROM ks WHERE k % 11 <> 7),
      existing AS (
        SELECT DISTINCT * FROM (
          SELECT x.id_apde, 'mcaid' AS source_desc,
            CAST(ok AS VARCHAR) AS claim_header_id,
            CAST(l_linenumber AS VARCHAR) AS claim_line_id,
            fsd AS first_service_date, lsd AS last_service_date,
            lpad(CAST(l_partkey % 750 AS VARCHAR), 4, '0') AS revenue_code,
            CAST(NULL AS VARCHAR) AS place_of_service_code,
            CAST(NULL AS VARCHAR) AS type_of_service,
            CAST(l_suppkey % 100 AS INT) AS rac_code_line,
            CAST(NULL AS VARCHAR) AS filetype_mcare
          FROM li b LEFT JOIN (SELECT id_mcaid, id_apde FROM xw_old
            WHERE id_mcaid IS NOT NULL) x ON b.k = x.id_mcaid
          WHERE ok % 2 = 0
          UNION ALL
          SELECT x.id_apde, 'mcare', 'X' || CAST(ok AS VARCHAR),
            CAST(l_linenumber AS VARCHAR), fsd, lsd,
            lpad(CAST(l_partkey % 750 AS VARCHAR), 4, '0'),
            lpad(CAST(l_suppkey % 32 AS VARCHAR), 2, '0'),
            CAST(l_linenumber % 9 AS VARCHAR), CAST(NULL AS INT),
            CASE WHEN l_quantity < 25 THEN 'carrier' ELSE 'outpatient' END
          FROM li b LEFT JOIN (SELECT id_mcare, id_apde FROM xw_old
            WHERE id_mcare IS NOT NULL) x
            ON 'C' || CAST(b.k AS VARCHAR) = x.id_mcare
          WHERE ok % 2 = 1)),
      mig AS (
        SELECT x.id_apde, min(y.id_apde) AS id_apde_new
        FROM xw_old x LEFT JOIN xw_new y
          ON (x.id_mcaid = y.id_mcaid AND x.id_mcare IS NULL
              AND y.id_mcare IS NULL)
          OR (x.id_mcare = y.id_mcare AND x.id_mcaid IS NULL
              AND y.id_mcaid IS NULL)
          OR (x.id_mcaid = y.id_mcaid AND x.id_mcare = y.id_mcare)
        GROUP BY x.id_apde),
      migrated AS (
        SELECT g.id_apde_new AS id_apde, e.source_desc, e.claim_header_id,
          e.claim_line_id, e.first_service_date, e.last_service_date,
          e.revenue_code, e.place_of_service_code, e.type_of_service,
          e.rac_code_line, e.filetype_mcare
        FROM existing e LEFT JOIN mig g ON e.id_apde = g.id_apde),
      rebuilt AS (
        SELECT DISTINCT * FROM (
          SELECT x.id_apde, 'mcaid' AS source_desc,
            CAST(ok AS VARCHAR) AS claim_header_id,
            CAST(l_linenumber AS VARCHAR) AS claim_line_id,
            fsd AS first_service_date, lsd AS last_service_date,
            lpad(CAST((l_partkey + 13) % 750 AS VARCHAR), 4, '0')
              AS revenue_code,
            CAST(NULL AS VARCHAR) AS place_of_service_code,
            CAST(NULL AS VARCHAR) AS type_of_service,
            CAST(l_suppkey % 100 AS INT) AS rac_code_line,
            CAST(NULL AS VARCHAR) AS filetype_mcare
          FROM li b LEFT JOIN (SELECT id_mcaid, id_apde FROM xw_new
            WHERE id_mcaid IS NOT NULL) x ON b.k = x.id_mcaid
          WHERE ok % 2 = 0
          UNION ALL
          SELECT x.id_apde, 'mcare', 'X' || CAST(ok AS VARCHAR),
            CAST(l_linenumber AS VARCHAR), fsd, lsd,
            lpad(CAST(l_partkey % 750 AS VARCHAR), 4, '0'),
            lpad(CAST(l_suppkey % 32 AS VARCHAR), 2, '0'),
            CAST((l_linenumber + 1) % 9 AS VARCHAR), CAST(NULL AS INT),
            CASE WHEN l_quantity < 25 THEN 'carrier' ELSE 'outpatient' END
          FROM li b LEFT JOIN (SELECT id_mcare, id_apde FROM xw_new
            WHERE id_mcare IS NOT NULL) x
            ON 'C' || CAST(b.k AS VARCHAR) = x.id_mcare
          WHERE ok % 2 = 1))
      SELECT * FROM migrated
      WHERE NOT ((source_desc = 'mcaid'
          AND first_service_date >= DATE '1997-06-01')
        OR (source_desc = 'mcare' AND year(first_service_date) >= 1997))
      UNION ALL
      SELECT * FROM rebuilt
      WHERE (source_desc = 'mcaid'
          AND first_service_date >= DATE '1997-06-01')
        OR (source_desc = 'mcare' AND year(first_service_date) >= 1997)
      ORDER BY source_desc, claim_header_id, claim_line_id""",

    // q140: combined mcaid+mcare claim_icdcm_header — drift union at
    // diagnosis grain (mcare contributes filetype_mcare; icdcm_number
    // cast to shared varchar).
    "q140_mcaid_mcare_icdcm" -> """
      WITH li AS (
        SELECT o_custkey % 90 AS k, l_orderkey AS ok, l_linenumber,
          l_partkey, l_quantity,
          CAST(l_shipdate AS DATE) AS fsd,
          CAST(l_shipdate AS DATE) + CAST(l_linenumber % 5 AS INT) AS lsd
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ks AS (SELECT DISTINCT c_custkey % 90 AS k FROM customer),
      xw AS (
        SELECT 1000 + k AS id_apde,
          CASE WHEN k % 3 <> 2 THEN k END AS id_mcaid,
          CASE WHEN k % 3 <> 0 THEN 'C' || CAST(k AS VARCHAR) END AS id_mcare
        FROM ks),
      base AS (
        SELECT *, CAST(l_partkey % 900 AS VARCHAR) AS raw,
          CASE WHEN l_partkey % 7 = 0
            THEN lpad(CAST(l_partkey % 900 AS VARCHAR), 5, '0')
            ELSE lpad(CAST(l_partkey % 900 AS VARCHAR), 7, '0') END AS norm,
          CASE WHEN l_partkey % 7 = 0 THEN 9 ELSE 10 END AS ver
        FROM li)
      SELECT DISTINCT * FROM (
        SELECT x.id_apde, 'mcaid' AS source_desc,
          CAST(ok AS VARCHAR) AS claim_header_id,
          fsd AS first_service_date, lsd AS last_service_date,
          raw AS icdcm_raw, norm AS icdcm_norm, ver AS icdcm_version,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS icdcm_number,
          CAST(NULL AS VARCHAR) AS filetype_mcare
        FROM base b LEFT JOIN (SELECT id_mcaid, id_apde FROM xw
          WHERE id_mcaid IS NOT NULL) x ON b.k = x.id_mcaid
        WHERE ok % 2 = 0
        UNION ALL
        SELECT x.id_apde, 'mcare', 'X' || CAST(ok AS VARCHAR), fsd, lsd,
          raw, norm, ver, lpad(CAST(l_linenumber AS VARCHAR), 2, '0'),
          CASE WHEN l_quantity < 25 THEN 'carrier' ELSE 'outpatient' END
        FROM base b LEFT JOIN (SELECT id_mcare, id_apde FROM xw
          WHERE id_mcare IS NOT NULL) x
          ON 'C' || CAST(b.k AS VARCHAR) = x.id_mcare
        WHERE ok % 2 = 1)
      ORDER BY source_desc, claim_header_id, icdcm_number""",

    // q141: combined mcaid+mcare claim_procedure — drift union at
    // procedure grain (modifiers on both sides, filetype_mcare on mcare).
    "q141_mcaid_mcare_procedure" -> """
      WITH li AS (
        SELECT o_custkey % 90 AS k, l_orderkey AS ok, l_linenumber,
          l_partkey, l_suppkey, l_quantity,
          CAST(l_shipdate AS DATE) AS fsd,
          CAST(l_shipdate AS DATE) + CAST(l_linenumber % 5 AS INT) AS lsd
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ks AS (SELECT DISTINCT c_custkey % 90 AS k FROM customer),
      xw AS (
        SELECT 1000 + k AS id_apde,
          CASE WHEN k % 3 <> 2 THEN k END AS id_mcaid,
          CASE WHEN k % 3 <> 0 THEN 'C' || CAST(k AS VARCHAR) END AS id_mcare
        FROM ks),
      base AS (
        SELECT *, lpad(CAST(l_partkey % 9999 AS VARCHAR), 5, '0') AS pcode,
          CASE WHEN l_quantity > 30 THEN 'GT' END AS mod1
        FROM li)
      SELECT DISTINCT * FROM (
        SELECT x.id_apde, 'mcaid' AS source_desc,
          CAST(ok AS VARCHAR) AS claim_header_id,
          fsd AS first_service_date, lsd AS last_service_date,
          pcode AS procedure_code,
          CAST(l_linenumber AS VARCHAR) AS procedure_code_number,
          mod1 AS modifier_1,
          CASE WHEN l_suppkey % 13 = 0 THEN '59' END AS modifier_2,
          CAST(NULL AS VARCHAR) AS filetype_mcare
        FROM base b LEFT JOIN (SELECT id_mcaid, id_apde FROM xw
          WHERE id_mcaid IS NOT NULL) x ON b.k = x.id_mcaid
        WHERE ok % 2 = 0
        UNION ALL
        SELECT x.id_apde, 'mcare', 'X' || CAST(ok AS VARCHAR), fsd, lsd,
          pcode, lpad(CAST(l_linenumber AS VARCHAR), 2, '0'), mod1,
          CAST(NULL AS VARCHAR),
          CASE WHEN l_quantity < 25 THEN 'carrier' ELSE 'outpatient' END
        FROM base b LEFT JOIN (SELECT id_mcare, id_apde FROM xw
          WHERE id_mcare IS NOT NULL) x
          ON 'C' || CAST(b.k AS VARCHAR) = x.id_mcare
        WHERE ok % 2 = 1)
      ORDER BY source_desc, claim_header_id, procedure_code_number,
        procedure_code""",

    // q142: APCD claim header — denied/orphan exclusion, status + kc
    // claim-type crosswalk, sentinel nulling, T-SQL NULL-propagating type
    // concat, line/proc/dx rollups, Oregon PC visit via provider-taxonomy
    // chain, RDA/Yale ED flags, inpatient, BH flags, per-person concept
    // seqs, 1-day Yale episode clustering.
    "q142_apcd_claim_header" -> apcdHeaderOracle,

    // q143: APCD injury classification — CDC nature inclusion over the
    // code vocabulary (literal-'%' BETWEEN bounds binary-compared,
    // 7th-char qualifier checks), prefix-join cause intent/mechanism,
    // rank-1 header collapse, CCS type normalization.
    "q143_apcd_injury" -> """
      WITH dxi AS (
        SELECT l_orderkey AS chid,
          CASE WHEN l_partkey % 4 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 4 = 0 THEN
            CASE WHEN l_partkey % 5 = 0
              THEN '80' || lpad(CAST(l_partkey % 99 AS VARCHAR), 2, '0')
              WHEN l_partkey % 5 = 1 THEN '9093'
              WHEN l_partkey % 5 = 2
              THEN '9955' || CAST(l_partkey % 10 AS VARCHAR)
              WHEN l_partkey % 5 = 3
              THEN '9958' || CAST(l_partkey % 8 AS VARCHAR)
              ELSE 'E95' || CAST(l_partkey % 10 AS VARCHAR) END
          ELSE
            (CASE WHEN l_partkey % 8 = 0 THEN 'S02100'
              WHEN l_partkey % 8 = 1 THEN 'T24999'
              WHEN l_partkey % 8 = 2 THEN 'T39913'
              WHEN l_partkey % 8 = 3 THEN 'T39995'
              WHEN l_partkey % 8 = 4 THEN 'T51230'
              WHEN l_partkey % 8 = 5 THEN 'T79010'
              WHEN l_partkey % 8 = 6 THEN 'M97500'
              ELSE 'O9A300' END) ||
            (CASE WHEN l_partkey % 5 = 0 THEN 'A'
              WHEN l_partkey % 5 = 1 THEN 'B'
              WHEN l_partkey % 5 = 2 THEN 'C'
              WHEN l_partkey % 5 = 3 THEN 'D' ELSE '' END)
          END AS norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS dxnum
        FROM lineitem),
      vocab AS (SELECT DISTINCT norm, ver FROM dxi),
      naturevocab AS (
        SELECT norm, ver FROM vocab
        WHERE (ver = 9
            AND ((norm BETWEEN '800%' AND '9949%') OR norm LIKE '9955%'
              OR (norm BETWEEN '99580%' AND '99585%'))
            AND norm NOT LIKE '9093%' AND norm NOT LIKE '9095%')
          OR (ver = 10 AND (
            (norm LIKE 'S%'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm BETWEEN 'T07%' AND 'T3499XS'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm BETWEEN 'T36%' AND 'T50996S'
              AND substr(norm,6,1) IN ('1','2','3','4')
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (regexp_matches(norm, '^T3[679]9')
              AND substr(norm,5,1) IN ('1','2','3','4')
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm LIKE 'T414%'
              AND substr(norm,5,1) IN ('1','2','3','4')
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm LIKE 'T427%'
              AND substr(norm,5,1) IN ('1','2','3','4')
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (regexp_matches(norm, '^T4[3579]9')
              AND substr(norm,5,1) IN ('1','2','3','4')
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm BETWEEN 'T51%' AND 'T6594XS'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm BETWEEN 'T66%' AND 'T7692XS'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm LIKE 'T79%'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm BETWEEN 'O9A2%' AND 'O9A53'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm LIKE 'T8404%'
              AND substr(norm,7,1) IN ('A','B','C','')) OR
            (norm LIKE 'M97%'
              AND substr(norm,7,1) IN ('A','B','C',''))))),
      nature AS (
        SELECT DISTINCT d.chid, d.norm, d.ver, d.dxnum,
          CASE WHEN d.dxnum = '01' THEN 1 ELSE 0 END AS injury_narrow,
          1 AS injury_broad
        FROM dxi d JOIN naturevocab v ON d.norm = v.norm AND d.ver = v.ver),
      causeref(icdcm, icdcm_version, intent, mechanism) AS (
        VALUES ('T3991', 10, 'unintentional', 'poisoning'),
          ('S0210', 10, 'assault', 'struck'),
          ('9955', 9, 'assault', 'other'),
          ('T79', 10, 'unintentional', 'other')),
      causevocab AS (
        SELECT DISTINCT v.norm, v.ver, c.intent, c.mechanism
        FROM vocab v JOIN causeref c
          ON v.norm LIKE c.icdcm || '%' AND v.ver = c.icdcm_version),
      cause AS (
        SELECT DISTINCT n.chid, n.norm, n.ver, n.dxnum,
          c.intent, c.mechanism, 1 AS ecode_flag
        FROM nature n JOIN causevocab c
          ON n.norm = c.norm AND n.ver = c.ver),
      natureranks AS (
        SELECT *, row_number() OVER (PARTITION BY chid, injury_broad
          ORDER BY dxnum, norm, ver) AS injury_nature_rank
        FROM nature),
      causeranks AS (
        SELECT *, row_number() OVER (PARTITION BY chid, ecode_flag
          ORDER BY dxnum, norm, ver) AS ecode_rank
        FROM cause),
      headernature AS (
        SELECT chid, max(injury_narrow) AS injury_narrow,
          max(injury_broad) AS injury_broad
        FROM natureranks GROUP BY chid),
      ecode1 AS (
        SELECT chid, norm AS ecode, intent, mechanism
        FROM causeranks WHERE ecode_rank = 1),
      nature1 AS (
        SELECT chid, norm AS icdcm_injury_nature,
          ver AS icdcm_injury_nature_version
        FROM natureranks WHERE injury_nature_rank = 1),
      ccsref AS (
        SELECT norm AS icdcm, ver AS icdcm_version,
          CASE WHEN norm LIKE 'S02%' THEN 'Fracture; initial encounter'
            WHEN norm LIKE 'T51%' THEN 'Burns'
            WHEN norm LIKE 'T39%' THEN 'Crushing injury'
            WHEN norm LIKE 'M97%' THEN 'Other specified injury'
            WHEN norm LIKE 'T79%' THEN 'Spinal cord injury (SCI)'
            WHEN norm LIKE 'T24%'
            THEN 'Superficial injury, initial encounter'
            ELSE 'Unclassified' END AS ccs_detail_desc
        FROM vocab),
      typed AS (
        SELECT n.icdcm_injury_nature, n.icdcm_injury_nature_version,
          CASE
            WHEN stripped IN ('Other specified injury',
              'Other unspecified injury') THEN 'Other injuries'
            WHEN stripped = 'Spinal cord injury (SCI)'
            THEN 'Spinal cord injury'
            WHEN stripped IN ('Effect of other external causes',
              'External cause codes: other specified, classifiable and NEC',
              'External cause codes: unspecified mechanism',
              'Other injuries and conditions due to external causes')
            THEN 'Other injuries and conditions due to external causes'
            WHEN stripped IN ('Crushing injury',
              'Crushing injury or internal injury')
            THEN 'Crushing injury or internal injury'
            WHEN stripped IN ('Burns', 'Burn and corrosion')
            THEN 'Burn and corrosion'
            ELSE stripped END AS icdcm_injury_nature_type
        FROM (
          SELECT DISTINCT v.icdcm_injury_nature,
            v.icdcm_injury_nature_version,
            replace(replace(c.ccs_detail_desc, '; initial encounter', ''),
              ', initial encounter', '') AS stripped
          FROM (SELECT DISTINCT icdcm_injury_nature,
              icdcm_injury_nature_version FROM nature1) v
          LEFT JOIN ccsref c ON v.icdcm_injury_nature = c.icdcm
            AND v.icdcm_injury_nature_version = c.icdcm_version) n)
      SELECT h.chid AS claim_header_id, e.ecode, h.injury_narrow,
        h.injury_broad, e.intent, e.mechanism,
        n.icdcm_injury_nature, n.icdcm_injury_nature_version,
        t.icdcm_injury_nature_type
      FROM headernature h
      LEFT JOIN ecode1 e ON h.chid = e.chid
      LEFT JOIN nature1 n ON h.chid = n.chid
      LEFT JOIN typed t ON n.icdcm_injury_nature = t.icdcm_injury_nature
        AND n.icdcm_injury_nature_version = t.icdcm_injury_nature_version
      ORDER BY claim_header_id""",

    // q144: naloxone events — NDC contains-expansion over the distinct
    // pharmacy vocabulary, pharmacy + procedure branches with form/dosage
    // dispatch, J3490 modifier gate, union distinct.
    "q144_naloxone" -> s"""
      WITH $NaloxoneRowsCtes
      SELECT * FROM nal
      ORDER BY id_mcaid, claim_header_id, code, location, event_date""",

    // q226: mcare naloxone — the q144 chain over the same fixture with
    // the mcare procedure list (J2312 dropped from the filter and the
    // quantity/form dispatch; its planted rows fall out of the result).
    "q226_mcare_naloxone" -> """
      WITH li AS (
        SELECT o_custkey % 70 AS id_mcare, l_orderkey AS chid,
          l_partkey AS pk, l_suppkey AS sk,
          CAST(l_shipdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      pharm AS (
        SELECT id_mcare, chid,
          CASE WHEN pk % 13 = 0 THEN '00093216519'
            WHEN pk % 13 = 1 THEN '55150034510'
            WHEN pk % 13 = 2 THEN '55150032710'
            WHEN pk % 13 = 3 THEN '00409121525'
            WHEN pk % 13 = 4 THEN '012345678901'
            WHEN pk % 13 = 5 THEN '12345678901'
            ELSE lpad(CAST(pk AS VARCHAR), 11, '0') END AS ndc,
          d AS rx_fill_date,
          CASE WHEN pk % 7 = 0 THEN 0.5
            ELSE CAST(1 + pk % 5 AS DOUBLE) END AS rx_quantity
        FROM li),
      ndclist(ndc) AS (VALUES ('00093216519'),('55150034510'),
        ('55150032710'),('00409121525'),('12345678901')),
      ndccodes(ndc, pname, dform, strength, unit) AS (VALUES
        ('00093216519','Narcan Nasal','NASAL SPRAY',4.0,'mg/.1mL'),
        ('55150034510','Naloxone HCl','SOLUTION FOR INJECTION',1.0,'mg/mL'),
        ('55150032710','Naloxone HCl','SOLUTION FOR INJECTION',0.4,'mg/mL'),
        ('00409121525','Naloxone HCl','INJECTION, SOLUTION',0.4,'mg/mL'),
        ('12345678901','Generic Nalox','SOLUTION',2.0,'mg/.1mL'),
        ('012345678901','Wrapped Nalox','SPRAY SOLUTION',8.0,'oddunit')),
      expansion AS (
        SELECT DISTINCT p.ndc
        FROM (SELECT DISTINCT ndc FROM pharm) p
        JOIN ndclist l ON p.ndc LIKE '%' || l.ndc || '%'),
      rx AS (
        SELECT p.id_mcare, p.chid AS claim_header_id, p.ndc AS code,
          upper(c.pname) AS description, p.rx_fill_date AS event_date,
          p.rx_quantity AS quantity,
          CASE WHEN c.dform LIKE '%SPRAY%' OR p.ndc = '00093216519'
            THEN 'SPRAY'
            WHEN c.dform LIKE '%INJECTION%' OR p.ndc IN
              ('55150034510','55150032710','00409121525')
            THEN 'INJECTION' END AS form,
          CAST(CASE WHEN p.ndc = '00093216519' THEN 40.0
            WHEN p.ndc = '55150034510' THEN 1.0
            WHEN p.ndc = '55150032710' THEN 0.4
            ELSE c.strength / (CASE WHEN c.unit = 'mg/.1mL' THEN 0.1
              WHEN c.unit = 'mg/mL' THEN 1.0 END) END AS DOUBLE)
            AS dosage_per_ml,
          'PHARMACY' AS location
        FROM pharm p
        LEFT JOIN ndccodes c ON p.ndc = c.ndc
        JOIN expansion e ON p.ndc = e.ndc
        WHERE year(p.rx_fill_date) >= 1996 AND p.rx_quantity >= 1.0),
      procs AS (
        SELECT id_mcare, chid,
          CASE WHEN pk % 9 = 0 THEN 'G1028' WHEN pk % 9 = 1 THEN 'G2215'
            WHEN pk % 9 = 2 THEN 'G2216' WHEN pk % 9 = 3 THEN 'J2310'
            WHEN pk % 9 = 4 THEN 'J2311' WHEN pk % 9 = 5 THEN 'J2312'
            WHEN pk % 9 = 6 THEN 'J3490'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code,
          CASE WHEN sk % 3 = 0 THEN 'HG' WHEN sk % 3 = 1 THEN 'TG'
            ELSE 'XX' END AS modifier_code,
          d AS lsd
        FROM li),
      procdesc(procedure_code, pdesc) AS (VALUES
        ('G1028','Naloxone nasal 8mg'),('G2215','Naloxone nasal 4mg'),
        ('G2216','Naloxone injection'),('J2310','Injection naloxone'),
        ('J2311','Injection naloxone 1mg'),
        ('J2312','Injection naloxone 0.5mg'),('J3490','Unclassified drug')),
      px AS (
        SELECT p.id_mcare, p.chid AS claim_header_id,
          p.procedure_code AS code, upper(dsc.pdesc) AS description,
          p.lsd AS event_date,
          CAST(CASE WHEN p.procedure_code IN ('G1028','G2215') THEN 2.0
            WHEN p.procedure_code IN ('G2216','J2310','J2311','J3490')
              THEN 1.0 END AS DOUBLE) AS quantity,
          CASE WHEN p.procedure_code IN ('G1028','G2215') THEN 'SPRAY'
            WHEN p.procedure_code IN ('G2216','J2310','J2311')
            THEN 'INJECTION'
            WHEN p.procedure_code = 'J3490' THEN 'UNKNOWN' END AS form,
          CAST(CASE WHEN p.procedure_code = 'G1028' THEN 80.0
            WHEN p.procedure_code = 'G2215' THEN 40.0 END AS DOUBLE)
            AS dosage_per_ml,
          'PROCEDURE' AS location
        FROM procs p LEFT JOIN procdesc dsc USING (procedure_code)
        WHERE year(p.lsd) >= 1996
          AND (p.procedure_code IN ('G1028','G2215','G2216','J2310',
            'J2311')
          OR (p.procedure_code = 'J3490'
            AND p.modifier_code IN ('HG','TG'))))
      SELECT DISTINCT * FROM
        (SELECT * FROM rx UNION ALL SELECT * FROM px)
      ORDER BY id_mcare, claim_header_id, code, location, event_date""",

    // q145: AMR measure — the reference's per-year loop re-expressed
    // set-based over a windows CTE; five pharmacy buckets, dx_needed/
    // dx_made rule, persistence self-join, exclusions, real-ratio amr.
    "q145_amr" -> """
      WITH wins(end_month, lo, ym, beg) AS (VALUES
        (DATE '1996-12-31', DATE '1996-01-01', 199612, 199601),
        (DATE '1997-12-31', DATE '1997-01-01', 199712, 199701)),
      ids AS (SELECT DISTINCT c_custkey % 120 AS id FROM customer),
      pop AS (
        SELECT i.id AS id_mcaid, w.ym AS year_month, w.end_month,
          CAST(i.id % 80 AS INT) AS end_month_age,
          CAST(9 + i.id % 4 AS INT) AS fb,
          CAST(i.id % 17 = 0 AS INT) AS dual, w.beg
        FROM ids i CROSS JOIN wins w),
      hdr AS (
        SELECT o_custkey % 120 AS id_mcaid, o_orderkey AS chid,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderkey % 11 = 0 AS INT) AS ed_perform,
          CAST(o_orderkey % 12 = 0 AS INT) AS inpatient
        FROM orders),
      li AS (
        SELECT o_custkey % 120 AS id_mcaid, l_orderkey AS chid,
          l_partkey AS pk, l_linenumber AS ln,
          CAST(l_shipdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      dxt AS (
        SELECT id_mcaid, chid,
          CASE WHEN pk % 10 = 0 THEN 'J4540'
            WHEN pk % 10 = 1 THEN '49390' WHEN pk % 10 = 2 THEN 'J440'
            WHEN pk % 10 = 3 THEN '4912'
            ELSE lpad(CAST(pk % 900 AS VARCHAR), 4, '0') END AS norm,
          CASE WHEN pk % 10 = 1 OR pk % 10 = 3 THEN 9 ELSE 10 END AS ver,
          lpad(CAST(ln AS VARCHAR), 2, '0') AS dxnum
        FROM li),
      prc AS (
        SELECT id_mcaid, chid,
          CASE WHEN pk % 6 = 0 THEN '99213' WHEN pk % 6 = 1 THEN '99214'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code
        FROM li),
      pharm AS (
        SELECT id_mcaid,
          CASE WHEN pk % 11 < 7
            THEN '1000000000' || CAST(1 + pk % 11 AS VARCHAR)
            ELSE '9' || lpad(CAST(pk AS VARCHAR), 10, '0') END AS ndc,
          d AS rx_fill_date, CAST(1 + pk % 60 AS INT) AS rx_days_supply,
          CAST(1 + pk % 20 AS DOUBLE) AS rx_quantity
        FROM li),
      vs(vsname, code, code_system) AS (VALUES
        ('Asthma','J4540','ICD10CM'), ('Asthma','49390','ICD9CM'),
        ('COPD','J440','ICD10CM'),
        ('Obstructive Chronic Bronchitis','4912','ICD9CM'),
        ('Outpatient','99213','CPT'), ('Outpatient','99214','CPT')),
      vsd AS (SELECT vsname, code,
        CASE WHEN substr(code_system,4,1) = '9' THEN 9 ELSE 10 END AS dx_ver
        FROM vs),
      meds(list, code, generic, route, drug_class, package_size) AS (VALUES
        ('Asthma Controller Medications','10000000001','montelukast',
          'oral','Leukotriene modifiers',NULL),
        ('Asthma Controller Medications','10000000002','theophylline',
          'oral','Methylxanthines',NULL),
        ('Asthma Controller Medications','10000000003','fluticasone',
          'inhalation','Inhaled corticosteroids',NULL),
        ('Asthma Controller Medications','10000000004','omalizumab',
          'subcutaneous','Antibody inhibitor',5.0),
        ('Asthma Controller Medications','10000000005','reslizumab',
          'intravenous','Interleukin antagonist',10.0),
        ('Asthma Reliever Medications','10000000006','albuterol',
          'inhalation','SABA',NULL),
        ('Asthma Reliever Medications','10000000007','levalbuterol',
          'inhalation','SABA',NULL)),
      adx AS (
        SELECT h.id_mcaid, h.chid, h.fsd, d.dxnum
        FROM hdr h JOIN dxt d ON h.id_mcaid = d.id_mcaid
          AND h.chid = d.chid
        JOIN vsd c ON d.norm = c.code AND d.ver = c.dx_ver
          AND c.vsname = 'Asthma'),
      edinpat AS (
        SELECT w.end_month, h.id_mcaid, SUM(h.ed_perform) AS ed_cnt,
          SUM(h.inpatient) AS inpat_cnt
        FROM wins w JOIN hdr h ON h.fsd BETWEEN w.lo AND w.end_month
        JOIN (SELECT id_mcaid, chid FROM adx WHERE dxnum = '01') b
          ON h.id_mcaid = b.id_mcaid AND h.chid = b.chid
        WHERE h.ed_perform = 1 OR h.inpatient = 1
        GROUP BY w.end_month, h.id_mcaid),
      outpat AS (
        SELECT w.end_month, h.id_mcaid,
          COUNT(DISTINCT h.fsd) AS outpat_cnt
        FROM wins w JOIN hdr h ON h.fsd BETWEEN w.lo AND w.end_month
        JOIN (SELECT id_mcaid, chid FROM adx) b
          ON h.id_mcaid = b.id_mcaid AND h.chid = b.chid
        JOIN prc p ON h.id_mcaid = p.id_mcaid AND h.chid = p.chid
        JOIN (SELECT code FROM vs WHERE vsname = 'Outpatient') o
          ON p.procedure_code = o.code
        GROUP BY w.end_month, h.id_mcaid),
      fills AS (
        SELECT ph.id_mcaid, ph.ndc, ph.rx_fill_date, ph.rx_days_supply,
          ph.rx_quantity, m.list, m.generic, m.route, m.drug_class,
          m.package_size
        FROM pharm ph JOIN meds m ON ph.ndc = m.code),
      oral_lk AS (
        SELECT end_month, id_mcaid, rx_fill_date,
          SUM(ev) AS events_oral_lk
        FROM (
          SELECT w.end_month, f.id_mcaid, f.rx_fill_date, f.generic,
            CASE WHEN SUM(f.rx_days_supply) <= 30 THEN 1
              ELSE CAST(floor(SUM(f.rx_days_supply)/30.0) AS INT) END AS ev
          FROM wins w JOIN fills f
            ON f.rx_fill_date BETWEEN w.lo AND w.end_month
          WHERE f.route = 'oral'
            AND f.drug_class = 'Leukotriene modifiers'
          GROUP BY w.end_month, f.id_mcaid, f.rx_fill_date, f.generic)
        GROUP BY end_month, id_mcaid, rx_fill_date),
      oral_non_lk AS (
        SELECT end_month, id_mcaid, rx_fill_date,
          SUM(ev) AS events_oral_non_lk
        FROM (
          SELECT w.end_month, f.id_mcaid, f.rx_fill_date, f.generic,
            CASE WHEN SUM(f.rx_days_supply) <= 30 THEN 1
              ELSE CAST(floor(SUM(f.rx_days_supply)/30.0) AS INT) END AS ev
          FROM wins w JOIN fills f
            ON f.rx_fill_date BETWEEN w.lo AND w.end_month
          WHERE f.route = 'oral'
            AND f.drug_class <> 'Leukotriene modifiers'
          GROUP BY w.end_month, f.id_mcaid, f.rx_fill_date, f.generic)
        GROUP BY end_month, id_mcaid, rx_fill_date),
      inhaler AS (
        SELECT w.end_month, f.id_mcaid, f.rx_fill_date,
          COUNT(DISTINCT f.generic) AS events_inhaler
        FROM wins w JOIN fills f
          ON f.rx_fill_date BETWEEN w.lo AND w.end_month
        WHERE f.route = 'inhalation'
        GROUP BY w.end_month, f.id_mcaid, f.rx_fill_date),
      inj_antib AS (
        SELECT w.end_month, f.id_mcaid, f.rx_fill_date,
          COUNT(DISTINCT f.ndc) AS events_inject_antib
        FROM wins w JOIN fills f
          ON f.rx_fill_date BETWEEN w.lo AND w.end_month
        WHERE f.route IN ('intravenous','subcutaneous')
          AND f.drug_class = 'Antibody inhibitor'
        GROUP BY w.end_month, f.id_mcaid, f.rx_fill_date),
      inj_non_antib AS (
        SELECT w.end_month, f.id_mcaid, f.rx_fill_date,
          COUNT(DISTINCT f.ndc) AS events_inject_non_antib
        FROM wins w JOIN fills f
          ON f.rx_fill_date BETWEEN w.lo AND w.end_month
        WHERE f.route IN ('intravenous','subcutaneous')
          AND f.drug_class <> 'Antibody inhibitor'
        GROUP BY w.end_month, f.id_mcaid, f.rx_fill_date),
      rxrows AS (
        SELECT end_month, id_mcaid, rx_fill_date,
          coalesce(events_oral_lk, 0) + coalesce(events_oral_non_lk, 0)
            + coalesce(events_inhaler, 0)
            + coalesce(events_inject_antib, 0)
            + coalesce(events_inject_non_antib, 0) AS events_rx,
          coalesce(events_oral_lk, 0)
            + coalesce(events_inject_antib, 0) AS dx_needed_cnt
        FROM oral_lk
        FULL JOIN oral_non_lk USING (end_month, id_mcaid, rx_fill_date)
        FULL JOIN inhaler USING (end_month, id_mcaid, rx_fill_date)
        FULL JOIN inj_antib USING (end_month, id_mcaid, rx_fill_date)
        FULL JOIN inj_non_antib USING (end_month, id_mcaid, rx_fill_date)),
      dxmade AS (
        SELECT DISTINCT w.end_month, a.id_mcaid, 1 AS dx_made
        FROM wins w JOIN adx a ON a.fsd BETWEEN w.lo AND w.end_month),
      rxevent AS (
        SELECT r.end_month, r.id_mcaid, r.events_rx, r.dx_needed,
          coalesce(m.dx_made, 0) AS dx_made
        FROM (
          SELECT end_month, id_mcaid, SUM(events_rx) AS events_rx,
            CASE WHEN SUM(events_rx) = SUM(dx_needed_cnt) THEN 1 ELSE 0
              END AS dx_needed
          FROM rxrows GROUP BY end_month, id_mcaid) r
        LEFT JOIN dxmade m
          ON r.end_month = m.end_month AND r.id_mcaid = m.id_mcaid),
      popf AS (
        SELECT id_mcaid, end_month, year_month, end_month_age, beg,
          1 AS enroll_flag
        FROM pop WHERE fb >= 11 AND dual = 0 AND end_month_age >= 5
          AND end_month_age < 65),
      anyt AS (
        SELECT *,
          CASE end_month WHEN DATE '1997-12-31' THEN DATE '1996-12-31'
            ELSE DATE '1995-12-31' END AS past_year
        FROM (
          SELECT end_month, id_mcaid,
            max(year_month) AS year_month,
            max(end_month_age) AS end_month_age,
            max(beg) AS beg,
            coalesce(max(enroll_flag), 0) AS enroll_flag,
            CASE WHEN coalesce(max(ed_cnt), 0) > 0 THEN 1 ELSE 0 END
              AS ed_flag,
            CASE WHEN coalesce(max(inpat_cnt), 0) > 0 THEN 1 ELSE 0 END
              AS inpat_flag,
            CASE WHEN coalesce(max(outpat_cnt), 0) > 0
              AND coalesce(max(events_rx), 0) > 2 THEN 1 ELSE 0 END
              AS outpat_flag,
            CASE WHEN coalesce(max(events_rx), 0) >= 4
              AND (coalesce(max(dx_needed), 0) = 0
                OR coalesce(max(dx_made), 0) = 1) THEN 1 ELSE 0 END
              AS rx_flag,
            CASE WHEN coalesce(max(events_rx), 0) > 0 THEN 1 ELSE 0 END
              AS rx_any
          FROM popf
          FULL JOIN edinpat USING (end_month, id_mcaid)
          FULL JOIN outpat USING (end_month, id_mcaid)
          FULL JOIN rxevent USING (end_month, id_mcaid)
          GROUP BY end_month, id_mcaid)
        WHERE ed_flag = 1 OR inpat_flag = 1 OR outpat_flag = 1
          OR rx_flag = 1),
      pers AS (
        SELECT a.*, CASE WHEN b.id_mcaid IS NOT NULL THEN 1 ELSE 0 END
          AS persistent
        FROM anyt a LEFT JOIN
          (SELECT DISTINCT id_mcaid, end_month FROM anyt) b
          ON a.id_mcaid = b.id_mcaid AND a.past_year = b.end_month),
      excl AS (
        SELECT DISTINCT w.end_month, h.id_mcaid, 1 AS dx_exclude
        FROM wins w JOIN hdr h ON h.fsd <= w.end_month
        JOIN dxt d ON h.id_mcaid = d.id_mcaid AND h.chid = d.chid
        JOIN vsd c ON d.norm = c.code AND d.ver = c.dx_ver
          AND c.vsname IN ('Emphysema','Other Emphysema','COPD',
            'Obstructive Chronic Bronchitis',
            'Chronic Respiratory Conditions Due To Fumes/Vapors',
            'Cystic Fibrosis','Acute Respiratory Failure')),
      medunits AS (
        SELECT f.id_mcaid, f.list, f.rx_fill_date, f.route, f.generic,
          f.rx_quantity, f.package_size,
          SUM(f.rx_days_supply) AS supply
        FROM fills f
        GROUP BY f.id_mcaid, f.list, f.rx_fill_date, f.route, f.generic,
          f.rx_quantity, f.package_size),
      mu AS (
        SELECT *, CASE WHEN route = 'oral' AND supply <= 30 THEN 1.0
          WHEN route = 'oral' THEN CAST(ceil(supply/30.0) AS DOUBLE)
          WHEN route IN ('intravenous','subcutaneous')
          THEN CAST(ceil(rx_quantity/package_size) AS DOUBLE)
          WHEN route = 'inhalation' THEN 1.0 END AS med_units
        FROM medunits),
      amrt AS (
        SELECT end_month, id_mcaid,
          coalesce(max(meds_control), 0) AS meds_control,
          coalesce(max(meds_relief), 0) AS meds_relief
        FROM (
          SELECT w.end_month, m.id_mcaid, SUM(m.med_units) AS meds_control
          FROM wins w JOIN mu m
            ON m.rx_fill_date BETWEEN w.lo AND w.end_month
          WHERE m.list = 'Asthma Controller Medications'
          GROUP BY w.end_month, m.id_mcaid) a
        FULL JOIN (
          SELECT w.end_month, m.id_mcaid, SUM(m.med_units) AS meds_relief
          FROM wins w JOIN mu m
            ON m.rx_fill_date BETWEEN w.lo AND w.end_month
          WHERE m.list = 'Asthma Reliever Medications'
          GROUP BY w.end_month, m.id_mcaid) b
        USING (end_month, id_mcaid)
        GROUP BY end_month, id_mcaid),
      amrv AS (
        SELECT end_month, id_mcaid,
          CASE WHEN meds_control + meds_relief > 0
            THEN round(meds_control / (meds_control + meds_relief), 4)
            ELSE 0.0 END AS amr
        FROM amrt),
      agegrp AS (
        SELECT DISTINCT CAST(id % 80 AS INT) AS age,
          CAST(CAST(floor((id % 80)/10.0)*10 AS INT) AS VARCHAR) || '-' ||
          CAST(CAST(floor((id % 80)/10.0)*10 + 9 AS INT) AS VARCHAR)
            AS age_grp_10
        FROM ids)
      SELECT d.beg AS beg_year_month, d.year_month AS end_year_month,
        d.id_mcaid, d.end_month, d.end_month_age, g.age_grp_10 AS age_grp,
        19 AS measure_id, 1 AS denominator, a.amr,
        CAST(a.amr >= 0.5 AS INT) AS numerator
      FROM pers d
      LEFT JOIN excl e ON d.id_mcaid = e.id_mcaid
        AND d.end_month = e.end_month
      LEFT JOIN amrv a ON d.id_mcaid = a.id_mcaid
        AND d.end_month = a.end_month
      LEFT JOIN agegrp g ON d.end_month_age = g.age
      WHERE d.enroll_flag = 1 AND d.rx_any = 1 AND d.persistent = 1
        AND coalesce(e.dx_exclude, 0) = 0
      ORDER BY d.id_mcaid, d.end_month""",

    // q146: address clean stage — hash anti-join new-address detection,
    // deterministic stand-in cleaner, '#'/PO-box folding, NULL-safe
    // manual overrides, SHA-256 identity hashes. Generated from the
    // shared template (q280 composes the same build twice — prior ref
    // slice + increment — so the clean chain cannot drift between them).
    "q146_address_clean" -> addressCleanOracleSql(
      """WHERE geo_hash_raw NOT IN
          (SELECT geo_hash_raw FROM stage WHERE k % 4 = 0)"""),


    // q147: geocode attach — ESRI-first / HERE-fallback selection,
    // centroid flags, regex ZIP harvest (leading-space artifact kept on
    // the HERE side), coordinate pick by source.
    "q147_address_geocode" -> """
      WITH ks AS (SELECT DISTINCT c_custkey % 250 AS k FROM customer),
      addr AS (
        SELECT k, CAST(k AS VARCHAR) || ' MAIN STREET' AS geo_add1_clean,
          'CITY' || CAST(k % 40 AS VARCHAR) AS geo_city_clean,
          CASE WHEN k % 3 = 0 THEN 'WA' ELSE 'OR' END AS geo_state_clean,
          lpad(CAST(k % 999 AS VARCHAR), 5, '0') AS geo_zip_clean
        FROM ks),
      esri AS (
        SELECT a.*,
          CASE WHEN k % 5 = 0 THEN 'zip_5_digit_gc'
            WHEN k % 5 = 1 THEN NULL ELSE 'street_gc' END AS loc_name,
          CASE WHEN k % 7 = 0 THEN 'U' ELSE 'M' END AS status,
          CASE WHEN k % 9 = 0 THEN geo_add1_clean || ', ' || geo_city_clean
              || ', ' || geo_state_clean || ', USA'
            ELSE geo_add1_clean || ', ' || geo_city_clean || ', '
              || geo_state_clean || ' ' || geo_zip_clean
            END AS match_addr,
          round(-122.0 - (k % 500) / 1000.0, 4) AS esri_lon,
          round(47.0 + (k % 500) / 1000.0, 4) AS esri_lat
        FROM addr a),
      here AS (
        SELECT geo_add1_clean, geo_city_clean, geo_state_clean,
          geo_zip_clean,
          CASE WHEN k % 4 = 0 THEN 'houseNumber'
            WHEN k % 4 = 1 THEN 'street' WHEN k % 4 = 2 THEN 'postalCode'
            ELSE 'district' END AS address_type,
          geo_add1_clean || ', ' || geo_city_clean || ', '
            || geo_zip_clean || ', USA' AS formatted_address,
          round(-121.0 - (k % 500) / 1000.0, 4) AS here_lon,
          round(46.0 + (k % 500) / 1000.0, 4) AS here_lat
        FROM esri
        WHERE (status = 'U' OR loc_name = 'zip_5_digit_gc'
          OR loc_name IS NULL) AND k % 10 < 6),
      joined AS (
        SELECT e.*, h.address_type, h.formatted_address, h.here_lon,
          h.here_lat,
          CASE WHEN h.geo_add1_clean IS NOT NULL THEN 1 ELSE 0 END
            AS geo_check_here,
          CASE WHEN h.here_lat IS NOT NULL AND (h.address_type =
            'houseNumber' OR e.loc_name IS NULL) THEN 'here' ELSE 'esri'
            END AS src
        FROM esri e LEFT JOIN here h
          ON e.geo_add1_clean = h.geo_add1_clean
          AND e.geo_city_clean = h.geo_city_clean
          AND e.geo_state_clean = h.geo_state_clean
          AND e.geo_zip_clean = h.geo_zip_clean)
      SELECT geo_add1_clean, geo_city_clean, geo_state_clean,
        geo_zip_clean, 1 AS geo_check_esri, geo_check_here,
        src AS geo_geocode_source,
        CASE WHEN (src = 'esri' AND loc_name = 'zip_5_digit_gc')
          OR (src = 'here' AND address_type IN ('postalCode','district'))
          THEN 1 ELSE 0 END AS geo_zip_centroid,
        CASE WHEN src = 'here' AND address_type = 'street' THEN 1 ELSE 0
          END AS geo_street_centroid,
        CASE WHEN src = 'esri' THEN upper(match_addr)
          ELSE upper(formatted_address) END AS geo_add_geocoded,
        CASE WHEN src = 'esri'
          THEN nullif(regexp_extract(match_addr, '[0-9]{5}$', 0), '')
          ELSE nullif(' ' || regexp_extract(formatted_address,
            ' ([0-9]{5}),', 1), ' ') END AS geo_zip_geocoded,
        CASE WHEN src = 'esri' THEN loc_name ELSE address_type END
          AS geo_add_type,
        CASE WHEN src = 'esri' THEN esri_lon ELSE here_lon END AS geo_lon,
        CASE WHEN src = 'esri' THEN esri_lat ELSE here_lat END AS geo_lat
      FROM joined
      ORDER BY geo_add1_clean, geo_city_clean, geo_state_clean,
        geo_zip_clean""",

    // q148: housing status — Z-code pull, month-period range join,
    // address HOMELESS flag, classification, per-period conflict
    // collapse.
    "q148_housing_status" -> s"""
      WITH $HousingRowsCtes
      SELECT * FROM hs
      ORDER BY id_mcaid, from_date, housing_status,
        housing_status_source""",

    // q149: APCD claim line — denied/orphan semi gate, the 2023-07-28
    // discharge correction, line-grain DISTINCT over planted dup rows.
    "q149_apcd_claim_line" -> """
      WITH raw AS (
        SELECT l_orderkey % 400 AS id_apcd,
          l_orderkey AS claim_header_id,
          l_orderkey * 10 + l_linenumber AS claim_line_id,
          l_linenumber AS line_counter,
          CAST(l_shipdate AS DATE) AS fsd,
          CAST(l_shipdate AS DATE) + CAST(l_suppkey % 5 AS INT) AS lsd,
          round(l_extendedprice, 2) AS charge_amt,
          CASE WHEN l_partkey % 9 = 0
            THEN '045' || CAST(l_partkey % 10 AS VARCHAR)
            ELSE lpad(CAST(l_partkey % 2000 AS VARCHAR), 4, '0')
            END AS revenue_code,
          CASE WHEN l_suppkey % 11 = 0 THEN '23'
            ELSE lpad(CAST(l_suppkey % 32 AS VARCHAR), 2, '0')
            END AS place_of_service_code,
          CASE WHEN l_partkey % 3 = 0 THEN NULL
            ELSE CAST(l_shipdate AS DATE) - CAST(l_partkey % 4 AS INT)
            END AS admission_dt,
          CASE WHEN l_partkey % 7 = 0 THEN CAST(l_shipdate AS DATE) - 5
            WHEN l_partkey % 7 = 1 THEN NULL
            ELSE CAST(l_shipdate AS DATE) + CAST(l_suppkey % 5 AS INT)
              + CAST(l_partkey % 3 AS INT)
            END AS discharge_dt,
          lpad(CAST(l_partkey % 30 AS VARCHAR), 2, '0')
            AS discharge_status_code,
          CAST(l_suppkey % 9 AS VARCHAR) AS admission_point_of_origin_code,
          CAST(1 + l_orderkey % 4 AS INT) AS admission_type
        FROM lineitem),
      dup AS (
        SELECT * FROM raw
        UNION ALL SELECT * FROM raw WHERE line_counter = 1),
      ok AS (
        SELECT o_orderkey AS chid FROM orders
        WHERE o_orderkey % 17 <> 0 AND o_orderkey % 19 <> 0)
      SELECT DISTINCT id_apcd, claim_header_id, claim_line_id,
        line_counter, fsd AS first_service_date, lsd AS last_service_date,
        charge_amt, revenue_code, place_of_service_code,
        admission_dt AS admission_date,
        CASE WHEN discharge_dt < admission_dt THEN lsd
          WHEN admission_dt IS NULL AND discharge_dt < fsd THEN lsd
          ELSE discharge_dt END AS discharge_date,
        discharge_status_code, admission_point_of_origin_code,
        admission_type
      FROM dup WHERE claim_header_id IN (SELECT chid FROM ok)
      ORDER BY claim_header_id, claim_line_id""",

    // q150: APCD claim icdcm header — dx-grain projection (dotted raw,
    // norm, version, number) under the denied/orphan gate.
    "q150_apcd_claim_icdcm" -> """
      WITH dxr AS (
        SELECT l_orderkey % 400 AS id_apcd,
          l_orderkey AS claim_header_id,
          CAST(l_shipdate AS DATE) AS first_service_date,
          CAST(l_shipdate AS DATE) + CAST(l_suppkey % 3 AS INT)
            AS last_service_date,
          CASE WHEN l_partkey % 6 = 0 THEN 9 ELSE 10 END AS icdcm_version,
          CASE WHEN l_partkey % 6 <> 0 AND l_partkey % 5 = 0
            THEN 'Z00' || CAST(l_partkey % 4 AS VARCHAR)
            WHEN l_partkey % 6 <> 0
            THEN 'F' || lpad(CAST(l_partkey % 400 AS VARCHAR), 3, '0')
            ELSE lpad(CAST(l_partkey % 999 AS VARCHAR), 4, '0')
            END AS icdcm_norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS icdcm_number
        FROM lineitem),
      ok AS (
        SELECT o_orderkey AS chid FROM orders
        WHERE o_orderkey % 17 <> 0 AND o_orderkey % 19 <> 0)
      SELECT id_apcd, claim_header_id, first_service_date,
        last_service_date,
        CASE WHEN length(icdcm_norm) > 3
          THEN substring(icdcm_norm, 1, 3) || '.' ||
            substring(icdcm_norm, 4, 9)
          ELSE icdcm_norm END AS icdcm_raw,
        icdcm_norm, icdcm_version, icdcm_number
      FROM dxr WHERE claim_header_id IN (SELECT chid FROM ok)
      ORDER BY claim_header_id, icdcm_number, icdcm_norm""",

    // q151: APCD claim procedure — procedure + consolidated modifier
    // under the denied/orphan gate.
    "q151_apcd_claim_procedure" -> """
      WITH prc AS (
        SELECT l_orderkey % 400 AS id_apcd,
          l_orderkey AS claim_header_id,
          CAST(l_shipdate AS DATE) AS first_service_date,
          CAST(l_shipdate AS DATE) + CAST(l_suppkey % 3 AS INT)
            AS last_service_date,
          CASE WHEN l_partkey % 17 = 0
            THEN '9928' || CAST(1 + l_partkey % 7 AS VARCHAR)
            WHEN l_partkey % 17 = 1 THEN '99291'
            WHEN l_partkey % 17 = 2
            THEN '992' || CAST(11 + l_partkey % 5 AS VARCHAR)
            ELSE lpad(CAST(l_partkey % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code,
          CASE WHEN l_linenumber % 4 = 0 THEN '26'
            WHEN l_linenumber % 4 = 1 THEN 'TC' END AS modifier_code
        FROM lineitem),
      ok AS (
        SELECT o_orderkey AS chid FROM orders
        WHERE o_orderkey % 17 <> 0 AND o_orderkey % 19 <> 0)
      SELECT id_apcd, claim_header_id, first_service_date,
        last_service_date, procedure_code, modifier_code
      FROM prc WHERE claim_header_id IN (SELECT chid FROM ok)
      ORDER BY claim_header_id, procedure_code, modifier_code,
        last_service_date""",

    // q152: APCD elig_demo — contiguous-month DOB estimation (incl. the
    // Dec→Jan 89 quirk), gender flags + NULLs-first last_value recent,
    // ethnicity-map race recodes, z_Multiple tie-break, person collapse.
    "q152_apcd_elig_demo" -> s"""
      WITH $ApcdDemoCtes
      SELECT * FROM demo ORDER BY id_apcd""",

    // q153: combined mcaid+mcare claim_bh — dx/NDC condition spans,
    // primary-dx-gated MOUD procedures, the diagnosis-keyed full-join
    // tree, OUD person-months, first-diagnosis-month MOUD gate.
    "q153_mcaid_mcare_bh" -> s"""
      WITH $BhRowsCtes
      SELECT * FROM bh
      ORDER BY id_apde, bh_cond, first_encounter_date,
        last_encounter_date""",

    // q154: combined mcaid+mcare claim_ccw — dx_fields restrictions,
    // claim-level exclusion gates, claim-type-split condition-1/2,
    // T-SQL month-boundary lookback windows, LEAST/GREATEST collapse.
    "q154_mcaid_mcare_ccw" -> ("""
      WITH hdr AS (
        SELECT 1000 + o_custkey % 90 AS id_apde,
          o_orderkey AS chid,
          CAST(1 + o_orderkey % 6 AS INT) AS ctid,
          CAST(o_orderdate AS DATE) AS fsd
        FROM orders),
      dx AS (
        SELECT 1000 + o_custkey % 90 AS id_apde, l_orderkey AS chid,
          CASE WHEN l_partkey % 5 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 5 = 0 THEN
            CASE WHEN l_partkey % 9 = 0 THEN '2440'
              WHEN l_partkey % 9 = 1 THEN '25000'
              WHEN l_partkey % 9 = 2 THEN '64800'
              WHEN l_partkey % 9 = 3 THEN '43491'
              ELSE lpad(CAST(l_partkey % 999 AS VARCHAR), 4, '0') END
          ELSE
            CASE WHEN l_partkey % 9 = 0 THEN 'E039'
              WHEN l_partkey % 9 = 1 THEN 'E119'
              WHEN l_partkey % 9 = 2 THEN 'O2412'
              WHEN l_partkey % 9 = 3 THEN 'I6350'
              WHEN l_partkey % 9 = 4 THEN 'Z3480'
              ELSE 'J' || lpad(CAST(l_partkey % 400 AS VARCHAR), 3, '0')
              END
          END AS norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS dxnum
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      """ + ccwOracleBody("id_apde")),

    // q229: mcare-grain claim_bh — the q153 kernel at id_mcare grain
    // over mcare sources (yaml-config instantiation), mcare pharm dates
    // on last_service_date.
    "q229_mcare_bh" -> """
      WITH fact AS (
        SELECT 'mc' || CAST(o_custkey % 75 AS VARCHAR) AS id_mcare,
          l_orderkey AS chid, l_partkey AS pk, l_suppkey AS sk,
          CAST(l_shipdate AS DATE) AS fsd
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      icdcm AS (
        SELECT id_mcare, chid,
          CASE WHEN pk % 7 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN pk % 7 = 0 THEN
            CASE WHEN pk % 12 = 0 THEN '29620'
              WHEN pk % 12 = 1 THEN '30400'
              ELSE lpad(CAST(pk % 999 AS VARCHAR), 5, '0') END
          ELSE
            CASE WHEN pk % 12 = 0 THEN 'F329'
              WHEN pk % 12 = 1 THEN 'F411'
              WHEN pk % 12 = 2 THEN 'F1120'
              ELSE 'G' || lpad(CAST(pk % 400 AS VARCHAR), 3, '0') END
          END AS icdcm_norm,
          fsd FROM fact),
      pharm AS (
        SELECT id_mcare, chid,
          CASE WHEN sk % 8 = 0 THEN '11111111111'
            WHEN sk % 8 = 1 THEN '22222222222'
            WHEN sk % 8 = 2 THEN '33333333333'
            ELSE lpad(CAST(sk * 7 AS VARCHAR), 11, '0') END AS ndc,
          fsd + 3 AS rx_fill_date FROM fact),
      prc AS (
        SELECT id_mcare, chid,
          CASE WHEN pk % 14 = 0 THEN 'H0020'
            WHEN pk % 14 = 1 THEN 'J0571'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code,
          fsd FROM fact),
      hdr AS (
        SELECT o_orderkey AS chid,
          CASE WHEN o_orderkey % 14 = 0 THEN 'F1120'
            WHEN o_orderkey % 14 = 1 THEN '30400'
            ELSE 'I10' END AS primary_diagnosis,
          CASE WHEN o_orderkey % 14 = 1 THEN 9 ELSE 10 END AS ver
        FROM orders),
      ref(cond, code_set, code, ver, vset, oud_dx1_flag) AS (VALUES
        ('bh_depression','ICD9CM','29620',9,'rda-bh',NULL),
        ('bh_depression','ICD10CM','F329',10,'rda-bh',NULL),
        ('bh_anxiety','ICD10CM','F411',10,'rda-bh',NULL),
        ('bh_depression','NDC','11111111111',NULL,'rda-ndc',NULL),
        ('bh_anxiety','NDC','22222222222',NULL,'rda-ndc',NULL),
        ('sud_opioid','ICD9CM','30400',9,'rda-bh',NULL),
        ('sud_opioid','ICD10CM','F1120',10,'rda-bh',NULL),
        ('sud_opioid','NDC','33333333333',NULL,'rda-ndc',NULL),
        ('sud_opioid','HCPCS','H0020',NULL,'apde-moud-procedure',1),
        ('sud_opioid','HCPCS','J0571',NULL,'apde-moud-procedure',0)),
      diag_ev AS (
        SELECT DISTINCT d.id_mcare, d.svc_date, r.cond AS bh_cond
        FROM (SELECT DISTINCT id_mcare, icdcm_norm, ver, fsd AS svc_date
          FROM icdcm) d
        JOIN ref r ON d.icdcm_norm = r.code AND d.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond <> 'sud_opioid'),
      rx_ev AS (
        SELECT DISTINCT p.id_mcare, p.rx_fill_date AS svc_date,
          r.cond AS bh_cond
        FROM pharm p JOIN ref r ON p.ndc = r.code
        WHERE r.code_set = 'NDC' AND r.cond <> 'sud_opioid'),
      spans AS (
        SELECT id_mcare, min(svc_date) AS first_encounter_date,
          max(svc_date) AS last_encounter_date, bh_cond
        FROM (SELECT * FROM diag_ev UNION SELECT * FROM rx_ev)
        GROUP BY id_mcare, bh_cond),
      ouddx1 AS (
        SELECT DISTINCT h.chid FROM hdr h
        JOIN ref r ON h.primary_diagnosis = r.code AND h.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond = 'sud_opioid'),
      darm AS (
        SELECT DISTINCT d.id_mcare, d.chid, d.svc_date
        FROM (SELECT DISTINCT id_mcare, chid, icdcm_norm, ver,
            fsd AS svc_date FROM icdcm) d
        JOIN ref r ON d.icdcm_norm = r.code AND d.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond = 'sud_opioid'),
      rarm AS (
        SELECT DISTINCT p.id_mcare, p.chid, p.rx_fill_date AS svc_date
        FROM pharm p JOIN ref r ON p.ndc = r.code
        WHERE r.code_set = 'NDC' AND r.cond = 'sud_opioid'),
      parm AS (
        SELECT DISTINCT id_mcare, chid, svc_date FROM (
          SELECT DISTINCT p.id_mcare, p.chid, p.fsd AS svc_date,
            CASE WHEN r.oud_dx1_flag = 0 THEN 1
              WHEN r.oud_dx1_flag = 1 AND d.chid IS NOT NULL THEN 1
              ELSE 0 END AS ok
          FROM prc p
          JOIN ref r ON p.procedure_code = r.code
            AND r.vset = 'apde-moud-procedure' AND r.cond = 'sud_opioid'
          LEFT JOIN ouddx1 d ON p.chid = d.chid)
        WHERE ok = 1),
      oudclaims AS (
        SELECT coalesce(d.id_mcare, r.id_mcare, p.id_mcare) AS id_mcare,
          coalesce(d.svc_date, r.svc_date, p.svc_date) AS svc_date,
          CASE WHEN d.chid IS NOT NULL THEN 1 END AS icdcm_flag
        FROM darm d
        FULL JOIN rarm r ON d.chid = r.chid
        FULL JOIN parm p ON d.chid = p.chid),
      oudmonth AS (
        SELECT DISTINCT id_mcare,
          date_trunc('month', svc_date)::DATE AS fe,
          last_day(svc_date) AS le
        FROM oudclaims WHERE icdcm_flag = 1),
      oudmin AS (
        SELECT id_mcare, min(fe) AS dmin FROM oudmonth GROUP BY id_mcare),
      moudmonth AS (
        SELECT DISTINCT a.id_mcare,
          date_trunc('month', a.svc_date)::DATE AS fe,
          last_day(a.svc_date) AS le
        FROM oudclaims a JOIN oudmin b ON a.id_mcare = b.id_mcare
        WHERE a.icdcm_flag IS NULL AND b.dmin <= a.svc_date),
      oudrows AS (
        SELECT id_mcare, fe, le FROM oudmonth
        UNION SELECT id_mcare, fe, le FROM moudmonth)
      SELECT id_mcare, first_encounter_date, last_encounter_date, bh_cond
      FROM spans
      UNION
      SELECT id_mcare, fe AS first_encounter_date,
        le AS last_encounter_date, 'sud_opioid' AS bh_cond
      FROM oudrows
      ORDER BY id_mcare, bh_cond, first_encounter_date,
        last_encounter_date""",

    // q230: mcare-grain claim_ccw — the q154 kernel at id_mcare grain.
    "q230_mcare_ccw" -> ("""
      WITH hdr AS (
        SELECT 'mc' || CAST(o_custkey % 75 AS VARCHAR) AS id_mcare,
          o_orderkey AS chid,
          CAST(1 + o_orderkey % 6 AS INT) AS ctid,
          CAST(o_orderdate AS DATE) AS fsd
        FROM orders),
      dx AS (
        SELECT 'mc' || CAST(o_custkey % 75 AS VARCHAR) AS id_mcare,
          l_orderkey AS chid,
          CASE WHEN l_partkey % 4 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 4 = 0 THEN
            CASE WHEN l_partkey % 10 = 0 THEN '2440'
              WHEN l_partkey % 10 = 1 THEN '25000'
              WHEN l_partkey % 10 = 2 THEN '64800'
              WHEN l_partkey % 10 = 3 THEN '43491'
              ELSE lpad(CAST(l_partkey % 999 AS VARCHAR), 4, '0') END
          ELSE
            CASE WHEN l_partkey % 10 = 0 THEN 'E039'
              WHEN l_partkey % 10 = 1 THEN 'E119'
              WHEN l_partkey % 10 = 2 THEN 'O2412'
              WHEN l_partkey % 10 = 3 THEN 'I6350'
              WHEN l_partkey % 10 = 4 THEN 'Z3480'
              ELSE 'J' || lpad(CAST(l_partkey % 400 AS VARCHAR), 3, '0')
              END
          END AS norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS dxnum
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      """ + ccwOracleBody("id_mcare")),

    // q244: apcd-grain claim_ccw — the load_ccw kernel at BIGINT
    // id_apcd grain; claim types 1..7 (6/7 never qualify), shared
    // per-condition replay via ccwOracleBody.
    "q244_apcd_ccw" -> ("""
      WITH """ + ApcdCcwFixtureCtes + """,
      """ + ccwOracleBody("id_apcd")),

    // q245: CCW new-criteria cross-check — per-phenotype blocks are
    // GENERATED from CcwNewCriteriaQa.Phenos; the verdict pins
    // new_not_old = 0 (the new lookback rule strictly tightens the
    // old count rule).
    "q245_ccw_new_criteria_qa" -> ("""
      WITH hdr AS (
        SELECT 'qa' || CAST(o_custkey % 2400 AS VARCHAR) AS id,
          o_orderkey AS chid,
          CAST(1 + o_orderkey % 6 AS INT) AS ctid,
          CAST(o_orderdate AS DATE) AS fsd
        FROM orders),
      dx AS (
        SELECT 'qa' || CAST(o_custkey % 2400 AS VARCHAR) AS id,
          l_orderkey AS chid,
          CASE WHEN l_partkey % 8 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN l_partkey % 8 = 0 THEN
            CASE WHEN l_partkey % 149 = 0 THEN '41071'
              WHEN l_partkey % 149 = 1 THEN '82009'
              WHEN l_partkey % 149 = 2 THEN '2859'
              WHEN l_partkey % 149 = 3 THEN '311'
              ELSE lpad(CAST(l_partkey % 999 AS VARCHAR), 5, '0') END
          ELSE
            CASE WHEN l_partkey % 149 = 0 THEN 'I214'
              WHEN l_partkey % 149 = 1 THEN 'S72001A'
              WHEN l_partkey % 149 = 2 THEN 'D649'
              WHEN l_partkey % 149 = 3 THEN 'F329'
              WHEN l_partkey % 149 = 4 THEN 'F331'
              ELSE 'K' || lpad(CAST(l_partkey % 400 AS VARCHAR), 3, '0')
              END
          END AS norm,
          lpad(CAST(l_linenumber AS VARCHAR), 2, '0') AS dxnum
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ref(icdcm, ver, mi, hip_fracture, anemia, depression) AS (VALUES
        ('41071',9,1,0,0,0), ('I214',10,1,0,0,0),
        ('82009',9,0,1,0,0), ('S72001A',10,0,1,0,0),
        ('2859',9,0,0,1,0), ('D649',10,0,0,1,0),
        ('311',9,0,0,0,1), ('F329',10,0,0,0,1),
        ('F331',10,0,0,0,1)),
      dxr AS (
        SELECT d.*, r.mi, r.hip_fracture, r.anemia, r.depression
        FROM dx d JOIN ref r ON d.norm = r.icdcm AND d.ver = r.ver),
      ev AS (
        SELECT d.id, d.chid, d.mi, d.hip_fracture, d.anemia,
          d.depression, h.ctid, h.fsd
        FROM dxr d JOIN hdr h ON d.chid = h.chid),""" +
      graft.builds.CcwNewCriteriaQa.Phenos.map(ccwQaPhenoBlock)
        .mkString(",") + """
      SELECT *, CASE WHEN new_not_old = 0 THEN 'PASS' ELSE 'FAIL' END
        AS verdict
      FROM (""" +
      graft.builds.CcwNewCriteriaQa.Phenos
        .map(p => s"SELECT * FROM ${p.abbrev}v")
        .mkString(" UNION ALL ") + """)
      ORDER BY ccw_desc"""),

    // q246: APCD claim-header QA battery — audits the exact frame the
    // q142 oracle pins (shared apcdHeaderOracle CTE), so a drift in
    // the build breaks both rows at once.
    "q246_apcd_header_qa" -> ("""
      WITH stage AS (SELECT * FROM (""" + apcdHeaderOracle + """)),
      elig AS (
        SELECT DISTINCT c_custkey % 400 AS id_apcd FROM customer),
      eligtv AS (SELECT id_apcd FROM elig WHERE id_apcd <> 17),
      rawc AS (
        SELECT count(*) AS n FROM orders
        WHERE o_orderkey % 17 <> 0 AND o_orderkey % 19 <> 0),
      one AS (
        SELECT count(*) AS n_headers,
          count(DISTINCT claim_header_id) AS n_distinct,
          sum(CASE WHEN claim_type_id IS NULL
            OR claim_type_apcd_id IS NULL THEN 1 ELSE 0 END)
            AS n_untyped,
          sum(CASE WHEN inpatient_seq IS NOT NULL
            AND discharge_date IS NULL THEN 1 ELSE 0 END)
            AS n_ipt_no_discharge,
          sum(CASE WHEN ed_perform_seq IS NOT NULL
            AND ed_pophealth_seq IS NULL THEN 1 ELSE 0 END)
            AS n_edp_no_ph,
          count(DISTINCT CASE WHEN ed_pophealth_seq IS NOT NULL
            THEN CAST(id_apcd AS VARCHAR) || '|'
              || CAST(ed_pophealth_seq AS VARCHAR) END)
            AS n_ph_episodes
        FROM stage),
      pp AS (
        SELECT id_apcd,
          max(ed_pophealth_seq) AS mx_ph,
          count(DISTINCT ed_pophealth_seq) AS dc_ph,
          max(inpatient_seq) AS mx_ipt,
          count(DISTINCT inpatient_seq) AS dc_ipt,
          max(pc_visit_seq) AS mx_pc,
          count(DISTINCT pc_visit_seq) AS dc_pc,
          max(ed_perform_seq) AS mx_edp,
          count(DISTINCT ed_perform_seq) AS dc_edp
        FROM stage GROUP BY id_apcd),
      dens AS (
        SELECT
          sum(CASE WHEN mx_ph IS NOT NULL AND mx_ph <> dc_ph
            THEN 1 ELSE 0 END) AS viol_ph,
          sum(CASE WHEN mx_ipt IS NOT NULL AND mx_ipt <> dc_ipt
            THEN 1 ELSE 0 END) AS viol_ipt,
          sum(CASE WHEN mx_pc IS NOT NULL AND mx_pc <> dc_pc
            THEN 1 ELSE 0 END) AS viol_pc,
          sum(CASE WHEN mx_edp IS NOT NULL AND mx_edp <> dc_edp
            THEN 1 ELSE 0 END) AS viol_edp,
          sum(mx_ph) AS summax_ph
        FROM pp),
      gap AS (
        SELECT coalesce(sum(CASE WHEN prev_f IS NOT NULL
          AND date_diff('day', prev_f, first_service_date) > 1
          THEN 1 ELSE 0 END), 0) AS n_gap
        FROM (
          SELECT first_service_date,
            lag(first_service_date) OVER (
              PARTITION BY id_apcd, ed_pophealth_seq
              ORDER BY first_service_date) AS prev_f
          FROM stage WHERE ed_pophealth_seq IS NOT NULL)),
      m1 AS (
        SELECT count(*) AS n FROM stage s LEFT JOIN elig e
        ON s.id_apcd = e.id_apcd WHERE e.id_apcd IS NULL),
      m2 AS (
        SELECT count(*) AS n FROM stage s LEFT JOIN eligtv e
        ON s.id_apcd = e.id_apcd WHERE e.id_apcd IS NULL)
      SELECT * FROM (
        SELECT 'stage_apcd_claim_header' AS "table",
          '# of headers' AS qa_type,
          CAST(n_headers AS BIGINT) AS qa FROM one
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of distinct headers', CAST(n_distinct AS BIGINT) FROM one
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of claims with unmatched claim type, expect 0',
          CAST(n_untyped AS BIGINT) FROM one
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of ipt stays with no discharge date, expect 0',
          CAST(n_ipt_no_discharge AS BIGINT) FROM one
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of ed_perform rows with no ed_pophealth, expect 0',
          CAST(n_edp_no_ph AS BIGINT) FROM one
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of distinct (person, ed_pophealth) episodes',
          CAST(n_ph_episodes AS BIGINT) FROM one
        UNION ALL SELECT 'stage_apcd_claim_header',
          'sum of per-person max ed_pophealth_seq',
          CAST(coalesce(summax_ph, 0) AS BIGINT) FROM dens
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of persons with non-dense ed_pophealth_seq, expect 0',
          CAST(viol_ph AS BIGINT) FROM dens
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of persons with non-dense inpatient_seq, expect 0',
          CAST(viol_ipt AS BIGINT) FROM dens
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of persons with non-dense pc_visit_seq, expect 0',
          CAST(viol_pc AS BIGINT) FROM dens
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of persons with non-dense ed_perform_seq, expect 0',
          CAST(viol_edp AS BIGINT) FROM dens
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of ed_pophealth chain gaps greater than 1 day, expect 0',
          CAST(n_gap AS BIGINT) FROM gap
        UNION ALL SELECT 'apcd_medical_claim_header',
          '# of headers in raw table', CAST(n AS BIGINT) FROM rawc
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of members not in elig_demo, expect 0',
          CAST(n AS BIGINT) FROM m1
        UNION ALL SELECT 'stage_apcd_claim_header',
          '# of members not in elig_timevar, expect 0',
          CAST(n AS BIGINT) FROM m2)
      ORDER BY "table", qa_type"""),

    // q247: quarterly-refresh QA census — row/col census, pre-cutoff
    // monitors (service/paid/discharge date variants), per-extract
    // date envelopes, added-column non-null counts.
    "q247_quarterly_refresh_qa" -> """
      WITH co AS (SELECT count(*) AS n FROM orders),
      cl AS (SELECT count(*) AS n FROM lineitem),
      census AS (
        SELECT 'census' AS section, t AS table_name, i AS item,
          CAST(NULL AS INTEGER) AS extract_id, CAST(n AS BIGINT) AS n,
          CAST(NULL AS DATE) AS d
        FROM (
          SELECT 'apcd_medical_claim_header' AS t, 'row_count' AS i,
            (SELECT n FROM co) AS n
          UNION ALL SELECT 'apcd_medical_claim_header', 'col_count', 19
          UNION ALL SELECT 'apcd_medical_claim', 'row_count',
            (SELECT n FROM cl)
          UNION ALL SELECT 'apcd_medical_claim', 'col_count', 4
          UNION ALL SELECT 'apcd_claim_procedure_raw', 'row_count',
            (SELECT n FROM cl)
          UNION ALL SELECT 'apcd_claim_procedure_raw', 'col_count', 2
          UNION ALL SELECT 'apcd_claim_icdcm_raw', 'row_count',
            (SELECT n FROM cl)
          UNION ALL SELECT 'apcd_claim_icdcm_raw', 'col_count', 4
          UNION ALL SELECT 'apcd_claim_provider_raw', 'row_count',
            (SELECT n FROM cl)
          UNION ALL SELECT 'apcd_claim_provider_raw', 'col_count', 3)),
      pre AS (
        SELECT 'precutoff' AS section,
          'apcd_medical_claim_header' AS table_name,
          'rows_first_service_le_cutoff' AS item,
          CAST(NULL AS INTEGER) AS extract_id,
          CAST((SELECT count(*) FROM orders
            WHERE CAST(o_orderdate AS DATE) <= DATE '1995-12-31')
            AS BIGINT) AS n,
          CAST(NULL AS DATE) AS d
        UNION ALL SELECT 'precutoff', 'apcd_medical_claim_header',
          'rows_first_paid_le_cutoff', CAST(NULL AS INTEGER),
          CAST((SELECT count(*) FROM orders
            WHERE CAST(o_orderdate AS DATE) + 7 <= DATE '1995-12-31')
            AS BIGINT),
          CAST(NULL AS DATE)
        UNION ALL SELECT 'precutoff', 'apcd_medical_claim',
          'rows_discharge_le_cutoff', CAST(NULL AS INTEGER),
          CAST((SELECT count(*) FROM lineitem
            WHERE l_linenumber = 1 AND l_orderkey % 3 = 0
              AND CAST(l_shipdate AS DATE) <= DATE '1995-12-31')
            AS BIGINT),
          CAST(NULL AS DATE)),
      e1 AS (
        SELECT CAST(1 + o_orderkey % 4 AS INTEGER) AS extract_id,
          min(CAST(o_orderdate AS DATE)) AS mind,
          max(CAST(o_orderdate AS DATE)) AS maxd
        FROM orders GROUP BY 1),
      e2 AS (
        SELECT CAST(1 + l_orderkey % 4 AS INTEGER) AS extract_id,
          min(CASE WHEN l_linenumber = 1 AND l_orderkey % 3 = 0
            THEN CAST(l_shipdate AS DATE) END) AS mind,
          max(CASE WHEN l_linenumber = 1 AND l_orderkey % 3 = 0
            THEN CAST(l_shipdate AS DATE) END) AS maxd
        FROM lineitem GROUP BY 1),
      ext AS (
        SELECT 'extract_dates' AS section,
          'apcd_medical_claim_header' AS table_name,
          'min_date' AS item, extract_id, CAST(NULL AS BIGINT) AS n,
          mind AS d FROM e1
        UNION ALL SELECT 'extract_dates', 'apcd_medical_claim_header',
          'max_date', extract_id, CAST(NULL AS BIGINT), maxd FROM e1
        UNION ALL SELECT 'extract_dates', 'apcd_medical_claim',
          'min_date', extract_id, CAST(NULL AS BIGINT), mind FROM e2
        UNION ALL SELECT 'extract_dates', 'apcd_medical_claim',
          'max_date', extract_id, CAST(NULL AS BIGINT), maxd FROM e2),
      ca AS (
        SELECT 'column_add' AS section,
          'apcd_medical_claim' AS table_name,
          'submitted_claim_type_id_nonnull' AS item,
          CAST(NULL AS INTEGER) AS extract_id,
          CAST((SELECT count(*) FROM lineitem WHERE l_orderkey % 3 = 0)
            AS BIGINT) AS n,
          CAST(NULL AS DATE) AS d
        UNION ALL SELECT 'column_add', 'apcd_medical_claim',
          'eci_diagnosis_nonnull', CAST(NULL AS INTEGER),
          CAST((SELECT count(*) FROM lineitem WHERE l_orderkey % 7 = 0)
            AS BIGINT),
          CAST(NULL AS DATE))
      SELECT * FROM (
        SELECT * FROM census UNION ALL SELECT * FROM pre
        UNION ALL SELECT * FROM ext UNION ALL SELECT * FROM ca)
      ORDER BY section, table_name, item, extract_id""",

    // q155: apde identity crosswalk — pattern gates, most-recent link
    // dedup (KCMASTER tie-break), md5-prefix id_apde stand-in,
    // multiplicative KCMASTER full merges, NULL id_mcare placeholder.
    "q155_apde_xwalk" -> s"""
      WITH $XwalkHistCte,
      ${xwalkChainCtes("hist", "")}
      SELECT * FROM j2
      ORDER BY id_apde, KCMASTER_ID, id_mcaid, phousing_id""",

    // q156: APCD elig_month — presence-combination covgrps, market
    // flags, empirical dual, ZIP geo attach, month boundaries, periods.
    "q156_apcd_elig_month" -> """
      WITH mm AS (
        SELECT o_custkey % 300 AS id_apcd,
          strftime(CAST(o_orderdate AS DATE), '%Y%m') AS ym,
          CASE WHEN o_orderkey % 5 = 0 THEN '98101'
            WHEN o_orderkey % 5 = 1 THEN '98052'
            WHEN o_orderkey % 5 = 2 THEN '99201'
            WHEN o_orderkey % 5 = 3 THEN '97201' END AS zip_code,
          CASE WHEN (o_orderkey // 1) % 2 = 0 THEN o_orderkey END AS mm1,
          CASE WHEN (o_orderkey // 2) % 2 = 0 THEN o_orderkey END AS mm2,
          CASE WHEN (o_orderkey // 4) % 2 = 0 THEN o_orderkey END AS mm3,
          CASE WHEN (o_orderkey // 8) % 2 = 0 THEN o_orderkey END AS ma,
          CASE WHEN (o_orderkey // 16) % 2 = 0 THEN o_orderkey END AS rx1,
          CASE WHEN (o_orderkey // 32) % 2 = 0 THEN o_orderkey END AS rx2,
          CASE WHEN (o_orderkey // 64) % 2 = 0 THEN o_orderkey END AS rx3,
          CASE WHEN (o_orderkey // 128) % 2 = 0 THEN o_orderkey END AS ra,
          CASE WHEN (o_orderkey // 256) % 2 = 0 THEN o_orderkey END AS d1,
          CASE WHEN (o_orderkey // 512) % 2 = 0 THEN o_orderkey END AS d2,
          CASE WHEN (o_orderkey // 1024) % 2 = 0 THEN o_orderkey END
            AS d3,
          CASE WHEN (o_orderkey // 2048) % 2 = 0 THEN o_orderkey END
            AS da
        FROM orders),
      grp AS (
        SELECT id_apcd, ym, zip_code,
          CAST(strptime(ym || '01', '%Y%m%d') AS DATE) AS from_date,
          last_day(CAST(strptime(ym || '01', '%Y%m%d') AS DATE))
            AS to_date,
          CASE WHEN coalesce(mm1, rx1, d1) IS NOT NULL
            AND coalesce(mm3, rx3, d3) IS NOT NULL THEN 1 ELSE 0 END
            AS dual,
          CASE
            WHEN mm1 IS NOT NULL AND mm2 IS NULL AND mm3 IS NULL THEN 1
            WHEN mm1 IS NULL AND mm2 IS NULL AND mm3 IS NOT NULL THEN 2
            WHEN mm1 IS NULL AND mm2 IS NOT NULL AND mm3 IS NULL THEN 3
            WHEN mm1 IS NOT NULL AND mm2 IS NULL AND mm3 IS NOT NULL
              THEN 4
            WHEN mm1 IS NOT NULL AND mm2 IS NOT NULL AND mm3 IS NULL
              THEN 5
            WHEN mm1 IS NULL AND mm2 IS NOT NULL AND mm3 IS NOT NULL
              THEN 6
            WHEN mm1 IS NOT NULL AND mm2 IS NOT NULL AND mm3 IS NOT NULL
              THEN 7
            WHEN ma IS NOT NULL THEN 8 ELSE 0 END AS med_covgrp,
          CASE
            WHEN rx1 IS NOT NULL AND rx2 IS NULL AND rx3 IS NULL THEN 1
            WHEN rx1 IS NULL AND rx2 IS NULL AND rx3 IS NOT NULL THEN 2
            WHEN rx1 IS NULL AND rx2 IS NOT NULL AND rx3 IS NULL THEN 3
            WHEN rx1 IS NOT NULL AND rx2 IS NULL AND rx3 IS NOT NULL
              THEN 4
            WHEN rx1 IS NOT NULL AND rx2 IS NOT NULL AND rx3 IS NULL
              THEN 5
            WHEN rx1 IS NULL AND rx2 IS NOT NULL AND rx3 IS NOT NULL
              THEN 6
            WHEN rx1 IS NOT NULL AND rx2 IS NOT NULL AND rx3 IS NOT NULL
              THEN 7
            WHEN ra IS NOT NULL THEN 8 ELSE 0 END AS pharm_covgrp,
          CASE
            WHEN d1 IS NOT NULL AND d2 IS NULL AND d3 IS NULL THEN 1
            WHEN d1 IS NULL AND d2 IS NULL AND d3 IS NOT NULL THEN 2
            WHEN d1 IS NULL AND d2 IS NOT NULL AND d3 IS NULL THEN 3
            WHEN d1 IS NOT NULL AND d2 IS NULL AND d3 IS NOT NULL THEN 4
            WHEN d1 IS NOT NULL AND d2 IS NOT NULL AND d3 IS NULL THEN 5
            WHEN d1 IS NULL AND d2 IS NOT NULL AND d3 IS NOT NULL THEN 6
            WHEN d1 IS NOT NULL AND d2 IS NOT NULL AND d3 IS NOT NULL
              THEN 7
            WHEN da IS NOT NULL THEN 8 ELSE 0 END AS dental_covgrp
        FROM mm),
      zg(zip_code, zip_group_type_desc, zip_group_code, zip_group_desc)
        AS (VALUES
        ('98101','County',NULL,'King'), ('98052','County',NULL,'King'),
        ('99201','County',NULL,'Spokane'),
        ('98101','Accountable Community of Health','ACH-KC',
          'HealthierHere'),
        ('98052','Accountable Community of Health','ACH-KC',
          'HealthierHere'),
        ('99201','Accountable Community of Health','ACH-BH',
          'Better Health Together')),
      county AS (
        SELECT DISTINCT zip_code, zip_group_desc FROM zg
        WHERE zip_group_type_desc = 'County'),
      ach AS (
        SELECT DISTINCT zip_code, zip_group_code, zip_group_desc FROM zg
        WHERE left(zip_group_type_desc, 3) = 'Acc'),
      fips(geo_county_name, geo_county_code_fips) AS (VALUES
        ('King','033'), ('Spokane','063'))
      SELECT a.id_apcd, a.from_date, a.to_date, a.ym AS year_month,
        CAST(substring(a.ym, 1, 4) AS INT) * 10 +
          (CAST(substring(a.ym, 5, 2) AS INT) + 2) // 3 AS year_quarter,
        CAST(substring(a.ym, 1, 4) AS INT) AS "year",
        a.med_covgrp, a.pharm_covgrp, a.dental_covgrp,
        CASE WHEN a.med_covgrp IN (1,4,5,7) THEN 1 ELSE 0 END
          AS med_medicaid,
        CASE WHEN a.med_covgrp IN (2,4,6,7) THEN 1 ELSE 0 END
          AS med_medicare,
        CASE WHEN a.med_covgrp IN (3,5,6,7) THEN 1 ELSE 0 END
          AS med_commercial,
        CASE WHEN a.med_covgrp = 8 THEN 1 ELSE 0 END AS med_unknown,
        CASE WHEN a.pharm_covgrp IN (1,4,5,7) THEN 1 ELSE 0 END
          AS pharm_medicaid,
        CASE WHEN a.pharm_covgrp IN (2,4,6,7) THEN 1 ELSE 0 END
          AS pharm_medicare,
        CASE WHEN a.pharm_covgrp IN (3,5,6,7) THEN 1 ELSE 0 END
          AS pharm_commercial,
        CASE WHEN a.pharm_covgrp = 8 THEN 1 ELSE 0 END AS pharm_unknown,
        CASE WHEN a.dental_covgrp IN (1,4,5,7) THEN 1 ELSE 0 END
          AS dental_medicaid,
        CASE WHEN a.dental_covgrp IN (2,4,6,7) THEN 1 ELSE 0 END
          AS dental_medicare,
        CASE WHEN a.dental_covgrp IN (3,5,6,7) THEN 1 ELSE 0 END
          AS dental_commercial,
        CASE WHEN a.dental_covgrp = 8 THEN 1 ELSE 0 END
          AS dental_unknown,
        a.dual, a.zip_code AS geo_zip,
        f.geo_county_code_fips AS geo_county_code,
        b.zip_group_desc AS geo_county,
        c.zip_group_code AS geo_ach_code, c.zip_group_desc AS geo_ach,
        CASE WHEN b.zip_group_desc IS NOT NULL THEN 1 ELSE 0 END
          AS geo_wa,
        CASE WHEN b.zip_group_desc = 'King' THEN 1 ELSE 0 END AS geo_kc,
        date_diff('day', a.from_date, a.to_date) + 1 AS cov_time_day
      FROM grp a
      LEFT JOIN county b ON a.zip_code = b.zip_code
      LEFT JOIN ach c ON a.zip_code = c.zip_code
      LEFT JOIN fips f ON b.zip_group_desc = f.geo_county_name
      ORDER BY a.id_apcd, a.from_date, a.med_covgrp, a.pharm_covgrp,
        a.dental_covgrp, geo_zip""",

    // q157: mcare claim_pharm — five facility NDC arms (charclass
    // exclusion, ResDAC denial rule, enrollment existence, NDC pad) +
    // three drifted Part D arms (ON-clause enrollment quirk kept).
    "q157_mcare_claim_pharm" -> """
      WITH enroll AS (
        SELECT 'B' || CAST(c_custkey AS VARCHAR) AS bene_id
        FROM customer WHERE c_custkey % 7 <> 3),
      fac_rev AS (
        SELECT 'B' || CAST(o_custkey AS VARCHAR) AS bene_id,
          'C' || CAST(l_orderkey AS VARCHAR) AS clm_id,
          CAST(l_linenumber AS VARCHAR) AS clm_line_num,
          CASE WHEN l_partkey % 13 = 0 THEN NULL
            WHEN l_partkey % 13 = 1
            THEN 'N' || lpad(CAST(l_partkey % 9999 AS VARCHAR), 4, '0')
            ELSE lpad(CAST(l_partkey % 100000000 AS VARCHAR), 8, '0')
            END AS ndc_raw,
          l_quantity + 0.25 AS qty,
          CASE WHEN l_suppkey % 2 = 0 THEN 'UN' ELSE 'ML' END AS qlfr,
          CASE WHEN o_orderkey % 5 = 0 THEN 'hha'
            WHEN o_orderkey % 5 = 1 THEN 'hospice'
            WHEN o_orderkey % 5 = 2 THEN 'inpatient'
            WHEN o_orderkey % 5 = 3 THEN 'outpatient'
            ELSE 'snf' END AS ft
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      fac_base AS (
        SELECT 'C' || CAST(o_orderkey AS VARCHAR) AS clm_id,
          CAST(o_orderdate AS DATE) AS thru,
          CASE WHEN o_orderkey % 11 = 0 THEN 'N'
            WHEN o_orderkey % 11 = 1 THEN NULL ELSE '' END AS nonpmt
        FROM orders WHERE o_orderkey % 19 <> 0),
      fac AS (
        SELECT r.bene_id AS id_mcare, r.clm_id AS claim_header_id,
          r.clm_line_num AS claim_line_id, b.thru AS last_service_date,
          CAST(NULL AS VARCHAR) AS prscrbr_npi,
          right('00000000000' || r.ndc_raw, 11) AS ndc,
          CAST(r.qty AS DOUBLE) AS facility_drug_quantity,
          r.qlfr AS facility_drug_quantity_unit,
          CAST(NULL AS VARCHAR) AS cmpnd_cd,
          CAST(NULL AS DOUBLE) AS qty_dspnsd_num,
          CAST(NULL AS INT) AS days_suply_num,
          CAST(NULL AS INT) AS fill_num,
          CAST(NULL AS DOUBLE) AS ptnt_pay_amt,
          CAST(NULL AS DOUBLE) AS othr_troop_amt,
          CAST(NULL AS DOUBLE) AS lics_amt,
          CAST(NULL AS DOUBLE) AS plro_amt,
          CAST(NULL AS DOUBLE) AS cvrd_d_plan_pd_amt,
          CAST(NULL AS DOUBLE) AS ncvrd_plan_pd_amt,
          CAST(NULL AS DOUBLE) AS tot_rx_cst_amt,
          CAST(NULL AS VARCHAR) AS dosage_form_code,
          CAST(NULL AS VARCHAR) AS dosage_form_code_desc,
          CAST(NULL AS VARCHAR) AS strength,
          CAST(NULL AS VARCHAR) AS pharmacy_id,
          CAST(NULL AS VARCHAR) AS brand_generic_flag,
          CAST(NULL AS VARCHAR) AS pharmacy_type,
          r.ft AS filetype_mcare
        FROM fac_rev r LEFT JOIN fac_base b ON r.clm_id = b.clm_id
        WHERE r.ndc_raw IS NOT NULL
          AND NOT regexp_matches(substring(r.ndc_raw, 1, 1), '^[A-Z]$')
          AND (b.nonpmt = '' OR b.nonpmt IS NULL)
          AND r.bene_id IN (SELECT bene_id FROM enroll)),
      pde_src AS (
        SELECT 'B' || CAST(o_custkey AS VARCHAR) AS bene_id,
          'P' || CAST(o_orderkey AS VARCHAR) AS pde_id,
          CAST(o_orderdate AS DATE) AS srvc_dt,
          CASE WHEN o_orderkey % 4 = 0 THEN '1'
            WHEN o_orderkey % 4 = 1 THEN '01'
            WHEN o_orderkey % 4 = 2 THEN '7' END AS qlfr,
          lpad(CAST(o_orderkey % 2000000000 AS VARCHAR), 10, '0')
            AS prscrbr_id,
          lpad(CAST((o_orderkey * 3) % 999999999 AS VARCHAR), 9, '0')
            AS prod_srvc_id,
          CAST(o_orderkey % 2 AS VARCHAR) AS cmpnd_cd,
          CAST(o_orderkey % 300 AS DOUBLE) * 0.5 AS qty_dspnsd_num,
          CAST(o_orderkey % 90 AS INT) AS days_suply_num,
          CAST(o_orderkey % 12 AS INT) AS fill_num,
          CAST(o_totalprice AS DOUBLE) * 0.1 AS ptnt_pay_amt,
          CAST(o_totalprice AS DOUBLE) * 0.05 AS othr_troop_amt,
          CAST(o_totalprice AS DOUBLE) * 0.02 AS lics_amt,
          CAST(o_totalprice AS DOUBLE) * 0.01 AS plro_amt,
          CAST(o_totalprice AS DOUBLE) * 0.6 AS cvrd_d_plan_pd_amt,
          CAST(o_totalprice AS DOUBLE) * 0.15 AS ncvrd_plan_pd_amt,
          CAST(o_totalprice AS DOUBLE) * 0.93 AS tot_rx_cst_amt,
          CASE WHEN o_orderkey % 2 = 0 THEN 'TAB' ELSE 'CAP' END AS gcdf,
          CASE WHEN o_orderkey % 2 = 0 THEN 'TABLET' ELSE 'CAPSULE' END
            AS gcdf_desc,
          CAST(o_orderkey % 500 AS VARCHAR) || 'MG' AS strength,
          lpad(CAST(o_orderkey % 90000 AS VARCHAR), 5, '0') AS ncpdp_id,
          CASE WHEN o_orderkey % 2 = 0 THEN 'B' ELSE 'G' END AS brnd,
          CAST(o_orderkey % 9 AS VARCHAR) AS ptype,
          o_orderkey % 3 AS slice
        FROM orders),
      pde AS (
        SELECT bene_id AS id_mcare, pde_id AS claim_header_id,
          CAST(NULL AS VARCHAR) AS claim_line_id,
          srvc_dt AS last_service_date,
          CASE WHEN qlfr IN ('1','01') THEN prscrbr_id END AS prscrbr_npi,
          right('00000000000' || prod_srvc_id, 11) AS ndc,
          CAST(NULL AS DOUBLE) AS facility_drug_quantity,
          CAST(NULL AS VARCHAR) AS facility_drug_quantity_unit,
          cmpnd_cd,
          qty_dspnsd_num, days_suply_num, fill_num,
          ptnt_pay_amt, othr_troop_amt, lics_amt, plro_amt,
          cvrd_d_plan_pd_amt,
          CASE WHEN slice <> 1 THEN ncvrd_plan_pd_amt END
            AS ncvrd_plan_pd_amt,
          tot_rx_cst_amt,
          gcdf AS dosage_form_code, gcdf_desc AS dosage_form_code_desc,
          strength, ncpdp_id AS pharmacy_id,
          brnd AS brand_generic_flag, ptype AS pharmacy_type,
          'pharmacy' AS filetype_mcare
        FROM pde_src
        WHERE slice IN (0, 1)
          OR (slice = 2 AND bene_id IN (SELECT bene_id FROM enroll)))
      SELECT DISTINCT * FROM (
        SELECT * FROM fac UNION ALL SELECT * FROM pde)
      ORDER BY filetype_mcare, claim_header_id, claim_line_id, ndc""",

    // q158: mcare claim_provider — per-filetype role matrices UNPIVOTed
    // to long, 10-digit ISNUMERIC NPI gate, role-mapped zip/specialty,
    // carrier-vs-facility denial rules, rendering coalesce.
    "q158_mcare_claim_provider" -> """
      WITH base AS (
        SELECT 'B' || CAST(o_custkey AS VARCHAR) AS id_mcare,
          'C' || CAST(o_orderkey AS VARCHAR) AS chid,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + 3 AS lsd,
          CASE WHEN o_orderkey % 7 = 0 THEN 'carrier'
            WHEN o_orderkey % 7 = 1 THEN 'dme'
            WHEN o_orderkey % 7 = 2 THEN 'hha'
            WHEN o_orderkey % 7 = 3 THEN 'hospice'
            WHEN o_orderkey % 7 = 4 THEN 'inpatient'
            WHEN o_orderkey % 7 = 5 THEN 'outpatient'
            ELSE 'snf' END AS ft,
          CASE WHEN o_orderkey % 10 = 0 THEN '0'
            ELSE CAST(1 + o_orderkey % 9 AS VARCHAR) END AS dnl,
          CASE WHEN o_orderkey % 11 = 0 THEN 'N'
            WHEN o_orderkey % 11 = 1 THEN NULL ELSE '' END AS nonpmt,
          o_orderkey AS ok, o_custkey AS ck
        FROM orders),
      filtered AS (
        SELECT * FROM base
        WHERE CASE WHEN ft IN ('carrier','dme')
          THEN dnl IN ('1','2','3','4','5','6','7','8','9')
          ELSE (nonpmt = '' OR nonpmt IS NULL) END),
      npis AS (
        SELECT *,
          CASE WHEN (ok*31+7) % 5 = 0
            THEN lpad(CAST((ok*31+7) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+7) % 5 = 1
            THEN lpad(CAST((ok*31+7) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+7) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+7) % 99999999 AS VARCHAR), 9, '0')
            END AS npi1,
          CASE WHEN (ok*31+14) % 5 = 0
            THEN lpad(CAST((ok*31+14) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+14) % 5 = 1
            THEN lpad(CAST((ok*31+14) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+14) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+14) % 99999999 AS VARCHAR), 9, '0')
            END AS npi2,
          CASE WHEN (ok*31+21) % 5 = 0
            THEN lpad(CAST((ok*31+21) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+21) % 5 = 1
            THEN lpad(CAST((ok*31+21) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+21) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+21) % 99999999 AS VARCHAR), 9, '0')
            END AS npi3,
          CASE WHEN (ok*31+28) % 5 = 0
            THEN lpad(CAST((ok*31+28) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+28) % 5 = 1
            THEN lpad(CAST((ok*31+28) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+28) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+28) % 99999999 AS VARCHAR), 9, '0')
            END AS npi4,
          CASE WHEN (ok*31+35) % 5 = 0
            THEN lpad(CAST((ok*31+35) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+35) % 5 = 1
            THEN lpad(CAST((ok*31+35) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+35) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+35) % 99999999 AS VARCHAR), 9, '0')
            END AS npi5,
          CASE WHEN (ok*31+42) % 5 = 0
            THEN lpad(CAST((ok*31+42) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+42) % 5 = 1
            THEN lpad(CAST((ok*31+42) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+42) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+42) % 99999999 AS VARCHAR), 9, '0')
            END AS npi6,
          CASE WHEN (ok*31+49) % 5 = 0
            THEN lpad(CAST((ok*31+49) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+49) % 5 = 1
            THEN lpad(CAST((ok*31+49) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+49) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+49) % 99999999 AS VARCHAR), 9, '0')
            END AS npi7,
          CASE WHEN (ok*31+56) % 5 = 0
            THEN lpad(CAST((ok*31+56) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+56) % 5 = 1
            THEN lpad(CAST((ok*31+56) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+56) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+56) % 99999999 AS VARCHAR), 9, '0')
            END AS npi8,
          CASE WHEN (ok*31+63) % 5 = 0
            THEN lpad(CAST((ok*31+63) % 999999999 AS VARCHAR), 10, '0')
            WHEN (ok*31+63) % 5 = 1
            THEN lpad(CAST((ok*31+63) % 99999999 AS VARCHAR), 9, '0')
            WHEN (ok*31+63) % 5 = 2
            THEN 'A' || lpad(CAST((ok*31+63) % 99999999 AS VARCHAR), 9, '0')
            END AS npi9
        FROM filtered),
      roles(role) AS (VALUES ('billing'),('referring'),
        ('care_plan_oversight'),('site_of_service'),('rendering'),
        ('organization'),('attending'),('operating'),('other')),
      longr AS (
        SELECT n.*, r.role,
          n.ft NOT IN ('carrier','dme') AS fac,
          CASE r.role
            WHEN 'billing' THEN n.npi1
            WHEN 'referring' THEN n.npi2
            WHEN 'care_plan_oversight' THEN
              CASE WHEN n.ft = 'carrier' THEN n.npi3 END
            WHEN 'site_of_service' THEN
              CASE WHEN n.ft <> 'dme' THEN n.npi4 END
            WHEN 'rendering' THEN
              CASE WHEN n.ft = 'carrier' THEN n.npi5
                WHEN n.ft NOT IN ('carrier','dme') THEN
                  coalesce(CASE WHEN n.ok % 3 <> 0 THEN n.npi5 END,
                    n.npi6) END
            WHEN 'organization' THEN
              CASE WHEN n.ft = 'carrier' THEN n.npi6 END
            WHEN 'attending' THEN
              CASE WHEN n.ft NOT IN ('carrier','dme') THEN n.npi7 END
            WHEN 'operating' THEN
              CASE WHEN n.ft NOT IN ('carrier','dme') THEN n.npi8 END
            WHEN 'other' THEN
              CASE WHEN n.ft NOT IN ('carrier','dme') THEN n.npi9 END
            END AS providers
        FROM npis n CROSS JOIN roles r)
      SELECT DISTINCT id_mcare, chid AS claim_header_id,
        fsd AS first_service_date, lsd AS last_service_date,
        CAST(providers AS BIGINT) AS provider_npi,
        role AS provider_type,
        CASE WHEN ft = 'carrier' THEN CAST(ok % 9 AS VARCHAR) END
          AS provider_type_nch,
        CASE WHEN ft = 'carrier'
          THEN lpad(CAST(ok % 999999999 AS VARCHAR), 9, '0') END
          AS provider_tin,
        CASE WHEN role = 'rendering' AND ft NOT IN ('dme','hospice')
          THEN lpad(CAST(ck % 99999 AS VARCHAR), 5, '0')
          WHEN role = 'billing' AND ft = 'carrier'
          THEN lpad(CAST((ck + 7) % 99999 AS VARCHAR), 5, '0') END
          AS provider_zip,
        CASE WHEN role = 'attending' AND fac
          THEN lpad(CAST((ok + 1) % 100 AS VARCHAR), 2, '0')
          WHEN role = 'operating' AND fac
          THEN lpad(CAST((ok + 2) % 100 AS VARCHAR), 2, '0')
          WHEN role = 'other' AND fac
          THEN lpad(CAST((ok + 3) % 100 AS VARCHAR), 2, '0')
          WHEN role = 'referring' AND fac
          THEN lpad(CAST((ok + 4) % 100 AS VARCHAR), 2, '0')
          WHEN role = 'rendering' AND ft = 'carrier'
          THEN lpad(CAST((ok + 5) % 100 AS VARCHAR), 2, '0')
          WHEN role = 'rendering' AND fac THEN
            CASE WHEN ok % 3 <> 0 AND npi5 IS NOT NULL
              THEN lpad(CAST((ok + 5) % 100 AS VARCHAR), 2, '0')
              ELSE lpad(CAST((ok + 6) % 100 AS VARCHAR), 2, '0') END
          END AS provider_specialty,
        ft AS filetype_mcare
      FROM longr
      WHERE length(providers) = 10
        AND regexp_matches(providers, '^[0-9]+$')
      ORDER BY filetype_mcare, claim_header_id, provider_type,
        provider_npi""",

    // q159: mcaid elig_demo extra — noncisgender set-algebra cascade
    // (dx sets, cancer-excluded procedure sets, parsed-strength hormone
    // sets, gender-gated intersections, conflict removal).
    "q159_elig_demo_extra" -> """
      WITH fact AS (
        SELECT o_custkey % 120 AS id, l_orderkey AS chid,
          l_partkey AS pk, l_suppkey AS sk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      dx AS (
        SELECT id, chid,
          CASE WHEN pk % 4 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN pk % 4 = 0 THEN
            CASE WHEN pk % 13 = 0 THEN '1830'
              WHEN pk % 13 = 1 THEN '1841'
              WHEN pk % 13 = 2 THEN '18751'
              WHEN pk % 13 = 3 THEN '18712'
              ELSE lpad(CAST(pk % 999 AS VARCHAR), 4, '0') END
          ELSE
            CASE WHEN pk % 13 = 0 THEN 'F64' || CAST(pk % 10 AS VARCHAR)
              WHEN pk % 13 = 1 THEN 'F6510'
              WHEN pk % 13 = 2 THEN 'Z878901'
              WHEN pk % 13 = 3 THEN 'E348'
              WHEN pk % 13 = 4 THEN 'E049'
              WHEN pk % 13 = 5 THEN 'E251'
              WHEN pk % 13 = 6 THEN 'E70'
              WHEN pk % 13 = 7 THEN 'C561'
              WHEN pk % 13 = 8 THEN 'C511'
              WHEN pk % 13 = 9 THEN 'C62'
              WHEN pk % 13 = 10 THEN 'C601'
              ELSE 'A' || lpad(CAST(pk % 400 AS VARCHAR), 3, '0') END
          END AS norm
        FROM fact),
      prc AS (
        SELECT id, chid,
          CASE WHEN pk % 17 = 0 THEN '55980'
            WHEN pk % 17 = 1 THEN '58661'
            WHEN pk % 17 = 2 THEN '0UTG0ZZ'
            WHEN pk % 17 = 3 THEN '55970'
            WHEN pk % 17 = 4 THEN '54520'
            WHEN pk % 17 = 5 THEN '643'
            WHEN pk % 17 = 6 THEN '15757'
            WHEN pk % 17 = 7 THEN '0W4M070'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0') END AS code
        FROM fact),
      ph AS (
        SELECT id,
          CASE WHEN sk % 7 = 0 THEN '10000000001'
            WHEN sk % 7 = 1 THEN '10000000002'
            WHEN sk % 7 = 2 THEN '10000000003'
            WHEN sk % 7 = 3 THEN '10000000004'
            WHEN sk % 7 = 4 THEN '10000000005'
            ELSE lpad(CAST(sk * 11 AS VARCHAR), 11, '0') END AS ndc
        FROM fact),
      demo AS (
        SELECT id, CASE WHEN id % 3 = 0 THEN 'Female'
          WHEN id % 3 = 1 THEN 'Male' ELSE 'Multiple' END AS gender_me
        FROM (SELECT DISTINCT c_custkey % 120 AS id FROM customer)),
      ndcref(ndc, name, form, strength) AS (VALUES
        ('10000000001','ESTRADIOL VALERATE','INJECTION','10 mg'),
        ('10000000002','NANDROLONE DECANOATE','INJECTION','200 '),
        ('10000000003','TESTOSTERONE CYPIONATE','INJECTION','100; 50'),
        ('10000000004','TESTOSTERONE','GEL','1.62'),
        ('10000000005','SPIRONOLACTONE','TABLET','50'),
        ('10000000006','ASPIRIN','TABLET','325')),
      ndcref2 AS (
        SELECT *, TRY_CAST(string_split(string_split(strength, ';')[1],
          ' ')[1] AS DOUBLE) AS sval
        FROM ndcref),
      dys AS (SELECT DISTINCT id FROM dx
        WHERE regexp_matches(norm, '^(F64|F651|Z87890)')),
      endo AS (SELECT DISTINCT id FROM dx WHERE regexp_matches(norm,
        '^(E34[89]|E0[0-7]|E2[0-7]|E31|E34[0-4]|E7|E8[03457]|E88[0-4])')),
      ftm1 AS (SELECT DISTINCT id FROM prc WHERE code IN
        ('0W4N071','0W4N0J1','0W4N0K1','15757','53410','55175','55180',
         '55899','55980','57120','64856')),
      ftm2 AS (SELECT DISTINCT id FROM prc WHERE code = '58661'
        AND chid NOT IN (SELECT chid FROM dx
          WHERE (ver = 9 AND norm LIKE '183%')
            OR (ver = 10 AND regexp_matches(norm, '^C5[67]')))),
      ftm3 AS (SELECT DISTINCT id FROM prc WHERE code IN
        ('58661','704','7162','0UTG0ZZ','0UTG4ZZ','0UTG7ZZ','0UTG8ZZ',
         '0UTM0ZZ','0UTMXZZ')
        AND chid NOT IN (SELECT chid FROM dx
          WHERE (ver = 9 AND norm LIKE '184%')
            OR (ver = 10 AND regexp_matches(norm, '^C5[12]')))),
      tmproc AS (SELECT id FROM ftm1 UNION SELECT id FROM ftm2
        UNION SELECT id FROM ftm3),
      mtf1 AS (SELECT DISTINCT id FROM prc WHERE code IN
        ('0W4M070','0W4M0J0','0W4M0K0','0W4M0Z0','21209','31899','53430',
         '54125','55970','56805','57335','58999')),
      mtf2 AS (SELECT DISTINCT id FROM prc WHERE code IN ('54520','54690')
        AND chid NOT IN (SELECT chid FROM dx
          WHERE (ver = 9 AND regexp_matches(norm, '^187[5-9]'))
            OR (ver = 10 AND regexp_matches(norm, '^C6[23]')))),
      mtf3 AS (SELECT DISTINCT id FROM prc WHERE code IN
        ('643','0VTS0ZZ','0VTS4ZZ','0VTSXZZ')
        AND chid NOT IN (SELECT chid FROM dx
          WHERE (ver = 9 AND regexp_matches(norm, '^187[1-4]'))
            OR (ver = 10 AND norm LIKE 'C60%'))),
      tfproc AS (SELECT id FROM mtf1 UNION SELECT id FROM mtf2
        UNION SELECT id FROM mtf3),
      femnoreq AS (SELECT DISTINCT p.id FROM ph p JOIN ndcref2 r
        ON p.ndc = r.ndc
        WHERE r.name LIKE '%ESTRAD%' OR r.name LIKE '%ESTRO%'
          OR r.name LIKE '%ESTRIOL%' OR r.name LIKE '%ESTR/PRG%'),
      mascnoreq AS (SELECT DISTINCT p.id FROM ph p JOIN ndcref2 r
        ON p.ndc = r.ndc
        WHERE r.name LIKE '%DIHYDROTESTOSTERONE PROPIONATE%'
          OR r.name LIKE '%NANDROLONE%' OR r.name LIKE '%STANOLONE%'
          OR r.name LIKE '%STANOZOLOL%'),
      mascmin AS (SELECT DISTINCT p.id FROM ph p JOIN ndcref2 r
        ON p.ndc = r.ndc
        WHERE r.name LIKE '%TESTOSTERONE%' AND
          ((r.sval >= 7 AND r.form IN ('INJECTION','INJECTION, SOLUTION'))
           OR (r.sval >= 2 AND r.form IN ('GEL','PATCH','GEL, METERED')))),
      femmin AS (SELECT DISTINCT p.id FROM ph p JOIN ndcref2 r
        ON p.ndc = r.ndc
        WHERE r.name LIKE '%SPIRONOLACTONE%' AND r.sval >= 50),
      masch AS (SELECT id FROM mascnoreq UNION SELECT id FROM mascmin),
      femh AS (SELECT id FROM femnoreq UNION SELECT id FROM femmin),
      transunk AS (SELECT id FROM dys EXCEPT
        (SELECT id FROM tmproc UNION SELECT id FROM tfproc)),
      tmids AS (
        SELECT id FROM tmproc
        UNION (SELECT id FROM endo INTERSECT SELECT id FROM tmproc)
        UNION (SELECT id FROM tmproc INTERSECT SELECT id FROM masch)
        UNION (SELECT id FROM demo WHERE gender_me = 'Female'
          INTERSECT SELECT id FROM endo
          INTERSECT SELECT id FROM masch)),
      tfids AS (
        SELECT id FROM tfproc
        UNION (SELECT id FROM endo INTERSECT SELECT id FROM tfproc)
        UNION (SELECT id FROM tfproc INTERSECT SELECT id FROM femh)
        UNION (SELECT id FROM demo WHERE gender_me = 'Male'
          INTERSECT SELECT id FROM endo
          INTERSECT SELECT id FROM femh)),
      conflicts AS (SELECT id FROM tmids INTERSECT SELECT id FROM tfids),
      flagged AS (
        (SELECT id FROM tmids EXCEPT SELECT id FROM conflicts)
        UNION (SELECT id FROM tfids EXCEPT SELECT id FROM conflicts)
        UNION (SELECT id FROM transunk EXCEPT SELECT id FROM tmids
          EXCEPT SELECT id FROM tfids))
      SELECT d.id AS id_mcaid, d.gender_me,
        CASE WHEN f.id IS NOT NULL THEN 1 ELSE 0 END AS noncisgender
      FROM demo d LEFT JOIN flagged f ON d.id = f.id
      ORDER BY id_mcaid""",

    // q160: mcaid perf elig member-month — plan recode, King ZIP gate,
    // longest-span row pick per (member, month), pinned tie-break.
    "q160_perf_member_month" -> """
      WITH raw AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m') AS ym,
          'M' || CAST(o_custkey % 150 AS VARCHAR) AS mid,
          lpad(CAST(o_orderkey % 50 AS VARCHAR), 4, '0') AS rac,
          date_trunc('month', CAST(o_orderdate AS DATE))::DATE AS fromd,
          least(date_trunc('month', CAST(o_orderdate AS DATE))::DATE
              + CAST(o_orderkey % 40 AS INT),
            last_day(CAST(o_orderdate AS DATE))) AS tod,
          CASE WHEN o_orderkey % 3 = 0 THEN 'MC' ELSE 'FFS' END AS cov,
          CASE WHEN o_orderkey % 7 = 0 THEN 'Amerigroup Washington Inc'
            WHEN o_orderkey % 7 = 1
              THEN 'Community Health Plan of Washington'
            WHEN o_orderkey % 7 = 2 THEN 'Coordinated Care Corporation'
            WHEN o_orderkey % 7 = 3 THEN 'Coordinated Care of Washington'
            WHEN o_orderkey % 7 = 4
              THEN 'Molina Healthcare of Washington Inc'
            WHEN o_orderkey % 7 = 5
              THEN 'United Health Care Community Plan'
            ELSE 'Some Other Plan' END AS pname,
          CASE WHEN o_orderkey % 5 = 0 THEN 'Y' ELSE 'N' END AS dual,
          CASE WHEN o_orderkey % 6 = 0 THEN 'Y' ELSE 'N' END AS tpl,
          CASE WHEN o_orderkey % 4 = 0 THEN '98101'
            WHEN o_orderkey % 4 = 1 THEN '98052'
            WHEN o_orderkey % 4 = 2 THEN '99201' END AS zip
        FROM orders),
      staged AS (
        SELECT CAST(ym AS INT) AS CLNDR_YEAR_MNTH,
          mid AS MEDICAID_RECIPIENT_ID, rac AS RPRTBL_RAC_CODE,
          fromd AS FROM_DATE, tod AS TO_DATE,
          cov AS COVERAGE_TYPE_IND,
          CASE WHEN cov = 'MC' AND pname = 'Amerigroup Washington Inc'
              THEN 'AGP'
            WHEN cov = 'MC'
              AND pname = 'Community Health Plan of Washington'
              THEN 'CHP'
            WHEN cov = 'MC' AND pname IN ('Coordinated Care Corporation',
              'Coordinated Care of Washington') THEN 'CCW'
            WHEN cov = 'MC'
              AND pname = 'Molina Healthcare of Washington Inc'
              THEN 'MHW'
            WHEN cov = 'MC'
              AND pname = 'United Health Care Community Plan'
              THEN 'UHC' END AS MC_PRVDR_NAME,
          dual AS DUAL_ELIG, tpl AS TPL_FULL_FLAG,
          zip AS RSDNTL_POSTAL_CODE
        FROM raw
        WHERE zip IN ('98101', '98052')),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY MEDICAID_RECIPIENT_ID, CLNDR_YEAR_MNTH
          ORDER BY date_diff('day', FROM_DATE, TO_DATE) DESC,
            RPRTBL_RAC_CODE ASC NULLS FIRST,
            FROM_DATE ASC NULLS FIRST,
            COVERAGE_TYPE_IND ASC NULLS FIRST,
            MC_PRVDR_NAME ASC NULLS FIRST,
            DUAL_ELIG ASC NULLS FIRST,
            TPL_FULL_FLAG ASC NULLS FIRST,
            RSDNTL_POSTAL_CODE ASC NULLS FIRST) AS rn
        FROM staged)
      SELECT RSDNTL_POSTAL_CODE, CLNDR_YEAR_MNTH,
        MEDICAID_RECIPIENT_ID, RPRTBL_RAC_CODE, FROM_DATE, TO_DATE,
        COVERAGE_TYPE_IND, MC_PRVDR_NAME, DUAL_ELIG, TPL_FULL_FLAG
      FROM ranked WHERE rn = 1
      ORDER BY MEDICAID_RECIPIENT_ID, CLNDR_YEAR_MNTH""",

    // q161: hybrid retrieval — BM25 top-20 + quantized-ANN top-20 per
    // query fused by reciprocal rank (k=60); the chain is oracled.
    "q161_hybrid_retrieval" -> """
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t FROM documents),
      post AS (
        SELECT doc_id, tok, count(*)::BIGINT AS tf, max(dl) AS dl
        FROM (SELECT doc_id, unnest(t) AS tok, len(t)::BIGINT AS dl
              FROM d)
        WHERE len(tok) > 0 GROUP BY doc_id, tok),
      stats AS (
        SELECT count(*)::BIGINT AS n_docs,
          sum(len(t))::BIGINT AS tot_dl FROM d),
      q AS (SELECT * FROM (VALUES ('A', 'hash join merge'),
        ('B', 'window stream batch'), ('C', 'customer order line'),
        ('D', 'slow scan big table'), ('E', 'vector spark data query key'))
        v(query_id, query_text)),
      qt AS (
        SELECT DISTINCT query_id,
          unnest(regexp_split_to_array(trim(lower(query_text)), '\s+'))
          AS tok FROM q),
      dfreq AS (
        SELECT tok, count(*)::BIGINT AS df FROM post
        WHERE tok IN (SELECT DISTINCT tok FROM qt) GROUP BY tok),
      bmscored AS (
        SELECT qt.query_id, p.doc_id,
          round(sum(
            ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
            * p.tf * (1.2 + 1) / (p.tf + 1.2 * (1 - 0.75
              + 0.75 * p.dl::DOUBLE
                / (s.tot_dl::DOUBLE / s.n_docs)))), 6) AS bm25
        FROM post p JOIN qt ON p.tok = qt.tok
          JOIN dfreq f ON p.tok = f.tok CROSS JOIN stats s
        GROUP BY qt.query_id, p.doc_id),
      bmr AS (
        SELECT query_id, doc_id,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        FROM bmscored QUALIFY rank <= 20),
      qz AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS qvec
        FROM qz),
      annscored AS (
        SELECT CASE a.vec_id WHEN 0 THEN 'A' WHEN 1 THEN 'B'
            WHEN 2 THEN 'C' WHEN 3 THEN 'D' ELSE 'E' END AS query_id,
          b.vec_id AS doc_id,
          CASE WHEN list_inner_product(a.qvec, a.qvec) = 0
              OR list_inner_product(b.qvec, b.qvec) = 0 THEN 0.0
            ELSE list_inner_product(a.qvec, b.qvec)
              / (sqrt(list_inner_product(a.qvec, a.qvec))
                * sqrt(list_inner_product(b.qvec, b.qvec))) END
            AS qcosine
        FROM qv a CROSS JOIN qv b WHERE a.vec_id < 5),
      annr AS (
        SELECT query_id, doc_id,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY qcosine DESC, doc_id) AS INT) AS rank
        FROM annscored QUALIFY rank <= 20),
      fused AS (
        SELECT coalesce(b.query_id, a.query_id) AS query_id,
          coalesce(b.doc_id, a.doc_id) AS doc_id,
          coalesce(CAST(1 AS DOUBLE) / (60 + b.rank), 0)
            + coalesce(CAST(1 AS DOUBLE) / (60 + a.rank), 0)
            AS rrf_score,
          b.rank AS bm25_rank, a.rank AS ann_rank
        FROM bmr b FULL JOIN annr a
          ON b.query_id = a.query_id AND b.doc_id = a.doc_id)
      SELECT query_id, doc_id, rrf_score, bm25_rank, ann_rank,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
      FROM fused
      QUALIFY rank <= 10
      ORDER BY query_id, rank""",

    // q162: PQ ANN — int8-grid product quantization (8 subspaces x 16
    // lowest-id sample codes), argmin encode, integer-exact ADC.
    "q162_pq_ann" -> """
      WITH qz0 AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qz AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS qvec
        FROM qz0),
      cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
          AS cj, qvec
        FROM (SELECT * FROM qz ORDER BY vec_id LIMIT 16)),
      subs(sub) AS (SELECT unnest(range(0, 8))),
      encdist AS (
        SELECT e.vec_id, s.sub, c.cj,
          list_sum(list_transform(generate_series(1, 8),
            d -> (e.qvec[s.sub * 8 + d] - c.qvec[s.sub * 8 + d]) ^ 2))
            AS dist
        FROM qz e CROSS JOIN subs s CROSS JOIN cb c),
      enc AS (
        SELECT vec_id, sub, cj AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY dist, cj) AS rn FROM encdist)
        WHERE rn = 1),
      qd AS (
        SELECT q.vec_id AS query_id, s.sub, c.cj,
          list_sum(list_transform(generate_series(1, 8),
            d -> (q.qvec[s.sub * 8 + d] - c.qvec[s.sub * 8 + d]) ^ 2))
            AS dist
        FROM qz q CROSS JOIN subs s CROSS JOIN cb c
        WHERE q.vec_id < 5),
      scored AS (
        SELECT t.query_id, e.vec_id AS neighbor_id,
          sum(t.dist) AS pq_dist
        FROM enc e JOIN qd t ON e.sub = t.sub AND e.code = t.cj
        GROUP BY t.query_id, e.vec_id)
      SELECT query_id, neighbor_id, pq_dist,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY pq_dist ASC, neighbor_id ASC) AS INT) AS rank
      FROM scored
      QUALIFY rank <= 10
      ORDER BY query_id, rank""",

    // q163: IVF-PQ — q42b's fixed coarse centroids + q162's codebooks;
    // probe 4/8 cells, integer-exact ADC within probed cells.
    "q163_ivf_pq" -> """
      WITH cen AS (
        SELECT j AS cell,
          list(CAST(((j*31 + d*7) % 13) - 6 AS DOUBLE) ORDER BY d) AS cv
        FROM generate_series(0, 7) t(j), generate_series(0, 63) s(d)
        GROUP BY j),
      asgn AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM embeddings e CROSS JOIN cen c) WHERE rn = 1),
      probes AS (
        SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, c.cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < 5) q
          CROSS JOIN cen c) WHERE rn <= 4),
      qz0 AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qz AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS qvec
        FROM qz0),
      cb AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
          AS cj, qvec
        FROM (SELECT * FROM qz ORDER BY vec_id LIMIT 16)),
      subs(sub) AS (SELECT unnest(range(0, 8))),
      encdist AS (
        SELECT e.vec_id, s.sub, c.cj,
          list_sum(list_transform(generate_series(1, 8),
            d -> (e.qvec[s.sub * 8 + d] - c.qvec[s.sub * 8 + d]) ^ 2))
            AS dist
        FROM qz e CROSS JOIN subs s CROSS JOIN cb c),
      enc AS (
        SELECT vec_id, sub, cj AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY dist, cj) AS rn FROM encdist)
        WHERE rn = 1),
      qd AS (
        SELECT q.vec_id AS query_id, s.sub, c.cj,
          list_sum(list_transform(generate_series(1, 8),
            d -> (q.qvec[s.sub * 8 + d] - c.qvec[s.sub * 8 + d]) ^ 2))
            AS dist
        FROM qz q CROSS JOIN subs s CROSS JOIN cb c
        WHERE q.vec_id < 5),
      scored AS (
        SELECT t.query_id, e.vec_id AS neighbor_id,
          sum(t.dist) AS pq_dist
        FROM enc e
        JOIN asgn a ON e.vec_id = a.vec_id
        JOIN probes p ON a.cell = p.cell
        JOIN qd t ON t.query_id = p.query_id
          AND e.sub = t.sub AND e.code = t.cj
        GROUP BY t.query_id, e.vec_id)
      SELECT query_id, neighbor_id, pq_dist,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY pq_dist ASC, neighbor_id ASC) AS INT) AS rank
      FROM scored
      QUALIFY rank <= 10
      ORDER BY query_id, rank""",

    // q164: config-driven file-load QA — per-year expected counts
    // (strip-non-digit parse), absent-year zero, overall total,
    // positional column-order checks.
    "q164_load_file_qa" -> """
      WITH yc AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR) AS y,
          count(*)::BIGINT AS n
        FROM orders GROUP BY 1),
      tot AS (SELECT sum(n)::BIGINT AS t FROM yc)
      SELECT * FROM (
        SELECT 'orders' AS "table", 'rowcount_1995' AS "check",
          coalesce((SELECT n FROM yc WHERE y = '1995'), 0) = 1234
            AS pass,
          coalesce((SELECT n FROM yc WHERE y = '1995'), 0) AS observed,
          1234::BIGINT AS expected
        UNION ALL
        SELECT 'orders', 'rowcount_1996',
          coalesce((SELECT n FROM yc WHERE y = '1996'), 0) = 5678,
          coalesce((SELECT n FROM yc WHERE y = '1996'), 0), 5678
        UNION ALL
        SELECT 'orders', 'rowcount_2099',
          coalesce((SELECT n FROM yc WHERE y = '2099'), 0) = 0,
          coalesce((SELECT n FROM yc WHERE y = '2099'), 0), 0
        UNION ALL
        SELECT 'orders', 'rowcount_overall',
          (SELECT t FROM tot) = 999999, (SELECT t FROM tot), 999999
        UNION ALL
        SELECT 'orders', 'column_order', TRUE, 6, 6
        UNION ALL
        SELECT 'lineitem', 'column_order', FALSE, 0, 11)
      ORDER BY "table", "check" """,

    // q165: claim↔value-set membership — the oracle runs the reference's
    // 14-arm INSERT formulation (one scan per arm, per-arm DISTINCT)
    // against the repo's one-scan-per-table dispatch.
    "q165_claim_value_set" -> (VsFramesCte + """
      line AS (
        SELECT id_person, claim_id, fsd AS first_service_date,
          'RV' || CAST(l_partkey % 30 AS VARCHAR) AS rev_code FROM li),
      hdr AS (
        SELECT o_custkey % 100 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS first_service_date,
          CASE WHEN o_orderkey % 5 = 0
            THEN 'DG' || CAST(o_orderkey % 12 AS VARCHAR) END AS drg,
          CASE WHEN o_orderkey % 3 = 0
            THEN 'TB' || CAST(o_custkey % 15 AS VARCHAR) END AS tob,
          CASE WHEN o_orderkey % 2 = 0
            THEN 'PS' || CAST(o_custkey % 10 AS VARCHAR) END AS pos
        FROM orders),
      rx5 AS (
        SELECT i, CASE i % 5 WHEN 0 THEN 'ADHD Rx'
          WHEN 1 THEN 'Antianxiety Rx' WHEN 2 THEN 'Antidepressants Rx'
          WHEN 3 THEN 'Antimania Rx' ELSE 'Antipsychotic Rx' END
          AS rx_class
        FROM range(0, 20) t(i)),
      rda AS (
        SELECT 'RDA' AS value_set_group,
          'MH-procedure-value-set' AS value_set_name,
          'claim' AS data_source_type, CAST(NULL AS VARCHAR) AS sub_group,
          CASE WHEN i < 13
            THEN (CASE WHEN i % 2 = 0 THEN 'CPT' ELSE 'HCPCS' END)
            ELSE 'ICD10PCS' END AS code_set,
          'PC' || CAST(i AS VARCHAR) AS code,
          CASE WHEN i % 5 = 0 THEN 'N' ELSE 'Y' END AS active
        FROM range(0, 16) t(i)
        UNION ALL
        SELECT 'RDA', 'MH-inpatient-drg', 'claim', NULL, 'DRG',
          'DG' || CAST(i AS VARCHAR), 'Y'
        FROM range(0, 10) t(i)
        UNION ALL
        SELECT 'RDA', 'MH-Dx-value-set', 'claim', sub_group, 'ICD9CM',
          'DX' || CAST(i AS VARCHAR), 'Y'
        FROM sg WHERE i < 24
        UNION ALL
        SELECT 'RDA', 'MH-Dx-value-set', 'claim', sub_group, 'ICD10CM',
          'DX' || CAST(i AS VARCHAR), 'Y'
        FROM sg WHERE i >= 12
        UNION ALL
        SELECT 'RDA', 'MH-Rx-value-set', 'pharmacy', rx_class, 'NDC',
          'ND' || CAST(i AS VARCHAR),
          CASE WHEN i % 4 = 0 THEN 'N' ELSE 'Y' END
        FROM rx5
        UNION ALL
        SELECT 'RDA', 'MH-revenue-value-set', 'claim', NULL, 'UBREV',
          'RV' || CAST(i * 3 AS VARCHAR), 'Y'
        FROM range(0, 10) t(i)),
      hed AS (
        SELECT CASE i % 5 WHEN 0 THEN 'FUH Stand Alone Visits'
            WHEN 1 THEN 'FUH Visits Group 1'
            WHEN 2 THEN 'FUH Visits Group 2'
            WHEN 3 THEN 'TCM 7 Day' ELSE 'TCM 14 Day' END
            AS value_set_name,
          CASE WHEN i % 2 = 0 THEN 'CPT' ELSE 'HCPCS' END AS code_system,
          'PC' || CAST(i * 2 + 1 AS VARCHAR) AS code
        FROM range(0, 6) t(i)
        UNION ALL
        SELECT CASE i WHEN 0 THEN 'Inpatient Stay'
            WHEN 1 THEN 'Nonacute Inpatient Stay'
            WHEN 2 THEN 'FUH RevCodes Group 1'
            ELSE 'FUH RevCodes Group 2' END,
          'UBREV', 'RV' || CAST(i * 6 AS VARCHAR)
        FROM range(0, 4) t(i)
        UNION ALL
        SELECT 'Nonacute Inpatient Stay', 'UBTOB',
          'TB' || CAST(i * 3 AS VARCHAR)
        FROM range(0, 4) t(i)
        UNION ALL
        SELECT CASE WHEN i % 2 = 0 THEN 'FUH POS Group 1'
            ELSE 'FUH POS Group 2' END,
          'POS', 'PS' || CAST(i * 3 AS VARCHAR)
        FROM range(0, 4) t(i)
        UNION ALL
        SELECT CASE WHEN i % 2 = 0 THEN 'Mental Health Diagnosis'
            ELSE 'Mental Illness' END,
          'ICD10CM', 'DX' || CAST(i * 5 AS VARCHAR)
        FROM range(0, 8) t(i)
        UNION ALL
        SELECT 'AOD Abuse and Dependence', 'ICD10CM', 'DX2'),
      arms AS (
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set,
          CAST(NULL AS VARCHAR) AS primary_dx_only,
          p.id_person AS id_mcaid, p.claim_id AS claim_header_id,
          p.first_service_date AS service_date
        FROM proc p JOIN rda r
          ON r.code_set IN ('CPT','HCPCS','ICD10PCS','ICD9PCS')
          AND p.procedure_code = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, NULL,
          h.id_person, h.claim_id, h.first_service_date
        FROM hdr h JOIN rda r
          ON r.code_set = 'DRG' AND h.drg = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, 'Y',
          d.id_person, d.claim_id, d.first_service_date
        FROM dx d JOIN rda r
          ON r.code_set = 'ICD10CM' AND d.icdcm_version = 10
          AND d.icdcm_number = '01' AND d.icdcm_norm = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, 'Y',
          d.id_person, d.claim_id, d.first_service_date
        FROM dx d JOIN rda r
          ON r.code_set = 'ICD9CM' AND d.icdcm_version = 9
          AND d.icdcm_number = '01' AND d.icdcm_norm = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, 'N',
          d.id_person, d.claim_id, d.first_service_date
        FROM dx d JOIN rda r
          ON r.code_set = 'ICD10CM' AND d.icdcm_version = 10
          AND d.icdcm_norm = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, 'N',
          d.id_person, d.claim_id, d.first_service_date
        FROM dx d JOIN rda r
          ON r.code_set = 'ICD9CM' AND d.icdcm_version = 9
          AND d.icdcm_norm = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, NULL,
          p.id_person, p.claim_id, p.rx_fill_date
        FROM pharm p JOIN rda r
          ON r.code_set = 'NDC' AND r.active = 'Y' AND p.ndc = r.code
        UNION ALL
        SELECT DISTINCT r.value_set_group, r.value_set_name,
          r.data_source_type, r.sub_group, r.code_set, NULL,
          l.id_person, l.claim_id, l.first_service_date
        FROM line l JOIN rda r
          ON r.code_set = 'UBREV' AND l.rev_code = r.code
        UNION ALL
        SELECT DISTINCT 'HEDIS', h2.value_set_name, NULL, NULL,
          h2.code_system, NULL,
          p.id_person, p.claim_id, p.first_service_date
        FROM proc p JOIN hed h2
          ON h2.value_set_name IN ('FUH Stand Alone Visits',
            'FUH Visits Group 1','FUH Visits Group 2','TCM 7 Day',
            'TCM 14 Day')
          AND h2.code_system IN ('CPT','HCPCS')
          AND p.procedure_code = h2.code
        UNION ALL
        SELECT DISTINCT 'HEDIS', h2.value_set_name, NULL, NULL,
          h2.code_system, NULL,
          l.id_person, l.claim_id, l.first_service_date
        FROM line l JOIN hed h2
          ON h2.value_set_name IN ('Inpatient Stay',
            'Nonacute Inpatient Stay','FUH RevCodes Group 1',
            'FUH RevCodes Group 2')
          AND h2.code_system = 'UBREV' AND l.rev_code = h2.code
        UNION ALL
        SELECT DISTINCT 'HEDIS', h2.value_set_name, NULL, NULL,
          h2.code_system, NULL,
          h.id_person, h.claim_id, h.first_service_date
        FROM hdr h JOIN hed h2
          ON h2.value_set_name IN ('Nonacute Inpatient Stay')
          AND h2.code_system = 'UBTOB' AND h.tob = h2.code
        UNION ALL
        SELECT DISTINCT 'HEDIS', h2.value_set_name, NULL, NULL,
          h2.code_system, NULL,
          h.id_person, h.claim_id, h.first_service_date
        FROM hdr h JOIN hed h2
          ON h2.value_set_name IN ('FUH POS Group 1','FUH POS Group 2')
          AND h2.code_system = 'POS' AND h.pos = h2.code
        UNION ALL
        SELECT DISTINCT 'HEDIS', h2.value_set_name, NULL, NULL,
          h2.code_system, 'Y',
          d.id_person, d.claim_id, d.first_service_date
        FROM dx d JOIN hed h2
          ON h2.value_set_name IN ('Mental Health Diagnosis',
            'Mental Illness')
          AND h2.code_system = 'ICD10CM' AND d.icdcm_version = 10
          AND d.icdcm_number = '01' AND d.icdcm_norm = h2.code
        UNION ALL
        SELECT DISTINCT 'HEDIS', h2.value_set_name, NULL, NULL,
          h2.code_system, 'N',
          d.id_person, d.claim_id, d.first_service_date
        FROM dx d JOIN hed h2
          ON h2.value_set_name IN ('Mental Health Diagnosis',
            'Mental Illness')
          AND h2.code_system = 'ICD10CM' AND d.icdcm_version = 10
          AND d.icdcm_norm = h2.code)
      SELECT DISTINCT value_set_group, value_set_name, data_source_type,
        sub_group, code_set, primary_dx_only, id_mcaid, claim_header_id,
        service_date
      FROM arms
      ORDER BY value_set_group, value_set_name, data_source_type,
        sub_group, code_set, primary_dx_only, id_mcaid, claim_header_id,
        service_date"""),

    // q166: full APCD person-level rollup — the oracle replicates the
    // reference's six-step T-SQL (distinct cov rows → person sums →
    // zip pick with the sum+1 quirk → picked-ACH days → capped-age demo
    // → cohort flags on rounded percents).
    "q166_apcd_elig_plr" -> s"""
      WITH $ApcdPlrCtes
      SELECT * FROM plr ORDER BY id_apcd""",

    // q167: mcare elig_month — month grain kept (no island collapse);
    // shares the q127 fixture/monthly formulation, adds year_month /
    // year_quarter / year and the LEFT-JOIN geo_kc attach.
    "q167_mcare_elig_month" -> """
      WITH iy AS (
        SELECT DISTINCT o_custkey % 80 AS p, year(o_orderdate) AS y
        FROM orders),
      mg AS (
        SELECT p, y, m FROM iy,
          (SELECT unnest(generate_series(1, 12)) AS m) t),
      codes AS (
        SELECT p, y, m,
          ['0','1','2','3','A','B','C','9']
            [((p*31 + y*12 + m) % 8)::INT + 1] AS buyins,
          ['0','1','2','4','A','5']
            [((p*31 + y*12 + m) % 6)::INT + 1] AS hmos,
          ['E123','H45','N','*','0','X9',NULL,'R2']
            [((p*31 + y*12 + m) % 8)::INT + 1] AS rx,
          ['00','01','02','04','08','09','10','99','**',NULL]
            [((p*31 + y*12 + m) % 10)::INT + 1] AS duals,
          CASE WHEN (p + y) % 7 = 0 THEN '9812'
            ELSE '9810' || ((p + y) % 4)::VARCHAR END AS zip_cd
        FROM mg),
      monthly AS (
        SELECT 'E' || p::VARCHAR AS id_mcare,
          make_date(y, m, 1) AS from_date,
          last_day(make_date(y, m, 1)) AS to_date,
          CAST(y * 100 + m AS INTEGER) AS year_month,
          CAST(y * 10 + (m - 1) // 3 + 1 AS INTEGER) AS year_quarter,
          y AS year,
          CASE WHEN len(zip_cd) >= 5 THEN substr(zip_cd, 1, 5) END
            AS geo_zip,
          CASE WHEN buyins IN ('1','3','A','C') THEN 1
               WHEN buyins IN ('0','2','B') THEN 0 END AS part_a,
          CASE WHEN buyins IN ('2','3','B','C') THEN 1
               WHEN buyins IN ('0','1','A') THEN 0 END AS part_b,
          CASE WHEN hmos IN ('1','2','A','B','C') THEN 1
               WHEN hmos IN ('0','4') THEN 0 END AS part_c,
          CASE WHEN rx IN ('N','NULL','*','0','NA') OR rx IS NULL THEN 0
               WHEN substr(rx, 1, 1) IN ('E','H','R','S','X') THEN 1
            END AS part_d,
          CASE WHEN buyins IN ('0','1','2','3') THEN 0
               WHEN buyins IN ('A','B','C') THEN 1 END AS state_buyin,
          CASE WHEN duals IN ('NULL','**','0','00','2','02','4','04',
              '8','08','9','09','99','10','NA') OR duals IS NULL THEN 0
               WHEN duals IN ('1','01','3','03','5','05','6','06')
            THEN 1 END AS partial_dual,
          CASE WHEN duals IN ('NULL','**','0','00','9','09','99','NA',
              '1','01','3','03','5','05','6','06') OR duals IS NULL
            THEN 0
               WHEN duals IN ('2','02','4','04','8','08','10') THEN 1
            END AS full_dual
        FROM codes),
      demo AS (
        SELECT DISTINCT 'E' || p::VARCHAR AS id_mcare,
          CASE WHEN p % 9 = 0 THEN DATE '1995-06-15'
            + CAST(p * 13 % 700 AS INT) END AS death_dt
        FROM iy),
      alive AS (
        SELECT m.id_mcare, m.from_date,
          CASE WHEN d.death_dt IS NOT NULL
              AND m.from_date <= d.death_dt AND m.to_date > d.death_dt
            THEN d.death_dt ELSE m.to_date END AS to_date,
          m.year_month, m.year_quarter, m.year,
          m.part_a, m.part_b, m.part_c, m.part_d,
          m.full_dual, m.partial_dual, m.state_buyin, m.geo_zip
        FROM monthly m LEFT JOIN demo d ON m.id_mcare = d.id_mcare
        WHERE m.part_a + m.part_b + m.part_c + m.part_d + m.state_buyin
            + m.partial_dual + m.full_dual > 0
          AND (m.from_date <= d.death_dt OR d.death_dt IS NULL))
      SELECT id_mcare, from_date, to_date, year_month, year_quarter,
        year, part_a, part_b, part_c, part_d, full_dual, partial_dual,
        state_buyin, geo_zip,
        CASE WHEN geo_zip IN ('98100','98102','98999') THEN 1
             WHEN geo_zip IN ('98101','98103') THEN 0 END AS geo_kc,
        CAST(date_diff('day', from_date, to_date) + 1 AS INTEGER)
          AS cov_time_day
      FROM alive ORDER BY id_mcare, year_month""",

    // q168: combined MBSF AB/ABCD staging — (year, count) incremental
    // gate, per-source DISTINCT, renames, ZIP normalizations, drift
    // union, case-insensitive dup flag.
    "q168_mcare_mbsf" -> """
      WITH base AS (
        SELECT o_orderkey AS ok, o_custkey AS ck,
          year(o_orderdate) AS yr
        FROM orders),
      ab AS (
        SELECT (CASE WHEN ck % 3 = 0 THEN 'B' ELSE 'b' END) ||
            CAST(ck % 60 AS VARCHAR) AS bene_id,
          yr AS bene_enrollmt_ref_yr,
          CASE WHEN ck % 13 = 0 THEN '999999999'
            ELSE lpad(CAST(ck * 7919 % 1000000000 AS VARCHAR), 9, '0')
            END AS zip_cd,
          CAST(ok % 5 AS VARCHAR) AS race_old,
          CAST(ok % 2 AS INT) AS a_only
        FROM base WHERE yr <= 1994),
      abcd AS (
        SELECT 'B' || CAST(ck % 60 AS VARCHAR) AS bene_id,
          yr AS bene_enrollmt_ref_yr,
          CASE WHEN ck % 17 = 0 THEN '99999'
            ELSE CAST(ck * 31 % 100000 AS VARCHAR) END AS zip_cd,
          CAST(ok % 6 AS VARCHAR) AS race_cd,
          CAST(ok % 3 AS INT) AS d_only, yr AS data_year
        FROM base WHERE yr >= 1995
        UNION ALL
        SELECT lower('B' || CAST(ck % 60 AS VARCHAR)), yr,
          CASE WHEN ck % 17 = 0 THEN '99999'
            ELSE CAST(ck * 31 % 100000 AS VARCHAR) END,
          CAST(ok % 6 AS VARCHAR), CAST(ok % 3 AS INT), yr
        FROM base WHERE yr >= 1997 AND ok % 101 = 0),
      stage AS (
        SELECT yr AS bene_enrollmt_ref_yr FROM base
        WHERE (yr <= 1994 AND yr <> 1993) OR yr = 1995
          OR (yr = 1996 AND ok % 97 <> 0)),
      sc AS (
        SELECT bene_enrollmt_ref_yr, count(*) AS c FROM stage
        GROUP BY 1),
      abyears AS (
        SELECT a.bene_enrollmt_ref_yr FROM
          (SELECT bene_enrollmt_ref_yr, count(*) AS c FROM ab
           GROUP BY 1) a
        ANTI JOIN sc s ON a.bene_enrollmt_ref_yr = s.bene_enrollmt_ref_yr
          AND a.c = s.c),
      abcdyears AS (
        SELECT a.bene_enrollmt_ref_yr FROM
          (SELECT bene_enrollmt_ref_yr, count(*) AS c FROM abcd
           GROUP BY 1) a
        ANTI JOIN sc s ON a.bene_enrollmt_ref_yr = s.bene_enrollmt_ref_yr
          AND a.c = s.c),
      abfixed AS (
        SELECT bene_id, bene_enrollmt_ref_yr,
          substr(CASE WHEN zip_cd = '999999999' THEN NULL ELSE zip_cd
            END, 1, 5) AS zip_cd,
          race_old AS race_cd, a_only
        FROM (SELECT DISTINCT * FROM ab
          WHERE bene_enrollmt_ref_yr IN (SELECT * FROM abyears))),
      abcdfixed AS (
        SELECT bene_id, bene_enrollmt_ref_yr,
          lpad(CAST(CAST(CASE WHEN zip_cd = '99999' THEN NULL
            ELSE zip_cd END AS INT) AS VARCHAR), 5, '0') AS zip_cd,
          race_cd, d_only
        FROM (SELECT DISTINCT * FROM abcd
          WHERE bene_enrollmt_ref_yr IN (SELECT * FROM abcdyears))),
      comb AS (
        SELECT bene_id, bene_enrollmt_ref_yr, zip_cd, race_cd, d_only,
          CAST(NULL AS INT) AS a_only
        FROM abcdfixed
        UNION ALL
        SELECT bene_id, bene_enrollmt_ref_yr, zip_cd, race_cd,
          CAST(NULL AS INT), a_only
        FROM abfixed)
      SELECT *, count(*) OVER (PARTITION BY lower(bene_id),
          bene_enrollmt_ref_yr, zip_cd, race_cd, d_only, a_only) > 1
          AS dup
      FROM comb
      ORDER BY bene_enrollmt_ref_yr, bene_id, zip_cd, race_cd, d_only,
        a_only""",

    // q169: master mcaid claim staging — archive < MIN(incoming date),
    // incoming DISTINCT with derived clndr_year_mnth / clm_line, UNION.
    "q169_mcaid_claim_stage" -> s"""
      WITH $LineStageCtes
      SELECT * FROM stage
      ORDER BY clm_line_tcn, from_srvc_date""",

    // q170: EDB user-view crosswalk dedup — singleton / exact-dup /
    // name-drift branches, middle-initial forward fill, max-source pick.
    "q170_edb_xwalk" -> """
      WITH base AS (
        SELECT DISTINCT o_custkey % 80 AS p, year(o_orderdate) AS yr
        FROM orders),
      edb0 AS (
        SELECT 'E' || CAST(p AS VARCHAR) AS bene_id, yr AS source,
          CASE WHEN p % 5 = 0 THEN 'S' || CAST(p AS VARCHAR)
            ELSE 'S' || CAST(p AS VARCHAR) || '-' ||
              CAST(yr % 3 AS VARCHAR) END AS bene_srnm_name,
          'G' || CAST(p AS VARCHAR) AS bene_gvn_name,
          CASE WHEN p % 5 = 0 THEN 'M' || CAST(p % 4 AS VARCHAR)
            WHEN (p + yr) % 3 = 0 THEN NULL
            ELSE 'M' || CAST(yr % 4 AS VARCHAR) END AS bene_mdl_name,
          CASE WHEN yr % 2 = 0 THEN 'Y' ELSE 'N' END AS crnt_rec_ind
        FROM base WHERE (p % 5 >= 3 AND yr = 1995) OR p % 5 < 3),
      edb AS (SELECT DISTINCT * FROM edb0),
      flagged AS (
        SELECT *, count(*) OVER (PARTITION BY bene_id) AS id_dup,
          count(*) OVER (PARTITION BY bene_id, bene_srnm_name,
            bene_gvn_name, bene_mdl_name) AS exact_dup
        FROM edb),
      nodup AS (
        SELECT bene_srnm_name, bene_gvn_name, bene_mdl_name,
          crnt_rec_ind, bene_id
        FROM flagged WHERE id_dup = 1),
      exact AS (
        SELECT bene_srnm_name, bene_gvn_name, bene_mdl_name,
          crnt_rec_ind, bene_id
        FROM (
          SELECT *, row_number() OVER (PARTITION BY bene_id
            ORDER BY source DESC, bene_srnm_name, bene_gvn_name,
              bene_mdl_name, crnt_rec_ind) AS rk
          FROM flagged WHERE id_dup > 1 AND id_dup = exact_dup)
        WHERE rk = 1),
      oth AS (
        SELECT bene_srnm_name, bene_gvn_name, bene_mdl_name,
          crnt_rec_ind, bene_id
        FROM (
          SELECT * REPLACE(last_value(bene_mdl_name IGNORE NULLS)
              OVER (PARTITION BY bene_id ORDER BY source
                ROWS UNBOUNDED PRECEDING) AS bene_mdl_name),
            row_number() OVER (PARTITION BY bene_id
              ORDER BY source DESC, bene_srnm_name, bene_gvn_name,
                bene_mdl_name, crnt_rec_ind) AS rk
          FROM flagged WHERE id_dup > 1 AND id_dup <> exact_dup)
        WHERE rk = 1)
      SELECT * FROM (
        SELECT * FROM nodup
        UNION ALL SELECT * FROM exact
        UNION ALL SELECT * FROM oth)
      ORDER BY bene_id""",

    // q171: annual demographic roll-up — modal geocode, gender fallback,
    // T-SQL month-boundary age groups, 11-measure UNPIVOT, tabulation
    // with totals and 1-10 suppression.
    "q171_demo_summary" -> """
      WITH month0 AS (
        SELECT o_custkey % 100 AS id_mcaid, year(o_orderdate) AS year,
          'H' || CAST(o_custkey % 100 AS VARCHAR) || '-' ||
            CAST(o_orderkey % 4 AS VARCHAR) AS geo_hash_geocode,
          CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE 1 END
            AS full_benefit,
          CASE WHEN o_orderkey % 5 = 4 THEN 0 ELSE 1 END AS geo_kc
        FROM orders),
      geo1 AS (
        SELECT id_mcaid, year, geo_hash_geocode FROM (
          SELECT id_mcaid, year, geo_hash_geocode,
            row_number() OVER (PARTITION BY id_mcaid, year
              ORDER BY count(*) DESC, geo_hash_geocode) AS rn
          FROM month0 GROUP BY id_mcaid, year, geo_hash_geocode)
        WHERE rn = 1),
      dm0 AS (
        SELECT c_custkey % 100 AS id_mcaid, min(c_custkey) AS ckm
        FROM customer GROUP BY 1),
      dm AS (
        SELECT id_mcaid,
          CASE WHEN ckm % 23 = 0 THEN NULL
            ELSE DATE '1935-01-01' + CAST(ckm * 131 % 23000 AS INT) END
            AS dob,
          CASE WHEN ckm % 6 = 0 THEN 'Unknown'
            WHEN ckm % 2 = 0 THEN 'Female' ELSE 'Male' END
            AS gender_recent,
          CASE WHEN ckm % 4 = 0 THEN 'Female' ELSE 'Male' END
            AS gender_me,
          CASE WHEN ckm % 11 = 0 THEN 1 ELSE 0 END AS race_aian,
          CASE WHEN ckm % 7 = 1 THEN 1 ELSE 0 END AS race_asian,
          CASE WHEN ckm % 6 = 2 THEN 1 ELSE 0 END AS race_black,
          CASE WHEN ckm % 5 = 3 THEN 1 ELSE 0 END AS race_latino,
          CASE WHEN ckm % 13 = 4 THEN 1 ELSE 0 END AS race_nhpi,
          CASE WHEN ckm % 3 = 2 THEN 1 ELSE 0 END AS race_white,
          CASE WHEN ckm % 17 = 5 THEN 1 ELSE 0 END AS race_unk
        FROM dm0 WHERE ckm % 19 <> 3),
      gc AS (
        SELECT 'H' || CAST(p AS VARCHAR) || '-' || CAST(k AS VARCHAR)
            AS geo_hash_geocode,
          CASE WHEN k = 3 THEN NULL
            ELSE CAST((p + k) % 9 + 1 AS VARCHAR) END
            AS geo_id20_kccdist,
          '981' || CAST((p + k) % 10 AS VARCHAR) AS geo_zip_clean
        FROM range(0, 100) t1(p), range(0, 4) t2(k)),
      cl0 AS (
        SELECT m.id_mcaid, m.year, d.dob, d.gender_recent, d.gender_me,
          d.race_aian, d.race_asian, d.race_black, d.race_latino,
          d.race_nhpi, d.race_white, d.race_unk,
          a.geo_id20_kccdist, a.geo_zip_clean,
          CAST(trunc(CAST(m.year * 12 + 7 - year(d.dob) * 12 -
            month(d.dob) AS DOUBLE) / 12) AS INT) AS age
        FROM month0 m
        LEFT JOIN geo1 g ON g.id_mcaid = m.id_mcaid AND g.year = m.year
        LEFT JOIN dm d ON m.id_mcaid = d.id_mcaid
        LEFT JOIN gc a ON g.geo_hash_geocode = a.geo_hash_geocode
        WHERE m.full_benefit = 1 AND m.geo_kc = 1 AND m.year < 1998
          AND d.dob <= make_date(m.year, 12, 31)),
      clients AS (
        SELECT DISTINCT id_mcaid, year, dob,
          CASE WHEN gender_recent = 'Unknown' THEN gender_me
            ELSE gender_recent END AS gender,
          CASE WHEN age < 18 THEN '0-17'
            WHEN age BETWEEN 18 AND 24 THEN '18-24'
            WHEN age BETWEEN 25 AND 34 THEN '25-34'
            WHEN age BETWEEN 35 AND 44 THEN '35-44'
            WHEN age BETWEEN 45 AND 54 THEN '45-54'
            WHEN age BETWEEN 55 AND 64 THEN '55-64'
            WHEN age > 64 THEN '65+' END AS age_group,
          race_aian, race_asian, race_black, race_latino, race_nhpi,
          race_white, race_unk,
          geo_id20_kccdist AS kccdist, geo_zip_clean AS zip
        FROM cl0),
      long0 AS (
        SELECT id_mcaid, year, measure, value FROM (
          SELECT id_mcaid, year,
            CAST(gender AS VARCHAR) AS gender,
            CAST(age_group AS VARCHAR) AS age_group,
            CAST(race_aian AS VARCHAR) AS race_aian,
            CAST(race_asian AS VARCHAR) AS race_asian,
            CAST(race_black AS VARCHAR) AS race_black,
            CAST(race_latino AS VARCHAR) AS race_latino,
            CAST(race_nhpi AS VARCHAR) AS race_nhpi,
            CAST(race_white AS VARCHAR) AS race_white,
            CAST(race_unk AS VARCHAR) AS race_unk,
            CAST(kccdist AS VARCHAR) AS kccdist,
            CAST(zip AS VARCHAR) AS zip
          FROM clients)
        UNPIVOT (value FOR measure IN (gender, age_group, race_aian,
          race_asian, race_black, race_latino, race_nhpi, race_white,
          race_unk, kccdist, zip))),
      long AS (
        SELECT id_mcaid, year,
          CASE WHEN measure LIKE 'race_%' THEN 'race_aic'
            ELSE measure END AS measure,
          CASE WHEN measure LIKE 'race_%'
            THEN replace(measure, 'race_', '') ELSE value END AS value
        FROM long0 WHERE value IS NOT NULL AND value <> '0'),
      tot AS (
        SELECT year AS t_year, measure AS t_measure,
          count(DISTINCT id_mcaid) AS total_pop
        FROM long GROUP BY 1, 2)
      SELECT c.year, c.measure, lower(c.value) AS value,
        CASE WHEN pop0 BETWEEN 1 AND 10 THEN 0 ELSE pop0 END AS pop,
        total_pop
      FROM (
        SELECT year, measure, value, count(DISTINCT id_mcaid) AS pop0
        FROM long GROUP BY 1, 2, 3) c
      LEFT JOIN tot ON c.year = t_year AND c.measure = t_measure
      ORDER BY c.measure, value, c.year""",

    // q172: DSIR importance weights — hashed unigram+bigram bag models
    // (md5 first-32-bits buckets), add-one smoothing, per-doc log
    // importance ratio vs the English target slice.
    "q172_dsir_weights" -> """
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
            'g'), ' ') AS tk
        FROM documents),
      feats AS (
        SELECT doc_id, tgt, unnest(tk) AS f FROM toks
        UNION ALL
        SELECT doc_id, tgt, unnest(list_transform(
            generate_series(1, greatest(len(tk) - 1, 0)),
            i -> tk[i] || ' ' || tk[i + 1])) AS f
        FROM toks),
      bk AS (
        SELECT doc_id, tgt,
          ('0x' || substr(md5(f), 1, 8))::UBIGINT % 64 AS b
        FROM feats WHERE len(f) > 0),
      counts AS (
        SELECT b,
          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
          CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        FROM bk GROUP BY b),
      tot AS (
        SELECT
          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
          CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS nr
        FROM bk),
      lam AS (
        SELECT b,
          ln((ct + 1)::DOUBLE / (nt + 64)::DOUBLE) -
            ln((cr + 1)::DOUBLE / (nr + 64)::DOUBLE) AS lam
        FROM counts, tot),
      docf AS (
        SELECT doc_id, b, count(*) AS m FROM bk GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
        round(sum(m * lam), 6) AS log_importance
      FROM docf JOIN lam USING (b)
      GROUP BY doc_id ORDER BY doc_id""",

    // q173: linear quality classifier — md5-hashed bag-of-words,
    // deterministic Knuth-hash weights, mean pool + bias, sigmoid.
    "q173_quality_classifier" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t
        FROM documents),
      b AS (
        SELECT doc_id,
          ('0x' || substr(md5(t), 1, 8))::UBIGINT % 32 AS bkt
        FROM toks WHERE len(t) > 0),
      sc AS (
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
          (CAST(sum((bkt * 2654435761) % 1000) AS BIGINT)
              - 600 * count(*))::DOUBLE
            / (count(*) * 1000)::DOUBLE AS s
        FROM b GROUP BY doc_id)
      SELECT doc_id, n_tokens, s AS score,
        round(1.0 / (exp(-s) + 1.0), 6) AS prob,
        (1.0 / (exp(-s) + 1.0)) >= 0.5 AS keep
      FROM sc ORDER BY doc_id""",

    // q174: MMR diversified re-ranking — integer objective
    // (7·rel − 3·maxSim on the quantized grid), k=5 greedy rounds
    // written as chained CTEs; the whole trajectory is exact.
    "q174_mmr_rerank" -> """
      WITH qz AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM qz),
      cand AS (
        SELECT * FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
            list_inner_product(a.q, b.q)::BIGINT AS rel, b.q AS dq
          FROM qv a CROSS JOIN qv b WHERE a.vec_id < 5)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY rel DESC, doc_id) <= 20),
      sims AS (
        SELECT x.query_id, x.doc_id AS da, y.doc_id AS db,
          list_inner_product(x.dq, y.dq)::BIGINT AS sim
        FROM cand x JOIN cand y
          ON x.query_id = y.query_id AND x.doc_id <> y.doc_id),
      s1 AS (
        SELECT query_id, doc_id, rel, 1 AS rank, 7 * rel AS mmr10
        FROM cand
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY rel DESC, doc_id) = 1),
      sel1 AS (SELECT query_id, doc_id FROM s1),
      m2 AS (
        SELECT c.query_id, c.doc_id, c.rel,
          7 * c.rel - 3 * max(s.sim) AS mmr10
        FROM cand c
        ANTI JOIN sel1 e
          ON c.query_id = e.query_id AND c.doc_id = e.doc_id
        JOIN sims s ON s.query_id = c.query_id AND s.da = c.doc_id
        JOIN sel1 e2 ON s.query_id = e2.query_id AND s.db = e2.doc_id
        GROUP BY c.query_id, c.doc_id, c.rel),
      s2 AS (
        SELECT query_id, doc_id, rel, 2 AS rank, mmr10 FROM m2
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY mmr10 DESC, doc_id) = 1),
      sel2 AS (SELECT * FROM sel1
        UNION ALL SELECT query_id, doc_id FROM s2),
      m3 AS (
        SELECT c.query_id, c.doc_id, c.rel,
          7 * c.rel - 3 * max(s.sim) AS mmr10
        FROM cand c
        ANTI JOIN sel2 e
          ON c.query_id = e.query_id AND c.doc_id = e.doc_id
        JOIN sims s ON s.query_id = c.query_id AND s.da = c.doc_id
        JOIN sel2 e2 ON s.query_id = e2.query_id AND s.db = e2.doc_id
        GROUP BY c.query_id, c.doc_id, c.rel),
      s3 AS (
        SELECT query_id, doc_id, rel, 3 AS rank, mmr10 FROM m3
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY mmr10 DESC, doc_id) = 1),
      sel3 AS (SELECT * FROM sel2
        UNION ALL SELECT query_id, doc_id FROM s3),
      m4 AS (
        SELECT c.query_id, c.doc_id, c.rel,
          7 * c.rel - 3 * max(s.sim) AS mmr10
        FROM cand c
        ANTI JOIN sel3 e
          ON c.query_id = e.query_id AND c.doc_id = e.doc_id
        JOIN sims s ON s.query_id = c.query_id AND s.da = c.doc_id
        JOIN sel3 e2 ON s.query_id = e2.query_id AND s.db = e2.doc_id
        GROUP BY c.query_id, c.doc_id, c.rel),
      s4 AS (
        SELECT query_id, doc_id, rel, 4 AS rank, mmr10 FROM m4
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY mmr10 DESC, doc_id) = 1),
      sel4 AS (SELECT * FROM sel3
        UNION ALL SELECT query_id, doc_id FROM s4),
      m5 AS (
        SELECT c.query_id, c.doc_id, c.rel,
          7 * c.rel - 3 * max(s.sim) AS mmr10
        FROM cand c
        ANTI JOIN sel4 e
          ON c.query_id = e.query_id AND c.doc_id = e.doc_id
        JOIN sims s ON s.query_id = c.query_id AND s.da = c.doc_id
        JOIN sel4 e2 ON s.query_id = e2.query_id AND s.db = e2.doc_id
        GROUP BY c.query_id, c.doc_id, c.rel),
      s5 AS (
        SELECT query_id, doc_id, rel, 5 AS rank, mmr10 FROM m5
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY mmr10 DESC, doc_id) = 1)
      SELECT query_id, rank, doc_id, rel, mmr10 FROM (
        SELECT * FROM s1 UNION ALL SELECT * FROM s2
        UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        UNION ALL SELECT * FROM s5)
      ORDER BY query_id, rank""",

    // q175: ExactSubstr duplicate spans — stride-1 40-char gram counts,
    // occurrences of corpus-count>=2 grams merged into maximal spans.
    "q175_exact_substr" -> """
      WITH grams AS (
        SELECT doc_id, pos,
          md5(substr(text, pos::INT, 40)) AS h
        FROM (SELECT doc_id, text,
            unnest(generate_series(1, len(text) - 39)) AS pos
          FROM documents WHERE len(text) >= 40)),
      dup AS (
        SELECT h FROM grams GROUP BY h
        HAVING count(*) >= 2 AND count(*) <= 100000),
      hits AS (
        SELECT g.doc_id, g.pos AS s, g.pos + 39 AS e
        FROM grams g JOIN dup USING (h)),
      marked AS (
        SELECT *, CASE WHEN pm IS NULL OR pm < s - 1 THEN 1 ELSE 0 END
          AS new_grp
        FROM (SELECT doc_id, s, e,
            max(e) OVER (PARTITION BY doc_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM hits)),
      grp AS (
        SELECT doc_id, s, e,
          sum(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
            ROWS UNBOUNDED PRECEDING) AS g
        FROM marked)
      SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
        max(e) - min(s) + 1 AS span_chars
      FROM grp GROUP BY doc_id, g
      ORDER BY doc_id, span_start""",

    // q176: Stupid Backoff trigram scoring — c123/c12, else 0.4·c23/c2,
    // else 0.16·c3/N; mean over trigram positions.
    "q176_stupid_backoff" -> """
      WITH toks AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)),
          '\s+', ' ', 'g'), ' ') AS tk
        FROM documents),
      tri AS (
        SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
        FROM (SELECT doc_id, tk,
            unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
          FROM toks)),
      bg AS (
        SELECT tk[i] AS wa, tk[i+1] AS wb
        FROM (SELECT tk,
            unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS i
          FROM toks)),
      uni AS (
        SELECT unnest(tk) AS w FROM toks),
      c123 AS (
        SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM tri
        GROUP BY 1, 2, 3),
      cbg AS (
        SELECT wa, wb, count(*)::BIGINT AS cbg FROM bg GROUP BY 1, 2),
      c12 AS (
        SELECT wa AS w1, wb AS w2, cbg AS c12 FROM cbg),
      c23 AS (
        SELECT wa AS w2, wb AS w3, cbg AS c23_raw FROM cbg),
      cu AS (
        SELECT w, count(*)::BIGINT AS cw FROM uni
        WHERE len(w) > 0 GROUP BY 1),
      tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM cu),
      doctri AS (
        SELECT doc_id, w1, w2, w3, count(*)::BIGINT AS m FROM tri
        GROUP BY 1, 2, 3, 4),
      scored AS (
        SELECT d.doc_id, d.m,
          CASE WHEN a.c123 IS NOT NULL
              THEN a.c123::DOUBLE / b.c12::DOUBLE
            WHEN x.c23_raw IS NOT NULL
              THEN 0.4::DOUBLE * x.c23_raw::DOUBLE / u2.cw::DOUBLE
            ELSE (0.4::DOUBLE * 0.4::DOUBLE)
              * coalesce(u3.cw, 0)::DOUBLE
              / t.n_total::DOUBLE END AS s
        FROM doctri d
        LEFT JOIN c123 a ON d.w1 = a.w1 AND d.w2 = a.w2 AND d.w3 = a.w3
        LEFT JOIN c12 b ON d.w1 = b.w1 AND d.w2 = b.w2
        LEFT JOIN c23 x ON d.w2 = x.w2 AND d.w3 = x.w3
        LEFT JOIN cu u2 ON d.w2 = u2.w
        LEFT JOIN cu u3 ON d.w3 = u3.w
        CROSS JOIN tot t)
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
        round(sum(m * s) / sum(m), 6) AS sb_score
      FROM scored GROUP BY doc_id ORDER BY doc_id""",

    // q177: claim_header QA battery — orphan counts vs the elig tables,
    // header-id distinctness, per-year header/ED counts vs prior.
    "q177_claim_header_qa" -> """
      WITH hdr0 AS (
        SELECT o_custkey % 90 AS id_mcaid, o_orderkey AS claim_header_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END AS ed
        FROM orders),
      hdr AS (
        SELECT * FROM hdr0
        UNION ALL SELECT * FROM hdr0 WHERE claim_header_id % 997 = 0),
      demo AS (
        SELECT DISTINCT id_mcaid FROM hdr0 WHERE id_mcaid % 17 <> 3),
      tv AS (SELECT DISTINCT id_mcaid FROM hdr0),
      prior AS (
        SELECT * FROM hdr WHERE year(fsd) <> 1998
        UNION ALL
        SELECT * FROM hdr WHERE year(fsd) = 1994
          AND claim_header_id % 7 = 0),
      orphd AS (
        SELECT count(*)::BIGINT AS c FROM hdr h
        ANTI JOIN demo d ON h.id_mcaid = d.id_mcaid),
      orpht AS (
        SELECT count(*)::BIGINT AS c FROM hdr h
        ANTI JOIN tv t ON h.id_mcaid = t.id_mcaid),
      dk AS (
        SELECT count(*)::BIGINT AS n,
          count(DISTINCT claim_header_id)::BIGINT AS d
        FROM hdr),
      yn AS (
        SELECT year(fsd) AS y, count(*)::BIGINT AS nh,
          CAST(sum(ed) AS BIGINT) AS ne
        FROM hdr GROUP BY 1),
      yc AS (
        SELECT year(fsd) AS y, count(*)::BIGINT AS nh,
          CAST(sum(ed) AS BIGINT) AS ne
        FROM prior GROUP BY 1),
      yj AS (
        SELECT coalesce(yn.y, yc.y) AS y,
          coalesce(yn.nh, 0)::BIGINT AS new_h,
          coalesce(yc.nh, 0)::BIGINT AS cur_h,
          coalesce(yn.ne, 0)::BIGINT AS new_e,
          coalesce(yc.ne, 0)::BIGINT AS cur_e
        FROM yn FULL JOIN yc ON yn.y = yc.y)
      SELECT * FROM (
        SELECT 'mcaid_claim_header vs demo' AS "table",
          'orphan_id_mcaid' AS "check", c = 0 AS pass, c AS observed,
          0::BIGINT AS expected
        FROM orphd
        UNION ALL
        SELECT 'mcaid_claim_header vs timevar', 'orphan_id_mcaid',
          c = 0, c, 0::BIGINT
        FROM orpht
        UNION ALL
        SELECT 'mcaid_claim_header', 'distinct_claim_header_id',
          n = d, d, n
        FROM dk
        UNION ALL
        SELECT 'mcaid_claim_header',
          'num_header_' || CAST(y AS VARCHAR), new_h >= cur_h, new_h,
          cur_h
        FROM yj
        UNION ALL
        SELECT 'mcaid_claim_header', 'num_ed_' || CAST(y AS VARCHAR),
          new_e >= cur_e, new_e, cur_e
        FROM yj)
      ORDER BY "table", "check" """,

    // q178: cluster-cap sampling — exact-Jaccard pairs (recall-1
    // candidates, the q38 argument) → recursive min-label closure →
    // keep lowest 2 ids per cluster.
    "q178_cluster_cap" -> """
      WITH RECURSIVE d AS MATERIALIZED (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
            'g'), ' ') AS toks
          FROM documents)),
      p AS MATERIALIZED (
        SELECT a.doc_id AS ida, b.doc_id AS idb
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(a.sh) + len(b.sh)
              - len(list_intersect(a.sh, b.sh)), 1) >= 0.5),
      sym AS MATERIALIZED (
        SELECT ida AS u, idb AS v FROM p
        UNION SELECT idb, ida FROM p),
      reach AS MATERIALIZED (
        SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node),
      comp AS MATERIALIZED (
        SELECT node AS id, min(lbl) AS component
        FROM reach GROUP BY node),
      allc AS MATERIALIZED (
        SELECT doc_id, coalesce(component, doc_id) AS cluster
        FROM documents LEFT JOIN comp ON doc_id = id)
      SELECT doc_id, cluster, CAST(rn AS INTEGER) AS rank_in_cluster,
        rn <= 2 AS kept
      FROM (SELECT doc_id, cluster, row_number() OVER (
          PARTITION BY cluster ORDER BY doc_id) AS rn FROM allc)
      ORDER BY doc_id""",

    // q179: hard-negative mining — quantized top-21 minus self, split
    // by label into positives and hard negatives, top-3 of each.
    "q179_hard_negatives" -> """
      WITH qz AS (
        SELECT vec_id, label,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id, label,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM qz),
      scored AS (
        SELECT a.vec_id AS query_id, a.label AS a_label,
          b.vec_id AS neighbor_id, b.label AS n_label,
          CASE WHEN list_inner_product(a.q, a.q) = 0
              OR list_inner_product(b.q, b.q) = 0 THEN 0.0
            ELSE list_inner_product(a.q, b.q)
              / (sqrt(list_inner_product(a.q, a.q))
                * sqrt(list_inner_product(b.q, b.q))) END AS qcosine
        FROM qv a CROSS JOIN qv b WHERE a.vec_id < 5),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY qcosine DESC, neighbor_id) AS rk
        FROM scored),
      cand AS (
        SELECT * FROM ranked
        WHERE rk <= 21 AND neighbor_id <> query_id),
      roled AS (
        SELECT query_id, neighbor_id, qcosine,
          CASE WHEN n_label = a_label THEN 'pos' ELSE 'neg' END AS role,
          rk
        FROM cand)
      SELECT query_id AS anchor_id, role,
        CAST(row_number() OVER (PARTITION BY query_id, role
          ORDER BY rk) AS INTEGER) AS role_rank,
        neighbor_id, qcosine
      FROM roled
      QUALIFY role_rank <= 3
      ORDER BY anchor_id, role, role_rank""",

    // q180: streaming hash-split rollup — q123's md5 range cut applied
    // statelessly in-stream, q130's watermark cutoff semantics.
    "q180_stream_split" -> """
      SELECT split, hour_start, n, val FROM (
        SELECT split, date_trunc('hour', ts) AS hour_start,
          count(*) AS n, round(sum(value), 2) AS val
        FROM (
          SELECT *, CASE WHEN b < 3865470566 THEN 'train'
              WHEN b < 4080218931 THEN 'valid'
              ELSE 'test' END AS split
          FROM (SELECT *,
            ('0x' || substr(md5('split:' || user_id::VARCHAR), 1, 8))
              ::UBIGINT AS b
            FROM events))
        GROUP BY 1, 2
        HAVING hour_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR)
      ORDER BY split, hour_start""",

    // q181: BPE merge training — 5 greedy rounds, bracket-encoded
    // sequences so each merge is one literal replace (left-to-right
    // non-overlapping = BPE's greedy order); ties (count, a, b).
    "q181_bpe_merges" -> (BpeCte + """
      SELECT * FROM (
        SELECT 1 AS round, a AS sym_a, b AS sym_b, cnt AS pair_count
        FROM m1
        UNION ALL SELECT 2, a, b, cnt FROM m2
        UNION ALL SELECT 3, a, b, cnt FROM m3
        UNION ALL SELECT 4, a, b, cnt FROM m4
        UNION ALL SELECT 5, a, b, cnt FROM m5)
      ORDER BY round"""),

    // q182: BPE corpus encoding — the fully-merged vocabulary (s5)
    // joined back to document words; chars-per-BPE-token compression.
    "q182_bpe_encode" -> (BpeCte + """,
      s5 AS MATERIALIZED (
        SELECT word, freq, replace(seq,
          '[' || (SELECT a FROM m5) || '][' || (SELECT b FROM m5) || ']',
          '[' || (SELECT a FROM m5) || (SELECT b FROM m5) || ']') AS seq
        FROM s4),
      ws AS (
        SELECT doc_id, word FROM (
          SELECT doc_id, unnest(string_split(regexp_replace(lower(
            trim(text)), '\s+', ' ', 'g'), ' ')) AS word
          FROM documents)
        WHERE len(word) > 0 AND word NOT LIKE '%[%'
          AND word NOT LIKE '%]%'),
      enc AS (
        SELECT word,
          len(string_split(substr(seq, 2, len(seq) - 2), '][')) AS n_sym
        FROM s5)
      SELECT doc_id, count(*)::BIGINT AS n_words,
        CAST(sum(len(word)) AS BIGINT) AS n_chars,
        CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
        round(CAST(sum(len(word)) AS BIGINT)::DOUBLE
          / CAST(sum(n_sym) AS BIGINT)::DOUBLE, 4) AS compression
      FROM ws JOIN enc USING (word)
      GROUP BY doc_id ORDER BY doc_id"""),

    // q183: mcare claim_line — nine-arm union; carrier denial (base-row
    // code IN 1..9, no-base-row EXCLUDED) vs facility denial (empty/NULL,
    // no-base-row PASSES); trimmed-length-gated POS/rev padding quirk.
    "q183_mcare_claim_line" -> """
      WITH lineall AS (
        SELECT 'B' || CAST(o_custkey AS VARCHAR) AS bene_id,
          'C' || CAST(l_orderkey AS VARCHAR) AS clm_id,
          CAST(l_linenumber AS VARCHAR) AS line_no,
          CASE WHEN l_partkey % 5 = 0 THEN '1'
            WHEN l_partkey % 5 = 1 THEN ' 2'
            WHEN l_partkey % 5 = 2 THEN '23'
            WHEN l_partkey % 5 = 3 THEN NULL
            ELSE '11' END AS pos,
          CAST(l_suppkey % 10 AS VARCHAR) AS tos,
          CASE WHEN l_partkey % 7 = 0 THEN '45'
            WHEN l_partkey % 7 = 1 THEN ' 450'
            WHEN l_partkey % 7 = 2 THEN '0450'
            WHEN l_partkey % 7 = 3 THEN NULL
            ELSE lpad(CAST(l_partkey % 10000 AS VARCHAR), 4, '0')
            END AS rev_cntr,
          l_orderkey % 9 AS arm
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      base AS (
        SELECT 'C' || CAST(o_orderkey AS VARCHAR) AS clm_id,
          CAST(o_orderdate AS DATE) AS clm_from_dt,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 15 AS INT)
            AS clm_thru_dt,
          CASE WHEN o_orderkey % 12 = 10 THEN NULL
            WHEN o_orderkey % 12 = 11 THEN 'D'
            ELSE CAST(o_orderkey % 12 AS VARCHAR) END AS dnl,
          CASE WHEN o_orderkey % 11 = 0 THEN 'N'
            WHEN o_orderkey % 11 = 1 THEN NULL ELSE '' END AS nonpmt
        FROM orders WHERE o_orderkey % 19 <> 0),
      enroll AS (
        SELECT 'B' || CAST(c_custkey AS VARCHAR) AS bene_id
        FROM customer WHERE c_custkey % 7 <> 3),
      carrier AS (
        SELECT l.bene_id AS id_mcare, l.clm_id AS claim_header_id,
          l.line_no AS claim_line_id, b.clm_from_dt AS first_service_date,
          b.clm_thru_dt AS last_service_date,
          CAST(NULL AS VARCHAR) AS revenue_code,
          CASE WHEN len(trim(l.pos)) < 2
            THEN right('0' || trim(l.pos), 2) ELSE l.pos END
            AS place_of_service_code,
          l.tos AS type_of_service,
          CASE WHEN l.arm = 0 THEN 'carrier' ELSE 'dme' END
            AS filetype_mcare
        FROM lineall l LEFT JOIN base b ON l.clm_id = b.clm_id
        WHERE l.arm IN (0, 1)
          AND b.dnl IN ('1','2','3','4','5','6','7','8','9')
          AND l.bene_id IN (SELECT bene_id FROM enroll)),
      facility AS (
        SELECT l.bene_id AS id_mcare, l.clm_id AS claim_header_id,
          l.line_no AS claim_line_id, b.clm_from_dt AS first_service_date,
          b.clm_thru_dt AS last_service_date,
          CASE WHEN len(trim(l.rev_cntr)) < 4
            THEN right('000' || trim(l.rev_cntr), 4) ELSE l.rev_cntr END
            AS revenue_code,
          CAST(NULL AS VARCHAR) AS place_of_service_code,
          CAST(NULL AS VARCHAR) AS type_of_service,
          CASE WHEN l.arm = 2 THEN 'hha' WHEN l.arm = 3 THEN 'hospice'
            WHEN l.arm IN (4, 5) THEN 'inpatient'
            WHEN l.arm IN (6, 7) THEN 'outpatient'
            ELSE 'snf' END AS filetype_mcare
        FROM lineall l LEFT JOIN base b ON l.clm_id = b.clm_id
        WHERE l.arm >= 2
          AND (b.nonpmt = '' OR b.nonpmt IS NULL)
          AND l.bene_id IN (SELECT bene_id FROM enroll))
      SELECT DISTINCT * FROM (
        SELECT * FROM carrier UNION ALL SELECT * FROM facility)
      ORDER BY filetype_mcare, claim_header_id, claim_line_id,
        revenue_code, place_of_service_code""",

    // q184: mcare claim_icdcm_header — the 38-slot unpivot expressed as
    // an equivalent (claim x available-slot) cross join; per-shape denial
    // rules; exact-' ' drop; first-service-date-gated ICD-9 pad/version.
    "q184_mcare_claim_icdcm" -> """
      WITH base AS (
        SELECT 'B' || CAST(o_custkey AS VARCHAR) AS bene_id,
          'C' || CAST(o_orderkey AS VARCHAR) AS clm_id,
          (CAST(o_orderdate AS DATE)
            + INTERVAL (CAST(o_orderkey % 3 AS INT) * 120) MONTH)::DATE
            AS clm_from_dt,
          ((CAST(o_orderdate AS DATE)
            + INTERVAL (CAST(o_orderkey % 3 AS INT) * 120) MONTH)::DATE
            + CAST(o_orderkey % 15 AS INT)) AS clm_thru_dt,
          CASE WHEN o_orderkey % 12 = 10 THEN NULL
            WHEN o_orderkey % 12 = 11 THEN 'D'
            ELSE CAST(o_orderkey % 12 AS VARCHAR) END AS dnl,
          CASE WHEN o_orderkey % 11 = 0 THEN 'N'
            WHEN o_orderkey % 11 = 1 THEN NULL ELSE '' END AS nonpmt,
          o_orderkey % 9 AS arm,
          o_orderkey AS ok
        FROM orders),
      gated AS (
        SELECT * FROM base
        WHERE (arm IN (0, 1)
            AND dnl IN ('1','2','3','4','5','6','7','8','9'))
          OR (arm >= 2 AND (nonpmt = '' OR nonpmt IS NULL))),
      enrolled AS (
        SELECT * FROM gated
        WHERE bene_id IN (
          SELECT 'B' || CAST(c_custkey AS VARCHAR)
          FROM customer WHERE c_custkey % 7 <> 3)),
      long AS (
        SELECT g.bene_id AS id_mcare, g.clm_id AS claim_header_id,
          g.clm_from_dt AS first_service_date,
          g.clm_thru_dt AS last_service_date,
          CASE WHEN g.arm = 0 THEN 'carrier' WHEN g.arm = 1 THEN 'dme'
            WHEN g.arm = 2 THEN 'hha' WHEN g.arm = 3 THEN 'hospice'
            WHEN g.arm IN (4, 5) THEN 'inpatient'
            WHEN g.arm IN (6, 7) THEN 'outpatient'
            ELSE 'snf' END AS filetype_mcare,
          CASE WHEN s.i = 0 THEN 'admit'
            WHEN s.i <= 25 THEN lpad(CAST(s.i AS VARCHAR), 2, '0')
            ELSE 'ecode_' || CAST(s.i - 25 AS VARCHAR) END AS icdcm_number,
          CASE (g.ok * 7 + s.i * 13) % 11
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '250'
            WHEN 3 THEN '2504' WHEN 4 THEN '25043' WHEN 5 THEN 'V12'
            WHEN 6 THEN 'V123' WHEN 7 THEN 'E950' WHEN 8 THEN 'A1505'
            WHEN 9 THEN 'E'
              || lpad(CAST((g.ok + s.i) % 999 AS VARCHAR), 3, '0')
            ELSE 'Z' || CAST((g.ok + s.i) % 99 AS VARCHAR) END
            AS icdcm_raw
        FROM enrolled g CROSS JOIN range(0, 38) s(i)
        WHERE (s.i = 0 AND g.arm IN (4, 5, 8))
          OR (s.i BETWEEN 1 AND 12)
          OR (g.arm >= 2 AND s.i >= 13))
      SELECT DISTINCT id_mcare, claim_header_id, first_service_date,
        last_service_date, filetype_mcare, icdcm_number, icdcm_raw,
        CASE WHEN (regexp_matches(icdcm_raw, '^[0-9]')
              OR (regexp_matches(icdcm_raw, '^[EV]')
                AND first_service_date < DATE '2015-10-01'))
            AND len(icdcm_raw) = 3 THEN icdcm_raw || '00'
          WHEN (regexp_matches(icdcm_raw, '^[0-9]')
              OR (regexp_matches(icdcm_raw, '^[EV]')
                AND first_service_date < DATE '2015-10-01'))
            AND len(icdcm_raw) = 4 THEN icdcm_raw || '0'
          ELSE icdcm_raw END AS icdcm_norm,
        CASE WHEN regexp_matches(icdcm_raw, '^[0-9]')
            OR (regexp_matches(icdcm_raw, '^[EV]')
              AND first_service_date < DATE '2015-10-01')
          THEN 9 ELSE 10 END AS icdcm_version
      FROM long
      WHERE icdcm_raw IS NOT NULL AND icdcm_raw <> ' '
      ORDER BY filetype_mcare, claim_header_id, icdcm_number, icdcm_raw""",

    // q185: mcare claim_procedure — per-arm branch replica (modifier
    // UNPIVOT / no-modifier residual / BETOS / ICD-PCS unpivot, per-arm
    // denial + modifier availability + blank-fold), enrollment at the end.
    "q185_mcare_claim_procedure" -> """
      WITH base AS (
        SELECT 'B' || CAST(o_custkey AS VARCHAR) AS bene_id,
          'C' || CAST(o_orderkey AS VARCHAR) AS clm_id,
          CAST(o_orderdate AS DATE) AS clm_from_dt,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 15 AS INT)
            AS clm_thru_dt,
          CASE WHEN o_orderkey % 12 = 10 THEN NULL
            WHEN o_orderkey % 12 = 11 THEN 'D'
            ELSE CAST(o_orderkey % 12 AS VARCHAR) END AS dnl,
          CASE WHEN o_orderkey % 11 = 0 THEN 'N'
            WHEN o_orderkey % 11 = 1 THEN NULL ELSE '' END AS nonpmt,
          o_orderkey % 9 AS arm, o_orderkey AS ok
        FROM orders),
      lines AS (
        SELECT 'C' || CAST(l_orderkey AS VARCHAR) AS clm_id,
          CASE (l_partkey * 3 + l_linenumber) % 6
            WHEN 0 THEN NULL WHEN 1 THEN '99213' WHEN 2 THEN 'G0438'
            ELSE lpad(CAST(l_partkey % 99999 AS VARCHAR), 5, '0') END
            AS pchcpcs,
          CASE (l_partkey + 7) % 5
            WHEN 1 THEN 'M1A' WHEN 2 THEN 'T1H' WHEN 3 THEN 'O1A'
            END AS pcbetos,
          CASE (l_partkey * 5 + 11 + l_suppkey) % 7
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '25'
            WHEN 3 THEN '59' WHEN 4 THEN 'GT' WHEN 5 THEN 'LT'
            ELSE '76' END AS rm1,
          CASE (l_partkey * 5 + 22 + l_suppkey) % 7
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '25'
            WHEN 3 THEN '59' WHEN 4 THEN 'GT' WHEN 5 THEN 'LT'
            ELSE '76' END AS rm2,
          CASE (l_partkey * 5 + 33 + l_suppkey) % 7
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '25'
            WHEN 3 THEN '59' WHEN 4 THEN 'GT' WHEN 5 THEN 'LT'
            ELSE '76' END AS rm3,
          CASE (l_partkey * 5 + 44 + l_suppkey) % 7
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '25'
            WHEN 3 THEN '59' WHEN 4 THEN 'GT' WHEN 5 THEN 'LT'
            ELSE '76' END AS rm4
        FROM lineitem),
      joined AS (
        SELECT b.*, l.pchcpcs, l.pcbetos,
          CASE WHEN (CASE b.arm WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 3
              WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 0 WHEN 6 THEN 4
              WHEN 7 THEN 2 ELSE 3 END) >= 1
            THEN CASE WHEN b.arm IN (2, 3) AND l.rm1 = ' ' THEN NULL
              ELSE l.rm1 END END AS m1,
          CASE WHEN (CASE b.arm WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 3
              WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 0 WHEN 6 THEN 4
              WHEN 7 THEN 2 ELSE 3 END) >= 2
            THEN CASE WHEN b.arm IN (2, 3) AND l.rm2 = ' ' THEN NULL
              ELSE l.rm2 END END AS m2,
          CASE WHEN (CASE b.arm WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 3
              WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 0 WHEN 6 THEN 4
              WHEN 7 THEN 2 ELSE 3 END) >= 3
            THEN CASE WHEN b.arm IN (2, 3) AND l.rm3 = ' ' THEN NULL
              ELSE l.rm3 END END AS m3,
          CASE WHEN (CASE b.arm WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 3
              WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 0 WHEN 6 THEN 4
              WHEN 7 THEN 2 ELSE 3 END) >= 4
            THEN CASE WHEN b.arm IN (2, 3) AND l.rm4 = ' ' THEN NULL
              ELSE l.rm4 END END AS m4
        FROM base b LEFT JOIN lines l ON b.clm_id = l.clm_id
        WHERE (b.arm IN (0, 1)
            AND b.dnl IN ('1','2','3','4','5','6','7','8','9'))
          OR (b.arm >= 2 AND (b.nonpmt = '' OR b.nonpmt IS NULL))),
      long AS (
        SELECT bene_id, clm_id, clm_from_dt, clm_thru_dt, arm,
          pchcpcs AS procedure_code, mv AS modifier_code
        FROM (SELECT j.*, unnest([j.m1, j.m2, j.m3, j.m4]) AS mv
              FROM joined j)
        WHERE pchcpcs IS NOT NULL AND mv IS NOT NULL
        UNION ALL
        SELECT bene_id, clm_id, clm_from_dt, clm_thru_dt, arm,
          pchcpcs, NULL
        FROM joined
        WHERE pchcpcs IS NOT NULL AND m1 IS NULL AND m2 IS NULL
          AND m3 IS NULL AND m4 IS NULL
        UNION ALL
        SELECT bene_id, clm_id, clm_from_dt, clm_thru_dt, arm,
          pcbetos, NULL
        FROM joined
        WHERE arm IN (0, 1) AND pcbetos IS NOT NULL
        UNION ALL
        SELECT bene_id, clm_id, clm_from_dt, clm_thru_dt, arm,
          CASE (ok * 11 + s.i * 17) % 9
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '0210093'
            WHEN 3 THEN '8606'
            ELSE lpad(CAST((ok + s.i) % 99999 AS VARCHAR), 5, '0') END,
          NULL
        FROM joined CROSS JOIN range(1, 26) s(i)
        WHERE arm >= 4
          AND (CASE (ok * 11 + s.i * 17) % 9
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '0210093'
            WHEN 3 THEN '8606'
            ELSE lpad(CAST((ok + s.i) % 99999 AS VARCHAR), 5, '0') END)
            IS NOT NULL
          AND (CASE (ok * 11 + s.i * 17) % 9
            WHEN 0 THEN NULL WHEN 1 THEN ' ' WHEN 2 THEN '0210093'
            WHEN 3 THEN '8606'
            ELSE lpad(CAST((ok + s.i) % 99999 AS VARCHAR), 5, '0') END)
            <> ' ')
      SELECT DISTINCT bene_id AS id_mcare, clm_id AS claim_header_id,
        clm_from_dt AS first_service_date, clm_thru_dt AS last_service_date,
        procedure_code, modifier_code,
        CASE WHEN arm = 0 THEN 'carrier' WHEN arm = 1 THEN 'dme'
          WHEN arm = 2 THEN 'hha' WHEN arm = 3 THEN 'hospice'
          WHEN arm IN (4, 5) THEN 'inpatient'
          WHEN arm IN (6, 7) THEN 'outpatient'
          ELSE 'snf' END AS filetype_mcare
      FROM long
      WHERE bene_id IN (
        SELECT 'B' || CAST(c_custkey AS VARCHAR)
        FROM customer WHERE c_custkey % 7 <> 3)
      ORDER BY filetype_mcare, claim_header_id, procedure_code,
        modifier_code""",

    // q186: mcaid_elig staging — RAC-misspelling fix, END_REASON
    // priority dedup (DISTINCT over stage vars, which exclude HOH_ID),
    // archive-before-cut UNION-distinct merge with SHA-256 geo hash,
    // post-distinct MEDICAID_RECIPIENT_ID upper-case.
    "q186_mcaid_elig_stage" -> (EligStageRawCte + """,
      fixed AS (
        SELECT * REPLACE (CASE WHEN RAC_NAME =
            'Involuntary Inpatient Psychiactric Treatment (ITA)'
          THEN 'Involuntary Inpatient Psychiatric Treatment (ITA)'
          ELSE RAC_NAME END AS RAC_NAME)
        FROM raw),
      scored AS (
        SELECT *,
          CASE WHEN END_REASON_NAME IS NULL THEN 1
            WHEN END_REASON_NAME = 'Other' THEN 2
            WHEN END_REASON_NAME = 'Other - For User Generation Only'
              THEN 3
            WHEN END_REASON_NAME = 'Review Not Complete' THEN 4
            WHEN END_REASON_NAME = 'No Eligible Household Members' THEN 5
            WHEN END_REASON_NAME =
              'Already Eligible for Program in Different AU' THEN 6
            ELSE 7 END AS score
        FROM fixed),
      keep AS (
        SELECT * FROM (
          SELECT *, MAX(score) OVER (PARTITION BY CLNDR_YEAR_MNTH,
            MBR_H_SID, MEDICAID_RECIPIENT_ID, RAC_FROM_DATE, RAC_TO_DATE,
            RAC_CODE) AS mx
          FROM scored)
        WHERE score = mx
          -- plain-equality id keys: NULL rows match no max row
          AND CLNDR_YEAR_MNTH IS NOT NULL AND MBR_H_SID IS NOT NULL
          AND MEDICAID_RECIPIENT_ID IS NOT NULL),
      ded AS (
        SELECT DISTINCT CLNDR_YEAR_MNTH, MBR_H_SID,
          MEDICAID_RECIPIENT_ID, GENDER, RAC_CODE, RAC_NAME,
          RAC_FROM_DATE, RAC_TO_DATE, END_REASON_NAME,
          DUALELIGIBLE_INDICATOR, RSDNTL_ADRS_LINE_1, RSDNTL_ADRS_LINE_2,
          RSDNTL_CITY_NAME, RSDNTL_STATE_CODE, RSDNTL_POSTAL_CODE,
          MBR_ACES_IDNTFR, etl_batch_id
        FROM keep),
      archive AS (
        SELECT CLNDR_YEAR_MNTH, MBR_H_SID, MEDICAID_RECIPIENT_ID, GENDER,
          RAC_CODE, RAC_NAME, RAC_FROM_DATE, RAC_TO_DATE, END_REASON_NAME,
          DUALELIGIBLE_INDICATOR, RSDNTL_ADRS_LINE_1, RSDNTL_ADRS_LINE_2,
          RSDNTL_CITY_NAME, RSDNTL_STATE_CODE, RSDNTL_POSTAL_CODE,
          upper(sha256(upper(coalesce(RSDNTL_ADRS_LINE_1, '') || '|'
            || coalesce(RSDNTL_ADRS_LINE_2, '') || '|' || '|'
            || RSDNTL_CITY_NAME || '|' || RSDNTL_STATE_CODE || '|'
            || RSDNTL_POSTAL_CODE))) AS geo_hash_raw,
          MBR_ACES_IDNTFR, etl_batch_id
        FROM arch0),
      merged AS (
        SELECT * FROM archive
        WHERE CLNDR_YEAR_MNTH < (SELECT MIN(CLNDR_YEAR_MNTH) FROM ded)
        UNION
        SELECT CLNDR_YEAR_MNTH, MBR_H_SID, MEDICAID_RECIPIENT_ID, GENDER,
          RAC_CODE, RAC_NAME, RAC_FROM_DATE, RAC_TO_DATE, END_REASON_NAME,
          DUALELIGIBLE_INDICATOR, RSDNTL_ADRS_LINE_1, RSDNTL_ADRS_LINE_2,
          RSDNTL_CITY_NAME, RSDNTL_STATE_CODE, RSDNTL_POSTAL_CODE,
          upper(sha256(upper(coalesce(RSDNTL_ADRS_LINE_1, '') || '|'
            || coalesce(RSDNTL_ADRS_LINE_2, '') || '|' || '|'
            || RSDNTL_CITY_NAME || '|' || RSDNTL_STATE_CODE || '|'
            || RSDNTL_POSTAL_CODE))) AS geo_hash_raw,
          MBR_ACES_IDNTFR, etl_batch_id
        FROM ded)
      SELECT * REPLACE (upper(MEDICAID_RECIPIENT_ID)
        AS MEDICAID_RECIPIENT_ID)
      FROM merged
      ORDER BY CLNDR_YEAR_MNTH, MBR_H_SID, upper(MEDICAID_RECIPIENT_ID),
        RAC_CODE, RAC_FROM_DATE, RAC_NAME, END_REASON_NAME, geo_hash_raw,
        etl_batch_id"""),

    // q187: the three duplicate-diagnosis probes — distinct counts under
    // fixed projections each dropping one suspect discriminator.
    "q187_elig_dup_probes" -> (EligStageRawCte + """
      SELECT probe, total_rows, distinct_rows,
        CASE WHEN distinct_rows <> total_rows THEN 1 ELSE 0 END
          AS dup_present
      FROM (
        SELECT 'end_reason' AS probe,
          (SELECT COUNT(*) FROM raw) AS total_rows,
          (SELECT COUNT(*) FROM (SELECT DISTINCT CLNDR_YEAR_MNTH,
            MBR_H_SID, MEDICAID_RECIPIENT_ID, RAC_FROM_DATE, RAC_TO_DATE,
            RAC_CODE, RAC_NAME, DUALELIGIBLE_INDICATOR FROM raw))
            AS distinct_rows
        UNION ALL
        SELECT 'hoh_id',
          (SELECT COUNT(*) FROM raw),
          (SELECT COUNT(*) FROM (SELECT DISTINCT CLNDR_YEAR_MNTH,
            MBR_H_SID, MEDICAID_RECIPIENT_ID, RAC_FROM_DATE, RAC_TO_DATE,
            RAC_CODE, END_REASON_NAME, RAC_NAME, DUALELIGIBLE_INDICATOR
            FROM raw))
        UNION ALL
        SELECT 'rac_name',
          (SELECT COUNT(*) FROM raw),
          (SELECT COUNT(*) FROM (SELECT DISTINCT CLNDR_YEAR_MNTH,
            MBR_H_SID, MEDICAID_RECIPIENT_ID, RAC_FROM_DATE, RAC_TO_DATE,
            RAC_CODE, END_REASON_NAME, DUALELIGIBLE_INDICATOR FROM raw)))
      ORDER BY probe"""),

    // q188: address_clean full refresh — two-source NA-equal combine,
    // cleaning-service left join, manual bind + NULL-propagating po_box
    // fix, PHA full-join restore with flag recompute/max/distinct.
    "q188_address_clean_full" -> """
      WITH mc AS (
        SELECT
          CASE WHEN k % 13 = 0 THEN '' WHEN k % 17 = 0 THEN 'NA'
            WHEN k % 11 = 0 THEN NULL
            ELSE CAST(k % 50 AS VARCHAR) || ' PINE ST' END AS geo_add1_raw,
          CASE WHEN k % 5 = 0 THEN 'APT ' || CAST(k % 9 AS VARCHAR)
            WHEN k % 7 = 0 THEN '' END AS geo_add2_raw,
          CASE WHEN k % 19 = 0 THEN 'NA'
            ELSE 'CITY' || CAST(k % 20 AS VARCHAR) END AS geo_city_raw,
          CASE WHEN k % 3 = 0 THEN 'WA' ELSE 'OR' END AS geo_state_raw,
          lpad(CAST(k % 400 AS VARCHAR), 5, '0') AS geo_zip_raw
        FROM (SELECT DISTINCT c_custkey % 120 AS k FROM customer)),
      pha_full AS (
        SELECT
          CASE WHEN j % 9 = 0 THEN NULL
            ELSE CAST(j % 60 AS VARCHAR) || ' PINE ST' END AS unit_add,
          CASE WHEN j % 4 = 0 THEN 'UNIT ' || CAST(j % 6 AS VARCHAR)
            END AS unit_apt,
          CASE WHEN j % 8 = 0 THEN 'FL ' || CAST(j % 3 AS VARCHAR)
            END AS unit_apt2,
          'CITY' || CAST(j % 20 AS VARCHAR) AS unit_city,
          CASE WHEN j % 3 = 0 THEN 'WA' ELSE 'OR' END AS unit_state,
          lpad(CAST(j % 400 AS VARCHAR), 5, '0') AS unit_zip,
          CASE WHEN j % 10 = 0 THEN '' WHEN j % 15 = 5 THEN 'NA'
            ELSE CAST(j % 50 AS VARCHAR) || ' PINE ST' END AS geo_add1_raw,
          CASE WHEN j % 4 = 0 THEN 'UNIT ' || CAST(j % 6 AS VARCHAR)
            END AS geo_add2_raw,
          'CITY' || CAST(j % 20 AS VARCHAR) AS geo_city_raw,
          CASE WHEN j % 3 = 0 THEN 'WA' ELSE 'OR' END AS geo_state_raw,
          lpad(CAST(j % 400 AS VARCHAR), 5, '0') AS geo_zip_raw
        FROM (SELECT DISTINCT s_suppkey % 80 AS j FROM supplier)),
      manual AS (
        SELECT * FROM (VALUES
          ('3 PINE ST', CAST(NULL AS VARCHAR), 'CITY3', 'WA', '00003',
            '3 PINE STREET', 'UNIT 1', 'CITY3', 'WA', '00003',
            'PO BOX 9', 1),
          ('999 X ST', 'STE 9', 'CITYX', 'WA', '99999',
            '999 X STREET', CAST(NULL AS VARCHAR), 'CITYX', 'WA',
            '99999', CAST(NULL AS VARCHAR), 1))
          t(geo_add1_raw, geo_add2_raw, geo_city_raw, geo_state_raw,
            geo_zip_raw, geo_add1_clean, geo_add2_clean, geo_city_clean,
            geo_state_clean, geo_zip_clean, mailbox, overridden)),
      m_src AS (
        SELECT DISTINCT geo_add1_raw, geo_add2_raw, geo_city_raw,
          geo_state_raw, geo_zip_raw, 1 AS geo_source_mcaid,
          CAST(NULL AS INT) AS geo_source_pha
        FROM mc),
      p_src AS (
        SELECT nullif(nullif(geo_add1_raw, ''), 'NA') AS geo_add1_raw,
          nullif(nullif(geo_add2_raw, ''), 'NA') AS geo_add2_raw,
          nullif(nullif(geo_city_raw, ''), 'NA') AS geo_city_raw,
          nullif(nullif(geo_state_raw, ''), 'NA') AS geo_state_raw,
          nullif(nullif(geo_zip_raw, ''), 'NA') AS geo_zip_raw,
          CAST(NULL AS INT) AS geo_source_mcaid, 1 AS geo_source_pha
        FROM (SELECT DISTINCT geo_add1_raw, geo_add2_raw, geo_city_raw,
          geo_state_raw, geo_zip_raw FROM pha_full)),
      joint AS (
        SELECT m.geo_add1_raw, m.geo_add2_raw, m.geo_city_raw,
          m.geo_state_raw, m.geo_zip_raw, m.geo_source_mcaid,
          1 AS geo_source_pha
        FROM m_src m JOIN p_src p
          ON m.geo_add1_raw IS NOT DISTINCT FROM p.geo_add1_raw
          AND m.geo_add2_raw IS NOT DISTINCT FROM p.geo_add2_raw
          AND m.geo_city_raw IS NOT DISTINCT FROM p.geo_city_raw
          AND m.geo_state_raw IS NOT DISTINCT FROM p.geo_state_raw
          AND m.geo_zip_raw IS NOT DISTINCT FROM p.geo_zip_raw),
      combined0 AS (
        SELECT * FROM m_src m
        WHERE NOT EXISTS (SELECT 1 FROM joint x
          WHERE m.geo_add1_raw IS NOT DISTINCT FROM x.geo_add1_raw
          AND m.geo_add2_raw IS NOT DISTINCT FROM x.geo_add2_raw
          AND m.geo_city_raw IS NOT DISTINCT FROM x.geo_city_raw
          AND m.geo_state_raw IS NOT DISTINCT FROM x.geo_state_raw
          AND m.geo_zip_raw IS NOT DISTINCT FROM x.geo_zip_raw)
        UNION ALL
        SELECT * FROM p_src p
        WHERE NOT EXISTS (SELECT 1 FROM joint x
          WHERE p.geo_add1_raw IS NOT DISTINCT FROM x.geo_add1_raw
          AND p.geo_add2_raw IS NOT DISTINCT FROM x.geo_add2_raw
          AND p.geo_city_raw IS NOT DISTINCT FROM x.geo_city_raw
          AND p.geo_state_raw IS NOT DISTINCT FROM x.geo_state_raw
          AND p.geo_zip_raw IS NOT DISTINCT FROM x.geo_zip_raw)
        UNION ALL
        SELECT * FROM joint),
      combined AS (
        SELECT nullif(nullif(geo_add1_raw, ''), 'NA') AS geo_add1_raw,
          nullif(nullif(geo_add2_raw, ''), 'NA') AS geo_add2_raw,
          nullif(nullif(geo_city_raw, ''), 'NA') AS geo_city_raw,
          nullif(nullif(geo_state_raw, ''), 'NA') AS geo_state_raw,
          nullif(nullif(geo_zip_raw, ''), 'NA') AS geo_zip_raw,
          geo_source_mcaid, geo_source_pha
        FROM combined0 c
        WHERE NOT EXISTS (SELECT 1 FROM manual x
          WHERE c.geo_add1_raw IS NOT DISTINCT FROM x.geo_add1_raw
          AND c.geo_add2_raw IS NOT DISTINCT FROM x.geo_add2_raw
          AND c.geo_city_raw IS NOT DISTINCT FROM x.geo_city_raw
          AND c.geo_state_raw IS NOT DISTINCT FROM x.geo_state_raw
          AND c.geo_zip_raw IS NOT DISTINCT FROM x.geo_zip_raw)),
      svc AS (
        SELECT *,
          'CL ' || coalesce(geo_add1_raw, 'NONE') AS geo_add1_clean,
          CASE WHEN geo_add2_raw IS NOT NULL
            THEN 'CL ' || geo_add2_raw END AS geo_add2_clean,
          upper(geo_city_raw) AS geo_city_clean,
          geo_state_raw AS geo_state_clean,
          geo_zip_raw AS geo_zip_clean,
          CASE WHEN coalesce(len(geo_add1_raw), 0) % 5 = 0 THEN 1
            ELSE 0 END AS po_box,
          coalesce(len(geo_add1_raw), 0) % 4 AS mailabilty_score
        FROM (SELECT DISTINCT geo_add1_raw, geo_add2_raw, geo_city_raw,
            geo_state_raw, geo_zip_raw FROM combined)
        WHERE (coalesce(len(geo_add1_raw), 0)
          + coalesce(len(geo_city_raw), 0)) % 4 <> 0),
      clean AS (
        SELECT c.geo_add1_raw, c.geo_add2_raw, c.geo_city_raw,
          c.geo_state_raw, c.geo_zip_raw, c.geo_source_mcaid,
          c.geo_source_pha, s.geo_add1_clean, s.geo_add2_clean,
          s.geo_city_clean, s.geo_state_clean, s.geo_zip_clean,
          s.po_box, s.mailabilty_score,
          CAST(NULL AS VARCHAR) AS mailbox, CAST(NULL AS INT) AS overridden
        FROM combined c LEFT JOIN svc s
          ON c.geo_add1_raw IS NOT DISTINCT FROM s.geo_add1_raw
          AND c.geo_add2_raw IS NOT DISTINCT FROM s.geo_add2_raw
          AND c.geo_city_raw IS NOT DISTINCT FROM s.geo_city_raw
          AND c.geo_state_raw IS NOT DISTINCT FROM s.geo_state_raw
          AND c.geo_zip_raw IS NOT DISTINCT FROM s.geo_zip_raw),
      full0 AS (
        SELECT DISTINCT * FROM (
          SELECT * FROM clean
          UNION ALL
          SELECT geo_add1_raw, geo_add2_raw, geo_city_raw, geo_state_raw,
            geo_zip_raw, CAST(NULL AS INT), CAST(NULL AS INT),
            geo_add1_clean, geo_add2_clean, geo_city_clean,
            geo_state_clean, geo_zip_clean, CAST(NULL AS INT),
            CAST(NULL AS INT), mailbox, overridden
          FROM manual)),
      fullfix AS (
        SELECT DISTINCT * REPLACE (
          CASE WHEN po_box = 1 OR mailbox IS NOT NULL THEN 1
            WHEN NOT (po_box = 1 OR mailbox IS NOT NULL) THEN 0
            END AS po_box)
        FROM full0),
      py AS (
        SELECT nullif(nullif(geo_add1_raw, ''), 'NA') AS y_add1,
          nullif(nullif(geo_add2_raw, ''), 'NA') AS y_add2,
          nullif(nullif(geo_city_raw, ''), 'NA') AS y_city,
          nullif(nullif(geo_state_raw, ''), 'NA') AS y_state,
          nullif(nullif(geo_zip_raw, ''), 'NA') AS y_zip,
          nullif(nullif(unit_add, ''), 'NA') AS unit_add,
          nullif(nullif(unit_apt, ''), 'NA') AS unit_apt,
          nullif(nullif(unit_apt2, ''), 'NA') AS unit_apt2,
          nullif(nullif(unit_city, ''), 'NA') AS unit_city,
          nullif(nullif(unit_state, ''), 'NA') AS unit_state,
          nullif(nullif(unit_zip, ''), 'NA') AS unit_zip,
          1 AS y_pha
        FROM pha_full),
      fj AS (
        SELECT coalesce(f.geo_add1_raw, p.y_add1) AS k_add1,
          coalesce(f.geo_add2_raw, p.y_add2) AS k_add2,
          coalesce(f.geo_city_raw, p.y_city) AS k_city,
          coalesce(f.geo_state_raw, p.y_state) AS k_state,
          coalesce(f.geo_zip_raw, p.y_zip) AS k_zip,
          f.geo_add1_clean, f.geo_add2_clean, f.geo_city_clean,
          f.geo_state_clean, f.geo_zip_clean, f.po_box, f.overridden,
          f.geo_source_mcaid, f.geo_source_pha, p.y_pha,
          p.unit_add, p.unit_apt, p.unit_apt2, p.unit_city, p.unit_state,
          p.unit_zip
        FROM fullfix f FULL JOIN py p
          ON f.geo_add1_raw IS NOT DISTINCT FROM p.y_add1
          AND f.geo_add2_raw IS NOT DISTINCT FROM p.y_add2
          AND f.geo_city_raw IS NOT DISTINCT FROM p.y_city
          AND f.geo_state_raw IS NOT DISTINCT FROM p.y_state
          AND f.geo_zip_raw IS NOT DISTINCT FROM p.y_zip),
      restored AS (
        SELECT
          CASE WHEN y_pha = 1 THEN unit_add ELSE k_add1 END
            AS geo_add1_raw,
          CASE WHEN y_pha = 1 THEN unit_apt ELSE k_add2 END
            AS geo_add2_raw,
          unit_apt2 AS geo_add3_raw,
          CASE WHEN y_pha = 1 THEN unit_city ELSE k_city END
            AS geo_city_raw,
          CASE WHEN y_pha = 1 THEN unit_state ELSE k_state END
            AS geo_state_raw,
          CASE WHEN y_pha = 1 THEN unit_zip ELSE k_zip END
            AS geo_zip_raw,
          CASE WHEN xfer = 1 THEN k_add1 ELSE geo_add1_clean END
            AS geo_add1_clean,
          CASE WHEN xfer = 1 THEN k_add2 ELSE geo_add2_clean END
            AS geo_add2_clean,
          CASE WHEN xfer = 1 THEN k_city ELSE geo_city_clean END
            AS geo_city_clean,
          CASE WHEN xfer = 1 THEN k_state ELSE geo_state_clean END
            AS geo_state_clean,
          CASE WHEN xfer = 1 THEN k_zip ELSE geo_zip_clean END
            AS geo_zip_clean,
          CASE WHEN geo_source_mcaid = 1 THEN 1
            WHEN overridden = 1 THEN 1 ELSE 0 END AS geo_source_mcaid,
          CASE WHEN geo_source_pha = 1 THEN 1
            WHEN y_pha = 1 THEN 1 ELSE 0 END AS geo_source_pha,
          po_box,
          CASE WHEN overridden IS NULL THEN 0 ELSE 1 END AS overridden
        FROM (SELECT fj.*,
          CASE WHEN y_pha IS NOT NULL AND geo_add1_clean IS NULL
            AND geo_add2_clean IS NULL AND geo_city_clean IS NULL
            AND geo_state_clean IS NULL AND geo_zip_clean IS NULL
            THEN 1 ELSE 0 END AS xfer
          FROM fj))
      SELECT DISTINCT geo_add1_raw, geo_add2_raw, geo_add3_raw,
        geo_city_raw, geo_state_raw, geo_zip_raw, geo_add1_clean,
        geo_add2_clean, geo_city_clean, geo_state_clean, geo_zip_clean,
        MAX(geo_source_mcaid) OVER (PARTITION BY geo_add1_raw,
          geo_add2_raw, geo_add3_raw, geo_city_raw, geo_state_raw,
          geo_zip_raw) AS geo_source_mcaid,
        MAX(geo_source_pha) OVER (PARTITION BY geo_add1_raw,
          geo_add2_raw, geo_add3_raw, geo_city_raw, geo_state_raw,
          geo_zip_raw) AS geo_source_pha,
        po_box, overridden
      FROM restored
      ORDER BY geo_add1_raw, geo_add2_raw, geo_add3_raw, geo_city_raw,
        geo_zip_raw, geo_add1_clean, geo_add2_clean, geo_source_mcaid,
        geo_source_pha, po_box, overridden""",

    // q189: two-stage binary ANN — sign-bit word packing (bit 63 via the
    // min-long two's-complement identity), coarse Hamming top-20, exact
    // int8-cosine re-rank (the q129 quantization chain).
    "q189_binary_ann" -> """
      WITH bw AS (
        SELECT vec_id,
          CASE WHEN embedding[64] > 0
            THEN (-9223372036854775807 - 1) ELSE 0 END
          + CAST(list_sum(list_transform(range(1, 64),
              i -> CASE WHEN embedding[i] > 0
                THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))
            AS BIGINT) AS w
        FROM embeddings),
      coarse AS (
        SELECT * FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            CAST(bit_count(xor(q.w, c.w)) AS INT) AS hamming,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY bit_count(xor(q.w, c.w)), c.vec_id) AS cr
          FROM bw q CROSS JOIN bw c WHERE q.vec_id < 5)
        WHERE cr <= 20),
      qz AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM qz),
      rer AS (
        SELECT co.query_id, co.neighbor_id, co.hamming,
          CASE WHEN list_inner_product(a.q, a.q) = 0
              OR list_inner_product(b.q, b.q) = 0 THEN 0.0
            ELSE list_inner_product(a.q, b.q)
              / (sqrt(list_inner_product(a.q, a.q))
                * sqrt(list_inner_product(b.q, b.q))) END AS qcosine
        FROM coarse co
        JOIN qv a ON co.query_id = a.vec_id
        JOIN qv b ON co.neighbor_id = b.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY qcosine DESC, neighbor_id) AS rk
        FROM rer)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
        hamming, qcosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q190: Matryoshka two-stage ANN — prefix-16 int8 coarse cosine,
    // full-dim int8 re-rank; both stages the q129 integer-exact chain.
    "q190_matryoshka_ann" -> """
      WITH qz AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM qz),
      coarse AS (
        SELECT * FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            CASE WHEN list_inner_product(a.q[1:16], a.q[1:16]) = 0
                OR list_inner_product(b.q[1:16], b.q[1:16]) = 0 THEN 0.0
              ELSE list_inner_product(a.q[1:16], b.q[1:16])
                / (sqrt(list_inner_product(a.q[1:16], a.q[1:16]))
                  * sqrt(list_inner_product(b.q[1:16], b.q[1:16]))) END
              AS prefix_cosine,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY (CASE
                WHEN list_inner_product(a.q[1:16], a.q[1:16]) = 0
                  OR list_inner_product(b.q[1:16], b.q[1:16]) = 0
                THEN 0.0
                ELSE list_inner_product(a.q[1:16], b.q[1:16])
                  / (sqrt(list_inner_product(a.q[1:16], a.q[1:16]))
                    * sqrt(list_inner_product(b.q[1:16], b.q[1:16])))
                END) DESC, b.vec_id) AS cr
          FROM qv a CROSS JOIN qv b WHERE a.vec_id < 5)
        WHERE cr <= 20),
      rer AS (
        SELECT co.query_id, co.neighbor_id, co.prefix_cosine,
          CASE WHEN list_inner_product(a.q, a.q) = 0
              OR list_inner_product(b.q, b.q) = 0 THEN 0.0
            ELSE list_inner_product(a.q, b.q)
              / (sqrt(list_inner_product(a.q, a.q))
                * sqrt(list_inner_product(b.q, b.q))) END AS qcosine
        FROM coarse co
        JOIN qv a ON co.query_id = a.vec_id
        JOIN qv b ON co.neighbor_id = b.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY qcosine DESC, neighbor_id) AS rk
        FROM rer)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
        prefix_cosine, qcosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q191: trigram novelty vs the doc_id%3==0 reference slice —
    // distinct per-doc trigrams left-joined to the reference vocabulary,
    // short docs zero-filled with NULL novelty.
    "q191_ngram_novelty" -> """
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' '), w -> len(w) > 0) AS t
        FROM documents),
      ref_grams AS (
        SELECT DISTINCT gram FROM (
          SELECT unnest(CASE WHEN len(t) >= 3
            THEN list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' '))
            ELSE [] END) AS gram
          FROM toks WHERE doc_id % 3 = 0)),
      doc_grams AS (
        SELECT DISTINCT doc_id, gram FROM (
          SELECT doc_id, unnest(CASE WHEN len(t) >= 3
            THEN list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' '))
            ELSE [] END) AS gram
          FROM toks WHERE doc_id % 3 <> 0)),
      per_doc AS (
        SELECT d.doc_id, count(*) AS n_grams,
          CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel
        FROM doc_grams d
        LEFT JOIN ref_grams r ON d.gram = r.gram
        GROUP BY d.doc_id)
      SELECT t.doc_id,
        coalesce(p.n_grams, 0) AS n_grams,
        coalesce(p.n_novel, 0) AS n_novel,
        round(p.n_novel::DOUBLE / p.n_grams, 6) AS novelty
      FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 3 <> 0) t
      LEFT JOIN per_doc p ON t.doc_id = p.doc_id
      ORDER BY t.doc_id""",

    // q192: sp_mcaidcohort steps 1-6 — the full sproc replicated as
    // chained CTEs over the same synthetic sources (see McaidCohortCte).
    "q192_mcaid_cohort" -> (McaidCohortCte + """
      SELECT * FROM mcohort ORDER BY id"""),

    // q193: sp_mcaid_claims_simple_r over the q192 cohort — the
    // began-in-window claim scan gated by EXISTS(##id), dental from
    // clm_type '4', the two-level (id, from_date)-max -> id-sum
    // dedup (unmatched cohort ids collapse into the NULL claim-side
    // group exactly as the T-SQL GROUP BY a.id does), zero-fill after
    // the sum, no_claims keyed on ed_cnt IS NULL.
    "q193_mcaid_claims_simple" -> (McaidCohortCte + {
      val flags = Seq("inpatient", "ipt_medsurg", "ipt_bh", "ed",
        "ed_avoid_ca", "ed_emergent_nyu", "ed_nonemergent_nyu",
        "ed_intermediate_nyu", "dental")
      val maxes = flags.map(f => s"MAX(a.$f) AS $f").mkString(", ")
      val sums = flags
        .map(f => s"CAST(SUM($f) AS BIGINT) AS ${f}_cnt").mkString(", ")
      val zeros = flags
        .map(f => s"COALESCE(${f}_cnt, 0) AS ${f}_cnt").mkString(", ")
      s""",
      claims AS (
        SELECT c.*,
          CASE WHEN clm_type_code = '4' THEN 1 ELSE 0 END AS dental
        FROM claim_summary c
        WHERE from_date >= DATE '1995-01-01'
          AND from_date <= DATE '1995-12-31'
          AND EXISTS (SELECT 1 FROM ids WHERE ids.id = c.id)),
      per_day AS (
        SELECT a.id AS cid, a.from_date, $maxes
        FROM (SELECT id FROM mcohort) i
        LEFT JOIN claims a ON i.id = a.id
        GROUP BY a.id, a.from_date),
      per_id AS (
        SELECT cid, $sums FROM per_day GROUP BY cid)
      SELECT DATE '1995-01-01' AS query_from_date,
        DATE '1995-12-31' AS query_to_date,
        m.*, $zeros,
        CASE WHEN ed_cnt IS NULL THEN 1 ELSE 0 END AS no_claims
      FROM mcohort m LEFT JOIN per_id p ON m.id = p.cid
      ORDER BY m.id"""
    }),

    // q194: dbo.Split faithful behavior — split on ',', drop slices
    // whose trailing-space-insensitive length is 0, keep order/dupes.
    "q194_tsql_split" -> """
      WITH src AS (
        SELECT k,
          'A' || CAST(k % 5 AS VARCHAR) || ',,B'
            || CAST(k % 3 AS VARCHAR) || ', ,'
            || CASE WHEN k % 4 = 0 THEN 'dup,dup'
               ELSE 'C' || CAST(k % 7 AS VARCHAR) END
            || CASE WHEN k % 6 = 0 THEN ',' ELSE '' END AS csv
        FROM (SELECT DISTINCT c_custkey % 50 AS k FROM customer) t)
      SELECT k, csv,
        unnest(list_filter(string_split(csv, ','),
          x -> length(rtrim(x, ' ')) > 0)) AS item
      FROM src
      ORDER BY k, item""",

    // q195: spatial overlay — the oracle joins every point against
    // every polygon with the raw even-odd ray cast (the st_join
    // semantics), independently validating that the grid-partitioned
    // equi-join path finds exactly the same containment pairs.
    "q195_geo_overlay" -> {
      def pip(t: String): String = {
        def nxt(f: String) =
          s"$t.poly[CASE WHEN i = len($t.poly) THEN 1 ELSE i+1 END].$f"
        s"""(list_sum(list_transform(range(1, len($t.poly) + 1), i ->
          CASE WHEN ($t.poly[i].y > p.py) <> (${nxt("y")} > p.py)
            AND p.px < (${nxt("x")} - $t.poly[i].x)
              * (p.py - $t.poly[i].y) / (${nxt("y")} - $t.poly[i].y)
              + $t.poly[i].x
          THEN 1 ELSE 0 END)) % 2 = 1)"""
      }
      s"""
      WITH pts AS (
        SELECT c_custkey AS pid,
          c_custkey % 1000 / CAST(100.0 AS DOUBLE)
            + CAST(0.005 AS DOUBLE) AS px,
          c_custkey * 7 % 1000 / CAST(100.0 AS DOUBLE)
            + CAST(0.005 AS DOUBLE) AS py
        FROM customer),
      tracts AS (
        SELECT 'T' || CAST(n_nationkey AS VARCHAR) AS tract_id,
          [struct_pack(x := CAST(n_nationkey % 5 * 2 AS DOUBLE),
             y := CAST(n_nationkey // 5 * 2 AS DOUBLE)),
           struct_pack(x := CAST(n_nationkey % 5 * 2 + 2 AS DOUBLE),
             y := CAST(n_nationkey // 5 * 2 AS DOUBLE)),
           struct_pack(x := CAST(n_nationkey % 5 * 2 + 2 AS DOUBLE),
             y := CAST(n_nationkey // 5 * 2 + 2 AS DOUBLE)),
           struct_pack(x := CAST(n_nationkey % 5 * 2 AS DOUBLE),
             y := CAST(n_nationkey // 5 * 2 + 2 AS DOUBLE))] AS poly
        FROM nation),
      regions AS (
        SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS region_name,
          [struct_pack(x := CAST(r_regionkey * 2 AS DOUBLE),
             y := CAST(0 AS DOUBLE)),
           struct_pack(x := CAST(r_regionkey * 2 + 2 AS DOUBLE),
             y := CAST(0 AS DOUBLE)),
           struct_pack(x := CAST(r_regionkey * 2 + 2 AS DOUBLE),
             y := CAST(10 AS DOUBLE)),
           struct_pack(x := CAST(r_regionkey * 2 AS DOUBLE),
             y := CAST(10 AS DOUBLE))] AS poly
        FROM region),
      schools AS (
        SELECT 'S' || CAST(n_nationkey AS VARCHAR) AS school,
          [struct_pack(x := CAST(n_nationkey AS DOUBLE),
             y := CAST(0 AS DOUBLE)),
           struct_pack(x := CAST(n_nationkey + 1 AS DOUBLE),
             y := CAST(0 AS DOUBLE)),
           struct_pack(x := CAST(n_nationkey + 0.5 AS DOUBLE),
             y := CAST(9.75 AS DOUBLE))] AS poly
        FROM nation WHERE n_nationkey < 10)
      SELECT p.pid, p.px, p.py, t.tract_id, r.region_name, s.school
      FROM pts p
      LEFT JOIN tracts t ON ${pip("t")}
      LEFT JOIN regions r ON ${pip("r")}
      LEFT JOIN schools s ON ${pip("s")}
      ORDER BY p.pid"""
    },

    // q196: PassJoin edit-distance join — the oracle brute-forces every
    // length-compatible pair with levenshtein, independently pinning
    // the pigeonhole-segment candidate path's EXACT recall.
    "q196_edit_distance_join" -> """
      WITH base AS (
        SELECT p_partkey AS id, p_name AS str FROM part
        WHERE p_partkey % 20 = 0),
      titles AS (
        SELECT * FROM base
        UNION ALL
        SELECT id + 100000000, 'X' || substr(str, 2) FROM base
        WHERE id % 40 = 0
        UNION ALL
        SELECT id + 200000000, substr(str, 3) FROM base
        WHERE id % 60 = 0)
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(levenshtein(a.str, b.str) AS INT) AS dist
      FROM titles a JOIN titles b
        ON a.id < b.id AND abs(len(a.str) - len(b.str)) <= 2
      WHERE levenshtein(a.str, b.str) <= 2
      ORDER BY id_a, id_b""",

    // q197: mutual-kNN graph — q104's raw-float cell assignment (same
    // cen/assigned CTEs), q129's integer-exact quantized cosine for
    // the within-cell edge ranks, reverse-edge self-join for mutual.
    "q197_knn_graph" -> """
      WITH cen AS (
        SELECT j AS cell,
          list(CAST(((j*29 + d*11) % 15) - 7 AS DOUBLE) ORDER BY d) AS cv
        FROM generate_series(0, 7) t(j), generate_series(0, 63) s(d)
        GROUP BY j),
      assigned AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv)
                DESC, c.cell DESC) AS rn
          FROM embeddings e CROSS JOIN cen c) WHERE rn = 1),
      qv AS (
        SELECT vec_id, cell,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM (
          SELECT vec_id, cell, embedding,
            list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
              / 127.0 AS s
          FROM assigned)),
      edges AS (
        SELECT * FROM (
          SELECT a.vec_id AS src, b.vec_id AS dst,
            CASE WHEN list_inner_product(a.q, a.q) = 0
                OR list_inner_product(b.q, b.q) = 0 THEN 0.0
              ELSE list_inner_product(a.q, b.q)
                / (sqrt(list_inner_product(a.q, a.q))
                  * sqrt(list_inner_product(b.q, b.q))) END AS qcosine,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY CASE WHEN list_inner_product(a.q, a.q) = 0
                  OR list_inner_product(b.q, b.q) = 0 THEN 0.0
                ELSE list_inner_product(a.q, b.q)
                  / (sqrt(list_inner_product(a.q, a.q))
                    * sqrt(list_inner_product(b.q, b.q))) END DESC,
                b.vec_id) AS rank
          FROM qv a JOIN qv b ON a.cell = b.cell
            AND a.vec_id <> b.vec_id)
        WHERE rank <= 4)
      SELECT e.src, e.dst, e.qcosine, CAST(e.rank AS INTEGER) AS rank,
        CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
      FROM edges e
      LEFT JOIN (SELECT dst AS src, src AS dst FROM edges) r
        ON e.src = r.src AND e.dst = r.dst
      ORDER BY e.src, e.rank""",

    // q198: CCW prevalence QA — per-condition qualification replicated
    // per-arm (the q61 CTEs), year-prevalence share vs benchmark with
    // the documented PASS guidance, age_grp7 distribution with the
    // leap-year divisor and the dob-after-year-end NULL branch.
    "q198_ccw_prevalence_qa" -> """
      WITH c1 AS (
        SELECT o_custkey, min(o_orderdate::DATE) AS first_date,
          max(o_orderdate::DATE) AS last_date
        FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1),
      oc AS (SELECT o_custkey, o_orderdate::DATE AS d FROM orders
             WHERE o_orderstatus = 'O'),
      ocq AS (
        SELECT o_custkey FROM (
          SELECT o_custkey, CASE WHEN date_diff('day', d,
            lead(d) OVER (PARTITION BY o_custkey ORDER BY d)) <= 90
            THEN 1 ELSE 0 END AS p
          FROM oc) GROUP BY 1 HAVING max(p) = 1),
      c2 AS (
        SELECT c.o_custkey, min(d) AS first_date, max(d) AS last_date
        FROM oc c JOIN ocq USING (o_custkey) GROUP BY 1),
      fc AS (SELECT o_custkey, o_orderdate::DATE AS d FROM orders
             WHERE o_orderstatus = 'F'),
      fcq AS (
        SELECT o_custkey FROM (
          SELECT o_custkey, CASE WHEN date_diff('day', d,
            lead(d) OVER (PARTITION BY o_custkey ORDER BY d)) <= 180
            THEN 1 ELSE 0 END AS p
          FROM fc) GROUP BY 1 HAVING max(p) = 1),
      c3 AS (
        SELECT f.o_custkey, min(d) AS first_date, max(d) AS last_date
        FROM fc f JOIN fcq USING (o_custkey) GROUP BY 1),
      ccw AS (
        SELECT 'big_spender' AS condition, * FROM c1
        UNION ALL SELECT 'open_frequent', * FROM c2
        UNION ALL SELECT 'filled_frequent', * FROM c3),
      prevalent AS (
        SELECT condition, o_custkey FROM ccw
        WHERE year(first_date) <= 1996 AND year(last_date) >= 1996),
      cover AS (
        SELECT DISTINCT o_custkey FROM (
          SELECT o_custkey, o_orderdate::DATE AS fd,
            o_orderdate::DATE + CAST(o_orderkey % 90 AS INT) AS td
          FROM orders) t
        WHERE year(fd) <= 1996 AND year(td) >= 1996),
      popn AS (SELECT CAST(count(*) AS BIGINT) AS pop FROM cover),
      bench AS (
        SELECT 'big_spender' AS condition,
          CAST(4.2 AS DOUBLE) AS benchmark
        UNION ALL SELECT 'open_frequent', CAST(30.0 AS DOUBLE)),
      prev AS (
        SELECT 'prevalence' AS section, g.condition,
          CAST(NULL AS VARCHAR) AS age_grp7, g.id_dcount, popn.pop,
          round(g.id_dcount / popn.pop * 100.0, 4) AS prop,
          b.benchmark,
          round(g.id_dcount / popn.pop * 100.0 - b.benchmark, 4)
            AS abs_diff,
          round((g.id_dcount / popn.pop * 100.0 - b.benchmark)
            / (g.id_dcount / popn.pop * 100.0) * 100.0, 4) AS per_diff,
          CASE WHEN b.benchmark IS NULL THEN NULL
            WHEN abs((g.id_dcount / popn.pop * 100.0 - b.benchmark)
              / (g.id_dcount / popn.pop * 100.0) * 100.0) < 10
              OR abs(g.id_dcount / popn.pop * 100.0 - b.benchmark) < 0.5
            THEN 'PASS' ELSE 'REVIEW' END AS verdict
        FROM (
          SELECT condition,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS id_dcount
          FROM prevalent GROUP BY 1) g
        CROSS JOIN popn
        LEFT JOIN bench b ON g.condition = b.condition),
      demo AS (
        SELECT o_custkey,
          CASE
            WHEN age >= 0 AND age < 5 THEN '00-04'
            WHEN age >= 5 AND age < 12 THEN '05-11'
            WHEN age >= 12 AND age < 18 THEN '12-17'
            WHEN age >= 18 AND age < 25 THEN '18-24'
            WHEN age >= 25 AND age < 45 THEN '25-44'
            WHEN age >= 45 AND age < 65 THEN '45-64'
            WHEN age >= 65 THEN '65 and over' END AS age_grp7
        FROM (
          SELECT o_custkey, CAST(CASE
            WHEN datediff('day', dob, DATE '1996-12-31') >= 0
            THEN FLOOR((datediff('day', dob, DATE '1996-12-31') + 1)
              / 366.0) END AS INT) AS age
          FROM (
            SELECT DISTINCT o_custkey,
              DATE '1930-01-01'
                + CAST(o_custkey * 61 % 24800 AS INT) AS dob
            FROM orders) d)),
      popage AS (
        SELECT age_grp7,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS pop
        FROM cover JOIN demo USING (o_custkey)
        WHERE age_grp7 IS NOT NULL GROUP BY 1),
      condage AS (
        SELECT 'age_dist' AS section, ca.condition, ca.age_grp7,
          ca.id_dcount, popage.pop,
          round(ca.id_dcount / popage.pop * 100.0, 4) AS prop,
          CAST(NULL AS DOUBLE) AS benchmark,
          CAST(NULL AS DOUBLE) AS abs_diff,
          CAST(NULL AS DOUBLE) AS per_diff,
          CAST(NULL AS VARCHAR) AS verdict
        FROM (
          SELECT p.condition, d.age_grp7,
            CAST(count(DISTINCT p.o_custkey) AS BIGINT) AS id_dcount
          FROM (SELECT DISTINCT condition, o_custkey FROM prevalent) p
          LEFT JOIN demo d USING (o_custkey)
          WHERE d.age_grp7 IS NOT NULL GROUP BY 1, 2) ca
        JOIN popage USING (age_grp7))
      SELECT * FROM prev UNION ALL SELECT * FROM condage
      ORDER BY section, condition, age_grp7""",

    // q199: stream-stream LEFT OUTER interval join — inner matches plus
    // null rows for never-matched clicks whose state the final global
    // watermark (min over both sides of max ts - delay) evicted.
    "q199_stream_left_join" -> """
      WITH clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'),
      wm AS (
        SELECT least((SELECT max(click_ts) FROM clicks),
          (SELECT max(purchase_ts) FROM purch))
          - INTERVAL 3600 SECONDS AS w),
      matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
          (epoch_us(p.purchase_ts) - epoch_us(c.click_ts)) // 1000000
            AS gap_sec
        FROM clicks c JOIN purch p
          ON c.user_id = p.user_id
          AND epoch_us(p.purchase_ts) >= epoch_us(c.click_ts)
          AND epoch_us(p.purchase_ts)
            <= epoch_us(c.click_ts) + 3600000000)
      SELECT * FROM matched
      UNION ALL
      SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        c.user_id, CAST(NULL AS BIGINT) AS gap_sec
      FROM clicks c
      WHERE NOT EXISTS (
          SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
        AND c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
      ORDER BY click_id, purchase_id""",

    // q200: pairwise Jensen-Shannon divergence between language
    // domains — q172's md5 bucket space, densified distributions,
    // ln/ln2 terms mirrored, rounded to 1e-6.
    "q200_jsd_matrix" -> """
      WITH toks AS (
        SELECT lang AS d,
          unnest(string_split(regexp_replace(lower(trim(text)),
            '\s+', ' ', 'g'), ' ')) AS f
        FROM documents),
      bk AS (
        SELECT d, ('0x' || substr(md5(f), 1, 8))::UBIGINT % 256 AS b
        FROM toks WHERE len(f) > 0),
      counts AS (
        SELECT d, CAST(b AS BIGINT) AS b, count(*) AS n
        FROM bk GROUP BY 1, 2),
      tot AS (SELECT d, CAST(sum(n) AS BIGINT) AS tot
        FROM counts GROUP BY 1),
      dense AS (
        SELECT t.d, s.b,
          COALESCE(c.n, 0)::DOUBLE / t.tot AS p
        FROM tot t
        CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS b) s
        LEFT JOIN counts c ON c.d = t.d AND c.b = s.b)
      SELECT a.d AS source_a, b.d AS source_b,
        round(sum(
          (CASE WHEN a.p > 0
            THEN a.p * (ln(a.p * 2 / (a.p + b.p)) / ln(2))
            ELSE 0 END) * 0.5 +
          (CASE WHEN b.p > 0
            THEN b.p * (ln(b.p * 2 / (a.p + b.p)) / ln(2))
            ELSE 0 END) * 0.5), 6) AS jsd
      FROM dense a JOIN dense b ON a.b = b.b AND a.d < b.d
      GROUP BY 1, 2
      ORDER BY source_a, source_b""",

    // q201: CDR raw round-trip — the oracle aggregates the SOURCE
    // table directly, so any parse/sanitize loss in the |@| round-trip
    // breaks the hash.
    "q201_cdr_raw_load" -> """
      SELECT c_mktsegment AS mkt_segment_name, count(*) AS n,
        round(sum(c_acctbal), 2) AS total_bal,
        CAST(min(c_custkey) AS BIGINT) AS min_key,
        CAST(max(c_custkey) AS BIGINT) AS max_key
      FROM customer
      GROUP BY 1 ORDER BY 1""",

    // q202: stable surrogate ids — phase 1 numbers the first window by
    // id; phase 2 keeps prior surrogates and numbers newcomers with the
    // reference's row_number over (prior DESC NULLS LAST, id), which
    // equals kept-count + newcomer rank. The CHAIN is pinned.
    "q202_stable_ids" -> """
      WITH eligA AS (
        SELECT DISTINCT 'P' || CAST(o_custkey % 150 AS VARCHAR) AS id
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1993-01-01'
          AND DATE '1994-12-31'),
      p1 AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS id_uw FROM eligA),
      eligB AS (
        SELECT DISTINCT 'P' || CAST(o_custkey % 150 AS VARCHAR) AS id
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-01-01'
          AND DATE '1997-12-31'),
      j AS (
        SELECT c.id, b.id_uw FROM eligB c LEFT JOIN p1 b USING (id))
      SELECT id AS id_mcaid,
        CAST(CASE WHEN id_uw IS NOT NULL THEN id_uw
          ELSE ROW_NUMBER() OVER (ORDER BY id_uw DESC NULLS LAST, id)
          END AS BIGINT) AS id_uw
      FROM j
      ORDER BY id_mcaid""",

    // q203: de-identified study extract — the full cohort CTE chain
    // (period flags, index gate, 18th-birthday gate, EXCEPT backfill)
    // plus the clinical export with the 18+-at-service row gate.
    "q203_study_extract" -> """
      WITH mpm_person AS (
        SELECT 'P' || CAST(o_custkey % 200 AS VARCHAR) AS provideroneid,
          CAST(o_orderdate AS DATE) AS insurance_start_date,
          CAST(98000 + o_orderkey % 150 AS VARCHAR) ||
            CASE WHEN o_orderkey % 7 = 0 THEN '-1234' ELSE '' END AS zip
        FROM orders),
      mpm_index AS (
        SELECT 'P' || CAST(k AS VARCHAR) AS provideroneid,
          CASE WHEN k % 23 = 7 THEN NULL
            ELSE 'PT' || CAST(k AS VARCHAR) END AS patientid,
          DATE '1930-01-01' + CAST((k * 89) % 25000 AS INT) AS birthdate
        FROM (SELECT DISTINCT c_custkey % 200 AS k FROM customer) t),
      chr AS (
        SELECT 'PT' || CAST(k AS VARCHAR) AS patient_id,
          DATE '1930-01-01' + CAST((k * 97) % 25000 AS INT)
            AS date_of_birth,
          CAST(98000 + k % 150 AS VARCHAR) AS zip,
          DATE '1992-01-01' + CAST((k * 13) % 2200 AS INT)
            AS record_change_date
        FROM (SELECT DISTINCT c_custkey % 240 AS k FROM customer) t),
      kc AS (
        SELECT CAST(98000 + k AS VARCHAR) AS geo_zip, 1 AS geo_kc
        FROM (SELECT DISTINCT c_custkey % 100 AS k FROM customer) t),
      enc AS (
        SELECT 'PT' || CAST(o_custkey % 240 AS VARCHAR) AS patient_id,
          CAST(o_orderdate AS DATE) AS service_date,
          'PR' || CAST(o_orderkey % 50 AS VARCHAR) AS proc_code
        FROM orders),
      mpm_2 AS (
        SELECT a.provideroneid, a.insurance_start_date, b.geo_kc
        FROM (SELECT provideroneid, insurance_start_date,
            substr(zip, 1, 5) AS cdr_zip FROM mpm_person) a
        LEFT JOIN kc b ON a.cdr_zip = b.geo_zip),
      mpm_4 AS (
        SELECT a.provideroneid, c.patientid, max(a.geo_kc) AS geo_kc,
          max(CASE WHEN a.insurance_start_date < DATE '1994-06-01'
            AND a.geo_kc = 1 THEN 1 ELSE 0 END) AS pre_kc,
          max(CASE WHEN a.insurance_start_date > DATE '1994-06-01'
            AND a.geo_kc IS NULL THEN 1 ELSE 0 END) AS post_nonkc,
          max(CASE WHEN a.insurance_start_date
              BETWEEN DATE '1994-06-01' AND DATE '1997-12-31'
            AND a.geo_kc = 1 THEN 1 ELSE 0 END) AS study_kc,
          CAST(max(c.birthdate + INTERVAL 18 YEAR) AS DATE) AS dob_18
        FROM mpm_2 a LEFT JOIN mpm_index c USING (provideroneid)
        GROUP BY 1, 2),
      mpm_final AS (
        SELECT provideroneid, patientid, geo_kc, dob_18 FROM mpm_4
        WHERE (study_kc = 1 OR (pre_kc = 1 AND post_nonkc = 1))
          AND patientid IS NOT NULL AND dob_18 <= DATE '1997-12-31'),
      chr_1 AS (
        SELECT DISTINCT patient_id FROM chr
        EXCEPT SELECT DISTINCT patientid FROM mpm_index),
      chr_2 AS (
        SELECT a.patient_id,
          CAST(a.date_of_birth + INTERVAL 18 YEAR AS DATE) AS dob_18
        FROM chr a JOIN kc b ON substr(a.zip, 1, 5) = b.geo_zip
          AND a.record_change_date >= DATE '1994-06-01'
          AND a.date_of_birth + INTERVAL 18 YEAR <= DATE '1997-12-31'),
      chr_final AS (
        SELECT CAST(NULL AS VARCHAR) AS provideroneid,
          c1.patient_id AS patientid, 1 AS geo_kc, c2.dob_18
        FROM chr_1 c1 JOIN chr_2 c2 USING (patient_id)),
      cohort AS (
        SELECT DISTINCT * FROM (
          SELECT * FROM mpm_final
          UNION ALL SELECT * FROM chr_final) u)
      SELECT DISTINCT e.patient_id, e.service_date, e.proc_code
      FROM enc e JOIN cohort c ON e.patient_id = c.patientid
      WHERE e.service_date >= c.dob_18
      ORDER BY 1, 2, 3""",

    // q204: batched export — the oracle replays the batch plan
    // (round(n/7), BETWEEN windows of batch_size + 1 rows), the planted
    // in-field tab strip, and the per-file naming; the Spark side
    // additionally round-trips the files through gzipped tab-separated
    // CSV, so a lossy write also breaks the totals.
    "q204_batch_export" -> """
      WITH base AS (
        SELECT o_orderkey,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price,
          replace(concat(o_orderpriority, chr(9), 'X'), chr(9), '')
            AS prio
        FROM orders),
      cnt AS (SELECT count(*) AS n FROM base),
      rn AS (
        SELECT base.*, row_number() OVER (ORDER BY o_orderkey) AS rownum
        FROM base),
      sized AS (
        SELECT rn.*, CAST(round(n / 7.0) AS BIGINT) AS bs
        FROM rn CROSS JOIN cnt),
      batched AS (
        SELECT *,
          CAST(floor((rownum - 1) / (bs + 1)) AS BIGINT) + 1 AS fno
        FROM sized)
      SELECT concat('final.orders.', lpad(CAST(fno AS VARCHAR), 3, '0'),
          '_20260318.csv.gz') AS file_name,
        count(*) AS n,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        round((sum(price))::DOUBLE, 2) AS total,
        CAST(sum(length(prio)) AS BIGINT) AS prio_chars
      FROM batched
      GROUP BY 1 ORDER BY 1""",

    // q205: APCD extract-file ETL log — the oracle rebuilds the same
    // mid-import fixture (two retired deliveries, the current one
    // partially loaded with a planted 5-row shortfall), re-parses the
    // incoming names with the reference's dot-split + fixed-position
    // date rules, renumbers the unlogged files in directory-scan order,
    // and replays the row-count gate incl. the ERROR string.
    "q205_apcd_etl_log" -> (apcdEtlLogCtes + """
      SELECT etl_id, file_name, file_schema, file_table, file_number,
        file_date, status,
        max(file_number) OVER (PARTITION BY file_date, file_schema,
          file_table) AS max_file_num,
        rows_file, rows_loaded, load_result
      FROM unioned
      ORDER BY etl_id"""),

    // q248: the composed auto-import chain — the q205 state run to
    // completion: created→downloaded→loaded with the row-count gate
    // re-stamped; a second shortfall (customer file 002, 3 rows) is
    // produced by THIS run's load loop.
    "q248_apcd_import_chain" -> (apcdEtlLogCtes + """,
      final AS (
        SELECT etl_id, file_name, file_schema, file_table, file_number,
          file_date,
          CASE WHEN status IN ('created', 'downloaded') THEN 'loaded'
            ELSE status END AS status,
          rows_file,
          CASE WHEN status IN ('created', 'downloaded')
            THEN rows_file - (CASE WHEN file_name =
              'stage.customer.002_20260318.csv.gz' THEN 3 ELSE 0 END)
            ELSE rows_loaded END AS rows_loaded
        FROM unioned)
      SELECT etl_id, file_name, file_schema, file_table, file_number,
        file_date, status,
        max(file_number) OVER (PARTITION BY file_date, file_schema,
          file_table) AS max_file_num,
        rows_file, rows_loaded,
        CASE WHEN rows_loaded IS NULL THEN NULL
          WHEN rows_file = rows_loaded THEN 'OK'
          ELSE concat('ERROR: Row Count of File ', file_name, ' (',
            CAST(rows_file AS VARCHAR),
            ') does NOT MATCH Rows Loaded to SQL Table (',
            CAST(rows_loaded AS VARCHAR), ')!!!') END AS load_result
      FROM final
      ORDER BY etl_id"""),

    // q206: metadata etl_log batch ids — matched keys reuse the highest
    // log id, new keys number latest+1.. in request order, and a
    // same-run repeat of a new key reuses its first occurrence's id.
    "q206_etl_batch_ids" -> """
      WITH yrs AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS yr
        FROM orders WHERE year(o_orderdate) <= 1996),
      log AS (
        SELECT CAST(yr - 1991 AS BIGINT) AS etl_batch_id,
          CASE WHEN yr % 2 = 0 THEN 'Full refresh'
            ELSE 'Incremental refresh' END AS batch_type,
          CASE WHEN yr % 3 = 0 THEN 'APCD'
            WHEN yr % 3 = 1 THEN 'Medicaid'
            ELSE 'Medicare' END AS data_source,
          make_date(yr, 1, 15) AS delivery_date
        FROM yrs),
      req(request_order, yr) AS (VALUES
        (1, 1995), (2, 1996), (3, 1997), (4, 1997), (5, 1998)),
      reqk AS (
        SELECT CAST(request_order AS INTEGER) AS request_order,
          CASE WHEN yr % 2 = 0 THEN 'Full refresh'
            ELSE 'Incremental refresh' END AS batch_type,
          CASE WHEN yr % 3 = 0 THEN 'APCD'
            WHEN yr % 3 = 1 THEN 'Medicaid'
            ELSE 'Medicare' END AS data_source,
          make_date(yr, 1, 15) AS delivery_date
        FROM req),
      m AS (
        SELECT batch_type, data_source, delivery_date,
          max(etl_batch_id) AS log_id
        FROM log GROUP BY 1, 2, 3),
      j AS (
        SELECT r.*, m.log_id FROM reqk r
        LEFT JOIN m USING (batch_type, data_source, delivery_date)),
      firsts AS (
        SELECT batch_type, data_source, delivery_date,
          min(request_order) AS first_ord
        FROM j WHERE log_id IS NULL GROUP BY 1, 2, 3),
      newids AS (
        SELECT f.*, (SELECT coalesce(max(etl_batch_id), 0) FROM log)
          + row_number() OVER (ORDER BY first_ord) AS new_id
        FROM firsts f)
      SELECT request_order, batch_type, data_source, delivery_date,
        CAST(coalesce(log_id, new_id) AS BIGINT) AS etl_batch_id,
        (log_id IS NOT NULL OR request_order > first_ord) AS reused
      FROM j LEFT JOIN newids
        USING (batch_type, data_source, delivery_date)
      ORDER BY request_order""",

    // q207: Bloom decontamination pre-filter — the oracle recomputes the
    // double-hashed (h1 + i*h2) mod m positions from the same md5 halves
    // and treats the bitmap as the position SET it is (bit_or only sets
    // bits), so maybe-hits incl. the deterministic false positives match
    // bit-for-bit.
    "q207_bloom_decontam" -> """
      WITH toks AS (
        SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
            ' ') AS tk
        FROM documents),
      grams AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(tk) - 2, 1)),
            i -> array_to_string(tk[i:i+2], ' '))) AS gs
        FROM toks),
      bgram AS (
        SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 29 = 0),
      refpos AS (
        SELECT DISTINCT (h1 + i * h2) % 262144 AS pos
        FROM (SELECT
            ('0x' || substr(md5(g), 1, 8))::UBIGINT::BIGINT AS h1,
            ('0x' || substr(md5(g), 9, 8))::UBIGINT::BIGINT AS h2
          FROM bgram)
        CROSS JOIN generate_series(0, 2) t(i)),
      probe AS (SELECT doc_id, unnest(gs) AS g FROM grams),
      ph AS (
        SELECT doc_id, g,
          ('0x' || substr(md5(g), 1, 8))::UBIGINT::BIGINT AS h1,
          ('0x' || substr(md5(g), 9, 8))::UBIGINT::BIGINT AS h2
        FROM probe),
      pg AS (
        SELECT doc_id, g,
          bool_and((h1 + i * h2) % 262144 IN (SELECT pos FROM refpos))
            AS maybe
        FROM ph CROSS JOIN generate_series(0, 2) t(i)
        GROUP BY doc_id, g)
      SELECT doc_id, count(*) AS n_grams,
        CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
        CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS DOUBLE)
          / greatest(count(*), 1) >= 0.3 AS contaminated
      FROM pg GROUP BY doc_id ORDER BY doc_id""",

    // q208: CDR byte sanitize + terminator accounting — the oracle
    // builds the same planted-control-byte records; per-record sanitize
    // is equivalent to blob sanitize because the terminator is printable.
    // The space-count column moves if control bytes survive.
    "q208_cdr_file_prep" -> """
      WITH rec AS (
        SELECT c_custkey % 50 AS blob_id,
          concat_ws('|@|', CAST(c_custkey AS VARCHAR),
            translate(c_name, 'er', chr(7) || chr(10)),
            CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR),
            c_mktsegment) AS rec
        FROM customer),
      blobs AS (
        SELECT blob_id, string_agg(rec, '~@~') || '~@~' AS blob,
          count(*) AS n
        FROM rec GROUP BY blob_id),
      chk AS (
        SELECT CAST(sum(CASE WHEN (length(blob)
            - length(replace(blob, '~@~', ''))) / 3 = n
          THEN 0 ELSE 1 END) = 0 AS BOOLEAN) AS terminators_ok
        FROM blobs),
      parsed AS (
        SELECT string_split(
          regexp_replace(rec, '[^\x20-\x7E]', ' ', 'g'), '|@|') AS f
        FROM rec),
      typed AS (
        SELECT CAST(f[1] AS BIGINT) AS custkey, f[2] AS name,
          CAST(f[3] AS DECIMAL(12,2)) AS bal, f[4] AS seg
        FROM parsed)
      SELECT seg, count(*) AS n, round((sum(bal))::DOUBLE, 2) AS total,
        CAST(sum(length(name)) AS BIGINT) AS name_chars,
        CAST(sum(length(name) - length(replace(name, ' ', '')))
          AS BIGINT) AS name_spaces,
        min(custkey) AS min_key, max(custkey) AS max_key,
        terminators_ok
      FROM typed CROSS JOIN chk
      GROUP BY seg, terminators_ok ORDER BY seg""",

    // q209: Count-Min heavy hitters — the oracle rebuilds the 4x2048
    // grid from the same md5 double hashing and replays the min-over-
    // cells estimate; `over` must be true everywhere (the CMS bound).
    "q209_cms_heavy_hitters" -> """
      WITH toks AS (
        SELECT unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents),
      counts AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok),
      hashed AS (
        SELECT tok, true_cnt,
          ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h1,
          ('0x' || substr(md5(tok), 9, 8))::UBIGINT::BIGINT AS h2
        FROM counts),
      grid AS (
        SELECT r, (h1 + r * h2) % 2048 AS bucket,
          CAST(sum(true_cnt) AS BIGINT) AS cnt
        FROM hashed CROSS JOIN generate_series(0, 3) t(r)
        GROUP BY 1, 2),
      top AS (
        SELECT tok, true_cnt, h1, h2 FROM hashed
        ORDER BY true_cnt DESC, tok LIMIT 20),
      probe AS (
        SELECT tok, true_cnt, r, (h1 + r * h2) % 2048 AS bucket
        FROM top CROSS JOIN generate_series(0, 3) t(r)),
      est AS (
        SELECT p.tok, p.true_cnt,
          CAST(min(coalesce(g.cnt, 0)) AS BIGINT) AS cms_est
        FROM probe p LEFT JOIN grid g
          ON p.r = g.r AND p.bucket = g.bucket
        GROUP BY 1, 2)
      SELECT tok, true_cnt, cms_est, cms_est >= true_cnt AS over
      FROM est ORDER BY true_cnt DESC, tok""",

    // q210: Bloom -> exact decontamination chain. The oracle is the
    // UNPRUNED q78 computation — byte-identical output is the proof the
    // Bloom prune is sound (it may only skip work, never change the
    // answer).
    "q210_decontam_pipeline" -> """
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents))
      SELECT p.doc_id AS probe_id, c.doc_id AS doc_id,
        round(len(list_intersect(p.sh, c.sh)) * 1.0
          / greatest(len(p.sh), 1), 4) AS containment
      FROM d p JOIN d c ON p.doc_id != c.doc_id
      WHERE p.doc_id % 29 = 0
        AND len(list_intersect(p.sh, c.sh)) * 1.0
          / greatest(len(p.sh), 1) >= 0.3
      ORDER BY probe_id, doc_id""",

    // q211: streaming Count-Min grid — batch-equivalence oracle: the
    // same md5-double-hash cells per event, hourly counts, only windows
    // the final watermark (max ts - 1 h) has closed.
    "q211_stream_cms" -> """
      WITH cells AS (
        SELECT date_trunc('hour', ts) AS hour_start,
          CAST(r AS INTEGER) AS grid_row,
          (h1 + r * h2) % 256 AS bucket
        FROM (SELECT ts,
            ('0x' || substr(md5(event_type), 1, 8))::UBIGINT::BIGINT AS h1,
            ('0x' || substr(md5(event_type), 9, 8))::UBIGINT::BIGINT AS h2
          FROM events) e
        CROSS JOIN generate_series(0, 3) t(r))
      SELECT hour_start, grid_row, bucket, count(*) AS cnt
      FROM cells
      GROUP BY 1, 2, 3
      HAVING hour_start + INTERVAL 1 HOUR
        <= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
      ORDER BY 1, 2, 3""",

    // q212: stratified exact-quota sample — integer Hamilton
    // apportionment (floor shares + largest remainders, ties by stratum
    // key) and md5-ranked in-stratum selection; the id-sum pins exact
    // membership.
    "q212_stratified_sample" -> """
      WITH c AS (
        SELECT lang, source, count(*) AS n_h
        FROM documents GROUP BY 1, 2),
      t1 AS (
        SELECT total, (total * 1) // 3 AS n
        FROM (SELECT sum(n_h) AS total FROM c)),
      s AS (
        SELECT c.*, (n * n_h) // total AS floor_q,
          (n * n_h) % total AS rem, n
        FROM c CROSS JOIN t1),
      r AS (SELECT min(n) - sum(floor_q) AS leftover FROM s),
      rk AS (
        SELECT s.*, row_number() OVER
          (ORDER BY rem DESC, lang, source) AS rem_rank
        FROM s),
      q AS (
        SELECT lang, source, n_h, floor_q + CASE
            WHEN rem_rank <= (SELECT leftover FROM r) THEN 1 ELSE 0 END
          AS quota
        FROM rk),
      sel AS (
        SELECT d.lang, d.source, d.doc_id, q.n_h, q.quota,
          row_number() OVER (PARTITION BY d.lang, d.source
            ORDER BY md5('samp:' || d.doc_id::VARCHAR), d.doc_id) AS rnk
        FROM documents d JOIN q USING (lang, source))
      SELECT lang, source, CAST(min(n_h) AS BIGINT) AS n_docs,
        CAST(min(quota) AS BIGINT) AS quota, count(*) AS n_sel,
        CAST(sum(doc_id) AS BIGINT) AS sel_id_sum
      FROM sel WHERE rnk <= quota
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // q213: Fellegi-Sunter linkage — same planted-noise fixture, birth-
    // year blocking, integer levenshtein name agreement, half-integer
    // literal weights (IEEE-exact sums), three decision bands.
    // q260: Fellegi-Sunter EM — the q213 candidate CTE unfiltered,
    // binary agreement patterns, 5 generated fixed-point EM rounds.
    "q260_linkage_em" -> (LinkageFixtureCte + """,
      cand AS (
        SELECT
          CAST(levenshtein(lower(a.name), lower(b.name)) <= 2 AS INT)
            AS g_name,
          CAST(a.dob = b.dob AS INT) AS g_dob,
          CAST(a.zip = b.zip AS INT) AS g_zip
        FROM a JOIN b
          ON a.yob = b.yob AND a.zip // 10 = b.zip // 10),
      pat AS (
        SELECT g_name, g_dob, g_zip, count(*) AS cnt
        FROM cand GROUP BY 1, 2, 3),
      s0 AS (
        SELECT CAST(100000 AS BIGINT) AS lam,
          CAST(900000 AS BIGINT) AS m_name,
          CAST(100000 AS BIGINT) AS u_name,
          CAST(900000 AS BIGINT) AS m_dob,
          CAST(100000 AS BIGINT) AS u_dob,
          CAST(900000 AS BIGINT) AS m_zip,
          CAST(100000 AS BIGINT) AS u_zip),""" +
      (1 to 5).map(i => emIter(i, Seq("name", "dob", "zip")))
        .mkString(",") + """
      SELECT param, CAST(v AS BIGINT) AS value_fp FROM (
        SELECT 'lambda' AS param, lam AS v FROM s5
        UNION ALL SELECT 'm_name', m_name FROM s5
        UNION ALL SELECT 'u_name', u_name FROM s5
        UNION ALL SELECT 'm_dob', m_dob FROM s5
        UNION ALL SELECT 'u_dob', u_dob FROM s5
        UNION ALL SELECT 'm_zip', m_zip FROM s5
        UNION ALL SELECT 'u_zip', u_zip FROM s5)
      ORDER BY param"""),

    "q213_fs_linkage" -> (LinkageFixtureCte + """,
      cand AS (
        SELECT a.pid AS id_a, b.pid AS id_b,
          levenshtein(lower(a.name), lower(b.name)) <= 2 AS name_agree,
          CASE WHEN a.dob = b.dob THEN 2
            WHEN abs(date_diff('day', b.dob, a.dob)) <= 90 THEN 1
            ELSE 0 END AS dob_band,
          a.zip = b.zip AS zip_agree
        FROM a JOIN b
          ON a.yob = b.yob AND a.zip // 10 = b.zip // 10),
      scored AS (
        SELECT *,
          (CASE WHEN name_agree THEN 3.5 ELSE -1.5 END)
          + (CASE WHEN dob_band = 2 THEN 4.0
              WHEN dob_band = 1 THEN 2.0 ELSE -3.0 END)
          + (CASE WHEN zip_agree THEN 2.5 ELSE -1.0 END) AS score
        FROM cand)
      SELECT id_a, id_b, name_agree, dob_band, zip_agree,
        CAST(score AS DOUBLE) AS score,
        CASE WHEN score >= 7.0 THEN 'match'
          WHEN score >= 2.0 THEN 'possible'
          ELSE 'non_match' END AS band
      FROM scored WHERE score >= 2.0
      ORDER BY id_a, id_b"""),

    // q214: sorted-neighborhood linkage — same fixture, candidates from
    // the name-sort sliding window (rank diff < 5), cross-source pairs
    // oriented A-side first, same literal-weight scoring.
    "q214_sorted_neighborhood" -> (LinkageFixtureCte + """,
      u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
      ranked AS (
        SELECT pid, name, dob, zip,
          row_number() OVER (ORDER BY name, pid) AS rnk
        FROM u),
      cand AS (
        SELECT l.pid AS id_a, r.pid AS id_b,
          levenshtein(lower(l.name), lower(r.name)) <= 2 AS name_agree,
          CASE WHEN l.dob = r.dob THEN 2
            WHEN abs(date_diff('day', r.dob, l.dob)) <= 90 THEN 1
            ELSE 0 END AS dob_band,
          l.zip = r.zip AS zip_agree
        FROM ranked l JOIN ranked r
          ON r.rnk > l.rnk AND r.rnk - l.rnk < 5),
      scored AS (
        SELECT *,
          (CASE WHEN name_agree THEN 3.5 ELSE -1.5 END)
          + (CASE WHEN dob_band = 2 THEN 4.0
              WHEN dob_band = 1 THEN 2.0 ELSE -3.0 END)
          + (CASE WHEN zip_agree THEN 2.5 ELSE -1.0 END) AS score
        FROM cand),
      oriented AS (
        SELECT CASE WHEN substr(id_a, 1, 1) = 'A' THEN id_a ELSE id_b END
            AS aid,
          CASE WHEN substr(id_a, 1, 1) = 'A' THEN id_b ELSE id_a END
            AS bid,
          name_agree, dob_band, zip_agree, score
        FROM scored
        WHERE (substr(id_a, 1, 1) = 'A') <> (substr(id_b, 1, 1) = 'A'))
      SELECT aid, bid, name_agree, dob_band, zip_agree,
        CAST(score AS DOUBLE) AS score,
        CASE WHEN score >= 7.0 THEN 'match'
          WHEN score >= 2.0 THEN 'possible'
          ELSE 'non_match' END AS band
      FROM oriented WHERE score >= 2.0
      ORDER BY aid, bid"""),

    // q215: split-leakage audit — near-dup pairs (exact-jaccard oracle,
    // the q38 CTE) joined to the q123 hash split; pairs straddling a
    // split boundary are train/test leakage. The id-sum pins exact pair
    // membership per cell.
    "q215_split_leakage" -> """
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
          >= 0.5),
      sp AS (
        SELECT doc_id,
          CASE WHEN bkt < 3865470566 THEN 'train'
               WHEN bkt < 4080218931 THEN 'valid'
               ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
            ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))
              ::UBIGINT AS bkt
          FROM documents))
      SELECT pa.split AS split_a, pb.split AS split_b,
        count(*) AS n_pairs,
        CAST(sum(id_a + id_b) AS BIGINT) AS id_sum,
        pa.split <> pb.split AS leak
      FROM pairs JOIN sp pa ON pairs.id_a = pa.doc_id
      JOIN sp pb ON pairs.id_b = pb.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // q216: incremental dedup — the oracle is the FROM-SCRATCH exact
    // pair set restricted to pairs touching the delta slice; equality
    // proves the asymmetric probe loses no recall.
    // q249: streaming near-dup admission gate — band candidates emit
    // via a stateless stream-static join, then exact-Jaccard verify;
    // result equals the from-scratch restriction to stream-corpus
    // pairs (the q216 oracle shape with an exactly-one-side-in-corpus
    // gate). NOTE: this oracle is the EXACT all-pairs >= 0.5 set;
    // banded minhash (b=8, r=2) only matches it with per-pair
    // probability ~0.9 at similarity exactly 0.5 — equality relies on
    // the fixture's qualifying pairs sitting well above threshold
    // (recall 1 on this distribution, the q38/q216 convention).
    "q249_stream_neardup_gate" -> """
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1),
          4) AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE (a.doc_id % 10 = 0) <> (b.doc_id % 10 = 0)
        AND len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
        >= 0.5
      ORDER BY id_a, id_b""",

    "q216_incremental_dedup" -> """
      WITH d AS (
        SELECT doc_id,
          list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
            AS toks
          FROM documents))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1),
          4) AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
        AND len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
        >= 0.5
      ORDER BY id_a, id_b""",

    // q217: JL sign-projection two-stage ANN — the oracle re-derives the
    // ±1 matrix from the same md5 top bit, projects to 16 integral
    // components, and replays coarse + exact re-rank.
    "q217_jl_ann" -> """
      WITH qz AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
            / 127.0 AS s,
          embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id,
          CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
            ELSE list_transform(embedding,
              x -> round(x::DOUBLE / s, 0)) END AS q
        FROM qz),
      signs AS (
        SELECT j, i,
          CASE WHEN ('0x' || substr(md5('jl:' || CAST(j AS VARCHAR)
              || ':' || CAST(i AS VARCHAR)), 1, 2))::UBIGINT < 128
            THEN 1 ELSE -1 END AS sg
        FROM generate_series(0, 15) t(j)
        CROSS JOIN generate_series(0, 63) u(i)),
      proj AS (
        SELECT vec_id, j, sum(q[CAST(i + 1 AS INTEGER)] * sg) AS p
        FROM qv CROSS JOIN signs
        GROUP BY vec_id, j),
      pv AS (
        SELECT vec_id, list(p ORDER BY j) AS pq FROM proj GROUP BY vec_id),
      coarse AS (
        SELECT * FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            CASE WHEN list_inner_product(a.pq, a.pq) = 0
                OR list_inner_product(b.pq, b.pq) = 0 THEN 0.0
              ELSE list_inner_product(a.pq, b.pq)
                / (sqrt(list_inner_product(a.pq, a.pq))
                  * sqrt(list_inner_product(b.pq, b.pq))) END
              AS proj_cosine,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY (CASE
                WHEN list_inner_product(a.pq, a.pq) = 0
                  OR list_inner_product(b.pq, b.pq) = 0 THEN 0.0
                ELSE list_inner_product(a.pq, b.pq)
                  / (sqrt(list_inner_product(a.pq, a.pq))
                    * sqrt(list_inner_product(b.pq, b.pq)))
                END) DESC, b.vec_id) AS cr
          FROM pv a CROSS JOIN pv b WHERE a.vec_id < 5)
        WHERE cr <= 20),
      rer AS (
        SELECT co.query_id, co.neighbor_id, co.proj_cosine,
          CASE WHEN list_inner_product(a.q, a.q) = 0
              OR list_inner_product(b.q, b.q) = 0 THEN 0.0
            ELSE list_inner_product(a.q, b.q)
              / (sqrt(list_inner_product(a.q, a.q))
                * sqrt(list_inner_product(b.q, b.q))) END AS qcosine
        FROM coarse co
        JOIN qv a ON co.query_id = a.vec_id
        JOIN qv b ON co.neighbor_id = b.vec_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY qcosine DESC, neighbor_id) AS rk
        FROM rer)
      SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
        proj_cosine, qcosine
      FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""",

    // q218: incremental SCD-2 merge — full outer of the OPEN slice with
    // the delta; changed attrs close at eff-1 and reopen at eff, equal
    // re-statements and absent ids do NOT version, unknown ids insert,
    // closed history passes through.
    "q218_scd2_merge" -> (Scd2MergedCte + """
      SELECT id, seg, from_date, to_date FROM merged
      ORDER BY id, from_date"""),

    // q222: the q218 merge CHAINED into point-in-time enrichment — an
    // id equi-join with the validity interval in the ON clause; events
    // predating any version land in the NO_VERSION bucket.
    "q222_versioned_enrich" -> (Scd2MergedCte + """,
      events AS (
        SELECT o_orderkey AS event_id, o_custkey AS id,
          CAST(o_orderdate AS DATE) AS edate
        FROM orders),
      enriched AS (
        SELECT e.event_id, e.edate, m.seg
        FROM events e LEFT JOIN merged m
          ON e.id = m.id AND m.from_date <= e.edate
          AND (m.to_date IS NULL OR e.edate <= m.to_date))
      SELECT coalesce(seg, 'NO_VERSION') AS seg_at_date,
        count(*) AS n_events, min(edate) AS first_event,
        max(edate) AS last_event
      FROM enriched
      GROUP BY 1 ORDER BY seg_at_date"""),

    // q223: frequency-weighted linkage — the oracle rebuilds the name
    // frequency table over BOTH sources and replays the rarity bonus;
    // identical field patterns band differently by name rarity.
    "q223_freq_linkage" -> """
      WITH raw AS (
        SELECT c_custkey AS k,
          lower(replace(c_name, '#', ' ')) AS name0,
          CAST(98000 + c_custkey % 150 AS INTEGER) AS zip,
          DATE '1940-01-01'
            + CAST(c_custkey * 73 % 20000 AS INTEGER) AS dob
        FROM customer),
      nm AS (
        SELECT *, CASE WHEN k % 7 = 0 THEN name0
          ELSE 'common name ' || CAST(k % 5 AS VARCHAR) END AS name
        FROM raw),
      a AS (
        SELECT 'A' || CAST(k AS VARCHAR) AS pid, name, dob, zip,
          year(dob) AS yob
        FROM nm),
      b0 AS (
        SELECT 'B' || CAST(k AS VARCHAR) AS pid, name,
          CASE WHEN k % 11 = 0 THEN dob + 30 ELSE dob END AS dob_b,
          zip, year(dob) AS yob
        FROM nm WHERE k % 3 <> 0),
      b AS (SELECT pid, name, dob_b AS dob, zip, yob FROM b0),
      attrs AS (SELECT * FROM a UNION ALL SELECT * FROM b),
      freq AS (
        SELECT lower(name) AS fn, count(*) AS nf
        FROM attrs GROUP BY 1),
      cand AS (
        SELECT a.pid AS id_a, b.pid AS id_b,
          levenshtein(lower(a.name), lower(b.name)) <= 2 AS name_agree,
          CASE WHEN a.dob = b.dob THEN 2
            WHEN abs(date_diff('day', b.dob, a.dob)) <= 90 THEN 1
            ELSE 0 END AS dob_band,
          a.zip = b.zip AS zip_agree,
          CASE WHEN f.nf <= 2 THEN 'rare'
            WHEN f.nf <= 10 THEN 'uncommon'
            ELSE 'common' END AS freq_bucket
        FROM a JOIN b ON a.yob = b.yob AND a.zip // 10 = b.zip // 10
        JOIN freq f ON lower(a.name) = f.fn),
      scored AS (
        SELECT *,
          (CASE WHEN name_agree THEN 1.0 ELSE -1.5 END)
          + (CASE WHEN dob_band = 2 THEN 4.0
              WHEN dob_band = 1 THEN 2.0 ELSE -3.0 END)
          + (CASE WHEN zip_agree THEN 2.5 ELSE -1.0 END)
          + (CASE WHEN name_agree AND freq_bucket = 'rare' THEN 3.0
              WHEN name_agree AND freq_bucket = 'uncommon' THEN 1.5
              ELSE 0.0 END) AS score
        FROM cand)
      SELECT id_a, id_b, freq_bucket, name_agree, dob_band, zip_agree,
        CAST(score AS DOUBLE) AS score,
        CASE WHEN score >= 8.0 THEN 'match'
          WHEN score >= 2.0 THEN 'possible'
          ELSE 'non_match' END AS band
      FROM scored WHERE score >= 2.0
      ORDER BY id_a, id_b""",

    // q224: APCD pregnancy episodes — dx/px vocabulary LIKE-expansion,
    // endpoint_dcount gate + DELIV recode, the generated 7-class
    // recursive placement chain (shared with the Scala hierarchy
    // constants), prenatal windows, and the STEP-9 age join with the
    // ninety_only / newborn branches and the 12-55 gate.
    "q224_apcd_preg_episode" -> ("""
      WITH RECURSIVE dxall AS (
        SELECT o_custkey % 80 AS id, CAST(o_orderdate AS DATE) AS d,
          CASE WHEN o_orderkey % 29 = 0
              THEN 'O80' || CAST(o_orderkey % 10 AS VARCHAR)
            WHEN o_orderkey % 29 = 1
              THEN 'Z371' || CAST(o_orderkey % 10 AS VARCHAR)
            WHEN o_orderkey % 29 = 2
              THEN 'O82' || CAST(o_orderkey % 10 AS VARCHAR)
            WHEN o_orderkey % 29 = 3
              THEN 'O01' || CAST(o_orderkey % 10 AS VARCHAR)
            WHEN o_orderkey % 29 = 4
              THEN 'O00' || CAST(o_orderkey % 10 AS VARCHAR)
            WHEN o_orderkey % 29 = 5
              THEN 'O04' || CAST(o_orderkey % 10 AS VARCHAR)
            WHEN o_orderkey % 29 = 6
              THEN 'O03' || CAST(o_orderkey % 10 AS VARCHAR)
            ELSE 'K5' || CAST(o_orderkey % 100 AS VARCHAR) END AS code
        FROM orders),
      pxall AS (
        SELECT o_custkey % 80 AS id, CAST(l_shipdate AS DATE) AS d,
          CASE WHEN l_partkey % 31 = 0
              THEN '10D0' || CAST(l_partkey % 8 AS VARCHAR)
            WHEN l_partkey % 31 = 1 THEN '59409'
            WHEN l_partkey % 31 = 2
              THEN '10A0' || CAST(l_partkey % 8 AS VARCHAR)
            ELSE '99' || CAST(l_partkey % 400 AS VARCHAR) END AS code
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      dxref(code_like, cep) AS (VALUES ('O80%','lb'), ('Z371%','sb'),
        ('O82%','deliv'), ('O01%','tro'), ('O00%','ect'),
        ('O04%','ab'), ('O03%','sa')),
      pxref(code_like, cep) AS (VALUES ('10D0%','lb'), ('59409%','deliv'),
        ('10A0%','ab')),
      um AS (
        SELECT DISTINCT a.id, a.d, r.cep
        FROM dxall a JOIN dxref r ON a.code LIKE r.code_like
        WHERE a.d >= DATE '1994-01-01'
        UNION
        SELECT DISTINCT a.id, a.d, r.cep
        FROM pxall a JOIN pxref r ON a.code LIKE r.code_like
        WHERE a.d >= DATE '1994-01-01'),
      epdays AS (
        SELECT id, d,
          count(DISTINCT CASE WHEN cep <> 'deliv' THEN cep END) AS dcount,
          max(CASE WHEN cep = 'deliv' THEN 1 ELSE 0 END) AS has_deliv,
          min(CASE WHEN cep <> 'deliv' THEN cep END) AS nd_ep
        FROM um GROUP BY id, d),
      ep AS MATERIALIZED (
        SELECT id, d,
          CASE WHEN dcount = 1 THEN nd_ep ELSE 'deliv' END AS cls
        FROM epdays
        WHERE dcount <= 1 AND (dcount = 1 OR has_deliv = 1)),""" +
      pregPlacementChain + """,
      tl AS (
        SELECT id, cls, d,
          row_number() OVER (PARTITION BY id ORDER BY d, cls) AS seq,
          date_diff('day',
            lag(d) OVER (PARTITION BY id ORDER BY d, cls), d) AS dd,
          lag(cls) OVER (PARTITION BY id ORDER BY d, cls) AS pcls
        FROM placed),
      win AS (
        SELECT id, cls, seq,
          CASE WHEN dd IS NULL OR dd >= dg THEN d - CAST(dg AS INT)
            ELSE d - CAST(dd AS INT) + CAST(buf AS INT) END
            AS preg_start_date,
          d AS preg_end_date
        FROM (
          SELECT id, cls, seq, dd, pcls, d,
            CASE WHEN cls IN ('lb','sb','deliv') THEN 301
                 WHEN cls = 'tro' THEN 112 WHEN cls = 'ect' THEN 84
                 WHEN cls = 'ab' THEN 168 WHEN cls = 'sa' THEN 133 END
              AS dg,
            CASE WHEN pcls IN ('lb','sb','deliv') THEN 28
                 WHEN pcls IN ('tro','ect','ab','sa') THEN 14 END AS buf
          FROM tl)),
      demo AS (
        SELECT id, DATE '1950-01-01' + CAST(id * 211 % 17000 AS INT)
            AS dob,
          CASE WHEN id % 37 = 0 THEN 1 ELSE 0 END AS ninety_only
        FROM (SELECT DISTINCT c_custkey % 80 AS id FROM customer)
        WHERE id % 19 <> 5),
      aged AS (
        SELECT w.*,
          CASE WHEN
              floor((date_diff('day', m.dob, w.preg_end_date) + 1)
                / 365.25) >= 90 OR m.ninety_only = 1 THEN 90
            WHEN floor((date_diff('day', m.dob, w.preg_end_date) + 1)
                / 365.25) >= 0
              THEN floor((date_diff('day', m.dob, w.preg_end_date) + 1)
                / 365.25)
            WHEN floor((date_diff('day', m.dob, w.preg_end_date) + 1)
                / 365.25) = -1 THEN 0 END AS age_raw
        FROM win w LEFT JOIN demo m ON w.id = m.id)
      SELECT id AS id_person, cls AS preg_endpoint,
        CAST(seq AS INT) AS preg_episode_seq, preg_start_date,
        preg_end_date, CAST(age_raw AS INT) AS age_at_outcome,
        CASE WHEN age_raw BETWEEN 12 AND 19 THEN '12-19'
          WHEN age_raw BETWEEN 20 AND 24 THEN '20-24'
          WHEN age_raw BETWEEN 25 AND 29 THEN '25-29'
          WHEN age_raw BETWEEN 30 AND 34 THEN '30-34'
          WHEN age_raw BETWEEN 35 AND 39 THEN '35-39'
          WHEN age_raw BETWEEN 40 AND 55 THEN '40-55' END
          AS age_at_outcome_cat6
      FROM aged WHERE age_raw BETWEEN 12 AND 55
      ORDER BY id_person, preg_episode_seq"""),

    // q225: mcare MOUD — dispatch flags + supply tiers, claim-level
    // OUD-dx gate (H0033 + bup-TBD codes), pharmacy arm w/ supplied
    // days supply + dosage-form admin (incl. oral overrides), header-
    // grain union, H0033 month-sum CASE, collapse, same-day
    // NDC-over-HCPCS dedup (loose re-join), period finalize.
    "q225_mcare_moud" -> """
      WITH li AS (
        SELECT o_custkey % 60 AS id,
          l_orderkey * 10 + l_linenumber AS hdr,
          CAST(l_shipdate AS DATE) AS d,
          CASE CAST(l_partkey % 40 AS INT)
            WHEN 0 THEN 'H0033' WHEN 1 THEN 'H0020' WHEN 2 THEN 'S0109'
            WHEN 3 THEN 'G2078' WHEN 4 THEN 'J0571' WHEN 5 THEN 'J0574'
            WHEN 6 THEN 'G2068' WHEN 7 THEN 'Q9991' WHEN 8 THEN 'G2069'
            WHEN 9 THEN 'G2070' WHEN 10 THEN 'J0570' WHEN 11 THEN '96372'
            WHEN 12 THEN '11981' WHEN 13 THEN 'G0516' WHEN 14 THEN 'G2073'
            WHEN 15 THEN 'J2315' WHEN 16 THEN 'G2074' WHEN 17 THEN 'G2086'
            ELSE 'ZZZZ' END AS pc,
          CASE WHEN l_suppkey % 7 = 0 THEN 'F1120'
            WHEN l_suppkey % 7 = 1 THEN '30400' ELSE 'J450' END AS pdx,
          CASE WHEN l_suppkey % 7 = 1 THEN 9 ELSE 10 END AS ver
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      oud AS (
        SELECT hdr, max(CASE WHEN (pdx = 'F1120' AND ver = 10)
            OR (pdx = '30400' AND ver = 9) THEN 1 ELSE 0 END)
          AS oud_dx1
        FROM li GROUP BY hdr),
      p1 AS (
        SELECT DISTINCT li.id, li.hdr, li.d, li.pc,
          CASE WHEN pc IN ('H0020','S0109','G2078') THEN 1 ELSE 0 END
            AS meth,
          CASE WHEN pc IN ('J0571','J0574','G2068','Q9991','G2069',
            'G2070','J0570','96372','11981','G0516') THEN 1 ELSE 0 END
            AS bup,
          CASE WHEN pc IN ('G2073','J2315') THEN 1 ELSE 0 END AS nal,
          CASE WHEN pc IN ('G2074','G2086') THEN 1 ELSE 0 END AS unspec,
          CASE WHEN pc IN ('H0033','H0020','S0109','J0571','J0574',
              '96372','J2315') THEN 1
            WHEN pc IN ('G2078','G2068','G2073') THEN 7
            WHEN pc IN ('Q9991','G2069') THEN 30
            WHEN pc IN ('G2070','J0570','11981','G0516') THEN 180
            ELSE 0 END AS supply,
          CASE WHEN pc IN ('H0033','H0020','S0109','G2078','J0571',
              'J0574','G2068','G2073','96372') THEN 'oral'
            WHEN pc IN ('Q9991','G2069','G2070','J0570','11981','G0516',
              'J2315') THEN 'injection/implant' END AS admin,
          coalesce(o.oud_dx1, 0) AS oud_dx1
        FROM li LEFT JOIN oud o ON li.hdr = o.hdr
        WHERE li.d >= DATE '1994-01-01'
          AND pc IN ('H0033','H0020','S0109','G2078','J0571','J0574',
            'G2068','Q9991','G2069','G2070','J0570','96372','11981',
            'G0516','G2073','J2315','G2074','G2086')),
      p3 AS (
        SELECT * FROM p1
        WHERE pc IN ('H0020','S0109','G2078','J0571','J0574','G2068',
            'Q9991','G2069','G2070','J0570','G2073','J2315','G2074',
            'G2086')
          OR (pc = 'H0033' AND oud_dx1 = 1)
          OR (pc IN ('96372','11981','G0516') AND oud_dx1 = 1)),
      ph AS (
        SELECT o_custkey % 60 AS id, o_orderkey AS hdr,
          CASE WHEN o_orderkey % 9 = 0 THEN '00093572156'
            WHEN o_orderkey % 9 = 1 THEN '12345678901'
            WHEN o_orderkey % 9 = 2 THEN '49452483501'
            WHEN o_orderkey % 9 = 3 THEN '55555555555'
            WHEN o_orderkey % 9 = 4 THEN '66666666666'
            ELSE '9990' || CAST(o_orderkey % 1000 AS VARCHAR) END AS ndc,
          CAST(o_orderdate AS DATE) AS d,
          o_orderkey % 30 + 1 AS days
        FROM orders),
      rxm AS (
        SELECT DISTINCT id, hdr, ndc, d,
          CASE WHEN ndc IN ('00093572156','12345678901','66666666666')
            THEN 1 ELSE 0 END AS bup_rx,
          CASE WHEN ndc IN ('49452483501','55555555555') THEN 1 ELSE 0
            END AS nal_rx,
          CASE WHEN ndc IN ('00093572156','49452483501') THEN 'oral'
            WHEN ndc = '12345678901' THEN 'oral'
            WHEN ndc = '55555555555' THEN 'injection/implant'
            END AS admin,
          CAST(days AS DOUBLE) AS supply
        FROM ph
        WHERE ndc IN ('00093572156','12345678901','49452483501',
          '55555555555','66666666666') AND d >= DATE '1994-01-01'),
      un AS (
        SELECT id, hdr, d, pc, meth, bup, nal, unspec,
          CAST(NULL AS VARCHAR) AS ndc, CAST(NULL AS INT) AS bup_rx,
          CAST(NULL AS INT) AS nal_rx, CAST(supply AS DOUBLE) AS supply,
          admin
        FROM p3
        UNION
        SELECT id, hdr, d, CAST(NULL AS VARCHAR), CAST(NULL AS INT),
          CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
          ndc, bup_rx, nal_rx, supply, admin
        FROM rxm),
      sums AS (
        SELECT *,
          sum(coalesce(meth, 0)) OVER
            (PARTITION BY id, strftime(d, '%Y%m')) AS msum,
          sum(coalesce(bup, 0)) OVER
            (PARTITION BY id, strftime(d, '%Y%m')) AS bsum,
          sum(coalesce(bup_rx, 0)) OVER
            (PARTITION BY id, strftime(d, '%Y%m')) AS brxsum
        FROM un),
      resolved AS (
        SELECT id, d,
          CASE WHEN pc = 'H0033' AND msum = 0 AND bsum = 0 AND brxsum = 0
              THEN 1
            WHEN pc = 'H0033' AND msum = 0 AND bsum = 0 AND brxsum > 0
              THEN 0
            WHEN pc = 'H0033' AND msum >= bsum AND msum <> 0 THEN 1
            WHEN pc = 'H0033' AND msum < bsum THEN 0
            ELSE meth END AS meth,
          CASE WHEN pc = 'H0033' AND msum = 0 AND bsum = 0 AND brxsum = 0
              THEN 0
            WHEN pc = 'H0033' AND msum = 0 AND bsum = 0 AND brxsum > 0
              THEN 1
            WHEN pc = 'H0033' AND msum >= bsum AND msum <> 0 THEN 0
            WHEN pc = 'H0033' AND msum < bsum THEN 1
            ELSE bup END AS bup,
          nal, unspec, bup_rx, nal_rx, supply, admin
        FROM sums),
      coll AS (
        SELECT id, d, meth, bup, nal, unspec, bup_rx, nal_rx, admin,
          sum(supply) AS supply
        FROM resolved
        GROUP BY id, d, meth, bup, nal, unspec, bup_rx, nal_rx, admin),
      typed AS (
        SELECT *,
          CASE WHEN bup = 1 OR bup_rx = 1 THEN 'buprenorphine'
            WHEN nal = 1 OR nal_rx = 1 THEN 'naltrexone' END AS moudtype,
          CASE WHEN bup = 1 OR nal = 1 THEN 'hcpcs'
            WHEN bup_rx = 1 OR nal_rx = 1 THEN 'ndc' END AS codetype
        FROM coll),
      dups AS (
        SELECT DISTINCT id, d, moudtype FROM (
          SELECT id, d, moudtype, admin, count(*) AS c
          FROM typed GROUP BY id, d, moudtype, admin)
        WHERE c > 1 AND moudtype IS NOT NULL),
      kept AS (
        SELECT t.* FROM typed t
        LEFT JOIN dups dp
          ON t.id = dp.id AND t.d = dp.d AND t.moudtype = dp.moudtype
        WHERE NOT (dp.id IS NOT NULL AND t.codetype = 'hcpcs'))
      SELECT id AS id_person, d AS last_service_date,
        CAST(year(d) AS INT) AS service_year,
        CAST(year(d) AS VARCHAR) || '-Q' || CAST(quarter(d) AS VARCHAR)
          AS service_quarter,
        strftime(d, '%Y%m') AS service_month,
        CAST(year(d) AS VARCHAR) ||
          CASE WHEN quarter(d) <= 2 THEN '_top' ELSE '_bottom' END
          AS year_half,
        meth AS meth_proc_flag, bup AS bup_proc_flag,
        nal AS nal_proc_flag, unspec AS unspec_proc_flag,
        bup_rx AS bup_rx_flag, nal_rx AS nal_rx_flag,
        admin AS admin_method,
        CAST(coalesce(meth, 0) + coalesce(bup, 0) + coalesce(nal, 0)
          + coalesce(bup_rx, 0) + coalesce(nal_rx, 0) AS INT)
          AS moud_flag_count,
        supply AS moud_days_supply
      FROM kept
      ORDER BY id_person, last_service_date, meth_proc_flag,
        bup_proc_flag, nal_proc_flag, unspec_proc_flag, bup_rx_flag,
        nal_rx_flag, admin_method""",

    // q227: WAHBE export prep — ACES zero-pad normalize over the
    // union-distinct reports, distinct-pair inner join, person match
    // flag, unmatched modal-ACES pick, both groups' window-overlap
    // coverage rollup + rank()=1 pick + 5-arm tabulation.
    "q227_wahbe_prep" -> """
      WITH base AS (
        SELECT o_orderkey AS ok, o_custkey AS ck,
          CAST(o_orderdate AS DATE) AS od
        FROM orders),
      rep AS (
        SELECT CASE WHEN ok % 2 = 0 THEN CAST(1000000 + ck % 500 AS VARCHAR)
            ELSE CAST(10000000 + ck % 500 AS VARCHAR) END AS aces_id,
          CASE WHEN ok % 3 = 0 THEN 'CURRENT SMOKER'
            WHEN ok % 3 = 1 THEN 'NEVER' ELSE 'FORMER' END AS st,
          od AS sd, od + 365 AS ed, ok
        FROM base),
      t1 AS (
        SELECT DISTINCT
          CASE WHEN len(aces_id) = 7 THEN '00' || aces_id
            WHEN len(aces_id) = 8 THEN '0' || aces_id END AS aces_norm,
          st, sd, ed
        FROM (SELECT aces_id, st, sd, ed FROM rep WHERE ok % 5 < 3
              UNION SELECT aces_id, st, sd, ed FROM rep WHERE ok % 5 >= 2)),
      elig AS (
        SELECT CASE WHEN ok % 4 = 0
            THEN '0' || CAST(10000000 + ck % 500 AS VARCHAR)
            WHEN ok % 4 = 3
            THEN '88888' || lpad(CAST(ck % 1000 AS VARCHAR), 4, '0')
            ELSE '00' || CAST(1000000 + ck % 500 AS VARCHAR) END AS aces,
          'ID' || CAST(ck % 900 AS VARCHAR) AS rid
        FROM base),
      pairs AS (SELECT DISTINCT aces, rid FROM elig),
      matched AS (
        SELECT t1.aces_norm, p.rid FROM t1
        JOIN pairs p ON t1.aces_norm = p.aces),
      persons AS (
        SELECT 'ID' || CAST(k AS VARCHAR) AS id,
          CASE WHEN 'ID' || CAST(k AS VARCHAR) IN
            (SELECT DISTINCT rid FROM matched) THEN 1 ELSE 0 END AS m
        FROM (SELECT DISTINCT c_custkey % 1200 AS k FROM customer)),
      cnts AS (SELECT rid, aces, count(*) AS rc FROM elig GROUP BY 1, 2),
      t4 AS (
        SELECT DISTINCT p.id, c.aces, c.rc
        FROM persons p LEFT JOIN cnts c ON p.id = c.rid
        WHERE p.m = 0),
      t6 AS (
        SELECT DISTINCT id FROM (
          SELECT id, rank() OVER (PARTITION BY id
            ORDER BY rc DESC, aces) AS rk
          FROM t4)
        WHERE rk = 1),
      tv AS (
        SELECT 'ID' || CAST(ck % 1200 AS VARCHAR) AS id, ok % 2 AS dual,
          CAST(ok % 6 AS INT) AS bsp,
          CASE WHEN ok % 2 = 0 THEN 'Y' ELSE 'N' END AS fb,
          CASE WHEN ok % 3 = 0 THEN 'FFS' WHEN ok % 3 = 1 THEN 'MC'
            ELSE 'PARTIAL' END AS ct,
          CAST(ok % 200 + 1 AS INT) AS ctd, od AS fd, od + 180 AS td
        FROM base),
      roll0 AS (
        SELECT i.id, t.dual, t.bsp, t.fb, t.ct, sum(t.ctd) AS ctd
        FROM t6 i LEFT JOIN tv t ON i.id = t.id
        WHERE t.fd <= DATE '1997-06-30' AND t.td >= DATE '1994-01-01'
        GROUP BY 1, 2, 3, 4, 5),
      pick0 AS (
        SELECT DISTINCT id, dual, bsp, fb, ct FROM (
          SELECT *, rank() OVER (PARTITION BY id
            ORDER BY ctd DESC, dual, bsp, fb, ct) AS rk
          FROM roll0) WHERE rk = 1),
      roll1 AS (
        SELECT i.id, t.dual, t.bsp, t.fb, t.ct, sum(t.ctd) AS ctd
        FROM (SELECT DISTINCT id FROM persons WHERE m = 1) i
        LEFT JOIN tv t ON i.id = t.id
        WHERE t.fd <= DATE '1997-06-30' AND t.td >= DATE '1994-01-01'
        GROUP BY 1, 2, 3, 4, 5),
      pick1 AS (
        SELECT DISTINCT id, dual, bsp, fb, ct FROM (
          SELECT *, rank() OVER (PARTITION BY id
            ORDER BY ctd DESC, dual, bsp, fb, ct) AS rk
          FROM roll1) WHERE rk = 1),
      rac(bsp, nm) AS (VALUES (0, 'Group A'), (1, 'Group B'),
        (2, 'Group C'), (3, 'Group D'), (4, 'Group E')),
      tab0 AS (
        SELECT 1 AS so, 'overall' AS cat, '1' AS grp,
          count(DISTINCT id) AS n FROM pick0
        UNION ALL SELECT 2, 'dual', CAST(dual AS VARCHAR),
          count(DISTINCT id) FROM pick0 GROUP BY dual
        UNION ALL SELECT 3, 'full_benefit', fb, count(DISTINCT id)
          FROM pick0 GROUP BY fb
        UNION ALL SELECT 4, 'cov_type', ct, count(DISTINCT id)
          FROM pick0 GROUP BY ct
        UNION ALL SELECT 5, 'bsp_group_name', r.nm, count(DISTINCT p.id)
          FROM pick0 p LEFT JOIN rac r ON p.bsp = r.bsp GROUP BY r.nm),
      tab1 AS (
        SELECT 1 AS so, 'overall' AS cat, '1' AS grp,
          count(DISTINCT id) AS n FROM pick1
        UNION ALL SELECT 2, 'dual', CAST(dual AS VARCHAR),
          count(DISTINCT id) FROM pick1 GROUP BY dual
        UNION ALL SELECT 3, 'full_benefit', fb, count(DISTINCT id)
          FROM pick1 GROUP BY fb
        UNION ALL SELECT 4, 'cov_type', ct, count(DISTINCT id)
          FROM pick1 GROUP BY ct
        UNION ALL SELECT 5, 'bsp_group_name', r.nm, count(DISTINCT p.id)
          FROM pick1 p LEFT JOIN rac r ON p.bsp = r.bsp GROUP BY r.nm)
      SELECT wahbe_matched, CAST(so AS INT) AS sort_order,
        cat AS cov_group_cat, grp AS cov_group, n AS id_dcount
      FROM (SELECT 0 AS wahbe_matched, * FROM tab0
            UNION ALL SELECT 1, * FROM tab1)
      ORDER BY wahbe_matched, sort_order, cov_group_cat, cov_group""",

    // q228: mcare pharmacy characteristics — the projection-rename
    // staging load (ncpdp_id -> pharmacy_id, passthrough columns).
    "q228_mcare_pharm_char" -> """
      SELECT 'NCPDP' || lpad(CAST(s_suppkey AS VARCHAR), 7, '0')
          AS pharmacy_id,
        CASE WHEN s_suppkey % 3 = 0 THEN 'WA'
          WHEN s_suppkey % 3 = 1 THEN 'OR' ELSE 'ID' END
          AS physical_location_state_code,
        DATE '1980-01-01' + CAST(s_suppkey * 37 % 9000 AS INT)
          AS physical_location_open_date,
        CASE WHEN s_suppkey % 11 = 0
          THEN DATE '1995-01-01' + CAST(s_suppkey % 1200 AS INT) END
          AS physical_location_close_date,
        CASE WHEN s_suppkey % 4 = 0 THEN 'INDEPENDENT'
          WHEN s_suppkey % 4 = 1 THEN 'CHAIN'
          WHEN s_suppkey % 4 = 2 THEN 'FRANCHISE' ELSE 'GOVERNMENT' END
          AS dispenser_class,
        CAST(s_suppkey % 20 AS INT) AS primary_dispenser_type,
        '33' || lpad(CAST(s_suppkey % 999 AS VARCHAR), 7, '0') || 'X'
          AS primary_taxonomy_code,
        CASE WHEN s_suppkey % 5 = 0 THEN CAST(s_suppkey % 20 + 1 AS INT)
          END AS secondary_dispenser_type,
        CASE WHEN s_suppkey % 5 = 0 THEN
          '33' || lpad(CAST(s_suppkey % 887 AS VARCHAR), 7, '0') || 'Y'
          END AS secondary_taxonomy_code,
        CASE WHEN s_suppkey % 2 = 0 THEN 'Y' ELSE 'N' END
          AS eprscrb_srvc_ind,
        CASE WHEN s_suppkey % 7 = 0 THEN 'Y' ELSE 'N' END
          AS walkin_clinic_ind,
        CASE WHEN s_suppkey % 13 = 0 THEN 'Y' ELSE 'N' END
          AS status_340b_ind
      FROM supplier ORDER BY pharmacy_id""",

    // q231: URL canonicalization dedup — scheme/host lower, default
    // port + www strip, trailing-slash fold, tracking-param drop,
    // param sort, fragment drop, no-scheme fallback; keep lowest
    // doc_id per canonical.
    "q231_url_dedup" -> """
      WITH u AS (
        SELECT doc_id,
          CASE CAST(doc_id % 7 AS INT)
            WHEN 0 THEN 'http://Example' || CAST(doc_id % 40 AS VARCHAR)
              || '.COM/docs/' || CAST(doc_id % 500 AS VARCHAR)
            WHEN 1 THEN 'HTTP://www.Example'
              || CAST(doc_id % 40 AS VARCHAR) || '.COM:80/docs/'
              || CAST(doc_id % 500 AS VARCHAR)
            WHEN 2 THEN 'http://Example' || CAST(doc_id % 40 AS VARCHAR)
              || '.COM/docs/' || CAST(doc_id % 500 AS VARCHAR) || '/'
            WHEN 3 THEN 'http://Example' || CAST(doc_id % 40 AS VARCHAR)
              || '.COM/docs/' || CAST(doc_id % 500 AS VARCHAR)
              || '?utm_source=x&b=2&a=1'
            WHEN 4 THEN 'http://Example' || CAST(doc_id % 40 AS VARCHAR)
              || '.COM/docs/' || CAST(doc_id % 500 AS VARCHAR)
              || '?a=1&b=2#frag'
            WHEN 5 THEN 'https://Example' || CAST(doc_id % 40 AS VARCHAR)
              || '.COM:443/docs/' || CAST(doc_id % 500 AS VARCHAR)
            ELSE '  Not A Url ' || CAST(doc_id AS VARCHAR)
          END AS url
        FROM documents),
      parts AS (
        SELECT doc_id, url,
          lower(regexp_extract(url,
            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          lower(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
          regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
          regexp_extract(url, '\?([^#]*)', 1) AS query
        FROM u),
      norm AS (
        SELECT doc_id, url, scheme,
          regexp_replace(
            CASE WHEN scheme = 'http'
                THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
                THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END, '^www\.', '') AS host,
          CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
            ELSE regexp_replace(rawpath, '/+$', '') END AS path,
          coalesce(array_to_string(list_sort(list_filter(
            string_split(query, '&'),
            p -> NOT regexp_matches(p,
              '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=.*)?$')
              AND p <> '')), '&'), '') AS q
        FROM parts),
      canon AS (
        SELECT doc_id,
          CASE WHEN scheme = '' THEN lower(trim(url))
            ELSE scheme || '://' || host || path ||
              CASE WHEN q = '' THEN '' ELSE '?' || q END END
            AS canonical_url
        FROM norm)
      SELECT doc_id, canonical_url,
        CAST(doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
          AS INT) AS kept
      FROM canon ORDER BY doc_id""",

    // q232: mcare bene↔SSN crosswalk — DISTINCT then first
    // (source, ssn) row per bene_id.
    "q232_bene_ssn" -> """
      WITH ssn AS (
        SELECT DISTINCT 'B' || CAST(o_custkey % 400 AS VARCHAR)
            AS bene_id,
          CASE WHEN o_orderkey % 3 = 0 THEN 'edb' ELSE 'mbsf' END
            AS source,
          lpad(CAST((o_custkey % 400) * 13 + o_orderkey % 5 AS VARCHAR),
            9, '0') AS ssn
        FROM orders)
      SELECT bene_id, ssn FROM (
        SELECT bene_id, ssn, row_number() OVER (PARTITION BY bene_id
          ORDER BY source, ssn) AS rn
        FROM ssn)
      WHERE rn = 1 ORDER BY bene_id""",

    // q233: temperature-mixture sampler — rate = sqrt(min_tok/tok_d),
    // md5 uniform draw below floor(rate * 2^32), per-domain counts +
    // kept-id-sum membership pin.
    "q233_temperature_sample" -> """
      WITH dom AS (
        SELECT source,
          CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      rates AS (
        SELECT source, n_tokens,
          sqrt((SELECT CAST(min(n_tokens) AS DOUBLE) FROM dom)
            / n_tokens) AS accept_rate
        FROM dom),
      thr AS (
        SELECT *, CAST(floor(accept_rate * 4294967296.0) AS BIGINT)
          AS t
        FROM rates),
      verdicts AS (
        SELECT d.doc_id, d.source, r.accept_rate,
          CASE WHEN CAST(('0x' || substr(md5('mix:'
              || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
            < r.t THEN 1 ELSE 0 END AS kept
        FROM documents d JOIN thr r ON d.source = r.source)
      SELECT source, count(*) AS n_docs,
        CAST(sum(kept) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept = 1 THEN doc_id END) AS BIGINT)
          AS kept_id_sum,
        round(any_value(accept_rate), 6) AS accept_rate
      FROM verdicts GROUP BY source ORDER BY source""",

    // q239: epoch-multiplier upsampling — domains repeat toward token
    // parity with the largest domain, capped at 4 epochs; whole copies
    // from integer division, the fractional epoch as one md5-gated
    // extra copy (threshold floor(rem/tok_d * 2^32)).
    "q239_epoch_upsample" -> """
      WITH dom AS (
        SELECT source,
          CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT) AS tok_d
        FROM documents GROUP BY source),
      dims AS (
        SELECT source, tok_d,
          least(CAST(4 AS BIGINT),
            (SELECT max(tok_d) FROM dom) // tok_d) AS full_epochs,
          CASE WHEN least(CAST(4 AS BIGINT),
              (SELECT max(tok_d) FROM dom) // tok_d) < 4
            THEN (SELECT max(tok_d) FROM dom) % tok_d
            ELSE CAST(0 AS BIGINT) END AS rem
        FROM dom),
      thr AS (
        SELECT *, CAST(floor(CAST(rem AS DOUBLE) / tok_d
          * 4294967296.0) AS BIGINT) AS t
        FROM dims),
      copies AS (
        SELECT d.doc_id, d.source, r.tok_d, r.full_epochs,
          r.full_epochs + CASE WHEN CAST(('0x' || substr(md5('epoch:'
              || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
            < r.t THEN 1 ELSE 0 END AS n
        FROM documents d JOIN thr r ON d.source = r.source),
      expl AS (
        SELECT c.doc_id, c.source, c.tok_d, c.full_epochs,
          CAST(u.e AS BIGINT) AS epoch_idx
        FROM copies c, UNNEST(range(1, c.n + 1)) AS u(e))
      SELECT source, count(DISTINCT doc_id) AS n_docs,
        any_value(tok_d) AS tok_d,
        any_value(full_epochs) AS full_epochs,
        count(*) AS n_copies,
        CAST(sum(CASE WHEN epoch_idx > full_epochs THEN 1 ELSE 0 END)
          AS BIGINT) AS extra_copies,
        CAST(sum(doc_id * epoch_idx) AS BIGINT) AS id_epoch_sum
      FROM expl GROUP BY source ORDER BY source""",

    // q241: corpus data card via CUBE — cells, both margins, and the
    // grand total in one aggregation; grouping() flags disambiguate
    // margin NULLs from NULL dimension values.
    "q241_data_card_cube" -> """
      SELECT lang, source,
        CAST(GROUPING(lang) AS INT) AS g_lang,
        CAST(GROUPING(source) AS INT) AS g_source,
        count(*) AS n_docs,
        CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
          AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY CUBE (lang, source)
      ORDER BY g_lang, g_source, lang, source""",

    // q242: z-order layout skipping audit — Morton-prefix vs
    // single-column-prefix buckets over (partkey, suppkey) mod 1024,
    // rectangle probe counts files/rows a min/max-pruning scan touches.
    "q242_zorder_layout" -> """
      WITH pts AS (
        SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
        FROM lineitem),
      z AS (
        SELECT x, y,
          ( (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1)
          + (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3)
          + (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5)
          + (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7)
          + (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9)
          + (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11)
          + (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13)
          + (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15)
          + (((x >> 8) & 1) << 16) + (((y >> 8) & 1) << 17)
          + (((x >> 9) & 1) << 18) + (((y >> 9) & 1) << 19)
          ) AS zcode
        FROM pts),
      zs AS (
        SELECT zcode >> 10 AS bucket, count(*) AS n,
          min(x) AS minx, max(x) AS maxx,
          min(y) AS miny, max(y) AS maxy
        FROM z GROUP BY 1),
      ls AS (
        SELECT x AS bucket, count(*) AS n,
          min(x) AS minx, max(x) AS maxx,
          min(y) AS miny, max(y) AS maxy
        FROM pts GROUP BY 1),
      za AS (
        SELECT 'zorder' AS layout,
          (SELECT count(*) FROM zs) AS n_buckets,
          count(*) AS buckets_touched,
          CAST(sum(n) AS BIGINT) AS rows_touched,
          (SELECT CAST(sum(n) AS BIGINT) FROM zs) AS total_rows
        FROM zs
        WHERE minx <= 199 AND maxx >= 100
          AND miny <= 399 AND maxy >= 300),
      la AS (
        SELECT 'lex_x', (SELECT count(*) FROM ls),
          count(*), CAST(sum(n) AS BIGINT),
          (SELECT CAST(sum(n) AS BIGINT) FROM ls)
        FROM ls
        WHERE minx <= 199 AND maxx >= 100
          AND miny <= 399 AND maxy >= 300)
      SELECT * FROM za UNION ALL SELECT * FROM la
      ORDER BY layout""",

    // q240: snapshot diff — prior vs mutated current snapshot
    // classified added/removed/changed/unchanged by one full-outer
    // join with null-safe payload equality; per-status membership pins.
    "q240_snapshot_diff" -> """
      WITH prev AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
      surv AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 13 = 0 THEN 'X'
            ELSE o_orderstatus END AS o_orderstatus,
          o_orderpriority
        FROM prev WHERE o_orderkey % 97 <> 0),
      cur AS (
        SELECT * FROM surv
        UNION ALL
        SELECT o_orderkey + 30000000, o_orderstatus, o_orderpriority
        FROM prev WHERE o_orderkey % 101 = 0),
      d AS (
        SELECT coalesce(p.o_orderkey, c.o_orderkey) AS k,
          CASE
            WHEN p.o_orderkey IS NULL THEN 'added'
            WHEN c.o_orderkey IS NULL THEN 'removed'
            WHEN p.o_orderstatus IS NOT DISTINCT FROM c.o_orderstatus
              AND p.o_orderpriority IS NOT DISTINCT FROM
                c.o_orderpriority THEN 'unchanged'
            ELSE 'changed' END AS diff_status
        FROM prev p FULL JOIN cur c ON p.o_orderkey = c.o_orderkey)
      SELECT diff_status, count(*) AS n,
        CAST(sum(k) AS BIGINT) AS key_sum,
        min(k) AS key_min, max(k) AS key_max
      FROM d GROUP BY diff_status ORDER BY diff_status""",

    // q234: FUA follow-up visits — the HEDIS five-condition
    // UNION-of-INTERSECTs with the AOD primary-dx (ICD-10-only) gate.
    "q234_fua_follow_up" -> """
      WITH hdr AS (
        SELECT o_custkey % 150 AS id_person, o_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + 1 AS lsd,
          CASE WHEN o_orderkey % 9 = 0 THEN '57'
            WHEN o_orderkey % 9 = 1 THEN '53'
            ELSE lpad(CAST(o_orderkey % 99 AS VARCHAR), 2, '0') END
            AS pos
        FROM orders),
      li AS (
        SELECT o_custkey % 150 AS id_person, l_orderkey AS claim_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + 1 AS lsd,
          l_partkey AS pk, l_suppkey AS sk, l_linenumber AS ln
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      prc AS (
        SELECT id_person, claim_id, fsd, lsd,
          CASE WHEN pk % 17 = 0 THEN 'H0015'
            WHEN pk % 17 = 1 THEN '90791'
            WHEN pk % 17 = 2 THEN '99408'
            WHEN pk % 17 = 3 THEN '99409'
            WHEN pk % 17 = 4 THEN '98966'
            WHEN pk % 17 = 5 THEN '98970'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0') END AS pc
        FROM li WHERE fsd BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'),
      lns AS (
        SELECT id_person, claim_id, fsd, lsd,
          CASE WHEN sk % 13 = 0 THEN '0906'
            ELSE lpad(CAST(sk % 9999 AS VARCHAR), 4, '0') END AS rev
        FROM li WHERE fsd BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'),
      dx AS (
        SELECT id_person, claim_id, fsd, lsd,
          CASE WHEN pk % 11 = 0 THEN 'F1010'
            WHEN pk % 11 = 1 THEN 'F1120'
            ELSE 'J' || lpad(CAST(pk % 400 AS VARCHAR), 3, '0') END
            AS norm,
          CASE WHEN pk % 6 = 0 THEN 9 ELSE 10 END AS ver,
          lpad(CAST(ln AS VARCHAR), 2, '0') AS dxnum
        FROM li WHERE fsd BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'),
      aod AS (
        SELECT id_person, claim_id, fsd, lsd FROM dx
        WHERE ver = 10 AND dxnum = '01' AND norm IN ('F1010', 'F1120')),
      c1 AS (
        (SELECT id_person, claim_id, fsd, lsd FROM prc
         WHERE pc IN ('90791', 'H0015')
         UNION
         SELECT id_person, claim_id, fsd, lsd FROM lns
         WHERE rev = '0906')
        INTERSECT SELECT * FROM aod),
      c2 AS (
        SELECT id_person, claim_id, fsd, lsd FROM prc
        WHERE pc = '99408'
        INTERSECT
        SELECT id_person, claim_id, fsd, lsd FROM hdr h
        WHERE h.pos = '57'
          AND h.fsd BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        INTERSECT SELECT * FROM aod),
      c3 AS (
        SELECT id_person, claim_id, fsd, lsd FROM prc
        WHERE pc = '99409'
        INTERSECT
        SELECT id_person, claim_id, fsd, lsd FROM hdr h
        WHERE h.pos = '53'
          AND h.fsd BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        INTERSECT SELECT * FROM aod),
      c4 AS (
        SELECT id_person, claim_id, fsd, lsd FROM prc
        WHERE pc = '98966'
        INTERSECT SELECT * FROM aod),
      c5 AS (
        SELECT id_person, claim_id, fsd, lsd FROM prc
        WHERE pc = '98970'
        INTERSECT SELECT * FROM aod)
      SELECT id_person, claim_id, fsd AS first_service_date,
        lsd AS last_service_date, 1 AS flag
      FROM (SELECT * FROM c1 UNION SELECT * FROM c2
            UNION SELECT * FROM c3 UNION SELECT * FROM c4
            UNION SELECT * FROM c5)
      ORDER BY id_person, claim_id, first_service_date""",

    // q235: FUA join step — exclusion filter, need_1_month_coverage,
    // and the 7/30-day follow-up flags via the reference's TWO
    // independent left joins (the Spark side uses one range join; the
    // oracle pins the equivalence).
    "q235_fua_join_step" -> """
      WITH idx AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
            AS year_month,
          o_custkey % 120 AS id_person,
          CAST(18 + o_custkey % 60 AS INT) AS age,
          o_orderkey AS claim_header_id,
          CAST(o_orderdate AS DATE) AS fsd,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 3 AS INT)
            AS lsd,
          CAST(o_orderkey % 5 = 0 AS INT) AS ed_within_30_day,
          CAST(o_orderkey % 7 = 0 AS INT) AS inpatient_within_30_day
        FROM orders WHERE o_orderkey % 3 = 0),
      fu AS (
        SELECT o_custkey % 120 AS id_person,
          CAST(o_orderdate AS DATE) + CAST(o_orderkey % 40 AS INT)
            AS fsd
        FROM orders WHERE o_orderkey % 4 = 1),
      kept AS (
        SELECT *,
          CASE WHEN day(lsd) = 1
            AND month(lsd) IN (1, 3, 5, 7, 8, 10, 12) THEN 1 ELSE 0 END
            AS need_1_month_coverage
        FROM idx
        WHERE ed_within_30_day = 0 AND inpatient_within_30_day = 0)
      SELECT
        a.year_month, a.id_person, a.age, a.claim_header_id,
        a.fsd AS first_service_date, a.lsd AS last_service_date,
        a.ed_within_30_day, a.inpatient_within_30_day,
        a.need_1_month_coverage,
        CAST(max(coalesce(CASE WHEN b.id_person IS NOT NULL THEN 1 END,
          0)) AS INT) AS follow_up_7_day,
        CAST(max(coalesce(CASE WHEN c.id_person IS NOT NULL THEN 1 END,
          0)) AS INT) AS follow_up_30_day,
        1 AS ed_index_visit
      FROM kept a
      LEFT JOIN fu b ON a.id_person = b.id_person
        AND b.fsd BETWEEN a.lsd AND a.lsd + 7
      LEFT JOIN fu c ON a.id_person = c.id_person
        AND c.fsd BETWEEN a.lsd AND a.lsd + 30
      GROUP BY a.year_month, a.id_person, a.age, a.claim_header_id,
        a.fsd, a.lsd, a.ed_within_30_day, a.inpatient_within_30_day,
        a.need_1_month_coverage
      ORDER BY a.id_person, a.claim_header_id""",

    // q236: apcd-grain claim_bh (claim_bh_apcd_dev.R) — the q153/q229
    // kernel dispatched with the APCD knobs: id_apcd person key, pharm
    // keyed on internal_member_id with prescription_filled_dt fill
    // dates and national_drug_code, and the pharmacy SERVICE LINE id
    // standing in for the claim header id (a disjoint keyspace, so the
    // rx arm of the OUD full-join tree surfaces as its own rows).
    "q236_apcd_bh" -> """
      WITH fact AS (
        SELECT 'ap' || CAST(o_custkey % 95 AS VARCHAR) AS id_apcd,
          l_orderkey AS chid, l_partkey AS pk, l_suppkey AS sk,
          CAST(l_shipdate AS DATE) AS fsd, l_linenumber AS ln
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      icdcm AS (
        SELECT id_apcd, chid,
          CASE WHEN pk % 8 = 0 THEN 9 ELSE 10 END AS ver,
          CASE WHEN pk % 8 = 0 THEN
            CASE WHEN pk % 13 = 0 THEN '29620'
              WHEN pk % 13 = 1 THEN '30400'
              ELSE lpad(CAST(pk % 999 AS VARCHAR), 5, '0') END
          ELSE
            CASE WHEN pk % 13 = 0 THEN 'F329'
              WHEN pk % 13 = 1 THEN 'F411'
              WHEN pk % 13 = 2 THEN 'F1120'
              ELSE 'G' || lpad(CAST(pk % 400 AS VARCHAR), 3, '0') END
          END AS icdcm_norm,
          fsd FROM fact),
      pharm AS (
        SELECT id_apcd, chid * 10 + ln AS chid,
          CASE WHEN sk % 7 = 0 THEN '11111111111'
            WHEN sk % 7 = 1 THEN '22222222222'
            WHEN sk % 7 = 2 THEN '33333333333'
            ELSE lpad(CAST(sk * 7 AS VARCHAR), 11, '0') END AS ndc,
          fsd + 4 AS rx_fill_date FROM fact),
      prc AS (
        SELECT id_apcd, chid,
          CASE WHEN pk % 15 = 0 THEN 'H0020'
            WHEN pk % 15 = 1 THEN 'J0571'
            ELSE lpad(CAST(pk % 88888 AS VARCHAR), 5, '0')
            END AS procedure_code,
          fsd FROM fact),
      hdr AS (
        SELECT o_orderkey AS chid,
          CASE WHEN o_orderkey % 13 = 0 THEN 'F1120'
            WHEN o_orderkey % 13 = 1 THEN '30400'
            ELSE 'I10' END AS primary_diagnosis,
          CASE WHEN o_orderkey % 13 = 1 THEN 9 ELSE 10 END AS ver
        FROM orders),
      ref(cond, code_set, code, ver, vset, oud_dx1_flag) AS (VALUES
        ('bh_depression','ICD9CM','29620',9,'rda-bh',NULL),
        ('bh_depression','ICD10CM','F329',10,'rda-bh',NULL),
        ('bh_anxiety','ICD10CM','F411',10,'rda-bh',NULL),
        ('bh_depression','NDC','11111111111',NULL,'rda-ndc',NULL),
        ('bh_anxiety','NDC','22222222222',NULL,'rda-ndc',NULL),
        ('sud_opioid','ICD9CM','30400',9,'rda-bh',NULL),
        ('sud_opioid','ICD10CM','F1120',10,'rda-bh',NULL),
        ('sud_opioid','NDC','33333333333',NULL,'rda-ndc',NULL),
        ('sud_opioid','HCPCS','H0020',NULL,'apde-moud-procedure',1),
        ('sud_opioid','HCPCS','J0571',NULL,'apde-moud-procedure',0)),
      diag_ev AS (
        SELECT DISTINCT d.id_apcd, d.svc_date, r.cond AS bh_cond
        FROM (SELECT DISTINCT id_apcd, icdcm_norm, ver, fsd AS svc_date
          FROM icdcm) d
        JOIN ref r ON d.icdcm_norm = r.code AND d.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond <> 'sud_opioid'),
      rx_ev AS (
        SELECT DISTINCT p.id_apcd, p.rx_fill_date AS svc_date,
          r.cond AS bh_cond
        FROM pharm p JOIN ref r ON p.ndc = r.code
        WHERE r.code_set = 'NDC' AND r.cond <> 'sud_opioid'),
      spans AS (
        SELECT id_apcd, min(svc_date) AS first_encounter_date,
          max(svc_date) AS last_encounter_date, bh_cond
        FROM (SELECT * FROM diag_ev UNION SELECT * FROM rx_ev)
        GROUP BY id_apcd, bh_cond),
      ouddx1 AS (
        SELECT DISTINCT h.chid FROM hdr h
        JOIN ref r ON h.primary_diagnosis = r.code AND h.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond = 'sud_opioid'),
      darm AS (
        SELECT DISTINCT d.id_apcd, d.chid, d.svc_date
        FROM (SELECT DISTINCT id_apcd, chid, icdcm_norm, ver,
            fsd AS svc_date FROM icdcm) d
        JOIN ref r ON d.icdcm_norm = r.code AND d.ver = r.ver
        WHERE r.code_set IN ('ICD9CM','ICD10CM')
          AND r.cond = 'sud_opioid'),
      rarm AS (
        SELECT DISTINCT p.id_apcd, p.chid, p.rx_fill_date AS svc_date
        FROM pharm p JOIN ref r ON p.ndc = r.code
        WHERE r.code_set = 'NDC' AND r.cond = 'sud_opioid'),
      parm AS (
        SELECT DISTINCT id_apcd, chid, svc_date FROM (
          SELECT DISTINCT p.id_apcd, p.chid, p.fsd AS svc_date,
            CASE WHEN r.oud_dx1_flag = 0 THEN 1
              WHEN r.oud_dx1_flag = 1 AND d.chid IS NOT NULL THEN 1
              ELSE 0 END AS ok
          FROM prc p
          JOIN ref r ON p.procedure_code = r.code
            AND r.vset = 'apde-moud-procedure' AND r.cond = 'sud_opioid'
          LEFT JOIN ouddx1 d ON p.chid = d.chid)
        WHERE ok = 1),
      oudclaims AS (
        SELECT coalesce(d.id_apcd, r.id_apcd, p.id_apcd) AS id_apcd,
          coalesce(d.svc_date, r.svc_date, p.svc_date) AS svc_date,
          CASE WHEN d.chid IS NOT NULL THEN 1 END AS icdcm_flag
        FROM darm d
        FULL JOIN rarm r ON d.chid = r.chid
        FULL JOIN parm p ON d.chid = p.chid),
      oudmonth AS (
        SELECT DISTINCT id_apcd,
          date_trunc('month', svc_date)::DATE AS fe,
          last_day(svc_date) AS le
        FROM oudclaims WHERE icdcm_flag = 1),
      oudmin AS (
        SELECT id_apcd, min(fe) AS dmin FROM oudmonth GROUP BY id_apcd),
      moudmonth AS (
        SELECT DISTINCT a.id_apcd,
          date_trunc('month', a.svc_date)::DATE AS fe,
          last_day(a.svc_date) AS le
        FROM oudclaims a JOIN oudmin b ON a.id_apcd = b.id_apcd
        WHERE a.icdcm_flag IS NULL AND b.dmin <= a.svc_date),
      oudrows AS (
        SELECT id_apcd, fe, le FROM oudmonth
        UNION SELECT id_apcd, fe, le FROM moudmonth)
      SELECT id_apcd, first_encounter_date, last_encounter_date, bh_cond
      FROM spans
      UNION
      SELECT id_apcd, fe AS first_encounter_date,
        le AS last_encounter_date, 'sud_opioid' AS bh_cond
      FROM oudrows
      ORDER BY id_apcd, bh_cond, first_encounter_date,
        last_encounter_date""",

    // q237: data-year delete (mcaid_delete_data_year.R) — per-table
    // audit of the expiring-DUA year delete: LIKE-'{year}%' prefix
    // delete on the three recognized date columns, skip otherwise,
    // old/new row counts + kept-row pins.
    "q237_delete_data_year" -> """
      WITH elig AS (
        SELECT o_orderkey AS key,
          CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
            AS dt
        FROM orders),
      claims AS (
        SELECT l_orderkey AS key, CAST(l_shipdate AS DATE) AS dt
        FROM lineitem),
      header AS (
        SELECT o_orderkey AS key, CAST(o_orderdate AS DATE) AS dt
        FROM orders),
      other AS (
        SELECT o_orderkey AS key, CAST(o_orderdate AS DATE) AS dt
        FROM orders),
      a1 AS (
        SELECT 'mcaid_elig' AS table_name,
          'CLNDR_YEAR_MNTH' AS date_column, 'deleted' AS action,
          (SELECT count(*) FROM elig) AS old_rows,
          count(*) AS new_rows,
          min(CAST(dt AS VARCHAR)) AS kept_min,
          max(CAST(dt AS VARCHAR)) AS kept_max,
          CAST(sum(key) AS BIGINT) AS kept_key_sum
        FROM elig WHERE CAST(dt AS VARCHAR) NOT LIKE '1995%'),
      a2 AS (
        SELECT 'mcaid_claim', 'FROM_SRVC_DATE', 'deleted',
          (SELECT count(*) FROM claims),
          count(*),
          min(CAST(dt AS VARCHAR)), max(CAST(dt AS VARCHAR)),
          CAST(sum(key) AS BIGINT)
        FROM claims WHERE CAST(dt AS VARCHAR) NOT LIKE '1995%'),
      a3 AS (
        SELECT 'mcaid_claim_header', 'first_service_date', 'deleted',
          (SELECT count(*) FROM header),
          count(*),
          min(CAST(dt AS VARCHAR)), max(CAST(dt AS VARCHAR)),
          CAST(sum(key) AS BIGINT)
        FROM header WHERE CAST(dt AS VARCHAR) NOT LIKE '1995%'),
      a4 AS (
        SELECT 'mcaid_other', 'etl_batch_date', 'skipped',
          (SELECT count(*) FROM other),
          count(*),
          min(CAST(dt AS VARCHAR)), max(CAST(dt AS VARCHAR)),
          CAST(sum(key) AS BIGINT)
        FROM other)
      SELECT * FROM a1 UNION ALL SELECT * FROM a2
      UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4
      ORDER BY table_name""",

    // q238: partner-export metadata manifest (dugan metadata_prep.R /
    // uw_fresh_cdr_prep_metadata.sql) — the two-sheet workbook:
    // INFORMATION_SCHEMA-style column formats from declared schemas +
    // per-table row/col counts, with the tmp_ek_ strip and
    // icdcm_codes -> ref_icdcm_codes fixups and a pinned query date.
    "q238_export_metadata" -> """
      WITH colmeta(table_schema, table_name, column_name,
          ordinal_position, data_type) AS (VALUES
        ('claims','mcaid_claim_header','id_mcaid',1,'varchar(255)'),
        ('claims','mcaid_claim_header','claim_header_id',2,'bigint'),
        ('claims','mcaid_claim_header','first_service_date',3,'date'),
        ('claims','mcaid_claim_header','claim_type_id',4,'tinyint'),
        ('claims','mcaid_claim_header','paid_amount',5,'numeric(38,2)'),
        ('ref','ref_icdcm_codes','icdcm',1,'varchar(255)'),
        ('ref','ref_icdcm_codes','icdcm_version',2,'smallint'),
        ('ref','ref_icdcm_codes','ccw_heart_failure',3,'tinyint'),
        ('ref','ref_date','date',1,'date'),
        ('ref','ref_date','first_day_month',2,'date'),
        ('ref','ref_date','last_day_month',3,'date')),
      rowmeta AS (
        SELECT 'claims' AS table_schema,
          'mcaid_claim_header' AS table_name,
          5 AS col_count, count(*) AS row_count FROM orders
        UNION ALL
        SELECT 'ref', 'ref_icdcm_codes', 3, count(*) FROM region
        UNION ALL
        SELECT 'ref', 'ref_date', 3, count(*) FROM nation)
      SELECT 'table_column_formats' AS sheet, table_schema, table_name,
        column_name, ordinal_position, data_type,
        CAST(NULL AS INT) AS col_count, CAST(NULL AS BIGINT) AS row_count,
        DATE '2026-01-15' AS query_date
      FROM colmeta
      UNION ALL
      SELECT 'table_row_counts', table_schema, table_name,
        CAST(NULL AS VARCHAR), CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        col_count, row_count, DATE '2026-01-15'
      FROM rowmeta
      ORDER BY sheet, table_schema, table_name, ordinal_position""",

    // q219: k-anonymity ladder — per-level group counts, sub-k violating
    // record mass vs the floor(n/20) budget, minimal satisfying level.
    "q219_kanon_ladder" -> """
      WITH recs AS (
        SELECT '98' || lpad(CAST(c_custkey % 900 AS VARCHAR), 3, '0')
            AS zip,
          CAST(1930 + c_custkey % 65 AS INTEGER) AS yob
        FROM customer),
      gen AS (
        SELECT 0 AS lvl, zip || '|' || CAST(yob AS VARCHAR) AS key
        FROM recs
        UNION ALL
        SELECT 1, substr(zip, 1, 3) || '|' || CAST(yob AS VARCHAR)
        FROM recs
        UNION ALL
        SELECT 2, substr(zip, 1, 3) || '|'
          || CAST((yob // 10) * 10 AS VARCHAR)
        FROM recs
        UNION ALL
        SELECT 3, '*|' || CAST((yob // 10) * 10 AS VARCHAR) FROM recs
        UNION ALL
        SELECT 4, '*|*' FROM recs),
      groups AS (SELECT lvl, key, count(*) AS c FROM gen GROUP BY 1, 2),
      per AS (
        SELECT lvl, count(*) AS n_groups,
          CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
            AS n_violating,
          sum(c) AS n
        FROM groups GROUP BY 1),
      ch AS (
        SELECT min(CASE WHEN n_violating <= (n * 1) // 20 THEN lvl END)
          AS chosen
        FROM per)
      SELECT CAST(lvl AS INTEGER) AS level_idx,
        CASE lvl WHEN 0 THEN 'zip5_yob' WHEN 1 THEN 'zip3_yob'
          WHEN 2 THEN 'zip3_decade' WHEN 3 THEN 'any_decade'
          ELSE 'suppressed' END AS level_name,
        n_groups, n_violating,
        n_violating <= (n * 1) // 20 AS satisfies,
        coalesce(lvl = (SELECT chosen FROM ch), FALSE) AS chosen
      FROM per ORDER BY level_idx""",

    // q220: integer PageRank — 5 generated oracle iterations replay the
    // div-rounded damping, dangling and teleport masses exactly; top-20
    // with the rank tie-break.
    "q220_pagerank" -> ("""
      WITH e AS (
        SELECT DISTINCT CAST(o_custkey % 500 AS BIGINT) AS src,
          CAST(o_orderkey % 500 AS BIGINT) AS dst
        FROM orders WHERE o_custkey % 500 <> o_orderkey % 500),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT count(*) AS n FROM nodes),
      od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
      r0 AS (
        SELECT node, 1000000000000 // n AS rank
        FROM nodes CROSS JOIN nn),""" +
      (1 to 5).map(prIter).mkString(",") + """
      SELECT node, rank, rnk FROM (
        SELECT node, rank,
          CAST(row_number() OVER (ORDER BY rank DESC, node) AS INTEGER)
            AS rnk
        FROM r5)
      WHERE rnk <= 20 ORDER BY rnk"""),

    // q243: label propagation — 4 generated oracle rounds replay the
    // synchronous adopt-the-modal-neighbor-label updates (ties to the
    // smallest label) over the planted-community graph exactly.
    "q243_label_prop" -> ("""
      WITH raw AS (
        SELECT CAST(o_custkey % 30 AS BIGINT) * 100
            + o_orderkey % 20 AS src,
          CAST(o_custkey % 30 AS BIGINT) * 100
            + (o_orderkey // 20) % 20 AS dst
        FROM orders
        UNION ALL
        SELECT CAST(o_custkey % 30 AS BIGINT) * 100 + o_orderkey % 20,
          CAST((o_custkey % 30 + 1) % 30 AS BIGINT) * 100
            + o_orderkey % 20
        FROM orders WHERE o_orderkey % 97 = 0),
      e0 AS (SELECT src, dst FROM raw WHERE src <> dst),
      und AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0)),
      lbl0 AS (
        SELECT DISTINCT src AS node, src AS label FROM und),""" +
      (1 to 4).map(lpIter).mkString(",") + """
      SELECT node, label FROM lbl4 ORDER BY node"""),

    // q221: as-of join — per lookup, the quote with the greatest
    // (qdate, qkey) among qdate <= ldate; lookups with no prior quote
    // keep NULLs (cannot occur in this fixture, arm kept for parity).
    "q221_asof_join" -> """
      WITH o AS (
        SELECT o_orderkey, o_custkey % 200 AS key,
          CAST(o_orderdate AS DATE) AS od, o_totalprice
        FROM orders),
      quotes AS (
        SELECT key, od AS qdate, o_orderkey AS qkey,
          o_totalprice AS qprice
        FROM o),
      lookups AS (
        SELECT o_orderkey AS lookup_id, key, od + 30 AS ldate
        FROM o WHERE o_orderkey % 7 = 0),
      m AS (
        SELECT l.lookup_id, l.key, l.ldate, q.qdate, q.qkey, q.qprice,
          row_number() OVER (PARTITION BY l.lookup_id
            ORDER BY q.qdate DESC, q.qkey DESC) AS rn
        FROM lookups l JOIN quotes q
          ON l.key = q.key AND q.qdate <= l.ldate)
      SELECT lookup_id, key, ldate, qdate, qkey, qprice
      FROM m WHERE rn = 1
      UNION ALL
      SELECT l.lookup_id, l.key, l.ldate, CAST(NULL AS DATE),
        CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      FROM lookups l
      WHERE NOT EXISTS (SELECT 1 FROM quotes q
        WHERE q.key = l.key AND q.qdate <= l.ldate)
      ORDER BY lookup_id""",
  )
}
