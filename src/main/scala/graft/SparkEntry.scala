package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Bpe, Dedup, Events, Graph, Layout, MultimodalQ, Parity, PipelineQ, Relational, Selection, Similarity, Stats, StreamingQ, Temporal, Text}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers here twice: a Spark query over
  * the testdata tables and (where SQL-expressible) a DuckDB oracle over
  * the same parquet. Column names are aliased identically on both sides
  * — the driver sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q10RevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // reference-parity shapes (SURVEY.md §2.3 / §2.6)
    "q1_grade_dist" -> (Parity.q1GradeDist _),
    "q2_category_dist" -> (Parity.q2CategoryDist _),
    "q3_brand_dist" -> (Parity.q3BrandDist _),
    "q4_packaging_dist" -> (Parity.q4PackagingDist _),
    "q5_nova_summary" -> (Parity.q5NovaSummary _),
    "q6_top_token_docs" -> (Parity.q6TopTokenDocs _),
    "q7_top_order_per_priority" -> (Parity.q7TopOrderPerPriority _),
    "q8_top_nations_other" -> (Parity.q8TopNationsOther _),
    "q9_weighted_mean" -> (Parity.q9WeightedMean _),
    "q42_salted_brand_dist" -> (Parity.q42SaltedBrandDist _),
    // joins / set ops / rollup (SURVEY.md §2.7 gap coverage)
    "q10_revenue_by_nation" -> (Relational.q10RevenueByNation _),
    "q11_brand_volume" -> (Relational.q11BrandVolume _),
    "q12_customers_no_orders" -> (Relational.q12CustomersNoOrders _),
    "q13_active_suppliers" -> (Relational.q13ActiveSuppliersByNation _),
    "q14_nation_set_ops" -> (Relational.q14NationSetOps _),
    "q15_order_rollup" -> (Relational.q15OrderRollup _),
    "q52_range_join" -> (Relational.q52RangeJoin _),
    // bloom-filter pre-join: scan-side probe, broadcast 256-bit filter
    "q73_bloom_semijoin" -> (Relational.q73BloomSemiJoin _),
    "q53_pivot" -> (Relational.q53Pivot _),
    // event-time analytics (batch twins of the streaming ops)
    "q16_hourly_event_stats" -> (Events.q16HourlyEventStats _),
    "q17_user_sessions" -> (Events.q17UserSessions _),
    "q18_props_buckets" -> (Events.q18PropsBuckets _),
    "q19_first_event_per_user_type" -> (Events.q19FirstEventPerUserType _),
    // ordered funnel: staged per-stage-filtered user_id aggregations
    "q69_funnel" -> (Events.q69Funnel _),
    // product analytics: cohort retention + event transition matrix
    "q82_cohort_retention" -> (Events.q82CohortRetention _),
    "q83_transition_matrix" -> (Events.q83TransitionMatrix _),
    // text analysis
    "q20_doc_stats" -> (Text.q20DocStats _),
    "q21_langid" -> (Text.q21LangId _),
    "q22_quality_buckets" -> (Text.q22QualityBuckets _),
    "q23_token_freq" -> (Text.q23TokenFreq _),
    "q24_fingerprints" -> (Text.q24Fingerprints _),
    "q43_rolling_fingerprints" -> (Text.q43RollingFingerprints _),
    "q47_sequence_packing" -> (Text.q47SequencePacking _),
    "q48_stratified_sample" -> (Text.q48StratifiedSample _),
    "q49_contamination" -> (Text.q49Contamination _),
    "q56_contamination_joined" -> (Text.q56ContaminationJoined _),
    "q54_mixing_rates" -> (Text.q54MixingRates _),
    "q60_repetition_stats" -> (Text.q60RepetitionStats _),
    "q62_bm25" -> (Text.q62Bm25 _),
    "q64_unigram_surprisal" -> (Text.q64UnigramSurprisal _),
    "q71_dsir_census" -> (Text.q71DsirCensus _),
    "q65_surprisal_joined" -> (Text.q65SurprisalJoined _),
    // deduplication ladder
    "q25_exact_dedup" -> (Dedup.q25ExactDedup _),
    "q26_minhash_buckets" -> (Dedup.q26MinhashBuckets _),
    "q27_jaccard_pairs" -> (Dedup.q27JaccardPairs _),
    "q66_containment_pairs" -> (Dedup.q66ContainmentPairs _),
    "q28_simhash_histogram" -> (Dedup.q28SimhashHistogram _),
    "q41_source_simhash" -> (Dedup.q41SourceSimhash _),
    "q44_lsh_verified_pairs" -> (Dedup.q44LshVerifiedPairs _),
    "q46_dedup_clusters" -> (Dedup.q46DedupClusters _),
    "q55_dedup_clusters_logn" -> (Dedup.q55DedupClustersLogN _),
    // the complete training-data pipeline, composed end-to-end
    "q50_training_manifest" -> (PipelineQ.q50TrainingManifest _),
    // the curation pipeline: scrub -> split -> mix -> pack, one plan
    "q84_curation_manifest" -> (PipelineQ.q84CurationManifest _),
    // similarity search
    "q29_cosine_topk" -> (Similarity.q29CosineTopK _),
    "q30_lsh_buckets" -> (Similarity.q30LshBuckets _),
    "q31_embedding_near_dups" -> (Similarity.q31EmbeddingNearDups _),
    "q36_ivf_cells" -> (Similarity.q36IvfCells _),
    "q57_ivf_search" -> (Similarity.q57IvfSearch _),
    "q58_pq_census" -> (Similarity.q58PqCensus _),
    "q59_pq_adc_search" -> (Similarity.q59PqAdcSearch _),
    "q51_multiprobe_ann" -> (Similarity.q51MultiprobeAnn _),
    "q61_semdedup" -> (Similarity.q61SemDedup _),
    "q63_ivfpq_search" -> (Similarity.q63IvfPqSearch _),
    // the composed embedding pipeline: LSH dedup -> IVF manifest
    "q85_embedding_manifest" -> (Similarity.q85EmbeddingManifest _),
    // multimodal plumbing
    "q32_image_meta_stats" -> (MultimodalQ.q32ImageMetaStats _),
    "q67_frame_manifest" -> (MultimodalQ.q67FrameManifest _),
    // statistical + temporal aggregates
    "q33_stats_agg" -> (Stats.q33StatsAgg _),
    "q34_monthly_orders" -> (Stats.q34MonthlyOrders _),
    "q35_status_priority_cube" -> (Stats.q35StatusPriorityCube _),
    "q40_grouping_sets" -> (Stats.q40GroupingSets _),
    // sketches: approximate values checked via in-query tolerance booleans
    "q37_sketches" -> (Stats.q37Sketches _),
    // deterministic count-min sketch: exact-hash-matched cells
    "q68_cms_heavy_hitters" -> (Stats.q68CmsHeavyHitters _),
    // true-mode aggregate (the reference's "most_common_additive" intent)
    "q45_true_mode_tokens" -> (Parity.q45TrueModeTokens _),
    // graph: iterative PageRank on the contracted trade graph
    "q70_pagerank" -> (Graph.q70PageRank _),
    // data layout: Z-order curve census (write-path shadow)
    "q72_zorder_census" -> (Layout.q72ZorderCensus _),
    // temporal: as-of join (composed) + window-function family
    "q38_asof_join" -> (Temporal.q38AsofJoin _),
    "q39_window_family" -> (Temporal.q39WindowFamily _),
    // span-level cross-doc dedup (ExactSubstr re-expression)
    "q74_crossdoc_spans" -> (Dedup.q74CrossdocSpans _),
    // feed-overlap audit: per-source mergeable MinHash signatures
    "q81_source_overlap" -> (Dedup.q81SourceOverlap _),
    // span surgery: cut the cross-doc duplicated spans q74 finds
    "q86_span_surgery" -> (Dedup.q86SpanSurgery _),
    // corpus curation: weighted sampling, PII scrub, splits, keywords
    "q75_weighted_sample" -> (Text.q75WeightedSample _),
    "q76_pii_redaction" -> (Text.q76PiiRedaction _),
    "q77_split_census" -> (Text.q77SplitCensus _),
    "q78_tfidf_keywords" -> (Text.q78TfidfKeywords _),
    // tokenizer training: distributed BPE merge rounds + apply census
    "q79_bpe_merges" -> (Bpe.q79BpeMerges _),
    "q80_bpe_tokenize" -> (Bpe.q80BpeTokenize _),
    // packing priced in trained-tokenizer subwords (q47's real budget)
    "q92_subword_packing" -> (Bpe.q92SubwordPacking _),
    // training-order layout: deterministic corpus shuffle manifest
    "q87_corpus_shuffle" -> (Layout.q87CorpusShuffle _),
    // outlier clipping: exact per-source P5/P95 length winsorize
    "q88_length_winsorize" -> (Text.q88LengthWinsorize _),
    // data-mixture drift: per-source KL vs the corpus unigram blend
    "q89_source_kl_drift" -> (Text.q89SourceKlDrift _),
    // ingest diversity: n-gram novelty curve over arrival batches
    "q91_novelty_curve" -> (Dedup.q91NoveltyCurve _),
    // eval integrity: fingerprints crossing train/val/test splits
    "q93_split_leakage" -> (Text.q93SplitLeakage _),
    // vector hygiene: null/dim/NaN/zero-norm expectation census
    "q94_embedding_validation" -> (Similarity.q94EmbeddingValidation _),
    // ingest telemetry: integer rolling z-score on hourly event rates
    "q90_rate_anomaly" -> (Events.q90RateAnomaly _),
    // LM fluency: corpus-trained bigram conditional-surprisal census
    "q95_bigram_surprisal" -> (Text.q95BigramSurprisal _),
    // dedup retention policy: quality-argmax cluster representatives
    "q96_cluster_representatives" -> (Dedup.q96ClusterRepresentatives _),
    // sampling: temperature-scaled (p^0.7) per-source mixture weights
    "q97_mixture_weights" -> ((s, d) => Text.q97MixtureWeights(s, d)),
    // composed: mixture weights recomputed over the post-dedup survivors
    "q98_deduped_mixture" -> ((s, d) => PipelineQ.q98DedupedMixture(s, d)),
    // eval hygiene: bigram LM trained on train split, scored on val
    "q99_heldout_surprisal" -> (Text.q99HeldoutSurprisal _),
    // cross-modal: text quality bucket × embedding cluster label census
    "q100_quality_by_label" -> (MultimodalQ.q100QualityByLabel _),
    // privacy: behavioral k-anonymity (re-identification risk) census
    "q101_reid_risk" -> (Events.q101ReidRisk _),
    // statistics: one-pass deterministic bootstrap (integer dispersion)
    "q102_bootstrap_moments" -> (Stats.q102BootstrapMoments _),
    // the same bootstrap, fused (no B× row multiplication — the
    // 100 TB spelling); same oracle, bit-identical output
    "q103_bootstrap_fused" -> (Stats.q103BootstrapFused _),
    // q95 with the hot-pair broadcast split (Zipf-head skew remedy);
    // same oracle, identical output
    "q104_bigram_skewsafe" -> ((s, d) => Text.q104BigramSkewSafe(s, d)),
    // streaming state path on the oracle board: each runs the REAL
    // incremental twin over several micro-batches, then snapshots the
    // landed partitioned state; oracles are the batch twins' SQL
    "q105_incremental_mixture" -> (StreamingQ.q105IncrementalMixture _),
    "q106_incremental_oov" -> (StreamingQ.q106IncrementalOov _),
    "q107_incremental_dedup" -> (StreamingQ.q107IncrementalDedup _),
    // corpus health: per-source type/token/hapax lexical diversity
    "q108_lexical_diversity" -> (Text.q108LexicalDiversity _),
    // arrival cadence: log2-bucketed inter-event gap spectrum
    "q109_interevent_gaps" -> (Events.q109IntereventGaps _),
    // cluster separation: pairwise cosine between label centroids
    "q110_label_centroid_sim" -> (Similarity.q110LabelCentroidSim _),
    // robust anomaly screen: median/MAD fence census (integer-exact)
    "q111_mad_outliers" -> (Stats.q111MadOutliers _),
    // curation review: quality bucket × dedup-retention interaction
    "q112_quality_dedup_grid" -> (Dedup.q112QualityDedupGrid _),
    // the stateful sessionizer ITSELF on the oracle board: events
    // streamed through flatMapGroupsWithState in micro-batches,
    // closed-session census vs the batch q17 oracle
    "q113_stateful_sessions" -> (StreamingQ.q113StatefulSessions _),
    // graph topology: triangles + clustering coefficient of the
    // verified near-dup graph (clique-vs-chain regime detector)
    "q114_triangle_census" -> (Dedup.q114TriangleCensus _),
    // eval hygiene with PROPER backoff: Jelinek-Mercer interpolated
    // train→val surprisal (novel phrasing vs novel vocabulary)
    "q115_interpolated_surprisal" -> (Text.q115InterpolatedSurprisal _),
    // streaming lexicon index: q108's census from landed per-batch
    // (source, token, freq) partials — the non-sum-mergeable census
    // restored exactly by the lexicon merge
    "q116_incremental_lexicon" -> (StreamingQ.q116IncrementalLexicon _),
    // conversion analytics: last-touch attribution census (running
    // ignoreNulls window, no events×events self-join)
    "q117_attribution" -> (Events.q117Attribution _),
    // semi-structured at scale: q18's census through Spark 4 VARIANT
    // (parse once at ingest, path-extract from the binary encoding)
    "q118_variant_props" -> (Events.q118VariantProps _),
    // journey analytics: view→click→purchase funnel with 24h step
    // windows (µs-exact; q69 asks "ever", this asks "as a journey")
    "q119_timed_funnel" -> (Events.q119TimedFunnel _),
    // association mining: event-type co-occurrence lift within the
    // q17 session cut (market-basket over behavioral sessions)
    "q120_session_lift" -> (Events.q120SessionLift _),
    // RAG preprocessing: overlapping-window chunk inventory + chunk-
    // grain exact-dup census (boilerplate duplicates at chunk grain
    // long before whole documents collide)
    "q121_doc_chunks" -> (Text.q121DocChunks _),
    // time-series alignment: hourly LOCF state grid per user (the
    // feature-store resample — "what state at hour H", every H)
    "q122_locf_grid" -> (Events.q122LocfGrid _),
    // hybrid retrieval: reciprocal-rank fusion of BM25 and cosine
    // top-10 lists (integer-micros RRF, k=60)
    "q123_rrf_fusion" -> (Similarity.q123RrfFusion _),
    // contrastive mining: top-5 wrong-label high-cosine neighbors
    // per anchor (the hard-negative manifest a batch builder feeds on)
    "q124_hard_negatives" -> (Similarity.q124HardNegatives _),
    // vision batching: aspect-ratio bucket manifest with batch counts
    // and padding-waste ppm at batch size 32
    "q125_aspect_buckets" -> (MultimodalQ.q125AspectBuckets _),
    // MLM data prep: deterministic position-hash mask plan census
    // (15% rate, span starts — same mask on any engine or rerun)
    "q126_mask_plan" -> (Text.q126MaskPlan _),
    // curriculum ordering: global TTR-score deciles with token mass
    // and score envelopes per decile
    "q127_curriculum_deciles" -> (Text.q127CurriculumDeciles _),
    // sketch audit: bands-agreed × true-Jaccard-decile grid (the
    // measured LSH s-curve — what tuning (b, r) actually reads)
    "q128_lsh_calibration" -> (Dedup.q128LshCalibration _),
    // index audit: multi-probe ANN candidates + recall@3 vs the
    // exact top-k ground truth, per query
    "q129_ann_recall" -> (Similarity.q129AnnRecall _),
    // shuffle planning: per-(table, key) skew census — the numbers
    // that pick plain shuffle vs AQE skew-split vs q42 salting
    "q130_key_skew_census" -> (Stats.q130KeySkewCensus _),
    // fuzzy dedup: Levenshtein re-verification of the LSH candidates
    // (order-sensitive where Jaccard is order-blind)
    "q131_edit_distance_verify" -> (Dedup.q131EditDistanceVerify _),
    // privacy remediation: k-anonymity vs quasi-identifier grain
    // (exact counts → log2 counts → type set)
    "q132_generalization_ladder" -> (Events.q132GeneralizationLadder _),
    // composed: dedup survivors → curriculum deciles → per-decile
    // token-budget shards (the dataloader's curriculum manifest)
    "q133_curriculum_manifest" -> ((s, d) => PipelineQ.q133CurriculumManifest(s, d)),
    // sub-document dedup: first-occurrence-wins segment dedup with
    // per-source retention census (the RefinedWeb line-dedup analog)
    "q134_segment_dedup" -> (Dedup.q134SegmentDedup _),
    // distinct-count sketching, the reproducible way: KMV k-min-values
    // kernel (O(k) mergeable buffer) vs the exact distinct audit
    "q135_kmv_distinct" -> (Stats.q135KmvDistinct _),
    // dataloader arithmetic: τ-scaled targets → per-source repeat plan
    // (full epochs + partial final epoch)
    "q136_epoch_schedule" -> (Text.q136EpochSchedule _),
    // collocation mining: exact scaled-integer PMI over the q95 bigram
    // model table (top-K window runs on O(model), never the corpus)
    "q137_pmi_pairs" -> (Text.q137PmiPairs _),
    // dedup-quality audit: per-cluster-size language/source purity of
    // the verified near-dup components
    "q138_cluster_purity" -> (Dedup.q138ClusterPurity _),
    // behavioral modeling: first-order Markov transition matrix over
    // the q17 session cut (counts + conditional ppm)
    "q139_session_transitions" -> (Events.q139SessionTransitions _),
    // exact-integer Spearman rank correlation: length vs TTR quality
    // per source (the ρ a length-floor policy decision reads)
    "q140_spearman_len_quality" -> (Stats.q140SpearmanLenQuality _),
    // streaming state on the oracle board: the KMV sketch rebuilt from
    // landed per-batch k-min partials must match batch q135 bit-exact
    "q141_incremental_kmv" -> (StreamingQ.q141IncrementalKmv _),
    // vision-language batch assembly: text + ViT-patch token packing
    // to a shared 4096-token budget (the q47 kernel, modality-aware)
    "q142_multimodal_packing" -> (MultimodalQ.q142MultimodalPacking _),
    // retrieval eval, rank edition: where does the ANN ranking put the
    // exact nearest neighbor (reciprocal rank in ppm)
    "q143_retrieval_mrr" -> (Similarity.q143RetrievalMrr _),
    // eval hygiene above exact-hash leakage: near-dup pairs straddling
    // the train/val/test cut
    "q144_fuzzy_leakage" -> (Dedup.q144FuzzyLeakage _),
    // temporal drift: exact-integer χ² of each day's event mix vs the
    // corpus mix, with the per-day top-deviating type named
    "q145_chi2_daily_mix" -> (Events.q145Chi2DailyMix _),
    // privacy, second axis: l-diversity of the dominant event type
    // within each k-anonymity signature group (homogeneity attack)
    "q146_l_diversity" -> (Events.q146LDiversity _),
    // stateful streaming on the board, transition edition: per-user
    // last-event carry across batch boundaries must reproduce q139
    "q147_incremental_transitions" -> (StreamingQ.q147IncrementalTransitions _),
    // the drift monitor lands per-batch contingency partials; the
    // summed snapshot must reproduce batch q145's exact χ²
    "q148_incremental_chi2" -> (StreamingQ.q148IncrementalChi2 _),
    // the release datasheet: one row composing the registry's own
    // size/diversity/integrity/split/quality definitions
    "q149_dataset_card" -> ((s, d) => PipelineQ.q149DatasetCard(s, d)),
    // q144's remediation: drop the deterministic loser of every
    // cross-split near-dup edge, publish the cleaned split manifest
    "q150_decontaminated_splits" -> (Dedup.q150DecontaminatedSplits _),
    // exact dedup at ingest: min-merged first-claims must reproduce
    // the batch q134 retention census across batch boundaries
    "q151_incremental_segments" -> (StreamingQ.q151IncrementalSegments _),
    "q152_incremental_ann" -> (StreamingQ.q152IncrementalAnn _),
    // q99's held-out scoring with the q104 hot-split: identical output,
    // shuffle keys capped at the hot cuts
    "q153_heldout_skewsafe" -> ((s, d) => Text.q153HeldoutSkewSafe(s, d)),
    // measured-head auto-selector between q95's flat plan and q104's
    // split — output branch-independent
    "q154_surprisal_auto" -> ((s, d) => Text.q154SurprisalAuto(s, d)),
    // deterministic bottom-k-by-hash sampled quantiles (native
    // TypedImperativeAggregate) + exact-median audit
    "q155_sampled_quantiles" -> ((s, d) => Stats.q155SampledQuantiles(s, d)),
    // the min-merge streamed twin: landed per-batch bottom-k partials
    // must reproduce batch q155 bit-exact
    "q156_incremental_quantiles" -> (StreamingQ.q156IncrementalQuantiles _),
    // q156 with the partials log FOLDED (min-merge compaction)
    // between ingest and snapshot — compaction must preserve the sketch
    "q157_compacted_quantiles" -> (StreamingQ.q157CompactedQuantiles _),
    // q105 with the SUM-merge token log compacted via the atomic
    // stage-and-swap protocol — the fold must preserve summed totals
    "q158_compacted_mixture" -> (StreamingQ.q158CompactedMixture _),
    // the COMPOSED q50 pipeline ingested incrementally (ordered feed →
    // per-batch triage/exact-dedup/LSH → corpus-global finalize)
    "q159_incremental_pipeline" -> (StreamingQ.q159IncrementalPipeline _),
    // loss-percentile data selection: keep the per-source p25..p75
    // surprisal band (the learnable middle; both tails are waste)
    "q160_surprisal_band" -> (Text.q160SurprisalBand _),
    // DoReMi-flavored mixture tilt: upweight sources whose per-token
    // surprisal exceeds the corpus mean, integer-exact
    "q161_excess_mixture" -> (Text.q161ExcessMixture _),
    // q107 with the LSH index compacted MID-INGEST, then resumed from
    // checkpoint — pairing over the folded index must be transparent
    "q162_compacted_lsh_index" -> (StreamingQ.q162CompactedLshIndex _),
    // the ANN edition: bucket_grp index folded mid-ingest, vectors and
    // all, then checkpoint-resumed pairing over the merged history
    "q163_compacted_ann_index" -> (StreamingQ.q163CompactedAnnIndex _),
    // q160's at-scale spelling: value cut against deterministic
    // sampled band bounds — no corpus sort, bounds broadcast back
    "q164_sampled_band" -> ((s, d) => Text.q164SampledBand(s, d)),
    // embedding-drift monitor: vector-valued SUM partials (label
    // centroids) must reproduce the batch q110 matrix
    "q165_incremental_centroids" -> (StreamingQ.q165IncrementalCentroids _),
    // multi-objective selection: grid-partitioned Pareto skyline —
    // keyed windows + a tiny bucket suffix frame, no global sort
    "q166_pareto_frontier" -> (Selection.q166ParetoFrontier _),
    // q86's coverage as merged intervals (gaps-and-islands on span
    // starts — k× fewer rows than the position explode, same union)
    "q167_merged_spans" -> (Dedup.q167MergedSpans _),
    // market-basket affinity at brand grain: contract-first pair
    // generation, supports and basket count broadcast back
    "q168_association_rules" -> (Relational.q168AssociationRules _),
    // hard global token budget: distributed prefix scan (score-class
    // frame + doc_id-bucketed boundary), no global sort
    "q169_token_budget" -> (Selection.q169TokenBudget _),
    // q169's fairness twin: per-source budgets — every window gains
    // the source key, nothing is corpus-ordered
    "q170_source_budget" -> (Selection.q170SourceBudget _),
    // pairwise source overlap from KMV sketches: O(k) state per
    // source, estimates off the tiny sketch frame; exact audit rides
    // one hash-keyed join (the drop-at-scale column)
    "q171_sketch_overlap" -> (Dedup.q171SketchOverlap _),
    // controlled duplication: ≤ cap copies per fingerprint via the
    // bottom-k kernel — O(cap) state, hot-fingerprint-immune
    "q172_capped_dedup" -> (Dedup.q172CappedDedup _),
    // q172 at ingest: per-batch bottom-cap claim partials, min-merge
    // family — snapshot == the batch census (bottom-cap-of-union law)
    "q173_incremental_cap" -> (StreamingQ.q173IncrementalCap _),
    // q171's sketch half at ingest: per-batch k-min partials per
    // source (k-min-of-union law) — the O(sources·k) overlap matrix a
    // live ingest keeps; the exact audit is what it drops
    "q174_incremental_overlap" -> (StreamingQ.q174IncrementalOverlap _),
    // the board's one stream-STREAM join: watermarked symmetric hash
    // interval join (view→click ≤24h) — state bounded by the
    // watermark, key-parallel on user_id
    "q175_stream_join_pairs" -> (StreamingQ.q175StreamJoinPairs _),
    // the OUTER edition: watermark-proven absence (funnel drop-off at
    // ingest), flushed by heartbeat sentinels — the production pattern
    "q176_stream_join_dropoff" -> (StreamingQ.q176StreamJoinDropoff _),
    // at-least-once delivery collapsed to exactly-once at ingest:
    // every event delivered twice, dropDuplicatesWithinWatermark must
    // make the doubling invisible downstream
    "q177_stream_dedup" -> (StreamingQ.q177StreamDedup _),
    // q169's terminal budget selection at ingest: per-batch scored
    // manifest partials, snapshot through the exact q169 tail — the
    // last batch-curation operator gains its ingest-time twin
    "q178_incremental_budget" -> (StreamingQ.q178IncrementalBudget _),
    // the FULL-outer stream-stream join: both absence columns
    // watermark-proven (dropped views AND orphan clicks), dual-leg
    // heartbeat sentinels
    "q179_stream_join_full" -> (StreamingQ.q179StreamJoinFull _),
    // the built-in session_window sessionizer pinned to the same
    // answer as the custom state machine (q113) and batch q17
    "q180_session_window" -> (StreamingQ.q180SessionWindow _),
    // q127's plan auto-selector: measured probe picks the exact global
    // ntile or the sort-free exact histogram decomposition — output
    // branch-independent, so the q127 oracle gates both spellings
    "q181_curriculum_auto" -> ((s, d) => Text.q181CurriculumAuto(s, d)),
    // q166's skyline at ingest: per-batch frontier partials re-skylined
    // by the snapshot (frontier-of-union law) — with q178/q183 every
    // selection operator has an ingest-time edition
    "q182_incremental_frontier" -> (StreamingQ.q182IncrementalFrontier _),
    // q170's fairness policy as a second snapshot over q178's monitor
    // state: per-source budgets from the same landed scored manifest
    "q183_incremental_source_budget" -> (StreamingQ.q183IncrementalSourceBudget _),
    // the watermarked tumbling-window aggregation itself on the oracle
    // board (append-mode window state machine vs a batch census;
    // integer-cents value mass — double sums are not order-free)
    "q184_stream_window_counts" -> (StreamingQ.q184StreamWindowCounts _),
    // q127's curriculum census as the THIRD policy snapshot over the
    // q178 monitor's manifest, through q181's sort-free histogram tail
    "q185_incremental_curriculum" -> (StreamingQ.q185IncrementalCurriculum _),
    // the remaining StreamsSpec-only monitors gain oracle rows: q88's
    // winsorize histogram, q90's hourly anomaly, q93's split guard,
    // q68's CMS cells, q81's source signatures — every incremental
    // monitor in the engine is now gated by a batch oracle
    "q186_incremental_winsorize" -> (StreamingQ.q186IncrementalWinsorize _),
    "q187_incremental_anomaly" -> (StreamingQ.q187IncrementalAnomaly _),
    "q188_incremental_split_guard" -> (StreamingQ.q188IncrementalSplitGuard _),
    "q189_incremental_cms" -> (StreamingQ.q189IncrementalCms _),
    "q190_incremental_signatures" -> (StreamingQ.q190IncrementalSignatures _),
    // q91's novelty curve at ingest, DATA-axis edition: the batch axis
    // is doc_id-derived, so (batch, gram, occ) partials sum to the
    // exact q91 frame from any micro-batch slicing — the last monitor
    // gains its oracle row
    "q191_incremental_novelty" -> (StreamingQ.q191IncrementalNovelty _),
    // the third streaming-join flavor: stream-STATIC broadcast
    // enrichment (stateless, no watermark — the default ingest
    // enrichment shape; q175/q176/q179 cover stream-stream)
    "q192_stream_enrich" -> (StreamingQ.q192StreamEnrich _),
    // right-to-be-forgotten: tombstone purge propagated across the
    // lake's FK edges + the kept-side residual audit
    "q193_deletion_propagation" -> (Events.q193DeletionPropagation _),
    // SCD2 validity intervals: gaps-and-islands run collapse per user,
    // lead()-closed effective_from/to — the warehouse dimension build
    "q194_scd2_intervals" -> (Temporal.q194Scd2Intervals _),
    // declared data-quality expectations: every FK edge + scan checks,
    // one census row per check
    "q195_expectations_census" -> (Relational.q195ExpectationsCensus _),
    // q194's SCD2 build as a keyed-state streaming operator: state
    // changes close intervals across batch boundaries, open runs
    // flush via an absolute quiesce timer
    "q196_incremental_scd2" -> (StreamingQ.q196IncrementalScd2 _),
    // dataset versioning: fingerprint-manifest diff between two crawl
    // snapshots — added/removed/modified/unchanged per source
    "q197_snapshot_diff" -> (PipelineQ.q197SnapshotDiff _),
    // the versioning diff at ingest: the new crawl's manifest lands
    // per micro-batch, the snapshot diffs it against the old crawl
    "q198_incremental_diff" -> (StreamingQ.q198IncrementalSnapshotDiff _),
    // right-to-be-forgotten at the write path: stream-static broadcast
    // anti-join drops tombstoned users' rows before they land
    "q199_incremental_purge" -> (StreamingQ.q199IncrementalPurge _),
    // per-source content-integrity roots: order-independent xor/sum
    // commitments — replica drift is an O(sources) comparison
    "q200_integrity_roots" -> (PipelineQ.q200IntegrityRoots _),
    // reliability-diagram census for the langid-style classifier:
    // per-confidence-bin predicted vs realized rates (ECE table)
    "q201_calibration_bins" -> (Text.q201CalibrationBins _),
    // the q195 expectations gate at ingest: per-batch sum-mergeable
    // (check, key) partials from a stream-static FK probe + scan flags
    "q202_incremental_expectations" ->
      (StreamingQ.q202IncrementalExpectations _),
    // the integrity roots at ingest: per-batch per-source root
    // partials merge exactly (commutative monoid) to the corpus roots
    "q203_incremental_roots" -> (StreamingQ.q203IncrementalRoots _),
    // q49's contamination screen per arriving micro-batch: plan-
    // constant benchmark array, mergeable per-source (count, max)
    "q204_incremental_contamination" ->
      (StreamingQ.q204IncrementalContamination _),
    // graded ranking quality for the ANN tier: integer-exact
    // nDCG-style score over the existing exact/probe top-K manifests
    "q205_ranking_quality" -> (Similarity.q205RankingQuality _),
    // near-dup cluster assignment from the ingest-logged pairs: the
    // batch ladder's last rung (q46) available mid-crawl
    "q206_incremental_clusters" ->
      (StreamingQ.q206IncrementalClusters _),
    // the release datasheet maintained while the crawl lands: every
    // card member landed at its natural partial grain, shared tail
    "q207_incremental_card" -> (StreamingQ.q207IncrementalCard _),
    // the governance family composed as one write-path front door:
    // redact -> triage -> contamination screen -> land + commit root
    "q208_ingest_gate" -> (PipelineQ.q208WritePathGate _),
    // the same front door per arriving micro-batch: mergeable census
    // partials (sums + xor of landed-root xors)
    "q209_incremental_gate" -> (StreamingQ.q209IncrementalGate _),
    // the classifier reliability diagram maintained mid-ingest:
    // ≤10-row bin partials, ratios derived after the merge
    "q210_incremental_calibration" ->
      (StreamingQ.q210IncrementalCalibration _),
    // z-order clustering at ingest: each batch lands curve-clustered,
    // zone maps stay tight with no nightly whole-table rewrite
    "q211_incremental_zorder" -> (StreamingQ.q211IncrementalZorder _),
    // both real header codecs (BMP fixed-offset + netpbm ASCII) on
    // the oracle board: dims read from bytes via the format sniff
    "q212_mixed_codec_census" -> (MultimodalQ.q212MixedCodecCensus _),
    // the watermarked SLIDING-window aggregation: overlapping windows
    // multi-assign each event (×4 here), integer-cents mass
    "q213_stream_sliding_counts" -> (StreamingQ.q213StreamSlidingCounts _),
    // Spark 4's transformWithState sessionizer end-to-end (RocksDB
    // state): third state machine pinned to the q17 answer
    "q214_tws_sessions" -> (StreamingQ.q214TwsSessions _),
    // the z-order curve index compacted mid-ingest (staged atomic
    // swap — fact rows tolerate no duplication), census unchanged
    "q215_compacted_zorder" -> (StreamingQ.q215CompactedZorder _),
    // right-to-be-forgotten for LANDED indexes: tombstone vacuum of
    // the LSH index + pair log, measured-zero residuals
    "q216_index_vacuum" -> (StreamingQ.q216IndexVacuum _),
    // the remaining two transformWithState twins oracle-gated: the
    // transition extractor vs batch q139, the SCD2 builder vs q194 —
    // every custom state machine now has its Spark-4 twin on the board
    "q217_tws_transitions" -> (StreamingQ.q217TwsTransitions _),
    "q218_tws_scd2" -> (StreamingQ.q218TwsScd2 _),
    // the q216 vacuum protocol on the other two named artifacts: the
    // vector-carrying ANN index and the q178 scored manifest
    "q219_ann_vacuum" -> (StreamingQ.q219AnnVacuum _),
    "q220_manifest_vacuum" -> (StreamingQ.q220ManifestVacuum _),
    // the RTBF lifecycle composed: erasure mid-crawl — vacuum the
    // landed index, resume from the checkpoint behind the write-path
    // gate; final log indistinguishable from never having crawled them
    "q221_vacuum_resume" -> (StreamingQ.q221VacuumResume _),
    // storage limitation next to RTBF: age-based retention on the
    // hourly monitor log, census exact over the retained horizon
    "q222_retention_vacuum" -> (StreamingQ.q222RetentionVacuum _),
    // RTBF for KEYED STREAMING STATE: mid-crawl erasure clears the
    // subjects' open-session state (TWS clear + timer delete), vacuums
    // their landed sessions, resumes behind the write-path gate
    "q223_state_eviction" -> (StreamingQ.q223StateEviction _),
    // read-side serving: q51's multiprobe top-K against the LANDED
    // (compacted + vacuumed) ANN index, probe buckets partition-pruned
    "q224_index_serve" -> (StreamingQ.q224IndexServe _),
    // dedup-at-admission serving: near-dup probe of a request batch
    // against the LANDED (compacted + vacuumed) LSH signature index
    "q225_dedup_serve" -> (StreamingQ.q225DedupServe _),
    // RTBF eviction on the SCD2 machine: the open run never happened —
    // state + flush timer cleared mid-crawl, landed intervals vacuumed
    "q226_scd2_eviction" -> (StreamingQ.q226Scd2Eviction _),
    // RTBF eviction on the transition machine: the carry (the per-user
    // monitor state the verdict named) clears mid-crawl; with q223 and
    // q226 every keyed-state machine has an oracle-gated eviction twin
    "q227_transitions_eviction" -> (StreamingQ.q227TransitionsEviction _),
    // schema evolution on a landed partial log: the monitor's fold
    // upgrades mid-life on the same checkpoint; mergeSchema snapshot
    "q228_schema_evolution" -> (StreamingQ.q228SchemaEvolution _),
    // the q216 erasure through the snapshot-manifest layer: ONE atomic
    // group publish covers index + pair log; a pre-resolved reader
    // keeps its census through the swap (asserted in-row)
    "q229_manifest_lifecycle" -> (StreamingQ.q229ManifestLifecycle _),
    // dedup-at-admission as the write-path gate: near-dups quarantine
    // at the door with their earliest collider; chains exact because
    // every presented signature registers
    "q230_admission_gate" -> (StreamingQ.q230AdmissionGate _),
    // index geometry migration: v2 build streams in while v1 serves,
    // one atomic cutover, serve == fresh search before/during/after
    "q231_reindex_serving" -> (StreamingQ.q231ReindexServing _),
  )

  /** DuckDB-equivalent SQL per query key (same parquet tables). */
  def oracleSql: Map[String, String] = Map(
    "q1_grade_dist" -> Parity.q1Sql,
    "q2_category_dist" -> Parity.q2Sql,
    "q3_brand_dist" -> Parity.q3Sql,
    "q4_packaging_dist" -> Parity.q4Sql,
    "q5_nova_summary" -> Parity.q5Sql,
    "q6_top_token_docs" -> Parity.q6Sql,
    "q7_top_order_per_priority" -> Parity.q7Sql,
    "q8_top_nations_other" -> Parity.q8Sql,
    "q9_weighted_mean" -> Parity.q9Sql,
    "q42_salted_brand_dist" -> Parity.q42Sql,
    "q10_revenue_by_nation" -> Relational.q10Sql,
    "q11_brand_volume" -> Relational.q11Sql,
    "q12_customers_no_orders" -> Relational.q12Sql,
    "q13_active_suppliers" -> Relational.q13Sql,
    "q14_nation_set_ops" -> Relational.q14Sql,
    "q15_order_rollup" -> Relational.q15Sql,
    "q16_hourly_event_stats" -> Events.q16Sql,
    "q17_user_sessions" -> Events.q17Sql,
    "q18_props_buckets" -> Events.q18Sql,
    "q19_first_event_per_user_type" -> Events.q19Sql,
    "q20_doc_stats" -> Text.q20Sql,
    "q21_langid" -> Text.q21Sql,
    "q22_quality_buckets" -> Text.q22Sql,
    "q23_token_freq" -> Text.q23Sql,
    "q24_fingerprints" -> Text.q24Sql,
    "q43_rolling_fingerprints" -> Text.q43Sql,
    "q25_exact_dedup" -> Dedup.q25Sql,
    "q26_minhash_buckets" -> Dedup.q26Sql,
    "q27_jaccard_pairs" -> Dedup.q27Sql,
    "q28_simhash_histogram" -> Dedup.q28Sql,
    "q41_source_simhash" -> Dedup.q41Sql,
    "q29_cosine_topk" -> Similarity.q29Sql,
    "q30_lsh_buckets" -> Similarity.q30Sql,
    "q31_embedding_near_dups" -> Similarity.q31Sql,
    "q36_ivf_cells" -> Similarity.q36Sql,
    "q57_ivf_search" -> Similarity.q57Sql,
    "q58_pq_census" -> Similarity.q58Sql,
    "q59_pq_adc_search" -> Similarity.q59Sql,
    "q32_image_meta_stats" -> MultimodalQ.q32Sql,
    "q33_stats_agg" -> Stats.q33Sql,
    "q34_monthly_orders" -> Stats.q34Sql,
    "q35_status_priority_cube" -> Stats.q35Sql,
    "q38_asof_join" -> Temporal.q38Sql,
    "q40_grouping_sets" -> Stats.q40Sql,
    "q39_window_family" -> Temporal.q39Sql,
    "q37_sketches" -> Stats.q37Sql,
    "q68_cms_heavy_hitters" -> Stats.q68Sql,
    "q70_pagerank" -> Graph.q70Sql,
    "q72_zorder_census" -> Layout.q72Sql,
    "q73_bloom_semijoin" -> Relational.q73Sql,
    "q71_dsir_census" -> Text.q71Sql,
    "q69_funnel" -> Events.q69Sql,
    "q82_cohort_retention" -> Events.q82Sql,
    "q83_transition_matrix" -> Events.q83Sql,
    "q44_lsh_verified_pairs" -> Dedup.q44Sql,
    "q45_true_mode_tokens" -> Parity.q45Sql,
    "q46_dedup_clusters" -> Dedup.q46Sql,
    "q47_sequence_packing" -> Text.q47Sql,
    "q48_stratified_sample" -> Text.q48Sql,
    "q49_contamination" -> Text.q49Sql,
    // same oracle as q49 by design: the two paths must agree exactly
    "q56_contamination_joined" -> Text.q49Sql,
    "q50_training_manifest" -> PipelineQ.q50Sql,
    "q84_curation_manifest" -> PipelineQ.q84Sql,
    "q85_embedding_manifest" -> Similarity.q85Sql,
    "q51_multiprobe_ann" -> Similarity.q51Sql,
    "q52_range_join" -> Relational.q52Sql,
    "q53_pivot" -> Relational.q53Sql,
    "q54_mixing_rates" -> Text.q54Sql,
    "q55_dedup_clusters_logn" -> Dedup.q55Sql,
    "q60_repetition_stats" -> Text.q60Sql,
    "q61_semdedup" -> Similarity.q61Sql,
    "q62_bm25" -> Text.q62Sql,
    "q63_ivfpq_search" -> Similarity.q63Sql,
    "q64_unigram_surprisal" -> Text.q64Sql,
    // same oracle as q64 by design: the two paths must agree exactly
    "q65_surprisal_joined" -> Text.q64Sql,
    "q66_containment_pairs" -> Dedup.q66Sql,
    "q67_frame_manifest" -> MultimodalQ.q67Sql,
    "q74_crossdoc_spans" -> Dedup.q74Sql,
    "q81_source_overlap" -> Dedup.q81Sql,
    "q86_span_surgery" -> Dedup.q86Sql,
    "q75_weighted_sample" -> Text.q75Sql,
    "q76_pii_redaction" -> Text.q76Sql,
    "q77_split_census" -> Text.q77Sql,
    "q78_tfidf_keywords" -> Text.q78Sql,
    "q79_bpe_merges" -> Bpe.q79Sql,
    "q80_bpe_tokenize" -> Bpe.q80Sql,
    "q92_subword_packing" -> Bpe.q92Sql,
    "q87_corpus_shuffle" -> Layout.q87Sql,
    "q88_length_winsorize" -> Text.q88Sql,
    "q89_source_kl_drift" -> Text.q89Sql,
    "q91_novelty_curve" -> Dedup.q91Sql,
    "q93_split_leakage" -> Text.q93Sql,
    "q94_embedding_validation" -> Similarity.q94Sql,
    "q90_rate_anomaly" -> Events.q90Sql,
    "q95_bigram_surprisal" -> Text.q95Sql,
    "q96_cluster_representatives" -> Dedup.q96Sql,
    "q97_mixture_weights" -> Text.q97Sql,
    "q98_deduped_mixture" -> PipelineQ.q98Sql,
    "q99_heldout_surprisal" -> Text.q99Sql,
    "q100_quality_by_label" -> MultimodalQ.q100Sql,
    "q101_reid_risk" -> Events.q101Sql,
    "q102_bootstrap_moments" -> Stats.q102Sql,
    "q103_bootstrap_fused" -> Stats.q102Sql,
    "q104_bigram_skewsafe" -> Text.q95Sql,
    "q105_incremental_mixture" -> Text.q97Sql,
    "q106_incremental_oov" -> StreamingQ.q106Sql,
    "q107_incremental_dedup" -> Dedup.q44Sql,
    "q108_lexical_diversity" -> Text.q108Sql,
    "q109_interevent_gaps" -> Events.q109Sql,
    "q110_label_centroid_sim" -> Similarity.q110Sql,
    "q111_mad_outliers" -> Stats.q111Sql,
    "q112_quality_dedup_grid" -> Dedup.q112Sql,
    "q113_stateful_sessions" -> Events.q17Sql,
    "q114_triangle_census" -> Dedup.q114Sql,
    "q115_interpolated_surprisal" -> Text.q115Sql,
    "q116_incremental_lexicon" -> Text.q108Sql,
    "q117_attribution" -> Events.q117Sql,
    "q118_variant_props" -> Events.q18Sql,
    "q119_timed_funnel" -> Events.q119Sql,
    "q120_session_lift" -> Events.q120Sql,
    "q121_doc_chunks" -> Text.q121Sql,
    "q122_locf_grid" -> Events.q122Sql,
    "q123_rrf_fusion" -> Similarity.q123Sql,
    "q124_hard_negatives" -> Similarity.q124Sql,
    "q125_aspect_buckets" -> MultimodalQ.q125Sql,
    "q126_mask_plan" -> Text.q126Sql,
    "q127_curriculum_deciles" -> Text.q127Sql,
    "q128_lsh_calibration" -> Dedup.q128Sql,
    "q129_ann_recall" -> Similarity.q129Sql,
    "q130_key_skew_census" -> Stats.q130Sql,
    "q131_edit_distance_verify" -> Dedup.q131Sql,
    "q132_generalization_ladder" -> Events.q132Sql,
    "q133_curriculum_manifest" -> PipelineQ.q133Sql,
    "q134_segment_dedup" -> Dedup.q134Sql,
    "q135_kmv_distinct" -> Stats.q135Sql,
    "q136_epoch_schedule" -> Text.q136Sql,
    "q137_pmi_pairs" -> Text.q137Sql,
    "q138_cluster_purity" -> Dedup.q138Sql,
    "q139_session_transitions" -> Events.q139Sql,
    "q140_spearman_len_quality" -> Stats.q140Sql,
    "q141_incremental_kmv" -> Stats.q135Sql,
    "q142_multimodal_packing" -> MultimodalQ.q142Sql,
    "q143_retrieval_mrr" -> Similarity.q143Sql,
    "q144_fuzzy_leakage" -> Dedup.q144Sql,
    "q145_chi2_daily_mix" -> Events.q145Sql,
    "q146_l_diversity" -> Events.q146Sql,
    "q147_incremental_transitions" -> Events.q139Sql,
    "q148_incremental_chi2" -> Events.q145Sql,
    "q149_dataset_card" -> PipelineQ.q149Sql,
    "q150_decontaminated_splits" -> Dedup.q150Sql,
    "q151_incremental_segments" -> Dedup.q134Sql,
    "q152_incremental_ann" -> Similarity.q31Sql,
    "q153_heldout_skewsafe" -> Text.q99Sql,
    "q154_surprisal_auto" -> Text.q95Sql,
    "q155_sampled_quantiles" -> Stats.q155Sql,
    "q156_incremental_quantiles" -> Stats.q155Sql,
    "q157_compacted_quantiles" -> Stats.q155Sql,
    "q158_compacted_mixture" -> Text.q97Sql,
    "q159_incremental_pipeline" -> PipelineQ.q50Sql,
    "q160_surprisal_band" -> Text.q160Sql,
    "q161_excess_mixture" -> Text.q161Sql,
    "q162_compacted_lsh_index" -> Dedup.q44Sql,
    "q163_compacted_ann_index" -> Similarity.q31Sql,
    "q164_sampled_band" -> Text.q164Sql,
    "q165_incremental_centroids" -> Similarity.q110Sql,
    "q166_pareto_frontier" -> Selection.q166Sql,
    "q167_merged_spans" -> Dedup.q167Sql,
    "q168_association_rules" -> Relational.q168Sql,
    "q169_token_budget" -> Selection.q169Sql,
    "q170_source_budget" -> Selection.q170Sql,
    "q171_sketch_overlap" -> Dedup.q171Sql,
    "q172_capped_dedup" -> Dedup.q172Sql,
    "q173_incremental_cap" -> Dedup.q172Sql,
    "q174_incremental_overlap" -> Dedup.q174Sql,
    "q175_stream_join_pairs" -> StreamingQ.q175Sql,
    "q176_stream_join_dropoff" -> StreamingQ.q176Sql,
    "q177_stream_dedup" -> StreamingQ.q177Sql,
    "q178_incremental_budget" -> Selection.q169Sql,
    "q179_stream_join_full" -> StreamingQ.q179Sql,
    "q180_session_window" -> Events.q17Sql,
    "q181_curriculum_auto" -> Text.q127Sql,
    "q182_incremental_frontier" -> Selection.q166Sql,
    "q183_incremental_source_budget" -> Selection.q170Sql,
    "q184_stream_window_counts" -> StreamingQ.q184Sql,
    "q185_incremental_curriculum" -> Text.q127Sql,
    "q186_incremental_winsorize" -> Text.q88Sql,
    "q187_incremental_anomaly" -> Events.q90Sql,
    "q188_incremental_split_guard" -> Text.q93Sql,
    "q189_incremental_cms" -> Stats.q68Sql,
    "q190_incremental_signatures" -> Dedup.q81Sql,
    "q191_incremental_novelty" -> Dedup.q91Sql,
    "q192_stream_enrich" -> StreamingQ.q192Sql,
    "q193_deletion_propagation" -> Events.q193Sql,
    "q194_scd2_intervals" -> Temporal.q194Sql,
    "q195_expectations_census" -> Relational.q195Sql,
    "q196_incremental_scd2" -> Temporal.q194Sql,
    "q197_snapshot_diff" -> PipelineQ.q197Sql,
    "q198_incremental_diff" -> PipelineQ.q197Sql,
    "q199_incremental_purge" -> StreamingQ.q199Sql,
    "q200_integrity_roots" -> PipelineQ.q200Sql,
    "q201_calibration_bins" -> Text.q201Sql,
    "q202_incremental_expectations" -> StreamingQ.q202Sql,
    "q203_incremental_roots" -> PipelineQ.q200Sql,
    "q204_incremental_contamination" -> Text.q49Sql,
    "q205_ranking_quality" -> Similarity.q205Sql,
    "q206_incremental_clusters" -> Dedup.q46Sql,
    "q207_incremental_card" -> PipelineQ.q149Sql,
    "q208_ingest_gate" -> PipelineQ.q208Sql,
    "q209_incremental_gate" -> PipelineQ.q208Sql,
    "q210_incremental_calibration" -> Text.q201Sql,
    "q211_incremental_zorder" -> Layout.q72Sql,
    "q212_mixed_codec_census" -> MultimodalQ.q212Sql,
    "q213_stream_sliding_counts" -> StreamingQ.q213Sql,
    "q214_tws_sessions" -> Events.q17Sql,
    "q215_compacted_zorder" -> Layout.q72Sql,
    "q216_index_vacuum" -> StreamingQ.q216Sql,
    "q217_tws_transitions" -> Events.q139Sql,
    "q218_tws_scd2" -> Temporal.q194Sql,
    "q219_ann_vacuum" -> StreamingQ.q219Sql,
    "q220_manifest_vacuum" -> StreamingQ.q220Sql,
    "q221_vacuum_resume" -> StreamingQ.q216Sql,
    "q222_retention_vacuum" -> StreamingQ.q222Sql,
    "q223_state_eviction" -> StreamingQ.q223Sql,
    "q224_index_serve" -> StreamingQ.q224Sql,
    "q225_dedup_serve" -> StreamingQ.q225Sql,
    "q226_scd2_eviction" -> StreamingQ.q226Sql,
    "q227_transitions_eviction" -> StreamingQ.q227Sql,
    "q228_schema_evolution" -> StreamingQ.q228Sql,
    "q229_manifest_lifecycle" -> StreamingQ.q216Sql,
    "q230_admission_gate" -> StreamingQ.q230Sql,
    "q231_reindex_serving" -> StreamingQ.q231Sql,
  )
}
