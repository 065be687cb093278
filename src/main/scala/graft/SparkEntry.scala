package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` names every implemented operator from SURVEY.md §2; `oracleSql`
  * gives the DuckDB-runnable equivalent for each (omitted only for ops whose
  * output depends on engine-internal hash functions — those get rows-only
  * checks plus dedicated ScalaTest specs).
  */
object SparkEntry {

  /** Shared by t3 (corpus scan) and t15 (positional index) — same phrase
    * contract through different access paths.
    */
  private val phraseOracle: String = {
    val n = graft.operators.TextAnalysis.PhraseTerms.length
    val p = graft.operators.TextAnalysis.PhraseTerms.mkString(" ")
    ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents) " +
      s"SELECT DISTINCT doc_id FROM toks, UNNEST(range(1, len(w) - ${n - 2})) t(i) " +
      s"WHERE array_to_string(w[i : i + ${n - 1}], ' ') = '$p' ORDER BY doc_id")
  }

  /** Shared by d8 and its bloom-pruned twin d20 — identical output contract. */
  private val DecontaminateSql: String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
      "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
      "bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0), " +
      "train AS (SELECT * FROM sh WHERE doc_id % 50 <> 0) " +
      "SELECT t.doc_id, COUNT(DISTINCT b.bench_id) AS n_bench_docs, " +
      "COUNT(DISTINCT t.s) AS n_shared_shingles " +
      "FROM train t JOIN bench b ON t.s = b.s GROUP BY t.doc_id ORDER BY t.doc_id"


  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q9StarJoin(spark, "/root/testdata/sf0.001")

  /** The names in `names` that are not registered in [[queries]], each
    * reported on stderr. The one name filter every main (Bench, Runner,
    * Verify, ExplainDump) runs its query selection through: a mistyped
    * name exits 2 instead of silently running nothing for it.
    */
  def unknownQueries(names: Seq[String]): Seq[String] = {
    val known   = queries.keySet
    val unknown = names.filterNot(known)
    unknown.foreach(n => System.err.println(s"unknown query: $n"))
    if (unknown.nonEmpty) System.err.println(s"registered queries: ${known.toSeq.sorted.mkString(", ")}")
    unknown
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_total_count"       -> (CoreQueries.q1TotalCount _),
    "q2_time_filter_count" -> (CoreQueries.q2TimeFilterCount _),
    "q3_filter_count"      -> (CoreQueries.q3FilterCount _),
    "q4_min_max"           -> (CoreQueries.q4MinMax _),
    "q5_max_by"            -> (CoreQueries.q5MaxBy _),
    "q6_point_filter"      -> (CoreQueries.q6PointFilter _),
    "q7_distinct"          -> (CoreQueries.q7Distinct _),
    "q8_dedup_exact"       -> (CoreQueries.q8DedupExact _),
    "q9_star_join"         -> (CoreQueries.q9StarJoin _),
    "j1_props_extract"     -> (CoreQueries.j1PropsExtract _),
    "q10_rollup"           -> (CoreQueries.q10Rollup _),
    "q11_pricing_summary"  -> (CoreQueries.q11PricingSummary _),
    "q12_window_topk"      -> (CoreQueries.q12WindowTopK _),
    "q13_intersect"        -> (CoreQueries.q13Intersect _),
    "q14_anti_join"        -> (CoreQueries.q14AntiJoin _),
    "q15_top_orders"       -> (CoreQueries.q15TopOrders _),
    "q17_predicate_kinds"  -> (CoreQueries.q17PredicateKinds _),
    "q18_region_rollup"    -> (CoreQueries.q18RegionRollup _),
    "d5_source_stats"      -> (CoreQueries.d5SourceStats _),
    "q16_outer_join_count" -> (CoreQueries.q16OuterJoinCount _),
    "x1_approx_distinct"   -> (CoreQueries.x1ApproxDistinct _),
    "x2_percentiles"       -> (CoreQueries.x2Percentiles _),
    "x3_approx_percentiles" -> (CoreQueries.x3ApproxPercentiles _),
    "x4_approx_top_users"   -> ((s: SparkSession, d: String) => CoreQueries.x4ApproxTopUsers(s, d)),
    "x5_approx_distinct_rollup" -> (CoreQueries.x5ApproxDistinctRollup _),
    // bounded companions: the sketch family's spec gates lifted into the
    // registry as hash-oracleable (exact…, within_bound) rows
    "x1b_approx_distinct_bound"        -> (SketchBounds.x1bApproxDistinctBound _),
    "x3b_approx_percentiles_bound"     -> (SketchBounds.x3bApproxPercentilesBound _),
    "x4b_approx_top_users_bound"       -> (SketchBounds.x4bApproxTopUsersBound _),
    "x5b_approx_distinct_rollup_bound" -> (SketchBounds.x5bApproxDistinctRollupBound _),
    "dq3b_profile_events_bound"        -> (SketchBounds.dq3bProfileEventsBound _),
    "q3p_positional_filter_count" -> (CoreQueries.q3PositionalFilterCount _),
    "p1_partitioned_time_count"   -> (CoreQueries.p1PartitionedTimeCount _),
    "z1_zorder_range"             -> (CoreQueries.z1ZorderRange _),
    // round 13: file-skipping bloom manifest — the reference's PointFilter
    // served by probing per-file blooms and reading only candidate files;
    // oracle = the plain point-filter SQL (answer-invariance, q23 pattern)
    "z2_bloom_pruned_point" -> ((s: SparkSession, d: String) => graft.sources.BloomManifest.pointLookupBloomPruned(s, d)),
    "q19_cube"     -> (CoreQueries.q19Cube _),
    "q21_part_brand_revenue" -> (CoreQueries.q21PartBrandRevenue _),
    "q20_pivot"    -> (CoreQueries.q20Pivot _),
    "q13e_except"  -> (CoreQueries.q13eExcept _),
    "s5_range_search" -> ((s: SparkSession, d: String) => Similarity.rangeSearch(s, d)),
    // text analysis (SURVEY §7 phase D / builder extensions)
    "d1_token_count"  -> (TextAnalysis.tokenCount _),
    "d2_text_quality" -> (TextAnalysis.textQuality _),
    "d3_lang_id"      -> (TextAnalysis.langId _),
    "d4_fingerprint"  -> (TextAnalysis.fingerprint _),
    "d6_token_stats"  -> (TextAnalysis.tokenStats _),
    "d7_normalized_fingerprint" -> (TextAnalysis.normalizedFingerprint _),
    // near-duplicate detection
    "n1_ngram_jaccard_pairs" -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "n16_containment_pairs"  -> ((s: SparkSession, d: String) => Dedup.ngramContainmentPairs(s, d)),
    "n2_minhash_lsh_pairs"   -> (Dedup.minhashLshPairs _),
    "n3_simhash_pairs"       -> (Dedup.simhashPairs _),
    "n3p_simhash_pairs_planted" -> (Dedup.simhashPairsPlanted _),
    "n13_frequent_ngrams"            -> ((s: SparkSession, d: String) => Dedup.frequentNgrams(s, d)),
    "n4_embedding_dup_pairs"         -> (Dedup.embeddingDupPairs _),
    "n4p_embedding_dup_pairs_planted" -> (Dedup.embeddingDupPairsPlanted _),
    "n5_incremental_dedup"   -> (Dedup.incrementalNearDupPairs _),
    "n6_dup_clusters"        -> (Dedup.dupClusters _),
    // similarity search
    "s1_ann_bruteforce" -> ((s: SparkSession, d: String) => Similarity.annBruteForce(s, d)),
    "s2_ann_lsh"        -> ((s: SparkSession, d: String) => Similarity.annLsh(s, d)),
    "s2p_ann_lsh_planted" -> ((s: SparkSession, d: String) => Similarity.annLshPlanted(s, d)),
    "s3_ann_batch_topk" -> ((s: SparkSession, d: String) => Similarity.annBatchTopK(s, d)),
    "s4_ann_ivf"        -> ((s: SparkSession, d: String) => Similarity.annIvf(s, d)),
    "s4p_ann_ivf_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfPlanted(s, d)),
    "s6_ann_ivf_partitioned" -> ((s: SparkSession, d: String) => Similarity.annIvfPartitioned(s, d)),
    "s6p_ann_ivf_partitioned_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfPartitionedPlanted(s, d)),
    "s9_ann_ivf_quantized"   -> ((s: SparkSession, d: String) => Similarity.annIvfQuantized(s, d)),
    "s9p_ann_ivf_quantized_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfQuantizedPlanted(s, d)),
    "s11_ann_ivf_filtered"   -> ((s: SparkSession, d: String) => Similarity.annIvfFiltered(s, d, label = 1)),
    "s11p_ann_ivf_filtered_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfFilteredPlanted(s, d)),
    "s12p_ann_ivf_incremental_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfIncrementalPlanted(s, d)),
    "s20p_ann_ivf_compacted_planted"   -> ((s: SparkSession, d: String) => Similarity.annIvfCompactedPlanted(s, d)),
    // round 13: deletion on the ANN side — the best planted neighbor
    // tombstoned, masked out of the probed scan (k=4 so the survivors are
    // all planted and the oracle carries no quantizer state)
    "s21p_ann_ivf_tombstoned_planted"  -> ((s: SparkSession, d: String) => Similarity.annIvfTombstonedPlanted(s, d)),
    "s13_knn_join"           -> ((s: SparkSession, d: String) => Similarity.knnJoin(s, d)),
    "s14_knn_join_ivf"       -> ((s: SparkSession, d: String) => Similarity.knnJoinIvf(s, d)),
    "s14p_knn_join_ivf_planted" -> ((s: SparkSession, d: String) => Similarity.knnJoinIvfPlanted(s, d)),
    "s18p_ann_ivf_pq_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfPqPlanted(s, d)),
    "s19_ann_ivf_pq_filtered" -> ((s: SparkSession, d: String) => Similarity.annIvfPqFiltered(s, d, label = 1)),
    "s19p_ann_ivf_pq_filtered_planted" -> ((s: SparkSession, d: String) => Similarity.annIvfPqFilteredPlanted(s, d)),
    "s15_mutual_knn_pairs"   -> ((s: SparkSession, d: String) => Similarity.mutualKnnPairs(s, d)),
    "s16_mutual_knn_clusters" -> ((s: SparkSession, d: String) => Similarity.mutualKnnClusters(s, d)),
    "s22_semantic_keeplist" -> ((s: SparkSession, d: String) => Similarity.semanticKeepList(s, d)),
    // round 18: the kNN-graph takedown lifecycle (VERDICT r17 item 3 —
    // the last persisted index without one). The edge layout stores a
    // top-8 ledger; a takedown resolves each survivor's new top-k from
    // the first k surviving stored entries (exact — the stored prefix IS
    // the global ranking), with a targeted recompute for the ~3e-5
    // measure that lost too many; mutual pairs and cluster membership
    // over the rebuilt survivor graph, survivor-rebuild DuckDB oracles
    "s15t_mutual_knn_takedown" -> ((s: SparkSession, d: String) => Similarity.mutualKnnPairsTombstoned(s, d)),
    "s16t_knn_clusters_takedown" -> ((s: SparkSession, d: String) => Similarity.mutualKnnClustersTombstoned(s, d)),
    "c1_clean_corpus"   -> ((s: SparkSession, d: String) => Pipeline.cleanCorpus(s, d)),
    "c3_token_yield"    -> ((s: SparkSession, d: String) => Pipeline.tokenYield(s, d)),
    "d33_drop_reasons"  -> ((s: SparkSession, d: String) => Pipeline.dropReasons(s, d)),
    "a1_asof_join"      -> (AsOf.purchaseAsofClick _),
    "a2_interval_join"  -> ((s: SparkSession, d: String) => AsOf.intervalPairCount(s, d)),
    "a3_asof_tolerance" -> ((s: SparkSession, d: String) => AsOf.purchaseAsofClickWithin(s, d)),
    "a4_asof_forward"   -> (AsOf.purchaseAsofNextClick _),
    "q22_salted_join_count" -> (CoreQueries.q22SaltedJoinCount _),
    "q23_bucketed_star"     -> (CoreQueries.q23BucketedStar _),
    "q24_shipping_priority" -> (CoreQueries.q24ShippingPriority _),
    "q27_semi_join"         -> (CoreQueries.q27SemiJoin _),
    "q25_local_supplier_volume" -> (CoreQueries.q25LocalSupplierVolume _),
    "q26_monthly_order_trend"   -> (CoreQueries.q26MonthlyOrderTrend _),
    "q28_above_nation_avg"      -> (CoreQueries.q28AboveNationAvg _),
    "q29_discount_revenue"      -> (CoreQueries.q29DiscountRevenue _),
    "w3_funnel_stages"          -> (Funnel.funnelStages _),
    "s8_ann_quantized"          -> ((s: SparkSession, d: String) => Similarity.annQuantized(s, d)),
    // corpus curation: global ids, packing, decontamination, mixture sampling
    "g1_global_ids"     -> (Curation.globalIds _),
    "p2_sequence_pack"  -> (Curation.sequencePack _),
    "p7_length_bucketed_batches" -> (Curation.lengthBucketedBatches _),
    "d30_token_budget_mixture"   -> (Curation.tokenBudgetMixture _),
    "p3_chunk_documents" -> ((s: SparkSession, d: String) => Curation.chunkDocuments(s, d)),
    "d8_decontaminate"  -> (Curation.decontaminate _),
    "d20_decontaminate_bloom" -> (Curation.decontaminateBloom _),
    "d9_mixture_sample" -> (Curation.mixtureSample _),
    "d10_stratified_sample" -> ((s: SparkSession, d: String) => Curation.stratifiedSample(s, d)),
    "d11_vocab_topk"        -> ((s: SparkSession, d: String) => TextAnalysis.vocabTopK(s, d)),
    "d12_length_deciles"    -> (Curation.lengthDeciles _),
    "t1_keyword_search"     -> ((s: SparkSession, d: String) => TextAnalysis.keywordSearch(s, d)),
    "d13_redact_pii"        -> (TextAnalysis.redactPiiQuery _),
    "d14_repetition_stats"  -> (TextAnalysis.repetitionStats _),
    "d31_trim_repeated_ngrams" -> (TextAnalysis.trimRepeatedNgrams _),
    "d32_substring_decontaminate" -> (Curation.substringDecontaminate _),
    "d15_top_salient_term"  -> (TextAnalysis.topSalientTerm _),
    "f1_fuzzy_token_pairs"  -> ((s: SparkSession, d: String) => TextAnalysis.fuzzyTokenPairs(s, d)),
    "n7_shared_spans"       -> ((s: SparkSession, d: String) => Dedup.sharedSpans(s, d)),
    "n8_redact_shared_spans" -> ((s: SparkSession, d: String) => Dedup.redactSharedSpans(s, d)),
    "d34_excise_shared_spans" -> ((s: SparkSession, d: String) => Dedup.exciseSharedSpans(s, d)),
    "d16_span_share"        -> ((s: SparkSession, d: String) => Dedup.spanShareStats(s, d)),
    "s7_ann_with_metadata"  -> ((s: SparkSession, d: String) => Similarity.annWithMetadata(s, d)),
    // multimodal metadata surface
    "m1_payload_meta" -> (Multimodal.payloadMeta _),
    // batch analytics over events: gap-filled series + table profiling
    "w6_resample_hourly" -> (CoreQueries.w6ResampleHourly _),
    "dq1_profile_events" -> (Profile.profileEvents _),
    // streaming façade, batch-equivalent form
    "w1_window_counts" -> (graft.streaming.EventStream.windowedCountsBatch _),
    "w2_sessionize"    -> (graft.streaming.Sessionize.sessionCountsBatch _),
    "w4_hopping_counts" -> (graft.streaming.EventStream.hoppingCountsBatch _),
    // round 6: dedup materialization, retention, boundary packing, tf-idf, norm profile
    "n9_cluster_keep"      -> ((s: SparkSession, d: String) => Dedup.clusterRepresentatives(s, d)),
    "n14_quality_keep"     -> ((s: SparkSession, d: String) => Dedup.qualityClusterRepresentatives(s, d)),
    "u1_retention_cohorts" -> ((s: SparkSession, d: String) => Retention.retentionCohorts(s, d)),
    "p4_pack_spans"        -> (Curation.packSpans _),
    "t2_tfidf_rank"        -> ((s: SparkSession, d: String) => TextAnalysis.tfidfRank(s, d)),
    "s10_norm_stats"       -> ((s: SparkSession, d: String) => Similarity.normStats(s, d)),
    "dq2_profile_documents" -> (Profile.profileDocuments _),
    "p5_shuffle_order"      -> (Curation.shuffleOrder _),
    "p8_block_shuffle_order" -> (Curation.blockShuffleOrder _),
    "p9_source_interleave"  -> (Curation.sourceInterleaveOrder _),
    // round 9: quality-quartile curriculum order (v3 score layout + d21's
    // percentile parity + p5's retry-stable intra-phase shuffle key)
    "p6_curriculum_order"   -> (Curation.curriculumOrder _),
    "t3_phrase_search"      -> ((s: SparkSession, d: String) => TextAnalysis.phraseSearch(s, d)),
    "w7_rolling_active_users" -> ((s: SparkSession, d: String) => Retention.rollingActiveUsers(s, d)),
    "d17_size_histogram"      -> (Profile.sizeHistogram _),
    "c2_stage_counts"         -> ((s: SparkSession, d: String) => Pipeline.stageCounts(s, d)),
    "q30_value_band_join"     -> (CoreQueries.q30ValueBandJoin _),
    "w8_event_transitions"    -> (CoreQueries.w8EventTransitions _),
    "d18_source_lang_mix"     -> (TextAnalysis.sourceLangMix _),
    "dq3_profile_events_approx" -> (Profile.profileEventsApprox _),
    "v1_bpe_merges"             -> ((s: SparkSession, d: String) => Bpe.bpeMerges(s, d)),
    "v2_bpe_token_count"        -> ((s: SparkSession, d: String) => Bpe.bpeTokenCount(s, d)),
    "d19_dedup_rate_by_source"  -> (Profile.dedupRateBySource _),
    "u2_new_vs_returning"       -> (Retention.newVsReturning _),
    "u3_rfm_segments"           -> (Retention.rfmSegments _),
    "u4_user_event_sequences"   -> (Retention.userEventSequences _),
    "a5_nearest_join"           -> (AsOf.purchaseNearestClick _),
    "w9_gap_histogram"          -> (CoreQueries.w9GapHistogram _),
    "n10_embedding_keep"        -> ((s: SparkSession, d: String) => Dedup.embeddingClusterRepresentatives(s, d)),
    // round 7: maximal shared segments (suffix-array-style repeat extraction)
    "n11_max_shared_segments"   -> ((s: SparkSession, d: String) => Dedup.maxSharedSegments(s, d)),
    // round 7: a1 over the user-bucketed events layout (exchange-free window)
    "a6_asof_bucketed"          -> (AsOf.purchaseAsofClickBucketed _),
    // round 7: incremental cluster maintenance (prior clusters + delta pairs)
    "n12_incremental_clusters"  -> ((s: SparkSession, d: String) => Dedup.incrementalDupClusters(s, d)),
    // round 7: hourly rate anomalies (trailing-median alert rule)
    "w10_hourly_anomalies"      -> (CoreQueries.w10HourlyAnomalies _),
    // round 7: BM25 ranking (no SQL oracle: ln-scored; replay-spec gated)
    "t4_bm25_rank"              -> ((s: SparkSession, d: String) => TextAnalysis.bm25Rank(s, d)),
    "v3_bigram_lm_score"        -> ((s: SparkSession, d: String) => TextAnalysis.bigramLmScore(s, d)),
    "m2_media_demux"            -> (Multimodal.mediaDemuxQuery _),
    // round 8: hybrid sparse∪dense retrieval (RRF of t4's BM25 and s1's
    // cosine ranking — ranks are integers, so the fusion oracles exactly)
    "t5_hybrid_rrf"             -> ((s: SparkSession, d: String) => TextAnalysis.hybridRrfRank(s, d)),
    // round 8: incremental tokenizer retrain from the maintained word-count
    // layout (no oracle: iterative like v1; spec-pinned bit-equal to v1)
    "v4_bpe_merges_incremental" -> ((s: SparkSession, d: String) => Bpe.bpeMergesIncremental(s, d)),
    // round 9: corpus-wide BPE encode under the learned vocabulary (no
    // oracle: the segmentation is the iterative induction's output, like
    // v1/v2; BpeSpec replays the reference and pins the count column ≡ v2)
    "v5_bpe_encode"             -> ((s: SparkSession, d: String) => Bpe.bpeEncode(s, d)),
    // round 8: BM25 over the persisted inverted-index layout — t4's exact
    // contract (and oracle), corpus never touched at query time
    "t6_bm25_indexed"           -> ((s: SparkSession, d: String) => TextAnalysis.bm25RankIndexed(s, d)),
    // round 8: probe search over the maintained (base + delta) IVF index
    // (no oracle: engine-internal assignment like s4/s6; spec-pinned
    // complete vs s1 at full probe)
    "s12_ann_ivf_incremental"   -> ((s: SparkSession, d: String) => Similarity.annIvfIncremental(s, d)),
    // round 8: perplexity-filter stage — bottom quartile by v3's LM score
    // dropped, both passes over the persisted score layout
    "d21_lm_quality_keep"       -> ((s: SparkSession, d: String) => TextAnalysis.lmQualityKeep(s, d)),
    // round 8: BM25 over the MAINTAINED (base + delta) postings index —
    // exact maintenance, t4's contract and oracle verbatim
    "t7_bm25_incremental"       -> ((s: SparkSession, d: String) => TextAnalysis.bm25RankIncremental(s, d)),
    "t16_bm25_compacted"        -> ((s: SparkSession, d: String) => TextAnalysis.bm25RankCompacted(s, d)),
    "t17_bm25_tombstoned"       -> ((s: SparkSession, d: String) => TextAnalysis.bm25RankTombstoned(s, d)),
    // round 8: docs<->embeddings referential audit (one full-outer id join)
    "dq4_modality_coverage"     -> (Profile.modalityCoverage _),
    "dq5_drift_profile"         -> (Profile.driftProfile _),
    // round 8: the MAINTAINED media catalog (sealed base segment + delta
    // demux of the new slice) — per-payload rows are disjoint across
    // segments, so maintenance is exact and m2's oracle applies verbatim
    "m3_media_demux_incremental" -> (Multimodal.mediaDemuxIncremental _),
    "m4_mp4_frames"              -> (Multimodal.mp4FrameQuery _),
    "m5_patch_grid"              -> (Multimodal.patchGridQuery _),
    "m6_audio_frame_energy"      -> (Multimodal.audioFrameEnergyQuery _),
    "m7_audio_activity_segments" -> (Multimodal.audioActivitySegments _),
    "m8_image_histogram"         -> (Multimodal.imageHistogramQuery _),
    // round 13: perceptual image dedup — per-raster 64-bit dHash ledger
    // (m9) and the banded-Hamming near-dup pair rung over it (n17); both
    // fully DuckDB-oracled because the hash is pure pixel arithmetic
    "m9_image_dhash"        -> (Multimodal.imageDhashQuery _),
    "n17_image_dhash_pairs" -> (Dedup.imageDhashPairs _),
    // the linear production shape for the identical-hash mass (q8's
    // exact-dedup form on the perceptual key); n17 keeps the cross-hash
    // near-dup tail
    "n18_image_dhash_groups" -> (Dedup.imageDhashGroups _),
    // round 14: the cap n17's doc promises, enforced — expansion units
    // past graft.dhash.pair_cap latent pairs degrade to group/xgroup
    // ledger rows; n_pairs sums to the uncapped pair count
    "n21_image_dhash_capped" -> (Dedup.imageDhashPairsCapped _),
    // round 14: no-floor exact-substring dedup — per-doc longest
    // cross-doc shared substring via all widths 1..16 of the span-key
    // discipline (the suffix-array answer up to the disclosed cap)
    "n19_longest_shared_substring" -> (Dedup.longestSharedSubstring _),
    // n19 with partner attribution — the smallest other doc carrying the
    // winning span (the keep-list row; partner existence is guaranteed)
    "n19b_lss_partners" -> (Dedup.longestSharedSubstringPartners _),
    // round 14: audio perceptual dedup — temporal-envelope hash ledger
    // over the real WAV decode (m10) and the banded-Hamming pair rung
    // over it (n20); the image family's pair core reused verbatim
    "m10_audio_envelope_hash" -> (Multimodal.audioEnvelopeHashQuery _),
    "n20_audio_hash_pairs"    -> (Dedup.audioHashPairs _),
    // the shared capped core over the audio ledger (n20's 100× honest
    // answer is 939M pairs; this is the hash-cardinality production form)
    "n22_audio_hash_capped"   -> (Dedup.audioHashPairsCapped _),
    // n18's group ledger on the audio key — per-modality symmetry
    "n23_audio_hash_groups"   -> (Dedup.audioHashGroups _),
    // round 15: the VIDEO modality through the same machinery — keyframe
    // fingerprints from the real ISO-BMFF sync-sample demux (m11), the
    // per-bit-majority media simhash, and the shared pair/group/capped
    // core over it (n24/n25/n26)
    "m11_video_keyframe_hash"  -> (Multimodal.videoKeyframeHashQuery _),
    "n24_video_simhash_pairs"  -> (Dedup.videoHashPairs _),
    "n25_video_simhash_groups" -> (Dedup.videoHashGroups _),
    "n26_video_simhash_capped" -> (Dedup.videoHashPairsCapped _),
    // round 15: the deletion lifecycle extended to the perceptual + LSS
    // layouts — n17's pair read with the image tombstone set masked, and
    // the LSS layout's masked read with exact recompute for documents
    // whose stored partner was taken down
    "n17t_image_dhash_takedown" -> (Dedup.imageDhashPairsTombstoned _),
    "n22t_audio_hash_takedown"  -> (Dedup.audioHashPairsTombstoned _),
    "n24t_video_simhash_takedown" -> (Dedup.videoHashPairsTombstoned _),
    "n19t_lss_takedown"         -> (Dedup.longestSharedSubstringTombstoned _),
    // round 15: margin-based bitext mining (Artetxe & Schwenk) — the
    // CCMatrix-style parallel-pair harvest over the embedding space,
    // mutual-nearest + ratio-margin across the label-parity "languages"
    "b1_bitext_margin_pairs" -> ((s: SparkSession, d: String) => Similarity.bitextMarginPairs(s, d)),
    // round 16: the PRODUCTION bitext rung — the same margin arithmetic
    // over IVF-pruned neighbor retrievals (the s13/s14 exact/production
    // split applied to mining; b1 stays as the oracle comparator)
    "b2_bitext_margin_ivf" -> ((s: SparkSession, d: String) => Similarity.bitextMarginPairsIvf(s, d)),
    // round 18: b2's planted twin — three known translated pairs planted
    // across the parity halves must come back through the REAL IVF path
    // (live-trained layout over corpus ∪ fixture, per-vector probes, the
    // shared margin fold) at the registered knobs; closes the planted
    // matrix over every production index rung (VERDICT r17 item 4)
    "b2p_bitext_planted" -> ((s: SparkSession, d: String) => Similarity.bitextMarginPairsIvfPlanted(s, d)),
    // round 8: semantic decontamination — nearest benchmark vector +
    // above-threshold count per training vector (integer-only output)
    "d22_decontaminate_semantic" -> ((s: SparkSession, d: String) => Curation.decontaminateSemantic(s, d)),
    // round 8: leakage-safe holdout split — hash the n6 cluster key, not
    // the doc id, so near-dup clusters never straddle train/eval
    "d23_split_by_cluster" -> (Curation.splitByCluster _),
    // round 8: epoch-weighted mixture expansion (the up-sampling half of
    // mixture construction; d9 is the down-sampling half)
    "d24_mixture_epochs" -> (Curation.mixtureEpochs _),
    // round 8: per-doc contamination-share verdict over ALL training docs
    // (d8 reports the contaminated; d25 is the shipping keep/drop gate)
    "d25_contamination_gate" -> (Curation.contaminationGate _),
    // round 10: the hard TPC-H decorrelation shapes — Q13 (agg-of-agg over
    // an outer join), Q17 (correlated per-part average, cross-multiplied),
    // Q18 (IN over a grouped HAVING), Q21 (EXISTS ∧ NOT EXISTS, both
    // order-correlated), Q20 (nested-IN semi-join ladder)
    "q31_customer_order_distribution" -> (CoreQueries.q31CustomerOrderDistribution _),
    "q32_small_qty_revenue"           -> (CoreQueries.q32SmallQuantityRevenue _),
    "q33_large_orders"                -> (CoreQueries.q33LargeOrders _),
    "q34_waiting_suppliers"           -> (CoreQueries.q34WaitingSuppliers _),
    "q35_excess_shipments"            -> (CoreQueries.q35ExcessShipments _),
    "q36_late_shipment_priority"      -> (CoreQueries.q36LateShipmentPriority _),
    "q37_dormant_rich_customers"      -> (CoreQueries.q37DormantRichCustomers _),
    "q38_priority_late_orders"        -> (CoreQueries.q38PriorityLateOrders _),
    "q39_market_share"                -> (CoreQueries.q39MarketShare _),
    // round 10 close: the remaining partsupp-free TPC-H shapes — Q10
    // (returned items), Q16 (supplier diversity w/ NOT IN), Q7 (two-nation
    // disjunctive trade), Q19 (OR-of-ANDs residual), Q14 (promo share)
    "q40_returned_item_revenue"       -> (CoreQueries.q40ReturnedItemRevenue _),
    "q41_supplier_diversity"          -> (CoreQueries.q41SupplierDiversity _),
    "q42_trade_volume"                -> (CoreQueries.q42TradeVolume _),
    "q43_disjunctive_revenue"         -> (CoreQueries.q43DisjunctiveRevenue _),
    "q44_promo_revenue"               -> (CoreQueries.q44PromoRevenue _),
    // round 11: the partsupp-dependent TPC-H canon over the DERIVED
    // integer-exact partsupp (Tables.partsupp) — Q2 (min-cost supplier),
    // Q11 (important stock), Q15 (top supplier), full Q9 (product profit),
    // full Q20 (excess availability)
    "q45_min_cost_supplier"           -> (CoreQueries.q45MinCostSupplier _),
    "q46_important_stock"             -> (CoreQueries.q46ImportantStock _),
    "q47_top_supplier"                -> (CoreQueries.q47TopSupplier _),
    "q48_product_profit"              -> (CoreQueries.q48ProductProfit _),
    "q49_excess_availability"         -> (CoreQueries.q49ExcessAvailability _),
    "q50_bloom_prefilter_join"        -> (CoreQueries.q50BloomPrefilterJoin _),
    "q51_supplier_busy_days"          -> (CoreQueries.q51SupplierBusyDays _),
    // round 10: the novelty KEEP/DROP curation gate over n15's profile
    "d28_novelty_gate"                -> (Dedup.noveltyGate _),
    // round 10: corpus novelty + cross-source overlap audit
    "n15_novelty_scores"  -> (Dedup.noveltyScores _),
    "d26_source_affinity" -> (Profile.sourceAffinity _),
    // round 10: substring search off the persisted char-trigram index —
    // the retrieval rung below tokens (t1) and token phrases (t3)
    "t8_substring_search" -> ((s: SparkSession, d: String) => TextAnalysis.substringSearch(s, d)),
    // round 13: corpus-grep — regex over the trigram index (required
    // literal runs prune candidates; the regex verifies candidates only)
    "t18_regex_search" -> ((s: SparkSession, d: String) => TextAnalysis.regexSearch(s, d)),
    // round 13: SymSpell fuzzy term search — deletion-neighborhood
    // candidates, levenshtein-verified, vocabulary-bounded throughout
    "t19_fuzzy_term_search" -> ((s: SparkSession, d: String) => TextAnalysis.fuzzyTermSearch(s, d)),
    // round 10: Heaps-law vocabulary growth over doc_id-ordered deciles
    "d27_vocab_growth" -> (Profile.vocabGrowth _),
    // round 10: MaxScore-pruned BM25 over the postings layout — t6's
    // exact contract at a fraction of the aggregated postings
    "t9_bm25_pruned" -> ((s: SparkSession, d: String) => TextAnalysis.bm25RankPruned(s, d)),
    // round 10: substring search over the MAINTAINED (base+delta) trigram
    // index — exact maintenance, t8's contract and oracle verbatim
    "t10_substring_incremental" -> ((s: SparkSession, d: String) => TextAnalysis.substringSearchIncremental(s, d)),
    "t11_ql_rank" -> ((s: SparkSession, d: String) => TextAnalysis.qlRank(s, d)),
    "t12_proximity_rank" -> ((s: SparkSession, d: String) => TextAnalysis.proximityRank(s, d)),
    "t13_kwic_snippet"   -> ((s: SparkSession, d: String) => TextAnalysis.kwicSnippet(s, d)),
    "t14_term_cooccurrence" -> ((s: SparkSession, d: String) => TextAnalysis.termCooccurrence(s, d)),
    "t15_phrase_indexed" -> ((s: SparkSession, d: String) => TextAnalysis.phraseSearchIndexed(s, d)),
    "g2_dup_pagerank" -> ((s: SparkSession, d: String) => Dedup.dupPagerank(s, d)),
    "g3_label_propagation" -> ((s: SparkSession, d: String) => Dedup.labelPropagation(s, d)),
    // round 10: product quantization — the 8-byte-code rung of the
    // quantization ladder (s8 = SQ8). No oracle: ADC reconstruction error
    // is data-dependent and CAN reorder near-tied background vectors
    // (measured: recall@10 = 8/10 at the default shortlist on the sf0.1
    // corpus, whose cosine gaps are PQ-hostile random noise) — spec-gated
    // ≡ s1 at shortlist ≥ corpus plus a recall floor, with the planted
    // twin s17p carrying the full positive-match oracle.
    "s17_ann_pq"          -> ((s: SparkSession, d: String) => Similarity.annPq(s, d)),
    "s17p_ann_pq_planted" -> ((s: SparkSession, d: String) => Similarity.annPqPlanted(s, d)),
    // round 10: the composed IVF×PQ stack (no oracle: both stages are
    // quantizer state, the s9/s17 argument; spec-pinned ≡ s17 at full
    // probe) — completes the composition matrix beside s9's IVF×SQ8
    "s18_ann_ivf_pq"      -> ((s: SparkSession, d: String) => Similarity.annIvfPq(s, d))
  )

  def oracleSql: Map[String, String] = Map(
    "q1_total_count" -> "SELECT COUNT(*) AS cnt FROM events",
    "q2_time_filter_count" ->
      "SELECT COUNT(*) AS cnt FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'",
    "q3_filter_count" ->
      "SELECT COUNT(*) AS cnt FROM events WHERE event_type = 'error'",
    // q3p resolves the reference's positional `_4` form to the same plan;
    // p1 runs q2's predicate against the day-partitioned layout — both are
    // required to produce the same answers as their by-name/unpartitioned
    // twins, so they share the oracle shape.
    "q3p_positional_filter_count" ->
      "SELECT COUNT(*) AS cnt FROM events WHERE event_type = 'error'",
    "p1_partitioned_time_count" ->
      "SELECT COUNT(*) AS cnt FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'",
    "z1_zorder_range" ->
      ("SELECT event_type, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS value_e6 " +
        "FROM events WHERE user_id BETWEEN 40 AND 90 " +
        "AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-17 00:00:00' " +
        "GROUP BY event_type ORDER BY event_type"),
    // z2: answer-invariance — the bloom-pruned lookup over the rewritten
    // layout must equal the plain point filter over the original table
    // (no false negatives by construction; false positives only cost an
    // extra file read, never a row)
    "z2_bloom_pruned_point" ->
      "SELECT event_id, user_id, event_type, props FROM events WHERE event_id = 4242",
    "q4_min_max" ->
      "SELECT MIN(ts) AS min_ts, MAX(ts) AS max_ts FROM events",
    "q5_max_by" ->
      "SELECT event_type, MAX(ts) AS max_ts FROM events GROUP BY event_type ORDER BY event_type",
    "q6_point_filter" ->
      "SELECT event_id, user_id, event_type, props FROM events WHERE event_id = 4242",
    "q7_distinct" ->
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "q8_dedup_exact" ->
      "SELECT COUNT(*) - COUNT(DISTINCT text) AS dup_rows FROM documents",
    "q9_star_join" ->
      ("SELECT n_name, COUNT(*) AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    // q23 = q9 on the bucketed fact layout — physical layout must be
    // answer-invariant, so it shares q9's oracle verbatim.
    "q23_bucketed_star" ->
      ("SELECT n_name, COUNT(*) AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "j1_props_extract" ->
      ("SELECT event_type, COUNT(*) AS cnt, MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k, " +
        "MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // decimal measures emitted as BIGINT minor units on BOTH sides —
    // integer columns hash identically across engines; decimal rendering
    // (530277.00 vs 530277.0) does not.
    "q10_rollup" ->
      ("SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_cents, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "q11_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_cents, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_base_cents, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS sum_disc_e4, " +
        "COUNT(*) AS cnt FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q19_cube" ->
      ("SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_cents, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "q20_pivot" ->
      ("SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "COUNT(*) FILTER (WHERE event_type = 'click') AS click, " +
        "COUNT(*) FILTER (WHERE event_type = 'error') AS error, " +
        "COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase, " +
        "COUNT(*) FILTER (WHERE event_type = 'signup') AS signup, " +
        "COUNT(*) FILTER (WHERE event_type = 'view') AS \"view\" " + // quoted: VIEW is reserved
        "FROM events GROUP BY 1 ORDER BY day"),
    "q13e_except" ->
      ("SELECT c_custkey FROM customer EXCEPT " +
        "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "ORDER BY c_custkey"),
    "s5_range_search" ->
      ("SELECT e.vec_id FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q " +
        "WHERE e.vec_id <> 0 AND list_cosine_similarity(e.embedding, q.qv) >= 0.30 ORDER BY e.vec_id"),
    "q21_part_brand_revenue" ->
      ("SELECT p_brand, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "q12_window_topk" ->
      ("SELECT o_orderpriority, rn, o_orderkey FROM (SELECT o_orderpriority, o_orderkey, " +
        "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) t WHERE rn <= 3 ORDER BY o_orderpriority, rn"),
    "q13_intersect" ->
      ("SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier " +
        "ORDER BY c_nationkey"),
    "q14_anti_join" ->
      ("SELECT c_custkey FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') " +
        "ORDER BY c_custkey"),
    "q27_semi_join" ->
      ("SELECT c_custkey FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') " +
        "ORDER BY c_custkey"),
    "d1_token_count" ->
      "SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents ORDER BY doc_id",
    "d2_text_quality" ->
      ("SELECT doc_id, length(text)::BIGINT AS n_chars_m, len(string_split(text, ' '))::BIGINT AS n_tokens, " +
        "len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct, " +
        "(length(text) - len(string_split(text, ' ')) + 1) / len(string_split(text, ' ')) AS avg_token_len, " +
        "len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS distinct_ratio " +
        "FROM documents ORDER BY doc_id"),
    "d3_lang_id" -> {
      val score = TextAnalysis.langMarkers.map { case (l, ws) =>
        val in = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), t -> t IN ($in)))::BIGINT AS s_$l"
      }.mkString(", ")
      ("WITH scored AS (SELECT doc_id, " + score + " FROM documents) " +
        "SELECT doc_id, CASE " +
        "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en' " +
        "WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de' " +
        "WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr' " +
        "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS lang_pred, " +
        "s_en, s_de, s_fr, s_es, s_zh FROM scored ORDER BY doc_id")
    },
    "d4_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "d6_token_stats" ->
      ("SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_bpe_tokens, " +
        "len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT AS n_punct, " +
        "len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'is')))::BIGINT AS n_stop, " +
        "len(string_split(text, ' '))::BIGINT AS n_ws, " +
        "len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / len(string_split(text, ' ')) AS punct_ratio, " +
        "len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'is'))) / len(string_split(text, ' ')) AS stopword_ratio " +
        "FROM documents ORDER BY doc_id"),
    "d7_normalized_fingerprint" ->
      ("SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nfp " +
        "FROM documents ORDER BY doc_id"),
    "n1_ngram_jaccard_pairs" -> ngramJaccardOracle,
    // n16: n1's pair core with the asymmetric normalization — same
    // hash-invariant intersection counts, containment gate on min(|A|,|B|).
    "n16_containment_pairs" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
        "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db) " +
        "SELECT da AS doc_a, db AS doc_b, inter, LEAST(ca.c, cb.c) AS c_small " +
        "FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
        "WHERE 5 * inter >= 4 * LEAST(ca.c, cb.c) ORDER BY doc_a, doc_b"),
    "g2_dup_pagerank" -> dupPagerankOracle,
    "g3_label_propagation" -> labelPropOracle,
    // MinHash-LSH candidates are exact-verified, and at this corpus's
    // similarity levels (planted pairs ≥0.95, next natural pair ≤0.14)
    // P(candidate miss) < 1e-10 — the exact-Jaccard SQL is its oracle.
    "n2_minhash_lsh_pairs" -> ngramJaccardOracle,
    // incremental rung: same exact-Jaccard oracle restricted to pairs
    // touching the batch half (doc_a < doc_b and corpus ids precede batch
    // ids, so "touches batch" ⇔ doc_b ≥ k).
    "n5_incremental_dedup" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
        "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "k AS (SELECT (MAX(doc_id) + 1) // 2 AS k FROM documents) " +
        "SELECT da AS doc_a, db AS doc_b, inter, ca.c + cb.c - inter AS un " +
        "FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id, k " +
        "WHERE 5 * inter >= 4 * (ca.c + cb.c - inter) AND db >= k.k ORDER BY doc_a, doc_b"),
    // cluster report over the same pair set: reachability to fixpoint via
    // WITH RECURSIVE (UNION dedups, so the walk terminates), min reachable
    // id = cluster label — the declarative twin of min-label propagation.
    "n6_dup_clusters" ->
      (dupReachCtePrefix +
        "SELECT MIN(r) AS cluster_id, id AS doc_id FROM reach GROUP BY id " +
        "ORDER BY cluster_id, doc_id"),
    // n12 must equal the full recompute — n6's oracle verbatim
    "n12_incremental_clusters" ->
      (dupReachCtePrefix +
        "SELECT MIN(r) AS cluster_id, id AS doc_id FROM reach GROUP BY id " +
        "ORDER BY cluster_id, doc_id"),
    // n9 extends n6's reachability CTE: cluster-per-doc = MIN reachable id,
    // kept docs = cluster representatives (doc_id = cluster id) + documents
    // in no cluster at all.
    "n9_cluster_keep" ->
      (dupReachCtePrefix +
        ", cl AS (SELECT id, MIN(r) AS cid FROM reach GROUP BY id), " +
        "sz AS (SELECT cid, COUNT(*) AS c FROM cl GROUP BY cid) " +
        "SELECT d.doc_id, COALESCE(sz.c, 1) AS cluster_size FROM documents d " +
        "LEFT JOIN cl ON d.doc_id = cl.id LEFT JOIN sz ON cl.cid = sz.cid " +
        "WHERE cl.id IS NULL OR cl.cid = d.doc_id ORDER BY doc_id"),
    // n14 = n9 with the keep rule swapped to quality-argmax: the oracle
    // replays cluster derivation AND the per-cluster argmax (most tokens,
    // tie -> min doc_id) so the selection rule itself is hash-checked.
    "n14_quality_keep" ->
      (dupReachCtePrefix +
        ", cl AS (SELECT id, MIN(r) AS cid FROM reach GROUP BY id), " +
        "m AS (SELECT cl.cid, cl.id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt " +
        "FROM cl JOIN documents d ON d.doc_id = cl.id), " +
        "best AS (SELECT cid, id, nt, COUNT(*) OVER (PARTITION BY cid) AS csz, " +
        "row_number() OVER (PARTITION BY cid ORDER BY nt DESC, id) AS rk FROM m) " +
        "SELECT id AS doc_id, csz AS cluster_size, nt AS n_toks FROM best WHERE rk = 1 " +
        "UNION ALL " +
        "SELECT d.doc_id, CAST(1 AS BIGINT), CAST(len(string_split(d.text, ' ')) AS BIGINT) " +
        "FROM documents d WHERE d.doc_id NOT IN (SELECT id FROM cl) " +
        "ORDER BY doc_id"),
    "n4_embedding_dup_pairs" ->
      ("SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM embeddings a JOIN embeddings b " +
        "ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95 " +
        "ORDER BY vec_a, vec_b"),
    // n13: lateral unnest over widths mirrors the engine's single-scan
    // width unroll; pure integer df arithmetic, text-deterministic ties.
    "n13_frequent_ngrams" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, n, array_to_string(w[i:i+n-1], ' ') AS gram " +
        "FROM tok, UNNEST(range(2, 8)) AS tn(n), UNNEST(range(1, len(w) - n + 2)) AS ti(i)), " +
        "d AS (SELECT CAST(n AS BIGINT) AS n, gram, COUNT(*) AS df FROM g GROUP BY 1, 2), " +
        "r AS (SELECT n, gram, df, row_number() OVER (PARTITION BY n ORDER BY df DESC, gram) AS rnk " +
        "FROM d WHERE df >= 3) " +
        "SELECT n, gram, df FROM r WHERE rnk <= 10 ORDER BY n, df DESC, gram"),
    // n3: FULL brute-force SimHash oracle — possible since the shingle
    // hash became the cross-engine md5-derived Dedup.shingleHash64
    // (simhash scheme v2), so DuckDB rebuilds the signature bits exactly:
    // per-shingle (hi, lo) 32-bit halves, per-bit majority vote, then an
    // all-pairs Hamming join at dist ≤ 7. The engine's banded plan equals
    // this all-pairs form by pigeonhole (8 disjoint 8-bit bands cover any
    // ≤7-bit difference), and signatures stay as two halves on the oracle
    // side because DuckDB's BIGINT `1 << 63` overflows where the engine's
    // shiftleft wraps.
    "n3_simhash_pairs" -> simhashOracle,
    // n3p: the deterministic sub-surface of SimHash — identical text ⇒
    // identical signature ⇒ Hamming 0 under ANY hash function, so the
    // planted pairs are exactly the fixture's text-equality pairs (5 rows,
    // hash-checked matches; fixture vocabularies are disjoint from every
    // corpus, DedupSpec pins the ≥20-bit separation margin).
    "n3p_simhash_pairs_planted" ->
      ("WITH fx AS (SELECT doc_id, text FROM read_parquet('" + graft.Fixtures.dir + "/simdup/documents.parquet/*.parquet')) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS dist " +
        "FROM fx a JOIN fx b ON a.text = b.text AND a.doc_id < b.doc_id " +
        "ORDER BY doc_a, doc_b"),
    // n4p: same brute-force oracle over corpus ∪ the committed fixture —
    // the oracle reads the identical file the engine unions in, so the
    // hash-checked path proves positive matches (planted cosines ≈ 0.9996,
    // three decades above any float discrepancy at the 0.95 boundary).
    "n4p_embedding_dup_pairs_planted" ->
      ("WITH allv AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id, embedding FROM read_parquet('" + graft.Fixtures.dir + "/embdup/embeddings.parquet/*.parquet')) " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM allv a JOIN allv b " +
        "ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95 " +
        "ORDER BY vec_a, vec_b"),
    // n10 = n9's keep contract over n4's edge set: recursive reachability
    // over the exact-cosine pairs, min reachable id per vector, keep
    // representatives + untouched vectors.
    "n10_embedding_keep" ->
      ("WITH RECURSIVE good AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM embeddings a " +
        "JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95), " +
        "edges AS (SELECT va AS s, vb AS d FROM good UNION SELECT vb, va FROM good), " +
        "reach(id, r) AS (SELECT DISTINCT s, s FROM edges " +
        "UNION SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id), " +
        "cl AS (SELECT id, MIN(r) AS cid FROM reach GROUP BY id), " +
        "sz AS (SELECT cid, COUNT(*) AS c FROM cl GROUP BY cid) " +
        "SELECT v.vec_id, COALESCE(sz.c, 1) AS cluster_size FROM embeddings v " +
        "LEFT JOIN cl ON v.vec_id = cl.id LEFT JOIN sz ON cl.cid = sz.cid " +
        "WHERE cl.id IS NULL OR cl.cid = v.vec_id ORDER BY vec_id"),
    "s1_ann_bruteforce" -> annTop10Oracle,
    // s8's int8 shortlist provably contains the exact top-10 on this corpus
    // (worst approximate rank 11 ≤ shortlist 50), so the exact re-rank makes
    // its output identical to s1's — it shares s1's oracle, the same string.
    "s8_ann_quantized" -> annTop10Oracle,
    // s17: PQ shortlist + exact re-rank — same containment contract as s8
    // s17p: the PQ twin of s2p — the five planted neighbors sit a decade
    // above the background in cosine, so ADC reconstruction error (which
    // CAN reorder near-tied background vectors — s17 is no-oracle for
    // exactly that reason) cannot push them out of the shortlist, and the
    // exact re-rank restores their true order.
    "s17p_ann_pq_planted" -> plantedTop5Oracle,
    // s2p + every s*p single-query twin: exact brute force over corpus ∪
    // the committed annplant fixture — the oracle reads the identical file
    // the engine unions in (the n4p pattern), so the hash-checked path
    // proves positive approximate-index matches THROUGH each rung's real
    // index path (LSH buckets for s2p, inline IVF for s4p, the persisted
    // cl= layout for s6p, IVF×SQ8 for s9p, the base+delta maintained index
    // for s12p, IVF×PQ for s18p). Rank/id contract only; planted cosine
    // gaps ≥ 2.6e-4, three decades above float/double discrepancy.
    "s2p_ann_lsh_planted"              -> plantedTop5Oracle,
    "s4p_ann_ivf_planted"              -> plantedTop5Oracle,
    "s6p_ann_ivf_partitioned_planted"  -> plantedTop5Oracle,
    "s21p_ann_ivf_tombstoned_planted"  -> plantedTombstonedTop4Oracle,
    "s9p_ann_ivf_quantized_planted"    -> plantedTop5Oracle,
    "s12p_ann_ivf_incremental_planted" -> plantedTop5Oracle,
    // s20p: the compacted GENERATION (s12p's pair folded) must answer the
    // planted query identically — the handoff itself, hash-adjudicated
    "s20p_ann_ivf_compacted_planted"   -> plantedTop5Oracle,
    "s18p_ann_ivf_pq_planted"          -> plantedTop5Oracle,
    // s14p: the kNN-GRAPH twin — brute-force per-query top-3 restricted to
    // the six planted query rows, each of whose true neighbors are other
    // planted vectors (mutual cosines a decade above background), so the
    // probe join must surface and rank them exactly.
    "s14p_knn_join_ivf_planted" ->
      ("WITH allv AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id, embedding FROM read_parquet('" + graft.Fixtures.dir + "/annplant/embeddings.parquet/*.parquet')) " +
        "SELECT vec_id, rnk, nbr_id FROM (SELECT a.vec_id, row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk, " +
        "b.vec_id AS nbr_id FROM allv a JOIN allv b ON a.vec_id <> b.vec_id " +
        "WHERE a.vec_id BETWEEN 2000000 AND 2000005) t WHERE rnk <= 3 ORDER BY vec_id, rnk"),
    // s11p additionally filters label = 7 BEFORE ranking: the two closest
    // planted neighbors carry label 8, so a post-filter or unfiltered
    // engine cannot match this oracle.
    "s11p_ann_ivf_filtered_planted" ->
      ("WITH allv AS (SELECT vec_id, embedding, label FROM embeddings UNION ALL " +
        "SELECT vec_id, embedding, label FROM read_parquet('" + graft.Fixtures.dir + "/annplant/embeddings.parquet/*.parquet')), " +
        "q AS (SELECT embedding AS qv FROM allv WHERE vec_id = 2000000) " +
        "SELECT rnk, vec_id FROM (SELECT row_number() OVER (ORDER BY " +
        "list_cosine_similarity(a.embedding, q.qv) DESC, a.vec_id) AS rnk, a.vec_id " +
        "FROM allv a, q WHERE a.vec_id <> 2000000 AND a.label = 7) t WHERE rnk <= 3 ORDER BY rnk"),
    // s19p shares s11p's filtered-brute oracle verbatim: same answer
    // contract (the three label-7 neighbors), different index path
    // (filter composed through the IVF×PQ stack instead of plain IVF).
    "s19p_ann_ivf_pq_filtered_planted" ->
      ("WITH allv AS (SELECT vec_id, embedding, label FROM embeddings UNION ALL " +
        "SELECT vec_id, embedding, label FROM read_parquet('" + graft.Fixtures.dir + "/annplant/embeddings.parquet/*.parquet')), " +
        "q AS (SELECT embedding AS qv FROM allv WHERE vec_id = 2000000) " +
        "SELECT rnk, vec_id FROM (SELECT row_number() OVER (ORDER BY " +
        "list_cosine_similarity(a.embedding, q.qv) DESC, a.vec_id) AS rnk, a.vec_id " +
        "FROM allv a, q WHERE a.vec_id <> 2000000 AND a.label = 7) t WHERE rnk <= 3 ORDER BY rnk"),
    // w3: all time arithmetic in integer epoch-µs on both engines.
    "w3_funnel_stages" -> {
      val winUs = Funnel.StageWindowHours * 3600L * 1000000L
      ("WITH s AS (SELECT user_id, MIN(epoch_us(ts)) t FROM events WHERE event_type = 'signup' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) t FROM events e JOIN s ON e.user_id = s.user_id " +
        s"WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.t AND epoch_us(e.ts) <= s.t + $winUs GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) t FROM events e JOIN c ON e.user_id = c.user_id " +
        s"WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t AND epoch_us(e.ts) <= c.t + $winUs GROUP BY e.user_id) " +
        "SELECT (SELECT COUNT(*) FROM s) AS n_signup, (SELECT COUNT(*) FROM c) AS n_signup_click, " +
        "(SELECT COUNT(*) FROM p) AS n_full_funnel")
    },
    "q28_above_nation_avg" ->
      ("WITH b AS (SELECT c_custkey, c_nationkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents FROM customer), " +
        "n AS (SELECT c_nationkey, SUM(bal_cents) AS tot, COUNT(*) AS cnt FROM b GROUP BY c_nationkey) " +
        "SELECT c_custkey, bal_cents FROM b JOIN n USING (c_nationkey) " +
        "WHERE bal_cents * cnt > tot ORDER BY c_custkey"),
    "q29_discount_revenue" ->
      ("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS cnt FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    "s3_ann_batch_topk" ->
      ("SELECT query_id, rnk, vec_id FROM (SELECT q.vec_id AS query_id, e.vec_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id) AS rnk " +
        "FROM embeddings e, embeddings q WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) t " +
        "WHERE rnk <= 3 ORDER BY query_id, rnk"),
    // s13's oracle is s3's window shape with the query filter dropped: every
    // vector is a query. Rank/id contract only — no float columns reach the
    // hash, and the per-pair cosine is the same left-to-right double fold on
    // both engines (s1/s3's established parity argument).
    "s13_knn_join" ->
      ("SELECT vec_id, rnk, nbr_id FROM (SELECT a.vec_id, b.vec_id AS nbr_id, " +
        "row_number() OVER (PARTITION BY a.vec_id ORDER BY " +
        "list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id) t " +
        "WHERE rnk <= 3 ORDER BY vec_id, rnk"),
    // s15: s13's ranked CTE joined to its own reverse — mutual edges only,
    // one orientation (a < b); the persisted edge layout is built from the
    // exact rung so the derived graph oracles fully
    "s15_mutual_knn_pairs" ->
      ("WITH r AS (SELECT a.vec_id AS va, b.vec_id AS vb, row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id), " +
        "e AS (SELECT va, vb FROM r WHERE rnk <= 3) " +
        "SELECT e1.va AS vec_id_a, e1.vb AS vec_id_b FROM e e1 " +
        "JOIN e e2 ON e1.va = e2.vb AND e1.vb = e2.va " +
        "WHERE e1.va < e1.vb ORDER BY vec_id_a, vec_id_b"),
    // s15t/s16t: the SURVIVOR-REBUILD oracles — the same window CTEs
    // computed from scratch over the surviving vectors only (vec_id % 10
    // <> 3, the registered takedown rule), so a hash match proves the
    // engine's ledger-walk + targeted-recompute path equals a full
    // re-derivation over survivors: deleted vectors on neither side of
    // any pair, vacated-slot pairs present, bridge-loss splits applied
    "s15t_mutual_knn_takedown" ->
      ("WITH sv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3), " +
        "r AS (SELECT a.vec_id AS va, b.vec_id AS vb, row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk " +
        "FROM sv a, sv b WHERE a.vec_id <> b.vec_id), " +
        "e AS (SELECT va, vb FROM r WHERE rnk <= 3) " +
        "SELECT e1.va AS vec_id_a, e1.vb AS vec_id_b FROM e e1 " +
        "JOIN e e2 ON e1.va = e2.vb AND e1.vb = e2.va " +
        "WHERE e1.va < e1.vb ORDER BY vec_id_a, vec_id_b"),
    "s16t_knn_clusters_takedown" ->
      ("WITH RECURSIVE sv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3), " +
        "r AS (SELECT a.vec_id AS va, b.vec_id AS vb, row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk " +
        "FROM sv a, sv b WHERE a.vec_id <> b.vec_id), " +
        "e AS (SELECT va, vb FROM r WHERE rnk <= 3), " +
        "m AS (SELECT e1.va, e1.vb FROM e e1 JOIN e e2 ON e1.va = e2.vb AND e1.vb = e2.va WHERE e1.va < e1.vb), " +
        "edges AS (SELECT va AS s, vb AS d FROM m UNION SELECT vb, va FROM m), " +
        "reach(id, rt) AS (SELECT DISTINCT s, s FROM edges " +
        "UNION SELECT e.s, reach.rt FROM edges e JOIN reach ON e.d = reach.id) " +
        "SELECT MIN(rt) AS cluster_id, id AS vec_id FROM reach GROUP BY id " +
        "ORDER BY cluster_id, vec_id"),
    // s16: n6's recursive-reachability oracle over the mutual-kNN edges —
    // component per vector = MIN reachable id
    "s16_mutual_knn_clusters" ->
      ("WITH RECURSIVE r AS (SELECT a.vec_id AS va, b.vec_id AS vb, row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id), " +
        "e AS (SELECT va, vb FROM r WHERE rnk <= 3), " +
        "m AS (SELECT e1.va, e1.vb FROM e e1 JOIN e e2 ON e1.va = e2.vb AND e1.vb = e2.va WHERE e1.va < e1.vb), " +
        "edges AS (SELECT va AS s, vb AS d FROM m UNION SELECT vb, va FROM m), " +
        "reach(id, rt) AS (SELECT DISTINCT s, s FROM edges " +
        "UNION SELECT e.s, reach.rt FROM edges e JOIN reach ON e.d = reach.id) " +
        "SELECT MIN(rt) AS cluster_id, id AS vec_id FROM reach GROUP BY id " +
        "ORDER BY cluster_id, vec_id"),
    // s22 extends s16's reachability CTE with n9's keep selection: kept =
    // component minima (vec_id = min reachable id) + vectors in no mutual
    // pair — the whole SemDeDup chain (kNN → mutual → components → min-id
    // representative) replayed relationally and hash-checked.
    "s22_semantic_keeplist" ->
      ("WITH RECURSIVE r AS (SELECT a.vec_id AS va, b.vec_id AS vb, row_number() OVER " +
        "(PARTITION BY a.vec_id ORDER BY list_cosine_similarity(b.embedding, a.embedding) DESC, b.vec_id) AS rnk " +
        "FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id), " +
        "e AS (SELECT va, vb FROM r WHERE rnk <= 3), " +
        "m AS (SELECT e1.va, e1.vb FROM e e1 JOIN e e2 ON e1.va = e2.vb AND e1.vb = e2.va WHERE e1.va < e1.vb), " +
        "edges AS (SELECT va AS s, vb AS d FROM m UNION SELECT vb, va FROM m), " +
        "reach(id, rt) AS (SELECT DISTINCT s, s FROM edges " +
        "UNION SELECT e.s, reach.rt FROM edges e JOIN reach ON e.d = reach.id), " +
        "cl AS (SELECT id, MIN(rt) AS cid FROM reach GROUP BY id), " +
        "sz AS (SELECT cid, COUNT(*) AS c FROM cl GROUP BY cid) " +
        "SELECT em.vec_id, COALESCE(sz.c, 1) AS cluster_size FROM embeddings em " +
        "LEFT JOIN cl ON em.vec_id = cl.id LEFT JOIN sz ON cl.cid = sz.cid " +
        "WHERE cl.id IS NULL OR cl.cid = em.vec_id ORDER BY vec_id"),
    "m1_payload_meta" ->
      "SELECT doc_id, octet_length(encode(text))::BIGINT AS payload_len FROM documents ORDER BY doc_id",
    // g1's oracle IS the single-partition window form the operator exists to
    // avoid — fine at oracle scale, the scale-killer our zipWithIndex plan
    // replaces.
    "g1_global_ids" ->
      ("SELECT (row_number() OVER (ORDER BY source, doc_id) - 1)::BIGINT AS global_id, " +
        "doc_id, source FROM documents ORDER BY global_id"),
    "p2_sequence_pack" ->
      ("SELECT source, doc_id, n_tokens, ((cum - n_tokens) // " + Curation.PackBudget + ")::BIGINT AS pack_id FROM " +
        "(SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens, " +
        "SUM(len(string_split(text, ' '))::BIGINT) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum " +
        "FROM documents) t ORDER BY source, doc_id"),
    // d30: p2's running-sum window with the budget cut applied — the greedy
    // doc_id-prefix selection is a pure function of (corpus, budget).
    "d30_token_budget_mixture" ->
      ("SELECT source, doc_id, n_tokens, cum_tokens::BIGINT AS cum_tokens FROM " +
        "(SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens, " +
        "SUM(len(string_split(text, ' '))::BIGINT) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens " +
        s"FROM documents) t WHERE cum_tokens <= ${Curation.MixtureBudgetTokens} ORDER BY source, doc_id"),
    // p7: the per-band batch cut and its padding ledger, all integers.
    "p7_length_bucketed_batches" ->
      ("SELECT bucket, batch_id, COUNT(*)::BIGINT AS n_docs, MAX(n_tokens) AS max_tokens, " +
        "CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste FROM " +
        "(SELECT bucket, ((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // " +
        s"${Curation.BatchDocs})::BIGINT AS batch_id, n_tokens FROM " +
        "(SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens, " +
        s"(len(string_split(text, ' '))::BIGINT // ${Curation.BucketTokens})::BIGINT AS bucket " +
        "FROM documents) a) b GROUP BY bucket, batch_id ORDER BY bucket, batch_id"),
    // m5: the patch ledger regenerated RELATIONALLY — synthetic PGM pixels
    // are pure doc_id arithmetic and resizeNearest's index map is integer
    // division, so the oracle rebuilds every pixel of every patch and the
    // hash checks the raster decode path end to end.
    "m5_patch_grid" ->
      ("WITH d AS (SELECT doc_id AS id, (doc_id % 14 + 2)::BIGINT AS w, (doc_id % 10 + 1)::BIGINT AS h " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "g AS (SELECT id, ty, tx, " +
        "((((ty * h // 32) * w + (tx * w // 32)) * 31 + id) % 256) AS px " +
        "FROM d, UNNEST(range(0, 32)) AS a(ty), UNNEST(range(0, 32)) AS b(tx)) " +
        "SELECT id AS media_id, (ty // 16)::BIGINT AS patch_row, (tx // 16)::BIGINT AS patch_col, " +
        "CAST(SUM(px) AS BIGINT) AS px_sum, CAST(MIN(px) AS BIGINT) AS px_min, CAST(MAX(px) AS BIGINT) AS px_max " +
        "FROM g GROUP BY 1, 2, 3 ORDER BY media_id, patch_row, patch_col"),
    // m6: the frame-energy ledger regenerated RELATIONALLY — the WAV
    // quarter's 8-bit samples are pure (doc_id, n_chars) arithmetic
    // (raw = (i*7+id)%256, n = clamp(n_chars,1,64)) and the decode
    // `(raw-128)/128f` round-trips exactly through round(·128), so the
    // oracle rebuilds every sample of every frame and the hash checks
    // the RIFF parse + PCM decode + framing end to end, float-free.
    "m6_audio_frame_energy" ->
      ("WITH d AS (SELECT doc_id AS id, LEAST(GREATEST(n_chars, 1), 64) AS n " +
        "FROM documents WHERE doc_id % 4 = 1), " +
        "s AS (SELECT id, (i // " + Multimodal.AudioFrameSamples + ")::BIGINT AS frame_id, " +
        "((i * 7 + id) % 256) - 128 AS v FROM d, UNNEST(range(0, n)) AS t(i)) " +
        "SELECT id AS media_id, frame_id, COUNT(*)::BIGINT AS n_samples, " +
        "CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs, CAST(SUM(v * v) AS BIGINT) AS sum_sq, " +
        "CAST(MAX(ABS(v)) AS BIGINT) AS peak " +
        "FROM s GROUP BY id, frame_id ORDER BY media_id, frame_id"),
    // m7: m6's relational frame rebuild extended by the gaps-and-islands
    // pair (lag-flip → running-sum segment ids); IS DISTINCT FROM makes
    // the first row of each recording open its own segment exactly like
    // Spark's isNull || =!= disjunction.
    "m7_audio_activity_segments" ->
      ("WITH d AS (SELECT doc_id AS id, LEAST(GREATEST(n_chars, 1), 64) AS n " +
        "FROM documents WHERE doc_id % 4 = 1), " +
        "s AS (SELECT id, (i // " + Multimodal.AudioFrameSamples + ")::BIGINT AS frame_id, " +
        "((i * 7 + id) % 256) - 128 AS v FROM d, UNNEST(range(0, n)) AS t(i)), " +
        "fr AS (SELECT id AS media_id, frame_id, SUM(ABS(v)) AS sum_abs FROM s GROUP BY id, frame_id), " +
        s"a AS (SELECT media_id, frame_id, (CASE WHEN sum_abs >= ${Multimodal.VadSumAbsThreshold} THEN 1 ELSE 0 END)::BIGINT AS active FROM fr), " +
        "c AS (SELECT media_id, frame_id, active, CASE WHEN lag(active) OVER " +
        "(PARTITION BY media_id ORDER BY frame_id) IS DISTINCT FROM active THEN 1 ELSE 0 END AS chg FROM a), " +
        "g AS (SELECT media_id, frame_id, active, SUM(chg) OVER " +
        "(PARTITION BY media_id ORDER BY frame_id ROWS UNBOUNDED PRECEDING) - 1 AS seg_id FROM c) " +
        "SELECT media_id, seg_id::BIGINT AS seg_id, active, COUNT(*)::BIGINT AS n_frames, " +
        "MIN(frame_id) AS start_frame, MAX(frame_id) AS end_frame " +
        "FROM g GROUP BY media_id, seg_id, active ORDER BY media_id, seg_id"),
    // m8: sparse 16-bin histogram regenerated from the same pixel
    // arithmetic as m5 — bin = code >> 4 is integer division by 16, and
    // zero bins never appear on either side (GROUP BY emits no empties,
    // matching the Scala counts(bin) > 0 guard).
    "m8_image_histogram" ->
      ("WITH d AS (SELECT doc_id AS id, (doc_id % 14 + 2)::BIGINT * (doc_id % 10 + 1)::BIGINT AS n " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "p AS (SELECT id, ((i * 31 + id) % 256) // 16 AS bin FROM d, UNNEST(range(0, n)) AS t(i)) " +
        "SELECT id AS media_id, bin::BIGINT AS bin, COUNT(*)::BIGINT AS n_px " +
        "FROM p GROUP BY id, bin ORDER BY media_id, bin"),
    // m9: the dHash grid regenerated relationally — nearest-resize to 9×8
    // is the integer index map sy = r·h div 8 / sx = c·w div 9 over m5's
    // pixel formula, bit k = r·8+c set iff grid(r,c) > grid(r,c+1), and
    // the 64 bits pack into two 32-bit BIGINT halves so neither engine
    // shifts into the sign bit. Shares m5's byte-exactness argument.
    "m9_image_dhash" ->
      (DhashGridCte +
        "SELECT id AS media_id, " +
        "SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hash_hi, " +
        "SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS hash_lo " +
        "FROM bits GROUP BY id ORDER BY media_id"),
    // n17: the oracle brute-forces the pair join over the rebuilt hashes
    // (exact at oracle scale); the engine's banded candidate generation is
    // exact-complete below Hamming 8 by the pigeonhole argument, so both
    // sides emit the identical pair set.
    "n17_image_dhash_pairs" -> (DhashGridCte + DhashPairTail),
    // n17t: the takedown-masked pair read — same tail, the grid CTE
    // rebuilt over the surviving rasters only (media_id % 8 == 0 is the
    // registered tombstone rule)
    "n17t_image_dhash_takedown" -> (dhashGridCte(" AND doc_id % 8 <> 0") + DhashPairTail),
    // n18: one aggregation over the rebuilt hashes — group size + min-id
    // representative per colliding dHash
    "n18_image_dhash_groups" ->
      (DhashGridCte +
        ", hashes AS (SELECT id, " +
        "SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hash_hi, " +
        "SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS hash_lo " +
        "FROM bits GROUP BY id) " +
        "SELECT hash_hi, hash_lo, COUNT(*)::BIGINT AS n_images, MIN(id) AS keeper " +
        "FROM hashes GROUP BY hash_hi, hash_lo HAVING COUNT(*) >= 2 ORDER BY hash_hi, hash_lo"),
    // m10: the envelope hash rebuilt relationally — m6's exact sample
    // formula, nearest-resample slice map i·65 div n, per-slice Σ|v|
    // densified over all 65 slices (empty slices are energy 0), adjacent
    // difference bits packed into two 32-bit halves like m9's
    "m10_audio_envelope_hash" ->
      (AudioHashCte +
        "SELECT id AS media_id, hi AS hash_hi, lo AS hash_lo FROM ahashes ORDER BY media_id"),
    // n20: brute-force Hamming join over the rebuilt audio hashes — the
    // n17 oracle shape verbatim (banding is pigeonhole-complete <= 7)
    "n20_audio_hash_pairs" -> (AudioHashCte + AudioPairTail),
    // n22t: the takedown-masked audio pair read — same tail, the envelope
    // CTE limited to survivors (the n17t recipe on the audio key)
    "n22t_audio_hash_takedown" -> (audioHashCte(" AND doc_id % 8 <> 1") + AudioPairTail),
    // n23: one aggregation over the rebuilt audio hashes (n18's shape)
    "n23_audio_hash_groups" ->
      (AudioHashCte +
        "SELECT hi AS hash_hi, lo AS hash_lo, COUNT(*)::BIGINT AS n_recordings, MIN(id) AS keeper " +
        "FROM ahashes GROUP BY hi, lo HAVING COUNT(*) >= 2 ORDER BY hash_hi, hash_lo"),
    // m11: every keyframe fingerprint rebuilt from the synthetic
    // container's byte arithmetic + md5 — checks the ISO-BMFF sync-sample
    // demux and the cross-engine hash end to end
    "m11_video_keyframe_hash" ->
      (VideoHashCte +
        "SELECT id AS media_id, frame_no, hash_hi, hash_lo FROM kh ORDER BY media_id, frame_no"),
    // n24: brute-force Hamming join over the rebuilt media simhashes —
    // the n17/n20 oracle shape on the third modality
    "n24_video_simhash_pairs" -> (VideoHashCte + VideoPairTail),
    // n24t: the takedown-masked video pair read — survivors-only demux
    "n24t_video_simhash_takedown" -> (videoHashCte(" AND doc_id % 8 <> 3") + VideoPairTail),
    // n25: one aggregation over the rebuilt media simhashes (n18's shape)
    "n25_video_simhash_groups" ->
      (VideoHashCte +
        "SELECT hash_hi, hash_lo, COUNT(*)::BIGINT AS n_videos, MIN(id) AS keeper " +
        "FROM vhashes GROUP BY hash_hi, hash_lo HAVING COUNT(*) >= 2 ORDER BY hash_hi, hash_lo"),
    // n19: every width replayed by list slicing (the p3 discipline), the
    // same DISTINCT / df>=2 / per-doc-argmax pipeline; max_by at a unique
    // max key, min(fp) tie-break inside each (doc, len)
    "n19_longest_shared_substring" -> lssOracleSql(""),
    // n19t: the takedown-masked LSS — the SAME pipeline over the
    // surviving documents (doc_id % 10 == 3 is the registered tombstone
    // rule, t17's), which is exactly what the engine's
    // clean-rows + partner-died-recompute split must equal
    "n19t_lss_takedown" -> lssOracleSql(" WHERE doc_id % 10 <> 3"),
    // n19b: the winning SPAN (min_by its md5 — the same order n19's
    // min(fp) induces) joined back to the shared stream for the smallest
    // other carrier
    "n19b_lss_partners" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "k AS (SELECT DISTINCT doc_id, L::BIGINT AS len, array_to_string(w[p : p + L - 1], ' ') AS s " +
        "FROM t, UNNEST(range(1, least(len(w), 16) + 1)) rl(L), UNNEST(range(1, len(w) + 1)) rp(p) " +
        "WHERE p + L - 1 <= len(w)), " +
        "sh AS (SELECT len, s FROM k GROUP BY len, s HAVING count(DISTINCT doc_id) >= 2), " +
        "kept AS (SELECT k.doc_id, k.len, k.s FROM k JOIN sh ON k.len = sh.len AND k.s = sh.s), " +
        "per AS (SELECT doc_id, len, min_by(s, md5(s)) AS s FROM kept GROUP BY doc_id, len), " +
        "win AS (SELECT doc_id, max(len)::BIGINT AS lss_len, max_by(s, len) AS s FROM per GROUP BY doc_id) " +
        "SELECT w.doc_id AS doc_id, w.lss_len, md5(w.s) AS lss_fp, MIN(k2.doc_id) AS partner_id " +
        "FROM win w JOIN kept k2 ON k2.len = w.lss_len AND k2.s = w.s AND k2.doc_id <> w.doc_id " +
        "GROUP BY w.doc_id, w.lss_len, w.s ORDER BY 1"),
    // n21: the cap rule replayed relationally over the rebuilt hash
    // ledger — same grid CTE, per-hash occupancy, n·(n−1)/2 / n_a·n_b
    // latent-pair arithmetic, expansion only under the cap. The knob's
    // default (16) is inlined on both sides; retuning the session knob
    // means re-deriving the oracle, which is why the default is the
    // registered operating point.
    "n21_image_dhash_capped" ->
      cappedPairsOracleOver(DhashGridCte +
        ", hs AS (SELECT id, " +
        "SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hash_hi, " +
        "SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS hash_lo " +
        "FROM bits GROUP BY id) "),
    // n22: the same cap rule over the rebuilt AUDIO hashes — one shared
    // oracle builder because the engine side is one shared core
    "n22_audio_hash_capped" ->
      cappedPairsOracleOver(AudioHashCte +
        ", hs AS (SELECT id, hi AS hash_hi, lo AS hash_lo FROM ahashes) "),
    // n26: the same cap rule over the rebuilt VIDEO simhashes — third
    // modality, same shared builder
    "n26_video_simhash_capped" ->
      cappedPairsOracleOver(VideoHashCte +
        ", hs AS (SELECT id, hash_hi, hash_lo FROM vhashes) "),
    // t12: integer proximity over per-term position lists — DuckDB's
    // (x, i) lambda is 1-based where Spark's is 0-based, which cancels
    // inside |x − y|; doc_id breaks ties so the ordering is total.
    "t12_proximity_rank" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "p AS (SELECT doc_id, " +
        "list_filter(list_transform(w, (x, i) -> CASE WHEN x = 'part' THEN i ELSE -1 END), v -> v >= 0) AS pa, " +
        "list_filter(list_transform(w, (x, i) -> CASE WHEN x = 'filter' THEN i ELSE -1 END), v -> v >= 0) AS pb " +
        "FROM t) " +
        "SELECT doc_id, len(pa)::BIGINT AS n_a, len(pb)::BIGINT AS n_b, " +
        "list_min(list_transform(pa, x -> list_min(list_transform(pb, y -> abs(x - y)))))::BIGINT AS min_dist " +
        "FROM p WHERE len(pa) > 0 AND len(pb) > 0 ORDER BY min_dist, doc_id"),
    // dq5: the same (max+1) div 2 seal point as every incremental twin;
    // NOT IN against the old vocabulary is safe (tokens are never NULL
    // after the length guard both engines share via string_split).
    "dq5_drift_profile" ->
      ("WITH mx AS (SELECT COALESCE((MAX(doc_id) + 1) // 2, 0) AS k FROM documents), " +
        "d AS (SELECT source, doc_id, string_split(text, ' ') AS w, doc_id >= k AS is_new FROM documents, mx), " +
        "vol AS (SELECT source, " +
        "SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END)::BIGINT AS n_docs_old, " +
        "SUM(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS n_docs_new, " +
        "SUM(CASE WHEN NOT is_new THEN len(w) ELSE 0 END)::BIGINT AS n_tokens_old, " +
        "SUM(CASE WHEN is_new THEN len(w) ELSE 0 END)::BIGINT AS n_tokens_new " +
        "FROM d GROUP BY source), " +
        "ov AS (SELECT DISTINCT UNNEST(w) AS token FROM d WHERE NOT is_new), " +
        "nt AS (SELECT source, COUNT(DISTINCT token)::BIGINT AS n_new_tokens FROM " +
        "(SELECT DISTINCT source, UNNEST(w) AS token FROM d WHERE is_new) s " +
        "WHERE token NOT IN (SELECT token FROM ov) GROUP BY source) " +
        "SELECT source, n_docs_old, n_docs_new, n_tokens_old, n_tokens_new, " +
        "COALESCE(n_new_tokens, 0) AS n_new_tokens " +
        "FROM vol LEFT JOIN nt USING (source) ORDER BY source"),
    // t14: document-level co-occurrence — list_distinct collapses each
    // doc's token multiset exactly like array_distinct before counting,
    // and the (n_docs_both DESC, token) order is total so LIMIT is stable.
    "t14_term_cooccurrence" -> {
      val seed = TextAnalysis.KeywordTerms.head
      ("WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents), " +
        s"b AS (SELECT UNNEST(w) AS token FROM d WHERE list_contains(w, '$seed')), " +
        "bt AS (SELECT token, COUNT(*)::BIGINT AS n_docs_both FROM b " +
        s"WHERE token <> '$seed' GROUP BY token), " +
        "df AS (SELECT token, COUNT(*)::BIGINT AS n_docs_term FROM " +
        "(SELECT UNNEST(w) AS token FROM d) t GROUP BY token) " +
        "SELECT token, n_docs_both, n_docs_term FROM bt JOIN df USING (token) " +
        s"ORDER BY n_docs_both DESC, token LIMIT ${TextAnalysis.CooccurK}")
    },
    // d31: the trim ledger rebuilt relationally — 0-based positions on
    // both sides (range(0,len) vs posexplode), first occurrence = MIN(pos)
    // per (doc, gram), coverage = the union of each duplicate start's
    // 3-position span; string_agg(... ORDER BY pos) reassembles the
    // trimmed text in token order exactly like Spark's array_sort over
    // (pos, tok) structs, and md5 agrees byte-for-byte across engines.
    "d31_trim_repeated_ngrams" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "tk AS (SELECT doc_id, i AS pos, w[i + 1] AS tok FROM d, UNNEST(range(0, len(w))) t(i)), " +
        "g AS (SELECT doc_id, i AS pos, w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS gr " +
        s"FROM d, UNNEST(range(0, len(w) - ${TextAnalysis.TrimGramTokens - 1})) t(i)), " +
        "f AS (SELECT doc_id, gr, MIN(pos) AS first_pos FROM g GROUP BY doc_id, gr), " +
        "dup AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (doc_id, gr) WHERE g.pos > f.first_pos), " +
        s"cov AS (SELECT DISTINCT doc_id, pos + o AS cpos FROM dup, UNNEST(range(0, ${TextAnalysis.TrimGramTokens})) t(o)), " +
        "kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk LEFT JOIN cov " +
        "ON tk.doc_id = cov.doc_id AND tk.pos = cov.cpos WHERE cov.cpos IS NULL), " +
        "ka AS (SELECT doc_id, COUNT(*)::BIGINT AS n_kept, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS fp_trimmed FROM kept GROUP BY doc_id), " +
        "tot AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens FROM tk GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, n_kept, n_tokens - n_kept AS n_dropped, fp_trimmed " +
        "FROM tot JOIN ka USING (doc_id) ORDER BY doc_id"),
    // t13: both engines' first-occurrence positions are 1-based
    // (array_position / list_position) and both slice operators truncate
    // at the array ends, so the KWIC window expression is shared verbatim;
    // COALESCE guards DuckDB's NULL-on-absent against Spark's 0.
    "t13_kwic_snippet" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "p AS (SELECT doc_id, w, list_position(w, '" + TextAnalysis.PhraseTerms.head + "') AS pos FROM t) " +
        "SELECT doc_id, pos::BIGINT AS pos, " +
        s"array_to_string(w[GREATEST(pos - ${TextAnalysis.SnippetContext}, 1) : pos + ${TextAnalysis.SnippetContext}], ' ') AS snippet " +
        "FROM p WHERE COALESCE(pos, 0) > 0 ORDER BY doc_id"),
    // DuckDB list slice w[a:b] is 1-based inclusive, so w[s+1 : s+32] is the
    // same 32-token window as Spark's slice(toks, s+1, 32); range(0, len,
    // stride) and sequence(0, size-1, stride) generate the same start set.
    "p3_chunk_documents" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents) " +
        "SELECT doc_id, (s // " + Curation.ChunkStride + ")::BIGINT AS chunk_id, " +
        "array_to_string(w[s + 1 : s + " + Curation.ChunkTokens + "], ' ') AS chunk_text " +
        "FROM toks, UNNEST(range(0, len(w), " + Curation.ChunkStride + ")) AS t(s) " +
        "ORDER BY doc_id, chunk_id"),
    "d8_decontaminate" -> DecontaminateSql,
    // d32: the trigram candidate pass is a pre-filter, never a truth
    // source — the oracle is the direct contains join (d20's discipline).
    "d32_substring_decontaminate" ->
      (s"WITH n AS (SELECT doc_id AS bench_id, substr(text, 1, ${Curation.NeedleChars}) AS needle " +
        "FROM documents WHERE doc_id % 50 = 0 AND length(substr(text, 1, " +
        s"${Curation.NeedleChars})) >= 3) " +
        "SELECT t.doc_id, COUNT(DISTINCT bench_id)::BIGINT AS n_bench_needles " +
        "FROM documents t, n WHERE t.doc_id % 50 <> 0 AND contains(t.text, n.needle) " +
        "GROUP BY t.doc_id ORDER BY t.doc_id"),
    // d20 is d8's bloom-pruned twin: the bloom is a pre-filter, never a
    // truth source, so the exact report (and its oracle) is UNCHANGED.
    "d20_decontaminate_bloom" -> DecontaminateSql,
    "d9_mixture_sample" -> {
      val vals = Curation.MixtureRates.map { case (s, t) => s"('$s', '$t')" }.mkString(", ")
      ("WITH rates(source, thr) AS (VALUES " + vals + ") " +
        "SELECT d.source, COUNT(*) AS n_total, " +
        "SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < thr THEN 1 ELSE 0 END)::BIGINT AS n_kept " +
        "FROM documents d JOIN rates USING (source) GROUP BY d.source ORDER BY d.source")
    },
    "d10_stratified_sample" ->
      ("SELECT source, doc_id, rk FROM (SELECT source, doc_id, " +
        "row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk " +
        "FROM documents) t WHERE rk <= 5 ORDER BY source, rk"),
    "d11_vocab_topk" ->
      ("SELECT token, COUNT(*) AS cnt FROM (SELECT UNNEST(string_split(text, ' ')) AS token " +
        "FROM documents) t GROUP BY token ORDER BY cnt DESC, token LIMIT 100"),
    "d12_length_deciles" ->
      ("SELECT source, doc_id, n_chars, ntile(10) OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS decile " +
        "FROM documents ORDER BY source, doc_id"),
    "t1_keyword_search" -> {
      val conds = TextAnalysis.KeywordTerms
        .map(t => s"list_contains(string_split(text, ' '), '$t')")
        .mkString(" AND ")
      s"SELECT doc_id FROM documents WHERE $conds ORDER BY doc_id"
    },
    "d13_redact_pii" -> {
      val counts = TextAnalysis.PiiPatterns
        .map { case (p, _) => s"len(regexp_extract_all(text, '$p'))" }
        .mkString(" + ")
      val redacted = TextAnalysis.PiiPatterns.foldLeft("text") { case (e, (p, tag)) =>
        s"regexp_replace($e, '$p', '$tag', 'g')"
      }
      s"SELECT doc_id, ($counts)::BIGINT AS n_pii, md5($redacted) AS fp_redacted " +
        "FROM documents ORDER BY doc_id"
    },
    "d14_repetition_stats" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b FROM toks, UNNEST(range(1, len(w))) t(i)), " +
        "bs AS (SELECT doc_id, COUNT(*) nb, COUNT(DISTINCT b) ndb FROM bg GROUP BY doc_id), " +
        "tk AS (SELECT doc_id, UNNEST(w) AS tkn FROM toks), " +
        "tc AS (SELECT doc_id, tkn, COUNT(*) c FROM tk GROUP BY doc_id, tkn), " +
        "ms AS (SELECT doc_id, MAX(c) mc, SUM(c) nt FROM tc GROUP BY doc_id) " +
        "SELECT bs.doc_id AS doc_id, nb::BIGINT AS n_bigrams, ndb::BIGINT AS n_distinct_bigrams, " +
        "(nb - ndb) / nb AS dup_bigram_ratio, mc::BIGINT AS max_token_cnt, mc / nt AS max_token_ratio " +
        "FROM bs JOIN ms ON bs.doc_id = ms.doc_id ORDER BY doc_id"),
    "d15_top_salient_term" ->
      ("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), " +
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
        "ranked AS (SELECT doc_id, term, tf.tf, df.df, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY tf.tf / df.df DESC, term) AS rn " +
        "FROM tf JOIN df USING (term)) " +
        "SELECT doc_id, term AS top_term, tf::BIGINT AS tf, df::BIGINT AS df " +
        "FROM ranked WHERE rn = 1 ORDER BY doc_id"),
    "f1_fuzzy_token_pairs" ->
      ("WITH v AS (SELECT DISTINCT UNNEST(string_split(text, ' ')) AS t FROM documents) " +
        "SELECT a.t AS tok_a, b.t AS tok_b, levenshtein(a.t, b.t)::BIGINT AS dist " +
        "FROM v a JOIN v b ON substr(a.t, 1, 1) = substr(b.t, 1, 1) AND a.t < b.t " +
        "AND abs(length(a.t) - length(b.t)) <= " + TextAnalysis.FuzzyMaxDist + " " +
        "WHERE levenshtein(a.t, b.t) <= " + TextAnalysis.FuzzyMaxDist + " ORDER BY tok_a, tok_b"),
    // n7/d16 share [[spanCtePrefix]] — ONE definition of the span window on
    // the oracle side, like docSpans on the Spark side.
    "n7_shared_spans" ->
      (spanCtePrefix +
        "SELECT span_fp, COUNT(DISTINCT doc_id)::BIGINT AS n_docs FROM sp " +
        "GROUP BY span_fp HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY span_fp"),
    // n8: positioned spans (NOT per-doc-distinct — masking needs every
    // start), shared = fps in >= 2 distinct docs, coverage = start..start+7,
    // redacted text rebuilt token-wise and fingerprinted. Reconstruction is
    // concat_ws/string_agg over the SPLIT tokens on both engines, so the
    // whitespace-normalized roundtrip matches even for unmasked docs.
    "n8_redact_shared_spans" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sp AS (SELECT doc_id, s, md5(array_to_string(w[s : s + " + (Dedup.SpanTokens - 1) + "], ' ')) AS span_fp " +
        "FROM toks, UNNEST(range(1, len(w) - " + (Dedup.SpanTokens - 2) + ")) t(s)), " +
        "sh AS (SELECT span_fp FROM (SELECT span_fp, COUNT(DISTINCT doc_id) nd FROM sp GROUP BY span_fp) q WHERE nd >= 2), " +
        "st AS (SELECT DISTINCT doc_id, s FROM sp JOIN sh USING (span_fp)), " +
        "cov AS (SELECT DISTINCT doc_id, s + j AS pos FROM st, UNNEST(range(0, " + Dedup.SpanTokens + ")) t(j)), " +
        "tok AS (SELECT doc_id, i, w[i] AS t FROM toks, UNNEST(range(1, len(w) + 1)) g(i)), " +
        "m AS (SELECT tok.doc_id, tok.i, CASE WHEN cov.pos IS NOT NULL THEN '[DUP]' ELSE tok.t END AS t, " +
        "CASE WHEN cov.pos IS NOT NULL THEN 1 ELSE 0 END AS f " +
        "FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.pos) " +
        "SELECT doc_id, SUM(f)::BIGINT AS n_masked, md5(string_agg(t, ' ' ORDER BY i)) AS fp_redacted " +
        "FROM m GROUP BY doc_id ORDER BY doc_id"),
    // d34: n8's positioned-span CTEs, but the mask excludes each span's
    // KEEPER (min doc_id over its carriers — shared iff min <> max), and
    // covered tokens are DROPPED rather than replaced: the survivors
    // reassemble via string_agg ORDER BY position exactly like Spark's
    // order-preserving zip_with/filter, so md5 agrees byte-for-byte. A
    // fully-excised doc has no kept rows — the LEFT JOIN + COALESCE
    // md5('') keeps its ledger row, matching Spark's all-flags-true doc.
    "d34_excise_shared_spans" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sp AS (SELECT doc_id, s, md5(array_to_string(w[s : s + " + (Dedup.SpanTokens - 1) + "], ' ')) AS span_fp " +
        "FROM toks, UNNEST(range(1, len(w) - " + (Dedup.SpanTokens - 2) + ")) t(s)), " +
        "ks AS (SELECT span_fp, MIN(doc_id) AS keeper FROM sp GROUP BY span_fp HAVING MIN(doc_id) <> MAX(doc_id)), " +
        "st AS (SELECT DISTINCT sp.doc_id, sp.s FROM sp JOIN ks USING (span_fp) WHERE sp.doc_id <> ks.keeper), " +
        "cov AS (SELECT DISTINCT doc_id, s + j AS pos FROM st, UNNEST(range(0, " + Dedup.SpanTokens + ")) t(j)), " +
        "tok AS (SELECT doc_id, i, w[i] AS t FROM toks, UNNEST(range(1, len(w) + 1)) g(i)), " +
        "kept AS (SELECT tok.doc_id, tok.i, tok.t FROM tok LEFT JOIN cov " +
        "ON tok.doc_id = cov.doc_id AND tok.i = cov.pos WHERE cov.pos IS NULL), " +
        "ka AS (SELECT doc_id, COUNT(*)::BIGINT AS n_kept, " +
        "md5(string_agg(t, ' ' ORDER BY i)) AS fp_trimmed FROM kept GROUP BY doc_id), " +
        "tot AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens FROM tok GROUP BY doc_id) " +
        "SELECT tot.doc_id, n_tokens, COALESCE(n_kept, 0)::BIGINT AS n_kept, " +
        "(n_tokens - COALESCE(n_kept, 0))::BIGINT AS n_dropped, " +
        "COALESCE(fp_trimmed, md5('')) AS fp_trimmed " +
        "FROM tot LEFT JOIN ka USING (doc_id) ORDER BY tot.doc_id"),
    // n11: the same positioned-span CTEs as n8, then classic gaps-and-
    // islands (s - row_number) to merge consecutive shared starts into one
    // maximal segment, fingerprinted by slicing the original token list.
    "n11_max_shared_segments" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sp AS (SELECT doc_id, s, md5(array_to_string(w[s : s + " + (Dedup.SpanTokens - 1) + "], ' ')) AS span_fp " +
        "FROM toks, UNNEST(range(1, len(w) - " + (Dedup.SpanTokens - 2) + ")) t(s)), " +
        "sh AS (SELECT span_fp FROM (SELECT span_fp, COUNT(DISTINCT doc_id) nd FROM sp GROUP BY span_fp) q WHERE nd >= 2), " +
        "st AS (SELECT DISTINCT doc_id, s FROM sp JOIN sh USING (span_fp)), " +
        "isl AS (SELECT doc_id, s, s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM st), " +
        "seg AS (SELECT doc_id, MIN(s) AS s0, MAX(s) AS s1 FROM isl GROUP BY doc_id, grp) " +
        "SELECT seg.doc_id, s0::BIGINT AS start_pos, (s1 - s0 + " + Dedup.SpanTokens + ")::BIGINT AS n_tokens, " +
        "md5(array_to_string(w[s0 : s1 + " + (Dedup.SpanTokens - 1) + "], ' ')) AS seg_fp " +
        "FROM seg JOIN toks ON seg.doc_id = toks.doc_id ORDER BY seg.doc_id, start_pos"),
    "d16_span_share" ->
      (spanCtePrefix.trim + ", " +
        "d AS (SELECT doc_id, span_fp, COUNT(*) OVER (PARTITION BY span_fp) AS nd FROM sp) " +
        "SELECT doc_id, COUNT(*) AS n_spans, " +
        "SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared_spans, " +
        "SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / COUNT(*) AS shared_ratio " +
        "FROM d GROUP BY doc_id ORDER BY doc_id"),
    "s7_ann_with_metadata" ->
      ("SELECT query_id, rnk, vec_id, source, n_chars FROM " +
        "(SELECT q.vec_id AS query_id, e.vec_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id) AS rnk " +
        "FROM embeddings e, embeddings q WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) t " +
        "JOIN documents d ON t.vec_id = d.doc_id WHERE rnk <= 3 ORDER BY query_id, rnk"),
    "w1_window_counts" ->
      ("SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type, COUNT(*) AS cnt " +
        "FROM events GROUP BY 1, 2 ORDER BY ws, event_type"),
    "w2_sessionize" ->
      ("WITH x AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events) " +
        "SELECT user_id, SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)::BIGINT AS n_sessions " +
        "FROM x GROUP BY user_id ORDER BY user_id"),
    // w6: grid = generate_series over the observed bounds × distinct types;
    // LEFT JOIN + COALESCE supplies the zero cells.
    "w6_resample_hourly" ->
      ("WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) hr, event_type FROM events), " +
        "c AS (SELECT hr, event_type, COUNT(*) AS cnt FROM e GROUP BY hr, event_type), " +
        "b AS (SELECT MIN(hr) d0, MAX(hr) d1 FROM e), " +
        "g AS (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 HOUR)) AS hr FROM b), " +
        "t AS (SELECT DISTINCT event_type FROM e) " +
        "SELECT g.hr AS hr, t.event_type AS event_type, COALESCE(cnt, 0)::BIGINT AS cnt " +
        "FROM g CROSS JOIN t LEFT JOIN c ON g.hr = c.hr AND t.event_type = c.event_type " +
        "ORDER BY hr, event_type"),
    "dq1_profile_events" -> {
      val branches = Seq("event_id", "ts", "user_id", "event_type", "value", "props").map { c =>
        s"SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct FROM events"
      }
      branches.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
    },
    // w4: every event belongs to exactly 2 hopping windows; window starts
    // reconstructed on the epoch-aligned 12h grid in integer µs.
    "w4_hopping_counts" ->
      ("SELECT make_timestamp(((epoch_us(ts) // 43200000000) - j) * 43200000000) AS ws, " +
        "event_type, COUNT(*) AS cnt FROM events, UNNEST([0, 1]) t(j) " +
        "GROUP BY 1, 2 ORDER BY ws, event_type"),
    "q15_top_orders" ->
      ("SELECT o_orderkey, o_orderpriority FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q16_outer_join_count" ->
      ("SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey"),
    "q17_predicate_kinds" ->
      ("SELECT COUNT(*) AS cnt FROM events WHERE event_type IN ('error', 'purchase') " +
        "AND props LIKE '{\"k\":%' AND regexp_matches(props, '\\d') " +
        "AND props IS NOT NULL AND (user_id % 2 = 0 OR event_id < 100)"),
    "q18_region_rollup" ->
      ("SELECT r_name, COUNT(*) AS cnt, COUNT(DISTINCT n_name) AS n_nations FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name"),
    "d5_source_stats" ->
      ("SELECT source, lang, COUNT(*) AS cnt, SUM(length(text))::BIGINT AS total_chars " +
        "FROM documents GROUP BY source, lang ORDER BY source, lang"),
    "x2_percentiles" ->
      ("SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90 " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // sketch bounded companions: exact columns are plain relational
    // results; the within_bound booleans are asserted TRUE — the sketch's
    // documented error gate, evaluated in-engine, adjudicated by hash.
    "x1b_approx_distinct_bound" ->
      "SELECT COUNT(DISTINCT user_id)::BIGINT AS exact_users, TRUE AS within_bound FROM events",
    "x5b_approx_distinct_rollup_bound" ->
      ("SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users, TRUE AS within_bound " +
        "FROM events GROUP BY ROLLUP(event_type) ORDER BY event_type ASC NULLS FIRST"),
    "x3b_approx_percentiles_bound" ->
      ("SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90, " +
        "TRUE AS p50_within, TRUE AS p90_within FROM events GROUP BY event_type ORDER BY event_type"),
    "x4b_approx_top_users_bound" ->
      ("SELECT row_number() OVER (ORDER BY cnt DESC, user_id)::BIGINT AS rnk, user_id, cnt, " +
        "TRUE AS within_bound FROM (SELECT user_id, COUNT(*)::BIGINT AS cnt FROM events " +
        "GROUP BY user_id) ORDER BY rnk LIMIT 5"),
    "dq3b_profile_events_bound" -> {
      val branches = Seq("event_id", "ts", "user_id", "event_type", "value", "props").map { c =>
        s"SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull, " +
          s"COUNT(DISTINCT $c) AS n_distinct, TRUE AS within_bound FROM events"
      }
      branches.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
    },
    "a1_asof_join" ->
      ("SELECT p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts ORDER BY purchase_id"),
    // a6 = a1 over the bucketed layout: same semantics, same oracle text
    "a6_asof_bucketed" ->
      ("SELECT p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts ORDER BY purchase_id"),
    // forward direction flips the ASOF inequality: earliest click >= purchase
    "a4_asof_forward" ->
      ("SELECT p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts <= c.ts ORDER BY purchase_id"),
    "a2_interval_join" ->
      ("SELECT COUNT(*) AS pair_cnt FROM events a JOIN events b " +
        "ON a.user_id = b.user_id AND a.event_id < b.event_id " +
        "AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000"),
    "a3_asof_tolerance" ->
      ("SELECT p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts " +
        "WHERE p.ts - c.ts <= INTERVAL 1 HOUR ORDER BY purchase_id"),
    "q22_salted_join_count" ->
      ("SELECT o_orderpriority, COUNT(*) AS cnt FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q24_shipping_priority" ->
      ("SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' " +
        "GROUP BY l_orderkey, CAST(o_orderdate AS DATE) " +
        "ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10"),
    "q25_local_supplier_volume" ->
      ("SELECT n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS cnt " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY revenue_e4 DESC, n_name"),
    // frame spelled only on SUM: Spark rejects an explicit frame on lag()
    // (DuckDB would tolerate it), and this SQL must parse on BOTH engines
    // for the SqlSpec three-way differential.
    "q26_monthly_order_trend" ->
      ("WITH m AS (SELECT o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE) AS month, " +
        "COUNT(*) AS cnt FROM orders GROUP BY 1, 2) " +
        "SELECT o_orderpriority, month, cnt, " +
        "CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY month ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt, " +
        "CAST(cnt - lag(cnt, 1) OVER (PARTITION BY o_orderpriority ORDER BY month) AS BIGINT) AS delta FROM m " +
        "ORDER BY o_orderpriority, month"),
    "c1_clean_corpus" -> cleanCorpusOracle,
    // d33: c1's CTE pieces (sh/dup/lang) extended by d8's contamination
    // set — reasons are independent bits evaluated on EVERY doc, and the
    // kept bit is their conjunction.
    "d33_drop_reasons" ->
      (cleanSurvivorsCte +
        ", cont AS (SELECT DISTINCT t.doc_id FROM sh t JOIN sh b ON t.s = b.s AND b.doc_id % 50 = 0 " +
        "WHERE t.doc_id % 50 <> 0) " +
        "SELECT d.doc_id, " +
        "(CASE WHEN len(string_split(d.text, ' ')) < 20 THEN 1 ELSE 0 END)::BIGINT AS too_short, " +
        "(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS wrong_lang, " +
        "(CASE WHEN du.db IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS near_dup, " +
        "(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS contaminated, " +
        "(CASE WHEN len(string_split(d.text, ' ')) >= 20 AND l.doc_id IS NOT NULL " +
        "AND du.db IS NULL AND c.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept " +
        "FROM documents d LEFT JOIN lang l ON d.doc_id = l.doc_id " +
        "LEFT JOIN dup du ON d.doc_id = du.db LEFT JOIN cont c ON d.doc_id = c.doc_id " +
        "ORDER BY d.doc_id"),
    // c3: the same survivor CTE as c1 (one definition both sides), joined
    // back for the per-source doc/token yield.
    "c3_token_yield" ->
      (cleanSurvivorsCte +
        " SELECT d.source, COUNT(*)::BIGINT AS n_docs_raw, " +
        "SUM(len(string_split(d.text, ' ')))::BIGINT AS n_tokens_raw, " +
        "SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_docs_clean, " +
        "SUM(CASE WHEN c.doc_id IS NOT NULL THEN len(string_split(d.text, ' ')) ELSE 0 END)::BIGINT AS n_tokens_clean " +
        "FROM documents d LEFT JOIN clean c ON d.doc_id = c.doc_id " +
        "GROUP BY d.source ORDER BY d.source"),
    // c2 restates c1's own CTE chain as stage counts — the yield report and
    // the pipeline share one oracle definition, like the Spark side reuses
    // cleanCorpus verbatim.
    "c2_stage_counts" ->
      ("SELECT (SELECT COUNT(*) FROM documents) AS n_raw, " +
        "(SELECT COUNT(*) FROM documents WHERE len(string_split(text, ' ')) >= 20) AS n_quality, " +
        s"(SELECT COUNT(*) FROM ($langGateOracle) q) AS n_lang, " +
        s"(SELECT COUNT(*) FROM ($cleanCorpusOracle) c) AS n_clean"),
    // u1: all date arithmetic on CAST(ts AS DATE) of the naive timestamp —
    // identical day boundaries in both engines.
    "u1_retention_cohorts" ->
      ("WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id) " +
        "SELECT f.cohort_day, CAST(date_diff('day', f.cohort_day, d.day) AS BIGINT) AS day_offset, " +
        "COUNT(*) AS n_users FROM d JOIN f USING (user_id) " +
        s"WHERE date_diff('day', f.cohort_day, d.day) <= ${Retention.MaxOffsetDays} " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    // p4: integer token offsets and floor division only — bit-exact across
    // engines; DuckDB range() is end-exclusive hence the +1.
    "p4_pack_spans" -> {
      val b = Curation.PackBudget
      ("WITH t AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, CAST(SUM(n_tokens) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t), " +
        s"e AS (SELECT source, doc_id, cum - n_tokens AS bg, cum, UNNEST(range((cum - n_tokens) // $b, (cum - 1) // $b + 1)) AS pack_id FROM c) " +
        s"SELECT source, doc_id, CAST(pack_id AS BIGINT) AS pack_id, " +
        s"CAST(LEAST(cum, (pack_id + 1) * $b) - GREATEST(bg, pack_id * $b) AS BIGINT) AS tokens_in_pack " +
        "FROM e ORDER BY source, doc_id, pack_id")
    },
    // m2: the synthetic corpus makes every demux field a pure function of
    // (doc_id, n_chars), so the oracle predicts the REAL parsers' output
    // from documents-column arithmetic — no binary parsing oracle-side.
    "m2_media_demux" ->
      ("SELECT doc_id, " +
        "CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'audio' ELSE 'video' END AS kind, " +
        "TRUE AS ok, " +
        "CASE WHEN doc_id % 4 = 0 OR doc_id % 4 = 3 THEN doc_id % 14 + 2 ELSE 0 END AS width, " +
        "CASE WHEN doc_id % 4 = 0 THEN doc_id % 10 + 1 WHEN doc_id % 4 = 3 THEN doc_id % 10 + 2 ELSE 0 END AS height, " +
        "CASE WHEN doc_id % 4 = 1 THEN 8000 WHEN doc_id % 4 = 2 THEN 44100 ELSE 0 END AS sample_rate, " +
        "CASE WHEN doc_id % 4 = 1 THEN (LEAST(GREATEST(n_chars, 1), 64) * 1000) // 8000 " +
        "WHEN doc_id % 4 = 2 THEN (LEAST(n_chars // 10 + 1, 5) * 1152 * 1000) // 44100 " +
        "WHEN doc_id % 4 = 3 THEN (n_chars % 100) * 10 ELSE 0 END AS duration_ms, " +
        "CASE WHEN doc_id % 4 = 0 THEN 1 WHEN doc_id % 4 = 1 THEN LEAST(GREATEST(n_chars, 1), 64) " +
        "WHEN doc_id % 4 = 2 THEN LEAST(n_chars // 10 + 1, 5) ELSE LEAST(n_chars, 50) END AS n_frames, " +
        "1 AS n_tracks FROM documents ORDER BY doc_id"),
    // m4: the synthetic-media contract applied to I-frame extraction — every
    // column, including the extracted-payload byte sum, is (doc_id, n_chars)
    // arithmetic (sample i: (i%5)+1 bytes of value (i*13+doc_id)%256, sync
    // every 4th), so the stco/stsc/stsz/stss resolution sits inside the
    // hash-checked path.
    "m4_mp4_frames" ->
      ("WITH v AS (SELECT doc_id, LEAST(n_chars, 50) AS s FROM documents WHERE doc_id % 4 = 3), " +
        "f AS (SELECT doc_id, i FROM v, UNNEST(range(s)) AS t(i)) " +
        "SELECT v.doc_id, (v.doc_id % 14 + 2)::BIGINT AS width, (v.doc_id % 10 + 2)::BIGINT AS height, " +
        "v.s::BIGINT AS n_samples, " +
        "COALESCE(SUM(CASE WHEN f.i % 4 = 0 THEN 1 ELSE 0 END), 0)::BIGINT AS n_sync, " +
        "COALESCE(SUM(CASE WHEN f.i % 4 = 0 THEN (f.i % 5) + 1 ELSE 0 END), 0)::BIGINT AS sync_bytes, " +
        "COALESCE(SUM(CASE WHEN f.i % 4 = 0 THEN ((f.i % 5) + 1) * ((f.i * 13 + v.doc_id) % 256) ELSE 0 END), 0)::BIGINT AS sync_byte_sum " +
        "FROM v LEFT JOIN f ON v.doc_id = f.doc_id " +
        "GROUP BY v.doc_id, v.s ORDER BY v.doc_id"),
    "d22_decontaminate_semantic" -> d22Oracle,
    // d23: reachability CTE (n6's) gives each pair-touched doc its min
    // reachable id = the engine's star-contraction cluster label; split
    // rule shares the engine's md5-prefix threshold verbatim (d9 style).
    "d23_split_by_cluster" ->
      (dupReachCtePrefix +
        ", cl AS (SELECT id, MIN(r) AS cid FROM reach GROUP BY id) " +
        "SELECT d.doc_id, COALESCE(cl.cid, d.doc_id) AS cluster_key, " +
        "CASE WHEN substring(md5(CAST(COALESCE(cl.cid, d.doc_id) AS VARCHAR)), 1, 1) < '4' " +
        "THEN 'holdout' ELSE 'train' END AS split " +
        "FROM documents d LEFT JOIN cl ON d.doc_id = cl.id ORDER BY doc_id"),
    // d24: lateral unnest over the same VALUES factor table the engine
    // broadcasts; epoch is BIGINT both sides, md5 hex lowercase both sides.
    "d24_mixture_epochs" ->
      ("WITH f AS (SELECT * FROM (VALUES " +
        graft.operators.Curation.EpochFactors
          .map { case (s, r) => s"('$s', $r)" }
          .mkString(", ") +
        ") AS t(source, reps)), " +
        "e AS (SELECT d.doc_id, d.source, CAST(ti.e AS BIGINT) AS epoch " +
        "FROM documents d JOIN f ON d.source = f.source, UNNEST(range(f.reps)) AS ti(e)) " +
        "SELECT doc_id, source, epoch, " +
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS shuffle_key " +
        "FROM e ORDER BY doc_id, epoch"),
    // d25: d8's shingle convention (distinct 3-grams, docs with <3 tokens
    // absent), COUNT(bench.s) so both hit and total are BIGINT; verdict is
    // integer cross-multiplication shared with the engine.
    "d25_contamination_gate" -> {
      val num = graft.operators.Curation.ContaminationShareNum
      val den = graft.operators.Curation.ContaminationShareDen
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0), " +
        "g AS (SELECT sh.doc_id, COUNT(*) AS n_shingles, COUNT(bench.s) AS n_hit " +
        "FROM sh LEFT JOIN bench ON sh.s = bench.s WHERE sh.doc_id % 50 <> 0 GROUP BY sh.doc_id) " +
        s"SELECT doc_id, n_shingles, n_hit, CASE WHEN n_hit * $den >= n_shingles * $num " +
        "THEN 'drop' ELSE 'keep' END AS verdict FROM g ORDER BY doc_id"
    },
    // m3 = m2 over the maintained (base + delta) catalog — segment layout
    // must be answer-invariant, so it shares m2's oracle verbatim.
    "m3_media_demux_incremental" ->
      ("SELECT doc_id, " +
        "CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'audio' ELSE 'video' END AS kind, " +
        "TRUE AS ok, " +
        "CASE WHEN doc_id % 4 = 0 OR doc_id % 4 = 3 THEN doc_id % 14 + 2 ELSE 0 END AS width, " +
        "CASE WHEN doc_id % 4 = 0 THEN doc_id % 10 + 1 WHEN doc_id % 4 = 3 THEN doc_id % 10 + 2 ELSE 0 END AS height, " +
        "CASE WHEN doc_id % 4 = 1 THEN 8000 WHEN doc_id % 4 = 2 THEN 44100 ELSE 0 END AS sample_rate, " +
        "CASE WHEN doc_id % 4 = 1 THEN (LEAST(GREATEST(n_chars, 1), 64) * 1000) // 8000 " +
        "WHEN doc_id % 4 = 2 THEN (LEAST(n_chars // 10 + 1, 5) * 1152 * 1000) // 44100 " +
        "WHEN doc_id % 4 = 3 THEN (n_chars % 100) * 10 ELSE 0 END AS duration_ms, " +
        "CASE WHEN doc_id % 4 = 0 THEN 1 WHEN doc_id % 4 = 1 THEN LEAST(GREATEST(n_chars, 1), 64) " +
        "WHEN doc_id % 4 = 2 THEN LEAST(n_chars // 10 + 1, 5) ELSE LEAST(n_chars, 50) END AS n_frames, " +
        "1 AS n_tracks FROM documents ORDER BY doc_id"),
    // v3: add-one bigram LM replayed with the engine's own contrib string
    // (TextAnalysis.BigramLmSql); score quantized to 1e-6 -> only integers
    // hashed, per the t4 discipline.
    "v3_bigram_lm_score" ->
      s"$lmScoreCte SELECT doc_id, lm_q FROM q ORDER BY doc_id",
    // d21: the same score CTE, cut at the exact 25th percentile — Spark
    // `percentile` ≡ DuckDB `quantile_cont` (the x2 parity); quantized-long
    // scores mean a boundary doc exists only where both engines are
    // integer-exact
    "d21_lm_quality_keep" ->
      (s"$lmScoreCte, c AS (SELECT quantile_cont(lm_q, 0.25) AS c FROM q) " +
        "SELECT doc_id, lm_q FROM q, c WHERE lm_q >= c.c ORDER BY doc_id"),
    // p6: the same score CTE with THREE quantile cutoffs (d21's percentile
    // parity), phase by cutoff comparison, intra-phase order by the shared
    // md5 rule — integers and hex strings only in the hashed output
    "p6_curriculum_order" ->
      (s"$lmScoreCte, c AS (SELECT quantile_cont(lm_q, 0.75) AS c75, " +
        "quantile_cont(lm_q, 0.5) AS c50, quantile_cont(lm_q, 0.25) AS c25 FROM q) " +
        "SELECT CASE WHEN lm_q >= c.c75 THEN 1 WHEN lm_q >= c.c50 THEN 2 " +
        "WHEN lm_q >= c.c25 THEN 3 ELSE 4 END AS phase, doc_id, " +
        "md5(CAST(doc_id AS VARCHAR) || '#curriculum') AS order_key " +
        "FROM q, c ORDER BY phase, order_key, doc_id"),
    // t4: BM25 replayed with the SAME contrib expression string the engine
    // compiles (TextAnalysis.Bm25ContribSql); the ranking key is the score
    // quantized to 1e-6, so the ≤ulp cross-engine ln() difference cannot
    // flip a rank — only (rnk, doc_id) integers are hashed.
    "t4_bm25_rank" -> bm25Oracle,
    // t6: the SAME ranking contract computed from the persisted postings
    // layout — identical (tf, df, dl, n_docs, avgdl) values through the
    // same contrib expression, so t4's oracle applies verbatim
    "t6_bm25_indexed" -> bm25Oracle,
    // t7: exact maintenance — disjoint per-segment tf rows, query-time df,
    // additive stats — so t4's oracle applies verbatim here too
    "t7_bm25_incremental" -> bm25Oracle,
    // t16: compaction preserves the posting ROW SET exactly (disjoint
    // segments, physical re-cluster only) and folds stats with the same Σ
    // the query would — t4's oracle applies verbatim a third time
    "t16_bm25_compacted" -> bm25Oracle,
    // t17: tombstone masking == a from-scratch index over the survivors
    // (see bm25TombstonedOracle)
    "t17_bm25_tombstoned" -> bm25TombstonedOracle,
    // t9: MaxScore pruning is SAFE (upper-bound argument + quantization
    // margin), so the ranking contract — and t4's oracle — hold verbatim
    "t9_bm25_pruned" -> bm25Oracle,
    // t11: the Dirichlet QL decomposition replayed with the engine's own
    // shared expression strings (QlContribSql / qlLenSql) — the t4 parity
    // argument verbatim (integer-exact tf/cf/ctot, ln under 1e-6 quantization)
    "t11_ql_rank" -> qlOracle,
    "dq4_modality_coverage" ->
      ("SELECT (SELECT COUNT(*) FROM documents) AS n_docs, " +
        "(SELECT COUNT(*) FROM embeddings) AS n_vecs, " +
        "(SELECT COUNT(*) FROM documents d WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS n_docs_no_vec, " +
        "(SELECT COUNT(*) FROM embeddings e WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS n_vecs_no_doc"),
    // t5: both sub-rankings replayed to RrfDepth with their own shared
    // expression strings (Bm25ContribSql / list_cosine_similarity), then
    // fused with the SAME RrfFuseSql string the engine compiles. Only
    // integer ranks cross between the stages, so the fused doubles are
    // bit-identical; 1e-9 quantization is defensive headroom.
    "t5_hybrid_rrf" -> {
      val terms = TextAnalysis.KeywordTerms.distinct.map(t => s"'$t'").mkString(", ")
      val depth = TextAnalysis.RrfDepth
      ("WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
        "UNNEST(string_split(text, ' ')) AS token FROM documents WHERE doc_id <> 0), " +
        s"tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok WHERE token IN ($terms) GROUP BY doc_id, dl, token), " +
        "d AS (SELECT *, COUNT(*) OVER (PARTITION BY token) AS df FROM tf), " +
        "st AS (SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl FROM documents WHERE doc_id <> 0), " +
        s"sc AS (SELECT doc_id, SUM(${TextAnalysis.Bm25ContribSql}) AS score FROM d, st GROUP BY doc_id), " +
        "lq AS (SELECT doc_id, CAST(round(score * 1000000.0) AS BIGINT) AS qs FROM sc), " +
        s"lexr AS (SELECT CAST(row_number() OVER (ORDER BY qs DESC, doc_id) AS BIGINT) AS lex_rnk, doc_id FROM lq ORDER BY qs DESC, doc_id LIMIT $depth), " +
        "semr AS (SELECT rnk AS sem_rnk, vec_id AS doc_id FROM (SELECT row_number() OVER (ORDER BY " +
        "list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id) AS rnk, e.vec_id " +
        s"FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q WHERE e.vec_id <> 0) t WHERE rnk <= $depth), " +
        "f AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rnk, s.sem_rnk FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id), " +
        s"q AS (SELECT doc_id, CAST(round((${TextAnalysis.RrfFuseSql}) * 1000000000.0) AS BIGINT) AS qs FROM f) " +
        "SELECT CAST(row_number() OVER (ORDER BY qs DESC, doc_id) AS BIGINT) AS rnk, doc_id FROM q " +
        "ORDER BY qs DESC, doc_id LIMIT 20")
    },
    // t2: linear scaled-integer IDF (see TextAnalysis.IdfScale scaladoc) —
    // exact long arithmetic, no transcendental whose ulp could flip a rank.
    "t2_tfidf_rank" -> {
      val terms = TextAnalysis.KeywordTerms.distinct.map(t => s"'$t'").mkString(", ")
      ("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents), " +
        s"q AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token IN ($terms) GROUP BY doc_id, token), " +
        "d AS (SELECT token, COUNT(*) AS df FROM q GROUP BY token), " +
        "n AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        s"i AS (SELECT token, (n.n_docs * ${TextAnalysis.IdfScale}) // df AS idf_k FROM d, n) " +
        "SELECT q.doc_id, CAST(SUM(tf * idf_k) AS BIGINT) AS score FROM q JOIN i USING (token) " +
        "GROUP BY q.doc_id ORDER BY score DESC, doc_id LIMIT 20")
    },
    // s10: per-vector norm is a LEFT-TO-RIGHT double fold in both engines —
    // bit-identical, so MIN/MAX (order-free over identical values) compare
    // exactly; deliberately no AVG (combine order would differ).
    "s10_norm_stats" ->
      ("WITH n AS (SELECT label, sqrt(list_aggregate(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm FROM embeddings) " +
        "SELECT label, COUNT(*) AS n_vecs, MIN(norm) AS min_norm, MAX(norm) AS max_norm " +
        "FROM n GROUP BY label ORDER BY label"),
    "dq2_profile_documents" -> {
      val branches = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct FROM documents"
      }
      branches.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
    },
    // p5's oracle is the single-partition window form the zipWithIndex
    // layout replaces (same relationship as g1 and its oracle).
    "p5_shuffle_order" ->
      ("SELECT (row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)::BIGINT AS shuffle_pos, " +
        "doc_id FROM documents ORDER BY shuffle_pos"),
    // p9: per-source ranks by the p5 hash rule, then a dense ordinal over
    // (rank, source) — (rank, source) is unique (rank is per-source), so
    // the global row_number needs no further tiebreak.
    "p9_source_interleave" ->
      ("WITH r AS (SELECT source, doc_id, row_number() OVER " +
        "(PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT (row_number() OVER (ORDER BY rk, source) - 1)::BIGINT AS epoch_pos, source, doc_id " +
        "FROM r ORDER BY epoch_pos"),
    // p8: p5's hash rule inside doc_id-div blocks; both engines' integer
    // division floors non-negative ids identically.
    "p8_block_shuffle_order" ->
      (s"SELECT ((doc_id // ${Curation.ShuffleBlockDocs}) * ${Curation.ShuffleBlockDocs} + " +
        s"row_number() OVER (PARTITION BY doc_id // ${Curation.ShuffleBlockDocs} " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)::BIGINT AS epoch_pos, " +
        s"(doc_id // ${Curation.ShuffleBlockDocs})::BIGINT AS block_id, doc_id " +
        "FROM documents ORDER BY epoch_pos"),
    "t3_phrase_search" -> phraseOracle,
    // t15 answers t3's contract from the positional index — the index is
    // an access path, not a semantics change, so the oracle is shared.
    "t15_phrase_indexed" -> phraseOracle,
    // w7 mirrors the explode-into-served-windows construction exactly
    // (window anchors = active day + k, cut at the last observed day), so
    // a >windowDays activity gap yields the same absent anchors on both
    // sides. All date arithmetic on integer day offsets.
    "w7_rolling_active_users" ->
      ("WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), " +
        "mx AS (SELECT MAX(CAST(ts AS DATE)) m FROM events), " +
        s"e AS (SELECT day, user_id, day + k::INTEGER AS d FROM du, UNNEST(range(0, ${Retention.RollingWindowDays})) t(k)), " +
        "f AS (SELECT e.* FROM e, mx WHERE d <= m) " +
        "SELECT d AS day, COUNT(DISTINCT CASE WHEN day = d THEN user_id END) AS n_users_1d, " +
        "COUNT(DISTINCT user_id) AS n_users_7d FROM f GROUP BY d ORDER BY day"),
    // d17: size_class = length of the binary representation — both engines
    // define bin() identically on integers, and integer string length is
    // exact where a float log2 could round differently at powers of two.
    "d17_size_histogram" ->
      ("SELECT source, length(bin(n_chars))::BIGINT AS size_class, COUNT(*) AS n_docs " +
        "FROM documents GROUP BY source, size_class ORDER BY source, size_class"),
    // q30's oracle joins on the range predicate alone — the Spark side's
    // bucketing must be invisible in the answer (pure candidate routing).
    "q30_value_band_join" -> {
      val vals = CoreQueries.ValueBands.map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")
      (s"WITH bands(band, lo, hi) AS (VALUES $vals) " +
        "SELECT band, COUNT(*) AS cnt FROM events e JOIN bands b " +
        "ON e.value >= b.lo AND e.value < b.hi GROUP BY band ORDER BY band")
    },
    "d19_dedup_rate_by_source" ->
      ("SELECT source, COUNT(*) AS n_docs, COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups " +
        "FROM documents GROUP BY source ORDER BY source"),
    // a5: correlated nearest-click per purchase; ORDER BY (|Δt|, direction,
    // id) restates the backward-on-tie rule declaratively. µs arithmetic on
    // both engines, like the other asof oracles.
    "a5_nearest_join" ->
      ("SELECT p.event_id AS purchase_id, " +
        "(SELECT c.event_id FROM events c WHERE c.user_id = p.user_id AND c.event_type = 'click' " +
        "ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), " +
        "CASE WHEN epoch_us(c.ts) <= epoch_us(p.ts) THEN 0 ELSE 1 END, c.event_id LIMIT 1) AS click_id " +
        "FROM events p WHERE p.event_type = 'purchase' " +
        "AND EXISTS (SELECT 1 FROM events c WHERE c.user_id = p.user_id AND c.event_type = 'click') " +
        "ORDER BY purchase_id"),
    "u2_new_vs_returning" ->
      ("WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "f AS (SELECT user_id, MIN(day) AS d0 FROM d GROUP BY user_id) " +
        "SELECT d.day, SUM(CASE WHEN d.day = f.d0 THEN 1 ELSE 0 END)::BIGINT AS n_new, " +
        "SUM(CASE WHEN d.day <> f.d0 THEN 1 ELSE 0 END)::BIGINT AS n_returning " +
        "FROM d JOIN f USING (user_id) GROUP BY d.day ORDER BY d.day"),
    // u3: Spark percentile and DuckDB quantile_cont share the (n-1)*p
    // interpolation (parity x2 established); buckets come from strict >
    // against those cut-points, never ntile, so f/m ties sit in the lower
    // bucket identically on both engines (the inverted r_bucket puts
    // cut-point ties in the HIGHER score — same strict-> rule, flipped
    // sign). DuckDB lists are 1-based where
    // Spark's bracket indexing is 0-based — rq[1] here is rq[0] there.
    // r_bucket is INVERTED per RFM convention (4 = most recent quartile).
    // u4: STRING_AGG with ORDER BY (ts, event_id) == the engine's
    // array_sort(struct(ts, event_id, ...)) — both are the same total
    // order, so the joined strings match byte for byte.
    "u3_rfm_segments" ->
      ("WITH cust AS (SELECT o_custkey AS custkey, MAX(o_orderdate) AS last_order, " +
        "COUNT(*)::BIGINT AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS monetary_cents " +
        "FROM orders GROUP BY o_custkey), " +
        "mx AS (SELECT MAX(o_orderdate) AS d_max FROM orders), " +
        "base AS (SELECT custkey, date_diff('day', last_order::DATE, d_max::DATE)::BIGINT AS recency_days, " +
        "n_orders, monetary_cents FROM cust, mx), " +
        "cuts AS (SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rq, " +
        "quantile_cont(n_orders, [0.25, 0.5, 0.75]) AS fq, " +
        "quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS mq FROM base) " +
        "SELECT custkey, recency_days, n_orders, monetary_cents, " +
        "CAST(4 - (CASE WHEN recency_days > rq[1] THEN 1 ELSE 0 END) - (CASE WHEN recency_days > rq[2] THEN 1 ELSE 0 END) - (CASE WHEN recency_days > rq[3] THEN 1 ELSE 0 END) AS BIGINT) AS r_bucket, " +
        "CAST(1 + (CASE WHEN n_orders > fq[1] THEN 1 ELSE 0 END) + (CASE WHEN n_orders > fq[2] THEN 1 ELSE 0 END) + (CASE WHEN n_orders > fq[3] THEN 1 ELSE 0 END) AS BIGINT) AS f_bucket, " +
        "CAST(1 + (CASE WHEN monetary_cents > mq[1] THEN 1 ELSE 0 END) + (CASE WHEN monetary_cents > mq[2] THEN 1 ELSE 0 END) + (CASE WHEN monetary_cents > mq[3] THEN 1 ELSE 0 END) AS BIGINT) AS m_bucket " +
        "FROM base, cuts ORDER BY custkey"),
    "u4_user_event_sequences" ->
      ("SELECT user_id, COUNT(*)::BIGINT AS n_events, " +
        "STRING_AGG(event_type, ' ' ORDER BY ts, event_id) AS seq " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    // w10: trailing 7-OBSERVED-hour median as the exact 4th order statistic
    // (list_sort[4] / sort_array[4]) compared in integer space — no float
    // percentile interpolation to diverge cross-engine.
    "w10_hourly_anomalies" ->
      ("WITH h AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS cnt FROM events GROUP BY 1), " +
        "w AS (SELECT hour, cnt, " +
        "list(cnt) OVER (ORDER BY hour ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS wc FROM h) " +
        "SELECT hour, cnt, list_sort(wc)[4] AS med FROM w " +
        "WHERE len(wc) = 7 AND cnt > 2 * list_sort(wc)[4] ORDER BY hour"),
    // w9: µs gaps via epoch_us, log2 buckets via binary-string length —
    // both exact integers on both engines (same discipline as w8 + d17).
    "w9_gap_histogram" ->
      ("WITH x AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events), " +
        "g AS (SELECT tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap FROM x) " +
        "SELECT CAST(length(bin(gap)) AS BIGINT) AS gap_class, COUNT(*) AS n_gaps " +
        "FROM g WHERE gap IS NOT NULL GROUP BY gap_class ORDER BY gap_class"),
    // w8: the (ts, event_id) double ordering makes the lag deterministic on
    // same-instant events in both engines.
    "w8_event_transitions" ->
      ("WITH x AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events) " +
        "SELECT prev_type, event_type, COUNT(*) AS cnt FROM x WHERE prev_type IS NOT NULL " +
        "GROUP BY prev_type, event_type ORDER BY prev_type, event_type"),
    "d18_source_lang_mix" ->
      ("WITH scored AS (SELECT doc_id, source, " + langScoreSql + " FROM documents) " +
        "SELECT source, CASE " +
        "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en' " +
        "WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de' " +
        "WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr' " +
        "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS lang_pred, " +
        "COUNT(*) AS n_docs FROM scored GROUP BY source, lang_pred ORDER BY source, lang_pred"),
    // q31 (TPC-H Q13): the priority predicate must sit in the JOIN
    // condition — as a WHERE it would erase the zero-order bucket.
    "q31_customer_order_distribution" ->
      ("SELECT c_count, COUNT(*) AS custdist FROM (" +
        "SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
        "GROUP BY c_custkey) t GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    // q32 (TPC-H Q17): 20%-of-average via BIGINT cross-multiplication
    // (5·qty·n < Σqty) — no float average to flip a boundary row.
    "q32_small_qty_revenue" ->
      ("WITH lp AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#4'), " +
        "st AS (SELECT l_partkey, COUNT(*) AS n, SUM(qty) AS s FROM lp GROUP BY 1) " +
        "SELECT CAST(SUM(CAST(lp.l_extendedprice AS DECIMAL(12,2)) * 10000) AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS cnt FROM lp JOIN st USING (l_partkey) WHERE 5 * lp.qty * st.n < st.s"),
    // q33 (TPC-H Q18): grouped-HAVING membership; (total_qty, o_orderkey)
    // is a total order so the LIMIT cut is deterministic in both engines.
    "q33_large_orders" ->
      ("SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date, total_qty " +
        "FROM (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 250) t " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY total_qty DESC, o_orderkey LIMIT 100"),
    // q34 (TPC-H Q21): both quantified predicates decorrelate to per-order
    // supplier counts; grouping is by suppkey (pre-name-join) in both
    // engines so a name collision could never merge two suppliers.
    "q34_waiting_suppliers" ->
      ("WITH fl AS (SELECT l_orderkey, l_suppkey, " +
        "(l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'F'), " +
        "po AS (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS nsupp, " +
        "COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate FROM fl GROUP BY 1), " +
        "w AS (SELECT fl.l_suppkey, COUNT(*) AS numwait FROM fl JOIN po USING (l_orderkey) " +
        "WHERE fl.late AND po.nsupp > 1 AND po.nlate = 1 GROUP BY 1) " +
        "SELECT s_name, numwait FROM w JOIN supplier ON l_suppkey = s_suppkey " +
        "ORDER BY numwait DESC, s_name LIMIT 100"),
    // q36 (TPC-H Q12): two CASE counts in one pass — COUNT(CASE) keeps
    // both columns BIGINT on both engines.
    "q36_late_shipment_priority" ->
      ("SELECT l_returnflag, " +
        "COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count, " +
        "COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // q37 (TPC-H Q22): global positive-balance average by BIGINT
    // cross-multiplication + NOT EXISTS as an anti join.
    "q37_dormant_rich_customers" ->
      ("WITH c AS (SELECT c_custkey, c_nationkey, " +
        "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents FROM customer), " +
        "g AS (SELECT SUM(bal_cents) AS total_cents, COUNT(*) AS n_pos FROM c WHERE bal_cents > 0) " +
        "SELECT c_nationkey, COUNT(*) AS numcust, " +
        "CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents FROM c, g " +
        "WHERE bal_cents * n_pos > total_cents " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    // q40 (TPC-H Q10): aggregate-then-join; top-20 on (revenue, custkey).
    "q40_returned_item_revenue" ->
      ("SELECT c_custkey, c_name, n_name, revenue_e4 FROM (" +
        "SELECT o_custkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' GROUP BY o_custkey) r " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "ORDER BY revenue_e4 DESC, c_custkey LIMIT 20"),
    // q41 (TPC-H Q16 adapted): NOT IN = anti join; COUNT(DISTINCT) census.
    "q41_supplier_diversity" ->
      ("SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#4' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY p_brand, p_size ORDER BY supplier_cnt DESC, p_brand, p_size"),
    // q42 (TPC-H Q7): both directions of one nation pair, per ship year.
    "q42_trade_volume" ->
      ("SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, " +
        "CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_e4 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') OR " +
        "(sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')) " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY supp_nation, cust_nation, yr ORDER BY supp_nation, cust_nation, yr"),
    // q43 (TPC-H Q19): the OR-of-ANDs residual over one equi join.
    "q43_disjunctive_revenue" ->
      ("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_e4, " +
        "COUNT(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey WHERE " +
        "(p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21) OR " +
        "(p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30) OR " +
        "(p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)"),
    // q44 (TPC-H Q14): numerator/denominator as exact e4 BIGINTs.
    "q44_promo_revenue" ->
      ("SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) " +
        "ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT) AS promo_e4, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS total_e4 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'"),
    // q38 (TPC-H Q4): EXISTS with an outer-column lateness predicate —
    // DuckDB keeps the correlated form; the engine's distinct IS the
    // EXISTS.
    "q38_priority_late_orders" ->
      ("SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o " +
        "WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey " +
        "AND l_shipdate > o.o_orderdate + INTERVAL 90 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // q39 (TPC-H Q8): numerator/denominator as exact e4 BIGINTs — the
    // market-share ratio is the consumer's division, never a hashed float.
    "q39_market_share" ->
      ("SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year, " +
        "CAST(SUM(CASE WHEN sn.n_name = 'NATION_1' " +
        "THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) " +
        "ELSE CAST(0 AS DECIMAL(12,2)) END) * 10000 AS BIGINT) AS nation_e4, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS total_e4 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA' " +
        "JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY' " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY o_year ORDER BY o_year"),
    // d28: n15's CTE + the published Num/Den cross-multiplication; docs
    // too short to shingle carry (0,0) and keep.
    "d28_novelty_gate" -> {
      val num = graft.operators.Dedup.NoveltyGateNum
      val den = graft.operators.Dedup.NoveltyGateDen
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "f AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY 1), " +
        "nv AS (SELECT doc_id, COUNT(*) AS n_shingles, " +
        "COUNT(CASE WHEN fd < doc_id THEN 1 END) AS n_seen_before " +
        "FROM sh JOIN f USING (s) GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(nv.n_shingles, 0) AS n_shingles, " +
        "COALESCE(nv.n_seen_before, 0) AS n_seen_before, " +
        s"CASE WHEN COALESCE(nv.n_seen_before, 0) * $den >= COALESCE(nv.n_shingles, 0) * $num " +
        "AND COALESCE(nv.n_shingles, 0) > 0 THEN 'drop' ELSE 'keep' END AS verdict " +
        "FROM documents d LEFT JOIN nv ON d.doc_id = nv.doc_id ORDER BY d.doc_id"
    },
    // q35 (TPC-H Q20): nested IN = two semi-join memberships.
    "q35_excess_shipments" ->
      ("SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (" +
        "SELECT l_suppkey FROM lineitem WHERE l_partkey IN " +
        "(SELECT p_partkey FROM part WHERE p_type = 'PROMO') " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY l_suppkey, l_partkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 50) " +
        "ORDER BY s_suppkey"),
    // n15: d8's shingle convention; counts via COUNT(CASE …) so both
    // columns are BIGINT on both engines (DuckDB SUM(int) would widen).
    "n15_novelty_scores" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "f AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY 1) " +
        "SELECT doc_id, COUNT(*) AS n_shingles, " +
        "COUNT(CASE WHEN fd < doc_id THEN 1 END) AS n_seen_before " +
        "FROM sh JOIN f USING (s) GROUP BY doc_id ORDER BY doc_id"),
    // d26: source-keyed variant of the same shingle convention; integer
    // intersection + set sizes only (Jaccard division left to consumers).
    "d26_source_affinity" ->
      ("WITH toks AS (SELECT source, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, inter, sa.n AS n_a, sb.n AS n_b FROM inter " +
        "JOIN sizes sa ON src_a = sa.source JOIN sizes sb ON src_b = sb.source " +
        "ORDER BY src_a, src_b"),
    // t8: the trigram index is an over-approximation + exact verify, so
    // plain `contains` IS the semantic contract.
    "t8_substring_search" ->
      ("SELECT doc_id FROM documents WHERE contains(text, '" +
        graft.operators.TextAnalysis.SubstringPattern + "') ORDER BY doc_id"),
    // t18: the oracle is the scan-and-filter form — Java regex (Spark
    // rlike) and RE2 (DuckDB regexp_matches) agree on the restricted
    // subset the planner accepts, and both are unanchored finds
    "t18_regex_search" ->
      ("SELECT doc_id FROM documents WHERE regexp_matches(text, '" +
        graft.operators.TextAnalysis.RegexPattern + "') ORDER BY doc_id"),
    // t19: the oracle is the brute levenshtein scan over the vocabulary
    // (both engines implement the standard edit distance — f1's parity);
    // the engine's deletion-neighborhood pruning is exact-complete at
    // distance 1 by the SymSpell argument
    "t19_fuzzy_term_search" ->
      ("WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents), " +
        "v AS (SELECT token, COUNT(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY token) " +
        "SELECT token, levenshtein(token, '" + graft.operators.TextAnalysis.FuzzyProbe + "')::BIGINT AS dist, df " +
        "FROM v WHERE levenshtein(token, '" + graft.operators.TextAnalysis.FuzzyProbe + "') <= 1 ORDER BY token"),
    // t10 = t8 over the maintained (base + delta) trigram index — a doc's
    // gram rows never straddle segments, so maintenance is exact and t8's
    // oracle applies verbatim.
    "t10_substring_incremental" ->
      ("SELECT doc_id FROM documents WHERE contains(text, '" +
        graft.operators.TextAnalysis.SubstringPattern + "') ORDER BY doc_id"),
    // d27: rank-based deciles by integer arithmetic ((rank-1)*10 // n, the
    // same floor division both engines define on BIGINT), d11's
    // tokenization convention, COUNT-only columns.
    "d27_vocab_growth" ->
      ("WITH d AS (SELECT doc_id, text, " +
        "(CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) * 10) " +
        "// (SELECT COUNT(*) FROM documents) AS decile FROM documents), " +
        "tk AS (SELECT decile, UNNEST(string_split(text, ' ')) AS token FROM d), " +
        "fst AS (SELECT token, MIN(decile) AS first_decile FROM tk GROUP BY token), " +
        "npd AS (SELECT first_decile, COUNT(*) AS n_new_tokens FROM fst GROUP BY first_decile), " +
        "dpd AS (SELECT decile, COUNT(*) AS n_docs FROM d GROUP BY decile) " +
        "SELECT dpd.decile, dpd.n_docs, COALESCE(npd.n_new_tokens, 0) AS n_new_tokens, " +
        "CAST(SUM(COALESCE(npd.n_new_tokens, 0)) OVER (ORDER BY dpd.decile " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab " +
        "FROM dpd LEFT JOIN npd ON dpd.decile = npd.first_decile ORDER BY dpd.decile"),
    // v1/v2/v4/v5: the BPE induction IS oracle-checked — unrolled into
    // fixed-depth DuckDB SQL (see bpeMergesOracle below), v4 sharing v1's
    // string under the additive-counts bit-equality contract.
    "v1_bpe_merges"             -> bpeMergesOracle,
    "v4_bpe_merges_incremental" -> bpeMergesOracle,
    "v2_bpe_token_count"        -> bpeTokenCountOracle,
    "v5_bpe_encode"             -> bpeEncodeOracle,
    // round 11: the partsupp-dependent TPC-H canon over the derived table.
    "q45_min_cost_supplier"   -> q45Oracle,
    "q46_important_stock"     -> q46Oracle,
    "q47_top_supplier"        -> q47Oracle,
    "q48_product_profit"      -> q48Oracle,
    "q49_excess_availability" -> q49Oracle,
    // q51: the same island construction in DuckDB's window dialect; both
    // engines' running max over "ROWS ... AND 1 PRECEDING" and inclusive
    // day arithmetic agree exactly on dates.
    "q51_supplier_busy_days" ->
      ("WITH iv AS (SELECT l_suppkey, o_orderdate::DATE AS d0, l_shipdate::DATE AS d1 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "m AS (SELECT l_suppkey, d0, d1, MAX(d1) OVER (PARTITION BY l_suppkey ORDER BY d0, d1 " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv), " +
        "f AS (SELECT l_suppkey, d0, d1, CASE WHEN prev_max IS NULL OR d0 > prev_max THEN 1 ELSE 0 END AS opens FROM m), " +
        "g AS (SELECT l_suppkey, d0, d1, SUM(opens) OVER (PARTITION BY l_suppkey ORDER BY d0, d1 " +
        "ROWS UNBOUNDED PRECEDING) AS island FROM f), " +
        "isl AS (SELECT l_suppkey, island, MIN(d0) AS s, MAX(d1) AS e FROM g GROUP BY l_suppkey, island) " +
        "SELECT l_suppkey, COUNT(*)::BIGINT AS n_busy_periods, " +
        "CAST(SUM(date_diff('day', s, e) + 1) AS BIGINT) AS busy_days " +
        "FROM isl GROUP BY l_suppkey ORDER BY l_suppkey"),
    // q50: the bloom is a pre-filter, never a truth source — the oracle is
    // the PLAIN semi join (exactly d8/d20's shared-oracle discipline).
    "q50_bloom_prefilter_join" ->
      ("SELECT l_suppkey, COUNT(*)::BIGINT AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty FROM lineitem " +
        "WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA') " +
        "GROUP BY l_suppkey ORDER BY l_suppkey"),
    // round 15: the IVF/SQ8/PQ family flipped from rows-only to
    // ARTIFACT-CONDITIONED full oracles — DuckDB reads the engine's
    // exported centroids/codebooks and replays assignment, probe
    // selection, coarse scoring, shortlist, and exact re-rank with the
    // engine's float semantics reproduced bit-for-bit (see the builders
    // above). The planted twins (s4p, s6p, ...) are RETAINED and now
    // adjudicate only the training step, which the artifact conditions
    // away.
    "s4_ann_ivf"              -> (ivfReplayCtes("ivf16") + ivfRankTail("")),
    "s6_ann_ivf_partitioned"  -> (ivfReplayCtes("ivf16") + ivfRankTail("")),
    "s11_ann_ivf_filtered"    -> (ivfReplayCtes("ivf16") + ivfRankTail(" AND e.label = 1")),
    "s12_ann_ivf_incremental" -> (ivfReplayCtes("ivfbase16") + ivfRankTail("")),
    "s14_knn_join_ivf"        -> (ivfReplayCtes("ivf16") + knnIvfTail),
    // b2: the b1 margin pipeline over IVF-PRUNED retrievals — per-vector
    // probes and assignment replayed from the exported centroids (the s14
    // recipe), then the b1 fold/ratio SQL over the pruned candidate
    // relation at the registered knobs (nprobe 4, k 4, threshold 1.05)
    "b2_bitext_margin_ivf"    -> (ivfReplayCtes("ivf16") + bitextIvfTail),
    // b2p: b1's EXACT margin SQL over corpus ∪ the committed bitextplant
    // fixture, restricted to the planted id range — sound against the
    // IVF-pruned engine path by the containment argument in the rung's
    // scaladoc (pruning only shrinks davg's top-4, so margin_pruned ≥
    // margin_full ≈ 1.9 ≫ 1.05, and mutual-nearest at partner cosine
    // ≈ 0.99998 survives any pruning that surfaces the partner, which the
    // near-identical centroid ranking guarantees; BitextSpec pins both).
    // Engine restricts QUERY sides to the planted range pre-join; the
    // oracle mirrors by grouping only planted sids/tids while candidates
    // stay the full opposite half.
    "b2p_bitext_planted" -> bitextPlantedOracle,
    "s9_ann_ivf_quantized"    -> (ivfReplayCtes("ivf16") + sq8Tail),
    "s17_ann_pq"              -> (pqBaseCtes + pqReplayTail("")),
    // b1: the margin pipeline replayed end to end — float-exact cosines,
    // ordered top-k folds (array_agg ORDER BY sliced then list_sum == the
    // engine's sorted sequential aggregate), DOUBLE ratio arithmetic, the
    // registered k=4 / threshold=1.05 operating point inlined
    "b1_bitext_margin_pairs" ->
      ("WITH emb AS (SELECT vec_id, label, embedding FROM embeddings), " +
        "s AS (SELECT vec_id AS sid, embedding AS se FROM emb WHERE label % 2 = 0), " +
        "t AS (SELECT vec_id AS tid, embedding AS te FROM emb WHERE label % 2 = 1), " +
        s"sn AS (SELECT sid, ${fdot("se", "se")} AS nx FROM s), " +
        s"tn AS (SELECT tid, ${fdot("te", "te")} AS nx FROM t), " +
        "sc AS (SELECT s.sid, t.tid, CASE WHEN sn.nx = 0 OR tn.nx = 0 THEN 0.0 ELSE " +
        s"${fdot("s.se", "t.te")} / (sqrt(sn.nx) * sqrt(tn.nx)) END AS cos " +
        "FROM s CROSS JOIN t JOIN sn ON sn.sid = s.sid JOIN tn ON tn.tid = t.tid), " +
        "pers AS (SELECT sid, (array_agg(tid ORDER BY cos DESC, tid))[1] AS nn_tid, " +
        "(array_agg(cos ORDER BY cos DESC, tid))[1] AS nn_cos, " +
        "list_sum((array_agg(cos ORDER BY cos DESC, tid))[1:4]) / least(4, count(*)) AS davg_s FROM sc GROUP BY sid), " +
        "pert AS (SELECT tid, (array_agg(sid ORDER BY cos DESC, sid))[1] AS nn_sid, " +
        "list_sum((array_agg(cos ORDER BY cos DESC, sid))[1:4]) / least(4, count(*)) AS davg_t FROM sc GROUP BY tid) " +
        "SELECT p.sid AS src_id, p.nn_tid AS tgt_id FROM pers p JOIN pert q ON q.tid = p.nn_tid " +
        "WHERE q.nn_sid = p.sid AND p.nn_cos / ((p.davg_s + q.davg_t) / 2.0) >= 1.05 " +
        "ORDER BY src_id"),
    // s2: the LSH path replayed over the exported hyperplanes — signature
    // bits from DOUBLE-product dots (zip_with promotes the float side
    // before multiplying), 4×4-bit band buckets, candidate union, exact
    // float-cosine re-rank
    "s2_ann_lsh" ->
      ("WITH emb AS (SELECT vec_id, embedding FROM embeddings), " +
        s"pl AS (SELECT i, p FROM read_parquet('$AnnArtifactDir/lsh/planes.parquet/*.parquet')), " +
        "sig AS (SELECT e.vec_id, SUM(CASE WHEN " +
        "list_sum(list_transform(range(1, len(e.embedding) + 1), d -> CAST(e.embedding[d] AS DOUBLE) * pl.p[d])) >= 0 " +
        "THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS sig FROM emb e CROSS JOIN pl GROUP BY e.vec_id), " +
        "sbands AS (SELECT vec_id, b, (sig >> (4 * b)::INTEGER) & 15 AS bv FROM sig, UNNEST(range(0, 4)) t(b)), " +
        "qb AS (SELECT b, bv FROM sbands WHERE vec_id = 0), " +
        "cand AS (SELECT DISTINCT sbands.vec_id FROM sbands JOIN qb ON sbands.b = qb.b AND sbands.bv = qb.bv " +
        "WHERE sbands.vec_id <> 0), " +
        "q AS (SELECT embedding AS qe FROM emb WHERE vec_id = 0), " +
        s"vn AS (SELECT vec_id, ${fdot("embedding", "embedding")} AS nx FROM emb), " +
        s"qn AS (SELECT ${fdot("qe", "qe")} AS nq FROM q), " +
        "sc AS (SELECT e.vec_id, CASE WHEN v.nx = 0 OR qn.nq = 0 THEN 0.0 ELSE " +
        s"${fdot("e.embedding", "q.qe")} / (sqrt(v.nx) * sqrt(qn.nq)) END AS cv " +
        "FROM cand c JOIN emb e ON e.vec_id = c.vec_id JOIN vn v ON v.vec_id = e.vec_id CROSS JOIN q CROSS JOIN qn) " +
        "SELECT rnk, vec_id FROM (SELECT ROW_NUMBER() OVER (ORDER BY cv DESC, vec_id)::BIGINT AS rnk, vec_id FROM sc) t " +
        "WHERE rnk <= 10 ORDER BY rnk"),
    "s18_ann_ivf_pq" ->
      (ivfReplayCtes("ivf16") +
        pqReplayTail("JOIN assign ia ON ia.vec_id = c.vec_id AND ia.cl IN (SELECT cl FROM probes) ")),
    "s19_ann_ivf_pq_filtered" ->
      (ivfReplayCtes("ivf16") +
        pqReplayTail("JOIN assign ia ON ia.vec_id = c.vec_id AND ia.cl IN (SELECT cl FROM probes) " +
          "JOIN emb ce ON ce.vec_id = c.vec_id AND ce.label = 1 ")),
    // Still no-oracle (outputs depend on engine-internal sketch state),
    // each with a bounded companion on the correctness board (n3 LEFT
    // this list when the shingle hash became cross-engine; the IVF/SQ8/PQ
    // query paths AND s2's LSH left it in round 15 via oracle-over-
    // artifact above — quantizer TRAINING itself remains twin-gated):
    // dq3_profile_events_approx (spec-bounded within 5% of dq1's
    // exact profile), x3_approx_percentiles, x4_approx_top_users
    // (spec-pinned exact below sketch capacity), x5_approx_distinct_rollup
    // (bounded per-row against exact distinct).
  )

  /** Shared span-window CTEs for the n7/d16 oracles. DuckDB list slice
    * `w[s : s+7]` is 1-based INCLUSIVE (8 tokens), matching Spark's
    * `slice(toks, s+1, 8)`; the range stops differ by the same convention.
    */
  /** The n21/n22 cap rule replayed relationally over any rebuilt
    * `(id, hash_hi, hash_lo)` hash relation — `ctePrefix` must end with a
    * CTE named `hs` carrying exactly those columns. One builder because
    * the engine side is ONE shared core
    * ([[graft.operators.Dedup.dhashPairsCappedFromHashes]]): per-hash
    * occupancy + min-id keeper, n·(n−1)/2 / n_a·n_b latent-pair
    * arithmetic, expansion only at or under the cap (the knob's default,
    * 16, inlined on both sides — the registered operating point).
    */
  private def cappedPairsOracleOver(ctePrefix: String): String =
    ctePrefix +
      ", counts AS (SELECT hash_hi, hash_lo, COUNT(*) AS n, MIN(id) AS keeper " +
      "FROM hs GROUP BY hash_hi, hash_lo), " +
      "same_units AS (SELECT *, n * (n - 1) // 2 AS n_pairs FROM counts WHERE n >= 2), " +
      "same_small AS (SELECT 'pair' AS kind, x.id AS media_a, y.id AS media_b, 0::BIGINT AS dist, 1::BIGINT AS n_pairs " +
      "FROM same_units u JOIN hs x ON u.hash_hi = x.hash_hi AND u.hash_lo = x.hash_lo " +
      "JOIN hs y ON u.hash_hi = y.hash_hi AND u.hash_lo = y.hash_lo AND x.id < y.id " +
      "WHERE u.n_pairs <= 16), " +
      "same_big AS (SELECT 'group' AS kind, keeper AS media_a, keeper AS media_b, 0::BIGINT AS dist, n_pairs::BIGINT AS n_pairs " +
      "FROM same_units WHERE n_pairs > 16), " +
      "cross_units AS (SELECT a.hash_hi AS ha_hi, a.hash_lo AS ha_lo, b.hash_hi AS hb_hi, b.hash_lo AS hb_lo, " +
      "(bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)))::BIGINT AS dist, " +
      "a.n * b.n AS n_pairs, a.keeper AS ka, b.keeper AS kb " +
      "FROM counts a JOIN counts b ON (a.hash_hi, a.hash_lo) < (b.hash_hi, b.hash_lo) " +
      s"WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) BETWEEN 1 AND ${Dedup.DhashHammingMax}), " +
      "cross_small AS (SELECT 'pair' AS kind, LEAST(x.id, y.id) AS media_a, GREATEST(x.id, y.id) AS media_b, u.dist, 1::BIGINT AS n_pairs " +
      "FROM cross_units u JOIN hs x ON u.ha_hi = x.hash_hi AND u.ha_lo = x.hash_lo " +
      "JOIN hs y ON u.hb_hi = y.hash_hi AND u.hb_lo = y.hash_lo WHERE u.n_pairs <= 16), " +
      "cross_big AS (SELECT 'xgroup' AS kind, LEAST(ka, kb) AS media_a, GREATEST(ka, kb) AS media_b, dist, n_pairs::BIGINT AS n_pairs " +
      "FROM cross_units WHERE n_pairs > 16) " +
      "SELECT kind, media_a, media_b, dist, n_pairs FROM " +
      "(SELECT * FROM same_small UNION ALL SELECT * FROM same_big " +
      "UNION ALL SELECT * FROM cross_small UNION ALL SELECT * FROM cross_big) " +
      "ORDER BY kind, media_a, media_b, dist"

  // ---- round-15: oracle-over-artifact for the ANN family ----------------
  //
  // The DuckDB oracle cannot recompute k-means training (engine-internal
  // distributed float iteration — the planted twins still adjudicate that
  // step), but it CAN read the engine's persisted training artifacts
  // (IVF centroids, PQ codebooks — exported to a fixed path on every
  // query run, `Similarity.OracleArtifactDir`) and replay EVERYTHING
  // downstream relationally: cluster assignment, probe selection, coarse
  // scoring, shortlist, exact re-rank. The replay reproduces the engine's
  // float semantics bit-for-bit (verified primitive by primitive):
  //   - CosineSimilarity / NearestCentroids score with FLOAT-rounded
  //     products accumulated in DOUBLE in index order — DuckDB FLOAT*FLOAT
  //     is float-rounded and list_sum folds sequentially, so
  //     `CAST(a[i]*b[i] AS DOUBLE)` summed matches exactly;
  //   - driver-side probe selection (cosLocal) uses DOUBLE products;
  //   - ties break to the smallest cluster/codeword index (ROW_NUMBER
  //     with the index as the secondary key).

  private val AnnArtifactDir: String = graft.operators.Similarity.OracleArtifactDir

  /** Float-product dot (CosineSimilarity/NearestCentroids semantics). */
  private def fdot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] * $b[i] AS DOUBLE)))"

  /** Double-product dot (cosLocal / probeIds / PQ-norm semantics). */
  private def ddot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** The IVF query path over the exported centroids at the registered
    * operating point (nClusters 16, nProbe 4, queryId 0): CTEs `emb`,
    * `cent`, `q`, `vn`/`cn` (per-vector / per-centroid norm sums in BOTH
    * precisions), `ac` (assignment cosines, float products), `assign`
    * (argmax, smallest-cl tie), `qp`/`probes` (query-to-centroid cosines,
    * DOUBLE products — the driver-side probeIds path).
    */
  private def ivfReplayCtes(centSub: String): String =
    "WITH emb AS (SELECT vec_id, label, embedding FROM embeddings), " +
      s"cent AS (SELECT cl, centroid FROM read_parquet('$AnnArtifactDir/$centSub/centroids.parquet/*.parquet')), " +
      "q AS (SELECT embedding AS qe FROM emb WHERE vec_id = 0), " +
      s"vn AS (SELECT vec_id, ${fdot("embedding", "embedding")} AS nx FROM emb), " +
      s"cn AS (SELECT cl, ${fdot("centroid", "centroid")} AS ncf, ${ddot("centroid", "centroid")} AS ncd FROM cent), " +
      "ac AS (SELECT e.vec_id, c.cl, CASE WHEN v.nx = 0 OR n.ncf = 0 THEN 0.0 ELSE " +
      s"${fdot("e.embedding", "c.centroid")} / (sqrt(v.nx) * sqrt(n.ncf)) END AS cv " +
      "FROM emb e CROSS JOIN cent c JOIN vn v ON v.vec_id = e.vec_id JOIN cn n ON n.cl = c.cl), " +
      "assign AS (SELECT vec_id, cl FROM (SELECT vec_id, cl, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cv DESC, cl) AS rn FROM ac) WHERE rn = 1), " +
      s"qp AS (SELECT c.cl, CASE WHEN ${ddot("q.qe", "q.qe")} = 0 OR n.ncd = 0 THEN 0.0 ELSE " +
      s"${ddot("q.qe", "c.centroid")} / (sqrt(${ddot("q.qe", "q.qe")}) * sqrt(n.ncd)) END AS cv " +
      "FROM cent c CROSS JOIN q JOIN cn n ON n.cl = c.cl), " +
      "probes AS (SELECT cl FROM (SELECT cl, ROW_NUMBER() OVER (ORDER BY cv DESC, cl) AS rn FROM qp) WHERE rn <= 4) "

  /** rankTopK's (rnk, vec_id) tail over float-product cosines of the
    * probed candidates vs the query (`extraWhere` narrows the candidate
    * set — s11's label filter).
    */
  private def ivfRankTail(extraWhere: String): String =
    ", cand AS (SELECT e.vec_id, e.embedding, v.nx FROM emb e " +
      "JOIN assign a ON a.vec_id = e.vec_id JOIN vn v ON v.vec_id = e.vec_id " +
      s"WHERE a.cl IN (SELECT cl FROM probes) AND e.vec_id <> 0$extraWhere), " +
      s"qn AS (SELECT ${fdot("qe", "qe")} AS nq FROM q), " +
      "sc AS (SELECT c.vec_id, CASE WHEN c.nx = 0 OR qn.nq = 0 THEN 0.0 ELSE " +
      s"${fdot("c.embedding", "q.qe")} / (sqrt(c.nx) * sqrt(qn.nq)) END AS cv " +
      "FROM cand c CROSS JOIN q CROSS JOIN qn) " +
      "SELECT rnk, vec_id FROM (SELECT ROW_NUMBER() OVER (ORDER BY cv DESC, vec_id)::BIGINT AS rnk, vec_id FROM sc) t " +
      "WHERE rnk <= 10 ORDER BY rnk"

  /** The PQ coarse pass + exact re-rank over the exported codebooks
    * (M=8 subspaces × 8 dims, K=32 codewords, shortlist 200, k 10):
    * code assignment replays pqAssignCol's L2 argmin (double products of
    * float-exact values, smallest-j tie), the ADC table replays the
    * driver's double subspace dots, the numerator folds table entries in
    * subspace order, and the stored `norm` replays as the DOUBLE-product
    * norm. `candJoin` restricts the coarse pass (s18/s19's IVF gate);
    * the final tail is the exact float re-rank.
    */
  private def pqReplayTail(candJoin: String): String =
    s", cb AS (SELECT s, j, cw FROM read_parquet('$AnnArtifactDir/pq/codebooks.parquet/*.parquet')), " +
      "pdist AS (SELECT e.vec_id, cb.s, cb.j, " +
      "list_sum(list_transform(range(1, 9), d -> " +
      "(CAST(e.embedding[CAST(cb.s * 8 + d AS INTEGER)] AS DOUBLE) - CAST(cb.cw[d] AS DOUBLE)) * " +
      "(CAST(e.embedding[CAST(cb.s * 8 + d AS INTEGER)] AS DOUBLE) - CAST(cb.cw[d] AS DOUBLE)))) AS l2 " +
      "FROM emb e CROSS JOIN cb), " +
      "codes AS (SELECT vec_id, s, j FROM (SELECT vec_id, s, j, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY l2, j) AS rn FROM pdist) WHERE rn = 1), " +
      s"nrm AS (SELECT vec_id, sqrt(${ddot("embedding", "embedding")}) AS nv FROM emb), " +
      s"pqn AS (SELECT sqrt(${ddot("qe", "qe")}) AS nq FROM q), " +
      "tbl AS (SELECT cb.s, cb.j, list_sum(list_transform(range(1, 9), d -> " +
      "CAST(q.qe[CAST(cb.s * 8 + d AS INTEGER)] AS DOUBLE) * CAST(cb.cw[d] AS DOUBLE))) AS t " +
      "FROM cb CROSS JOIN q), " +
      "adc AS (SELECT c.vec_id, list_sum(array_agg(t.t ORDER BY c.s)) AS num " +
      "FROM codes c JOIN tbl t ON t.s = c.s AND t.j = c.j " +
      candJoin +
      "GROUP BY c.vec_id), " +
      "acands AS (SELECT a.vec_id, a.num / (n.nv * pqn.nq) AS av FROM adc a " +
      "JOIN nrm n ON n.vec_id = a.vec_id CROSS JOIN pqn WHERE a.vec_id <> 0 AND n.nv > 0), " +
      "short AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY av DESC, vec_id) AS rn FROM acands) WHERE rn <= 200), " +
      s"rqn AS (SELECT ${fdot("qe", "qe")} AS nq FROM q), " +
      "rsc AS (SELECT e.vec_id, CASE WHEN v.nx = 0 OR rqn.nq = 0 THEN 0.0 ELSE " +
      s"${fdot("e.embedding", "q.qe")} / (sqrt(v.nx) * sqrt(rqn.nq)) END AS cv " +
      "FROM short s JOIN emb e ON e.vec_id = s.vec_id JOIN vn v ON v.vec_id = e.vec_id CROSS JOIN q CROSS JOIN rqn) " +
      "SELECT rnk, vec_id FROM (SELECT ROW_NUMBER() OVER (ORDER BY cv DESC, vec_id)::BIGINT AS rnk, vec_id FROM rsc) t " +
      "WHERE rnk <= 10 ORDER BY rnk"

  /** s17's CTE base when no IVF gate precedes the PQ pass. */
  private def pqBaseCtes: String =
    "WITH emb AS (SELECT vec_id, label, embedding FROM embeddings), " +
      "q AS (SELECT embedding AS qe FROM emb WHERE vec_id = 0), " +
      s"vn AS (SELECT vec_id, ${fdot("embedding", "embedding")} AS nx FROM emb) "

  /** s14's tail: per-vector probes (NearestCentroids float semantics —
    * the in-engine probeIdsCol, not the driver's double path), candidates
    * from the replayed assignment, per-query top-3 by (cos desc, nbr id).
    */
  private val knnIvfTail: String =
    ", probesv AS (SELECT vec_id, cl FROM (SELECT vec_id, cl, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cv DESC, cl) AS rn FROM ac) WHERE rn <= 4), " +
      "ksc AS (SELECT p.vec_id, a.vec_id AS nbr_id, CASE WHEN vq.nx = 0 OR vb.nx = 0 THEN 0.0 ELSE " +
      s"${fdot("eq.embedding", "en.embedding")} / (sqrt(vq.nx) * sqrt(vb.nx)) END AS cv " +
      "FROM probesv p JOIN assign a ON a.cl = p.cl AND a.vec_id <> p.vec_id " +
      "JOIN emb eq ON eq.vec_id = p.vec_id JOIN emb en ON en.vec_id = a.vec_id " +
      "JOIN vn vq ON vq.vec_id = p.vec_id JOIN vn vb ON vb.vec_id = a.vec_id) " +
      "SELECT vec_id, rnk, nbr_id FROM (SELECT vec_id, nbr_id, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cv DESC, nbr_id)::BIGINT AS rnk FROM ksc) t " +
      "WHERE rnk <= 3 ORDER BY vec_id, rnk"

  /** b2's tail: the b1 margin pipeline over IVF-PRUNED retrievals. Per-
    * vector probes replay probeIdsCol's float semantics from the exported
    * centroids (the s14 `probesv` recipe, nprobe 4), assignment comes from
    * the replayed `assign`, and each directed retrieval scores only the
    * opposite half's members of the probed clusters — a (query, candidate)
    * pair arises at most once because every candidate is assigned to
    * exactly one cluster. The per-side fold is b1's ordered-aggregate
    * slice with the `least(k, count)` divisor the shared bitextSideStats
    * uses (a pruned neighborhood can hold fewer than k candidates; the
    * constant-k divisor would deflate davg there), then the identical
    * mutual-nearest + ratio-threshold tail at the registered knobs
    * (k 4, threshold 1.05).
    */
  private val bitextIvfTail: String =
    ", probesv AS (SELECT vec_id, cl FROM (SELECT vec_id, cl, " +
      "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cv DESC, cl) AS rn FROM ac) WHERE rn <= 4), " +
      "scf AS (SELECT p.vec_id AS sid, a.vec_id AS tid, CASE WHEN vq.nx = 0 OR vb.nx = 0 THEN 0.0 ELSE " +
      s"${fdot("eq.embedding", "en.embedding")} / (sqrt(vq.nx) * sqrt(vb.nx)) END AS cos " +
      "FROM probesv p JOIN emb eq ON eq.vec_id = p.vec_id AND eq.label % 2 = 0 " +
      "JOIN assign a ON a.cl = p.cl JOIN emb en ON en.vec_id = a.vec_id AND en.label % 2 = 1 " +
      "JOIN vn vq ON vq.vec_id = p.vec_id JOIN vn vb ON vb.vec_id = a.vec_id), " +
      "scb AS (SELECT a.vec_id AS sid, p.vec_id AS tid, CASE WHEN vq.nx = 0 OR vb.nx = 0 THEN 0.0 ELSE " +
      s"${fdot("eq.embedding", "en.embedding")} / (sqrt(vq.nx) * sqrt(vb.nx)) END AS cos " +
      "FROM probesv p JOIN emb eq ON eq.vec_id = p.vec_id AND eq.label % 2 = 1 " +
      "JOIN assign a ON a.cl = p.cl JOIN emb en ON en.vec_id = a.vec_id AND en.label % 2 = 0 " +
      "JOIN vn vq ON vq.vec_id = p.vec_id JOIN vn vb ON vb.vec_id = a.vec_id), " +
      "pers AS (SELECT sid, (array_agg(tid ORDER BY cos DESC, tid))[1] AS nn_tid, " +
      "(array_agg(cos ORDER BY cos DESC, tid))[1] AS nn_cos, " +
      "list_sum((array_agg(cos ORDER BY cos DESC, tid))[1:4]) / least(4, count(*)) AS davg_s FROM scf GROUP BY sid), " +
      "pert AS (SELECT tid, (array_agg(sid ORDER BY cos DESC, sid))[1] AS nn_sid, " +
      "list_sum((array_agg(cos ORDER BY cos DESC, sid))[1:4]) / least(4, count(*)) AS davg_t FROM scb GROUP BY tid) " +
      "SELECT p.sid AS src_id, p.nn_tid AS tgt_id FROM pers p JOIN pert q2 ON q2.tid = p.nn_tid " +
      "WHERE q2.nn_sid = p.sid AND p.nn_cos / ((p.davg_s + q2.davg_t) / 2.0) >= 1.05 " +
      "ORDER BY src_id"

  /** b2p's oracle: the b1 exact margin pipeline (float-product cosines,
    * ordered top-k folds, DOUBLE ratio arithmetic, registered k=4 /
    * threshold=1.05) over corpus ∪ the committed bitextplant fixture,
    * with per-side stats GROUPED only over the planted id range (the
    * engine restricts its query sides identically) while each planted
    * side's neighborhood remains the FULL opposite half — the oracle
    * answers "what does exact mining say about the planted ids", which
    * equals the pruned path's answer by the containment argument.
    */
  private val bitextPlantedOracle: String =
    ("WITH emb AS (SELECT vec_id, label, embedding FROM embeddings UNION ALL " +
      "SELECT vec_id, label, embedding FROM read_parquet('" + graft.Fixtures.dir + "/bitextplant/embeddings.parquet/*.parquet')), " +
      "s AS (SELECT vec_id AS sid, embedding AS se FROM emb WHERE label % 2 = 0), " +
      "t AS (SELECT vec_id AS tid, embedding AS te FROM emb WHERE label % 2 = 1), " +
      s"sn AS (SELECT sid, ${fdot("se", "se")} AS nx FROM s), " +
      s"tn AS (SELECT tid, ${fdot("te", "te")} AS nx FROM t), " +
      "sc AS (SELECT s.sid, t.tid, CASE WHEN sn.nx = 0 OR tn.nx = 0 THEN 0.0 ELSE " +
      s"${fdot("s.se", "t.te")} / (sqrt(sn.nx) * sqrt(tn.nx)) END AS cos " +
      "FROM s CROSS JOIN t JOIN sn ON sn.sid = s.sid JOIN tn ON tn.tid = t.tid " +
      "WHERE s.sid BETWEEN 2100000 AND 2100005 OR t.tid BETWEEN 2100000 AND 2100005), " +
      "pers AS (SELECT sid, (array_agg(tid ORDER BY cos DESC, tid))[1] AS nn_tid, " +
      "(array_agg(cos ORDER BY cos DESC, tid))[1] AS nn_cos, " +
      "list_sum((array_agg(cos ORDER BY cos DESC, tid))[1:4]) / least(4, count(*)) AS davg_s " +
      "FROM sc WHERE sid BETWEEN 2100000 AND 2100005 GROUP BY sid), " +
      "pert AS (SELECT tid, (array_agg(sid ORDER BY cos DESC, sid))[1] AS nn_sid, " +
      "list_sum((array_agg(cos ORDER BY cos DESC, sid))[1:4]) / least(4, count(*)) AS davg_t " +
      "FROM sc WHERE tid BETWEEN 2100000 AND 2100005 GROUP BY tid) " +
      "SELECT p.sid AS src_id, p.nn_tid AS tgt_id FROM pers p JOIN pert q ON q.tid = p.nn_tid " +
      "WHERE q.nn_sid = p.sid AND p.nn_cos / ((p.davg_s + q.davg_t) / 2.0) >= 1.05 " +
      "ORDER BY src_id")

  /** s9's tail: the SQ8 coarse pass replayed (q8 quantization from the
    * layout's exact formula — integer codes, so float and double products
    * coincide exactly), shortlist 50, exact float re-rank, k 10.
    */
  private val sq8Tail: String =
    ", q8 AS (SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 127.0 / " +
      "CAST(greatest(CAST(1e-30 AS FLOAT), list_max(list_transform(embedding, y -> abs(y)))) AS DOUBLE))) AS qc FROM emb), " +
      "q8n AS (SELECT vec_id, list_sum(list_transform(qc, x -> x * x)) AS n8 FROM q8), " +
      "qq AS (SELECT q8.qc AS qqc, q8n.n8 AS qn8 FROM q8 JOIN q8n ON q8.vec_id = q8n.vec_id WHERE q8.vec_id = 0), " +
      "coarse AS (SELECT s.vec_id, CASE WHEN n.n8 = 0 OR qq.qn8 = 0 THEN 0.0 ELSE " +
      "list_sum(list_transform(range(1, len(s.qc) + 1), i -> s.qc[i] * qq.qqc[i])) / (sqrt(n.n8) * sqrt(qq.qn8)) END AS av " +
      "FROM q8 s JOIN q8n n ON n.vec_id = s.vec_id JOIN assign a ON a.vec_id = s.vec_id CROSS JOIN qq " +
      "WHERE a.cl IN (SELECT cl FROM probes) AND s.vec_id <> 0), " +
      "short AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY av DESC, vec_id) AS rn FROM coarse) WHERE rn <= 50), " +
      s"qn AS (SELECT ${fdot("qe", "qe")} AS nq FROM q), " +
      "sc AS (SELECT e.vec_id, CASE WHEN v.nx = 0 OR qn.nq = 0 THEN 0.0 ELSE " +
      s"${fdot("e.embedding", "q.qe")} / (sqrt(v.nx) * sqrt(qn.nq)) END AS cv " +
      "FROM short s JOIN emb e ON e.vec_id = s.vec_id JOIN vn v ON v.vec_id = e.vec_id CROSS JOIN q CROSS JOIN qn) " +
      "SELECT rnk, vec_id FROM (SELECT ROW_NUMBER() OVER (ORDER BY cv DESC, vec_id)::BIGINT AS rnk, vec_id FROM sc) t " +
      "WHERE rnk <= 10 ORDER BY rnk"

  /** Shared CTE prefix for the m10/n20 oracles: the WAV quarter's PCM
    * samples rebuilt from m6's exact formula (v = ((i·7+id) mod 256) −
    * 128), nearest-resampled into 65 time slices (k = i·65 div n),
    * per-slice Σ|v| densified so EMPTY slices carry energy 0 (the `cells`
    * cross join — a correlated LEFT JOIN over the lateral UNNEST is not
    * supported, hence the subquery shape), then 64 adjacent-difference
    * bits packed as two 32-bit BIGINT halves.
    */
  /** The n20/n22t pair select over the rebuilt `ahashes` CTE. */
  private val AudioPairTail: String =
    "SELECT a.id AS media_a, b.id AS media_b, " +
      "(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::BIGINT AS dist " +
      "FROM ahashes a JOIN ahashes b ON a.id < b.id " +
      s"WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= ${Dedup.DhashHammingMax} " +
      "ORDER BY media_a, media_b"

  /** The n24/n24t pair select over the rebuilt `vhashes` CTE. */
  private val VideoPairTail: String =
    "SELECT a.id AS media_a, b.id AS media_b, " +
      "(bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)))::BIGINT AS dist " +
      "FROM vhashes a JOIN vhashes b ON a.id < b.id " +
      s"WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) <= ${Dedup.DhashHammingMax} " +
      "ORDER BY media_a, media_b"

  private val AudioHashCte: String = audioHashCte("")

  /** The audio CTE with an extra survivor filter — n22t's takedown oracle
    * rebuilds envelopes for surviving recordings only (the n17t recipe).
    */
  private def audioHashCte(extra: String): String =
    "WITH d AS (SELECT doc_id AS id, LEAST(GREATEST(n_chars, 1), 64) AS n " +
      s"FROM documents WHERE doc_id % 4 = 1$extra), " +
      s"s AS (SELECT id, (i * ${Multimodal.AudioHashSlices} // n)::BIGINT AS k, " +
      "ABS(((i * 7 + id) % 256) - 128) AS av FROM d, UNNEST(range(0, n)) AS t(i)), " +
      "e AS (SELECT id, k, SUM(av) AS ek FROM s GROUP BY id, k), " +
      s"cells AS (SELECT id, k FROM (SELECT id FROM d) dd, UNNEST(range(0, ${Multimodal.AudioHashSlices})) AS gk(k)), " +
      "grid AS (SELECT cells.id, cells.k, COALESCE(e.ek, 0) AS ek FROM cells LEFT JOIN e ON e.id = cells.id AND e.k = cells.k), " +
      "abits AS (SELECT g1.id, CASE WHEN g1.ek > g2.ek THEN 1 ELSE 0 END AS bit, g1.k AS k " +
      "FROM grid g1 JOIN grid g2 ON g1.id = g2.id AND g2.k = g1.k + 1 WHERE g1.k < 64), " +
      "ahashes AS (SELECT id, " +
      "SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
      "SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo " +
      "FROM abits GROUP BY id) "

  /** Shared CTE prefix for the m11/n24/n25/n26 oracles: the MP4 quarter's
    * keyframes rebuilt from the synthetic container's arithmetic (sample
    * i has (i mod 5)+1 bytes, each (i·13+id) mod 256, sync every 4th —
    * the m4 contract), fingerprinted with md5 over the same lowercase-hex
    * rendering the engine hashes (`lower(hex(payload))` ==
    * `repeat(lpad(to_hex(byte), 2, '0'), len)`), halved via the n3
    * cross-engine recipe, then the per-bit majority vote packed back into
    * two 32-bit halves. The oracle therefore checks demux + keyframe
    * extraction + fingerprint + simhash end to end.
    */
  private val VideoHashCte: String = videoHashCte("")

  /** The video CTE with an extra survivor filter — n24t's takedown oracle
    * demuxes and fingerprints surviving containers only.
    */
  private def videoHashCte(extra: String): String =
    s"WITH d AS (SELECT doc_id AS id, LEAST(n_chars, 50) AS samples FROM documents WHERE doc_id % 4 = 3$extra), " +
      "kf AS (SELECT id, (i + 1)::BIGINT AS frame_no, " +
      "repeat(lpad(lower(to_hex((i * 13 + id) % 256)), 2, '0'), ((i % 5) + 1)::INTEGER) AS hx " +
      "FROM d, UNNEST(range(0, samples)) AS t(i) WHERE i % 4 = 0), " +
      "kh AS (SELECT id, frame_no, " +
      "('0x' || substr(md5(hx), 1, 8))::BIGINT AS hash_hi, " +
      "('0x' || substr(md5(hx), 9, 8))::BIGINT AS hash_lo FROM kf), " +
      "vbits AS (SELECT id, k, CASE WHEN 2 * SUM(CASE WHEN k >= 32 " +
      "THEN (hash_hi // (1::BIGINT << (k - 32))) % 2 " +
      "ELSE (hash_lo // (1::BIGINT << k)) % 2 END) > COUNT(*) THEN 1 ELSE 0 END AS bit " +
      "FROM kh, UNNEST(range(0, 64)) AS g(k) GROUP BY id, k), " +
      "vhashes AS (SELECT id, " +
      "SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hash_hi, " +
      "SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS hash_lo " +
      "FROM vbits GROUP BY id) "

  /** Shared CTE prefix for the m9/n17 oracles: the PGM quarter's pixels
    * nearest-resized to the 9×8 dHash grid, reduced to the 64 horizontal
    * difference bits — all integer arithmetic over `documents` columns
    * (px(i) = (i·31+id) mod 256; sy = r·h div 8, sx = c·w div 9).
    */
  private val DhashGridCte: String = dhashGridCte("")

  /** The n19/n19t LSS oracle over an optionally-filtered document set. */
  private def lssOracleSql(docWhere: String): String =
    s"WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents$docWhere), " +
      "k AS (SELECT DISTINCT doc_id, L::BIGINT AS len, md5(array_to_string(w[p : p + L - 1], ' ')) AS fp " +
      "FROM t, UNNEST(range(1, least(len(w), 16) + 1)) rl(L), UNNEST(range(1, len(w) + 1)) rp(p) " +
      "WHERE p + L - 1 <= len(w)), " +
      "sh AS (SELECT len, fp FROM k GROUP BY len, fp HAVING count(DISTINCT doc_id) >= 2), " +
      "per AS (SELECT doc_id, k.len, min(k.fp) AS fp FROM k JOIN sh ON k.len = sh.len AND k.fp = sh.fp " +
      "GROUP BY doc_id, k.len) " +
      "SELECT doc_id, max(len)::BIGINT AS lss_len, max_by(fp, len) AS lss_fp " +
      "FROM per GROUP BY doc_id ORDER BY doc_id"

  /** The n17/n17t pair select over a `bits` CTE (hash rebuild + brute
    * Hamming join — exact at oracle scale).
    */
  private val DhashPairTail: String =
    ", hashes AS (SELECT id, " +
      "SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hash_hi, " +
      "SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS hash_lo " +
      "FROM bits GROUP BY id) " +
      "SELECT a.id AS media_a, b.id AS media_b, " +
      "(bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)))::BIGINT AS dist " +
      "FROM hashes a JOIN hashes b ON a.id < b.id " +
      s"WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) <= ${Dedup.DhashHammingMax} " +
      "ORDER BY media_a, media_b"

  /** [[DhashGridCte]] with an extra predicate on the raster set — the
    * n17t takedown oracle rebuilds hashes for the SURVIVING rasters only.
    */
  private def dhashGridCte(extraWhere: String): String =
    "WITH d AS (SELECT doc_id AS id, (doc_id % 14 + 2)::BIGINT AS w, (doc_id % 10 + 1)::BIGINT AS h " +
      s"FROM documents WHERE doc_id % 4 = 0$extraWhere), " +
      "g AS (SELECT id, r, c, ((((r * h // 8) * w + (c * w // 9)) * 31 + id) % 256) AS px " +
      "FROM d, UNNEST(range(0, 8)) AS a(r), UNNEST(range(0, 9)) AS b(c)), " +
      "bits AS (SELECT g1.id, CASE WHEN g1.px > g2.px THEN 1 ELSE 0 END AS bit, " +
      "(g1.r * 8 + g1.c)::BIGINT AS k " +
      "FROM g g1 JOIN g g2 ON g1.id = g2.id AND g1.r = g2.r AND g2.c = g1.c + 1 WHERE g1.c < 8) "

  private val spanCtePrefix: String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sp AS (SELECT DISTINCT doc_id, md5(array_to_string(w[s : s + " + (Dedup.SpanTokens - 1) + "], ' ')) AS span_fp " +
      "FROM toks, UNNEST(range(1, len(w) - " + (Dedup.SpanTokens - 2) + ")) t(s)) "

  /** v3/d21's shared score CTE — the engine's BigramLmSql replayed on
    * DuckDB's own tokenize; `q` carries the 1e-6-quantized per-doc score.
    */
  private val lmScoreCte: String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM tok, UNNEST(range(1, len(w))) t(i) WHERE len(w) >= 2), " +
      "cc AS (SELECT *, COUNT(*) OVER (PARTITION BY w1, w2) AS cb, COUNT(*) OVER (PARTITION BY w1) AS cu FROM bi), " +
      "v AS (SELECT COUNT(DISTINCT tt.token) AS vv FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents) tt), " +
      s"s AS (SELECT doc_id, AVG(${TextAnalysis.BigramLmSql}) AS score FROM cc, v GROUP BY doc_id), " +
      "q AS (SELECT doc_id, CAST(round(score * 1000000.0) AS BIGINT) AS lm_q FROM s)"

  /** t4/t6's shared BM25 oracle — the engine's Bm25ContribSql replayed on
    * DuckDB's own tokenize; the ranking key is the 1e-6-quantized score, so
    * the ≤ulp cross-engine ln() difference cannot flip a rank.
    */
  private val qlOracle: String = {
    val terms = TextAnalysis.KeywordTerms.distinct
    val inList = terms.map(t => s"'$t'").mkString(", ")
    ("WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
      "UNNEST(string_split(text, ' ')) AS token FROM documents), " +
      s"tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok WHERE token IN ($inList) GROUP BY doc_id, dl, token), " +
      "d AS (SELECT *, SUM(tf) OVER (PARTITION BY token) AS cf FROM tf), " +
      "st AS (SELECT SUM(len(string_split(text, ' '))) AS ctot FROM documents), " +
      s"sc AS (SELECT doc_id, dl, SUM(${TextAnalysis.QlContribSql}) AS msum FROM d, st GROUP BY doc_id, dl), " +
      s"q AS (SELECT doc_id, CAST(round((msum + ${TextAnalysis.qlLenSql(terms.length)}) * 1000000.0) AS BIGINT) AS qs FROM sc) " +
      "SELECT CAST(row_number() OVER (ORDER BY qs DESC, doc_id) AS BIGINT) AS rnk, doc_id FROM q " +
      "ORDER BY qs DESC, doc_id LIMIT 20")
  }

  /** The BM25 ranking oracle over an arbitrary document relation — the
    * corpus for t4/t6/t7/t16, the tombstone-survivor slice for t17.
    */
  private def bm25OracleOver(docsRel: String): String = {
    val terms = TextAnalysis.KeywordTerms.distinct.map(t => s"'$t'").mkString(", ")
    (s"WITH docs AS ($docsRel), " +
      "tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, " +
      "UNNEST(string_split(text, ' ')) AS token FROM docs), " +
      s"tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok WHERE token IN ($terms) GROUP BY doc_id, dl, token), " +
      "d AS (SELECT *, COUNT(*) OVER (PARTITION BY token) AS df FROM tf), " +
      "st AS (SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl FROM docs), " +
      s"sc AS (SELECT doc_id, SUM(${TextAnalysis.Bm25ContribSql}) AS score FROM d, st GROUP BY doc_id), " +
      "q AS (SELECT doc_id, CAST(round(score * 1000000.0) AS BIGINT) AS qs FROM sc) " +
      "SELECT CAST(row_number() OVER (ORDER BY qs DESC, doc_id) AS BIGINT) AS rnk, doc_id FROM q " +
      "ORDER BY qs DESC, doc_id LIMIT 20")
  }

  private val bm25Oracle: String = bm25OracleOver("SELECT * FROM documents")

  /** t17: the SAME ranking contract over the takedown survivors — a
    * from-scratch index over `documents` minus the tombstone rule IS the
    * masked maintained index's answer (df shrinks with deleted carriers,
    * stats subtract exactly).
    */
  private val bm25TombstonedOracle: String =
    bm25OracleOver("SELECT * FROM documents WHERE NOT (doc_id % 10 = 3)")

  // d22: both engines accumulate the dot/norm folds left-to-right in double
  // over the same float arrays (the n4/s1 parity), so cosine compares and
  // the per-vector argmax agree; output is integer-only.
  private val d22Oracle: String =
    "WITH b AS (SELECT vec_id AS bench_id, embedding AS bv FROM embeddings WHERE vec_id % 50 = 0), " +
      "s AS (SELECT e.vec_id, b.bench_id, list_cosine_similarity(e.embedding, b.bv) AS c " +
      "FROM embeddings e, b WHERE e.vec_id % 50 <> 0) " +
      "SELECT vec_id, bench_id AS nearest_bench_id, n_close FROM (" +
      "SELECT vec_id, bench_id, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, bench_id) AS rnk, " +
      "CAST(SUM(CASE WHEN c >= 0.5 THEN 1 ELSE 0 END) OVER (PARTITION BY vec_id) AS BIGINT) AS n_close " +
      "FROM s) t WHERE rnk = 1 ORDER BY vec_id"

  // Exact brute-force top-5 for the planted query over corpus ∪ the
  // committed annplant fixture — ONE string shared by every single-query
  // planted twin (s2p/s4p/s6p/s9p/s12p/s17p/s18p): the answer contract is
  // identical, only the engine's index path differs.
  private val plantedTop5Oracle: String =
    "WITH allv AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
      "SELECT vec_id, embedding FROM read_parquet('" + graft.Fixtures.dir + "/annplant/embeddings.parquet/*.parquet')), " +
      "q AS (SELECT embedding AS qv FROM allv WHERE vec_id = 2000000) " +
      "SELECT rnk, vec_id FROM (SELECT row_number() OVER (ORDER BY " +
      "list_cosine_similarity(a.embedding, q.qv) DESC, a.vec_id) AS rnk, a.vec_id " +
      "FROM allv a, q WHERE a.vec_id <> 2000000) t WHERE rnk <= 5 ORDER BY rnk"

  /** [[plantedTop5Oracle]] minus the tombstoned best neighbor, at k=4 —
    * the four survivors are all planted, so the brute force is
    * probe-independent (see `Similarity.annIvfTombstonedPlanted`).
    */
  private val plantedTombstonedTop4Oracle: String =
    "WITH allv AS (SELECT vec_id, embedding FROM embeddings UNION ALL " +
      "SELECT vec_id, embedding FROM read_parquet('" + graft.Fixtures.dir + "/annplant/embeddings.parquet/*.parquet')), " +
      "q AS (SELECT embedding AS qv FROM allv WHERE vec_id = 2000000) " +
      "SELECT rnk, vec_id FROM (SELECT row_number() OVER (ORDER BY " +
      "list_cosine_similarity(a.embedding, q.qv) DESC, a.vec_id) AS rnk, a.vec_id " +
      "FROM allv a, q WHERE a.vec_id <> 2000000 AND a.vec_id <> 2000001) t WHERE rnk <= 4 ORDER BY rnk"

  private val annTop10Oracle: String =
    "SELECT rnk, vec_id FROM (SELECT row_number() OVER (ORDER BY " +
      "list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id) AS rnk, e.vec_id " +
      "FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q " +
      "WHERE e.vec_id <> 0) t WHERE rnk <= 10 ORDER BY rnk"

  private val langScoreSql: String = TextAnalysis.langMarkers.map { case (l, ws) =>
    val in = ws.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($in)))::BIGINT AS s_$l"
  }.mkString(", ")

  /** c1's quality+language gate (no dedup): the n_lang stage of c2. */
  private val langGateOracle: String =
    "WITH scored AS (SELECT doc_id, " + langScoreSql + " FROM documents), " +
      "lang AS (SELECT doc_id FROM scored WHERE " +
      "s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh) " +
      "SELECT d.doc_id FROM documents d JOIN lang l ON d.doc_id = l.doc_id " +
      "WHERE len(string_split(d.text, ' ')) >= 20"

  /** c1's full chain: quality + language + near-dup removal — shared by the
    * c1 gate and c2's n_clean stage.
    */
  /** The c1 survivor set as a reusable CTE prefix (ends with `clean`) —
    * shared by c1's id-list oracle and c3's per-source yield oracle, one
    * survivor definition on the oracle side matching the one
    * `Pipeline.cleanCorpus` on the engine side.
    */
  private lazy val cleanSurvivorsCte: String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
      "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
      "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
      "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
      "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
      "dup AS (SELECT DISTINCT db FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
      "WHERE 5 * inter >= 4 * (ca.c + cb.c - inter)), " +
      "scored AS (SELECT doc_id, " + langScoreSql + " FROM documents), " +
      "lang AS (SELECT doc_id FROM scored WHERE " +
      "s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh), " +
      "clean AS (SELECT d.doc_id FROM documents d JOIN lang l ON d.doc_id = l.doc_id " +
      "WHERE len(string_split(d.text, ' ')) >= 20 AND d.doc_id NOT IN (SELECT db FROM dup))"

  private lazy val cleanCorpusOracle: String =
    s"$cleanSurvivorsCte SELECT doc_id FROM clean ORDER BY doc_id"

  /** Shared CTE chain for n6/n9: exact 3-gram Jaccard ≥ 0.8 pairs →
    * symmetric edges → recursive reachability (`reach(id, r)` = r reaches
    * id). n6 reads components off it directly; n9 appends the
    * representative/size tail. One text, two consumers — the clustering
    * oracle and its materialization oracle cannot drift apart.
    */
  private val dupReachCtePrefix: String =
    "WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
      "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
      "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
      "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
      "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
      "good AS (SELECT da, db FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
      "WHERE 5 * inter >= 4 * (ca.c + cb.c - inter)), " +
      "edges AS (SELECT da AS s, db AS d FROM good UNION SELECT db, da FROM good), " +
      "reach(id, r) AS (SELECT DISTINCT s, s FROM edges " +
      "UNION SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id) "

  // The derived partsupp as a DuckDB CTE — formulas generated from the
  // SAME constants Tables.partsupp compiles into its Columns, so the two
  // engines derive the identical integer table (cost in cents).
  private val partsuppCte: String = {
    val pp = graft.sources.Tables.PartSuppPerPart
    s"ps0 AS (SELECT p_partkey, i, (p_partkey * $pp + i) % (SELECT COUNT(*) FROM supplier) AS sk " +
      s"FROM part, UNNEST(range(0, $pp)) AS t(i)), " +
      "psup AS (SELECT p_partkey AS ps_partkey, sk AS ps_suppkey, " +
      s"(p_partkey * 47 + sk * 31 + i * 7) % ${graft.sources.Tables.AvailQtyMod} + 1 AS ps_availqty, " +
      s"(p_partkey * 13 + sk * 7 + i * 3) % ${graft.sources.Tables.CostCentsMod} + ${graft.sources.Tables.CostCentsMin} AS ps_cost_cents FROM ps0)"
  }

  // q45 (TPC-H Q2): min-cost decorrelated to aggregate-and-rejoin; the
  // LIMIT cut is total-ordered by (acctbal, n_name, s_name, p_partkey).
  private val q45Oracle: String =
    s"WITH $partsuppCte, " +
      "es AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier " +
      "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'EUROPE'), " +
      "el AS (SELECT ps_partkey, ps_cost_cents, s_name, s_acctbal, n_name FROM psup " +
      "JOIN es ON ps_suppkey = s_suppkey JOIN part ON ps_partkey = p_partkey " +
      "WHERE p_size <= 10 AND p_type = 'STANDARD'), " +
      "mc AS (SELECT ps_partkey, MIN(ps_cost_cents) AS m FROM el GROUP BY 1) " +
      "SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_e2, s_name, n_name, " +
      "el.ps_partkey AS p_partkey, ps_cost_cents AS cost_c " +
      "FROM el JOIN mc ON el.ps_partkey = mc.ps_partkey AND el.ps_cost_cents = mc.m " +
      "ORDER BY acctbal_e2 DESC, n_name, s_name, p_partkey LIMIT 100"

  // q46 (TPC-H Q11): scale-free integer threshold `value × nparts >
  // K × total` — never a float fraction — globals as scalar subqueries.
  private val q46Oracle: String =
    s"WITH $partsuppCte, " +
      "ns AS (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
      "WHERE n_name = 'NATION_3'), " +
      "v AS (SELECT ps_partkey, CAST(SUM(ps_cost_cents * ps_availqty) AS BIGINT) AS stock_value_c " +
      "FROM psup JOIN ns ON ps_suppkey = s_suppkey GROUP BY 1) " +
      "SELECT ps_partkey, stock_value_c FROM v WHERE stock_value_c * (SELECT COUNT(*) FROM v) > " +
      s"(SELECT CAST(SUM(stock_value_c) AS BIGINT) FROM v) * ${CoreQueries.Q46MeanMultiple} " +
      "ORDER BY stock_value_c DESC, ps_partkey"

  // q47 (TPC-H Q15): revenue view + max-equality on exact e4 BIGINTs.
  private val q47Oracle: String =
    "WITH rev AS (SELECT l_suppkey, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS total_revenue_e4 " +
      "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' " +
      "AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00' GROUP BY 1) " +
      "SELECT s_suppkey, s_name, total_revenue_e4 FROM supplier JOIN rev ON s_suppkey = l_suppkey " +
      "WHERE total_revenue_e4 = (SELECT MAX(total_revenue_e4) FROM rev) ORDER BY s_suppkey"

  // q48 (TPC-H Q9 full): per-row exact BIGINT profit (e4 revenue minus
  // cents×100×qty) so group sums are order-independent in both engines.
  private val q48Oracle: String =
    s"WITH $partsuppCte " +
      "SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT) " +
      "- ps_cost_cents * 100 * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_e4 " +
      "FROM lineitem JOIN psup ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey " +
      "JOIN part ON l_partkey = p_partkey " +
      "JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN supplier ON l_suppkey = s_suppkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "WHERE p_name LIKE '%red%' " +
      "GROUP BY 1, 2 ORDER BY nation, o_year DESC"

  // q49 (TPC-H Q20 full): the nested-IN ladder with the real availability
  // comparison, integers throughout (2×availqty > Σqty).
  private val q49Oracle: String =
    s"WITH $partsuppCte, " +
      "sh AS (SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty " +
      "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
      "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
      "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') GROUP BY 1, 2), " +
      "ex AS (SELECT DISTINCT ps_suppkey FROM psup JOIN sh ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey " +
      "WHERE ps_availqty * 2 > qty) " +
      "SELECT s_suppkey, s_name FROM supplier " +
      "WHERE s_nationkey IN (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'EUROPE') " +
      "AND s_suppkey IN (SELECT ps_suppkey FROM ex) ORDER BY s_suppkey"

  // v1/v2/v4/v5: the BPE induction unrolled into pure DuckDB SQL —
  // Bpe.DefaultMerges materialized CTE rounds (the dupPagerank fixed-depth
  // pattern applied to tokenizer training), giving the iterative v-family a
  // TRUE cross-engine oracle. Each round recomputes the weighted adjacent-
  // pair counts over the vocabulary and applies the argmax merge (ties by
  // (l, r) — both engines' binary string order). The vocabulary state is a
  // sentinel-delimited string '|c1|c2|…|' ('|' provably absent from the
  // corpus alphabet), so the textbook greedy left-to-right non-overlapping
  // apply step IS SQL replace(): replace('|a|a|a|', '|a|a|', '|aa|') →
  // '|aa|a|', exactly the engine's justMerged-guarded Catalyst fold.
  // MATERIALIZED is load-bearing: v_{i-1} is referenced twice per round, so
  // an inlining CTE planner would otherwise expand 2^N plans.
  private def bpeVocabCtes(n: Int): String = {
    val prefix =
      "WITH w AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0 GROUP BY w), " +
        "v0 AS MATERIALIZED (SELECT word, freq, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s FROM w)"
    val rounds = (1 to n).map { i =>
      s"p$i AS (SELECT sy[j] AS l, sy[j+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM " +
        s"(SELECT freq, list_filter(string_split(s, '|'), x -> x <> '') AS sy FROM v${i - 1}), " +
        s"UNNEST(range(1, len(sy))) AS t(j) GROUP BY l, r), " +
        s"t$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1), " +
        s"v$i AS MATERIALIZED (SELECT word, freq, " +
        s"replace(s, '|' || t$i.l || '|' || t$i.r || '|', '|' || t$i.l || t$i.r || '|') AS s " +
        s"FROM v${i - 1} CROSS JOIN t$i)"
    }.mkString(", ")
    s"$prefix, $rounds"
  }

  // v1 (and v4, whose incremental retrain is bit-identical by the additive-
  // counts contract): the merge table itself.
  private val bpeMergesOracle: String = {
    val n = graft.operators.Bpe.DefaultMerges
    val rows = (1 to n)
      .map(i => s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS \"left\", r AS \"right\", cnt AS pair_cnt FROM t$i")
      .mkString(" UNION ALL ")
    s"${bpeVocabCtes(n)} SELECT * FROM ($rows) ORDER BY merge_rank"
  }

  // v2: per-document token count under the learned vocabulary — the final
  // round's segmentation state joined back to the corpus word stream.
  private val bpeTokenCountOracle: String = {
    val n = graft.operators.Bpe.DefaultMerges
    s"${bpeVocabCtes(n)}, " +
      s"nsub AS (SELECT word, CAST(len(list_filter(string_split(s, '|'), x -> x <> '')) AS BIGINT) AS ns FROM v$n) " +
      "SELECT doc_id, CAST(SUM(ns) AS BIGINT) AS n_bpe_tokens FROM " +
      "(SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0) d " +
      "JOIN nsub ON d.w = nsub.word GROUP BY doc_id ORDER BY doc_id"
  }

  // v5: the full encode — per-document subtoken sequence in word order
  // (string_agg ORDER BY position ≡ the engine's in-group struct sort).
  private val bpeEncodeOracle: String = {
    val n = graft.operators.Bpe.DefaultMerges
    s"${bpeVocabCtes(n)}, " +
      s"sub AS (SELECT word, replace(trim(s, '|'), '|', ' ') AS subs_txt, " +
      s"CAST(len(list_filter(string_split(s, '|'), x -> x <> '')) AS BIGINT) AS ns FROM v$n), " +
      "dw AS (SELECT doc_id, i AS pos, wl[i] AS w FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS wl FROM documents), UNNEST(range(1, len(wl) + 1)) AS t(i) " +
      "WHERE len(wl[i]) > 0) " +
      "SELECT doc_id, CAST(SUM(ns) AS BIGINT) AS n_bpe_tokens, " +
      "string_agg(subs_txt, ' ' ORDER BY pos) AS bpe_text " +
      "FROM dw JOIN sub ON dw.w = sub.word GROUP BY doc_id ORDER BY doc_id"
  }

  // g2: the engine's integer fixed-point recurrence replayed literally —
  // every step is BIGINT division/addition, so there is no float to drift
  // and the 3-iteration ranks are bit-equal by construction. The pair graph
  // is the same exact-Jaccard derivation n1/n2 are checked against.
  /** g3's oracle — the same edge derivation as g2's, with
    * [[graft.operators.Dedup.LabelPropIters]] min-label rounds unrolled
    * (the fixed-iteration discipline: the oracle replays exactly the
    * contract's k synchronized rounds).
    */
  private val labelPropOracle: String = {
    val prefix =
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
        "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "good AS (SELECT da, db FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
        "WHERE 5 * inter >= 4 * (ca.c + cb.c - inter)), " +
        "edges AS (SELECT da AS s, db AS d FROM good UNION ALL SELECT db, da FROM good), " +
        "l0 AS (SELECT DISTINCT s, s AS lbl FROM edges)"
    val nIters = Dedup.LabelPropIters
    val iterations = (1 to nIters).map { i =>
      s"m$i AS (SELECT e.d, MIN(l.lbl) AS mn FROM l${i - 1} l JOIN edges e ON l.s = e.s GROUP BY e.d), " +
        s"l$i AS (SELECT l.s, LEAST(l.lbl, m$i.mn) AS lbl FROM l${i - 1} l JOIN m$i ON m$i.d = l.s)"
    }.mkString(", ")
    s"$prefix, $iterations SELECT s AS doc_id, lbl AS label FROM l$nIters ORDER BY doc_id"
  }

  private val dupPagerankOracle: String = {
    val S = "1000000000000"
    val T = "150000000000"
    val prefix =
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
        "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
        "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
        "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "good AS (SELECT da, db FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
        "WHERE 5 * inter >= 4 * (ca.c + cb.c - inter)), " +
        "edges AS (SELECT da AS s, db AS d FROM good UNION ALL SELECT db, da FROM good), " +
        "deg AS (SELECT s, COUNT(*) AS dg FROM edges GROUP BY s), " +
        "nn AS (SELECT COUNT(*) AS n FROM deg), " +
        s"r0 AS (SELECT deg.s, deg.dg, $S // nn.n AS r FROM deg CROSS JOIN nn)"
    val nIters = Dedup.DupPagerankIters
    val iterations = (1 to nIters).map { i =>
      s"c$i AS (SELECT e.d, SUM((r.r * 85) // (100 * r.dg)) AS cs " +
        s"FROM r${i - 1} r JOIN edges e ON r.s = e.s GROUP BY e.d), " +
        s"r$i AS (SELECT deg.s, deg.dg, $T // nn.n + c$i.cs AS r " +
        s"FROM deg CROSS JOIN nn JOIN c$i ON c$i.d = deg.s)"
    }.mkString(", ")
    s"$prefix, $iterations SELECT s AS doc_id, CAST(r AS BIGINT) AS pr FROM r$nIters ORDER BY doc_id"
  }

  private val ngramJaccardOracle: String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
      "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
      "cnt AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id), " +
      "p AS (SELECT a.doc_id da, b.doc_id db, count(*) inter FROM sh a " +
      "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db) " +
      "SELECT da AS doc_a, db AS doc_b, inter, ca.c + cb.c - inter AS un " +
      "FROM p JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id " +
      "WHERE 5 * inter >= 4 * (ca.c + cb.c - inter) ORDER BY doc_a, doc_b"

  /** Brute-force SimHash oracle: rebuild every document's 64-bit signature
    * from the cross-engine shingle hash (two 32-bit md5 halves via
    * [[graft.operators.Dedup.shingleHash64Sql]] — the ONE place the
    * hex-parse contract lives), majority-vote per bit, then an all-pairs
    * Hamming join at dist ≤ 7. Equals the engine's banded plan by the
    * 8×8-band pigeonhole. O(n²) on 5k docs = 12.5M xor+bit_count pairs —
    * seconds in DuckDB, and exactly the brute-force/banded differential
    * that makes this an oracle rather than a restatement.
    */
  private val simhashOracle: String = {
    val (hi, lo) = graft.operators.Dedup.shingleHash64Sql("s")
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s " +
      "FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)), " +
      s"hs AS (SELECT doc_id, $hi AS hi, $lo AS lo FROM sh), " +
      "votes AS (SELECT doc_id, i, " +
      "SUM(CASE WHEN ((CASE WHEN i < 32 THEN lo ELSE hi END) >> (i % 32)) & 1 = 1 THEN 1 ELSE -1 END) AS v " +
      "FROM hs, UNNEST(range(0, 64)) AS b(i) GROUP BY doc_id, i), " +
      "sig AS (SELECT doc_id, " +
      "SUM(CASE WHEN v > 0 AND i < 32 THEN (1::BIGINT << i) ELSE 0 END) AS sig_lo, " +
      "SUM(CASE WHEN v > 0 AND i >= 32 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS sig_hi " +
      "FROM votes GROUP BY doc_id) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.sig_lo, b.sig_lo)) + bit_count(xor(a.sig_hi, b.sig_hi)) AS BIGINT) AS dist " +
      "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sig_lo, b.sig_lo)) + bit_count(xor(a.sig_hi, b.sig_hi)) <= 7 " +
      "ORDER BY doc_a, doc_b"
  }
}
