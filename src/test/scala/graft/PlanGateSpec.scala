package graft

/** Plan-regression gate: every `SparkEntry.queries` entry is planned at
  * sf0.001 and checked against a committed physical-plan budget —
  *
  *  - NO `CartesianProduct`, ever;
  *  - NO `BroadcastNestedLoopJoin` except `knn_brute`, whose broadcast
  *    queries × corpus scan IS the documented exact-baseline contract
  *    (Similarity.scala — cost O(Q·N) by design);
  *  - shuffle-`Exchange` count at most the committed budget (the plan a
  *    rewrite should not silently worsen: an extra exchange at 100 TB is an
  *    extra full shuffle of the data).
  *
  * Budgets are the measured counts of the current plans (AQE initial plan,
  * broadcast exchanges NOT counted — broadcasting a small side is the cheap
  * choice, not a regression). A NEW query must register a budget here — the
  * completeness check fails otherwise.
  */
class PlanGateSpec extends SparkTestBase {

  /** Iterative/checkpointed constructions: building the DataFrame runs jobs
    * and the returned plan hangs off materialized checkpoint RDDs, so a
    * static exchange count would see only the final segment. Covered by the
    * oracle gate + BASELINE.md instead.
    */
  private val iterative = Set("dedup_minhash", "dedup_minhash_against",
    // store build writes three parquet slices at query-build time; the
    // returned plan reads the checkpointed batch side + the store
    "dedup_minhash_store",
    "dedup_simhash", "dedup_clusters", "dedup_clusters_ls", "dedup_semantic",
    // same checkpointed signature frame as dedup_simhash (the shared
    // hammingNearDupPairs engine), plus the decode pass feeding it
    "image_neardup", "video_neardup", "audio_neardup",
    // near-dup pairs + per-iteration CC checkpoints (the dedup_clusters shape)
    "pipeline_image_dedup",
    // blocked match pairs feed CC's per-iteration checkpoints
    "entity_resolution",
    // the query function runs the whole ingest (4 upsert write jobs) at
    // build time; the returned plan is the store read-back
    "online_store_latest",
    // frozen-centroid train collects the centroid matrix at build time
    // (the kmeans_clusters signature)
    "dedup_semantic_against",
    // seven-stage capstone: the canonicalize stage runs minhash + CC
    // checkpoints at build time (the pipeline_canonicalize signature)
    "pipeline_crawl_full",
    "knn_ivf", "kmeans_clusters", "kmeans_sample_train", "bpe_merges",
    "bpe_encode", "bpe_merges_bytes", "bpe_encode_bytes",
    // the same per-rank checkpointed train loop (likelihood argmax collects
    // 1 row per rank); the encode query trains first, then the vocabulary
    // rides one broadcast into the scan-speed kernel
    "wordpiece_merges", "wordpiece_encode",
    "pipeline_cluster_shard", "pipeline_canonicalize",
    // EM rounds collect the bounded usage table per round while the frame
    // is BUILT; the returned vocabulary is a driver-local table (and the
    // encode query trains first, so it inherits the same build-time jobs)
    "unigram_vocab", "unigram_encode",
    // lmScore checkpoints its train tables eagerly while the DataFrame is
    // being BUILT (same machinery as lm_score, which carries a budget only
    // because its scored side stays un-checkpointed; here the bucketed
    // corpus is also checkpointed for the three mix branches)
    "pipeline_quality_mix",
    // per-iteration localCheckpoints (Fixpoint.iterate) — the final plan
    // reads the last snapshot only
    "page_rank",
    // the same loop with the per-iteration dangling-mass 1-row aggregate
    "page_rank_dangling",
    // the same shared prLoop with a seeded restart vector
    "personalized_pagerank",
    // per-round label checkpoints (the page_rank shape)
    "graph_communities",
    // per-radius register checkpoints (HyperBall sweeps); the final plan
    // is the panel aggregation over the stacked snapshots
    "graph_neighborhood",
    // the same checkpointed register chain; the final plan is the
    // quantized-estimator aggregation + one per-node lag window
    "graph_harmonic",
    // per-round survivor checkpoints + the convergence count jobs; the
    // final plan is one degree aggregation over the last snapshot
    "graph_kcore",
    // the normalized edge list and the oriented list are localCheckpoints
    // (each feeds 2-3 consumers); the final plan hangs off the second
    "triangle_count")

  private val maxShuffles = Map(
    "asof_join" -> 1,
    // the asof_join shape exactly: candidate equi-join + one arg-max agg
    "nearest_join" -> 1,
    // the (key, ts) collapse exchange + the per-key window exchange
    "scd2_intervals" -> 2,
    // one per-category count exchange per side; the full-outer join is
    // co-partitioned on (column, value), the per-column window re-keys (1),
    // and the final per-column rollup reuses its partitioning
    "categorical_drift" -> 3,
    // identical chain — the binning is a fused in-row projection
    "numeric_drift" -> 3,
    // one window exchange keyed on the group columns
    "equi_depth_bins" -> 1,
    "interval_join" -> 1,
    // the scd2 regime build's collapse + window exchanges; the overlap
    // join itself is a broadcast equality join on (cell, user)
    "interval_overlap_join" -> 2,
    // the per-key window exchange; the island groupBy reuses the window's
    // hashpartitioning(user_id) (clustering on a superset is satisfied)
    "interval_flatten" -> 1,
    // the (user, bucket) arg-max aggregation + the per-user lead window;
    // the fill explode is in-row
    "resample_ffill" -> 2,
    // the scd2 regime build's collapse + window exchanges; the TWA
    // aggregation reuses the per-user partitioning
    "time_weighted_avg" -> 2,
    // the two per-side block-occupancy aggs, the (b_id, r_id) candidate
    // dedup, the per-batch-id arg-max, and the novel left join; the block
    // and grams joins ride broadcasts at this scale
    "entity_resolution_against" -> 5,
    // same candidate machinery + the erParts batch union resolving as a
    // three-branch scan; attribute sides join after the capped candidates
    "entity_resolution_against_fs" -> 7,
    // the per-regime moment aggregation; the panel stage is a lazy
    // checkpoint boundary (zScoreOutliers consumes it twice — moment branch
    // + attach side), its own two exchanges are the resample_ffill budget;
    // the stats attach is a broadcast
    "pipeline_panel_anomaly" -> 1,
    // the one prefix-partitioned sort window; the lead explode is in-row
    "er_sorted_pairs" -> 1,
    // two full detector pipelines (equality blocking's bucket agg + pair
    // distinct + verify joins; SNM's window) + the detected-pair distinct,
    // the semi-join side, and the three count aggregates
    "er_eval" -> 14,
    // er_eval's two detectors plus the FS detector's own candidate distinct
    // + two attribute-side joins, against the same three count aggregates
    "er_eval_fs" -> 19,
    // funnel's per-step key-agg exchange (reused across stages) + the two
    // gap-median rank windows (each a Single exchange over the completer
    // table, never the event stream)
    "event_funnel_stats" -> 3,
    // the distinct-score aggregation is a lazy checkpoint boundary (two
    // consumers + the build-time 1-row range pull); visible: the per-band
    // count agg (1), the offsets prefix window's single partition over the
    // ≤257-row band table (1), the per-band cumulative window (1), the final
    // rollup (1) — every global-sort node is band-table-sized, never the
    // distinct-score table (the continuous-score 100× guard)
    "eval_auc" -> 4,
    // the rank window exchange over the narrow projection; the distinct
    // attach table broadcasts back
    "feature_percent_rank" -> 2,
    "embedding_quantize" -> 0,
    "embedding_normalize" -> 0,
    "embedding_project" -> 0,
    "text_normalize" -> 0,
    "extract_html" -> 0,
    "filter_lines" -> 0,
    "filter_gopher" -> 0,
    // line filter + quality score are scan-speed projections; the one
    // exchange is exact dedup's content-digest groupBy
    "pipeline_crawl_clean" -> 1,
    "inverted_index" -> 4,
    "cooccurrence" -> 2,
    "mix_corpora" -> 0,
    // sizes are driver-side count jobs at build time; the mix itself is
    // mixCorpora's zero-shuffle projection
    "mix_temperature" -> 0,
    // 2 per sketch build (key-count agg + cell agg), the b-side sketch is
    // broadcast into the dot join, per-row dot re-agg + Single for the min,
    // and the exact-truth branch's join + 1-row agg
    "cms_join_size" -> 9,
    // per-(window, type) counts (1) + the window-of-window rollup (1);
    // the top-k sort is in-row over the category-bounded array
    "events_topk_windowed" -> 2,
    "top_terms" -> 3,
    // successor window on the key (1), the (from, to) pair agg (1), and the
    // per-from ppm window over the ≤T² pair table (1)
    "event_transitions" -> 3,
    // successor-order window on the key (1; the per-key path assembly reuses
    // its partitioning) + the path-count agg (1); the top-k is
    // TakeOrderedAndProject, never a sort exchange
    "event_paths" -> 2,
    // one pivot aggregation on the key with map-side partials — explicit
    // pivot values, so NO collect-distinct pre-scan job exists to count
    "events_pivot" -> 1,
    // Expand + ONE aggregation for all three grouping levels
    "events_rollup" -> 1,
    // same Expand shape, four grouping sets, still one exchange
    "events_cube" -> 1,
    // the rollup agg feeds both the category rows and the broadcast global
    // row — two plan branches of the same 1-exchange aggregation
    "target_encode" -> 2,
    // bounded per-row feature explode + the (id, bucket) sum
    "feature_hash" -> 1,
    // the per-(day, key) state aggregation (1) + the range merge over
    // state rows (1) — the raw scan happens exactly once
    "incremental_agg" -> 2,
    // ONE moment aggregation on the group keys; the stats broadcast back
    // into the scan, so the corpus never shuffles for the scaling pass
    "feature_standardize" -> 1,
    // identical shape: one min/max agg, stats broadcast back
    "feature_minmax" -> 1,
    // the per-key count exchange is behind a checkpoint (one corpus pass
    // feeding both consumers); static remainder: the totals re-agg over the
    // count table (2: partial→Single) and the k-row rank window (1)
    "key_skew_profile" -> 3,
    "source_orc_roundtrip" -> 0,
    // the returned plan is the AvroIO RDD scan (the write is an eager action
    // before it); zero exchanges by construction
    "source_avro_roundtrip" -> 0,
    "chunk_documents" -> 0,
    "top_ngram_stats" -> 2,
    "dedup_against" -> 1,
    // segment dedup: the two aggregation shuffles (first-occurrence arg-min
    // on the digest, per-doc reassembly); the winners join broadcasts at
    // bench SF and becomes a co-partitioned shuffle join at scale
    "dedup_segments" -> 2,
    // substring-window dedup: same two aggregation shuffles as the segment
    // family (first-occurrence arg-min on the window digest, per-doc
    // survivor-interval collect); the survivor join broadcasts at gate SF
    // and becomes a co-partitioned digest join at scale; the narrow window
    // table is checkpointed (the dedup_segments convention)
    "dedup_windows" -> 2,
    // dedup_windows' two aggregation shuffles + the exact-collapse groupBy
    // on the cleaned text's digest
    "pipeline_substring_dedup" -> 3,
    // the two aggregation shuffles (batch-first arg-min, per-doc interval
    // collect); the reference gram-digest distinct + anti join live BEHIND
    // the post-anti checkpoint (corpus-scaled at 100 TB -> shuffle anti on
    // 32-byte digests, the stripBoilerplate posture)
    "dedup_windows_against" -> 2,
    // boilerplate strip: distinct (digest, doc) + per-digest count + per-doc
    // reassembly; the boilerplate anti join broadcasts at this SF/threshold
    // but is broadcast-OR-shuffle by the set's actual size (maxDocFreq = 1
    // on a real crawl makes it corpus-scaled → shuffle anti on the 32-byte
    // digest, i.e. +2 exchanges beyond this budget, keys-only, acceptable)
    "strip_boilerplate" -> 3,
    "rare_token_stats" -> 2,
    "corpus_quantiles" -> 1,
    // doc-digest distinct (2: partial on (group, digest) + final) and the
    // group-vocabulary distinct (2: (group, token) + re-agg); the two
    // group-level tables broadcast-join
    "corpus_report" -> 4,
    "decontaminate" -> 2,
    "dedup_embedding" -> 2,
    "dedup_exact" -> 1,
    "dedup_within_doc" -> 0,
    "doc_fingerprint" -> 0,
    "event_attribution" -> 1,
    "events_json_extract" -> 1,
    "events_sessions" -> 1,
    "events_windowed" -> 1,
    "filter_blocklist" -> 0,
    "knn_brute" -> 1,
    "knn_lsh" -> 1,
    // training/encode broadcasts are built eagerly driver-side; the returned
    // plan is one codes scan + ADC kernel + posexplode + the top-k window
    // exchange on _qi
    "knn_pq" -> 1,
    // fusion over three top-k-sized rankings: brute (1: its window) + lsh
    // (1: its window) + the keyed RRF sum (1) + the fused window (1); the
    // IVF branch's exchanges hang off its eager training like knn_ivf
    "search_rrf_fusion" -> 6,
    // brute window (1) + lsh window (1) + the (qid, neighbor_id) eval join
    // (2) + the per-query agg (1)
    "search_eval" -> 5,
    "multimodal_meta" -> 0,
    "image_stats" -> 0,
    "audio_stats" -> 0,
    "video_stats" -> 0,
    "ngram_stats" -> 2,
    "pack_sequences" -> 1,
    "pipeline_clean_corpus" -> 1,
    "pit_join" -> 2,
    // the distinct-entity exchange + the served-row arg-max + the left
    // join back (the entity side is a lazy checkpoint boundary, so its
    // (keys, ts) partitioning is not visible to the join and one side
    // re-exchanges when the broadcast estimate lapses); panel agg is
    // bucket-table-sized
    "pit_staleness" -> 3,
    "pit_join_created" -> 2,
    "pit_join_multi" -> 4,
    "pull_all_events" -> 0,
    "pull_latest_events" -> 1,
    "pull_latest_ties" -> 1,
    "q1_pricing_summary" -> 1,
    "q3_top_orders" -> 1,
    "rolling_features" -> 1,
    // one scan with the horizon predicate + one keyed hash aggregation
    "decayed_features" -> 1,
    // the single-partition gather of the one global moment aggregation —
    // previously hidden behind an eager checkpoint (the shuffle ran at
    // construction time); the inline-projection rewrite made the full lazy
    // plan visible, which is the honest count
    // +1 headroom for the conditional spread() round-robin exchange
    // (fires only when the scan carries fewer splits than the session's
    // parallelism — the single-row-group bench corpus)
    "column_correlations" -> 2,
    // (group, dim) aggregation + per-group centroid re-collect
    "embedding_mean_pool" -> 2,
    "sample_hash" -> 0,
    // dim aggregation (1) + the re-key of both sides onto (uid, salt) (2);
    // the profile that sized the salts ran at BUILD time (bounded top-k
    // collect), the tag joins are broadcasts
    "skew_salted_join" -> 3,
    // sketch build + decision run at query-build time (bounded kilobyte
    // pulls); the returned plan is the chosen join — dim agg + salted join
    "planned_join" -> 3,
    // the quartile-rank window exchange; stats agg reuses its partitioning
    // and the stats attach broadcasts
    "feature_robust" -> 1,
    // identical shape: the rank window exchange, bounds broadcast back
    "feature_winsorize" -> 1,
    // the per-type register aggregation (1) + the collapsing merge (1)
    "hll_merge" -> 2,
    // exactly the SUM of its stages' budgets — entity distinct + pit pick
    // (2), decayed agg (1), scd2 collapse + window (2), as-of arg-max (1);
    // every attach join broadcasts, so composition adds ZERO exchanges
    "pipeline_feature_serve" -> 6,
    "split_buckets" -> 0,
    "sample_stratified" -> 0,
    "schema_events" -> 0,
    // two-phase position assignment: the corpus shuffles once on
    // (shard, bucket); the other 3 exchanges belong to the tiny per-bucket
    // counts subtree (groupBy partial→final, the per-shard cumulative
    // window, and its join re-partition) and carry kilobytes at any SF
    "shard_layout" -> 4,
    // same two-phase machinery as shard_layout: corpus join exchange +
    // counts partial→final + per-group cumulative window re-partition
    "cap_per_group" -> 4,
    // domain extraction is scan-speed and the blocklist anti join
    // broadcasts; the 4 are capPerGroup's documented two-phase machinery
    "domain_caps" -> 4,
    "url_canonicalize" -> 0,
    "source_csv_roundtrip" -> 0,
    "source_field_mapping" -> 0,
    "source_json_roundtrip" -> 0,
    "source_parquet" -> 0,
    "source_query" -> 1,
    "text_langid" -> 0,
    // the register window exchange on lang (shared by the estimate and
    // fingerprint branches) + the branch join re-exchange; both operands
    // are register-table-sized (k·groups rows), never the corpus
    "quantile_sketch" -> 2,
    // per-(q, sub) sums (1) + the bounded offsets window's Single exchange
    // (1) + the per-group running-sum window re-key (1); offsets broadcast
    "select_budget" -> 3,
    // one window exchange on the strata keys (rank + count share it)
    "split_exact" -> 1,
    "text_pii_redact" -> 0,
    "text_pii_redact_v2" -> 0,
    "text_quality" -> 0,
    "text_stats" -> 0,
    "top_events_per_user" -> 1,
    "cms_counts" -> 4,
    "hll_registers" -> 1,
    "vocab_coverage" -> 1,
    "pmi_pairs" -> 3,
    "snapshot_diff" -> 2,
    "sample_priority" -> 0,
    // the same TakeOrderedAndProject cut; the w md5 draws are in-row
    "sample_weighted" -> 0,
    // the one per-group window exchange; no global sort anywhere
    "sample_weighted_grouped" -> 1,
    // boundary detection + chunk assembly + hashing are one in-row
    // projection; the report's COUNT DISTINCT doc pays the two-phase
    // distinct-aggregate pair of exchanges ((hash, id) then hash)
    "cdc_dup_chunks" -> 2,
    // the reference digest distinct (1) + the per-doc report agg (1); the
    // probe join rides a broadcast at gate SF, text never shuffles
    "cdc_dedup_against" -> 2,
    // chunking + per-chunk votes are staged scan-speed projections; the
    // (id, lang) count agg (1) + the per-id majority re-agg (1)
    "lang_mix" -> 2,
    "hll_windowed" -> 1,
    "value_histogram" -> 1,
    // funnel's per-step stages all key on user_id: the later joins/aggs
    // reuse the first exchange's partitioning — 1 shuffle for 3 stages
    "event_funnel" -> 1,
    "bloom_semi_join" -> 1,
    "value_outliers" -> 1,
    "event_type_pivot" -> 1,
    "q1_rollup" -> 1,
    // q5 hints broadcast ONLY for schema-bounded dims (region/nation);
    // supplier/customer scale with SF, so their joins are left to the cost
    // model — the INITIAL plan shows their 2 exchanges + the agg (AQE
    // converts both to broadcasts at runtime at bench SF; at 100 TB the
    // shuffle joins are the correct choice, not a regression)
    "q5_local_supplier" -> 3,
    "cohort_retention" -> 3,
    "table_profile" -> 2,
    "tokenize_ids" -> 2,
    // ONE exchange measured: encode's groupBy(id); the decode re-agg reuses
    // that partitioning, and the checkpointed vocab's agg/window exchanges
    // sit behind a Scan ExistingRDD (never counted — the lm_score convention)
    "decode_ids" -> 1,
    // bigram counts are checkpointed (train scanned once for pairs); the
    // static remainder is the prefix re-agg (1), the distinct-vocab scalar
    // (2: tok hash + Single), and the per-doc sum re-agg (1) — the scored
    // corpus side itself never shuffles before that final agg
    "lm_score" -> 4,
    // bucket-count tables are checkpointed (each corpus scanned once); the
    // static remainder is the two 1-row totals (2: partial→Single each) and
    // the per-doc score sum (1) — raw text never shuffles, only (id, bucket)
    "dsir_select" -> 3,
    // doc side: per-(id,pair) compress (1), per-(id,lang) sums (1), per-id
    // argmax (1); broadcast model sides: prefix re-agg (1) + per-lang
    // distinct-char vocab (2: expand hash + re-agg) — the pair table itself
    // hangs off the checkpoint
    "text_langid_model" -> 6,
    // the query-side aggs (qterms, its distinct term set), the one
    // corpus-sized matching-(doc,term) agg, the per-(qid,doc) score agg and
    // the per-qid top-k window; the df/idf/scalars attach as broadcasts
    "search_bm25" -> 5,
    // the plan hangs off the two lazily-checkpointed tables (narrow (id,h)
    // stream, ordered per-doc sets), and at gate SF the candidate and
    // verify joins broadcast — the one counted exchange is the candidate
    // distinct; the upstream df/re-agg exchanges live behind the
    // checkpoints (oracle + BASELINE cover them, the lm_score convention)
    "set_similarity_join" -> 1,
    // the identical checkpointed-prefix engine with the t-squared bounds
    "cosine_set_join" -> 1,
    // query-prefix × full-postings probe over the same checkpointed engine;
    // the one counted exchange is the candidate distinct
    "containment_join" -> 1,
    // constraint panel: row-local trio is ONE scalar agg (1) + the n_rows
    // scalar agg (1); each uniqueness check pays its value-distribution
    // partial->final exchange + a scalar reduce (2x2); the ref anti-join's
    // dim distinct + scalar reduce (2); panel glue is 1-row frames
    "quality_panel" -> 8,
    // the grouped row-local agg is a lazy checkpoint boundary (totals +
    // unpivot + uniqueness left-join reuse it); visible: uniqueness's
    // (dt, id) value-distribution agg + its per-dt re-agg, and the band
    // window keyed by (check, col_name) over the |checks|x|days| metric
    // table — the totals join rides a broadcast at gate SF
    "dq_history" -> 3,
    // quality filter joins broadcast; the 4 = the per-source packing window
    // exchange + the shard-machinery trio shard_layout documents (corpus
    // (shard,bucket) exchange + tiny counts partial→final + cumulative join)
    "pipeline_text_pack" -> 4,
    // one map-side-partial moment aggregation; the line math is projection
    "trend_lines" -> 1,
    // the (group, lag) moment agg; the lag self-join clusters on the
    // checkpointed bucket table (broadcast at gate SF)
    "autocorrelation" -> 1,
    // the pattern-key agg over the checkpointed sequence table; the
    // k-gram slice + per-key dedup are in-row, and the N pull runs at
    // build time
    "sequence_patterns" -> 1,
    // the TVD re-agg over the checkpointed dense digit grid; the corpus
    // digit pass, totals, and grid cross sit behind checkpoints
    "benford_audit" -> 1,
    // gap table (band groupBy + head lead + within-band lead windows) +
    // the pair join re-keys on the value + the pair-sum agg; the grid
    // build sits behind the shared cum checkpoint, and the <=255-row
    // band-head lead is the documented bounded-table window
    "emd_drift" -> 6,
    // the window-condition join + ONE shared exchange for both
    // per-conversion windows (same partitioning and sort) + the channel
    // rollup
    "attribution_position" -> 3,
    // the (quasi, sensitive) agg + the quasi re-agg, both map-side partial
    "k_anonymity" -> 2,
    // the identical two-level shape on (lhs, rhs)
    "fd_check" -> 2,
    // one flatten window exchange per side; the grid overlap join clusters
    // on the cell key the explodes already carry at gate SF
    "interval_intersect" -> 2,
    // the single per-key window exchange; the lag filter is scan-speed
    "activity_gaps" -> 1,
    // the MAD agg over the checkpointed residual table + its group-key
    // join back (both sides exchange at gate SF); the base scan, median
    // agg, and median attach sit behind the withMed checkpoint
    "mad_outliers" -> 3,
    // the (group, phase) mean re-agg riding inside the broadcast attach;
    // the corpus bucket-sum pass sits behind the base checkpoint
    "seasonal_anomaly" -> 1,
    // the 1-row ECE agg over the checkpointed nBins-sized panel; the
    // corpus bin aggregation and the range pull sit behind checkpoints
    "eval_calibration" -> 1,
    // adjacency re-key + center groupBy + pair groupBy + anti-join re-key
    // + the two degree attaches (cand re-keys on a then b, deg side
    // exchanges once); the canonical edge build and degree table sit
    // behind their checkpoints
    "link_predict" -> 7,
    // the 1-row table-statistic agg + the two 1-row dof marginal counts
    // (all three land in broadcast scalar-attaches); the corpus cell pass,
    // marginals, and the dense grid sit behind the cells checkpoint
    "chi_square" -> 3,
    // the final distinct over VERIFIED pairs only; the value build, gram
    // stream, frequency attach, and prefix re-agg all sit behind
    // checkpoints, the candidate self-join clusters on the checkpointed
    // prefix table, and the verify is an in-join kernel filter — the
    // candidate stream is never exchanged
    "edit_distance_join" -> 1,
    // the basket groupBy + the N-count action run at build time behind the
    // multi-consumer checkpoint; the returned plan is the directed-rule
    // projection over the checkpointed pair table with both item-support
    // sides on broadcasts — zero further exchanges
    "basket_rules" -> 0,
    // corpus (group, hash) distinct + the (group, hash mod 256) PREFILTER
    // window (r20: the parallel bottom-k superset that keeps the final
    // per-group window's input at ≤ 256·k rows instead of a single-task
    // sort of every distinct hash) + the group-partitioned bottom-k
    // window; the estimate agg clusters on the final window's partitioning
    "kmv_distinct" -> 3,
    // membership-union groupBy on (a, b, h) + the per-pair bottom-k window
    // re-key to (a, b); register build + G² pair cross (a dimension-sized
    // BNLJ by design) sit behind build-time checkpoints
    "kmv_jaccard" -> 2,
    // per-pair max agg + the min-attaining re-agg over the checkpointed
    // V×G²/2 pair grid; the corpus count pass, dense-grid cumulative
    // (banded two-phase windows), and the G-row BNLJ scalar-attach all sit
    // behind build-time checkpoints
    "ks_test" -> 2,
    // pair self-join re-key on the value (both sides from the shared cum
    // checkpoint, 2) + the (group_a, group_b) pair agg (1); the grid build
    // sits behind the checkpoint and both totals attach as broadcasts
    "rank_sum_test" -> 3,
    // the (group, entity) totals agg + ONE group-keyed exchange shared by
    // both rank windows; the final group agg clusters on the window's
    // partitioning — no further exchange
    "concentration" -> 2,
    // the (group, x) level-maxima agg + the group-keyed running-max
    // window; the verdict joins back to the checkpointed corpus as a
    // level-sized broadcast
    "pareto_front" -> 2,
    // the nodes/moments 1-row aggs (2, landing in the whitelisted scalar
    // cross) + the two node-keyed degree-attach SMJs over the
    // checkpointed stub stream (2x2 re-keys)
    "graph_assortativity" -> 6,
    // the per-user subject agg (events checkpointed behind it) + the
    // (group, duration) count agg + ONE group-keyed exchange carrying
    // both at-risk windows and the fold collect
    "kaplan_meier" -> 3,
    // per-left member arrays (collect_set dedups map-side — Catalyst
    // even folds the membership distinct into it) + the pair-keyed
    // count agg; the C(k,2) expansion is in-row
    "bipartite_project" -> 2,
    // the (group, bucket) sum agg + the group-keyed fold collect; the
    // recurrence and re-explode are in-row
    "ewma_chart" -> 2,
    // identical chain — the second (trend) recurrence rides the same fold
    "holt_chart" -> 2,
    // identical chain again — the seasonal index array is FOLD state, not
    // extra plan structure
    "holt_winters" -> 2,
    // the same bucket agg + group collect; the O(B^2) pair vote and both
    // medians run in-row over the bucket array
    "theil_sen" -> 2,
    // r19 shape: the rank table is EAGERLY materialized at build time
    // (doubledRanks counts checkpoint + the ranks checkpoint), so the
    // static plan is the final segment only — k=4 SHUFFLE_HASH value
    // joins (k probe re-keys + k build re-keys over the checkpointed
    // ranks, 8) + the single moment gather; measured 9
    "spearman_correlations" -> 9,
    // r19 shape: ranks checkpointed at build; final segment = the two
    // corpus-side SHUFFLE_HASH probe re-keys + two rank-side build
    // re-keys + the per-pair moment agg + the pair-list attach; measured 6
    "spearman_pairwise" -> 6,
    // ONE corpus exchange (the pair-melt cell groupBy, behind the lazy
    // checkpoint); everything after runs at dimension size — the two
    // marginal re-aggs, the two dominance-window re-keys ((pair,x) then
    // (pair,y)), the two tie re-aggs (2-stage each), and the final
    // pair-list attach; the dense grid itself rides broadcasts
    "kendall_tau" -> 9,
    // ONE corpus exchange (the feature-melt cell groupBy, behind the lazy
    // checkpoint) + the (feature, value) and (feature, class) re-aggs;
    // the per-feature panel and its attach ride broadcasts; +1 headroom
    // for the conditional spread() round-robin exchange (fires only when
    // the scan carries fewer splits than the session's parallelism)
    "gini_gain" -> 4,
    // ONE key-keyed exchange: both windows AND the (key, session) panel
    // agg ride it (hash partitioning on the key satisfies the grouped
    // clustering)
    "sessionize" -> 1,
    // the k·periods-row total re-agg over the checkpointed transition
    // table (inside its broadcast branch); the (period, key) totals,
    // ntile window, and from→to join sit behind build-time checkpoints
    "rank_mobility" -> 2,
    // the raw->daily-state agg + the per-day partial merge + the
    // group-keyed fold collect; recurrence/re-explode in-row
    "ewma_from_state" -> 3,
    // identical state-path chain with the trend recurrence in the fold
    "holt_from_state" -> 3,
    // identical state-path chain with the seasonal recurrence in the fold
    "holt_winters_from_state" -> 3,
    // the pair moment agg; the in-row lag explode rides the checkpointed
    // bucket table and the bucket-keyed join broadcasts at gate SF (at
    // scale it re-keys both sides — the budget leaves that headroom)
    "cross_correlation" -> 3,
    // the cohort-keyed cumulative window over the checkpointed (cohort,
    // age) panel; the first-week window and the distinct-active agg sit
    // behind the checkpoint, sizes attach as a cohort-count broadcast
    "cohort_ltv" -> 2,
    // the G-row sizes agg + the token-keyed intersection join (2 re-keys
    // off the membership checkpoint) + the pair agg; the dense grid is
    // the whitelisted dimension cross
    // +1 since r17: the dense grid's group dimension comes from a
    // PRE-tokenize distinct (so empty-vocabulary groups read 0 instead of
    // vanishing) — a G-sized aggregation on its own pruned single-column
    // scan
    "vocab_overlap" -> 6,
    // occurrence agg + distinct (bucket, type) membership + the V-keyed
    // first-bucket arg-min's two stages + the single-partition cumulative
    // window over B result rows (the vocabCoverage bounded-result
    // convention)
    "vocab_novelty" -> 5,
    // ONE keyed exchange: the lag window and the moment aggregation share
    // the same hash partitioning (the sessionize one-exchange contract)
    "interarrival_stats" -> 1,
    // the eval_auc discipline minus the rollup, plus the 1-row totals agg:
    // per-band agg (1), offsets prefix window over the ≤256-row band table
    // (1), per-band cumulative window (1), totals global agg (1) — no
    // global-sort node ever sees the distinct-score table
    "eval_pr" -> 4,
    // per-group max agg + earliest-attaining re-agg over the checkpointed
    // (group, bucket) deviation table; the corpus bucket-sum pass and the
    // per-group running-sum window sit behind build-time checkpoints
    "cusum_change" -> 2,
    // (cover_day, user) min-offset agg + the per-day panel re-agg; the
    // corpus-sized distinct-(user,day) exchange sits behind the build-time
    // checkpoint, and the 30-way fan-out is an in-row explode, not a join
    "active_users" -> 2,
  )

  /** Queries where a BroadcastNestedLoopJoin is the documented contract, not
    * a regression: knn_brute's exact-baseline scan, and the 1-ROW broadcast
    * cross joins in vocab_coverage (corpus-total denominator) and lm_score
    * (train-vocabulary-size smoothing denominator) — the scalar-subquery
    * idiom; the nested loop runs exactly once per partition.
    */
  private val bnljAllowed = Set("knn_brute", "cms_join_size", "vocab_coverage", "lm_score",
    // target_encode's 1-row global-totals broadcast: the scalar-attach idiom
    "target_encode",
    // key_skew_profile's 1-row (N, n_keys) broadcast: the same idiom
    "key_skew_profile",
    // the 1-row counts x <=1-row median attaches: the same scalar idiom
    "event_funnel_stats",
    // dsir_select's 1-row smoothing-totals broadcast: the scalar-attach idiom
    "dsir_select",
    // quality_panel's 1-row n_rows attach onto the panel: the same idiom
    "quality_panel",
    // search_bm25's N/L corpus scalars: the same 1-row broadcast cross join
    "search_bm25",
    // chi_square's 1-row table-statistic and dof attaches: the same idiom
    "chi_square",
    // eval_calibration's 1-row ECE attach onto the bin panel: the same idiom
    "eval_calibration",
    // the k-row language table (k = languages, ≤ a few dozen ever): the
    // scalar-attach idiom at k rows — the nested loop runs once per partition
    "text_langid_model",
    // contains knn_brute's sanctioned exact-baseline BNLJ as one branch
    "search_rrf_fusion", "search_eval",
    // the three 1-row count attaches: the scalar-attach idiom
    "er_eval", "er_eval_fs",
    // the 1-row (n, p) totals attach onto the distinct-score curve: the
    // scalar-attach idiom
    "eval_pr",
    // the 1-row moments x 1-row node-panel cross: the scalar-attach idiom
    "graph_assortativity",
    // the G-row dense source-pair grid cross (G = sources, a dimension):
    // the kmv_jaccard pair-cross idiom
    "vocab_overlap")

  test("every query has a plan budget (or a documented exemption)") {
    val missing = SparkEntry.queries.keySet -- maxShuffles.keySet -- iterative
    assert(missing.isEmpty, s"register a shuffle budget for: $missing")
  }

  test("no CartesianProduct; BNLJ only in knn_brute; shuffles within budget") {
    val shuffleRe = "Exchange (hash|range|Single)".r
    val failures = maxShuffles.toSeq.sortBy(_._1).flatMap { case (name, budget) =>
      val plan = SparkEntry.queries(name)(spark, sf()).queryExecution
        .executedPlan.toString
      val shuffles = shuffleRe.findAllIn(plan).size
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
      Seq(
        if (cart) Some(s"$name: CartesianProduct in plan") else None,
        if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin") else None,
        if (shuffles > budget)
          Some(s"$name: $shuffles shuffle exchanges > budget $budget") else None
      ).flatten
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
