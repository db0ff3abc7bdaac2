"""Generate docs/PLANS.md: the formatted physical plan of each headline
query with a one-line note on why that shape is the right one at scale.
Run: python tools/dump_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_fuel_priceguide_ec2_spark import registry
from etl_fuel_priceguide_ec2_spark.session import get_session

NOTES = {
    "asof_latest_per_key": "ts bound filtered at node (2) directly above the scan; WindowGroupLimit(Partial) keeps top-1-per-key map-side, so the shuffle carries ≤1 row per key per map partition.",
    "latest_via_max_by": "aggregate form: struct-ordered max_by needs SortAggregate, but the partial aggregate still runs map-side, so the shuffle carries one partial row per key — cheaper than shuffling the fact rows.",
    "asof_join_orders_events": "merge-union as-of join: one Exchange on the key, one window pass; no range cross-join.",
    "pricing_summary": "scan reads only the 6 needed columns (ReadSchema); partial HashAggregate before the 6-group exchange.",
    "revenue_by_nation": "all three dims broadcast; the fact table moves through exactly one join shuffle.",
    "enrichment_join": "BroadcastHashJoin both levels — the station list never shuffles.",
    "upsert_new_keys": "left-anti BroadcastHashJoin on the key projection only; dim payload never moves.",
    "dedup_minhash_lsh": "signatures are pure map work (zero-shuffle); candidates come from the band-bucket self-join; verification joins only candidate ids back to shingle arrays.",
    "salted_join_skewed_flag": "the 3-value hot key is spread over 16 salts before the join shuffle.",
    "interval_join_recent_events": "range join compiled to an equi hash join on (key, day bucket) + post-filter; replication factor = lookback days.",
    "scd2_dim_versions": "Type-2 merge: one keyed full-outer join fans into disjoint unchanged/closed/reopened/born row sets; history rows never join.",
    "session_window_agg": "native session windows: one shuffle on the key, sessions merged inside the aggregate.",
    "moving_avg_range_frame": "time-based RANGE frame: one shuffle+sort per key, each row aggregating a data-dependent trailing window.",
    "shipping_priority_top10": "TPC-H Q3 shape: date predicates pushed into all three scans, filtered dims broadcast, global top-10 via TakeOrderedAndProject — no full sort of the aggregate.",
    "gap_fill_forward": "span-agg shuffle on user_id feeds the spine Generate AND the forward-fill window with no re-exchange (explode preserves partitioning); the daily-agg side broadcasts here and flips to a keyed merge join at scale.",
    "stats_battery": "all second-moment accumulators (corr/covar/var/regr) partial-aggregate map-side; one exchange on the group key carries constant-size state.",
    "exists_segments": "EXISTS/NOT EXISTS decorrelated to left-semi + left-anti BroadcastHashJoins over the same build side.",
    "q7_volume_shipping": "TPC-H Q7 shape: both nation dims broadcast into the supplier/customer sides; the lineitem fact crosses exactly one join exchange.",
    "q10_returned_top_customers": "TPC-H Q10 shape: returnflag filter pushed into the fact scan; customer/nation broadcast; decimal-exact revenue ranks under TakeOrderedAndProject.",
    "q19_disjunctive_revenue": "TPC-H Q19 shape: Catalyst factors the per-table conjuncts out of the OR and pushes them below the broadcast join; the cross-table residual evaluates post-join.",
    "dedup_ngram_jaccard_auto_skew": "skew-adaptive SSJoin: precomputed corpus stats pick the PPJoin prefix path (no per-call probe); every shuffle key is an 8-byte xxhash64, and the hashed shingle-set relation is pinned once (r17) so the df aggregate, both prefix sides and both verify sides read it instead of re-running the corpus scan+shingle chain (6 scans -> 0).",
    "dedup_clusters": "pair mining once (localCheckpoint); a graph under the broadcast-threshold cap replays HashMin on the driver and returns its labels as a local Arrow relation, a larger one runs HashMin rounds = join+agg on the edge relation at session partitions (AQE coalesces; explicit sizing measured 1.43x slower).",
    "semantic_kmeans_clusters": "assignment is map-only — centroids ride as ONE nested literal (no Exchange in the returned plan); the fit's k*dim update aggregate ran at build time.",
    "semantic_dedup_pairs": "multi-probe blocks compile to an equi self-join on the block id (never cartesian); full-precision verify joins only candidate ids back to vectors.",
    "weighted_sample_chars": "E-S key is one map expression; the global top-100 plans as TakeOrderedAndProject — per-partition partial top-n, no full sort.",
    "salted_event_value_agg": "two exchanges by design: (key, salt) fans the hot key out over 16 reducers; the second moves only 16 partial-state rows per key.",
    "asof_join_tolerance_7d": "same single-exchange merge-union as the plain as-of join; the 7-day bound is a post-carry row predicate, not a range join.",
    "q4_order_priority": "TPC-H Q4 shape: date range pushed into the orders scan; EXISTS decorrelated to a LEFT SEMI that never widens rows — the shuffle carries order keys only.",
    "q6_forecast_revenue": "TPC-H Q6 shape: every predicate in PushedFilters at the parquet scan; one partial/final aggregate pair, zero joins.",
    "q9_product_type_profit": "TPC-H Q9 shape: part/supplier/nation all broadcast (the name-token filter prunes the broadcast side); the fact crosses one join exchange to orders.",
    "q16_part_supplier_variety": "TPC-H Q16 shape: the (part, supplier) bridge dedups BEFORE the dim joins, so the distinct-count shuffle carries key pairs; supplier blocklist is a broadcast anti-join.",
    "q18_large_volume_customers": "TPC-H Q18 shape: the HAVING aggregate runs on lineitem alone; only surviving keys join back; top-100 via TakeOrderedAndProject.",
    "q21_waiting_suppliers": "TPC-H Q21 shape: EXISTS/NOT-EXISTS decorrelated to ONE per-order distinct-count aggregate reused by the probe — two orderkey exchanges instead of correlated re-scans.",
    "minhash_dedup_keeplist": "composed chain: zero-shuffle signatures -> band-bucket candidates -> HashMin CC on the tiny edge relation -> keep-list joins components back to ids only.",
    "similarity_topk_ivf_sq8": "IVF-SQ8: broadcast the probed queries, join on the cell id (nprobe/cells of the corpus scanned), int8 integer scoring, window top-k per query.",
    "similarity_topk_ivf_sq8_rerank": "two-stage retrieval: the int8 candidate stage cuts at rank<=30 map-side (WindowGroupLimit), then only candidate ids join back to full vectors for the exact rerank.",
    "funnel_view_click_purchase": "each stage is ONE events scan joined to the shrinking previous-stage relation; no forced broadcast hint — AQE picks BHJ from runtime sizes (stage 0 is per-user and can exceed the 8 GB broadcast limit at scale); the fact table is never self-joined row-to-row.",
    "event_transition_matrix": "one user_id window shuffle for LAG, then a tiny global aggregate over |event_types|^2 keys.",
    "curation_keep_list": "quality metrics are per-row codegen; the canonical flag is one window over 32-byte content hashes — document payloads never shuffle twice.",
    "decontaminated_train_ids": "train side scanned once, assigned via the broadcast eval-side codebook; the contaminated flag join moves train ids only.",
    "similarity_topk_ivf2_sq8": "two-level IVF: corpus assigned to ONE (coarse x residual) composite cell with k1+k2 HOF folds per row (not a flat sqrt(n) codebook); queries probe a budget of nprobe composite cells ranked by d1 + d2 (the nprobe^2 grid form measured 1.9x slower); int8 integer ranking.",
    "contamination_attribution": "same asymmetric probe as semantic_contamination; the per-benchmark report is a two-row aggregate — pair evidence never leaves the executors unaggregated.",
    "hll_users_by_event_type": "two-level aggregate: partial max(rho) per (type, register) map-side, exchange moves O(groups * 2^b) register rows — never user ids; estimate is one tiny final projection.",
    "hll_distinct_event_ids": "same register shape, global: 256-row shuffle regardless of input size; the exact-integer indicator sum keeps the estimate engine-portable.",
    "cms_user_event_counts": "count-min registers build map-side (partial sums per (row, bucket)); the probe set joins the broadcast d x w table — per-key frequencies without shuffling keys.",
    "dd_quantile_order_totals": "radix-2 log bins via integer bitlen (no float log anywhere); one two-level aggregate to a bounded bin table, quantile cut + midpoint are driver-free projections.",
    "hll_weekly_rollup_users": "per-day register tables collapse to per-week via per-bucket MAX (associative, idempotent) — the incremental rollup re-aggregates 2^b-row partials, never raw history.",
    "cms_token_frequencies": "the token stream (billions of rows at scale) folds into a d x w register table map-side; the probe list joins the broadcast table — vocabulary counts without a vocabulary shuffle.",
    "bloom_membership_orders": "build keys compile to 260 longs via bit_or; the probe side tests membership against the BROADCAST word table — no probe-vs-build join, the explicit form of runtime bloom pruning.",
    "hll_intersection_user_sets": "three register-table estimates composed by inclusion-exclusion; the union side MERGES the per-segment registers — overlap answered from sketch state, no row re-reads.",
    "heavy_hitter_users": "two-phase top-k: exact counts over a 10% hash sample pick candidates, which flow AS A RELATION into the broadcast CMS register probe — no full-corpus key shuffle, no driver round-trip.",
    "pack_chunks_by_lang": "per-group packing windows run in parallel (no global single-reducer sort); global density comes from a |groups|-row offset relation broadcast back — the distributed form of the flat packer's documented caveat.",
    "kmv_intersection_user_sets": "two-level min-k per side (per-split row_number windows, final rank over <= nsplits*k survivors); union/rho/difference joins all run on <= k-row broadcast relations — set algebra from sketch state, no row re-reads.",
    "dd_quantile_weekly_rollup": "per-day bin tables collapse to per-week via per-bin SUM (associative) — the quantile rollup re-aggregates ~500-row daily partials, never raw history; cut + midpoint are register-relation projections.",
    "bm25_topk_docs": "the broadcast 7-row query-term set prunes the exploded token stream BEFORE the tf aggregate (postings shuffle is query-sized, not vocabulary-sized); corpus-sized doclens join by shuffle; per-doc scores sum DECIMAL contributions so the ranking window is addition-order-free.",
    "bpe_merge_candidates": "split + transform + explode are per-row codegen; the pair aggregate's key space is bounded by |alphabet|^2, so the exchange carries a few thousand map-combined rows at any corpus size.",
    "kmv_distinct_by_event_type": "per-(group, split) min-k windows run as parallel reducers; the per-group final rank sees <= nsplits*k survivors; the estimate is a per-group 2-column aggregate over <= k rows.",
    "cms_selfjoin_size_events": "join size estimated from register state: two d x w tables, inner product per row, min — the corpus is scanned once to build registers and the 'join' itself never executes.",
    "temperature_mixture_allocation": "one map-combined count per group; the |groups|-row weight/share math crosses back broadcast — nothing scales with input rows.",
    "hybrid_rrf_topk_docs": "both rankers produce per-query top-20 relations; the RRF fuse is a full outer join + window over <= 40 rows per query — corpus-scale work stays inside the audited BM25 and cosine plans.",
    "zorder_layout_lineitem": "the Morton value is one flat shift/mask codegen expression from inlined min/max literals; the bucket stats are a 16-group aggregate — the write-side clustering cost is exactly one range-sort shuffle.",
    "minhash_incremental_pairs": "the new slice's band buckets drive the candidate join against the full bucket store — history x history pairs structurally never form; verify joins touch candidate ids only.",
    "pagerank_supplier_customer": "loop-invariant edge/degree/node relations checkpointed once; each iteration joins edges against a BROADCAST of the node-sized rank relation (r17; keyed join above the broadcast-threshold node cap) + one map-combined aggregate + the broadcast node left-join, with 12-dp decimal contribution sums keeping state engine-portable.",
    "hits_trade_authorities": "per phase: ONE edge join against the broadcast node-sized score relation (r17; keyed above the node cap) (previous phase's normalization folded into its projection) + one map-combined aggregate + one checkpoint; the 1-row L1 total crosses back broadcast; the (nodes x raw) completion left-join runs once at the end, and the global authority ranking is TakeOrdered(20) then an O(k) window — never an unpartitioned full-graph sort.",
    "quality_classifier_scores": "broadcast-model inference: explode_outer keeps featureless docs decided with NO doc_id spine join; the only join is the BroadcastHashJoin against the compiled weight table; one map-combined per-doc aggregate.",
    "domain_classifier_labels": "one corpus featurization for all classes; the |classes|-row grid is the sanctioned BroadcastNestedLoopJoin; per-(doc, class) decimal sums shuffle once; argmax is a per-doc window over |classes| rows.",
    "exact_substring_spans": "positional grams carry (id, pos, 8-byte hash); the frequency cap drops boilerplate grams BEFORE the self-join; the islands window and run aggregate share ONE (doc_a, doc_b, diag) exchange.",
    "exact_substring_incremental_spans": "the new slice's grams probe the full state union — history x history candidates structurally never form; cap frequencies computed over the union match from-scratch semantics.",
    "duplicated_span_coverage": "the interval-union window + coverage aggregate run on the tiny spans relation; the corpus contributes only its per-doc token counts via one left join.",
    "scrub_duplicated_spans": "flagged ranges explode to covered (id, pos) rows (volume = flagged tokens); the corpus token explode anti-joins them; one ordered aggregate rebuilds each text — all exchanges keyed by id.",
    "phrase_occurrences": "phrase grams broadcast (eval sets are small); ONE hash join probes the corpus state; the aligned-offset full-count check is a map-combined aggregate — the corpus is never re-tokenized.",
    "winnow_candidate_pairs": "the winnow min is one window on the id partitioning; the fingerprint index is ~2/(w+1) of the gram relation; hot fingerprints capped before the candidate self-join.",
    "bpe_encoded_vocab": "the encode relation is VOCAB-sized (Heaps' law): per-word symbol state from the training loop folds into one string_agg-style ordered aggregate per word.",
    "bpe_tokens_per_doc": "the vocab-sized encode relation broadcast-stamps the corpus word stream; the only corpus-scale exchange is the per-doc sum.",
    "corpus_curation_decision": "the capstone composition: ONE tokenize+shingle scan feeds both set-similarity miners and ONE featurization pass feeds both classifiers; since round 11 the mined pair/span relations and the survivor-chain id sets are localCheckpointed, so the printed plan is the DECISION layer over materialized id-scale state (the miners' audited plans appear under their standalone entries); the decision layer adds only id-keyed joins — payloads never rejoin after tokenization.",
    "curation_decision_incremental": "the daily-ingest capstone: pair/span mining runs ONLY new-vs-all from persisted shingle/gram state (history x history never re-forms, history text never re-tokenizes); the id-scale decision layer re-decides over persisted + new signals, so late bridge docs re-elect canonicals exactly.",
    "containment_keeplist": "mutual containment pairs cluster via HashMin CC (min-id canonical); one-way containment drops the contained copy via an id-keyed anti pattern — the pair relation, not the corpus, carries every exchange.",
    "image_ahash_keeplist": "decode + hash in ONE Arrow pass (4 longs per image shuffle), banded candidate join with pigeonhole-exact recall at Hamming <= 3, CC on the tiny pair relation; payloads never leave the executors.",
    "snm_dedup_keeplist": "the SNM consumer: candidates filtered to cross-slice links BEFORE clustering (clean x clean sort adjacency never enters CC), so components stay small-diameter and the HashMin fixpoint converges in one probe.",
    "sorted_neighborhood_pairs": "global order WITHOUT a global window: range-repartition + per-partition row_number + a #partitions-row broadcast offset join; the w-neighborhood forms as an equi-join on the dense unique rank (candidate volume exactly n*w, no skew possible).",
    "bigram_lm_quality": "two vocabulary-sized map-side-combined aggregates (bigram + context counts) fold into one model relation joined once by the scoring pass; the 1-row vocab total broadcasts — the corpus is scanned twice and shuffled only as vocabulary-sized counts.",
    "tfidf_cosine_pairs": "top-k sparsification doubles as blocking: per-doc windows rank terms in parallel, idf evicts stopwords from every kept set, and pairs form only through shared kept terms — an inverted-index join whose posting lists are df_k << df, never all-pairs.",
    "embedding_covariance": "zero-join against the corpus: each task folds its rows' upper-triangle outer products into ONE d(d+1)/2-row integer-microunit partial (Arrow-batched mapInPandas, numpy-vectorized), and the exchange merges partials; the d-row marginals broadcast.",
    "pca_top2_subspace_scores": "covariance + means are the ONLY driver-side state; power iteration + deflation run there and the K components broadcast back as array literals — the projection is one map-only pass with K aggregate expressions sharing the centered array.",
    "embedding_outlier_zscores": "one d-row stats aggregate, a sanctioned d-row collect, then a map-only scoring pass with mu/var as broadcast literals — the corpus never shuffles.",
    "curation_decision_outlier_gated": "the eighth capstone signal composes as an id-keyed broadcast left join of a tiny flagged-id set against the decision relation; the gate threshold is fixed (chi-square scale), so no global sort of z-distances is ever needed.",
    "embedding_covariance_from_state": "per-slice moment states merge by plain groupBy-SUM (decimal addition is associative, merged == from-scratch bit-for-bit); the shuffle carries d(d+1)/2 + d state rows per slice, never vectors.",
    "similarity_topk_zorder": "layout-driven ANN: candidates come from an equi-join on the Morton-prefix bucket (query exploded to its cell ±1), so a probe reads ~3/2^prefix_bits of the corpus; exact cosine + per-query window top-k only over candidates.",
    "doc_hashed_embeddings": "model-free text vectors: tf/df hash aggregates, md5-bucket hashing, DECIMAL component+norm sums — emitted SPARSE (docs hit far fewer than dim buckets), the storage and join shape at scale.",
    "doc_embedding_topk": "sparse cosine retrieval: L2-normalized dot products need only SHARED buckets, so candidates form through an inverted-index equi-join against the broadcast query side; the 12dp DECIMAL dot product keeps near-tied hashed-vector rankings order-free.",
    "embedding_zdist_quantiles": "the threshold picker at scale: one ~500-bin mergeable DDSketch aggregate on top of the map-only scoring pass, where a true percentile would globally sort every score.",
    "snm_multipass_pairs": "two global ranks (forward + reversed key), each the two-pass range-partition trick; the union dedups exactly because both passes emit the normal key — candidate volume 2*n*w, no skew possible.",
    "embedding_fisher_scores": "one scan into a |classes| x d DECIMAL-sum aggregate; all variance decomposition arithmetic happens on that tiny relation — the corpus never shuffles.",
    "pca_residual_outliers": "same two-scan map-only shape as the subspace scores: the total-energy aggregate is one more expression sharing the centered array; components broadcast as literals, nothing new shuffles.",
    "zca_whitened_scores": "the Newton-Schulz inverse-sqrt fit runs DRIVER-SIDE on the collected d x d (bounded state); the cluster plan is the covariance aggregate plus ONE map-only projection with four folds sharing the centered array — identical scale shape to the PCA scores.",
    "training_export_shards": "deterministic shuffle-to-shards: per-row md5 hash + shard id are pure codegen; positions come from global_row_number's ONE range exchange + the n_shards-row broadcast min-rank join — never a per-shard data window.",
    "training_export_manifest": "the n_shards-row manifest aggregate over the sharded relation: count/max/sum partial-aggregate map-side, the final exchange carries 8 rows.",
    "image_phash_near_pairs": "same banded plan family as aHash: Arrow-batched mapInPandas hashing (4 longs per image downstream), band-key equi self-join for candidates (never cartesian), exact popcount verify on the 4-band rows.",
    "mixture_upsample_epochs": "fractional epochs as pure codegen + a bounded explode (<= ceil(f) rows out per row in, no shuffle, no RNG state); membership and multiplicity are layout-independent md5 expressions.",
    "training_export_upsampled_manifest": "upsample (map + bounded explode) -> composite replica key (pure concat) -> the sharder's ONE range exchange + n_shards-row min-rank broadcast join -> an 8-row manifest aggregate; the uniqueness contract costs one count-vs-count-distinct aggregate over the key column alone.",
    "pack_fill_rates": "the flat pack's running-sum window is the only data-sized stage (the per-lang parallel form exists as pack_chunks_by_lang); the fill histogram is a bin-scale groupBy into a <= 11-row report — integer-division deciles, no float buckets.",
    "audio_fingerprint_near_pairs": "same banded plan family as the image hashes: decode + 64-band fingerprint in ONE Arrow mapInPandas pass (4 longs per clip downstream), band-key equi self-join for candidates (never cartesian), exact popcount verify — the THIRD consumer of the polymorphic four-band relation.",
    "audio_fingerprint_keeplist": "fingerprint bands -> banded pair join -> HashMin CC on the tiny pair relation -> min-id canonical joined back by id only; payloads decode once and never leave the executors.",
    "similarity_topk_ivf_pq": "PQ-ADC: the corpus reduces to (cell + 16 codes) pure-codegen rows; broadcast queries carry their per-subspace ADC tables onto the cell-id join; scoring is 16 element_at lookups summed as DECIMAL (exact, order-free cut); only top-100 candidate ids join back to full vectors for the rerank.",
    "pack_fill_rates_by_lang": "per-lang packing windows run in parallel + the |langs|-row broadcast offset join (no global-order reducer); the fill histogram is a bin-scale groupBy into a per-(lang, decile) report — the 100 TB-true form of pack_fill_rates.",
    "training_export_checksum_manifest": "the content checksum is a commutative BIT_XOR aggregate over per-row md5(position:id) terms — map-side combine, no sequential fold; the manifest exchange still carries 8 rows, now with a replay-verifiable digest riding along.",
    "similarity_topk_ivf_pq_residual": "residual PQ: the code relation keeps the SAME persisted (cell + 16 codes) shape — the residual subtraction happens once at encode, staged behind plan barriers so the coarse argmin never re-expands; the query side broadcasts per-PROBED-CELL ADC tables so candidate and table share the residual frame through the cell equi-join; cut + rerank identical to the raw rung.",
    "kfold_assignments": "pure map: one md5 expression per row, no Exchange/Join/Window — fold membership is a function of (seed, id) alone, so the relation costs a scan.",
    "dedup_savings_report": "the keep-list chain (zero-shuffle signatures -> band-bucket candidates -> HashMin CC) dominates; the report adds one id-keyed join of the keep flags onto doc metadata and a |langs|-row partial-aggregated exchange — free on top of the mining.",
    "ann_recall_ivf_pq": "exact ground truth = the bounded query sample broadcast across ONE fan_out corpus scan (the sanctioned nested loop) into a WindowGroupLimit cut; the approximate relation joins back id-keyed; hit counts partial-aggregate before the per-query exchange.",
    "embedding_snapshot_drift": "two snapshot scans fan into per-dim DECIMAL-sum partial aggregates (d rows each); the only join merges the two d-row relations — the corpus never shuffles.",
    "pq_codebook_staleness": "the refit decision: per snapshot, one scan projects (cell, DECIMAL reconstruction error) behind plan barriers (codebooks ride as literals) into a cells-row partial aggregate; the only join merges the two cells-row stats relations — no window, no range exchange, the corpus never shuffles.",
    "kfold_shard_manifest": "kfold_assign is a pure-map md5 fold on top of the sharder's ONE range exchange (global_row_number) + broadcast min-rank join; the manifest is a k*n_shards-row partial-aggregated XOR/COUNT/SUM — the fold column adds zero exchanges (plan-pinned).",
    "ann_recall_zorder": "same recall shape as the PQ row but with exact COSINE ground truth (the rung's metric): bounded query sample broadcast across one fan_out corpus scan, z-order candidates from the Morton-bucket join, id-keyed hit join, per-query partial-aggregated counts.",
    "image_ahash_keeplist_png": "identical plan to the PPM keep-list — the container only changes per-payload decode cost inside the one Arrow pass (DEFLATE + unfilter), never the shape: 4 longs per image shuffle, banded pair join, CC on the tiny pair relation.",
    "image_ahash_keeplist_jpeg": "same keep-list shape through the baseline-JPEG entropy pipeline (Huffman + dequant + IDCT per payload, executor-side); the block-constant fixture keeps the lossy codec bit-exact so the oracle replay holds.",
    "video_frame_ahash_sample": "one container decode per clip in the Arrow pass, then a bounded per-clip fan-out (one row per SAMPLED frame, 4 longs each) — sampling is the knob that keeps the shuffle sublinear in raw frame count.",
}


def main() -> None:
    spark = get_session("plandump", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.001"
    qs = registry.queries()
    out = [
        "# Physical plans (generated by tools/dump_plans.py)",
        "",
        "Formatted `.explain` output of the headline queries at sf0.001,",
        "with the property that makes each plan scale. Regenerate after",
        "any operator change; `tests/test_plan_shapes.py` pins the",
        "load-bearing shapes in CI.",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        tree = plan.split("\n\n")[0]  # tree summary only; node details are noise here
        out += [f"## {name}", "", f"**Why this shape:** {note}", "", "```", tree, "```", ""]
    Path("docs").mkdir(exist_ok=True)
    Path("docs/PLANS.md").write_text("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(NOTES)} plans)")


if __name__ == "__main__":
    main()
