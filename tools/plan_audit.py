"""Generate PLANS.md: optimized physical plans for representative
queries, with the scale-relevant properties called out.

Usage: python tools/plan_audit.py [sf_dir]   (writes repo-root PLANS.md)

This is the ".explain until it's the plan you'd want" practice made
reviewable: the same properties are pinned as assertions in
tests/test_plans.py; this artifact shows the full plans they guard.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, what to look for)
SHOWCASE = [
    ("pricing_summary", "single scan -> partial agg -> one exchange -> final agg; filters and 7-column pruning pushed to parquet"),
    ("top_customers", "orders pre-aggregates BEFORE joining customer; dimension broadcast; top-k is TakeOrderedAndProject (no global sort)"),
    ("shipping_priority", "segment filter prunes the broadcast dim; date predicates pushed into both fact scans; TakeOrderedAndProject"),
    ("compare_diff", "one full-outer sort-merge join on the key; canonicalization fused into narrow projections"),
    ("paragraph_dedup", "one exchange of paragraph rows on the digest (window min-struct), one reassembly exchange on doc_id"),
    ("dedup_minhash_lsh", "band-bucket self-join carries (id, band, bucket) longs; shingle arrays only join for candidate verification"),
    ("similarity_topk", "probes broadcast; corpus streams through one ArrowEvalPython/mapInPandas pass; only batch-local top-k rows shuffle for the final rank"),
    ("cube_volume", "Expand feeds partial aggregation before the single exchange (map-side combine per grouping set)"),
    ("skew_salted_join", "(key, salt) join spreads the hot key across n_salts tasks; dimension replicated via explode, no skewed exchange"),
    ("cdc_upsert", "left-anti join on the key + union; update keys broadcast when small"),
    ("returned_revenue", "returned-line revenue pre-aggregates per order BEFORE the orders join; customer+nation broadcast; TakeOrderedAndProject top-20"),
    ("pack_sequences", "running-sum window partitioned by shard (id % n) — no global sort; one exchange total"),
    ("chunk_text", "projection + explode only — zero Exchange in the whole plan"),
    ("kmeans_step", "centroid grid rides the task closure; one Arrow assignment pass then one (cluster, pos) hash aggregation — vectors never shuffle"),
    ("min_cost_supplier", "Q2's correlated MIN decorrelated: ONE window over the per-(part,supplier) aggregate, single lineitem scan, dims broadcast"),
    ("bracket_revenue", "Q19's OR-of-ANDs pushed into the part parquet scan; single equi-join with residual disjunction, no union of joins"),
    ("window_overlap_pairs", "inverted-index self-join on 8-byte window hashes; hot-window cap before the f-squared pair blowup; one ArrowEvalPython"),
    ("pagerank_trade", "3 unrolled iterations: each is one ranks-onto-edges join + one dst aggregate; out-degree edge list built once"),
    ("dedup_against_ref", "cross-corpus LSH: new x ref band-bucket join (never |new| x |ref|); both fronts one fused Arrow kernel each"),
    ("kmeans_train2", "two Lloyd iterations driven by per-iteration codebook pulls (one Arrow pass + one (cluster,pos) agg each, vectors never shuffle); the RETURNED frame is the final update's already-collected rows — LocalTableScan, no re-execution"),
    ("gopher_quality", "five integer rule predicates in ONE narrow projection — zero Exchange, zero Python eval"),
    ("dedup_semantic", "one Arrow assignment pass (centroids in closure), ONE vector shuffle on cluster id for the within-cluster pair join"),
    ("dsir_select", "constant-size weight table broadcast; top-N boundary via TakeOrderedAndProject — no global rank window"),
    ("similarity_pq_topk", "codes table built in one Arrow pass; ADC lookup broadcast; scoring = broadcast join + m-row-group aggregate"),
    ("triangle_suppliers", "degree-ordered orientation bounds wedge fan-out to O(sqrt m); joins carry node ids only"),
    ("dsir_sample", "1-row total-weight broadcast + narrow integer-threshold projection; no rand(), no shuffle of the data"),
    ("session_paths", "sessionize window + per-session struct-sorted path assembly; top-N over the path aggregate, never the event stream"),
    ("events_anomalies", "two rank-selection windows on one group key; integer cross-multiplied 3-MAD flag, no interpolation"),
    ("pipeline_selection", "gate fuses into the scan; DSIR aggs + constant broadcasts; text crosses the wire once (into the shard windows)"),
    ("similarity_ivf_pq_topk", "one closure-codebook Arrow pass emits (vid, s, code, cell) index rows; the probed-cell set filters them, probe-cells + ADC lookup broadcast; candidates via broadcast cell join — no vid join between cells and codes"),
    ("pmi_collocations", "unigram/bigram partial+final counts; min_count prune BEFORE the vocab-keyed count joins; 1-row corpus-total broadcast; TakeOrdered"),
    ("sparse_retrieval", "term-keyed postings join is the inverted index; contributions partial-sum map-side; per-query top-k via WindowGroupLimit, no forced build side"),
    ("bpe_train", "the RETURNED merge table is driver-collected constants (LocalTableScan); each training superstep was one Arrow encode + partial/final pair agg over the persisted word vocab + TakeOrdered(1)"),
    ("tokenize_bpe", "each DISTINCT word encodes once through one Arrow kernel; tokens join their piece strings (size-gated broadcast); per-doc digest via struct-sorted reassembly"),
    ("boilerplate_scrub", "two-level (digest,id)-distinct aggregate computes document frequency with map-side partials (never a collect_set window); hot digests join back as a shuffle join; one reassembly exchange"),
    ("stream_band_candidates", "batch form of the dedup-on-ingest operator: band-bucket self-join carries (id, band, bucket) longs only, one fused Arrow signature kernel"),
    ("similarity_lsh_recall", "both ANN legs reuse their own checked plans; the intersection is an equi-join on (probe, neighbor) + per-probe count — no new shuffle shapes"),
    ("multimodal_png_decode", "one ArrowEvalPython/mapInPandas pass over the id projection — encode+decode+features stay batch-local, zero Exchange"),
    ("pagerank_converged", "probe-cadence supersteps: two lazily-chained join+agg rounds per action over the persisted degree-annotated edge frame; probe is a plain aggregate (prev rank carried in-row, no self-join)"),
    ("sketch_hll_partkeys", "one scan -> (grp, register) partial+final max -> constant-size register frame (persisted); the __all__ union row merges registers, never rescans lineitem"),
    ("sketch_kmv_shingles", "one fused Arrow shingle kernel; distinct hashes -> TakeOrderedAndProject(128) — the sketch is 128 longs regardless of corpus size"),
    ("sketch_theta_leakage", "per-side distinct + TakeOrdered(k); all set algebra (theta, samples, intersection) on <=k-row frames — the corpora never join"),
    ("sketch_cms_tokens", "token stream -> 4x explode -> (seed,bucket) partial+final count: the grid is depth*width counters; probes broadcast into the grid join"),
    ("lm_surprisal_quality", "LM = one aggregate over the reference slice, joined back BY TOKEN (size-gated broadcast) — the model is never collected; per-doc score is one (id, tok) agg"),
    ("ccnet_quality_buckets", "tercile ranks over windows KEYED by language — no SinglePartition sort at any corpus size"),
    ("domain_mixture_sample", "per-domain plan is a constant-size aggregate broadcast into a narrow hash-test projection; the corpus never shuffles for the sample"),
    ("stream_hll_users", "stateful shape: groupBy(window, register) max — state is 256 ints per open window, not the key set; estimate is the downstream agg"),
    ("sketch_join_size", "join cardinality from two depth*width grids joined on (seed,bucket) — the optimizer's question answered without re-touching the table"),
    ("soft_dedup_weights", "cluster sizes from one sha256-digest aggregate joined back by digest — the shuffle moves 32-byte keys, never documents; weights are a narrow integer projection"),
    ("bloom_membership", "filter = distinct position set (<= m rows of one long) built once and BROADCAST into the probe's left-semi position join; per-key verdict is a count-of-matched-seeds aggregate"),
    ("stream_cms_heavy", "stateful shape: groupBy(window, seed, bucket) count — state is a depth*width grid per open window; static probe rows broadcast into the grid; per-(window,key) min is the chained second aggregate"),
    ("quantile_sketch_prices", "deterministic md5 rate-filter (narrow, no shuffle) prunes the corpus BEFORE the per-group rank window — only sampled rows sort; quantiles are conditional aggregates at computed ranks"),
    ("bloom_shard_dedup", "the standing corpus's Bloom position set broadcasts into the shard's semi join; only bloom-maybe digests reach the exact confirmation join — sha256 keys move, documents never do"),
    ("scd2_user_status", "both SCD2 windows (lag change-detect, lead interval-close) and the final aggregate share ONE user_id exchange — change rows are filtered before the second sort ever runs"),
    ("interval_coverage", "orders' (orderkey, orderdate) projection broadcasts into lineitem; the island merge is one keyed window + keyed aggregate on l_suppkey, no SinglePartition stage"),
    ("weighted_sample_customers", "the A-ES key (md5-uniform ln(u)/w) is a narrow JVM-side projection; the only exchange is the per-nation rank window, and rank<=k prunes before the final sort"),
    ("incremental_agg_orders", "the maintenance merge unions two KEY-SIZED state frames and re-aggregates once — count combines as sum; the base table appears only in the state-build legs, never in the merge"),
    ("zonemap_prune_scan", "shard envelopes from one map-side-combining aggregate; survivors BROADCAST into a left-semi join (fact side never shuffles) with the residual range filter pushed into the scan"),
    ("bfs_hops_trade", "frontier supersteps: each level joins the FRONTIER (not the visited table) onto the persisted edge frame, dedupes, anti-joins visited; localCheckpoint truncates per-level lineage; the FINAL level skips both the checkpoint and the emptiness probe (nothing downstream consumes them)"),
    ("setsim_ppjoin", "rarest-first prefix postings self-join — candidates carry (item, id, len) only; the rank window is keyed per doc (no global sort); full arrays appear once, in the verify join"),
    ("lpa_communities", "2 unrolled supersteps: labels-onto-edges join + (dst,label) count + per-dst max_by hash-agg argmax (no sort, no window), all keyed by node; the argmax never collects"),
    ("link_predict_customers", "middle-degree filter caps the wedge self-join BEFORE pair generation; postings carry (mid, node, weight) only; one keyed (a,b) aggregate then TakeOrderedAndProject top-100"),
    ("basket_lift_parts", "max_basket_size=8 cap joins the size filter BEFORE the pair self-join (quadratic guard pre-join, like link_predict's middle cap); item marginals join back on the item key; 1-row n_baskets total broadcast-HINTED so AQE can never demote the scalar to a shuffle; exact BIGINT div milli ratios"),
    ("rfm_segments", "one customer-key aggregate, then all three ntile windows share ONE nation-key exchange (one Exchange, three sorts) — segmentation inside the business dimension, never a global sort"),
    ("zorder_layout", "envelope = one bounded 1-row aggregate; the Morton key is a pure narrow projection (shifts+masks, zero Exchange); the cell report is one keyed aggregate on the 256-cell id"),
    ("scd2_snapshot", "the snapshot is a pure narrow interval filter over the SCD2 build — no window, no exchange beyond the build's single user_id exchange; at rest the predicate pushes into the dimension scan"),
    ("embedding_scatter", "vectors never shuffle: one mapInPandas int64 partial-Gram pass, then a hash aggregate over constant-size (grp,i,j) moment rows; reshape joins all broadcast"),
    ("drift_price_bands", "two map-side-combining histogram aggregates with the slice predicates pushed into each scan; band-count-sized full-outer join; both totals broadcast as 1-row frames"),
    ("vocab_oov_rate", "reference vocab = one TakeOrderedAndProject aggregate; constant-size vocab broadcasts into the target's exploded token stream (corpus never shuffles); per-doc rollup is one keyed aggregate"),
    ("label_noise_scan", "centroid matrix = bounded (labels x dim) pull riding the task closure into ONE mapInPandas pass; vectors never shuffle; output is a narrow per-row verdict frame"),
    ("stream_drift_guard", "stateful shape: groupBy(window, bucket) count — grid-bounded state per open window; chained per-window total aggregate; static reference broadcast after the explode projection"),
    ("hybrid_rank_fusion", "both retrieval legs reuse their own checked plans; the fusion is k-bounded — union of two narrow rank projections, one (query,doc) aggregate, one per-query window capped at top_n"),
    ("feature_smooth_balance", "2 unrolled hops, each ONE src-keyed features-onto-edges join + ONE dst-keyed aggregate (the pagerank exchange structure); floored integer means, no window, no Python"),
    ("similarity_pq_recall", "both legs reuse their own checked plans (brute truth + PQ ADC); the audit is an equi-join on (probe, neighbor) + per-probe count — no new shuffle shapes"),
    ("zorder_write_prune", "two layouts' zone maps are shard-count-sized aggregates; every scalar (totals, survivors, hit aggregate) arrives via explicit broadcast nested-loop — no CartesianProduct; the z-band key is a pure projection (no exchange below its stats agg)"),
    ("bm25_retrieval", "tf/df/doc-length are three slim aggregates off one exploded token pass; (N, avgdl) scalar broadcast-hinted; the term-keyed postings join is the inverted index with map-side partial sums; per-query top-k is a bounded window, no global sort"),
    ("bm25_indexed", "corpus side is ONE parquet scan of the written postings artifact — no tokenizer, no corpus aggregate in the plan; stats is a broadcast 1-row scalar; the ranking is a single term-keyed equi-join + per-query bounded window"),
    ("sparse_indexed", "postings artifact scan + term equi-join + (query,doc) partial-sum aggregate; the max_df cap is a pushed-down filter on the stored df column, not a df-aggregate + semi-join"),
    ("skew_key_events", "one map-side-combining count aggregate on the key; TakeOrderedAndProject for the top-20 (never a global sort — the rank window runs over the already-limited rows); totals scalar broadcast-hinted"),
    ("scd2_apply_events", "closed history and untouched keys pass through semi/anti joins WITHOUT entering any window; the touched keys broadcast straight from the batch scan (no distinct aggregate or exchange — semi/anti joins ignore duplicate build keys); only (touched current rows ∪ change batch) — batch-sized — flows through the two shared-exchange scd2 windows"),
    ("resample_user_daily", "sequence()+explode generates each key's own day spine — no calendar table, no driver loop; day-last is a max_by hash aggregate (no window); ONE keyed window does the carry-forward"),
    ("k_anonymity_audit", "one hash aggregate to class granularity (count + two-phase distinct inside the same key exchange), persisted; the risk total is a 1-row broadcast over the cached CLASS table — exactly one customer scan in the plan"),
    ("ewma_nation_daily", "sort-free EWMA: explode(sequence) scatters each daily point into its 8 decay targets, one (key, day) hash aggregate folds them — no per-key ORDER BY window anywhere; the daily frame is persisted for its two consumers (scatter + last-day bound)"),
    ("benford_prices", "scan -> 9-row partial+final count aggregate -> 1-row broadcast total; the leading digit is substring of the integer rendering, whole-stage codegen, zero Python"),
    ("compaction_bins", "the single-partition running-sum window runs over the 311-row FILE INVENTORY (metadata scale), downstream of the distributed per-file size aggregate — data rows never see the window"),
    ("checksum_orders_monthly", "one keyed aggregate, no join, no sort: md5 lanes and mod-residues fuse into the scan projection; commutative sums make the digest partitioning- and order-invariant"),
    ("event_transitions", "one keyed lag window forms the steps, one hash aggregate folds to the |states|-squared grid; from-state totals re-aggregate FROM THE GRID and broadcast back — the event stream is scanned once"),
    ("contingency_segments", "one scan to the persisted 5x5 cell grid; marginals and the total re-aggregate from the CACHED cells (grid-sized) and join back broadcast; every share is cross-multiplied BIGINT"),
    ("fk_orphan_audit", "three independent one-pass branches in one union: key projection -> LEFT join on the dimension's distinct keys (hit marker, broadcast when dim-sized) -> ONE conditional aggregate — the fact is never re-scanned per count"),
    ("typo_pairs_names", "FastSS deletion index: ONE exchange on the variant; candidate pairs form INSIDE each <=cap posting list (sorted structs, id_a < id_b by construction) — no freq-count join, no variant self-join; JVM levenshtein verifies candidates only"),
    ("ivm_join_nation", "delta-join IVM over states: new-fact aggregate joins the full dimension, new dims join the standing per-key fact state (late-arriving dimension rows surface here), both merge with COMBINE fns — the base fact appears once (building the initial state), never in the maintenance terms"),
    ("ivm_retract_orders", "signed-state IVM: the retraction rows project to sign-weighted sum/count (cast to the state's types) and union with the standing state; ONE merge aggregate folds both (deletes are additive) and a count≠0 filter drops fully-retracted keys — one key exchange over the union (the other builds the state from orders), base never rescanned"),
    ("ivm_minmax_orders", "retractable extrema: per-key bounded top-4 window state; maintenance splits touched/untouched keys via semi/anti joins, per-key windows run over distinct-value cells filtered to k before any array builds, and repair scopes the base rescan to flagged keys by semi-join — never a full base scan, no unbounded collect"),
    ("optimize_incremental", "incremental OPTIMIZE: bins and each bin's z envelope are planned on the driver from the parquet footers (row counts, row-group min/max) — no planning or envelope job; only multi-file bins rewrite (one distributed z-sort job per bin, Delta's own schedule), singleton-bin files stay byte-identical on disk; the report is an inventory-sized local relation (LocalTableScan)"),
    ("cluster_split", "leakage-safe split: the near-dup pair graph (LSH-verified, tiny next to the corpus) labels via the hybrid CC path; the corpus touches ONE left join against the label table plus a narrow md5 projection — no corpus self-join, no window"),
    ("segment_diversity", "one scan to (group, label) cells, one grid-sized re-aggregate; Gini and inverse-Simpson are rational in the counts, so both are cross-multiplied BIGINTs — no log, no float"),
    ("image_dhash_pairs", "one Arrow mapInPandas pass emits 2 longs per image; 16-bit band posting lists generate pairs in ONE exchange (hot-bucket cap); Hamming verification is JVM bit_count(xor) — all-pairs never in the plan"),
    ("auc_dsir_en", "Mann-Whitney without a per-row rank: rows collapse to (score, n_pos, n_neg) CELLS first, the ordered scan runs over the cell table (metadata scale), ties exact via the +n_neg term — 2U and the micro division are pure BIGINT"),
    ("bm25_after_delete", "document takedown without rebuild: the persisted tf state is read by BOTH the retraction lookup (semi-scoped to the doomed ids, negated) and the final index; the signed union nets per (doc, term) in ONE map-side-combinable aggregate before the df/dl aggregates — no second tokenizer pass, no corpus rescan, ranking identical to bm25_retrieval's shape"),
    ("ann_append_query", "incremental IVF-PQ: the delta's cell assignment + PQ encode are one Arrow pass with the FROZEN books riding the task closure (base never rescanned), appended into its cells' directories; the query side scans the cell-partitioned index table under a cell PartitionFilter, routes candidates by a broadcast probe→cell join, and the ADC lookup broadcasts — vectors never shuffle anywhere"),
    ("ingest_pipeline", "composed ingest loop: decontamination moves digests behind the size-gated Bloom position table (broadcast below the 2^20-bit gate, streamed-scan inversion above — documents never shuffle for it) and the exact confirm SCANS the corpus digests against broadcast candidates; the survivors frame is persisted for its three consumers; the only corpus-scale shuffles are the LSH pair generation the split assignment already requires"),
    ("ann_delete_query", "ANN takedown: the tombstone table anti-joins (broadcast) out of the partition-filtered index scan BEFORE candidate generation — a delete is an O(ids) append, the index table and frozen books are untouched, and every surviving ranking is bit-identical"),
    ("ann_recall_after_append", "the drift alarm for the frozen-quantizer trade: both legs reuse their own checked plans (brute truth, appended-artifact ADC); the intersection is an equi-join on (probe, neighbor) + per-probe count — no new shuffle shapes"),
    ("ann_partitioned_query", "build + query of the one artifact layout: the index table is hive-partitioned by cell and the probed-cell set (driver-side, codebook-scale math) is a PARTITION filter on the scan — nprobe of n_cells directories read before any join; every artifact table reads under its writer's schema, so no footer-inference job; PartitionFilters pinned in tests/test_plans.py"),
    ("ingest_incremental", "steady-state ingest: batch text is the ONLY text read (one Arrow pass over the batch front); batch-vs-corpus candidates come from a bucket join against the standing postings table (batch side broadcast); corpus-internal pairs read pre-verified from the state; the CC relabel runs over a BATCH-SIZED graph (new pairs + touched clusters' star edges from the standing assign table) — the standing pair graph is never rescanned; since r14 every per-batch state write is batch-sized too (the bloom OR-in is an append of the batch's positions, not a rewrite of the corpus-sized table)"),
    ("ingest_reassign", "merge-shaped ingest receipts: the standing assign table reads as base ∪ latest-per-doc delta with an r14 digest-membership filter hiding uncommitted-batch survivor rows (delta ids broadcast against the scanned digests table — every probe broadcasts the batch-sized side, the corpus-scale base/digests are scanned, never shuffled); reassignments were computed on the batch-sized star graph and appended, so the returned plan is exactly that base+delta read"),
    ("ingest_compact_resize", "bloom lifecycle: the compactor folds every state table through the staged swap and rebuilds the membership sketch at auto-sized geometry carried in the table's own columns; the post-resize ingest receipt plan is a bare FileScan of the durable batch receipt"),
    ("ann_retrain_query", "the drift-alarm response: retrain = ann_index_build's one Arrow pass over the current corpus (books ride the task closure, vectors never shuffle) into a staged generation, then one commit.swap of the whole generation directory (root _SUCCESS marks it committed) — the query side is the standard partition-filtered artifact scan + broadcast probe→cell routing, identical to the fresh-build plan"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from data__converter_spark.session import get_spark
    from data__converter_spark.workloads import QUERIES

    spark = get_spark("plan_audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    out = [
        "# PLANS — optimized physical plans for the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` "
        "(re-run after plan-affecting changes). The properties named per "
        "query are also pinned as plan assertions in tests/test_plans.py.",
        "",
    ]
    from data__converter_spark.scale import release_persisted

    for name, note in SHOWCASE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # free this query's caches before the next builds its plan —
        # leaked blocks trigger CacheManager 'already cached' warnings
        # and let one showcase's cache distort another's plan
        release_persisted()
        # strip volatile ids/paths for a stable, reviewable artifact
        plan = re.sub(r"#\d+L?", "#x", plan)
        plan = re.sub(r"\[plan_id=\d+\]", "", plan)
        plan = re.sub(r"file:[^,\]\s]+", "<path>", plan)
        plan = "\n".join(line.rstrip() for line in plan.splitlines()[:60])
        out += [f"## {name}", "", f"*{note}*", "", "```", plan, "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
