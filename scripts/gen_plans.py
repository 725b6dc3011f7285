"""Generate docs/PLANS.md from live .explain output for key operators.

Stamps the HEAD sha it ran on into the header; ``bench.py``'s
``check_plans_fresh`` (called by ``--freeze-baseline``) refuses the
round-close freeze if ``feast_java_old_spark/{operators,plans}``
changed since that sha — the plan-audit analog of the BENCH_DETAIL
fingerprint guard (VERDICT r14 "What's wrong" #2: PLANS.md was
regenerated 11 commits before close and nothing checked that the gap
was plan-neutral)."""
import io, os, re, subprocess, sys
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as e
from feast_java_old_spark.sources.tables import session_builder

spark = session_builder("plans",
    **{"spark.sql.autoBroadcastJoinThreshold": "64MB"}).getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.01"
qs = e.queries()

PICKS = [
    ("j1_entity_lookup", "Online lookup (J1): the online table is scanned and column-pruned, never shuffled — it is left-semi-joined against the broadcast request keys, and the matched rows broadcast back into a left BHJ against the request frame."),
    ("a1_latest_per_key", "Materialization (A1): max(struct) aggregate — partial_max runs map-side, so the shuffle carries one row per (key, map partition), not the history."),
    ("historical_asof", "Point-in-time as-of join: union-window form — one shuffle of history+requests; per-key cost stays linear on hot keys."),
    ("historical_asof_bucketed", "Skew-resistant as-of: window partitions salted with a time bucket; per-(key,bucket) partial_max summaries feed the carry-in, and a LeftSemi join prunes history buckets with no requests."),
    ("pipeline_clean_corpus", "Composed clean-corpus pipeline: 1 FileScan + 1 Exchange; every quality signal is computed in the map-side projection and rides the dedup group-by inside min(struct(...)) — the text column never crosses the shuffle."),
    ("pq_encode", "PQ index build: one mapInPandas pass (per-batch subspace GEMMs + argmin) emitting (id, subspace, code) scalars — no join, no exchange carrying a vector."),
    ("pq_adc", "PQ asymmetric-distance top-k: the per-(query, subspace, code) distance LUT ships as ONE broadcast frame; code rows hash-join it, ONE map-side-combined aggregate sums the m lookups per (query, vector), one window takes top-k — a single plan for any query-batch size, and the scan never touches a float vector."),
    ("ann_ivf_pq", "IVF-PQ + rerank: the broadcast residual-LUT join IS the probe pruning (an index row only meets queries that probed its list), one map-side-combined aggregate + one window shortlist, and the exact rerank is a broadcast semi-join against the corpus scan — float vectors fetched for rerank rows only; ONE mapInPandas index pass total."),
    ("kmeans_train", "Full k-means training (2 Lloyd iterations): each iteration's plan contains literal centroids (the step collects k x dim doubles driver-side), so lineage is iteration-independent; assignment is the Arrow GEMM kernel, means are fixed-width partial_avg aggregates."),
    ("dsir_weights", "DSIR importance weights: ONE codegen bigram explode into ONE per-(doc,flag,bucket) aggregate; bucket totals derive from that table so the explode subtree collapses to a ReusedExchange; the log-ratio table (<=4096 rows, integer micro-units) broadcasts back — only (doc, bucket, count) rows shuffle."),
    ("tpch_q5", "TPC-H Q5 shape (6-table join): ALL five joins resolve to BroadcastHashJoin at this SF (the date-filtered orders side broadcasts too), so the only exchange in the whole plan is the final aggregate's; at cluster scale AQE swaps the orders join to SMJ and lineitem shuffles once on l_orderkey. Date filter pushed to the orders scan; map-side-combined cents-quantized aggregate."),
    ("a7_rollup_revenue", "Star-schema ROLLUP: every dimension joins via BroadcastHashJoin; the fact table shuffles only grouping keys + partial sums."),
    ("similarity_ann_ivf", "IVF ANN: centroid assignment is a broadcast join + map-side argmax aggregate; probing is a bucket equi-join on centroid_id."),
    ("dedup_verified", "LSH generate -> exact verify: the Jaccard joins are bounded by the candidate list, not the inverted index — no hot-shingle blow-up at corpus scale."),
    ("similarity_ann_multiprobe", "Multi-table sign-LSH: one (table,bucket) equi-join over exploded keys generates candidates as id pairs; pair dedup is a map-side-combined aggregate BEFORE vectors re-attach, so corpus vectors never replicate per table."),
    ("chunk_dedup", "Cross-doc chunk dedup: chunk frequencies from a two-phase count-distinct; reassembly is sort-within-group collect_list — only chunk+id rows shuffle, never documents."),
    ("text_repetition", "Repetition signals: per-n explode -> two-level hash aggregate with partial_max/partial_sum map-side; the text column is consumed at the explode and never crosses an exchange."),
    ("feature_drift", "PSI drift: reference-window edges broadcast back to one bucketing scan; the bucket frame is generated, not scanned; every aggregate is map-side combined."),
    ("training_corpus", "Flagship composition: ONE fingerprint-partitioned full-document shuffle (canonical pick), then chunk-sized aggregates and codegen filters; the persisted scrubbed frame is reused by the chunk phase and rejoin instead of re-executing the window."),
    ("sequence_pack", "Distributed prefix sum: per-bucket subtotals aggregate, cumulative offsets via a single-partition window over the metadata-sized TOTALS frame (layout.cumulative_offsets — never a driver collect), broadcast-join offsets, within-bucket windows in parallel — no global-order single-partition window over DATA rows."),
    ("decontaminate", "Benchmark decontamination: the benchmark n-gram set broadcasts; corpus shingles stream through the broadcast inner join, and the count-distinct aggregate sees only MATCHED shingles — corpus text never shuffles."),
    ("corpus_shuffle", "Deterministic training shuffle: shard = md5 bucket, rank windows partitioned BY SHARD — parallel per-shard sorts; no stage orders the full corpus through one task."),
    ("kmeans_refine", "k-means Lloyd step (Arrow kernel): assignment is one BLAS GEMM per Arrow batch inside mapInPandas — no join, vectors ride through the kernel; the centroid mean is 64 fixed-width avg aggregates with partial_avg map-side — partial sums shuffle, vectors never do."),
    ("kmeans_refine_expr", "k-means Lloyd step (expression kernel twin, same oracle): per-centroid zip_with/aggregate cosine columns + greatest(struct) argmax — pure projection, but higher-order array functions evaluate interpreted (~10x the Arrow kernel at k=100); kept as the kernel-interchangeability proof."),
    ("rrf_fusion", "Reciprocal-rank fusion: both input lists are TakeOrdered-bounded before a <=50-row rank window; the fuse itself is union + ONE map-side-combined hash aggregate — no join anywhere."),
    ("quantile_bin_approx", "Approx equal-frequency binning: Greenwald-Khanna percentile_approx edges (mergeable partials map-side) as a 1-row broadcast; assignment stays a pure projection — no sort-based exact percentile in the plan."),
    ("profile_columns_approx", "Approx column profile: HLL++ approx_count_distinct per column in ONE aggregate — no Expand fan-out of input rows (the exact form multiplies every row by the profiled-column count)."),
    ("dedup_verified_simhash", "SimHash twin of dedup_verified (same truth oracle): band equi-join with a full-fingerprint bit_count(xor) hamming prefilter INSIDE the join stage, then set-intersection verify (per-doc xxhash64 shingle sets, array_intersect) — no pair x shingle explosion even when the generator over-emits."),
    ("unigram_logprob", "Unigram LM scoring: vocabulary aggregate (map-side combined) broadcasts back onto the token stream; the per-doc mean re-aggregate shuffles (doc, partial-sum) rows only."),
    ("interval_join", "Banded range join: events project to one time band, intervals explode to covered bands, and the join is a hash EQUI-join + residual range filter — no BroadcastNestedLoopJoin, no cartesian."),
    ("asof_nearest", "Bidirectional nearest-in-time join: right rows replicate to 3 adjacent tolerance bands, the join is a hash equi-join on (key, band), and the argmin is min(struct(|Δt|,…)) with map-side partial combine — never a theta join."),
    ("multi_window_features", "Multi-horizon rollup: every horizon is a conditional aggregate in ONE grouped aggregation — one scan, one aggregate-sized shuffle for any number of horizons."),
    ("rolling_features", "Per-event trailing window: value-based RANGE frame — one shuffle on the entity key, one sorted pass; no self-join, tie-rows see identical frames."),
    ("bm25_search", "BM25: doc length rides the postings aggregate as a grouping key (no per-doc join); the term filter sits BELOW the partial agg so only query-term postings shuffle; df is a count window over the query-sized postings; corpus stats broadcast as one row."),
    ("skew_join", "Salted join: the fact side carries a deterministic hash salt, the dimension replicates via explode(sequence) — hot keys fan out over `salt` reducers; result provably equals the unsalted join (the oracle computes the unsalted form)."),
    ("winsorize", "Percentile clipping: exact per-group bounds aggregate broadcasts back into a clip projection — the raw rows never shuffle."),
    ("scd2_history", "SCD2 history build: change-detect lag and interval lead share ONE hash exchange on the entity key (Catalyst reuses the partitioning across both Window ops); the shuffle is the theoretical minimum for data-dependent intervals."),
    ("funnel", "Strict-order funnel: stage events filter BEFORE the shuffle, gather per key via sort_array(collect_list), and the stage walk is a single JVM aggregate fold — one scan, one aggregate-sized shuffle for any stage count (no per-stage self-joins)."),
    ("quantile_bin", "Equal-frequency binning: k-1 exact percentile edges form a 1-row broadcast; bin assignment is a pure projection — the data rows NEVER hash-shuffle."),
    ("resample_ffill", "Grid resample + forward fill: grid probes are generated from the per-key presence aggregate (sequence/explode — no driver loop), unioned with events into ONE window pass keyed by entity; last(ignorenulls) carries state in a single sorted scan."),
    ("normalize_features", "Per-group scaling: moments (unordered frame) and percent_rank (ordered frame) share one hash exchange — the group statistics never materialize as a joined table."),
    ("zorder_key", "Z-order clustering key: min/max 1-row broadcast + pure shift/mask codegen projection; the full layout rewrite adds only a range exchange on this key."),
    ("ewma_features", "Per-key EWMA: one entity-keyed shuffle into sort_array(collect_list) + an expression-level F.aggregate fold — no UDF, no window re-sort, state bounded by the key's history like every ordered-sequence op."),
    ("rollup_merge", "Incremental rollup maintenance: both the old and delta aggregates are map-side combined (partial count/sum/min/max); the merge union re-aggregates ROLLUP ROWS — the exchange after the deltas carries per-key summaries, never events."),
    ("boilerplate", "Corpus boilerplate screen: shuffle-free shingle explode, doc-frequency hash aggregate with map-side combine, skew-safe shuffled hash join back, doc-keyed conditional aggregate — the text column never crosses an exchange."),
    ("semdedup", "SemDeDup: mean_pool centroids shuffle only (cluster, dim) scalars and broadcast back; ranking is one window per cluster; the pair join is a cluster-id equi-join — pairwise work exists only WITHIN clusters."),
    ("pagerank", "PageRank iteration: edges join the node-sized rank frame on src (shuffled hash join), contributions aggregate map-side-combined on dst; no adjacency matrix, no driver-side graph state."),
    ("scd2_join", "SCD2 point-in-time join: hash EQUI-join on the entity key with the validity interval as a residual filter - bounded by versions x facts per key, AQE-skew-safe, never a nested loop."),
    ("token_budget", "Token-budget selection: distributed prefix sum over the quality order - bucket subtotals, cluster-side cumulative_offsets window over the tiny totals frame, broadcast offsets, parallel within-bucket windows; no global single-task sort, no driver collect."),
    ("top_orders", "TPC-H Q3 shape: all three filters in PushedFilters, dims broadcast, map-side-combined revenue aggregate, TakeOrderedAndProject top-k (per-partition k rows, no full sort)."),
    ("pmi_collocations", "PMI collocations: ONE corpus pass into the map-side-combined bigram model; marginals and the total derive from the vocab-sized table (model-to-model joins); TakeOrdered top-k."),
    ("negative_samples", "Negative sampling: explode(sequence) fan-out + md5 hash projection generates candidates in-expression; the false-negative flag is one (user, candidate)-keyed join - no resample loop, no driver-side randomness."),
    ("session_cooccurrence", "Session co-occurrence: sessionize's single entity-keyed window, presence dedup aggregate, then a (key, session)-keyed pair join - pairwise cost bounded by items-per-session squared, never corpus-wide."),
    ("user_sequences", "Behavior sequences: one entity-keyed exchange into the ordered-gather kernel; truncation is an in-expression slice - no second window, no re-sort."),
    ("dedup_incremental", "Incremental ingestion dedup: only the BATCH side computes signatures; its band buckets equi-join the (persisted-at-scale) corpus index buckets, and the exact verify is candidate-bounded — cost per batch is independent of corpus size except via bucket occupancy."),
    ("triangle_count", "Degree-ordered triangle counting: the canonical edge frame is checkpointed once (3 consumers), orientation bounds the wedge self-join at the SMALLEST-degree vertex (O(m^1.5) worst case), closure is a hash equi-join — a hub never enumerates its full neighbor-pair set."),
    ("tpch_q1", "TPC-H Q1 shape: ONE pushed-filter FileScan + map-side-combined partial aggregate + a 4-group exchange — the canonical bandwidth-bound wide aggregate; money quantized to cents per row before summing."),
    ("tpch_q18", "TPC-H Q18 shape: the lineitem qty aggregate derives a tiny qualifying-key set that BROADCASTS into the orders join — lineitem is the only shuffled table, exactly once, for the HAVING aggregate."),
    ("a8_cube_revenue", "CUBE grouping-sets: a single Expand node fans each row to its 4 grouping sets BEFORE one map-side-combined aggregate — one scan, one exchange for the full lattice (never per-set re-scans)."),
    ("count_min", "Count-min sketch: depth cells per row computed map-side (explode of a literal struct array), ONE map-side-combined aggregate bounded by partitions x depth x width; point queries broadcast the <=1024-row cell table."),
    ("mmr_rerank", "MMR diversified top-k: exact cosine pool (corpus scan + broadcast queries, never shuffled), then the greedy runs per query group in one Arrow applyInPandas over pool x pool integer state — iteration cost is bounded by the pool, not the corpus."),
    ("bloom_filter", "Bloom join pruning: the filtered key set compresses to <= bits set-bit rows (map-side-combined distinct) that BROADCAST into the probe join — the explicit form of runtime row-level filtering; probing is map-side, the aggregate is probe-sized."),
    ("phrase_search", "Positional phrase search: postings are pruned to the phrase's terms UNDER the explode projection, each term's postings project back to the would-be start, and the phrase is a k-way hash equi-join on (doc, start) — no regex, no text re-scan at query time."),
    ("random_projection", "JL sign projection: the out_dim x dim sign table broadcasts into the exploded coordinate stream; ONE map-side-combined aggregate over micro-quantized integers — exact integer math, only (vec, j, partial-sum) scalars shuffle."),
    ("semantic_decontaminate", "Semantic decontamination: benchmark embeddings broadcast, cosine scored in the map stage, per-doc closest match via max(struct) with map-side partial combine — corpus vectors never cross an exchange."),
    ("sliding_distinct", "Sliding distinct: Spark Expands each event to its covering windows BEFORE the two-level distinct aggregate; the approx twin replaces the distinct value-set shuffle with mergeable HLL sketches."),
    ("ann_eval", "Retrieval metrics: the qrels (truth) join + ONE per-query aggregate with an integer micro gain table — metric components are exact integers; no per-query driver loop anywhere."),
    ("novelty_score", "Novelty: shuffle-free distinct-shingle explode, map-side-combined DF aggregate, AQE-skew-safe join back, per-doc conditional aggregate — the text column never crosses an exchange."),
    ("tpch_q6", "TPC-H Q6: ALL four range predicates in PushedFilters, 4-column ReadSchema, one map-side-combined partial sum, one row out — pure zone-map pruning + scan bandwidth at 100 TB."),
    ("substring_spans", "ExactSubstr span discovery: codegen slice/concat_ws gram build under the position explode, grams travel as xxhash64 LONGS into the map-side-combined frequency aggregate, seeds equi-join back on the hash (both sides already hash-partitioned), and the gap-and-islands merge is two window passes sharing ONE doc-keyed exchange — no suffix array, no self-join."),
    ("substring_dedup", "ExactSubstr apply: the same hashed-gram seed plan, coverage positions explode k-wide then distinct (a k-bounded amplification of SEED rows only), and reassembly is the chunk_dedup collect_list(when) aggregate — document text crosses exactly one exchange, inside the final doc-keyed aggregate."),
    ("compaction_plan", "Compaction planner: one hash exchange on the table-partition key, one in-partition size-DESC sort shared by the running-sum window and the per-bin totals window — a metadata-only plan (file stat rows, never data)."),
    ("expectations", "Expectations suite: every row-local rule is ONE expression in a single map-side-combined aggregate over one scan (uniqueness adds the exact-distinct Expand); the referential rule is a distinct-build + broadcast left join sized by the dimension — verdict rows out, nothing collected."),
    ("lm_backoff", "Stupid-backoff LM under a held-out model: every CASE branch pre-resolved MODEL-side (trigram⋈context-bigram, bigram⋈unigram, unigram⋈total — all vocab-sized), so the corpus-sized eval trigram stream is consumed ONCE through three broadcast left joins + a coalesce ladder; no per-branch corpus re-scan."),
    ("bloom_prune_join", "Bloom-pruned join: the dim key set packs into ONE dense array<long> bitmap row (gap-filled union + sort_array — never the O(n²) map-lookup densify) that broadcasts; probe hashes are codegen fact-side projections, so the interpreted BNLJ condition evaluates only element_at+AND residuals; FPs die in the exact join — the plan is row-identical to the unpruned join with the fact's non-matching majority cut before the exchange."),
    ("logreg_quality", "Distributed logreg training: the per-step plan is featb (persisted hashed-frequency rows, PRE-PARTITIONED on doc_id so the cached partitioning satisfies every step's join/aggregate distribution — only the n-row residual frame re-shuffles) ⋈ residual frame → ONE map-side-combined (dims+2)-row gradient aggregate; weights return as literals (CASE-chain projection, no weight join), so step N+1's plan contains constants, not step N's DAG — the kmeans lineage-cut pattern at classifier scale."),
    ("global_ranks", "Global sort ranks: percentile boundaries collapse to literals, bucket assignment is a chained-comparison codegen projection, the ONLY SinglePartition exchange carries ≤64 count rows (metadata), and row_number windows are PARTITIONED by bucket — the naive plan's whole-table single-partition sort never appears."),
    ("zone_map_prune", "Zone-map skip audit: both layouts' stats are metadata-sized aggregates (one map-side-combined groupBy per layout); the prune is a filter over ≤64 stats rows; the only data-sized work is the two layout projections and the exact matched-count scan — the audit itself never rewrites or re-reads data per candidate layout."),
    ("tpch_q4", "EXISTS as LEFT SEMI: the pushed returnflag filter reaches the lineitem scan, the semi join emits each order at most once (output bounded by |orders| regardless of lineitem fan-out), and the priority aggregate is map-side combined."),
    ("tpch_q13", "LEFT OUTER count distribution: customer keeps its null-extended rows through the join, count(o_orderkey) maps them to bucket 0, and the second aggregate is distribution-sized — two shuffles total, both key-width."),
    ("tpch_q16", "NOT EXISTS as LEFT ANTI: the deep-discount filter pushes below the anti join so the build side is the matching key set only; no null-aware NOT IN machinery, no outer-join+IS NULL multiset shuffle."),
    ("event_transitions", "Markov transitions: ONE entity-keyed exchange feeds the deterministic (ts, id)-ordered lead() window; the transition aggregate is |types|²-bounded with map-side combine, and row conditionals are a window over that tiny matrix — the corpus is scanned exactly once."),
    # r8 additions
    ("tpch_q17", "Correlated scalar subquery, submitted AS correlated SQL: Catalyst decorrelates the per-part average into ONE lineitem aggregate joined back on the correlation key — two fact scans total, never a per-outer-row subquery; part broadcasts."),
    ("tpch_q21_agg", "Hand-fused Q21 twin: the EXISTS and NOT EXISTS collapse into one per-order countDistinct aggregate re-joined on l_orderkey — one fact build + one self-join replaces the correlated form's three scans + semi + anti (Catalyst cannot find this rewrite; the gate proves both against one oracle)."),
    ("tpch_q15", "Agg-of-agg max: the per-supplier revenue aggregate is computed ONCE; its one-row max cross-joins back as a broadcast scalar (no whole-frame window, no CTE re-inlining second fact scan)."),
    ("tpch_q11", "HAVING vs global total: the total derives FROM the per-part aggregate and returns as a 1-row BroadcastNestedLoopJoin — the documented legitimate BNLJ shape (1-row build), keeping ONE fact scan."),
    ("dedup_prefix_filter", "Prefix-filtered set-similarity join: df-aggregate ranks shingles by rarity, a per-doc window keeps the |x|−⌈t|x|⌉+1 prefix, the self-join sees only prefix rows (0.6% of all-pairs here) with a floor'd symmetric length bound, and verification is per-candidate array_intersect — recall-complete with no max_df lossiness."),
    ("weighted_quantiles", "Weighted CDF inverse: ties collapse in a per-(group, value) pre-aggregate, ONE per-group window computes running+total weight over distinct values, and every quantile is a conditional-min in one fold — the defining inequality is pure BIGINT (den·cumw ≥ num·total)."),
    ("linreg_orders", "Grouped normal equations: nine BIGINT-exact sufficient sums in one map-side-combined aggregate; the 3×3 Cramer solve is a stateless projection — per group the shuffle carries 10 longs, whatever the row count."),
    ("hilbert_key", "Hilbert curve index: 8 unrolled shift/mask/CASE levels with explode-struct barriers pinning expression growth linear (CollapseProject would re-inline each level's x/y ~3×); scaling mins/maxes ride one broadcast 1-row aggregate."),
    ("ks_drift", "Exact two-sample KS: per-(group, value, side) counts collapse duplicates map-side; one per-group window turns counts into integer-lattice CDFs; the sup gap is a max aggregate — binning-free drift with no float comparison until the final division."),
    ("segment_overlap", "Exact segment overlap: ONE distinct (segment, key) projection self-joins on the key; per-segment cardinalities broadcast onto the pair counts — the oracle-bearing exact twin of the KMV sketch path."),
    ("cusum_alerts", "Page CUSUM as windows: the max(0,S+d) recursion is cumsum − min(0, running-min) — two window functions over one (group)-partitioned (ts,id)-ordered pass on the cents lattice; the pre-split reference mean broadcasts as one row per group."),
    ("curve_skip_audit", "Curve locality audit: both layouts' pseudo-file metrics come from ONE union + a per-(layout,fid) map-side-combined aggregate (one row per file crosses the exchange, not a window over every row); the dense-region range count is a generated 4096-cell grid (explode(sequence)), never a data rescan — hilbert 21 vs zorder 40 ranges on the seam-straddling box."),
    ("grouping_sets_revenue", "Arbitrary GROUPING SETS: all three sets expand through ONE Expand node into ONE exchange (rows x |sets| partials, map-side combined) — never one scan per set; grouping() flags ride the Expand."),
    ("rejection_report", "Rejection lineage: one projection computes every gate signal; the dedup group-by is a fingerprint-partitioned row_number window (one exchange), verdicts a stateless CASE — the per-doc form of clean_corpus at identical plan cost."),
    ("not_in_semantics", "NOT IN three-valued logic: the NULL-poisoned variant must plan a null-aware anti join (returns zero rows); the NULL-free variant and NOT EXISTS compile to plain left-anti — three labeled counts from one union."),
    # r9 additions
    ("tpch_q20", "Q20's three-level nest (IN over a derived partsupp whose WHERE holds another IN + a correlated scalar agg), submitted AS correlated SQL: Catalyst decorrelates to one pre-window aggregate, one in-window aggregate, an equi-join on the correlation keys, a broadcast semi against the part family and a semi into supplier — every join keyed, the fact scanned twice, never per-row; the empty-window rows keep NULL sums (count-bug edge) and fall out at the filter."),
]

# Refuse to stamp a dirty plan-bearing tree: the generated plans would
# reflect the WORKING TREE while the stamp claims clean HEAD — if the
# edit is then stashed/reverted instead of committed, check_plans_fresh
# sees zero diff vs the stamped sha and the freeze passes on exactly
# the silent-stale audit the guard exists to prevent.
_dirty = subprocess.run(
    ["git", "-C", REPO, "status", "--porcelain", "--",
     "feast_java_old_spark/operators", "feast_java_old_spark/plans"],
    capture_output=True, text=True, check=True,
).stdout.strip()
if _dirty:
    sys.exit(
        "gen_plans: refusing — uncommitted changes under "
        f"feast_java_old_spark/{{operators,plans}}:\n{_dirty}\n"
        "Commit them first so the stamped sha describes the generated plans."
    )
HEAD = subprocess.run(
    ["git", "-C", REPO, "rev-parse", "HEAD"],
    capture_output=True, text=True, check=True,
).stdout.strip()

out = io.StringIO()
out.write(f"""# PLANS — physical-plan audit of the flagship operators

Generated at commit `{HEAD}` from live `.explain("formatted")` output
at sf0.01 (plans are scale-invariant: the same shapes run at 100 TB;
only partition counts change). Regenerate with
`python scripts/gen_plans.py`. The round-close freeze
(`bench.py --freeze-baseline`) refuses if
`feast_java_old_spark/{{operators,plans}}` changed since this sha.

What to look for, per the scale design in README.md: `PushedFilters` and
pruned `ReadSchema` at every scan, `BroadcastHashJoin` wherever a small
side exists, `partial_*` aggregate functions before every `Exchange`
(map-side combine), and the *absence* of wide shuffles on the hot path.

""")
def emit(name, blurb, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    # strip expr ids and truncate very long lines for readability
    clean = re.sub(r"#\d+L?", "", plan)
    lines = [l[:160] for l in clean.splitlines() if l.strip()]
    # keep the tree part (indented operators), drop nothing else
    out.write(f"## {name}\n\n{blurb}\n\n```\n")
    out.write("\n".join(lines[:40]))
    out.write("\n```\n\n")

for name, blurb in PICKS:
    emit(name, blurb, qs[name](spark, sf))

# rest_online_features' queries() entry is an eager HTTP scenario (the
# result frame is rebuilt from the response body) — audit the underlying
# retrieval plan the controller executes: controller.retrieve on the
# same env, refs and parsed rows.
from feast_java_old_spark.plans.serving_rest import (
    ServingServiceRestController,
    _parse_entity_rows,
)

_reg, _online, _entities = e._customer_orders_env(spark, sf, max_age=e.MAX_AGE_1Y)
_ctl = ServingServiceRestController(
    spark, _reg, online_frames={"customer_orders": _online},
    full_feature_names=True,
)
_rows = _parse_entity_rows(
    [
        {"fields": {"c_custkey": int(r.c_custkey)},
         "timestamp": "1998-10-01T00:00:00Z"}
        for r in _entities.collect()
    ]
)
emit(
    "rest_online_features (controller retrieval plan)",
    "The serving REST route's underlying plan (the queries() entry is "
    "the eager HTTP scenario; this is what the controller executes): "
    "one SQL statement — the online table is scanned and column-pruned, "
    "NEVER shuffled; the request keys ride inside the scan as one "
    "array_contains(array(<literals>), c_custkey) filter, and the "
    "filtered rows are the broadcast side of the left BHJ against the "
    "request frame, gathered into one partition and sorted locally; "
    "the max_age staleness check is a pure projection. The response "
    "collect is bounded by the limit(max_rows+1) guard.",
    _ctl.retrieve(
        ["customer_orders:total_price", "customer_orders:order_status"],
        _rows,
        "default",
    ),
)

# sdk_online_features is the same eager-HTTP shape one hop further out
# (FeastClient → gRPC-over-HTTP socket → the SAME controller): its
# underlying Spark plan IS controller.retrieve's — the client adds zero
# plan nodes. Audit it explicitly so the gate query has its own section.
emit(
    "sdk_online_features (client-SDK serving plan)",
    "The FeastClient serve's underlying plan — identical to the REST "
    "twin's single-statement plan because the SDK is a pure consumer: "
    "refs are validated client-side (RequestUtil), Rows become the same "
    "parsed "
    "entity-row frame, and the servicer calls the same "
    "controller.retrieve. Statuses ride as projections; nothing about "
    "the client changes the distributed shape.",
    _ctl.retrieve(
        ["customer_orders:total_price", "customer_orders:order_status"],
        _parse_entity_rows(
            [
                {"fields": {"c_custkey": int(r.c_custkey)},
                 "timestamp": ("1998-10-01T00:00:00Z"
                               if int(r.c_custkey) % 2 == 0
                               else "2005-01-01T00:00:00Z")}
                for r in _entities.collect()
            ]
        ),
        "default",
    ),
)

# odfv_transform_service is likewise an eager scenario (the transform
# server must be live during execution) — the PLAN is server-independent,
# so explain the lazy cross-process frame with a placeholder endpoint.
from feast_java_old_spark.transport.transform_service import service_transform
from pyspark.sql import functions as F
from pyspark.sql import types as T

_latest = e.q_a1_latest_per_key(spark, sf).withColumn(
    "etype_len", F.length("event_type").cast("int")
)
_client_view = e.OnDemandFeatureView(
    name="scored_user",
    inputs=["value", "etype_len"],
    output_schema=T.StructType([T.StructField("score", T.DoubleType())]),
    transform=service_transform("127.0.0.1:0", "scored_user", ["score"]),
)
emit(
    "odfv_transform_service (cross-process ODFV plan)",
    "The external-transformation-service serve: the A1 latest-wins "
    "aggregate feeds ONE mapInPandas stage whose closure is the Arrow-"
    "IPC-over-HTTP round trip — each Arrow batch calls the service from "
    "its own Python worker (the driver never relays data), and the "
    "status column is a literal projection above it. Plan-identical to "
    "the in-process odfv_transform except for the closure's body; the "
    "shuffle structure is exactly A1's.",
    e.apply_odfv(_latest, _client_view).select(
        "user_id", "score", "score__status"
    ),
)

# schema_evolution's queries() entry returns an eager localCheckpoint (its
# scratch store is deleted before return), which would explain as a bare
# checkpoint scan — audit the real cross-epoch serve plan instead.
import shutil, tempfile
_store = tempfile.mkdtemp(prefix="fjos_plans_schemaevo_")
try:
    emit(
        "schema_evolution (cross-epoch serve)",
        "Schema-versioned serve: one pruned FileScan per schema epoch "
        "(per-epoch conformance — try_cast retype, NULL for added "
        "features — is plan-time projection, the reference's per-ROW "
        "avro decode hoisted to per-EPOCH), union, then ONE "
        "max(struct) latest-wins aggregate with partial_max map-side; "
        "the shuffle carries one row per (key, partition) however many "
        "epochs exist.",
        e._schema_evolution_frame(spark, sf, _store),
    )
finally:
    shutil.rmtree(_store, ignore_errors=True)
with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
    f.write(out.getvalue())
print("written", len(out.getvalue()), "chars")
