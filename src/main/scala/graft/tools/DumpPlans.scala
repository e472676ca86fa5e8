// Run with: sbt "runMain graft.tools.DumpPlans"  (writes PLANS.md)
package graft.tools

import java.io.PrintWriter
import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: the formatted physical plan of the headline queries,
  * annotated with the scale property each plan is expected to show. The
  * plan-shape assertions live in PlanGuardSpec; this dump is the
  * human-readable audit trail.
  *
  * DEFINITION OF DONE for any commit that touches a gate: re-run this
  * dump so the committed audit matches the shipped plan. The r16 round
  * shipped a correct null-safe sentinel filter while PLANS.md still
  * showed the NULL-dropping pre-fix spelling — anyone auditing plans
  * would have concluded the bug was live (r16 verdict hygiene item).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false") // static plans for audit
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // default to the BENCH scale so the committed plans match what the
    // bench artifact times (plan SHAPE is sf-invariant for these queries —
    // stats-dependent choices like broadcast sides are pinned by hints —
    // but auditing at the measured scale removes the caveat)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val audit: Seq[(String, String)] = Seq(
      "q1_agg" -> ("partial/final HashAggregate; decimal sums; " +
        "scan prunes to 5 columns"),
      "q_filter_project" -> "both filters in PushedFilters; pruned ReadSchema",
      "q_join_broadcast" -> "BroadcastHashJoin on the dimension side",
      "q_take" -> ("driver-pinned split buckets + per-bucket row_number + " +
        "broadcast offsets: codegen global positions, no single-partition " +
        "window over the table"),
      "q_factorize" -> "dictionary side positional, broadcast join back",
      "q_take_multi" -> ("composite-key global positions: same sampled-splits " +
        "buckets from the LEADING column, remaining columns tie-break in the " +
        "per-bucket window; no RDD scan, stays in codegen"),
      "q_factorize_shuffle" -> ("unbounded-cardinality factorize: global " +
        "positions over the distinct side + shuffle join back; no driver " +
        "dictionary, no broadcast"),
      "q_window" -> "Window partitioned by o_custkey (parallel)",
      "q_asof_join" -> ("union + ONE hash shuffle by user + running window; " +
        "no row multiplication, no nested-loop join"),
      "q_range_join" -> ("bin-blocked equi-join on (user, bin) + exact " +
        "BETWEEN filter; no per-key cross product"),
      "q_sessionize" -> "one Exchange + Sort shared by both window steps",
      "q_topk" -> "TakeOrderedAndProject (no full sort)",
      "q_pipe_dedup_minhash" -> ("banded LSH: only (band,key,id) through the " +
        "explode shuffle; signatures persisted once"),
      "q_sim_knn_lsh" -> ("multi-table OR-construction: per-table buckets " +
        "as narrow literal-kernel calls over ONE scan, (table,bucket) posexplode " +
        "streamed into a broadcast hash equi-join; only candidate rows " +
        "(longs+double) reach the dedup aggregate's exchange"),
      "q_sim_knn_lsh_mp" -> ("9-bit/Hamming<=3 multi-probe: 130-mask probe " +
        "expansion on the broadcast QUERY side only; corpus joins by " +
        "bucket equality, never shuffles"),
      "q_sim_knn_ivf" -> "centroid broadcast; per-id cell resolve; cell probe",
      "q_sim_knn_ivf_learned" -> ("learned k-means|| centroids passed as ONE " +
        "literal; narrow argmax cell assignment (no join/window for assign); " +
        "nProbe=2 expansion on the broadcast query side only"),
      "q_sim_knn_ivf_learned_k64" -> ("k=64 training through the DEFAULT " +
        "bucketed-Lloyd dispatch (this dump shows the post-training " +
        "SCORING plan: 64-cent literal argmax assign, 16-cell probe " +
        "expansion broadcast-side only; the bucketed Lloyd rounds are " +
        "counter-pinned in SimilaritySpec)"),
      "q_pipe_dup_groups_dist" -> ("distributed min-label + pointer-jump " +
        "components: per-round shuffles only (id,label) longs; plan " +
        "truncated by checkpoint each round (this dump shows the final " +
        "round's scoring plan)"),
      "q_pipe_repetition" -> ("explode → partial/final HashAggregate on " +
        "(doc_id, gram-hash) longs — text never shuffles; per-k sides join " +
        "on doc_id after reduction"),
      "q_pipe_decontam" -> ("eval gram set DISTINCT'd then BroadcastHashJoin " +
        "— the train side is scanned once and never shuffled before the " +
        "per-doc count"),
      "q_pipe_pii_redact" -> ("pure narrow regexp projection, single " +
        "WholeStageCodegen span over the scan"),
      "q_pipe_clean_corpus" -> ("composed cleaning pass: narrow quality/" +
        "lang projections, digest-keyed keeper join (only md5+id " +
        "shuffles), broadcast eval-gram contamination join — document " +
        "text reaches no exchange"),
      "q_pipe_source_cap" -> ("per-key cap: ONE hash-partitioned window " +
        "keyed by source (row-counter state only); scan prunes to " +
        "(doc_id, source)"),
      "q_pipe_chunk" -> ("sequence chunking: pure narrow explode (per-row " +
        "start sequence + array slice), zero exchanges before the final " +
        "order; scan prunes to (doc_id, text)"),
      "q_join_bucketed" -> ("co-located catalog join off bucketed scans " +
        "(Bucketed: true, SelectedBucketsCount 8/8). At this scale " +
        "Catalyst rightly broadcasts the small orders side; when neither " +
        "side fits a broadcast (the 100 TB case, rehearsed by " +
        "BucketingSpec with the threshold off) the same layout gives a " +
        "SortMergeJoin with ZERO Exchange below it — the " +
        "pay-the-shuffle-once contract"),
      "q_pivot" -> ("pivot with explicit values: ONE pruned scan (no " +
        "domain-discovery job), partial HashAggregate below every " +
        "Exchange — the PivotFirst phase shuffles only already-reduced " +
        "rows"),
      "q_unpivot" -> ("wide→long melt: narrow Expand over a 5-column " +
        "pruned scan, zero exchanges before the final order"),
      "q_pipe_dup_spans" -> ("cross-doc duplicated-span coverage: text dies " +
        "in the map-side hash projection — the doc-frequency agg (partial " +
        "below the exchange), the flagged-gram join, and the per-doc " +
        "coverage window all shuffle (long, int) tuples only; interval-" +
        "merge window means one row per flagged gram, never k exploded " +
        "positions (guard: PlanGuardSpec 'dup-span coverage shuffles " +
        "fixed-width tuples only')"),
      "q_pipe_dedup_incr" -> ("incremental dedup: new-batch bands probe the " +
        "corpus band index on (band, key) — at production scale the probe " +
        "side is the daily ingest (AQE broadcasts it; bucketing the " +
        "persisted index by (band, key) removes the exchange entirely) — " +
        "and corpus text is re-shingled only behind the left-semi " +
        "candidate prune, so verify cost follows candidates, not corpus"),
      "q_pipe_token_budget" -> ("per-source token budget: ONE hash-" +
        "partitioned window per source carrying a running-sum frame; the " +
        "hash order key is computed narrowly before the shuffle; scan " +
        "prunes to (doc_id, source, text)"),
      "q_pipe_dedup_keep_best" -> ("quality-preferring keeper: component-" +
        "keyed row_number window + group join — (id, keeper, score) " +
        "tuples shuffle, text never does"),
      "q_sim_knn_pq" -> ("PQ-ADC: corpus encoded by one narrow kernel call over the " +
        "codebook literal (no join/shuffle to encode); per-query distance " +
        "tables computed on the tiny broadcast side; scoring is m table " +
        "lookups per pair — full vectors never meet the join"),
      "q_sim_knn_pq_rerank" -> ("ADC candidates re-scored exact: the " +
        "id-join fetches only rerank·|queries| full vectors; queries stay " +
        "broadcast in both the ADC and the re-rank joins"),
      "q_sim_knn_pq_prod" -> ("the PRODUCTION PQ point: m=16/32-cent " +
        "codebook literal encodes in one narrow kernel call; re-rank breadth " +
        "max(8k, ceil sqrt n) — SUBLINEAR in the corpus, so the exact " +
        "id-join fetches a vanishing fraction of n (vs the gate-only " +
        "ceil(2n/5) fraction above)"),
      "q_sim_knn_sq8" -> ("int8 scalar-quantization ANN: range learning " +
        "shuffles dim-rows only (partial min/max below the exchange); " +
        "encoding is a narrow fold over the 2·dim range literal; query " +
        "codes broadcast — the corpus never shuffles"),
      "q_pipe_shard" -> ("deterministic training shuffle: ONE hash-" +
        "partition exchange on the shard key, per-shard row_number " +
        "window (counter state only) — no global sort; scan prunes to " +
        "doc_id"),
      "q_pipe_pack" -> ("concat-and-split packing: shares q_pipe_shard's " +
        "single exchange; cumsum + pack explode are narrow on top of the " +
        "shard window — token counts shuffle, text never reads at all"),
      "q_pipe_seg_dedup" -> ("segment dedup: first-occurrence election " +
        "shuffles (segment-hash, packed-position) longs only; winners " +
        "unpack from the min posKey (no join back to segment rows), and " +
        "the ONE text-bearing exchange is the doc-keyed join of kept-" +
        "index lists to the original documents, where surviving segments " +
        "re-slice narrowly from the token array"),
      "q_pipe_word_rank" -> ("rank-based quality proxy: vocabulary agg " +
        "collapses map-side to one row per distinct token; exact global " +
        "ranks come from the sampled-split bucket machinery (Positional." +
        "withGlobalPos) — no global-sort window even over the vocab; " +
        "per-doc rank sum aggregates partial — text dies at the token " +
        "explode, only (token, rank) rows shuffle"),
      "q_pipe_pack_text" -> ("packed-piece writer: layout side shuffles " +
        "ids+counts only; text joins back ONCE by id after the explode " +
        "(≈1 piece-join per doc piece, docs average ≤ 2 pieces); the " +
        "slice is narrow codegen"),
      "q_pipe_e2e_mix" -> ("end-to-end mix build in one optimized plan: " +
        "md5 keeper election shuffles digests, left-semi prunes text " +
        "early, cap window keyed by source, shard/pack share one hash " +
        "exchange — four pipeline stages, no materialization between " +
        "them, text never crosses an exchange after the cap"),
      "q_jsonl_roundtrip" -> ("jsonl boundary: distributed write (one " +
        "file per partition) + schema-pinned distributed read — no " +
        "driver materialization, no inference scan; the only exchange " +
        "is the gate's deterministic ORDER BY"),
      "q_layout_zorder" -> ("Morton z-value: one narrow WholeStageCodegen " +
        "projection of 32 shift/mask terms over a 4-column pruned scan — " +
        "zero exchanges before the gate's ORDER BY; clusterByZ adds only " +
        "a range exchange at write time (ZOrderSpec measures the " +
        "resulting per-file min/max pruning)"),
      "q_sim_knn_classify" -> ("kNN label vote: the k·|queries| candidate " +
        "set from the brute scan BROADCASTS into the label join (corpus " +
        "side never shuffles); the vote window partitions by query_id — " +
        "state bounded by |queries|·|labels|"),
      "q_fuzzy_join" -> ("deletion-neighborhood ED join: the candidate " +
        "equi-join shuffles (xxhash64, id) longs only — text re-joins by " +
        "id for the levenshtein verify; three linear hash joins, no " +
        "CartesianProduct/BNLJ anywhere (FuzzyResampleSpec pins it)"),
      "q_resample" -> ("resample+ffill: one partial/final agg on (user, " +
        "bucket); the dense grid is a sequence GENERATOR (executor-side), " +
        "grid join and ffill window both hash by user — no driver loop, " +
        "no unpartitioned window"),
      "q_ohlc" -> ("OHLC: both row_number windows and the final agg share " +
        "ONE Exchange on (user, bucket) — two in-partition sorts, " +
        "then the aggregate reuses the partitioning"),
      "q_cube" -> ("CUBE: single Expand (4 grouping-set replicas) + " +
        "partial/final HashAggregate — all 2^k rollups in one fact-table " +
        "pass and one shuffle of already-reduced rows"),
      "q_histogram" -> ("equi-width histogram: narrow clamp/floor bin " +
        "projection in codegen over a 1-column pruned scan, partial " +
        "agg below the single |bins|-row exchange"),
      "q_rolling" -> ("rolling 1h window: ONE Exchange by user + one Sort. " +
        "Spark's bounded sliding frames re-aggregate the frame POPULATION " +
        "per row (no retraction) — cost follows events-per-trailing-hour, " +
        "not partition length; pre-bucket via Resample for dense keys"),
      "q_interpolate" -> ("linear interpolation: backward (ffill/b_prev) " +
        "and forward (b_next/v_next) scans are window frames over the SAME " +
        "partitioning+ordering — extra Window operators, no extra " +
        "Exchange/Sort beyond q_resample's"),
      "q_corr" -> ("correlation: single partial/final HashAggregate of " +
        "six pure-integer power sums over a 3-column pruned scan; the " +
        "formula is a driver-free scalar projection on |groups| rows"),
      "q_rank_ntile" -> ("ranking surface: rank-family and ntile windows " +
        "share one hash partitioning by returnflag — one Exchange, two " +
        "in-partition sorts, no single-partition window"),
      "q_equidepth" -> ("equi-depth histogram: global positions via " +
        "sampled-splits buckets (driver-pinned split literals + per-bucket " +
        "windows + broadcast offsets) — no single-reducer ORDER BY window; " +
        "bucketing is integer codegen; final agg is |k| rows"),
      "q_star_join" -> ("star join: fact⨝orders and ⨝customer are " +
        "stats-driven (broadcast here, shuffle at scale — hinting the " +
        "SF-proportional customer would pin a driver-OOM plan at 100 TB); " +
        "only constant-size nation/region carry broadcast hints; status " +
        "filter in the orders scan's PushedFilters, partial HashAggregate " +
        "below the final |nations|-row exchange"),
      "q_array_ops" -> ("array scalars: single partial/final " +
        "collect_list aggregate (group state bounded at <= 7 lines), " +
        "narrow sort/size/contains/join projections on the aggregated " +
        "row — one exchange before the gate's ORDER BY"),
      "q_upsert" -> ("keyed upsert: one left-anti hash join on the key " +
        "(AQE broadcasts a small update batch — the common CDC case) + " +
        "a shuffle-free union"),
      "q_snapshot_diff" -> ("snapshot diff: ONE full-outer hash join on " +
        "the key; presence flags and the null-safe changed comparison " +
        "are narrow projections — no second pass, unchanged keys drop " +
        "before the gate's ORDER BY"),
      "q_funnel" -> ("funnel: step-A min-ts agg keyed by user, click " +
        "probe joins it on the same key, DISTINCT converted users — " +
        "event rows never multiply; left join back is |users|-sized"),
      "q_retention" -> ("retention: three small keyed aggregates (no " +
        "countDistinct Expand) — distinct (user, week) pairs, per-user " +
        "cohort min, per-cell counts; final join is |cohorts|x|weeks| " +
        "rows"),
      "q_triangles" -> ("triangles: wedge hash join on the shared " +
        "endpoint + closing-edge hash join — two joins over (long, long) " +
        "edges, each triangle found exactly once; explode-to-nodes is " +
        "narrow before the count aggregate"),
      "q_profile" -> ("per-column profile: one partial/final aggregate " +
        "PER COLUMN unioned, each branch's scan pruned to exactly its own " +
        "column — never one k-way Expand replicating every row k times; " +
        "each exact distinct is itself two-stage (partial distinct per " +
        "partition, then merge)"),
      "q_prefix_sum" -> ("grouped running total, skew-proof: range-bucket " +
        "literals on the order key + per-(group,bucket) windows (each ≈ " +
        "n/partitions rows regardless of group skew) + broadcast bucket " +
        "base offsets — no per-group single-reducer window"),
      "q_spearman" -> ("Spearman: average ranks as exact BIGINTs from " +
        "grouped value counts + the distributed prefix sum (no full-table " +
        "window anywhere); rank joins hash on (group, value); final " +
        "Pearson is one partial/final power-sum aggregate"),
      "q_grouped_ols" -> ("per-group OLS: single partial/final " +
        "HashAggregate of six integer power sums over a 4-column pruned " +
        "scan; slope/intercept/r² are narrow scalar projections on " +
        "|groups| rows"),
      "q_pagerank" -> ("fixed-point PageRank: per iteration ONE hash join " +
        "(rank → contributions along edges, (long,long) tuples only) + one " +
        "keyed aggregate; integer ranks make contribution sums order-free " +
        "under any partitioning; node count is one bounded driver long"),
      "q_bm25" -> ("BM25: explode → filter to query terms → per-(doc," +
        "term) tf aggregate — candidate docs carry counts, never text; " +
        "df join hashes |terms| rows; the 1-row corpus-stats aggregate " +
        "broadcasts (the allowed BNLJ shape)"),
      "q_pipe_bigram_lm" -> ("bigram LM: adjacent pairs via zip_with over " +
        "two array slices (narrow — no per-token window, no posexplode " +
        "self-join); pair and unigram aggregates both partial below their " +
        "exchanges; top-50 via TakeOrdered on exact integers"),
      "q_pipe_ppmi" -> ("PPMI: ±2-window pairs via zip_with slices " +
        "(narrow), symmetrize by union, partial/final pair counts; " +
        "marginals join back by token; the 1-row total broadcasts (the " +
        "allowed BNLJ shape); top-100 via TakeOrdered on exact counts"),
      "q_transitions" -> ("transition matrix: lead() window PARTITIONED " +
        "BY user (parallel, bounded sequences), pair counts partial below " +
        "the exchange, |types|² probability rows — event payloads never " +
        "fan out"),
      "q_snm_join" -> ("sorted-neighborhood linkage: global positions " +
        "from sampled-splits codegen buckets, neighbor pairing as an " +
        "EQUI-join on pos div w (exact Δpos filter inside the hash join) " +
        "— n·w pairs by construction, no θ-join, no BNLJ"),
      "q_quality_checks" -> ("constraint report: one tiny aggregate per " +
        "check unioned (each scan pruned to its own column); the " +
        "referential check is one left hash join + aggregate — nothing " +
        "fans out, output is 5 rows"),
      "q_scd2_join" -> ("SCD2 enrichment: dimension intervals from ONE " +
        "user-partitioned lead() window; the point-in-time join is the " +
        "bin-blocked (user, bin) equi-join + exact BETWEEN filter — no " +
        "per-key cross product, interval explode ≤ a few 2-day bins"),
      "q_attribution" -> ("attribution: one as-of union+window shuffle " +
        "by user (no row multiplication), then one keyed aggregate over " +
        "|touches| groups; revenue sums through DECIMAL"),
      "q_islands" -> ("islands: distinct (user, day) reduces first, " +
        "row_number window partitioned by user, final agg keyed by " +
        "(user, island) — event volume dies at the distinct"),
      "q_robust_outlier" -> ("median/MAD outliers: two exact-percentile " +
        "aggregates keyed by user + two hash joins back — all shuffles " +
        "carry (long, long) tuples; the flag is a narrow int64 projection"),
      "q_sim_knn_ivfpq" -> ("IVF-PQ: cell assignment + residual encoding " +
        "are ONE narrow literal-kernel projection over the corpus scan; " +
        "probe expansion and per-(query,cell) ADC tables on the broadcast " +
        "side; candidate join is an equi-join on cell carrying only " +
        "(id, cell, codes); exact re-rank fetches rerank·|queries| " +
        "vectors by id-join"),
      "q_ewm" -> ("EWM: one keyed aggregate collecting bounded per-user " +
        "value lists (sorted in-group), the recursion is a narrow " +
        "sequential fold — no window, no second shuffle"),
      "q_expanding" -> ("expanding mean: two prefix sums over the SAME " +
        "(group, bucket) windows — both running quantities share the " +
        "bucketed exchange; no per-group single-reducer window"),
      "q_pipe_fixed_sample" -> ("fixed-size sample: source-keyed " +
        "row_number window over md5 order with WindowGroupLimit pruning " +
        "rows past n=50 map-side; scan prunes to (doc_id, source)"),
      "q_pipe_decontam_bloom" -> ("bloom pre-prune: the eval gram set " +
        "reduces to ONE binary scalar (BloomFilterAggregate subquery); " +
        "train grams probe via a narrow might_contain FILTER with no join " +
        "node, dumped to the oracle side-table and read back; the gate " +
        "then full-outer-joins the read-back survivors against the exact " +
        "overlap counts (equi-join on doc_id), localCheckpoints that tiny " +
        "flags frame so the exact pipeline runs ONCE, and attaches the " +
        "1-row (missed, fp_count) invariant aggregate via broadcast " +
        "(allowed BNLJ) — verification harness around the no-join probe " +
        "operator; the printed plan is the post-checkpoint stage"),
      "q_entropy" -> ("behavioral entropy: two keyed aggregates (type " +
        "counts, then per-user fold over a <=|types| sorted list) — no " +
        "window, no float sum whose order the partitioning could flip"),
      "q_benford" -> ("Benford audit: narrow digit projection, 9-row " +
        "partial/final count aggregate, 1-row total broadcast (allowed " +
        "BNLJ); expected curve is a scalar projection"),
      "q_join_stats" -> ("join pre-flight: per-side keyed count " +
        "aggregates (partial below each exchange), ONE full-outer join " +
        "of the distinct-key-sized count tables, 1-row reduce — row data " +
        "never joins"),
      // r13: every gate >1s in the round bench carries an audit entry —
      // the r12 jaccard_block regression rode in precisely because the
      // expensive tail was unaudited.
      "q_pipe_jaccard_block" -> ("lossless Bayardo prefix filter: token " +
        "sets hashed once and persisted; only the short sorted PREFIX " +
        "explodes into the (block, token) candidate equi-join (shuffle " +
        "O(sum prefix-len)); size filter + exact verify joins fetch sets " +
        "by id — no |block|^2 pair set ever materializes, no BNLJ"),
      "q_sim_semdedup" -> ("SemDeDup: k-means training collects ONLY " +
        "k*dim centroids per Lloyd round (driver-bounded); assignment is " +
        "a broadcast-centroid narrow projection; intra-cluster pairs " +
        "bounded by cell size via the cell equi-join; min-label " +
        "components keyed by cell — corpus never self-joins globally"),
      "q_sim_semdedup_auto" -> ("SemDeDup with k derived from ONE corpus " +
        "count (ceil(n/targetCellSize)) and BUCKETED assignment: the " +
        "argmax runs over the top-4 coarse groups' members (one narrow " +
        "literal-kernel projection — n*O(sqrt(k)) dots instead of n*k, in " +
        "Lloyd rounds AND the final pass; no join, no shuffle for " +
        "assignment), then the fixed-k gate's plan family (cell-bounded " +
        "intra-cluster equi-join, cell-keyed components); cell count " +
        "grows with n so the pair kernel stays linear where fixed k " +
        "measured 22x at 10x data, and the sqrt(k) assignment holds the " +
        "sf1 probe at x2.2 where the flat argmax read x4.6"),
      "q_sim_knn_matryoshka" -> ("matryoshka adaptive retrieval: ONE " +
        "narrow corpus scan scores the 40-dim PREFIX (r18 sweep point; " +
        "broadcast-query non-equi scan, allowlisted BNLJ like " +
        "knn_brute), WindowGroupLimit keeps the max(16k, 2*ceil(sqrt " +
        "n)) shortlist (sublinear in the corpus) per query, exact " +
        "re-rank fetches only shortlist*|queries| full vectors by " +
        "id-join — the full-dim column never rides a shuffle"),
      "q_hybrid_rrf" -> ("RRF hybrid fusion: lexical top-50 is " +
        "TakeOrdered + a bounded 50-row driver collect (rank literals " +
        "re-broadcast; no global window over corpus cardinality); " +
        "vector top-50 is the brute broadcast-query scan; the fuse is a " +
        "full-outer join of two 50-row-per-query shortlists — every " +
        "exchange after the scans carries rank tuples only"),
      "q_pipe_winnow" -> ("MOSS winnowing fingerprints: token hashes -> " +
        "gram hashes -> per-window rightmost-argmin all inside per-row " +
        "array lambdas (ONE narrow pass, no explode until the ~2n/(w+1) " +
        "selected fingerprints); the only exchange is the DISTINCT on " +
        "(doc_id, pos, fp) longs — text never shuffles"),
      "q_pipe_winnow_spans" -> ("matched-span extents: the winnow " +
        "selection stays the one narrow per-doc array pass; positions " +
        "collapse to ONE (doc, fp) extent row before any join, so " +
        "within-doc multiplicity cannot explode the self-join; the df " +
        "aggregate, df-cap semi-join, fp equi-self-join, and per-pair " +
        "extent aggregate all exchange long tuples only — text never " +
        "shuffles; the cap bounds the join at |doc-fp rows|*cap pairs " +
        "so one hot boilerplate fp cannot go quadratic either"),
      "q_sim_neardup_groups" -> ("LSH-bucketed near-dup components: " +
        "candidate pairs form ONLY inside hash buckets (bucket equi-join " +
        "with id< ordering), cosine verify inline, then dupGroups' " +
        "adaptive components (bounded limit-probe -> driver union-find " +
        "for sparse graphs, else distributed relax+pointer-jump)"),
      "q_pipe_dup_groups" -> ("minhash dup pairs -> connected " +
        "components: banded LSH candidates + exact verify feed " +
        "dupGroups; the sparse path is ONE bounded limit-collect of the " +
        "edge set (at most limit+1 rows to the driver) — the pair " +
        "pipeline runs once, no full count before the branch"),
      "q_pipe_split_safe" -> ("leakage-safe split: the dup-group " +
        "pipeline (banded LSH + verify + adaptive components) feeds " +
        "keeper-hash assignment; BOTH sides hash text in place before " +
        "any join, so the keeper fetch and the member left join carry " +
        "only (id, hv) longs — the corpus text never shuffles"),
      "q_pipe_gopher_struct" -> ("Gopher structural rules: line " +
        "re-synthesis + all signals are ONE narrow per-doc projection " +
        "pass (no token explode, no shuffle before the final sort — " +
        "plan should show a single codegen span over the scan)"),
      "q_stream_running_counts" -> ("streaming parity gate: the plan " +
        "below is the post-stream batch read of the sink; the streaming " +
        "side is micro-batch stateful agg with watermark eviction " +
        "(numRowsRemoved > 0 spec-pinned in StreamingSpec) — cost is " +
        "harness replay, not data movement"),
      "q_stream_session_parity" -> ("streaming session window parity: " +
        "sink read below (post-drain sentinel filter — inlining it " +
        "would push the predicate below the watermark node and eat the " +
        "advancer rows); stream side = Append session gap aggregation " +
        "over the ordered 5-file staging, 1h production watermark, " +
        "progressive state eviction, keyed by user — state bounded " +
        "by live sessions, not history"),
      "q_stream_session_rocksdb" -> ("the session drain under the " +
        "PRODUCTION state-store provider (RocksDB: off-heap native " +
        "memory + local SST files) — identical logical/physical shape " +
        "to q_stream_session_parity (the provider is a state-store " +
        "swap, not a plan change; output spec-pinned AND oracle-gated " +
        "identical); plan below is the post-drain sink read"),
      "q_stream_stream_join" -> ("stream-stream interval join: sink " +
        "read below; stream side buffers ONLY the minimal projected " +
        "columns per side in the join state store, watermark clears " +
        "both sides (numRowsRemoved > 0 spec-pinned) — state bounded by " +
        "the interval, not the stream"),
      "q_stream_outer_join" -> ("stream-stream LEFT OUTER interval " +
        "join: sink read below; null-side emission happens only at " +
        "watermark expiry, so state and output are both " +
        "watermark-bounded; same minimal-projection state discipline as " +
        "the inner-join gate"),
      "q_stream_window_parity" -> ("streaming tumbling-window parity: " +
        "sink read below; stream side is watermarked windowed agg with " +
        "state eviction per closed window — state bounded by open " +
        "windows x keys, cost is micro-batch replay"),
      "q_stream_late_drop" -> ("late-data drop semantics: sink read " +
        "below; the stream side's watermark drops rows later than the " +
        "bound BEFORE state update (numRowsDroppedByWatermark " +
        "spec-pinned) — the plan property is the absence of unbounded " +
        "late-row state"),
      "q_stream_dedup_parity" -> ("streaming dropDuplicates parity: " +
        "sink read below; dedup state keyed by (id) under watermark " +
        "eviction — state bounded by the watermark horizon, not stream " +
        "history"),
      "q_stream_static_join" -> ("stream-static join parity: sink read " +
        "below; the static side builds ONCE per micro-batch as a " +
        "broadcast (dimension-sized), streaming side never shuffles to " +
        "meet it — the no-state join shape"),
      "q_mm_embed_real" -> ("real-codec decode+embed: BMP synthesis is " +
        "a codegen projection over the documents scan (transform over a " +
        "sequence literal — no explode, no shuffle); ImageIO pixel " +
        "decode + luminance pooling is ONE MapPartitions typed boundary " +
        "(grouped iterator pins <=64 blobs resident per step regardless " +
        "of partition size); the only exchange is the final presentation " +
        "sort — per-row compute, zero data movement before it"))

    val out = new StringBuilder
    out ++= "# PLANS - physical-plan audit (generated by graft.tools.DumpPlans)\n\n"
    out ++= s"Static plans (AQE off) at $dir (the bench scale); the\n"
    out ++= "properties below are mechanically asserted in PlanGuardSpec\n"
    out ++= "where checkable.\n"
    for ((name, note) <- audit) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      out ++= s"\n## $name\n\n*Expected:* $note\n\n```\n"
      out ++= df.queryExecution.executedPlan.toString.take(3000)
      out ++= "\n```\n"
    }
    // explicit UTF-8: the default-charset constructor mangled the notes'
    // arrows/dashes to '?' under the JVM's POSIX locale
    val w = new PrintWriter("PLANS.md", "UTF-8") // in the checkout sbt runs from
    try w.write(out.toString) finally w.close()
    println("wrote PLANS.md")
    spark.stop()
  }
}
