"""Plan-shape assertions: the physical plans must have the properties the
100 TB design depends on (SURVEY.md §2 scale rules) — pushdown, broadcast
intent, no accidental cartesian products, whole-stage codegen, pruned
scans. Correct rows with a wrong plan is a latent scale bug; these tests
make the plan part of the contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dcosb_cassandra_spark.catalog import table
from dcosb_cassandra_spark.plans.audit import (
    LOCAL_ROWS_BOUND,
    audit,
    broadcast_hint_tables,
    corpus_window_partitions,
    executed_plan_string,
    is_low_card_window,
    plan_string,
)
from dcosb_cassandra_spark.registry import REGISTRY, load_all
from dcosb_cassandra_spark.session import local_frame

from .conftest import SF_DIR

load_all()


def _plan(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


def test_point_read_pushes_filter(spark):
    a = audit(_plan(spark, "a02_point_read_pk"))
    assert a["has_pushed_filters"], "pk equality must reach the parquet scan"


def test_q1_prunes_columns_and_codegens(spark):
    df = _plan(spark, "q1_pricing_summary")
    a = audit(df)
    assert "codegen id" in executed_plan_string(df), "whole-stage codegen must engage"
    assert a["has_partial_agg"]
    # column pruning: lineitem has 11 columns, q1 needs 7
    [schema] = a["read_schemas"]
    assert "l_orderkey" not in schema and "l_partkey" not in schema, schema


def test_q5_broadcasts_dims(spark):
    a = audit(_plan(spark, "q5_local_supplier"))
    # nation/region carry explicit hints (fixed 25/5 rows); supplier gets
    # broadcast only if Catalyst/AQE decides it fits — no hand hint.
    assert a["n_broadcast_joins"] >= 2, "nation/region must broadcast"
    assert not a["has_cartesian"]
    assert a["hinted_scaling_tables"] == [], "only fixed dims may carry hints"


#: Queries allowed to broadcast-hint a subset of a scaling table (or a
#: driver-local createDataFrame side): name -> (exact set of allowed audit
#: flags, documented reason the hinted side is bounded at EVERY scale
#: factor). The test asserts each query's flagged set is a SUBSET of its
#: allowed set, so a query that later gains a NEW unbounded hint (e.g. a raw
#: `documents` next to its documented `bounded:documents`) still fails.
#: `bounded:` (aggregate/limit-under-hint) is only safe when the grouping
#: cardinality is a CONSTANT; `bounded:local_rows` (createDataFrame under a
#: hint) is only safe for small constant tables — each reason documents which.
ALLOWED_BOUNDED_BROADCASTS = {
    "d18_bm25_topk": (
        {"documents", "bounded:local_rows"},
        "broadcast sides derive from documents but are query-bounded: "
        "the distinct query-term list (doc_id < 5 — ≤5 docs' vocabulary "
        "at any SF) and the df table aggregated from the query-restricted "
        "postings (≤|query terms| rows)",
    ),
    "d18b_rrf_hybrid": (
        {"documents", "bounded:local_rows"},
        "same bounded sides as d18 (query-term list + query-restricted "
        "df), plus the 5-row literal query-vector batch (d3b posture)",
    ),
    "c18_text_index_replay": (
        {"documents", "bounded:local_rows"},
        "serve_bm25_topk broadcasts the analyzed query-term list "
        "(doc_id < 5 query docs — bounded by query size, the production "
        "serve contract) and the query-restricted df aggregate "
        "(≤|query terms| rows); the posting scan itself is "
        "partition-pruned, never broadcast",
    ),
    "d3b_batch_knn_per_label": (
        {"embeddings"},
        "query side is vec_id < 5: key-bounded to ≤5 rows at any SF",
    ),
    "d4h_pq_adc_eval": (
        {"embeddings", "bounded:embeddings"},
        "broadcast sides are the k-row centroid codebook (bounded "
        "aggregate, d4g posture) and the key-bounded query set "
        "(vec_id < 5, d3b/d8d posture)",
    ),
    "d4g_pq_encoding": (
        {"bounded:embeddings"},
        "broadcast side is the per-label centroid codebook "
        "groupBy(label) — exactly |labels| rows at any SF (the d4b/d4d "
        "bound)",
    ),
    "d8d_matryoshka_eval": (
        {"embeddings"},
        "broadcast side is the query set: vec_id < 5, key-bounded to "
        "<=5 rows at any SF (the d3b posture)",
    ),
    "d8g_ivfpq_search": (
        {"embeddings"},
        "broadcast side is the query batch: vec_id < 5, key-bounded to "
        "<=5 rows at any SF (the d4d posture); the codebook is a "
        "collected k-row literal, not a broadcast join",
    ),
    "d8h_binary_hamming_knn": (
        {"embeddings", "bounded:embeddings"},
        "broadcast side is the key-bounded query batch (vec_id < 5 — "
        "<=5 rows of two packed 64-bit words at any SF, the d8f posture)",
    ),
    "d8f_sq8_calibrated_dot": (
        {"embeddings", "bounded:embeddings"},
        "broadcast sides are the SQ8 calibration grid (global min/max "
        "partial aggregate collapsed to ONE row of 64-entry arrays) and "
        "the key-bounded query batch (vec_id < 5, d3b/d8d posture)",
    ),
    "d17_kmeans_lloyd": (
        {"embeddings", "bounded:embeddings"},
        "broadcast sides are the k seed rows (vec_id key-bounded) and the "
        "groupBy(cid) centroid set — exactly KMEANS_K rows at any SF",
    ),
    "c4_watermark_filter": (
        {"bounded:events"},
        "broadcast side is agg(max(ts)): exactly 1 row at any SF",
    ),
    "d4n_graph_vs_ivf_recall": (
        {"bounded:local_rows"},
        "broadcast sides are the memoized query batch (key-bounded "
        "vec_id < 5, the d4d posture), its 1-bucket-per-query probe map "
        "(same ≤5 rows), and the ≤queries×BEAM_WIDTH beam/frontier sets "
        "— all driver-local createDataFrame relations whose size is set "
        "by the query batch, never the corpus",
    ),
    "d4m_graph_ann_beam": (
        {"bounded:local_rows"},
        "broadcast sides are the ≤5-row query batch and the "
        "≤queries×BEAM_WIDTH beam/frontier sets (the d4n bound); the "
        "graph/edge side is never hinted",
    ),
    "d4o_beam_recall_curve": (
        {"bounded:local_rows"},
        "the d4n bound at three beam widths: query batch + beam/frontier "
        "sets, all ≤queries×max(beam) driver-local rows",
    ),
    "v02c_graph_ann_order_by": (
        {"bounded:local_rows"},
        "the d4m bound for a single literal query vector (1-row batch + "
        "≤beam frontier sets)",
    ),
    "d4q_pq_beam_rerank": (
        {"embeddings", "bounded:embeddings", "bounded:local_rows"},
        "the d4m query/beam bounds plus the PQ codebook (k=10 rows, the "
        "d4g broadcast posture) folded into the reconstructed-store "
        "build; the rerank join's driver-local side is the ≤5-row query "
        "batch",
    ),
    "d4r_filtered_ann_selectivity": (
        {"bounded:local_rows"},
        "the d4o bound (query batch + beam/frontier sets at three "
        "widths) plus the d4p admission re-join of the SAME driver-local "
        "query batch per (selectivity × width) cell; every hinted side "
        "is ≤queries×max(beam) rows, never corpus-sized",
    ),
    "d4p_filtered_graph_ann": (
        {"bounded:local_rows"},
        "the d4m bound plus one more explicit hint on the SAME "
        "driver-local query batch (re-joined for post-filter scoring); "
        "the scored candidate set is ≤queries×(1 + rounds×beam×2M) rows "
        "by the beam contract, never corpus-sized",
    ),
    "d5u_bigram_lm_quality": (
        {"bounded:local_rows"},
        "broadcast side is the trained bigram-LM model: <=|V|^2 rows "
        "(charset-bounded, KBs even for CJK), collected once per corpus "
        "generation (_bigram_model memo, the _codebook pattern) and "
        "shipped as the scoring artifact — corpus size never changes its "
        "bound",
    ),
    "d2_minhash_signatures": (
        {"bounded:documents"},
        "broadcast side is the per-VOCAB seeded-hash map (groupBy(token) "
        "aggregate — |vocab| rows), size-conditional on Catalyst's own "
        "estimate with the inline-md5 fallback past the cap "
        "(minhash_signature, r15): a web-scale vocabulary keeps today's "
        "zero-extra-shuffle shape",
    ),
    "d2b_minhash_lsh_pairs": (
        {"documents", "bounded:documents"},
        "broadcast sides are the LSH band rows (aggregate-bounded: bands "
        "rows of k minhashes per doc — k hashes, not tokens) and the "
        "per-doc xxhash64 token-set arrays; both scale with n_docs, not "
        "corpus bytes, and the docstring documents dropping the hints past "
        "~10⁷ docs, where the identical plan runs as shuffle equi-joins "
        "(first-collision dedup unchanged). The bands hint is also the "
        "skew guard: a broadcast probe keeps the dominant bucket's pair "
        "enumeration spread across the round-robin partitions",
    ),
    "d2s_containment_pairs": (
        {"documents", "bounded:documents"},
        "same maybe_broadcast posture as d2b (size-conditional hints with "
        "the documented >10⁷-doc shuffle fallback): the narrow "
        "(doc_id, lang, source) block map and the per-doc token-set "
        "arrays — both n_docs-bounded, never corpus-byte-bounded",
    ),
    "d2o_incremental_dedup": (
        {"documents", "bounded:documents"},
        "same posture as d2b (shared maybe_broadcast sides: band rows + "
        "token-set arrays, n_docs-bounded with the documented >10⁷-doc "
        "shuffle fallback); the probe side is additionally 1/4 of the "
        "corpus (the increment), which is the operator's entire point",
    ),
    # d2h_semdedup no longer hints anything: r6 replaced the broadcast
    # self-join with the SemDeDup-paper per-cluster Gram (applyInPandas
    # after one shuffle by cluster) — no broadcast side exists.
    "b35_touch_attribution": (
        {"bounded:events"},
        "broadcast side is the 1-row grand-total aggregate of the "
        "|channels|^2-bounded mix table (the share denominator)",
    ),
    "b36_rolling_dau": (
        {"bounded:events"},
        "broadcast side is agg(max(day_num)): exactly 1 row at any SF "
        "(the full-history window bound)",
    ),
    "b33_cohort_retention": (
        {"bounded:events"},
        "broadcast side is the cohort-size table: groupBy(cohort_week) of "
        "the per-user first-seen aggregate — |calendar weeks| rows at any "
        "SF",
    ),
    "b40_retention_decay_fit": (
        {"bounded:events"},
        "broadcast side is the cohort-size table: groupBy(cohort_week) of "
        "the per-user first-seen aggregate — |calendar weeks| rows at any "
        "SF",
    ),
    "b32_zorder_layout_eval": (
        {"bounded:orders"},
        "broadcast side is agg(max(zkey)): exactly 1 row at any SF "
        "(the file-assignment denominator)",
    ),
    "d2i_lsh_dedup_eval": (
        {"documents", "bounded:documents"},
        "same broadcast sides as d2b (band rows + per-doc attr/token "
        "projections, n_docs-bounded with the same drop-the-hint posture "
        "past ~10⁷ docs) plus three single-row count aggregates "
        "cross-joined for the metric row",
    ),
    "d_dataset_card": (
        {"bounded:documents"},
        "broadcast sides are the two entropy denominators agg(sum(c)): "
        "exactly 1 row each at any SF",
    ),
    "d5q_oov_rate": (
        {"bounded:documents"},
        "broadcast side is the top-V vocabulary: a token-count aggregate "
        "TRUNCATED to OOV_VOCAB_SIZE rows by the two-phase row_number "
        "filter — exactly V rows at any SF",
    ),
    "d4e_domain_outliers": (
        {"bounded:documents"},
        "broadcast sides are the per-source centroid codebook "
        "groupBy(source) (exactly |domains| rows at any SF) and the "
        "two-phase rank offset grid (≤ |domains| × dist-buckets rows — "
        "bounded by the squared-distance DOMAIN, not the corpus)",
    ),
    "d4b_centroid_assignment": (
        {"bounded:embeddings"},
        "broadcast side is groupBy(label) centroid means: exactly |labels| = 5 "
        "rows at any SF (labels are a fixed enum)",
    ),
    "d5e_tfidf_top_terms": (
        {"bounded:documents"},
        "broadcast side is agg(count(*)): exactly 1 row at any SF "
        "(the vocabulary-sized df table is deliberately NOT hinted)",
    ),
    "d5j_char_bigram_logprob": (
        {"bounded:documents"},
        "broadcast side is agg(count(*)) over the bigram stream: exactly 1 "
        "row at any SF (the charset²-bounded model table is NOT hinted)",
    ),
    "d26b_classifier_threshold_curve": (
        {"bounded:documents", "literal"},
        "broadcast sides are the threshold grid (a Range literal, "
        "len(_QC_CURVE_THRESHOLDS) rows) and the corpus totals "
        "agg(count, sum(y)): exactly 1 row at any SF",
    ),
    "d14_domain_mixing": (
        {"bounded:documents", "bounded:local_rows"},
        "broadcast sides are the 4-row MIX_WEIGHTS literal, the feasible-total "
        "scalar (1 row), and per-(domain,bucket) offsets: ≤ |domains|×256 rows",
    ),
    "d14e_multi_epoch_plan": (
        {"bounded:documents", "bounded:local_rows"},
        "broadcast sides are the 4-row MIX_WEIGHTS literal, the 1-row "
        "budget total, the per-domain epoch/remainder plan (|domains| "
        "rows, aggregate-bounded) and the (source, md5-prefix bucket) "
        "token-offset grid: <= |domains|x256 rows at any SF",
    ),
    "d14d_token_budget_mixing": (
        {"bounded:documents", "bounded:local_rows"},
        "broadcast sides are the 4-row MIX_WEIGHTS literal, the feasible "
        "token-total scalar (1 row), and the (source, md5-prefix bucket) "
        "token-offset grid: <= |domains|x256 rows at any SF",
    ),
    "d14c_temperature_mixing": (
        {"bounded:documents"},
        "broadcast sides are all groupBy(lang) derivatives: the sqrt-weight "
        "table, feasible-total scalar, grand total, and per-(lang,bucket) "
        "offsets — ≤ |langs|×256 rows at any SF",
    ),
    "d5n_unigram_entropy": (
        {"bounded:documents"},
        "broadcast side is the groupBy(lang) token-total table: exactly "
        "|langs| rows at any SF",
    ),
    "d4f_ann_recall_eval": (
        {"embeddings"},
        "query side is vec_id < 5: key-bounded to ≤5 rows at any SF",
    ),
    "d4d_ivf_probe_knn": (
        {"bounded:local_rows"},
        "broadcast side is the 5-row literal query set (vec_id < 5 collected "
        "at plan build, buckets assigned driver-side against the "
        "materialized codebook — d3's folded-literal-query pattern); the "
        "codebook itself is a captured UDF constant, never a join side",
    ),
    "d14b_domain_upsampling": (
        {"bounded:documents", "bounded:local_rows"},
        "broadcast sides are the 4-row MIX_WEIGHTS literal and groupBy(source) "
        "counts: exactly |domains| = 4 rows at any SF",
    ),
    "d_split_stratified": (
        {"bounded:documents"},
        "broadcast side is the (source, lang, md5-prefix-bucket) offset grid: "
        "≤ |source|×|lang|×256 rows at any SF",
    ),
    "d13b_sequence_packing_subsharded": (
        {"bounded:documents"},
        "broadcast side is the (source, lang, doc-id-bucket) token-offset grid: "
        "n_docs/span rows — the CALLER sizes span so the grid stays "
        "broadcastable (production sub-shards by ingest date/file id, a "
        "bounded key per processing window; the demo span=64 gives ≤~800 "
        "rows at the largest tested SF)",
    ),
    "b05_range_band_join": (
        {"bounded:local_rows"},
        "broadcast side is the 3-row literal band table (constant)",
    ),
    "b13_ranking_suite": (
        {"bounded:orders"},
        "broadcast side is the (status, price-bucket) rank-offset grid: "
        "≤ |statuses| × |price-domain/4096| ≈ 3×150 rows — bounded by the "
        "price DOMAIN, not the row count, so constant at any SF",
    ),
    "d6_sentiment_lexicon": (
        {"bounded:local_rows"},
        "broadcast side is the constant sentiment lexicon literal (dozens of rows)",
    ),
    "b36b_rolling_dau_hll": (
        {"bounded:events"},
        "broadcast side is the 1-row max-day aggregate (same bound as b36)",
    ),
    "d5t_quality_drift": (
        {"bounded:documents"},
        "broadcast side is the 1-row max-doc-id half-boundary aggregate",
    ),
    "d8e_embedding_drift": (
        {"bounded:documents"},
        "broadcast side is the 1-row max-doc-id half-boundary aggregate",
    ),
    "d4i_semantic_decontamination": (
        {"bounded:embeddings"},
        "broadcast side is the benchmark set collapsed to ONE collect_list "
        "row (key-bounded: vec_id < 5; a real benchmark is fixed-size)",
    ),
    "d5s_lexical_divergence": (
        {"bounded:documents", "documents"},
        "broadcast sides are the two-phase top-V vocab (V=200 rows), the "
        "|sources|-row totals, and the |sources|-row distribution-map "
        "frame (distinct sources LEFT JOIN the per-source maps — the "
        "audit's boundedness walk doesn't see through the outer join, "
        "but the row bound is |sources| at any SF)",
    ),
    "d2n_dedup_threshold_curve": (
        {"documents", "bounded:documents"},
        "broadcast sides are the LSH band rows and per-doc token-set "
        "arrays (d2b posture, same documented fallback)",
    ),
    "d2m_cross_source_dup_matrix": (
        {"bounded:documents", "documents"},
        "broadcast sides are the LSH band rows (d2b posture) and the "
        "|sources|-row totals; docstring documents the shuffle fallback",
    ),
    "d_split_repair": (
        {"bounded:documents"},
        "broadcast side is the LSH band rows (d2b posture, documented "
        "shuffle fallback past ~10^7 docs)",
    ),
    "d_split_leakage_audit": (
        {"bounded:documents"},
        "broadcast side is the LSH band rows (aggregate-bounded: k minhashes "
        "per doc, the d2b posture) — scales with n_docs, not corpus bytes; "
        "docstring documents the shuffle-equi-join fallback past ~10⁷ docs",
    ),
}


def test_no_broadcast_hints_on_scaling_tables(spark, query_frame):
    """An explicit broadcast hint cannot be demoted by AQE, so a hinted
    table that grows with SF OOMs executors at scale. Every registered
    query must hint only fixed dims, literals, or documented-bounded sides —
    and an allowlisted query may produce ONLY its documented flags."""
    offenders = {}
    for name in REGISTRY:
        a = audit(query_frame(name))
        flagged = set(a["hinted_scaling_tables"])
        allowed = ALLOWED_BOUNDED_BROADCASTS.get(name, (set(),))[0]
        if flagged - allowed:
            offenders[name] = sorted(flagged - allowed)
    assert not offenders, f"unbounded broadcast hints on scaling tables: {offenders}"


def test_hinted_local_rows_classified_by_row_count(spark):
    """A broadcast-hinted `local_frame` is a ``literal`` up to
    LOCAL_ROWS_BOUND rows and ``bounded:local_rows`` (allowlist-only)
    past it; a hinted localCheckpoint side is always
    ``bounded:local_rows``."""
    cust = table(spark, SF_DIR, "customer")

    def hinted(side):
        return broadcast_hint_tables(cust.join(F.broadcast(side), cust.c_nationkey == side.k))

    def keys(n):
        return local_frame(spark, [(i,) for i in range(n)], "k long")

    assert hinted(keys(LOCAL_ROWS_BOUND + 1)) == ["bounded:local_rows"]
    assert hinted(keys(LOCAL_ROWS_BOUND)) == ["literal"]
    checkpointed = spark.range(3).withColumnRenamed("id", "k").localCheckpoint()
    assert hinted(checkpointed) == ["bounded:local_rows"]


def test_no_single_low_card_corpus_windows(spark, query_frame):
    """No registered query may run a window over corpus-scale input whose
    partition key set is empty (global window) or drawn entirely from
    LOW_CARDINALITY_COLS with fewer than 2 columns — the two-phase rank
    recipe (rank within (key, hash/range bucket) + broadcast offsets, see
    d14_domain_mixing / b13_ranking_suite) exists to avoid exactly this."""
    offenders = {}
    for name in REGISTRY:
        wins = corpus_window_partitions(query_frame(name))
        bad = [w for w in wins if is_low_card_window(w)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"single-task-prone corpus windows: {offenders} — partition by an "
        "additional high-cardinality bucket and recover ranks via broadcast "
        "offsets (two-phase rank recipe, SCALE.md)"
    )


def test_lsh_pairs_avoid_cartesian(spark):
    for name in ("d2b_minhash_lsh_pairs", "d4_knn_lsh_bucketed", "d2c_blocked_jaccard_pairs"):
        a = audit(_plan(spark, name))
        assert not a["has_cartesian"], f"{name} must bucket-join, not cross-join"


def test_knn_literal_vector_needs_no_join(spark):
    plan = plan_string(_plan(spark, "knn_top10_vs_query"))
    assert "Join" not in plan, "query vector must be a folded literal, not a join"
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_broadcast_band_join_not_shuffle(spark):
    a = audit(_plan(spark, "b05_range_band_join"))
    assert a["n_broadcast_joins"] >= 1


def test_limit_queries_take_ordered(spark):
    for name in ("b16_multi_col_sort", "q3_shipping_priority"):
        plan = plan_string(_plan(spark, name))
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k should not materialize a global sort"


def test_orders_joins_are_shuffle_hash_not_broadcast(spark):
    """q3 and the anti-join pin SHUFFLE_HASH on the orders side: orders
    scales with SF so it can never broadcast at 100 TB, and without the
    hint the static planner broadcast-collects ~25 MB of orders to the
    driver on every execution (r7 finding). The hint must survive in the
    physical plan, and no broadcast exchange may sit on an orders scan."""
    for name in ("q3_shipping_priority", "antijoin_custs_no_orders"):
        plan = plan_string(_plan(spark, name))
        assert "ShuffledHashJoin" in plan, f"{name}: expected SHUFFLE_HASH join"


def test_q5_dim_joins_are_folded(spark):
    """q5's nation/region joins are folded into literals at plan build:
    the physical plan must reference only the four scaling tables — a
    nation/region scan reappearing means the fold regressed to per-run
    broadcast-build jobs."""
    plan = plan_string(_plan(spark, "q5_local_supplier"))
    assert "n_nationkey" not in plan and "r_regionkey" not in plan
    assert "map_from_arrays" in plan or "keys:" in plan or "map(" in plan
