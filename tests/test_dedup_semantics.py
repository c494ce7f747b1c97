"""Semantic validation of the dedup operators — beyond oracle parity:
does MinHash-LSH actually catch near-duplicates it should, and does exact
dedup find the known duplicates in the corpus (FIXTURES.md: 8 duplicate
texts exist at sf0.1, none below)?"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dcosb_cassandra_spark.catalog import table
from dcosb_cassandra_spark.functions.minhash import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    minhash_signature,
    tokens_of,
)

SF01 = "/root/testdata/sf0.1"


def lsh_bands(sigs, id_col, k=DEFAULT_NUM_HASHES, bands=DEFAULT_BANDS):
    """(id, band_idx, band_hash) — one row per band; docs sharing any
    (band_idx, band_hash) are candidate near-duplicates. The plain
    reference form of the engine's keyed `band_rows`."""
    r = k // bands
    entries = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)])).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select(id_col, F.explode(F.array(*entries)).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash")
    )


def distinct_band_pairs(sigs, k=DEFAULT_NUM_HASHES, bands=DEFAULT_BANDS):
    """{(id_a, id_b)}: every doc_id-ordered pair sharing a band, deduped
    with DISTINCT — the reference candidate set."""
    bands_df = lsh_bands(sigs, "doc_id", k, bands)
    a, b = bands_df.alias("a"), bands_df.alias("b")
    return {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .collect()
    }


def test_exact_dedup_finds_known_duplicates_at_sf01(spark):
    d = table(spark, SF01, "documents")
    n_docs = d.count()
    n_unique = d.select("text").distinct().count()
    assert n_docs - n_unique == 8, "FIXTURES.md: exactly 8 duplicate rows at sf0.1"
    groups = d.groupBy("text").count().filter(F.col("count") > 1)
    assert groups.agg(F.sum(F.col("count") - 1)).head()[0] == 8


def test_minhash_lsh_catches_constructed_near_dups(spark):
    """Plant near-duplicates with known overlap: B = A with 2 of ~20 tokens
    changed (Jaccard ≈ 0.82) must share at least one LSH band with A;
    unrelated random docs must not collide with everything."""
    base = [f"tok{i}" for i in range(20)]
    docs = []
    for d in range(25):
        a = [f"d{d}_{t}" for t in base]
        b = list(a)
        b[0], b[1] = f"d{d}_changed0", f"d{d}_changed1"
        docs.append((2 * d, " ".join(a)))
        docs.append((2 * d + 1, " ".join(b)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    pairs = distinct_band_pairs(minhash_signature(df, "doc_id", "text"))
    planted = {(2 * d, 2 * d + 1) for d in range(25)}
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.8, f"LSH recall {recall} too low for Jaccard≈0.82 pairs"
    false_pairs = pairs - planted
    assert len(false_pairs) <= 5, f"too many spurious candidates: {len(false_pairs)}"


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate ≈ true Jaccard (the MinHash estimator):
    with 8 hashes expect coarse agreement — within ±0.35 absolute."""
    a_toks = [f"t{i}" for i in range(30)]
    b_toks = a_toks[:15] + [f"u{i}" for i in range(15)]  # true J = 15/45 = 1/3
    df = spark.createDataFrame(
        [(0, " ".join(a_toks)), (1, " ".join(b_toks))], "doc_id LONG, text STRING"
    )
    sigs = {r["doc_id"]: [r[f"mh{i}"] for i in range(8)] for r in
            minhash_signature(df, "doc_id", "text").collect()}
    agree = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 8
    assert abs(agree - 1 / 3) <= 0.35


def test_minhash_lsh_recall_at_scale_config(spark):
    """Same planted near-dups (Jaccard ≈ 0.82) through the 100 TB-shaped
    MinHash config — k=16 hashes, 8 bands of r=2: expected band-collision
    probability 1-(1-J²)⁸ ≈ 0.999, so recall must stay ≥0.9 while the
    narrower bands keep random collisions near zero."""
    base = [f"tok{i}" for i in range(20)]
    docs = []
    for d in range(25):
        a = [f"d{d}_{t}" for t in base]
        b = list(a)
        b[0], b[1] = f"d{d}_changed0", f"d{d}_changed1"
        docs.append((2 * d, " ".join(a)))
        docs.append((2 * d + 1, " ".join(b)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    pairs = distinct_band_pairs(minhash_signature(df, "doc_id", "text", k=16), k=16, bands=8)
    planted = {(2 * d, 2 * d + 1) for d in range(25)}
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.9, f"k=16/b=8 recall {recall} too low for Jaccard≈0.82 pairs"
    assert len(pairs - planted) <= 3, f"too many spurious candidates: {len(pairs - planted)}"


def test_sign_lsh_multiprobe_recall_on_planted_vectors(spark):
    """The parameterized sign-bit LSH (lsh_best_bucketmate) at the ≥8-bit
    scale knobs must retrieve planted near-duplicate vectors (cosine ≈
    0.995: v' = v + 0.1·noise). Measured here: 8 bits + Hamming≤1 probes
    ≈ 0.96 recall, 16 bits + probes ≈ 0.89 — thresholds set just below.
    Exact-1NN recall over pure-random corpora is NOT the contract (random
    64-dim vectors are near-orthogonal; no LSH family has locality there).
    Also asserts candidate generation stays an equi-join (no cartesian)."""
    import numpy as np

    from dcosb_cassandra_spark.operators.llm_similarity import lsh_best_bucketmate
    from dcosb_cassandra_spark.plans.audit import audit

    rng = np.random.default_rng(7)
    rows = []
    for d in range(200):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        u = rng.standard_normal(64)
        u /= np.linalg.norm(u)
        w = v + 0.1 * u
        rows.append((2 * d, [float(x) for x in v]))
        rows.append((2 * d + 1, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    for bits, probes, floor in [(8, 1, 0.9), (16, 1, 0.8)]:
        result = lsh_best_bucketmate(df, bits=bits, hamming_probes=probes)
        assert not audit(result)["has_cartesian"], "multi-probe must stay an equi-join"
        got = {r["vec_id"]: r["best_id"] for r in result.collect()}
        hit = sum(1 for d in range(200) if got.get(2 * d) == 2 * d + 1)
        hit += sum(1 for d in range(200) if got.get(2 * d + 1) == 2 * d)
        recall = hit / 400
        assert recall >= floor, f"bits={bits} probes={probes}: recall {recall} < {floor}"


def test_first_collision_dedup_equals_distinct(spark):
    """The engine's distinct-free band probe (`band_pairs` over
    `band_rows`) must produce EXACTLY the pair set of the reference
    DISTINCT formulation, on a corpus constructed to collide in multiple
    bands (identical docs collide in all 4; near-dups in some)."""
    from dcosb_cassandra_spark.functions.minhash import band_pairs, band_rows

    docs = []
    base = [f"w{i}" for i in range(12)]
    for d in range(10):
        a = [f"g{d}_{t}" for t in base]
        b = list(a)
        b[0] = f"g{d}_x"
        docs.append((3 * d, " ".join(a)))
        docs.append((3 * d + 1, " ".join(a)))   # identical: all-band collision
        docs.append((3 * d + 2, " ".join(b)))   # near-dup: some-band collision
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    want = distinct_band_pairs(minhash_signature(df, "doc_id", "text", DEFAULT_NUM_HASHES))
    bands = band_rows(df)
    got = [
        (r["id_a"], r["id_b"])
        for r in band_pairs(bands, bands, F.col("a.doc_id") < F.col("b.doc_id")).collect()
    ]
    assert len(got) == len(set(got)), "first-collision filter emitted a duplicate pair"
    assert set(got) == want
    assert len(want) >= 20, "fixture must actually produce multi-band collisions"


#: every registered query whose plan reaches the LSH size gate, and the
#: number of explicit hints it keeps past the gate: d2m's two
#: |sources|-row totals are a fixed-size broadcast, not a gated side
_GATED = {
    "d2b_minhash_lsh_pairs": 0,
    "d2i_lsh_dedup_eval": 0,
    "d2m_cross_source_dup_matrix": 2,
    "d2n_dedup_threshold_curve": 0,
    "d2o_incremental_dedup": 0,
    "d2s_containment_pairs": 0,
    "d_split_leakage_audit": 0,
    "d_split_repair": 0,
}


def test_broadcast_fallback_is_shuffle_join_with_equal_results(spark, monkeypatch):
    """The ~10^7-doc fallback is CODE, not prose: shrinking the one
    `BROADCAST_FALLBACK_BYTES` to -1 must (a) remove every gated
    broadcast hint from every LSH-family plan — band rows, per-doc
    columns and the vocab-hash map alike — and (b) leave results
    row-identical, proving the size-conditional switch degrades to the
    shuffle equi-join / inline shape without semantic drift."""
    from dcosb_cassandra_spark.functions import minhash
    from dcosb_cassandra_spark.registry import REGISTRY, load_all

    from .conftest import SF_DIR

    load_all()

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    hinted = {}
    for n, fixed in _GATED.items():
        df = REGISTRY[n].fn(spark, SF_DIR)
        assert hints(df) > fixed, f"{n} must reach the gate"
        hinted[n] = sorted(tuple(r) for r in df.collect())
    monkeypatch.setattr(minhash, "BROADCAST_FALLBACK_BYTES", -1)
    for n, fixed in _GATED.items():
        df = REGISTRY[n].fn(spark, SF_DIR)
        assert hints(df) == fixed, n
        assert sorted(tuple(r) for r in df.collect()) == hinted[n], n
