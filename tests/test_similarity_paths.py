"""Fused-vs-distributed physical-strategy parity (d4d / d2h).

The IVF probe (d4d) and SemDeDup (d2h) pick their physical plan by index
size (`llm_similarity.FUSED_SMALL_INDEX_BYTES`): a small index runs the
FUSED single-task numpy plan, a large one the distributed plan (broadcast
query batch + bucket equi-join + window / groupBy-applyInPandas). The
fixture always takes the fused path, so these tests force the distributed
path by shrinking the threshold and assert BOTH paths return identical
rows — the float folds are written to agree bit-for-bit, and this is the
proof. Without this, the at-scale plan would ship with zero coverage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dcosb_cassandra_spark.catalog import table
from dcosb_cassandra_spark.operators import llm_similarity
from dcosb_cassandra_spark.registry import REGISTRY, load_all

from .conftest import SF_DIR

load_all()


def _rows(spark, name):
    return sorted(
        tuple(r) for r in REGISTRY[name].fn(spark, SF_DIR).collect()
    )


@pytest.mark.parametrize(
    "name", ["d4d_ivf_probe_knn", "d4j_ivf_multiprobe_knn", "d2h_semdedup"]
)
def test_fused_and_distributed_paths_agree(spark, name, monkeypatch):
    fused = _rows(spark, name)
    monkeypatch.setattr(llm_similarity, "FUSED_SMALL_INDEX_BYTES", -1)
    distributed = _rows(spark, name)
    assert fused == distributed
    assert len(fused) > 0


def test_distributed_d4d_prunes_partitions_and_limits_window(spark, monkeypatch):
    """The at-scale d4d plan must keep its 100 TB properties: partition
    pruning on the probed buckets and a rank-limited window (no global
    sort of the candidate stream)."""
    from dcosb_cassandra_spark.plans.audit import plan_string

    monkeypatch.setattr(llm_similarity, "FUSED_SMALL_INDEX_BYTES", -1)
    # force the on-disk serving posture too: with the index RAM-resident
    # (InMemoryRelation) the parquet PartitionFilters line never appears —
    # standalone runs of this test were order-dependent without this.
    # Spark's CacheManager substitutes a matching cached plan regardless
    # of our Python-level memo, so any prior test's .cache() of the same
    # index scan must be unpersisted, not just forgotten.
    monkeypatch.setattr(llm_similarity, "RAM_INDEX_BYTES", -1)
    from dcosb_cassandra_spark.session import memo_evict

    memo_evict("ivf_index_ram", lambda k, v: True)  # unpersists each
    plan = plan_string(REGISTRY["d4d_ivf_probe_knn"].fn(spark, SF_DIR))
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "WindowGroupLimit" in plan


def test_pq_recon_stored_codes_match_inline_encode(spark):
    """The IVF index's stored PQ codes (write_ivf_index, r8) and the
    inline argmin encode must reconstruct BIT-IDENTICAL vectors — stored
    codes come from the same `_pq_code_positions` on the same codebook,
    so d8g's gather path is the cheap read of the exact same answer; and
    d4q's `_pq_store`, which gathers the stored codes, must equal d4g's
    JVM encoder gathered the same way."""
    cb = llm_similarity._codebook(spark, SF_DIR)
    idx = llm_similarity.ivf_index(spark, SF_DIR)
    assert "code" in idx.columns  # the index stores the 8 positions
    stored = llm_similarity._with_pq_recon(idx, cb)
    inline = llm_similarity._with_pq_recon(idx.drop("code"), cb)
    a = {r.vec_id: r.re for r in stored.select("vec_id", "re").collect()}
    b = {r.vec_id: r.re for r in inline.select("vec_id", "re").collect()}
    assert a.keys() == b.keys() and len(a) > 0
    assert all(a[k] == b[k] for k in a)  # exact float equality, not approx
    # d4q's store gathers the stored codes: it must equal the shared JVM
    # encoder (d4g's `_pq_encode`) gathered through the same codebook
    emb = table(spark, SF_DIR, "embeddings")
    v = idx.filter(F.col("vec_id") >= 5).select("vec_id", "ve")
    codes = llm_similarity._pq_encode(v, llm_similarity._label_centroids(emb))
    pos = {c: i for i, c in enumerate(sorted(r.cand for r in cb))}
    jvm_codes = {}
    for r in codes.select("vec_id", "s", "cand").collect():
        jvm_codes.setdefault(r.vec_id, [0] * llm_similarity._PQ_SUBSPACES)[r.s] = pos[r.cand]
    jvm = llm_similarity._with_pq_recon(
        spark.createDataFrame(list(jvm_codes.items()), "vec_id long, code array<int>"), cb
    )
    c = {r.vec_id: r.re for r in jvm.select("vec_id", "re").collect()}
    store = {r.node: r.ve for r in llm_similarity._pq_store(spark, SF_DIR).collect()}
    assert c.keys() == store.keys() and len(store) > 0
    assert [k for k in sorted(store) if c[k] != store[k]][:1] == []
