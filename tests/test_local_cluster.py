"""Cross-deployment parity: the same plans on a REAL multi-JVM cluster.

``local[32]`` (every other test and the driver) runs driver and executors
in one JVM — closure serialization, broadcast transport, shuffle-file
exchange, and executor-spawned Python workers (pandas UDF / applyInPandas
/ mapInPandas) are all short-circuited. ``local-cluster[2,4,2048]``
spawns two real worker JVMs with real RPC, so these tests are the
evidence that the engine's plans survive an actual multi-executor
deployment unchanged (SURVEY.md "100 TB design rules").

The representative set below covers each physically-distinct execution
feature once: codegen agg, broadcast join, window, round-robin spread +
pair-enumeration broadcast join, collect_list codebook broadcast,
applyInPandas grid UDA, mapInPandas Arrow batches, pandas scalar UDF,
LWW mutation-log windows, explode+distinct agg, sliding-digest dedup,
the CQL front-end, iterative k-means, a salted join, stream-stream
outer-join state, and the chained-mapInPandas PNG codec.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

from dcosb_cassandra_spark.compare import canon_rows
from dcosb_cassandra_spark.registry import REGISTRY, load_all

SF_DIR = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one query per physically-distinct execution feature
REPRESENTATIVE = [
    "q1_pricing_summary",        # whole-stage-codegen scan+agg
    "q5_local_supplier",         # multi-broadcast join tree
    "window_top2_per_cust",      # ranking window
    "b02b_salted_join",          # salt explode + shuffle join
    "a16b_group_by_floor",       # CQL front-end (parser → plan)
    "a18_upsert_lww",            # mutation-log LWW window
    "b36_rolling_dau",           # offset-explode + distinct agg
    "d2b_minhash_lsh_pairs",     # spread + first-collision band join
    "d2h_semdedup",              # collect_list codebook broadcast + pair join
    "d4d_ivf_probe_knn",         # IVF bucket equi-join + window top-k
    "d16_substring_dedup",       # sliding-digest window aggregate
    "d17_kmeans_lloyd",          # iterative (fixed-round) refinement
    "d13d_boundary_packing",     # applyInPandas sequential fold per shard
    "d7d_audio_frame_energy",    # mapInPandas + numpy per Arrow batch
    "a33_pandas_udf_scalar",     # pandas scalar UDF
    "a_repair_merkle_ranges",    # conditional struct-max + bit_xor rollup
    "b36b_rolling_dau_hll",      # HLL sketch build + binary merge across JVMs
    "d5s_lexical_divergence",    # map-column aggregation + per-pair JS fold
    "c6c_stateful_replay",       # STREAMING applyInPandasWithState in multi-JVM
    "c10c_outer_interval_replay",  # stream-stream LEFT OUTER join state across JVMs
    "d7e_image_decode",          # chained mapInPandas, PNG codec closure pickling
    "d7h_jpeg_decode",           # r8: JPEG entropy codec module-ref pickling
    "d7i_jpeg_color_decode",     # r8: color MCU decode + numpy color transform
    "d5u_bigram_lm_quality",     # r8: broadcast LM model join-back + div arithmetic
    "c10d_full_outer_interval_replay",  # r8: FULL OUTER two-sided stream state
    "d7j_mjpeg_frame_decode",    # r8: MP4 box walk + per-frame JPEG decode
    "d7l_adpcm_audio_decode",    # r8: stateful ADPCM walk per executor task
    "d7m_gif_lzw_decode",        # r8: hand-rolled LZW closure pickling
    "d7n_audio_frame_features",  # r8: strided frame matrix, row explosion
    "d8f_sq8_calibrated_dot",    # r8: 1-row calibration-grid broadcast across JVMs
    "d8g_ivfpq_search",          # r8: codebook-closure Arrow UDF + index probe
    "d7p_png_hand_inflate",      # r8: hand-rolled DEFLATE module pickling
    "c6d_state_ttl_replay",      # r9: EventTimeTimeout state eviction across JVMs
    "d5x_bpe_encode_corpus",     # r9: trained-merge rewrite chain + memoized train
    "d15b_global_shuffle_manifest",  # r10: bit_xor membership digest across JVMs
    "d16b_substring_removal_plan",   # r10: dual window agg on one exchange + span explode
]

# r10: transformWithState across real worker JVMs — proves the post-gateway
# sc.environment PYTHONPATH injection reaches executor-spawned Python
# workers, not just local-mode daemons. Gated like the c6e registration.
from dcosb_cassandra_spark.operators.streaming_batch import _tws_runnable  # noqa: E402

if _tws_runnable():
    REPRESENTATIVE.append("c6e_tws_replay")


def _digest(df) -> tuple[int, str]:
    rows = [
        tuple(round(c, 5) if isinstance(c, float) else c for c in r)
        for r in df.collect()
    ]
    canon = canon_rows(rows, len(df.columns), df.columns)
    return len(rows), hashlib.md5(repr(canon).encode()).hexdigest()


#: handle for the early-started local-cluster subprocess (r15 suite-wall
#: work: the run takes ~3 min and used to serialize in front of its
#: first test; conftest's pytest_collection_modifyitems starts it at
#: collection time so it overlaps the ~40% of the suite that sorts
#: before this file). stdout/stderr go to temp FILES, not pipes — the
#: worker JVM logs overflow a 64 KB pipe buffer and would deadlock an
#: unread Popen.
_LC_PROC: dict = {}


def start_cluster_subprocess() -> None:
    """Idempotently launch lc_runner detached; cluster_results joins it."""
    if "proc" in _LC_PROC:
        return
    import tempfile

    load_all()
    out = tempfile.NamedTemporaryFile(
        mode="w+", prefix="lc_runner_out_", delete=False
    )
    err = tempfile.NamedTemporaryFile(
        mode="w+", prefix="lc_runner_err_", delete=False
    )
    _LC_PROC["out"], _LC_PROC["err"] = out, err
    _LC_PROC["proc"] = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "lc_runner.py"),
         SF_DIR, ",".join(REPRESENTATIVE)],
        stdout=out, stderr=err, text=True, cwd=REPO,
    )


def stop_cluster_subprocess() -> None:
    """Kill the subprocess if it still runs, reap it, and delete its
    output files; a no-op when it was never started."""
    proc = _LC_PROC.pop("proc", None)
    if proc is None:
        return
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    for name in ("out", "err"):
        f = _LC_PROC.pop(name)
        f.close()
        os.unlink(f.name)


@pytest.fixture(scope="module")
def cluster_results() -> dict:
    """Results of the representative set run in a local-cluster subprocess
    (two real worker JVMs); one subprocess amortizes the ~15 s cluster
    startup, started early (see start_cluster_subprocess)."""
    start_cluster_subprocess()
    proc = _LC_PROC["proc"]
    try:
        rc = proc.wait(timeout=900)
    except subprocess.TimeoutExpired:
        proc.kill()
        raise
    _LC_PROC["out"].seek(0)
    _LC_PROC["err"].seek(0)
    stdout, stderr = _LC_PROC["out"].read(), _LC_PROC["err"].read()
    assert rc == 0, f"lc_runner failed:\n{stderr[-4000:]}"
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_local_cluster_parity(spark, query_frame, cluster_results, name):
    n, digest = _digest(query_frame(name, SF_DIR))
    got = cluster_results[name]
    assert got["rows"] == n, f"{name}: cluster rows {got['rows']} != local {n}"
    assert got["digest"] == digest, f"{name}: cluster result diverges from local"
