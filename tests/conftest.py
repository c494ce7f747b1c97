from __future__ import annotations

import os
import sys

import pytest

#: Spark python workers inherit the JVM's environment, captured when the
#: gateway launches — so the protobuf-alias worker shim (vendor/
#: sitecustomize.py, needed by the transformWithState parity test) must be
#: on PYTHONPATH BEFORE any session is created. Harmless everywhere else:
#: the shim only installs an import alias for google.* and never fires
#: unless something imports google.protobuf.
_VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dcosb_cassandra_spark",
    "vendor",
)
os.environ["PYTHONPATH"] = (
    _VENDOR + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
)



def _host_driver_heap() -> str:
    """A third of the host's MemTotal, in whole GiB (2g to 16g): the
    get_spark default of 16g lets the suite's JVM grow past what a 16 GB
    host can hold next to its Python workers and the local-cluster JVMs."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(2, min(16, kib // (3 << 20)))}g"


if "SPARK_DRIVER_MEM" not in os.environ and os.path.exists("/proc/meminfo"):
    os.environ["SPARK_DRIVER_MEM"] = _host_driver_heap()

from dcosb_cassandra_spark.session import get_spark  # noqa: E402

#: driver's correctness gate runs at sf0.01 — self-check at the same SF
SF_DIR = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(config, items):
    """Start test_local_cluster's ~3-minute subprocess at COLLECTION time:
    it runs in its own JVMs, so it overlaps the ~40% of the suite that
    sorts before its file instead of serializing in front of its first
    test. ``trylast`` runs this after ``-k``/``-m`` deselection, so it
    fires only when that file's tests survive selection; --collect-only
    never spawns it."""
    if config.option.collectonly:
        return
    if any("test_local_cluster" in item.nodeid for item in items):
        from . import test_local_cluster

        test_local_cluster.start_cluster_subprocess()


def pytest_sessionfinish(session, exitstatus):
    """Reap the local-cluster subprocess (killed if a failure or an
    interrupt left it running) and delete its output files."""
    lc = sys.modules.get(f"{__package__}.test_local_cluster")
    if lc is not None:
        lc.stop_cluster_subprocess()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dcosb-tests")
    yield s


#: session-scoped memo of built query frames — see query_frame below.
#: Its bound is |REGISTRY|: one entry per (query name, sf_dir), and every
#: caller builds frames at the one SF directory the suite checks.
_FRAME_MEMO: dict = {}


@pytest.fixture(scope="session")
def query_frame(spark):
    """name -> REGISTRY[name].fn(spark, sf_dir), built once per suite.

    fn() is deterministic per (session, sf_dir), but for the replay
    family (c10*/c14/c16b/c17/c18/...) calling it EXECUTES a full
    multi-micro-batch streaming replay before returning the sink frame —
    20-45 s each. The plan audits (test_plans, whole registry twice),
    the oracle parity sweep and the local-cluster digests each used to
    call fn() themselves, so the suite paid every replay 3-4x. Sharing
    the built frame keeps every assertion identical (same plan, same
    rows) and cuts the suite wall by the duplicated replays (r15,
    VERDICT r14 task #1)."""
    from dcosb_cassandra_spark.registry import REGISTRY, load_all

    load_all()

    def get(name: str, sf_dir: str = SF_DIR):
        key = (name, sf_dir)
        if key not in _FRAME_MEMO:
            _FRAME_MEMO[key] = REGISTRY[name].fn(spark, sf_dir)
        return _FRAME_MEMO[key]

    return get
