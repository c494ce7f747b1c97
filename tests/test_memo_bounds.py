"""`session.plan_memo`, the engine's one memo primitive: every namespace
is capped at MEMO_CAP (oldest first), counts hits, requests and
evictions, rejects a recycled id() through ``pin``, and releases the
executor blocks of what the two serving namespaces drop."""

import pytest

from dcosb_cassandra_spark import session
from dcosb_cassandra_spark.session import MEMO_CAP, memo_evict, memo_stats, plan_memo


def _stats(name: str) -> tuple:
    """(name, entry_count, hit_count, request_count, eviction_count)."""
    return next(r for r in memo_stats() if r[0] == name)


def _no_build():
    pytest.fail("build() ran on what should be a hit")


@pytest.fixture
def scratch(monkeypatch):
    """A fresh namespace, so these cases never touch the engine's memos."""
    released: list = []
    monkeypatch.setitem(session._MEMOS, "scratch", session._Memo(released.append))
    return released


def test_plan_memo_caps_and_evicts_oldest_first(scratch):
    for i in range(20):
        assert plan_memo("scratch", ("app", f"gen{i}"), lambda i=i: i) == i
    assert _stats("scratch")[1] == MEMO_CAP
    # the newest generations survive (hits), the oldest were evicted
    for i in range(20 - MEMO_CAP, 20):
        assert plan_memo("scratch", ("app", f"gen{i}"), _no_build) == i
    assert plan_memo("scratch", ("app", "gen11"), lambda: "rebuilt") == "rebuilt"
    assert scratch[:3] == [0, 1, 2]  # released in insertion order


def test_plan_memo_rekeys_in_place(scratch):
    a, b = object(), object()
    plan_memo("scratch", ("k",), lambda: "a", pin=a)
    assert plan_memo("scratch", ("k",), lambda: "b", pin=b) == "b"
    assert plan_memo("scratch", ("k",), _no_build, pin=b) == "b"
    assert _stats("scratch")[1] == 1
    assert scratch == ["a"]  # the replaced value was released


def test_pin_rejects_recycled_id(scratch):
    """A key built from id(frame) must not serve a different frame that
    happens to get the same id() once the first is garbage-collected."""

    class Frame:
        pass

    old = Frame()
    key = ("app", id(old))
    plan_memo("scratch", key, lambda: "old plan", pin=old)
    assert plan_memo("scratch", key, _no_build, pin=old) == "old plan"
    recycled = Frame()  # stands in for a new frame reusing id(old)
    assert plan_memo("scratch", key, lambda: "new plan", pin=recycled) == "new plan"


def test_counters_track_hits_requests_and_evictions(scratch):
    plan_memo("scratch", 1, lambda: "x")
    plan_memo("scratch", 1, _no_build)
    for i in range(MEMO_CAP + 1):
        plan_memo("scratch", ("fill", i), lambda i=i: i)
    assert _stats("scratch") == ("scratch", MEMO_CAP, 1, MEMO_CAP + 3, 2)


def test_memo_evict_drops_matching_entries_and_releases(scratch):
    for i in range(4):
        plan_memo("scratch", i, lambda i=i: f"v{i}")
    assert memo_evict("scratch", lambda k, v: k % 2 == 0) == 2
    assert scratch == ["v0", "v2"]
    assert plan_memo("scratch", 1, _no_build) == "v1"
    assert plan_memo("scratch", 0, lambda: "again") == "again"
    assert _stats("scratch")[4] == 2


def test_build_runs_outside_the_lock(scratch):
    """A build may use its own namespace (ivf_index's build evicts older
    generations of the same path) without deadlocking."""

    def build():
        memo_evict("scratch", lambda k, v: True)
        return plan_memo("scratch", "inner", lambda: "inner")

    assert plan_memo("scratch", "outer", build) == "inner"
    assert _stats("scratch")[1] == 2


def test_racing_build_keeps_the_first_insert(scratch):
    """Two builds of one key: the first insert stays and the loser's
    value is released, never served."""

    def slow_build():
        plan_memo("scratch", "k", lambda: "winner")  # lands first
        return "loser"

    assert plan_memo("scratch", "k", slow_build) == "winner"
    assert scratch == ["loser"]


def test_concurrent_callers_keep_the_cap_and_the_counts(scratch):
    """More threads than cores on overlapping keys, with a tiny switch
    interval: every caller gets its key's value, the cap holds, every
    request is counted, and each built value that is not resident at the
    end was released exactly once."""
    import sys
    import threading

    n_threads, n_calls, errors = 8, 300, []

    def worker(t: int) -> None:
        try:
            for i in range(n_calls):
                k = (t + i) % (MEMO_CAP + 4)
                if plan_memo("scratch", k, lambda k=k: ("v", k)) != ("v", k):
                    errors.append((t, i))
        except Exception as e:  # reported below; a thread can't fail the test
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    _, entries, hits, requests, _ = _stats("scratch")
    assert (entries, requests) == (MEMO_CAP, n_threads * n_calls)
    assert len(scratch) == requests - hits - entries


def test_every_registered_namespace_is_capped(monkeypatch):
    """Every namespace the engine registers — checked through the
    registry after all operator modules are imported, on fresh copies so
    the live memos are untouched — is capped, and exactly the two that
    hold executor blocks release what they evict."""
    from dcosb_cassandra_spark.registry import load_all

    load_all()
    names = [r[0] for r in memo_stats()]
    assert {
        "bpe_merges", "codebook", "ivf_index_dirs", "ivf_index_ram",
        "knn_graph", "quality_model", "query_batch", "vocab_hash_est",
    } <= set(names)

    class Blocks:
        released = False

        def unpersist(self):
            self.released = True

    releasing = set()
    for name in names:
        monkeypatch.setitem(
            session._MEMOS, name, session._Memo(session._MEMOS[name].release)
        )
        values = [(Blocks(),) for _ in range(MEMO_CAP + 3)]
        for i, v in enumerate(values):
            plan_memo(name, ("probe", i), lambda v=v: v)
        assert _stats(name)[1] == MEMO_CAP, name
        assert _stats(name)[4] == 3, name
        if any(v[0].released for v in values):
            assert [v[0].released for v in values[:3]] == [True] * 3, name
            releasing.add(name)
    assert releasing == {"ivf_index_ram", "knn_graph"}


def test_minhash_vocab_estimate_is_memoized(spark):
    """minhash_signature reads Catalyst's size estimate once per frame:
    a second call on the same frame is a hit, not another optimize pass."""
    from dcosb_cassandra_spark.functions.minhash import minhash_signature

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    _, _, hits0, requests0, _ = _stats("vocab_hash_est")
    first = minhash_signature(docs, "doc_id", "text")
    second = minhash_signature(docs, "doc_id", "text")
    _, _, hits1, requests1, _ = _stats("vocab_hash_est")
    assert (requests1 - requests0, hits1 - hits0) == (2, 1)  # 1 miss, 1 hit
    assert sorted(first.collect()) == sorted(second.collect())
