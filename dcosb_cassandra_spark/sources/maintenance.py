"""Storage maintenance jobs — the Spark analogue of Cassandra's background
LSM machinery (SURVEY.md §4.1: compaction strategies → file compaction;
token-aware layout → bucketing).

- ``compact_small_files``: rewrite a directory of many small parquet files
  into few right-sized ones (size-tiered compaction's goal, done at rest).
  Small files are the #1 silent killer of 100 TB scans: each file costs a
  task + footer read + seek.
- ``write_bucketed``: persist a table bucketed+sorted by its join key. Two
  tables bucketed the same way join with ZERO exchanges (verified by plan
  test) — the batch equivalent of Cassandra routing both datasets by the
  same partition token.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from ..streaming.streams import file_stream, foreach_batch

#: infixes of a store's swap siblings, named ``<store><infix><pid>``: the
#: live copy renamed aside, the rewrite tmp of earlier builds, and the
#: rewrite in flight. Recovery, healing and readers all key on these.
SWAP_SIBLINGS = (".old.", ".forget.", ".next.")
_OLD, _, _NEXT = SWAP_SIBLINGS


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def promote(tmp: str, path: str) -> None:
    """Move the finished rewrite ``tmp`` to ``path``: a live ``path`` is
    renamed aside to ``path.old.<pid>``, ``tmp`` is renamed in and the
    old copy dropped; an absent ``path`` just receives ``tmp``. The two
    renames are not one atomic op. Between them ``path`` is absent, and
    a crash there leaves only the ``.old`` copy, which
    ``_recover_store_swap`` puts back on the next call (a reader racing
    that instant retries, the usual contract for rename-swapped
    stores)."""
    if not os.path.isdir(path):
        os.rename(tmp, path)
        return
    old = f"{path}{_OLD}{os.getpid()}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def swap_store(path: str, write) -> None:
    """Replace the store at ``path`` crash-safely: ``write(tmp)`` builds
    the new copy at the sibling ``path.next.<pid>`` and `promote` moves
    it in. A ``write`` that raises leaves the live store untouched; its
    half-written sibling is swept by the next ``_recover_store_swap``.
    Callers run ``_recover_store_swap(path)`` before reading the store."""
    tmp = f"{path}{_NEXT}{os.getpid()}"
    write(tmp)
    promote(tmp, path)


def _recover_store_swap(path: str) -> None:
    """Crash recovery for `promote`. When ``path`` is missing, the newest
    stranded ``path.old.<pid>`` (the pre-rewrite content) goes back under
    the live name, so the interrupted rewrite simply re-runs; then the
    dead writers' siblings are swept. A crashed swap self-heals instead
    of failing every later call.

    The sweep is gated on pid liveness: every sibling carries its
    writer's pid, and a rewrite in another live process may have its
    tmp on disk right now; removing it would fail that writer
    mid-rename. Only siblings whose owner is dead, or is this process
    (a leftover of an earlier failed call), are swept."""

    def _owner_dead(p: str) -> bool:
        try:
            pid = int(p.rsplit(".", 1)[-1])
        except ValueError:
            return True  # malformed suffix: nobody owns it
        if pid == os.getpid():
            return True  # our own leftover from a prior failed call
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True  # ESRCH → dead owner
        except PermissionError:
            return False  # EPERM → process exists under another uid
        return False

    stranded = glob.glob(f"{path}{_OLD}*")
    if stranded and not os.path.isdir(path):
        os.rename(max(stranded, key=os.path.getmtime), path)
    for infix in SWAP_SIBLINGS:
        for stale in glob.glob(f"{path}{infix}*"):
            if _owner_dead(stale):
                shutil.rmtree(stale, ignore_errors=True)


def _named(root: str, prefix: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return [e for e in os.listdir(root) if e.startswith(prefix)]


def live_parts(root: str, prefix: str) -> list[str]:
    """Names of the live ``prefix…`` stores under ``root``, leaving out
    their swap siblings (which start with the same prefix)."""
    return [e for e in _named(root, prefix) if not any(s in e for s in SWAP_SIBLINGS)]


def heal_parts(root: str, prefix: str) -> None:
    """``_recover_store_swap`` each ``prefix…`` store under ``root`` that
    has a swap sibling, found from one listing. Recovering every store
    instead ran 3 globs over O(B) entries per store: O(B²) string
    matching, measured ~290 s per batch at B=8192 with nothing to
    heal."""
    strays = {
        e.split(s)[0] for e in _named(root, prefix) for s in SWAP_SIBLINGS if s in e
    }
    for base in sorted(strays):
        _recover_store_swap(os.path.join(root, base))


def compact_small_files(spark: SparkSession, path: str, target_files: int) -> tuple[int, int]:
    """Rewrite ``path`` in place to ``target_files`` parquet files, through
    ``swap_store`` (the same single-FS rename commit as a compaction).
    Returns (files_before, files_after)."""
    path = path.rstrip("/")
    _recover_store_swap(path)
    before = len(parquet_files(path))
    df = spark.read.parquet(path)
    swap_store(path, df.repartition(target_files).write.mode("overwrite").parquet)
    return before, len(parquet_files(path))


def write_bucketed(
    df: DataFrame, name: str, bucket_col: str, n_buckets: int = 8
) -> None:
    """Persist as a bucketed+sorted managed table (requires a warehouse
    dir on the session). Joins between tables bucketed identically on the
    join key need no shuffle on either side."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(name)
    )


def major_compact(
    spark: SparkSession,
    log: DataFrame,
    snapshot_path: str,
    keys: list[str],
    gc_grace_writetime: int,
    target_files: int = 4,
    tiebreak_col: str | None = "mutation_id",
) -> tuple[int, int]:
    """Major compaction [PK `db/compaction/CompactionManager.java`]: collapse
    a mutation log into an on-disk snapshot — LWW winner per key, tombstones
    within gc_grace RETAINED (they must keep shadowing stragglers in not-yet-
    compacted logs), tombstones past grace PURGED — written as
    ``target_files`` parquet files (the small-files control of
    ``compact_small_files``, applied at the semantic-compaction commit).

    Returns (log_rows, snapshot_rows). Scale: the semantic collapse is ONE
    shuffle on the partition keys (``compact_with_grace``); the write is a
    repartition to the target layout. Reading back the snapshot unioned
    with any newer log and re-compacting yields the same state as
    compacting everything at once (idempotence property, tested)."""
    from ..functions.lww import compact_with_grace

    n_log = log.count()
    snap = compact_with_grace(
        log, keys, gc_grace_writetime, tiebreak_col=tiebreak_col
    )
    snap.repartition(target_files).write.mode("overwrite").parquet(snapshot_path)
    return n_log, len(parquet_files(snapshot_path))


def zorder_rewrite(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """OPTIMIZE ... ZORDER BY (col_a, col_b): physically rewrite a parquet
    directory range-partitioned and sorted by the Morton interleave of the
    two columns, so per-file min/max statistics become selective on BOTH
    predicate columns at once (b32 evaluates the metric; this job realizes
    the layout). At 100 TB this is a full-shuffle rewrite you schedule
    like a major compaction — the range partitioner samples the z-key, so
    output files are balanced regardless of key skew."""
    from pyspark.sql import functions as F

    from ..functions.zorder import morton_interleave

    df = spark.read.parquet(src_path)
    # normalize both columns to the same bit width first: raw interleave
    # of mismatched domains (e.g. 8-bit custkey vs 12-bit day) leaves the
    # wider column's high bits on top of the key, and the "z-order"
    # degenerates to a plain sort on that column (measured: ck spans
    # stayed full-domain). One tiny stats aggregate per job is the
    # standard OPTIMIZE preamble.
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(F.col(col_a).cast("bigint")),
        F.max(F.col(col_a).cast("bigint")),
        F.min(F.col(col_b).cast("bigint")),
        F.max(F.col(col_b).cast("bigint")),
    ).first()
    if lo_a is None or lo_b is None:  # empty source: copy through unchanged
        df.write.mode("overwrite").parquet(dst_path)
        return
    top = float((1 << bits) - 1)

    def norm(c, lo, hi):
        # double math: (col - lo) * int_top could overflow int64 for
        # wide domains (e.g. epoch-micros); layout quality doesn't need
        # exact integer normalization, only monotone bucketing
        span = float(max(1, hi - lo))
        return (F.col(c).cast("double") - float(lo)) * (top / span)

    z = morton_interleave(
        F.floor(norm(col_a, lo_a, hi_a)).cast("bigint"),
        F.floor(norm(col_b, lo_b, hi_b)).cast("bigint"),
        bits,
    ).alias("_zkey")
    (
        df.select("*", z)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(dst_path)
    )


def artifact_dir(name: str, build) -> str:
    """Directory ``name`` holding a built artifact, calling ``build(dir)``
    only when no complete copy (``_SUCCESS``) exists. The root is
    $SPARK_GRAFT_INDEX_DIR (durable across processes) or else a
    per-process temp root removed at exit; either way the name is a pure
    function of the corpus generation, so a forgotten memo entry finds
    the same (possibly erased-into) artifact instead of rebuilding it.
    The build goes to ``<dir>.build.<pid>`` and is renamed into place;
    POSIX rename onto a non-empty dir fails, so a racing loser discards
    its build and serves the winner's. Only a lost race is swallowed:
    any other rename failure propagates."""
    import atexit
    import shutil
    import tempfile

    root = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if not root:
        root = os.path.join(tempfile.gettempdir(), f"dcosb_artifacts_{os.getpid()}")
        if not os.path.isdir(root):
            os.makedirs(root, exist_ok=True)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
    out = os.path.join(root, name)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        tmp = f"{out}.build.{os.getpid()}"
        build(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.exists(os.path.join(out, "_SUCCESS")):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def build_ivf_index(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> str:
    """Materialize the IVF ANN index as a MAINTENANCE job: the "index
    built at ingest" story as an operator a user runs,
    alongside compact_small_files/zorder_rewrite — not a cache
    side-effect of the first probe.

    The index is the serving contract of operators.llm_similarity
    .ivf_index: one parquet partition per centroid bucket
    (partitionBy("bucket")), vectors stored with their L2 norms
    precomputed, so a probe reads ONLY its probed buckets' partitions
    (partition pruning does the 1/k corpus cut) and pays zero assignment
    or norm work at query time — the FAISS-IVF build/serve split.

    Placement: an explicit ``out_dir`` wins; otherwise `artifact_dir`
    ivf3_<corpus>_<mtime> (durable under $SPARK_GRAFT_INDEX_DIR, rebuild
    skipped while the corpus generation is unchanged). Returns the index
    directory."""
    from ..operators.llm_similarity import ivf_index_dir, write_ivf_index

    if out_dir is None:
        return ivf_index_dir(spark, sf_dir)
    return write_ivf_index(spark, sf_dir, out_dir)


def build_bpe_vocab(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the trained BPE merge table as a MAINTENANCE job (the
    d5x serving contract, same build/serve split as ``build_ivf_index``
    and ``build_band_index``): the tokenizer is trained ONCE at ingest
    (d5w's loop — _BPE_ROUNDS bounded actions over the corpus) and every
    future encode pass applies the materialized merges as a pure-JVM
    rewrite chain with zero training collects. Serve with
    ``operators.llm_text.bpe_encode_with_vocab``; bit parity with the
    inline d5x is asserted by tests/test_bpe_vocab.py."""
    from ..operators.llm_text import write_bpe_vocab

    return write_bpe_vocab(spark, sf_dir, out_dir)


def stream_band_index(
    spark: SparkSession, stream_src_dir: str, out_dir: str, schema: str
) -> str:
    """Maintain the d2o band index on a LIVE ingest stream (SURVEY §2 C14):
    a foreachBatch sink signs each arriving micro-batch of BASE documents
    (MinHash → band rows + verification token sets) and APPENDS the new
    rows to the durable index — the c9 MV-maintenance recipe applied to
    the dedup serving artifact. Because every index row derives from
    exactly one document, per-batch append commutes: the streamed index
    holds exactly the rows a one-shot ``build_band_index`` produces
    (row-set parity asserted by tests/test_incremental_index.py), so a
    pipeline can bootstrap in batch and keep maintaining on the stream
    with the same code. Per-batch cost scales with |batch| only — the
    base is never re-read or re-signed. Returns ``out_dir``."""
    from ..operators.llm_dedup import save_band_index

    foreach_batch(
        file_stream(spark, schema, stream_src_dir),
        lambda batch_df, _: save_band_index(batch_df, out_dir, "append"),
    )
    return out_dir


def build_text_index(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> str:
    """Materialize the BM25 text index as a MAINTENANCE job — the SIXTH
    build/serve split (band index, BPE vocab, IVF index, quality model,
    kNN graph, now the lexical index): grouped posting lists + corpus
    stats written once at ingest, so every future d18-style query pays
    only the query-term semi-join, never the corpus explode. Serve with
    ``operators.llm_retrieval.serve_bm25_topk``; bit parity with the
    inline d18 is asserted by tests/test_text_index.py."""
    from ..operators.llm_retrieval import write_text_index

    return write_text_index(spark, sf_dir, out_dir)


def stream_text_index(
    spark: SparkSession,
    stream_src_dir: str,
    out_dir: str,
    schema: str,
    timeout_sec: int = 1800,
) -> str:
    """Maintain the BM25 text index on a LIVE document ingest stream —
    the C14 treatment for the sixth artifact: a foreachBatch sink
    derives each arriving micro-batch's grouped postings (doc_id, term,
    dl, tf) and 1-row corpus stats (n_docs, sum_dl) and OVERWRITES its
    own ``ingest=<batch_id>`` subdirs. Every posting row derives from
    exactly one document and the stats are per-batch partial sums, so
    batches commute AND replay idempotently with zero high-water-mark
    machinery (a replayed batch rewrites the same subdir with the same
    bytes — contrast the kNN-graph stream, whose count merges needed the
    blocks high-water mark). The streamed index is row-set-identical to
    the one-shot ``build_text_index`` (asserted by
    tests/test_text_index.py): bootstrap in batch, maintain on the
    stream, same serving reads. Per-batch cost = |batch| explode +
    grouping + one subdir write; the base is never re-read."""
    from ..operators.llm_retrieval import _write_text_index_batch

    foreach_batch(
        file_stream(spark, schema, stream_src_dir),
        lambda batch_df, batch_id: _write_text_index_batch(
            batch_df, out_dir, batch_id
        ),
        timeout_sec,
    )
    return out_dir


def forget_text_docs(
    spark: SparkSession, index_dir: str, doc_ids: list[int]
) -> str:
    """Right-to-be-forgotten propagation into the TEXT index (the sixth
    artifact gets the same erasure guarantee as the band index's
    ``forget_documents``): postings of the given doc_ids are removed and
    the per-ingest corpus stats (n_docs, sum_dl) are decremented by
    exactly the removed documents' contributions, so the result is
    CONTENT-EQUIVALENT to an index built without the documents — the
    deleted text stops influencing every future BM25 score (df, avgdl,
    N and the postings themselves; equivalence asserted by
    tests/test_text_index.py against a fresh build on the filtered
    corpus).

    Scale: a document's postings live in ONE ingest segment, so only
    AFFECTED segments rewrite (the bounded collect is ≤ #segments ids) —
    Lucene's per-segment delete posture; cost = affected segment bytes,
    never index size, never corpus. Each segment's postings and stats
    are replaced through ``swap_store``."""
    from pyspark.sql import functions as F

    from ..operators.llm_retrieval import TEXT_INDEX_STATS_SCHEMA

    ids = [int(i) for i in doc_ids]
    proot = os.path.join(index_dir, "postings")
    sroot = os.path.join(index_dir, "stats")
    if not os.path.isdir(proot) or not ids:
        return index_dir
    for root in (proot, sroot):
        heal_parts(root, "ingest=")
    allp = spark.read.parquet(proot)
    affected = sorted(
        r["ingest"]
        for r in allp.filter(F.col("doc_id").isin(ids))
        .select("ingest")
        .distinct()
        .collect()
    )
    for g in affected:
        sub = os.path.join(proot, f"ingest={g}")
        seg = spark.read.parquet(sub)  # tb= partition col survives
        # the removed documents' exact contributions to this segment's
        # stats row: one (doc, dl) pair per doc (dl is constant per doc)
        rm = (
            seg.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n_rm"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_rm"),
            )
            .head()
        )
        swap_store(
            sub,
            seg.filter(~F.col("doc_id").isin(ids))
            .write.partitionBy("tb")
            .mode("overwrite")
            .parquet,
        )

        ssub = os.path.join(sroot, f"ingest={g}")
        st = spark.read.parquet(ssub).head()
        swap_store(
            ssub,
            local_frame(
                spark,
                [(int(st["n_docs"]) - int(rm["n_rm"]),
                  int(st["sum_dl"]) - int(rm["dl_rm"]))],
                TEXT_INDEX_STATS_SCHEMA,
            ).coalesce(1).write.mode("overwrite").parquet,
        )
    return index_dir


def build_band_index(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> str:
    """Materialize the incremental-dedup band index as a MAINTENANCE job
    (the d2o serving contract, same build/serve split as
    ``build_ivf_index``): the base corpus's LSH band rows + verification
    token sets, written once at ingest so every future increment is
    deduped at |increment| cost — the base is never re-read, re-tokenized
    or re-MinHashed. Probe with
    ``operators.llm_dedup.incremental_dedup_probe``; bit parity with the
    inline d2o is asserted by tests/test_incremental_index.py."""
    from ..operators.llm_dedup import write_band_index

    return write_band_index(spark, sf_dir, out_dir)


def build_quality_model(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the trained d5z quality classifier as a MAINTENANCE
    job (the fourth build/serve split, alongside the band index, the BPE
    vocab and the IVF index): fixed-round GD runs ONCE at ingest on the
    bounded labeled sample; every future scoring pass reads the NF+1
    weight integers and runs the identical map-only codegen plan with
    zero training collects. Serve with
    ``operators.llm_quality.score_with_model``; bit parity with the
    inline d5z path is asserted by tests/test_quality_classifier.py."""
    from ..operators.llm_quality import write_quality_model

    return write_quality_model(spark, sf_dir, out_dir)


def stream_ivf_index(
    spark: SparkSession,
    stream_src_dir: str,
    out_dir: str,
    sf_dir: str,
    schema: str = "vec_id long, embedding array<float>, label int",
) -> str:
    """Maintain the IVF ANN index on a LIVE embedding ingest stream — the
    last of the four durable artifacts to get streaming upkeep (band
    index: c14; manifest: c15; classifier serving: c16): a foreachBatch
    sink assigns each arriving micro-batch of vectors against the FROZEN
    coarse-quantizer codebook (production IVF appends under a fixed
    quantizer and retrains offline — the bootstrap build owns the
    codebook), computes norms + PQ codes with the same expressions as
    ``write_ivf_index``, and APPENDS into the bucket-partitioned index
    layout. Every index row derives from exactly one vector, so per-batch
    append commutes and the streamed index is row-set-identical to the
    one-shot batch build (asserted by tests/test_incremental_index.py) —
    bootstrap in batch, maintain on the stream, same serving reads.
    Per-batch cost = |batch| assignment/encode + one append; the base is
    never re-read or re-encoded. Returns ``out_dir``."""
    from pyspark.sql import functions as F

    from ..functions.vectors import as_double, l2_norm
    from ..operators.llm_similarity import (
        _codebook,
        _with_centroid_bucket,
        _with_pq_codes,
    )

    cb = _codebook(spark, sf_dir)

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        ve = as_double(F.col("embedding"))
        (
            _with_pq_codes(
                _with_centroid_bucket(
                    batch_df.select(
                        "vec_id", ve.alias("ve"), l2_norm(ve).alias("nrm"), "label"
                    ),
                    cb,
                ),
                cb,
            )
            .withColumn("bucket", F.col("bucket").cast("long"))
            .select("vec_id", "ve", "nrm", "code", "label", "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(out_dir)
        )

    foreach_batch(file_stream(spark, schema, stream_src_dir), maintain)
    return out_dir


def forget_documents(
    spark: SparkSession, index_dir: str, doc_ids: list[int]
) -> str:
    """Right-to-be-forgotten propagation into the dedup serving artifact
    (GDPR/CCPA erasure is a pipeline REQUIREMENT, not a nicety — the
    corpus delete must reach every derived index or the deleted text
    keeps influencing dedup verdicts through its band rows and token
    sets): rewrite ``index_dir/bands`` and ``index_dir/toks`` without the
    given doc_ids through ``swap_store``. Every index row carries its
    doc_id, so erasure is an exact row filter and the result is
    BYTE-EQUIVALENT in content to an index built without the documents
    (row-set parity asserted by tests/test_incremental_index.py) — the
    strongest erasure guarantee an index can give.

    Scale: one filtered scan + rewrite per store, cost = index size, not
    corpus size; the forget list ships as a broadcastable literal (bulk
    erasure batches thousands of ids per pass, amortizing the rewrite
    exactly like tombstone compaction does)."""
    from pyspark.sql import functions as F

    ids = [int(i) for i in doc_ids]
    for store in ("bands", "toks"):
        src = os.path.join(index_dir, store)
        _recover_store_swap(src)
        if os.path.isdir(src):
            swap_store(
                src,
                spark.read.parquet(src)
                .filter(~F.col("doc_id").isin(ids))
                .write.mode("overwrite")
                .parquet,
            )
    return index_dir


def forget_vectors(
    spark: SparkSession, index_dir: str, vec_ids: list[int]
) -> str:
    """Erasure propagation into the ANN serving artifact (the
    ``forget_documents`` guarantee for vectors): rewrite the IVF index
    without the given vec_ids, preserving the bucket-partitioned layout
    (probes keep their partition pruning), through ``swap_store``.
    Row-set-identical to an index built with the vectors never present
    (tests/test_incremental_index.py). After the on-disk swap the
    RAM-resident serving state is evicted too
    (``invalidate_index_caches``): without the eviction a live session's
    cached index DataFrame and the kNN graph built on it keep serving
    pre-erasure rows, so probes could still cite forgotten vec_ids.
    Cost = index size; the bucket layout means a future optimization
    could rewrite ONLY the buckets containing the forgotten ids — at
    100 TB with k ≈ 50k buckets, erasure touches 1/k of the index per
    distinct bucket hit."""
    from pyspark.sql import functions as F

    from ..operators.llm_similarity import (
        _IVF_INDEX_SCHEMA,
        invalidate_index_caches,
    )

    ids = [int(i) for i in vec_ids]
    _recover_store_swap(index_dir)
    swap_store(
        index_dir,
        spark.read.schema(_IVF_INDEX_SCHEMA)
        .parquet(index_dir)
        .filter(~F.col("vec_id").isin(ids))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet,
    )
    invalidate_index_caches(index_dir)
    return index_dir


def erasure_audit(
    spark: SparkSession,
    sf_dir: str,
    doc_ids: list[int],
    rebuild: dict | None = None,
):
    """Erasure accountability for the AGGREGATE artifacts.
    ``forget_documents``/``forget_vectors`` give row-keyed
    indexes an exact erasure; the BPE vocab and the quality-classifier
    model are aggregates a deleted doc may have INFLUENCED — true
    machine-unlearning is out of scope, but a pipeline must at least
    KNOW, and the only honest erasure for an aggregate is a retrain
    without the forgotten rows.

    One bounded scan (a single conditional aggregate over the forgotten
    ids — collect of exactly 1 row) reports, per artifact, how many of
    the forgotten docs sat in its training universe:

    - ``quality_model``: the bounded labeled subset
      (doc_id < _QC_TRAIN_MAX_ID with scoreable text — the d5z
      training filter);
    - ``bpe_vocab``: docs whose cleaned [a-z ] prefix is non-empty (the
      _bpe_char_seq universe — every such doc's pair counts feed the
      merge argmaxes).

    ``rebuild`` maps artifact name → output dir; each INFLUENCED
    artifact with a dir given is retrained with the ids excluded (the
    existing memoized build fns with ``exclude_doc_ids`` — bit-identical
    to a build on a corpus without the docs, asserted by
    tests/test_maintenance.py) and overwritten in place. Returns a
    DataFrame (artifact, n_forgotten_in_training, influenced, rebuilt).

    Scale: the audit is one filtered aggregate over the forgotten-id set
    (pushed isin filter — |ids| rows scanned, not the corpus); a rebuild
    costs what the original build cost, which is why it is gated rather
    than automatic."""
    from pyspark.sql import functions as F

    from ..catalog import table
    from ..operators.llm_quality import _QC_TRAIN_MAX_ID, write_quality_model
    from ..operators.llm_text import write_bpe_vocab

    ids = [int(i) for i in doc_ids]
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id").isin(ids))
    qc_train = (F.col("doc_id") < _QC_TRAIN_MAX_ID) & (F.length("text") >= 3)
    bpe_train = (
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "")) >= 1
    )
    row = d.agg(
        F.count(F.when(qc_train, 1)).alias("n_qc"),
        F.count(F.when(bpe_train, 1)).alias("n_bpe"),
    ).collect()[0]  # bounded: one aggregate row
    counts = {
        "quality_model": int(row["n_qc"]),
        "bpe_vocab": int(row["n_bpe"]),
    }
    builders = {
        "quality_model": write_quality_model,
        "bpe_vocab": write_bpe_vocab,
    }
    rebuild = rebuild or {}
    out = []
    for artifact, n in counts.items():
        influenced = n > 0
        target = rebuild.get(artifact)
        rebuilt = False
        if target and influenced:
            builders[artifact](spark, sf_dir, target, exclude_doc_ids=ids)
            rebuilt = True
        out.append((artifact, n, influenced, rebuilt))
    return local_frame(
        spark,
        out,
        "artifact string, n_forgotten_in_training long, "
        "influenced boolean, rebuilt boolean",
    )


def build_knn_graph(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the kNN graph as a MAINTENANCE job — the fifth
    build/serve split (band index, BPE vocab, IVF index, quality model,
    now the D54 graph): adjacency + per-bucket entry points written once
    at ingest, served read-only by `operators.llm_similarity
    .serve_knn_graph` into the same beam search the inline path runs
    (bit parity asserted by tests/test_graph_ann.py)."""
    from ..operators.llm_similarity import write_knn_graph

    return write_knn_graph(spark, sf_dir, out_dir)


def forget_graph_nodes(
    spark: SparkSession, graph_dir: str, vec_ids: list[int]
) -> str:
    """Erasure for the DURABLE graph artifact — the HNSW/JVector
    tombstone posture, stated honestly: edges touching the forgotten ids
    are removed (the vectors become unreachable and can never be
    returned by a beam search over this graph), and entry points whose
    representative was forgotten are dropped (`_beam_search` degrades to
    the next-preferred populated bucket by construction). What this is
    NOT: a graph rebuilt without the vectors — surviving nodes keep
    their historical neighbor SELECTION (a removed node's neighbors do
    not re-select replacement peers), exactly like a tombstoned HNSW
    segment; `build_knn_graph` is the rebuild when link quality matters.
    Both stores are replaced through ``swap_store``. Cost = graph size,
    never corpus.

    Entry re-seeding: the streamed store's entry map is a durable
    MIN-merge fed only by each batch's new vectors, so dropping a
    forgotten rep here would leave its bucket entry-less until some
    future batch happens to insert into it — degrading beam-search entry
    coverage indefinitely, not transiently. When the sibling
    ``vectors`` store exists (the stream_knn_graph layout), buckets that
    lose their rep are re-seeded with the min surviving vec_id in the
    bucket — exactly the value the min-merge would hold had the forgotten
    ids never been inserted, so the invariant is restored, not patched.
    The heal reads two pruned columns (bucket, vec_id) for the affected
    buckets only; the batch-built artifact has no vectors store and keeps
    the documented degrade-to-next-populated-bucket behavior."""
    from pyspark.sql import functions as F

    ids = [int(i) for i in vec_ids]
    edges = os.path.join(graph_dir, "edges")
    entries = os.path.join(graph_dir, "entries")
    vecs = os.path.join(graph_dir, "vectors")
    heal_parts(edges, "part=")  # a crashed upkeep's per-bucket swaps
    for store in (edges, entries):
        _recover_store_swap(store)
    # buckets losing their representative, captured BEFORE the rewrite
    # (bounded collect: the entry map is codebook-sized)
    dropped: list[int] = []
    if os.path.isdir(entries):
        dropped = [
            int(r["bucket"])
            for r in spark.read.schema("bucket long, rep long")
            .parquet(entries)
            .filter(F.col("rep").isin(ids))
            .collect()
        ]
    for store, keep in (
        (edges, ~F.col("node").isin(ids) & ~F.col("peer").isin(ids)),
        (entries, ~F.col("rep").isin(ids)),
    ):
        if not os.path.isdir(store):
            continue
        df = spark.read.parquet(store).filter(keep)
        if store is entries:
            if dropped and os.path.isdir(vecs):
                heal = (
                    spark.read.parquet(vecs)
                    .select("bucket", "vec_id")
                    .filter(
                        F.col("bucket").isin(dropped)
                        & ~F.col("vec_id").isin(ids)
                    )
                    .groupBy("bucket")
                    .agg(F.min("vec_id").alias("rep"))
                )
                df = df.select("bucket", "rep").unionByName(heal)
            df = df.coalesce(1)

        def write(tmp: str) -> None:
            w = df.write.mode("overwrite")
            if "part" in df.columns:  # node-partitioned edge layout
                w = w.partitionBy("part")
            w.parquet(tmp)
            # carry store metadata through the swap: the Spark rewrite
            # doesn't reproduce _meta.json, and losing the bucket count
            # makes a later stream batch merge new edges against a
            # guessed default layout
            meta = os.path.join(store, "_meta.json")
            if os.path.isfile(meta):
                shutil.copy(meta, os.path.join(tmp, "_meta.json"))

        swap_store(store, write)
    return graph_dir


def stream_knn_graph(
    spark: SparkSession,
    stream_src_dir: str,
    out_dir: str,
    sf_dir: str,
    schema: str,
    timeout_sec: int = 1800,
) -> str:
    """Maintain the D54 kNN graph on a LIVE vector ingest stream — the
    C14 treatment for the fifth artifact, and the insert procedure a
    real HNSW/JVector index runs: each arriving vector finds its top-M
    neighbors among the vectors present SO FAR (blocked candidates:
    frozen-coarse-quantizer bucket ∪ sign-LSH bucket — the same two
    blocks the batch build uses), links forward, pushes reverse edges,
    and the touched adjacency re-shrinks to the 2M degree bound.

    Honesty about order: incremental insertion is ARRIVAL-ORDER-DEPENDENT
    (an old node never re-selects its forward top-M against later
    arrivals except through reverse-edge shrink) — exactly like real
    HNSW, and unlike the four append-commutative artifacts this one is
    NOT row-set-identical to the batch build. What IS order-independent
    and asserted by tests/test_incremental_index.py: the node universe,
    the per-bucket entry points (min is commutative), the degree bound,
    and beam-search serving quality.

    Exactly-once: the vector store appends under batch_id-keyed subdirs
    (overwrite — the c16b recipe); the edge store is node-hash-bucketed
    (edge_bucket_count subdirs, doubling with store growth) and each
    batch re-derives ONLY the
    buckets containing its new edges' endpoints — a union+distinct+
    shrink that is bit-idempotent under replay (duplicate rows dedup
    exactly; the shrink re-picks the same top-2M), so a replayed
    micro-batch converges to the same stores.

    INCREMENTAL PREP (no O(store) per-micro-batch maintenance term is
    left): the store row count, the
    ``cnt_l``/``cnt_b`` block-count tables, and the per-bucket entry
    points are DURABLE stores merged commutatively per batch (counts
    add, entry mins min — the c15 manifest argument), and LSH signatures
    are STORED on the vector rows at the current adaptive widths instead
    of re-derived from the whole store at join time. Width changes
    (`adaptive_lsh_bits` thresholds are exponentially spaced in n)
    trigger a one-shot re-sign migration of the vector store through the
    same root-level crash-safe swap the edge-store bucket doubling uses
    — amortized O(1)/byte, exactly like the doubling. Exactly-once for
    the non-idempotent count merge comes from a ``last_batch_id``
    high-water mark swapped atomically WITH the count tables (the
    ``blocks`` store): a replayed batch whose counts already landed
    skips the delta; every other per-batch step is idempotent by
    construction (overwrite subdir, distinct+shrink, min).

    Per-batch cost: |batch| signing + the salted blocked join of the
    batch against the store + a rewrite of the touched edge buckets + a
    rewrite of the block-count tables (≈ n/TARGET_LSH_BLOCK_ROWS count
    rows — 2-3 orders below the vector store's bytes; bucket them like
    the edge store if that ever dominates) — wall + bytes reported per
    batch in ``out_dir/upkeep_stats.jsonl`` and measured flat vs store
    size in SCALE.md. The candidate JOIN still reads the store (a new
    vector must meet all prior vectors' blocks — that is the insert
    algorithm, not prep); at 100 TB that read is the signature-blocked
    equi-join itself. Serve with
    ``operators.llm_similarity.serve_knn_graph``; returns ``out_dir``."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..functions.vectors import as_double, l2_norm, sign_bits, sign_bits_range
    from ..operators.llm_similarity import (
        EDGE_STORE_BUCKETS,
        GRAPH_DEGREE,
        SCALE_LSH_BITS,
        TARGET_LSH_BLOCK_ROWS,
        adaptive_bucket_split_bits,
        adaptive_lsh_bits,
        edge_bucket_count,
        _codebook,
        _with_centroid_bucket,
        dot,
    )

    cb = _codebook(spark, sf_dir)  # frozen coarse quantizer (C14 posture)
    vec_store = os.path.join(out_dir, "vectors")
    edge_store = os.path.join(out_dir, "edges")
    entry_store = os.path.join(out_dir, "entries")
    blocks_store = os.path.join(out_dir, "blocks")

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        import json as _json
        import time as _time

        t0 = _time.monotonic()
        # Heal any crashed prior swap before reading the stores:
        # per-bucket first (the edge layout swaps part=N dirs — a
        # stranded part=N.old.<pid> is restored and the replayed batch
        # re-merges idempotently), then the root calls sweep dead-owner
        # root-level .next tmp trees and heal any legacy flat-layout,
        # vector-migration, entries, or blocks swap.
        heal_parts(edge_store, "part=")
        for s in (edge_store, vec_store, entry_store, blocks_store):
            _recover_store_swap(s)
        ve = as_double(F.col("embedding"))
        newc = _with_centroid_bucket(
            batch_df.select(
                "vec_id", ve.alias("ve"), l2_norm(ve).alias("nrm")
            ),
            cb,
        ).withColumn("bucket", F.col("bucket").cast("long"))
        nb = newc.count()  # O(batch)
        # Incremental store-size + width bookkeeping:
        # n, the block-count tables, and the last-applied batch id live in
        # the atomically-swapped `blocks` store — counts are commutative
        # sums, so exactly-once application (the high-water mark) makes
        # them equal to a full-store re-aggregation by induction.
        meta_path = os.path.join(blocks_store, "_meta.json")
        meta = None
        if os.path.isfile(meta_path):
            with open(meta_path) as fh:
                meta = _json.load(fh)
        applied = meta is not None and int(meta["last_batch_id"]) >= batch_id
        this_batch = os.path.join(vec_store, f"batch_id={batch_id}")
        if meta is not None:
            n = int(meta["n"]) if applied else int(meta["n"]) + nb
        else:
            # bootstrap (fresh stream, or a store from an older build
            # without the blocks artifact): one O(store) count here,
            # never again — excluding this batch's subdir in case a
            # crashed prior attempt already wrote it
            prior = 0
            if os.path.isdir(vec_store) and any(
                e.startswith("batch_id=") for e in os.listdir(vec_store)
            ):
                prior = (
                    spark.read.parquet(vec_store)
                    .filter(F.col("batch_id") != batch_id)
                    .count()
                )
            n = prior + nb
        bits = adaptive_lsh_bits(n)
        bits2 = adaptive_bucket_split_bits(n)

        def signed(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "lsh", sign_bits(F.col("ve"), bits)
            ).withColumn(
                "lsh2",
                sign_bits_range(F.col("ve"), SCALE_LSH_BITS + 1, bits2),
            )

        # Signatures are STORED on the vector rows at the current widths
        # (the join does not re-sign the whole store per batch).
        # When the adaptive widths cross a threshold (exponentially
        # spaced in n), the store migrates ONCE through the root-level
        # crash-safe swap — the same amortized-O(1)/byte argument as the
        # edge-store bucket doubling. `rebuild` also covers bootstrap
        # from an older build's store whose rows carry no signature
        # columns.
        rebuild = meta is None or (
            int(meta["bits"]) != bits or int(meta["bits2"]) != bits2
        )
        has_prior_vecs = os.path.isdir(vec_store) and any(
            e.startswith("batch_id=") and e != f"batch_id={batch_id}"
            for e in os.listdir(vec_store)
        )
        if rebuild and has_prior_vecs:
            allv = spark.read.parquet(vec_store)
            allv = allv.select(
                *[c for c in allv.columns if c not in ("lsh", "lsh2")]
            )
            # sortWithinPartitions(lsh): parquet row-group min/max stats
            # on a SORTED signature column make the per-batch In-filter
            # below skip row groups wholesale — the signature-pruned
            # scan that keeps the candidate join sub-linear in store size
            swap_store(
                vec_store,
                signed(allv)
                .sortWithinPartitions("lsh")
                .write.partitionBy("batch_id")
                .mode("overwrite")
                .parquet,
            )
        bnew = signed(newc)
        bnew.sortWithinPartitions("lsh").write.mode("overwrite").parquet(
            this_batch
        )
        sstore = spark.read.parquet(vec_store).drop("batch_id")
        # Block-count tables for the salting: full re-aggregation ONLY on
        # width migration/bootstrap; otherwise the durable tables merged
        # with the batch's O(batch) deltas (or read as-is on a replay
        # whose counts already landed). The batch subdir was written
        # above, so every batch row's signature has a count row — same
        # contract as the old full-store groupBy.
        cl_schema = "lsh string, c_l long"
        cb_schema = "bucket long, lsh2 string, c_b long"
        cl_path = os.path.join(blocks_store, "cnt_l")
        cb_path = os.path.join(blocks_store, "cnt_b")
        if rebuild:
            cnt_l = sstore.groupBy("lsh").agg(F.count(F.lit(1)).alias("c_l"))
            cnt_b = sstore.groupBy("bucket", "lsh2").agg(
                F.count(F.lit(1)).alias("c_b")
            )
        else:
            cnt_l = spark.read.schema(cl_schema).parquet(cl_path)
            cnt_b = spark.read.schema(cb_schema).parquet(cb_path)
            if not applied:
                d_l = bnew.groupBy("lsh").agg(F.count(F.lit(1)).alias("c_l"))
                d_b = bnew.groupBy("bucket", "lsh2").agg(
                    F.count(F.lit(1)).alias("c_b")
                )
                cnt_l = (
                    cnt_l.unionAll(d_l)
                    .groupBy("lsh")
                    .agg(F.sum("c_l").alias("c_l"))
                )
                cnt_b = (
                    cnt_b.unionAll(d_b)
                    .groupBy("bucket", "lsh2")
                    .agg(F.sum("c_b").alias("c_b"))
                )
        t = float(TARGET_LSH_BLOCK_ROWS)

        def salted(df: DataFrame) -> DataFrame:
            # count tables BROADCAST: they are block-count
            # dictionaries (~n/TARGET rows — KBs at demo scale, 2-3
            # orders below the store), and joining them by shuffle
            # re-shuffled the whole 200k-row vector store per batch —
            # measured as the dominant small-batch wall term at 100×
            return (
                df.join(F.broadcast(cnt_l), "lsh")
                .join(F.broadcast(cnt_b), ["bucket", "lsh2"])
                .withColumn(
                    "salt_l",
                    F.pmod(
                        F.col("vec_id"),
                        F.floor((F.col("c_l") + (t - 1)) / t),
                    ).cast("long"),
                )
                .withColumn(
                    "salt_b",
                    F.pmod(
                        F.col("vec_id"),
                        F.floor((F.col("c_b") + (t - 1)) / t),
                    ).cast("long"),
                )
                .drop("c_l", "c_b")
            )

        # A steady-state micro-batch is tiny against the store: BROADCAST
        # the batch side so the store streams through a broadcast-hash
        # join — one scan, zero store shuffle. The bootstrap/bulk batch
        # (or a replayed one) can be store-sized, so the hint is gated on
        # |batch|: past the threshold both sides shuffle on the block
        # keys exactly like the batch build. Measured
        # at 100×: the un-hinted plan shuffled the 200k-row store per
        # small batch and cost 207-226 s/batch; see SCALE.md.
        asalted = salted(bnew)
        b_ivf_src, b_lsh_src = sstore, sstore
        if nb <= 10_000:
            asalted = F.broadcast(asalted)
            # Signature-pruned store scan: only store rows sharing
            # a block with the batch can pair, so push the batch's
            # DISTINCT signature sets (≤|batch| literals — the bounded
            # collect is the touched-bucket posture) into the scan as
            # In-filters. Files are sorted by lsh (writes above), so the
            # lsh In-filter skips row groups via min/max stats — the
            # scan reads the batch's neighborhood, not the store.
            keys = bnew.select("lsh", "lsh2").distinct().collect()
            b_lsh_src = sstore.filter(
                F.col("lsh").isin([r["lsh"] for r in keys])
            )
            b_ivf_src = sstore.filter(
                F.col("lsh2").isin(sorted({r["lsh2"] for r in keys}))
            )
        a = asalted.alias("a")
        b_ivf = salted(b_ivf_src).alias("b")
        b_lsh = salted(b_lsh_src).alias("b")
        sim = dot(F.col("a.ve"), F.col("b.ve")) / (F.col("a.nrm") * F.col("b.nrm"))
        sel = [
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            sim.alias("sim"),
        ]
        p_ivf = a.join(
            b_ivf,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.lsh2") == F.col("b.lsh2"))
            & (F.col("a.salt_b") == F.col("b.salt_b"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(*sel)
        p_lsh = a.join(
            b_lsh,
            (F.col("a.lsh") == F.col("b.lsh"))
            & (F.col("a.salt_l") == F.col("b.salt_l"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(*sel)
        pairs = p_ivf.unionAll(p_lsh).distinct()
        w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
        # localCheckpoint: new_edges feeds THREE consumers (the
        # touched-part collect, the undirected union, the merge write) —
        # uncheckpointed, each action re-ran the whole candidate join
        new_edges = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= GRAPH_DEGREE)
            .select("src", "dst", "sim")
            .localCheckpoint(eager=True)
        )
        # Bucket-count management: B floors at EDGE_STORE_BUCKETS and
        # doubles as the store grows (edge_bucket_count) — constant
        # bucket SIZE is what keeps per-batch rewrite bytes proportional
        # to the batch, not `(touched/B) × store`. A doubling migrates
        # the whole layout once via the root-level crash-safe swap
        # (amortized O(1) per byte); _meta.json travels inside the store
        # dir so layout + bucket count swap atomically. When the meta
        # file is missing but part= dirs exist (an erasure rewrite from
        # an older build dropped it), the count CANNOT be inferred
        # soundly from the layout: partitionBy
        # skips empty buckets, and an erasure that emptied the top half
        # of the ladder leaves a store indistinguishable — even by
        # hashing sampled nodes against their dirs — from one genuinely
        # written at the next-smaller count (every surviving part id p <
        # B/2 satisfies hash%B = p ⟹ hash%(B/2) = p). A meta-less
        # partitioned store therefore takes the one-shot full re-bucket
        # below, which reads every part= dir via partition discovery
        # (correct whatever count wrote them) and re-pins _meta.json —
        # O(store) once, never again.
        edge_meta_path = os.path.join(edge_store, "_meta.json")
        part_dirs = live_parts(edge_store, "part=")
        flat_files = glob.glob(os.path.join(edge_store, "*.parquet"))
        b_cur = EDGE_STORE_BUCKETS
        metaless_parts = False
        if os.path.isfile(edge_meta_path):
            with open(edge_meta_path) as fh:
                b_cur = int(_json.load(fh)["buckets"])
        elif part_dirs:
            metaless_parts = True
        b_want = edge_bucket_count(n)
        has_edge_data = bool(part_dirs or flat_files)
        # A legacy FLAT store always migrates wholesale to the
        # partitioned layout (continuing it by writing part= subdirs NEXT
        # TO the root-level files leaves a mixed directory Spark's
        # partition discovery rejects on the next read). Mixed state from
        # an older crashed continuation is read side-by-side and unioned.
        if has_edge_data and (b_want != b_cur or flat_files or metaless_parts):
            if part_dirs and flat_files:
                allprev = (
                    spark.read.schema(
                        "node long, peer long, sim double, part int"
                    )
                    .parquet(*[os.path.join(edge_store, p) for p in part_dirs])
                    .select("node", "peer", "sim")
                    .unionAll(
                        spark.read.schema("node long, peer long, sim double")
                        .parquet(*flat_files)
                        .select("node", "peer", "sim")
                    )
                    .distinct()
                )
            else:
                allprev = spark.read.parquet(edge_store).select(
                    "node", "peer", "sim"
                )

            def rebucket(tmp: str) -> None:
                allprev.withColumn(
                    "part", F.pmod(F.hash("node"), F.lit(b_want))
                ).write.partitionBy("part").mode("overwrite").parquet(tmp)
                with open(os.path.join(tmp, "_meta.json"), "w") as fh:
                    _json.dump({"buckets": b_want}, fh)

            swap_store(edge_store, rebucket)
        b_cur = b_want

        und_new = (
            new_edges.select(
                F.col("src").alias("node"), F.col("dst").alias("peer"), "sim"
            )
            .unionAll(
                new_edges.select(
                    F.col("dst").alias("node"), F.col("src").alias("peer"), "sim"
                )
            )
            .withColumn("part", F.pmod(F.hash("node"), F.lit(b_cur)))
        )
        # NODE-PARTITIONED SELECTIVE REWRITE: the edge store is
        # hash-bucketed by node into b_cur subdirs; a batch
        # touches only the buckets holding its new edges' endpoints, so
        # ONLY those are read back (partition-pruned), re-shrunk, and
        # swapped — untouched buckets are never opened and per-batch
        # rewrite bytes scale with the batch's neighborhood, not the
        # graph (measured in SCALE.md). The bounded collect is ≤B part
        # ids. Replay-idempotent: re-merging a batch into an
        # already-merged bucket unions duplicate rows that distinct()
        # removes bit-exactly, and the shrink re-picks the same top-2M.
        touched = sorted(
            r["part"] for r in und_new.select("part").distinct().collect()
        )
        merge_src = und_new
        # Always the partitioned layout here: a legacy flat store was
        # migrated wholesale above (continuing it in place left a mixed
        # flat+partitioned directory). The read lists
        # ONLY the touched buckets' paths (basePath keeps the part
        # column): pointing Spark at the store root made it file-index
        # all B part= dirs before pruning — an O(B) driver listing per
        # batch, the larger half of the 100× merge cost. Explicit
        # schema: an all-empty-batch stream can leave dirs empty, and a
        # schema-less read fails analysis (empty-corpus contract).
        touched_paths = [
            os.path.join(edge_store, f"part={p}")
            for p in touched
            if os.path.isdir(os.path.join(edge_store, f"part={p}"))
        ]
        if touched_paths:
            prev = (
                spark.read.schema("node long, peer long, sim double, part int")
                .option("basePath", edge_store)
                .parquet(*touched_paths)
            )
            merge_src = prev.select(*und_new.columns).unionAll(und_new)
        wn = Window.partitionBy("node").orderBy(F.desc("sim"), F.asc("peer"))
        merged = (
            merge_src.distinct()
            .withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") <= 2 * GRAPH_DEGREE)
            .select("node", "peer", "sim", "part")
        )
        # Crash-safe per-bucket swap: sibling-write the touched buckets,
        # then `promote` each one. A crash mid-loop strands at most
        # single buckets as part=N.old.<pid>, healed by heal_parts at the
        # top of maintain(); a replayed batch then re-merges
        # idempotently (see above).
        tmp = f"{edge_store}{_NEXT}{os.getpid()}"
        merged.write.partitionBy("part").mode("overwrite").parquet(tmp)
        os.makedirs(edge_store, exist_ok=True)
        rewritten = 0
        for p in touched:
            srcp = os.path.join(tmp, f"part={p}")
            if not os.path.isdir(srcp):
                continue
            rewritten += sum(
                os.path.getsize(f)
                for f in glob.glob(os.path.join(srcp, "*.parquet"))
            )
            promote(srcp, os.path.join(edge_store, f"part={p}"))
        shutil.rmtree(tmp, ignore_errors=True)
        # pin the bucket count after every per-bucket swap: a fresh
        # store, or one whose meta an older erasure dropped, gets the
        # authoritative count written here so later batches and erasures
        # never guess the layout
        with open(edge_meta_path, "w") as fh:
            _json.dump({"buckets": int(b_cur)}, fh)
        total_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(
                os.path.join(edge_store, "part=*", "*.parquet")
            )
        )
        # Per-bucket entry points: commutative MIN-merge of the batch's
        # bucket minima into the durable store (idempotent — min
        # reapplied is min), O(batch) + the ≤codebook-sized old table;
        # the old code re-grouped the whole vector store every batch.
        ent_new = bnew.groupBy("bucket").agg(F.min("vec_id").alias("rep"))
        if os.path.isdir(entry_store):
            ent_new = (
                spark.read.schema("bucket long, rep long")
                .parquet(entry_store)
                .unionAll(ent_new.select("bucket", "rep"))
                .groupBy("bucket")
                .agg(F.min("rep").alias("rep"))
            )
        swap_store(entry_store, ent_new.coalesce(1).write.mode("overwrite").parquet)
        # Durable block-count tables + {n, widths, high-water mark}: one
        # atomic root swap makes the count merge exactly-once (a replay
        # whose counts already landed skipped the delta above and skips
        # the swap here).
        agg_bytes = 0
        if not applied:

            def write_blocks(tmp: str) -> None:
                cnt_l.write.mode("overwrite").parquet(os.path.join(tmp, "cnt_l"))
                cnt_b.write.mode("overwrite").parquet(os.path.join(tmp, "cnt_b"))
                with open(os.path.join(tmp, "_meta.json"), "w") as fh:
                    _json.dump(
                        {
                            "n": int(n),
                            "bits": int(bits),
                            "bits2": int(bits2),
                            "last_batch_id": int(batch_id),
                        },
                        fh,
                    )

            swap_store(blocks_store, write_blocks)
            agg_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(blocks_store)
                for f in fs
            )
        with open(os.path.join(out_dir, "upkeep_stats.jsonl"), "a") as fh:
            fh.write(
                _json.dumps(
                    {
                        "batch_id": batch_id,
                        "touched_buckets": len(touched),
                        "total_buckets": b_cur,
                        "rewritten_bytes": rewritten,
                        "store_bytes": total_bytes,
                        "agg_bytes": agg_bytes,
                        "n": int(n),
                        "prep": (
                            "replay"
                            if applied
                            else ("rebuild" if rebuild else "incremental")
                        ),
                        "wall_sec": round(_time.monotonic() - t0, 3),
                    }
                )
                + "\n"
            )

    foreach_batch(file_stream(spark, schema, stream_src_dir), maintain, timeout_sec)
    return out_dir
