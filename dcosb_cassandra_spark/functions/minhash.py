"""Hand-rolled MinHash over md5 hex strings (SURVEY.md §2 D2).

Design: the k hash functions are ``md5(seed || ':' || token)`` and the
minhash is the lexicographic MIN of the hex digests per document. md5 is
available and bit-identical in Spark AND DuckDB, so the whole pipeline —
signatures, LSH bands, candidate pairs — is oracle-checkable SQL on both
engines (SURVEY D2: "hand-rolled minhash — pure SQL-expressible").

Scale: tokenize→explode→k min-aggregates is one shuffle on doc_id with full
map-side partial mins; banding turns all-pairs similarity into an equi-join
on (band_idx, band_hash) — the standard LSH trick that replaces the O(n²)
cross join with hash-partitioned buckets. The LSH family's one size gate
(`maybe_broadcast`) and one band probe (`band_rows` + `band_pairs`) live
here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Demo config used by the oracle-checked queries: k=8 hashes in 4 bands of
#: r=2 keeps the SQL twin short and the tiny-corpus buckets dense.
DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = num_hashes // bands

#: size cap for CONDITIONAL broadcast hints on corpus-scaled sides (band
#: rows, per-doc token arrays, the per-vocab hash map). Catalyst's own size
#: estimate decides; above the cap the frame is left unhinted and the
#: planner shuffles on the equi keys.
BROADCAST_FALLBACK_BYTES = 64 << 20


def tokens_of(text: Column) -> Column:
    """Distinct word-token set (the shingle set for Jaccard)."""
    return F.array_distinct(F.split(text, " "))


def seeded_hash(token: Column, seed: int) -> Column:
    return F.md5(F.concat(F.lit(f"{seed}:"), token))


def _size_estimate(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate — the statistic the
    planner's own broadcast decision reads. Private `_jdf` handle: not
    available under Spark Connect."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Size-conditional broadcast hint. An explicit `F.broadcast` cannot be
    demoted by AQE, so hinting a side that scales with the corpus is a
    deferred OOM — at ~10⁷ docs the band rows / token arrays outgrow
    executor memory. Hints only while the side's estimate fits
    `BROADCAST_FALLBACK_BYTES`; past it, the join degrades to the shuffle
    equi-join shape (tests/test_dedup_semantics.py forces the fallback
    and asserts result parity + hint absence)."""
    if _size_estimate(df) <= BROADCAST_FALLBACK_BYTES:
        return F.broadcast(df)
    return df


def minhash_signature(docs: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """(id, mh0..mh{k-1}) — per-doc minhash signature.

    The k seeded md5s depend only on the token, so when the corpus
    VOCABULARY is small the k·|doc-token rows| md5 calls collapse to
    k·|vocab| (guide §1.2 per-task work: measured 3750× token
    repetition across docs at sf0.1, sig stage 0.65 → 0.45 s): hash the
    distinct tokens once and broadcast-join the map back — the distinct
    is map-side partial (each task emits its local vocab), and
    ``min(md5)`` over the joined rows is bit-identical to the inline
    form because identical per-doc token sets meet identical hashes.
    The branch is the `maybe_broadcast` gate on the map: a web-scale
    vocabulary blows the estimate past `BROADCAST_FALLBACK_BYTES` and
    the plan keeps the inline shape — zero extra shuffles, full map-side
    partial mins. The never-taken third shape (shuffle-joining tokens to
    the map) is deliberately not expressed: joining by token keys the
    shuffle on the corpus's hottest words. The estimate costs a full
    optimize pass, so it is memoized per (appId, id(docs), text column,
    k), pinned to ``docs``."""
    from ..session import plan_memo

    toks = docs.select(id_col, F.explode(tokens_of(F.col(text_col))).alias("token"))
    # groupBy (not .distinct()) so the boundedness is visible to the plan
    # audit as an Aggregate; the hashes are PROJECTED above the aggregate —
    # one md5 per distinct token, never per row (a min(md5) aggregate would
    # evaluate md5 per input row map-side, defeating the rewrite).
    hmap = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_tok_n")).select(
        "token", *[seeded_hash(F.col("token"), i).alias(f"h{i}") for i in range(k)]
    )
    est = plan_memo(
        "vocab_hash_est",
        (docs.sparkSession.sparkContext.applicationId, id(docs), text_col, k),
        lambda: _size_estimate(hmap),
        pin=docs,
    )
    if est <= BROADCAST_FALLBACK_BYTES:
        return toks.join(F.broadcast(hmap), "token").groupBy(id_col).agg(
            *[F.min(f"h{i}").alias(f"mh{i}") for i in range(k)]
        )
    return toks.groupBy(id_col).agg(
        *[F.min(seeded_hash(F.col("token"), i)).alias(f"mh{i}") for i in range(k)]
    )


def band_rows(d: DataFrame) -> DataFrame:
    """(doc_id, bh0..bh3, band_idx, band_hash) — the MinHash signature of
    a (doc_id, text) frame cut into DEFAULT_BANDS bands, one row per band;
    docs sharing any (band_idx, band_hash) are candidate near-duplicates.
    Each row also carries ALL of the doc's band hashes as scalar columns,
    which is what lets `band_pairs` dedup pairs without a DISTINCT."""
    r = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    sigs = minhash_signature(d, "doc_id", "text", DEFAULT_NUM_HASHES)
    bh_names = [f"bh{b}" for b in range(DEFAULT_BANDS)]
    keyed = sigs.select(
        "doc_id",
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)])).alias(name)
            for b, name in enumerate(bh_names)
        ],
    )
    entries = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(name).alias("band_hash"))
            for b, name in enumerate(bh_names)
        ]
    )
    return keyed.select("doc_id", *bh_names, F.explode(entries).alias("e")).select(
        "doc_id",
        *bh_names,
        F.col("e.band_idx").alias("band_idx"),
        F.col("e.band_hash").alias("band_hash"),
    )


def _first_collision_only() -> Column:
    """True when the a/b pair ALREADY collided in an earlier band than
    a.band_idx — i.e. this row is a duplicate enumeration and must be
    dropped."""
    cond = F.lit(False)
    for j in range(DEFAULT_BANDS - 1):
        cond = cond | ((F.col("a.band_idx") > j) & (F.col(f"a.bh{j}") == F.col(f"b.bh{j}")))
    return cond


def band_pairs(probe: DataFrame, build: DataFrame, keep: Column) -> DataFrame:
    """(id_a, id_b): the LSH band probe — every `band_rows` row of
    ``probe`` (aliased ``a``) equi-joined on (band_idx, band_hash) to
    ``build`` (aliased ``b``) under the pair predicate ``keep``, each
    pair emitted once.

    Pair-stream shape (the part that dominates on clustered corpora, where
    a dup cluster of m docs emits ~m²/2 pairs per colliding band):
    - NO DISTINCT. A pair survives only in its FIRST colliding band — a
      short chain of whole-stage-codegen'd scalar string equalities over
      the carried band hashes replaces a full shuffle of the enumerated
      pair stream.
    - The probe is repartitioned round-robin (`spread_width`) BEFORE
      enumeration: a corpus arriving as one input split would otherwise
      enumerate the dominant bucket's pairs in one task (measured
      24 s → 6 s on local[32]).
    - The build side goes through `maybe_broadcast`; past the cap the
      same plan runs as a shuffle equi-join and the first-collision
      dedup still holds."""
    from ..session import spread_width

    a = probe.repartition(spread_width(probe.sparkSession)).alias("a")
    b = build.alias("b")
    return (
        a.join(
            maybe_broadcast(b),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & keep,
        )
        .filter(~_first_collision_only())
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )


def minhash_oracle_sql(k: int = DEFAULT_NUM_HASHES) -> str:
    """DuckDB twin of minhash_signature over `documents` (doc_id, text)."""
    mins = ",\n               ".join(
        f"min(md5('{i}:' || token)) AS mh{i}" for i in range(k)
    )
    return f"""
        SELECT doc_id, {mins}
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
              FROM documents)
        GROUP BY doc_id
    """
