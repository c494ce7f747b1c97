"""Hand-rolled MinHash over md5 hex strings (SURVEY.md §2 D2).

Design: the k hash functions are ``md5(seed || ':' || token)`` and the
minhash is the lexicographic MIN of the hex digests per document. md5 is
available and bit-identical in Spark AND DuckDB, so the whole pipeline —
signatures, LSH bands, candidate pairs — is oracle-checkable SQL on both
engines (SURVEY D2: "hand-rolled minhash — pure SQL-expressible").

Scale: tokenize→explode→k min-aggregates is one shuffle on doc_id with full
map-side partial mins; banding turns all-pairs similarity into an equi-join
on (band_idx, band_hash) — the standard LSH trick that replaces the O(n²)
cross join with hash-partitioned buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Demo config used by the oracle-checked queries: k=8 hashes in 4 bands of
#: r=2 keeps the SQL twin short and the tiny-corpus buckets dense.
DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = num_hashes // bands

#: 100 TB config (the knobs both functions accept): k=128 hashes in 32
#: bands of r=4 — band-collision probability 1-(1-J⁴)³² crosses 0.5 near
#: J≈0.35 and reaches ≥0.996 at J≥0.7, while r=4 suppresses the spurious-
#: candidate rate that r=2 admits on web-scale corpora. The k=16/b=8
#: midpoint is recall-tested in tests/test_dedup_semantics.py.
SCALE_NUM_HASHES = 128
SCALE_BANDS = 32


def tokens_of(text: Column) -> Column:
    """Distinct word-token set (the shingle set for Jaccard)."""
    return F.array_distinct(F.split(text, " "))


def seeded_hash(token: Column, seed: int) -> Column:
    return F.md5(F.concat(F.lit(f"{seed}:"), token))


#: size cap for broadcasting the per-vocab seeded-hash map in
#: `minhash_signature` (mirrors llm_dedup.BROADCAST_FALLBACK_BYTES;
#: duplicated because functions/ must not import operators/). Past the
#: cap the signature falls back to inline per-row md5 — NOT a shuffle
#: join on token, which would funnel every occurrence of a hot token
#: through one task (the banned skew shape).
VOCAB_HASH_BROADCAST_BYTES = 64 << 20


def minhash_signature(docs: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """(id, mh0..mh{k-1}) — per-doc minhash signature.

    The k seeded md5s depend only on the token, so when the corpus
    VOCABULARY is small the k·|doc-token rows| md5 calls collapse to
    k·|vocab| (r15, guide §1.2 per-task work: measured 3750× token
    repetition across docs at sf0.1, sig stage 0.65 → 0.45 s): hash the
    distinct tokens once and broadcast-join the map back — the distinct
    is map-side partial (each task emits its local vocab), and
    ``min(md5)`` over the joined rows is bit-identical to the inline
    form because identical per-doc token sets meet identical hashes.
    The branch is size-conditional on Catalyst's own estimate (the
    `maybe_broadcast` contract): a web-scale vocabulary blows the
    estimate past the cap and the plan keeps TODAY'S inline shape —
    zero extra shuffles, full map-side partial mins. The never-taken
    third shape (shuffle-joining tokens to the map) is deliberately
    not expressed: joining by token keys the shuffle on the corpus's
    hottest words. The estimate costs a full optimize pass, so it is
    memoized per (appId, id(docs), text column, k), pinned to ``docs``."""
    from ..session import plan_memo

    toks = docs.select(id_col, F.explode(tokens_of(F.col(text_col))).alias("token"))
    # groupBy (not .distinct()) so the boundedness is visible to the plan
    # audit as an Aggregate; the hashes are PROJECTED above the aggregate —
    # one md5 per distinct token, never per row (a min(md5) aggregate would
    # evaluate md5 per input row map-side, defeating the rewrite).
    hmap = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_tok_n")).select(
        "token", *[seeded_hash(F.col("token"), i).alias(f"h{i}") for i in range(k)]
    )
    # private `_jdf` handle: not available under Spark Connect
    est = plan_memo(
        "vocab_hash_est",
        (docs.sparkSession.sparkContext.applicationId, id(docs), text_col, k),
        lambda: int(hmap._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()),
        pin=docs,
    )
    if est <= VOCAB_HASH_BROADCAST_BYTES:
        return toks.join(F.broadcast(hmap), "token").groupBy(id_col).agg(
            *[F.min(f"h{i}").alias(f"mh{i}") for i in range(k)]
        )
    return toks.groupBy(id_col).agg(
        *[F.min(seeded_hash(F.col("token"), i)).alias(f"mh{i}") for i in range(k)]
    )


def lsh_bands(sigs: DataFrame, id_col: str, k: int = DEFAULT_NUM_HASHES, bands: int = DEFAULT_BANDS) -> DataFrame:
    """(id, band_idx, band_hash) — one row per band; docs sharing any
    (band_idx, band_hash) are candidate near-duplicates."""
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


def lsh_bands_keyed(sigs: DataFrame, id_col: str, k: int = DEFAULT_NUM_HASHES, bands: int = DEFAULT_BANDS) -> DataFrame:
    """(id, bh0..bh{bands-1}, band_idx, band_hash) — one row per band, but
    each row also carries ALL of the doc's band hashes as scalar columns.

    That extra width is what lets the candidate join dedup pairs WITHOUT a
    distinct: a pair colliding in several bands is kept only where
    band_idx is its FIRST colliding band (``a.bh_j == b.bh_j`` for some
    j < band_idx ⇒ drop). The check is a short chain of scalar string
    equalities — whole-stage-codegen'd, zero allocation — versus a full
    shuffle of every enumerated pair for DISTINCT. On a skewed corpus the
    pair stream is the dominant volume (a dup cluster of m docs emits
    ~m²/2 pairs per colliding band), so removing its shuffle is the
    difference between one map-side pass and re-materializing the pair
    set."""
    r = k // bands
    bh = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)])).alias(f"bh{b}")
        for b in range(bands)
    ]
    keyed = sigs.select(id_col, *bh)
    entries = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"bh{b}").alias("band_hash"))
            for b in range(bands)
        ]
    )
    bh_names = [f"bh{b}" for b in range(bands)]
    return keyed.select(id_col, *bh_names, F.explode(entries).alias("e")).select(
        id_col,
        *bh_names,
        F.col("e.band_idx").alias("band_idx"),
        F.col("e.band_hash").alias("band_hash"),
    )


def first_collision_only(a_idx: Column, bands: int, eq) -> Column:
    """True when the pair ALREADY collided in an earlier band than a_idx —
    i.e. this row is a duplicate enumeration and must be dropped. ``eq(j)``
    is the caller's equality column for band j."""
    cond = F.lit(False)
    for j in range(bands - 1):
        cond = cond | ((a_idx > j) & eq(j))
    return cond


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
