"""Corpus-level curation operators (SURVEY.md §2 D16-D17): exact-substring
window dedup and iterative Lloyd k-means clustering — the two remaining
pipeline stages between near-dup filtering (llm_dedup) and batch assembly
(llm_packing).

D16 approximates the suffix-array exact-substring dedup of "Deduplicating
Training Data Makes Language Models Better" (Lee et al., 2021 [PK]) with
hashed sliding token windows: a K-token window occurring in two documents
is exactly a duplicated K-token substring. md5 window hashes are
bit-identical Spark<->DuckDB so the whole pipeline is oracle-checked.

D17 shows the iterative-algorithm shape (k-means is the SemDeDup /
IVF-codebook-training primitive): a driver-side loop over a fixed number of
Lloyd rounds where each round is one broadcast-join assignment plus one
64-column aggregate. With the iteration count fixed and centroids quantized
to 9 decimals per round, the whole trajectory unrolls into a DuckDB CTE
chain — a normally rows-only algorithm made hash-checkable.

Scale notes (100 TB):
- D16's window table is ~one row per corpus token — the same blow-up the
  suffix array itself costs. Everything after tokenization carries only
  (doc_id, 32-byte digest); the dup-hash aggregate and the flag-back join
  both hash-partition on the digest (uniform by construction — no skew).
  Production swaps md5 for xxhash64 (8 bytes) and drops the join-back by
  windowed `count(*) over (partition by whash)` when per-window flags are
  not needed downstream.
- D17 never shuffles the corpus: each round broadcasts k centroids (k x 64
  doubles), the assignment is a map-side cross join + per-row argmin, and
  the re-centering aggregate moves k x 64 partial sums per partition. For
  many rounds, localCheckpoint the assignment every ~10 iterations to
  truncate lineage (same recipe as llm_dedup.d2f_dup_clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions.vectors import as_double, squared_l2_distance
from ..registry import query
from ..session import local_frame

#: tokens per dedup window — demo-sized so the synthetic corpus (docs repeat
#: sentence fragments) yields non-trivial dup rates; Lee et al. use 50.
WINDOW_K = 8


def window_hashes(docs: DataFrame, k: int = WINDOW_K) -> DataFrame:
    """(doc_id, source, whash): xxhash64 of every k-token sliding window.
    Docs shorter than k tokens contribute no windows (nothing to match).

    r14 (guide §2.3 "narrower types / shuffle fewer bytes"): the window
    digest is xxhash64 (8-byte long) instead of md5 (32-char string) —
    the production posture this module's header always documented. Every
    consumer uses the digest only as an equality key (d16 outputs counts,
    never the hash), so the equality classes — and the oracle-checked
    counts — are unchanged up to 64-bit collisions (~n²/2⁶⁵: ~3e-8 at
    the sf0.1 window count, the same collision contract d2b's xxhash64
    token intersection already rides). Cuts the digest-keyed shuffle
    payload 4× and replaces two md5 rounds per window with one xxhash64."""
    d = docs.select("doc_id", "source", F.split("text", " ").alias("toks"))
    wins = F.expr(
        f"transform(sequence(1, size(toks) - {k} + 1),"
        f" i -> xxhash64(concat_ws(' ', slice(toks, i, {k}))))"
    )
    return (
        d.filter(F.size("toks") >= k)
        .select("doc_id", "source", F.explode(wins).alias("whash"))
    )


@query(
    "d16_substring_dedup",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
            WHERE len(string_split(text, ' ')) >= {WINDOW_K}
        ),
        wins AS (
            SELECT doc_id, source,
                   unnest(list_transform(generate_series(1, len(toks) - {WINDOW_K} + 1),
                          i -> md5(array_to_string(toks[i:i+{WINDOW_K - 1}], ' ')))) AS whash
            FROM t
        ),
        dup AS (SELECT whash FROM wins GROUP BY whash HAVING count(DISTINCT doc_id) >= 2)
        SELECT source,
               count(*) AS total_windows,
               count(d.whash) AS dup_windows,
               count(DISTINCT CASE WHEN d.whash IS NOT NULL THEN w.doc_id END) AS docs_with_dup,
               round(count(d.whash) * 1.0 / count(*), 6) AS dup_rate
        FROM wins w LEFT JOIN dup d ON w.whash = d.whash
        GROUP BY source
    """,
    tags=("D16", "D1", "P1"),
)
def d16_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal: hash every WINDOW_K-token sliding
    window, mark hashes seen in >=2 distinct docs, report per-source window
    counts, affected docs, and the duplicated-window rate (the fraction the
    dedup pass would cut).

    ONE digest-keyed shuffle: the dup flag is a window aggregate over the
    whash partition (SCALE.md's "windowed count" form) instead of a
    dup-aggregate + flag-back join — which would also recompute the whole
    window-hash subtree on both sides of the self-join (Spark does not
    dedupe common subplans). Measured 5x faster at sf0.1 (3.0s -> 0.6s, now under the DuckDB twin). Per-whash state
    is the distinct doc set of ONE window hash (a handful of ids)."""
    wins = window_hashes(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("whash")
    # ">=2 distinct doc_ids in the partition" ⟺ min != max — two
    # constant-state window aggregates instead of materializing a doc-id
    # SET per row (r14; noop A/B 0.402→0.378 s, and at scale the per-row
    # set allocation over a hot window hash is the term that grows)
    flagged = wins.withColumn(
        "is_dup", F.min("doc_id").over(w) != F.max("doc_id").over(w)
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_windows"),
        F.count(F.when(F.col("is_dup"), 1)).alias("dup_windows"),
        F.count_distinct(F.when(F.col("is_dup"), F.col("doc_id"))).alias(
            "docs_with_dup"
        ),
        F.round(F.count(F.when(F.col("is_dup"), 1)) / F.count(F.lit(1)), 6).alias(
            "dup_rate"
        ),
    )


#: Lloyd config: k seeds = the k smallest vec_ids (deterministic), fixed
#: round count so the trajectory is oracle-unrollable. Centroids quantize
#: to 9 decimals each round: both engines then feed EXACTLY equal centroid
#: bytes into the next round, so float-sum association (Spark left fold vs
#: DuckDB list_sum) can never compound across iterations.
KMEANS_K = 4
LLOYD_ROUNDS = 2
_DIM = 64


def _assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, dist2): nearest centroid per vector, ties to low cid.
    Broadcast k centroids; the corpus side is map-only (no shuffle)."""
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "dist2", squared_l2_distance(F.col("e"), F.col("ce"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "dist2", "e")
    )


def _recenter(assign: DataFrame) -> DataFrame:
    """(cid, ce): per-cluster component-wise mean, quantized to 9 decimals
    (see KMEANS_K note). 64 aggregate expressions — one k x 64 shuffle."""
    aggs = [
        F.round(F.avg(F.element_at(F.col("e"), i)), 9).alias(f"ax{i}")
        for i in range(1, _DIM + 1)
    ]
    return (
        assign.groupBy("cid")
        .agg(*aggs)
        .select("cid", F.array(*[F.col(f"ax{i}") for i in range(1, _DIM + 1)]).alias("ce"))
    )


def kmeans_report(spark: SparkSession, sf_dir: str, rounds: int = LLOYD_ROUNDS) -> DataFrame:
    """Lloyd k-means for a fixed number of rounds; final assignment against
    the last centroids, reported as (cluster_id, n_members, avg_dist2,
    centroid_c1)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    for _ in range(rounds):
        cent = _recenter(_assign(emb, cent))
    final = _assign(emb, cent)
    return (
        final.join(F.broadcast(cent), "cid")
        .groupBy(F.col("cid").alias("cluster_id"), F.round(F.element_at("ce", 1), 6).alias("centroid_c1"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("dist2"), 6).alias("avg_dist2"),
        )
        .select("cluster_id", "n_members", "avg_dist2", "centroid_c1")
    )


def _sql_round(n: int, prev_cent: str, prev_idx: int) -> str:
    """One unrolled Lloyd round: assignment vs ``prev_cent`` then 64-column
    re-centering, mirroring _assign/_recenter."""
    means = ", ".join(f"round(avg(e.v[{i}]), 9)" for i in range(1, _DIM + 1))
    return f"""
        s{n} AS (
            SELECT e.vec_id, c.cid,
                   list_sum(list_transform(range(1, {_DIM + 1}),
                       i -> (e.v[i] - c.ce[i]) * (e.v[i] - c.ce[i]))) AS dist2
            FROM e CROSS JOIN {prev_cent} c
        ),
        a{n} AS (
            SELECT vec_id, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist2 ASC, cid) AS rn
                FROM s{n}
            ) WHERE rn = 1
        ),
        c{prev_idx + 1} AS (
            SELECT cid, list_value({means}) AS ce
            FROM a{n} JOIN e USING (vec_id) GROUP BY cid
        )"""


def _kmeans_oracle() -> str:
    rounds = ",".join(_sql_round(n, f"c{n - 1}", n - 1) for n in range(1, LLOYD_ROUNDS + 1))
    n_fin = LLOYD_ROUNDS + 1
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS ce FROM e WHERE vec_id < {KMEANS_K}),
        {rounds},
        sf AS (
            SELECT e.vec_id, c.cid, c.ce[1] AS c1,
                   list_sum(list_transform(range(1, {_DIM + 1}),
                       i -> (e.v[i] - c.ce[i]) * (e.v[i] - c.ce[i]))) AS dist2
            FROM e CROSS JOIN c{LLOYD_ROUNDS} c
        ),
        af AS (
            SELECT vec_id, cid, c1, dist2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist2 ASC, cid) AS rn
                FROM sf
            ) WHERE rn = 1
        )
        SELECT cid AS cluster_id, count(*) AS n_members,
               round(avg(dist2), 6) AS avg_dist2,
               round(c1, 6) AS centroid_c1
        FROM af GROUP BY cid, c1
    """


@query("d17_kmeans_lloyd", oracle=_kmeans_oracle(), tags=("D17", "D4", "P2"))
def d17_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (KMEANS_K clusters, LLOYD_ROUNDS fixed rounds, seeds =
    the k smallest vec_ids): the codebook-training step behind IVF indexing
    (d4b/d11 consume exactly such centroids) and SemDeDup-style semantic
    dedup. Each round = broadcast-centroid argmin assignment (corpus never
    shuffles) + one k x 64 mean aggregate; centroids are quantized to 9
    decimals per round so the fixed-round trajectory is bit-reproducible on
    both engines and the whole iterative algorithm is hash-checked — not
    rows-only."""
    return kmeans_report(spark, sf_dir, LLOYD_ROUNDS)


@query(
    "d16b_substring_removal_plan",
    oracle=f"""
        -- Exact-substring dedup REMOVAL (window granularity): every
        -- duplicated k-window keeps its canonical occurrence (global min
        -- (doc_id, pos)) and every other occurrence's span is cut; a
        -- token goes when >=1 cut span covers it. Per-source removal
        -- accounting + a position-weighted checksum so the exact cut
        -- decisions are hash-checked, not just counts.
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
            WHERE len(string_split(text, ' ')) >= {WINDOW_K}
        ),
        wins AS (
            SELECT doc_id, source, i AS pos,
                   md5(array_to_string(toks[i:i+{WINDOW_K - 1}], ' ')) AS whash
            FROM t, unnest(generate_series(1, len(toks) - {WINDOW_K} + 1)) AS u(i)
        ),
        marked AS (
            SELECT doc_id, source, pos FROM (
                SELECT doc_id, source, pos,
                       count(DISTINCT doc_id) OVER (PARTITION BY whash) AS nd,
                       min(doc_id * 1000000 + pos) OVER (PARTITION BY whash)
                           AS canon
                FROM wins
            ) WHERE nd >= 2 AND doc_id * 1000000 + pos <> canon
        ),
        cut AS (
            SELECT DISTINCT doc_id, source, pos + o AS tokpos
            FROM marked, unnest(generate_series(0, {WINDOW_K - 1})) AS g(o)
        ),
        per_doc AS (
            SELECT doc_id, source, count(*) AS cut_toks, sum(tokpos) AS poschk
            FROM cut GROUP BY doc_id, source
        ),
        tot AS (
            SELECT source, CAST(sum(len(toks)) AS BIGINT) AS total_tokens
            FROM t GROUP BY source
        )
        SELECT tot.source,
               CAST(coalesce(count(per_doc.doc_id), 0) AS BIGINT) AS docs_cut,
               CAST(coalesce(sum(cut_toks), 0) AS BIGINT) AS tokens_removed,
               total_tokens,
               CAST(coalesce(sum(doc_id * poschk), 0) AS BIGINT) AS cut_checksum
        FROM tot LEFT JOIN per_doc ON tot.source = per_doc.source
        GROUP BY tot.source, total_tokens
    """,
    tags=("D16", "D1", "D2c", "P1"),
)
def d16b_substring_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL plan [public: Lee et al. 2021 —
    ExactSubstr deduplication removes all-but-one occurrence of repeated
    spans]: d16 detects, this op decides the cuts. Each duplicated
    k-token window keeps one canonical occurrence (the global min
    (doc_id, pos), encoded as one comparable int so min() is the argmin —
    no struct column in the shuffle) and every other occurrence marks its
    span; a token is cut when any marked span covers it (overlapping
    spans coalesce through the DISTINCT). The output is the per-source
    removal ledger (docs touched, tokens removed / total) plus a
    position-weighted checksum, so the driver hash-checks WHICH tokens
    get cut, not just how many.

    Scale: ONE whash-keyed shuffle carries both the dup flag and the
    canonical argmin (two window aggregates over the same partition —
    one exchange, the d16 lesson); the span explode is bounded by
    k x dup-window count; the DISTINCT coalesce + per-doc rollup is a
    doc-keyed shuffle of cut positions only. The actual text rewrite at
    100 TB is a map-only pass joining each doc to its (tiny) cut-position
    list — the ledger here is the expensive, verifiable half."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= WINDOW_K
    )
    wins = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {WINDOW_K} + 1),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {WINDOW_K}))))"
            )
        ).alias("p0", "whash"),
    ).select("doc_id", "source", (F.col("p0") + 1).alias("pos"), "whash")
    wh = Window.partitionBy("whash")
    occ = F.col("doc_id") * 1000000 + F.col("pos")
    marked = (
        wins.withColumn("nd", F.size(F.collect_set("doc_id").over(wh)))
        .withColumn("canon", F.min(occ).over(wh))
        .filter((F.col("nd") >= 2) & (occ != F.col("canon")))
        .select("doc_id", "source", "pos")
    )
    cut = marked.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (WINDOW_K - 1))).alias(
            "tokpos"
        ),
    ).distinct()
    per_doc = cut.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("cut_toks"), F.sum("tokpos").alias("poschk")
    )
    tot = d.groupBy("source").agg(F.sum(F.size("toks")).alias("total_tokens"))
    return (
        tot.join(per_doc, "source", "left")
        .groupBy("source", "total_tokens")
        .agg(
            F.count("doc_id").cast("long").alias("docs_cut"),
            F.coalesce(F.sum("cut_toks"), F.lit(0)).cast("long").alias(
                "tokens_removed"
            ),
            F.coalesce(F.sum(F.col("doc_id") * F.col("poschk")), F.lit(0))
            .cast("long")
            .alias("cut_checksum"),
        )
        .select(
            "source", "docs_cut", "tokens_removed", "total_tokens", "cut_checksum"
        )
    )


_KCENTER_K = 4
_D2_SQL = (
    "list_sum(list_transform(range(1, 65),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _d17b_oracle() -> str:
    d2 = _D2_SQL
    rounds = []
    for r in range(2, _KCENTER_K + 1):
        prev = f"d{r - 1}"
        rounds.append(f"""
        s{r} AS (SELECT vec_id, ve FROM {prev} ORDER BY dm DESC, vec_id LIMIT 1),
        d{r} AS (SELECT p.vec_id, p.ve,
                        least(p.dm, {d2.format(a='p.ve', b=f's{r}.ve')}) AS dm
                 FROM {prev} p, s{r})""")
    seed_union = " UNION ALL ".join(
        f"SELECT {r} AS r, vec_id, ve FROM s{r}" for r in range(1, _KCENTER_K + 1)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
        s1 AS (SELECT vec_id, ve FROM e ORDER BY vec_id LIMIT 1),
        d1 AS (SELECT e.vec_id, e.ve, {d2.format(a='e.ve', b='s1.ve')} AS dm
               FROM e, s1),
        {",".join(rounds)},
        seeds AS ({seed_union}),
        dist AS (SELECT e.vec_id, s.r, {d2.format(a='e.ve', b='s.ve')} AS d
                 FROM e, seeds s),
        pick AS (SELECT vec_id, r, d,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d, r) AS rn
                 FROM dist)
        SELECT p.r AS seed_rank, s.vec_id AS seed_vec_id,
               CAST(count(*) AS BIGINT) AS n_assigned,
               round(max(p.d), 6) AS radius_sq
        FROM pick p JOIN seeds s ON s.r = p.r
        WHERE p.rn = 1 GROUP BY p.r, s.vec_id
    """


@query(
    "d17b_kcenter_seeding",
    oracle=_d17b_oracle(),
    tags=("D17", "D4", "P1"),
)
def d17b_kcenter_seeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first traversal (Gonzalez k-center) seeding [public:
    Gonzalez 1985; the 2-approximation for minimax-radius clustering, and
    the deterministic alternative to k-means++'s sampled seeding]: start
    from the lowest vec_id, then repeatedly take the vector FARTHEST from
    the chosen set (ties to low id). Emits each seed with its cluster's
    population and minimax radius after assigning every vector to its
    nearest seed — the coverage numbers an IVF/codebook designer reads
    before fixing k. Fully deterministic, so the whole traversal is
    oracle-checked (round-unrolled CTEs, the d17/d5w recipe); distances
    fold dim-by-dim in both engines' identical sequential order, so
    argmax comparisons can never flip.

    Scale: each round is one map-only distance update against a LITERAL
    seed vector plus one 1-row argmax collect (the d17 bounded-actions
    posture, K-1 actions total); the final assignment is a 4-literal
    arg-min evaluated as array_min over (dist, rank) structs — no join,
    no shuffle until the K-row rollup. The running min-distance column
    makes each round O(corpus), never O(corpus x seeds)."""
    from pyspark.sql.window import Window  # noqa: F401 (parity with d17 style)

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("ve")
    )
    out_schema = (
        "seed_rank int, seed_vec_id bigint, n_assigned bigint, radius_sq double"
    )
    first = emb.orderBy("vec_id").limit(1).collect()
    if not first:
        return local_frame(spark, [], out_schema)
    from ..functions.vectors import literal_vector, squared_l2_distance

    seeds = [(1, first[0]["vec_id"], list(first[0]["ve"]))]
    cur = emb.withColumn(
        "dm", squared_l2_distance(F.col("ve"), literal_vector(seeds[0][2]))
    )
    for r in range(2, _KCENTER_K + 1):
        far = cur.orderBy(F.desc("dm"), F.asc("vec_id")).limit(1).collect()[0]
        seeds.append((r, far["vec_id"], list(far["ve"])))
        cur = cur.withColumn(
            "dm",
            F.least(
                F.col("dm"),
                squared_l2_distance(F.col("ve"), literal_vector(seeds[-1][2])),
            ),
        )
    pick = F.array_min(
        F.array(
            *[
                F.struct(
                    squared_l2_distance(F.col("ve"), literal_vector(v)).alias("d"),
                    F.lit(r).alias("r"),
                )
                for r, _, v in seeds
            ]
        )
    )
    assigned = emb.select("vec_id", pick.alias("p")).select(
        F.col("p.r").alias("seed_rank"), F.col("p.d").alias("d")
    )
    seed_id = "CASE " + " ".join(
        f"WHEN seed_rank = {r} THEN {vid}L" for r, vid, _ in seeds
    ) + " END"
    return assigned.groupBy("seed_rank").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.max("d"), 6).alias("radius_sq"),
    ).select(
        "seed_rank",
        F.expr(seed_id).alias("seed_vec_id"),
        "n_assigned",
        "radius_sq",
    )
