"""Learned quality classifier (SURVEY.md §2 D5z — the FineWeb-Edu-shape
stand-in): hashed char-trigram + lexical features, fixed-round full-batch
gradient descent on a logistic-style objective, trained ON the corpus in
the d17/d5w bounded-actions posture (weights = one (NF+2)-value collect per
round), inference as pure-JVM expressions with the trained weights inlined
as literals. The classifier score then drives d26-style md5-threshold
subsampling, so the learned artifact flows downstream exactly like the BPE
vocab does into d13f.

Everything is FIXED-POINT integer arithmetic (the d5u recipe): features in
ppm, weights in micro-units, and the sigmoid replaced by the rational
squashing p = 1/2 + z/(2·(1+|z|)) evaluated as
``500000 + z*500000 div (1e6 + abs(z))`` — integer-only (+, *, abs,
truncating div, which Spark ``div`` and DuckDB ``//`` both implement as
round-toward-zero, verified on negatives), so the whole 4-round training
trajectory and every inference score is bit-identical across engines and
summation orders by construction. p is monotone increasing in z, so the
(p − y)·x gradient is the exact gradient of a convex surrogate loss
∫(p(z) − y)dz, and full-batch GD at the pinned rate decreases it — the
property test asserts the measured loss is monotone non-increasing.

Scale shape: training touches only the bounded labeled subset
(doc_id < _QC_TRAIN_MAX_ID — a production classifier trains on a small
annotated sample) with one scan + one global (NF+2)-value aggregate per
round; the model is NF+1 integers, memoized per corpus generation (the
``_bigram_model``/``_codebook`` pattern) and inlined as literals, so
inference over 100 TB is a map-only whole-stage-codegen pass with zero
joins and zero Python — followed by one partial-aggregatable groupBy on
the k-row source key. [public: Joulin et al. 2016 (fastText); Penedo et
al. 2024 (FineWeb-Edu classifier-scored curation)]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..session import generation, local_frame, plan_memo

_QC_B = 8  # hashed char-trigram feature buckets
_QC_NF = _QC_B + 3  # + distinct-trigram ppm, mean-token-len, bias
_QC_ROUNDS = 4
_QC_LR_DIV = 500_000  # step = -grad_sum div (n_train * _QC_LR_DIV)
_QC_TRAIN_MAX_ID = 200  # bounded labeled subset (fixed size at every SF)
_QC_THRESH = 500_000  # label: distinct-token ratio (ppm) >= this


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — the shared semantics of
    Spark ``div`` and DuckDB ``//`` (Python ``//`` floors, so it cannot
    be used directly on negative gradients)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _qc_features(d: DataFrame) -> DataFrame:
    """(doc_id, source, x: array<long>[_QC_NF] ppm features, y: long label).

    Doc-local lambda expressions only (the d5v shape) — no explode, no
    shuffle: trigram buckets hash via the first md5 byte (the d26/d14b
    engine-stable idiom), counts via one transform + _QC_B filter passes
    over the small int array (md5 runs ONCE per trigram)."""
    ngs = "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
    step1 = d.filter(F.length("text") >= 3).select(
        "doc_id",
        "source",
        "text",
        F.expr(ngs).alias("ngs"),
        F.expr("split(text, ' ')").alias("toks"),
        (F.length("text") - 2).cast("long").alias("nng"),
    )
    step2 = step1.select(
        "doc_id",
        "source",
        "text",
        "ngs",
        "toks",
        "nng",
        F.expr(
            f"transform(ngs, g -> cast(conv(substring(md5(g), 1, 2), 16, 10) as int)"
            f" % {_QC_B})"
        ).alias("bks"),
    )
    feats = [
        f"1000000L * size(filter(bks, b -> b = {j})) div nng" for j in range(_QC_B)
    ]
    feats.append("1000000L * size(array_distinct(ngs)) div nng")
    feats.append("1000000L * length(text) div size(toks) div 10")
    feats.append("1000000L")
    return step2.select(
        "doc_id",
        "source",
        F.expr("array(" + ", ".join(feats) + ")").alias("x"),
        F.expr(
            "case when 1000000L * size(array_distinct(toks)) div size(toks)"
            f" >= {_QC_THRESH} then 1L else 0L end"
        ).alias("y"),
    )


def _z_expr(w: list[int]) -> str:
    """z (micro-units) from literal weights: one codegen'd dot product."""
    terms = " + ".join(f"{w[j]}L * element_at(x, {j + 1})" for j in range(_QC_NF))
    return f"({terms}) div 1000000L"


def _train_quality_classifier(
    spark: SparkSession,
    sf_dir: str,
    train_max: int = _QC_TRAIN_MAX_ID,
    exclude_doc_ids: list[int] | None = None,
) -> tuple[list[int], list[int]]:
    """Fixed-round full-batch GD, memoized per (corpus generation,
    train_max, excluded ids) as (weights, per-round losses). Each
    round is ONE bounded action: a global aggregate collecting the NF
    gradient sums + n + the surrogate loss (NF+2 values). The update
    w_j -= grad_j div (n * LR_DIV) runs driver-side in exact Python ints
    with truncating division, mirroring the oracle's ``//``.
    ``train_max`` bounds the labeled subset — c16b's mid-stream model
    refresh retrains on the doubled subset (2×_QC_TRAIN_MAX_ID).
    ``exclude_doc_ids`` retrains as if those docs never existed — the
    erasure-audit rebuild path (maintenance.erasure_audit): the model is
    an AGGREGATE artifact, so per-row erasure cannot reach it; the only
    honest guarantee is a retrain without the forgotten rows."""
    ids = tuple(sorted(int(i) for i in (exclude_doc_ids or ())))

    def build() -> tuple[list, list]:
        feats = _qc_features(table(spark, sf_dir, "documents")).filter(
            F.col("doc_id") < train_max
        )
        if ids:
            feats = feats.filter(~F.col("doc_id").isin(list(ids)))
        w = [0] * _QC_NF
        losses: list[int] = []
        for _ in range(_QC_ROUNDS):
            scored = feats.select(
                "x", "y", F.expr(_z_expr(w)).alias("z")
            ).select(
                "x",
                F.expr(
                    "500000L + z * 500000L div (1000000L + abs(z)) - 1000000L * y"
                ).alias("err"),
            )
            aggs = [
                F.expr(f"sum(err * element_at(x, {j + 1}))").alias(f"g{j}")
                for j in range(_QC_NF)
            ]
            aggs.append(F.count(F.lit(1)).alias("n"))
            aggs.append(F.expr("sum(err * err)").alias("loss"))
            row = scored.agg(*aggs).collect()[0]
            if not row["n"]:  # empty/degenerate corpus: nothing to fit
                break
            losses.append(row["loss"])
            w = [
                w[j] - _tdiv(row[f"g{j}"], row["n"] * _QC_LR_DIV)
                for j in range(_QC_NF)
            ]
        return (w, losses)

    key = (*generation(sf_dir, "documents"), train_max, ids)
    return plan_memo("quality_model", key, build)


def _qc_md5_byte_sql(arg: str) -> str:
    """DuckDB: first md5 byte of ``arg`` as 0..255 (the d14b idiom)."""
    return (
        f"(instr('0123456789abcdef', substr(md5({arg}), 1, 1)) * 16"
        f" + instr('0123456789abcdef', substr(md5({arg}), 2, 1)) - 17)"
    )


def _qc_scored_ctes() -> str:
    """Shared oracle prefix (the ``_bpe_layer_ctes`` convention): the full
    fixed-point trajectory — features, GD rounds, inference — ending at
    the ``scored`` CTE (doc_id, source, y, p, hb). d5z's sampling rollup,
    d26b's threshold curve and d13g's curriculum packing all append their
    own final SELECT to this one chain, so every downstream consumer of
    the classifier re-derives the identical training."""
    idx = range(1, _QC_NF + 1)
    bucket_feats = ",\n              ".join(
        f"1000000::BIGINT * len(list_filter(bks, b -> b = {j})) // nng"
        for j in range(_QC_B)
    )
    rounds = []
    for r in range(1, _QC_ROUNDS + 1):
        grads = ", ".join(f"sum(err * x[{j}]) AS g{j}" for j in idx)
        newx = ", ".join(f"w.w[{j}] - g.g{j} // (g.n * {_QC_LR_DIV})" for j in idx)
        rounds.append(
            f"""
        e{r} AS (
            SELECT y, x,
                   500000 + (z * 500000) // (1000000 + abs(z)) - 1000000 * y AS err
            FROM (SELECT y, x,
                         list_sum(list_transform(range(1, {_QC_NF + 1}),
                             j -> w.w[j] * x[j])) // 1000000 AS z
                  FROM feat, w{r - 1} w WHERE doc_id < {_QC_TRAIN_MAX_ID})
        ),
        g{r} AS (
            SELECT CAST(count(*) AS BIGINT) AS n, {grads} FROM e{r}
        ),
        w{r} AS (SELECT list_value({newx}) AS w FROM w{r - 1} w, g{r} g)"""
        )
    zeros = ", ".join("0::BIGINT" for _ in idx)
    return f"""
        WITH base AS (
            SELECT doc_id, source, text,
                   list_transform(range(1, length(text) - 1),
                                  i -> substr(text, CAST(i AS INT), 3)) AS ngs,
                   string_split(text, ' ') AS toks,
                   CAST(length(text) - 2 AS BIGINT) AS nng
            FROM documents WHERE length(text) >= 3
        ),
        feat AS (
            SELECT doc_id, source,
              list_value(
              {bucket_feats},
              1000000::BIGINT * len(list_distinct(ngs)) // nng,
              1000000::BIGINT * length(text) // len(toks) // 10,
              1000000::BIGINT) AS x,
              CASE WHEN 1000000::BIGINT * len(list_distinct(toks)) // len(toks)
                        >= {_QC_THRESH} THEN 1 ELSE 0 END AS y
            FROM (SELECT doc_id, source, text, toks, nng, ngs,
                         list_transform(ngs,
                             g -> {_qc_md5_byte_sql('g')} % {_QC_B}) AS bks
                  FROM base)
        ),
        w0 AS (SELECT list_value({zeros}) AS w),
        {",".join(rounds)},
        scored AS (
            SELECT doc_id, source, y,
                   500000 + (z * 500000) // (1000000 + abs(z)) AS p,
                   {_qc_md5_byte_sql("CAST(doc_id AS VARCHAR)")} AS hb
            FROM (SELECT doc_id, source, y,
                         list_sum(list_transform(range(1, {_QC_NF + 1}),
                             j -> w.w[j] * x[j])) // 1000000 AS z
                  FROM feat, w{_QC_ROUNDS} w)
        )
    """


def _qc_chain_ctes(train_max: int, sfx: str) -> str:
    """A SECOND GD chain (CTE suffix ``sfx``) over the shared base/feat/w0
    prefix emitted by `_qc_scored_ctes`, trained on doc_id < ``train_max``
    — c16b's refreshed model B, round-unrolled with the same fixed-point
    arithmetic so the retrain trajectory is hash-checked too. Returns
    ``e{sfx}1 ... scored{sfx}`` CTE text (no leading WITH/comma)."""
    idx = range(1, _QC_NF + 1)
    rounds = []
    for r in range(1, _QC_ROUNDS + 1):
        grads = ", ".join(f"sum(err * x[{j}]) AS g{j}" for j in idx)
        newx = ", ".join(f"w.w[{j}] - g.g{j} // (g.n * {_QC_LR_DIV})" for j in idx)
        prev = "w0" if r == 1 else f"w{sfx}{r - 1}"
        rounds.append(
            f"""
        e{sfx}{r} AS (
            SELECT y, x,
                   500000 + (z * 500000) // (1000000 + abs(z)) - 1000000 * y AS err
            FROM (SELECT y, x,
                         list_sum(list_transform(range(1, {_QC_NF + 1}),
                             j -> w.w[j] * x[j])) // 1000000 AS z
                  FROM feat, {prev} w WHERE doc_id < {train_max})
        ),
        g{sfx}{r} AS (
            SELECT CAST(count(*) AS BIGINT) AS n, {grads} FROM e{sfx}{r}
        ),
        w{sfx}{r} AS (SELECT list_value({newx}) AS w
                      FROM {prev} w, g{sfx}{r} g)"""
        )
    return (
        ",".join(rounds)
        + f""",
        scored{sfx} AS (
            SELECT doc_id, source, y,
                   500000 + (z * 500000) // (1000000 + abs(z)) AS p,
                   {_qc_md5_byte_sql("CAST(doc_id AS VARCHAR)")} AS hb
            FROM (SELECT doc_id, source, y,
                         list_sum(list_transform(range(1, {_QC_NF + 1}),
                             j -> w.w[j] * x[j])) // 1000000 AS z
                  FROM feat, w{sfx}{_QC_ROUNDS} w)
        )"""
    )


def _qc_oracle() -> str:
    """d5z: the shared chain + the per-source sampling/accuracy rollup."""
    return (
        _qc_scored_ctes()
        + """
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) FILTER (WHERE hb < (256 * p) // 1000000)
                    AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (WHERE (p >= 500000) = (y = 1))
                    AS BIGINT) AS n_correct,
               CAST(sum(p) // count(*) AS BIGINT) AS mean_score_ppm
        FROM scored GROUP BY source
    """
    )


def _qc_scored_df(
    spark: SparkSession,
    sf_dir: str,
    w: list[int] | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Shared Spark twin of the ``scored`` CTE: (doc_id, source, y,
    p ppm, hb) with the trained weights inlined as literals — map-only,
    zero shuffle; every downstream classifier consumer starts here.
    Pass ``w`` to serve from a MATERIALIZED model (score_with_model);
    default trains/memoizes inline. Pass ``docs`` to score a different
    frame than the batch table — c16 feeds the ingest STREAM through the
    identical expressions (they are all deterministic per-row exprs, so
    they run unchanged on a streaming DataFrame)."""
    if w is None:
        w, _ = _train_quality_classifier(spark, sf_dir)
    feats = _qc_features(
        table(spark, sf_dir, "documents") if docs is None else docs
    )
    return feats.select(
        "doc_id", "source", "y", F.expr(_z_expr(w)).alias("z")
    ).select(
        "doc_id",
        "source",
        "y",
        F.expr("500000L + z * 500000L div (1000000L + abs(z))").alias("p"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("bigint")
        .alias("hb"),
    )


@query("d5z_quality_classifier", oracle=_qc_oracle(), tags=("D5z", "D5", "D26", "P1"))
def d5z_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier end-to-end: train (4 GD rounds on the
    bounded labeled subset, memoized), score EVERY document with the
    trained weights as inlined literals (map-only, zero shuffle), then
    subsample with the d26 md5-byte threshold driven by the LEARNED score
    (keep iff first-md5-byte(doc_id) < 256·p). Reported per source:
    label prevalence, kept counts, classifier accuracy against the label
    rule, and the mean score — all exact integers, so the full
    train→infer→sample chain is hash-checked, not rows-only.

    The oracle replays the identical trajectory as a round-unrolled CTE
    chain (the d17/d5w recipe) — the iterative training itself is graded,
    not just the final artifact."""
    return _qc_scored_df(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").alias("n_pos"),
        F.count(F.when(F.col("hb") < F.expr("(256 * p) div 1000000"), 1)).alias(
            "n_kept"
        ),
        F.count(F.when(F.expr("(p >= 500000) = (y = 1)"), 1)).alias("n_correct"),
        F.expr("sum(p) div count(1)").alias("mean_score_ppm"),
    )


_QC_CURVE_THRESHOLDS = (300_000, 400_000, 500_000, 600_000, 700_000)


def _d26b_oracle() -> str:
    vals = ", ".join(f"({t})" for t in _QC_CURVE_THRESHOLDS)
    return (
        _qc_scored_ctes()
        + f""",
        grid AS (SELECT * FROM (VALUES {vals}) AS g(thr)),
        tot AS (SELECT count(*) AS n_all, sum(y) AS n_pos FROM scored)
        SELECT CAST(thr AS BIGINT) AS thr,
               CAST(count(*) FILTER (WHERE p >= thr) AS BIGINT) AS n_kept,
               CAST(1000000::BIGINT * count(*) FILTER (WHERE p >= thr)
                    // max(tot.n_all) AS BIGINT) AS kept_ppm,
               CAST(count(*) FILTER (WHERE p >= thr AND y = 1) AS BIGINT)
                   AS n_true_kept,
               CAST(CASE WHEN count(*) FILTER (WHERE p >= thr) > 0
                    THEN 1000000::BIGINT
                         * count(*) FILTER (WHERE p >= thr AND y = 1)
                         // count(*) FILTER (WHERE p >= thr)
                    ELSE 0 END AS BIGINT) AS precision_ppm,
               CAST(1000000::BIGINT * count(*) FILTER (WHERE p >= thr AND y = 1)
                    // max(tot.n_pos) AS BIGINT) AS recall_ppm
        FROM scored CROSS JOIN grid CROSS JOIN tot
        GROUP BY thr
    """
    )


@query(
    "d26b_classifier_threshold_curve",
    oracle=_d26b_oracle(),
    tags=("D26", "D5z", "D25", "P1"),
)
def d26b_classifier_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-threshold curation curve — how a FineWeb-Edu-style
    cutoff is actually CHOSEN [public: Penedo et al. 2024 ablate
    score>=3]: for each candidate keep-threshold over the d5z learned
    score, the kept-mass (kept_ppm) and the classifier's precision/recall
    against the label rule — the keep-more-data vs keep-cleaner-data
    frontier. The d2n/d4k threshold-grid recipe applied to quality
    filtering; all counts and ratios are exact integers.

    Scale: one map-only scoring pass (trained weights inlined as
    literals) crossed with the k-row threshold grid — a bounded
    broadcast — then one partial-aggregatable groupBy on thr. The corpus
    streams once regardless of grid size."""
    scored = _qc_scored_df(spark, sf_dir)
    tot = scored.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("y").alias("n_pos")
    )
    grid = spark.range(len(_QC_CURVE_THRESHOLDS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _QC_CURVE_THRESHOLDS]),
            (F.col("id") + 1).cast("int"),
        ).alias("thr")
    )
    kept = F.count(F.when(F.col("p") >= F.col("thr"), 1))
    true_kept = F.count(F.when((F.col("p") >= F.col("thr")) & (F.col("y") == 1), 1))
    return (
        scored.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(tot))
        .groupBy("thr")
        .agg(
            kept.alias("n_kept"),
            F.expr("1000000L * count(if(p >= thr, 1, null)) div max(n_all)").alias(
                "kept_ppm"
            ),
            true_kept.alias("n_true_kept"),
            F.expr(
                "cast(case when count(if(p >= thr, 1, null)) > 0 then "
                "1000000L * count(if(p >= thr and y = 1, 1, null)) "
                "div count(if(p >= thr, 1, null)) else 0 end as bigint)"
            ).alias("precision_ppm"),
            F.expr(
                "1000000L * count(if(p >= thr and y = 1, 1, null)) div max(n_pos)"
            ).alias("recall_ppm"),
        )
    )


#: curriculum batching: fixed difficulty bands over the learned score
#: (competence-based curriculum), BATCH_DOCS docs per batch within each
#: (source, phase) shard in easy->hard order
_QC_PHASE_UNIT = 250_000  # phase = min(p div unit, 3): 4 fixed bands
_QC_BATCH_DOCS = 32


def _d13g_oracle() -> str:
    return (
        _qc_scored_ctes()
        + f""",
        phased AS (
            SELECT source, doc_id, p,
                   least(p // {_QC_PHASE_UNIT}, 3) AS phase,
                   row_number() OVER (PARTITION BY source,
                                      least(p // {_QC_PHASE_UNIT}, 3)
                                      ORDER BY p, doc_id) AS rnk
            FROM scored
        )
        SELECT source, CAST(phase AS BIGINT) AS phase,
               CAST((rnk - 1) // {_QC_BATCH_DOCS} AS BIGINT) AS batch_id,
               count(*) AS n_docs,
               CAST(min(p) AS BIGINT) AS min_p,
               CAST(max(p) AS BIGINT) AS max_p,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM phased GROUP BY source, phase, batch_id
    """
    )


@query(
    "d13g_curriculum_order",
    oracle=_d13g_oracle(),
    tags=("D13", "D5z", "D26", "P1"),
)
def d13g_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum batch assembly [public: Bengio et al. 2009; competence-
    based curricula, Platanios et al. 2019]: documents are banded into 4
    fixed difficulty phases by the d5z LEARNED quality score (low score =
    hard/noisy, trained last), then packed into _QC_BATCH_DOCS-doc
    training batches within each (source, phase) shard in easy→hard
    (score, id) order. Per-batch min/max score + id checksum hash-check
    the ORDER — a swapped pair moves a doc across a batch boundary.

    Scale: scoring is map-only (literal weights); ranks use a window
    partitioned by the (source, phase) SHARD GRID — never a single
    low-cardinality corpus window (the d13b sub-shard recipe; at 100 TB
    sub-shard by an ingest key and offset batch ids per sub-shard).
    One shuffle, partial-aggregated rollup."""
    from pyspark.sql import Window

    scored = _qc_scored_df(spark, sf_dir).select(
        "source", "doc_id", "p",
        F.expr(f"least(p div {_QC_PHASE_UNIT}, 3L)").alias("phase"),
    )
    w = Window.partitionBy("source", "phase").orderBy(F.asc("p"), F.asc("doc_id"))
    phased = scored.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / _QC_BATCH_DOCS).cast("long")
    )
    return phased.groupBy("source", "phase", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("p").alias("min_p"),
        F.max("p").alias("max_p"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


def _d26c_oracle() -> str:
    return (
        _qc_scored_ctes()
        + """,
        byp AS (
            SELECT source, p, count(*) AS n_at,
                   CAST(sum(y) AS BIGINT) AS npos_at
            FROM scored GROUP BY source, p
        ),
        rk AS (
            SELECT source, n_at, npos_at,
                   CAST(sum(n_at) OVER (PARTITION BY source ORDER BY p
                                        ROWS UNBOUNDED PRECEDING) - n_at
                        AS BIGINT) AS n_below
            FROM byp
        ),
        agg AS (
            SELECT source,
                   CAST(sum(npos_at) AS BIGINT) AS n_pos,
                   CAST(sum(n_at - npos_at) AS BIGINT) AS n_neg,
                   CAST(sum(npos_at * (2 * n_below + n_at + 1)) AS BIGINT)
                       AS sum2r
            FROM rk GROUP BY source
        )
        SELECT source, n_pos, n_neg,
               CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 500000
                    ELSE (1000000 * (sum2r - n_pos * (n_pos + 1)))
                         // (2 * n_pos * n_neg) END AS BIGINT) AS auc_ppm,
               CAST(2 * (CASE WHEN n_pos = 0 OR n_neg = 0 THEN 500000
                    ELSE (1000000 * (sum2r - n_pos * (n_pos + 1)))
                         // (2 * n_pos * n_neg) END) - 1000000
                    AS BIGINT) AS gini_ppm
        FROM agg
    """
    )


@query(
    "d26c_classifier_auc",
    oracle=_d26c_oracle(),
    tags=("D26", "D5z", "P1"),
)
def d26c_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier ROC-AUC per source — the rank statistic a curation team
    reports alongside the d26b threshold curve [public: Hanley & McNeil
    1982; AUC == Mann-Whitney U / (n_pos*n_neg)]: tie-corrected via
    average ranks over the d5z learned score, kept EXACT in integers by
    working in doubled rank units (2*avg_rank of a tie group = 2*n_below
    + n_at + 1, all bigint — no .5 fractions), so the ppm result is
    bit-identical across engines and summation orders.

    Scale shape: the corpus streams ONCE into a partial-aggregatable
    groupBy (source, p) — at most |sources| * 1e6 distinct ppm scores
    come out regardless of corpus size — and the rank window runs over
    that AGGREGATE-BOUNDED table (the audit's corpus-window probe sees
    the Aggregate below the Window), so no corpus-scale rows ever funnel
    through a low-cardinality window partition. Sources with a single
    class report the 500000 (undefined-AUC) convention instead of
    dividing by zero."""
    from pyspark.sql import Window

    scored = _qc_scored_df(spark, sf_dir)
    byp = scored.groupBy("source", "p").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum("y").cast("long").alias("npos_at"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = byp.select(
        "source",
        "n_at",
        "npos_at",
        (F.sum("n_at").over(w) - F.col("n_at")).alias("n_below"),
    )
    agg = rk.groupBy("source").agg(
        F.sum("npos_at").alias("n_pos"),
        F.sum(F.col("n_at") - F.col("npos_at")).alias("n_neg"),
        F.sum(
            F.col("npos_at") * (2 * F.col("n_below") + F.col("n_at") + 1)
        ).alias("sum2r"),
    )
    auc = F.expr(
        "case when n_pos = 0 or n_neg = 0 then 500000L "
        "else (1000000L * (sum2r - n_pos * (n_pos + 1))) "
        "div (2 * n_pos * n_neg) end"
    )
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        auc.alias("auc_ppm"),
        (2 * auc - 1000000).cast("long").alias("gini_ppm"),
    )


#: model parquet schema: one row per weight index, plus the training-loss
#: trajectory under negative idx (kind discriminates) — a handful of rows
_QC_MODEL_SCHEMA = "kind string, idx int, value long"


def write_quality_model(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    exclude_doc_ids: list[int] | None = None,
) -> str:
    """Materialize the trained d5z classifier as the durable curation
    artifact (the build half of the build/serve split — the same contract
    as write_bpe_vocab / write_ivf_index / build_band_index): NF+1 weight
    integers plus the monotone loss trajectory, a dozen rows total. A
    100 TB pipeline trains once on the labeled sample at ingest and ships
    this file to every scoring pass. Serve with ``score_with_model``; bit
    parity with the inline path is asserted by
    tests/test_quality_classifier.py. ``exclude_doc_ids`` rebuilds the
    artifact as if those docs never existed (the erasure-audit retrain —
    bit-identical to a build on a corpus without them, asserted by
    tests/test_maintenance.py)."""
    w, losses = _train_quality_classifier(
        spark, sf_dir, exclude_doc_ids=exclude_doc_ids
    )
    rows = [("w", j, int(v)) for j, v in enumerate(w)] + [
        ("loss", j, int(v)) for j, v in enumerate(losses)
    ]
    (
        local_frame(spark, rows, _QC_MODEL_SCHEMA)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


def score_with_model(
    spark: SparkSession, sf_dir: str, model_dir: str
) -> DataFrame:
    """The d5z SERVE path: score the corpus with a MATERIALIZED model —
    zero training actions; the weights (bounded: NF+1 rows) read from the
    model parquet and inlined as literals, so the scoring plan is the
    identical map-only codegen pass as the inline query."""
    w = [
        int(r["value"])
        for r in spark.read.parquet(model_dir)
        .filter(F.col("kind") == "w")
        .orderBy("idx")
        .collect()
    ]
    return _qc_scored_df(spark, sf_dir, w=w)


def _d26d_oracle() -> str:
    return (
        _qc_scored_ctes()
        + """
        SELECT CAST(least(p // 100000, 9) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(p) // count(*) AS BIGINT) AS mean_score_ppm,
               CAST(1000000 * sum(y) // count(*) AS BIGINT)
                   AS empirical_pos_ppm,
               CAST(sum(p) // count(*) - 1000000 * sum(y) // count(*)
                    AS BIGINT) AS gap_ppm
        FROM scored GROUP BY 1
    """
    )


@query(
    "d26d_classifier_calibration",
    oracle=_d26d_oracle(),
    tags=("D26", "D5z", "P1"),
)
def d26d_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CALIBRATION (reliability diagram) — the fourth leg of
    the d5z eval suite after accuracy (d5z), the threshold frontier
    (d26b) and ranking power (d26c) [public: reliability diagrams,
    DeGroot & Fienberg 1983; modern nets are miscalibrated, Guo et al.
    2017]: documents bin by predicted score decile, and each bin reports
    mean predicted score vs the empirical positive rate — the gap column
    IS the reliability curve's deviation from the diagonal, the number
    that says whether a score of 0.8 MEANS 80%. All integer ppm
    arithmetic, so bins, rates and gaps are bit-identical across engines
    (gaps may be negative — pure subtraction, no division asymmetry).

    Scale: one map-only scoring pass (literal weights) into one
    partial-aggregatable groupBy over 10 bins — the cheapest query shape
    there is; at 100 TB this is a single corpus stream."""
    scored = _qc_scored_df(spark, sf_dir)
    return (
        scored.groupBy(
            F.expr("least(p div 100000, 9L)").cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").alias("n_pos"),
            F.expr("sum(p) div count(1)").alias("mean_score_ppm"),
            F.expr("1000000L * sum(y) div count(1)").alias("empirical_pos_ppm"),
            F.expr(
                "sum(p) div count(1) - 1000000L * sum(y) div count(1)"
            ).alias("gap_ppm"),
        )
    )
