"""Similarity search over the embeddings table (SURVEY.md §7 north star).

Two paths:
  * ``knn_bruteforce_cosine`` — exact top-k for a small query set; the
    query side is broadcast, candidates stream (at 100 TB this is the
    "score everything against a handful of probes" shape — one scan, no
    shuffle of the big side).
  * ``ann_ivf_label`` — IVF-style: the ``label`` column acts as the coarse
    quantizer cell; search only inside the query's cell.  At scale the
    cell id comes from a k-means codebook (broadcast), and the candidate
    join is an equi-join on cell — shuffle bounded by cell population.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arrow_experiments_spark.functions.numeric import snap6
from arrow_experiments_spark.functions.vectors import (
    cosine_sql,
    dot,
    dot_kernel,
    dot_sql,
    norm,
    norm_sql,
)
from arrow_experiments_spark.registry import register
from arrow_experiments_spark.tables import table

_COS_SNAP_SQL = (
    "CAST(CAST(" + cosine_sql("q.embedding", "c.embedding") + " AS DECIMAL(28,6)) AS DOUBLE)"
)

# Zero-norm vectors have no defined cosine; under Spark's ANSI mode the
# norm-product divisor would abort the whole job on the first one (failed
# embeddings are inevitable at corpus scale), so every cosine-scoring
# query excludes them at entry — in BOTH engines.
_NZ_SQL = f"SELECT * FROM embeddings WHERE {norm_sql('embedding')} > 0"


def _nonzero_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.filter(norm("embedding") > 0)


@register(
    "knn_bruteforce_cosine",
    "similarity",
    doc="exact brute-force cosine top-5 for 10 probe vectors; probes "
    "broadcast against the candidate scan, window top-k per probe.",
    oracle=f"""
        WITH nz AS ({_NZ_SQL})
        SELECT query_id, neighbor_id, cos_sim, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_SNAP_SQL} AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
            FROM nz q JOIN nz c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ) WHERE rnk <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are projected BELOW the join (once per vector, not once per
    # pair) — the per-pair work is a single dot-product fold.  Identical
    # arithmetic to the oracle's per-pair formula, 3× less of it.
    emb = _nonzero_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm("embedding").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        norm("embedding").alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            snap6(
                dot_kernel(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).alias("rnk")).filter(F.col("rnk") <= 5)


@register(
    "ann_ivf_label",
    "similarity",
    doc="ANN via IVF-style cell restriction: candidates limited to the "
    "probe's label cell; top-3 per probe. Equi-join on cell id keeps the "
    "shuffle proportional to cell size, not corpus size.",
    oracle=f"""
        WITH nz AS ({_NZ_SQL})
        SELECT query_id, neighbor_id, cos_sim, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_SNAP_SQL} AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
            FROM nz q
            JOIN nz c ON q.label = c.label AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ) WHERE rnk <= 3
    """,
)
def ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _nonzero_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        norm("embedding").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        norm("embedding").alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q_label") == F.col("c_label"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            snap6(
                dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.select("*", F.row_number().over(w).alias("rnk")).filter(F.col("rnk") <= 3)


# ---- random-hyperplane LSH -------------------------------------------------

_LSH_BITS = 4
_LSH_DIM = 64
# Deterministic hyperplane family both engines rebuild bit-identically:
# component (b, i) = LCG(b*DIM + i) scaled to [-0.5, 0.5).  All integer ops
# are exact; the divisor is 2^31 so the scaling is exact in binary floating
# point; therefore dot products (same fold order both sides) and the sign
# bits agree bit-for-bit — no tolerance needed on the bucket assignment.


def _hyperplane_values(b: int) -> list[float]:
    """Member ``b`` of the family, computed driver-side.  Every step is
    exact in binary floating point (integer products < 2^53, a 2^31
    divisor), so these doubles are bit-identical to the ones the previous
    in-plan ``transform(sequence(...))`` form — and the oracle's
    ``list_transform(range(...))`` — produce element-by-element."""
    return [
        ((1103515245 * (b * _LSH_DIM + i) + 12345) % 2147483648)
        / 2147483648.0
        - 0.5
        for i in range(_LSH_DIM)
    ]


def _hyperplane_expr(b: int) -> str:
    """Spark-SQL array literal of member ``b``.  repr() of a Python
    float is the shortest decimal that round-trips to the same double,
    and Spark's D-suffixed literal parses with correctly-rounded
    Double.parseDouble, so every element is bit-identical to the
    F.lit form (verified canonicalized-plan equality)."""
    return "array(" + ",".join(repr(v) + "D" for v in _hyperplane_values(b)) + ")"


def _hyperplane(b: int):
    # A plain array literal, NOT a runtime transform(sequence(...)) chain:
    # the HOF form re-generated all 64 components per ROW in interpreted
    # lambda evaluation (no codegen, no constant folding across HOF
    # boundaries), which made bucket/cell assignment expression-bound —
    # ~8 centroids x 192 lambda evals per row before any real work.  The
    # literal keeps zip_with/aggregate consumers unchanged and
    # bit-identical while shrinking the analyzed tree ~50x.
    # One expr() parse, not F.lit(list) (r16): pyspark expands a list
    # literal into 64 per-element py4j calls; the parsed array literal
    # is the same Literal node (canonicalized-plan-identical).
    return F.expr(_hyperplane_expr(b))


def _hyperplane_sql(b: int) -> str:
    return (
        f"list_transform(range(0, {_LSH_DIM}),"
        f" i -> ((CAST(1103515245 AS BIGINT) * ({b * _LSH_DIM} + i) + 12345)"
        f" % 2147483648) / 2147483648.0 - 0.5)"
    )


def lsh_bucket_sql(emb: str, band: int = 0, bits: int = _LSH_BITS) -> str:
    """DuckDB-side bucket for band ``band`` — hyperplanes band*bits ..
    band*bits+bits-1, bit-identical to :func:`lsh_bucket_col`."""
    expr = " + ".join(
        f"(CASE WHEN {dot_sql(emb, _hyperplane_sql(band * bits + k))} >= 0"
        f" THEN {1 << k} ELSE 0 END)"
        for k in range(bits)
    )
    return f"({expr})"


def lsh_bucket_expr(emb: str, band: int = 0, bits: int = _LSH_BITS) -> str:
    """Spark-SQL string twin of :func:`lsh_bucket_col` — one expression
    parse for the whole bits-deep sign fold (canonicalized-plan-identical
    to the Column form; the Column form paid bits × ~100 py4j calls)."""
    from arrow_experiments_spark.functions.vectors import dot_expr

    out = "0"
    for k in range(bits):
        out = (
            f"({out} + (CASE WHEN "
            f"{dot_expr(emb, _hyperplane_expr(band * bits + k))} >= 0 "
            f"THEN {1 << k} ELSE 0 END))"
        )
    return out


def lsh_bucket_col(
    emb: F.Column | str, band: int = 0, bits: int = _LSH_BITS
) -> F.Column:
    """Sign-bit bucket of ``emb`` for one LSH band.  Bands use disjoint
    hyperplanes from the same deterministic LCG family, so adding bands
    (recall) or bits (precision / cell size) is a parameter change, not a
    new codebook.  Pass ``emb`` by NAME where possible (one JVM-side
    expression parse — see :func:`lsh_bucket_expr`)."""
    if isinstance(emb, str):
        return F.expr(lsh_bucket_expr(emb, band, bits))
    out = F.lit(0)
    for k in range(bits):
        out = out + F.when(
            dot(emb, _hyperplane(band * bits + k)) >= 0, F.lit(1 << k)
        ).otherwise(0)
    return out


def lsh_cells_np(emb_series, bands: int, bits: int):
    """(n, bands) int32 per-band LSH cells — the SAME left-fold dot
    products and sign rule as :func:`lsh_bucket_col`, accumulated
    dim-by-dim in index order so every sign decision is bit-identical
    to the in-plan form (the _codebook_l2sq_np discipline: np.sum's
    pairwise reordering is deliberately avoided).

    Batch-shape contract: Arrow may deliver a 0-row batch (empty
    partition slice) — returned as an empty (0, bands) block rather
    than indexing shape[1] of a 0-d array.  NULL or ragged embeddings
    have no cell (the in-plan fold degrades to NULL there); callers
    gate them out first (the nz filter every embedding op applies), and
    the kernel raises a diagnosable error instead of an obscure
    object-dtype multiply if one slips through."""
    import numpy as np

    if len(emb_series) == 0:
        return np.zeros((0, bands), dtype=np.int32)
    try:
        a = np.array(emb_series.tolist(), dtype=np.float64)  # f32 -> f64 exact
        if a.ndim != 2:
            raise ValueError("not a rectangular batch")
    except (ValueError, TypeError) as e:
        raise ValueError(
            "lsh_cells_np requires non-NULL, equal-length embeddings — "
            "gate NULL/empty/zero-norm rows before the kernel (the nz "
            f"filter): {e}"
        ) from None
    out = np.zeros((a.shape[0], bands), dtype=np.int32)
    for band in range(bands):
        for k in range(bits):
            h = _hyperplane_values(band * bits + k)[: a.shape[1]]
            acc = np.zeros(a.shape[0])
            for i in range(a.shape[1]):
                acc = acc + a[:, i] * h[i]
            out[:, band] |= np.where(acc >= 0, 1 << k, 0).astype(np.int32)
    return out


def lsh_cells_col(emb: F.Column, bands: int, bits: int) -> F.Column:
    """All bands' LSH cells as ONE Arrow-batched kernel returning
    ``array<int>`` (index = band).  Bit-identical to
    ``[lsh_bucket_col(emb, b, bits) for b in range(bands)]`` — same
    folds, same sign rule — but the plan node is a single PythonUDF:
    the in-plan form's tree (bands × bits zip_with/aggregate folds over
    64-double literals) costs seconds of Catalyst ANALYSIS per plan
    that embeds it at derived bit counts (measured 2-3 s at 10 bits
    against 0.5 s of execution), and a streaming gate's micro-batch
    embeds it in several actions.  Batch queries keep the in-plan form
    — they pay analysis once and stay whole-stage-codegen'd."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(e: pd.Series) -> pd.Series:
        return pd.Series(list(lsh_cells_np(e, bands, bits)))

    return _cells(emb)


# (r14: lsh_cells_col_nullsafe — the NULL-tolerant variant that served
# the embedding sink's fused raw-batch probe — was deleted with that
# path after two paired A/Bs measured the fusion as a wash; the gate's
# direction filter runs before lsh_cells_col, so the strict kernel is
# the only form the engine needs.)


def _bucket_sql(emb: str) -> str:
    return lsh_bucket_sql(emb, 0)


def _bucket_col(emb: F.Column | str) -> F.Column:
    return lsh_bucket_col(emb, 0)


# ---- IVF with a deterministic codebook ------------------------------------

# Coarse-quantizer codebook from the same LCG family as the hyperplanes,
# at a disjoint index range (centroid c = family member _CODEBOOK_OFFSET+c).
# A real deployment would broadcast k-means-trained centroids; the cell
#-assignment plan (argmin over k broadcast centroids, then equi-join on
# cell) is identical, and the random codebook keeps both engines
# bit-identical with zero training state.  Unlike a label column, k is a
# PARAMETER: cells scale with the corpus (k ≈ corpus/target_cell_size).
_IVF_K = 8
_CODEBOOK_OFFSET = 64
_IVF_TARGET_POP = 2000


def _ivf_k(spark: SparkSession | None, sf_dir: str) -> int:
    """Codebook cell count, derived from the corpus size as
    ``max(_IVF_K, ceil(N / _IVF_TARGET_POP))`` — the cells-scale-with-the-
    corpus rule the codebook comment states (r8 verdict #7: at 1000×
    natural density k=8 leaves ~250k vectors per cell and the cell join
    bends quadratic).  Floored at the oracle geometry so every
    correctness fixture derives k=8.  The registered IVF oracles are
    geometry-parametric (r9 verdict #1): they enumerate the SAME derived
    k's centroids at check time."""
    import math

    from arrow_experiments_spark.operators.dedup import _embeddings_n

    return max(_IVF_K, math.ceil(_embeddings_n(spark, sf_dir) / _IVF_TARGET_POP))


def _l2sq_sql(a: str, cent: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {cent}),"
        " p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])),"
        " (acc, x) -> acc + x)"
    )


def _codebook_np(k: int):
    """The k codebook centroids as a (k, DIM) float64 ndarray."""
    import numpy as np

    return np.array(
        [_hyperplane_values(_CODEBOOK_OFFSET + c) for c in range(k)]
    )


def _codebook_l2sq_np(emb_series, k: int):
    """(n, k) L2^2 distances.  At the oracle floor (k <= _IVF_K) they are
    accumulated dim-by-dim in index order — the SAME left-fold
    (((0+d0^2)+d1^2)+...) the in-plan ``aggregate`` form and the oracle's
    ``list_reduce`` evaluate, so every distance double (and therefore
    every argmin/ordering decision) is bit-identical across the three
    implementations (np.sum is deliberately avoided: its pairwise
    summation reorders the adds).  Beyond the floor — derived-k corpora,
    where no enumerated-SQL oracle exists — the per-cell fold would cost
    k x DIM vector passes, so the distances come from one GEMM
    (|a|² - 2a·C + |C|²) instead: same argmin up to float association,
    and the geometry is load-bearing only through which cell wins."""
    import numpy as np

    cb = _codebook_np(k)
    a = np.array(emb_series.tolist(), dtype=np.float64)  # f32 -> f64 exact
    cb = cb[:, : a.shape[1]]  # the fold below reads only the vector's dims
    if k > _IVF_K:
        return (
            (a * a).sum(axis=1, keepdims=True)
            - 2.0 * (a @ cb.T)
            + (cb * cb).sum(axis=1)[None, :]
        )
    out = np.empty((a.shape[0], k), dtype=np.float64)
    for c in range(k):
        acc = np.zeros(a.shape[0])
        for i in range(a.shape[1]):
            d = a[:, i] - cb[c, i]
            acc = acc + d * d
        out[:, c] = acc
    return out


def ivf_cell_col(emb: F.Column, k: int = _IVF_K) -> F.Column:
    """0-based nearest-centroid cell id (first index wins ties — the same
    rule as the oracle's list_position).

    Arrow-batched numpy kernel, not a per-row ``aggregate`` fold: cell
    assignment is k x DIM multiply-adds per vector, and the interpreted
    HOF-lambda path costs ~0.6 us per element — at corpus scale (billions
    of vectors x 8 centroids x 64 dims) that is the difference between a
    vectorized scan and a CPU-bound one.  Distances stay bit-identical to
    the oracle (see _codebook_l2sq_np)."""
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def _cell(e: pd.Series) -> pd.Series:
        import numpy as np

        dists = _codebook_l2sq_np(e, k)
        # np.argmin takes the FIRST minimum — list_position's tie rule
        return pd.Series(np.argmin(dists, axis=1).astype("int32"))

    # coalesce to a sentinel the kernel can never emit (argmin is always
    # 0..k-1 for the non-null inputs every caller feeds it): a pandas_udf
    # output is nullable, so when the cell becomes an equi-join key the
    # optimizer infers IsNotNull(cell) and pushes it BELOW the projection
    # — and ExtractPythonUDFs does not CSE across the filter/project
    # split, so the kernel ran TWICE over the corpus (one full extra
    # Arrow boundary pass, visible as back-to-back ArrowEvalPython nodes
    # in five ANN plans).  The non-nullable coalesce constant-folds the
    # inferred filter away; values are untouched (guide §4: one Python
    # boundary crossing, not two).
    return F.coalesce(_cell(emb), F.lit(-1))


def ivf_cell_sql(emb: str, k: int = _IVF_K) -> str:
    dists = (
        "["
        + ", ".join(
            _l2sq_sql(emb, _hyperplane_sql(_CODEBOOK_OFFSET + c)) for c in range(k)
        )
        + "]"
    )
    return f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT)"


@register(
    "ann_lsh_hyperplane",
    "similarity",
    doc="ANN via random-hyperplane LSH: 4 sign-bits over deterministic "
    "LCG hyperplanes → 16 buckets; candidates restricted to the probe's "
    "bucket, top-3 by snapped cosine.  At scale the bucket is the shuffle "
    "key (same shape as the MinHash band join) and bits are added per "
    "recall target; the hyperplane family is seed-derived, never stored.",
    oracle=f"""
        WITH nz AS ({_NZ_SQL}), bucketed AS (
            SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket
            FROM nz
        )
        SELECT query_id, neighbor_id, cos_sim, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_SNAP_SQL} AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
            FROM bucketed q
            JOIN bucketed c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ) WHERE rnk <= 3
    """,
)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _nonzero_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _bucket_col("embedding").alias("bucket"),
        norm("embedding").alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("c_bucket"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            snap6(
                dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.select("*", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 3
    )


def _ivf_codebook_oracle_sql(k: int) -> str:
    """Shared declared result of cell-restricted IVF top-3: used by
    ``ann_ivf_codebook`` (per-query assignment) and
    ``ann_ivf_index_probe`` (the maintained index artifact) — one
    oracle, two physical forms, geometry-parametric in k."""
    return f"""
        WITH nz AS ({_NZ_SQL}), cells AS (
            SELECT vec_id, embedding,
                   {ivf_cell_sql("embedding", k)} AS cell
            FROM nz
        )
        SELECT query_id, neighbor_id, cos_sim, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_SNAP_SQL} AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
            FROM cells q
            JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        ) WHERE rnk <= 3
    """


@register(
    "ann_ivf_codebook",
    "similarity",
    doc="ANN via IVF with a parametric codebook: cell = argmin L2 distance "
    "to k=8 deterministic LCG centroids (broadcast; a trained k-means "
    "codebook drops in without changing the plan), candidates restricted "
    "to the probe's cell, top-3 by snapped cosine.  Fixes the fixed-"
    "vocabulary caveat of label cells: cell count is a parameter, so cell "
    "population stays bounded as the corpus grows.  The oracle is "
    "geometry-parametric: it enumerates the same auto-derived k centroids "
    "the builder assigns with (r9 verdict #1).",
    oracle=lambda spark, sf_dir: _ivf_codebook_oracle_sql(
        _ivf_k(spark, sf_dir)
    ),
)
def ann_ivf_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _ivf_k(spark, sf_dir)
    emb = _nonzero_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        ivf_cell_col(F.col("embedding"), k).alias("cell"),
        norm("embedding").alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("q_cell"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("c_cell"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q_cell") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            snap6(
                dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.select("*", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 3
    )


def _multiprobe_cells_col(emb: F.Column, k: int = _IVF_K, nprobe: int = 2) -> F.Column:
    """Array of the ``nprobe`` nearest centroid ids, nearest first —
    ordered by (dist, cell id), matching the oracle's ``ORDER BY dist,
    cell``.  Deterministic because both engines derive bit-identical
    centroid doubles from the LCG family and the same left-fold distances
    (same Arrow-batched kernel as :func:`ivf_cell_col`; np.lexsort's last
    key is primary and ties fall to the earlier cell-index key)."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(e: pd.Series) -> pd.Series:
        import numpy as np

        dists = _codebook_l2sq_np(e, k)
        idx = np.arange(k)[None, :].repeat(dists.shape[0], axis=0)
        order = np.lexsort((idx, dists), axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return _cells(emb)


def _multiprobe_cells_sql(emb: str, k: int = _IVF_K, nprobe: int = 2) -> str:
    """DuckDB twin of :func:`_multiprobe_cells_col` as a correlated-free
    CTE body: per-(vec_id, cell) distance rows → rank → nprobe rows per
    probe."""
    dist_rows = "\n            UNION ALL ".join(
        f"SELECT vec_id, {c} AS cell, "
        f"{_l2sq_sql(emb, _hyperplane_sql(_CODEBOOK_OFFSET + c))} AS dist "
        f"FROM probes"
        for c in range(k)
    )
    return f"""
        pdist AS (
            {dist_rows}
        ), pcells AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cell) AS rn
                FROM pdist
            ) WHERE rn <= {nprobe}
        )"""


@register(
    "ann_ivf_multiprobe",
    "similarity",
    doc="multi-probe IVF: each query searches its nprobe=2 nearest "
    "codebook cells instead of 1 — the standard recall lever of a "
    "deployed IVF index (a query near a cell boundary misses true "
    "neighbors quantized into the adjacent cell; probing the runner-up "
    "cell recovers them for ~2× candidate cost, no index change).  "
    "Plan shape: probe→cells is a broadcastable nprobe-row expansion of "
    "the probe set; candidates join on cell exactly like "
    "ann_ivf_codebook, so the shuffle stays bounded by nprobe × cell "
    "population.  Top-3 per probe across both probed cells.  Geometry-"
    "parametric oracle: cells and probe ranking regenerate at the same "
    "auto-derived k (r9 verdict #1).",
    oracle=lambda spark, sf_dir: f"""
        WITH nz AS ({_NZ_SQL}),
        probes AS (SELECT vec_id, embedding FROM nz WHERE vec_id < 10),
        cells AS (
            SELECT vec_id, embedding,
                   {ivf_cell_sql("embedding", _ivf_k(spark, sf_dir))} AS cell
            FROM nz
        ), {_multiprobe_cells_sql("embedding", _ivf_k(spark, sf_dir))}
        SELECT query_id, neighbor_id, cos_sim, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_SNAP_SQL} AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
            FROM probes q
            JOIN pcells p ON p.vec_id = q.vec_id
            JOIN cells c ON c.cell = p.cell AND c.vec_id <> q.vec_id
        ) WHERE rnk <= 3
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _ivf_k(spark, sf_dir)
    emb = _nonzero_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        ivf_cell_col(F.col("embedding"), k).alias("cell"),
        norm("embedding").alias("nrm"),
    )
    q = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_norm"),
            F.explode(
                _multiprobe_cells_col(F.col("embedding"), k)
            ).alias("p_cell"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("c_cell"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("p_cell") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            snap6(
                dot("q_emb", "c_emb")
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.select("*", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 3
    )


# ---- retriever recall evaluation -------------------------------------------

# Shared oracle template for the retriever recall evals: {cells} is the
# bucketed/celled CTE body, {cell} the cell column name.
_RECALL_ORACLE = """
        WITH nz AS ({nz}), cells AS (
            SELECT vec_id, embedding, {cell_expr} AS cell
            FROM nz
        ), exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                          ORDER BY {cos} DESC, c.vec_id) AS rnk
                FROM nz q JOIN nz c ON q.vec_id <> c.vec_id
                WHERE q.vec_id < 10
            ) WHERE rnk <= 3
        ), approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                          ORDER BY {cos} DESC, c.vec_id) AS rnk
                FROM cells q
                JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
                WHERE q.vec_id < 10
            ) WHERE rnk <= 3
        )
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS recall
        FROM exact e
        LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
    """


def _recall_eval(spark: SparkSession, sf_dir: str, cell_col) -> DataFrame:
    """recall@3 of a cell-restricted retriever vs exact brute-force top-3
    over the 10-probe set; ``cell_col`` maps an embedding column to its
    cell id (LSH bucket, IVF cell, ...).  Both sides use the snapped
    cosine and (cos DESC, vec_id) tie-break, so retrieved sets are
    bit-identical to the oracle's."""
    emb = _nonzero_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        cell_col("embedding").alias("cell"),
        norm("embedding").alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("q_cell"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("c_cell"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    cos = snap6(
        dot_kernel(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    )
    # FUSED single pass (r16): the exact branch already scores every
    # (probe, candidate) pair, and the approx branch is exactly the
    # same-cell subset of those pairs — so score once, carry a same_cell
    # flag, and rank both views with two windows over one shuffle
    # (cell_rnk partitions by (query_id, same_cell): within the
    # same_cell=true group it is precisely the approx branch's rank).
    # The previous two-branch form scored the same-cell pairs twice and
    # paid a second broadcast join plus an exact×approx equi-join; the
    # brute-force probe×corpus bound — this is the sample-tuning op —
    # is unchanged.  hit = same_cell AND cell_rnk <= 3 reproduces the
    # old left-join membership row for row.
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.col("q_cell") == F.col("c_cell")).alias("same_cell"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    w_cell = Window.partitionBy("query_id", "same_cell").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    hit = (
        F.col("same_cell") & (F.row_number().over(w_cell) <= 3)
    ).cast("long")
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w).alias("rnk"),
        hit.alias("hit"),
    )
    return (
        ranked.filter(F.col("rnk") <= 3)
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            F.sum("hit").cast("bigint").alias("n_hits"),
            (F.sum("hit").cast("double") / F.count("*")).alias("recall"),
        )
    )


@register(
    "ann_recall_eval",
    "similarity",
    doc="ANN quality evaluation: recall@3 of the hyperplane-LSH retriever "
    "against exact brute-force top-3, per probe.  This is the operator a "
    "100 TB similarity pipeline runs on a SAMPLE to tune bits/bands "
    "before committing the full-corpus bucket join: the exact side is "
    "brute-force over the (small) probe set only, the LSH side is the "
    "production bucket-join shape, and the comparison is an equi-join on "
    "(query_id, neighbor_id) + one regroup — all bounded by probes x k.  "
    "Ranks use the same snapped cosine and (cos DESC, vec_id) tie-break "
    "in both engines, so the retrieved sets are bit-identical.",
    oracle=_RECALL_ORACLE.format(
        nz=_NZ_SQL, cell_expr=_bucket_sql("embedding"), cos=_COS_SNAP_SQL
    ),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_eval(spark, sf_dir, _bucket_col)


@register(
    "ann_recall_eval_ivf",
    "similarity",
    doc="recall@3 of the codebook-IVF retriever against exact brute-force "
    "top-3 — the companion evaluation to ann_recall_eval (which grades "
    "the hyperplane-LSH retriever).  Together they are the tune-the-"
    "retriever-on-a-sample step: k (cell count) trades recall against "
    "cell population exactly as LSH bits do, and this query is how that "
    "trade is measured before committing the full-corpus cell join.",
    oracle=lambda spark, sf_dir: _RECALL_ORACLE.format(
        nz=_NZ_SQL,
        cell_expr=ivf_cell_sql("embedding", _ivf_k(spark, sf_dir)),
        cos=_COS_SNAP_SQL,
    ),
)
def ann_recall_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _ivf_k(spark, sf_dir)
    return _recall_eval(spark, sf_dir, lambda e: ivf_cell_col(e, k))


@register(
    "ann_recall_eval_multiprobe",
    "similarity",
    doc="recall@3 of the nprobe=2 multi-probe IVF retriever against exact "
    "brute-force top-3 — quantifies the recall the runner-up cell buys "
    "over ann_recall_eval_ivf's single probe, per probe vector.  This is "
    "how a deployed IVF index chooses nprobe: recall(nprobe) is measured "
    "on a sample at each candidate setting and the knee picked; the "
    "per-query recall here can only be >= the single-probe eval's "
    "(tests assert the dominance).  Same exact-side shape and bit-"
    "identical tie-breaks as the other recall evals.  Geometry-"
    "parametric oracle, regenerated at the auto-derived k.",
    oracle=lambda spark, sf_dir: f"""
        WITH nz AS ({_NZ_SQL}),
        probes AS (SELECT vec_id, embedding FROM nz WHERE vec_id < 10),
        cells AS (
            SELECT vec_id, embedding,
                   {ivf_cell_sql("embedding", _ivf_k(spark, sf_dir))} AS cell
            FROM nz
        ), {_multiprobe_cells_sql("embedding", _ivf_k(spark, sf_dir))},
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                          ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
                FROM nz q JOIN nz c ON q.vec_id <> c.vec_id
                WHERE q.vec_id < 10
            ) WHERE rnk <= 3
        ), approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                          ORDER BY {_COS_SNAP_SQL} DESC, c.vec_id) AS rnk
                FROM probes q
                JOIN pcells p ON p.vec_id = q.vec_id
                JOIN cells c ON c.cell = p.cell AND c.vec_id <> q.vec_id
            ) WHERE rnk <= 3
        )
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS recall
        FROM exact e
        LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
    """,
)
def ann_recall_eval_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _ivf_k(spark, sf_dir)
    emb = _nonzero_embeddings(spark, sf_dir).select(
        "vec_id",
        "embedding",
        ivf_cell_col(F.col("embedding"), k).alias("cell"),
        norm("embedding").alias("nrm"),
    )
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    q_cells = probes.select(
        "query_id",
        "q_emb",
        "q_norm",
        F.explode(_multiprobe_cells_col(F.col("q_emb"), k)).alias("p_cell"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("c_cell"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    cos = snap6(
        dot_kernel(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact = (
        F.broadcast(probes)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id")
    )
    approx = (
        F.broadcast(q_cells)
        .join(
            c,
            (F.col("p_cell") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("query_id").alias("a_query_id"),
            F.col("neighbor_id").alias("a_neighbor_id"),
            F.lit(1).alias("hit"),
        )
    )
    joined = exact.join(
        approx,
        (F.col("query_id") == F.col("a_query_id"))
        & (F.col("neighbor_id") == F.col("a_neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hits"),
        (
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double")
            / F.count("*")
        ).alias("recall"),
    )


# ---- maintained IVF index artifact ------------------------------------------

# Where index artifacts live: the conf (production — a named warehouse
# path) or a per-corpus tempdir; namespaced per corpus like the HLL
# sketch shards (analytics.sketch_table_dir) so two corpora sharing one
# session never clobber each other's artifacts.
_IVF_INDEX_DIR_CONF = "spark.arrowExperimentsSpark.ivf.indexDir"
_IVF_INDEX_BUCKETS = 32


def ivf_index_dir(sf_dir: str, spark: SparkSession | None = None) -> str:
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    if spark is not None:
        conf = spark.conf.get(_IVF_INDEX_DIR_CONF, "")
        if conf:
            return os.path.join(conf, f"corpus_{tag}")
    return os.path.join(tempfile.gettempdir(), f"aes_ivf_index_{tag}")


def _ivf_source_fingerprint(sf_dir: str, k: int, n_buckets: int) -> str | None:
    """Freshness token for the embeddings source + index geometry —
    (relpath, size, mtime) of every source file plus (k, n_buckets).
    None when nothing is statable: fail OPEN (always rebuild), the
    ADVICE-r8 empty-walk rule."""
    import hashlib
    import os

    root = os.path.join(sf_dir, "embeddings.parquet")
    entries: list[str] = []
    if os.path.isfile(root):
        st = os.stat(root)
        entries.append(f"embeddings.parquet:{st.st_size}:{st.st_mtime_ns}")
    else:
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                entries.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    if not entries:
        return None
    token = f"k={k};n_buckets={n_buckets};" + ";".join(sorted(entries))
    return hashlib.sha256(token.encode()).hexdigest()


def ensure_ivf_index(
    spark: SparkSession, sf_dir: str, n_buckets: int | None = None
) -> tuple[str, int]:
    """BUILD-IF-ABSENT the maintained IVF index artifact for ``sf_dir``
    (r9 verdict #5): the same ``cells/`` layout
    ``incremental_ivf_index_sink`` maintains — (cell, vec_id, embedding)
    postings bucketed on cell, versioned snapshot, ``_GEOMETRY.json``
    guard — built once per (corpus fingerprint, geometry) and replayed
    by every later probe, the reference's pre-materialize-once
    discipline.  Returns ``(base_dir, k)``.

    Freshness has two owners, recorded EXPLICITLY in the manifest's
    ``maintained_by`` field (r11 ADVICE — ownership used to be inferred
    from manifest absence, which failed to protect a sink that took
    over a builder-built index):

    * ``maintained_by: "builder"`` — the manifest carries the corpus
      fingerprint; stale when the SOURCE files or geometry changed,
      rebuilt here under the writer lease.
    * ``maintained_by: "sink"`` (stamped by
      ``incremental_ivf_index_sink`` at attach) or no manifest at all
      (legacy pre-marker sinks) — a sink ingests streams, not corpus
      files, so there is no source to fingerprint.  A committed
      version whose recorded ``_GEOMETRY.json`` matches this probe's k
      IS the live index: treated as fresh, never rebuilt out from
      under the sink (a rebuild from ``sf_dir`` would silently discard
      every sink-ingested posting not present in the corpus files).

    Rebuilds are NON-DESTRUCTIVE (r10 verdict #1): the new postings
    write into the NEXT snapshot version and the LATEST pointer swaps —
    the ``upsert_snapshot_sink`` discipline — so a concurrent probe
    that resolved the committed version just before the rebuild keeps
    reading it (the previous version survives the post-commit prune).
    The old code ``rmtree``'d ``cells/`` under the lease, which
    serializes WRITERS but left readers — intentionally lease-free —
    reading a vanishing directory for the whole rebuild (hours at
    100 TB).  ``_GEOMETRY.json``/manifest update AFTER the version
    commit: a crash between commit and record re-runs the rebuild on
    the next call (fresh() sees the stale manifest), never strands a
    mixed state readers could act on."""
    import json
    import os
    import time

    from arrow_experiments_spark.streaming.egress import (
        WriterLease,
        WriterLeaseHeld,
        _alloc_seq,
        _committed_version,
        _merge_batch,
        _write_json_atomic,
        derive_index_buckets,
    )

    from arrow_experiments_spark.operators.dedup import _embeddings_n

    k = _ivf_k(spark, sf_dir)
    if n_buckets is None:
        # derived, not pinned (r10 verdict #4): bucket count scales with
        # the corpus so a probe's touched-bucket scan stays ~constant
        # rows; recorded per version in _LAYOUT.json, which the probe
        # ADOPTS — changing the derivation only re-buckets, never
        # changes results
        n_buckets = derive_index_buckets(_embeddings_n(spark, sf_dir))
    base = ivf_index_dir(sf_dir, spark)
    cells_dir = os.path.join(base, "cells")
    manifest_path = os.path.join(base, "_INDEX_MANIFEST.json")
    geometry_path = os.path.join(base, "_GEOMETRY.json")
    fp = _ivf_source_fingerprint(sf_dir, k, n_buckets)

    def fresh() -> bool:
        if _committed_version(cells_dir) is None:
            return False
        try:
            with open(manifest_path) as f:
                man = json.load(f)
        except FileNotFoundError:
            man = None
        except (OSError, ValueError):
            return False
        # Ownership is EXPLICIT (r11 ADVICE): a sink attach stamps
        # ``maintained_by: "sink"`` into the manifest, so an index a
        # sink is delta-maintaining — even one a builder created first —
        # is never rebuilt from the corpus files out from under it (a
        # rebuild would silently discard every sink-ingested posting
        # not present in sf_dir).  The legacy no-manifest state reads
        # as sink-owned too (pre-marker sinks wrote nothing here).
        if man is None or man.get("maintained_by") == "sink":
            # sink-owned: fresh iff the recorded codebook matches the
            # k this probe derived — source fingerprints are
            # meaningless once the sink has merged postings the
            # corpus files don't contain
            try:
                with open(geometry_path) as f:
                    return json.load(f).get("ivf_k") == k
            except (OSError, ValueError):
                return False
        return fp is not None and man.get("fingerprint") == fp

    if fresh():
        return base, k
    # (re)build under the writer lease — the single-writer contract the
    # sink itself enforces.  If another process is mid-build, wait for
    # its manifest instead of racing it.
    deadline = time.monotonic() + 120
    while True:
        try:
            lease = WriterLease.acquire(base)
            break
        except WriterLeaseHeld:
            if time.monotonic() > deadline:
                raise
            time.sleep(0.5)
            if fresh():
                return base, k
    try:
        if fresh():  # another builder finished while we acquired
            return base, k
        # the snapshot's own next version (no checkpoint: never a skip)
        seq = _alloc_seq(_committed_version(cells_dir), 0, checkpointed=False)
        nz = _nonzero_embeddings(spark, sf_dir)
        postings = nz.select(
            ivf_cell_col(F.col("embedding"), k).alias("cell"),
            "vec_id",
            "embedding",
        )
        # committed=None: a rebuild REPLACES the snapshot contents (the
        # whole corpus re-assigns under the new fingerprint/geometry),
        # so the merge takes no old rows forward — but the version it
        # writes slots AFTER the committed one, and in-flight readers
        # of that version stay consistent through the swap
        version = _merge_batch(
            spark, postings, cells_dir,
            key_cols=["cell", "vec_id"], order_col="vec_id",
            n_buckets=n_buckets, bucket_cols=["cell"],
            seq=seq, committed=None, lease=lease,
        )
        if version is not None:
            # geometry + manifest AFTER the commit, atomically — the
            # rebuild is the one writer allowed to CHANGE the recorded
            # codebook (a sink attach with a different k must still
            # raise, which _check_geometry enforces for it)
            _write_json_atomic(geometry_path, {"ivf_k": k})
            if fp is not None:
                _write_json_atomic(
                    manifest_path,
                    {"fingerprint": fp, "k": k, "maintained_by": "builder"},
                )
        return base, k
    finally:
        lease.release()


def _ivf_probes(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The probe frame the IVF index queries share: the first 10
    nonzero vectors with their cell assignment under codebook ``k``."""
    return (
        _nonzero_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            ivf_cell_col(F.col("embedding"), k).alias("q_cell"),
            F.col("embedding").alias("q_emb"),
            norm("embedding").alias("q_norm"),
        )
    )


def _ivf_probe_score(idx: DataFrame, probes: DataFrame) -> DataFrame:
    """Cell-restricted top-3 by snapped cosine over an index postings
    frame (cell, vec_id, embedding) — the scoring stage shared by
    ``ann_ivf_index_probe`` (disk index, bucket-pruned) and the
    transport interop path (postings fetched back through the catalog
    as Arrow, r11 verdict #5): both paths run EXACTLY this plan, so
    their parity is a code identity plus the transport round-trip."""
    c = idx.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("c_cell"),
        F.col("embedding").alias("c_emb"),
        norm("embedding").alias("c_norm"),
    )
    scored = (
        F.broadcast(probes)
        .join(
            c,
            (F.col("q_cell") == F.col("c_cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            snap6(
                dot("q_emb", "c_emb")
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.select("*", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 3
    )


@register(
    "ann_ivf_index_probe",
    "similarity",
    doc="IVF retrieval against the MAINTAINED index artifact: the same "
    "declared result as ann_ivf_codebook (cell-restricted top-3 by "
    "snapped cosine, shared geometry-parametric oracle), but the cell "
    "assignments come from the persisted (cell, vec_id, embedding) "
    "posting snapshot that incremental_ivf_index_sink delta-maintains — "
    "built once per corpus fingerprint (ensure_ivf_index), probed "
    "many times.  The probe reads ONLY the index buckets its query "
    "cells hash into (the bucketed layout's partition pruning), so at "
    "100 TB a 10-probe lookup touches ~10 buckets of the index, not "
    "the corpus: this is the operational form of the IVF family — "
    "ann_ivf_codebook re-assigns the whole corpus per query and exists "
    "to pin the semantics.",
    oracle=lambda spark, sf_dir: _ivf_codebook_oracle_sql(
        _ivf_k(spark, sf_dir)
    ),
)
def ann_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_experiments_spark.streaming.egress import (
        _adopted_index_buckets,
        _committed_version,
        _prepare_view,
        _prune_buckets,
    )

    base, k = ensure_ivf_index(spark, sf_dir)
    import os

    cells_dir = os.path.join(base, "cells")
    # adopt the COMMITTED layout's bucket count (builder-derived or
    # sink-chosen) — the probe must prune against the geometry the
    # postings were actually written under, never a pinned constant
    nb = _adopted_index_buckets(cells_dir) or _IVF_INDEX_BUCKETS
    idx = _prepare_view(
        spark, cells_dir, _committed_version(cells_dir),
        nb, ["cell", "vec_id"], ["cell"],
    )
    probes = _ivf_probes(spark, sf_dir, k)
    probe_bucket = F.pmod(
        F.xxhash64(F.col("q_cell")), F.lit(nb)
    ).cast("int")
    idx = _prune_buckets(idx, probes, probe_bucket)
    return _ivf_probe_score(idx, probes)
