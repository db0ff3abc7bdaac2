"""X3 — the similarity ladder's FIT/ENCODE side: the state a corpus
writes at ingest (normalized vectors, int8 codes, IVF-PQ codes) and the
reports that decide when to rewrite it (codebook staleness).

Split out of ``operators/similarity.py`` (VERDICT r14 item 7) along the
production seam: an ANN deployment WRITES this module's relations once
per ingest wave (encode scans the corpus; fits touch it ``iters``
times), while ``similarity.py``'s search rungs READ them per query.
Public names are re-exported from ``similarity`` so registry builders,
oracles, and tests are untouched by the split.

Reference scope: the reference ETL has no vector tier at all
(``index.js`` stores scalar price rows); this module is part of the
beyond-reference training-data surface mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators.clustering import sq_dists_expr
from etl_fuel_priceguide_ec2_spark.operators.util import (
    fan_out,
    mat_lit,
    mat_sql,
    plan_barrier,
)


def _residual_sql(centroids) -> str | None:
    """``v - centroids[cell]`` as ONE SQL expression string (reads the
    projected ``v`` and ``cell`` columns), or None when the centroid
    matrix has non-finite values (not renderable as SQL literals). The
    string form exists for the same reason as ``sq_dists_sql``: the
    Column construction (mat_lit + a zip_with lambda) pays py4j
    round-trips per call site, and the residual is referenced by all m
    sub-code folds. Lambda variables use reserved ``_rsd_*`` names —
    same capture hazard as ``_sqd_*`` (a column named like them would
    be shadowed inside the lambda)."""
    mt = mat_sql(centroids)
    if mt is None:
        return None
    return (
        f"zip_with(v, element_at({mt}, CAST(cell + 1 AS INT)), "
        "(_rsd_x, _rsd_y) -> _rsd_x - _rsd_y)"
    )


def _pair_sq_dist(cv: str, qv: str):
    """Full-precision squared-L2 between two projected vector columns
    — the ONE definition the exact brute-force ground truth AND the
    PQ rerank both fold (code-review r14: two verbatim copies could
    silently diverge on a rounding/fold-order change, desynchronizing
    the recall harness from the rerank it measures)."""
    return F.aggregate(
        F.zip_with(cv, qv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _with_norm(df: DataFrame, id_col: str, vec_col: str, extra: list[str] | None = None) -> DataFrame:
    df = fan_out(df)
    return df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        *[F.col(c) for c in extra or []],
    ).withColumn("norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)))


def _nearest(d):
    """Index of the smallest entry of a per-row distance array as a
    long, ties to the LOWER index (first ``array_position`` match) —
    the primary-cell / sub-code assignment every encode shares."""
    return (F.array_position(d, F.array_min(d)) - 1).cast("long")


# SQ8 code format: each component of the unit-normalized vector scaled
# to [-127, 127] and rounded, so the integer dot product of two codes
# over _SQ8_SCALE² approximates their cosine.
_SQ8_SCALE = 127


def _sq8_code():
    """The SQ8 code of the projected ``v``/``norm`` columns:
    round(x/‖x‖·127) per component, as ``array<long>``."""
    return F.transform("v", lambda x: F.round(x / F.col("norm") * _SQ8_SCALE).cast("long"))


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, q8: array<long of int8 values>) — unit-normalized scalar
    quantization. Kept as a separate op so the quantized column can be
    written once and scanned many times (the point of quantizing)."""
    return _with_norm(df, id_col, vec_col).select(F.col(id_col), _sq8_code().alias("q8"))


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    pq_codebooks: list[list[list[float]]],
    residual: bool = False,
) -> DataFrame:
    """Encode the corpus into its stored IVF-PQ form: (id, cell,
    code0..code{m-1}) — the persistable state the PQ rung promises
    (write THIS relation once at ingest, ``partitionBy("cell")`` so
    probes prune at the partition level; searches scan 8-byte codes
    instead of vectors; ``topk_ivf_pq(codes=...)`` consumes it
    unchanged, equality with end-to-end pinned by test). Assignment
    argmins tie to the lower index (the clustering._assign
    convention); the trailing no-op barrier keeps the m+1 fold
    expressions from re-expanding under downstream joins.

    ``residual=True`` encodes sub-codes over (v - own-cell centroid)
    — the classical FAISS IVF,PQ form; pair with codebooks fitted via
    ``fit_pq_codebooks(residuals_of=centroids)`` and search with
    ``topk_ivf_pq(residual=True)`` so the ADC tables subtract the
    probed cell's centroid from the query the same way."""
    m = len(pq_codebooks)
    dim = len(centroids[0])
    if dim % m:  # same guard as topk_ivf_pq: a silent sub = dim//m
        # would lossily drop the trailing dims from every code
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    if id_col in ("v", "norm", "cell", "_rv") or id_col in {
        f"code{s}" for s in range(m)
    }:
        # the projections below would produce duplicate column names
        # (internal v/norm/cell/_rv, or the generated code0..code{m-1}
        # output aliases — ADVICE r14) and the residual stage's
        # `cell`/`_rv` references would resolve ambiguously — collide
        # loudly up front (the sq_dists_sql enforcement pattern)
        raise ValueError(
            f"pq_encode: id_col {id_col!r} collides with an internal "
            f"or generated column name (v/norm/cell/_rv/code0..code{m - 1})"
        )
    sub = dim // m
    _dists = sq_dists_expr
    cb = _with_norm(corpus, id_col, vec_col)
    cd = _dists("v", centroids)
    cell_col = _nearest(cd).alias("cell")
    if residual:
        rv = _residual_sql(centroids)
        if rv is not None:
            # staged string fast path: project the cell (barrier), then
            # the residual vector ONCE (barrier), then the m sub-folds
            # over slices of the projected column — without the stages
            # the coarse fold re-expands into all 16 sub-folds (17
            # evaluations per row) and the Column-HOF construction pays
            # ~16 lambda builds of py4j chatter (docs/SCALE.md §7);
            # measured 10.3 -> ~2 s per bench rep at sf0.1, same rows.
            based = plan_barrier(cb.select(F.col(id_col), F.col("v"), cell_col))
            based = plan_barrier(
                based.select(F.col(id_col), "cell", F.expr(rv).alias("_rv"))
            )
            code_cols = [
                _nearest(_dists(f"slice(_rv, {s * sub + 1}, {sub})", pq_codebooks[s]))
                .alias(f"code{s}")
                for s in range(m)
            ]
            return plan_barrier(based.select(F.col(id_col), "cell", *code_cols))
        # non-renderable centroids (non-finite values): Column fallback
        own = F.element_at(
            mat_lit(centroids), F.array_position(cd, F.array_min(cd)).cast("int")
        )
        enc_v = F.zip_with("v", own, lambda x, y: x - y)
    code_cols = []
    for s in range(m):
        sd = (
            _dists(F.slice(enc_v, s * sub + 1, sub), pq_codebooks[s])
            if residual
            else _dists(f"slice(v, {s * sub + 1}, {sub})", pq_codebooks[s])
        )
        code_cols.append(_nearest(sd).alias(f"code{s}"))
    # plan_barrier: the m+1 argmin folds (coarse cell + m sub-codes)
    # would otherwise re-expand under every downstream join reference.
    return plan_barrier(cb.select(
        F.col(id_col),
        cell_col,
        *code_cols,
    ))


def pq_reconstruction_report(
    old_snapshot: DataFrame,
    new_snapshot: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    pq_codebooks: list[list[list[float]]],
    growth_threshold: float = 1.2,
    residual: bool = False,
) -> DataFrame:
    """Codebook-staleness report over a persisted PQ index — the
    decision half of the monitoring loop (`embedding_snapshot_drift`
    measures that the corpus moved; THIS says whether the movement
    broke the quantizer): re-encode a NEW ingest wave against the OLD
    (fit-time) codebooks and compare per-coarse-cell mean
    reconstruction error to the fit-time baseline.

    Output: (cell, n_old, n_new, err_old, err_new, err_growth, refit)
    — one row per coarse cell seen in either snapshot, where
    ``err_*`` is the mean total PQ reconstruction error (sum over the
    m subspaces of the squared distance to the nearest codeword; the
    quantity Lloyd's minimizes at fit time), ``err_growth`` =
    err_new/err_old, and ``refit`` flags growth beyond
    ``growth_threshold``. Cells present in only one snapshot carry
    NULL on the other side (growth/refit NULL — a brand-new cell is a
    coarse-layer refit question, not a PQ one).

    Determinism: each row's error is a 9dp-rounded DECIMAL term sum
    (exact, order-free), the per-cell mean divides the exact DECIMAL
    sum once — so the report is replayable cross-engine bit-for-bit.

    100 TB shape: two corpus scans (one per snapshot) into a
    cells-row aggregate; codebooks broadcast as literals; nothing
    wider than (cell, error) ever shuffles. Run it per ingest wave —
    when ``refit`` fires, refit the flagged cells' sub-codebooks and
    re-encode only those partitions of the code store.

    ``residual=True`` measures the residual-frame error (v minus the
    own-cell centroid before sub-quantization) against codebooks
    fitted with ``fit_pq_codebooks(residuals_of=centroids)`` — pair
    the flag with however the store was encoded."""
    m = len(pq_codebooks)
    dim = len(centroids[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m

    def _cell_errors(df: DataFrame) -> DataFrame:
        b = fan_out(df).select(
            F.col(vec_col).cast("array<double>").alias("v")
        )
        cd = sq_dists_expr("v", centroids)
        staged = plan_barrier(b.select(F.col("v"), _nearest(cd).alias("cell")))
        src = "v"
        if residual:
            rv = _residual_sql(centroids)
            if rv is not None:
                staged = plan_barrier(
                    staged.select("cell", F.expr(rv).alias("_rv"))
                )
            else:  # Column fallback (non-finite centroid values)
                own = F.element_at(
                    mat_lit(centroids), (F.col("cell") + 1).cast("int")
                )
                staged = plan_barrier(
                    staged.select(
                        "cell",
                        F.zip_with("v", own, lambda x, y: x - y).alias("_rv"),
                    )
                )
            src = "_rv"
        err = None
        for s in range(m):
            sd = sq_dists_expr(
                f"slice({src}, {s * sub + 1}, {sub})", pq_codebooks[s]
            )
            t = F.round(F.array_min(sd), 9).cast("decimal(18,9)")
            err = t if err is None else err + t
        rows = staged.select("cell", err.alias("_err"))
        return rows.groupBy("cell").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum("_err").cast("double") / F.count(F.lit(1)), 9
            ).alias("err"),
        )

    old_stat = _cell_errors(old_snapshot).select(
        "cell", F.col("n").alias("n_old"), F.col("err").alias("err_old")
    )
    new_stat = _cell_errors(new_snapshot).select(
        "cell", F.col("n").alias("n_new"), F.col("err").alias("err_new")
    )
    joined = old_stat.join(new_stat, "cell", "full_outer")
    # err_old == 0 is attainable (a small cell whose vectors sit ON its
    # codewords after the 9dp rounding): Spark's non-ANSI Divide would
    # yield NULL where DuckDB's double division yields inf, and a
    # genuinely-degraded cell would report refit NULL instead of true —
    # special-case it (ADVICE r15): growth NULL (the ratio is
    # undefined), refit = err_new > 0 (perfect→imperfect IS drift).
    # Cells present in only one snapshot keep NULL growth AND refit.
    growth = F.when(
        F.col("err_old").isNull()
        | F.col("err_new").isNull()
        | (F.col("err_old") == 0),
        F.lit(None).cast("double"),
    ).otherwise(F.round(F.col("err_new") / F.col("err_old"), 6))
    refit = (
        F.when(
            F.col("err_old").isNull() | F.col("err_new").isNull(),
            F.lit(None).cast("boolean"),
        )
        .when(F.col("err_old") == 0, F.col("err_new") > 0)
        .otherwise(
            F.round(F.col("err_new") / F.col("err_old"), 6)
            > F.lit(growth_threshold)
        )
    )
    return joined.select(
        "cell",
        "n_old",
        "n_new",
        "err_old",
        "err_new",
        growth.alias("err_growth"),
        refit.alias("refit"),
    )
