"""X3 — similarity SEARCH over an embedding column: the ladder's read
side (the fit/encode state it probes lives in ``similarity_index``).

The rungs, from exact to most compressed:

- ``cosine_topk`` / ``exact_sq_topk``: brute force (query set
  broadcast, corpus scanned once) — the exact ground truths;
- ``cosine_topk_ivf``: each query probes its own precomputed cell;
- ``cosine_topk_rplsh``: random-hyperplane LSH buckets, multi-probe;
- ``cosine_topk_int8``: brute force over int8 (SQ8) codes;
- ``cosine_topk_ivf_sq8`` (+ ``_rerank``): the ``nprobe`` nearest
  k-means cells over SQ8 codes, optionally reranked at full precision;
- ``cosine_topk_ivf2_sq8``: two-level (coarse x residual) cells;
- ``topk_ivf_pq``: product-quantized codes scored by ADC table lookups,
  raw or residual, with an optional exact rerank;
- ``cosine_topk_zorder``: candidates from the Z-order prefix of the
  storage layout.

Every rung is one shape — probe → score → top-k — assembled from the
private helpers below: the broadcast probe join with its self-pair
filter, the float-cosine and SQ8 integer scores, and ONE ``row_number``
cut per query ordered by score then ``neighbor_id``, so a tiebreak or
rounding change cannot drift between rungs. ``ann_recall_report``
measures any rung against the exact ground truth.

No Python rows are ever materialized: the dot product is a Catalyst
higher-order function (whole-stage codegen), the ranking a window. For
very wide vectors a pandas_udf + numpy matmul variant is provided for
comparison; the native path wins below ~1k dims.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from etl_fuel_priceguide_ec2_spark.operators.clustering import sq_dists_expr
from etl_fuel_priceguide_ec2_spark.operators.similarity_index import (  # noqa: F401
    # the fit/encode side lives in similarity_index (VERDICT r14 item
    # 7); its public names are re-exported so callers keep importing
    # via this module
    _SQ8_SCALE,
    _nearest,
    _pair_sq_dist,
    _residual_sql,
    _sq8_code,
    _with_norm,
    pq_encode,
    pq_reconstruction_report,
    quantize_int8,
)
from etl_fuel_priceguide_ec2_spark.operators.util import (
    fan_out,
    mat_lit,
    plan_barrier,
)


def _float_sides(corpus, queries, id_col, vec_col, *more, extra=None, prep=None):
    """Both sides of a float-cosine search: (neighbor_id, cv, cn) over
    the corpus and (query_id, qv, qn) over the queries, each followed
    by ``more``. ``extra`` columns ride through ``_with_norm``; ``prep``
    runs on the normed frame before the projection."""

    def side(df, rid, p):
        normed = _with_norm(df, id_col, vec_col, extra)
        if prep is not None:
            normed = prep(normed)
        return normed.select(
            F.col(id_col).alias(rid), F.col("v").alias(f"{p}v"), F.col("norm").alias(f"{p}n"), *more
        )

    return side(corpus, "neighbor_id", "c"), side(queries, "query_id", "q")


def _probe_join(c: DataFrame, q: DataFrame, key: str | None = None) -> DataFrame:
    """Broadcast the bounded query side onto the corpus scan: an
    equi-join on the probe ``key`` followed by the self-pair filter, or
    (no key, brute force) a nested-loop join on the self-pair
    condition itself."""
    not_self = F.col("query_id") != F.col("neighbor_id")
    if key is None:
        return c.join(F.broadcast(q), not_self)
    return c.join(F.broadcast(q), key).filter(not_self)


def _cosine():
    """Float cosine of the projected (cv, cn) x (qv, qn) pair."""
    return F.aggregate(
        F.zip_with("cv", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    ) / (F.col("cn") * F.col("qn"))


def _cosine4():
    """``cosine`` rounded to 4dp; ``+ 0.0`` turns a rounded -0.0 into
    0.0 (engines disagree on the sign of a rounded tiny negative, and
    the oracles add 0.0 the same way)."""
    return F.round("cosine", 4) + F.lit(0.0)


def _topk(scored: DataFrame, score: str, k: int, out=None, ascending: bool = False) -> DataFrame:
    """THE rank cut of every rung: ``row_number`` per ``query_id``
    ordered by ``score`` (descending unless ``ascending``) then
    ``neighbor_id``, kept while <= k. Returns (query_id, neighbor_id,
    rank, ``out``); with ``out`` None, the bare (query_id, neighbor_id)
    candidate set a rerank consumes."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    rank, cols = ("rank", ["rank", out]) if out is not None else ("_crank", [])
    return (
        scored.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select("query_id", "neighbor_id", *cols)
    )


def _sq8_topk(c: DataFrame, q: DataFrame, k: int, key: str | None = None) -> DataFrame:
    """Probe, score and cut over SQ8 codes (``cq`` x ``qq``): the exact
    integer dot product over _SQ8_SCALE² as ``approx_cosine``."""
    scored = (
        _probe_join(c, q, key)
        .withColumn(
            "dot_i",
            F.aggregate(
                F.zip_with("cq", "qq", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )
        .withColumn(
            "approx_cosine", F.round(F.col("dot_i") / F.lit(float(_SQ8_SCALE * _SQ8_SCALE)), 6)
        )
    )
    return _topk(scored, "approx_cosine", k, "approx_cosine")


def _empty_topk(corpus: DataFrame, id_col: str, score_col: str) -> DataFrame:
    """Empty corpus (no codebook): an empty result with the rung's
    stable (query_id, neighbor_id, rank, score) schema."""
    return corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("double").alias(score_col),
    ).filter(F.lit(False))


def _probed_cells(centroids, nprobe: int):
    """Explode each ``v`` row into its ``nprobe`` ranked probe cells."""
    qd = sq_dists_expr("v", centroids)
    return F.explode(ranked_probe_cells(qd, len(centroids), nprobe)).alias("cell")


def ranked_probe_cells(dists, cells: int, nprobe: int):
    """The ONE definition of IVF probe-cell ranking (ADVICE r15): given
    a per-row array of ``cells`` squared distances, return the
    ``nprobe`` nearest cell ids as ``array<long>``, ranked ascending
    with ties to the LOWER cell id. Every consumer of the probe set —
    ``topk_ivf_pq``'s query side, ``cosine_topk_ivf_sq8``, and the
    serving-layer ``probe_cells`` relation that
    ``prune_codes_to_probed_cells`` / ``ann_query_stream(prune_cells=True)``
    act on — folds it through ``_probed_cells``, never a re-derivation
    (``cosine_topk_ivf2_sq8`` ranks composite cells by d1 + d2, a
    different measure): if ranking ever diverged (fold
    order, tiebreak, cast), pruning would silently drop cells the
    search actually probes and return wrong results instead of
    erroring."""
    ranked = F.array_sort(
        F.zip_with(
            dists,
            F.sequence(F.lit(0), F.lit(cells - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"].cast("long"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: for every query vector, the k
    nearest corpus vectors. Output: (query_id, neighbor_id, rank, cosine).

    Physical shape: broadcast(queries) nested-loop join against one
    corpus scan → window per query_id. Cost O(|corpus|·|queries|) dot
    products, fully distributed, no shuffle of the corpus (ranking
    shuffles only (query_id, neighbor_id, score) triples).
    """
    c, q = _float_sides(corpus, queries, id_col, vec_col)
    scored = _probe_join(c, q).withColumn("cosine", _cosine())
    return _topk(scored, "cosine", k, _cosine4().alias("cosine"))


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    k: int = 10,
) -> DataFrame:
    """IVF-style ANN: corpus pre-bucketed by a coarse-quantizer cell
    (``cell_col``); each query probes only its own cell. At 100 TB the
    cells are the partition key, so a probe touches one partition's
    files instead of the corpus. Recall < 1.0 by construction (single
    probe). To widen the probe, assign cells from a codebook and take
    ``nprobe`` nearest cells instead (``cosine_topk_ivf_sq8``,
    ``topk_ivf_pq``)."""
    c, q = _float_sides(
        corpus, queries, id_col, vec_col, F.col(cell_col).alias("cell"), extra=[cell_col]
    )
    scored = _probe_join(c, q, "cell").withColumn("cosine", _cosine())
    return _topk(scored, "cosine", k, _cosine4().alias("cosine"))


def cosine_scores_pandas(
    corpus: DataFrame, query_vec: list[float], vec_col: str, id_col: str
) -> DataFrame:
    """Vectorized pandas_udf variant: cosine of every corpus vector
    against ONE query vector via numpy. Arrow-batched — used when vector
    width makes the per-element HOF loop slower than a matmul."""
    import numpy as np

    qv = np.asarray(query_vec, dtype="float64")
    qn = float(np.sqrt((qv * qv).sum()))

    @pandas_udf("double")
    def _cos(vs: pd.Series) -> pd.Series:
        m = np.vstack(vs.apply(lambda x: np.asarray(x, dtype="float64")))
        dots = m @ qv
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (norms * qn))

    return corpus.select(F.col(id_col), _cos(F.col(vec_col)).alias("cosine"))


def cosine_topk_rplsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    planes: int = 6,
    seed: int = 42,
    multiprobe_hamming: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket = sign bits of <v, plane_j>.
    Queries probe their own bucket plus all buckets within
    ``multiprobe_hamming`` bit flips, then rank candidates by exact
    cosine. At scale the corpus is written bucketed/partitioned by the
    signature, so a probe touches a handful of partitions instead of the
    corpus; recall grows with multiprobe radius (and is highest on
    clustered real-world embeddings — random vectors are the worst
    case).

    Pass ``dim`` (the embedding width — a schema-level constant in any
    real corpus) to keep plan construction action-free; when omitted, a
    one-row ``first()`` infers it at build time.

    Defaults are evidenced by the round-2 sweep (docs/SCALE.md §6):
    multiprobe radius dominates recall (probe=2 is 2-4× probe=1 on the
    worst-case random corpus at ~10% wall cost), while ``planes`` sizes
    the bucket space (2^planes) and should grow with corpus size, not
    be used as a recall knob.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    hp = rng.standard_normal((planes, dim))

    def _sig(df: DataFrame) -> DataFrame:
        # Loud dim check (ADVICE r02): with a wrong caller-supplied dim,
        # zip_with null-pads the mismatched arrays, the fold aggregates
        # to NULL, when(NULL >= 0) falls to otherwise(0), and every
        # signature silently collapses to bucket 0 — wrong AND slow with
        # no error. Fail the job instead.
        v = F.when(F.size("v") == F.lit(dim), F.col("v")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"cosine_topk_rplsh: vector width != dim={dim} (got "),
                    F.size("v").cast("string"),
                    F.lit(")"),
                )
            )
        )
        # ONE nested array literal + a transform/fold, not planes*dim
        # Literal nodes chained per plane: the expanded expression tree
        # made Janino compile seconds of generated code per job (same
        # codegen-bound pathology measured on the k-means literals).
        # Values are identical: dot_j >= 0 contributes 2^j, summed.
        hp_lit = mat_lit([hp[j] for j in range(planes)])
        dots = F.transform(
            hp_lit,
            lambda h: F.aggregate(
                F.zip_with(v, h, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        bitvals = F.zip_with(
            dots,
            F.sequence(F.lit(0), F.lit(planes - 1)),
            lambda d, j: F.when(d >= 0, F.pow(F.lit(2.0), j)).otherwise(F.lit(0.0)),
        )
        # cast LONG, not int: powers of two are exact in double up to
        # 2^53, but an int cast caps usable planes at 30 (2^31 wraps or
        # errors under ANSI); long keeps parity with the oracle's BIGINT
        sig = F.aggregate(bitvals, F.lit(0.0), lambda a, x: a + x).cast("long")
        return df.withColumn("sig", sig)

    # NB: no expression barrier here (unlike the IVF-SQ8 corpus sides):
    # the 6-plane signature fold is shallow, and an A/B measured the
    # barrier a wash (2.11 vs 2.05 s at sf0.1) — re-expansion only
    # matters when the inlined tree is deep
    c, q = _float_sides(corpus, queries, id_col, vec_col, "sig", prep=_sig)
    # multiprobe: expand each query to every signature within hamming<=r
    probe_sigs = [0]
    if multiprobe_hamming >= 1:
        probe_sigs += [1 << j for j in range(planes)]
    if multiprobe_hamming >= 2:
        probe_sigs += [
            (1 << a) | (1 << b) for a in range(planes) for b in range(a + 1, planes)
        ]
    q = q.withColumn(
        "sig", F.explode(F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in probe_sigs]))
    )
    # no broadcast hint (unlike _probe_join): the multiprobe side is
    # |queries| x |probe_sigs| rows
    scored = (
        c.join(q, "sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine())
        .select("query_id", "neighbor_id", "cosine")
        .distinct()
    )
    return _topk(scored, "cosine", k, _cosine4().alias("cosine"))


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Scalar-quantized ANN: unit-normalize, quantize each component to
    int8 (the SQ8 code, ``quantize_int8``), score candidates with the
    integer dot product. Output: (query_id, neighbor_id, rank, approx_cosine).

    The 100 TB storage/bandwidth lever: int8 vectors are 4× smaller
    than float32 (8× vs float64), so corpus scan I/O and the candidate
    shuffle shrink proportionally, at ~1-2% cosine error (measured as
    recall vs the exact path in tests). Integer accumulation is also
    exact and order-independent — unlike float sums, the score is
    bit-identical under any partitioning, so ranking cuts are
    deterministic at every scale. Same plan shape as the exact path:
    broadcast(queries), one corpus scan, window top-k; in production
    persist `quantize_int8`'s output as the stored column and re-rank
    the top-k with full precision if exactness matters.
    """
    c = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q8").alias("cq")
    )
    q = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q8").alias("qq")
    )
    return _sq8_topk(c, q, k)


def cosine_topk_ivf_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF + scalar-quantized ANN (the FAISS ``IVF,SQ8`` recipe): the
    corpus is partitioned into coarse k-means cells AND stored as int8
    codes; each query probes its ``nprobe`` nearest cells and scores
    candidates with the exact integer dot product.

    This composes the two scale levers the flat variants pin
    separately: the probe touches ~nprobe/cells of the corpus
    (cosine_topk_ivf) and every scanned byte is 4× smaller with
    order-independent integer scores (cosine_topk_int8). At 100 TB the
    cell is the storage partition key and the int8 code the stored
    column, so a query reads a handful of partitions of quarter-width
    data. Candidates need no dedup: each corpus vector lives in exactly
    ONE cell (primary assignment), so a (query, neighbor) pair can
    match at most once even with multi-probe.

    The coarse codebook is the deterministic Lloyd's fit
    (clustering.fit_centroids; hash-spread init, DECIMAL-exact updates)
    — pass ``centroids=`` to reuse a per-corpus codebook. Ties in the
    assignment break to the lower cell index, mirrored by any SQL
    replay's ``ORDER BY d, cid``."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    if centroids is None:
        centroids = clustering.fit_centroids(
            corpus, id_col, vec_col, k=cells, iters=iters
        )
    if not centroids:
        return _empty_topk(corpus, id_col, "approx_cosine")

    # corpus: primary cell (argmin, ties to lower index) + int8 code.
    # plan_barrier stops CollapseProject and the join-side predicate/
    # hash generation from re-expanding the assignment expression into
    # every reference (see cosine_topk_ivf2_sq8, where the deeper tree
    # made this a measured 7x; here the single-level tree still
    # re-evaluates ~3x without it)
    c = plan_barrier(_with_norm(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        _nearest(sq_dists_expr("v", centroids)).alias("cell"),
        _sq8_code().alias("cq"),
    ))
    # queries: nprobe nearest cells + int8 code
    q = _with_norm(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        _probed_cells(centroids, nprobe),
        _sq8_code().alias("qq"),
    )
    return _sq8_topk(c, q, k, "cell")


def cosine_topk_ivf_sq8_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    rerank_m: int = 30,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Two-stage retrieval: IVF-SQ8 candidate generation (probe nprobe
    cells, rank by the exact-integer int8 score, keep the top
    ``rerank_m`` per query) followed by a full-precision cosine rerank
    of only those candidates — the standard production ANN shape
    (coarse-quantized recall, exact precision at the top).

    At 100 TB the expensive stage touches nprobe/cells of the corpus in
    quarter-width int8; the rerank reads ``rerank_m`` full vectors per
    query — thousands of rows, not billions. Both cut boundaries are
    deterministic: the candidate cut ranks on the order-independent
    integer score (neighbor-id tiebreak), the final cut on the float
    cosine with the same tiebreak."""
    cand = cosine_topk_ivf_sq8(
        corpus,
        queries,
        id_col,
        vec_col,
        k=rerank_m,
        cells=cells,
        iters=iters,
        nprobe=nprobe,
        centroids=centroids,
    ).select("query_id", "neighbor_id")
    c, q = _float_sides(corpus, queries, id_col, vec_col)
    rescored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", _cosine())
    )
    return _topk(rescored, "cosine", k, _cosine4().alias("cosine"))


def cosine_topk_ivf2_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    k1: int = 8,
    k2: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    fit_fraction: float = 1.0,
    codebooks: tuple[list[list[float]], list[list[float]]] | None = None,
) -> DataFrame:
    """Two-level IVF + SQ8 ANN — the extreme-scale form of
    ``cosine_topk_ivf_sq8``. A flat IVF needs ~sqrt(n) cells to keep
    cell populations bounded, making the assignment pass O(n*sqrt(n))
    HOF folds (docs/SCALE.md names this the IVF-SQ8 asymptotic cliff);
    two codebooks of ~n^(1/3) centroids each cut assignment to
    O(n*(k1+k2)) while the composite cell space k1*k2 keeps cells just
    as small.

    Level 1: coarse Lloyd's cells over the vectors. Level 2: one
    shared Lloyd's codebook over the RESIDUALS v - c1(v) against the
    PRIMARY coarse cell (the IVF-PQ coarse/fine split, same
    approximation as ``semantic_dedup_pairs_two_level``). Each corpus
    vector lives in exactly ONE composite cell (primary coarse,
    primary residual) as an int8 code; each query probes the
    ``nprobe`` composite cells ranked best by the combined distance
    d1(coarse) + d2(residual) (residual taken once, against the
    query's primary coarse cell — the shared-residual approximation
    that keeps query-side cost at k1+k2 folds instead of k1*k2). A
    probe BUDGET, not a probe grid: nprobe composite cells cover the
    same corpus volume as a flat IVF's nprobe cells at equal
    granularity, so candidate counts match the flat variant while
    assignment stays O(k1+k2) (an earlier nprobe^2-grid form was
    measured 1.9x slower than flat at 25x corpus — the grid scanned
    nprobe^2/nprobe more vectors than it had to). Probed cells are
    distinct, so a (query, neighbor) pair matches at most once and
    candidates need no dedup. Scoring is the order-independent
    integer dot product.

    Both codebooks come from ``clustering.fit_two_level_codebooks``
    (deterministic, md5-hash-sample-bounded via ``fit_fraction``);
    pass ``codebooks=`` to reuse a per-corpus fitted pair."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    if codebooks is None:
        codebooks = clustering.fit_two_level_codebooks(
            corpus, id_col, vec_col, k1=k1, k2=k2, iters=iters,
            fit_fraction=fit_fraction,
        )
    c1, c2 = codebooks
    if not c1 or not c2:
        return _empty_topk(corpus, id_col, "approx_cosine")
    k1, k2 = len(c1), len(c2)
    cent1 = mat_lit(c1)
    _dists = sq_dists_expr  # string fast path: column text + raw matrix

    def _resid(vec_expr, b1):
        return F.zip_with(
            vec_expr, F.element_at(cent1, (b1 + 1).cast("int")), lambda x, c: x - c
        )

    # corpus: ONE composite cell (primary coarse, primary residual) + int8
    cb = _with_norm(corpus, id_col, vec_col)
    b1 = _nearest(_dists("v", c1))
    cb = cb.withColumn("_b1", b1).withColumn("_r", _resid(F.col("v"), F.col("_b1")))
    # plan_barrier: without it, CollapseProject + join-side predicate/
    # hash generation re-expand the nested d1 -> residual -> d2
    # assignment tree into every reference (~4 evaluations per corpus
    # row; measured join 2.11 -> 0.30 s at sf0.1, identical output).
    c = plan_barrier(cb.select(
        F.col(id_col).alias("neighbor_id"),
        (F.col("_b1") * k2 + _nearest(_dists("_r", c2))).alias("cell"),
        _sq8_code().alias("cq"),
    ))
    # queries: top-nprobe composite cells by combined d1 + d2 (ties to
    # the lower (coarse, residual) index pair, matching the oracle's
    # ORDER BY dsum, b1, b2)
    qb = _with_norm(queries, id_col, vec_col)
    qb1 = _nearest(_dists("v", c1))
    qb = (
        qb.withColumn("_b1", qb1)
        .withColumn("_r", _resid(F.col("v"), F.col("_b1")))
        .withColumn("_d1", _dists("v", c1))
        .withColumn("_d2", _dists("_r", c2))
    )
    pair_scores = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(k1 - 1)),
            lambda j: F.transform(
                F.sequence(F.lit(0), F.lit(k2 - 1)),
                lambda l: F.struct(
                    (
                        F.element_at("_d1", j + 1) + F.element_at("_d2", l + 1)
                    ).alias("d"),
                    j.cast("long").alias("b1"),
                    l.cast("long").alias("b2"),
                ),
            ),
        )
    )
    top_cells = F.transform(
        F.slice(F.array_sort(pair_scores), 1, nprobe),
        lambda s: s["b1"] * k2 + s["b2"],
    )
    q = qb.select(
        F.col(id_col).alias("query_id"),
        F.explode(top_cells).alias("cell"),
        _sq8_code().alias("qq"),
    )
    return _sq8_topk(c, q, k, "cell")


def topk_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    m: int = 16,
    ks: int = 16,
    rerank_m: int | None = None,
    centroids: list[list[float]] | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF + product quantization with asymmetric-distance (ADC)
    scoring — the NINTH ladder rung, the one classical ANN compression
    the ladder lacked (SQ8 is scalar, IVF2 is coarse x residual; PQ is
    m-subspace vector quantization).

    Encode: each corpus vector stores its coarse cell plus m sub-codes
    (argmin centroid per dim/m-sized subspace, ties to the lower code —
    the clustering._assign convention). That is the compression story:
    m*log2(ks) bits per vector (m=16, ks=16: 64 bits = 8 bytes vs 512
    for float64 — 64x), and the candidate scan reads CODES, never
    vectors.

    Search: a query probes its ``nprobe`` nearest coarse cells and
    builds one ADC table per subspace — the ks distances from the
    query's subvector to that subspace's centroids — carried as array
    literals on the broadcast query row. A candidate's approximate
    distance is m table LOOKUPS (element_at) + (m-1) adds — no
    per-candidate vector arithmetic. Each looked-up term is rounded to
    9dp and accumulated as DECIMAL, so the ADC score is exact and
    addition-order-free — the ranking cut is deterministic and an
    external SQL oracle replays fit + encode + ADC table-sum bit-for-
    bit however it orders the terms.

    With ``rerank_m`` set, the ADC ranking only CUTS candidates (top
    rerank_m per query) and a full-precision squared-L2 rerank orders
    the final top-k — the standard ADC + refine production shape
    (quantized recall, exact precision at the top). Output columns:
    (query_id, neighbor_id, rank, sq_dist) reranked, or
    (query_id, neighbor_id, rank, approx_sq_dist) pure-ADC.

    Raw codes by default: the PQ codebooks are then independent of the
    coarse layer and replayable with the same Lloyd's SQL fragment per
    subspace. FAISS's IVF,PQ encodes RESIDUALS (v - coarse centroid)
    for tighter codebooks — that form is ``residual=True`` below.

    100 TB shape: fits touch the corpus iters times (bounded driver
    state: cells*dim + m*ks*(dim/m) doubles); the probe reads
    ~nprobe/cells of a corpus stored as 8-byte codes; the rerank reads
    rerank_m full vectors per query; top-k is the W1 window over
    (query, candidate) score triples.

    ``codes``: a persisted ``pq_encode`` relation (read back off
    parquet) — searches consume the stored codes directly and skip the
    encode scan; bit-equal to the end-to-end path (test-pinned).

    ``residual=True``: the classical FAISS IVF,PQ refinement — codes
    quantize (v - own-cell centroid) and each probed cell's ADC table
    subtracts THAT cell's centroid from the query, so candidate and
    table live in the same residual frame (cell equi-join guarantees
    it: a candidate's own cell IS the probed cell). Tighter codebooks
    at the cost of per-cell ADC tables; the registered query uses the
    raw form (independent codebooks, simpler oracle), with the
    residual form's reconstruction-error win pinned by test. Pass
    codebooks fitted with ``fit_pq_codebooks(residuals_of=...)``."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    if centroids is None:
        centroids = clustering.fit_centroids(
            corpus, id_col, vec_col, k=cells, iters=iters
        )
    if not centroids:
        score_col = "sq_dist" if rerank_m is not None else "approx_sq_dist"
        return _empty_topk(corpus, id_col, score_col)
    dim = len(centroids[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    if pq_codebooks is None:
        pq_codebooks = [
            clustering.fit_centroids(
                corpus.select(
                    F.col(id_col),
                    F.slice(
                        F.col(vec_col).cast("array<double>"), s * sub + 1, sub
                    ).alias("_sv"),
                ),
                id_col,
                "_sv",
                k=ks,
                iters=iters,
            )
            for s in range(m)
        ]

    # corpus: primary coarse cell + m sub-codes — the persisted-state
    # relation (pq_encode). Pass ``codes=`` (read back off parquet) to
    # search straight from the stored column without re-encoding;
    # equality with the end-to-end path is test-pinned.
    enc = (
        codes
        if codes is not None
        else pq_encode(
            corpus, id_col, vec_col, centroids, pq_codebooks, residual=residual
        )
    )
    c = enc.withColumnRenamed(id_col, "neighbor_id")

    # queries: nprobe nearest cells + one ADC table per subspace (per
    # probed CELL when residual — the table subtracts that cell's
    # centroid from the query so it lives in the candidates' frame)
    def _adc_tables(src):
        # src: a projected column name (string fast path) or a Column
        return [
            sq_dists_expr(
                f"slice({src}, {s * sub + 1}, {sub})"
                if isinstance(src, str)
                else F.slice(src, s * sub + 1, sub),
                pq_codebooks[s],
            ).alias(f"adc{s}")
            for s in range(m)
        ]

    qb = _with_norm(queries, id_col, vec_col)
    if not residual:
        # raw vectors: the tables are cell-independent, so compute all
        # m HOF folds ONCE per query alongside the explode instead of
        # once per (query, probed cell) row (code-review r13: the
        # two-select residual restructure had made every probe row pay
        # nprobe x the table build and broadcast payload)
        q = qb.select(
            F.col(id_col).alias("query_id"), _probed_cells(centroids, nprobe), *_adc_tables("v")
        )
    else:
        # per-cell tables are genuinely needed: each probed cell's
        # table subtracts THAT cell's centroid from the query
        probed = qb.select(
            F.col(id_col).alias("query_id"), _probed_cells(centroids, nprobe), F.col("v")
        )
        rv = _residual_sql(centroids)
        if rv is not None:
            # string fast path + staged residual (same discipline as
            # the residual pq_encode): project the residual ONCE per
            # (query, probed cell) row behind a barrier, then build
            # the m table folds over slices of the projected column
            probed = plan_barrier(
                probed.select("query_id", "cell", F.expr(rv).alias("_rv"))
            )
            q_v = "_rv"
        else:
            cell_cent = F.element_at(
                mat_lit(centroids), (F.col("cell") + 1).cast("int")
            )
            q_v = F.zip_with("v", cell_cent, lambda x, y: x - y)
        q = probed.select("query_id", "cell", *_adc_tables(q_v))
    # 9dp-quantized DECIMAL term sum: exact and order-free, so the ADC
    # ranking is replayable by an oracle that groups the terms instead
    # of chaining them (unit-scale distances sit safely inside the
    # toString-vs-scaled-double rounding envelope)
    approx = None
    for s in range(m):
        term = F.round(
            F.element_at(F.col(f"adc{s}"), (F.col(f"code{s}") + 1).cast("int")), 9
        ).cast("decimal(18,9)")
        approx = term if approx is None else approx + term
    scored = _probe_join(c, q, "cell").withColumn("_adc", approx)
    if rerank_m is None:
        return _topk(
            scored, "_adc", k, F.col("_adc").cast("double").alias("approx_sq_dist"), ascending=True
        )
    cand = _topk(scored, "_adc", rerank_m, ascending=True)
    cfull = _with_norm(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv")
    )
    qfull = _with_norm(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    rescored = (
        cand.join(cfull, "neighbor_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn("_d", _pair_sq_dist("cv", "qv"))
    )
    return _topk(rescored, "_d", k, F.round("_d", 6).alias("sq_dist"), ascending=True)


def exact_sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact squared-L2 top-k by brute force — the ground-truth
    relation every approximate rung is measured against (and the
    recall harness's denominator). Broadcast the bounded query set,
    fold the distance per (candidate, query) pair, W1 window cut with
    the id tiebreak. Deliberately O(|corpus| x |queries|): correct use
    is a BOUNDED query sample (recall evaluation), never serving."""
    # fan_out: the single-row-group fixture shape would otherwise run
    # the O(|corpus| x |queries|) fold on one core (code-review r14 —
    # the cosine brute-force sibling already goes through fan_out)
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    # dedupe the query side on id: a duplicated query row would double
    # every candidate row for that query and corrupt exact ranks (and
    # any recall denominator built on them) — the mirror of the
    # approx-side defense in ann_recall_report (ADVICE r14)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).dropDuplicates(["query_id"])
    d = _probe_join(c, q).withColumn("_d", _pair_sq_dist("cv", "qv"))
    return _topk(d, "_d", k, F.round("_d", 6).alias("sq_dist"), ascending=True)


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    approx_topk: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Per-query recall@k of an approximate top-k relation against the
    exact brute-force top-k — 'measure, don't guess' as a first-class
    relation: (query_id, n_exact, n_hits, recall). Any ladder rung's
    (query_id, neighbor_id, ...) output plugs in as ``approx_topk``.

    ``metric`` picks the ground-truth ranking to match the rung being
    measured: "l2" (squared-L2, the PQ/SQ8 rungs' metric) or "cosine"
    (the exact/IVF/RP-LSH/z-order rungs') — recall against the WRONG
    metric's ground truth would fold metric disagreement into the
    number and misread index quality on unnormalized corpora.

    100 TB shape: recall is always evaluated on a bounded query SAMPLE
    (here the probe set itself); the exact side broadcasts that sample
    across one corpus scan, the join back to the approximate relation
    is id-keyed on k·|queries| rows. Determinism: the exact cut uses
    the id tiebreak, so recall is a number, not a distribution."""
    # dedupe the query sample on id up front (exact_sq_topk also guards
    # itself; cosine_topk deliberately stays a pure rung): duplicate
    # query rows would fan out ground-truth candidates and corrupt
    # every rank and denominator below (ADVICE r14)
    queries = queries.dropDuplicates([id_col])
    if metric == "l2":
        exact = exact_sq_topk(corpus, queries, id_col, vec_col, k=k)
    elif metric == "cosine":
        exact = cosine_topk(corpus, queries, id_col, vec_col, k=k)
    else:
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    exact = exact.select("query_id", "neighbor_id")
    # dedupe defensively: a duplicated (query, neighbor) pair in the
    # approximate relation (e.g. an at-least-once streaming store read
    # without dropDuplicates) would otherwise fan out the exact side
    # and silently corrupt every count (code-review r14)
    hits = (
        approx_topk.select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / F.col("n_exact"), 6).alias("recall"),
        )
    )


def probe_cells(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
) -> DataFrame:
    """(query_id, cell): each query's ``nprobe`` nearest coarse cells,
    ranked by squared-L2 with ties to the lower cell id — the probe
    relation every IVF rung builds on its query side, exposed so a
    serving layer can act on it BEFORE the search (pre-pruning the
    codes-store scan, routing, cache admission). Folds the SAME
    ``ranked_probe_cells`` expression the rungs fold (one shared
    definition, ADVICE r15 — not a parallel re-derivation), so pruning
    a store to these cells can never change a search result (pinned by
    test)."""
    return _with_norm(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), _probed_cells(centroids, nprobe)
    )


def prune_codes_to_probed_cells(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
) -> DataFrame:
    """Filter a persisted ``pq_encode`` relation to exactly the cells a
    bounded query batch probes, as a STATIC ``IN`` predicate on the
    scan: written ``partitionBy("cell")``, the store then prunes at the
    partition level (PartitionFilters in the plan — pinned by test)
    instead of relying on runtime DPP kicking in for the broadcast
    join. Driver state is bounded by the coarse-cell count (distinct
    probed cells ≤ cells, independent of batch size). Results are
    identical with or without the pruning: the rung's candidate join is
    an equi-join on cell, so rows outside the probed cells can never
    match (pinned by test) — this only moves the row elimination from
    the join to the scan, which at 100 TB is the difference between
    reading ~nprobe/cells of the store and reading all of it."""
    probed = [
        r[0]
        for r in probe_cells(queries, id_col, vec_col, centroids, nprobe)
        .select("cell")
        .distinct()
        .collect()
    ]
    if not probed:  # empty query batch: empty store slice, same schema
        # (explicit — don't lean on isin([])'s engine-specific result)
        return codes.filter(F.lit(False))
    return codes.filter(F.col("cell").isin(probed))


def cosine_topk_zorder(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    zkeys: DataFrame,
    prefix_bits: int = 4,
    total_bits: int = 40,
    k: int = 10,
) -> DataFrame:
    """Layout-driven ANN — the eighth ladder rung: candidates come from
    the Z-ORDER PREFIX (quadtree cell) of each vector's PCA-subspace
    Morton key (``zkeys``: (id, z) from the
    ``embedding_pca_zorder_layout`` pipeline), probing the query's cell
    and both Morton-adjacent cells, then exact cosine + top-k within
    candidates. This is the query-side payoff of writing the corpus
    Z-ordered: a cell IS a contiguous row-group range of the sorted
    file, so a probe reads O(3/2^prefix_bits) of the corpus — the same
    arithmetic as IVF nprobe/cells, but the "index" is free because it
    is the storage order itself. Recall < 1 by construction (quadtree
    cells miss some cross-boundary neighbors; Morton-adjacent probing
    recovers the x-direction ones) — widen ``prefix_bits`` down or the
    probe set up for recall, exactly the IVF ladder's lever.

    SERVING NOTE (r16): this rung is STORAGE-LOCALITY-ONLY, not a
    standalone ANN index — ``ann_recall_zorder`` measured 0.32 mean
    recall@10 on the uniform fixture with the PCA-basis keys already in
    place (a top-2 projection of d>>2 data cannot carry a cosine
    neighborhood unless the corpus lives near a 2-D manifold). Use the
    Z-order key to lay out the written corpus; serve ANN from
    ``topk_ivf_pq`` (recall pinned >= 0.9 on the same fixture). See
    docs/SCALE.md "Rung demotion".

    ``zkeys`` COVERAGE: corpus/query vectors are joined INNER against
    ``zkeys`` — a vector with no key row has no cell and silently
    drops out of both the candidate pool and the query set. The
    layout pipeline emits one key per vector by construction; if the
    key relation is built separately, regenerate it whenever the
    corpus changes (or left-anti-check coverage upstream).

    Ranking is on the 4dp-QUANTIZED cosine (id tiebreak), identical
    in the DuckDB oracle — raw-double folds sum in engine-specific
    order, so near-tied candidates at the k boundary could flip ranks
    cross-engine; quantizing first collapses near-ties into the
    deterministic id ordering (the ``doc_embedding_topk`` pattern)."""
    shift = total_bits - prefix_bits
    # zkeys contract is POSITIONAL: column 0 = id, column 1 = the
    # Morton key (whatever their names) — half-positional resolution
    # (id by position, key by a hardcoded name) would silently join on
    # the wrong column for reordered inputs
    zid_col, z_col = zkeys.columns[0], zkeys.columns[1]
    z_type = dict(zkeys.dtypes)[z_col]
    if z_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            "cosine_topk_zorder: zkeys column 1 (the Morton key) must be "
            f"integral, got {z_col}:{z_type} — the zkeys contract is "
            "positional (column 0 = id, column 1 = key); reordered "
            "columns would otherwise shift-right the id silently"
        )
    zb = zkeys.select(
        F.col(zid_col).alias("_zid"),
        F.expr(f"shiftright(`{z_col}`, {shift})").alias("_bucket"),
    )
    c, q = _float_sides(corpus, queries, id_col, vec_col)
    c = c.join(zb.withColumnRenamed("_zid", "neighbor_id"), "neighbor_id")
    q = q.join(zb.withColumnRenamed("_zid", "query_id"), "query_id")
    probes = q.select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            F.array(
                F.col("_bucket") - 1, F.col("_bucket"), F.col("_bucket") + 1
            )
        ).alias("_bucket"),
    )
    scored = (
        _probe_join(c, probes, "_bucket")
        .withColumn("cosine", _cosine())
        # -0.0 canonicalization (+ 0.0) BEFORE ranking: Spark round() of a
        # tiny negative yields 0.0 where DuckDB ROUND yields -0.0, and the
        # repr-hash distinguishes them (the round-9 embedding_covariance
        # failure class); ranking on the canonicalized quantized value also
        # makes the k-cut order identical cross-engine.
        .withColumn("cosine_q", _cosine4())
    )
    return _topk(scored, "cosine_q", k, F.col("cosine_q").alias("cosine"))
