"""Graph analytics beyond connected components: PageRank, triangles.

Not in the reference (a row-store ETL); extension-tier. The iterative
join+aggregate shape is the canonical "graph on Spark" pattern (one
keyed join + one keyed aggregate per iteration — the same discipline
as dedup.connected_components: localCheckpoint each round so lineage
stays flat and nothing re-runs upstream pair mining).

Engine-portable float discipline (the repo standard): per-edge
contributions round to 12 dp and SUM as DECIMAL(38,12) —
addition-order-free — then the damping update is double arithmetic on
identical literals, rounded back to 12 dp. All DOUBLE roundings go
through ``util.round_like_duckdb`` (code-review r16): Spark's native
ROUND rounds the double's shortest decimal repr and diverges from
DuckDB's scaled-double model exactly at .5-boundary quotients, which
pagerank's pr/out-degree hits on ordinary graphs. Under the shared
model every iteration's state is bit-identical across engines, and
the DuckDB oracle replays the full fixed-iteration run as an
unrolled CTE chain (the k-means oracle pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators.util import (
    broadcast_row_cap,
    round_like_duckdb,
)

# Score relations (ranks / hub / auth) are node-sized: one row of
# (node, double) per node, ~48 B per entry once framed in a broadcast
# hash table. Below broadcast_row_cap(spark, _SCORE_ROW_BYTES) nodes
# (218k at Spark's stock 10 MB threshold, 2.18M under the
# batch-100tb preset's 100 MB) the per-iteration edge⋈scores join can be a
# BroadcastHashJoin — the guide §3.1 envelope — and the EDGE relation
# (the corpus-sized side) is never shuffled by the join at all; only
# the contribution aggregate exchanges data. Above the cap the keyed
# SMJ/SHJ path stays (a billion-node graph must shuffle by key).
_SCORE_ROW_BYTES = 48

# In the lazy (localCheckpoint-free) pagerank mode, pin every Nth
# iteration anyway: plan depth grows linearly with iters and Catalyst
# analysis cost quadratically (ADVICE r16) — at the registry's iters=5
# this never fires, while a caller passing iters=50 gets a recovery
# boundary and bounded plan depth every 10 rounds.
_LAZY_PIN_EVERY = 10


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
    broadcast_scores: bool | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list (pass both
    directions for an undirected graph — that also guarantees no
    dangling nodes, which this implementation does not redistribute).
    Output: (node, pr) for every node appearing in the edge list,
    pr rounded to 12 dp.

    Plan per iteration: edges ⋈ ranks on src (a broadcast of the
    node-sized rank relation below the node cap — the edge relation
    never shuffles; a keyed shuffle join above it), contribution
    aggregate on dst (map-side combined), left join back to the node
    set (nodes with no in-edges keep the teleport term).
    State is one (node, pr) relation, pinned per iteration —
    ``checkpoint_dir`` switches the pin from localCheckpoint (fast,
    executor-local, unrecoverable on executor loss) to a reliable
    ``.checkpoint()`` that survives executor loss on preemptible
    fleets; results are bit-identical (``util.iteration_pin``).

    ``broadcast_scores``: hint the node-sized score side of each
    iteration's joins to broadcast (the edge relation never shuffles).
    Default ``None`` auto-enables iff the node count (already computed
    for the teleport term) is within ``util.broadcast_row_cap`` (the
    session's broadcast threshold at ``_SCORE_ROW_BYTES`` per node);
    identical results either way — only the join strategy changes."""
    from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

    pin = iteration_pin(checkpoint_dir)
    # materialize the loop-invariant relations ONCE (the
    # connected_components lesson): an unmaterialized edge lineage
    # would re-run the upstream join/distinct every iteration —
    # trade-graph query at sf0.1 warm min: 15.4 s lazy-edges ->
    # 6.6 s checkpointed + degree folded into the edge relation (the
    # remaining floor is 5 x (checkpoint job + 2 shuffles) on this box)
    e = pin(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    )
    nodes = pin(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # an empty edge list would constant-fold the 1/n teleport into
        # DIVIDE_BY_ZERO under ANSI mode (code-review r16) — return the
        # empty relation with the output schema, like hits and the
        # oracle replay do
        return nodes.select("node", F.lit(0.0).alias("pr"))
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    # degree folded into the edge relation once -> each iteration is
    # ONE keyed join + one aggregate + the node left-join
    e_deg = pin(e.join(deg, "_s"))
    ranks = nodes.select(
        "node", round_like_duckdb(F.lit(1.0) / F.lit(float(n)), 12).alias("pr")
    )
    teleport = F.lit((1.0 - damping)) / F.lit(float(n))
    # Score relations are node-sized and n is already known: below the
    # broadcast cap, hint BOTH per-iteration joins (edges⋈ranks and the
    # nodes⋈contrib completion) to broadcast the score side — the edge
    # relation then never shuffles and each iteration's only exchange
    # is the contribution aggregate (guide §3.1; r17 A/B
    # tools/ab_round17_graph.py). Join strategy changes values nowhere:
    # contributions still sum as DECIMAL per node.
    if broadcast_scores is None:
        broadcast_scores = n <= broadcast_row_cap(
            edges.sparkSession, _SCORE_ROW_BYTES
        )
    bc = F.broadcast if broadcast_scores else (lambda d: d)
    # Per-iteration rank pinning is needed only in reliable-checkpoint
    # mode (bounded recompute on executor loss for preemptible fleets).
    # With fixed iterations and pinned e_deg/nodes the rank chain is a
    # LINEAR dag — each iteration's ranks feeds exactly one downstream
    # consumer — so in the localCheckpoint default the whole run can
    # execute as ONE lazy plan: no per-iteration materialization job,
    # and shuffle files give the usual stage-retry recovery (r16
    # optimization; measured on the bench row — see OPTIMIZATION_r16),
    # with a depth-bounding pin every _LAZY_PIN_EVERY iterations so a
    # large-iters caller never builds an unboundedly deep plan
    # (ADVICE r16).
    for it in range(1, iters + 1):
        contrib = (
            e_deg.join(bc(ranks), e_deg["_s"] == ranks["node"])
            .select(
                F.col("_d").alias("node"),
                round_like_duckdb(F.col("pr") / F.col("_deg"), 12)
                .cast("decimal(38,12)")
                .alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s_c"))
        )
        ranks = nodes.join(bc(contrib), "node", "left").select(
            "node",
            round_like_duckdb(
                teleport
                + F.lit(float(damping))
                * F.coalesce(F.col("_s_c").cast("double"), F.lit(0.0)),
                12,
            ).alias("pr"),
        )
        if checkpoint_dir is not None or it % _LAZY_PIN_EVERY == 0:
            ranks = pin(ranks)
    return ranks


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 5,
    damping: float = 0.85,
    topk: int | None = None,
) -> str:
    """DuckDB replay of ``pagerank`` as an unrolled CTE chain (one
    contribution+update pair per iteration — recursive CTEs cannot
    aggregate on the recursive reference, so fixed iterations unroll,
    the established k-means-oracle pattern). ``edges_sql`` is a query
    producing (src, dst). Appends a deterministic top-k ranking when
    ``topk`` is given, else returns all (node, pr)."""
    d = repr(float(damping))
    chain = [
        f"""e AS (SELECT DISTINCT src AS s, dst AS dd FROM ({edges_sql})),
    nodes AS (
      SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION SELECT dd FROM e)
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY s),
    r0 AS (
      SELECT node, ROUND(CAST(1 AS DOUBLE) / nn.n, 12) AS pr
      FROM nodes CROSS JOIN nn
    )"""
    ]
    for i in range(1, iters + 1):
        chain.append(
            f"""c{i} AS (
      SELECT e.dd AS node,
             CAST(SUM(CAST(ROUND(r.pr / deg.deg, 12) AS DECIMAL(38,12)))
                  AS DECIMAL(38,12)) AS sc
      FROM e JOIN r{i - 1} r ON e.s = r.node JOIN deg ON deg.s = r.node
      GROUP BY e.dd
    ), r{i} AS (
      SELECT nodes.node,
             ROUND(CAST({repr(1.0 - damping)} AS DOUBLE) / nn.n
                   + CAST({d} AS DOUBLE)
                     * CAST(COALESCE(c{i}.sc, 0) AS DOUBLE), 12) AS pr
      FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.node = nodes.node
    )"""
        )
    body = ",\n    ".join(chain)
    if topk is None:
        return f"WITH {body} SELECT node, pr FROM r{iters}"
    return f"""WITH {body}
    SELECT node, pr, CAST(rnk AS INT) AS rank FROM (
      SELECT node, pr, ROW_NUMBER() OVER (ORDER BY pr DESC, node ASC) AS rnk
      FROM r{iters}
    ) WHERE rnk <= {topk}
"""


def triangle_counts(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    rank_base: int = 1_000_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    an UNDIRECTED graph given as distinct unordered pairs (``a < b``).
    Output: (node, degree, n_triangles, lcc) for every node.

    Degree-ordered orientation (the classic bound): each edge is
    oriented from its lower-(degree, id) endpoint to the higher one,
    so every node's OUT-degree is O(sqrt(m)) and the wedge join does
    O(m^1.5) work total instead of sum(deg^2) — the difference between
    "survives a hub node" and "does not" at 100 TB. The rank is packed
    as ``deg * rank_base + node`` (one BIGINT compare instead of a
    struct compare, portable to the SQL replay); callers with node ids
    >= rank_base must raise ``rank_base``.

    Plan: pairs -> degree aggregate -> two keyed joins to attach rank
    keys -> oriented edges (localCheckpointed once; reused three times
    by the wedge self-join and the closing join) -> wedge join on the
    shared source -> closing join on the (v, w) pair key -> explode
    the three corners -> per-node count. All-integer arithmetic; the
    only float is one final division for the coefficient
    (2*tri / (deg*(deg-1)), both operands exact, rounded to 9 dp), so
    results hash-match the DuckDB replay."""
    for c in (a, b):  # BOTH endpoints (code-review r16): a string b
        # column would pass a one-sided check and coerce the union of
        # node ids to string deep in execution
        if pairs.schema[c].dataType.simpleString() not in ("int", "bigint", "long"):
            raise ValueError("triangle_counts expects integer node ids")
    from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

    # Both pins below route through util.iteration_pin (VERDICT r16
    # item 4): the default stays the eager localCheckpoint, while
    # ``checkpoint_dir=`` switches them to reliable .checkpoint()s so a
    # preemptible-fleet run can lose an executor without losing the
    # pinned pair/oriented-edge relations (both are O(edges) of
    # executor storage — SCALE.md documents the size classes).
    pin = iteration_pin(checkpoint_dir)
    # Pin the (usually mined) pair relation ONCE (r16 optimization): it
    # feeds the degree aggregate, both sides of the rank joins, AND —
    # via deg — the final left join, so an expensive upstream mining
    # subtree (the registry query: a 12-scan union of 3-way joins)
    # re-expanded under the oe construction and again in the final
    # plan. A/B tools/ab_round16_tri.py (with the explode below):
    # 3.878 -> 3.136 s min-of-4 at sf0.1, identical output.
    e = pin(pairs.select(F.col(a).alias("_a"), F.col(b).alias("_b")))
    ends = e.select(F.col("_a").alias("node")).unionAll(
        e.select(F.col("_b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    # Guard folded into the rank computation (no extra job): an id
    # outside [0, rank_base) would make rankkey collide across distinct
    # nodes and silently corrupt the orientation (ADVICE r06) — raise
    # at execution instead. The predicate is codegen'd alongside the
    # multiply it protects.
    in_range = (F.col("node") >= 0) & (F.col("node") < F.lit(rank_base))
    rk = deg.select(
        "node",
        F.when(
            in_range,
            F.col("degree").cast("long") * F.lit(rank_base) + F.col("node"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "triangle_counts: node id out of [0, "
                        f"{rank_base}) breaks the packed rank key: "
                    ),
                    F.col("node").cast("string"),
                )
            )
        )
        .alias("rankkey"),
    )
    oe = (
        e.join(rk.select(F.col("node").alias("_a"), F.col("rankkey").alias("_rka")), "_a")
        .join(rk.select(F.col("node").alias("_b"), F.col("rankkey").alias("_rkb")), "_b")
        .select(
            F.when(F.col("_rka") < F.col("_rkb"), F.col("_a"))
            .otherwise(F.col("_b"))
            .alias("u"),
            F.when(F.col("_rka") < F.col("_rkb"), F.col("_b"))
            .otherwise(F.col("_a"))
            .alias("v"),
            F.greatest("_rka", "_rkb").alias("rkv"),
        )
        # reused three times below — pinned so the upstream pair
        # mining + rank joins run once (the pagerank/CC lesson)
        .transform(pin)
    )
    e1 = oe.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"), "rkv")
    e2 = oe.select(F.col("u").alias("w_u"), F.col("v").alias("w_w"), F.col("rkv").alias("rkw"))
    wedges = e1.join(e2, "w_u").filter(F.col("rkv") < F.col("rkw"))
    closing = oe.select(F.col("u").alias("w_v"), F.col("v").alias("w_w"))
    tri = wedges.join(closing, ["w_v", "w_w"]).select("w_u", "w_v", "w_w")
    # One explode pass instead of a 3-branch union of tri (r16
    # optimization): the union re-expanded the wedge SMJ — the O(m^1.5)
    # stage — under every branch, running it 3x in the final plan
    # (before-plan ops 62/83/104). explode(array(u,v,w)) yields the
    # same corner multiset in one pass. Measured with the pin above.
    corners = tri.select(F.explode(F.array("w_u", "w_v", "w_w")).alias("node"))
    per_node = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        F.when(F.col("degree") >= 2,
            round_like_duckdb(
                (F.coalesce(F.col("n_triangles"), F.lit(0)) * 2).cast("double")
                / (F.col("degree").cast("long") * (F.col("degree") - 1)).cast("double"),
                9,
            ),
        ).otherwise(F.lit(0.0)).alias("lcc"),
    )


def triangle_oracle_sql(
    pairs_sql: str,
    rank_base: int = 1_000_000_000,
    topk: int | None = None,
) -> str:
    """DuckDB replay of ``triangle_counts``: identical orientation,
    wedge join, closing join, and corner count; the one float is the
    same single division of exact integers (correctly rounded in both
    engines). ``pairs_sql`` must produce distinct (a, b) with a < b.
    Appends the deterministic (n_triangles DESC, node ASC) top-k
    ranking when ``topk`` is given."""
    base = f"""pairs AS ({pairs_sql}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs
      ) GROUP BY node
    ),
    rk AS (SELECT node, degree * {rank_base} + node AS rankkey FROM deg),
    oe AS (
      SELECT CASE WHEN ra.rankkey < rb.rankkey THEN p.a ELSE p.b END AS u,
             CASE WHEN ra.rankkey < rb.rankkey THEN p.b ELSE p.a END AS v,
             GREATEST(ra.rankkey, rb.rankkey) AS rkv
      FROM pairs p
      JOIN rk ra ON ra.node = p.a
      JOIN rk rb ON rb.node = p.b
    ),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM oe e1
      JOIN oe e2 ON e1.u = e2.u AND e1.rkv < e2.rkv
      JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
        UNION ALL SELECT z AS node FROM tri
      ) GROUP BY node
    ),
    result AS (
      SELECT deg.node, deg.degree,
             CAST(COALESCE(per_node.n_triangles, 0) AS BIGINT) AS n_triangles,
             CASE WHEN deg.degree >= 2 THEN
               ROUND(CAST(COALESCE(per_node.n_triangles, 0) * 2 AS DOUBLE)
                     / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 9)
             ELSE CAST(0.0 AS DOUBLE) END AS lcc
      FROM deg LEFT JOIN per_node ON per_node.node = deg.node
    )"""
    if topk is None:
        return f"WITH {base} SELECT node, degree, n_triangles, lcc FROM result"
    return f"""WITH {base}
    SELECT node, degree, n_triangles, lcc, CAST(rnk AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_triangles DESC, node ASC) AS rnk
      FROM result
    ) WHERE rnk <= {topk}
"""


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    checkpoint_dir: str | None = None,
    broadcast_scores: bool | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED edge list, L1
    normalization (each phase divides by the global score sum — HITS
    ranking is invariant to the choice of norm, and L1 keeps every
    operand inside the repo's exact-decimal discipline where the L2
    sqrt would not be engine-portable). Output: (node, hub, auth) for
    every node, both rounded to 12 dp; nodes without out-edges carry
    hub 0, without in-edges auth 0.

    Per iteration: auth_raw(v) = Σ_{u→v} hub(u) as a 12-dp DECIMAL sum
    (addition-order-free), normalized by the one-row global total —
    broadcast back, never a shuffle — then the symmetric hub phase.
    Cross-engine agreement is a BOUNDED argument, not size-free:
    Spark's Decimal.toDouble is correctly rounded (parseDouble path),
    but DuckDB casts decimal→double as (unscaled int → double) / 10^12
    — two roundings — which is only guaranteed correctly rounded while
    the unscaled integer stays below 2^53, i.e. while the operand's
    magnitude is < ~9.0e3 at scale 12. The iteration keeps every
    operand inside that bound structurally: scores are L1-normalized
    (they sum to 1), so each raw phase sum Σ hub(u) is <= 1 and the
    global total Σ_u hub(u)·outdeg(u) is a convex combination of
    out-degrees, <= max degree. The one exception is the INIT
    normalization, whose total is the node count n itself. Agreement
    with the oracle is therefore exact whenever n and the max in/out
    degree are < ~9.0e3 (the fixture trade graphs at every
    oracle-compared SF are well under both; past either bound the
    oracle comparison weakens to ±1 ulp on the normalization
    quotient, ADVICE r09). Within the bound the
    division sees identical operands, the quotient is one more
    identical IEEE operation, rounded back to 12 dp — every iteration
    bit-identical to the oracle's unrolled CTE replay.

    Plan per iteration: 2 edge⋈scores joins (broadcast of the
    node-sized score side below the node cap, keyed shuffle joins
    above it) + 2 map-side-combined aggregates + 2 one-row totals,
    with the raw per-phase sums localCheckpointed so lineage stays
    flat (the connected_components / pagerank lesson).
    Intermediate phases carry UNNORMALIZED (raw_sum, 1-row-total) state
    and fold the previous phase's normalization (the same
    round(raw/total, 12) the oracle applies per node) into the edge
    join's projection: a node absent from ``raw`` has score exactly 0
    and contributes nothing to any sum, so the per-phase
    (nodes ⋈ raw) completion left-join is needed only ONCE at the end
    to emit the full score relations.

    Measured on the sf0.01 registry query, Spark side only (vanilla
    local[8] session): 12.8 s cold-session / 3.0–4.0 s warm for this
    form, vs 41.3 s for the round-7 form (2 checkpoints + per-phase
    nodes-join) — bit-identical to the unrolled oracle throughout.
    NOTE the round-7/8 docstrings' 45.2 s / 36.8 s series was taken
    from contract-sim totals that turned out to be DOMINATED by the
    DuckDB oracle (a CTE-inlining diamond, ~23 s of the total — see
    ``hits_oracle_sql``), so those figures measured the oracle, not
    this operator; the numbers above time the Spark query alone."""
    if iters < 1:
        raise ValueError(f"hits requires iters >= 1, got {iters}")
    from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

    # checkpoint_dir switches every per-iteration pin below from
    # localCheckpoint to a reliable .checkpoint() (executor-loss
    # survivable); results bit-identical — util.iteration_pin
    pin = iteration_pin(checkpoint_dir)
    e = pin(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    )
    nodes = pin(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    # Score relations are node-sized (and pinned, so stats-free — Spark
    # would never pick broadcast on its own): below the cap, hint every
    # edge⋈raw phase join and the completion left-joins to broadcast
    # the score side, so the edge relation never shuffles and each
    # phase's only exchange is its aggregate (guide §3.1; VERDICT r16
    # item 3 — join strategy only, values untouched). The count runs
    # over the pinned nodes blocks (cheap) and only when the caller
    # didn't decide.
    if broadcast_scores is None:
        broadcast_scores = nodes.count() <= broadcast_row_cap(
            edges.sparkSession, _SCORE_ROW_BYTES
        )
    bc = F.broadcast if broadcast_scores else (lambda d: d)

    _dec = "decimal(38,12)"

    def _norm(raw_col, tot_col):
        # round(raw/total, 12): the oracle's per-node normalization.
        # Spark's decimal→double is correctly rounded; DuckDB's is two
        # roundings (unscaled int → double, then /10^scale) and only
        # guaranteed exact while the unscaled value < 2^53 — i.e.
        # operand magnitude < ~9.0e3 at scale 12. Post-init operands
        # are L1-bounded (see the hits() docstring); the init total is
        # n, so past ~9k NODES the engines may differ by 1 ulp here.
        return F.when(tot_col.isNull() | (tot_col == 0), F.lit(0.0)).otherwise(
            round_like_duckdb(
                F.coalesce(raw_col, F.lit(0).cast(_dec)).cast("double")
                / tot_col.cast("double"),
                12,
            )
        )

    # initial state: hub(v) = round(1/n, 12) for every node, expressed
    # as raw = 1, total = n (exact small-integer decimals cast to the
    # exact same doubles, so the division is the identical operation)
    raw = nodes.select("node", F.lit(1).cast(_dec).alias("_raw"))
    tot = raw.agg(F.sum("_raw").alias("_t"))
    raw_a, tot_a = None, None

    def _phase(raw_prev: DataFrame, tot_prev: DataFrame, join_on: str, group_on: str):
        # normalization of the PREVIOUS phase folded into this join's
        # projection; checkpoint the raw sums BEFORE the total: the
        # one-row total and the next phase's join both consume `raw`,
        # and an unmaterialized lineage would run the edge join twice
        raw_i = (
            e.join(bc(raw_prev), e[join_on] == raw_prev["node"])
            .crossJoin(F.broadcast(tot_prev))
            .select(
                F.col(group_on).alias("node"),
                _norm(F.col("_raw"), F.col("_t")).cast(_dec).alias("_r"),
            )
            .groupBy("node")
            .agg(F.sum("_r").alias("_raw"))
        )
        raw_i = pin(raw_i)
        return raw_i, raw_i.agg(F.sum("_raw").alias("_t"))

    for _ in range(iters):
        raw_a, tot_a = _phase(raw, tot, "_s", "_d")
        raw, tot = _phase(raw_a, tot_a, "_d", "_s")

    def _complete(raw_f: DataFrame, tot_f: DataFrame, out: str) -> DataFrame:
        return (
            nodes.join(bc(raw_f), "node", "left")
            .crossJoin(F.broadcast(tot_f))
            .select("node", _norm(F.col("_raw"), F.col("_t")).alias(out))
        )

    return (
        _complete(raw, tot, "hub")
        .join(bc(_complete(raw_a, tot_a, "auth")), "node")
        .select("node", "hub", "auth")
    )


def hits_oracle_sql(edges_sql: str, iters: int = 3, topk: int | None = None) -> str:
    """DuckDB replay of ``hits`` as an unrolled CTE chain (two
    normalize phases per iteration). Appends a deterministic top-k by
    authority when ``topk`` is given.

    Every CTE is ``AS MATERIALIZED``: the final relation joins
    ``h{iters}`` with ``a{iters}``, and ``h{iters}`` itself depends on
    ``a{iters}`` — with DuckDB's default inlining that diamond doubles
    the evaluated chain at EVERY phase (~2^iters blowup; measured
    23.3 s → 0.11 s at sf0.01 for iters=3, identical rows). The hint
    changes evaluation order only, never values, so the hash contract
    with ``hits`` is untouched."""
    if iters < 1:
        raise ValueError(f"hits_oracle_sql requires iters >= 1, got {iters}")
    chain = [
        f"""e AS MATERIALIZED (SELECT DISTINCT src AS s, dst AS dd FROM ({edges_sql})),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION SELECT dd FROM e)
    ), nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    h0 AS MATERIALIZED (
      SELECT node, ROUND(CAST(1 AS DOUBLE) / nn.n, 12) AS hub
      FROM nodes CROSS JOIN nn
    )"""
    ]
    for i in range(1, iters + 1):
        chain.append(
            f"""ar{i} AS MATERIALIZED (
      SELECT e.dd AS node,
             CAST(SUM(CAST(ROUND(h.hub, 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS raw
      FROM e JOIN h{i - 1} h ON e.s = h.node GROUP BY e.dd
    ), at{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS DECIMAL(38,12)) AS t FROM ar{i}),
    a{i} AS MATERIALIZED (
      SELECT nodes.node,
             CASE WHEN at{i}.t IS NULL OR at{i}.t = 0 THEN CAST(0 AS DOUBLE)
                  ELSE ROUND(CAST(COALESCE(ar{i}.raw, 0) AS DOUBLE)
                             / CAST(at{i}.t AS DOUBLE), 12) END AS auth
      FROM nodes CROSS JOIN at{i} LEFT JOIN ar{i} ON ar{i}.node = nodes.node
    ), hr{i} AS MATERIALIZED (
      SELECT e.s AS node,
             CAST(SUM(CAST(ROUND(a.auth, 12) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS raw
      FROM e JOIN a{i} a ON e.dd = a.node GROUP BY e.s
    ), ht{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS DECIMAL(38,12)) AS t FROM hr{i}),
    h{i} AS MATERIALIZED (
      SELECT nodes.node,
             CASE WHEN ht{i}.t IS NULL OR ht{i}.t = 0 THEN CAST(0 AS DOUBLE)
                  ELSE ROUND(CAST(COALESCE(hr{i}.raw, 0) AS DOUBLE)
                             / CAST(ht{i}.t AS DOUBLE), 12) END AS hub
      FROM nodes CROSS JOIN ht{i} LEFT JOIN hr{i} ON hr{i}.node = nodes.node
    )"""
        )
    body = ",\n    ".join(chain)
    base = f"""SELECT h.node AS node, h.hub AS hub, a.auth AS auth
    FROM h{iters} h JOIN a{iters} a ON h.node = a.node"""
    if topk is None:
        return f"WITH {body} {base}"
    return f"""WITH {body},
    fin AS ({base})
    SELECT node, hub, auth, CAST(rnk AS INT) AS rank FROM (
      SELECT node, hub, auth,
             ROW_NUMBER() OVER (ORDER BY auth DESC, node ASC) AS rnk
      FROM fin
    ) WHERE rnk <= {topk}
"""
