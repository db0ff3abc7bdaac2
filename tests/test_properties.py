"""Property-based tests (hypothesis): operator semantics hold on
arbitrary generated inputs, checked against plain-Python brute force.
Small value domains force key collisions and timestamp ties — exactly
the corners fixture data misses."""

from __future__ import annotations

from contextlib import contextmanager
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_fuel_priceguide_ec2_spark.operators import asof, dedup

BASE = datetime(2024, 1, 1)

row = st.tuples(
    st.integers(min_value=0, max_value=3),              # key
    st.integers(min_value=0, max_value=20),             # ts offset (hours)
    st.integers(min_value=0, max_value=1000),           # value
)
rows = st.lists(row, min_size=1, max_size=25)


def _mk_events(spark, data):
    return spark.createDataFrame(
        [
            (i, k, BASE + timedelta(hours=off), float(v))
            for i, (k, off, v) in enumerate(data)
        ],
        "event_id bigint, user_id bigint, ts timestamp, value double",
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows)
def test_latest_per_key_matches_bruteforce(spark, data):
    df = _mk_events(spark, data)
    got = {
        r.user_id: (r.ts, r.value)
        for r in asof.latest_per_key(df, ["user_id"], "ts", None, ["event_id"]).collect()
    }
    expected: dict[int, tuple] = {}
    for i, (k, off, v) in enumerate(data):
        ts = BASE + timedelta(hours=off)
        cur = expected.get(k)
        # latest ts wins; ties broken by highest event_id (= last index)
        if cur is None or (ts, i) > (cur[0], cur[2]):
            expected[k] = (ts, float(v), i)
    assert got == {k: (t, v) for k, (t, v, _) in expected.items()}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows)
def test_dedup_last_wins_matches_js_map_semantics(spark, data):
    """The reference's `new Map(...)` keeps the LAST occurrence per key
    (index.js:67-75). With (ts, event_id) ordering, 'last' = latest ts,
    insertion order breaking ties — exactly a Python dict built in that
    order."""
    df = _mk_events(spark, data)
    got = {
        r.user_id: r.value
        for r in dedup.dedup_last_wins(df, ["user_id"], "ts", ["event_id"]).collect()
    }
    js_map: dict[int, float] = {}
    for _, (k, off, v) in sorted(
        enumerate(data), key=lambda t: (BASE + timedelta(hours=t[1][1]), t[0])
    ):
        js_map[k] = float(v)
    assert got == js_map


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=rows, right=rows)
def test_asof_join_matches_bruteforce(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, BASE + timedelta(hours=off)) for i, (k, off, _) in enumerate(left)],
        "order_id bigint, user_id bigint, ots timestamp",
    )
    rdf = _mk_events(spark, right)
    out = asof.asof_join(ldf, rdf, "user_id", "ots", "ts", ["value"], right_tiebreak="event_id")
    got = {r.order_id: r.asof_value for r in out.collect()}
    for i, (k, off, _) in enumerate(left):
        lts = BASE + timedelta(hours=off)
        cands = [
            (BASE + timedelta(hours=roff), j, float(v))
            for j, (rk, roff, v) in enumerate(right)
            if rk == k and BASE + timedelta(hours=roff) <= lts
        ]
        expected = max(cands)[2] if cands else None
        assert got[i] == expected, f"order {i}: {got[i]} != {expected}"


def test_asof_join_null_fields_come_from_one_right_row(spark):
    """Regression (round-1 ADVICE): the attached values must all come
    from THE latest right row — a NULL field in that row must surface as
    NULL, never be back-filled from an older right row."""
    ldf = spark.createDataFrame(
        [(1, 1, BASE + timedelta(hours=10))],
        "order_id bigint, user_id bigint, ots timestamp",
    )
    rdf = spark.createDataFrame(
        [
            (0, 1, BASE + timedelta(hours=1), 111.0, "old-label"),
            (1, 1, BASE + timedelta(hours=2), 222.0, None),  # latest: label NULL
        ],
        "event_id bigint, user_id bigint, ts timestamp, value double, label string",
    )
    out = asof.asof_join(
        ldf, rdf, "user_id", "ots", "ts", ["value", "label"], right_tiebreak="event_id"
    ).collect()
    assert len(out) == 1
    assert out[0].asof_value == 222.0
    assert out[0].asof_label is None  # NOT "old-label"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows)
def test_gap_fill_daily_matches_bruteforce(spark, data):
    """gap_fill_daily: the spine covers exactly [min_day, max_day] per
    key, filled_value is the last observed daily max at or before each
    day, and is_gap marks exactly the unobserved days."""
    from datetime import date, timedelta as td

    from etl_fuel_priceguide_ec2_spark.operators import windows

    # spread hour offsets into days so multi-day spans with holes occur
    df = spark.createDataFrame(
        [
            (i, k, BASE + timedelta(days=off % 7, hours=i % 24), float(v))
            for i, (k, off, v) in enumerate(data)
        ],
        "event_id bigint, user_id bigint, ts timestamp, value double",
    )
    got = {
        (r.user_id, r.d): (r.filled_value, r.is_gap)
        for r in windows.gap_fill_daily(df, "user_id", "ts", "value").collect()
    }

    by_key_day: dict[tuple, float] = {}
    for i, (k, off, v) in enumerate(data):
        d = (BASE + timedelta(days=off % 7, hours=i % 24)).date()
        cur = by_key_day.get((k, d))
        by_key_day[(k, d)] = max(cur, float(v)) if cur is not None else float(v)

    expected: dict[tuple, tuple] = {}
    for k in {k for k, _ in by_key_day}:
        days = sorted(d for kk, d in by_key_day if kk == k)
        lo, hi = days[0], days[-1]
        last = None
        d = lo
        while d <= hi:
            observed = (k, d) in by_key_day
            if observed:
                last = round(by_key_day[(k, d)], 6)
            expected[(k, d)] = (last, not observed)
            d += td(days=1)

    assert got == expected


def test_semantic_blocking_recall(spark, sf_dir):
    """k-means-blocked semantic pairs vs the brute-force all-pairs
    baseline: blocking must lose at most half the true pairs on the
    fixture (and everything it returns must BE a true pair)."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("d") <= 1.2)
    )
    true_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    blocked = clustering.semantic_dedup_pairs(
        emb, "vec_id", "embedding", k=8, iters=2, threshold=1.2
    )
    got = {(r.id_a, r.id_b) for r in blocked.collect()}
    assert got <= true_pairs, f"false positives: {sorted(got - true_pairs)[:5]}"
    assert len(got) >= 0.5 * len(true_pairs), (
        f"blocking recall {len(got)}/{len(true_pairs)} below 0.5"
    )


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """E-S weighted sampling: the sampled docs' mean weight must exceed
    the corpus mean (sanity that weights actually bias the draw)."""
    from etl_fuel_priceguide_ec2_spark.operators import sampling
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sampled = sampling.weighted_sample_topk(docs, "doc_id", "n_chars", 100)
    mean_all = docs.agg(F.avg("n_chars")).first()[0]
    mean_sampled = sampled.agg(F.avg("n_chars")).first()[0]
    assert mean_sampled > mean_all


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows)
def test_salted_agg_equals_plain_agg(spark, data):
    """Two-phase salted aggregation == one-phase GROUP BY on arbitrary
    data, for every mergeable state (count/sum/min/max)."""
    from etl_fuel_priceguide_ec2_spark.operators import aggregates
    from pyspark.sql import functions as F

    df = _mk_events(spark, data)
    got = {
        r.user_id: (r.n_rows, round(r.sum_value, 6), r.min_value, r.max_value)
        for r in aggregates.salted_two_phase_agg(
            df, "user_id", "value", salt_col="event_id", buckets=4
        ).collect()
    }
    exp = {
        r.user_id: (r.n_rows, round(r.sum_value, 6), r.min_value, r.max_value)
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.min(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double").alias("min_value"),
            F.max(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double").alias("max_value"),
        )
        .collect()
    }
    assert got == exp


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows)
def test_incremental_rollup_equals_direct(spark, data):
    """Merging daily partial states must equal aggregating the raw rows
    directly at month grain (mergeable-state law)."""
    from etl_fuel_priceguide_ec2_spark.operators import aggregates
    from pyspark.sql import functions as F

    df = _mk_events(spark, data)
    got = {
        (r.user_id, r.month): (r.n_rows, round(r.sum_value, 6))
        for r in aggregates.incremental_rollup(df, "user_id", "ts", "value").collect()
    }
    exp = {
        (r.user_id, r.month): (r.n_rows, round(r.sum_value, 6))
        for r in df.withColumn("month", F.date_format("ts", "yyyy-MM"))
        .groupBy("user_id", "month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == exp


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=rows, tol_hours=st.integers(min_value=0, max_value=12))
def test_asof_tolerance_matches_bruteforce(spark, data, tol_hours):
    """asof_join_within == brute-force latest-right-within-window per
    left row, on arbitrary key/ts collisions."""
    left = _mk_events(spark, data).select(
        "event_id", "user_id", "ts"
    )
    right = _mk_events(spark, [(k, o, v) for (k, o, v) in data]).select(
        "event_id", "user_id", "ts", "value"
    )
    got = {
        r.event_id: (r.asof_ts, r.asof_value)
        for r in asof.asof_join_within(
            left, right, "user_id", "ts", "ts", ["value"],
            right_tiebreak="event_id", tolerance=f"{tol_hours} hours",
        ).collect()
    }
    rrows = right.collect()
    for lrow in left.collect():
        cands = [
            rr for rr in rrows
            if rr.user_id == lrow.user_id
            and rr.ts <= lrow.ts
        ]
        best = max(cands, key=lambda rr: (rr.ts, rr.event_id), default=None)
        if best is not None and best.ts < lrow.ts - timedelta(hours=tol_hours):
            best = None
        exp = (best.ts, best.value) if best is not None else (None, None)
        assert got[lrow.event_id] == exp, (lrow, got[lrow.event_id], exp)


def test_two_level_blocking_recall(spark, sf_dir):
    """Two-level (coarse x residual) blocked pairs: subset of the true
    pairs, with recall above the documented floor (conjunctive blocks
    trade recall for a k1*k2 block count — lower than flat blocking at
    equal probes, tunable via probes^2)."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .filter(F.col("d") <= 1.2)
    )
    true_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in clustering.semantic_dedup_pairs_two_level(
            emb, "vec_id", "embedding", k1=8, k2=8, iters=2, threshold=1.2, probes=2
        ).collect()
    }
    assert got <= true_pairs, f"false positives: {sorted(got - true_pairs)[:5]}"
    assert len(got) >= 0.4 * len(true_pairs), (
        f"two-level recall {len(got)}/{len(true_pairs)} below 0.4"
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.integers(min_value=0, max_value=40),  # ts offset (hours)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_funnel_first_touch_matches_bruteforce(spark, data):
    """Funnel semantics on arbitrary event streams (small domains force
    same-user ties and fall-outs): each stage's first touch is the
    earliest matching event strictly after the previous touch and
    within the window; users who fell out carry NULLs from that stage
    on."""
    from etl_fuel_priceguide_ec2_spark.operators import windows as W

    df = spark.createDataFrame(
        [
            (i, u, BASE + timedelta(hours=off), typ)
            for i, (u, off, typ) in enumerate(data)
        ],
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    )
    got = {
        r.user_id: (r.first_view, r.first_click, r.first_purchase)
        for r in W.funnel_first_touch(
            df, "user_id", "ts", "event_type",
            stages=["view", "click", "purchase"], within="6 HOURS",
        ).collect()
    }

    expected = {}
    by_user: dict[int, list] = {}
    for u, off, typ in data:
        by_user.setdefault(u, []).append((BASE + timedelta(hours=off), typ))
    win = timedelta(hours=6)
    for u, evs in by_user.items():
        views = [t for t, ty in evs if ty == "view"]
        if not views:
            continue
        fv = min(views)
        clicks = [t for t, ty in evs if ty == "click" and fv < t <= fv + win]
        fc = min(clicks) if clicks else None
        fp = None
        if fc is not None:
            purchases = [
                t for t, ty in evs if ty == "purchase" and fc < t <= fc + win
            ]
            fp = min(purchases) if purchases else None
        expected[u] = (fv, fc, fp)
    assert got == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40))
def test_cms_one_sided_on_arbitrary_inputs(spark, keys):
    """CMS property: for ANY multiset of keys, the estimate for every
    present key dominates its true multiplicity and never exceeds the
    total row count (collisions only ever ADD)."""
    from collections import Counter

    from etl_fuel_priceguide_ec2_spark.operators import sketches

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    true = Counter(keys)
    probes = sorted(true)
    est = {
        r.k: r.est_count
        for r in sketches.cms_point_counts(df, "k", probes, d=3, w=16).collect()
    }
    for k in probes:
        assert true[k] <= est[k] <= len(keys), (k, true[k], est[k])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.integers(min_value=1, max_value=10_000_000), min_size=1, max_size=40
    )
)
def test_dd_quantile_relative_error_on_arbitrary_inputs(spark, vals):
    """DDSketch bin property: for ANY positive value set, each
    estimated quantile is within the designed relative error of SOME
    value at-or-above the quantile cut (the bin containing the cut
    value brackets it within 1/16)."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    # values are cents/100 so quantization is exact
    df = spark.createDataFrame([(v / 100.0,) for v in vals], "v double")
    got = {r.q: r.est_value for r in sketches.dd_quantiles(df, "v").collect()}
    s = sorted(v / 100.0 for v in vals)
    import math

    for q, est in got.items():
        true = s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]
        assert abs(est - true) / true < 1 / 16 + 1e-9, (q, est, true)


_BCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# the two connected_components paths: Spark's default threshold leaves
# small graphs to the driver finish, -1 turns it off (the Spark loop)
CC_PATHS = {"driver_finish": "10MB", "spark_loop": "-1"}


@contextmanager
def _cc_path(spark, path: str):
    prev = spark.conf.get(_BCAST_THRESHOLD)
    spark.conf.set(_BCAST_THRESHOLD, CC_PATHS[path])
    try:
        yield
    finally:
        spark.conf.set(_BCAST_THRESHOLD, prev)


@pytest.mark.parametrize("path", sorted(CC_PATHS))
def test_cc_fixpoint_identical_across_hop_schedules(spark, path):
    """hops_per_probe is a SCHEDULE, never a semantics knob: the
    HashMin fixpoint must be identical under hops=1, hops=2, and the
    adaptive default on both cohort shapes — a deep chain (diameter 8,
    where batching wins) and shallow stars (diameter 1, where the
    round-5 fixed hops=2 paid its tax) — on both CC paths."""
    deep = [(i, i + 1) for i in range(8)]                      # 0-1-2-...-8
    shallow = [(10 * c, 10 * c + j) for c in range(3) for j in (1, 2, 3)]
    for edges in (deep, shallow, deep + shallow):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        with _cc_path(spark, path):
            results = [
                sorted(
                    (r.doc_id, r.component_id)
                    for r in dedup.connected_components(
                        df, hops_per_probe=h
                    ).collect()
                )
                for h in (1, 2, "auto")
            ]
        assert results[0] == results[1] == results[2]
        # every chain node labels to the chain min; every star to hub
        labels = dict(results[0])
        if edges is deep:
            assert all(labels[i] == 0 for i in range(9))


def _cc_graph(shapes, perm):
    """Disjoint stars (hub + spokes) and chains over node ids relabelled
    by ``perm``, so the component minimum sits anywhere in the shape."""
    edges, base = [], 0
    for kind, size in shapes:
        if kind == "star":
            edges += [(base, base + j) for j in range(1, size + 1)]
        else:
            edges += [(base + j, base + j + 1) for j in range(size)]
        base += size + 1
    return [(perm[a], perm[b]) for a, b in edges]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    shapes=st.lists(
        st.tuples(st.sampled_from(["star", "chain"]), st.integers(1, 9)), max_size=4
    ),
    perm=st.permutations(range(40)),
    max_iter=st.sampled_from([1, 2, 20]),
    hops=st.sampled_from([1, 2, "auto"]),
    id_type=st.sampled_from(["long", "string"]),
    null_id=st.booleans(),
)
@example(shapes=[], perm=list(range(40)), max_iter=20, hops="auto",
         id_type="long", null_id=False)
@example(shapes=[("chain", 9), ("star", 5)], perm=list(range(40)), max_iter=2,
         hops=2, id_type="string", null_id=False)
@example(shapes=[("chain", 4)], perm=list(range(40)), max_iter=20, hops=1,
         id_type="long", null_id=True)
def test_cc_driver_finish_equals_spark_loop(
    spark, shapes, perm, max_iter, hops, id_type, null_id
):
    """The driver finish replays the Spark loop's schedule, so both
    paths give identical sorted (doc_id, component_id) on any graph —
    including a ``max_iter`` truncation that stops short of the
    fixpoint, string ids (Spark's UTF-8 byte order == Python's
    code-point order) and empty pairs. A NULL id always takes the Spark loop."""
    edges = _cc_graph(shapes, perm)
    if null_id:
        edges.append((edges[0][0] if edges else 0, None))
    if id_type == "string":
        # 1- to 4-byte UTF-8 prefixes: U+1D52B sorts after U+FF4E by code
        # point and UTF-8 bytes (Spark, Python) but before it in UTF-16
        edges = [
            tuple(None if v is None else "nñｎ𝔫"[v % 4] + str(v) for v in e)
            for e in edges
        ]
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    taken = []
    real = dedup._hashmin_on_driver
    dedup._hashmin_on_driver = lambda *a: taken.append(1) or real(*a)
    try:
        got = {}
        for path in CC_PATHS:
            with _cc_path(spark, path):
                got[path] = sorted(
                    map(tuple, dedup.connected_components(
                        pairs, max_iter=max_iter, hops_per_probe=hops
                    ).collect()),
                    key=repr,
                )
    finally:
        dedup._hashmin_on_driver = real
    assert got["driver_finish"] == got["spark_loop"]
    assert taken == ([] if null_id else [1])
    nodes = {v for e in edges for v in e}
    assert {r[0] for r in got["spark_loop"]} == nodes


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=60),
    slice_of=st.lists(st.integers(min_value=0, max_value=2), min_size=60, max_size=60),
    k=st.sampled_from([4, 16]),
)
def test_kmv_merge_associativity_property(spark, keys, slice_of, k):
    """For ANY key multiset partitioned into ANY slices, merging the
    per-slice KMV sketches equals sketching the union directly — the
    property that makes per-day/per-segment sketch stores exact
    re-aggregations (duplicates across slices collapse in the merge's
    distinct; min-k of per-slice min-k is global min-k)."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import sketches

    rows = [(kk, slice_of[i]) for i, kk in enumerate(keys)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "u long, s int")
    direct = sorted(
        r._h for r in sketches.kmv_sketch(df, "u", k=k).collect()
    )
    slices = [
        sketches.kmv_sketch(df.filter(F.col("s") == i), "u", k=k) for i in range(3)
    ]
    unioned = slices[0].unionAll(slices[1]).unionAll(slices[2])
    merged = sorted(r._h for r in sketches.kmv_merge(unioned, k=k).collect())
    assert merged == direct


def test_pagerank_star_graph_and_mass_conservation(spark):
    """PageRank sanity on a hand-checkable star (hub 0 <-> spokes
    1..6, undirected): the hub outranks every spoke, all spokes tie
    exactly (symmetry — the decimal contribution discipline means
    EXACT equality, not approximate), and total rank mass stays ~1
    (teleport + damping conserve mass on a dangling-free graph up to
    the 12-dp per-node rounding)."""
    from etl_fuel_priceguide_ec2_spark.operators import graph

    spokes = list(range(1, 7))
    edges = [(0, s) for s in spokes] + [(s, 0) for s in spokes]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r.node: r.pr for r in graph.pagerank(df, iters=5).collect()}
    assert set(ranks) == {0, *spokes}
    assert all(ranks[0] > ranks[s] for s in spokes)
    assert len({ranks[s] for s in spokes}) == 1  # exact tie by symmetry
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_hits_directed_star_hub_authority_split(spark):
    """HITS sanity on a hand-checkable directed star (hub 0 → spokes
    1..6): after one iteration the scores reach the exact fixed point —
    node 0 is the unique hub (hub exactly 1.0, auth exactly 0.0: no
    in-edges), every spoke is a pure authority (hub 0.0), all six spoke
    authorities tie EXACTLY at round(1/6, 12) (symmetry + the decimal
    contribution discipline means exact equality), and each phase's L1
    mass is 1 up to the 12-dp per-node rounding."""
    from etl_fuel_priceguide_ec2_spark.operators import graph

    spokes = list(range(1, 7))
    edges = [(0, s) for s in spokes]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.node: r for r in graph.hits(df, iters=3).collect()}
    assert set(rows) == {0, *spokes}
    assert rows[0].hub == 1.0 and rows[0].auth == 0.0
    assert all(rows[s].hub == 0.0 for s in spokes)
    assert len({rows[s].auth for s in spokes}) == 1  # exact tie
    assert rows[1].auth == round(1 / 6, 12)
    assert abs(sum(r.hub for r in rows.values()) - 1.0) < 1e-9
    assert abs(sum(r.auth for r in rows.values()) - 1.0) < 1e-9


def test_hits_rejects_non_positive_iters(spark):
    """iters=0 used to leave auths=None and crash on hubs.join(None),
    and the oracle emitted SQL referencing nonexistent CTEs (round-7
    ADVICE); both now raise upfront, matching _bpe_state_loop's guard."""
    from etl_fuel_priceguide_ec2_spark.operators import graph
    import pytest as _pytest

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="iters >= 1"):
            graph.hits(df, iters=bad)
        with _pytest.raises(ValueError, match="iters >= 1"):
            graph.hits_oracle_sql("SELECT 0 AS src, 1 AS dst", iters=bad)


def test_triangle_counts_on_k4_plus_pendant(spark):
    """Triangles on a hand-checkable graph: K4 (nodes 1-4) plus the
    pendant edge 4-5. Every K4 triple is a triangle (4 total), so
    nodes 1-3 sit in 3 triangles with a fully-interlinked
    neighborhood (lcc exactly 1.0), node 4's extra pendant neighbor
    dilutes its coefficient to 2*3/(4*3) = 0.5 exactly, and the
    pendant has no wedge at all (lcc 0.0 by the degree<2 guard)."""
    from etl_fuel_priceguide_ec2_spark.operators import graph

    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(pairs, "a long, b long")
    rows = {r.node: r for r in graph.triangle_counts(df).collect()}
    assert {n: rows[n].n_triangles for n in sorted(rows)} == {
        1: 3, 2: 3, 3: 3, 4: 3, 5: 0,
    }
    assert {n: rows[n].degree for n in sorted(rows)} == {
        1: 3, 2: 3, 3: 3, 4: 4, 5: 1,
    }
    assert [rows[n].lcc for n in (1, 2, 3, 4, 5)] == [1.0, 1.0, 1.0, 0.5, 0.0]
    # global count: each triangle contributes one corner to three nodes
    assert sum(r.n_triangles for r in rows.values()) == 3 * 4


def test_triangle_counts_rejects_non_integer_nodes(spark):
    from etl_fuel_priceguide_ec2_spark.operators import graph
    import pytest as _pytest

    df = spark.createDataFrame([("x", "y")], "a string, b string")
    with _pytest.raises(ValueError, match="integer node ids"):
        graph.triangle_counts(df)


def test_pair_affinity_hand_checked_lift(spark):
    """Affinity on a hand-checkable basket set: only (1,2) reaches
    support 2 (it co-occurs in 3 of 5 baskets); its lift is exactly
    (3*5)/(3*3) rounded to 9 dp, and both confidences are 1.0 (every
    basket containing either item contains the other)."""
    from etl_fuel_priceguide_ec2_spark.operators import affinity

    rows = [
        (1, 1), (1, 2), (1, 3),
        (2, 1), (2, 2),
        (3, 1), (3, 2), (3, 4),
        (4, 3), (4, 4),
        (5, 5),
    ]
    df = spark.createDataFrame(rows, "basket long, item long")
    out = affinity.pair_affinity(df, min_support=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.item_a, r.item_b, r.support, r.support_a, r.support_b) == (
        1, 2, 3, 3, 3,
    )
    assert r.confidence_ab == 1.0 and r.confidence_ba == 1.0
    assert r.lift == round(15 / 9, 9)


def test_pair_affinity_dedups_within_basket_and_validates(spark):
    """Duplicate (basket, item) facts must not inflate support (the
    distinct-first rule), and min_support < 1 is rejected."""
    from etl_fuel_priceguide_ec2_spark.operators import affinity
    import pytest as _pytest

    rows = [(1, 1), (1, 1), (1, 2), (1, 2), (2, 1), (2, 2)]
    df = spark.createDataFrame(rows, "basket long, item long")
    out = affinity.pair_affinity(df, min_support=2).collect()
    assert len(out) == 1 and out[0].support == 2
    with _pytest.raises(ValueError, match="min_support"):
        affinity.pair_affinity(df, min_support=0)


def test_bpe_learn_merges_greedy_overlap_and_retokenize(spark):
    """BPE training semantics on a hand-checkable corpus. 'aaaa' x2 +
    'aab' x1: pair (a,a) counts 7 (overlaps count in the stats pass,
    as in Sennrich's get_stats), so merge 1 is aa; the GREEDY rebuild
    merges positions 1,3 of 'aaaa' -> 'aa','aa' (never the middle
    overlap), leaving corpus symbols 2*2 + 2 = 6. Merge 2 then sees
    ('aa','aa') x2 and ('aa','b') x1 -> merges aa+aa; merge 3 is the
    remaining aa+b."""
    from etl_fuel_priceguide_ec2_spark.operators import textops

    docs = spark.createDataFrame(
        [("aaaa aaaa aab",)], "text string"
    )
    # word-frequency collapse: aaaa has wcount 2, aab wcount 1
    out = {r.iter: r for r in textops.bpe_learn_merges(docs, "text", iters=3).collect()}
    assert (out[1].left_sym, out[1].right_sym, out[1].pair_count) == ("a", "a", 7)
    assert out[1].corpus_symbols_after == 2 * 2 + 2
    assert (out[2].merged, out[2].pair_count) == ("aaaa", 2)
    assert out[2].corpus_symbols_after == 2 * 1 + 2
    assert (out[3].merged, out[3].pair_count) == ("aab", 1)
    assert out[3].corpus_symbols_after == 2 * 1 + 1


def test_bpe_learn_merges_validates_iters(spark):
    from etl_fuel_priceguide_ec2_spark.operators import textops
    import pytest as _pytest

    docs = spark.createDataFrame([("ab",)], "text string")
    with _pytest.raises(ValueError, match="iters"):
        textops.bpe_learn_merges(docs, "text", iters=0)


def test_triangle_counts_rejects_out_of_range_node_ids(spark):
    """Node ids outside [0, rank_base) would silently corrupt the
    packed degree-orientation rank key — the guard raises at execution
    instead (ADVICE r06)."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import graph

    df = spark.createDataFrame([(1, 50), (50, 7), (1, 7)], "a: bigint, b: bigint")
    # sanity: in-range ids still work with a tiny rank_base
    ok = {r.node: r.n_triangles for r in graph.triangle_counts(df, rank_base=100).collect()}
    assert ok == {1: 1, 7: 1, 50: 1}
    with pytest.raises(Exception, match="rank key"):
        graph.triangle_counts(df, rank_base=10).collect()
    neg = spark.createDataFrame([(-1, 5), (5, 3), (-1, 3)], "a: bigint, b: bigint")
    with pytest.raises(Exception, match="rank key"):
        graph.triangle_counts(neg, rank_base=100).collect()


def test_pair_affinity_max_basket_size_guard(spark):
    """The fan-out guard (VERDICT r06): an oversized basket is dropped
    from EVERYTHING (n_baskets, singles, pairs — internally consistent
    output), the exclusion is countable, and the capped relation
    matches the capped DuckDB oracle."""
    import duckdb
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import affinity

    small = [("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "y")]
    big = [("huge", f"t{i}") for i in range(50)] + [("huge", "x"), ("huge", "y")]
    df = spark.createDataFrame(small + big, "basket: string, item: string")

    uncapped = {
        (r.item_a, r.item_b): r.support
        for r in affinity.pair_affinity(df, min_support=2).collect()
    }
    assert uncapped[("x", "y")] == 3  # huge basket contributes

    capped_df = affinity.pair_affinity(df, min_support=2, max_basket_size=10)
    capped = {(r.item_a, r.item_b): r for r in capped_df.collect()}
    assert set(capped) == {("x", "y")}
    assert capped[("x", "y")].support == 2  # huge basket fully excluded
    # supports and lift computed over kept baskets only: n=2, a=b=2
    assert capped[("x", "y")].support_a == 2
    assert capped[("x", "y")].lift == pytest.approx(2 * 2 / (2 * 2))

    excl = affinity.oversized_baskets(df, max_basket_size=10).collect()[0]
    assert excl.n_baskets_dropped == 1
    assert excl.max_basket_size_seen == 52

    with pytest.raises(ValueError, match="max_basket_size"):
        affinity.pair_affinity(df, max_basket_size=1)

    # capped oracle parity on the same relation
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (basket VARCHAR, item VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", small + big)
    sql = affinity.pair_affinity_oracle_sql(
        "SELECT basket, item FROM t", min_support=2, max_basket_size=10
    )
    orc = {(a, b): s for a, b, s, *_ in con.execute(sql).fetchall()}
    assert orc == {("x", "y"): 2}


def test_oversized_baskets_empty_relation_reports_zero(spark):
    """Exclusion report on an EMPTY basket relation is (0, 0), not
    (NULL, NULL) — same contract as ``overfrequent_grams`` (ADVICE
    r08): a downstream ``n_baskets_dropped == 0`` gate must hold on an
    empty input, and NULL would fail it silently."""
    from etl_fuel_priceguide_ec2_spark.operators import affinity

    empty = spark.createDataFrame([], "basket: string, item: string")
    row = affinity.oversized_baskets(empty, max_basket_size=10).collect()[0]
    assert row.n_baskets_dropped == 0
    assert row.max_basket_size_seen == 0


def test_quality_classifier_hand_checked_and_collisions(spark):
    """Linear-scorer semantics pinned by hand: mean weight over
    unigram+bigram features, unmatched weigh 0; featureless docs get a
    decided row (score 0.0); n_buckets=1 forces every lexicon term into
    ONE bucket whose weight is the lexicon SUM — feature hashing's
    collision semantics, verified exactly."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import textops

    lex_rows = [("the", "0.5"), ("table", "0.2"), ("slow", "-0.8"), ("the table", "0.9")]
    lex = spark.createDataFrame(lex_rows, "term string, weight string").select(
        "term", F.col("weight").cast("decimal(12,6)").alias("weight")
    )
    docs = spark.createDataFrame(
        [(1, "the table is slow"), (2, "   "), (3, "unrelated words only")],
        "doc_id: bigint, text: string",
    )
    w = textops.quality_classifier_weights(lex, n_buckets=4096)
    out = {
        r.doc_id: r
        for r in textops.quality_classifier_scores(
            docs, "doc_id", "text", w, n_buckets=4096, threshold=0.0
        ).collect()
    }
    # doc 1: features = the, table, is, slow, "the table", "table is",
    # "is slow" (7); matched sum = 0.5 + 0.2 - 0.8 + 0.9 = 0.8
    assert out[1].n_features == 7 and out[1].n_matched == 4
    assert out[1].score == round(0.8 / 7, 9) and bool(out[1].keep)
    # whitespace-only doc still gets a decided row
    assert out[2].n_features == 0 and out[2].score == 0.0 and bool(out[2].keep)
    # no matches: score 0, keep at threshold 0.0
    assert out[3].n_matched == 0 and out[3].score == 0.0

    # n_buckets=1: all terms collide; bucket weight = lexicon sum = 0.8
    w1 = textops.quality_classifier_weights(lex, n_buckets=1)
    assert w1.collect()[0].weight == __import__("decimal").Decimal("0.800000")
    out1 = {
        r.doc_id: r.score
        for r in textops.quality_classifier_scores(
            docs, "doc_id", "text", w1, n_buckets=1
        ).collect()
    }
    assert out1[1] == out1[3] == 0.8  # every feature matches the one bucket
    assert out1[2] == 0.0


def test_quality_classifier_composes_with_keep_list(spark, sf_dir):
    """The VERDICT r06 item-6 integration: ANDing the classifier gate
    into curation_keep_list's kept column yields a keep-list that is a
    subset of both gates and decides every physical row."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.registry import base as reg_base

    qs = reg_base._REGISTRY
    kl = qs["curation_keep_list"][0](spark, sf_dir).select(
        "doc_id", "row_idx", F.col("kept").alias("kept_curation")
    )
    qc = qs["quality_classifier_scores"][0](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kept_classifier")
    )
    composed = kl.join(qc, "doc_id").withColumn(
        "kept", F.col("kept_curation") & F.col("kept_classifier")
    )
    rows = composed.collect()
    n_docs_rows = qs["curation_keep_list"][0](spark, sf_dir).count()
    assert len(rows) == n_docs_rows  # every physical row decided
    assert all((r.kept == (r.kept_curation and r.kept_classifier)) for r in rows)
    n_kept = sum(r.kept for r in rows)
    n_cur = sum(r.kept_curation for r in rows)
    assert 0 < n_kept < n_cur  # the classifier gate actually bites


def _brute_spans(docs: dict, k: int, min_span: int):
    """Reference semantics for exact_substring_spans: maximal aligned
    token-equality runs of length >= min_span per (pair, diagonal)."""
    out = set()
    toks = {i: [t.lower() for t in txt.split()] for i, txt in docs.items()}
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            ta, tb = toks[a], toks[b]
            for diag in range(-(len(tb) - 1), len(ta)):
                run = 0
                start = None
                for pa in range(max(0, diag), len(ta)):
                    pb = pa - diag
                    if pb >= len(tb):
                        break
                    if ta[pa] == tb[pb]:
                        if run == 0:
                            start = pa
                        run += 1
                    else:
                        if run >= min_span:
                            out.add((a, b, start + 1, start - diag + 1, run))
                        run = 0
                if run >= min_span:
                    out.add((a, b, start + 1, start - diag + 1, run))
    return out


def test_exact_substring_spans_planted_and_maximal(spark):
    """Hand-planted shared spans come back exactly once (maximal, not
    nested), separate spans on one diagonal stay separate, and
    validation rejects degenerate parameters."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import dedup

    filler_a = [f"fa{i}" for i in range(10)]
    shared = [f"sh{i}" for i in range(40)]
    filler_b = [f"fb{i}" for i in range(4)]
    doc_a = " ".join(filler_a + shared + ["tail"])        # shared at pos 11
    doc_b = " ".join(filler_b + shared + ["other", "end"])  # shared at pos 5
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, "no overlap here at all")],
        "doc_id: bigint, text: string",
    )
    rows = dedup.exact_substring_spans(
        df, "doc_id", "text", k=8, min_span_tokens=30, max_gram_freq=None
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens) == (1, 2, 11, 5, 40)

    # two spans on the SAME diagonal, split by a one-token mismatch
    p = [f"p{i}" for i in range(32)]
    q = [f"q{i}" for i in range(35)]
    d1 = " ".join(p + ["xx"] + q)
    d2 = " ".join(p + ["yy"] + q)
    df2 = spark.createDataFrame([(1, d1), (2, d2)], "doc_id: bigint, text: string")
    got = {
        (r.a_start, r.b_start, r.span_tokens)
        for r in dedup.exact_substring_spans(
            df2, "doc_id", "text", k=8, min_span_tokens=30, max_gram_freq=None
        ).collect()
    }
    assert got == {(1, 1, 32), (34, 34, 35)}

    with pytest.raises(ValueError, match="k must be"):
        dedup.exact_substring_spans(df, "doc_id", "text", k=1)
    with pytest.raises(ValueError, match="min_span_tokens"):
        dedup.exact_substring_spans(df, "doc_id", "text", k=8, min_span_tokens=5)


def test_exact_substring_spans_matches_bruteforce(spark):
    """Randomized cross-check vs the token-run DP reference on a tiny
    alphabet (forces accidental shared spans, not just planted ones)."""
    import random

    from etl_fuel_priceguide_ec2_spark.operators import dedup

    rng = random.Random(7)
    alphabet = ["a", "b", "c", "d"]
    docs = {}
    for i in range(6):
        docs[i] = " ".join(rng.choice(alphabet) for _ in range(60))
    # plant one long shared span across two of them
    span = [rng.choice(alphabet) for _ in range(12)]
    docs[1] = " ".join(docs[1].split()[:20] + span + docs[1].split()[20:40])
    docs[4] = " ".join(docs[4].split()[:5] + span + docs[4].split()[5:30])

    df = spark.createDataFrame(
        list(docs.items()), "doc_id: bigint, text: string"
    )
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens)
        for r in dedup.exact_substring_spans(
            df, "doc_id", "text", k=3, min_span_tokens=5, max_gram_freq=None
        ).collect()
    }
    assert got == _brute_spans(docs, k=3, min_span=5)


def test_exact_substring_gram_freq_cap_and_report(spark):
    """A boilerplate gram above the frequency cap is excluded before
    the self-join: spans running through it split; the exclusion report
    counts it. Uncapped, the same corpus reports the full spans."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    boiler = [f"bp{i}" for i in range(8)]  # one 8-gram in every doc
    rows = []
    for d in range(10):
        uniq = [f"u{d}_{i}" for i in range(15)]
        rows.append((d, " ".join(uniq + boiler + uniq)))
    # docs share ONLY the boilerplate gram; each doc's span with itself
    # is not a pair. Add two docs sharing boiler plus flanks.
    flank_l = [f"fl{i}" for i in range(15)]
    flank_r = [f"fr{i}" for i in range(15)]
    rows.append((100, " ".join(flank_l + boiler + flank_r)))
    rows.append((101, " ".join(flank_l + boiler + flank_r)))
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")

    full = {
        (r.doc_a, r.doc_b, r.span_tokens)
        for r in dedup.exact_substring_spans(
            df, "doc_id", "text", k=8, min_span_tokens=15, max_gram_freq=None
        ).collect()
    }
    assert (100, 101, 38) in full  # the whole 15+8+15 doc matches

    capped = dedup.exact_substring_spans(
        df, "doc_id", "text", k=8, min_span_tokens=15, max_gram_freq=10
    ).collect()
    got = {(r.doc_a, r.doc_b, r.a_start, r.span_tokens) for r in capped}
    # the pure-boiler 8-gram (start position 16) occurs 12x (> 10):
    # dropped, splitting the 38-token span into two 22-token spans —
    # gram runs 1..15 and 17..31 (mixed flank/boiler grams occur only
    # twice, so they survive and chain 7 boiler tokens onto each flank)
    assert got == {(100, 101, 1, 22), (100, 101, 17, 22)}

    rep = dedup.overfrequent_grams(
        df, "doc_id", "text", k=8, max_gram_freq=10
    ).collect()[0]
    assert rep.n_grams_dropped == 1
    assert rep.max_gram_freq_seen == 12


def test_span_coverage_interval_union_hand_checked(spark):
    """Overlapping spans count once in the union; docs with no spans
    still get decided rows; the drop gate fires at the threshold."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    shared1 = [f"s{i}" for i in range(20)]   # doc1[1..20] == doc2[1..20]
    shared2 = [f"s{i}" for i in range(10, 30)]  # doc1[11..30] == doc3[1..20]
    doc1 = " ".join(shared1 + [f"s{i}" for i in range(20, 30)] + [f"x{i}" for i in range(10)])
    doc2 = " ".join(shared1 + [f"y{i}" for i in range(15)])
    doc3 = " ".join(shared2 + [f"z{i}" for i in range(15)])
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3), (4, "nothing shared at all here")],
        "doc_id: bigint, text: string",
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicated_span_coverage(
            df, "doc_id", "text", k=8, min_span_tokens=15,
            max_gram_freq=None, drop_threshold=0.5,
        ).collect()
    }
    # doc1: spans [1..20] (with doc2) and [11..30] (with doc3) overlap;
    # union = [1..30] = 30 of 40 tokens, NOT 20+20=40
    assert out[1].n_tokens == 40
    assert out[1].covered_tokens == 30
    assert out[1].dup_frac == 0.75 and bool(out[1].drop)
    # doc2: covered [1..20] of 35 -> 0.571 >= 0.5, dropped
    assert out[2].covered_tokens == 20 and out[2].dup_frac == round(20 / 35, 9)
    assert bool(out[2].drop)
    # doc4: no spans, decided row
    assert out[4].covered_tokens == 0 and out[4].dup_frac == 0.0 and not out[4].drop


def test_exact_substring_incremental_reconstructs_from_scratch(spark):
    """prior-run spans UNION incremental spans == from-scratch spans
    over the union corpus, with ZERO overlap (cap None — the exact
    identity regime), on a corpus with history-history, history-new,
    and new-new spans all present."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    s1 = [f"a{i}" for i in range(20)]
    s2 = [f"b{i}" for i in range(25)]
    hist = {
        1: " ".join(s1 + [f"h1_{i}" for i in range(10)]),
        2: " ".join([f"h2_{i}" for i in range(5)] + s1),       # hist-hist span
        3: " ".join(s2 + [f"h3_{i}" for i in range(8)]),
    }
    new = {
        10: " ".join([f"n1_{i}" for i in range(7)] + s2),      # new-hist span
        11: " ".join(s2 + s1),                                  # new-hist x2
        12: " ".join([f"n3_{i}" for i in range(3)] + s2 + s1),  # new-new with 11
    }
    hdf = spark.createDataFrame(list(hist.items()), "doc_id: bigint, text: string")
    ndf = spark.createDataFrame(list(new.items()), "doc_id: bigint, text: string")
    union = hdf.unionAll(ndf)

    kw = dict(k=8, min_span_tokens=15, max_gram_freq=None)
    t = lambda rows: {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens) for r in rows
    }
    from_scratch = t(
        dedup.exact_substring_spans(union, "doc_id", "text", **kw).collect()
    )
    prior = t(dedup.exact_substring_spans(hdf, "doc_id", "text", **kw).collect())
    hstate = dedup.positional_gram_state(hdf, "doc_id", "text", k=8)
    nstate = dedup.positional_gram_state(ndf, "doc_id", "text", k=8)
    incr = t(
        dedup.exact_substring_spans_incremental(hstate, nstate, **kw).collect()
    )
    assert prior & incr == set()          # zero overlap
    assert prior | incr == from_scratch   # exact reconstruction
    assert prior and incr                 # both legs non-trivial
    # every incremental span touches a new doc; no prior span does
    assert all(a >= 10 or b >= 10 for a, b, *_ in incr)
    assert all(a < 10 and b < 10 for a, b, *_ in prior)


def test_bpe_encode_matches_training_state(spark):
    """bpe_encode_words is the training loop's final state: greedy
    left-to-right overlap semantics visible in the encoding, and
    sum(wcount * n_tokens) equals the last merge's
    corpus_symbols_after exactly."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import textops

    # 'aaaa' x3, 'aab' x2: iter1 best pair = (a,a); greedy overlap
    # merges aaaa -> (aa)(aa), aab -> (aa)b
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa aab aab")], "doc_id: bigint, text: string"
    )
    enc = {
        r.word: (r.n_tokens, r.encoded)
        for r in textops.bpe_encode_words(df, "text", iters=1).collect()
    }
    assert enc["aaaa"] == (2, "aa aa")
    assert enc["aab"] == (2, "aa b")

    merges = textops.bpe_learn_merges(df, "text", iters=1).collect()
    enc_df = textops.bpe_encode_words(df, "text", iters=1)
    total = enc_df.select(
        F.sum(F.col("wcount") * F.col("n_tokens")).alias("t")
    ).collect()[0].t
    assert total == merges[-1].corpus_symbols_after


def test_domain_classifier_argmax_margin_and_ties(spark):
    """Multiclass semantics pinned by hand: per-class mean weights,
    argmax with (score DESC, class ASC) tie-break, margin = best minus
    runner-up (0.0 on exact ties and featureless docs)."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import textops

    lex_rows = [
        ("x", "alpha", "0.6"), ("x", "beta", "0.2"),
        ("y", "alpha", "0.1"), ("y", "gamma", "0.9"),
    ]
    lex = spark.createDataFrame(
        lex_rows, "class string, term string, weight string"
    ).select("class", "term", F.col("weight").cast("decimal(12,6)").alias("weight"))
    w = textops.domain_classifier_weights(lex, n_buckets=4096)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),        # x: (0.6+0.2)/3, y: 0.1/3
            (2, "gamma gamma alpha"), # y: (0.9*2+0.1)/5 vs x: 0.6/5
            (3, "unmatched words"),   # all-zero tie -> class asc
            (4, "   "),               # featureless
        ],
        "doc_id: bigint, text: string",
    )
    out = {
        r.doc_id: r
        for r in textops.domain_classifier_labels(
            docs, "doc_id", "text", w, n_buckets=4096
        ).collect()
    }
    # doc1: 3 features (alpha, beta, "alpha beta")
    assert out[1].best_class == "x"
    assert out[1].best_score == round(0.8 / 3, 9)
    # margin subtracts the ROUNDED scores (portable both engines)
    assert out[1].margin == round(round(0.8 / 3, 9) - round(0.1 / 3, 9), 9)
    # doc2: 5 features; y wins
    assert out[2].best_class == "y"
    assert out[2].best_score == round(1.9 / 5, 9)
    # doc3: zero scores for both classes -> tie -> 'x' (class asc), margin 0
    assert out[3].best_class == "x" and out[3].best_score == 0.0 and out[3].margin == 0.0
    # doc4: featureless but decided
    assert out[4].n_features == 0 and out[4].best_class == "x" and out[4].margin == 0.0


def test_phrase_occurrences_exact_positions(spark):
    """Phrase localization: all and only the verbatim occurrences, at
    exact 1-based token positions; near-misses (one token off) and
    sub-k phrases yield nothing."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import dedup

    phrase = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + phrase + " trailing text"),   # pos 4
            (2, phrase),                                            # pos 1
            (3, phrase + " and then " + phrase),                    # pos 1 and 13
            (4, phrase.replace("lazy", "sleepy")),                  # near-miss
            (5, "no relation at all"),
        ],
        "doc_id: bigint, text: string",
    )
    phrases = spark.createDataFrame(
        [(100, phrase), (200, "too short")], "phrase_id: bigint, phrase: string"
    )
    state = dedup.positional_gram_state(docs, "doc_id", "text", k=8)
    got = {
        (r.phrase_id, r.doc_id, r.start_pos)
        for r in dedup.phrase_occurrences(state, phrases, k=8).collect()
    }
    assert got == {(100, 1, 4), (100, 2, 1), (100, 3, 1), (100, 3, 13)}


def test_excise_spans_hand_checked(spark):
    """Excision removes exactly the flagged token union (overlaps once),
    rebuilds the remaining tokens in order, and passes span-free and
    fully-excised docs through with decided rows."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "A b c d e f g h"),   # remove [2..4] and [4..6] -> b..f gone
            (2, "keep all of this"),
            (3, "gone entirely"),
            (4, "   "),
        ],
        "doc_id: bigint, text: string",
    )
    spans = spark.createDataFrame(
        [(1, 2, 3), (1, 4, 3), (3, 1, 2)],
        "doc_id: bigint, start_pos: bigint, span_tokens: bigint",
    )
    out = {
        r.doc_id: r
        for r in dedup.excise_spans(
            docs, spans, "doc_id", "text", span_id_col="doc_id"
        ).collect()
    }
    assert out[1].clean_text == "a g h"          # lowercased, b-f excised
    assert out[1].n_tokens_removed == 5          # union of [2,4] and [4,6]
    assert out[2].clean_text == "keep all of this" and out[2].n_tokens_removed == 0
    assert out[3].clean_text == "" and out[3].n_tokens_removed == 2
    assert out[4].clean_text == "" and out[4].n_tokens_removed == 0


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee: docs sharing a substring of
    >= w + k - 1 tokens share at least one selected fingerprint (on
    randomized corpora with planted spans); the index is smaller than
    the full gram relation (density ~2/(w+1))."""
    import random

    from etl_fuel_priceguide_ec2_spark.operators import dedup

    rng = random.Random(11)
    k, w = 4, 4
    span = [f"sh{i}" for i in range(w + k - 1)]  # exactly the guarantee floor
    docs = []
    for d in range(8):
        filler = [f"d{d}_{i}" for i in range(rng.randint(10, 25))]
        cut = rng.randint(0, len(filler))
        body = filler[:cut] + (span if d % 2 == 0 else []) + filler[cut:]
        docs.append((d, " ".join(body)))
    df = spark.createDataFrame(docs, "doc_id: bigint, text: string")
    state = dedup.positional_gram_state(df, "doc_id", "text", k=k, hash="md5")
    fps = dedup.winnow_fingerprints(state, w=w)
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.fingerprint_candidates(
            fps, min_shared=1, max_fp_freq=None
        ).collect()
    }
    planted = {(a, b) for a in range(0, 8, 2) for b in range(0, 8, 2) if a < b}
    assert planted <= cands  # the guarantee: no planted pair is missed

    n_grams = state.count()
    n_fps = fps.count()
    assert n_fps < n_grams  # it IS a compression
    # density sanity: within 3x of the expected 2/(w+1)
    assert n_fps / n_grams < 3 * 2 / (w + 1)


# ---------------------------------------------------------------------------
# X2d containment join
# ---------------------------------------------------------------------------


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    C(short, long) = 1.0 while Jaccard ~ |A|/|B| sits far below any
    useful symmetric threshold."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler.upper())],
        ["doc_id", "text"],
    )
    rows = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert rows == {(1, 2): 1.0}
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5, prefix_filter=False)
    assert jac.count() == 0


def test_containment_prefix_path_equals_naive(spark, sf_dir):
    from etl_fuel_priceguide_ec2_spark.operators import dedup
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    naive = {
        tuple(r)
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.7, prefix_filter=False
        ).collect()
    }
    prefix = {
        tuple(r)
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.7, prefix_filter=True
        ).collect()
    }
    assert naive == prefix
    assert len(naive) > 0


def test_containment_is_directed(spark):
    """Near-superset emits only the contained->container direction at a
    high threshold; two near-identical docs emit both directions."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    base = " ".join(f"t{i} u{i} v{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra trailing tokens here " + " ".join(f"z{i}" for i in range(40)))],
        ["doc_id", "text"],
    )
    got = {(r.id_a, r.id_b) for r in dedup.containment_pairs(df, "doc_id", "text", threshold=0.9).collect()}
    assert got == {(1, 2)}
    twins = spark.createDataFrame([(1, base), (2, base + " tail")], ["doc_id", "text"])
    got2 = {(r.id_a, r.id_b) for r in dedup.containment_pairs(twins, "doc_id", "text", threshold=0.9).collect()}
    assert got2 == {(1, 2), (2, 1)}


# ---------------------------------------------------------------------------
# SymSpell fuzzy linkage
# ---------------------------------------------------------------------------


def test_symspell_matches_bruteforce_levenshtein(spark):
    """Exactness: symmetric-delete blocking + verify equals the all-pairs
    levenshtein <= 1 relation on a mixed fixture (substitution, deletion,
    insertion, transposition-distance-2 excluded, equal strings collapsed
    into counts)."""
    from etl_fuel_priceguide_ec2_spark.operators import linkage
    from pyspark.sql import functions as F

    names = [
        "johnson", "jonson", "johnsen",      # deletion + substitution family
        "smithe", "smith", "smiths",         # insertion chains
        "widget", "wigdet",                  # transposition = distance 2: excluded
        "acme corp", "acme corp", "acme cor" # duplicate string -> cnt 2
    ]
    df = spark.createDataFrame([(s,) for s in names], ["name"])
    got = {
        (r.s_a, r.s_b, r.cnt_a, r.cnt_b, r.dist)
        for r in linkage.symspell_pairs(df, "name", min_len=4).collect()
    }
    distinct = sorted(set(names))
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (a, b, names.count(a), names.count(b), 1)
        for a, b in itertools.combinations(distinct, 2)
        if lev(a, b) == 1
    }
    assert got == want
    assert ("widget", "wigdet", 1, 1, 1) not in got  # transposition is distance 2


def test_symspell_hot_bucket_cap_drops_only_saturated_variants(spark):
    from etl_fuel_priceguide_ec2_spark.operators import linkage

    # 6 strings all sharing the deletion variant 'aaaa' (delete one of 5 a's
    # after a distinct head char is wrong — craft: Xaaaa family shares 'aaaa')
    fam = [c + "aaaa" for c in "bcdefg"]
    iso = ["zzzzq", "zzzzw"]  # small family, survives the cap
    df = spark.createDataFrame([(s,) for s in fam + iso], ["name"])
    exact = linkage.symspell_pairs(df, "name", min_len=4).count()
    capped = linkage.symspell_pairs(df, "name", min_len=4, max_variant_freq=3)
    got = {(r.s_a, r.s_b) for r in capped.collect()}
    assert ("zzzzq", "zzzzw") in got
    assert len(got) < exact  # the saturated family's pairs were dropped


def test_symspell_min_len_excludes_short_strings(spark):
    from etl_fuel_priceguide_ec2_spark.operators import linkage

    df = spark.createDataFrame([("ab",), ("ac",), ("abcd",), ("abcde",)], ["name"])
    got = {(r.s_a, r.s_b) for r in linkage.symspell_pairs(df, "name", min_len=4).collect()}
    assert got == {("abcd", "abcde")}


# ---------------------------------------------------------------------------
# X5b image perceptual-hash dedup
# ---------------------------------------------------------------------------


def test_image_ahash_pairs_equal_bruteforce(spark):
    """Band blocking loses no pairs at Hamming <= 3 (pigeonhole recall),
    and every emitted Hamming equals the brute-force popcount over the
    same hash relation."""
    import itertools

    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    hashes = multimodal.image_ahash(multimodal.to_image_media(docs, "doc_id", classes=12))
    hrows = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in hashes.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(hrows), 2):
        h = sum(bin(hrows[a][k] ^ hrows[b][k]).count("1") for k in range(4))
        if h <= 3:
            want[(a, b)] = h
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(hashes, max_hamming=3).collect()
    }
    assert got == want
    assert len(got) > 0


def test_image_ahash_same_class_docs_are_near_dups(spark):
    """The planted property: every same-class pair (identical base
    pattern, one perturbed pixel per doc) is found — each perturbation
    flips at most ~1 bit, so same-class Hamming stays within the
    blocking bound of 3."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    hashes = multimodal.image_ahash(multimodal.to_image_media(docs, "doc_id", classes=8))
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(hashes, max_hamming=3).collect()
    }
    for a in range(40):
        for b in range(a + 8, 40, 8):  # same class: b = a + k*classes
            assert (a, b) in pairs and pairs[(a, b)] <= 3


def test_image_ahash_pairs_rejects_uncovered_hamming(spark):
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    hashes = multimodal.image_ahash(multimodal.to_image_media(docs, "doc_id"))
    with pytest.raises(ValueError):
        multimodal.image_ahash_pairs(hashes, max_hamming=4)


def test_audio_fingerprint_pairs_equal_bruteforce(spark):
    """The band-relation polymorphism, third family: the audio
    time-energy fingerprint emits the same four-16-bit-band shape, so
    ``image_ahash_pairs`` consumes it unchanged — blocking loses no
    pairs at Hamming <= 3 and every emitted Hamming equals the
    brute-force popcount over the fingerprint relation."""
    import itertools

    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    fp = multimodal.audio_fingerprint(
        multimodal.to_audio_media_classed(docs, "doc_id", classes=12)
    )
    hrows = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in fp.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(hrows), 2):
        h = sum(bin(hrows[a][k] ^ hrows[b][k]).count("1") for k in range(4))
        if h <= 3:
            want[(a, b)] = h
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(fp, max_hamming=3).collect()
    }
    assert got == want
    assert len(got) > 0


def test_audio_fingerprint_same_class_docs_are_near_dups(spark):
    """The planted property: same-class clips share the sawtooth up to
    one perturbed sample, which moves any band energy by <= 8 of ~30k —
    every same-class pair lands within the Hamming-3 blocking bound
    (cross-class signals differ in phase AND step and measure 15-39
    bits apart on this fixture)."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    fp = multimodal.audio_fingerprint(
        multimodal.to_audio_media_classed(docs, "doc_id", classes=8)
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(fp, max_hamming=3).collect()
    }
    for a in range(40):
        for b in range(a + 8, 40, 8):  # same class: b = a + k*classes
            assert (a, b) in pairs and pairs[(a, b)] <= 3


def test_audio_fingerprint_shift_envelope(spark):
    """The time-shift envelope, pinned at both ends (VERDICT r13
    item 6): a circular shift by Δ flips bit k only if its margin
    |64·e_k − Σe| is within 64·2·Δ·max|s|, so the detection boundary
    is a MARGIN property of the signal, not a fixed sample count.
    (1) High-contrast clip (32 loud / 32 quiet contiguous bands,
    margins ~2M): a shift just under the 64-sample band width changes
    nothing; a half-signal shift flips every bit. (2) The marginal
    sawtooth fixture (many bands riding the average): even Δ=1 flips
    more than the Hamming-3 pairing bound. (3) ``align_onset=True``
    is EXACTLY circular-shift-invariant when the peak sample is
    unique."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import audiocodec, multimodal

    contrast = np.concatenate(
        [np.full(2048, 1000, np.int16), np.full(2048, 10, np.int16)]
    )
    rng = np.random.default_rng(7)
    unique_peak = rng.integers(-800, 800, 4096).astype(np.int16)
    unique_peak[1234] = 32000
    saw = audiocodec.synth_class_tone(17, 4000, 100)

    # full-scale-negative peak: np.abs(int16 -32768) overflows back to
    # -32768, so the alignment must widen before abs (code-review r14)
    neg_peak = rng.integers(-700, 700, 4096).astype(np.int16)
    neg_peak[777] = -32768

    clips = {
        0: contrast,
        1: np.roll(contrast, 31),       # < band width: margins hold
        2: np.roll(contrast, 2048),     # half signal: all bits flip
        10: saw,
        11: np.roll(saw, 1),            # marginal bands flip at Δ=1
        20: unique_peak,
        21: np.roll(unique_peak, 17),
        22: np.roll(unique_peak, 2048),
        23: np.roll(unique_peak, 4000),
        30: neg_peak,
        31: np.roll(neg_peak, 1234),
    }
    media = spark.createDataFrame(
        [(i, bytearray(audiocodec.encode_wav(s)), "audio/wav") for i, s in clips.items()],
        "doc_id long, payload binary, mime string",
    )

    def _collect(df):
        return {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in df.collect()}

    def _ham(a, b):
        return sum(bin(a[k] ^ b[k]).count("1") for k in range(4))

    fp = _collect(multimodal.audio_fingerprint(media))
    assert _ham(fp[0], fp[1]) == 0      # sub-band-width shift: pairs
    assert _ham(fp[0], fp[2]) == 64     # half-signal shift: maximally far
    assert _ham(fp[10], fp[11]) > 3     # marginal signal: Δ=1 breaks pairing

    aligned = _collect(multimodal.audio_fingerprint(media, align_onset=True))
    assert aligned[20] == aligned[21] == aligned[22] == aligned[23]
    # the int16-overflow edge: the unique peak is -32768 and must still
    # anchor the alignment after a shift
    assert aligned[30] == aligned[31]
    # alignment must not manufacture cross-signal collisions
    assert _ham(aligned[0], aligned[20]) > 3


def test_ledger_guard_refuses_untracked_correctness_artifacts(tmp_path):
    """The freeze-driving ledger must refuse to run while any
    CORRECTNESS_r*.json is untracked/modified (VERDICT r08 item 7):
    an uncommitted newest round would silently be ignored by logic
    derived from committed state, so a window could be frozen against
    stale verification results."""
    import subprocess

    import pytest

    from tools.staleness_ledger import assert_artifacts_tracked

    repo = str(tmp_path)
    subprocess.run(["git", "init", "-q", repo], check=True)
    subprocess.run(
        ["git", "-C", repo, "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "--allow-empty", "-q", "-m", "init"],
        check=True,
    )
    assert assert_artifacts_tracked(repo) == []  # clean repo passes

    (tmp_path / "CORRECTNESS_r99.json").write_text("{}")
    with pytest.raises(RuntimeError, match="CORRECTNESS_r99"):
        assert_artifacts_tracked(repo)

    # committing it clears the guard
    subprocess.run(["git", "-C", repo, "add", "CORRECTNESS_r99.json"], check=True)
    subprocess.run(
        ["git", "-C", repo, "-c", "user.email=t@t", "-c", "user.name=t",
         "commit", "-q", "-m", "artifacts"],
        check=True,
    )
    assert assert_artifacts_tracked(repo) == []


def test_curation_decision_precedence_hand_checked(spark):
    """Pins the capstone's precedence ladder on a hand-built corpus
    where every rule fires on a known doc (VERDICT r08 item 3):

      1  source doc         -> contained in the anthology (4)
      2  exact copy of 1    -> exact_dup (NOT contained: stage 1 wins)
      3  1 minus first tok  -> near_dup  (NOT contained: stage 2 wins)
      4  anthology 1+5      -> keep (its components drop, not it)
      5  source doc         -> contained
      6,7 header + unique   -> excise (header span is a minority)
      8  header + 5 tokens  -> span_coverage drop (header is 75%)
      9  badword spam       -> low_quality
      10 blocked-domain doc -> blocked_domain

    Also pins the survivor-restriction semantics (doc 4 is NOT flagged
    for the span it shares with dropped docs 1/2) and that dup_frac is
    NULL exactly for docs dropped before the span stage."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import curation, textops

    t1 = " ".join(f"w{i:02d}" for i in range(1, 21))
    t5 = " ".join(f"v{i:02d}" for i in range(1, 21))
    hdr = " ".join(f"h{i:02d}" for i in range(1, 16))
    rows = [
        (1, t1),
        (2, t1),
        (3, " ".join(t1.split()[1:])),
        (4, t1 + " " + t5),
        (5, t5),
        (6, hdr + " " + " ".join(f"u{i:02d}" for i in range(1, 31))),
        (7, hdr + " " + " ".join(f"x{i:02d}" for i in range(1, 31))),
        (8, hdr + " " + " ".join(f"y{i:02d}" for i in range(1, 6))),
        (9, " ".join(["badword"] * 12)),
        (10, "zzz aaa bbb ccc ddd eee fff ggg"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    qlex = spark.createDataFrame(
        [("badword", "-1.0")], "term string, weight string"
    ).selectExpr("term", "CAST(weight AS DECIMAL(12,6)) AS weight")
    qw = textops.quality_classifier_weights(qlex, n_buckets=4096)
    dlex = spark.createDataFrame(
        [("bad", "zzz", "1.0"), ("good", "qqq", "1.0")],
        "class string, term string, weight string",
    ).selectExpr("class", "term", "CAST(weight AS DECIMAL(12,6)) AS weight")
    dw = textops.domain_classifier_weights(dlex, n_buckets=4096)

    out = {
        r.doc_id: r
        for r in curation.corpus_curation_decision(
            docs, "doc_id", "text", qw, dw,
            k=4, min_span_tokens=10, quality_threshold=-0.5,
            blocked_domain="bad", n_buckets=4096,
        ).collect()
    }
    got = {i: (out[i].decision, out[i].reason) for i in sorted(out)}
    assert got == {
        1: ("drop", "contained"),
        2: ("drop", "exact_dup"),
        3: ("drop", "near_dup"),
        4: ("keep", "clean"),
        5: ("drop", "contained"),
        6: ("excise", "partial_span_dup"),
        7: ("excise", "partial_span_dup"),
        8: ("drop", "span_coverage"),
        9: ("drop", "low_quality"),
        10: ("drop", "blocked_domain"),
    }
    # dup_frac is NULL exactly for pre-span-stage drops, defined elsewhere
    assert all(out[i].dup_frac is None for i in (1, 2, 3, 5))
    assert out[4].dup_frac == 0.0  # NOT charged for spans vs dropped 1/2
    assert out[6].dup_frac == round(15 / 45, 9) == out[7].dup_frac
    assert out[8].dup_frac == 0.75
    # classifier audit columns are populated for every row
    assert all(out[i].quality_score is not None for i in out)
    assert all(out[i].domain in ("bad", "good") for i in out)


def test_image_ahash_state_reuse_equals_from_scratch(spark, sf_dir):
    """The aHash band relation as ingest-time state (VERDICT r08 item
    5): three arrival slices mine pairs via
    ``image_ahash_pairs_from_state`` against the cumulative hash store
    — payloads decoded once per slice, history x history never
    re-mined — and the union of the slices' pair relations equals the
    from-scratch relation with no pair mined twice (the
    lsh_pairs_from_state contract in image space)."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import multimodal
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media(docs, "doc_id", size=16, classes=100)
    expect = sorted(
        map(
            tuple,
            multimodal.image_ahash_pairs(
                multimodal.image_ahash(media), max_hamming=3
            ).collect(),
        )
    )

    got = []
    store = None
    for i in range(3):
        slice_media = multimodal.to_image_media(
            docs.filter(F.col("doc_id") % 3 == i), "doc_id", size=16, classes=100
        )
        h_new = multimodal.image_ahash(slice_media).localCheckpoint(eager=True)
        store = h_new if store is None else store.unionByName(h_new)
        got.extend(
            map(
                tuple,
                multimodal.image_ahash_pairs_from_state(
                    h_new, store, max_hamming=3
                ).collect(),
            )
        )
    assert len(set(got)) == len(got)  # no pair mined twice
    assert sorted(got) == expect and len(expect) > 0


def test_audio_fingerprint_state_reuse_equals_from_scratch(spark, sf_dir):
    """The fingerprint relation as ingest-time state, audio edition:
    the band-state miner (``image_ahash_pairs_from_state``) consumes
    the audio fingerprint's four-band relation UNCHANGED — three
    arrival slices mine pairs against the cumulative store (payloads
    decoded once per slice, history x history never re-mined) and the
    union of the slices' pair relations equals the from-scratch
    relation with no pair mined twice. Completes the polymorphism
    claim for hash family #3: pairs, CC keep-list, AND the state
    miner all reuse the image machinery."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import multimodal
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_audio_media_classed(docs, "doc_id", classes=100)
    expect = sorted(
        map(
            tuple,
            multimodal.image_ahash_pairs(
                multimodal.audio_fingerprint(media), max_hamming=3
            ).collect(),
        )
    )

    got = []
    store = None
    for i in range(3):
        slice_media = multimodal.to_audio_media_classed(
            docs.filter(F.col("doc_id") % 3 == i), "doc_id", classes=100
        )
        h_new = multimodal.audio_fingerprint(slice_media).localCheckpoint(
            eager=True
        )
        store = h_new if store is None else store.unionByName(h_new)
        got.extend(
            map(
                tuple,
                multimodal.image_ahash_pairs_from_state(
                    h_new, store, max_hamming=3
                ).collect(),
            )
        )
    assert len(set(got)) == len(got)  # no pair mined twice
    assert sorted(got) == expect and len(expect) > 0


def test_symspell_d2_matches_bruteforce_levenshtein(spark):
    """Exactness of the distance-2 tier (VERDICT r08 item 6): depth-2
    symmetric-delete blocking + verify equals the all-pairs
    levenshtein <= 2 relation on a fixture covering double
    substitution, transposition (= lev 2), substitution+deletion
    chains, and a distance-3 outsider that must NOT appear."""
    import itertools

    from etl_fuel_priceguide_ec2_spark.operators import linkage

    names = [
        "johnson", "jonson", "johnsen",   # del / sub families (d1 + d2 chains)
        "jansen",                          # d2 from jonson (two subs)
        "widget", "wigdet",                # transposition = d2 (excluded at d1)
        "carpet", "carpets", "sharpened",  # insertion; d3+ outsider
        "acme corp", "acme corp", "acme cor",  # dup string -> cnt 2
    ]
    df = spark.createDataFrame([(s,) for s in names], ["name"])
    got = {
        (r.s_a, r.s_b, r.cnt_a, r.cnt_b, r.dist)
        for r in linkage.symspell_pairs(df, "name", min_len=4, max_dist=2).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (a, b, names.count(a), names.count(b), lev(a, b))
        for a, b in itertools.combinations(sorted(set(names)), 2)
        if lev(a, b) <= 2
    }
    assert got == want
    assert ("widget", "wigdet", 1, 1, 2) in got  # transposition caught at d2
    assert not any("sharpened" in (a, b) for a, b, *_ in got)  # d3 stays out


def test_incremental_curation_equals_batch_capstone(spark, sf_dir):
    """The daily-ingest capstone re-decided from persisted + new
    signal state equals the from-scratch batch decision for EVERY doc
    (history included): incremental mining (new-vs-all pair probes,
    no history re-tokenization) loses nothing, and the id-scale
    decision layer re-elects canonicals exactly when new docs bridge
    or join old components."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import curation, textops
    from etl_fuel_priceguide_ec2_spark.registry.curation import (
        _BPLT_HDR,
        _DOMAIN_LEXICON,
        _QC_BUCKETS,
        _QC_LEXICON,
        _QC_THRESHOLD,
    )
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .filter(F.col("doc_id") < 150)  # both pipelines run in full; cap cost
        .select("doc_id", "text")
    )
    exact_twins = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    headered = docs.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat_ws(
            " ", F.lit(_BPLT_HDR),
            F.concat_ws(" ", F.reverse(F.split(F.trim("text"), r"\s+"))),
        ).alias("text"),
    )
    hist = docs.localCheckpoint(eager=True)
    new = exact_twins.unionAll(headered).localCheckpoint(eager=True)

    qlex = spark.createDataFrame(
        _QC_LEXICON, "term string, weight string"
    ).selectExpr("term", "CAST(weight AS DECIMAL(12,6)) AS weight")
    qw = textops.quality_classifier_weights(qlex, n_buckets=_QC_BUCKETS)
    dlex = spark.createDataFrame(
        [(c, t, str(w)) for c, t, w in _DOMAIN_LEXICON],
        "class string, term string, weight string",
    ).selectExpr("class", "term", "CAST(weight AS DECIMAL(12,6)) AS weight")
    dw = textops.domain_classifier_weights(dlex, n_buckets=_QC_BUCKETS)

    inc = sorted(
        map(
            tuple,
            curation.corpus_curation_decision_incremental(
                hist, new, "doc_id", "text", qw, dw,
                n_buckets=_QC_BUCKETS, quality_threshold=_QC_THRESHOLD,
                restrict_to_new=False,
            ).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            curation.corpus_curation_decision(
                hist.unionAll(new), "doc_id", "text", qw, dw,
                n_buckets=_QC_BUCKETS, quality_threshold=_QC_THRESHOLD,
            ).collect(),
        )
    )
    assert inc == batch and len(batch) > 0


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking + distributed global row_number
# ---------------------------------------------------------------------------


def test_global_row_number_matches_single_window(spark):
    """The two-pass range-partition rank equals the single-partition
    row_number over the same strict order, for every partition count
    (including more partitions than rows)."""
    from etl_fuel_priceguide_ec2_spark.operators.util import global_row_number
    from pyspark.sql import functions as F

    rows = [(i, s) for i, s in enumerate(
        ["pear", "apple", "fig", "apple", "kiwi", "banana", "fig", "date"]
    )]
    df = spark.createDataFrame(rows, ["id", "k"])
    expect = {
        (r.id, r.rn)
        for r in df.selectExpr(
            "id", "row_number() over (order by k, id) as rn"
        ).collect()
    }
    for n in (1, 3, 16):
        got = {
            (r.id, r.rn)
            for r in global_row_number(df, ["k", "id"], num_partitions=n).collect()
        }
        assert got == expect, f"num_partitions={n}"


def test_sorted_neighborhood_matches_bruteforce_window(spark):
    """SNM equals the brute-force 'rank-difference <= w and lev <= d'
    relation, and every suffix-dirty twin (clean key + doubled last
    char, lev 1, sorts adjacent) is recovered."""
    from etl_fuel_priceguide_ec2_spark.operators import linkage

    clean = ["delta9", "delta10", "delta11", "echo7", "echo8", "foxtrot1"]
    rows = [(i, k) for i, k in enumerate(clean)]
    rows += [(100 + i, k + k[-1]) for i, k in enumerate(clean) if i % 2 == 0]
    df = spark.createDataFrame(rows, ["rec_id", "name"])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in linkage.sorted_neighborhood_pairs(
            df, "rec_id", "name", window=3, max_dist=2
        ).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    expect = set()
    for i, (ida, ka) in enumerate(ranked):
        for j in range(i + 1, min(i + 4, len(ranked))):
            idb, kb = ranked[j]
            d = lev(ka, kb)
            if d <= 2:
                expect.add((min(ida, idb), max(ida, idb), d))
    assert got == expect
    for i in range(0, len(clean), 2):
        assert (i, 100 + i, 1) in {(a, b, d) for a, b, d in got}


def test_bigram_logprob_matches_hand_model(spark):
    """Add-one bigram model on a 3-doc corpus equals the hand-rolled
    Python model, and token-salad (same unigrams, shuffled order)
    scores strictly below the naturally-ordered doc — the property the
    unigram score cannot express."""
    import math
    from collections import Counter
    from etl_fuel_priceguide_ec2_spark.operators import textops

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat"),
        (2, "mat the on sat cat the"),  # same unigrams as doc 0, shuffled
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.avg_logprob, r.n_bigrams)
        for r in textops.bigram_logprob_score(df, "doc_id", "text").collect()
    }

    toks = {i: t.split() for i, t in docs}
    bgs = {i: list(zip(ts, ts[1:])) for i, ts in toks.items()}
    big = Counter(b for bs in bgs.values() for b in bs)
    ctx = Counter(b[0] for bs in bgs.values() for b in bs)
    nv = len({t for ts in toks.values() for t in ts})
    for i, bs in bgs.items():
        expect = sum(
            math.log((big[b] + 1) / (ctx[b[0]] + nv)) for b in bs
        ) / len(bs)
        assert got[i][1] == len(bs)
        assert abs(got[i][0] - round(expect, 6)) < 1e-6, i
    assert got[2][0] < got[0][0]


def test_tfidf_topk_cosine_matches_bruteforce(spark):
    """Top-k TF-IDF cosine equals the brute-force Python computation
    on a small corpus (same smoothed idf, same deterministic tie
    ranking), and verbatim duplicate docs score cosine 1.0."""
    import math
    from collections import Counter
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    docs = [
        (0, "spark shuffle join broadcast hash join"),
        (1, "spark shuffle join broadcast hash join"),       # dup of 0
        (2, "duckdb oracle replay hash join shuffle"),
        (3, "pear kiwi fig banana date apple"),              # disjoint
        (4, "spark broadcast duckdb oracle pear shuffle"),
    ]
    k, t = 3, 0.1
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.tfidf_topk_cosine_pairs(
            df, "doc_id", "text", k=k, threshold=t
        ).collect()
    }

    n_docs = len(docs)
    tf = {i: Counter(s.split()) for i, s in docs}
    dfreq = Counter(tok for c in tf.values() for tok in c)
    vecs = {}
    for i, c in tf.items():
        ws = sorted(
            ((tok, n * (math.log((n_docs + 1.0) / (dfreq[tok] + 1.0)) + 1))
             for tok, n in c.items()),
            key=lambda p: (-p[1], p[0]),
        )[:k]
        nn = math.sqrt(sum(w * w for _, w in ws))
        vecs[i] = {tok: w / nn for tok, w in ws}
    expect = {}
    for a in range(n_docs):
        for b in range(a + 1, n_docs):
            cos = sum(w * vecs[b].get(tok, 0.0) for tok, w in vecs[a].items())
            if cos >= t:
                expect[(a, b)] = round(cos, 6)
    assert set(got) == set(expect)
    for p in expect:
        assert abs(got[p] - expect[p]) < 1e-6, p
    assert got[(0, 1)] == 1.0
    assert (0, 3) not in got and (1, 3) not in got


def test_tfidf_topk_cosine_bigram_terms_match_bruteforce(spark):
    """ngram=2 term construction: identical to brute-force over word
    bigrams (dup docs still cosine 1.0; <2-token docs drop out)."""
    import math
    from collections import Counter
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    docs = [
        (0, "alpha beta gamma delta beta gamma"),
        (1, "alpha beta gamma delta beta gamma"),
        (2, "gamma delta epsilon zeta"),
        (3, "solo"),
    ]
    k, t = 3, 0.05
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.tfidf_topk_cosine_pairs(
            df, "doc_id", "text", k=k, threshold=t, ngram=2
        ).collect()
    }
    grams = {
        i: [" ".join(p) for p in zip(s.split(), s.split()[1:])] for i, s in docs
    }
    n_docs = len(docs)
    tf = {i: Counter(g) for i, g in grams.items()}
    dfreq = Counter(tok for c in tf.values() for tok in c)
    vecs = {}
    for i, c in tf.items():
        if not c:
            continue
        ws = sorted(
            ((tok, n * (math.log((n_docs + 1.0) / (dfreq[tok] + 1.0)) + 1))
             for tok, n in c.items()),
            key=lambda p: (-p[1], p[0]),
        )[:k]
        nn = math.sqrt(sum(w * w for _, w in ws))
        vecs[i] = {tok: w / nn for tok, w in ws}
    expect = {}
    ids = sorted(vecs)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            cos = sum(w * vecs[b].get(tok, 0.0) for tok, w in vecs[a].items())
            if cos >= t:
                expect[(a, b)] = round(cos, 6)
    assert set(got) == set(expect)
    for p in expect:
        assert abs(got[p] - expect[p]) < 1e-6, p
    assert got[(0, 1)] == 1.0
    assert all(3 not in p for p in got)


def test_incremental_miners_upsert_semantics(spark):
    """A doc id present in BOTH the persisted history state and the new
    slice is an UPDATE: the new version wins. The miners anti-join the
    superseded history rows away (ADVICE r09) — without that, groupBy(id)
    over the union would merge the two versions into one inflated
    shingle set. Pinned as: incremental(hist, new) == from-scratch over
    the upserted corpus, restricted to pairs touching new ids."""
    from pyspark.sql import functions as F

    base = " ".join(f"w{i}" for i in range(12))
    hist_docs = [
        (1, base + " alpha beta"),
        (2, base + " alpha gamma"),
        (3, "completely different text " + " ".join(f"z{i}" for i in range(9))),
    ]
    # doc 3 is UPDATED in the new slice to near-match doc 1; doc 4 is new
    new_docs = [
        (3, base + " alpha beta delta"),
        (4, base + " epsilon"),
    ]
    upserted = [d for d in hist_docs if d[0] not in {3, 4}] + new_docs
    hist = spark.createDataFrame(hist_docs, "doc_id: bigint, text: string")
    new = spark.createDataFrame(new_docs, "doc_id: bigint, text: string")
    full = spark.createDataFrame(upserted, "doc_id: bigint, text: string")

    hstate = dedup._shingle_array(hist, "doc_id", "text", 3)
    nstate = dedup._shingle_array(new, "doc_id", "text", 3)
    new_ids = {3, 4}

    got_j = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_incremental(
            hstate, nstate, "doc_id", threshold=0.5
        ).collect()
    }
    expect_j = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(full, "doc_id", "text", threshold=0.5)
        .select("id_a", "id_b", "jaccard")
        .collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got_j == expect_j
    assert (1, 3) in got_j  # the UPDATED doc 3 pairs with doc 1 ...
    # ... at the NEW version's jaccard, not the merged-set one
    assert any(4 in p for p in got_j)

    got_c = {
        (r.id_a, r.id_b): (r.size_a, r.size_b, r.containment)
        for r in dedup.containment_pairs_incremental(
            hstate, nstate, "doc_id", threshold=0.8
        ).collect()
    }
    expect_c = {
        (r.id_a, r.id_b): (r.size_a, r.size_b, r.containment)
        for r in dedup.containment_pairs(
            full, "doc_id", "text", threshold=0.8
        ).collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got_c == expect_c
    # doc 1's shingles are fully contained in updated doc 3's
    assert (1, 3) in got_c and got_c[(1, 3)][2] == 1.0


def test_hashed_tfidf_embeddings_match_reference(spark):
    """The hashing-trick doc embedding vs a from-scratch Python
    replication: identical buckets (60-bit md5 prefix % dim), summed
    collisions, smoothed idf, L2 normalization; the dense form is the
    sparse form with zeros and unit norm."""
    import hashlib
    import math as m
    from collections import Counter, defaultdict

    from etl_fuel_priceguide_ec2_spark.operators import textops

    docs = [
        (0, "alpha beta beta gamma"),
        (1, "alpha beta delta"),
        (2, "gamma gamma epsilon zeta eta"),
        (3, ""),  # featureless: no sparse rows, zero dense vector
    ]
    dim = 8
    df = spark.createDataFrame(docs, "doc_id: bigint, text: string")
    got = defaultdict(dict)
    for r in textops.hashed_tfidf_components(df, "doc_id", "text", dim=dim).collect():
        got[r.doc_id][r.bucket] = r.nw

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim

    toks = {i: t.lower().split() for i, t in docs}
    n_docs = len(docs)
    dfreq = Counter(tok for ts in toks.values() for tok in set(ts))
    expect = {}
    for i, ts in toks.items():
        comp = defaultdict(float)
        for tok, tf in Counter(ts).items():
            comp[bucket(tok)] += tf * (m.log((n_docs + 1) / (dfreq[tok] + 1)) + 1)
        if not comp:
            continue
        nn = m.sqrt(sum(v * v for v in comp.values()))
        expect[i] = {b: v / nn for b, v in comp.items()}
    assert set(got) == set(expect)
    for i in expect:
        assert set(got[i]) == set(expect[i])
        for b in expect[i]:
            assert abs(got[i][b] - expect[i][b]) < 1e-8
        assert abs(sum(v * v for v in got[i].values()) - 1.0) < 1e-9  # unit norm

    dense = {
        r.doc_id: list(r.vec)
        for r in textops.hashed_tfidf_embeddings(df, "doc_id", "text", dim=dim).collect()
    }
    assert set(dense) == {0, 1, 2, 3}
    assert dense[3] == [0.0] * dim
    for i in expect:
        for b in range(dim):
            assert abs(dense[i][b] - expect[i].get(b, 0.0)) < 1e-8


def test_snm_multipass_recovers_prefix_dirt(spark):
    """The multi-pass claim, pinned: forward-order SNM misses
    first-character dirt (it sorts far from its clean twin), the
    reversed pass catches it, and the union is a strict superset of
    the forward pass with no duplicate rows."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import linkage

    names = [(i, f"customer#{i:09d}") for i in range(100, 160)]
    clean = spark.createDataFrame(names, "rec_id: bigint, name: string")
    prefix_dirty = clean.filter(F.col("rec_id") % 7 == 0).select(
        (F.col("rec_id") + 1000).alias("rec_id"),
        F.concat(F.substring("name", 1, 1), F.col("name")).alias("name"),
    )
    corpus = clean.unionByName(prefix_dirty)

    fwd = {
        (r.id_a, r.id_b)
        for r in linkage.sorted_neighborhood_pairs(
            corpus, "rec_id", "name", window=4, max_dist=1
        ).collect()
    }
    both_rows = linkage.sorted_neighborhood_multipass(
        corpus, "rec_id", "name", window=4, max_dist=1
    ).collect()
    both = {(r.id_a, r.id_b) for r in both_rows}
    assert len(both_rows) == len(both)  # union deduplicated
    assert fwd <= both
    planted = {
        (i, i + 1000) for i, _ in names if i % 7 == 0
    }
    # forward order scatters "ccustomer#..." away from "customer#..."
    assert not (planted & fwd)
    assert planted <= both  # the reversed pass recovers every one


def test_image_phash_same_class_docs_are_near_dups(spark):
    """pHash planted recall: a one-pixel perturbation moves each DCT
    coefficient by at most one basis product, so same-class pairs stay
    within the banded blocking bound — the same contract as aHash over
    the same four-band relation."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    hashes = multimodal.image_phash(multimodal.to_image_media(docs, "doc_id", classes=8))
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(hashes, max_hamming=3).collect()
    }
    found = missing = 0
    for a in range(40):
        for b in range(a + 8, 40, 8):  # same class: b = a + k*classes
            if (a, b) in pairs:
                found += 1
            else:
                missing += 1
    # spectrum bits near the median can flip where luminance bits don't;
    # demand strong (not perfect) recall of the planted classes
    assert found >= 4 * missing, (found, missing)
    assert found > 0


def test_image_phash_exactly_invariant_to_brightness_shift():
    """The property aHash cannot claim bit-for-bit: every non-DC row of
    the quantized DCT basis sums to EXACTLY zero (cosine antisymmetry
    survives the symmetric half-away quantization), so adding a
    constant to every pixel shifts only the excluded DC coefficient —
    the 63 emitted bits are unchanged, exactly, in integer math."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    basis = np.array(multimodal.dct8_basis_q6(), dtype=np.int64)
    assert [int(s) for s in basis.sum(axis=1)][1:] == [0] * 7

    def phash_bits(g8):
        d = basis @ g8 @ basis.T
        coeffs = [
            (int(d[u][v]), u * 8 + v)
            for u in range(8)
            for v in range(8)
            if (u, v) != (0, 0)
        ]
        med = sorted(coeffs)[31][0]
        return [c > med for c, _ in sorted(coeffs, key=lambda t: t[1])]

    rng = np.random.default_rng(5)
    g8 = rng.integers(0, 200, size=(8, 8)).astype(np.int64)
    assert phash_bits(g8) == phash_bits(g8 + 40)


def test_image_phash_band_relation_feeds_state_miner(spark):
    """The four-band contract: the pHash relation drops into the
    band-state incremental miner unchanged (hash-family polymorphism —
    the state store does not care which perceptual hash filled it)."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    hashes = multimodal.image_phash(
        multimodal.to_image_media(docs, "doc_id", classes=6)
    )
    batch = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(hashes, max_hamming=3).collect()
    }
    from pyspark.sql import functions as F

    hist = hashes.filter(F.col("doc_id") < 15)
    new = hashes.filter(F.col("doc_id") >= 15)
    # probe slice = the new ingest, store = the FULL band relation
    inc_new = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs_from_state(
            new, hashes, max_hamming=3
        ).collect()
    }
    hist_only = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_ahash_pairs(hist, max_hamming=3).collect()
    }
    assert {**hist_only, **inc_new} == batch


def test_sql_literal_helpers_bit_identical_to_f_lit(spark):
    """vec_lit/mat_lit (one-py4j-call F.expr literals) and the
    sq_dists_expr string fast path must be BIT-identical to the
    element-by-element F.lit / Python-lambda HOF constructions they
    replace — the ANN/codebook driver-state contract (a single ULP of
    drift would break every oracle that replays a fit)."""
    import struct

    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators.clustering import (
        sq_dists_expr,
    )
    from etl_fuel_priceguide_ec2_spark.operators.util import mat_lit, vec_lit

    # adversarial doubles: negative zero, denormal-adjacent, huge/tiny
    # exponents, shortest-repr-with-exponent forms
    mat = [
        [-0.0, 1e-307, 12345678.910111213, -1.5e16],
        [0.1 + 0.2, -7.25, 3.141592653589793, 2.0**-52],
    ]
    vec = mat[0]
    df = spark.range(1).select(
        vec_lit(vec).alias("v_new"),
        F.lit([float(x) for x in vec]).alias("v_old"),
        mat_lit(mat).alias("m_new"),
        F.lit([[float(x) for x in r] for r in mat]).alias("m_old"),
    )
    r = df.first()
    bits = lambda xs: [struct.pack(">d", x) for x in xs]
    assert bits(r["v_new"]) == bits(r["v_old"])
    assert [bits(x) for x in r["m_new"]] == [bits(x) for x in r["m_old"]]
    assert df.schema["v_new"].dataType == df.schema["v_old"].dataType
    assert df.schema["m_new"].dataType == df.schema["m_old"].dataType

    # non-finite fallback: still correct (plain F.lit path) — and fed
    # from a ONE-SHOT iterator, which the helper must materialize
    # before probing renderability (an exhausted generator silently
    # became an empty literal pre-fix; code-review)
    import math

    nf = vec_lit(x for x in [1.0, math.inf])
    got = spark.range(1).select(nf.alias("x")).first()["x"]
    assert got[0] == 1.0 and math.isinf(got[1])
    mg = mat_lit([x] for x in [2.0, math.nan])
    got = spark.range(1).select(mg.alias("x")).first()["x"]
    assert got[0][0] == 2.0 and math.isnan(got[1][0])

    # sq_dists fast path (string vcol + raw matrix) vs HOF Column path
    vdf = spark.createDataFrame(
        [(1, [0.5, -0.25, 1e-9, 3.75]), (2, [-0.0, 2.0, -3.5, 0.125])],
        "id bigint, v array<double>",
    )
    two = vdf.select(
        sq_dists_expr("v", mat).alias("fast"),
        sq_dists_expr(F.col("v"), mat_lit(mat)).alias("hof"),
        sq_dists_expr("slice(v, 2, 2)", [[1.0, 2.0]]).alias("fast_slice"),
        sq_dists_expr(F.slice("v", 2, 2), mat_lit([[1.0, 2.0]])).alias(
            "hof_slice"
        ),
    )
    for row in two.collect():
        assert bits(row["fast"]) == bits(row["hof"])
        assert bits(row["fast_slice"]) == bits(row["hof_slice"])

    # non-renderable matrix + expression-string vcol: the fallback must
    # PARSE the string (a bare pass-through would quote it as a column
    # name and fail analysis)
    nf_mat = [[math.inf, 0.0]]
    got = vdf.select(
        sq_dists_expr("slice(v, 2, 2)", nf_mat).alias("d")
    ).first()["d"]
    assert math.isinf(got[0])

    # lambda-capture guard: a vector column literally named `c` (or
    # any reserved-looking name) must NOT be captured by the fold's
    # lambda variables — pre-fix, `transform(mat, c -> ...)` shadowed
    # the column and every distance silently became 0
    cdf = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "id bigint, c array<double>"
    )
    cap = cdf.select(
        sq_dists_expr("c", [[0.0, 0.0, 0.0, 0.0]]).alias("fast"),
        sq_dists_expr(F.col("c"), mat_lit([[0.0, 0.0, 0.0, 0.0]])).alias(
            "hof"
        ),
    ).first()
    assert cap["fast"] == cap["hof"] == [30.0]

    # dispatcher normalization: numpy matrices and one-shot row
    # iterators are accepted (the old per-site comprehension took any
    # iterable-of-iterables; the fast path must not regress that)
    import numpy as np

    nmat = np.array(mat)
    ndf = vdf.select(
        sq_dists_expr("v", nmat).alias("np_fast"),
        sq_dists_expr("v", mat).alias("list_fast"),
        sq_dists_expr("v", [iter(r) for r in mat]).alias("iter_fast"),
    )
    for row in ndf.collect():
        assert bits(row["np_fast"]) == bits(row["list_fast"])
        assert bits(row["iter_fast"]) == bits(row["list_fast"])

    # integer sibling: the simhash mask vector incl. LONG_MIN (the
    # sign-bit mask), vs the element-by-element build
    from etl_fuel_priceguide_ec2_spark.operators.util import longs_lit

    masks = [(1 << j) if j < 63 else -(1 << 63) for j in range(64)]
    ldf = spark.range(1).select(
        longs_lit(masks).alias("l_new"),
        F.array(*[F.lit(v).cast("long") for v in masks]).alias("l_old"),
    )
    lr = ldf.first()
    assert list(lr["l_new"]) == list(lr["l_old"]) == masks
    assert ldf.schema["l_new"].dataType == ldf.schema["l_old"].dataType


def test_capstone_signals_parquet_roundtrip_decisions_equal(spark, sf_dir, tmp_path):
    """The production claim behind the capstone signal store: the seven
    signal relations are PERSISTED ingest state, and a decision refresh
    that reads them back off parquet must produce exactly the decisions
    of the fused mine-then-decide pipeline. Pins the full chain
    (mine -> write parquet -> read -> curation_decision_from_signals),
    not just the in-session cache."""
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import curation, textops
    from etl_fuel_priceguide_ec2_spark.registry.curation import (
        _DOMAIN_LEXICON,
        _QC_BUCKETS,
        _QC_LEXICON,
        _QC_THRESHOLD,
    )
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    twins = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(twins)
    qlex = spark.createDataFrame(
        _QC_LEXICON, "term string, weight string"
    ).selectExpr("term", "CAST(weight AS DECIMAL(12,6)) AS weight")
    qw = textops.quality_classifier_weights(qlex, n_buckets=_QC_BUCKETS)
    dlex = spark.createDataFrame(
        [(c, t, str(w)) for c, t, w in _DOMAIN_LEXICON],
        "class string, term string, weight string",
    ).selectExpr("class", "term", "CAST(weight AS DECIMAL(12,6)) AS weight")
    dw = textops.domain_classifier_weights(dlex, n_buckets=_QC_BUCKETS)

    sigs = curation.corpus_curation_signals(
        corpus, "doc_id", "text", qw, dw,
        n_buckets=_QC_BUCKETS, quality_threshold=_QC_THRESHOLD,
    )
    stored = {}
    for name, df in sigs.items():
        path = str(tmp_path / f"sig_{name}")
        df.write.parquet(path)
        stored[name] = spark.read.parquet(path)

    def _decide(s):
        return sorted(
            map(
                tuple,
                curation.curation_decision_from_signals(
                    s["content_hashes"], s["jaccard_pairs"],
                    s["containment_pairs"], s["spans"], s["n_tokens"],
                    s["quality"], s["domain"], "doc_id",
                    quality_threshold=_QC_THRESHOLD,
                ).collect(),
            )
        )

    from_parquet = _decide(stored)
    fused = sorted(
        map(
            tuple,
            curation.corpus_curation_decision(
                corpus, "doc_id", "text", qw, dw,
                n_buckets=_QC_BUCKETS, quality_threshold=_QC_THRESHOLD,
            ).collect(),
        )
    )
    assert from_parquet == fused and len(fused) > 0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1, max_size=8,
    ),
    longs=st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        min_size=1, max_size=8,
    ),
)
def test_literal_helpers_roundtrip_arbitrary_values(spark, vals, longs):
    """Hypothesis sweep over arbitrary finite doubles (subnormals,
    extreme exponents, -0.0 — whatever the shrinker finds) and
    full-range longs: the one-parse SQL literals must reproduce
    F.lit's values bit-for-bit. The fixed adversarial set in the main
    pin test documents known corners; this guards the ones nobody
    thought of (repr round-trip + Spark's SQL double parser must agree
    on every representable value)."""
    import struct

    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators.util import (
        longs_lit,
        vec_lit,
    )

    df = spark.range(1).select(
        vec_lit(vals).alias("d_new"),
        F.lit([float(x) for x in vals]).alias("d_old"),
        longs_lit(longs).alias("l_new"),
        F.array(*[F.lit(v).cast("long") for v in longs]).alias("l_old"),
    )
    r = df.first()
    bits = lambda xs: [struct.pack(">d", x) for x in xs]
    assert bits(r["d_new"]) == bits(r["d_old"])
    assert list(r["l_new"]) == list(r["l_old"]) == longs


def test_capstone_signals_rejects_unknown_materialize_mode(spark):
    """A typo'd materialize mode must fail loud — silently skipping
    every checkpoint would re-shingle the corpus once per consumer."""
    import pytest
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark.operators import curation

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    w = spark.createDataFrame([(0, 0.0)], "bucket bigint, weight double")
    with pytest.raises(ValueError, match="materialize"):
        curation.corpus_curation_signals(
            df, "doc_id", "text", w, w, materialize="outputs"
        )


def test_capstone_signal_store_invalidated_by_clear_store_cache(spark, sf_dir):
    """The two-layer invalidation contract of the now-DURABLE signal
    store (VERDICT r15 item 4): the capstone mines its signals once per
    corpus GENERATION and persists them to parquet, so
    clear_store_cache() (the session-cache escape hatch) forces only a
    parquet RE-READ — the cold-start path a fresh process pays — while
    clear_durable_stores() forces the full re-mine."""
    from etl_fuel_priceguide_ec2_spark import registry
    from etl_fuel_priceguide_ec2_spark.registry import curation as rc
    from etl_fuel_priceguide_ec2_spark.registry.stores import (
        clear_durable_stores,
        clear_store_cache,
    )

    q = registry.queries()["corpus_curation_decision"]
    mines = []
    real = rc._mine_capstone_signals

    def _counting(*a, **kw):
        mines.append(1)
        return real(*a, **kw)

    rc._mine_capstone_signals = _counting
    try:
        clear_durable_stores(sf_dir)  # scoped: never evict other corpora
        first = q(spark, sf_dir).collect()
        q(spark, sf_dir).collect()
        assert len(mines) == 1  # second call served from the session cache
        clear_store_cache()
        cold = q(spark, sf_dir).collect()
        assert len(mines) == 1  # re-READ from parquet, no re-mine —
        # this is the fresh-process cold path, now mining-free
        assert sorted(map(tuple, cold)) == sorted(map(tuple, first))
        clear_durable_stores(sf_dir)
        q(spark, sf_dir).collect()
        assert len(mines) == 2  # durable invalidation forces the re-mine
    finally:
        rc._mine_capstone_signals = real
        clear_durable_stores(sf_dir)


def test_reliable_checkpoint_mode_bit_identical(spark, tmp_path):
    """checkpoint_dir switches the iterative operators' lineage pin
    from localCheckpoint (fast, executor-local, unrecoverable on
    executor loss) to a reliable .checkpoint() that survives executor
    loss on a preemptible fleet (VERDICT r15 item 3). It is a
    DURABILITY knob, never a semantics knob: pagerank, hits, and
    connected_components (on both of its paths) must return
    bit-identical rows either way,
    and the reliable run must actually write RDD checkpoint state
    under the given directory."""
    import os

    from etl_fuel_priceguide_ec2_spark.operators import graph

    ckdir = str(tmp_path / "reliable_ck")
    spokes = list(range(1, 7))
    star = [(0, s) for s in spokes] + [(s, 0) for s in spokes]
    edges = spark.createDataFrame(star, "src long, dst long")

    local_pr = sorted(map(tuple, graph.pagerank(edges, iters=3).collect()))
    relia_pr = sorted(map(tuple, graph.pagerank(
        edges, iters=3, checkpoint_dir=ckdir
    ).collect()))
    assert local_pr == relia_pr and local_pr

    local_h = sorted(map(tuple, graph.hits(edges, iters=2).collect()))
    relia_h = sorted(map(tuple, graph.hits(
        edges, iters=2, checkpoint_dir=ckdir
    ).collect()))
    assert local_h == relia_h and local_h

    chain = [(i, i + 1) for i in range(8)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    for path in sorted(CC_PATHS):
        with _cc_path(spark, path):
            local_cc = sorted(map(tuple, dedup.connected_components(pairs).collect()))
            relia_cc = sorted(map(tuple, dedup.connected_components(
                pairs, checkpoint_dir=ckdir
            ).collect()))
        assert local_cc == relia_cc and local_cc

    # r17: the span-miner and triangle pins route through the same
    # helper (VERDICT r16 item 4) — same durability-only contract
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, base + " tail one"),
            (2, "lead words " + base),
            (3, "unrelated filler text entirely " * 8),
        ],
        "doc_id long, text string",
    )
    local_sp = sorted(map(tuple, dedup.exact_substring_spans(
        docs, "doc_id", "text", k=8, min_span_tokens=30
    ).collect()))
    relia_sp = sorted(map(tuple, dedup.exact_substring_spans(
        docs, "doc_id", "text", k=8, min_span_tokens=30, checkpoint_dir=ckdir
    ).collect()))
    assert local_sp == relia_sp and local_sp

    tri_pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    local_tc = sorted(map(tuple, graph.triangle_counts(tri_pairs).collect()))
    relia_tc = sorted(map(tuple, graph.triangle_counts(
        tri_pairs, checkpoint_dir=ckdir
    ).collect()))
    assert local_tc == relia_tc and local_tc

    # the reliable mode really wrote durable checkpoint state
    assert any(files for _, _, files in os.walk(ckdir))


def test_iteration_pin_sets_checkpoint_dir_once(spark, tmp_path):
    """The reliable pin's set-once guard must actually match
    (code-review r16): getCheckpointDir() returns the scheme-qualified
    dir PLUS a per-set random UUID subdir, so a naive equality check
    re-ran setCheckpointDir on every pin — one fresh UUID dir per
    iteration accumulating on the checkpoint FS for the job's life. A
    multi-pin run must create exactly ONE UUID subdir."""
    import os

    from etl_fuel_priceguide_ec2_spark.operators.util import (
        _checkpoint_dir_matches,
        iteration_pin,
    )

    ckdir = str(tmp_path / "pin_once")
    pin = iteration_pin(ckdir)
    df = spark.range(5)
    for _ in range(4):
        df = pin(df.withColumn("id", df["id"] + 1))
    assert sorted(r.id for r in df.collect()) == [4, 5, 6, 7, 8]
    assert len(os.listdir(ckdir)) == 1  # one setCheckpointDir, 4 pins

    cur = spark.sparkContext.getCheckpointDir()
    assert _checkpoint_dir_matches(cur, ckdir)
    assert _checkpoint_dir_matches(cur, ckdir + "/")
    assert not _checkpoint_dir_matches(cur, str(tmp_path / "other"))
    assert not _checkpoint_dir_matches(None, ckdir)


def _pin_docs(spark):
    return spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")


def test_exact_substring_spans_rejects_unpinned_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir on the uncapped span path has no pin to apply to:
    it must raise, not be silently ignored (ADVICE r17)."""
    import pytest

    with pytest.raises(ValueError, match="max_gram_freq=None"):
        dedup.exact_substring_spans(
            _pin_docs(spark), "doc_id", "text", max_gram_freq=None,
            checkpoint_dir=str(tmp_path / "ck"),
        )


def test_exact_substring_incremental_rejects_unpinned_checkpoint_dir(spark, tmp_path):
    """Same contract as the batch span miner, on the incremental path."""
    import pytest

    grams = spark.createDataFrame([(1, 1, 7)], "doc_id long, pos int, _h long")
    with pytest.raises(ValueError, match="max_gram_freq=None"):
        dedup.exact_substring_spans_incremental(
            grams, grams, max_gram_freq=None, checkpoint_dir=str(tmp_path / "ck")
        )


def test_ngram_jaccard_rejects_checkpoint_dir_without_prefix_path(spark, tmp_path):
    """prefix_filter=False never takes the prefix path's pin, so a
    checkpoint_dir would be silently ignored: it must raise."""
    import pytest

    with pytest.raises(ValueError, match="prefix_filter=False"):
        dedup.ngram_jaccard_pairs(
            _pin_docs(spark), "doc_id", "text", prefix_filter=False,
            checkpoint_dir=str(tmp_path / "ck"),
        )


def test_durable_store_refingerprints_within_one_process(spark, tmp_path):
    """The durable group store's session cache is keyed by the corpus
    FINGERPRINT (code-review r16): regenerating the fixture dir within
    one process must trigger a re-mine against the new corpus rather
    than early-returning handles that still point at the superseded
    generation's parquet."""
    import os

    from etl_fuel_priceguide_ec2_spark.registry import stores

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    doc_path = str(corpus / "documents.parquet")
    sf_dir = str(corpus)

    def write_docs(marker):
        spark.createDataFrame(
            [(1, marker)], "doc_id bigint, text string"
        ).coalesce(1).write.mode("overwrite").parquet(doc_path)

    builds = []

    def build_all():
        builds.append(1)
        docs = spark.read.parquet(doc_path)
        return {"sig": docs.groupBy("text").count()}

    try:
        write_docs("gen-one")
        first = stores.durable_corpus_store_group(
            spark, sf_dir, "fp_pin", ["sig"], build_all
        )["sig"].collect()
        assert [r.text for r in first] == ["gen-one"] and len(builds) == 1
        stores.durable_corpus_store_group(
            spark, sf_dir, "fp_pin", ["sig"], build_all
        )
        assert len(builds) == 1  # same generation: served from cache

        write_docs("gen-two")  # regenerate the fixture in-process
        second = stores.durable_corpus_store_group(
            spark, sf_dir, "fp_pin", ["sig"], build_all
        )["sig"].collect()
        assert [r.text for r in second] == ["gen-two"]
        assert len(builds) == 2  # new fingerprint forced the re-mine
        # the superseded generation was NOT rmtree'd immediately (a
        # concurrent process could still be reading it); both live
        # under the store root until the grace period / explicit clear
        import glob
        import tempfile

        root = os.path.join(tempfile.gettempdir(), stores._STORES_DIRNAME)
        gens = glob.glob(os.path.join(root, "fp_pin_*"))
        assert len(gens) == 2
    finally:
        stores.clear_durable_stores(sf_dir)


def test_iteration_pin_file_uri_target_sets_once(spark, tmp_path):
    """URI-form targets must satisfy the set-once guard too
    (code-review r16): 'file:///d' and the Hadoop-qualified
    'file:/d/<uuid>' name the same dir — without normalization every
    pin re-ran setCheckpointDir for URI spellings, recreating the
    per-iteration UUID-dir scatter the guard exists to prevent."""
    import os

    from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

    ckdir = tmp_path / "pin_uri"
    pin = iteration_pin(f"file://{ckdir}")
    df = spark.range(3)
    for _ in range(3):
        df = pin(df.withColumn("id", df["id"] + 1))
    assert sorted(r.id for r in df.collect()) == [3, 4, 5]
    assert len(os.listdir(ckdir)) == 1


def test_durable_store_rebuilds_when_new_member_requested(spark, tmp_path):
    """_GROUP_DONE alone must not be trusted (code-review r16): a
    generation blessed by an older code version may lack a member a
    newer release requests — the store must rebuild the group rather
    than throw Path-does-not-exist on the missing parquet forever
    (the corpus fingerprint never changes with code)."""
    from etl_fuel_priceguide_ec2_spark.registry import stores

    corpus = tmp_path / "corpus_members"
    corpus.mkdir()
    doc_path = str(corpus / "documents.parquet")
    sf_dir = str(corpus)
    spark.createDataFrame(
        [(1, "alpha")], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(doc_path)

    builds = []

    def build_v1():
        builds.append("v1")
        docs = spark.read.parquet(doc_path)
        return {"sig": docs.groupBy("text").count()}

    def build_v2():
        builds.append("v2")
        docs = spark.read.parquet(doc_path)
        return {
            "sig": docs.groupBy("text").count(),
            "extra": docs.select("doc_id"),
        }

    try:
        stores.durable_corpus_store_group(
            spark, sf_dir, "member_pin", ["sig"], build_v1
        )
        assert builds == ["v1"]
        got = stores.durable_corpus_store_group(
            spark, sf_dir, "member_pin", ["sig", "extra"], build_v2
        )
        assert builds == ["v1", "v2"]  # marker alone did not satisfy
        assert got["extra"].count() == 1
        stores.durable_corpus_store_group(
            spark, sf_dir, "member_pin", ["sig", "extra"], build_v2
        )
        assert builds == ["v1", "v2"]  # rebuilt generation now serves
    finally:
        stores.clear_durable_stores(sf_dir)


def test_corpus_tag_disambiguates_sanitization_collisions(tmp_path):
    """'/a/b_c' and '/a/b/c' sanitize to the same readable tag — the
    digest suffix must keep their store generations (and scoped
    clears) apart (code-review r16)."""
    from etl_fuel_priceguide_ec2_spark.registry.stores import _corpus_tag

    a = str(tmp_path / "x_y" / "sf1")
    b = str(tmp_path / "x" / "y_sf1")
    assert _corpus_tag(a) != _corpus_tag(b)
    # stable for equivalent spellings of the same dir
    assert _corpus_tag(a) == _corpus_tag(a + "/")


def test_pagerank_boundary_rounding_matches_duckdb_oracle(spark):
    """The bit-identical-iterations contract on a graph that HITS the
    .5-boundary rounding case (code-review r16, empirically found on
    this exact seed): pr/out-degree = 0.0019953703705 rounds UP under
    Spark's native ROUND (shortest-repr BigDecimal HALF_UP) but DOWN
    under DuckDB's scaled-double model — util.round_like_duckdb makes
    the Spark side follow the oracle's model, so the full 5-iteration
    replay must now agree value-for-value."""
    import random

    import duckdb

    from etl_fuel_priceguide_ec2_spark.operators import graph

    rng = random.Random(9)
    edges = list(
        {
            (rng.randrange(150), rng.randrange(150))
            for _ in range(450)
        }
    )
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.pr for r in graph.pagerank(df, iters=5).collect()}

    con = duckdb.connect()
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    con.execute(f"CREATE VIEW edges AS SELECT * FROM (VALUES {vals}) t(src, dst)")
    sql = graph.pagerank_oracle_sql("SELECT src, dst FROM edges", iters=5)
    expect = dict(con.execute(sql).fetchall())
    assert set(got) == set(expect)
    diffs = {n for n in got if got[n] != expect[n]}
    assert not diffs, f"{len(diffs)} nodes diverge, e.g. {sorted(diffs)[:3]}"


def test_pagerank_empty_edge_list_returns_empty(spark):
    """An empty edge list must yield an empty (node, pr) relation —
    not a constant-folded DIVIDE_BY_ZERO from the 1/n teleport under
    ANSI mode (code-review r16); hits and the oracle replay already
    return empty."""
    from etl_fuel_priceguide_ec2_spark.operators import graph

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    out = graph.pagerank(empty, iters=3)
    assert out.columns == ["node", "pr"] and out.count() == 0


def test_sketch_argument_guards(spark, sf_dir):
    """Uniform loud-guard coverage across the sketch tier
    (code-review r16): kmv nsplits, hll_estimate b, triangle b-column
    dtype, and the probe-keys contract shared by cms_point_counts and
    its oracle generator."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import graph, sketches

    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="nsplits"):
        sketches.kmv_sketch(orders, "o_custkey", nsplits=0)
    with pytest.raises(ValueError, match=r"b must be"):
        sketches.hll_estimate(spark.range(1), b=3)
    with pytest.raises(ValueError, match="probe_keys"):
        sketches.cms_point_counts(orders, "o_custkey", [])
    with pytest.raises(ValueError, match="probe_keys"):
        sketches.cms_point_counts(orders, "o_custkey", [1, None])
    with pytest.raises(ValueError, match="probe_keys"):
        sketches.cms_oracle_sql("orders", "o_custkey", [])
    with pytest.raises(ValueError, match="integer node ids"):
        graph.triangle_counts(
            spark.createDataFrame([(1, "x")], "a bigint, b string")
        )


def test_bloom_membership_report_empty_probe_is_zeros(spark, sf_dir):
    """Empty probe relation yields coalesced ZEROS, not NULL sums —
    the module's empty-input contract (ADVICE r08), now symmetric
    with the oracle's COALESCE (code-review r16)."""
    import duckdb

    from etl_fuel_priceguide_ec2_spark.operators import sketches
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    build = load_table(spark, sf_dir, "region")
    probe = build.limit(0)
    [r] = sketches.bloom_membership_report(
        build, probe, "r_regionkey", "r_regionkey", n_words=8, k=2
    ).collect()
    assert (r.n_probe_keys, r.n_bloom_pass, r.n_true_members,
            r.n_false_positives) == (0, 0, 0, 0)
    con = duckdb.connect()
    sql = sketches.bloom_oracle_sql(
        "(SELECT 1 AS _key)", "(SELECT 1 AS _key WHERE FALSE)",
        n_words=8, k=2,
    )
    assert con.execute(sql).fetchone() == (0, 0, 0, 0)
