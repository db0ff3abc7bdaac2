"""A1 + X1/X2 — deduplication: keyed last-wins, exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Reference semantics: A1 dedup-by-key with LAST occurrence winning —
``new Map(arr.map(i => [i[key], i])).values()`` (``index.js:67-75``,
JS Map overwrites on duplicate key). We implement it with an explicit
descending window so the result is deterministic and oracle-matchable,
never ``dropDuplicates`` (whose survivor is order-dependent).

Scale notes (100 TB):
  * exact dedup groups on a 256-bit content hash, not the payload —
    the shuffle moves 32 bytes + key instead of documents.
  * MinHash-LSH: shingle → minhash(k) → band buckets → groupBy(band,
    signature) emits candidate pairs only; verification joins texts back
    for exact Jaccard. Never O(n²).
  * n-gram Jaccard uses the inverted-index (explode + self-join on
    shingle) pattern; at 100 TB add prefix filtering — documented, the
    candidate generation is already the standard SSJoin shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from etl_fuel_priceguide_ec2_spark.operators.util import (
    fan_out,
    longs_lit,
    plan_barrier,
)


def dedup_last_wins(df: DataFrame, key_cols: list[str], order_col: str, tiebreak_cols: list[str] | None = None) -> DataFrame:
    """A1: one row per key, the LATEST by ``order_col`` winning — exact
    JS ``Map`` last-wins semantics (index.js:70-71)."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak_cols or []]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """X1: exact dedup on sha2-256 of content; survivor = min id.
    Returns (id, content_hash, dup_count). Group key is the 32-byte hash,
    so the shuffle never carries document payloads."""
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(content_col), 256).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    ).select(id_col, "content_hash", "dup_count")


def _shingle_array(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingles: array<string>) — DISTINCT word n-gram shingles per
    doc, computed without any cross-row shuffle (pure per-row
    higher-order fns); fan_out spreads the CPU-bound work when the scan
    yields fewer splits than cores."""
    df = fan_out(df)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.select(
        F.col(id_col),
        F.array_remove(F.array_distinct(grams), "").alias("shingles"),
    )


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle), exploded.
    Distinctness is per-row (array_distinct), so no shuffle is needed."""
    return _shingle_array(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def corpus_skew_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    fraction: float = 0.05,
    seed: int = 42,
) -> dict:
    """Sampled shingle-frequency statistic driving the SSJoin path choice
    (see ``ngram_jaccard_pairs(prefix_filter="auto")``). Returns
    ``{"max_df": int|None, "n_sampled": int}`` from a ``fraction`` sample.

    Intended to be computed ONCE per corpus — at ingest, alongside the
    table's other catalog statistics — and passed to every subsequent
    ``ngram_jaccard_pairs(..., skew_stats=...)`` call. At 100 TB the
    probe is a multi-TB sample scan; re-deriving it per query (the
    fallback when ``skew_stats`` is omitted) is the worst-case pattern,
    not the production one. Two small jobs over a persisted sample:
    per-shingle df folded to its max, and the sampled doc count (without
    the persist each aggregate re-runs the scan + shingle transform).
    """
    sets = _shingle_array(df, id_col, text_col, n)
    sample = sets.sample(fraction=fraction, seed=seed).persist()
    try:
        row = (
            sample.select(F.explode("shingles").alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.max("df").alias("max_df"))
            .collect()[0]
        )
        n_sampled = sample.count()
    finally:
        sample.unpersist()
    return {"max_df": row.max_df, "n_sampled": n_sampled}


def decide_prefix_path(skew_stats: dict) -> bool:
    """Path decision from a precomputed corpus statistic: pay the PPJoin
    prefix pass iff a sampled shingle is 'hot' (appears in >=2% of
    sampled docs, floor 8) — the Σdf² blow-up regime of the naive
    inverted-index join."""
    max_df = skew_stats.get("max_df")
    n_sampled = skew_stats.get("n_sampled", 0)
    return bool(max_df is not None and max_df >= max(8.0, 0.02 * n_sampled))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool | str = "auto",
    collapse_identical: bool = False,
    skew_stats: dict | None = None,
    shingle_sets: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """X2 (exact verify path): near-dup pairs by word n-gram Jaccard.
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    ``collapse_identical``: group docs whose DISTINCT shingle sets are
    identical and mine pairs over one representative per group, then
    expand back — intra-group pairs are emitted directly (J = 1.0 by
    definition), cross-group pairs replicate the representative pair's
    Jaccard to every member combination. Exact same output, but the
    quadratic mining stage sees unique SETS instead of documents. The
    web-corpus shortcut when exact dedup (X1) hasn't run first:
    mirror/boilerplate families collapse to one node each. Costs one
    extra groupBy of 8-byte sorted hash arrays; off by default (a
    deduped corpus gains nothing).

    With ``prefix_filter``: PPJoin-style exact set-similarity
    join. Each doc's shingles are ordered by ascending global document
    frequency; only the first ``|s| - ceil(t·|s|) + 1`` shingles are
    indexed. Any pair with J >= t MUST share a prefix shingle (pigeonhole
    on the overlap bound ceil(t/(1+t)·(|a|+|b|))), so recall is exactly
    1.0, while hot shingles — the O(Σ df²) blow-up of the naive inverted
    index — sort to the suffix and never join. Candidates are then
    verified with exact Jaccard on the full shingle arrays. This is the
    100 TB shape: one df-count aggregate, one prefix-index join whose
    cardinality tracks true near-dups, not co-occurrence.

    Without it (``False``): the plain inverted-index join. Measured:
    on corpora with NO hot shingles (fixture max df = 25) the naive
    join is 2× faster than paying the df-aggregate + sort shuffles;
    but on web-scale corpora boilerplate shingles with df in the
    millions make the naive join quadratic.

    ``prefix_filter="auto"`` (DEFAULT — the only safe choice when the
    corpus shape is unknown, i.e. always at 100 TB): sample 5% of docs,
    aggregate shingle df, and choose the prefix path iff a hot shingle
    (>2% sampled-doc frequency) exists. Costs two small jobs up front;
    right answer on both corpus shapes without the caller knowing the
    skew. Callers that KNOW their corpus (benchmarks, fixtures) may pin
    ``False``/``True`` to skip the probe.

    ``checkpoint_dir`` makes the prefix path's pin of the hashed
    shingle sets a reliable ``.checkpoint()`` (``util.iteration_pin``).
    Only the prefix path pins: with ``prefix_filter="auto"`` it applies
    only when the prefix path is taken, and with ``prefix_filter=False``
    it raises ``ValueError`` rather than being silently ignored.
    """
    if checkpoint_dir is not None and not prefix_filter:
        raise ValueError(
            "ngram_jaccard_pairs: checkpoint_dir is ignored with "
            "prefix_filter=False (only the prefix path pins)"
        )
    # ``shingle_sets``: a precomputed ``_shingle_array(df, ...)`` relation
    # (id, shingles: array<string>) — pass it when several miners run over
    # the same corpus (the curation capstone shares ONE tokenize+shingle
    # scan between the Jaccard and containment joins; at 100 TB that is a
    # whole corpus scan saved per extra miner).
    sets = (
        shingle_sets
        if shingle_sets is not None
        else _shingle_array(df, id_col, text_col, n)
    )

    def _mine(sets: DataFrame) -> DataFrame:
        pf = prefix_filter
        if pf == "auto":
            # Adaptive path selection from sampled shingle document
            # frequency: the naive inverted-index join blows up as Σ df² on
            # hot shingles, so if any sampled shingle appears in >2% of
            # sampled docs (boilerplate/templates), pay the PPJoin prefix
            # pass; on skew-free corpora skip it (measured 2× faster).
            # ``skew_stats`` (computed once per corpus via
            # corpus_skew_stats, stored with the table) makes the decision
            # free; omitting it re-probes per call — the worst case at
            # scale (a 5% sample scan per invocation).
            stats = (
                skew_stats
                if skew_stats is not None
                else corpus_skew_stats(df, id_col, text_col, n)
            )
            pf = decide_prefix_path(stats)
        if not pf:
            # join on xxhash64 of the shingle, not the string: 8-byte shuffle
            # keys instead of 20-40-byte strings → measured 3× faster at
            # sf0.1 with identical results (64-bit collision odds across a
            # corpus-wide shingle vocabulary V are ~V²/2⁶⁵ — at V=10⁹ that
            # is ~3%, so at extreme scale either accept ±1 on n_common or
            # flip to prefix_filter, which verifies on hashed arrays)
            hashes = F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s)))
            sh = sets.select(
                F.col(id_col),
                F.size(hashes).alias("set_size"),
                F.explode(hashes).alias("sh"),
            )
            a = sh.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "sh")
            b = sh.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "sh")
            inter = (
                a.join(b, "sh")
                .filter(F.col("id_a") < F.col("id_b"))
                # length filter: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|)
                # (since |A∩B| <= min and |A∪B| >= max). Prunes candidate
                # pair-rows BEFORE the count aggregate — on length-skewed
                # corpora this is the difference between the agg seeing
                # O(true pairs) vs O(co-occurrences).
                .filter(
                    F.least("size_a", "size_b")
                    >= F.lit(threshold) * F.greatest("size_a", "size_b")
                )
                .groupBy("id_a", "id_b", "size_a", "size_b")
                .agg(F.count(F.lit(1)).alias("n_common"))
            )
            return (
                inter.withColumn(
                    "jaccard",
                    F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                )
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
            )

        # everything below runs on 8-byte xxhash64 shingle keys, never the
        # strings (same accepted 64-bit collision tradeoff as the naive path
        # and the LSH verify): the df aggregate, the per-doc sort structs,
        # and the prefix join shuffle long keys instead of 20-40-byte
        # strings. Measured ~15% on the skewed benchmark locally (CPU-bound
        # there); the byte-size win compounds at real network-shuffle scale.
        #
        # Pin the hashed shingle-set relation ONCE (r17, VERDICT r16
        # item 1 — the structural fix for the skewed bench row): FOUR
        # subtrees consume hsets (the df aggregate, the ordered/prefix
        # chain feeding BOTH candidate sides, and both verify-join
        # sides), and each lazy copy re-ran the full scan + tokenize +
        # shingle + xxhash chain — the before-plan shows 6 parquet
        # scans with the shingle transform also duplicated into each
        # Generate's pushed-down non-empty filter (~10 corpus-sized
        # transform passes per query). A/B tools/ab_round17_jacc.py:
        # base 5.85 -> 4.18 s with hsets+pre pinned; the follow-up
        # isolation run shows pinning hsets ALONE is better still
        # (min 3.47/med 4.18 vs min 4.48/med 5.68 over 8 interleaved
        # reps) — the ordered/prefix recompute from pinned hsets is
        # cheap fused-map + two aggregates whose two lazy copies
        # schedule concurrently (the r16 pin heuristic), while an
        # eager pre pin serializes them. The r16-rejected `ordered`
        # pin (7.25 -> 9.48 s) pinned too HIGH: it kept the scan
        # duplication and paid the serialization. At scale the pinned
        # relation is the per-doc hashed shingle-set state (~corpus
        # token count x 8 bytes); checkpoint_dir= makes the pin
        # executor-loss survivable (util.iteration_pin).
        from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

        hsets = iteration_pin(checkpoint_dir)(
            sets.select(
                F.col(id_col),
                F.array_distinct(
                    F.transform("shingles", lambda s: F.xxhash64(s))
                ).alias("shingles"),
            )
        )
        sh = hsets.select(F.col(id_col), F.explode("shingles").alias("shingle"))
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        # order each doc's shingles by (df asc, hash) — rare first; any
        # total order shared by all docs satisfies the PPJoin prefix
        # theorem — and keep only the prefix any qualifying pair must hit
        ordered = (
            sh.join(freq, "shingle")
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
            .select(
                F.col(id_col),
                F.size("ord").alias("set_size"),
                F.slice(
                    F.transform("ord", lambda x: x["shingle"]),
                    1,
                    (F.size("ord") - F.ceil(F.lit(threshold) * F.size("ord")) + 1).cast("int"),
                ).alias("prefix"),
            )
        )
        # NOT pinned (r16 A/B): both candidate sides recompute this
        # subtree (plan shows the df-aggregate chain twice), but an
        # eager localCheckpoint of `ordered` measured a consistent
        # REGRESSION (7.25 s -> 9.48 s min-of-4 interleaved at sf0.1,
        # tools/ab_round16_jacc.py) — the two lazy subtrees' stages
        # schedule concurrently across idle cores, while the pin
        # serializes the whole query behind one materialization job.
        # Same verdict as the raw shingle relation: recompute wins.
        # carry set_size into the prefix join: the length filter
        # (J >= t forces min|A|,|B| >= t*max) prunes candidate pair-rows
        # BEFORE the distinct — on skewed corpora the prefix join's raw
        # output is the largest intermediate in the whole query, and
        # length-mismatched pairs can't qualify
        pre = ordered.select(
            F.col(id_col), "set_size", F.explode("prefix").alias("shingle")
        )
        candidates = (
            pre.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "shingle")
            .join(
                pre.select(
                    F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "shingle"
                ),
                "shingle",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.least("size_a", "size_b")
                >= F.lit(threshold) * F.greatest("size_a", "size_b")
            )
            .select("id_a", "id_b")
            .distinct()
        )
        sa = hsets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
        sb = hsets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
        return (
            candidates.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )


    if not collapse_identical:
        return _mine(sets)

    # collapse identical distinct-shingle sets: mine over one
    # representative per unique set, expand pairs back to members
    hs = sets.select(
        F.col(id_col),
        F.sort_array(
            F.array_distinct(F.transform("shingles", lambda x: F.xxhash64(x)))
        ).alias("hs"),
    ).filter(F.size("hs") > 0)  # empty-set docs never pair (as in direct mining)
    groups = hs.groupBy("hs").agg(
        F.min(id_col).alias("rep"), F.collect_list(id_col).alias("members")
    )
    intra = (
        groups.filter(F.size("members") > 1)
        .select(F.explode("members").alias("id_a"), F.col("members"))
        .select("id_a", F.explode("members").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.lit(1.0))
    )
    rep_sets = sets.join(
        groups.select(F.col("rep").alias(id_col)), id_col, "left_semi"
    )
    rep_pairs = _mine(rep_sets)
    ga = groups.select(F.col("rep").alias("id_a"), F.col("members").alias("ma"))
    gb = groups.select(F.col("rep").alias("id_b"), F.col("members").alias("mb"))
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode("ma").alias("a"), "mb", "jaccard")
        .select("a", F.explode("mb").alias("b"), "jaccard")
        .select(
            F.least("a", "b").alias("id_a"),
            F.greatest("a", "b").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 128
) -> DataFrame:
    """MinHash signatures from word n-gram shingles.

    Hash family g_i(s) = h1(s) + i·h2(s) (Kirsch–Mitzenmacher double
    hashing; h1/h2 are the upper 32 bits of two xxhash64 seeds, so the
    arithmetic never overflows a long under ANSI mode) — 2 hash
    evaluations per shingle instead of num_hashes, then one fold taking
    the element-wise min. Computed entirely per-row — ZERO shuffles; the
    signature build is embarrassingly parallel map work, exactly what
    you want at 100 TB.
    """
    sets = _shingle_array(df, id_col, text_col, n)
    return _signatures_from_sets(sets, id_col, num_hashes)


def _signatures_from_sets(sets: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """Signature fold over a precomputed (id, shingles) relation — split
    out so callers that also need the shingle arrays (LSH verify) can
    materialize them once instead of re-scanning the corpus."""
    hashed = F.transform(
        "shingles",
        lambda s: F.struct(
            F.shiftrightunsigned(F.xxhash64(s, F.lit(1)), 32).alias("h1"),
            F.shiftrightunsigned(F.xxhash64(s, F.lit(2)), 32).alias("h2"),
        ),
    )
    max_long = (1 << 63) - 1
    init = F.array_repeat(F.lit(max_long).cast("long"), num_hashes)
    idx = longs_lit(range(num_hashes))
    sig = F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(acc, idx, lambda a, i: F.least(a, h["h1"] + i * h["h2"])),
    )
    return sets.select(F.col(id_col), sig.alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """X2 (scale path): MinHash-LSH near-dup candidate generation +
    exact-Jaccard verification.

    Banding: signature split into ``bands`` bands of r = num_hashes/bands
    rows; docs sharing any (band_id, band_hash) bucket become candidates
    (self-join on the bucket key, never all-pairs). Candidates are then
    verified with exact Jaccard computed ONLY for candidate pairs
    (array_intersect of the two shingle arrays), so output precision is
    1.0 and only recall depends on the LSH parameters. Unlike the exact
    SSJoin, total cost is map work + a join whose cardinality is the
    candidate count, not the co-shingle count.

    ``max_bucket``: hot-bucket cap for pathological corpora (a band
    bucket holding B docs emits B²/2 candidate rows — one
    million-identical-boilerplate bucket is an O(10¹²) self-join). Band
    buckets larger than ``max_bucket`` are dropped BEFORE the self-join
    (a count pre-filter on the bucket key, same move as the SSJoin
    length filter). Near-identical docs collide in MANY bands, so a
    capped bucket rarely costs recall — any pair also sharing a
    non-hot band still surfaces; the exact-Jaccard verify keeps
    precision at 1.0 regardless. Default None (off) — correct for
    corpora without massive exact-dup families, where X1 exact dedup
    should run first anyway.
    """
    r = num_hashes // bands
    # The signature branch and the verify branch each recompute the
    # shingle arrays. MEASURED choice: materializing the common subplan
    # (localCheckpoint) was 2× SLOWER at sf0.1 — it breaks whole-stage
    # codegen fusion (scan→shingle→minhash runs as one generated loop)
    # and pays array serialization, while the duplicated shingling is
    # cheap fused map work. Revisit only if the scan itself dominates
    # (remote object store) — then persist(DISK_ONLY) the sets.
    sig = _signatures_from_sets(
        _shingle_array(df, id_col, text_col, n), id_col, num_hashes
    )
    banded = sig.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.array(*[F.hash(F.slice("signature", b * r + 1, r)) for b in range(bands)])
        ).alias("band_id", "band_hash"),
    )
    if max_bucket is not None:
        # drop hot buckets before the self-join: one aggregate on the
        # bucket key (small: one row per bucket), broadcast-joined back
        bucket_sizes = banded.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        banded = (
            banded.join(
                F.broadcast(bucket_sizes.filter(F.col("__bsz") > max_bucket)),
                ["band_id", "band_hash"],
                "left_anti",
            )
        )
    left = banded.select(F.col("doc").alias("id_a"), "band_id", "band_hash")
    right = banded.select(F.col("doc").alias("id_b"), "band_id", "band_hash")
    candidates = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # verify on hashed shingle arrays (8-byte elements) — same 64-bit
    # collision tradeoff as the exact path's hashed join
    sets = _shingle_array(df, id_col, text_col, n).select(
        F.col(id_col),
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias("shingles"),
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """(doc, band_id, band_hash) — the PERSISTABLE LSH index state:
    written per ingest slice, unioned by concatenation (disjoint doc
    ids), probed by any later slice's buckets."""
    r = num_hashes // bands
    sig = _signatures_from_sets(
        _shingle_array(df, id_col, text_col, n), id_col, num_hashes
    )
    return sig.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.array(
                *[F.hash(F.slice("signature", b * r + 1, r)) for b in range(bands)]
            )
        ).alias("band_id", "band_hash"),
    )


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles: array<long>) — the verify-side state (8-byte
    hashed shingles), slice-unionable like the band buckets."""
    return _shingle_array(df, id_col, text_col, n).select(
        F.col(id_col),
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias(
            "shingles"
        ),
    )


def lsh_pairs_from_state(
    bands_probe: DataFrame,
    bands_all: DataFrame,
    sets_all: DataFrame,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Mine verified pairs from LSH STATE relations: the probe side's
    buckets drive the candidate join against the full bucket store
    (pairs fully inside the non-probe side never form), then exact
    Jaccard on candidate pairs only. The state-store half of the
    incremental dedup path — both inputs can come straight off
    parquet, no text access."""
    pair_a = F.least(F.col("doc_n"), F.col("doc"))
    pair_b = F.greatest(F.col("doc_n"), F.col("doc"))
    candidates = (
        bands_probe.withColumnRenamed("doc", "doc_n")
        .join(bands_all, ["band_id", "band_hash"])
        .filter(F.col("doc_n") != F.col("doc"))
        .select(pair_a.alias("id_a"), pair_b.alias("id_b"))
        .distinct()
    )
    sa = sets_all.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets_all.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs_incremental(
    history: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """The INCREMENTAL near-dup shape — the daily-ingest workflow at
    100 TB: mine pairs between a NEW slice and (history + new) without
    ever re-mining history x history. Band buckets of the small new
    slice drive the candidate join against the full corpus's buckets,
    so the self-join cardinality is bucket-collisions-with-new, not
    bucket-size squared; history pairs already found in prior runs are
    structurally excluded (a candidate must have >= 1 new side).
    Verification (exact Jaccard on candidate pairs only) and output
    shape match ``minhash_lsh_pairs`` — the union of prior runs' pairs
    plus this relation equals the from-scratch full-corpus relation
    (pinned by test).

    At real scale the history side's band buckets and hashed shingle
    sets would be PERSISTED at ingest (the inverted_postings /
    kmv_sketch_stream pattern); here both are recomputed from text —
    the join shape is the point. Measured honestly at sf0.1 (min-of-3,
    20% new): 2.30 s vs 2.65 s from-scratch — modest locally because
    BOTH still scan the full corpus for signatures/verify sets (the
    recompute noted above); the structural win is the excluded
    history x history candidate volume, which dominates at corpus
    scale and with persisted history state."""
    full = history.select(id_col, text_col).unionByName(
        new.select(id_col, text_col)
    )
    banded_all = lsh_band_buckets(full, id_col, text_col, n, num_hashes, bands)
    if max_bucket is not None:
        bucket_sizes = banded_all.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("__bsz")
        )
        banded_all = banded_all.join(
            F.broadcast(bucket_sizes.filter(F.col("__bsz") > max_bucket)),
            ["band_id", "band_hash"],
            "left_anti",
        )
    banded_new = lsh_band_buckets(new, id_col, text_col, n, num_hashes, bands)
    sets_all = hashed_shingle_sets(full, id_col, text_col, n)
    return lsh_pairs_from_state(banded_new, banded_all, sets_all, id_col, threshold)


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """X2 (SimHash variant): ``bits``-bit simhash over word tokens.

    Per token t: h = hash(t); bit j contributes +1 if set in h else -1,
    weighted by token frequency. simhash bit j = 1 iff sum > 0.

    The signature is folded ENTIRELY per-row: one ``aggregate`` over the
    token array carries a ``bits``-element running-sum array, so the
    plan has NO shuffle at all in the signature build (the previous
    posexplode formulation shuffled tokens×64 rows through two
    aggregations — a 64× row blow-up that would not survive 100 TB).
    Docs with zero tokens are dropped (no signal to hash).

    ``hash_fn``:
      * ``"xxhash64"`` (default) — full 64-bit Spark xxhash64; fastest.
      * ``"md5_60"`` — top 60 bits of md5 (15 hex chars), numerically
        identical to DuckDB ``CAST('0x'||substring(md5(t),1,15) AS
        BIGINT)``, which makes the whole operator oracle-checkable
        cross-engine. Use bits<=60 with this.

    Output: (id, simhash) with simhash as bigint.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    if hash_fn == "md5_60":
        hashes = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"))
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # bit masks are compile-time longs (bit 63 = sign bit as negative mask)
    masks = longs_lit((1 << j) if j < 63 else -(1 << 63) for j in range(bits))
    sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            masks,
            acc,
            lambda m, a: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    sig = F.aggregate(
        F.zip_with(sums, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        fan_out(df)
        .filter(F.size(toks) > 0)
        .select(F.col(id_col), sig.alias("simhash"))
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= max_hamming,
    blocked by 16-bit simhash prefix (docs differing in the top 16 bits
    are assumed far — standard multi-probe blocking keeps this out of
    O(n²); at scale use 4 rotated prefix tables for full recall)."""
    sig = simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    # plan_barrier: both self-join branches plus the join's
    # hash/isnotnull otherwise re-expand the per-row signature fold
    # — measured 2.35 -> 1.00 s at sf0.1, identical pairs; every
    # column here is consumed downstream, so no pruning is lost
    block = plan_barrier(
        sig.withColumn("block", F.shiftrightunsigned("simhash", bits - 16))
    )
    a = block.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block")
    b = block.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """X2 (embedding-cosine variant): pairs with cosine >= threshold,
    blocked on ``block_col`` (coarse quantizer cell / cluster id) so the
    self-join is per-block instead of all-pairs. Dot products run
    JVM-side via zip_with + aggregate in double precision."""
    withnorm = fan_out(df).select(
        F.col(id_col),
        F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    a = withnorm.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"), "block"
    )
    b = withnorm.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


# Driver finish of connected_components: an edge row is two ids, 16 B
# in Arrow's columnar layout for long ids (the common case; a string id
# graph is sized by the same row count)
_CC_EDGE_ROW_BYTES = 16
# id types whose numpy sort order is Spark's MIN order (strings: Python
# code-point order == Spark's UTF8_BINARY byte order); anything else
# keeps the distributed loop
_CC_DRIVER_ID_TYPES = (
    ByteType(), ShortType(), IntegerType(), LongType(), StringType()
)


def _cycle_hops(it: int, hops_per_probe: int | str) -> int:
    # "auto": the first two probe cycles run the hops=1 schedule
    # (shallow graphs converge inside it and never pay for batching);
    # still changing after that -> depth-dominated -> batch 2
    if hops_per_probe == "auto":
        return 1 if it < 2 else 2
    return hops_per_probe


def _hashmin_on_driver(
    spark, edges, id_type, max_iter: int, hops_per_probe: int | str
) -> DataFrame:
    """The distributed loop's exact schedule replayed in numpy over id
    ranks (rank order == id order, so MIN over ranks is MIN over ids):
    the same hops per probe cycle, the same last-hop convergence test,
    the same ``max_iter`` truncation — labels are bit-identical even
    for a graph the loop would not finish. ``edges`` is the doubled,
    distinct, NULL-free edge relation as an Arrow table."""
    import numpy as np
    import pyarrow as pa

    arrow_type = edges.schema.field("src").type
    ids, src = np.unique(edges.column("src").to_numpy(), return_inverse=True)
    dst = np.searchsorted(ids, edges.column("dst").to_numpy())
    label = np.arange(len(ids))
    for it in range(max_iter):
        for _ in range(_cycle_hops(it, hops_per_probe)):
            hop = label.copy()
            np.minimum.at(hop, src, label[dst])
            changed = bool((hop != label).any())
            label = hop
        if not changed:
            break
    node_ids = pa.array(ids, type=arrow_type)
    out = pa.table(
        {"doc_id": node_ids, "component_id": node_ids.take(pa.array(label))}
    )
    schema = StructType(
        [StructField("doc_id", id_type), StructField("component_id", id_type)]
    )
    return spark.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    hops_per_probe: int | str = "auto",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster near-dup pairs into groups: connected components via
    iterative HashMin label propagation (each node repeatedly adopts the
    smallest id among itself and its neighbors). Rounds needed = graph
    diameter (near-dup clusters are shallow, so usually 2-4). Converged
    when no label changes.

    Two paths, one schedule, bit-identical labels:

    - Driver finish (graphs up to the cap). After the edge relation is
      pinned, at most ``cap + 1`` of its rows come back through Arrow;
      if the graph fits and has no NULL id (and the id type is integral
      or a binary-collated string), the HashMin schedule below is
      replayed in numpy on the driver and the labels return through
      ``createDataFrame(<Arrow table>)`` with the input id type (a
      local relation: no job, no Python worker). Each probe cycle of
      the Spark loop pays the fixed job floor several times (checkpoint
      job, shuffles, the probe), which dominates every small graph; the
      driver finish pays only the edge pin and one Arrow collect (3
      Spark jobs for a 30-edge chain, where the loop runs 133).
      On the ``curation_keeplist`` benchmark (~30-node graphs, 4
      cores) the traced seed-5 pass fell from 58-59 to 15 ``dedup`` jobs,
      and the wall median from 18.75 to 15.46 s (10 interleaved
      parent/change pairs, seeds 31-40, faster in 9).
      ``cap = util.broadcast_row_cap(spark, 16)``: the session's
      ``spark.sql.autoBroadcastJoinThreshold`` at 16 B per edge row
      (655,360 rows at Spark's 10 MB default, which ``get_session``
      keeps; 6,553,600 under the ``batch-100tb`` preset's 100 MB;
      ``-1`` turns the driver finish off). A graph that size is
      threshold-sized, so it needs no more driver memory than any
      broadcast join (see ``broadcast_row_cap``).
    - Distributed loop (larger graphs — the 100 TB path). Each round is
      one join + one aggregate, both key-partitioned, with the state
      pinned per probe cycle.

    ``hops_per_probe`` batches that many propagation hops into ONE
    materialization + convergence probe: the fixpoint labels are
    identical (hops past convergence are no-ops under HashMin), but
    each checkpoint+probe pays a fixed job cost, so halving their
    count wins when the graph is deep enough to use the extra hop.
    Round-5 interleaved A/B at sf0.1 with a fixed hops=2 (min-of-3,
    query level): semantic keep-list (977 nodes, ~8 rounds at hops=1)
    7.45 -> 6.31 s; ngram dedup_clusters (shallow graph, ~3 rounds)
    2.89 -> 3.16 s — the wasted post-convergence hop taxed every
    shallow corpus ~9%.

    Default ``"auto"`` (VERDICT r05 'wrong' #2 — adaptive instead of
    a fixed tax on one cohort): the first two probe cycles run 1 hop
    each — exactly the hops=1 schedule, so a shallow graph that
    converges within two probes never pays for batching — and any
    graph still changing after two probes is depth-dominated, where
    every later cycle runs 2 hops (the measured deep-graph win).
    Convergence is additionally detected from the LAST hop of a batch
    only (not an OR over the batch): HashMin is a deterministic
    monotone function of the label state, so one full hop with zero
    changes IS the fixpoint even mid-batch — this exits one probe
    earlier whenever convergence lands on a batch's first hop.
    Round-6 interleaved A/B at sf0.1 (same-session, order-alternated
    min-of-4, query level): shallow dedup_clusters auto 2.03 s vs
    fixed-1 2.07 vs fixed-2 2.20 (the r05 tax refunded); deep
    semantic_dedup_keeplist auto 6.41 vs fixed-2 6.36 vs fixed-1
    6.73 — auto matches the best fixed setting on BOTH home graphs
    (the residual deltas are inside this box's noise band). Pass an
    int to pin a fixed schedule. At 100 TB a
    probe is a driver round-trip + a full label-relation
    materialization, so the same trade holds with bigger constants.
    The driver finish replays the same schedule, so ``max_iter`` and
    ``hops_per_probe`` mean the same on both paths.

    Loop shuffles stay at the session's ``shuffle.partitions`` with AQE
    coalescing. Hash-repartitioning every loop relation to a target
    derived from the edge count measured 1.43x SLOWER (3.1 vs 2.2 s,
    same-session interleaved min-of-3 at sf0.1; the knob and its A/B
    script are in commit cc93b37): the pinned repartitions defeat AQE's
    runtime coalesce and add an exchange per round.

    Input: undirected edge list. Output: (doc_id, component_id) for
    every node appearing in a pair; component_id = min doc_id of the
    component — the canonical "keep this one" representative.

    Fault-tolerance note: iteration state is pinned with localCheckpoint
    (fast, executor-local) by default — UNRECOVERABLE on executor loss.
    Pass ``checkpoint_dir`` to pin with a reliable ``.checkpoint()``
    instead (one FS write+read per probe cycle) so a multi-hour run on
    a preemptible fleet survives losing an executor at iteration 30;
    labels are bit-identical either way (``util.iteration_pin``,
    VERDICT r15 item 3). The edge relation is pinned the same way on
    both paths.
    """
    from etl_fuel_priceguide_ec2_spark.operators.util import (
        broadcast_row_cap,
        iteration_pin,
    )

    pin = iteration_pin(checkpoint_dir)
    edges = pin(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize once: every iteration joins against edges, and an
        # unmaterialized lineage would re-run the upstream pair-mining
        # (the expensive SSJoin/LSH) each round
    )
    if hops_per_probe != "auto" and hops_per_probe < 1:
        raise ValueError(f"hops_per_probe must be >= 1 or 'auto', got {hops_per_probe}")

    # NOT broadcast-hinted, unlike pagerank/hits (r17 A/B, commit
    # 298e2f0): broadcasting the node-sized label side
    # of the hop joins measured FLAT on the deep embedding graph
    # (semantic keep-list 5.19 -> 4.89 min-of-4 at 32 cores, dead even
    # at 8) and ~8% WORSE on the shallow ngram graph at 8 cores
    # (2.69 -> 2.92) — the per-call edge-count gate job plus one
    # broadcast build per probe cycle eat the saved exchanges because
    # CC pins (and therefore re-materializes) the labels every cycle
    # anyway, unlike pagerank's lazy chain where the broadcast replaces
    # a real per-iteration shuffle of the edge relation.

    def _hop(work: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(work, edges.dst == work.node)
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        new_min = F.least(
            F.col("component_id"),
            F.coalesce(F.col("nbr_min"), F.col("component_id")),
        )
        return (
            work.join(neighbor_min, work.node == neighbor_min.src, "left")
            .select(
                "node",
                new_min.alias("component_id"),
                (new_min != F.col("component_id")).alias("_lastch"),
            )
        )

    if max_iter < 1:
        # degenerate caller: the pre-loop state (every node its own label)
        return (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("component_id"))
            .select(F.col("node").alias("doc_id"), "component_id")
        )
    id_type = edges.schema["src"].dataType
    cap = broadcast_row_cap(edges.sparkSession, _CC_EDGE_ROW_BYTES)
    if cap and id_type in _CC_DRIVER_ID_TYPES:
        small = edges.limit(cap + 1).toArrow()
        if small.num_rows <= cap and not any(c.null_count for c in small.columns):
            return _hashmin_on_driver(
                edges.sparkSession, small, id_type, max_iter, hops_per_probe
            )
    labels = None
    for it in range(max_iter):
        hops = _cycle_hops(it, hops_per_probe)
        # batch `hops` propagation hops, keeping the LAST hop's change
        # flag (monotone HashMin: one full no-change hop IS the
        # fixpoint, even mid-batch), then checkpoint ONCE (truncates
        # lineage, materializes the batched rounds exactly once) and
        # probe convergence against the materialized result — the probe
        # is a near-free local filter, not a recomputation
        if labels is None:
            # Hop 1 fused into label init (r16 optimization): with
            # labels(v) = v, the first HashMin hop's join against the
            # label relation is the identity mapping, so
            # min_{u->v} label(u) is just MIN(dst) GROUPed BY src over
            # the (doubled, so every node appears as src) edge
            # relation. One map-side-combined aggregate replaces the
            # node-set distinct + the hop's two joins — round 1 always
            # runs, so every CC caller saves those two shuffles.
            # nbr_min is never NULL (each src row has a dst), and the
            # change flag is exactly "some neighbor is smaller".
            work = edges.groupBy(F.col("src").alias("node")).agg(
                F.min("dst").alias("_nm")
            ).select(
                "node",
                F.least(F.col("node"), F.col("_nm")).alias("component_id"),
                (F.col("_nm") < F.col("node")).alias("_lastch"),
            )
            for _ in range(hops - 1):
                work = _hop(work)
        else:
            work = labels.withColumn("_lastch", F.lit(True))
            for _ in range(hops):
                work = _hop(work)
        work = pin(work)
        changed = work.filter(F.col("_lastch")).limit(1).count()
        labels = work.drop("_lastch")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "component_id")


# ---------------------------------------------------------------------------
# X2: exact-substring dedup — cross-document duplicated spans
# ---------------------------------------------------------------------------

_WS_RE = r"\s+"


def _positional_kgrams(
    df: DataFrame, id_col: str, text_col: str, k: int, hash: str = "xxhash64"
) -> DataFrame:
    """(id, pos, _h): every word k-gram with its 1-based token start
    position; _h is the gram hash (join key — 8 bytes in the shuffle,
    never the gram string). Docs shorter than k tokens emit nothing.
    sequence() is guarded against its descending-step trap
    (sequence(1, 0) yields [1, 0], not empty).

    ``hash``: "xxhash64" (default — fastest; fine whenever the hash is
    only an internal join key, as in span mining, whose oracle joins
    on gram strings) or "md5" (the engine-portable 60-bit draw — the
    only valid choice when hash VALUES surface in results, e.g.
    winnowing fingerprints, whose min-selection the oracle must
    replay)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS_RE)
    n = F.size(toks)
    seq = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k) + 1)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.concat_ws(" ", F.expr(f"slice(_toks, pos, {k})"))
    if hash == "xxhash64":
        h = F.xxhash64(gram)
    elif hash == "md5":
        h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash {hash!r}")
    return (
        fan_out(df)
        .select(F.col(id_col), toks.alias("_toks"), F.explode(seq).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("pos"),
            h.alias("_h"),
        )
    )


def _check_pinned_cap(op: str, max_gram_freq, checkpoint_dir) -> None:
    # the span miners pin only the frequency-capped gram relation, so an
    # uncapped call has nothing for checkpoint_dir to apply to
    if checkpoint_dir is not None and max_gram_freq is None:
        raise ValueError(
            f"{op}: checkpoint_dir is ignored with max_gram_freq=None "
            "(only the capped path pins)"
        )


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span_tokens: int = 30,
    max_gram_freq: int | None = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cross-document EXACT duplicated spans >= ``min_span_tokens``
    tokens — the suffix-array/dup-span dedup family (boilerplate and
    verbatim-quote removal; Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better") in a sorted-k-gram run
    formulation the DataFrame API expresses directly. None of the
    document-LEVEL near-dup ops (MinHash, SimHash, shingle Jaccard)
    catch two documents that differ overall but share one long quote —
    this is the operator that does.

    Output: (doc_a, doc_b, a_start, b_start, span_tokens), one row per
    MAXIMAL shared span (doc_a < doc_b; starts are 1-based token
    positions; a span of S tokens is reported once, not as its nested
    sub-spans).

    How: a shared S-token span appears as exactly S-k+1 CONSECUTIVE
    matched k-gram start positions on one (doc_a, doc_b, pa-pb)
    diagonal, so: positional k-grams -> equi-join on the 8-byte gram
    hash (doc_a < doc_b) -> per-diagonal islands (pa minus its
    row_number is constant within a consecutive run) -> one aggregate
    per island; span_tokens = run + k - 1.

    Never all-pairs, thresholded like LSH: ``max_gram_freq`` drops
    grams occurring more than that many times across the corpus BEFORE
    the self-join — a gram in f positions contributes O(f^2) candidate
    rows, and ubiquitous boilerplate grams are exactly the ones that
    would otherwise dominate the join (report what was dropped with
    ``overfrequent_grams``). A dropped gram can split a span through
    heavy boilerplate into two reported spans — the standard,
    documented trade.

    100 TB plan: the gram shuffle carries (id, pos, 8-byte hash); the
    islands window and the run aggregate share the SAME
    (doc_a, doc_b, diag) partitioning, so detection after the join is
    one exchange. Window partitions are per-(pair, diagonal) — small by
    construction, no skew pileup.

    ``checkpoint_dir`` makes the pin of the capped gram relation a
    reliable ``.checkpoint()``; only the capped path pins, so it raises
    ``ValueError`` with ``max_gram_freq=None``."""
    _check_pinned_cap("exact_substring_spans", max_gram_freq, checkpoint_dir)
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_span_tokens < k:
        raise ValueError(
            f"min_span_tokens ({min_span_tokens}) must be >= k ({k}): "
            "spans shorter than one gram are undetectable"
        )
    grams = _positional_kgrams(df, id_col, text_col, k)
    if max_gram_freq is not None:
        keep = (
            grams.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_gram_freq)
            .select("_h")
        )
        # Pin the freq-capped gram relation ONCE (r16 optimization): the
        # self-join consumes it twice and the cap aggregate is a third
        # pass over the same tokenize+explode chain (before-plan: 26
        # Exchanges). Unlike the ngram-jaccard prefix pin (rejected —
        # cheap fused recompute, concurrent subtrees), this chain pays a
        # full explode + cap-join per copy: A/B 3.730 -> 2.963 s
        # min-of-4 at sf0.1 with identical output
        # (tools/ab_round16_ess.py). At scale this capped-gram relation
        # is the persistable suffix-index state. The pin routes through
        # util.iteration_pin (VERDICT r16 item 4): default = eager
        # localCheckpoint; ``checkpoint_dir=`` = reliable .checkpoint()
        # (executor-loss survivable — the pinned relation is O(corpus
        # token positions) of executor storage, SCALE.md).
        from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

        grams = iteration_pin(checkpoint_dir)(grams.join(keep, "_h"))
    a = grams.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "_h"
    )
    b = grams.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "_h"
    )
    m = a.join(b, "_h").filter(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.select("doc_a", "doc_b", diag, "pa")
        .withColumn("_grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "_grp")
        .agg(F.min("pa").alias("a_start"), F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.filter(F.col("_run") + k - 1 >= min_span_tokens)
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("_run") + F.lit(k) - 1).cast("long").alias("span_tokens"),
        )
    )


def overfrequent_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_gram_freq: int = 64,
) -> DataFrame:
    """The exclusion report for ``exact_substring_spans``: ONE row
    (n_grams_dropped, max_gram_freq_seen) — what the frequency
    threshold excluded from span detection, so a capped run states its
    coverage instead of silently truncating it."""
    freqs = (
        _positional_kgrams(df, id_col, text_col, k)
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    return freqs.agg(
        F.coalesce(
            F.sum((F.col("_f") > max_gram_freq).cast("long")), F.lit(0)
        ).alias("n_grams_dropped"),
        F.coalesce(F.max("_f"), F.lit(0)).alias("max_gram_freq_seen"),
    )


def exact_substring_oracle_sql(
    corpus_sql: str,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span_tokens: int = 30,
    max_gram_freq: int | None = 64,
) -> str:
    """DuckDB replay of ``exact_substring_spans``: same tokenization,
    same frequency cap, same diagonal-islands run detection — joined on
    gram STRINGS (the Spark side's xxhash64 is an internal 8-byte join
    key; at 64 bits a collision that fabricates >= min_span-k+1
    consecutive phantom matches is beyond astronomically unlikely)."""
    cap = (
        f"""
    , gf AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= {max_gram_freq})
    , gk AS (SELECT grams.* FROM grams JOIN gf USING (g))"""
        if max_gram_freq is not None
        else "\n    , gk AS (SELECT * FROM grams)"
    )
    return f"""
    WITH tok AS (
      SELECT {id_col} AS id,
             string_split_regex(lower(trim({text_col})), '\\s+') AS toks
      FROM ({corpus_sql})
    ), grams AS (
      SELECT id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(toks, CAST(i AS INT),
                                        CAST(i AS INT) + {k} - 1), ' ') AS g
      FROM (
        SELECT id, toks,
               UNNEST(range(1, greatest(len(toks) - {k} + 1, 0) + 1)) AS i
        FROM tok
      )
    ){cap}
    , m AS (
      SELECT a.id AS doc_a, b.id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM gk a JOIN gk b ON a.g = b.g AND a.id < b.id
    ), r AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
      FROM m
    ), s AS (
      SELECT doc_a, doc_b, diag,
             MIN(pa) AS a_start, CAST(COUNT(*) AS BIGINT) AS run
      FROM r GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b, a_start, a_start - diag AS b_start,
           CAST(run + {k} - 1 AS BIGINT) AS span_tokens
    FROM s WHERE run + {k} - 1 >= {min_span_tokens}
"""


def duplicated_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span_tokens: int = 30,
    max_gram_freq: int | None = 64,
    drop_threshold: float = 0.5,
) -> DataFrame:
    """The keep-list form of exact-substring dedup: per document, the
    fraction of its tokens covered by ANY cross-document shared span
    >= ``min_span_tokens`` (union of intervals, overlaps counted
    once), and the drop decision at ``drop_threshold``. Output:
    (id, n_tokens, covered_tokens, dup_frac, drop) for EVERY document.

    This is the production gate the span relation exists to feed:
    "drop documents that are mostly duplicated text" (the C4/RefinedWeb
    boilerplate rule, Lee et al. 2022 §4) — doc-level, so it composes
    with the other curation gates by a plain join on id.

    Interval union without a self-join: per doc, sort spans by start
    and subtract each interval's overlap with the running MAX of
    previous ends (one window + one aggregate, both on the id
    partitioning — a second exchange only for the tiny spans relation,
    never the corpus)."""
    spans = exact_substring_spans(
        df, id_col, text_col, k, min_span_tokens, max_gram_freq
    )
    iv = spans.select(
        F.col("doc_a").alias("_id"),
        F.col("a_start").alias("_s"),
        (F.col("a_start") + F.col("span_tokens") - 1).alias("_e"),
    ).unionAll(
        spans.select(
            F.col("doc_b").alias("_id"),
            F.col("b_start").alias("_s"),
            (F.col("b_start") + F.col("span_tokens") - 1).alias("_e"),
        )
    )
    w = (
        Window.partitionBy("_id")
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.col("_e")
        - F.greatest(F.coalesce(F.max("_e").over(w), F.lit(0)), F.col("_s") - 1),
        F.lit(0),
    )
    cov = (
        iv.withColumn("_c", contrib)
        .groupBy("_id")
        .agg(F.sum("_c").alias("covered_tokens"))
    )
    toks = df.select(
        F.col(id_col),
        F.size(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), _WS_RE),
                lambda t: t != "",
            )
        ).cast("long").alias("n_tokens"),
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.round(
            F.col("covered_tokens").cast("double") / F.col("n_tokens").cast("double"),
            9,
        ),
    ).otherwise(F.lit(0.0))
    return (
        toks.join(cov, toks[id_col] == cov["_id"], "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0).cast("long")).alias(
                "covered_tokens"
            ),
            F.coalesce(frac, F.lit(0.0)).alias("dup_frac"),
            (F.coalesce(frac, F.lit(0.0)) >= F.lit(drop_threshold)).alias("drop"),
        )
    )


def span_coverage_oracle_sql(
    corpus_sql: str,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_span_tokens: int = 30,
    max_gram_freq: int | None = 64,
    drop_threshold: float = 0.5,
) -> str:
    """DuckDB replay of ``duplicated_span_coverage`` (same spans CTE,
    same running-max interval union, same single rounded division)."""
    spans = exact_substring_oracle_sql(
        corpus_sql, id_col, text_col, k, min_span_tokens, max_gram_freq
    )
    return f"""
    WITH spans AS ({spans}),
    iv AS (
      SELECT doc_a AS id, a_start AS s, a_start + span_tokens - 1 AS e FROM spans
      UNION ALL
      SELECT doc_b AS id, b_start AS s, b_start + span_tokens - 1 AS e FROM spans
    ), contrib AS (
      SELECT id,
             greatest(e - greatest(COALESCE(MAX(e) OVER (
               PARTITION BY id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), s - 1), 0)
               AS c
      FROM iv
    ), cov AS (
      SELECT id, CAST(SUM(c) AS BIGINT) AS covered_tokens FROM contrib GROUP BY id
    ), toks AS (
      SELECT {id_col} AS id,
             CAST(len(list_filter(
               string_split_regex(lower(trim({text_col})), '\\s+'),
               t -> t <> '')) AS BIGINT) AS n_tokens
      FROM ({corpus_sql})
    )
    SELECT toks.id AS {id_col}, toks.n_tokens,
           COALESCE(cov.covered_tokens, CAST(0 AS BIGINT)) AS covered_tokens,
           CASE WHEN toks.n_tokens > 0 THEN
             COALESCE(ROUND(CAST(cov.covered_tokens AS DOUBLE)
                            / CAST(toks.n_tokens AS DOUBLE), 9), 0.0)
           ELSE 0.0 END AS dup_frac,
           CASE WHEN toks.n_tokens > 0 THEN
             COALESCE(ROUND(CAST(cov.covered_tokens AS DOUBLE)
                            / CAST(toks.n_tokens AS DOUBLE), 9), 0.0)
           ELSE 0.0 END >= {drop_threshold!r} AS drop
    FROM toks LEFT JOIN cov ON cov.id = toks.id
"""


def positional_gram_state(
    df: DataFrame, id_col: str, text_col: str, k: int = 8,
    hash: str = "xxhash64",
) -> DataFrame:
    """The persistable exact-substring state relation: (id, pos, _h) —
    one row per positional k-gram, 8-byte hashes, no text. Slices
    union by plain concat (ids are disjoint across slices), exactly
    like the LSH band-bucket state: persist at ingest, mine later
    without re-tokenizing history. Build with hash="md5" if the state
    must also serve winnowing fingerprints (whose selected hash VALUES
    must replay engine-portably)."""
    return _positional_kgrams(df, id_col, text_col, k, hash)


def exact_substring_spans_incremental(
    history_grams: DataFrame,
    new_grams: DataFrame,
    k: int = 8,
    min_span_tokens: int = 30,
    max_gram_freq: int | None = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Daily-ingest exact-substring dedup: all maximal shared spans
    involving AT LEAST ONE new document, mined from the persisted
    positional-gram state WITHOUT re-joining history x history — the
    structural 100 TB win (yesterday's corpus never re-pairs with
    itself; candidate volume is new x all, not all x all). Same output
    schema as ``exact_substring_spans``.

    Reconstruction identity (tested): prior-run spans UNION this
    relation == from-scratch spans over the union corpus, with zero
    overlap — EXACT when ``max_gram_freq`` is None; with a cap it
    holds unless a gram's corpus-wide frequency crosses the cap
    between runs (the inherent caveat of any frequency-thresholded
    incremental miner — the gram was cheap yesterday, the union made
    it boilerplate today).

    Both inputs are (id, pos, _h) state relations from
    ``positional_gram_state``; ids must be disjoint. ``checkpoint_dir``
    is as in ``exact_substring_spans`` (raises with
    ``max_gram_freq=None``)."""
    _check_pinned_cap("exact_substring_spans_incremental", max_gram_freq, checkpoint_dir)
    allg = history_grams.select(
        F.col(history_grams.columns[0]).alias("_oid"),
        F.col("pos").alias("_opos"),
        "_h",
        F.lit(False).alias("_onew"),
    ).unionAll(
        new_grams.select(
            F.col(new_grams.columns[0]).alias("_oid"),
            F.col("pos").alias("_opos"),
            "_h",
            F.lit(True).alias("_onew"),
        )
    )
    if max_gram_freq is not None:
        # cap frequencies over the UNION corpus — matching what a
        # from-scratch run over (history + new) would compute
        keep = (
            allg.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_gram_freq)
            .select("_h")
        )
        # Pin the freq-capped union relation ONCE (r16 optimization, the
        # exact_substring_spans lesson): it is consumed by the new-side
        # filter AND the join's all side, and the cap aggregate is a
        # third pass over the state construction. A/B 4.546 -> 3.082 s
        # min-of-4 at sf0.1, identical output
        # (tools/ab_round16_essinc.py). Routed through iteration_pin
        # (VERDICT r16 item 4): ``checkpoint_dir=`` makes the pin an
        # executor-loss-survivable reliable checkpoint; the relation is
        # O(union-corpus token positions) of pin storage (SCALE.md).
        from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

        allg = iteration_pin(checkpoint_dir)(allg.join(keep, "_h"))
    n = allg.filter(F.col("_onew")).select(
        F.col("_oid").alias("_nid"), F.col("_opos").alias("_npos"), "_h"
    )
    # new x all; both-new pairs would appear twice, so keep the
    # (new < other) orientation when the other side is new too
    m = (
        n.join(allg, "_h")
        .filter(
            (F.col("_nid") != F.col("_oid"))
            & (~F.col("_onew") | (F.col("_nid") < F.col("_oid")))
        )
        .select(
            F.least("_nid", "_oid").alias("doc_a"),
            F.greatest("_nid", "_oid").alias("doc_b"),
            F.when(F.col("_nid") < F.col("_oid"), F.col("_npos"))
            .otherwise(F.col("_opos"))
            .alias("pa"),
            F.when(F.col("_nid") < F.col("_oid"), F.col("_opos"))
            .otherwise(F.col("_npos"))
            .alias("pb"),
        )
    )
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.select("doc_a", "doc_b", diag, "pa")
        .withColumn("_grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "_grp")
        .agg(F.min("pa").alias("a_start"), F.count(F.lit(1)).alias("_run"))
    )
    return (
        runs.filter(F.col("_run") + k - 1 >= min_span_tokens)
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("_run") + F.lit(k) - 1).cast("long").alias("span_tokens"),
        )
    )


def phrase_occurrences(
    corpus_grams: DataFrame,
    phrases: DataFrame,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
    k: int = 8,
) -> DataFrame:
    """EXACT phrase localization over the positional-gram state: every
    (phrase, doc, start position) where the phrase occurs verbatim —
    the contamination PINPOINTER (``contamination_check`` says which
    doc pairs overlap; this says exactly where an eval question lives
    in the corpus, feeding surgical span removal instead of doc
    drops). Output: (phrase_id, id, start_pos).

    A phrase of m >= k tokens occurs at position p iff ALL its
    m-k+1 positional k-grams match at the aligned offsets — so: the
    phrase side explodes into (phrase_id, offset, hash) and
    BROADCASTS (eval sets are small by definition), the corpus state
    is probed by one hash join, and a (phrase, doc, p - offset)
    aggregate checks the full gram count. The corpus is never
    re-tokenized (same state relation as the span miner and the
    streaming store) and never shuffled by text.

    Phrases shorter than k tokens emit no grams and therefore no
    occurrences (the same floor as min_span_tokens >= k); the k here
    must equal the k the state was built with."""
    pid = F.col(phrase_id_col)
    pg = _positional_kgrams(phrases, phrase_id_col, phrase_col, k).select(
        pid.alias("_pid"),
        (F.col("pos") - 1).alias("_off"),
        "_h",
    )
    n_grams = pg.groupBy("_pid").agg(F.count(F.lit(1)).alias("_ng"))
    pgb = pg.join(n_grams, "_pid")
    id_col = corpus_grams.columns[0]
    m = corpus_grams.join(F.broadcast(pgb), "_h").select(
        F.col("_pid"),
        F.col(id_col),
        (F.col("pos") - F.col("_off")).alias("start_pos"),
        "_ng",
    )
    return (
        m.groupBy("_pid", id_col, "start_pos", "_ng")
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == F.col("_ng"))
        .select(
            F.col("_pid").alias(phrase_id_col),
            F.col(id_col),
            "start_pos",
        )
    )


def phrase_occurrences_oracle_sql(
    corpus_sql: str,
    phrases_sql: str,
    id_col: str,
    text_col: str,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
    k: int = 8,
) -> str:
    """DuckDB replay of ``phrase_occurrences`` (gram strings as the
    join key, same aligned-offset full-count check)."""
    grams = (
        lambda src, idc, txt: f"""
      SELECT {idc} AS id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(toks, CAST(i AS INT),
                                        CAST(i AS INT) + {k} - 1), ' ') AS g
      FROM (
        SELECT {idc}, string_split_regex(lower(trim({txt})), '\\s+') AS toks
        FROM ({src})
      ), LATERAL (
        SELECT UNNEST(range(1, greatest(len(toks) - {k} + 1, 0) + 1)) AS i
      ) _r"""
    )
    return f"""
    WITH cg AS ({grams(corpus_sql, id_col, text_col)}),
    pg0 AS ({grams(phrases_sql, phrase_id_col, phrase_col)}),
    pg AS (
      SELECT id AS pid, pos - 1 AS off, g FROM pg0
    ), ng AS (
      SELECT pid, CAST(COUNT(*) AS BIGINT) AS n FROM pg GROUP BY pid
    ), m AS (
      SELECT pg.pid, cg.id, cg.pos - pg.off AS start_pos, ng.n
      FROM cg JOIN pg USING (g) JOIN ng ON ng.pid = pg.pid
    )
    SELECT pid AS {phrase_id_col}, id AS {id_col}, start_pos
    FROM m GROUP BY pid, id, start_pos, n
    HAVING COUNT(*) = n
"""


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    span_id_col: str,
    start_col: str = "start_pos",
    len_col: str = "span_tokens",
) -> DataFrame:
    """Surgical span removal — the excision step the span miner and
    phrase pinpointer feed: rewrite each document with the flagged
    token ranges removed (the alternative to dropping a document that
    is only PARTLY duplicated — keep the original prose, cut the
    boilerplate/quote). Output: (id, clean_text, n_tokens_removed),
    one row per INPUT document (span-free docs pass through verbatim,
    with the same lowercased/whitespace-normalized tokenization as the
    miner so removal offsets line up).

    ``spans``: (span_id_col, start_col, len_col) token ranges,
    1-based, possibly overlapping (the union is removed once).

    Plan: ranges explode into (id, pos) covered rows — output volume
    is total flagged tokens, not corpus tokens; the corpus explodes to
    (id, pos, token) once and anti-joins covered; one ordered
    aggregate rebuilds the text. Shuffles are keyed by id; text rides
    only the final rebuild."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), _WS_RE),
                lambda t: t != "",
            )
        ).alias("_p0", "_tok"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_tok")
    covered = spans.select(
        F.col(span_id_col).alias(id_col),
        F.explode(
            F.sequence(
                F.col(start_col), F.col(start_col) + F.col(len_col) - 1
            )
        ).alias("pos"),
    ).distinct()
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_tok"))),
                lambda x: x._tok,
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_nkept"),
    )
    # totals come from the input relation, not the token explode, so
    # token-less documents still get their output row
    totals = df.select(
        F.col(id_col),
        F.size(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), _WS_RE),
                lambda t: t != "",
            )
        ).cast("long").alias("_ntot"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_ntot") - F.coalesce(F.col("_nkept"), F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def winnow_fingerprints(
    corpus_grams: DataFrame, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm) over the positional-gram state:
    in every sliding window of ``w`` consecutive k-gram hashes, select
    the minimum; the doc's fingerprint is the distinct selected
    values. Output: (id, fp) distinct.

    The guarantee that makes it an INDEX rather than a sample: any
    shared substring of >= w + k - 1 tokens shares at least one
    selected fingerprint (every length-w window of its grams is fully
    inside the match on both sides, and a window's min is always
    selected). Expected density 2/(w+1), so the index is ~2/(w+1) the
    size of the full gram relation — the storage/recall knob the full
    positional index doesn't have. One window + one distinct, both on
    the id partitioning."""
    if w < 1:
        raise ValueError(f"window w must be >= 1, got {w}")
    id_col = corpus_grams.columns[0]
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    return (
        corpus_grams.select(
            F.col(id_col),
            F.col("pos"),
            F.min("_h").over(win).alias("fp"),
        )
        # only windows with the full w grams select (pos starts at 1)
        .filter(F.col("pos") >= w)
        .select(id_col, "fp")
        .distinct()
    )


def fingerprint_candidates(
    fps: DataFrame, min_shared: int = 2, max_fp_freq: int | None = 64
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints —
    the MOSS match step: self-join the fingerprint index, count shared
    values per pair, keep pairs with >= ``min_shared``. Output:
    (doc_a, doc_b, n_shared) with doc_a < doc_b.

    ``max_fp_freq`` drops fingerprints present in more than that many
    documents before the self-join (a fingerprint in f docs costs
    O(f^2) pair rows — ubiquitous boilerplate again), the same
    count-prefilter as the gram join and LSH buckets."""
    id_col = fps.columns[0]
    fp = fps
    if max_fp_freq is not None:
        keep = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") <= max_fp_freq)
            .select("fp")
        )
        fp = fp.join(keep, "fp")
    a = fp.select(F.col(id_col).alias("doc_a"), "fp")
    b = fp.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_candidates_oracle_sql(
    corpus_sql: str,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 64,
) -> str:
    """DuckDB replay of ``winnow_fingerprints`` +
    ``fingerprint_candidates`` — possible precisely because the
    fingerprints are md5-60bit values both engines compute
    identically (the min-selection is over the same numbers)."""
    cap = (
        f"""
    , kept AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {max_fp_freq})
    , f2 AS (SELECT fps.id, fps.fp FROM fps JOIN kept USING (fp))"""
        if max_fp_freq is not None
        else "\n    , f2 AS (SELECT * FROM fps)"
    )
    return f"""
    WITH tok AS (
      SELECT {id_col} AS id,
             string_split_regex(lower(trim({text_col})), '\\s+') AS toks
      FROM ({corpus_sql})
    ), grams AS (
      SELECT id, CAST(i AS BIGINT) AS pos,
             CAST('0x' || substring(md5(
               array_to_string(list_slice(toks, CAST(i AS INT),
                                          CAST(i AS INT) + {k} - 1), ' ')
             ), 1, 15) AS BIGINT) AS h
      FROM (
        SELECT id, toks,
               UNNEST(range(1, greatest(len(toks) - {k} + 1, 0) + 1)) AS i
        FROM tok
      )
    ), fp0 AS (
      SELECT id, pos,
             MIN(h) OVER (PARTITION BY id ORDER BY pos
                          ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS fp
      FROM grams
    ), fps AS (
      SELECT DISTINCT id, fp FROM fp0 WHERE pos >= {w}
    ){cap}
    SELECT a.id AS doc_a, b.id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING COUNT(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# X2d — asymmetric containment join (near-superset / quote-inclusion)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = False,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """X2d: DIRECTED containment pairs by word n-gram shingles —
    C(A, B) = |A ∩ B| / |A| >= threshold, emitted as
    (id_a, id_b, size_a, size_b, containment) meaning "A is (mostly)
    contained in B". The asymmetric complement to Jaccard near-dup
    (`ngram_jaccard_pairs`): a short document quoted whole inside a much
    longer one scores containment ~1.0 while its Jaccard is ~|A|/|B| —
    invisible to any symmetric threshold. The training-data use is
    anthology/aggregator pages and quote-inclusion: drop (or down-weight)
    the contained copy, keep the container.

    Both directions are emitted independently when both pass (two docs of
    similar size that overlap heavily yield two rows) — callers that want
    an undirected relation filter id_a < id_b after the fact.

    Scale shape (100 TB): identical skeleton to the SSJoin — shingles are
    8-byte xxhash64 keys (strings never shuffle); the one-sided length
    prune |B| >= t·|A| (containment >= t forces |A∩B| >= t|A| and
    |A∩B| <= |B|) drops candidate rows BEFORE the count aggregate. Unlike
    Jaccard there is no upper size bound — supersets are the point — so
    on boilerplate-skewed corpora use ``prefix_filter=True``: order each
    probe set rare-shingle-first by global document frequency and index
    only its first |A| - ceil(t·|A|) + 1 shingles (if none of those hit
    B, fewer than t·|A| of A's shingles can be in B — pigeonhole), while
    the candidate-container side stays fully indexed. Recall is exactly
    1.0; hot shingles sort into probe suffixes and never drive the join.
    Candidates are then verified with exact intersection on the full
    hashed arrays.
    """
    # ``shingle_sets``: a precomputed ``_shingle_array`` relation shared
    # with other miners (see ngram_jaccard_pairs) — only the cheap
    # hash transform runs here, not a second corpus tokenization.
    sets = (
        shingle_sets.select(
            F.col(id_col),
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("shingles"),
        )
        if shingle_sets is not None
        else hashed_shingle_sets(df, id_col, text_col, n)
    )
    need = F.ceil(F.lit(threshold) * F.col("size_a")).cast("long")
    if not prefix_filter:
        sh = sets.select(
            F.col(id_col), F.size("shingles").alias("set_size"), F.explode("shingles").alias("sh")
        )
        a = sh.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "sh")
        b = sh.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "sh")
        return (
            a.join(b, "sh")
            .filter(F.col("id_a") != F.col("id_b"))
            .filter(F.col("size_b") >= need)
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= need)
            .select(
                "id_a",
                "id_b",
                F.col("size_a").cast("long").alias("size_a"),
                F.col("size_b").cast("long").alias("size_b"),
                F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment"),
            )
        )

    # PPJoin-for-containment: probe side indexes only its rare-first
    # prefix; container side indexes everything (supersets can hold the
    # probe's rare shingles anywhere). Same df-ordering machinery as the
    # Jaccard prefix path.
    sh = sets.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            F.col(id_col),
            F.size("ord").alias("set_size"),
            F.slice(
                F.transform("ord", lambda x: x["shingle"]),
                1,
                (F.size("ord") - F.ceil(F.lit(threshold) * F.size("ord")) + 1).cast("int"),
            ).alias("prefix"),
        )
    )
    probe = ordered.select(
        F.col(id_col).alias("id_a"),
        F.col("set_size").alias("size_a"),
        F.explode("prefix").alias("sh"),
    )
    full = sh.select(F.col(id_col).alias("id_b"), F.col("shingle").alias("sh"))
    candidates = (
        probe.join(full, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("size_a", F.size("sh_a").cast("long"))
        .withColumn("size_b", F.size("sh_b").cast("long"))
        .filter(F.col("n_common") >= need)
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment"),
        )
    )


def _hash_sets(sets: DataFrame, id_col: str) -> DataFrame:
    return sets.select(
        F.col(id_col),
        F.array_distinct(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("shingles"),
    )


def ngram_jaccard_pairs_incremental(
    sets_hist: DataFrame,
    sets_new: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact SSJoin over persisted ``_shingle_array`` STATE relations —
    the daily-ingest form: emits every pair with Jaccard >= t that
    TOUCHES the new slice (new x history and new x new), while
    history x history candidates structurally never form. Shingle
    document frequencies and prefix orderings are computed over the
    UNION state, so the emitted pairs are exactly the from-scratch
    relation restricted to pairs touching new (recall 1.0 by the same
    PPJoin pigeonhole — any total df order shared by all docs
    satisfies the prefix theorem). Text is never re-tokenized: both
    inputs come straight off the persisted state store.

    Upsert semantics: a doc id present in BOTH inputs is an update —
    its history-state row is dropped and the new version wins. Without
    the anti-join, groupBy(id) over the union would merge the two
    versions into one inflated shingle set, silently corrupting sizes,
    prefixes, and emitted pairs (ADVICE r09)."""
    sets_hist = sets_hist.join(sets_new.select(id_col), id_col, "left_anti")
    sets_all = sets_hist.unionByName(sets_new)
    hall = _hash_sets(sets_all, id_col)
    sh = hall.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            F.col(id_col),
            F.size("ord").alias("set_size"),
            F.slice(
                F.transform("ord", lambda x: x["shingle"]),
                1,
                (F.size("ord") - F.ceil(F.lit(threshold) * F.size("ord")) + 1).cast("int"),
            ).alias("prefix"),
        )
    )
    pre_all = ordered.select(
        F.col(id_col), "set_size", F.explode("prefix").alias("shingle")
    )
    pre_new = pre_all.join(
        sets_new.select(id_col), id_col, "left_semi"
    )
    candidates = (
        pre_new.select(
            F.col(id_col).alias("_n"), F.col("set_size").alias("_sn"), "shingle"
        )
        .join(
            pre_all.select(
                F.col(id_col).alias("_o"), F.col("set_size").alias("_so"), "shingle"
            ),
            "shingle",
        )
        .filter(F.col("_n") != F.col("_o"))
        .filter(
            F.least("_sn", "_so") >= F.lit(threshold) * F.greatest("_sn", "_so")
        )
        .select(
            F.least("_n", "_o").alias("id_a"),
            F.greatest("_n", "_o").alias("id_b"),
        )
        .distinct()
    )
    sa = hall.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = hall.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs_incremental(
    sets_hist: DataFrame,
    sets_new: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Directed containment over persisted shingle STATE — every pair
    C(A, B) >= t where A or B is in the new slice: the new docs both
    as contained copies (new probing the full store) and as new
    CONTAINERS of history docs (history prefixes probing only the new
    slice's index). History x history never re-forms. Same
    prefix-for-containment blocking as ``containment_pairs``
    (probe-side rare-first prefix, container side fully indexed),
    recall exactly 1.0.

    Upsert semantics: ids present in both inputs are updates — the
    history version is anti-joined away so the new version wins
    instead of merging into one inflated set (ADVICE r09)."""
    sets_hist = sets_hist.join(sets_new.select(id_col), id_col, "left_anti")
    sets_all = sets_hist.unionByName(sets_new)
    hall = _hash_sets(sets_all, id_col)
    hnew = _hash_sets(sets_new, id_col)
    sh_all = hall.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    sh_new = hnew.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    freq = sh_all.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh_all.join(freq, "shingle")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            F.col(id_col),
            F.size("ord").alias("set_size"),
            F.slice(
                F.transform("ord", lambda x: x["shingle"]),
                1,
                (F.size("ord") - F.ceil(F.lit(threshold) * F.size("ord")) + 1).cast("int"),
            ).alias("prefix"),
        )
    )
    pre = ordered.select(F.col(id_col), F.explode("prefix").alias("shingle"))
    pre_new = pre.join(sets_new.select(id_col), id_col, "left_semi")
    pre_hist = pre.join(sets_new.select(id_col), id_col, "left_anti")
    cand_new_probe = pre_new.select(F.col(id_col).alias("id_a"), "shingle").join(
        sh_all.select(F.col(id_col).alias("id_b"), "shingle"), "shingle"
    )
    cand_hist_probe = pre_hist.select(F.col(id_col).alias("id_a"), "shingle").join(
        sh_new.select(F.col(id_col).alias("id_b"), "shingle"), "shingle"
    )
    candidates = (
        cand_new_probe.select("id_a", "id_b")
        .unionAll(cand_hist_probe.select("id_a", "id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    need = F.ceil(F.lit(threshold) * F.col("size_a")).cast("long")
    sa = hall.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = hall.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("size_a", F.size("sh_a").cast("long"))
        .withColumn("size_b", F.size("sh_b").cast("long"))
        .filter(F.col("n_common") >= need)
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment"),
        )
    )


def tfidf_topk_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.7,
    ngram: int = 1,
) -> DataFrame:
    """Weighted lexical near-dup pairs: cosine over each document's
    top-``k`` TF-IDF terms (the sparsified SSJoin between unweighted
    Jaccard and dense embedding cosine). Each doc keeps its k
    highest-weight terms (w = tf * smoothed-idf, deterministic ties on
    token asc — the ``tfidf_top_terms`` ranking), L2-normalizes over
    the kept weights, and pairs form ONLY through shared kept terms —
    an inverted-index join, never all-pairs.

    The sparsification IS the blocking: idf pushes corpus-wide
    stopwords out of every top-k (their weight is low for everyone),
    so kept-postings lists are short and candidate volume is
    sum over terms of df_k(term)^2 with df_k << df. At 100 TB add the
    standard hot-posting cap (drop terms still kept by > C docs from
    PAIRING — same knob as the LSH band cap); tokens travel as strings
    here for oracle parity, as 8-byte xxhash64 keys at scale.

    ``ngram``: term granularity — 1 = word unigrams, n>1 = word
    n-gram terms. On corpora whose WORD vocabulary is tiny relative to
    the corpus (boilerplate-heavy text; this repo's synthetic fixture:
    31 words across 5000 docs) unigram idf cannot evict anything —
    every posting list stays corpus-sized and Σ df_k² explodes
    (measured 22.2M candidates at sf0.1). Bigram terms restore the
    Heaps'-law vocabulary the blocking depends on (931 terms, 2.0M
    candidates, 11x less — SCALE.md §3).

    Emits (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold
    over the truncated-normalized vectors.
    """
    toks = _tokens_lower(df, id_col, text_col, ngram=ngram)
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "w",
            F.col("tf")
            * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + 1),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("w").desc(), F.col("token").asc()
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )
    # the k-term norm is also a cross-row sum — same 12 dp quantize +
    # DECIMAL accumulation so nw is identical cross-engine
    nrm = w.groupBy(id_col).agg(
        F.sqrt(
            F.sum(F.round(F.col("w") * F.col("w"), 12).cast("decimal(30,12)")).cast(
                "double"
            )
        ).alias("nn")
    )
    u = w.join(nrm, id_col).select(
        F.col(id_col), "token", (F.col("w") / F.col("nn")).alias("nw")
    )
    # Materialize the kept-terms relation ONCE before the self-join
    # (r16 optimization): u is consumed by BOTH join sides, and both
    # sides' subtrees each re-run the whole tf/df/window/norm pipeline
    # — and u itself embeds w twice (w ⋈ nrm(w)), so the token
    # aggregates were executing FOUR times per query (plan audit,
    # plans/r16/tfidf_cosine_pairs_before.txt: 12 parquet scans).
    # u is the SMALL decision relation (k rows per doc: id, token, nw)
    # — the guide's "decide with small rows" shape — so pinning it
    # costs one tiny materialization and removes 3 of the 4 pipeline
    # executions. Unlike the raw shingle relation (where recompute
    # measured 2x faster than caching), this subtree contains two
    # aggregates and a window — real shuffles, not fused map work.
    u = u.localCheckpoint(eager=True)
    a = u.select(F.col(id_col).alias("id_a"), "token", F.col("nw").alias("nw_a"))
    b = u.select(F.col(id_col).alias("id_b"), "token", F.col("nw").alias("nw_b"))
    # Per-term products quantize to integer 1e-12 microunits and
    # accumulate as LONG so the cosine — and the >= threshold cut on
    # it — is addition-order-free (exact integer sums), matching the
    # repo's cross-row-sum portability contract (ADVICE r09: a raw
    # double F.sum can diverge from the oracle on boundary values
    # under different partial-aggregation orders). LONG, not DECIMAL,
    # because this is the hot aggregate (millions of candidate rows)
    # and integer partial aggregation is ~1.5x cheaper end-to-end
    # (3.8 -> 2.4 s at sf0.1, min-of-3); overflow-safe because
    # |nw| <= 1 bounds each term by 1e12 and a pair shares at most k
    # terms. The doc-norm sum above keeps DECIMAL: its w^2 terms are
    # unbounded (tf-scaled), only k rows per doc feed it, and
    # 12dp-microunit longs could overflow there at scale.
    return (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("nw_a") * F.col("nw_b") * F.lit(1e12), 0
                    ).cast("long")
                )
                / F.lit(1e12)
            ).alias("_cos")
        )
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


def _tokens_lower(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 1
) -> DataFrame:
    """Explode lowercased whitespace terms; ``ngram`` > 1 emits word
    n-gram strings (space-joined over the empty-filtered token array,
    so the result is identical to n-gramming the clean token stream)."""
    arr = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    if ngram > 1:
        arr = F.when(
            F.size(arr) >= ngram,
            F.transform(
                F.sequence(F.lit(0), F.size(arr) - ngram),
                lambda i: F.concat_ws(" ", F.slice(arr, i + 1, ngram)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    return fan_out(df).select(
        F.col(id_col), F.explode(arr).alias("token")
    )
