"""Sinks (S4/S5), REST sources (S2/S3), and the composed EP1 pipeline."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark import sinks
from etl_fuel_priceguide_ec2_spark.plans import pipeline
from etl_fuel_priceguide_ec2_spark.sources import rest
from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table


def test_append_fact_partitioned_and_idempotent(spark, sf_dir, tmp_path):
    path = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events")
    snap = pipeline.build_fact_append(ev, run_ts="2024-02-01 00:00:00")
    sinks.append_fact(snap, path)
    first = sinks.read_fact(spark, path)
    n1 = first.count()
    assert n1 == ev.count()
    assert "run_date" in first.columns  # partition column materialized

    # replaying the same run overwrites its own partition, not duplicates
    sinks.append_fact(snap, path)
    assert sinks.read_fact(spark, path).count() == n1

    # a second run lands in a new partition and both are readable
    snap2 = pipeline.build_fact_append(ev, run_ts="2024-02-02 00:00:00")
    sinks.append_fact(snap2, path)
    both = sinks.read_fact(spark, path)
    assert both.count() == 2 * n1
    assert both.select("run_date").distinct().count() == 2


def test_append_fact_two_runs_same_day_both_survive(spark, sf_dir, tmp_path):
    """Regression (round-1 ADVICE): overwrite unit must be one RUN, not
    one calendar date — a cron firing twice a day (or per micro-batch)
    must never wipe earlier snapshots from the same date."""
    path = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events")
    morning = pipeline.build_fact_append(ev, run_ts="2024-02-01 06:00:00")
    evening = pipeline.build_fact_append(ev, run_ts="2024-02-01 18:00:00")
    sinks.append_fact(morning, path)
    n1 = sinks.read_fact(spark, path).count()
    sinks.append_fact(evening, path)
    both = sinks.read_fact(spark, path)
    assert both.count() == 2 * n1  # morning run still there
    assert both.select("run_date").distinct().count() == 1
    assert both.select("run_id").distinct().count() == 2
    # replaying the evening run is still idempotent (its own run_id only)
    sinks.append_fact(evening, path)
    assert sinks.read_fact(spark, path).count() == 2 * n1


def test_upsert_dim_insert_if_absent(spark, sf_dir, tmp_path):
    path = str(tmp_path / "dim")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("Id"), F.col("c_name").alias("Nome")
    )
    first_half = cust.filter(F.col("Id") < 75)
    sinks.upsert_dim(first_half, path, key="Id")
    assert spark.read.parquet(path).count() == first_half.count()

    # second run: overlapping keys are NOT overwritten, new keys insert
    renamed = cust.withColumn("Nome", F.lit("SHOULD_NOT_OVERWRITE"))
    sinks.upsert_dim(renamed, path, key="Id")
    dim = spark.read.parquet(path)
    assert dim.count() == cust.count()
    survivors = dim.filter((F.col("Id") < 75) & (F.col("Nome") == "SHOULD_NOT_OVERWRITE"))
    assert survivors.count() == 0  # conditional-put semantics held


def test_upsert_dim_unreadable_dim_raises_and_is_kept(spark, tmp_path):
    """A dimension that exists but cannot be read (corrupt footer,
    transient FS error) must fail the run, never be bootstrapped over:
    overwriting would replace the whole history with one batch. A path
    holding no part- file yet (empty dir, uncommitted-write leftovers)
    still bootstraps."""
    from py4j.protocol import Py4JJavaError

    src = spark.range(5).select(F.col("id").alias("Id"), F.lit("n").alias("Nome"))

    broken = tmp_path / "broken"
    broken.mkdir()
    part = broken / "part-00000.parquet"
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="(?i)footer"):
        sinks.upsert_dim(src, str(broken), key="Id", use_delta=False)
    assert part.read_bytes() == b"not a parquet file"
    assert [p.name for p in broken.iterdir()] == ["part-00000.parquet"]

    fresh = tmp_path / "fresh"
    (fresh / "_temporary" / "0").mkdir(parents=True)
    (fresh / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"partial")
    sinks.upsert_dim(src, str(fresh), key="Id", use_delta=False)
    assert spark.read.parquet(str(fresh)).count() == 5


def test_rest_list_and_detail_fanout(spark):
    stations = {i: {"Id": i, "Nome": f"station {i}"} for i in range(40)}

    def fetcher(url: str) -> str:
        if url.endswith("/list"):
            return json.dumps({"resultado": list(stations.values())})
        key = int(url.rsplit("/", 1)[1])
        if key % 10 == 7:
            raise OSError("simulated fetch failure")  # P6 path
        return json.dumps(
            {"Codigo": key, "Nome": stations[key]["Nome"], "Marca": f"brand{key % 3}"}
        )

    listed = rest.read_list_endpoint(
        spark, "https://api.example.test/list", fetcher, "Id bigint, Nome string"
    )
    assert listed.count() == 40
    detail = rest.enrich_from_detail_endpoint(
        listed,
        "Id",
        "https://api.example.test/station/",
        fetcher,
        "Codigo bigint, Nome string, Marca string",
    )
    rows = detail.collect()
    assert len(rows) == 36  # 4 ids fail (7,17,27,37) and are skipped, not fatal
    assert {r.Codigo % 10 for r in rows}.isdisjoint({7})


def test_rest_detail_fetched_once_per_listed_id(spark, tmp_path):
    """The reference fetches each station once per run and writes the
    dimension row and the price snapshot from that one response
    (index.js:109-144): however many consumers read the enrichment,
    every listed id is requested exactly once — failed ids included."""
    from collections import Counter

    from pyspark.accumulators import AccumulatorParam

    from etl_fuel_priceguide_ec2_spark.operators import joins

    class _Tally(AccumulatorParam):
        def zero(self, value):
            return Counter()

        def addInPlace(self, a, b):
            a.update(b)
            return a

    requests = spark.sparkContext.accumulator(Counter(), _Tally())
    ids = list(range(60))

    def fetcher(url: str) -> str:
        if url.endswith("/list"):
            return json.dumps({"resultado": [{"Id": i, "Nome": f"s{i}"} for i in ids]})
        key = int(url.rsplit("/", 1)[1])
        requests.add(Counter([key]))
        if key % 10 == 3:
            raise OSError("simulated fetch failure")
        return json.dumps({"Codigo": key, "Preco": key / 10})

    listed = rest.read_list_endpoint(
        spark, "https://api.example.test/list", fetcher, "Id bigint, Nome string"
    )
    detail = rest.enrich_from_detail_endpoint(
        listed, "Id", "https://api.example.test/station/", fetcher,
        "Codigo bigint, Preco double",
    )
    stations = joins.enrich(listed, detail, on=[("Id", "Codigo")])
    stations.write.parquet(str(tmp_path / "dim"))
    rows = stations.collect()

    assert len(rows) == 54  # 6 failed ids skipped (P6)
    assert spark.read.parquet(str(tmp_path / "dim")).count() == 54
    assert requests.value == Counter(ids)


def _list_fetcher(rows):
    body = json.dumps({"resultado": rows})
    return lambda url: body


_LIST_DDL = "Id bigint, Nome string, Preco double"


@pytest.mark.parametrize(
    "rows",
    [
        [{"Id": 1, "Nome": "a", "Preco": 1.5}, {"Id": 2, "Preco": 2.5}],  # missing key
        [{"Id": 1, "Nome": "a", "Preco": 1.5, "extra": [1, 2]}],  # extra key
        [{"Id": None, "Nome": None, "Preco": None}, {"Id": 3}],  # nulls
        [],
        [[1, "a", 1.5], [2, None, None]],  # positional rows (JSON arrays)
    ],
    ids=["missing_keys", "extra_keys", "nulls", "empty", "positional"],
)
@pytest.mark.parametrize("ddl", [True, False], ids=["ddl", "struct"])
def test_read_list_endpoint_matches_python_list_relation(spark, rows, ddl):
    """S2 builds an Arrow local relation; it returns the same schema
    (nullability included) and rows as ``createDataFrame(rows, schema)``."""
    from pyspark.sql.types import StructType

    schema = _LIST_DDL if ddl else StructType.fromDDL(_LIST_DDL)
    got = rest.read_list_endpoint(spark, "u", _list_fetcher(rows), schema)
    want = spark.createDataFrame(json.loads(json.dumps(rows)), schema=schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize(
    "rows,ddl",
    [
        ([{"Id": "1"}], "Id bigint"),
        ([{"Id": 1.5}], "Id bigint"),
        ([{"Id": True}], "Id bigint"),
        ([{"Id": 1, "Preco": 2}], "Id bigint, Preco double"),  # JSON int
        ([{"Id": None}], "Id bigint not null"),
        ([{"Nome": "a"}], "Id bigint not null, Nome string"),
        ([{"S": {"a": None}}], "S struct<a: bigint not null>"),
    ],
    ids=[
        "string_in_long", "fraction_in_long", "bool_in_long",
        "int_in_double", "none_not_nullable", "missing_not_nullable",
        "nested_not_nullable",
    ],
)
def test_read_list_endpoint_rejects_what_python_list_relation_rejects(spark, rows, ddl):
    """PySpark's row verifier runs before the Arrow build: pyarrow alone
    would truncate 1.5 to 1 and accept a null in a non-nullable field.
    A JSON int in a double column is rejected by both paths."""
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, schema=ddl)
    with pytest.raises((TypeError, ValueError)):
        rest.read_list_endpoint(spark, "u", _list_fetcher(rows), ddl)


def test_read_list_endpoint_known_divergences(spark):
    """Inputs the Python-list relation accepts and the Arrow build
    rejects with an error, never a wrong row: a lone UTF-16 surrogate (json.loads
    yields one from a "\\ud800" escape; the Python path writes U+FFFD)
    and a JSON array standing for a nested struct (the Python path maps
    it by position)."""
    import pyarrow as pa

    lone = json.loads('[{"Id": 1, "Nome": "\\ud800x"}]')
    assert spark.createDataFrame(lone, "Id bigint, Nome string").count() == 1
    with pytest.raises(UnicodeEncodeError):
        rest.read_list_endpoint(spark, "u", _list_fetcher(lone), "Id bigint, Nome string")

    nested = [{"S": [1, "x"]}]
    ddl = "S struct<a: bigint, b: string>"
    assert spark.createDataFrame(nested, ddl).first().S.a == 1
    with pytest.raises(pa.ArrowException):
        rest.read_list_endpoint(spark, "u", _list_fetcher(nested), ddl)


def test_ep1_pipeline_composes(spark, sf_dir, tmp_path):
    """EP1 end-to-end: list→enrich→filter→shape→audit→upsert + fact append."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    src = pipeline.build_station_dim_src(cust, nat, reg, now_ts="2024-02-01 00:00:00")
    assert src.columns == ["Codigo", "Nome", "Marca", "Morada", "CreateTimestamp", "UpdateTimestamp"]
    assert src.count() == cust.count()

    dim_path = str(tmp_path / "dim")
    fact_path = str(tmp_path / "fact")
    sinks.upsert_dim(src, dim_path, key="Codigo")
    ev = load_table(spark, sf_dir, "events")
    sinks.append_fact(pipeline.build_fact_append(ev, "2024-02-01 00:00:00"), fact_path)
    assert spark.read.parquet(dim_path).count() == src.count()
    assert spark.read.parquet(fact_path).count() == ev.count()


def test_config_sources(spark, tmp_path):
    """S1 — parameter/config source: prefix scan of spark.conf and
    config-as-data table (the SSM path-recursive lookup equivalents)."""
    from etl_fuel_priceguide_ec2_spark.sources import config

    spark.conf.set("fuelpriceguide.data_table", "stations")
    spark.conf.set("fuelpriceguide.endpoint_01", "https://api.example.test/list")
    cfg = config.load_config(
        spark, "fuelpriceguide", required=["data_table", "endpoint_01"]
    )
    assert cfg["data_table"] == "stations"
    assert cfg["endpoint_01"].endswith("/list")
    with pytest.raises(KeyError):
        config.load_config(spark, "fuelpriceguide", required=["missing_key"])

    path = str(tmp_path / "cfg")
    spark.createDataFrame(
        [("data_table", "stations_v2"), ("endpoint_02", "https://api.example.test/station/")],
        "key string, value string",
    ).write.parquet(path)
    tbl = config.load_config_table(spark, path)
    assert tbl == {
        "data_table": "stations_v2",
        "endpoint_02": "https://api.example.test/station/",
    }


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from etl_fuel_priceguide_ec2_spark.plans import pipeline as pl

    path = str(tmp_path / "fact")
    # 8-way parallel writes → 8 files per run_date partition
    ev = load_table(spark, sf_dir, "events").repartition(8)
    for run in ["2024-02-01 00:00:00", "2024-02-02 00:00:00"]:
        sinks.append_fact(pl.build_fact_append(ev, run), path)
    import glob

    before_files = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    before_rows = spark.read.parquet(path).count()
    after_files = sinks.compact(spark, path, target_partitions=1)
    assert after_files < before_files
    assert spark.read.parquet(path).count() == before_rows
    # partition pruning still works post-compaction
    assert spark.read.parquet(path).filter(F.col("run_date") == "2024-02-01").count() == ev.count()


def test_observe_run_metrics(spark, sf_dir, tmp_path):
    from etl_fuel_priceguide_ec2_spark.plans import pipeline as pl

    observed, obs = pl.run_with_metrics(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        now_ts="2024-02-01 00:00:00",
    )
    observed.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    n = load_table(spark, sf_dir, "customer").count()
    got = obs.get
    assert got["n_filtered"] == n
    assert abs(got["n_keys"] - n) / n < 0.05  # approx_count_distinct sketch


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """HLL-sketch cardinality: the at-scale substitute for exact
    count-distinct (no shuffle of the full key set); error must stay in
    the advertised rsd band."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_multimodal_features_feed_similarity_search(spark, sf_dir):
    """End-to-end multimodal pipeline: binary payload → mapInPandas
    decode → numeric feature vector → cosine top-k. The glue a training
    pipeline needs: extraction output is directly searchable."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal, similarity

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media(docs, "doc_id", "text")
    feats = multimodal.decode_features(media)
    vecs = feats.select(
        "doc_id",
        F.array(
            F.col("width").cast("double"),
            F.col("height").cast("double"),
            F.col("n_frames").cast("double"),
            F.col("n_bytes").cast("double"),
        ).alias("feature_vec"),
    )
    topk = similarity.cosine_topk(
        vecs, vecs.filter(F.col("doc_id") < 3), "doc_id", "feature_vec", k=5
    )
    rows = topk.collect()
    assert len(rows) == 3 * 5
    assert all(1 <= r.rank <= 5 for r in rows)
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in rows)


def test_multimodal_real_codec_decode_and_resize(spark):
    """real_codec=True on genuine image bytes: deterministic PPM and BMP
    fixtures flow bytes -> pixels -> nearest-neighbor resize -> PPM
    re-encode through the same mapInPandas plumbing as the fake path.
    Output payloads decode back to exact expected pixel arrays."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import imagecodec, multimodal

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, (40 + i, 60 + i, 3), dtype=np.uint8) for i in range(4)}
    rows = [
        (i, bytearray(imagecodec.encode_ppm(img) if i % 2 == 0 else imagecodec.encode_bmp(img)))
        for i, img in imgs.items()
    ]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary").select(
        "doc_id",
        "payload",
        F.lit(None).cast("string").alias("mime"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha"),
    )

    feats = {r.doc_id: r for r in multimodal.decode_features(media, real_codec=True).collect()}
    for i, img in imgs.items():
        assert (feats[i].width, feats[i].height, feats[i].n_frames) == (img.shape[1], img.shape[0], 1)

    resized = {r.doc_id: r for r in multimodal.resize(media, 32, 24, real_codec=True).collect()}
    for i, img in imgs.items():
        out = imagecodec.decode_ppm(bytes(resized[i].resized_payload))
        assert np.array_equal(out, imagecodec.resize_nearest(img, 32, 24))

    # unsupported format still raises through the real path
    bad = media.withColumn("payload", F.encode(F.lit("not an image"), "utf-8"))
    with pytest.raises(Exception, match="NotImplementedError|real codec"):
        multimodal.decode_features(bad, real_codec=True).collect()


def test_python_datasource_partitioned_rest(spark):
    """Spark 4 Python DataSource: the id keyspace reads as 8 parallel
    partitions (the scalable form of the reference's sequential per-id
    fetch loop)."""
    from etl_fuel_priceguide_ec2_spark.sources.rest_datasource import FuelStationDataSource

    spark.dataSource.register(FuelStationDataSource)
    df = (
        spark.read.format("fuelstations")
        .option("endpoint", "mock://stations")
        .option("num_stations", "200")
        .option("num_partitions", "8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = df.collect()
    assert len(rows) == 200
    assert {r.Codigo for r in rows} == set(range(200))
    assert all(r.Nome == f"station {r.Codigo}" for r in rows)
    # composes with the rest of the engine: filter + agg on the source
    brands = df.groupBy("Marca").count().collect()
    assert len(brands) == 5


def test_udf_udtf_udaf_surface(spark, sf_dir):
    """§2.8 — scalar pandas UDF + UDTF registered for SQL; grouped
    applyInPandas UDAF computes per-user trend slope."""
    from etl_fuel_priceguide_ec2_spark.functions import registry_udf

    registry_udf.register_all(spark)
    # scalar UDF from SQL
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    r = spark.sql("SELECT MAX(norm_price(o_totalprice)) AS m FROM orders_v").collect()[0]
    assert 0.0 < r.m <= 1.0
    # UDTF in FROM clause
    grams = spark.sql("SELECT * FROM explode_ngrams('the quick brown fox', 2)").collect()
    assert [g.ngram for g in grams] == ["the quick", "quick brown", "brown fox"]
    # grouped UDAF vs numpy brute force for one user
    ev = load_table(spark, sf_dir, "events").withColumn(
        "x", F.unix_timestamp("ts").cast("bigint")
    )
    slopes = registry_udf.trend_slope_per_group(ev, ["user_id"], "x", "value")
    got = {r.user_id: (r.slope, r.n_points) for r in slopes.collect()}
    import numpy as np

    one = ev.filter(F.col("user_id") == 3).select("x", "value").collect()
    x = np.array([r.x for r in one], dtype="float64")
    y = np.array([r.value for r in one], dtype="float64")
    xm, ym = x.mean(), y.mean()
    expected = float(((x - xm) * (y - ym)).sum() / ((x - xm) ** 2).sum())
    assert abs(got[3][0] - expected) < 1e-9
    assert got[3][1] == len(one)


def test_operators_handle_empty_input(spark, sf_dir):
    """Robustness: core operators return empty results (same schema) on
    empty inputs instead of failing."""
    from etl_fuel_priceguide_ec2_spark.operators import asof, dedup, windows

    ev = load_table(spark, sf_dir, "events").filter(F.lit(False))
    assert asof.latest_per_key(ev, ["user_id"], "ts", None, ["event_id"]).count() == 0
    assert dedup.dedup_last_wins(ev, ["user_id"], "ts", ["event_id"]).count() == 0
    assert windows.sessionize(ev, "user_id", "ts").count() == 0
    docs = load_table(spark, sf_dir, "documents").filter(F.lit(False))
    assert dedup.ngram_jaccard_pairs(docs, "doc_id", "text").count() == 0
    assert dedup.minhash_lsh_pairs(docs, "doc_id", "text").count() == 0

    from etl_fuel_priceguide_ec2_spark.operators import sampling, textops

    assert dedup.simhash_near_pairs(docs, "doc_id", "text").count() == 0
    assert textops.repetition_signals(docs, "doc_id", "text").count() == 0
    assert textops.unigram_logprob_score(docs, "doc_id", "text").count() == 0
    assert textops.contamination_check(
        docs, docs.select(F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")),
        "doc_id", "text", "bench_id", "bench_text",
    ).count() == 0
    assert sampling.hash_split(docs, "doc_id", {"train": 0.9, "val": 0.1}).count() == 0
    assert sampling.mixture_sample(docs, "doc_id", "lang", {"en": 0.5}).count() == 0
    assert sampling.mixture_upsample(docs, "doc_id", "lang", {"en": 2.5}).count() == 0

    from etl_fuel_priceguide_ec2_spark.operators import aggregates, clustering, multimodal

    emb = load_table(spark, sf_dir, "embeddings").filter(F.lit(False))
    assert clustering.kmeans_assign(emb, "vec_id", "embedding", k=4, iters=1).count() == 0
    assert clustering.semantic_dedup_pairs(emb, "vec_id", "embedding", k=4, iters=1).count() == 0
    assert sampling.weighted_sample_topk(docs, "doc_id", "n_chars", 10).count() == 0
    assert aggregates.salted_two_phase_agg(ev, "event_type", "value", "event_id").count() == 0
    assert aggregates.salted_distinct_count(ev, "event_type", "user_id").count() == 0
    assert aggregates.incremental_rollup(ev, "user_id", "ts", "value").count() == 0
    assert multimodal.audio_waveform_stats(
        multimodal.to_audio_media(docs, "doc_id", n_samples=16)
    ).count() == 0


def test_kmeans_smaller_than_k_input(spark, sf_dir):
    """Robustness (ADVICE r03): 0 < n_rows < k must clamp to n centroids
    instead of raising IndexError in the centroid update, and downstream
    block ids must never exceed the actual centroid count."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
    n = emb.count()
    assert 0 < n < 8
    assigned = clustering.kmeans_assign(emb, "vec_id", "embedding", k=8, iters=2)
    rows = assigned.collect()
    assert len(rows) == n
    assert all(0 <= r.cluster_id < n for r in rows)
    pairs = clustering.semantic_dedup_pairs(
        emb, "vec_id", "embedding", k=8, iters=2, threshold=1e9, probes=2
    )
    assert pairs.count() == n * (n - 1) // 2  # huge threshold: all pairs found
    two = clustering.semantic_dedup_pairs_two_level(
        emb, "vec_id", "embedding", k1=8, k2=8, iters=1, threshold=1e9, probes=2
    )
    assert two.count() <= n * (n - 1) // 2 and two.count() >= 0


def test_weighted_sample_excludes_nonpositive_weights(spark):
    """ADVICE r03: w <= 0 rows must be excluded (ln(u)/w with w < 0 would
    flip positive and always rank first; w == 0 gives -inf)."""
    from etl_fuel_priceguide_ec2_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 0.0), (4, 3.0), (5, None)],
        "id long, w double",
    )
    got = sampling.weighted_sample_topk(df, "id", "w", 10)
    ids = {r.id for r in got.collect()}
    assert ids == {1, 4}


def test_rplsh_supports_more_than_30_planes(spark, sf_dir):
    """ADVICE r03: the signature fold must cast to LONG — planes >= 31
    overflowed the old int cast (wraps, or errors under ANSI mode).
    Plant exact-duplicate vectors under new ids: identical vectors share
    a 34-plane signature, so each query must recover its clone at
    cosine 1.0 — and signatures above 2^31 must not error."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40).select(
        "vec_id", "embedding"
    )
    clones = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = similarity.cosine_topk_rplsh(
        emb.unionByName(clones), emb.filter(F.col("vec_id") < 3),
        "vec_id", "embedding", k=5, dim=64, planes=34, multiprobe_hamming=0,
    )
    got = {(r.query_id, r.neighbor_id): r.cosine for r in out.collect()}
    for q in range(3):
        assert got.get((q, q + 100000)) == 1.0


def test_example_pipeline_end_to_end(tmp_path):
    """examples/fuel_priceguide_pipeline.py — the reference user's full
    workflow runs and produces consistent counts."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "fuel_example", Path(__file__).parent.parent / "examples" / "fuel_priceguide_pipeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(str(tmp_path))
    assert out["stations"] == 500
    assert out["dim_current"] == 500            # one open version per station
    assert out["dim_rows_v2"] == 500 + 10       # +10 closed histories (every 50th)
    assert out["fact_rows"] == 1000             # two runs
    assert out["latest_rows"] == 500            # latest per station
    assert out["changed_prices"] == 0           # mock prices identical across runs


@pytest.mark.parametrize("fmt,codec", [
    ("parquet", "zstd"), ("orc", "zlib"), ("json", "gzip"), ("csv", "gzip"),
])
def test_format_roundtrip(spark, sf_dir, tmp_path, fmt, codec):
    """Every interchange format round-trips rows + schema with explicit
    codecs; timestamps survive (CSV via ISO strings)."""
    from etl_fuel_priceguide_ec2_spark.sources import formats

    src = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / fmt)
    formats.write_table(src, path, fmt, compression=codec)
    back = formats.read_table(spark, path, fmt, src.schema)
    assert back.count() == src.count()
    assert back.schema == src.schema
    assert back.exceptAll(src).count() == 0


def test_fact_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema evolution on the append fact table: a later run adds a
    column; mergeSchema reads old+new partitions with the superset
    schema (old rows null in the new column)."""
    from etl_fuel_priceguide_ec2_spark.plans import pipeline as pl

    path = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events")
    sinks.append_fact(pl.build_fact_append(ev, "2024-02-01 00:00:00"), path)
    snap2 = pl.build_fact_append(ev, "2024-02-02 00:00:00").withColumn(
        "currency", F.lit("EUR")
    )
    sinks.append_fact(snap2, path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "currency" in merged.columns
    assert merged.filter(F.col("currency").isNull()).count() == ev.count()   # old run
    assert merged.filter(F.col("currency") == "EUR").count() == ev.count()  # new run


def test_expire_partitions_retention(spark, sf_dir, tmp_path):
    from etl_fuel_priceguide_ec2_spark.plans import pipeline as pl

    path = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events")
    for run in ["2024-01-15 00:00:00", "2024-02-01 00:00:00", "2024-02-15 00:00:00"]:
        sinks.append_fact(pl.build_fact_append(ev, run), path)
    dropped = sinks.expire_partitions(spark, path, before_date="2024-02-01")
    assert dropped == 1
    remaining = spark.read.parquet(path)
    assert remaining.count() == 2 * ev.count()
    assert remaining.select("run_date").distinct().count() == 2


def test_table_statistics_feed_planner(spark, sf_dir):
    """ANALYZE TABLE: catalog stats (rowCount/sizeInBytes) recorded and
    visible to the cost-based optimizer — at scale CBO join reordering
    and broadcast decisions depend on them."""
    load_table(spark, sf_dir, "orders").write.mode("overwrite").saveAsTable("stats_orders")
    try:
        spark.sql("ANALYZE TABLE stats_orders COMPUTE STATISTICS")
        desc = spark.sql("DESCRIBE TABLE EXTENDED stats_orders").collect()
        stats_row = [r for r in desc if r.col_name == "Statistics"]
        assert stats_row, "no Statistics row after ANALYZE"
        assert "rows" in stats_row[0].data_type
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_orders")


def test_ngram_jaccard_auto_mode(spark, sf_dir):
    """prefix_filter="auto" returns the same pairs as both explicit
    paths (recall is exactly 1.0 either way), and the skew heuristic
    flips to the prefix path on a boilerplate-heavy corpus."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    naive = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    auto = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", prefix_filter="auto"
        ).collect()
    }
    assert auto == naive

    # skewed corpus: every doc shares one boilerplate trigram prefix
    boiler = docs.select(
        "doc_id",
        F.concat(F.lit("terms of service apply "), F.col("text")).alias("text"),
    )
    skew_auto = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            boiler, "doc_id", "text", prefix_filter="auto"
        ).collect()
    }
    skew_exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            boiler, "doc_id", "text", prefix_filter=True
        ).collect()
    }
    assert skew_auto == skew_exact


def test_minhash_hot_bucket_cap(spark, sf_dir):
    """max_bucket drops oversized band buckets before the self-join
    (the O(B²) hot-bucket defense). On a corpus whose near-dup families
    are small, a generous cap changes nothing; a pathological
    all-identical family larger than the cap is excluded from LSH
    candidates (the documented contract: exact dedup handles those)."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=50).collect()
    }
    assert capped == uncapped  # families here are far below the cap

    # pathological: 30 identical docs; cap 10 excludes the family
    clones = spark.range(30).select(
        (F.col("id") + 100000).alias("doc_id"),
        F.lit("the same exact boilerplate document body repeated verbatim "
              "across every clone in this synthetic family").alias("text"),
    )
    fam = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(clones, "doc_id", "text", max_bucket=10).collect()
    }
    assert fam == set()
    fam_uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(clones, "doc_id", "text").collect()
    }
    assert len(fam_uncapped) == 30 * 29 // 2


def test_training_data_curation_example(tmp_path):
    """examples/training_data_curation.py — the X1-X4 curation chain
    end-to-end: counts shrink monotonically through the gates, chunks
    cover the curated pool, packing respects the budget."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples" / "training_data_curation.py"
    spec = importlib.util.spec_from_file_location("curation_example", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = mod.main(workdir=str(tmp_path))
    assert out["raw"] >= out["after_quality"] >= out["after_exact_dedup"] >= out["after_near_dedup"] > 0
    assert out["chunks"] >= out["after_near_dedup"]  # every doc yields >=1 chunk
    assert 0 < out["bins"] <= out["chunks"]
    assert out["holdout"] <= 5 * 5  # <=5 per language stratum

    # packing invariant (start-offset binning): every chunk STARTS
    # within its bin's budget window, i.e. bin total minus its last
    # chunk is < budget — a bin overflows only by one straddling chunk
    import pyspark.sql.functions as PF
    from pyspark.sql import SparkSession, Window

    spark = SparkSession.getActiveSession()
    packed = spark.read.parquet(str(tmp_path / "packed"))
    w = Window.partitionBy("bin_id").orderBy(
        PF.col("doc_id").desc(), PF.col("chunk_id").desc()
    )
    last_tok = PF.first("chunk_tokens").over(w)
    bad = (
        packed.withColumn("__last", last_tok)
        .groupBy("bin_id")
        .agg(
            PF.sum("chunk_tokens").alias("tok"),
            PF.first("__last").alias("last_tok"),
        )
        .filter(PF.col("tok") - PF.col("last_tok") >= 256)
    )
    assert bad.count() == 0


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """approx_percentile (t-digest-style sketch) lands within the
    requested accuracy band of the exact percentile — the sketch is
    the 100 TB path (mergeable partial state, one shuffle of sketches
    instead of a global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    got = li.agg(
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").alias("ap"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.9))").alias("ex"),
    ).collect()[0]
    for approx, exact in zip(got.ap, got.ex):
        assert abs(approx - exact) / exact < 0.02


def test_unigram_vocab_cap_matches_exact_when_generous(spark, sf_dir):
    """vocab_top_k large enough to hold the whole vocabulary must equal
    the exact scorer bit-for-bit (the cap only changes TAIL tokens);
    a tight cap floors tail tokens, so scores can only decrease."""
    from etl_fuel_priceguide_ec2_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    exact = {r.doc_id: r.avg_logprob
             for r in textops.unigram_logprob_score(docs, "doc_id", "text").collect()}
    capped_all = {r.doc_id: r.avg_logprob
                  for r in textops.unigram_logprob_score(
                      docs, "doc_id", "text", vocab_top_k=10_000_000).collect()}
    assert capped_all == exact

    tight = {r.doc_id: r.avg_logprob
             for r in textops.unigram_logprob_score(
                 docs, "doc_id", "text", vocab_top_k=50).collect()}
    assert set(tight) == set(exact)
    assert all(tight[d] <= exact[d] + 1e-9 for d in exact)


def test_curation_gates_are_streaming_compatible(spark, sf_dir, tmp_path):
    """The map-only curation gates (quality, repetition, PII scrub) must
    run unchanged on a readStream source — stateless per-row selects are
    the streaming-safe subset, and this pins that none of them silently
    grows a batch-only dependency (collect, global window, ...)."""
    from etl_fuel_priceguide_ec2_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    scrub = textops.scrub_pii(stream, "doc_id", "text")
    q = textops.quality_score(stream, "doc_id", "text")
    r = textops.repetition_signals(stream, "doc_id", "text")

    out = str(tmp_path / "out")
    for i, df in enumerate([scrub, q, r]):
        (df.writeStream.format("parquet")
           .option("path", f"{out}/{i}")
           .option("checkpointLocation", f"{out}/cp{i}")
           .trigger(availableNow=True)
           .start()
           .awaitTermination(120))
        assert spark.read.parquet(f"{out}/{i}").count() == docs.count()


def test_compact_recovers_from_crashed_swap(spark, sf_dir, tmp_path):
    """If a prior compaction died between its two renames (live path
    gone, complete tree parked at .old), the next compact() must
    restore and proceed — no data loss, no manual surgery."""
    import os
    import shutil

    from etl_fuel_priceguide_ec2_spark.plans import pipeline as pl

    path = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events")
    sinks.append_fact(pl.build_fact_append(ev, "2024-02-01 00:00:00"), path)
    n = spark.read.parquet(path).count()

    # simulate the crash window: live dir renamed aside, new tree lost
    os.rename(path, path + ".old")
    assert not os.path.exists(path)

    sinks.compact(spark, path, target_partitions=1)
    assert spark.read.parquet(path).count() == n
    assert not os.path.exists(path + ".old")
    shutil.rmtree(path)


def test_ngram_collapse_identical_matches_direct(spark, sf_dir):
    """collapse_identical must produce the exact pair set of direct
    mining on a corpus with exact-duplicate families — intra-family
    pairs at J=1.0, cross pairs replicated from the representative —
    while the mining stage sees only unique shingle sets."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    base = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    clones = base.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    corpus = base.select("doc_id", "text").unionByName(clones)

    direct = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", prefix_filter=False
        ).collect()
    }
    collapsed = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", prefix_filter=False, collapse_identical=True
        ).collect()
    }
    assert collapsed == direct
    # every clone family must contribute its J=1.0 intra pair
    assert all((d, d + 10_000) in {(a, b) for a, b, _ in collapsed} for d in range(20))


def test_wav_codec_roundtrip():
    """encode_wav -> decode_wav is the identity on int16 mono samples
    (real RIFF/WAVE container, stdlib wave module both directions)."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    samples = audiocodec.synth_sawtooth(7, 512)
    payload = audiocodec.encode_wav(samples, 8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    rate, decoded = audiocodec.decode_wav(payload)
    assert rate == 8000
    assert np.array_equal(decoded, samples)


def test_wav_codec_rejects_unsupported_profile():
    """Stereo/8-bit WAVs hit the NotImplementedError gate, mirroring the
    image codec's unsupported-format contract."""
    import io
    import wave

    import numpy as np
    import pytest as _pytest

    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.zeros(64, dtype=np.int16).tobytes())
    with _pytest.raises(NotImplementedError):
        audiocodec.decode_wav(buf.getvalue())


def test_semantic_dedup_example_end_to_end():
    """examples/semantic_dedup.py — the embedding-dedup workflow runs
    and its keep-list arithmetic is consistent."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "semantic_example", Path(__file__).parent.parent / "examples" / "semantic_dedup.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main("/root/testdata/sf0.001")
    assert out["vectors"] == 500
    assert out["near_dup_pairs"] > 0
    assert out["kept"] < out["vectors"]  # something deduped
    assert out["kept"] == out["vectors"] - (out["grouped_vectors"] - out["dup_clusters"])


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """The storage-level co-location contract: two tables bucketed on
    the join key with equal bucket counts must join with ZERO Exchange
    operators — the write-time shuffle is amortized over every later
    join. sortBy-bucketed scans additionally let the planner drop the
    per-task Sort. This is the plan a 100 TB fact-fact join needs."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sinks.write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8,
                             sort_cols=["o_orderkey"])
        sinks.write_bucketed(lineitem, "t_lineitem_b", ["l_orderkey"], 8,
                             sort_cols=["l_orderkey"])
        joined = sinks.read_bucketed(spark, "t_lineitem_b").join(
            sinks.read_bucketed(spark, "t_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # correctness: bucketed join result equals the plain join
        n_plain = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
        assert joined.count() == n_plain
        # and a bucket-key aggregate also skips its shuffle
        agg = (
            sinks.read_bucketed(spark, "t_lineitem_b")
            .groupBy("l_orderkey")
            .count()
        )
        assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_example_retrieval_pipeline(sf_dir):
    """examples/retrieval_pipeline.py — the persisted-postings BM25 +
    dense + RRF stack runs end to end with consistent shapes."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "retrieval_example",
        Path(__file__).parent.parent / "examples" / "retrieval_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(sf_dir)
    assert out["n_docs"] > 0
    assert out["queries"] == 2
    assert out["fused_rows"] == out["queries"] * 5
    assert out["lex_rows"] <= out["queries"] * 20


def test_example_substring_dedup_pipeline(sf_dir):
    """examples/substring_dedup_pipeline.py — the incremental
    gram-state dedup + coverage/quality keep-list runs end to end:
    twins (mostly duplicated text) are dropped, spans are found, and
    both gates bite."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "substring_example",
        Path(__file__).parent.parent / "examples" / "substring_dedup_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(sf_dir)
    assert out["n_docs"] > 0 and out["n_spans"] > 0
    assert 0 < out["n_kept"] < out["n_docs"]
    assert out["n_dup_dropped"] > 0


def test_example_curation_decision_pipeline(sf_dir):
    """examples/curation_decision_pipeline.py — the capstone decision
    relation driving an actual corpus rewrite: drops shrink the
    corpus, the excise branch removes tokens, and the output count is
    keeps + excisions."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "curation_decision_example",
        Path(__file__).parent.parent / "examples" / "curation_decision_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(sf_dir)
    assert 0 < out["n_out"] < out["n_in"]
    assert out["tokens_removed"] > 0


def test_example_embedding_triage_pipeline(sf_dir):
    """examples/embedding_triage_pipeline.py — the second-moment tier
    chained end to end: diagnostics, subspace scores, Z-order layout
    write, and the fixed-threshold outlier gate, with conserving
    counts."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "embedding_triage_example",
        Path(__file__).parent.parent / "examples" / "embedding_triage_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(sf_dir)
    assert out["n_vectors"] > 0
    assert out["n_written"] == out["n_vectors"]  # layout preserves rows
    assert out["n_flagged"] + out["n_kept"] == out["n_vectors"]
    assert out["n_flagged"] < out["n_vectors"]  # the gate never drops all


def test_mixture_upsample_semantics(spark, sf_dir):
    """Fractional-epoch upsampling: multiplicity = floor(f) + the same
    hash-bucket predicate mixture_sample uses, copy_idx dense 0-based,
    factor < 1 degenerates to mixture_sample membership, absent strata
    drop, non-tick and negative factors rejected."""
    import pytest

    from etl_fuel_priceguide_ec2_spark.operators import sampling
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    up = sampling.mixture_upsample(
        docs, "doc_id", "lang", {"en": 0.50, "de": 2.5, "fr": 1.25}
    )
    rows = up.collect()
    by_doc: dict[int, list[int]] = {}
    lang_of: dict[int, str] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.copy_idx)
        lang_of[r.doc_id] = r.lang
    # copy_idx dense 0..n-1 per doc; multiplicity within the factor's
    # floor/ceil envelope for its stratum
    env = {"en": (0, 1), "de": (2, 3), "fr": (1, 2)}
    for doc, idxs in by_doc.items():
        assert sorted(idxs) == list(range(len(idxs)))
        lo, hi = env[lang_of[doc]]
        assert lo <= len(idxs) <= hi, (doc, lang_of[doc], len(idxs))
    # factor < 1 == mixture_sample membership at the same rate
    want_en = {
        r.doc_id
        for r in sampling.mixture_sample(
            docs, "doc_id", "lang", {"en": 0.50}
        ).collect()
    }
    got_en = {d for d, lang in lang_of.items() if lang == "en"}
    assert got_en == want_en
    # absent strata drop entirely
    langs = {r.lang for r in rows}
    assert langs <= {"en", "de", "fr"}
    # exact-epoch totals: de count is 2x or 3x its doc count per doc
    # (already enveloped above); global determinism across layouts
    again = sampling.mixture_upsample(
        docs.repartition(7, "lang"), "doc_id", "lang",
        {"en": 0.50, "de": 2.5, "fr": 1.25},
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    with pytest.raises(ValueError, match="not a multiple"):
        sampling.mixture_upsample(docs, "doc_id", "lang", {"en": 1.00003})
    with pytest.raises(ValueError, match="negative"):
        sampling.mixture_upsample(docs, "doc_id", "lang", {"en": -0.5})


def test_mixture_upsample_conservation_and_streaming(spark, sf_dir, tmp_path):
    """Two pins for the fractional-epoch upsampler: (a) the EXACT
    multiplicity identity per stratum — upsampled rows ==
    floor(f) * n_stratum + |mixture_sample at frac(f)| (the two
    operators share one bucket predicate by construction); (b) the
    operator is streaming-safe (map + bounded explode — no batch-only
    dependency), producing the identical relation through a stream."""
    from etl_fuel_priceguide_ec2_spark.operators import sampling
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    factors = {"en": 0.50, "de": 2.5, "fr": 1.25}
    up = sampling.mixture_upsample(docs, "doc_id", "lang", factors)
    got = {
        r.lang: r.n
        for r in up.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_by_lang = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for lang, f in factors.items():
        whole = int(f)
        frac_kept = sampling.mixture_sample(
            docs.filter(F.col("lang") == lang), "doc_id", "lang", {lang: f - whole}
        ).count()
        assert got.get(lang, 0) == whole * n_by_lang.get(lang, 0) + frac_kept, lang

    src = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = str(tmp_path / "up_out")
    (sampling.mixture_upsample(stream, "doc_id", "lang", factors)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120))
    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert streamed == sorted(map(tuple, up.collect()))


def test_mixture_upsample_integer_factors_are_exact_epochs(spark, sf_dir):
    """A whole-number factor is exactly that many copies of EVERY row
    in the stratum — no hash predicate involved, so the count identity
    is exact and the copy set is {0..f-1} for each doc."""
    from etl_fuel_priceguide_ec2_spark.operators import sampling
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    de = docs.filter(F.col("lang") == "de")
    up = sampling.mixture_upsample(de, "doc_id", "lang", {"de": 2.0})
    assert up.count() == 2 * de.count()
    assert up.groupBy("doc_id").count().filter(F.col("count") != 2).count() == 0
    idxs = {r.copy_idx for r in up.select("copy_idx").distinct().collect()}
    assert idxs == {0, 1}

def test_example_multimodal_dedup_pipeline(sf_dir):
    """examples/multimodal_dedup_pipeline.py — FOUR perceptual hash
    families (image aHash/pHash, audio fingerprint, and the r16
    clip-level video family: all-sampled-frames conjunction over
    composite-id banded pairs) through ONE keep-list composition:
    per-family keep == component counts, idempotence (zero residual
    pairs among survivors) asserted inside the script, and the final
    multimodal intersection only shrinks."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "multimodal_dedup_example",
        Path(__file__).parent.parent / "examples" / "multimodal_dedup_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(sf_dir)
    fams = ("image_ahash", "image_phash", "audio_fingerprint", "video_clips")
    for f in fams:
        assert 0 < out[f]["kept"] == out[f]["components"] <= out["n_docs"]
    assert 0 < out["final_kept"] <= min(out[f]["kept"] for f in fams)


def test_example_ann_serving_pipeline(sf_dir):
    """examples/ann_serving_pipeline.py — the round-14 similarity
    story end to end: persisted residual-PQ index, batch + streaming
    serving equality, measured recall, drift monitor."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "ann_serving_example",
        Path(__file__).parent.parent / "examples" / "ann_serving_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(sf_dir)
    assert out["n_vectors"] > 0
    assert out["n_results"] > 0
    assert 0.6 <= out["mean_recall"] <= 1.0
    assert out["max_drift"] >= 0.0


def test_png_codec_roundtrip_all_filters_and_color_types(spark):
    """The r16 PNG path (VERDICT r15 item 2): (a) encode_png ->
    decode_png is a bit-exact round trip (filter-0 scanlines, stdlib
    DEFLATE); (b) the unfilter stage reverses ALL FIVE scanline filter
    types against hand-filtered reference rows (external encoders pick
    per-row filters — accepting only our own filter-0 output would
    misdecode real corpora); (c) grayscale expands and RGBA drops alpha
    per the documented contract; (d) the unsupported-feature gates
    (Adam7, 16-bit, palette) raise loudly instead of misdecoding; and
    (e) the real_codec Spark plumbing decodes PNG payloads end-to-end."""
    import struct
    import zlib

    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import imagecodec, multimodal

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    png = imagecodec.encode_png(img)
    assert imagecodec.sniff_mime(png) == imagecodec.PNG_MIME
    assert np.array_equal(imagecodec.decode(png), img)

    # (b) hand-filter one row per filter type, verify exact reversal
    h, w, bpp = 6, 5, 3
    stride = w * bpp
    ref = rng.integers(0, 256, (h, stride), dtype=np.uint8).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(stride, np.int64)
    for y, ft in enumerate([0, 1, 2, 3, 4, 4]):
        cur = ref[y]
        filt = cur.copy()
        for x in range(stride):
            left = cur[x - bpp] if x >= bpp else 0
            up = prev[x]
            upleft = prev[x - bpp] if x >= bpp else 0
            if ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            elif ft == 4:
                p = left + up - upleft
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                pred = (
                    left if (pa <= pb and pa <= pc) else (up if pb <= pc else upleft)
                )
            else:
                pred = 0
            filt[x] = (cur[x] - pred) % 256
        raw.append(ft)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = cur
    out = imagecodec._png_unfilter(bytes(raw), h, stride, bpp)
    assert np.array_equal(out, ref.astype(np.uint8))

    # (c) grayscale / RGBA color types via hand-built PNGs
    def _build(arr, color_type):
        hh, ww = arr.shape[:2]
        ch = {0: 1, 2: 3, 6: 4}[color_type]
        body = np.zeros((hh, ww * ch + 1), np.uint8)
        body[:, 1:] = arr.reshape(hh, ww * ch)
        ihdr = struct.pack(">IIBBBBB", ww, hh, 8, color_type, 0, 0, 0)
        return (
            imagecodec._PNG_MAGIC
            + imagecodec._png_chunk(b"IHDR", ihdr)
            + imagecodec._png_chunk(b"IDAT", zlib.compress(body.tobytes()))
            + imagecodec._png_chunk(b"IEND", b"")
        )

    g = rng.integers(0, 256, (4, 4, 1), dtype=np.uint8)
    assert np.array_equal(
        imagecodec.decode_png(_build(g, 0)), np.repeat(g, 3, axis=2)
    )
    ga = rng.integers(0, 256, (4, 4, 4), dtype=np.uint8)
    assert np.array_equal(imagecodec.decode_png(_build(ga, 6)), ga[:, :, :3])

    # (d) loud feature gates
    for ihdr, exc in (
        (struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1), "Adam7"),
        (struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0), "bit depth"),
        (struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0), "color type"),
    ):
        bad = (
            imagecodec._PNG_MAGIC
            + imagecodec._png_chunk(b"IHDR", ihdr)
            + imagecodec._png_chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match=exc):
            imagecodec.decode_png(bad)

    # (e) PNG payloads flow through the real-codec Spark plumbing
    rows = [(7, bytearray(png))]
    media = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    [feat] = multimodal.decode_features(
        media.select(
            "doc_id", "payload",
            F.lit(None).cast("string").alias("mime"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.sha2("payload", 256).alias("sha"),
        ),
        real_codec=True,
    ).collect()
    assert (feat.width, feat.height) == (17, 24)


def test_image_ahash_format_invariant_across_containers(spark, sf_dir):
    """The container is metadata, the pixels are the content: the aHash
    band relation over the SAME synthetic pixels must be identical for
    PPM, BMP and PNG payloads (each decoded by its own real parser) —
    which is exactly why image_ahash_keeplist_png can share the PPM
    row's oracle verbatim."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(60)
    rels = [
        sorted(
            map(
                tuple,
                multimodal.image_ahash(
                    multimodal.to_image_media(
                        docs, "doc_id", size=16, classes=100, fmt=fmt
                    )
                ).collect(),
            )
        )
        for fmt in ("ppm", "bmp", "png")
    ]
    assert rels[0] == rels[1] == rels[2] and rels[0]
    with pytest.raises(ValueError, match="fmt"):
        multimodal.to_image_media(docs, "doc_id", fmt="jpeg")


def test_upsert_dim_delta_gate(spark, sf_dir, tmp_path):
    """The transactional-MERGE feature gate (VERDICT r15 item 6): this
    container ships no delta-spark, so (a) detection reports False and
    the auto path stays plain parquet (same rows as ever), and (b)
    forcing use_delta=True raises ImportError LOUDLY — a caller asking
    for transactional semantics must never be silently downgraded to
    the non-atomic anti-join+append."""
    from etl_fuel_priceguide_ec2_spark import sinks
    from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

    df = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("Id"), F.col("r_name").alias("name")
    )
    if sinks.delta_available():  # environment-dependent: gate, not skip
        import pytest as _pytest

        _pytest.skip("delta-spark present — the ImportError leg is moot")
    path = str(tmp_path / "dim_gate")
    sinks.upsert_dim(df, path, key="Id")  # auto => parquet path
    assert spark.read.parquet(path).count() == df.count()
    with pytest.raises(ImportError):
        sinks.upsert_dim(df, path, key="Id", use_delta=True)


def test_jpeg_codec_exact_subspace_lossy_envelope_and_gates():
    """The baseline-JPEG codec (round 16): (a) grayscale
    8x8-block-constant images round-trip BIT-EXACTLY through the full
    entropy pipeline (the oracle-bearing subspace — DC-only blocks,
    quantization error < 0.5 after the IDCT); (b) general color images
    round-trip within a quality-bounded error envelope (lossy as
    designed, monotone in quality); (c) odd dimensions pad and crop
    correctly; (d) progressive/16-bit gates raise loudly."""
    import struct

    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import imagecodec, jpegcodec
    from etl_fuel_priceguide_ec2_spark.operators.multimodal import synth_image

    for did in (0, 7, 123, 4567, 99_999):
        img = jpegcodec.synth_block_image(did, 16, 100)
        payload = jpegcodec.encode_jpeg(img, quality=90, grayscale=True)
        assert imagecodec.sniff_mime(payload) == jpegcodec.JPEG_MIME
        assert np.array_equal(imagecodec.decode(payload), img)

    img = synth_image(42, 16, 100)
    prev_err = None
    for q in (50, 75, 95):
        back = jpegcodec.decode_jpeg(jpegcodec.encode_jpeg(img, quality=q))
        err = float(
            np.abs(back.astype(np.int64) - img.astype(np.int64)).mean()
        )
        if prev_err is not None:
            assert err <= prev_err + 0.5  # monotone-ish in quality
        prev_err = err
    assert prev_err < 8.0  # q=95 stays close on the gradient image

    rng = np.random.default_rng(5)
    odd = rng.integers(0, 256, (13, 21, 3), dtype=np.uint8)
    assert jpegcodec.decode_jpeg(jpegcodec.encode_jpeg(odd)).shape == (13, 21, 3)

    sof2 = (
        b"\xff\xd8\xff\xc2" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]) + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="progressive"):
        jpegcodec.decode_jpeg(sof2)
    deep = (
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 11) + bytes([12])
        + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]) + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="bit depth"):
        jpegcodec.decode_jpeg(deep)


def test_jpeg_decoder_handles_420_subsampling_and_restart_markers():
    """Decoder features our encoder never emits, fed hand-built
    streams: (a) a 4:2:0 interleaved MCU (4 luma + 1 Cb + 1 Cr blocks;
    chroma upsampled by replication) decodes a constant-gray image
    exactly; (b) a DRI/RSTn stream (predictors reset at each restart)
    decodes block-constant tiles exactly — real-world JPEGs use both,
    so accepting only our own 4:4:4 no-restart output would misdecode
    them."""
    import struct

    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import jpegcodec as jc

    lq, cq = jc.quant_tables(90)
    dc_l, ac_l = jc._huff_codes(*jc._DC_LUMA), jc._huff_codes(*jc._AC_LUMA)
    dc_c, ac_c = jc._huff_codes(*jc._DC_CHROMA), jc._huff_codes(*jc._AC_CHROMA)

    def _headers_420(h, w):
        out = bytearray(b"\xff\xd8")
        out += jc._dqt_segment(0, lq) + jc._dqt_segment(1, cq)
        out += (
            b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
            + struct.pack(">HH", h, w)
            + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
        )
        out += jc._dht_segment(0, 0, jc._DC_LUMA) + jc._dht_segment(1, 0, jc._AC_LUMA)
        out += jc._dht_segment(0, 1, jc._DC_CHROMA) + jc._dht_segment(1, 1, jc._AC_CHROMA)
        out += (
            b"\xff\xda" + struct.pack(">H", 12)
            + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
        )
        return out

    def _dc_block(w, val, q00, codes, pred):
        # constant block: DC = 8*(val-128) quantized, EOB
        dc = round(8 * (val - 128) / q00)
        size, bits = jc._magnitude(dc - pred)
        code, ln = codes[0][size]
        w.write(code, ln)
        if size:
            w.write(bits, size)
        code, ln = codes[1][0x00]
        w.write(code, ln)
        return dc

    # (a) one 16x16 4:2:0 MCU of constant gray 90 (y=90, cb=cr=128)
    bw = jc._BitWriter()
    pred = 0
    for _ in range(4):  # luma blocks
        pred = _dc_block(bw, 90, int(lq[0, 0]), (dc_l, ac_l), pred)
    _dc_block(bw, 128, int(cq[0, 0]), (dc_c, ac_c), 0)  # Cb
    _dc_block(bw, 128, int(cq[0, 0]), (dc_c, ac_c), 0)  # Cr
    bw.flush()
    stream = _headers_420(16, 16) + bw.buf + b"\xff\xd9"
    out = jc.decode_jpeg(bytes(stream))
    # 8*(90-128) = -304; q00(lq,90)=3 -> dequant -303 -> off by <0.5
    assert out.shape == (16, 16, 3) and np.all(np.abs(out.astype(int) - 90) <= 1)
    assert len(np.unique(out)) == 1  # constant everywhere (chroma neutral)

    # (b) grayscale 32x8, 4 MCUs, DRI=2: RST0 after MCU 2, predictors reset
    vals = [40, 90, 160, 220]
    out_hdr = bytearray(b"\xff\xd8")
    out_hdr += jc._dqt_segment(0, lq)
    out_hdr += (
        b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 8, 32) + bytes([1, 1, 0x11, 0])
    )
    out_hdr += jc._dht_segment(0, 0, jc._DC_LUMA) + jc._dht_segment(1, 0, jc._AC_LUMA)
    out_hdr += b"\xff\xdd" + struct.pack(">HH", 4, 2)  # DRI = 2
    out_hdr += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    seg = bytearray()
    for chunk_i, chunk in enumerate((vals[:2], vals[2:])):
        bw = jc._BitWriter()
        pred = 0
        for v in chunk:
            pred = _dc_block(bw, v, int(lq[0, 0]), (dc_l, ac_l), pred)
        bw.flush()
        seg += bw.buf
        if chunk_i == 0:
            seg += b"\xff\xd0"  # RST0
    stream = out_hdr + seg + b"\xff\xd9"
    out = jc.decode_jpeg(bytes(stream))
    assert out.shape == (8, 32, 3)
    for i, v in enumerate(vals):
        block = out[:, 8 * i : 8 * (i + 1), 0].astype(int)
        assert np.all(np.abs(block - v) <= 1), (i, v, np.unique(block))


def test_avi_codec_roundtrip_frame_sampling_and_hash_plumbing(spark):
    """The r16 video tier: (a) encode_avi -> decode_avi is lossless
    (raw 24-bit DIB frames, odd widths row-padded); (b) compressed
    streams gate loudly; (c) decode_features(real_codec=True) reports
    the real (w, h, n_frames) off the container and frame_sample fans
    out real frame indices; (d) video_frame_ahash hashes exactly the
    sampled frames with the SHARED ahash_bands math — the per-frame
    relation equals hashing each sampled frame as a still image."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import (
        imagecodec,
        multimodal,
        videocodec,
    )

    frames = videocodec.synth_video_frames(11, n_frames=5, size=16)
    payload = videocodec.encode_avi(frames, fps=8)
    assert np.array_equal(videocodec.decode_avi(payload), frames)
    rng = np.random.default_rng(9)
    odd = rng.integers(0, 256, (3, 10, 13, 3), dtype=np.uint8)
    assert np.array_equal(videocodec.decode_avi(videocodec.encode_avi(odd)), odd)
    with pytest.raises(ValueError, match="RIFF"):
        videocodec.decode_avi(b"nope")

    media = spark.createDataFrame(
        [(11, bytearray(payload))], "doc_id bigint, payload binary"
    ).select(
        "doc_id", "payload",
        F.lit(None).cast("string").alias("mime"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha"),
    )
    [feat] = multimodal.decode_features(media, real_codec=True).collect()
    assert (feat.width, feat.height, feat.n_frames) == (16, 16, 5)

    hashed = {
        (r.doc_id, r.frame_idx): (r.b0, r.b1, r.b2, r.b3)
        for r in multimodal.video_frame_ahash(media, every_nth=2).collect()
    }
    assert set(hashed) == {(11, 0), (11, 2), (11, 4)}
    for fi in (0, 2, 4):
        assert hashed[(11, fi)] == tuple(multimodal.ahash_bands(frames[fi]))
    # frame hashes match the same pixels hashed as still images through
    # the image tier (shared band math end-to-end)
    still = spark.createDataFrame(
        [(fi, bytearray(imagecodec.encode_ppm(frames[fi]))) for fi in (0, 2, 4)],
        "doc_id bigint, payload binary",
    )
    img_rel = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3)
        for r in multimodal.image_ahash(still).collect()
    }
    assert all(img_rel[fi] == hashed[(11, fi)] for fi in (0, 2, 4))
    with pytest.raises(ValueError, match="every_nth"):
        multimodal.video_frame_ahash(media, every_nth=0)


def test_upsert_dim_delta_never_clobbers_existing_parquet_dim(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Format-flip safety of the Delta gate (code-review r16): a dim
    table bootstrapped through the parquet path must never be
    OVERWRITTEN by the Delta bootstrap branch — that would replace the
    whole upsert history with one batch. (a) auto mode with the
    package+session both "capable" still stays on the parquet path for
    an existing non-Delta table; (b) use_delta=True on one raises
    ValueError before any write; (c) a capable-package but
    unconfigured-session combination raises RuntimeError under
    use_delta=True and resolves auto mode to parquet."""
    import sys
    import types

    df = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("Id"), F.col("r_name").alias("name")
    )
    path = str(tmp_path / "dim_flip")
    sinks.upsert_dim(df, path, key="Id")  # parquet bootstrap
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before

    # fake a "delta-spark present" environment without the package:
    # the delta branch imports delta.tables lazily, so stub both
    fake_tables = types.ModuleType("delta.tables")

    class _NeverDelta:
        @staticmethod
        def isDeltaTable(_spark, _path):
            return False

    fake_tables.DeltaTable = _NeverDelta
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)
    assert sinks.delta_available()

    # (c) package importable, session unconfigured (this vanilla
    # session carries no Delta extension): auto => parquet path
    assert not sinks._delta_session_configured(spark)
    sinks.upsert_dim(df, path, key="Id")  # auto: appends nothing new
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    with pytest.raises(RuntimeError, match="Delta SQL extension"):
        sinks.upsert_dim(df, path, key="Id", use_delta=True)

    # (a)/(b) even with a fully "capable" session, an existing
    # non-Delta table keeps auto on parquet and makes explicit raise
    monkeypatch.setattr(sinks, "_delta_session_configured", lambda s: True)
    assert sinks._is_existing_non_delta_table(spark, path)
    sinks.upsert_dim(df, path, key="Id")  # auto: still the parquet path
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    with pytest.raises(ValueError, match="non-Delta data"):
        sinks.upsert_dim(df, path, key="Id", use_delta=True)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def test_jpeg_decoder_fill_bytes_and_multi_scan_gate():
    """Marker-stream robustness (code-review r16): (a) T.81 B.1.1.2
    fill bytes — any run of 0xFF before a marker — must not desync the
    header walk; (b) a baseline file whose first SOS covers fewer
    components than the frame declares (spec-legal multi-scan) must
    raise loudly instead of silently decoding a color image as gray."""
    import struct

    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import jpegcodec

    img = jpegcodec.synth_block_image(3, 16, 100)
    payload = jpegcodec.encode_jpeg(img, quality=90, grayscale=True)
    # inject fill bytes before the DQT marker (0xFFDB)
    stuffed = payload.replace(b"\xff\xdb", b"\xff\xff\xff\xdb", 1)
    assert len(stuffed) == len(payload) + 2
    assert np.array_equal(jpegcodec.decode_jpeg(stuffed), img)

    color = jpegcodec.encode_jpeg(np.ascontiguousarray(img), quality=90)
    sos = b"\xff\xda" + struct.pack(">H", 12) + bytes(
        [3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
    )
    assert sos in color
    # rewrite the SOS to claim a 1-component scan over the 3-component
    # frame: the multi-scan gate must fire before any entropy decoding
    single = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    with pytest.raises(NotImplementedError, match="multi-scan"):
        jpegcodec.decode_jpeg(color.replace(sos, single, 1))


def test_avi_top_down_frames_decode_unflipped():
    """strf's BITMAPINFOHEADER height is SIGNED: biHeight < 0 marks a
    top-down DIB (legal, common for RGB) whose rows are stored
    first-row-first. Decoding must honor the sign instead of always
    un-flipping (code-review r16). Construction trick: encoding
    vertically-flipped frames bottom-up yields byte-identical frame
    chunks to encoding the ORIGINAL frames top-down, so patching the
    strf height sign must reconstruct the original frames exactly."""
    import struct

    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import videocodec

    frames = videocodec.synth_video_frames(7, n_frames=3, size=16)
    flipped = np.ascontiguousarray(frames[:, ::-1])
    payload = bytearray(videocodec.encode_avi(flipped, fps=10))
    # strf data starts after the fourcc+size header; biHeight sits at
    # offset 8 within BITMAPINFOHEADER (after biSize, biWidth)
    strf_at = payload.index(b"strf") + 8
    (h,) = struct.unpack_from("<i", payload, strf_at + 8)
    assert h == 16
    struct.pack_into("<i", payload, strf_at + 8, -h)
    assert np.array_equal(videocodec.decode_avi(bytes(payload)), frames)
    # and the bottom-up original still round-trips (sign untouched)
    assert np.array_equal(
        videocodec.decode_avi(videocodec.encode_avi(frames)), frames
    )


def test_upsert_dim_parquet_path_refuses_delta_table(spark, sf_dir, tmp_path):
    """The format-flip guard's other direction (code-review r16): the
    plain-parquet path must refuse a Delta table — a raw append there
    would write files the _delta_log never references (invisible to
    Delta readers, duplicate keys for raw-parquet readers, no error
    from either engine)."""
    import os

    df = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("Id"), F.col("r_name").alias("name")
    )
    path = str(tmp_path / "dim_delta_reverse")
    sinks.upsert_dim(df, path, key="Id")  # parquet bootstrap
    os.makedirs(os.path.join(path, "_delta_log"))  # now "a Delta table"
    with pytest.raises(ValueError, match="_delta_log|Delta table"):
        sinks.upsert_dim(df, path, key="Id")


def test_avi_with_audio_track_decodes_video_stream():
    """Real-world AVIs carry an audio stream beside the video: the
    audio strl's strf is a WAVEFORMATEX, not a BITMAPINFOHEADER, so
    strf parsing must be gated on the owning strh's fccType — parsing
    the audio strf as bitmap fields read bits-per-sample (16) as bpp
    and raised on a perfectly decodable file (code-review r16)."""
    import struct

    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import videocodec

    frames = videocodec.synth_video_frames(5, n_frames=2, size=16)
    n, h, w, _ = frames.shape
    raw = [videocodec._frame_bytes(frames[i]) for i in range(n)]
    fsize = len(raw[0])

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(kind, data):
        return chunk(b"LIST", kind + data)

    avih = struct.pack(
        "<14I", 100000, fsize * 10, 0, 0x10, n, 0, 2, fsize, w, h, 0, 0, 0, 0
    )
    vstrh = (
        b"vids" + b"DIB " + struct.pack("<IHHI", 0, 0, 0, 0)
        + struct.pack("<7I", 1, 10, 0, n, fsize, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    vstrf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, fsize, 2835, 2835, 0, 0
    )
    astrh = (
        b"auds" + b"\x00\x00\x00\x00" + struct.pack("<IHHI", 0, 0, 0, 0)
        + struct.pack("<7I", 1, 44100, 0, 44100, 2, 0, 0)
        + struct.pack("<4H", 0, 0, 0, 0)
    )
    # WAVEFORMATEX: PCM tag, mono, 44.1 kHz, 16-bit samples
    astrf = struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", vstrh) + chunk(b"strf", vstrf))
        + lst(b"strl", chunk(b"strh", astrh) + chunk(b"strf", astrf)),
    )
    movi = lst(
        b"movi",
        b"".join(chunk(b"00db", fr) for fr in raw)
        + chunk(b"01wb", b"\x00\x00" * 100),
    )
    body = b"AVI " + hdrl + movi
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assert np.array_equal(videocodec.decode_avi(payload), frames)


def test_enrich_detail_endpoint_tolerates_missing_optional_fields(spark):
    """P6 contract at the Arrow boundary (code-review r16): detail
    endpoints commonly omit null fields from their JSON — a field
    absent from EVERY response in a batch (or a long field absent from
    some rows) must yield nulls, not a KeyError/cast failure that
    aborts the job. Extra undeclared fields are dropped."""
    ids = spark.range(1, 9).select(F.col("id").alias("Id"))

    def fetcher(url):
        key = int(url.rsplit("/", 1)[1])
        if key % 2 == 0:
            # no Marca anywhere, Codigo missing on evens, extra field
            return json.dumps({"Nome": f"n{key}", "extra": "x"})
        return json.dumps({"Codigo": key, "Nome": f"n{key}"})

    out = rest.enrich_from_detail_endpoint(
        ids, "Id", "https://api.example.test/station/", fetcher,
        "Codigo bigint, Nome string, Marca string",
    ).collect()
    assert len(out) == 8
    assert all(r.Marca is None for r in out)
    assert {r.Codigo for r in out if r.Codigo is not None} == {1, 3, 5, 7}
    assert all(r.Nome.startswith("n") for r in out)
    assert "extra" not in out[0].asDict()


def test_append_fact_run_id_suffix_separates_same_ts_runs(spark, sf_dir, tmp_path):
    """Two runs sharing one run_ts (a streaming foreachBatch keyed on
    the batch's max EVENT time — not unique per batch) must not
    overwrite each other when the caller supplies per-batch suffixes;
    the same (ts, suffix) replayed stays idempotent (code-review r16)."""
    path = str(tmp_path / "fact_suffix")
    ev = load_table(spark, sf_dir, "events").limit(50)
    snap = pipeline.build_fact_append(ev, run_ts="2024-03-01 00:00:00")
    n = snap.count()
    sinks.append_fact(snap, path, run_id_suffix="-b0")
    sinks.append_fact(snap, path, run_id_suffix="-b1")  # same max ts!
    assert sinks.read_fact(spark, path).count() == 2 * n
    sinks.append_fact(snap, path, run_id_suffix="-b1")  # replay of b1
    assert sinks.read_fact(spark, path).count() == 2 * n  # idempotent


def test_read_table_unknown_format_raises(spark, tmp_path):
    """read_table must reject unknown formats loudly (code-review r16)
    instead of silently attempting a parquet read of non-parquet data,
    mirroring write_table's KeyError."""
    from etl_fuel_priceguide_ec2_spark.sources import formats

    with pytest.raises(KeyError, match="unknown format"):
        formats.read_table(spark, str(tmp_path / "x"), "avro", "a bigint")


def test_load_config_collects_novel_runtime_keys(spark):
    """A spark.conf.set key under the prefix that appears in neither
    defaults nor required must still be collected (code-review r16) —
    the docstring's 'collect ALL keys under prefix' promise."""
    from etl_fuel_priceguide_ec2_spark.sources import config as cfg

    spark.conf.set("fuelpg_test.novel_key", "live")
    try:
        got = cfg.load_config(spark, "fuelpg_test", defaults={"other": "d"})
        assert got["novel_key"] == "live"
        assert got["other"] == "d"
    finally:
        spark.conf.unset("fuelpg_test.novel_key")


def test_events_ts_epoch_stable_across_session_timezone(spark, sf_dir):
    """events.ts must be the file wall clock anchored as UTC epoch
    REGARDLESS of spark.sql.session.timeZone (code-review r16): the
    NTZ build path interpreted the wall clock in the session zone,
    diverging from the epoch-anchored nanosAsLong path (and from the
    DuckDB oracle) by the zone offset anywhere but UTC."""
    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    ref = [
        r.ts
        for r in load_table(spark, sf_dir, "events")
        .orderBy("event_id").limit(10).collect()
    ]
    try:
        spark.conf.set(tz_key, "America/New_York")
        shifted = [
            r.ts
            for r in load_table(spark, sf_dir, "events")
            .orderBy("event_id").limit(10).collect()
        ]
    finally:
        spark.conf.set(tz_key, old)
    assert ref == shifted and ref
