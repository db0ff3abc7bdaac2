"""The three benchmark workloads. Each is a closed loop with one client.

A workload writes its seeded inputs in ``prepare`` (part of set-up),
lists the operations of one pass in ``ops``, runs one operation in
``run_op`` (the timed part) and grades its output in ``check`` (outside
the timed region, against a model or a DuckDB oracle that never sees
the engine's results). ``check`` returns the verdict, or a callable that
computes it after the pass.

* ``fuel_etl_runs`` — the reference's own cron job against a mock
  station API: the only workload that writes, and the only one that
  loads ``sources`` and ``sinks``.
* ``curation_keeplist`` — exact, n-gram, MinHash and semantic dedup
  into keep-lists over corpora with planted near-duplicate chains:
  eager jobs and shuffles in ``dedup`` and ``clustering``, and one
  registry query.
* ``query_mix`` — short read-only registry queries through the noop
  sink, where plan construction and the per-job floor dominate.
"""

from __future__ import annotations

import hashlib
import os
import random

import duckdb
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark import contract, registry, sinks
from etl_fuel_priceguide_ec2_spark.operators import (
    asof, dedup, joins, projections, windows,
)
from etl_fuel_priceguide_ec2_spark.registry import semantic
from etl_fuel_priceguide_ec2_spark.sources import catalog, rest

from perfbench import gen
from perfbench.mockapi import (
    DETAIL_SCHEMA, LATEST_COLS, LIST_SCHEMA, StationApi, StationModel,
)


def _data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.startswith("part-"))
    return out


def _rows(path: str) -> int:
    return pads.dataset(_data_files(path), format="parquet").count_rows()


class Workload:
    """Hooks a workload may leave as they are."""

    stored_bytes = 0

    def start(self, spark) -> None:
        """Called after every session start, before any operation."""

    def begin_pass(self, pass_dir: str) -> None:
        """Called before each pass with a fresh directory for its output."""

    def end_pass(self) -> None:
        """Called after each pass."""

    def layer_extras(self) -> dict[str, float]:
        """Counters the workload measures itself, since the last start."""
        return {}


class FuelEtlRuns(Workload):
    """R consecutive cron runs, each: list fetch -> reject null Nome ->
    per-id detail fan-out -> reject null Morada -> enrich join -> audit
    columns -> insert-if-absent dimension -> append price facts -> as-of
    latest price and price-change deltas over the growing fact table.
    Every pass starts from empty tables, so passes do the same work."""

    name = "fuel_etl_runs"
    runs = 2
    stations = 2000
    new_per_run = 100
    delay_s = 0.0002

    def __init__(self, seed: int):
        self.model = StationModel(seed, self.stations, self.new_per_run)

    def prepare(self, data_dir: str) -> None:
        """The mock API serves its inputs on request; nothing to write."""
        self.expected: dict[int, dict] = {}
        self.n_requested = {r: len(self.model.requested(r)) for r in self.ops()}

    def start(self, spark) -> None:
        self.requests = spark.sparkContext.accumulator(0)
        self.requested = 0
        self.sink = dict.fromkeys(("offered", "inserted", "files", "bytes"), 0)

    def ops(self) -> list:
        return list(range(1, self.runs + 1))

    def begin_pass(self, pass_dir: str) -> None:
        self.dim_path = os.path.join(pass_dir, "station_dim")
        self.fact_path = os.path.join(pass_dir, "price_facts")

    def end_pass(self) -> None:
        """Books the pass's sink output. Every fact row was also offered to
        the dimension write, and the tables started empty."""
        files = _data_files(self.dim_path) + _data_files(self.fact_path)
        self.stored_bytes = sum(os.path.getsize(f) for f in files)
        self.sink["files"] += len(files)
        self.sink["bytes"] += self.stored_bytes
        self.sink["offered"] += _rows(self.fact_path)
        self.sink["inserted"] += _rows(self.dim_path)

    def layer_extras(self) -> dict[str, float]:
        return {
            "sources.fetches": self.requests.value,
            "sources.fetches_per_key": self.requests.value / self.requested,
            "sinks.files_written": self.sink["files"],
            "sinks.bytes_written": self.sink["bytes"],
            "sinks.rows_offered": self.sink["offered"],
            "sinks.rows_inserted": self.sink["inserted"],
        }

    def rows_per_pass(self) -> int:
        return sum(self.model.input_rows(r) for r in self.ops())

    def input_bytes_per_pass(self) -> int:
        return sum(self.model.input_bytes(r) for r in self.ops())

    def run_op(self, spark, tracer, run: int):
        self.requested += self.n_requested[run]
        api = StationApi(self.model, self.delay_s, self.requests)
        ts = self.model.run_ts(run)
        listed = rest.read_list_endpoint(spark, f"mock://list/{run}", api, LIST_SCHEMA)
        listed = projections.reject_nulls(listed, ["Nome"])
        detail = rest.enrich_from_detail_endpoint(
            listed, "Id", f"mock://detail/{run}/", api, DETAIL_SCHEMA,
            num_partitions=spark.sparkContext.defaultParallelism,
        )
        detail = projections.reject_nulls(detail, ["Morada"])
        stations = joins.enrich(listed, detail.drop("Nome"), on=[("Id", "Codigo")])
        dim = projections.with_audit_columns(
            stations.select("Id", "Nome", "Marca", "Morada"), now_ts=ts
        )
        sinks.upsert_dim(dim, self.dim_path, "Id")
        snapshot = stations.select(
            "Id", F.col("Preco").alias("price"), F.lit(ts).cast("timestamp").alias("run_ts")
        )
        sinks.append_fact(snapshot, self.fact_path)
        facts = sinks.read_fact(spark, self.fact_path)
        latest = asof.latest_per_key(facts, ["Id"], "run_ts", as_of=ts)
        deltas = windows.change_deltas(facts, ["Id"], "run_ts", "price")
        with tracer.span("exec", "latest_per_key"):
            rows = latest.select(
                "Id", "price", F.date_format("run_ts", "yyyy-MM-dd HH:mm:ss").alias("run_ts")
            ).collect()
        with tracer.span("exec", "changed_prices"):
            changed = deltas.filter(F.col("changed")).count()
        return rows, changed

    def check(self, run: int, output) -> bool:
        """Against the model, reading the tables' files directly."""
        rows, changed = output
        if not self.expected:
            self.expected = self.model.expected(self.runs)
        want = self.expected[run]
        dim_ids = (
            pads.dataset(_data_files(self.dim_path), format="parquet")
            .to_table(columns=["Id"])
            .column("Id")
            .to_pylist()
        )
        return (
            contract.rowhash([(i,) for i in dim_ids], ["Id"]) == want["dim_keys"]
            and _rows(self.fact_path) == want["fact_rows"]
            and contract.rowhash([tuple(r) for r in rows], LATEST_COLS) == want["latest"]
            and changed == want["changed"]
        )


def _keep_list(ids, id_col: str, comp):
    """Every id with its component (its own id when it has no near-dup);
    kept iff it is its component's min-id representative."""
    return (
        ids.select(id_col)
        .join(comp.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("component_id", F.coalesce("component_id", F.col(id_col)))
        .withColumn("kept", F.col("component_id") == F.col(id_col))
    )


def _materialize_edges(sql: str) -> str:
    """The keep-list oracles walk their ``edges`` CTE recursively, and
    DuckDB inlines a plain CTE into every recursion step, recomputing
    the pair search each time; the hint computes it once (about 20x
    faster on a 150-document corpus, same rows)."""
    hinted = sql.replace(", edges AS (", ", edges AS MATERIALIZED (", 1)
    if hinted == sql:
        raise ValueError("oracle has no edges CTE to materialize")
    return hinted


class CurationKeeplist(Workload):
    """One operation is one curation pass over a fresh corpus: exact
    dedup, then n-gram and MinHash pairs -> connected components ->
    document keep-list, called operator by operator with the parameters
    of the registry's ``dedup_clusters``; then the registry's
    ``semantic_dedup_keeplist`` query (centroid fit -> semantic pairs ->
    connected components -> vector keep-list), so the pass also loads the
    ``registry`` layer, whose calls into ``clustering`` and ``dedup``
    count as those layers' time.

    The seed picks the corpus contents, its duplicate share and its
    chain depth. The depths offered are adjacent, so runs with different
    seeds do about the same amount of CC work on new data."""

    name = "curation_keeplist"
    depths = (2, 3)
    docs = 150
    vecs = 150
    _exact_cols = ["doc_id", "content_hash", "dup_count"]
    _doc_cols = ["doc_id", "component_id"]
    _vec_cols = ["vec_id", "component_id", "kept"]

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, data_dir: str) -> None:
        rnd = random.Random(self.seed)
        self.corpus = os.path.join(data_dir, "corpus")
        depth, share = rnd.choice(self.depths), rnd.uniform(0.18, 0.22)
        gen.write_corpus(self.corpus, self.seed, depth, share, self.docs, self.vecs)
        self.expected = None

    def ops(self) -> list:
        return ["corpus"]

    def begin_pass(self, pass_dir: str) -> None:
        """Every pass fits the codebook again, as the first one did."""
        semantic.clear_codebook_cache()

    def rows_per_pass(self) -> int:
        return self.docs + self.vecs

    def run_op(self, spark, tracer, op: str):
        docs = catalog.load_table(spark, self.corpus, "documents")
        exact = dedup.dedup_exact(docs, "text", "doc_id")
        ngram = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=False
        )
        lsh = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=128, bands=32, threshold=0.5
        )
        pairs = ngram.select("id_a", "id_b").union(lsh.select("id_a", "id_b")).distinct()
        doc_keep = _keep_list(docs, "doc_id", dedup.connected_components(pairs))
        with tracer.span("registry", "semantic_dedup_keeplist"):
            vec_keep = registry.queries()["semantic_dedup_keeplist"](spark, self.corpus)
        with tracer.span("exec", "keep_lists"):
            return (
                exact.filter(F.col("dup_count") > 1).collect(),
                doc_keep.select(*self._doc_cols).collect(),
                vec_keep.select(*self._vec_cols).collect(),
            )

    def _oracle(self) -> tuple:
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')"
                )
            oracles = registry.oracle_sql()
            comp = dict(con.execute(_materialize_edges(oracles["dedup_clusters"])).fetchall())
            docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
            vec_rows = con.execute(
                _materialize_edges(oracles["semantic_dedup_keeplist"])
            ).fetchall()
        finally:
            con.close()
        groups: dict[str, list[int]] = {}
        for doc_id, text in docs:
            groups.setdefault(hashlib.sha256(text.encode()).hexdigest(), []).append(doc_id)
        exact = [(min(ids), h, len(ids)) for h, ids in groups.items() if len(ids) > 1]
        doc_rows = [(doc_id, comp.get(doc_id, doc_id)) for doc_id, _ in docs]
        return (
            contract.rowhash(exact, self._exact_cols),
            contract.rowhash(doc_rows, self._doc_cols),
            contract.rowhash(vec_rows, self._vec_cols),
        )

    def check(self, op: str, output) -> bool:
        """Exact groups against a SHA-256 grouping in Python, keep-lists
        against the registry's DuckDB oracles on the same files."""
        if self.expected is None:
            self.expected = self._oracle()
        exact, doc_rows, vec_rows = output
        got = (
            contract.rowhash([tuple(r) for r in exact], self._exact_cols),
            contract.rowhash([tuple(r) for r in doc_rows], self._doc_cols),
            contract.rowhash([tuple(r) for r in vec_rows], self._vec_cols),
        )
        return got == self.expected


class QueryMix(Workload):
    """A seeded order of ten read-only registry queries over the query
    fixture, each built by its registry function and executed through the
    noop sink."""

    name = "query_mix"
    queries = {
        "asof_latest_per_key": ("events",),
        "asof_join_orders_events": ("orders", "events"),
        "latest_via_max_by": ("events",),
        "revenue_by_nation": ("customer", "lineitem", "nation", "orders", "region"),
        "q9_product_type_profit": ("lineitem", "nation", "orders", "part", "supplier"),
        "q18_large_volume_customers": ("customer", "lineitem", "orders"),
        "interval_join_recent_events": ("events",),
        "similarity_topk_ivf_pq": ("embeddings",),
        "bm25_topk_docs": ("documents",),
        "scd2_dim_versions": ("customer",),
    }
    sf = 0.01

    def __init__(self, seed: int):
        self.seed = seed
        self.order = random.Random(seed).sample(sorted(self.queries), len(self.queries))

    def prepare(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.rows = gen.write_fixture(data_dir, self.seed, self.sf)
        self.checked: dict[str, bool] = {}

    def ops(self) -> list:
        return list(self.order)

    def rows_per_pass(self) -> int:
        return sum(self.rows[t] for q in self.order for t in self.queries[q])

    def run_op(self, spark, tracer, name: str):
        with tracer.span("registry", name):
            df = registry.queries()[name](spark, self.data_dir)
        with tracer.span("exec", name):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, name: str, df):
        """Each query is graded once per run: its sorted-row hash must
        equal its DuckDB oracle's over the same files. Grading re-runs
        the query, so it is deferred to the end of the pass, where the
        pass's queries are graded in parallel."""
        if name in self.checked:
            return self.checked[name]

        def grade() -> bool:
            got = contract.rowhash([tuple(r) for r in df.collect()], df.columns)
            con = duckdb.connect()
            try:
                for t in catalog.TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')"
                    )
                rel = con.sql(registry.oracle_sql()[name])
                want = contract.rowhash(rel.fetchall(), rel.columns)
            finally:
                con.close()
            self.checked[name] = got == want
            return self.checked[name]

        return grade


BY_NAME = {w.name: w for w in (FuelEtlRuns, CurationKeeplist, QueryMix)}
