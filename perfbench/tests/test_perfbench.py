"""Tests of the benchmark's own code: input generators, the ETL model,
the event-log parser and span accounting, and the metric names.

    python -m pytest perfbench/tests -q

Run from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, trace  # noqa: E402
from perfbench.mockapi import StationApi, StationModel  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_fixture_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    rows = gen.write_fixture(a, 7, 0.001)
    gen.write_fixture(b, 7, 0.001)
    gen.write_fixture(c, 8, 0.001)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert set(da) == {f"{t}.parquet" for t in rows}
    assert all(da[t] != dc[t] for t in da if t not in ("region.parquet", "nation.parquet"))


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    for d, seed in ((a, 3), (b, 3), (c, 4)):
        gen.write_corpus(d, seed, 4, 0.2, 60, 60)
    assert _digest(a) == _digest(b)
    assert all(x != y for x, y in zip(_digest(a).values(), _digest(c).values()))


def test_mock_api_is_a_function_of_the_seed():
    def bodies(seed):
        api = StationApi(StationModel(seed, 40, 5), 0.0)
        details = []
        for sid in range(45):
            try:
                details.append(api(f"mock://detail/2/{sid}"))
            except KeyError:
                details.append(None)
        return api("mock://list/2"), details

    assert bodies(5) == bodies(5)
    assert bodies(5) != bodies(6)


def test_doc_chain_is_a_path_at_the_jaccard_threshold():
    rng = gen._rng(11, 0)
    chain = [gen._shingles(t.split()) for t in gen._doc_chain(rng, 5)]
    for i in range(len(chain)):
        for j in range(i + 1, len(chain)):
            assert (gen._jaccard(chain[i], chain[j]) >= 0.5) == (j == i + 1)


def test_station_model_expected_counts():
    model = StationModel(2, 50, 10)
    want = model.expected(3)
    assert want[1]["fact_rows"] == len(model.valid(1))
    assert want[3]["fact_rows"] == sum(len(model.valid(r)) for r in (1, 2, 3))
    assert want[1]["changed"] == 0
    assert want[3]["changed"] >= want[2]["changed"]


def test_event_log_parser_counts():
    jobs = trace.parse_event_log(os.path.join(DATA, "eventlog_small.json"))
    by_group: dict = {}
    for j in jobs.values():
        by_group.setdefault(j["group"] or "null", []).append(j)
    with open(os.path.join(DATA, "eventlog_small.expected.json")) as f:
        expected = json.load(f)
    assert sorted(by_group) == sorted(expected)
    for group, want in expected.items():
        got = by_group[group]
        assert len(got) == want["jobs"]
        assert sum(len(j["ran"]) for j in got) == want["stages"]
        assert sum(j["skipped"] for j in got) == want["skipped"]
        assert sum(j["metrics"]["tasks"] for j in got) == want["tasks"]
        assert sum(j["metrics"]["shuffle_write_bytes"] for j in got) == want["shuffle_write_bytes"]


def test_layer_metrics_self_time_and_unattributed():
    t = trace.Trace()
    t.spans = [
        trace.Span(0, "sinks", "upsert_dim", None, 10.0, 14.0),
        trace.Span(1, "joins", "new_keys", 0, 11.0, 12.0),
        trace.Span(2, "exec", "collect", None, 14.5, 15.0),
    ]
    t.ops = [(10.0, 15.5)]
    jobs = {
        0: {"group": f"{trace.GROUP_PREFIX}0", "start": 12.5, "end": 13.5, "ran": [0],
            "skipped": 0, "metrics": dict.fromkeys(trace.JOB_METRICS[2:], 1.0)},
        1: {"group": None, "start": 20.0, "end": 21.0, "ran": [1], "skipped": 0,
            "metrics": dict.fromkeys(trace.JOB_METRICS[2:], 1.0)},
    }
    m = trace.layer_metrics(t, jobs)
    assert m["sinks.busy_s"] == pytest.approx(3.0)
    assert m["sinks.plan_s"] == pytest.approx(2.0)
    assert m["joins.busy_s"] == pytest.approx(1.0)
    assert m["sinks.jobs"] == 1 and m["sinks.stages"] == 1 and m["joins.jobs"] == 0
    assert m["trace.unattributed_s"] == pytest.approx(1.0)


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    lats = [float(i) for i in range(1, 41)]
    value, pct = run.tail(lats)
    assert sum(x > value for x in lats) == 10 and pct == 75.0


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    names += list(run.END_TO_END) + list(run.REPORT_ONLY) + trace.layer_metric_names()
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == trace.layer_metric_names()
    assert len(trace.layer_metric_names()) == len(set(trace.layer_metric_names())) == 104
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from etl_fuel_priceguide_ec2_spark.session import get_session

    tmp = str(tmp_path_factory.mktemp("spark"))
    return get_session("perfbench-tests", extra_conf=run._session_conf(tmp, trace=False))


def test_etl_model_agrees_with_engine(spark, tmp_path):
    from perfbench.workloads import FuelEtlRuns

    class Toy(FuelEtlRuns):
        stations, new_per_run, delay_s = 60, 12, 0.0

    wl = Toy(9)
    wl.prepare(str(tmp_path / "inputs"))
    wl.start(spark)
    wl.begin_pass(str(tmp_path / "pass"))
    for op in wl.ops():
        assert wl.check(op, wl.run_op(spark, trace.NullTracer(), op)), op
    wl.end_pass()
    extras = wl.layer_extras()
    assert extras["sinks.rows_inserted"] == len(wl.model.valid(wl.runs))
    requested = sum(wl.n_requested.values())
    assert extras["sources.fetches"] >= requested
    assert extras["sources.fetches_per_key"] == extras["sources.fetches"] / requested
