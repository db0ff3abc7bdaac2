"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files, a different seed writes different ones.
The engine only ever sees the files (and the mock station API in
``mockapi``), never the seed.

* ``write_fixture`` writes the ten tables the registry queries read,
  shaped like the TPC-H-ish ``sf`` fixtures the registry is tested on (same schemas,
  value ranges and key relationships) at a reduced row count.
* ``write_corpus`` writes one curation corpus (``documents`` and
  ``embeddings``) with planted near-duplicate chains whose depth sets
  how many connected-components rounds a keep-list pass needs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
DIM = 64

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _unit_rows(rng: np.random.Generator, n: int) -> np.ndarray:
    m = rng.standard_normal((n, DIM))
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _emb_column(m: np.ndarray) -> pa.Array:
    flat = pa.array(m.astype(np.float32).ravel(), type=pa.float32())
    return pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))


def _documents(doc_ids, texts, rng) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in doc_ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(vec_ids, m, rng) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": _emb_column(m),
            "label": pa.array(rng.integers(0, 10, len(vec_ids)), pa.int32()),
        }
    )


def fixture_rows(sf: float) -> dict[str, int]:
    """Row counts of the query fixture at scale factor ``sf`` (lineitem
    is drawn per order and averages four lines)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the query fixture as ``<out_dir>/<table>.parquet``; returns
    the row count of every table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = fixture_rows(sf)
    nc, ns, npart, no, ne = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"], rows["events"]
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, 1)
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array([_SEGMENTS[i] for i in r.integers(0, 5, nc)]),
        }
    )
    r = _rng(seed, 2)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
        }
    )
    r = _rng(seed, 3)
    adj, noun = r.integers(0, 8, npart), r.integers(0, 8, npart)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, npart)]),
            "p_type": pa.array([_PTYPES[t] for t in r.integers(0, 6, npart)]),
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
        }
    )
    r = _rng(seed, 4)
    order_days = r.integers(0, 2404, no)
    orderdate = _EPOCH_1995 + order_days * np.timedelta64(_DAY_US, "us")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[s] for s in r.integers(0, 3, no)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
            "o_orderpriority": pa.array([_PRIORITIES[p] for p in r.integers(0, 5, no)]),
        }
    )
    r = _rng(seed, 5)
    per_order = r.integers(1, 8, no)
    nl = int(per_order.sum())
    l_orderkey = np.repeat(np.arange(no), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = r.integers(1, 51, nl).astype(np.float64)
    ship = orderdate[l_orderkey] + r.integers(1, 122, nl) * np.timedelta64(_DAY_US, "us")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey, pa.int64()),
            "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
            "l_quantity": pa.array(qty),
            # whole units: revenue (price x (1 - discount)) then has two
            # decimals, so a query rounding a revenue difference to cents
            # never meets a half-cent tie, which the engine and DuckDB
            # round differently
            "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2100.0, nl))),
            "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[f] for f in r.integers(0, 3, nl)]),
            "l_linestatus": pa.array([("F", "O")[s] for s in r.integers(0, 2, nl)]),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    rows["lineitem"] = nl
    r = _rng(seed, 6)
    ts = np.sort(r.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(nc // 10, 16), ne), pa.int64()),
            "event_type": pa.array([_EVENT_TYPES[t] for t in r.integers(0, 5, ne)]),
            "value": pa.array(np.round(r.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
        }
    )
    r = _rng(seed, 7)
    nd = rows["documents"]
    tables["documents"] = _documents(np.arange(nd), _texts(r, nd, 8, 100), r)
    r = _rng(seed, 8)
    nv = rows["embeddings"]
    tables["embeddings"] = _embeddings(np.arange(nv), _unit_rows(r, nv), r)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return rows


# --- curation corpora --------------------------------------------------


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 1))}


def _jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def _doc_chain(rng: np.random.Generator, depth: int) -> list[str]:
    """``depth + 1`` documents where each neighbour pair has 3-gram
    Jaccard >= 0.55 and every pair two or more steps apart < 0.45, so the
    near-dup graph of the chain is a path of ``depth`` edges. The margins
    keep the chain shape clear of the 0.5 threshold."""
    while True:
        words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), 100)]
        chain = [list(words)]
        fresh = list(rng.permutation(100))
        for _ in range(depth):
            nxt = list(chain[-1])
            for pos in fresh[:8]:
                choices = [w for w in VOCAB if w != nxt[pos]]
                nxt[pos] = choices[int(rng.integers(0, len(choices)))]
            fresh = fresh[8:]
            chain.append(nxt)
        sets = [_shingles(c) for c in chain]

        def shaped(i: int, j: int) -> bool:
            jac = _jaccard(sets[i], sets[j])
            return jac >= 0.55 if j == i + 1 else jac < 0.45

        if all(shaped(i, j) for i in range(len(sets)) for j in range(i + 1, len(sets))):
            return [" ".join(c) for c in chain]


def _vec_chain(rng: np.random.Generator, depth: int) -> np.ndarray:
    """``depth + 1`` unit vectors 45 degrees apart on one great circle:
    neighbours sit at squared distance 0.59 (under the 1.2 threshold),
    vectors two steps apart at 2.0, so the pair graph is a path."""
    u, w = _unit_rows(rng, 2)
    w = w - (w @ u) * u
    w /= np.linalg.norm(w)
    angles = np.arange(depth + 1) * (np.pi / 4)
    return np.cos(angles)[:, None] * u + np.sin(angles)[:, None] * w


def write_corpus(
    out_dir: str, seed: int, depth: int, dup_share: float, n_docs: int, n_vecs: int
) -> None:
    """Write a curation corpus: ``documents`` and ``embeddings`` with
    about ``dup_share`` of their rows in planted groups. A group is a
    near-dup chain of ``depth`` edges (ids increasing along the chain, so
    min-label propagation walks its full length) plus one exact copy of
    the chain's last member."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 100)
    group = depth + 2
    groups = max(1, round(dup_share * n_docs / group))
    blocks = [[t] for t in _texts(r, n_docs - groups * group, 8, 100)]
    for _ in range(groups):
        chain = _doc_chain(r, depth)
        blocks.append(chain + [chain[-1]])
    texts = [t for i in r.permutation(len(blocks)) for t in blocks[i]]
    _write(
        _documents(np.arange(n_docs), texts, r),
        os.path.join(out_dir, "documents.parquet"),
    )

    vgroups = max(1, round(dup_share * n_vecs / group))
    vblocks = list(_unit_rows(r, n_vecs - vgroups * group)[:, None, :])
    for _ in range(vgroups):
        chain = _vec_chain(r, depth)
        vblocks.append(np.vstack([chain, chain[-1:]]))
    vecs = np.vstack([vblocks[i] for i in r.permutation(len(vblocks))])
    _write(
        _embeddings(np.arange(n_vecs), vecs, r),
        os.path.join(out_dir, "embeddings.parquet"),
    )
