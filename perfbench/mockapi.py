"""In-process mock of the reference's fuel-station REST API, and the
pure-Python model of what the ETL must produce from it.

The API is a deterministic function of ``(seed, run, station id)``, so
the session's process (list endpoint) and the Python workers (detail fan-out) serve
the same data without sharing state. It has what the reference's cron
job has to cope with (``index.js:29-60``):

* a seeded share of stations with a null ``Nome`` in the list;
* ids listed but with no detail record (the request fails);
* a seeded share of detail records with a null ``Morada``;
* new stations in every run, and price changes between runs;
* a fixed delay per detail request, so the fan-out overlapping the
  reference's N x RTT loop stays visible in the timings.

``StationModel`` answers the same questions from the generator alone —
the expected dimension keys, fact row count, latest-price rows and
changed-price count after each run — so the checks never trust the
engine to grade itself.
"""

from __future__ import annotations

import json
import random
import time

from etl_fuel_priceguide_ec2_spark.contract import rowhash

LIST_SCHEMA = "Id long, Nome string"
DETAIL_SCHEMA = "Codigo long, Nome string, Marca string, Morada string, Preco double"
LATEST_COLS = ["Id", "price", "run_ts"]
BRANDS = ("GALP", "REPSOL", "BP", "CEPSA", "PRIO", "INTERMARCHE")

_NULL_NOME = 0.05
_NO_DETAIL = 0.03
_NULL_MORADA = 0.04
_PRICE_MOVES = 0.3


class StationModel:
    """The seeded station universe: ``n0`` stations at run 1 and
    ``new_per_run`` more at every later run."""

    def __init__(self, seed: int, n0: int, new_per_run: int):
        self.seed, self.n0, self.new_per_run = seed, n0, new_per_run

    def _rand(self, sid: int, salt: int) -> random.Random:
        return random.Random((self.seed * 1_000_003 + sid) * 131 + salt)

    def size(self, run: int) -> int:
        return self.n0 + (run - 1) * self.new_per_run

    def run_ts(self, run: int) -> str:
        return f"2024-03-{run:02d} 06:00:00"

    def nome(self, sid: int) -> str | None:
        rnd = self._rand(sid, 1)
        return None if rnd.random() < _NULL_NOME else f"Posto {sid}"

    def has_detail(self, sid: int) -> bool:
        return self._rand(sid, 2).random() >= _NO_DETAIL

    def morada(self, sid: int) -> str | None:
        rnd = self._rand(sid, 3)
        return None if rnd.random() < _NULL_MORADA else f"Rua {sid % 997}, {sid}"

    def price(self, sid: int, run: int) -> float:
        """Price in euros with three decimals, kept in integer millis so
        the model and the engine see the identical double."""
        millis = 1400 + self._rand(sid, 4).randrange(700)
        for r in range(2, run + 1):
            rnd = self._rand(sid, 100 + r)
            if rnd.random() < _PRICE_MOVES:
                millis += rnd.choice((-1, 1)) * rnd.randrange(1, 60)
        return millis / 1000

    def list_body(self, run: int) -> str:
        ids = list(range(self.size(run)))
        random.Random(self.seed * 7 + run).shuffle(ids)
        return json.dumps({"resultado": [{"Id": i, "Nome": self.nome(i)} for i in ids]})

    def detail_body(self, sid: int, run: int) -> str:
        return json.dumps(
            {
                "Codigo": sid,
                "Nome": self.nome(sid),
                "Marca": BRANDS[sid % len(BRANDS)],
                "Morada": self.morada(sid),
                "Preco": self.price(sid, run),
            }
        )

    # --- expected ETL outputs ---------------------------------------

    def requested(self, run: int) -> list[int]:
        """Ids the detail fan-out asks for: listed with a non-null Nome."""
        return [i for i in range(self.size(run)) if self.nome(i) is not None]

    def valid(self, run: int) -> list[int]:
        """Ids that survive both null filters and the inner enrich join."""
        return [
            i for i in self.requested(run)
            if self.has_detail(i) and self.morada(i) is not None
        ]

    def input_rows(self, run: int) -> int:
        """Rows the API generates for one run: list rows plus detail
        records."""
        return self.size(run) + sum(self.has_detail(i) for i in self.requested(run))

    def input_bytes(self, run: int) -> int:
        """Bytes of the distinct responses of one run."""
        return len(self.list_body(run)) + sum(
            len(self.detail_body(i, run)) for i in self.requested(run) if self.has_detail(i)
        )

    def expected(self, runs: int) -> dict[int, dict]:
        """What the tables and reads hold after each cron run
        ``1..runs``."""
        valid = self.valid(runs)
        prices = {i: [self.price(i, r) for r in range(1, runs + 1)] for i in valid}
        out, fact_rows, changed = {}, 0, 0
        for r in range(1, runs + 1):
            live = [i for i in valid if i < self.size(r)]
            fact_rows += len(live)
            if r > 1:
                changed += sum(
                    prices[i][r - 1] != prices[i][r - 2] for i in live if i < self.size(r - 1)
                )
            out[r] = {
                "dim_keys": rowhash([(i,) for i in live], ["Id"]),
                "fact_rows": fact_rows,
                "latest": rowhash(
                    [(i, prices[i][r - 1], self.run_ts(r)) for i in live], LATEST_COLS
                ),
                "changed": changed,
            }
        return out


class StationApi:
    """The fetcher handed to ``sources.rest``: ``mock://list/<run>`` and
    ``mock://detail/<run>/<id>``. Detail requests sleep ``delay_s`` and
    are counted in the ``requests`` accumulator; an id with no detail
    record raises, as a failed request would."""

    def __init__(self, model: StationModel, delay_s: float, requests=None):
        self.model, self.delay_s, self.requests = model, delay_s, requests

    def __call__(self, url: str) -> str:
        kind, _, rest = url.removeprefix("mock://").partition("/")
        if kind == "list":
            return self.model.list_body(int(rest))
        run, _, sid = rest.partition("/")
        time.sleep(self.delay_s)
        if self.requests is not None:
            self.requests.add(1)
        if not self.model.has_detail(int(sid)):
            raise KeyError(f"no station {sid}")
        return self.model.detail_body(int(sid), int(run))
