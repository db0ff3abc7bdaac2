"""The reference's complete workflow (``index.js:29-60``), end to end on
this engine — what a user of ``ptv1p3r/etl-fuel-priceguide-ec2`` runs
after switching. Every step maps to a reference line range; run it:

    python examples/fuel_priceguide_pipeline.py [workdir]

Steps:
  1. config           (SSM prefix scan        → spark.conf prefix scan)
  2. extract list     (GET endpoint_01        → partitioned DataSource)
  3. enrich + filter  (N sequential GETs      → broadcast join + filter)
  4. load dim         (conditional put        → SCD2 merge: history kept)
  5. append facts     (timestamped snapshots  → run_date partitions)
  6. query            (KeyCondition + Limit 1 → latest_per_key)
  7. diff             (unfinished TODO        → change_deltas, completed)
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from etl_fuel_priceguide_ec2_spark import sinks
from etl_fuel_priceguide_ec2_spark.operators import asof, scd, windows
from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin
from etl_fuel_priceguide_ec2_spark.session import get_session
from etl_fuel_priceguide_ec2_spark.sources import config
from etl_fuel_priceguide_ec2_spark.sources.rest_datasource import FuelStationDataSource


def main(workdir: str | None = None) -> dict:
    workdir = workdir or tempfile.mkdtemp(prefix="fuelguide-")
    spark = get_session("fuel-priceguide-example")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. config (index.js:29-38)
    spark.conf.set("fuelpriceguide.endpoint_01", "mock://stations")
    spark.conf.set("fuelpriceguide.num_stations", "500")
    cfg = config.load_config(spark, "fuelpriceguide", required=["endpoint_01", "num_stations"])

    # 2.+3. extract + enrich: the DataSource partitions the id keyspace,
    # so the reference's sequential per-id loop (index.js:112-116) runs
    # as parallel executor tasks; P2 null filter (index.js:118-120).
    # Pinned once, like the reference's one fetch per station per run
    # (index.js:109-144): the SCD2 init, the SCD2 merge and both fact
    # appends read these responses instead of re-fetching each time.
    spark.dataSource.register(FuelStationDataSource)
    stations = iteration_pin()(
        spark.read.format("fuelstations")
        .option("endpoint", cfg["endpoint_01"])
        .option("num_stations", cfg["num_stations"])
        .option("num_partitions", "8")
        .load()
        .filter(F.col("Nome").isNotNull() & F.col("Marca").isNotNull())
    )

    # 4. dimension load — reference: insert-if-absent (index.js:368);
    # engine default: SCD2, so attribute changes keep history
    dim_path = f"{workdir}/station_dim"
    run1 = scd.scd2_init(stations.drop("Preco"), "Codigo", "2024-01-01 00:00:00")
    run1.write.mode("overwrite").parquet(dim_path)

    # simulate the next cron run: brand changed for every 50th station
    stations2 = stations.withColumn(
        "Marca", F.when(F.col("Codigo") % 50 == 0, "rebranded").otherwise(F.col("Marca"))
    )
    dim = spark.read.parquet(dim_path)
    merged = scd.scd2_merge(
        dim, stations2.drop("Preco"), "Codigo", ["Nome", "Marca"], "2024-02-01 00:00:00"
    )
    merged.write.mode("overwrite").parquet(f"{workdir}/station_dim_v2")

    # 5. fact append (index.js:329-345) — one snapshot per run, pruned by run_date
    fact_path = f"{workdir}/price_facts"
    for run_ts, src in [("2024-01-01 00:00:00", stations), ("2024-02-01 00:00:00", stations2)]:
        snap = src.select(
            F.col("Codigo").alias("Id"),
            F.col("Preco").alias("price"),
            F.lit(run_ts).cast("timestamp").alias("run_ts"),
        )
        sinks.append_fact(snap, fact_path)

    # 6. the reference's flagship read (index.js:301-321): latest price
    # per station as of a moment — across ALL stations in one pass
    facts = sinks.read_fact(spark, fact_path)
    latest = asof.latest_per_key(facts, ["Id"], "run_ts", as_of="2024-02-15 00:00:00")

    # 7. the TODO the reference never finished (index.js:272): which
    # prices changed between runs
    deltas = windows.change_deltas(facts, ["Id"], "run_ts", "price")
    changed = deltas.filter(F.col("changed"))

    out = {
        "stations": stations.count(),
        "dim_rows_v2": merged.count(),
        "dim_current": merged.filter(F.col("is_current")).count(),
        "fact_rows": facts.count(),
        "latest_rows": latest.count(),
        "changed_prices": changed.count(),
    }
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
