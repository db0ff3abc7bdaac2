"""EP1 — the reference's end-to-end ETL pipeline, as lazy DataFrame
lineages.

Reference trace (``index.js:29-60``): config → list fetch → projection →
per-id detail fetch (enrichment join) → null filter → wide projection →
[dim conditional-insert, fact append]. The reference executes this as
sequential awaited network calls on one thread; here each sink is one
Catalyst plan, optimized as a whole and executed partition-parallel.
The two sinks are two actions, and each runs its whole upstream again:
harmless over the parquet scans of this casting, but a REST source must
be fetched once and shared — ``sources.rest.enrich_from_detail_endpoint``
pins its responses when called, so both sinks read the same ones.

Fixture casting: ``customer`` plays the station list+detail source
(c_custkey=Id, c_name=Nome, c_mktsegment=Marca), ``nation``/``region``
play the address enrichment, ``events`` plays the per-run price
snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators import joins, projections


def build_station_dim_src(
    customer: DataFrame, nation: DataFrame, region: DataFrame, now_ts: str
) -> DataFrame:
    """List scan → P1 rename → J1 enrichment (broadcast) → P2 null filter
    → P3/P4 shaping → P5 audit columns. Pure narrow ops + broadcast
    joins: zero shuffles of the big side."""
    # P1: list projection {Id, Nome} -> {id, nome} (index.js:88-92);
    # the list-side nome is renamed before the join — Spark's default
    # case-insensitive resolution would otherwise collide with detail Nome
    listed = projections.project_rename(customer, {"c_custkey": "id", "c_name": "nome"})
    listed = listed.withColumnRenamed("nome", "nome_list")
    # J1: enrichment join back to the "detail" source (index.js:112-141)
    detail = (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("c_custkey").alias("Codigo"),
            F.col("c_name").alias("Nome"),
            F.col("c_mktsegment").alias("Marca"),
            F.struct(F.col("n_name").alias("nation"), F.col("r_name").alias("region")).alias("Morada"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    enriched = joins.enrich(listed, detail, on=[("id", "Codigo")])
    # P2: null-rejecting filter (index.js:118-120)
    filtered = projections.reject_nulls(enriched, ["Nome", "Morada"])
    # P3/P4: wide projection, drop the join duplicate + unpersisted cols
    shaped = filtered.select("Codigo", "Nome", "Marca", "Morada")
    # P5: audit columns (index.js:364-365), fixed instant for determinism
    return projections.with_audit_columns(shaped, now_ts)


def merge_station_dim(src: DataFrame, dim: DataFrame) -> DataFrame:
    """S4/J2: insert-if-absent of src into dim (the conditional-put
    semantics of index.js:368), as anti-join + union."""
    return joins.upsert_plan(src, dim, src_key="Codigo", dim_key="Codigo")


def build_fact_append(events: DataFrame, run_ts: str) -> DataFrame:
    """S5: the per-run price-snapshot append (index.js:329-345) —
    snapshot rows stamped with the run timestamp, real TimestampType
    internally, formatted string only at the edge (index.js:336)."""
    return events.select(
        F.col("user_id").alias("Id"),
        F.col("value").alias("price"),
        F.col("event_type").alias("fuel_type"),
        F.lit(run_ts).cast("timestamp").alias("run_ts"),
        F.date_format(F.lit(run_ts).cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("Timestamp"),
    )


def run_with_metrics(customer: DataFrame, nation: DataFrame, region: DataFrame, now_ts: str):
    """EP1 with A2-style run metrics captured via df.observe — the
    Spark-native version of the reference's count logging
    (index.js:94,143): metrics ride along with the job (no extra
    actions/scans), collected from the Observation after the sink runs.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("etl_run_metrics")
    src = build_station_dim_src(customer, nation, region, now_ts)
    observed = src.observe(
        obs,
        F.count(F.lit(1)).alias("n_filtered"),
        F.approx_count_distinct(F.col("Codigo")).alias("n_keys"),  # observe() forbids distinct aggs
    )
    return observed, obs
