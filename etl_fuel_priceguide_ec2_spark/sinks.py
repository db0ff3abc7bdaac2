"""S4/S5 — sinks: dimension upsert and append-only fact snapshots.

Reference semantics:
  * S4 conditional-upsert of the station dimension — DynamoDB ``put``
    with ``ConditionExpression: attribute_not_exists(Id)``
    (``index.js:242-294``, condition ``index.js:368``): insert if
    absent, never overwrite.
  * S5 unconditional append of `(Id, Combustiveis, Timestamp)` price
    snapshots (``index.js:178-200``, ``329-345``).

Spark-first storage design (100 TB):
  * Fact table: parquet, partitioned by run date AND run id
    (``run_date=YYYY-MM-DD/run_id=<ts>``) — every as-of/latest query
    with a time bound prunes on run_date; the overwrite unit is ONE RUN
    (the run_id sub-partition), so replaying a run is idempotent while
    multiple runs per day (cron, micro-batches) never clobber each
    other.
  * Dimension: anti-join + append per run (core Spark). This is
    MERGE-WHEN-NOT-MATCHED; with Delta/Iceberg available the same
    ``upsert_plan`` DataFrame feeds ``MERGE INTO`` for transactional
    semantics. Non-atomicity of the plain-parquet variant is documented
    here deliberately (SURVEY.md §7 "hard parts").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark.operators import joins


def append_fact(
    snapshot: DataFrame,
    path: str,
    run_ts_col: str = "run_ts",
    run_id_suffix: str | None = None,
) -> None:
    """S5: append a run's snapshot rows, partitioned by
    ``run_date=.../run_id=...``.

    The overwrite unit equals ONE RUN: dynamic partition overwrite
    replaces only the ``(run_date, run_id)`` sub-partition derived from
    the run's timestamp, so replaying the same run_ts is idempotent
    while a second run on the same calendar date (cron every N minutes,
    streaming micro-batches) lands in its own run_id dir and never
    deletes earlier snapshots. run_date stays the pruning key for
    time-bounded reads; run_id adds no read-side cost (readers filter
    on run_date / the data's run_ts column).

    Assumes one distinct run_ts per call (the reference's per-run cron
    model, index.js:329-345); multi-run DataFrames still work — each
    run lands in its own sub-partition.

    ``run_id_suffix`` extends the run identity beyond the timestamp:
    callers whose run_ts is NOT unique per call (a streaming
    foreachBatch using the batch's max event time — two batches can
    share a max ts) must append a per-call stable token (the batch id)
    or the second call's dynamic overwrite deletes the first call's
    rows (code-review r16)."""
    run_id = F.date_format(F.col(run_ts_col), "yyyyMMdd'T'HHmmssSSS")
    if run_id_suffix is not None:
        run_id = F.concat(run_id, F.lit(run_id_suffix))
    out = snapshot.withColumn(
        "run_date", F.to_date(F.col(run_ts_col))
    ).withColumn("run_id", run_id)
    # sort by key inside each partition file: parquet row-group min/max
    # stats then skip row groups on Id point lookups (W1 reads), the
    # file-level complement to run_date partition pruning
    out = out.sortWithinPartitions("Id") if "Id" in out.columns else out
    (
        out.write.partitionBy("run_date", "run_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )


def read_fact(spark: SparkSession, path: str) -> DataFrame:
    """Scan the fact table; date predicates prune run_date partitions."""
    return spark.read.parquet(path)


def delta_available() -> bool:
    """True iff the delta-spark package is importable — the feature
    gate for the transactional MERGE path (the PIL-gate pattern:
    detect, never require)."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _delta_session_configured(spark: SparkSession) -> bool:
    """True iff the SESSION can actually execute Delta operations —
    the package being importable is necessary but not sufficient
    (code-review r16): a session built without the Delta SQL extension
    fails every DeltaTable/format("delta") call with an analysis error,
    so auto-detection must key on the capability, not the import."""
    try:
        exts = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "DeltaSparkSessionExtension" in exts


def _fs_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the session's Hadoop filesystem, so it
    answers correctly for hdfs://, s3a://, and file: paths alike."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _has_part_files(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and directly holds a ``part-`` data file
    — a table Spark has committed at least one write into. Leftovers of
    an uncommitted write sit under ``_temporary`` and do not count."""
    if not _fs_path_exists(spark, path):
        return False
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return any(
        st.isFile() and st.getPath().getName().startswith("part-")
        for st in fs.listStatus(hpath)
    )


def _is_existing_non_delta_table(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and is NOT a Delta table — the case
    where auto mode must keep writing parquet (and explicit Delta must
    refuse) so the bootstrap branch can never clobber a plain-parquet
    dimension's history. A Delta table is identified by its
    ``_delta_log`` dir, checked via the filesystem rather than
    DeltaTable.isDeltaTable so auto-detection works (and stays cheap)
    even on sessions without the Delta extension."""
    if not _fs_path_exists(spark, path):
        return False
    return not _fs_path_exists(spark, path.rstrip("/") + "/_delta_log")


def upsert_dim(
    src: DataFrame, path: str, key: str, use_delta: bool | None = None
) -> None:
    """S4: insert-if-absent into the dimension table at ``path``
    (DynamoDB conditional-put semantics, ``index.js:368``).

    Two storage paths behind one contract (VERDICT r15 item 6):

    * ``use_delta=None`` (auto) / ``False`` — portable plain-parquet:
      the first run (no ``part-`` file under ``path`` yet) bootstraps
      the table, and an unreadable existing table raises rather than
      being overwritten; later runs append only rows whose
      key is absent (anti-join against current keys — only the key
      column of the existing dim is ever shuffled/broadcast, not its
      payload). NON-ATOMIC across writers: two concurrent runs can both
      observe a key absent and both append it (SURVEY.md §7); correct
      under the reference's single-cron-writer model.
    * Delta (auto-selected when delta-spark is importable AND the
      session carries the Delta SQL extension AND ``path`` is not an
      existing plain-parquet table, or forced with ``use_delta=True``)
      — transactional ``MERGE ... WHEN NOT MATCHED THEN INSERT``:
      Delta's optimistic concurrency control serializes conflicting
      writers, closing the concurrent-writer race. Same inserted rows
      either way on a quiet table (the anti-join IS
      when-not-matched-insert); only atomicity differs.
      ``use_delta=True`` without the package raises ImportError loudly
      rather than silently downgrading atomicity; with the package but
      an unconfigured session it raises RuntimeError.

    Format-flip safety (code-review r16): a dimension table that was
    bootstrapped/grown through the parquet path must never be
    OVERWRITTEN by the Delta bootstrap — that would replace the whole
    history with the current batch's rows, inverting the
    insert-if-absent contract. Auto mode therefore stays on the
    parquet path for an existing non-Delta table; ``use_delta=True``
    on one raises ValueError (migrate explicitly, e.g.
    ``CONVERT TO DELTA``, then retry).
    """
    spark = src.sparkSession
    if use_delta is None:
        use_delta = (
            delta_available()
            and _delta_session_configured(spark)
            and not _is_existing_non_delta_table(spark, path)
        )
    if use_delta:
        from delta.tables import DeltaTable  # ImportError = loud gate

        if not _delta_session_configured(spark):
            raise RuntimeError(
                "upsert_dim(use_delta=True): delta-spark is importable but "
                "this session lacks the Delta SQL extension "
                "(spark.sql.extensions) — rebuild the session with "
                "configure_spark_with_delta_pip / the Delta extension+catalog "
                "configs rather than silently downgrading atomicity"
            )
        if not DeltaTable.isDeltaTable(spark, path):
            if _fs_path_exists(spark, path):
                raise ValueError(
                    f"upsert_dim(use_delta=True): {path!r} holds existing "
                    "non-Delta data; refusing to overwrite the dimension "
                    "history with one batch — convert the table to Delta "
                    "explicitly or pass use_delta=False"
                )
            src.write.format("delta").mode("overwrite").save(path)
            return
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(src.alias("s"), f"t.`{key}` = s.`{key}`")
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    if _fs_path_exists(spark, path.rstrip("/") + "/_delta_log"):
        # the format-flip guard's other direction (code-review r16): a
        # raw-parquet append into a Delta table writes files the
        # _delta_log never references — invisible to Delta readers,
        # duplicate keys for raw readers, no error from either
        raise ValueError(
            f"upsert_dim: {path!r} is a Delta table; the plain-parquet "
            "path would append files its transaction log never "
            "references — run in a Delta-capable session (or pass "
            "use_delta=True) instead"
        )
    if not _has_part_files(spark, path):
        src.write.mode("overwrite").parquet(path)
        return
    # any read error from here on propagates: bootstrapping over an
    # unreadable table (corrupt footer, transient FS error) would replace
    # the whole history with one batch, inverting insert-if-absent
    existing = spark.read.parquet(path)
    inserts = joins.new_keys(src, existing, src_key=key, dim_key=key)
    inserts.write.mode("append").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write a hash-bucketed (optionally sorted) parquet table into the
    session catalog. Bucketing is the storage-level half of the 100 TB
    join strategy: two fact tables bucketed on the same key with the
    same bucket count join WITHOUT any Exchange — the shuffle is paid
    once at write time and amortized over every subsequent join/agg on
    that key (equivalently: a persisted pre-partitioning reused across
    stages). sortBy additionally pre-orders within buckets so the
    sort-merge join skips its per-task sort.

    Bucket metadata lives in the catalog (saveAsTable) — plain
    ``.parquet(path)`` writes would lose it."""
    w = df.write.bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode("overwrite").format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed catalog table; the scan reports the bucket spec
    so the planner can elide shuffles on bucket-key joins/aggregates."""
    return spark.table(table)


def compact(spark: SparkSession, path: str, target_partitions: int = 8) -> int:
    """Small-file compaction: rewrite a table directory into
    ``target_partitions`` files per partition dir. Long-running append
    pipelines (S5) accrete one file per run per partition; at 100 TB the
    scan's file-listing and task-scheduling overhead grows with file
    count, so periodic compaction is part of the sink contract.
    Returns the new file count. (With a table format — Delta/Iceberg —
    this is OPTIMIZE; on plain parquet it is rewrite-and-swap.)

    Concurrency contract: SINGLE WRITER, NO CONCURRENT READERS. The
    rename-aside swap is crash-safe for the next compact() call (the
    recovery branch restores ``.old``), but between the two renames the
    live path briefly does not exist — a concurrent ``read_fact()`` in
    that window fails. Both renames assume ``path``, ``.old`` and
    ``.compacting`` share a filesystem (os.rename raises EXDEV
    otherwise); a failed second rename is rolled back so the table is
    never stranded in the missing-path state. Plain-parquet limitation —
    a real deployment wanting lock-free readers uses a table format.
    """
    import glob
    import os
    import shutil

    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        # a previous compaction crashed between the two renames: the
        # complete pre-compaction tree is still at .old — restore it
        # before doing anything else
        os.rename(old, path)

    df = spark.read.parquet(path)
    partition_cols = [c for c in df.columns if c in ("run_date", "run_id")]
    tmp = path.rstrip("/") + ".compacting"
    if partition_cols:
        # target_partitions files PER partition dir: salt each row into
        # one of target_partitions buckets within its partition, then
        # hash-repartition on (partition cols, salt) with enough slots
        # for every (partition, bucket) combination. Plain
        # repartition(N, run_date) would put each date into ONE task —
        # 1 file per date and a full-date-in-one-task skew at scale.
        n_parts = df.select(*partition_cols).distinct().count()
        salted = df.withColumn(
            "__salt", (F.rand(seed=7) * target_partitions).cast("int")
        )
        writer = salted.repartition(
            max(n_parts * target_partitions, 1), *partition_cols, "__salt"
        ).drop("__salt")
    else:
        writer = df.coalesce(target_partitions)
    w = writer.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    # swap with a rename-aside: the live path is missing only between
    # the two renames (microseconds), and the old data survives at
    # path.old until the new tree is in place — a crash at any point
    # leaves at least one complete copy on disk (recovered above).
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back: never strand the missing-path state
        raise
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def expire_partitions(spark: SparkSession, path: str, before_date: str) -> int:
    """Retention: drop fact partitions with run_date < before_date.
    Partition-dir removal — no rewrite of surviving data (the reason the
    fact table partitions on run_date in the first place). Returns the
    number of dropped partitions."""
    import re
    import shutil
    from pathlib import Path

    dropped = 0
    for child in Path(path).iterdir():
        m = re.match(r"run_date=(.+)$", child.name)
        if m and m.group(1) < before_date:
            shutil.rmtree(child)
            dropped += 1
    return dropped
