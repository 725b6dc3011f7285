"""Batch materialization: latest-value-per-entity-key (A1 + S8).

The reference's online stores hold exactly one latest row per
(entity key, feature table): Redis overwrites hash fields at ingest
(``RedisHashDecoder.java:83-96``), BigTable takes the latest cell
(``BigTableOnlineRetriever.java:100``), Cassandra uses
``writetime(column)`` (``CassandraOnlineRetriever.java:175-177``). The
materialization job that *produces* that layout lived in feast-spark; here
it is a first-class batch operator.

Scale design (100 TB source, 1000 executors):
- Default strategy is ``groupBy(keys).agg(max(struct(ts, tiebreak,
  payload)))`` — a hash aggregate with **map-side partial combine**, so the
  shuffle carries at most one row per (key, input partition) instead of the
  full history. For high-duplication event streams this is orders of
  magnitude less shuffle I/O than a window sort.
- ``strategy="window"`` (row_number over key, ts desc) is kept for
  completeness; it shuffles *all* rows and sorts them — only preferable
  when the aggregate payload would be pathologically wide.
- The result is written partitioned into ``spark.sql.shuffle.partitions``
  hash buckets of the entity key (filename-stable), so online reads of a
  key-set can prune; AQE coalesces small outputs.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from feast_java_old_spark.registry.model import FeatureTable
from feast_java_old_spark.registry.registry import Registry
from feast_java_old_spark.sources.batch import read_batch_source


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    event_ts_col: str = "event_timestamp",
    created_ts_col: Optional[str] = None,
    strategy: str = "agg",
) -> DataFrame:
    """Reduce a history to one latest row per key.

    Latest-wins rule (A1): max ``event_ts_col``; ties broken by
    ``created_ts_col`` when present (the reference's created-timestamp
    column exists exactly for this), then by the remaining payload for
    full determinism.
    """
    value_cols = [c for c in df.columns if c not in keys]
    if strategy == "agg":
        order_cols = [event_ts_col]
        if created_ts_col and created_ts_col in df.columns:
            order_cols.append(created_ts_col)
        rest = [c for c in value_cols if c not in order_cols]
        # max(struct(...)) compares lexicographically by field position:
        # event_ts first, then tiebreaks — and combines map-side.
        packed = F.max(F.struct(*order_cols, *rest)).alias("__latest")
        out = df.groupBy(*keys).agg(packed)
        return out.select(*keys, *[F.col(f"__latest.{c}").alias(c) for c in value_cols])
    if strategy == "window":
        order = [F.col(event_ts_col).desc()]
        if created_ts_col and created_ts_col in df.columns:
            order.append(F.col(created_ts_col).desc())
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def latest_per_key_for(
    df: DataFrame,
    entities: DataFrame,
    keys: list[str],
    event_ts_col: str = "event_timestamp",
    created_ts_col: Optional[str] = None,
    strategy: str = "agg",
    broadcast_entities: bool = True,
) -> DataFrame:
    """:func:`latest_per_key` restricted to a requested entity set:
    semi-join prune the history *before* the reduction, so the aggregate
    only sees the requested keys' rows.

    For an N-row request batch against a 100 TB history this is the
    difference between reducing the whole history and reducing ~N groups
    — Catalyst cannot push the key-equality predicate through the
    aggregate on its own (the equivalence only holds because the
    downstream lookup is keyed on exactly these columns), so the prune
    must be explicit. Result rows are identical to running
    :func:`latest_per_key` on the full history and then joining: keys
    outside the request set could never be read by the lookup.

    ``broadcast_entities=False`` falls back to a shuffled semi join for
    backfill-scale request sets.
    """
    ent = entities.select(*keys).dropDuplicates(keys)
    if broadcast_entities:
        ent = F.broadcast(ent)
    pruned = df.join(ent, on=keys, how="left_semi")
    return latest_per_key(pruned, keys, event_ts_col, created_ts_col, strategy)


def online_table_path(store_path: str, project: str, table: str) -> str:
    return os.path.join(store_path, project, table)


def conform_batch_source(
    spark: SparkSession,
    table: FeatureTable,
    end_ts=None,
    start_ts=None,
) -> DataFrame:
    """Read a feature table's batch source conformed to its declared
    schema: field mapping (P4), optional event-time range filter (pushed
    to the parquet scan), ``event_timestamp`` normalization, and column
    pruning to entities + event_timestamp + declared features
    (+ created-timestamp tiebreak column when present)."""
    src = table.batch_source
    df = read_batch_source(spark, src)

    ts_col = src.event_timestamp_column or "event_timestamp"
    where = None
    if start_ts is not None:
        where = F.col(ts_col) >= F.lit(start_ts)
    if end_ts is not None:
        cond = F.col(ts_col) <= F.lit(end_ts)
        where = cond if where is None else (where & cond)
    # datePartitionColumn (DataSource.java:75-76,131): redundant day-level
    # bounds on the partition column so Catalyst prunes whole partition
    # directories before listing files — at 100 TB this is the difference
    # between scanning a date range and scanning the table. The exact
    # row-level event-ts filter above still applies within kept partitions.
    dp = getattr(src, "date_partition_column", "") or None
    if dp is not None and dp in df.columns:
        if start_ts is not None:
            where = where & (F.col(dp) >= F.to_date(F.lit(start_ts)))
        if end_ts is not None:
            where = where & (F.col(dp) <= F.to_date(F.lit(end_ts)))
    if where is not None:
        df = df.where(where)

    if ts_col != "event_timestamp":
        df = df.withColumnRenamed(ts_col, "event_timestamp")
    created_col = src.created_timestamp_column or None

    cols = list(table.entities) + ["event_timestamp"]
    cols += [f.name for f in table.features if f.name in df.columns]
    if created_col and created_col in df.columns:
        cols.append(created_col)
    return df.select(*cols)


def materialize(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    store_path: str,
    project: str = "default",
    end_ts=None,
    start_ts=None,
    strategy: str = "agg",
) -> str:
    """Materialize a feature table's batch source into its online table.

    Pipeline: read batch source (S1/S2, with field mapping P4) → optional
    event-time range filter (pushed to the parquet scan) → conform to the
    declared schema (entities + event_timestamp + features, dropping
    unrelated source columns) → latest-per-key (A1) → overwrite the online
    table as parquet.

    Returns the online table path.

    If the registry carries an audit logger, the run emits the
    reference's job-status TRANSITION entries (RUNNING at submit,
    READY on success, ERROR on failure — the lifecycle the reference's
    core logs for its ingestion jobs via ``AuditLogger.logTransition``,
    ``AuditLogger.java:108-119``), resource = JOB
    ``materialize:{project}/{table}``.
    """
    table: FeatureTable = registry.get_feature_table(table_name, project)
    audit = getattr(registry, "audit", None)
    job_id = f"materialize:{project}/{table_name}"
    if audit is not None:
        audit.log_transition("RUNNING", "JOB", job_id)
    try:
        df = conform_batch_source(spark, table, end_ts=end_ts, start_ts=start_ts)
        created_col = table.batch_source.created_timestamp_column or None

        latest = latest_per_key(
            df,
            keys=list(table.entities),
            event_ts_col="event_timestamp",
            created_ts_col=created_col,
            strategy=strategy,
        )
        if created_col and created_col in latest.columns:
            latest = latest.drop(created_col)

        path = online_table_path(store_path, project, table_name)
        # Keyed layout: repartition by entity key (each output file covers
        # one hash bucket of keys) and sort within partitions by key, so
        # each file's row groups carry tight min/max statistics on the
        # key columns. No serving plan pushes a key predicate into the
        # scan today (the online lookup is a broadcast semi join;
        # the executed plan shows only `PushedFilters: [IsNotNull(<key>)]`),
        # so point lookups get no row-group skipping from this layout yet.
        latest.repartition(
            *[F.col(k) for k in table.entities]
        ).sortWithinPartitions(*table.entities).write.mode(
            "overwrite"
        ).parquet(path)
    except BaseException:
        if audit is not None:
            audit.log_transition("ERROR", "JOB", job_id, level="ERROR")
        raise
    if audit is not None:
        audit.log_transition("READY", "JOB", job_id)
    return path


def materialize_store(
    spark: SparkSession,
    registry: Registry,
    store_name: str,
    store_path: str,
    end_ts=None,
    start_ts=None,
) -> dict[str, str]:
    """Materialize every feature table a store subscribes to.

    The reference's store ``subscriptions`` (project:name:exclude triples
    with ``*`` wildcards, ``common/models/Store.java:83-144``) decide
    which tables a store materializes; this is the driver loop the
    reference delegates to feast-spark. Returns {project/table: path}.
    Tables materialize independently — on a cluster these are separate
    jobs and can run concurrently; each is one scan + one shuffle.
    """
    out: dict[str, str] = {}
    for project, table in registry.subscribed_tables(store_name):
        path = materialize(
            spark, registry, table.name, store_path,
            project=project, end_ts=end_ts, start_ts=start_ts,
        )
        out[f"{project}/{table.name}"] = path
    return out


def materialize_bucketed(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    n_buckets: int = 32,
    project: str = "default",
    end_ts=None,
    start_ts=None,
) -> str:
    """Materialize into a **bucketed** managed table for co-located joins.

    For backfill-scale retrieval (``strategy="shuffle"``), a parquet
    online table forces both join sides to shuffle. Writing with
    ``bucketBy(entity keys)`` persists the hash partitioning in the table
    metadata, so every later join on the entity key shuffles *only the
    request side* — the online table (the big side, at 100 TB) is read
    already co-located, query after query. This is the standard Spark
    answer to the reference's "key-partitioned KV store" layout.

    Returns the managed table name (read it back with ``spark.table``).
    """
    table = registry.get_feature_table(table_name, project)
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        materialize(
            spark, registry, table_name, tmp,
            project=project, end_ts=end_ts, start_ts=start_ts,
        )
        latest = spark.read.parquet(online_table_path(tmp, project, table_name))
        managed = f"online_{project}__{table_name}"
        spark.sql(f"DROP TABLE IF EXISTS {managed}")
        (
            latest.write.bucketBy(n_buckets, *table.entities)
            .sortBy(*table.entities)
            .mode("overwrite")
            .saveAsTable(managed)
        )
    return managed


def materialize_incremental(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    store_path: str,
    project: str = "default",
    end_ts=None,
    strategy: str = "agg",
    ttl_expire: bool = False,
    now=None,
) -> str:
    """Incremental materialization: only source rows NEWER than the
    online table's high-water mark are read, reduced, and merged
    latest-wins into the existing state — the production cadence (the
    SDK's ``materialize-incremental``), where a full rebuild over 100 TB
    of history per run is a non-starter.

    The high-water mark is ``max(event_timestamp)`` of the current
    online table (one column-pruned aggregate over one row per key —
    tiny next to the source). The delta filter pushes to the source scan
    (``start_ts`` → parquet PushedFilters / partition pruning with a
    ``date_partition_column``), so per-run cost is O(new data + online
    table), independent of history length. First run (no online table)
    falls back to a full :func:`materialize`.

    ``ttl_expire``: with the table's ``max_age_secs`` set, drop rows
    whose event_timestamp is older than ``now − max_age`` from the
    merged state — serving would answer OUTSIDE_MAX_AGE for them anyway
    (J3), so expiring at materialization keeps the online table's size
    proportional to the *live* key set, which is what a TTL'd KV store
    (Redis EXPIRE / Cassandra TTL) does physically.
    """
    table: FeatureTable = registry.get_feature_table(table_name, project)
    path = online_table_path(store_path, project, table_name)
    # Missing table -> first run; any other read error (corruption,
    # permissions) must propagate, not silently trigger a full rebuild.
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        current = spark.read.parquet(path)
    except AnalysisException as ex:
        cond = getattr(ex, "getCondition", lambda: None)() or str(ex)
        if "PATH_NOT_FOUND" not in cond and "UNABLE_TO_INFER_SCHEMA" not in cond:
            raise
        current = None
    if current is None:
        return materialize(
            spark, registry, table_name, store_path,
            project=project, end_ts=end_ts, strategy=strategy,
        )

    high_water = current.agg(
        F.max("event_timestamp").alias("hw")
    ).collect()[0]["hw"]
    df = conform_batch_source(
        spark, table, end_ts=end_ts, start_ts=None
    ).where(F.col("event_timestamp") > F.lit(high_water))
    created_col = table.batch_source.created_timestamp_column or None
    delta = latest_per_key(
        df,
        keys=list(table.entities),
        event_ts_col="event_timestamp",
        created_ts_col=created_col,
        strategy=strategy,
    )
    if created_col and created_col in delta.columns:
        delta = delta.drop(created_col)

    merged = latest_per_key(
        current.unionByName(delta, allowMissingColumns=True),
        keys=list(table.entities),
        event_ts_col="event_timestamp",
        strategy=strategy,
    )
    if ttl_expire and table.max_age_secs and table.max_age_secs > 0:
        now_ts = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
        age = now_ts.cast("long") - F.col("event_timestamp").cast("long")
        merged = merged.where(age <= F.lit(table.max_age_secs))

    tmp = path + "__incr_tmp"
    merged.repartition(*[F.col(k) for k in table.entities]).sortWithinPartitions(
        *table.entities
    ).write.mode("overwrite").parquet(tmp)
    # atomic-enough swap for the local filesystem; on a lake this whole
    # merge is a Delta/Iceberg MERGE INTO and the swap is transactional.
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def key_skew_stats(
    df: DataFrame,
    keys: list[str],
    top_n: int = 10,
) -> DataFrame:
    """Shuffle-skew diagnostic: the ``top_n`` heaviest join/group keys
    with their share of all rows and their ratio to the mean key load.

    Any shuffle keyed on skewed columns (entity joins, latest-per-key
    materialization, as-of windows) is bottlenecked by its heaviest key;
    this is the measurement that decides between the plain and
    skew-bucketed strategies (``asof_join(strategy="bucketed")``,
    salting, AQE skew-join thresholds). One two-phase count aggregate +
    a broadcast of two scalars + distributed TakeOrdered — safe to run
    casually on the full 100 TB input.
    """
    cnt = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    totals = cnt.agg(
        F.sum("cnt").alias("__total"),
        F.avg("cnt").alias("__mean"),
        F.count(F.lit(1)).alias("__distinct"),
    )
    top = (
        cnt.crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws("|", *[F.col(k).cast("string") for k in keys]).alias(
                "key"
            ),
            F.col("cnt"),
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("__mean"), 6).alias("x_mean"),
            F.col("__distinct").alias("n_distinct_keys"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_n)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        "key",
        F.col("cnt").cast("long").alias("cnt"),
        "share",
        "x_mean",
        F.col("n_distinct_keys").cast("long").alias("n_distinct_keys"),
    )


def apply_cdc(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_timestamp",
    seq_col: Optional[str] = None,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Collapse a change-data-capture log (insert/update/delete rows) to
    the final table state: per key, the row with the greatest
    ``(ts, seq)`` wins; if that winning operation is a delete tombstone
    the key is absent from the output.

    This extends :func:`latest_per_key` (A1 latest-wins — the
    reference's online-store upsert rule per FeatureRowDecoder) with the
    delete half of the contract the KV stores handle natively (a Redis
    DEL / BigTable row deletion): tombstones ride the SAME
    ``max(struct)`` aggregate, so deletes cost nothing extra — one
    aggregate-sized shuffle with map-side combine, the payload crossing
    the wire once per (key, task). Feeding the output through
    ``merge_latest_batch`` materializes the post-CDC online table.
    """
    value_cols = [c for c in df.columns if c not in keys]
    order_cols = [ts_col] + ([seq_col] if seq_col and seq_col in df.columns else [])
    rest = [c for c in value_cols if c not in order_cols]
    packed = F.max(F.struct(*order_cols, *rest)).alias("__last")
    out = df.groupBy(*keys).agg(packed)
    return (
        out.where(F.col(f"__last.{op_col}") != F.lit(delete_op))
        .select(
            *keys,
            *[
                F.col(f"__last.{c}").alias(c)
                for c in value_cols
                if c != op_col
            ],
        )
    )


def forget_keys(
    df: DataFrame,
    forget: DataFrame,
    keys: list[str],
    broadcast_forget: bool = True,
) -> DataFrame:
    """Right-to-erasure propagation: drop every row of ``df`` whose key
    appears in the ``forget`` list — an anti join, broadcast when the
    forget set is small (the overwhelmingly common case), shuffled for
    bulk purges. Rewriting an online table or corpus through this and
    re-materializing is the batch half of GDPR deletion; the streaming
    half is a delete tombstone per forgotten key through
    ``streaming.ingest.stream_apply_cdc``.
    """
    f = forget.select(*keys).dropDuplicates(keys)
    if broadcast_forget:
        f = F.broadcast(f)
    return df.join(f, on=keys, how="left_anti")


# ------------------------------------------------- schema-versioned store

def vacuum_store(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    store_path: str,
    as_of,
    project: str = "default",
) -> dict:
    """Physically expire TTL-dead rows from a materialized online table
    — the retention job behind the reference's serve-time staleness
    rule (J3: a row older than ``max_age`` serves OUTSIDE_MAX_AGE,
    ``OnlineServingServiceV2.java`` staleness check): serving already
    *hides* expired rows; this job RECLAIMS them, the way Redis TTLs
    evict or a table-format VACUUM drops dead files. Without it an
    online store grows with key-cardinality history forever — at 100 TB
    the periodic vacuum is what keeps lookup scans bounded to live
    keys.

    Keeps rows with ``event_timestamp ≥ as_of − max_age_secs`` (the
    exact complement of the serve-time staleness predicate, so a
    vacuumed store serves identical VALUES to an unvacuumed one at
    ``request_ts = as_of``; the status detail degrades from
    OUTSIDE_MAX_AGE to NOT_FOUND — the same observable difference a
    Redis key TTL eviction produces in the reference, and both are
    non-PRESENT). The rewrite preserves the keyed layout
    (repartition by entity key + sort within partitions — row-group
    key statistics survive) and stages into a temp dir because the
    plan READS the live directory; the swap is two directory renames
    (live→``.vacuum_old``, staging→live), so a crash never loses data
    — the old table survives on disk until the new one is in place —
    but it is NOT transactional: a reader racing the swap can
    transiently miss the directory. Plain online tables have a single
    materializing writer by contract (``materialize`` overwrites); run
    vacuum from that same scheduler slot, and pause readers or
    tolerate one retry. Schema-VERSIONED tables are refused — their
    epoch layout + ``_schemas.json`` would be flattened; use
    :func:`compact_versioned` for those. ``as_of`` is explicit —
    retention jobs must be replayable, never wall-clock-implicit.

    Returns ``{"path", "n_kept", "n_expired", "threshold"}`` (driver
    scalars — two bounded counts, no row data).
    """
    import datetime as _dt
    import shutil
    import tempfile

    table: FeatureTable = registry.get_feature_table(table_name, project)
    if not table.max_age_secs or table.max_age_secs <= 0:
        raise ValueError(
            f"{project}/{table_name} has no max_age_secs: nothing to vacuum"
        )
    threshold = as_of - _dt.timedelta(seconds=table.max_age_secs)
    path = online_table_path(store_path, project, table_name)
    if os.path.exists(os.path.join(path, SCHEMAS_FILE)):
        raise ValueError(
            f"{project}/{table_name} is a schema-VERSIONED table "
            f"({SCHEMAS_FILE} present): vacuum_store would flatten its "
            f"epoch layout — use compact_versioned instead"
        )
    df = spark.read.parquet(path)
    n_total = df.count()
    kept = df.where(
        F.col("event_timestamp") >= F.lit(threshold).cast("timestamp")
    )
    parent = os.path.dirname(path.rstrip("/"))
    staging = tempfile.mkdtemp(prefix="fjos_vacuum_", dir=parent)
    try:
        kept.repartition(
            *[F.col(k) for k in table.entities]
        ).sortWithinPartitions(*table.entities).write.mode(
            "overwrite"
        ).parquet(staging)
        n_kept = spark.read.parquet(staging).count()
        # rename-swap, never rmtree-then-replace: the old table stays
        # on disk (trash dir) until the new one is live, so a crash
        # between the renames loses nothing recoverable
        trash = path.rstrip("/") + ".vacuum_old"
        shutil.rmtree(trash, ignore_errors=True)  # stale from a crash
        os.replace(path, trash)
        try:
            os.replace(staging, path)
        except BaseException:
            os.replace(trash, path)  # roll the live table back
            raise
        shutil.rmtree(trash, ignore_errors=True)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return {
        "path": path,
        "n_kept": n_kept,
        "n_expired": n_total - n_kept,
        "threshold": threshold,
    }


SCHEMAS_FILE = "_schemas.json"


from contextlib import contextmanager


@contextmanager
def _registry_lock(table_path: str):
    """Exclusive cross-process lock over one online table's
    ``_schemas.json`` *and* its epoch-directory layout.

    The atomic rename in :func:`_save_schema_registry` protects READERS
    from torn files; this lock serializes WRITERS. Every
    load-modify-save of the registry — and every deletion of an epoch
    directory — must run under it, or a batch backfill racing the
    streaming writer can lose a just-registered entry (lost update) or
    delete an epoch directory the other writer is mid-write into."""
    import fcntl

    os.makedirs(table_path, exist_ok=True)
    with open(os.path.join(table_path, SCHEMAS_FILE + ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def _next_epoch_seq(reg: dict) -> int:
    """Next registry-independent monotonic epoch stamp: 1 + the max
    ``epoch_seq`` ever recorded in this table's ``_schemas.json``
    (falling back to ``revision`` for pre-seq legacy entries). Computed
    under :func:`_registry_lock`, so it survives Registry restarts —
    unlike the in-memory ``Registry.revision`` counter, which restarts
    at 1 with every fresh registry and can collide across the
    documented stop-stream → re-apply → restart workflow."""
    return 1 + max(
        (int(m.get("epoch_seq", m.get("revision", 0))) for m in reg.values()),
        default=0,
    )


def _load_schema_registry(table_path: str) -> dict:
    p = os.path.join(table_path, SCHEMAS_FILE)
    if not os.path.exists(p):
        return {}
    import json

    with open(p) as f:
        return json.load(f)


def _save_schema_registry(table_path: str, reg: dict) -> None:
    """Atomic write — a serving reader may re-read at any moment."""
    import json
    import tempfile

    os.makedirs(table_path, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=table_path)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(reg, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(table_path, SCHEMAS_FILE))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _epoch_schema_entry(table: FeatureTable) -> dict:
    """The ``_schemas.json`` record for one spec revision."""
    return {
        "revision": table.revision,
        "spec_hash": table.spec_hash(),
        "entities": sorted(table.entities),
        "features": sorted(
            ({"name": f.name, "value_type": f.value_type.value}
             for f in table.features),
            key=lambda d: d["name"],
        ),
    }


def register_epoch_schema(store_path: str, project: str, table: FeatureTable) -> str:
    """Idempotently record ``table``'s current spec in the online
    table's content-hash schema registry and return its epoch path —
    shared by the batch writer (:func:`materialize_versioned`), the
    streaming writer (``streaming.ingest.stream_materialize_versioned``)
    and compaction.

    The load-modify-save runs under :func:`_registry_lock`: the atomic
    rename in :func:`_save_schema_registry` protects READERS from torn
    files, but two concurrent WRITERS (a batch backfill racing the
    streaming writer) would otherwise lose one of their entries — a
    written epoch that no reader ever scans, silently.

    New epochs are stamped with ``epoch_seq`` (:func:`_next_epoch_seq`),
    the registry-restart-safe marker serving uses to break event-time
    ties; re-registering an already-known spec hash is idempotent and
    keeps the epoch's original seq (a spec that changes A→B→A reuses
    A's epoch — same content hash, same directory — exactly the
    reference's content-hash registry behavior,
    ``BigTableSchemaRegistry.java:33-107``)."""
    tpath = online_table_path(store_path, project, table.name)
    h = table.spec_hash()[:8]
    with _registry_lock(tpath):
        reg = _load_schema_registry(tpath)
        entry = _epoch_schema_entry(table)
        prior = reg.get(h, {})
        entry["epoch_seq"] = int(prior.get("epoch_seq", 0)) or _next_epoch_seq(reg)
        reg[h] = entry
        _save_schema_registry(tpath, reg)
    return os.path.join(tpath, f"rev={h}")


def materialize_versioned(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    store_path: str,
    project: str = "default",
    end_ts=None,
    start_ts=None,
    strategy: str = "agg",
) -> str:
    """:func:`materialize` into a **schema-versioned** online table: each
    write lands in a ``rev=<spec_hash[:8]>/`` epoch directory and records
    the spec's schema in a ``_schemas.json`` content-hash registry at the
    table root.

    This is the Spark shape of the reference's schema registry
    (``BigTableSchemaRegistry.java:33-107``: avro schemas stored under
    ``schema#<hash>`` metadata rows; every data cell's value carries a
    4-byte schema-hash prefix so rows written under different feature-set
    revisions stay decodable, ``BigTableOnlineRetriever.java:169-186``;
    same per-row scheme in ``CassandraOnlineRetriever.java:225-246``).
    Putting the hash on the epoch *directory* instead of each row
    amortizes the reference's per-row 4 bytes to zero and — because the
    epoch is a real partition path — lets a reader prune whole schema
    epochs at file-listing time, which a per-row prefix never can.

    Feature columns are cast to the spec's declared types at write time
    (``try_cast``: unconvertible → NULL, the P5 rule), so an epoch's
    parquet footer schema IS the schema the spec declared when it was
    written — exactly the avro-schema-at-serialization-time contract.
    Re-materializing an unchanged spec overwrites its own epoch
    (content hash ⇒ idempotent location); a revised spec lands in a new
    epoch and old epochs keep serving rows the new window didn't touch.

    Returns the epoch directory path.
    """
    table: FeatureTable = registry.get_feature_table(table_name, project)
    df = conform_batch_source(spark, table, end_ts=end_ts, start_ts=start_ts)
    created_col = table.batch_source.created_timestamp_column or None

    latest = latest_per_key(
        df,
        keys=list(table.entities),
        event_ts_col="event_timestamp",
        created_ts_col=created_col,
        strategy=strategy,
    )
    if created_col and created_col in latest.columns:
        latest = latest.drop(created_col)
    for feat in table.features:
        if feat.name in latest.columns:
            declared = feat.value_type.to_spark()
            if latest.schema[feat.name].dataType != declared:
                latest = latest.withColumn(
                    feat.name, F.col(feat.name).try_cast(declared)
                )

    h = table.spec_hash()[:8]
    tpath = online_table_path(store_path, project, table_name)
    epoch = os.path.join(tpath, f"rev={h}")
    latest.repartition(*[F.col(k) for k in table.entities]).sortWithinPartitions(
        *table.entities
    ).write.mode("overwrite").parquet(epoch)

    register_epoch_schema(store_path, project, table)
    return epoch


def read_online_versioned(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    store_path: str,
    project: str = "default",
    revision_col: Optional[str] = None,
    as_of_seq: Optional[int] = None,
) -> Optional[DataFrame]:
    """Serve a schema-versioned online table under the spec's **current**
    schema, across every epoch ever written.

    ``as_of_seq`` is TIME TRAVEL over the schema registry: serve the
    table exactly as it served right after epoch ``as_of_seq`` was
    registered — only epochs with ``epoch_seq ≤ as_of_seq``
    participate, conformed to the schema *recorded in* the newest
    participating epoch's ``_schemas.json`` entry (NOT the live
    registry spec, which may have moved on or been restarted since).
    The content-hash registry already keeps every revision's full
    schema forever — the property the reference's design pays for but
    only uses for decode (``BigTableSchemaRegistry.java:33-107``); a
    snapshot read is the same bookkeeping pointed backwards, the
    table-format time-travel idiom (Iceberg/Delta ``VERSION AS OF``).
    Raises KeyError when no epoch is registered at or below
    ``as_of_seq``.

    Per epoch (the reference's per-row ``decodeFeatures``,
    ``BigTableOnlineRetriever.java:169-207``, hoisted to plan time —
    one resolution per schema hash instead of per row, which is also
    what its Guava schema cache was approximating):

    - declared feature present in the epoch → stored value, ``try_cast``
      to the current declared type when the epoch stored a different
      type (P5: unconvertible → NULL);
    - declared feature missing from the epoch (added since) → NULL
      (``AvroRuntimeException → null`` in the reference);
    - epoch column not in the current spec (dropped since) → pruned at
      the scan (never read: column pruning reaches the parquet footer).

    The conformed epochs are unioned and reduced by
    :func:`latest_per_key` with the epoch's ``epoch_seq`` stamp as the
    tiebreak — when the same entity key carries the same event
    timestamp in two epochs, the later-*registered* epoch's row wins
    (its write observed the earlier one). ``epoch_seq`` is assigned
    under the registry file lock as max-existing+1
    (:func:`_next_epoch_seq`), so it stays monotone across Registry
    restarts — the in-memory ``revision`` integer restarts at 1 with
    every fresh Registry, and two epochs sharing a revision would break
    ties on arbitrary payload values instead of "later spec wins".
    Pre-seq legacy entries fall back to their recorded revision.
    One scan per epoch + one map-side-combining aggregate:
    epoch count tracks *schema changes*, not data volume, so the union
    adds scan width only — the shuffle still carries one row per
    (key, partition) at 100 TB.

    Entity-set changes are NOT an evolution (the row key layout is the
    table's identity — the reference would write a new KV table):
    epochs missing a current entity column raise.

    ``revision_col`` keeps the winning epoch's ``epoch_seq`` stamp as a
    column (audit / gate use; equals the registry revision whenever all
    epochs were registered by one registry lifetime, as in the gate).
    Returns None for a never-materialized table.
    """
    if as_of_seq is None:
        # resolve the table FIRST so a typo'd name raises the registry's
        # unknown-table error instead of reading as never-materialized
        table: FeatureTable = registry.get_feature_table(
            table_name, project
        )
    tpath = online_table_path(store_path, project, table_name)
    schemas = _load_schema_registry(tpath)
    if not schemas:
        return None

    def _seq(meta: dict) -> int:
        return int(meta.get("epoch_seq", meta.get("revision", 0)))

    if as_of_seq is not None:
        schemas = {
            h: m for h, m in schemas.items() if _seq(m) <= as_of_seq
        }
        if not schemas:
            raise KeyError(
                f"{project}/{table_name} has no epoch registered at or "
                f"below epoch_seq={as_of_seq}"
            )
        # the serve schema as of that moment = the newest participating
        # epoch's RECORDED spec (restart-safe: no live registry needed)
        from feast_java_old_spark.registry.model import ValueType

        snap = max(schemas.values(), key=_seq)
        entities = list(snap["entities"])
        feats = [
            (f["name"], ValueType(f["value_type"]).to_spark())
            for f in snap["features"]
        ]
    else:
        entities = list(table.entities)
        feats = [(f.name, f.value_type.to_spark()) for f in table.features]

    # epochs may be written by the batch writer (bare parquet dir) or the
    # streaming merge (version dirs + _LATEST pointer) — the
    # streaming-aware reader handles both, so batch and stream epochs
    # are interchangeable under one serve plan.
    from feast_java_old_spark.streaming.ingest import read_online_table

    rev_tag = "__rev"
    frames = []
    for h, meta in sorted(schemas.items(), key=lambda kv: _seq(kv[1])):
        epoch_dir = os.path.join(tpath, f"rev={h}")
        if not os.path.isdir(epoch_dir):
            # Registered but not yet materialized: the streaming writer
            # records its spec at stream start, BEFORE the first
            # micro-batch commits — a legitimate transient state that
            # must not make the table's other epochs unservable. A dir
            # that exists but is unreadable is still an error below.
            continue
        df = read_online_table(spark, epoch_dir)
        if df is None:
            raise ValueError(
                f"epoch rev={h} of {project}/{table_name} is registered in "
                f"{SCHEMAS_FILE} but has no readable data directory"
            )
        missing_keys = [k for k in entities if k not in df.columns]
        if missing_keys:
            raise ValueError(
                f"epoch rev={h} of {project}/{table_name} lacks entity "
                f"column(s) {missing_keys}: entity-set changes are a new "
                f"table, not a schema evolution"
            )
        sel = [F.col(c) for c in [*entities, "event_timestamp"]]
        for fname, declared in feats:
            if fname in df.columns:
                actual = df.schema[fname].dataType
                col = (
                    F.col(fname)
                    if actual == declared
                    else F.col(fname).try_cast(declared)
                )
            else:
                col = F.lit(None).cast(declared)
            sel.append(col.alias(fname))
        sel.append(F.lit(_seq(meta)).alias(rev_tag))
        frames.append(df.select(*sel))

    if not frames:
        # every registered epoch is still awaiting its first write
        return None
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    merged = latest_per_key(
        allf,
        keys=entities,
        event_ts_col="event_timestamp",
        created_ts_col=rev_tag,  # epoch_seq breaks event-time ties
    )
    if revision_col:
        return merged.withColumnRenamed(rev_tag, revision_col)
    return merged.drop(rev_tag)


def compact_versioned(
    spark: SparkSession,
    registry: Registry,
    table_name: str,
    store_path: str,
    project: str = "default",
) -> str:
    """Rewrite every schema epoch of a versioned online table into ONE
    epoch under the spec's current schema — the backfill/migration job
    the reference's design implies but never ships (its content-hash
    schema registry grows monotonically; old avro schemas must be kept
    forever because rows referencing them are never rewritten,
    ``BigTableSchemaRegistry.java:33-107``).

    Semantics-preserving by construction: the input is
    :func:`read_online_versioned`'s conformed cross-epoch latest-wins
    frame — exactly what serving would return — written as the current
    spec's ``rev=<spec_hash>`` epoch; stale epoch directories and their
    registry entries are then dropped. After compaction, serving reads
    one epoch (one conformance branch, one scan) until the next schema
    change. At 100 TB this is the periodic job that keeps the
    epoch-union's scan width bounded: run it after each schema
    migration settles, like any table-format compaction.

    The rewrite stages into a temp directory first: the union plan
    READS the current epoch dir, so writing over it in place would
    overwrite an input of the running job.

    Concurrency: the prune set is SNAPSHOTTED before the merge plan is
    built, so an epoch a concurrent writer registers while the rewrite
    runs is never deleted — its rows may additionally appear in the
    compacted epoch (the merge plan can observe it), which is benign:
    the cross-epoch latest-wins read resolves the duplication, and the
    next compaction absorbs it. The one remaining unsupported overlap
    is a writer streaming INTO an epoch this job is absorbing (its dir
    is replaced/pruned mid-write) — run compaction after a migration
    settles, like any table-format OPTIMIZE.

    Returns the surviving epoch path.
    """
    import shutil
    import tempfile

    table: FeatureTable = registry.get_feature_table(table_name, project)
    tpath = online_table_path(store_path, project, table_name)
    # Crash recovery ON ENTRY, before any epoch is read: a hard crash
    # in a prior run's swap window (between replace(epoch, trash) and
    # replace(staging, epoch)) leaves rev=<h>.compact_old holding the
    # ONLY live copy of that epoch while the schema registry still
    # lists it — restore it. Restore ONLY registered hashes: an
    # unregistered base name means the epoch was legitimately pruned
    # after a post-swap crash left its trash behind — restoring it
    # would resurrect stale pre-compaction data as a ghost dir no
    # prune loop could ever delete; remove it instead. A trash dir
    # alongside a PRESENT epoch is a post-swap leftover; also removed
    # here (restoring it would roll live data back).
    if os.path.isdir(tpath):
        with _registry_lock(tpath):
            registered = set(_load_schema_registry(tpath))
            for d in os.listdir(tpath):
                if not d.endswith(".compact_old"):
                    continue
                base = d[: -len(".compact_old")]
                orig = os.path.join(tpath, base)
                still_registered = base.removeprefix("rev=") in registered
                if still_registered and not os.path.isdir(orig):
                    os.replace(os.path.join(tpath, d), orig)
                else:
                    shutil.rmtree(os.path.join(tpath, d), ignore_errors=True)
    # snapshot FIRST: only epochs known before the merge began may be
    # pruned afterwards (everything the merge could have fully read)
    prunable = set(_load_schema_registry(tpath))
    merged = read_online_versioned(
        spark, registry, table_name, store_path, project
    )
    if merged is None:
        raise KeyError(
            f"{project}/{table_name} has no versioned epochs to compact"
        )
    h = table.spec_hash()[:8]
    epoch = os.path.join(tpath, f"rev={h}")

    staging = tempfile.mkdtemp(prefix="fjos_compact_", dir=tpath)
    try:
        # The Spark rewrite runs OUTSIDE the registry lock — it only
        # touches the private staging dir, and holding the lock for a
        # full cluster job would stall every concurrent writer's
        # register_epoch_schema call.
        merged.repartition(
            *[F.col(k) for k in table.entities]
        ).sortWithinPartitions(*table.entities).write.mode(
            "overwrite"
        ).parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise

    # Swap + prune + registry rewrite are one critical section under
    # the same lock register_epoch_schema takes: without it, a
    # concurrent writer registering another epoch between our load and
    # save loses its registry entry (the lost-update race). The
    # pre-merge `prunable` snapshot additionally guarantees a
    # registered-during-the-rewrite epoch is never deleted here.
    with _registry_lock(tpath):
        try:
            schemas = _load_schema_registry(tpath)
            # stamp before pruning so the survivor outranks every epoch
            # it absorbed, even ones about to be deleted
            new_seq = _next_epoch_seq(schemas)
            # Swap via rename-to-trash + rollback (vacuum_store's
            # pattern): rmtree(epoch) THEN replace would lose BOTH the
            # old epoch and the merged rewrite if the replace failed
            # after the rmtree (the except path deletes staging too).
            trash = epoch.rstrip("/") + ".compact_old"
            # Crash recovery BEFORE cleanup: a hard crash between
            # replace(epoch, trash) and replace(staging, epoch) leaves
            # trash holding the only live copy of the epoch (staging
            # from that run is orphaned under a different pid-suffixed
            # name). Restore it — deleting trash while the epoch dir is
            # missing would discard the data the schema registry still
            # points at. Only a trash dir alongside a PRESENT epoch is
            # a stale leftover safe to remove.
            if os.path.isdir(trash) and not os.path.isdir(epoch):
                os.replace(trash, epoch)
            shutil.rmtree(trash, ignore_errors=True)  # stale from a crash
            had_old = os.path.isdir(epoch)
            if had_old:
                os.replace(epoch, trash)
            try:
                os.replace(staging, epoch)
            except BaseException:
                if had_old:
                    os.replace(trash, epoch)  # roll the live epoch back
                raise
            shutil.rmtree(trash, ignore_errors=True)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        for old_h in list(schemas):
            if old_h != h and old_h in prunable:
                shutil.rmtree(
                    os.path.join(tpath, f"rev={old_h}"), ignore_errors=True
                )
                del schemas[old_h]
        entry = _epoch_schema_entry(table)
        entry["epoch_seq"] = new_seq
        schemas[h] = entry
        _save_schema_registry(tpath, schemas)
    return epoch
