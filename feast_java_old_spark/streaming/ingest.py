"""Streaming materialization (SURVEY §2.6).

The reference *declares* stream sources per feature table
(``FeatureTable.java:94-97,147-150``; Kafka/Kinesis specs,
``DataSource.java:104-116``) but ingestion lived in feast-spark. Here it
is Structured Streaming:

``readStream`` → (decode) → ``withWatermark`` → ``foreachBatch`` merge
that keeps the max-event_timestamp row per entity key — the late-data
rule implied by the online stores' latest-cell-wins layout (A1,
``BigTableOnlineRetriever.java:100``): **a late row older than the stored
one must not win**, and with latest-wins merge it structurally cannot.

Sink notes: the online table is plain parquet swapped atomically via a
version pointer (local/exactly-once-enough for a single writer). On a
production lake the ``foreachBatch`` body becomes a Delta/Iceberg MERGE
INTO keyed on the entity columns — same dataflow, transactional swap for
free. The merge itself is the same map-side-combining aggregate as batch
materialization, so per-batch cost is O(batch + current-table), not
O(history).
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_java_old_spark.operators.materialize import (
    latest_per_key,
    online_table_path,
)
from feast_java_old_spark.operators.text import tokens

_POINTER = "_LATEST"


def current_version_dir(path: str) -> Optional[str]:
    """The live ``_LATEST`` version dir under a local ``path``, or None."""
    ptr = os.path.join(path, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        v = f.read().strip()
    vdir = os.path.join(path, v)
    return vdir if os.path.isdir(vdir) else None


def read_online_table(
    spark: SparkSession, path: str, table_format: str = "parquet"
) -> Optional[DataFrame]:
    """Read an online table written by either batch ``materialize`` (bare
    parquet dir) or the streaming merge (versioned dir + pointer), or —
    with ``table_format="delta"`` — the Delta MERGE sink variant.

    Returns ``None`` only for a never-materialized table (missing path /
    empty dir) — real read errors (corrupt files, permissions) propagate
    rather than silently degrading to all-NOT_FOUND results.

    Delta tables are also AUTO-DETECTED (``_delta_log`` present) even
    when the caller asks for parquet: serving readers
    (``retrieval.get_online_features``) don't thread a format flag, and
    reading a Delta dir as raw parquet would include tombstoned
    pre-MERGE files — duplicate keys and stale values served silently.
    Detection without delta-spark installed raises an actionable error
    instead of mis-reading.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    # The os.path probes below only see LOCAL paths; a remote URI
    # (s3://, hdfs://, abfss://) must go straight to DeltaTable, which
    # resolves through Spark's Hadoop filesystems. `file:` URIs ARE
    # local — strip the scheme so os.path can parse them (leaving it
    # on would make every probe False and misclassify a live file://
    # Delta table as never-materialized).
    probe_path = path
    if path.startswith("file:"):
        from urllib.parse import urlparse

        probe_path = urlparse(path).path or path
    is_local = "://" not in probe_path
    has_delta_log = is_local and os.path.isdir(
        os.path.join(probe_path, "_delta_log")
    )
    # Remote paths can't be probed with os.path; when the Delta
    # bindings are present, ask Delta itself so the docstring's
    # auto-detect contract holds remotely too (one metadata check —
    # without it a remote Delta table read under the parquet default
    # would serve tombstoned pre-MERGE files). Without delta-spark a
    # remote Delta table is NOT detectable; that limitation is why the
    # availability error below is raised eagerly for explicit delta.
    if not is_local and table_format != "delta" and delta_available():
        if _is_delta_table(spark, path, remote=True):
            return spark.read.format("delta").load(path)
    if table_format == "delta" or has_delta_log:
        if is_local and not has_delta_log:
            # None is the never-materialized contract (missing/empty
            # dir). A NON-empty dir without _delta_log under an
            # explicit table_format="delta" is a real, populated
            # parquet/versioned table being read with the wrong format
            # flag — returning None here would silently serve
            # all-NOT_FOUND for live data. Classified BEFORE the
            # delta_available() check: this error is about the caller's
            # flag, not the environment. Local paths only — a remote
            # Delta table falls through to isDeltaTable below.
            if os.path.isdir(probe_path) and os.listdir(probe_path):
                raise ValueError(
                    f"table_format='delta' but {path!r} holds a "
                    "non-Delta table (no _delta_log; dir is non-empty) "
                    "— read it with table_format='parquet', or "
                    "re-materialize it through the Delta MERGE sink"
                )
            return None
        if not delta_available():
            raise RuntimeError(
                f"online table at {path!r} is a Delta table but "
                "delta-spark is not installed — reading it as parquet "
                "would serve tombstoned pre-MERGE rows"
            )
        if not _is_delta_table(spark, path, remote=not is_local):
            return None
        return spark.read.format("delta").load(path)
    vdir = current_version_dir(probe_path) if is_local else None
    try:
        out = spark.read.parquet(vdir if vdir else path)
    except AnalysisException as ex:
        cond = getattr(ex, "getCondition", lambda: None)() or str(ex)
        if "PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond:
            return None
        raise
    if not is_local:
        # the path is now PROVEN to hold a live parquet-layout table —
        # the only point where caching False is safe (see the memo's
        # caching policy above).
        _delta_layout_memo[path] = False
    return out


# Per-path Delta-layout memo (r10 ADVICE): ``DeltaTable.isDeltaTable``
# on a REMOTE URI is a filesystem-metadata roundtrip paid per serving
# read under the parquet default and per micro-batch in
# merge_latest_batch. Caching policy (r11 self-review hardened):
# - True is permanent — a table's layout never downgrades from Delta;
#   probes cache it, and OUR Delta writers mark it on write.
# - False is cached ONLY once the path is PROVEN to hold a live
#   non-Delta table (the remote parquet read succeeded) — a probe
#   alone must never cache False, because "not a Delta table *yet*"
#   includes never-materialized paths, and pinning False there would
#   blind this serving process to a table a separate ingest process
#   bootstraps later (the normal split deployment flow). A live
#   parquet table converted to Delta out-of-process is the one
#   unobserved transition — acceptable process-lifetime staleness.
# Only REMOTE paths are memoized: local paths keep the live (cheap)
# os.path/DeltaTable probe, so test tmpdirs that are deleted and
# recreated never see stale state.
_delta_layout_memo: dict[str, bool] = {}


def _is_delta_table(spark: SparkSession, path: str, remote: bool) -> bool:
    """isDeltaTable with the remote-path memo described above (probes
    cache only the permanent True; False is cached by the successful
    parquet read in :func:`read_online_table`)."""
    if remote:
        cached = _delta_layout_memo.get(path)
        if cached is not None:
            return cached
    from delta.tables import DeltaTable

    result = bool(DeltaTable.isDeltaTable(spark, path))
    if remote and result:
        _delta_layout_memo[path] = True
    return result


def delta_available() -> bool:
    """True when the ``delta-spark`` bindings are importable (the
    Delta jars must also be on the session's classpath — the standard
    ``configure_spark_with_delta_pip`` session setup)."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def merge_latest_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    batch_id: int,
    event_ts_col: str = "event_timestamp",
    table_format: str = "parquet",
) -> None:
    """Latest-wins upsert of one micro-batch into the online table.

    ``table_format="parquet"`` (default, environment-free):
    union(current, batch-latest) → latest-per-key → write new version →
    flip pointer → GC old versions. Idempotent per batch id (re-running a
    batch converges to the same state — latest-wins is commutative and
    idempotent), which is what makes foreachBatch's at-least-once
    delivery exactly-once in effect.

    ``table_format="delta"`` (requires delta-spark): the same upsert as
    a transactional ``MERGE INTO`` — on a real lake the rewrite-the-
    world version swap becomes a keyed merge that rewrites only the
    files holding matched keys (plus the log commit), which is the
    correct cost model at 100 TB: O(batch ∩ table), not O(table).
    Reader semantics are identical (:func:`read_online_table`
    dispatches on the same flag).
    """
    keys = list(keys)
    batch_latest = latest_per_key(batch, keys, event_ts_col)
    # Write-side auto-detect, mirroring the reader: a parquet-format
    # merge onto a Delta-initialized table would write version dirs the
    # Delta-dispatching reader never sees — every batch would merge
    # against the frozen Delta snapshot and serving would silently
    # never advance. Upgrade the write to the table's actual layout.
    # Same local/remote split as read_online_table: os.path probes
    # only see local paths (file: scheme stripped); a remote URI asks
    # Delta itself when the bindings are present.
    probe = path
    if path.startswith("file:"):
        from urllib.parse import urlparse

        probe = urlparse(path).path or path
    if table_format == "parquet" and "://" not in probe:
        detected = os.path.isdir(os.path.join(probe, "_delta_log"))
    elif table_format == "parquet" and delta_available():
        # remote URI (the local branch above handled "://"-free paths)
        detected = _is_delta_table(spark, path, remote=True)
    else:
        detected = False
    if detected:
        if not delta_available():
            raise RuntimeError(
                f"online table at {path!r} is a Delta table but "
                "delta-spark is not installed — a parquet merge would "
                "write updates the Delta reader never serves"
            )
        table_format = "delta"
    if table_format == "delta":
        _merge_latest_batch_delta(
            spark, batch_latest, path, keys, event_ts_col
        )
        return
    if table_format != "parquet":
        raise ValueError(f"unknown online table_format {table_format!r}")
    current = read_online_table(spark, path)
    merged = (
        latest_per_key(
            current.unionByName(batch_latest, allowMissingColumns=True),
            keys,
            event_ts_col,
        )
        if current is not None
        else batch_latest
    )
    _write_version(merged, path, keys, batch_id)


def _merge_latest_batch_delta(
    spark: SparkSession,
    batch_latest: DataFrame,
    path: str,
    keys: list[str],
    event_ts_col: str,
) -> None:
    """The ``foreachBatch`` body as a Delta ``MERGE INTO``.

    Tie semantics match the parquet path EXACTLY: the parquet merge
    reduces via ``max(struct(event_ts, payload...))`` (lexicographic),
    so the MERGE's update condition is the same struct comparison —
    the source row wins iff its (event_ts, payload...) tuple is
    strictly greater than the target's. ``<=>`` on the join keys keeps
    NULL keys mergeable instead of duplicating them.
    """
    from delta.tables import DeltaTable  # import-gated: delta_available()

    remote = "://" in path and not path.startswith("file:")
    # The bootstrap decision trusts only a memoized TRUE (permanent by
    # the layout-never-downgrades invariant) — a stale False here would
    # re-bootstrap and OVERWRITE a live table, so False/missing always
    # probes live. After batch 1 the memo is True and the per-micro-
    # batch metadata roundtrip disappears (r10 ADVICE).
    if not (remote and _delta_layout_memo.get(path)) and not (
        DeltaTable.isDeltaTable(spark, path)
    ):
        # First batch bootstraps the table; Delta's log commit is the
        # atomic pointer-flip equivalent.
        batch_latest.write.format("delta").mode("overwrite").save(path)
        if remote:
            _delta_layout_memo[path] = True
        return
    target = DeltaTable.forPath(spark, path)
    on = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
    value_cols = [c for c in batch_latest.columns if c not in keys]
    ordered = [event_ts_col] + [c for c in value_cols if c != event_ts_col]
    s_struct = "struct(" + ", ".join(f"s.`{c}`" for c in ordered) + ")"
    t_struct = "struct(" + ", ".join(f"t.`{c}`" for c in ordered) + ")"
    (
        target.alias("t")
        .merge(batch_latest.alias("s"), on)
        .whenMatchedUpdateAll(condition=f"{s_struct} > {t_struct}")
        .whenNotMatchedInsertAll()
        .execute()
    )
    if remote:
        _delta_layout_memo[path] = True


def _write_version(
    merged: DataFrame, path: str, keys: Sequence[str], batch_id: int
) -> None:
    """Key-clustered parquet write of one online-table version + atomic
    pointer flip + old-version GC (shared by the upsert and CDC
    merges)."""
    os.makedirs(path, exist_ok=True)
    vname = f"v{batch_id:012d}"
    vdir = os.path.join(path, vname)
    merged.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(
        *keys
    ).write.mode("overwrite").parquet(vdir)
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(vname)
    os.replace(tmp, os.path.join(path, _POINTER))
    for d in os.listdir(path):
        if d.startswith("v") and d != vname and os.path.isdir(os.path.join(path, d)):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def merge_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    batch_id: int,
    event_ts_col: str = "event_timestamp",
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> None:
    """CDC-aware merge of one micro-batch: latest ``(ts, seq)`` op per
    key wins across {current state} ∪ {batch}; a winning delete
    tombstone REMOVES the key from the online table (the streaming form
    of ``operators/materialize.apply_cdc`` — the reference's KV stores
    take these as DEL commands on the ingestion path).

    Existing state rows participate as upserts; a tombstone older than
    the current row therefore loses, so late deletes cannot regress
    newer state — same commutative/idempotent latest-wins contract as
    :func:`merge_latest_batch`, which is what makes foreachBatch's
    at-least-once delivery effectively exactly-once.
    """
    keys = list(keys)
    value_cols = [c for c in batch.columns if c not in keys]
    order_cols = [event_ts_col, seq_col]
    rest = [c for c in value_cols if c not in order_cols]
    def top(df: DataFrame) -> DataFrame:
        packed = F.max(F.struct(*order_cols, *rest)).alias("__top")
        return df.groupBy(*keys).agg(packed).select(
            *keys, *[F.col(f"__top.{c}").alias(c) for c in value_cols]
        )
    batch_top = top(batch)
    current = read_online_table(spark, path)
    if current is not None:
        current = current.withColumn(op_col, F.lit("I"))
        merged = top(current.unionByName(batch_top, allowMissingColumns=True))
    else:
        merged = batch_top
    merged = merged.where(F.col(op_col) != F.lit(delete_op)).drop(op_col)
    _write_version(merged, path, keys, batch_id)


def stream_apply_cdc(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    table_name: str,
    keys: Sequence[str],
    project: str = "default",
    event_ts_col: str = "event_timestamp",
    seq_col: str = "seq",
    op_col: str = "op",
    watermark: str = "1 hour",
    checkpoint: Optional[str] = None,
    trigger_once: bool = False,
):
    """Streaming CDC materialization: every micro-batch of I/U/D change
    rows folds into the online table via :func:`merge_cdc_batch`.
    Returns the StreamingQuery."""
    path = online_table_path(store_path, project, table_name)
    wm = stream.withWatermark(event_ts_col, watermark)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_cdc_batch(
            spark, batch, path, keys, batch_id, event_ts_col, seq_col, op_col
        )

    writer = wm.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_materialize(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    table_name: str,
    keys: Sequence[str],
    project: str = "default",
    event_ts_col: str = "event_timestamp",
    watermark: str = "1 hour",
    checkpoint: Optional[str] = None,
    trigger_once: bool = False,
    table_format: str = "parquet",
):
    """Run latest-wins streaming materialization of ``stream`` into the
    online store. Returns the StreamingQuery.

    The watermark bounds state for any upstream stateful stage; the merge
    itself is stateless across batches (state lives in the online table).
    ``table_format="delta"`` swaps the parquet pointer-swap sink for the
    transactional Delta ``MERGE INTO`` (requires delta-spark; identical
    serving semantics — see :func:`merge_latest_batch`).
    """
    if table_format == "delta" and not delta_available():
        raise RuntimeError(
            "table_format='delta' requires the delta-spark package "
            "(pip install delta-spark + Delta jars on the classpath)"
        )
    path = online_table_path(store_path, project, table_name)
    wm = stream.withWatermark(event_ts_col, watermark)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_latest_batch(
            spark, batch, path, keys, batch_id, event_ts_col,
            table_format=table_format,
        )

    writer = wm.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_window_features(
    stream: DataFrame,
    keys: Sequence[str],
    agg_exprs: dict[str, F.Column],
    event_ts_col: str = "event_timestamp",
    window_duration: str = "10 minutes",
    slide: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling/sliding window feature view over a stream.

    ``withWatermark`` + ``window`` groupBy: late rows beyond the watermark
    are dropped by Spark's state store; the emitted feature row's
    ``event_timestamp`` is the window end, so downstream latest-wins
    materialization composes naturally.
    """
    win = (
        F.window(F.col(event_ts_col), window_duration, slide)
        if slide
        else F.window(F.col(event_ts_col), window_duration)
    )
    out = (
        stream.withWatermark(event_ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys], win.alias("__w"))
        .agg(*[expr.alias(name) for name, expr in agg_exprs.items()])
    )
    return out.select(
        *keys,
        F.col("__w.end").alias("event_timestamp"),
        *[F.col(name) for name in agg_exprs],
    )


def stream_drift_psi(
    stream: DataFrame,
    reference: DataFrame,
    value_col: str,
    group_col: str,
    event_ts_col: str = "event_timestamp",
    bins: int = 10,
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming PSI drift monitor: windowed Population Stability Index
    of the live stream's ``value_col`` distribution against a static
    *reference* window, per ``group_col`` × tumbling window — the
    production form of :func:`~feast_java_old_spark.operators.drift.
    feature_drift` (same bin edges, same Laplace smoothing, so a batch
    replay of the same rows is the oracle).

    Chain-free single-stateful-operator design (a second aggregation to
    fold buckets into PSI would chain stateful operators — the r4
    lesson): the reference histogram (per-group vmin/vmax + ``bins``
    bucket counts + total, one SMALL row per group) is computed ONCE
    from the static frame and stream-static-broadcast-joined onto every
    arriving row BEFORE the aggregation; the windowed aggregate then
    emits all ``bins`` bucket counts as conditional-sum COLUMNS of one
    row per (group, window), and the PSI fold over those columns is a
    stateless projection. State per group-window: one row of ~``bins``
    longs, independent of stream volume.
    """
    ref_edges = reference.groupBy(group_col).agg(
        F.min(F.col(value_col).cast("double")).alias("__vmin"),
        F.max(F.col(value_col).cast("double")).alias("__vmax"),
    )

    def bucket_of(v, vmin, vmax):
        return (
            F.when(vmax == vmin, F.lit(0))
            .otherwise(
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.lit(bins - 1),
                        F.floor((v - vmin) / (vmax - vmin) * bins).cast(
                            "int"
                        ),
                    ),
                )
            )
        )

    ref_hist = (
        reference.select(
            group_col, F.col(value_col).cast("double").alias("__v")
        )
        .join(F.broadcast(ref_edges), group_col)
        .select(
            group_col,
            bucket_of(
                F.col("__v"), F.col("__vmin"), F.col("__vmax")
            ).alias("__b"),
        )
        .groupBy(group_col)
        .agg(
            *[
                F.sum(F.when(F.col("__b") == b, 1).otherwise(0)).alias(
                    f"__r{b}"
                )
                for b in range(bins)
            ],
            F.count(F.lit(1)).alias("__tref"),
        )
        .join(F.broadcast(ref_edges), group_col)
    )

    bucketed = (
        stream.select(
            group_col,
            event_ts_col,
            F.col(value_col).cast("double").alias("__v"),
        )
        .join(F.broadcast(ref_hist), group_col)  # stream-static join
        .select(
            group_col,
            event_ts_col,
            bucket_of(
                F.col("__v"), F.col("__vmin"), F.col("__vmax")
            ).alias("__b"),
            *[f"__r{b}" for b in range(bins)],
            "__tref",
        )
    )
    agg = (
        bucketed.withWatermark(event_ts_col, watermark)
        .groupBy(
            F.col(group_col),
            F.window(F.col(event_ts_col), window_duration).alias("__w"),
        )
        .agg(
            *[
                F.sum(F.when(F.col("__b") == b, 1).otherwise(0)).alias(
                    f"__c{b}"
                )
                for b in range(bins)
            ],
            F.count(F.lit(1)).alias("__tcur"),
            # ref columns are functionally dependent on the group key
            *[F.first(f"__r{b}").alias(f"__fr{b}") for b in range(bins)],
            F.first("__tref").alias("__ftref"),
        )
    )

    def p(cnt, tot):
        return (cnt + F.lit(0.5)) / (tot + F.lit(0.5 * bins))

    contribs = [
        (
            p(F.col(f"__c{b}"), F.col("__tcur"))
            - p(F.col(f"__fr{b}"), F.col("__ftref"))
        )
        * F.log(
            p(F.col(f"__c{b}"), F.col("__tcur"))
            / p(F.col(f"__fr{b}"), F.col("__ftref"))
        )
        for b in range(bins)
    ]
    psi = contribs[0]
    for c in contribs[1:]:
        psi = psi + c
    return agg.select(
        F.col(group_col),
        F.col("__w.end").alias("event_timestamp"),
        F.round(psi, 6).alias("psi"),
        F.col("__ftref").alias("n_ref"),
        F.col("__tcur").alias("n_cur"),
    )


def stream_running_features(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    event_ts_col: str = "event_timestamp",
    watermark: str = "1 hour",
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Custom stateful feature view via ``applyInPandasWithState``:
    per-entity **lifetime running aggregates** (event count, running sum,
    last event time) emitted as an updated feature row every micro-batch
    the key appears in.

    This is the operator shape time/session windows cannot express —
    unbounded per-key state with incremental emission — the Structured
    Streaming twin of the reference's "online value evolves per key as
    events arrive" model (A1, ``BigTableOnlineRetriever.java:100``),
    generalized from latest-value to arbitrary running state.

    Scale design:

    - State per key is **three scalars** (count, sum, last-event µs) in
      Spark's state store — independent of history length; the stream is
      hash-partitioned by key, so state updates never shuffle twice.
    - Arrow-batched pandas transfer: one python invocation per key per
      batch, not per event.
    - **Bounded state**: with ``idle_timeout_ms`` set, keys idle past the
      event-time timeout are evicted (a final row with ``evicted=true``
      is emitted so downstream sinks can tombstone); at 100 TB this keeps
      the state store proportional to *active* entities, not all-time
      entities.

    Output ``event_timestamp`` is the key's last event time, so
    latest-wins materialization composes downstream unchanged.
    """
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    keys = list(keys)
    key_fields = [stream.schema[k] for k in keys]
    out_schema = StructType(
        list(key_fields)
        + [
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("event_timestamp", TimestampType()),
            StructField("evicted", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("last_us", LongType()),
        ]
    )

    def _row(key, n, s, last_us, evicted):
        data = {k: [v] for k, v in zip(keys, key)}
        data["n_events"] = [n]
        data["sum_value"] = [s]
        data["event_timestamp"] = [pd.to_datetime(last_us, unit="us")]
        data["evicted"] = [evicted]
        return pd.DataFrame(data)

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, s, last_us = state.get
            state.remove()
            yield _row(key, n, s, last_us, True)
            return
        n, s, last_us = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            s += float(pdf[value_col].sum())
            m = int(
                pdf[event_ts_col].values.astype("datetime64[us]").astype("int64").max()
            )
            last_us = m if last_us is None else max(last_us, m)
        if last_us is None:
            return
        state.update((n, s, last_us))
        if idle_timeout_ms is not None:
            # Timeout must sit strictly past the current watermark.
            state.setTimeoutTimestamp(
                max(last_us // 1000 + idle_timeout_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield _row(key, n, s, last_us, False)

    timeout = "EventTimeTimeout" if idle_timeout_ms is not None else "NoTimeout"
    return (
        stream.withWatermark(event_ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys])
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def stream_cusum_alerts(
    stream: DataFrame,
    reference: DataFrame,
    value_col: str,
    group_col: str,
    event_ts_col: str = "event_timestamp",
    id_col: str = "event_id",
    allowance_cents: int = 0,
    threshold_cents: int = 1000,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of :func:`~feast_java_old_spark.operators.drift.
    cusum_alerts`: the Page CUSUM evaluated ON ARRIVAL, per group, with
    the running statistic carried across micro-batches in the state
    store — the alerting form of the batch monitor (same reference
    level, same lattice, same alerts; the gate hash-matches both
    against ONE oracle).

    Why ``applyInPandasWithState`` and not windows: CUSUM is a
    *sequential* statistic — each row's S depends on every prior row's
    — which no watermark window or aggregate expresses incrementally.
    State per group is ONE long (the running S). Within a batch the
    rows are sorted by (event time, id) and the recursion is evaluated
    VECTORIZED via its closed form with carry-in
    ``S_i = C_i − min(−S₀, running_min(C)_i)`` (numpy cumsum +
    minimum.accumulate — no per-row python loop); across batches the
    carry S₀ resumes it. Cross-batch correctness assumes per-group
    in-order arrival (the usual keyed-log contract); late rows beyond
    the watermark would need reprocessing, as with any sequential
    statistic.

    All arithmetic is on the cents lattice and the deviation
    ``d = cents − k₀ − allowance`` is computed SPARK-side (the
    reference level k₀ = floor(Σcents/n) joins in as a broadcast
    static frame), so the pandas kernel only ever adds exact int64s.
    Emits (group, event_timestamp, s_cents) alert rows.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    ref_mean = (
        reference.select(
            F.col(group_col).alias("g"), cents.alias("__c")
        )
        .where(F.col("__c").isNotNull())
        .groupBy("g")
        .agg(
            F.floor(F.sum("__c") / F.count(F.lit(1)))
            .cast("long")
            .alias("__k0")
        )
    )
    prepared = (
        stream.select(
            F.col(group_col).alias("g"),
            F.col(event_ts_col).alias("__ts"),
            F.col(id_col).alias("__id"),
            cents.alias("__c"),
        )
        .where(F.col("__c").isNotNull())
        .join(F.broadcast(ref_mean), "g")  # stream-static join
        .select(
            "g",
            "__ts",
            "__id",
            (F.col("__c") - F.col("__k0") - F.lit(allowance_cents)).alias(
                "__d"
            ),
        )
    )
    key_field = prepared.schema["g"]
    out_schema = StructType(
        [
            StructField("g", key_field.dataType),
            StructField("event_timestamp", TimestampType()),
            StructField("s_cents", LongType()),
        ]
    )
    state_schema = StructType([StructField("s", LongType())])

    def update(key, pdfs, state):
        s0 = int(state.get[0]) if state.exists else 0
        parts = [pdf for pdf in pdfs if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts).sort_values(["__ts", "__id"])
        c = pdf["__d"].to_numpy(dtype="int64").cumsum()
        floor = np.minimum(np.minimum.accumulate(c), -s0)
        s = c - floor
        mask = s > threshold_cents
        if mask.any():
            yield pd.DataFrame(
                {
                    "g": [key[0]] * int(mask.sum()),
                    "event_timestamp": pdf["__ts"].to_numpy()[mask],
                    "s_cents": s[mask],
                }
            )
        state.update((int(s[-1]),))

    return (
        prepared.withWatermark("__ts", watermark)
        .groupBy("g")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
        .withColumnRenamed("g", group_col)
    )


def stream_session_features(
    stream: DataFrame,
    keys: Sequence[str],
    agg_exprs: dict[str, F.Column],
    event_ts_col: str = "event_timestamp",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window feature view over a stream (gap-based, the
    streaming twin of ``operators.windows.session_rollup``).

    ``session_window`` is Spark's native data-dependent window: sessions
    merge in the state store as events arrive and are finalized once the
    watermark passes ``last_event + gap``. The emitted feature row's
    ``event_timestamp`` is the session end, so latest-wins
    materialization composes downstream exactly as with time windows.
    """
    out = (
        stream.withWatermark(event_ts_col, watermark)
        .groupBy(
            *[F.col(k) for k in keys],
            F.session_window(F.col(event_ts_col), gap).alias("__w"),
        )
        .agg(*[expr.alias(name) for name, expr in agg_exprs.items()])
    )
    return out.select(
        *keys,
        F.col("__w.end").alias("event_timestamp"),
        *[F.col(name) for name in agg_exprs],
    )


def stream_dedup(
    stream: DataFrame,
    dedup_cols: Optional[list] = None,
    text_col: str = "text",
    ts_col: str = "event_timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first row per content key, drop
    re-arrivals within the watermark horizon.

    ``dedup_cols`` defaults to a content fingerprint of ``text_col``
    (md5 of whitespace-normalized lowercase text — the same
    :func:`feast_java_old_spark.operators.text.fingerprint` the batch
    dedup family keys on), so a re-ingested document dedups against its
    first arrival even when ids differ.

    Built on ``dropDuplicatesWithinWatermark``: per-key state lives only
    until the watermark passes it, so state is bounded by the unique-key
    arrival rate × horizon — the streaming analogue of
    :func:`operators.dedup.dedup_exact`, and the correct shape for a
    continuous ingest pipeline at scale (an unbounded ``dropDuplicates``
    would grow state forever).
    """
    from feast_java_old_spark.operators.text import fingerprint

    df = stream
    if dedup_cols is None:
        df = df.withColumn("__fp", fingerprint(F.col(text_col)))
        dedup_cols = ["__fp"]
    out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        dedup_cols
    )
    return out.drop("__fp") if "__fp" in out.columns else out


def stream_enrich(
    stream: DataFrame,
    features: DataFrame,
    on: list,
    how: str = "left",
    broadcast_features: bool = True,
) -> DataFrame:
    """Stream-static enrichment: join a stream against a feature table
    (e.g. :func:`read_online_table` output) — the streaming analogue of
    the J1 entity lookup.

    The static side's *file listing* is resolved when the DataFrame is
    created — an in-place ``mode("overwrite")`` of that path deletes the
    listed files and fails the stream mid-flight. This is exactly why
    materialization writes the **versioned layout** (``vNNN`` dirs + a
    ``_LATEST`` pointer, :func:`read_online_table`): re-materialization
    creates a new version directory and never deletes the files a
    running stream holds. A long-running query sees the snapshot it
    planned against; pick up a newer version by re-planning (foreachBatch
    that calls ``read_online_table`` per batch, or a query restart).

    ``broadcast_features`` hints the dimension broadcast (right for
    entity tables that fit on executors); at larger sizes drop the hint
    and let AQE pick a shuffled join of the micro-batch.
    """
    f = F.broadcast(features) if broadcast_features else features
    return stream.join(f, on=on, how=how)


def stream_clean_ingest(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_timestamp",
    min_quality: float = 0.55,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming intake for a training-data corpus: quality gate + PII
    scrub + watermark-bounded exact dedup, composed from the same Column
    builders as the batch pipeline (``text.text_stat_cols``,
    ``pii.scrubbed_text_col``, the shared fingerprint) so batch and
    stream agree on semantics.

    The quality/scrub phase is a stateless projection (runs inside the
    micro-batch scan); only the dedup keeps state, bounded by the
    watermark horizon. Downstream: hand the result to
    :func:`stream_materialize` or a parquet sink to grow the corpus
    continuously.
    """
    from feast_java_old_spark.operators import pii, text

    stats = text.text_stat_cols(text_col)
    gated = (
        stream.withColumn("__q", stats["quality_score"])
        .where(F.col("__q") >= min_quality)
        .drop("__q")
    )
    scrubbed = gated.withColumn(text_col, pii.scrubbed_text_col(text_col))
    return stream_dedup(
        scrubbed, text_col=text_col, ts_col=ts_col, watermark=watermark
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list,
    left_ts: str = "event_timestamp",
    right_ts: str = "event_timestamp",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded time lag:
    right-side rows match left-side rows within ``[left_ts - max_lag,
    left_ts]`` — e.g. joining a click stream to the impression stream
    that caused it.

    Both sides are watermarked so Spark can bound join state: a buffered
    row is dropped once the other side's watermark passes its
    eligibility window (state is O(arrival rate × (watermark+lag)), not
    unbounded). The range predicate is what makes state eviction
    possible — an unconstrained stream-stream join would buffer forever.
    Outer variants additionally need the watermark to know when a
    buffered row can be emitted as unmatched.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    l_ts, r_ts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = None
    for k in on:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (r_ts >= l_ts - F.expr(f"INTERVAL {max_lag}"))
        & (r_ts <= l_ts)
    )
    return lw.alias("l").join(rw.alias("r"), on=cond, how=how)


def stream_incremental_dedup(
    doc_stream: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "event_timestamp",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Streaming arm of :func:`operators.dedup.incremental_dedup`: live
    incoming documents probe the STATIC, persisted LSH index of the
    existing corpus and are verified exactly — the continuous-ingestion
    dedup a 100 TB corpus actually runs (the index grows by appending
    each accepted batch's buckets; the stream never re-signs the
    corpus).

    Streaming shape: signature + band buckets are computed PER ROW with
    the higher-order :func:`operators.dedup.minhash_signature` (the
    per-row twin of the batch aggregate form — duplicates can't change
    a min, so both produce identical buckets), making the whole
    candidate stage a stateless projection + two stream-STATIC left
    joins (buckets, then per-index-doc shingle sets). Verification is
    row-wise set intersection (the ``"sets"`` strategy — exact, no
    per-pair explosion). Only two operators keep state: the candidate
    pair dedup and the per-document aggregate; on bounded gate input
    they run in complete mode, in production append-mode with the
    ``(id, time-window)`` grouping.

    Emits the batch operator's exact contract:
    ``(doc_id, dup_of, best_jaccard, n_dups, is_new)``.
    """
    from feast_java_old_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_signature,
        shingles,
    )

    rows_per_band = k // bands
    sig = minhash_signature(F.col(text_col), k=k, n=n)
    hashed_set = F.transform(
        shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
    )
    # Materialize (signature, shingle set) ONCE per row behind a
    # Generate node (single-element explode): CollapseProject would
    # otherwise re-inline the interpreted higher-order signature tree
    # into every one of the k band expressions below (~k× the whole
    # shingle+minhash subtree per row — measured 28 s vs 6 s on a
    # 100-doc gate batch). Projections do not collapse across Generate.
    mat = doc_stream.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("__ts"),
        F.explode(
            F.array(F.struct(sig.alias("sig"), hashed_set.alias("sa")))
        ).alias("x"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(
                                F.col("x.sig"), b * rows_per_band + j + 1
                            )
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    enr = mat.select(
        "doc_id",
        "__ts",
        F.col("x.sa").alias("__sa"),
        F.explode(band_structs).alias("bb"),
    ).select(
        "doc_id",
        "__ts",
        "__sa",
        F.size("__sa").alias("__size_a"),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    idx_buckets = minhash_band_buckets(
        index_docs, text_col, id_col, k, bands, n
    ).select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    idx_sets = (
        index_docs.select(
            F.col(id_col).alias("doc_b"),
            hashed_set.alias("__sb"),
        )
        .select("doc_b", "__sb", F.size("__sb").alias("__size_b"))
    )
    cand = enr.join(idx_buckets, ["band", "bucket"], "left").join(
        idx_sets, "doc_b", "left"
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = F.round(
        inter / (F.col("__size_a") + F.col("__size_b") - inter), 6
    )
    verified = cand.select(
        "doc_id",
        "__ts",
        F.when(jac >= threshold, F.col("doc_b")).alias("__match"),
        F.when(jac >= threshold, jac).alias("__jac"),
    )
    # a pair colliding in >1 band appears once per band; min/max are
    # duplicate-immune and n_dups distincts inside the aggregate
    # expression — so ONE stateful operator suffices (no pair-dedup
    # stage before the aggregate)
    return (
        verified.groupBy("doc_id")
        .agg(
            F.collect_list("__match").alias("__m"),
            F.max("__jac").alias("best_jaccard"),
        )
        .select(
            "doc_id",
            F.array_min(F.array_distinct("__m")).alias("dup_of"),
            "best_jaccard",
            F.size(F.array_distinct("__m")).cast("long").alias("n_dups"),
            F.array_min(F.array_distinct("__m")).isNull().alias("is_new"),
        )
    )


def stream_materialize_versioned(
    spark: SparkSession,
    registry,
    stream: DataFrame,
    table_name: str,
    store_path: str,
    project: str = "default",
    event_ts_col: str = "event_timestamp",
    watermark: str = "1 hour",
    checkpoint: Optional[str] = None,
    trigger_once: bool = False,
):
    """:func:`stream_materialize` into the **schema-versioned** online
    layout: micro-batches merge into the epoch directory of the spec's
    CURRENT revision (``rev=<spec_hash8>``), registered in the table's
    content-hash ``_schemas.json`` exactly like the batch writer
    (``operators.materialize.materialize_versioned``).

    This closes the schema-evolution loop for streaming pipelines
    (parity: the reference's stream ingest serializes against the
    feature set's avro schema *at write time* and stamps each row with
    its hash — ``BigTableSchemaRegistry.java:33-107``): when the spec
    is revised mid-stream, restart the streaming job — the new run
    resolves the new spec hash and lands in a NEW epoch, old epochs
    keep serving rows the stream hasn't overwritten, and
    ``read_online_versioned`` conforms and merges across all of them.
    Batch backfills and streaming epochs are interchangeable under
    that one reader (epoch dirs written by either layout are handled
    by :func:`read_online_table`).

    The stream's columns are conformed to the declared spec at write
    time: pruned to entities + event time + declared features, each
    feature ``try_cast`` to its declared type (P5 at ingest — a
    mistyped stream value stores NULL rather than poisoning the epoch's
    parquet schema).

    Returns the StreamingQuery.
    """
    from feast_java_old_spark.operators.materialize import (
        register_epoch_schema,
    )

    table = registry.get_feature_table(table_name, project)
    epoch = register_epoch_schema(store_path, project, table)

    cols = [F.col(k) for k in table.entities]
    cols.append(F.col(event_ts_col).alias("event_timestamp"))
    for feat in table.features:
        declared = feat.value_type.to_spark()
        if feat.name in stream.columns:
            actual = stream.schema[feat.name].dataType
            c = (
                F.col(feat.name)
                if actual == declared
                else F.col(feat.name).try_cast(declared)
            )
        else:
            c = F.lit(None).cast(declared)
        cols.append(c.alias(feat.name))
    conformed = stream.select(*cols)

    wm = conformed.withWatermark("event_timestamp", watermark)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_latest_batch(
            spark, batch, epoch, list(table.entities), batch_id
        )

    writer = wm.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_substring_dedup(
    doc_stream: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Streaming arm of :func:`operators.dedup.substring_dedup`
    (ExactSubstr, Lee et al. ACL 2022) for continuous ingestion: every
    token of an incoming document that sits inside a ``k``-gram already
    present in the STATIC corpus is deleted, and the survivors are
    reassembled in order — the "strip known boilerplate/copies on
    arrival" policy, dual to :func:`stream_incremental_dedup`'s
    whole-document verdicts.

    Streaming shape: position explode + gram hash is a stateless
    projection (codegen ``slice``/``concat_ws``/``xxhash64`` over the
    pre-split token array); duplicated-gram marking is ONE stream-STATIC
    left join against the corpus's distinct gram-hash set (static sides
    re-evaluate per micro-batch — a long-lived production stream should
    pass ``corpus_docs`` already staged as its materialized gram table,
    exactly like :func:`stream_incremental_dedup`'s persisted LSH
    index); coverage and
    reassembly happen inside the SINGLE stateful per-document aggregate —
    a token at ``pos`` is covered iff some marked gram starts in
    ``[pos-k+1, pos]``, checked per token against the collected start
    set (O(n·k) per document, no self-join, so the stream side never
    joins itself). Emits the batch operator's exact contract:
    ``(id, text, n_tokens, n_removed)``.
    """
    from feast_java_old_spark.operators.dedup import gram_hash_at

    # NULL text == empty text, matching the batch operator's contract
    # (every input document appears in the output).
    arr = tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = doc_stream.select(
        F.col(id_col).alias("doc_id"), arr.alias("toks")
    ).withColumn("n", F.size("toks"))
    tok_rows = base.select(
        "doc_id",
        "n",
        "toks",
        F.posexplode("toks").alias("pos", "tok"),
    ).select(
        "doc_id",
        "pos",
        "tok",
        F.when(
            F.col("pos") <= F.col("n") - k,
            gram_hash_at(F.col("toks"), F.col("pos"), k),
        ).alias("gh"),
    )
    corpus_grams = _corpus_gram_set(corpus_docs, text_col, k)
    marked = tok_rows.join(corpus_grams, on="gh", how="left")
    agg = marked.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "tok"))
        ).alias("__toks"),
        F.array_sort(
            F.collect_list(F.when(F.col("__dup") == 1, F.col("pos")))
        ).alias("__starts"),
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t: ~F.exists(
            F.sequence(
                F.greatest(t["pos"] - F.lit(k - 1), F.lit(0)), t["pos"]
            ),
            lambda s: F.array_contains(F.col("__starts"), s),
        ),
    )
    return agg.select(
        F.col("doc_id").alias(id_col),
        F.array_join(
            F.transform(kept, lambda t: t["tok"]), " "
        ).alias(text_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def _corpus_gram_set(
    corpus_docs: DataFrame, text_col: str, k: int
) -> DataFrame:
    """Distinct ``xxhash64`` hashes of the corpus's ``k``-grams, with a
    constant ``__dup`` marker column — the static right side of the
    stream-static join above. One explode + one distinct aggregate over
    8-byte keys; the text itself never shuffles."""
    from feast_java_old_spark.operators.dedup import gram_hash_at

    arr = tokens(F.coalesce(F.col(text_col), F.lit("")))
    b = corpus_docs.select(arr.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    return (
        b.where(F.col("n") >= k)
        .select(
            F.explode(F.sequence(F.lit(0), F.col("n") - k)).alias("pos"),
            "toks",
        )
        .select(gram_hash_at(F.col("toks"), F.col("pos"), k).alias("gh"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
