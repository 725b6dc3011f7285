"""Online retrieval — the ``GetOnlineFeaturesV2`` query shape (J1/J2/J3 +
P1/P5 + status semantics).

Parity targets:
- the overall pipeline: ``serving/src/main/java/feast/serving/service/
  OnlineServingServiceV2.java:82-320``,
- left-outer point-lookup semantics (missing key → NOT_FOUND row):
  ``storage/connectors/redis/.../OnlineRetriever.java:48-59`` +
  ``OnlineServingServiceTest.shouldReturnResponseWithUnsetValuesAndMetadataIfKeysNotPresent:205-265``,
- composite keys (J2): ``RedisKeyGenerator.java:47-61``,
- staleness (J3): ``OnlineServingServiceV2.checkOutsideMaxAge:358-371``
  (``max_age=0 → no check``; ``entity_ts`` defaults to *now* — made an
  explicit ``request_ts`` parameter here for determinism),
- field statuses PRESENT / NOT_FOUND / NULL_VALUE / OUTSIDE_MAX_AGE:
  ``OnlineServingServiceV2.getMetadata:336-347``,
- type conformance nulling (P5): ``ProtoFeature.java:46-52`` — a stored
  value whose type does not match the declared ValueType reads as NULL,
- response rows in input order: ``OnlineServingServiceV2.java:307-319``.

Scale design: the reference answers this with N pipelined Redis HMGETs
(one RTT amortized over N keys, ``OnlineRetriever.java:89-99``). The
Spark-native equivalent is **two broadcast hash joins per table**, and
no shuffle at all for driver-side request rows:

1. ``online ⋈ broadcast(request keys)`` — a left semi join with the
   request's key columns as the build side, so the online table is
   only scanned (with column pruning down to the requested features),
   never shuffled; at most one row per requested key survives, and
   duplicate request keys need no ``distinct``.
2. ``request ⋈ broadcast(step-1 result)`` — left BHJ of two tiny frames,
   preserving every request row for NOT_FOUND semantics.

Each table's values and statuses are then one ``select``. Input order
comes back by gathering the broadcast-joined rows into one partition
and sorting it locally (driver-side rows) or by a global sort
(DataFrame requests, ``strategy="shuffle"``).

A local online table's relation (its parquet schema is inferred once)
comes from the process-wide relation cache in ``sources.tables``
(:func:`~feast_java_old_spark.sources.tables.cached_relation`), which
rebuilds it when a stamp of the served directory's files changes. The
per-spec projection and output Columns built on a relation are kept
with it (:func:`_cached_table_plan`). A 10-row request over two tables
is then at most five Spark jobs: a key-set broadcast per distinct set
of join keys (Spark reuses it across tables with the same keys), a
scan broadcast per table, and the result.

A plain ``request.join(online, keys, "left")`` would force Spark to
shuffle the online table (a left join cannot broadcast its preserved
side); this formulation cannot.
"""

from __future__ import annotations

import datetime as dt
import threading
import weakref
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_java_old_spark.functions.refs import FeatureRef, parse_feature_ref
from feast_java_old_spark.operators.materialize import online_table_path
from feast_java_old_spark.registry.model import FeatureTable
from feast_java_old_spark.registry.registry import Registry
from feast_java_old_spark.registry.validation import validate_online_request
from feast_java_old_spark.sources.tables import cached_relation

STATUS_PRESENT = "PRESENT"
STATUS_NOT_FOUND = "NOT_FOUND"
STATUS_NULL_VALUE = "NULL_VALUE"
STATUS_OUTSIDE_MAX_AGE = "OUTSIDE_MAX_AGE"

ROW_IDX = "__row_idx"


def _arrow_request_frame(
    spark: SparkSession, rows: list[dict], cols: list[str], hints: dict
) -> Optional[DataFrame]:
    """Build the request frame through ONE Arrow batch instead of a
    pickled-Python RDD (r16, guide §4/§6 "Arrow for driver transfers").

    ``createDataFrame(list-of-dicts)`` parallelizes the pickled rows
    into defaultParallelism slices, and EVERY scan of the request frame
    round-trips each slice through a Python worker to unpickle it —
    measured 0.52 s vs 0.11 s per noop pass at 12k rows. An Arrow table
    crosses the boundary once at build time and executes JVM-only.

    Fast path ONLY for the scalar types a serving request carries
    (int/float/str/bool/bytes/naive-datetime/None) with the SAME type
    mapping Spark's pickle inference applies; anything else — lists,
    tz-aware datetimes, mixed types, overflow, a column that is
    all-NULL with no registry hint — returns None and the caller keeps
    the existing inference path, so behavior only ever changes in
    speed."""
    try:
        import pyarrow as pa
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    from pyspark.sql import types as T

    _PA_OF = {
        T.BooleanType(): pa.bool_(),
        T.LongType(): pa.int64(),
        T.DoubleType(): pa.float64(),
        T.StringType(): pa.string(),
        T.BinaryType(): pa.binary(),
        T.TimestampType(): pa.timestamp("us"),
    }
    # Column-order parity with the inference path: ``createDataFrame``
    # over dict rows SORTS keys; the all-NULL-column branch then
    # re-selects the original order. Downstream code reads
    # ``request.columns`` order, so reproduce the exact same rule.
    null_only = [
        c for c in cols if c in hints and all(r.get(c) is None for r in rows)
    ]
    ordered = list(cols) if null_only else sorted(cols)
    fields = []
    for c in ordered:
        spark_t = None
        for r in rows:
            v = r.get(c)
            if v is None:
                continue
            t = type(v)
            if t is bool:  # bool is an int subclass — check first
                st = T.BooleanType()
            elif t is int:
                st = T.LongType()
            elif t is float:
                st = T.DoubleType()
            elif t is str:
                st = T.StringType()
            elif isinstance(v, (bytes, bytearray)):
                st = T.BinaryType()
            elif isinstance(v, dt.datetime):
                if v.tzinfo is not None:
                    return None  # tz-aware: keep the pickle path's rules
                st = T.TimestampType()
            else:
                return None  # lists/dicts/Rows: inference path handles
            if spark_t is None:
                spark_t = st
            elif spark_t != st:
                return None  # mixed types in one column
        if spark_t is None:
            spark_t = hints.get(c)
        if spark_t is None or spark_t not in _PA_OF:
            return None  # all-NULL without a scalar hint, or a hint
            # outside the fast-path type set (e.g. an array entity)
        fields.append(T.StructField(c, spark_t, True))
    try:
        table = pa.table(
            {
                f.name: pa.array(
                    [r.get(f.name) for r in rows], type=_PA_OF[f.dataType]
                )
                for f in fields
            }
        )
        return spark.createDataFrame(table, schema=T.StructType(fields))
    except Exception:
        return None  # overflow / arrow conversion edge: fall back


def _entity_rows_df(
    spark: SparkSession,
    entity_rows: Union[Sequence[dict], DataFrame],
    type_hints: Optional[dict] = None,
) -> DataFrame:
    """Request rows + an order-preserving index (the reference guarantees
    output order == input order).

    ``type_hints`` (column name → Spark DataType) types columns whose
    values are ALL NULL in this batch — Spark's schema inference cannot,
    but the registry knows every entity column's declared type (the
    proto EntityRow is typed in the reference), so a batch of nothing
    but missing keys still serves (all-NOT_FOUND) instead of dying in
    ``createDataFrame`` with CANNOT_DETERMINE_TYPE."""
    if isinstance(entity_rows, DataFrame):
        if ROW_IDX in entity_rows.columns:
            return entity_rows
        return entity_rows.withColumn(ROW_IDX, F.monotonically_increasing_id())
    rows = [dict(r, **{ROW_IDX: i}) for i, r in enumerate(entity_rows)]
    hints = type_hints or {}
    cols = list(dict.fromkeys(k for r in rows for k in r))
    arrow_df = _arrow_request_frame(spark, rows, cols, hints)
    if arrow_df is not None:
        return arrow_df
    null_only = [
        c
        for c in cols
        if c in hints and all(r.get(c) is None for r in rows)
    ]
    if not null_only:
        return spark.createDataFrame(rows)
    # infer the typed remainder, re-attach the all-NULL columns as
    # typed NULL literals in their original positions.
    stripped = [
        {k: v for k, v in r.items() if k not in null_only} for r in rows
    ]
    df = spark.createDataFrame(stripped)
    for c in null_only:
        df = df.withColumn(c, F.lit(None).cast(hints[c]))
    return df.select(*cols)


def _conform_type(col: Column, actual, declared) -> Column:
    """P5: value whose stored type mismatches the declared type → NULL."""
    if actual == declared:
        return col
    return col.try_cast(declared)


def _table_plan(
    online: Optional[DataFrame],
    table_name: str,
    spec: FeatureTable,
    trefs: Sequence[FeatureRef],
    full_feature_names: bool,
    include_statuses: bool,
) -> tuple[Optional[DataFrame], list[str], list[Column]]:
    """One table's share of the plan: the pruned online projection
    (``None`` when there is nothing to join — a never-materialized table
    or no registered feature requested), and the names and value/status
    Columns its output ``select`` appends. The Columns refer to the
    request's ``__req_ts`` and the projection's aliases by name, so they
    are reusable across requests."""
    keys = list(spec.entities)
    ts_alias = f"__ts__{table_name}"
    known = [r for r in trefs if spec.feature(r.name) is not None]
    pruned = None
    if online is not None and known:
        feat_cols = []
        for r in known:
            declared = spec.feature(r.name).value_type.to_spark()
            if r.name in online.columns:
                col = _conform_type(
                    F.col(r.name), online.schema[r.name].dataType, declared
                )
            else:
                col = F.lit(None).cast(declared)
            feat_cols.append(col.alias(f"__v__{table_name}__{r.name}"))
        pruned = online.select(
            *keys, F.col("event_timestamp").alias(ts_alias), *feat_cols
        )

    found = F.col(ts_alias).isNotNull()
    if spec.max_age_secs and spec.max_age_secs > 0:
        # Seconds arithmetic, matching the reference's
        # Timestamp.getSeconds math (OnlineServingServiceV2.java:365-370).
        age = (
            F.col("__req_ts").cast("timestamp").cast("long")
            - F.col(ts_alias).cast("timestamp").cast("long")
        )
        outside = found & (age > F.lit(spec.max_age_secs))
    else:
        outside = F.lit(False)

    names: list[str] = []
    cols: list[Column] = []
    for r in trefs:
        vname = f"{r.table}__{r.name}" if full_feature_names else r.name
        feature = spec.feature(r.name)
        if feature is None or pruned is None:
            # Requested but unregistered feature (ServingServiceBigTableIT
            # .shouldReturnCorrectRowCount), or nothing materialized:
            # NOT_FOUND for every row.
            value = F.lit(None).cast(
                "string" if feature is None else feature.value_type.to_spark()
            )
            status = F.lit(STATUS_NOT_FOUND)
        else:
            raw = F.col(f"__v__{table_name}__{r.name}")
            value = F.when(found & ~outside, raw)
            status = (
                F.when(~found, F.lit(STATUS_NOT_FOUND))
                .when(outside, F.lit(STATUS_OUTSIDE_MAX_AGE))
                .when(raw.isNull(), F.lit(STATUS_NULL_VALUE))
                .otherwise(F.lit(STATUS_PRESENT))
            )
        names.append(vname)
        cols.append(value.alias(vname))
        if include_statuses:
            names.append(f"{vname}__status")
            cols.append(status.alias(f"{vname}__status"))
    return pruned, names, cols


# Per-shape plans built on an online relation, keyed by that relation: a
# new relation (re-materialize, pointer flip) starts with no plans, and a
# relation's plans go when the relation cache drops it.
_plans: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()
_plans_lock = threading.Lock()
_MAX_PLANS_PER_TABLE = 32


def _cached_table_plan(
    online: Optional[DataFrame],
    table_name: str,
    spec: FeatureTable,
    trefs: Sequence[FeatureRef],
    full_feature_names: bool,
    include_statuses: bool,
) -> tuple[Optional[DataFrame], list[str], list[Column]]:
    """:func:`_table_plan`, reused while ``online`` is the same relation.

    A local online table's relation comes from ``cached_relation``, which
    returns a new one after a re-materialize, a pointer flip or a late
    first materialize. Plans are keyed by the whole spec too, so a
    re-applied spec is served without re-materializing. Caching plans
    saves rebuilding the projection and Columns through py4j on every
    request: measured about 100 ms of a 520 ms 10-row, two-table request
    on 4 CPUs."""
    if online is None:
        return _table_plan(
            None, table_name, spec, trefs, full_feature_names, include_statuses
        )
    # Every argument of _table_plan but the relation (the memo's key) and
    # the table name (in the spec and the refs); the whole spec goes in
    # through its repr so no field it reads can be left out of the key.
    shape = (repr(spec), tuple(trefs), full_feature_names, include_statuses)
    with _plans_lock:
        plans = _plans.setdefault(online, {})
        plan = plans.get(shape)
    if plan is None:
        plan = _table_plan(
            online, table_name, spec, trefs, full_feature_names, include_statuses
        )
        with _plans_lock:
            if len(plans) >= _MAX_PLANS_PER_TABLE:
                plans.pop(next(iter(plans)))
            plans[shape] = plan
    return plan


def get_online_features(
    spark: SparkSession,
    registry: Registry,
    entity_rows: Union[Sequence[dict], DataFrame],
    feature_refs: Sequence[str],
    store_path: Optional[str] = None,
    project: str = "default",
    request_ts: Optional[dt.datetime] = None,
    full_feature_names: bool = True,
    include_statuses: bool = True,
    online_frames: Optional[dict[str, DataFrame]] = None,
    strategy: str = "broadcast",
    preserve_order: bool = True,
) -> DataFrame:
    """Batch point-lookup of the latest feature values for N entity rows.

    ``entity_rows`` may carry a per-row ``event_timestamp`` (the
    reference's EntityRow timestamp); otherwise ``request_ts`` applies to
    all rows; otherwise *now* (``OnlineServingServiceV2.java:366-368``).
    Returns one row per input row, in input order, with a value column and
    (optionally) a status column per requested feature.

    ``preserve_order=False`` skips the final sort — for the
    backfill-scale ``strategy="shuffle"`` path the input-order guarantee
    costs a whole range exchange that a bulk consumer rarely wants.
    """
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown retrieval strategy {strategy!r}")
    refs = [parse_feature_ref(r) if isinstance(r, str) else r for r in feature_refs]
    local_rows = not isinstance(entity_rows, DataFrame)
    validate_online_request(
        entity_rows if local_rows else [None],
        [str(r) for r in refs],
    )

    # Entity-column types from the registry (the typed half of the
    # proto EntityRow): lets an all-NULL key column in this batch build
    # a typed request frame instead of failing schema inference. Only
    # dict-row inputs need hints — a DataFrame input already carries
    # its schema, so skip the registry lookups entirely there.
    type_hints: dict = {}
    specs: dict[str, FeatureTable] = {}
    if local_rows:
        for table in {r.table for r in refs}:
            try:
                specs[table] = registry.get_feature_table(table, project)
            except KeyError:
                continue  # unknown table errors downstream with its message
            for ent in specs[table].entities:
                try:
                    type_hints[ent] = registry.get_entity(
                        ent, project
                    ).value_type.to_spark()
                except KeyError:
                    pass
        from pyspark.sql import types as _T

        type_hints.setdefault("event_timestamp", _T.TimestampType())

    request = _entity_rows_df(spark, entity_rows, type_hints)

    # Per-row request timestamp (J3 input). A row WITHOUT a timestamp
    # in a mixed batch (NULL after createDataFrame fill) falls back to
    # request_ts, then *now* — the reference's unset-EntityRow-timestamp
    # semantics (proto seconds 0 → now, OnlineServingServiceV2.java:
    # 366-368). Without the coalesce a NULL request time poisons the
    # max-age comparison into an inconsistent row (PRESENT status with
    # a nulled value).
    fallback = (
        F.lit(request_ts).cast("timestamp")
        if request_ts is not None
        else F.current_timestamp()
    )
    if "event_timestamp" in request.columns:
        req_ts = F.coalesce(
            F.col("event_timestamp").cast("timestamp"), fallback
        )
    else:
        req_ts = fallback
    request = request.withColumn("__req_ts", req_ts)

    # Group refs per table, preserving request order for output columns
    # (P1 projection; dedup of refs mirrors the reference's distinct()).
    by_table: dict[str, list[FeatureRef]] = {}
    for r in refs:
        by_table.setdefault(r.table, [])
        if r not in by_table[r.table]:
            by_table[r.table].append(r)

    out = request
    out_names = list(request.columns)
    value_cols: list[str] = []

    for table_name, trefs in by_table.items():
        spec = specs.get(table_name) or registry.get_feature_table(
            table_name, project
        )
        keys = list(spec.entities)
        missing = [k for k in keys if k not in request.columns]
        if missing:
            raise ValueError(
                f"entity rows missing join keys {missing} for table {table_name!r}"
            )

        if online_frames is not None and table_name in online_frames:
            # In-memory online view (e.g. freshly materialized this session)
            # — same plan, no parquet round-trip.
            online = online_frames[table_name]
        elif store_path is not None:
            from feast_java_old_spark.streaming.ingest import (
                current_version_dir,
                read_online_table,
            )

            # read_online_table handles both the bare-parquet batch layout
            # and the versioned (vNNN + _LATEST pointer) streaming layout;
            # it returns None only for a never-materialized path and lets
            # real read errors (corruption, permissions) propagate. The
            # relation is cached per served directory.
            path = online_table_path(store_path, project, table_name)
            online = cached_relation(
                spark,
                current_version_dir(path) or path,
                lambda: read_online_table(spark, path),
            )
        else:
            online = None
        pruned, names, cols = _cached_table_plan(
            online, table_name, spec, trefs, full_feature_names, include_statuses
        )

        joined = out
        if pruned is not None and strategy == "shuffle":
            # Backfill-scale requests (too large to broadcast): plain
            # shuffled left join; AQE picks SMJ/SHJ and handles skew.
            joined = out.join(pruned, on=keys, how="left")
        elif pruned is not None:
            # Join 1: distributed scan ⋈ broadcast request keys — the
            # online table never shuffles. A semi join ignores duplicate
            # build keys, so the keys need no distinct (and no shuffle).
            matched = pruned.join(
                F.broadcast(request.select(*keys)), on=keys, how="left_semi"
            )
            # Join 2: request ⋈ broadcast matched rows (left BHJ, keeps
            # all request rows so missing keys surface as NOT_FOUND).
            joined = out.join(F.broadcast(matched), on=keys, how="left")
        # One select per table: the columns so far (a same-named output
        # column replaces an earlier one) plus this table's outputs; the
        # projection's temporaries drop out here.
        kept = [c for c in out_names if c not in names]
        out = joined.select(*kept, *cols)
        out_names = kept + names
        value_cols += names

    entity_cols = [
        c
        for c in request.columns
        if c not in (ROW_IDX, "__req_ts")
    ]
    if preserve_order:
        if local_rows and strategy == "broadcast":
            # Every join above is a broadcast, so the rows arrive in
            # however many partitions the request frame has: gather them
            # into one and sort it locally instead of range-exchanging.
            # Not for DataFrame requests: those can be large, and a
            # shuffle-free coalesce(1) would run their whole plan in one
            # task.
            out = out.coalesce(1).sortWithinPartitions(ROW_IDX)
        else:
            out = out.orderBy(ROW_IDX)
    return out.select(*entity_cols, *value_cols)
