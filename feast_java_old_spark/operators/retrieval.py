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
(one RTT amortized over N keys, ``OnlineRetriever.java:89-99``). Here a
request is ONE ``spark.sql`` statement, its text built in pure Python:
the request frame and each table's online relation are bound in as
temporary views, and each table contributes one subquery — its pruned
projection (keys, event time, each requested feature with P5
conformance) — left-joined to the request rows and broadcast. Values
and statuses are ``CASE`` expressions over the join (one helper for
both). No shuffle for driver-side request rows:

- Driver-side rows: the distinct non-NULL request keys ride inside each
  table's scan as one ``array_contains(array(<literals>), <key>)``
  filter (a struct of the columns for a compound key). Literals are
  spelled exactly and cannot inject: strings as ``CAST(X'<utf-8 hex>'
  AS STRING)``, bytes as ``X'<hex>'``, floats by ``repr`` with NaN and
  infinities spelled out, identifiers backtick-quoted. The rows are
  gathered with ``/*+ COALESCE(1) */`` and ``SORT BY`` the row index.
  A 10-row request over two tables is three Spark jobs: a scan
  broadcast per table and the result.
- DataFrame requests keep their keys off the driver: the scan is
  left-semi-joined to their broadcast key columns (a semi join ignores
  duplicate build keys), and input order comes from ``ORDER BY``.
- ``strategy="shuffle"`` (backfill scale) carries no broadcast hints,
  so AQE picks the join, and sorts with ``ORDER BY``;
  ``preserve_order=False`` sorts nothing.

Why an array and not ``IN``: Spark turns an ``IN`` list into an
``InSet`` only above ``spark.sql.optimizer.inSetConversionThreshold``
(10); below it each literal is inlined into generated code, so every
new key set compiled about 2.3 Janino classes (15 ms each). An array
literal is a reference object in generated code, so a new key set
compiles nothing. Measured on 4 CPUs, filter build + count, 12 calls:
at 10 keys ``IN`` 157 ms against 98 ms for ``array_contains``; at 11
keys 77 ms against 89 ms; at 5,000 keys 147 ms against 139 ms. Neither
filter is a pushed parquet predicate.

Building text needs no py4j, so nothing is memoized per request shape:
a warm two-table request costs about 40 py4j round trips (the Arrow
request frame, binding and dropping the views, the statement, the
collect) where a plan built Column by Column cost several hundred. A
local online table's relation (its parquet
schema is inferred once) comes from the process-wide relation cache in
``sources.tables``
(:func:`~feast_java_old_spark.sources.tables.cached_relation`), which
rebuilds it when a stamp of the served directory's files changes.

The online table is never shuffled: it is scanned, filtered and
pruned, and that small result is the build side of a left broadcast
hash join whose preserved side is the request.
"""

from __future__ import annotations

import datetime as dt
import math
import uuid
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _quote(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _sql_literal(v) -> str:
    """``v`` as exact SQL text. Nothing from outside the process is ever
    put between quotes: a string is spelled as its UTF-8 bytes."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if not -(1 << 63) <= v < 1 << 63:
            raise ValueError(f"value {v} is outside the INT64 range")
        return f"{int(v)}L"
    if isinstance(v, float):
        if math.isnan(v):
            return "double('NaN')"
        if math.isinf(v):
            return "double('Infinity')" if v > 0 else "double('-Infinity')"
        return f"{float(v)!r}D"
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, dt.datetime):
        return f"timestamp_micros({T.TimestampType().toInternal(v)})"
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    raise TypeError(f"cannot use a {type(v).__name__} value in a request")


def _feature_value_sql(found: str, outside: str, raw: str) -> tuple[str, str]:
    """The value and status of one feature, as SQL over three boolean or
    value expressions: ``found`` (the key has a stored row), ``outside``
    (that row is older than max age) and ``raw`` (the stored value)."""
    value = f"CASE WHEN ({found}) AND NOT ({outside}) THEN {raw} END"
    status = (
        f"CASE WHEN NOT ({found}) THEN '{STATUS_NOT_FOUND}'"
        f" WHEN {outside} THEN '{STATUS_OUTSIDE_MAX_AGE}'"
        f" WHEN {raw} IS NULL THEN '{STATUS_NULL_VALUE}'"
        f" ELSE '{STATUS_PRESENT}' END"
    )
    return value, status


def _max_age_sql(found: str, request_ts: str, event_ts: str, max_age_secs) -> str:
    """Whether a found row is older than ``max_age_secs`` at the request
    time, in whole seconds like the reference's ``Timestamp.getSeconds``
    math (``OnlineServingServiceV2.java:365-370``); ``FALSE`` when the
    table has no max age."""
    if not (max_age_secs and max_age_secs > 0):
        return "FALSE"
    return (
        f"({found}) AND (CAST(CAST({request_ts} AS TIMESTAMP) AS BIGINT)"
        f" - CAST(CAST({event_ts} AS TIMESTAMP) AS BIGINT))"
        f" > {_sql_literal(max_age_secs)}"
    )


def _key_filter(
    rows: Sequence[dict], keys: list[str], req_types: dict, online_types: dict
) -> str:
    """The request's key set as one array literal tested against the
    online table's key columns (a struct of them for a compound key).

    Rows with a NULL key component are left out: a join key never
    matches NULL. Where a key column is a string on one side only, the
    string side is cast to the other side's type, as the join's own
    comparison does."""
    lit_casts: list[Optional[str]] = []
    probes: list[str] = []
    for k in keys:
        req_t, online_t = req_types[k], online_types.get(k)
        req_str = isinstance(req_t, T.StringType)
        online_str = isinstance(online_t, T.StringType)
        probe = _quote(k)
        lit_cast = None
        if req_str and online_t is not None and not online_str:
            lit_cast = online_t.simpleString()
        elif online_str and not req_str:
            probe = f"TRY_CAST({probe} AS {req_t.simpleString()})"
        lit_casts.append(lit_cast)
        probes.append(probe)
    elements: dict[str, None] = {}
    for r in rows:
        values = [r.get(k) for k in keys]
        if any(v is None for v in values):
            continue
        parts = [_sql_literal(v) for v in values]
        parts = [
            p if c is None else f"TRY_CAST({p} AS {c})"
            for p, c in zip(parts, lit_casts)
        ]
        element = parts[0] if len(parts) == 1 else f"struct({', '.join(parts)})"
        elements[element] = None
    if not elements:
        return "FALSE"
    if len(probes) == 1:
        probe = probes[0]
    else:
        # struct(...) of literals names its fields col1, col2, ...
        probe = "struct(" + ", ".join(
            f"{p} AS col{i}" for i, p in enumerate(probes, 1)
        ) + ")"
    return f"array_contains(array({', '.join(elements)}), {probe})"


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
        type_hints.setdefault("event_timestamp", T.TimestampType())

    request = _entity_rows_df(spark, entity_rows, type_hints)
    req_types = {f.name: f.dataType for f in request.schema.fields}
    views: dict[str, DataFrame] = {}

    def bind(df: DataFrame) -> str:
        name = f"__online_{uuid.uuid4().hex}"
        views[name] = df
        return _quote(name)

    req_view = bind(request)

    # Per-row request timestamp (J3 input). A row WITHOUT a timestamp
    # in a mixed batch (NULL after createDataFrame fill) falls back to
    # request_ts, then *now* — the reference's unset-EntityRow-timestamp
    # semantics (proto seconds 0 → now, OnlineServingServiceV2.java:
    # 366-368). Without the coalesce a NULL request time poisons the
    # max-age comparison into an inconsistent row (PRESENT status with
    # a nulled value).
    req_ts = (
        f"CAST({_sql_literal(request_ts)} AS TIMESTAMP)"
        if request_ts is not None
        else "current_timestamp()"
    )
    if "event_timestamp" in req_types:
        req_ts = f"coalesce(CAST(`event_timestamp` AS TIMESTAMP), {req_ts})"

    # Group refs per table, preserving request order for output columns
    # (P1 projection; dedup of refs mirrors the reference's distinct()).
    by_table: dict[str, list[FeatureRef]] = {}
    for r in refs:
        by_table.setdefault(r.table, [])
        if r not in by_table[r.table]:
            by_table[r.table].append(r)

    # Output name -> SQL; a later table's same-named output replaces an
    # earlier column.
    exprs = {c: f"__r.{_quote(c)}" for c in req_types}
    value_cols: list[str] = []
    joins: list[str] = []
    hints: list[str] = []

    for i, (table_name, trefs) in enumerate(by_table.items()):
        spec = specs.get(table_name) or registry.get_feature_table(
            table_name, project
        )
        keys = list(spec.entities)
        missing = [k for k in keys if k not in req_types]
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

        alias = f"__t{i}"
        known = {
            r.name: j
            for j, r in enumerate(trefs)
            if spec.feature(r.name) is not None
        }
        joined = online is not None and bool(known)
        found = f"{alias}.`__ts` IS NOT NULL"
        outside = _max_age_sql(
            found, "__r.`__req_ts`", f"{alias}.`__ts`", spec.max_age_secs
        )
        if joined:
            # The pruned projection: keys, the row's time and each known
            # feature, a stored value of another type than the declared
            # one read as NULL (P5).
            online_types = {f.name: f.dataType for f in online.schema.fields}
            cols = [_quote(k) for k in keys] + ["`event_timestamp` AS `__ts`"]
            for name, j in known.items():
                declared = spec.feature(name).value_type.to_spark()
                actual = online_types.get(name)
                if actual is None:
                    col = f"CAST(NULL AS {declared.simpleString()})"
                elif actual == declared:
                    col = _quote(name)
                else:
                    col = f"TRY_CAST({_quote(name)} AS {declared.simpleString()})"
                cols.append(f"{col} AS `__v{j}`")
            scan = f"SELECT {', '.join(cols)} FROM {bind(online)}"

            def on(left: str, right: str) -> str:
                return " AND ".join(
                    f"{left}.{_quote(k)} = {right}.{_quote(k)}" for k in keys
                )

            if local_rows:
                # The key set rides inside the scan as one array literal.
                scan += " WHERE " + _key_filter(
                    entity_rows, keys, req_types, online_types
                )
            elif strategy == "broadcast":
                # A DataFrame request's keys are not on the driver: a
                # left semi join against them, their side broadcast (a
                # semi join ignores duplicate build keys).
                scan = (
                    f"SELECT /*+ BROADCAST(__k) */ __s.* FROM ({scan}) AS __s"
                    f" LEFT SEMI JOIN (SELECT {', '.join(map(_quote, keys))}"
                    f" FROM {req_view}) AS __k ON {on('__s', '__k')}"
                )
            joins.append(
                f" LEFT JOIN ({scan}) AS {alias} ON {on('__r', alias)}"
            )
            if strategy == "broadcast":
                hints.append(f"BROADCAST({alias})")

        for r in trefs:
            vname = f"{r.table}__{r.name}" if full_feature_names else r.name
            feature = spec.feature(r.name)
            if feature is None or not joined:
                # Requested but unregistered feature (ServingServiceBigTableIT
                # .shouldReturnCorrectRowCount), or nothing materialized:
                # NOT_FOUND for every row.
                declared = "string" if feature is None else (
                    feature.value_type.to_spark().simpleString()
                )
                value = f"CAST(NULL AS {declared})"
                status = f"'{STATUS_NOT_FOUND}'"
            else:
                value, status = _feature_value_sql(
                    found, outside, f"{alias}.`__v{known[r.name]}`"
                )
            outputs = [(vname, value)]
            if include_statuses:
                outputs.append((f"{vname}__status", status))
            for name, sql in outputs:
                exprs.pop(name, None)
                exprs[name] = sql
                value_cols.append(name)

    entity_cols = [c for c in req_types if c not in (ROW_IDX, "__req_ts")]
    select = ", ".join(
        f"{exprs[c]} AS {_quote(c)}" for c in entity_cols + value_cols
    )
    order = ""
    if preserve_order:
        if local_rows and strategy == "broadcast":
            # Every join is a broadcast, so the rows arrive in however
            # many partitions the request frame has: gather them into one
            # and sort it locally instead of range-exchanging. Not for
            # DataFrame requests: those can be large, and a shuffle-free
            # COALESCE(1) would run their whole plan in one task.
            hints.insert(0, "COALESCE(1)")
            order = f" SORT BY __r.`{ROW_IDX}`"
        else:
            order = f" ORDER BY __r.`{ROW_IDX}`"
    hint = f"/*+ {', '.join(hints)} */ " if hints else ""
    text = (
        f"SELECT {hint}{select} FROM"
        f" (SELECT *, {req_ts} AS `__req_ts` FROM {req_view}) AS __r"
        + "".join(joins)
        + order
    )
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    try:
        return spark.sql(text)
    finally:
        for name in views:
            spark.catalog.dropTempView(name)
