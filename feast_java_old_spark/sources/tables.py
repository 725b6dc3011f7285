"""Synthetic-testdata table loader.

The driver's tables (TESTDATA.md) are plain parquet except ``events``,
whose ``ts`` column is TIMESTAMP(NANOS) — Spark's vectorized parquet
reader rejects nano timestamps unless
``spark.sql.legacy.parquet.nanosAsLong=true`` is set, in which case the
column arrives as a nanosecond LONG. :func:`load_table` normalizes it back
to a microsecond TimestampType with integer division (`ts div 1000`, no
double round-trip → no precision loss), which matches DuckDB's ns→µs
truncation bit-for-bit, so oracle hashes line up.

:func:`path_stamp` and :func:`cached_relation` decide, for every local
read (batch sources and online tables), whether a path has changed
since its relation was built.
"""

from __future__ import annotations

import os
import threading
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def arrow_local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-local tuple rows + explicit DDL schema → DataFrame through
    ONE Arrow table (r16, guide §4/§6 "Arrow for driver transfers").

    ``createDataFrame(list, ddl)`` parallelizes the pickled rows into
    defaultParallelism slices and every scan of the frame round-trips
    each slice through a Python worker — measured ~265 ms per task ×
    32 slices for a tens-of-rows metrics frame. An Arrow table crosses
    the boundary once at build time and plans as a JVM-only
    ``LocalTableScan``.

    Fast path only for scalar columns (+ arrays of them) with non-NULL
    declared semantics preserved: any conversion surprise falls back to
    the stock ``createDataFrame(rows, schema)``, so behavior only ever
    changes in speed. Values must already conform to the declared types
    the way the pickle path would coerce them (the callers in this
    package all pass pre-coerced ints/floats/strings).
    """
    try:
        import pyarrow as pa

        struct = T.StructType.fromDDL(schema)
        _pa_of = {
            T.BooleanType(): pa.bool_(),
            T.IntegerType(): pa.int32(),
            T.LongType(): pa.int64(),
            T.DoubleType(): pa.float64(),
            T.StringType(): pa.string(),
            T.BinaryType(): pa.binary(),
        }

        def _arrow_type(dt):
            if isinstance(dt, T.ArrayType):
                inner = _arrow_type(dt.elementType)
                return pa.list_(inner) if inner is not None else None
            return _pa_of.get(dt)

        # Strict Python-type gate: Arrow would happily truncate 1.5 into
        # an int64 column where ``createDataFrame`` raises — any value
        # that stock verification would reject must take the stock path
        # so the caller sees the canonical error, not silent coercion.
        _py_of = {
            T.BooleanType(): bool,
            T.IntegerType(): int,
            T.LongType(): int,
            T.DoubleType(): float,
            T.StringType(): str,
            T.BinaryType(): (bytes, bytearray),
        }

        def _conforms(v, dt):
            if v is None:
                return True
            if isinstance(dt, T.ArrayType):
                return isinstance(v, (list, tuple)) and all(
                    _conforms(x, dt.elementType) for x in v
                )
            py = _py_of[dt]
            if py is int and type(v) is bool:
                return False  # bool is an int subclass; stock rejects it
            return type(v) is py if not isinstance(py, tuple) else isinstance(v, py)

        cols = {}
        for i, f in enumerate(struct.fields):
            at = _arrow_type(f.dataType)
            if at is None or not all(_conforms(r[i], f.dataType) for r in rows):
                return spark.createDataFrame(rows, schema)
            cols[f.name] = pa.array([r[i] for r in rows], type=at)
        return spark.createDataFrame(pa.table(cols), schema=struct)
    except Exception:
        return spark.createDataFrame(rows, schema)


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the CPUs this process may
    run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def host_driver_memory() -> str:
    """A quarter of the host's RAM, as a driver heap size."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    return f"{mem_kb // 4096}m"


def session_builder(app: str, master: str | None = None, **conf):
    """SparkSession builder with the engine's standard configuration,
    sized from the host unless ``master`` / ``spark.driver.memory`` say
    otherwise. Every ``conf`` entry wins over a default."""
    defaults = {
        "spark.driver.memory": host_driver_memory(),
        # A long-lived driver running many short queries accumulates
        # ContextCleaner backlog that only a GC drains; unpaced, the old
        # gen fills and stalls (r16 suite A/B: 376.6 s vs 251.8 s).
        "spark.cleaner.periodicGC.interval": "15s",
        # Concurrent explicit GC keeps that periodic System.gc() from
        # pausing every query (r16: tpch_q6 warm 1.09 s vs 0.53 s); a 1 GB
        # JIT code cache keeps hundreds of distinct codegen'd plans
        # compiled instead of interpreted (r17 suite: 265-340 s vs 214.6 s).
        "spark.driver.extraJavaOptions": (
            "-XX:+ExplicitGCInvokesConcurrent -XX:ReservedCodeCacheSize=1g"
        ),
        # PySpark's per-call call-site capture walks the Python stack on
        # every Column/DataFrame op; it is debugging metadata only (r16:
        # logreg_quality 5.70 s off vs 6.65 s on).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    b = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{host_cpus()}]")
        .config(NANOS_CONF, "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in {**defaults, **conf}.items():
        b = b.config(k, v)
    return b


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Make any session able to read the nano-timestamp events table and
    interpret naive timestamps deterministically — both confs are
    runtime-settable, so sessions built outside :func:`session_builder`
    (e.g. the round driver's) work too."""
    try:
        spark.conf.set(NANOS_CONF, "true")
        # NTZ→TIMESTAMP casts and naive datetime literals are interpreted in
        # the session timezone; pin UTC so results don't depend on host TZ.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down → session_builder already set it or read fails loudly


# Magnitude band edges: a value ≥ the edge is the NEXT-finer unit.
_UNIT_BANDS = (
    ("ns", 200_000_000_000_000_000),
    ("us", 200_000_000_000_000),
    ("ms", 200_000_000_000),
    ("s", 0),
)
_US_FACTOR = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}  # ns divides

def path_stamp(path: str) -> Optional[tuple]:
    """Every file under the LOCAL ``path`` (or the path itself, when it
    is a file) as (relative name, size, ``mtime_ns``), so any rewrite at
    any depth moves it. ``None`` for a missing path, an empty directory
    or a listing that raced a writer."""
    files = []
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        for root, _dirs, names in os.walk(path):
            for name in names:
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append(
                    (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
                )
    except OSError:
        return None
    return tuple(sorted(files)) or None


# (path, key) -> (session, stamp, relation), shared by every reader in
# the process; the oldest insertion goes first past the bound.
_relations: dict[tuple[str, object], tuple] = {}
_relations_lock = threading.Lock()
_MAX_RELATIONS = 256


def cached_relation(
    spark: SparkSession,
    path: str,
    build: Callable[[], Optional[DataFrame]],
    key: object = None,
) -> Optional[DataFrame]:
    """``build()``, reused while :func:`path_stamp` of ``path`` and the
    session are unchanged: reading an unchanged parquet directory again
    pays a schema-inference Spark job. The stamp is taken before
    ``build`` runs, so a rewrite during or after it is read by the next
    call. ``key`` separates relations built differently over one path.
    Remote URIs, a ``None`` stamp and a ``None`` result are not cached."""
    stamp = path_stamp(path) if "://" not in path else None
    if stamp is None:
        return build()
    slot = (path, key)
    with _relations_lock:
        hit = _relations.get(slot)
    if hit is not None and hit[0] is spark and hit[1] == stamp:
        return hit[2]
    relation = build()
    if relation is not None:
        with _relations_lock:
            _relations.pop(slot, None)
            if len(_relations) >= _MAX_RELATIONS:
                _relations.pop(next(iter(_relations)))
            _relations[slot] = (spark, stamp, relation)
    return relation


# (cache_key, column) -> (path_stamp, inferred unit), so repeated
# load_table calls on the same parquet file never re-run the inference
# scan. The stamp invalidates the entry when the same path is REWRITTEN
# with data in a different epoch unit within one process (overwrite in
# tests/notebooks) — a stale unit would silently misdecode every
# timestamp by 1000x — and the re-inferred unit replaces it, so one
# path and column hold one entry however often the path is rewritten.
_EPOCH_UNIT_CACHE: dict[tuple[str, str], tuple[Optional[tuple], str]] = {}


def _infer_unit(max_abs: int) -> str:
    for unit, edge in _UNIT_BANDS:
        if max_abs >= edge:
            return unit
    return "s"


def _epoch_to_us_expr(df: DataFrame, name: str, cache_key: str | None):
    """Column-level epoch→µs conversion: infer the unit once from
    ``max(abs(v))`` (cached), warn on values outside the inferred
    unit's unambiguous 1976–8300 band."""
    key = (cache_key, name) if cache_key else None
    stamp = path_stamp(cache_key) if cache_key else None
    hit = _EPOCH_UNIT_CACHE.get(key) if key else None
    unit = hit[1] if hit is not None and hit[0] == stamp else None
    if unit is None:
        row = df.agg(
            F.max(F.abs(F.col(name))).alias("mx"),
            F.min(F.abs(F.col(name))).alias("mn"),
        ).first()
        mx, mn = row["mx"], row["mn"]
        if mx is None:  # all-NULL column: factor is irrelevant
            unit = "us"
        else:
            unit = _infer_unit(int(mx))
            lo = dict(_UNIT_BANDS)[unit]
            if lo and mn is not None and int(mn) and int(mn) < lo:
                import warnings

                warnings.warn(
                    f"epoch column {name!r}: min(abs)={mn} is below the "
                    f"unambiguous band of inferred unit {unit!r} "
                    f"(max(abs)={mx}) — mixed magnitudes or pre-1976 "
                    "instants present; the whole column decodes as "
                    f"{unit!r}",
                    stacklevel=3,
                )
        if key:
            _EPOCH_UNIT_CACHE[key] = (stamp, unit)
    col = F.col(name)
    if unit == "ns":
        return F.expr(f"`{name}` div 1000")  # integer truncation, DuckDB parity
    return col * F.lit(_US_FACTOR[unit])


def normalize_timestamp_cols(
    df: DataFrame, *names: str, cache_key: str | None = None
) -> DataFrame:
    """Normalize declared timestamp columns to microsecond TimestampType.

    - LONG epoch values → µs timestamp. The physical unit of a LONG epoch
      column has varied across testdata generations (nanos under the
      nanosAsLong representation of parquet TIMESTAMP(NANOS), but raw
      INT64 micros has also been observed), so the unit is inferred from
      magnitude:

        |v| ≥ 2e17 → nanos  (2e17 ns ≈ 1976; a µs value that large ≈ 8300)
        |v| ≥ 2e14 → micros (2e14 µs ≈ 1976; ms ≈ 8300)
        |v| ≥ 2e11 → millis (2e11 ms ≈ 1976; s  ≈ 8300)
        else       → seconds

      Unambiguous for instants between 1976 and ~8300. ns→µs uses integer
      division (no double round-trip), matching DuckDB's ns→µs truncation
      bit-for-bit. Round 2's two red streaming rows were this: µs longs
      divided by 1000 as if nanos compressed 30 days of events into 43
      minutes (exactly 2 hour-windows/type) and scaled ts_us 1000×.

      For BATCH frames the unit is inferred ONCE PER COLUMN from
      ``max(abs(v))`` (one tiny single-column aggregate, cached per
      ``cache_key`` so repeated loads of the same file never rescan):
      per-VALUE inference silently decodes a mixed-magnitude column —
      one corrupt sentinel row, or a legit pre-1976 instant whose
      millis value sits below the seconds threshold — row by row with
      different units. A warning fires when the column's min(abs)
      falls outside the inferred unit's unambiguous band (mixed or
      pre-1976 values present). STREAMING frames cannot run the
      inference aggregate, so they keep the pure per-value CASE
      expression — acceptable because stream payloads are produced by
      one writer with one unit.
    - TIMESTAMP_NTZ (parquet isAdjustedToUTC=false) → TIMESTAMP; with the
      session pinned to UTC the instant is identical.

    No-op for absent columns or columns already TimestampType.
    """
    for name in names:
        if not name or name not in df.columns:
            continue
        dt = df.schema[name].dataType
        if isinstance(dt, T.LongType):
            if df.isStreaming:
                v = f"`{name}`"
                df = df.withColumn(
                    name,
                    F.timestamp_micros(
                        F.expr(
                            f"CASE WHEN abs({v}) >= 200000000000000000 "
                            f"THEN {v} div 1000 "
                            f"WHEN abs({v}) >= 200000000000000 THEN {v} "
                            f"WHEN abs({v}) >= 200000000000 THEN {v} * 1000 "
                            f"ELSE {v} * 1000000 END"
                        )
                    ),
                )
            else:
                to_us = _epoch_to_us_expr(df, name, cache_key)
                df = df.withColumn(name, F.timestamp_micros(to_us))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _conf_bytes(value: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('128MB', '1g', '134217728b',
    bare digits)."""
    try:
        v = value.strip().lower()
        if v.endswith("b") and not v[-2:-1].isdigit():
            v = v[:-1]  # 'mb' / 'kb' / 'gb' → 'm' / 'k' / 'g'
        elif v.endswith("b"):
            v = v[:-1]  # '...8b' → bare digits
        if v and v[-1] in _SIZE_SUFFIX:
            return int(float(v[:-1]) * _SIZE_SUFFIX[v[-1]])
        return int(v)
    except (ValueError, AttributeError):
        return default


# Fan-out floor: below this, a table is a dimension (region/nation/…)
# whose extra exchange and empty partitions cost more than one task's
# scan.
_FAN_OUT_MIN_BYTES = 1 << 18


def _fan_out_small_scan(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Parallelize a scan the file layout cannot split (guide §2.5
    "input skew: one huge unsplittable file … repartition immediately
    after the read").

    The testdata tables are single-file, single-row-group parquet, so
    every scan is ONE task no matter how many cores the session has —
    and the scan stage is where Spark pipelines each query's per-row
    projection work (tokenize/regex/shingle/vector math). Measured
    (sf0.1, profiler): the simhash fingerprint ran 2.1 s on one core,
    the training-corpus quality projection 1.9 s, kmeans assignment
    2.1 s, all with 31 cores idle.

    Scale-adaptive by construction: fans out ONLY when the whole file
    fits in a single scan split (size < maxPartitionBytes) — at
    production scale a table spans many splits and this is a no-op —
    and never for dimension-sized files (< ~256 KB), where 31 empty
    partitions per consumer cost more than the one-task scan. The
    round-robin exchange moves only this small file's bytes once, and
    its sort-based assignment is deterministic across runs/retries."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    parallelism = spark.sparkContext.defaultParallelism
    max_split = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        134217728,
    )
    if parallelism <= 1 or not _FAN_OUT_MIN_BYTES <= size < max_split:
        return df
    return df.repartition(parallelism)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """``fan_out=True`` opts a CPU-heavy consumer into
    :func:`_fan_out_small_scan`. Opt-in, not default: the round-robin
    exchange is re-paid by every job that re-executes the scan subtree,
    which measured net-negative for multi-action queries over these
    small files (interleaved A/B: lm_backoff 1.20 → 2.58 s, kmeans_train
    1.55 → 2.25 s) while single-pass CPU-dense consumers win big
    (semantic_decontaminate 1.51 → 0.85 s, count_min 2.94 → 2.05 s)."""
    ensure_nanos_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if fan_out:
        df = _fan_out_small_scan(spark, df, path)
    # Nano-timestamp normalization (events.ts) + NTZ → TIMESTAMP engine-wide
    # so epoch arithmetic stays castable.
    ts_like = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
        or (f.name == "ts" and isinstance(f.dataType, T.LongType))
    ]
    return normalize_timestamp_cols(
        df, *ts_like, cache_key=os.path.join(sf_dir, f"{name}.parquet")
    )
