"""Online retrieval golden tests.

Mirrors the reference suites (SURVEY §5 / FIXTURES F1-F4):
- OnlineServingServiceTest.java: PRESENT (:137-202), NOT_FOUND (:205-265),
  OUTSIDE_MAX_AGE (:268-346), compound keys (:367-393).
- ServingServiceBigTableIT.java: wrong-type nulling (:108-109),
  all 14 value types (:691-801), unregistered feature → NOT_FOUND.
"""

import datetime as dt

import pytest
from pyspark.sql import types as T

from feast_java_old_spark.operators.materialize import materialize
from feast_java_old_spark.operators.retrieval import get_online_features
from feast_java_old_spark.registry.model import (
    Entity,
    Feature,
    FeatureTable,
    FileSource,
    ValueType,
)
from feast_java_old_spark.registry.registry import Registry

TS = dt.datetime(2024, 1, 15, 12, 0, 0)


def ts(secs_ago: int) -> dt.datetime:
    return TS - dt.timedelta(seconds=secs_ago)


@pytest.fixture()
def rides_env(spark, tmp_path, tmp_store):
    """F1: rides table, driver_id entity, 4 features, max_age 7200."""
    src = str(tmp_path / "rides_src")
    schema = T.StructType(
        [
            T.StructField("driver_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("trip_cost", T.LongType()),
            T.StructField("trip_distance", T.DoubleType()),
            T.StructField("trip_empty", T.DoubleType()),
            T.StructField("trip_wrong_type", T.StringType()),
        ]
    )
    rows = [
        # driver 1: two rows — latest (ts-100) must win
        (1, ts(100), 5, 3.5, None, "test"),
        (1, ts(5000), 99, 99.9, 1.0, "old"),
        # driver 3: only a stale row (older than max_age 7200)
        (3, ts(10_000), 7, 1.2, None, "x"),
    ]
    spark.createDataFrame(rows, schema).write.parquet(src)

    reg = Registry()
    reg.apply_entity(Entity("driver_id", ValueType.INT64))
    reg.apply_feature_table(
        FeatureTable(
            name="rides",
            entities=["driver_id"],
            features=[
                Feature("trip_cost", ValueType.INT64),
                Feature("trip_distance", ValueType.DOUBLE),
                Feature("trip_empty", ValueType.DOUBLE),
                # declared DOUBLE but stored STRING → P5 type-conformance null
                Feature("trip_wrong_type", ValueType.DOUBLE),
            ],
            max_age_secs=7200,
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "rides", tmp_store)
    return reg, tmp_store


def fetch(spark, reg, store, rows, refs, **kw):
    df = get_online_features(spark, reg, rows, refs, store, request_ts=TS, **kw)
    return [r.asDict() for r in df.collect()]


def test_present_and_latest_wins(spark, rides_env):
    reg, store = rides_env
    out = fetch(
        spark, reg, store, [{"driver_id": 1}],
        ["rides:trip_cost", "rides:trip_distance"],
    )
    assert out[0]["rides__trip_cost"] == 5  # not the older 99
    assert out[0]["rides__trip_cost__status"] == "PRESENT"
    assert out[0]["rides__trip_distance"] == 3.5


def test_not_found_missing_key(spark, rides_env):
    reg, store = rides_env
    out = fetch(spark, reg, store, [{"driver_id": 2}], ["rides:trip_cost"])
    assert out[0]["rides__trip_cost"] is None
    assert out[0]["rides__trip_cost__status"] == "NOT_FOUND"


def test_null_value_status(spark, rides_env):
    reg, store = rides_env
    out = fetch(spark, reg, store, [{"driver_id": 1}], ["rides:trip_empty"])
    assert out[0]["rides__trip_empty"] is None
    assert out[0]["rides__trip_empty__status"] == "NULL_VALUE"


def test_outside_max_age(spark, rides_env):
    reg, store = rides_env
    out = fetch(spark, reg, store, [{"driver_id": 3}], ["rides:trip_cost"])
    assert out[0]["rides__trip_cost"] is None
    assert out[0]["rides__trip_cost__status"] == "OUTSIDE_MAX_AGE"


def test_wrong_type_nulled(spark, rides_env):
    reg, store = rides_env
    out = fetch(spark, reg, store, [{"driver_id": 1}], ["rides:trip_wrong_type"])
    assert out[0]["rides__trip_wrong_type"] is None
    assert out[0]["rides__trip_wrong_type__status"] == "NULL_VALUE"


def test_unregistered_feature_not_found(spark, rides_env):
    reg, store = rides_env
    out = fetch(spark, reg, store, [{"driver_id": 1}], ["rides:trip_transaction"])
    assert out[0]["rides__trip_transaction__status"] == "NOT_FOUND"


def test_row_order_preserved(spark, rides_env):
    reg, store = rides_env
    rows = [{"driver_id": d} for d in (3, 1, 2, 1)]
    out = fetch(spark, reg, store, rows, ["rides:trip_cost"])
    assert [r["driver_id"] for r in out] == [3, 1, 2, 1]
    assert [r["rides__trip_cost__status"] for r in out] == [
        "OUTSIDE_MAX_AGE", "PRESENT", "NOT_FOUND", "PRESENT",
    ]


def test_per_row_request_timestamp(spark, rides_env):
    """F2: per-row entity timestamps drive staleness individually."""
    reg, store = rides_env
    rows = [
        {"driver_id": 1, "event_timestamp": TS},                        # fresh
        {"driver_id": 1, "event_timestamp": TS + dt.timedelta(9999)},   # stale
    ]
    out = fetch(spark, reg, store, rows, ["rides:trip_cost"])
    assert out[0]["rides__trip_cost__status"] == "PRESENT"
    assert out[1]["rides__trip_cost__status"] == "OUTSIDE_MAX_AGE"


def test_max_age_zero_no_staleness(spark, tmp_path, tmp_store):
    """max_age=0 → no check (OnlineServingServiceV2.java:361-363)."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, ts(10_000_000), 5)], "driver_id long, ts timestamp, f long"
    ).write.parquet(src)
    reg = Registry()
    reg.apply_entity(Entity("driver_id", ValueType.INT64))
    reg.apply_feature_table(
        FeatureTable(
            "ancient", ["driver_id"], [Feature("f", ValueType.INT64)],
            max_age_secs=0,
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "ancient", tmp_store)
    out = fetch(spark, reg, tmp_store, [{"driver_id": 1}], ["ancient:f"])
    assert out[0]["ancient__f__status"] == "PRESENT"


def test_compound_entity_key(spark, tmp_path, tmp_store):
    """F4: rides_merchant keyed by (driver_id, merchant_id)."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1234, ts(100), 5), (1, 5678, ts(100), 9)],
        "driver_id long, merchant_id long, ts timestamp, trip_cost long",
    ).write.parquet(src)
    reg = Registry()
    reg.apply_entity(Entity("driver_id", ValueType.INT64))
    reg.apply_entity(Entity("merchant_id", ValueType.INT64))
    reg.apply_feature_table(
        FeatureTable(
            "rides_merchant", ["driver_id", "merchant_id"],
            [Feature("trip_cost", ValueType.INT64)],
            max_age_secs=7200,
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "rides_merchant", tmp_store)
    rows = [
        {"driver_id": 1, "merchant_id": 1234},
        {"driver_id": 1, "merchant_id": 9999},
    ]
    out = fetch(spark, reg, tmp_store, rows, ["rides_merchant:trip_cost"])
    assert out[0]["rides_merchant__trip_cost"] == 5
    assert out[0]["rides_merchant__trip_cost__status"] == "PRESENT"
    assert out[1]["rides_merchant__trip_cost__status"] == "NOT_FOUND"


def test_all_fourteen_value_types(spark, tmp_path, tmp_store):
    """F3: all_types table — every Feast value type returns PRESENT with
    the exact stored value (ServingServiceBigTableIT:691-801)."""
    src = str(tmp_path / "src")
    schema = T.StructType(
        [
            T.StructField("entity", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("f_int64", T.LongType()),
            T.StructField("f_int32", T.IntegerType()),
            T.StructField("f_float", T.FloatType()),
            T.StructField("f_double", T.DoubleType()),
            T.StructField("f_string", T.StringType()),
            T.StructField("f_bytes", T.BinaryType()),
            T.StructField("f_bool", T.BooleanType()),
            T.StructField("f_int64_list", T.ArrayType(T.LongType())),
            T.StructField("f_int32_list", T.ArrayType(T.IntegerType())),
            T.StructField("f_float_list", T.ArrayType(T.FloatType())),
            T.StructField("f_double_list", T.ArrayType(T.DoubleType())),
            T.StructField("f_string_list", T.ArrayType(T.StringType())),
            T.StructField("f_bytes_list", T.ArrayType(T.BinaryType())),
            T.StructField("f_bool_list", T.ArrayType(T.BooleanType())),
        ]
    )
    row = (
        "key", ts(100), 10, 10, 10.0, 10.0, "test", bytearray(b"test"), True,
        [10], [10], [10.0], [10.0], ["test"], [bytearray(b"test")], [True],
    )
    spark.createDataFrame([row], schema).write.parquet(src)
    reg = Registry()
    reg.apply_entity(Entity("entity", ValueType.STRING))
    feats = [
        Feature(f.name, ValueType.from_spark(f.dataType))
        for f in schema.fields
        if f.name.startswith("f_")
    ]
    reg.apply_feature_table(
        FeatureTable(
            "all_types", ["entity"], feats, max_age_secs=7200,
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "all_types", tmp_store)
    refs = [f"all_types:{f.name}" for f in feats]
    out = fetch(spark, reg, tmp_store, [{"entity": "key"}], refs)
    r = out[0]
    for f in feats:
        assert r[f"all_types__{f.name}__status"] == "PRESENT", f.name
    assert r["all_types__f_int64"] == 10
    assert r["all_types__f_string"] == "test"
    assert bytes(r["all_types__f_bytes"]) == b"test"
    assert r["all_types__f_bool"] is True
    assert r["all_types__f_int64_list"] == [10]
    assert r["all_types__f_string_list"] == ["test"]
    assert [bytes(b) for b in r["all_types__f_bytes_list"]] == [b"test"]


def test_multiple_tables_one_request(spark, rides_env, tmp_path):
    reg, store = rides_env
    src = str(tmp_path / "src2")
    sp = next(iter([]), None)  # noqa: keep simple
    import pyspark.sql.functions as F  # local import for clarity

    spark_df = spark.createDataFrame(
        [(1, ts(50), 42.0)], "driver_id long, ts timestamp, rating double"
    )
    spark_df.write.parquet(src)
    reg.apply_feature_table(
        FeatureTable(
            "driver_stats", ["driver_id"], [Feature("rating", ValueType.DOUBLE)],
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "driver_stats", store)
    out = fetch(
        spark, reg, store, [{"driver_id": 1}, {"driver_id": 2}],
        ["rides:trip_cost", "driver_stats:rating"],
    )
    assert out[0]["rides__trip_cost"] == 5
    assert out[0]["driver_stats__rating"] == 42.0
    assert out[1]["rides__trip_cost__status"] == "NOT_FOUND"
    assert out[1]["driver_stats__rating__status"] == "NOT_FOUND"


def test_shuffle_strategy_agrees_with_broadcast(spark, rides_env):
    """Backfill-scale strategy produces identical results to the
    broadcast plan."""
    reg, store = rides_env
    rows = [{"driver_id": d} for d in (1, 2, 3)]
    a = fetch(spark, reg, store, rows, ["rides:trip_cost"])
    b = fetch(spark, reg, store, rows, ["rides:trip_cost"], strategy="shuffle")
    assert a == b


def test_preserve_order_false_skips_range_exchange(spark, rides_env):
    """preserve_order=False drops the global orderBy — no range exchange
    in the plan (the bulk/backfill latency fix); values are unchanged."""
    reg, store = rides_env
    rows = [{"driver_id": d} for d in (3, 1, 2)]

    ordered = get_online_features(
        spark, reg, rows, ["rides:trip_cost"], store, request_ts=TS,
        strategy="shuffle",
    )
    unordered = get_online_features(
        spark, reg, rows, ["rides:trip_cost"], store, request_ts=TS,
        strategy="shuffle", preserve_order=False,
    )
    plan_o = ordered._jdf.queryExecution().executedPlan().toString()
    plan_u = unordered._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan_o
    assert "rangepartitioning" not in plan_u

    key = lambda r: r["driver_id"]  # noqa: E731
    a = sorted((r.asDict() for r in ordered.collect()), key=key)
    b = sorted((r.asDict() for r in unordered.collect()), key=key)
    assert a == b


def test_store_path_reads_streaming_versioned_layout(spark, rides_env, tmp_path):
    """A streaming-materialized online table (vNNN dirs + _LATEST pointer)
    is served through the same store_path lookup as batch layouts."""
    import shutil

    from feast_java_old_spark.operators.materialize import online_table_path
    from feast_java_old_spark.streaming.ingest import merge_latest_batch

    reg, store = rides_env
    # Rebuild the rides online table in the versioned streaming layout.
    batch_path = online_table_path(store, "default", "rides")
    current = spark.read.parquet(batch_path)
    vpath = str(tmp_path / "vstore" / "default" / "rides")
    merge_latest_batch(spark, current, vpath, ["driver_id"], batch_id=0)
    shutil.rmtree(batch_path)
    spark.read.parquet(vpath + "/v000000000000")  # sanity: versioned layout

    out = fetch(
        spark, reg, str(tmp_path / "vstore"), [{"driver_id": 1}],
        ["rides:trip_cost"],
    )
    assert out[0]["rides__trip_cost"] == 5
    assert out[0]["rides__trip_cost__status"] == "PRESENT"


def test_get_online_features_through_spec_cache(spark, rides_env):
    """A4 integration: CachedSpecService is a drop-in Registry for the
    serving path — same results, spec loads hit the cache."""
    from feast_java_old_spark.registry.cache import CachedSpecService

    reg, store = rides_env
    cached = CachedSpecService(reg)
    out = get_online_features(
        spark, cached,
        [{"driver_id": 1}, {"driver_id": 999}],
        ["rides:trip_cost"], store,
        request_ts=TS,
    ).collect()
    base = get_online_features(
        spark, reg,
        [{"driver_id": 1}, {"driver_id": 999}],
        ["rides:trip_cost"], store,
        request_ts=TS,
    ).collect()
    assert out == base
    assert len(cached) >= 1  # the spec load went through the cache


def test_null_entity_key_is_not_found_not_dropped(spark, rides_env):
    """NULL-robustness (VERDICT r9 #8): a NULL entity key in the
    request must surface as a NOT_FOUND response ROW — never a dropped
    row (the response is positionally aligned with the request), and
    never a NULL-matches-NULL join (J1 uses `=` semantics, not `<=>`:
    an unknown key must not pick up a corrupt NULL-keyed store row).
    Pinned for BOTH join strategies."""
    reg, store = rides_env
    for strat in ("broadcast", "shuffle"):
        out = fetch(
            spark, reg, store,
            [{"driver_id": None}, {"driver_id": 1}, {"driver_id": None}],
            ["rides:trip_cost"],
            strategy=strat,
        )
        assert len(out) == 3, strat
        assert out[0]["rides__trip_cost__status"] == "NOT_FOUND"
        assert out[0]["rides__trip_cost"] is None
        assert out[1]["rides__trip_cost__status"] == "PRESENT"
        assert out[2]["rides__trip_cost__status"] == "NOT_FOUND"


def test_string_key_on_one_side_only(spark, rides_env):
    """A key that is a string on one side only is compared the way the
    join compares it (the string side cast to the other side's type),
    so the key filter inside the scan keeps every row the join matches."""
    reg, store = rides_env
    out = fetch(
        spark, reg, store, [{"driver_id": "1"}, {"driver_id": "2"}],
        ["rides:trip_cost"],
    )
    assert [r["rides__trip_cost"] for r in out] == [5, None]
    assert [r["rides__trip_cost__status"] for r in out] == [
        "PRESENT", "NOT_FOUND",
    ]

    online = spark.createDataFrame(
        [("1", ts(100), 5)],
        "driver_id string, event_timestamp timestamp, trip_cost long",
    )
    out = fetch(
        spark, reg, None, [{"driver_id": 1}, {"driver_id": 2}],
        ["rides:trip_cost"], online_frames={"rides": online},
    )
    assert [r["rides__trip_cost"] for r in out] == [5, None]


def test_null_component_of_compound_key_is_not_found(
    spark, tmp_path, tmp_store
):
    """J2 with a NULL in ONE component of a compound entity key: the
    row survives as NOT_FOUND (no partial-key match, no drop)."""
    src = str(tmp_path / "cmp_src")
    schema = T.StructType(
        [
            T.StructField("merchant_id", T.LongType()),
            T.StructField("region", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("sales", T.LongType()),
        ]
    )
    spark.createDataFrame([(10, "eu", ts(100), 7)], schema).write.parquet(src)
    reg = Registry()
    reg.apply_entity(Entity("merchant_id", ValueType.INT64))
    reg.apply_entity(Entity("region", ValueType.STRING))
    reg.apply_feature_table(
        FeatureTable(
            name="m_sales",
            entities=["merchant_id", "region"],
            features=[Feature("sales", ValueType.INT64)],
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "m_sales", tmp_store)
    out = fetch(
        spark, reg, tmp_store,
        [
            {"merchant_id": 10, "region": None},
            {"merchant_id": None, "region": "eu"},
            {"merchant_id": 10, "region": "eu"},
        ],
        ["m_sales:sales"],
    )
    assert [r["m_sales__sales__status"] for r in out] == [
        "NOT_FOUND",
        "NOT_FOUND",
        "PRESENT",
    ]
    assert out[2]["m_sales__sales"] == 7


# ------------------------------------------------- online-table cache:
# the serving path keeps each local online table's relation and plan
# between requests, keyed on a stamp of the served directory's listing
# and on the spec. Every change a live deployment can make between two
# requests must be served by the next one, through one controller.


def _controller(spark, reg, store):
    from feast_java_old_spark.plans.serving_rest import (
        ServingServiceRestController,
    )

    return ServingServiceRestController(spark, reg, store, request_ts=TS)


def _serve(ctl, rows, refs):
    return [r.asDict() for r in ctl.retrieve(refs, rows, "default").collect()]


def test_cache_serves_rematerialized_values(spark, rides_env):
    reg, store = rides_env
    ctl = _controller(spark, reg, store)
    rows = [{"driver_id": 1}, {"driver_id": 4}]
    first = _serve(ctl, rows, ["rides:trip_cost"])
    assert [r["rides__trip_cost"] for r in first] == [5, None]

    spec = reg.get_feature_table("rides")
    spark.createDataFrame(
        [(1, ts(10), 11, 1.0, None, "x"), (4, ts(10), 44, 4.0, None, "y")],
        "driver_id long, ts timestamp, trip_cost long, trip_distance double,"
        " trip_empty double, trip_wrong_type string",
    ).write.mode("overwrite").parquet(spec.batch_source.file_url)
    materialize(spark, reg, "rides", store)
    second = _serve(ctl, rows, ["rides:trip_cost"])
    assert [r["rides__trip_cost"] for r in second] == [11, 44]
    assert [r["rides__trip_cost__status"] for r in second] == ["PRESENT"] * 2


def test_cache_serves_streaming_pointer_flip(spark, rides_env, tmp_path):
    from feast_java_old_spark.operators.materialize import online_table_path
    from feast_java_old_spark.streaming.ingest import merge_latest_batch

    reg, store = rides_env
    vstore = str(tmp_path / "vstore")
    vpath = online_table_path(vstore, "default", "rides")
    current = spark.read.parquet(online_table_path(store, "default", "rides"))
    merge_latest_batch(spark, current, vpath, ["driver_id"], batch_id=0)
    ctl = _controller(spark, reg, vstore)
    assert _serve(ctl, [{"driver_id": 1}], ["rides:trip_cost"])[0][
        "rides__trip_cost"
    ] == 5

    newer = current.where("driver_id = 1").selectExpr(
        "driver_id", "event_timestamp + INTERVAL 50 SECONDS AS event_timestamp",
        "CAST(77 AS BIGINT) AS trip_cost", "trip_distance", "trip_empty",
        "trip_wrong_type",
    )
    merge_latest_batch(spark, newer, vpath, ["driver_id"], batch_id=1)
    out = _serve(ctl, [{"driver_id": 1}], ["rides:trip_cost"])
    assert out[0]["rides__trip_cost"] == 77


def test_cache_serves_table_materialized_after_first_request(
    spark, rides_env, tmp_path
):
    reg, store = rides_env
    src = str(tmp_path / "late_src")
    spark.createDataFrame(
        [(1, ts(50), 42.0)], "driver_id long, ts timestamp, rating double"
    ).write.parquet(src)
    reg.apply_feature_table(
        FeatureTable(
            "driver_stats", ["driver_id"], [Feature("rating", ValueType.DOUBLE)],
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    ctl = _controller(spark, reg, store)
    refs = ["rides:trip_cost", "driver_stats:rating"]
    before = _serve(ctl, [{"driver_id": 1}], refs)[0]
    assert before["driver_stats__rating__status"] == "NOT_FOUND"
    assert before["rides__trip_cost"] == 5

    materialize(spark, reg, "driver_stats", store)
    after = _serve(ctl, [{"driver_id": 1}], refs)[0]
    assert after["driver_stats__rating"] == 42.0
    assert after["driver_stats__rating__status"] == "PRESENT"


def test_cache_serves_reapplied_spec_without_rematerialize(spark, rides_env):
    import dataclasses

    reg, store = rides_env
    ctl = _controller(spark, reg, store)
    refs = ["rides:trip_cost", "rides:trip_extra"]
    before = _serve(ctl, [{"driver_id": 1}], refs)[0]
    assert before["rides__trip_cost__status"] == "PRESENT"
    assert before["rides__trip_extra__status"] == "NOT_FOUND"  # unregistered

    spec = reg.get_feature_table("rides")
    added = dataclasses.replace(
        spec, features=[*spec.features, Feature("trip_extra", ValueType.INT32)]
    )
    reg.apply_feature_table(added)
    after_add = _serve(ctl, [{"driver_id": 1}], refs)[0]
    assert after_add["rides__trip_cost"] == 5
    # registered now and the key is found, but no value is stored yet
    assert after_add["rides__trip_extra__status"] == "NULL_VALUE"

    reg.apply_feature_table(dataclasses.replace(added, max_age_secs=50))
    after_age = _serve(ctl, [{"driver_id": 1}], refs)[0]
    assert after_age["rides__trip_cost"] is None  # the stored row is 100 s old
    assert after_age["rides__trip_cost__status"] == "OUTSIDE_MAX_AGE"


def test_cache_shared_by_concurrent_requests(spark, rides_env):
    """Serving threads share the cache: more threads than cores, racing
    on a cold entry with different request shapes, all answer right."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    reg, store = rides_env
    ctl = _controller(spark, reg, store)
    rows = [{"driver_id": d} for d in (1, 2, 3)]
    expected = {
        "trip_cost": ([5, None, None], "PRESENT"),
        "trip_distance": ([3.5, None, None], "PRESENT"),
        "trip_empty": ([None, None, None], "NULL_VALUE"),
    }
    shapes = [
        ["trip_cost"], ["trip_distance"], ["trip_empty", "trip_cost"],
        ["trip_distance", "trip_empty"],
    ]

    def one(i):
        names = shapes[i % len(shapes)]
        out = _serve(ctl, rows, [f"rides:{n}" for n in names])
        for n in names:
            values, first_status = expected[n]
            assert [r[f"rides__{n}"] for r in out] == values
            assert [r[f"rides__{n}__status"] for r in out] == [
                first_status, "NOT_FOUND", "OUTSIDE_MAX_AGE",
            ]
        return True

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(one, i) for i in range(16)]
            assert all(f.result(timeout=120) for f in futures)
    finally:
        sys.setswitchinterval(old)


def test_list_request_plan_has_no_exchange_and_bounded_jobs(
    spark, rides_env, tmp_path
):
    """A driver-side request over two tables plans as broadcasts only:
    no hash or range exchange. Its collect runs one scan broadcast job
    per table and the result job: the key set is an array literal inside
    each scan, and the order is restored by a one-partition local sort."""
    reg, store = rides_env
    src = str(tmp_path / "src2")
    spark.createDataFrame(
        [(1, ts(50), 42.0)], "driver_id long, ts timestamp, rating double"
    ).write.parquet(src)
    reg.apply_feature_table(
        FeatureTable(
            "driver_stats", ["driver_id"], [Feature("rating", ValueType.DOUBLE)],
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "driver_stats", store)
    rows = [{"driver_id": d} for d in (3, 1, 2, 1)]
    refs = ["rides:trip_cost", "driver_stats:rating"]
    fetch(spark, reg, store, rows, refs)  # warm the online-table cache

    tracker = spark.sparkContext.statusTracker()
    first = max(tracker.getJobIdsForGroup(None), default=-1) + 1
    df = get_online_features(spark, reg, rows, refs, store, request_ts=TS)
    out = [r.asDict() for r in df.collect()]
    last = max(tracker.getJobIdsForGroup(None), default=-1)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert last - first + 1 <= 2 + 1
    assert [r["driver_id"] for r in out] == [3, 1, 2, 1]
    assert [r["driver_stats__rating"] for r in out] == [None, 42.0, None, 42.0]


def _jobs_of(spark, df):
    """The rows of ``df`` and the number of Spark jobs collecting it ran."""
    tracker = spark.sparkContext.statusTracker()
    first = max(tracker.getJobIdsForGroup(None), default=-1) + 1
    out = [r.asDict() for r in df.collect()]
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    return out, last - first + 1


@pytest.fixture()
def store_sku_env(spark, rides_env, tmp_path):
    """rides (``driver_id``) plus store_sku, keyed by (store_id, sku):
    the two key shapes of a serving request over two tables."""
    reg, store = rides_env
    src = str(tmp_path / "sku_src")
    spark.createDataFrame(
        [(s, k, ts(50), s * 100 + k) for s in range(3) for k in range(4)],
        "store_id long, sku long, ts timestamp, qty long",
    ).write.parquet(src)
    reg.apply_entity(Entity("store_id", ValueType.INT64))
    reg.apply_entity(Entity("sku", ValueType.INT64))
    reg.apply_feature_table(
        FeatureTable(
            "store_sku", ["store_id", "sku"], [Feature("qty", ValueType.INT64)],
            batch_source=FileSource(file_url=src, event_timestamp_column="ts"),
        )
    )
    materialize(spark, reg, "store_sku", store)
    return reg, store


def test_simple_and_compound_key_request_runs_three_jobs(spark, store_sku_env):
    """10 rows over a single-key and a compound-key table: one scan
    broadcast job per table plus the result job, no exchange."""
    reg, store = store_sku_env
    rows = [
        {"driver_id": d, "store_id": s, "sku": k}
        for d, s, k in [
            (1, 0, 0), (2, 1, 3), (3, 2, 2), (1, 9, 0), (4, 0, 9),
            (1, 2, 1), (5, 1, 1), (3, 0, 3), (1, 2, 3), (6, 1, 0),
        ]
    ]
    refs = ["rides:trip_cost", "store_sku:qty", "rides:trip_distance"]
    fetch(spark, reg, store, rows, refs)  # warm the online-table cache
    df = get_online_features(spark, reg, rows, refs, store, request_ts=TS)
    out, jobs = _jobs_of(spark, df)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert jobs <= 3
    assert [r["store_sku__qty"] for r in out] == [
        s * 100 + k if s < 3 and k < 4 else None
        for s, k in ((r["store_id"], r["sku"]) for r in rows)
    ]
    assert [r["rides__trip_cost"] for r in out] == [
        5 if r["driver_id"] == 1 else None for r in rows
    ]


def test_warm_request_overhead_is_bounded(spark, store_sku_env):
    """A warm request builds its plan as one SQL statement: few py4j
    round trips (a plan built Column by Column took about 560 for this
    shape), and fresh keys compile no new code, because the key set is
    an array literal, a reference object in generated code."""
    import threading

    from py4j.clientserver import ClientServerConnection

    reg, store = store_sku_env
    refs = ["rides:trip_cost", "store_sku:qty", "rides:trip_distance"]

    def rows(d, s):
        return [{"driver_id": 1, "store_id": 0, "sku": 0},
                {"driver_id": d, "store_id": s, "sku": 7}]

    fetch(spark, reg, store, rows(20, 5), refs)
    fetch(spark, reg, store, rows(21, 6), refs)

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    sent = []
    caller = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command, *a, **k):
        # Only the requesting thread's round trips: py4j releases freed
        # Java objects from a thread of its own, whenever they are freed.
        if threading.get_ident() == caller:
            sent.append(command)
        return send(self, command, *a, **k)

    ClientServerConnection.send_command = counting
    try:
        out = fetch(spark, reg, store, rows(22, 8), refs)
    finally:
        ClientServerConnection.send_command = send
    after = compiles.METRIC_COMPILATION_TIME().getCount()

    assert [r["rides__trip_cost__status"] for r in out] == ["PRESENT", "NOT_FOUND"]
    assert [r["store_sku__qty"] for r in out] == [0, None]
    assert len(sent) <= 60, len(sent)
    assert after == before


# ---------------------------------------------------------------- r16 opt:
# Arrow request-frame fast path (guide §4/§6 — one Arrow batch instead of a
# pickled-Python RDD). The fast path must be invisible except in speed:
# identical schema, column order, and rows vs the legacy inference path.


class TestArrowRequestFrame:
    @staticmethod
    def _both_paths(spark, monkeypatch, rows, hints=None):
        from feast_java_old_spark.operators import retrieval as R

        fast = R._entity_rows_df(spark, rows, hints)
        with monkeypatch.context() as m:
            m.setattr(R, "_arrow_request_frame", lambda *a, **k: None)
            legacy = R._entity_rows_df(spark, rows, hints)
        return fast, legacy

    def test_scalar_rows_match_legacy_exactly(self, spark, monkeypatch):
        rows = [
            {"user_id": 1, "score": 2.5, "name": "a", "flag": True,
             "blob": b"\x00\x01", "when": dt.datetime(2024, 1, 15, 12)},
            {"user_id": None, "score": None, "name": None, "flag": False,
             "blob": None, "when": None},
        ]
        fast, legacy = self._both_paths(spark, monkeypatch, rows)
        assert [(f.name, f.dataType) for f in fast.schema.fields] == [
            (f.name, f.dataType) for f in legacy.schema.fields
        ]
        assert fast.collect() == legacy.collect()

    def test_fast_path_actually_used_for_scalars(self, spark):
        from feast_java_old_spark.operators import retrieval as R

        rows = [{"k": 1, "__row_idx": 0}]
        assert R._arrow_request_frame(spark, rows, ["k", "__row_idx"], {}) is not None

    @pytest.mark.parametrize(
        "rows",
        [
            [{"k": 1}, {"k": "mixed"}],                      # mixed types
            [{"k": [1, 2]}],                                 # list payload
            [{"k": dt.datetime(2024, 1, 1,
                               tzinfo=dt.timezone.utc)}],    # tz-aware
            [{"k": None}],                                   # all-NULL, no hint
            [{"k": 1 << 70}],                                # int64 overflow
        ],
    )
    def test_fallback_cases_return_none(self, spark, rows):
        from feast_java_old_spark.operators import retrieval as R

        cols = list(dict.fromkeys(k for r in rows for k in r))
        assert R._arrow_request_frame(spark, rows, cols, {}) is None

    def test_all_null_with_hint_matches_legacy(self, spark, monkeypatch):
        # all-NULL hinted column: legacy branch re-selects ORIGINAL column
        # order (not sorted) — the fast path must reproduce that too.
        rows = [
            {"user_id": None, "zz_extra": 1, "__row_idx": 0},
            {"user_id": None, "zz_extra": 2, "__row_idx": 1},
        ]
        hints = {"user_id": T.LongType()}
        fast, legacy = self._both_paths(spark, monkeypatch, rows, hints)
        assert fast.columns == legacy.columns
        assert [(f.name, f.dataType) for f in fast.schema.fields] == [
            (f.name, f.dataType) for f in legacy.schema.fields
        ]
        assert fast.collect() == legacy.collect()

    def test_bool_not_widened_to_long(self, spark):
        from feast_java_old_spark.operators import retrieval as R

        df = R._arrow_request_frame(
            spark, [{"b": True, "i": 3}], ["b", "i"], {}
        )
        types = dict((f.name, f.dataType) for f in df.schema.fields)
        assert types["b"] == T.BooleanType()
        assert types["i"] == T.LongType()


class TestArrowLocalFrame:
    """The shared tuple-rows twin of _arrow_request_frame
    (sources/tables.py:arrow_local_frame, r16) — metrics exports and
    similarity LUTs build driver-local frames through one Arrow table
    instead of a pickled multi-slice RDD."""

    def _parity(self, spark, rows, ddl):
        from feast_java_old_spark.sources.tables import arrow_local_frame

        fast = arrow_local_frame(spark, rows, ddl)
        stock = spark.createDataFrame(rows, ddl)
        assert fast.schema == stock.schema
        assert fast.collect() == stock.collect()
        return fast

    def test_scalar_parity_and_local_table_scan(self, spark):
        rows = [("a", "x", 1), ("b", None, 2)]
        fast = self._parity(spark, rows, "metric string, labels string, value long")
        assert "LocalTableScan" in fast._jdf.queryExecution().executedPlan().toString()

    def test_double_and_array_columns(self, spark):
        self._parity(spark, [("m", "", 1.5)], "metric string, labels string, value double")
        self._parity(spark, [(1, [0.5, 1.0]), (2, None)], "query_id long, __qv array<double>")

    def test_empty_rows(self, spark):
        self._parity(spark, [], "id long, v array<double>")

    def test_unsupported_ddl_type_falls_back_to_stock(self, spark):
        # map<> is outside the Arrow fast-path type set: the helper must
        # still return the stock-built frame, not raise.
        rows = [(1, {"k": "v"})]
        self._parity(spark, rows, "id long, m map<string,string>")

    def test_nonconforming_value_raises_like_stock(self, spark):
        import pytest as _pytest

        from feast_java_old_spark.sources.tables import arrow_local_frame

        # a float in a declared-long column is an error on BOTH paths —
        # the fallback must not silently coerce what stock rejects.
        with _pytest.raises(Exception):
            spark.createDataFrame([("a", "b", 1.5)], "m string, l string, v long").collect()
        with _pytest.raises(Exception):
            arrow_local_frame(spark, [("a", "b", 1.5)], "m string, l string, v long").collect()
