"""Property-based check of online-retrieval semantics (SURVEY §5: the
reference proves correctness with golden fixtures; we add randomized
histories/requests against an independent pure-python oracle)."""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

import feast_java_old_spark as fs
from feast_java_old_spark.operators import get_online_features
from feast_java_old_spark.operators.materialize import latest_per_key
from feast_java_old_spark.registry.model import FileSource

T0 = dt.datetime(2024, 1, 1)
REQ_TS = T0 + dt.timedelta(minutes=120)


def t(minute: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minute)


# unique (entity, minute) pairs → no latest-row tie ambiguity
histories = st.dictionaries(
    keys=st.tuples(st.integers(0, 4), st.integers(0, 100)),
    values=st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
    min_size=0,
    max_size=25,
)
requests = st.lists(st.integers(0, 6), min_size=1, max_size=8)
max_ages = st.sampled_from([0, 3600])


def oracle(history: dict, keys: list[int], max_age: int):
    latest: dict[int, tuple[int, object]] = {}
    for (e, minute), v in history.items():
        if e not in latest or minute > latest[e][0]:
            latest[e] = (minute, v)
    out = []
    for k in keys:
        if k not in latest:
            out.append((k, None, "NOT_FOUND"))
            continue
        minute, v = latest[k]
        age = int((REQ_TS - t(minute)).total_seconds())
        if max_age and age > max_age:
            out.append((k, None, "OUTSIDE_MAX_AGE"))
        elif v is None:
            out.append((k, None, "NULL_VALUE"))
        else:
            out.append((k, v, "PRESENT"))
    return out


@pytest.fixture(scope="module")
def reg_factory():
    def make(max_age):
        reg = fs.Registry()
        reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
        reg.apply_feature_table(
            fs.FeatureTable(
                name="ft",
                entities=["user_id"],
                features=[fs.Feature("value", fs.ValueType.DOUBLE)],
                max_age_secs=max_age,
                batch_source=FileSource(
                    file_url="/nonexistent", event_timestamp_column="event_timestamp"
                ),
            )
        )
        return reg

    return make


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(history=histories, keys=requests, max_age=max_ages)
def test_online_retrieval_matches_pure_python_oracle(
    spark, reg_factory, history, keys, max_age
):
    rows = [(e, t(m), v) for (e, m), v in history.items()]
    if rows:
        hist_df = spark.createDataFrame(
            rows, "user_id long, event_timestamp timestamp, value double"
        )
        online = latest_per_key(hist_df, ["user_id"], "event_timestamp")
    else:
        online = spark.createDataFrame(
            [], "user_id long, event_timestamp timestamp, value double"
        )
    got = get_online_features(
        spark,
        reg_factory(max_age),
        [{"user_id": k} for k in keys],
        ["ft:value"],
        request_ts=REQ_TS,
        online_frames={"ft": online},
    ).collect()
    want = oracle(history, keys, max_age)
    assert len(got) == len(want)
    for g, (k, v, status) in zip(got, want):
        assert g.user_id == k
        assert g.ft__value__status == status
        if v is None:
            assert g.ft__value is None
        else:
            assert g.ft__value == pytest.approx(v)


# ---------------------------------------------------------- historical as-of

asof_histories = st.dictionaries(
    keys=st.tuples(st.integers(0, 3), st.integers(0, 48)),  # (entity, hour)
    values=st.floats(-100, 100, allow_nan=False),
    min_size=0,
    max_size=20,
)
asof_requests = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 48)), min_size=1, max_size=10
)


def asof_oracle(history: dict, reqs: list, max_age_hours):
    out = []
    for e, rh in reqs:
        cands = [
            (h, v)
            for (he, h), v in history.items()
            if he == e
            and h <= rh
            and (max_age_hours is None or rh - h <= max_age_hours)
        ]
        if cands:
            h, v = max(cands)
            out.append((e, rh, v))
        else:
            out.append((e, rh, None))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=asof_histories,
    reqs=asof_requests,
    max_age_hours=st.sampled_from([None, 12]),
    strategy=st.sampled_from(["union", "join"]),
)
def test_asof_join_matches_pure_python_oracle(
    spark, history, reqs, max_age_hours, strategy
):
    from feast_java_old_spark.operators.historical import asof_join

    def th(h):
        return T0 + dt.timedelta(hours=h)

    hist_rows = [(e, th(h), v) for (e, h), v in history.items()]
    hist_df = spark.createDataFrame(
        hist_rows or [],
        "user_id long, event_timestamp timestamp, score double",
    )
    req_df = spark.createDataFrame(
        [(e, th(h)) for e, h in reqs],
        "user_id long, request_ts timestamp",
    )
    out = asof_join(
        req_df,
        hist_df,
        ["user_id"],
        max_age_secs=max_age_hours * 3600 if max_age_hours else None,
        strategy=strategy,
    ).collect()
    got = sorted((r.user_id, r.request_ts, r.score) for r in out)
    want = sorted((e, th(h), v) for e, h, v in asof_oracle(history, reqs, max_age_hours))
    assert len(got) == len(want)
    for (ge, gt_, gv), (we, wt, wv) in zip(got, want):
        assert (ge, gt_) == (we, wt)
        if wv is None:
            assert gv is None
        else:
            assert gv == pytest.approx(wv)


# ------------------------------------------- key rendering, every key type
# Driver-side request keys reach the online scan as SQL literal text.
# Every entity ValueType, and values that are hard to spell in SQL, must
# find exactly the rows the pure-python oracle above finds.

NAN = float("nan")
INF = float("inf")

KEY_CASES = {
    # value type: (stored keys, requested keys that are not stored)
    "INT64": ([0, -(1 << 63), (1 << 63) - 1, 7], [5, -1]),
    "INT32": ([0, -(1 << 31), (1 << 31) - 1], [3]),
    "DOUBLE": ([NAN, INF, -INF, 0.0, 1e300, 2.5, 5e-324], [3.5, -2.5]),
    "FLOAT": ([1.5, NAN, INF, -INF, -0.0], [0.1, 2.5]),
    "STRING": (
        ["", "'", "\\", "`", "a\nb", "') OR TRUE --", "héllo ✓ 日本", "x"],
        ["y", "' OR '1'='1", "\\'"],
    ),
    "BYTES": ([b"", b"\x00", b"a\x00b", b"'"], [b"\x01", b"\x00\x00"]),
    "BOOL": ([True], [False]),
    "INT64_LIST": ([[1, 2], [], [(1 << 63) - 1, -(1 << 63)]], [[2, 1], [1]]),
    "INT32_LIST": ([[1], [-(1 << 31)]], [[2]]),
    "DOUBLE_LIST": ([[1.5, -0.0], [INF]], [[2.5]]),
    "FLOAT_LIST": ([[1.5], [-INF]], [[0.5]]),
    "STRING_LIST": ([["'", "`"], [""]], [["a"], ["`", "'"]]),
    "BYTES_LIST": ([[b"\x00"], []], [[b"a"]]),
    "BOOL_LIST": ([[True, False]], [[False]]),
}


def _oracle_key(v):
    """Hashable, with Spark's join equality: NaN equals NaN, -0.0 equals 0.0."""
    if isinstance(v, list):
        return tuple(_oracle_key(x) for x in v)
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


@pytest.mark.parametrize("type_name", sorted(KEY_CASES))
def test_request_keys_render_exactly_for_every_entity_type(spark, type_name):
    vt = fs.ValueType[type_name]
    stored, absent = KEY_CASES[type_name]
    # Every stored key: a value, a NULL value, or a value older than max age.
    history = {}
    for i, k in enumerate(stored):
        value = None if i % 3 == 1 else float(i)
        history[(i, 10 if i % 3 == 2 else 100)] = value
    online = spark.createDataFrame(
        [(k, t(m), v) for (i, m), v in history.items() for k in [stored[i]]],
        T.StructType(
            [
                T.StructField("k", vt.to_spark()),
                T.StructField("event_timestamp", T.TimestampType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("k", vt))
    reg.apply_feature_table(
        fs.FeatureTable(
            name="ft",
            entities=["k"],
            features=[fs.Feature("value", fs.ValueType.DOUBLE)],
            max_age_secs=3600,
            batch_source=FileSource(
                file_url="/nonexistent", event_timestamp_column="event_timestamp"
            ),
        )
    )
    keys = [*stored, *absent, None, *reversed(stored)]
    if type_name == "DOUBLE":
        keys.append(-0.0)  # equals the stored 0.0
    if type_name == "FLOAT":
        keys.append(0.0)  # equals the stored -0.0
    got = get_online_features(
        spark,
        reg,
        [{"k": k, "we`ird 'col": i} for i, k in enumerate(keys)],
        ["ft:value", "ft:no`pe'x"],
        request_ts=REQ_TS,
        online_frames={"ft": online},
    ).collect()

    index = {_oracle_key(k): i for i, k in enumerate(stored)}
    oracle_history = {(i, m): v for (i, m), v in history.items()}
    want = oracle(
        oracle_history, [index.get(_oracle_key(k), -1) for k in keys], 3600
    )
    assert len(got) == len(keys)
    for i, (g, (_, v, status)) in enumerate(zip(got, want)):
        assert g["we`ird 'col"] == i
        assert g["ft__value__status"] == status, (type_name, keys[i])
        assert g["ft__value"] == v, (type_name, keys[i])
        assert g["ft__no`pe'x"] is None
        assert g["ft__no`pe'x__status"] == "NOT_FOUND"
