"""Materialization options + source-layer tests (S1/S2, P4, F5)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

import feast_java_old_spark as fs
from feast_java_old_spark.functions import conversions as cv
from feast_java_old_spark.operators.materialize import (
    latest_per_key,
    materialize,
    online_table_path,
)
from feast_java_old_spark.registry.model import BigQuerySource, FileSource

T0 = dt.datetime(2024, 1, 1)


def t(h):
    return T0 + dt.timedelta(hours=h)


def test_materialize_time_range_and_field_mapping(spark, tmp_path, tmp_store):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, t(1), 1.0), (1, t(5), 5.0), (1, t(9), 9.0)],
        "uid long, event_time timestamp, v double",
    ).write.parquet(src)
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    reg.apply_feature_table(
        fs.FeatureTable(
            "views", ["user_id"], [fs.Feature("score", fs.ValueType.DOUBLE)],
            batch_source=FileSource(
                file_url=src,
                event_timestamp_column="event_time",
                field_mapping={"uid": "user_id", "v": "score"},
            ),
        )
    )
    # end_ts excludes the t(9) row → latest within range is t(5)
    materialize(spark, reg, "views", tmp_store, end_ts=t(6))
    online = spark.read.parquet(online_table_path(tmp_store, "default", "views"))
    row = online.collect()[0]
    assert row.user_id == 1 and row.score == 5.0 and row.event_timestamp == t(5)


def test_date_partition_column_prunes_partitions(spark, tmp_path):
    """datePartitionColumn (DataSource.java:75-76,131): the time-range
    filter must reach the partition column so whole directories are
    pruned, and results must match the row-level filter exactly."""
    from feast_java_old_spark.operators.materialize import conform_batch_source

    src = str(tmp_path / "psrc")
    rows = [
        (1, dt.datetime(2024, 1, d, h), float(d * 10 + h))
        for d in (1, 2, 3, 4)
        for h in (0, 12)
    ]
    (
        spark.createDataFrame(rows, "uid long, event_time timestamp, v double")
        .withColumn("ds", F.to_date("event_time"))
        .write.partitionBy("ds")
        .parquet(src)
    )
    table = fs.FeatureTable(
        "pviews", ["uid"], [fs.Feature("v", fs.ValueType.DOUBLE)],
        batch_source=FileSource(
            file_url=src,
            event_timestamp_column="event_time",
            date_partition_column="ds",
        ),
    )
    df = conform_batch_source(
        spark, table,
        start_ts=dt.datetime(2024, 1, 2),
        end_ts=dt.datetime(2024, 1, 3, 23),
    )
    got = sorted((r.uid, r.event_timestamp, r.v) for r in df.collect())
    want = sorted((u, ts, v) for u, ts, v in rows if 2 <= ts.day <= 3)
    assert got == want
    # directory-level pruning: the scan carries PartitionFilters on ds
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "ds" in pf[0] and ">=" in pf[0] and "<=" in pf[0]


def test_created_timestamp_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, t(1), t(1), 1.0), (1, t(1), t(3), 3.0)],
        "k long, event_timestamp timestamp, created timestamp, v double",
    )
    for strategy in ("agg", "window"):
        out = latest_per_key(
            df, ["k"], "event_timestamp", created_ts_col="created",
            strategy=strategy,
        ).collect()
        assert out[0].v == 3.0, strategy  # later created wins the ts tie


def test_agg_and_window_strategies_agree(spark, sf_dir):
    from feast_java_old_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "ts as event_timestamp", "event_id", "value"
    )
    a = latest_per_key(ev, ["user_id"], strategy="agg")
    # window needs the same tiebreak: order by ts desc only is ambiguous,
    # so compare on key+ts which both strategies must agree on
    b = latest_per_key(ev, ["user_id"], strategy="window")
    cols = ["user_id", "event_timestamp"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0


def test_bigquery_source_stand_in(spark, tmp_path):
    """S2: BigQuery ref resolves through the parquet stand-in path."""
    base = tmp_path / "proj" / "dataset" / "tbl"
    base.parent.mkdir(parents=True)
    spark.createDataFrame([(1, 2.0)], "a long, b double").write.parquet(str(base))
    from feast_java_old_spark.sources.batch import read_batch_source

    src = BigQuerySource(table_ref="proj:dataset.tbl")
    # stand-in maps proj:dataset.tbl → proj/dataset/tbl relative path;
    # make it absolute for the test
    src.table_ref = str(tmp_path / "proj") + ":dataset.tbl"
    df = read_batch_source(spark, src)
    assert df.count() == 1


def test_json_map_conversions():
    assert cv.json_to_map('{"a": 1, "b": "x"}') == {"a": "1", "b": "x"}
    assert cv.json_to_map(None) == {} and cv.json_to_map("{}") == {}
    assert cv.map_to_json({"b": "2", "a": "1"}) == '{"a":"1","b":"2"}'
    assert cv.tag_string_to_list(" a, b ,,c ") == ["a", "b", "c"]
    assert cv.tag_string_to_list(None) == []


def test_col_json_conversions(spark):
    df = spark.createDataFrame([('{"k":"v"}',)], "j string")
    out = df.select(cv.col_json_to_map(F.col("j")).alias("m")).collect()
    assert out[0].m == {"k": "v"}


def test_python_value_to_spark_type():
    from pyspark.sql import types as T

    assert cv.python_value_to_spark_type(True) == T.BooleanType()
    assert cv.python_value_to_spark_type(1) == T.LongType()
    assert cv.python_value_to_spark_type(1.5) == T.DoubleType()
    assert cv.python_value_to_spark_type("s") == T.StringType()
    assert cv.python_value_to_spark_type(b"x") == T.BinaryType()
    assert cv.python_value_to_spark_type([1, 2]) == T.ArrayType(T.LongType())
    with pytest.raises(TypeError):
        cv.python_value_to_spark_type(object())


def test_materialize_store_follows_subscriptions(spark, tmp_path):
    """Store-level materialization honors subscription wildcards and
    exclusions."""
    import feast_java_old_spark as fs
    from feast_java_old_spark.operators.materialize import materialize_store
    from feast_java_old_spark.registry.model import FileSource, Store, Subscription

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, event_timestamp timestamp, value double",
    ).write.parquet(src)

    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    for name in ("clicks", "views", "internal_tmp"):
        reg.apply_feature_table(
            fs.FeatureTable(
                name, ["user_id"], [fs.Feature("value", fs.ValueType.DOUBLE)],
                batch_source=FileSource(
                    file_url=src, event_timestamp_column="event_timestamp"
                ),
            )
        )
    reg.update_store(
        Store(
            name="online",
            store_type="REDIS",
            subscriptions=[
                Subscription(project="default", name="*"),
                Subscription(project="default", name="internal_*", exclude=True),
            ],
        )
    )
    done = materialize_store(spark, reg, "online", str(tmp_path / "store"))
    assert set(done) == {"default/clicks", "default/views"}
    for p in done.values():
        assert spark.read.parquet(p).count() == 1


def test_bucketed_online_table_joins_without_shuffling_online_side(
    spark, tmp_path
):
    """A bucketed online table persists its hash partitioning: the
    backfill-scale (shuffle-strategy) lookup join reads it co-located —
    no Exchange appears above the online-table scan."""
    import feast_java_old_spark as fs
    from feast_java_old_spark.operators.materialize import materialize_bucketed

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1), float(i)) for i in range(100)],
        "user_id long, event_timestamp timestamp, value double",
    ).write.parquet(src)

    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    reg.apply_feature_table(
        fs.FeatureTable(
            "bk", ["user_id"], [fs.Feature("value", fs.ValueType.DOUBLE)],
            batch_source=FileSource(
                file_url=src, event_timestamp_column="event_timestamp"
            ),
        )
    )
    managed = materialize_bucketed(spark, reg, "bk", n_buckets=8)
    online = spark.table(managed)
    req = spark.range(0, 200).select(F.col("id").alias("user_id"))
    joined = req.join(online.hint("shuffle_merge"), on="user_id", how="left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # exactly one Exchange (the request side); the bucketed scan has none
    assert plan.count("Exchange") == 1
    scan_part = plan[plan.index("FileScan") :] if "FileScan" in plan else plan
    assert "Bucketed: true" in plan
    assert joined.count() == 200


def test_csv_json_file_sources_roundtrip(spark, tmp_path):
    """csv/json engine extensions: registry round-trip + single-pass read
    with an explicit DDL schema + field mapping + timestamp handling."""
    import datetime as dt

    from feast_java_old_spark.registry.validation import validate_data_source
    from feast_java_old_spark.sources.batch import read_batch_source

    rows = [(1, dt.datetime(2024, 1, 1, 12), 1.5), (2, dt.datetime(2024, 1, 2), 2.5)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, v double")

    csv_dir = str(tmp_path / "csv")
    df.coalesce(1).write.option("header", "true").csv(csv_dir)
    csv_src = FileSource(
        file_url=csv_dir, file_format="csv",
        schema_ddl="user_id BIGINT, ts TIMESTAMP, v DOUBLE",
        event_timestamp_column="ts", field_mapping={"v": "value"},
    )
    validate_data_source(csv_src)
    assert FileSource.from_dict(csv_src.to_dict()).to_dict() == csv_src.to_dict()
    out = read_batch_source(spark, csv_src)
    assert set(out.columns) == {"user_id", "ts", "value"}
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert {(r.user_id, r.value) for r in out.collect()} == {(1, 1.5), (2, 2.5)}

    json_dir = str(tmp_path / "json")
    df.coalesce(1).write.json(json_dir)
    json_src = FileSource(
        file_url=json_dir, file_format="json",
        schema_ddl="user_id BIGINT, ts TIMESTAMP, v DOUBLE",
        event_timestamp_column="ts",
    )
    validate_data_source(json_src)
    out_j = read_batch_source(spark, json_src)
    assert {(r.user_id, r.v) for r in out_j.collect()} == {(1, 1.5), (2, 2.5)}

    # inference path (dev-only) still reads
    no_ddl = FileSource(file_url=csv_dir, file_format="csv")
    assert read_batch_source(spark, no_ddl).count() == 2

    # orc: columnar engine extension, full pushdown path
    orc_dir = str(tmp_path / "orc")
    df.coalesce(1).write.orc(orc_dir)
    orc_src = FileSource(
        file_url=orc_dir, file_format="orc",
        event_timestamp_column="ts", field_mapping={"v": "value"},
    )
    validate_data_source(orc_src)
    out_o = read_batch_source(spark, orc_src)
    assert {(r.user_id, r.value) for r in out_o.collect()} == {(1, 1.5), (2, 2.5)}

    # unknown format rejected at validation
    import pytest as _pytest
    from feast_java_old_spark.registry.validation import ValidationError
    with _pytest.raises(ValidationError, match="invalid file format"):
        validate_data_source(FileSource(file_url=csv_dir, file_format="xml"))


def test_materialize_incremental_and_ttl(spark, tmp_path, tmp_store):
    """Incremental runs read only rows past the high-water mark, merge
    latest-wins (late-older rows cannot regress state), and TTL expiry
    drops keys whose latest value is older than max_age."""
    from feast_java_old_spark.operators.materialize import (
        materialize_incremental,
    )

    src = str(tmp_path / "events_src")
    t0 = dt.datetime(2024, 1, 1)

    def write_src(rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, v double"
        ).write.mode("overwrite").parquet(src)

    write_src([(1, t0, 1.0), (2, t0 + dt.timedelta(hours=1), 2.0)])
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    reg.apply_feature_table(
        fs.FeatureTable(
            "user_feats", ["user_id"],
            [fs.Feature("v", fs.ValueType.DOUBLE)],
            max_age_secs=7200,
            batch_source=FileSource(
                file_url=src, event_timestamp_column="ts"
            ),
        )
    )
    # first run: full materialize fallback
    path = materialize_incremental(spark, reg, "user_feats", tmp_store)
    state = {r.user_id: r.v for r in spark.read.parquet(path).collect()}
    assert state == {1: 1.0, 2: 2.0}

    # second run: newer row for 1, OLDER row for 2 (below high-water ->
    # not even read), new key 3
    write_src(
        [
            (1, t0 + dt.timedelta(hours=2), 10.0),
            (2, t0 - dt.timedelta(hours=5), 99.0),
            (3, t0 + dt.timedelta(hours=2), 3.0),
        ]
    )
    materialize_incremental(spark, reg, "user_feats", tmp_store)
    state = {r.user_id: r.v for r in spark.read.parquet(path).collect()}
    assert state == {1: 10.0, 2: 2.0, 3: 3.0}

    # third run with TTL: nothing new in the source; keys whose latest
    # event is older than max_age (2h) at `now` are expired
    now = t0 + dt.timedelta(hours=3, minutes=1)
    materialize_incremental(
        spark, reg, "user_feats", tmp_store, ttl_expire=True, now=now
    )
    state = {r.user_id: r.v for r in spark.read.parquet(path).collect()}
    assert state == {1: 10.0, 3: 3.0}  # key 2 (latest ts t0+1h) expired


def test_key_skew_stats(spark):
    from feast_java_old_spark.operators.materialize import key_skew_stats

    rows = [(1, i) for i in range(80)] + [(2, i) for i in range(15)] + [
        (3, 0), (4, 0), (5, 0), (6, 0), (7, 0)
    ]
    df = spark.createDataFrame(rows, "k long, v long")
    out = key_skew_stats(df, ["k"], top_n=3).collect()
    assert [r.key for r in out] == ["1", "2", "3"]  # lex tie-break at cnt=1
    assert out[0].cnt == 80 and out[0].share == 0.8
    assert out[0].n_distinct_keys == 7
    # mean load = 100/7; heaviest key is 80/(100/7) = 5.6x the mean
    assert out[0].x_mean == 5.6


def test_latest_per_key_for_equals_restricted_full_reduction(spark, sf_dir):
    from feast_java_old_spark.operators.materialize import latest_per_key_for
    from feast_java_old_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("event_timestamp"),
        "o_orderkey",
        F.col("o_totalprice").alias("v"),
    )
    ents = orders.where(F.col("k") % 5 == 0).select("k")
    pruned = latest_per_key_for(orders, ents, ["k"])
    full = latest_per_key(orders, ["k"]).join(
        ents.dropDuplicates(["k"]), on="k", how="left_semi"
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    # the prune must reach the plan as a semi join BELOW the aggregate
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_normalize_long_epoch_unit_adaptive(spark):
    """LONG epoch columns are normalized to µs timestamps regardless of the
    physical unit (s/ms/µs/ns) — round 2's red streaming rows were µs longs
    divided as if nanos. All four representations of one instant must land
    on the identical µs timestamp."""
    from pyspark.sql import types as T

    from feast_java_old_spark.sources.tables import normalize_timestamp_cols

    us = 1706000000123456  # 2024-01-23T08:53:20.123456Z in µs
    rows = [(us // 1_000_000, us // 1000, us, us * 1000)]
    df = spark.createDataFrame(
        rows, schema="s long, ms long, us long, ns long"
    )
    out = normalize_timestamp_cols(df, "s", "ms", "us", "ns")
    for f in out.schema.fields:
        assert isinstance(f.dataType, T.TimestampType), f.name
    r = out.select(
        F.unix_micros("s").alias("s"),
        F.unix_micros("ms").alias("ms"),
        F.unix_micros("us").alias("us"),
        F.unix_micros("ns").alias("ns"),
    ).first()
    assert r.us == us
    assert r.ns == us
    assert r.ms == (us // 1000) * 1000
    assert r.s == (us // 1_000_000) * 1_000_000


def test_normalize_long_epoch_unit_is_per_column_not_per_value(spark):
    """A mixed-magnitude column (one pre-1976 / corrupt sentinel row)
    must decode under ONE unit inferred from max(abs) — per-value
    inference would silently decode the small row as seconds and land
    it in year ~5138 — and must warn about the out-of-band value."""
    import warnings

    from feast_java_old_spark.sources.tables import normalize_timestamp_cols

    us = 1706000000123456
    pre1976_us = 100_000_000_000_000  # ≈1973-03 in µs: below the µs band edge
    df = spark.createDataFrame(
        [(us,), (pre1976_us,)], schema="ts long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = normalize_timestamp_cols(df, "ts")
        got = sorted(r[0] for r in out.select(F.unix_micros("ts")).collect())
    assert got == [pre1976_us, us]  # both decoded as µs
    assert any("unambiguous band" in str(x.message) for x in w)


def test_epoch_unit_cache_invalidates_on_directory_rewrite(spark, tmp_path):
    """The per-path epoch-unit cache must NOT serve a stale unit after a
    parquet DIRECTORY is overwritten in place with data in a different
    unit (ADVICE r6): a same-name overwrite keeps the directory's own
    entry set — so dir st_size is constant and dir mtime can be coarse —
    but the child part files' stamps move, and path_stamp folds those
    in. A stale unit here misdecodes every timestamp by 1000x (the
    round-2 red-row class)."""
    import shutil

    from feast_java_old_spark.sources.tables import (
        normalize_timestamp_cols,
        path_stamp,
    )

    us = 1706000000123456
    path = str(tmp_path / "events.parquet")

    spark.createDataFrame([(us,)], "ts long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    df1 = normalize_timestamp_cols(
        spark.read.parquet(path), "ts", cache_key=path
    )
    assert df1.select(F.unix_micros("ts")).first()[0] == us
    stamp1 = path_stamp(path)

    # Rewrite the SAME directory with the same instant in MILLIS. Write
    # to a scratch dir and move the part files over so the directory's
    # own inode (name set) is maximally unchanged — the hostile case.
    scratch = str(tmp_path / "scratch.parquet")
    spark.createDataFrame([(us // 1000,)], "ts long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(scratch)
    shutil.rmtree(path)
    shutil.move(scratch, path)

    assert path_stamp(path) != stamp1, "directory rewrite must move the stamp"
    df2 = normalize_timestamp_cols(
        spark.read.parquet(path), "ts", cache_key=path
    )
    # A stale cached 'us' unit would return us // 1000 here (1000x off).
    assert df2.select(F.unix_micros("ts")).first()[0] == (us // 1000) * 1000


def test_epoch_unit_inferred_again_after_partition_file_rewrite(
    spark, tmp_path
):
    """Rewriting a part file in place inside a partition subdirectory
    leaves every top-level entry's stat alone; the stamp must still move
    and the epoch unit be inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_java_old_spark.sources.tables import (
        normalize_timestamp_cols,
        path_stamp,
    )

    us = 1706000000123456
    path = str(tmp_path / "events")
    part = tmp_path / "events" / "day=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"ts": pa.array([us], pa.int64())}), str(part))
    df1 = normalize_timestamp_cols(spark.read.parquet(path), "ts", cache_key=path)
    assert df1.select(F.unix_micros("ts")).first()[0] == us
    stamp1 = path_stamp(path)

    ms = us // 1000
    pq.write_table(pa.table({"ts": pa.array([ms, ms], pa.int64())}), str(part))
    assert path_stamp(path) != stamp1
    df2 = normalize_timestamp_cols(spark.read.parquet(path), "ts", cache_key=path)
    assert [r[0] for r in df2.select(F.unix_micros("ts")).collect()] == [
        ms * 1000
    ] * 2


def _cycle(spark, reg, store):
    from feast_java_old_spark.operators.historical import get_training_dataset

    materialize(spark, reg, "views", store)
    online = spark.read.parquet(online_table_path(store, "default", "views"))
    entities = spark.createDataFrame(
        [(1, t(10)), (2, t(10))], "user_id long, event_timestamp timestamp"
    )
    training = get_training_dataset(spark, reg, entities, ["views:score"])
    return (
        sorted((r.user_id, r.score) for r in online.collect()),
        [r.views__score for r in training.collect()],
    )


def test_rewritten_batch_source_serves_new_rows(spark, tmp_path, tmp_store):
    """A batch source overwritten between two materialize + training
    export cycles is read again, not served from the relation cache."""
    src = str(tmp_path / "src")
    schema = "uid long, event_time timestamp, v double"
    spark.createDataFrame([(1, t(1), 1.0)], schema).write.parquet(src)
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    reg.apply_feature_table(
        fs.FeatureTable(
            "views", ["user_id"], [fs.Feature("score", fs.ValueType.DOUBLE)],
            batch_source=FileSource(
                file_url=src,
                event_timestamp_column="event_time",
                field_mapping={"uid": "user_id", "v": "score"},
            ),
        )
    )
    assert _cycle(spark, reg, tmp_store) == ([(1, 1.0)], [1.0, None])

    spark.createDataFrame(
        [(1, t(2), 3.0), (2, t(2), 4.0)], schema
    ).write.mode("overwrite").parquet(src)
    assert _cycle(spark, reg, tmp_store) == ([(1, 3.0), (2, 4.0)], [3.0, 4.0])


def test_deleted_cached_source_raises_like_uncached_read(spark, tmp_path):
    import shutil

    from feast_java_old_spark.sources.batch import read_batch_source

    src = str(tmp_path / "gone")
    spark.createDataFrame([(1, t(1))], "id long, ts timestamp").write.parquet(src)
    source = FileSource(file_url=src, event_timestamp_column="ts")
    assert read_batch_source(spark, source).count() == 1
    shutil.rmtree(src)
    with pytest.raises(Exception) as cached:
        read_batch_source(spark, source)
    with pytest.raises(Exception) as uncached:
        spark.read.parquet(src)
    assert type(cached.value) is type(uncached.value)
    assert str(cached.value) == str(uncached.value)


def test_vacuum_store_serves_identically_at_as_of(spark, tmp_path):
    """The vacuum invariant: a vacuumed store serves EXACTLY what the
    unvacuumed one serves at request_ts = as_of (expired rows were
    already hidden by the J3 staleness rule; vacuum only reclaims
    them). Also: counts add up, layout survives, no-max-age raises."""
    from feast_java_old_spark.operators import get_online_features
    from feast_java_old_spark.operators.materialize import (
        materialize,
        vacuum_store,
    )

    src = str(tmp_path / "ev.parquet")
    t = dt.datetime
    rows = [
        (1, t(2024, 1, 1), 1.0),   # stale for user 1 (newer exists)
        (1, t(2024, 1, 20), 2.0),  # live
        (2, t(2024, 1, 5), 3.0),   # latest for user 2, but EXPIRED
        (3, t(2024, 1, 25), 4.0),  # live
    ]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    reg.apply_feature_table(
        fs.FeatureTable(
            name="ue", entities=["user_id"],
            features=[fs.Feature("value", fs.ValueType.DOUBLE)],
            max_age_secs=10 * 86400,
            batch_source=FileSource(
                file_url=src, event_timestamp_column="ts"
            ),
        )
    )
    store = str(tmp_path / "store")
    materialize(spark, reg, "ue", store)
    as_of = t(2024, 1, 28)
    ereq = [{"user_id": u} for u in (1, 2, 3)]

    def serve():
        return sorted(
            map(
                tuple,
                get_online_features(
                    spark, reg, ereq, ["ue:value"], store,
                    request_ts=as_of,
                ).collect(),
            )
        )

    before = serve()
    stats = vacuum_store(spark, reg, "ue", store, as_of=as_of)
    # threshold = Jan-18: user 2's only (latest) row is reclaimed
    assert stats["n_kept"] == 2 and stats["n_expired"] == 1
    after = serve()
    # identical VALUES; the status detail degrades OUTSIDE_MAX_AGE ->
    # NOT_FOUND for the reclaimed key (the Redis-TTL-eviction shape) --
    # both non-PRESENT, so no caller can observe a value change
    assert [r[:-1] for r in after] == [r[:-1] for r in before]
    sb = {r[0]: r[-1] for r in before}
    sa = {r[0]: r[-1] for r in after}
    assert sb[2] == "OUTSIDE_MAX_AGE" and sa[2] == "NOT_FOUND"
    assert sa[1] == "PRESENT" and sa[3] == "PRESENT"

    # no max_age -> nothing to vacuum, explicit error
    reg.apply_feature_table(
        fs.FeatureTable(
            name="nottl", entities=["user_id"],
            features=[fs.Feature("value", fs.ValueType.DOUBLE)],
            batch_source=FileSource(
                file_url=src, event_timestamp_column="ts"
            ),
        )
    )
    materialize(spark, reg, "nottl", store)
    with pytest.raises(ValueError):
        vacuum_store(spark, reg, "nottl", store, as_of=as_of)


def test_vacuum_refuses_versioned_tables_and_unknown_raises(
    spark, tmp_path
):
    """vacuum_store on a schema-versioned table would flatten the epoch
    layout + _schemas.json -> refused with a pointer to
    compact_versioned; read_online_versioned on a typo'd table raises
    the registry's unknown-table error (not a silent None)."""
    from feast_java_old_spark.operators.materialize import (
        materialize_versioned,
        read_online_versioned,
        vacuum_store,
    )

    src = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("user_id", fs.ValueType.INT64))
    reg.apply_feature_table(
        fs.FeatureTable(
            name="vt", entities=["user_id"],
            features=[fs.Feature("value", fs.ValueType.DOUBLE)],
            max_age_secs=86400,
            batch_source=FileSource(
                file_url=src, event_timestamp_column="ts"
            ),
        )
    )
    store = str(tmp_path / "store")
    materialize_versioned(spark, reg, "vt", store)
    with pytest.raises(ValueError, match="compact_versioned"):
        vacuum_store(spark, reg, "vt", store, as_of=dt.datetime(2024, 2, 1))
    # the epoch layout survived the refused call
    assert read_online_versioned(spark, reg, "vt", store).count() == 1

    with pytest.raises(KeyError):
        read_online_versioned(spark, reg, "no_such_table", store)
