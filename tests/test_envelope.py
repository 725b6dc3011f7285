"""BASELINE.md proxy target: the reference's designed request envelope
(histogram buckets, ``Metrics.java:32-57``) — 200 entity rows x 50
features x 20 feature tables — must resolve to an all-broadcast plan:
every join a BroadcastHashJoin, the online tables scanned but never
shuffled (no SortMergeJoin / ShuffledHashJoin anywhere)."""

import datetime as dt

import feast_java_old_spark as fs
from feast_java_old_spark.operators.retrieval import get_online_features

T0 = dt.datetime(2024, 1, 1)
N_TABLES = 20
N_ROWS = 200
FEATURES_PER_TABLE = [3 if i < 10 else 2 for i in range(N_TABLES)]  # = 50


def test_design_envelope_all_broadcast(spark):
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("entity_id", fs.ValueType.INT64))
    online_frames = {}
    refs = []
    for ti in range(N_TABLES):
        nfeat = FEATURES_PER_TABLE[ti]
        tname = f"t{ti:02d}"
        feats = [fs.Feature(f"f{j}", fs.ValueType.DOUBLE) for j in range(nfeat)]
        reg.apply_feature_table(
            fs.FeatureTable(
                tname, ["entity_id"], feats,
                batch_source=fs.registry.model.FileSource(
                    file_url="unused", event_timestamp_column="event_timestamp"
                ),
            )
        )
        rows = [
            tuple([i, T0] + [float(ti * 100 + j * 10 + i % 7) for j in range(nfeat)])
            for i in range(N_ROWS)
        ]
        schema = "entity_id long, event_timestamp timestamp, " + ", ".join(
            f"f{j} double" for j in range(nfeat)
        )
        online_frames[tname] = spark.createDataFrame(rows, schema)
        refs += [f"{tname}:f{j}" for j in range(nfeat)]
    assert len(refs) == 50

    # 10 of the 200 request rows miss every table -> NOT_FOUND
    entity_rows = [{"entity_id": i} for i in range(10_000, 10_010)] + [
        {"entity_id": i} for i in range(N_ROWS - 10)
    ]
    out = get_online_features(
        spark, reg, entity_rows, refs,
        request_ts=T0 + dt.timedelta(hours=1),
        online_frames=online_frames,
    )

    plan = out._jdf.queryExecution().executedPlan().toString()
    # one left BHJ per table; the request keys filter each table's scan
    # as an array literal instead of a second (semi) broadcast join
    assert plan.count("BroadcastHashJoin") == N_TABLES
    assert plan.count("array_contains(") >= N_TABLES
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan

    rows = out.collect()
    assert len(rows) == N_ROWS
    # input order preserved: the 10 missing keys come first
    assert rows[0].entity_id == 10_000
    assert rows[0].t00__f0__status == "NOT_FOUND"
    assert rows[0].t19__f1__status == "NOT_FOUND"
    r = rows[10]  # entity 0
    assert r.entity_id == 0
    assert r.t00__f0 == 0.0 and r.t00__f0__status == "PRESENT"
    assert r.t19__f1 == 1910.0 and r.t19__f1__status == "PRESENT"
    assert len([c for c in out.columns if c.endswith("__status")]) == 50
