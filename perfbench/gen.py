"""Seeded input generator and independent answer oracle.

Runs as its own process (``python3 perfbench/gen.py --kind K --spec JSON
--seed N --out DIR``, started by ``run.py``) so that its memory and
import time never land in the benchmark process's figures. It writes
the parquet inputs the engine reads and the expected answers the
benchmark checks against. Nothing here imports Spark or the engine:
expected answers come from numpy, pandas and DuckDB over the same
generated files.

Latest-wins rule used throughout (the engine's documented contract):
highest event time, ties broken by highest created time; a value older
than the table's ``max_age`` relative to the request time is
OUTSIDE_MAX_AGE, an absent key NOT_FOUND, a null value NULL_VALUE.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0 = np.datetime64("2024-01-01T00:00:00", "s").astype(np.int64)
DAY = 86_400
STATUS_CODES = ("PRESENT", "NULL_VALUE", "NOT_FOUND", "OUTSIDE_MAX_AGE")
N_STORES = 40
HISTORY_DAYS = 28
DRIVER_MAX_AGE_S = 2 * DAY
DRIVER_REFS = ["conv_rate", "acc_rate", "avg_daily_trips"]
SKU_REFS = ["price", "stock"]


def _ts(seconds: np.ndarray) -> pa.Array:
    """Epoch seconds (int64) → UTC timestamp[us]."""
    return _ts_us(np.asarray(seconds, np.int64) * 1_000_000)


def _ts_us(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))


def _zipf_keys(rng, n: int, n_keys: int, a: float) -> np.ndarray:
    """``n`` draws over ``n_keys`` ids (1-based) with zipf skew; the hot
    ids are scattered by a permutation so key order carries no meaning."""
    perm = rng.permutation(n_keys)
    return perm[(rng.zipf(a, n) - 1) % n_keys].astype(np.int64) + 1


def _history(rng, keys: np.ndarray, days: int):
    """Event times on whole hours, so hot keys have event-time ties;
    created times unique per row (microsecond offsets), so a tie on
    event time is always broken by created time."""
    n = len(keys)
    event_s = T0 + rng.integers(0, days * 24, n) * 3600
    created_us = (event_s + 60) * 1_000_000 + rng.permutation(n)
    return event_s, created_us


def _nullable(rng, values: np.ndarray, null_share: float) -> pa.Array:
    return pa.array(values, mask=rng.random(len(values)) < null_share)


def driver_stats(rng, n_rows: int, n_keys: int, days: int) -> pa.Table:
    keys = _zipf_keys(rng, n_rows, n_keys, 1.3)
    event_s, created_us = _history(rng, keys, days)
    lens = rng.integers(0, 5, n_rows)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    flat = np.round(rng.random(int(offsets[-1])) * 5, 2)
    return pa.table(
        {
            "driver_id": keys,
            "event_timestamp": _ts(event_s),
            "created": _ts_us(created_us),
            "conv_rate": _nullable(rng, rng.random(n_rows), 0.05),
            "acc_rate": rng.random(n_rows),
            "avg_daily_trips": _nullable(rng, rng.integers(0, 500, n_rows), 0.05),
            "ratings": pa.ListArray.from_arrays(offsets, flat),
        }
    )


def sku_names(ids: np.ndarray) -> np.ndarray:
    return np.char.add("sku-", np.char.zfill(ids.astype(str), 6))


def store_sku(rng, n_rows: int, n_keys: int, days: int) -> pa.Table:
    pair = _zipf_keys(rng, n_rows, n_keys, 1.2)
    event_s, created_us = _history(rng, pair, days)
    return pa.table(
        {
            "store_id": pair % N_STORES + 1,
            "sku": sku_names(pair),
            "event_timestamp": _ts(event_s),
            "created": _ts_us(created_us),
            "price": _nullable(rng, np.round(rng.random(n_rows) * 100, 2), 0.03),
            "stock": rng.integers(0, 1000, n_rows),
        }
    )


def last_per_group(tbl: pa.Table, group: list[str]) -> pa.Table:
    """The last row of each ``group`` in (event time, created time)
    order: with ``group`` = the entity keys this is the latest row per
    key; with the keys plus event time it resolves event-time ties."""
    order = [(c, "ascending") for c in group]
    order += [("event_timestamp", "ascending"), ("created", "ascending")]
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=order))
    last = np.zeros(tbl.num_rows, bool)
    last[-1:] = True
    for c in group:
        v = tbl.column(c).to_numpy()
        last[:-1] |= v[1:] != v[:-1]
    return tbl.filter(pa.array(last))


def latest(tbl: pa.Table, keys: list[str]) -> pd.DataFrame:
    """Latest row per key as a frame (event times in epoch µs)."""
    return _frame(last_per_group(tbl, keys)).drop(columns="created")


def expected_online(
    lat: pd.DataFrame,
    keys: list[str],
    features: list[str],
    requests: pd.DataFrame,
    request_s: int,
    max_age: int,
) -> dict[str, tuple[list, list]]:
    """Expected (values, statuses) per feature for each request row."""
    m = requests[keys].merge(lat, on=keys, how="left", validate="many_to_one")
    ev_us = m["event_timestamp"].to_numpy(dtype=float, na_value=np.nan)
    found = ~np.isnan(ev_us)
    age = request_s - np.floor(np.nan_to_num(ev_us) / 1e6)
    outside = found & (age > max_age) if max_age else np.zeros(len(m), bool)
    out = {}
    for f in features:
        col = m[f]
        null = col.isna().to_numpy()
        status = np.where(
            ~found, 2, np.where(outside, 3, np.where(null, 1, 0))
        )
        vals = [
            None if s else (v.item() if hasattr(v, "item") else v)
            for v, s in zip(col.tolist(), status)
        ]
        out[f] = (vals, [STATUS_CODES[s] for s in status])
    return out


def _online_tables(rng, spec: dict, out: str):
    ds = driver_stats(rng, spec["driver_rows"], spec["driver_keys"], HISTORY_DAYS)
    ss = store_sku(rng, spec["sku_rows"], spec["sku_keys"], HISTORY_DAYS)
    pq.write_table(ds, f"{out}/driver_stats.parquet")
    pq.write_table(ss, f"{out}/store_sku.parquet")
    return ds, ss


def _frame(tbl: pa.Table) -> pd.DataFrame:
    df = tbl.to_pandas(types_mapper={pa.int64(): pd.Int64Dtype()}.get)
    for c in ("event_timestamp", "created"):
        df[c] = tbl.column(c).cast(pa.int64()).to_numpy()
    return df


def _hot_rows(rng, tbl: pa.Table, cols: list[str], n: int) -> list[np.ndarray]:
    """``n`` key tuples drawn from history rows, so keys are as skewed as
    the history (hot keys repeat)."""
    idx = rng.integers(0, tbl.num_rows, n)
    return [tbl.column(c).to_numpy(zero_copy_only=False)[idx] for c in cols]


def gen_online(rng, spec: dict, out: str) -> dict:
    """Request pool for the two serving workloads plus expected answers."""
    ds, ss = _online_tables(rng, spec, out)
    request_s = int(T0 + HISTORY_DAYS * DAY)
    max_age = DRIVER_MAX_AGE_S
    dlat = latest(ds, ["driver_id"])
    slat = latest(ss, ["store_id", "sku"])
    age = request_s - dlat["event_timestamp"].to_numpy() // 10**6
    fresh = dlat["driver_id"].to_numpy()[age <= max_age]
    stale = dlat["driver_id"].to_numpy()[age > max_age]
    rows_per, n_req = spec["rows_per_request"], spec["requests"]
    n = rows_per * n_req
    unknown_drv = spec["driver_keys"] + 1 + rng.integers(0, 1000, n)
    unknown_pair = spec["sku_keys"] + 1 + rng.integers(0, 1000, n)
    if spec["mix"] == "fixed":
        # Per 10 rows: 6 fresh, 2 stale and 2 unknown drivers; 8 known and
        # 2 unknown store/sku pairs. A fixed PRESENT / OUTSIDE_MAX_AGE /
        # NOT_FOUND mix; nulls in the source add NULL_VALUE.
        slot = np.tile(np.arange(10), n // 10)
        drv = np.where(
            slot < 6,
            rng.choice(fresh, n),
            np.where(slot < 8, rng.choice(stale, n), unknown_drv),
        )
        known = slat.iloc[rng.integers(0, len(slat), n)]
        store = np.where(slot < 8, known["store_id"].to_numpy(), unknown_pair % N_STORES + 1)
        sku = np.where(slot < 8, known["sku"].to_numpy(), sku_names(unknown_pair))
    else:
        # Keys drawn from history rows, so hot keys repeat within and
        # across requests as often as they occur in the history; 5% of
        # the rows name unknown keys (NOT_FOUND).
        (drv,) = _hot_rows(rng, ds, ["driver_id"], n)
        store, sku = _hot_rows(rng, ss, ["store_id", "sku"], n)
        gone = rng.random(n) < 0.05
        drv = np.where(gone, unknown_drv, drv)
        sku = np.where(gone, sku_names(unknown_pair), sku)
    req = pd.DataFrame(
        {
            "driver_id": pd.array(drv, dtype="Int64"),
            "store_id": pd.array(store, dtype="Int64"),
            "sku": sku,
        }
    )
    exp = {}
    exp.update(
        {
            f"driver_stats:{f}": v
            for f, v in expected_online(
                dlat, ["driver_id"], DRIVER_REFS, req, request_s, max_age
            ).items()
        }
    )
    exp.update(
        {
            f"store_sku:{f}": v
            for f, v in expected_online(
                slat, ["store_id", "sku"], SKU_REFS, req, request_s, 0
            ).items()
        }
    )
    return {
        "driver_max_age_s": DRIVER_MAX_AGE_S,
        "refs": [f"driver_stats:{f}" for f in DRIVER_REFS] + [f"store_sku:{f}" for f in SKU_REFS],
        "request_s": request_s,
        "rows_per_request": rows_per,
        "entities": {
            "driver_id": [int(x) for x in req["driver_id"]],
            "store_id": [int(x) for x in req["store_id"]],
            "sku": req["sku"].tolist(),
        },
        "expected": {ref: {"values": v, "statuses": s} for ref, (v, s) in exp.items()},
        "status_counts": {
            ref: {c: s.count(c) for c in STATUS_CODES} for ref, (_, s) in exp.items()
        },
    }


def gen_offline(rng, spec: dict, out: str) -> dict:
    """Histories, the training entity frame, the expected online tables
    and the expected training-set checksum (DuckDB as-of join)."""
    ds, ss = _online_tables(rng, spec, out)
    n = spec["entity_rows"]
    (drv,) = _hot_rows(rng, ds, ["driver_id"], n)
    store, sku = _hot_rows(rng, ss, ["store_id", "sku"], n)
    # about 5% of the entity rows name keys absent from the history
    gone = rng.random(n) < 0.05
    drv = np.where(gone, spec["driver_keys"] + 1 + rng.integers(0, 1000, n), drv)
    sku = np.where(rng.random(n) < 0.05, "sku-unknown", sku)
    ents = pa.table(
        {
            "driver_id": drv,
            "store_id": store,
            "sku": sku,
            "event_timestamp": _ts(T0 + rng.integers(0, (HISTORY_DAYS + 1) * DAY, n)),
        }
    )
    pq.write_table(ents, f"{out}/entities.parquet")
    for name, tbl, keys in (
        ("driver_stats", ds, ["driver_id"]),
        ("store_sku", ss, ["store_id", "sku"]),
    ):
        pq.write_table(
            last_per_group(tbl, keys).drop_columns(["created"]),
            f"{out}/expected_{name}.parquet",
        )
    checksum = training_checksum(
        {
            "driver_stats": last_per_group(ds, ["driver_id", "event_timestamp"]),
            "store_sku": last_per_group(ss, ["store_id", "sku", "event_timestamp"]),
        },
        ents,
        DRIVER_MAX_AGE_S,
    )
    return {
        "driver_max_age_s": DRIVER_MAX_AGE_S,
        "entity_rows": n,
        "source_rows": {"driver_stats": ds.num_rows, "store_sku": ss.num_rows},
        "training_checksum": checksum,
    }


def training_checksum(histories: dict, ents: pa.Table, max_age: int) -> dict:
    """Row count, per-feature value sums and per-status counts of the
    point-in-time training set, from a DuckDB ASOF join. ``histories``
    hold one row per (key, event time) — event-time ties already
    resolved to the highest created time — so each match is unique."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("e", ents)
        out = {}
        for table, keys, feats, age in (
            ("driver_stats", ["driver_id"], ["conv_rate", "avg_daily_trips", "ratings"], max_age),
            ("store_sku", ["store_id", "sku"], ["price", "stock"], 0),
        ):
            con.register("h", histories[table])
            on = " AND ".join(f"e.{c} = h.{c}" for c in keys)
            stale = (
                f"epoch(e.event_timestamp)::BIGINT - epoch(h.event_timestamp)::BIGINT > {age}"
                if age
                else "FALSE"
            )
            con.execute(
                f"""
                CREATE OR REPLACE TEMP TABLE j AS
                SELECT {", ".join(f"h.{f} AS {f}" for f in feats)},
                       CASE WHEN h.event_timestamp IS NULL THEN 'NOT_FOUND'
                            WHEN {stale} THEN 'OUTSIDE_MAX_AGE' END AS miss
                FROM e ASOF LEFT JOIN h
                  ON {on} AND e.event_timestamp >= h.event_timestamp
                """
            )
            con.unregister("h")
            for f in feats:
                value = f"CASE WHEN miss IS NULL THEN {f} END"
                if f == "ratings":
                    row = con.execute(
                        f"SELECT coalesce(sum(len({value})), 0),"
                        f" coalesce(sum(list_sum({value})), 0) FROM j"
                    ).fetchone()
                    agg = {"len": int(row[0]), "sum": float(row[1])}
                else:
                    row = con.execute(f"SELECT coalesce(sum({value}), 0) FROM j").fetchone()
                    agg = {"sum": float(row[0])}
                status = f"coalesce(miss, CASE WHEN {f} IS NULL THEN 'NULL_VALUE' ELSE 'PRESENT' END)"
                counts = dict(con.execute(f"SELECT {status}, count(*) FROM j GROUP BY 1").fetchall())
                agg["statuses"] = {c: int(counts.get(c, 0)) for c in STATUS_CODES}
                out[f"{table}__{f}"] = agg
    finally:
        con.close()
    return {"rows": ents.num_rows, "features": out}


def gen_corpus(rng, spec: dict, out: str) -> dict:
    """Random documents plus planted near-duplicate chains: each chain
    link swaps a few words of the previous document, so neighbours are
    near duplicates while the chain ends are not. Chains of several
    lengths make the number of label-propagation rounds seed-dependent.

    ``chains`` in the metadata lists each chain's doc ids in link order,
    so the answer check knows the true groups without the engine: random
    base documents share no 3-word shingle with anything, every planted
    link is a near duplicate."""
    vocab = np.array([f"w{i}" for i in range(spec["vocab"])])
    words = spec["words_per_doc"]
    docs = [rng.choice(vocab, words) for _ in range(spec["base_docs"])]
    chains = []
    for length in spec["chain_lengths"]:
        for _ in range(spec["chains_per_length"]):
            cur = rng.choice(vocab, words)
            chains.append([len(docs) + j for j in range(length)])
            docs.append(cur)
            for _ in range(length - 1):
                cur = cur.copy()
                cur[rng.integers(0, words, spec["edits_per_link"])] = rng.choice(
                    vocab, spec["edits_per_link"]
                )
                docs.append(cur)
    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    pq.write_table(
        pa.table({"doc_id": ids, "text": [" ".join(d) for d in docs]}),
        f"{out}/documents.parquet",
    )
    return {
        "documents": len(docs),
        "chains": [[int(ids[j]) for j in chain] for chain in chains],
    }


GENERATORS = {
    "online": gen_online,
    "offline": gen_offline,
    "corpus": gen_corpus,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--spec", required=True, help="input sizes as JSON")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.default_rng(args.seed)
    meta = GENERATORS[args.kind](rng, json.loads(args.spec), args.out)
    with open(f"{args.out}/meta.json", "w") as fh:
        json.dump(meta, fh)


if __name__ == "__main__":
    main()
