"""The four workloads, each driven through the engine's public API.

A workload object offers:

- ``engine_setup()``: registry apply, the initial materialize and
  server start — the part of set-up the engine owns;
- ``op(i)``: one timed operation, returning ``(rows, answer)``;
- ``check(i, answer)``: whether the answer equals the independent
  computation written by ``gen.py`` (never timed);
- ``figures(ops, times, rows)``: the workload's own named end-to-end
  figures over its untraced timed operations.

Every call into the engine goes through a module attribute
(``M.materialize``, ``D.dedup_components`` ...) so that a traced run's
wrappers see it.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import time
from contextlib import nullcontext
from importlib import import_module

import pyarrow.parquet as pq

class Context:
    """What every workload receives: the session, its input directory,
    the generator's metadata, and the tracer of a traced run."""

    def __init__(self, spark, inputs: str, work: str, tracer=None):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.tracer = tracer
        with open(os.path.join(inputs, "meta.json")) as fh:
            self.meta = json.load(fh)

    def span(self, name: str):
        t = self.tracer
        return t.span(name) if t is not None and t.active else nullcontext()

    def count(self, op: int, name: str, n: int) -> None:
        if self.tracer is not None:
            self.tracer.count(op, name, n)


def feature_registry(ctx: Context):
    """The two feature tables every feature-store workload uses:
    ``driver_stats`` (single key, ``max_age``, a list feature) and
    ``store_sku`` (compound key, no ``max_age``)."""
    import feast_java_old_spark as fs
    from feast_java_old_spark.registry.model import FileSource

    V = fs.ValueType
    reg = fs.Registry()
    reg.apply_entity(fs.Entity("driver_id", V.INT64))
    reg.apply_entity(fs.Entity("store_id", V.INT64))
    reg.apply_entity(fs.Entity("sku", V.STRING))

    def source(name):
        return FileSource(
            file_url=os.path.join(ctx.inputs, f"{name}.parquet"),
            event_timestamp_column="event_timestamp",
            created_timestamp_column="created",
        )

    reg.apply_feature_table(
        fs.FeatureTable(
            name="driver_stats",
            entities=["driver_id"],
            features=[
                fs.Feature("conv_rate", V.DOUBLE),
                fs.Feature("acc_rate", V.DOUBLE),
                fs.Feature("avg_daily_trips", V.INT64),
                fs.Feature("ratings", V.DOUBLE_LIST),
            ],
            max_age_secs=ctx.meta["driver_max_age_s"],
            batch_source=source("driver_stats"),
        )
    )
    reg.apply_feature_table(
        fs.FeatureTable(
            name="store_sku",
            entities=["store_id", "sku"],
            features=[fs.Feature("price", V.DOUBLE), fs.Feature("stock", V.INT64)],
            batch_source=source("store_sku"),
        )
    )
    return reg


def _pctl(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Workload:
    def traced_counts(self, i: int) -> None:
        """Per-layer counts for traced operation ``i``, gathered after it
        ends and outside its timing."""

    def close(self) -> None:
        pass


class Online(Workload):
    """``online_small`` and ``online_bulk``: one closed-loop client on one
    keep-alive connection, proto-binary codec, against GrpcHttpServer."""

    def __init__(self, ctx: Context) -> None:
        from feast_java_old_spark.sdk import Row

        self.ctx = ctx
        m = ctx.meta
        self.refs = m["refs"]
        ts = dt.datetime.fromtimestamp(m["request_s"], dt.timezone.utc)
        ent = m["entities"]
        n = len(ent["driver_id"])
        rows = [
            Row()
            .set("driver_id", ent["driver_id"][i])
            .set("store_id", ent["store_id"][i])
            .set("sku", ent["sku"][i])
            .set_entity_timestamp(ts)
            for i in range(n)
        ]
        per = m["rows_per_request"]
        self.requests = [rows[s : s + per] for s in range(0, n, per)]
        self.server = self.client = None

    def engine_setup(self) -> None:
        M = import_module("feast_java_old_spark.operators.materialize")
        from feast_java_old_spark.plans.serving_rest import ServingServiceRestController
        from feast_java_old_spark.sdk import FeastClient, HttpJsonChannel
        from feast_java_old_spark.transport.grpc_adapter import ServingServiceServicer
        from feast_java_old_spark.transport.grpc_http import GrpcHttpServer

        ctx = self.ctx
        reg = feature_registry(ctx)
        store = os.path.join(ctx.work, "store")
        for table in ("driver_stats", "store_sku"):
            M.materialize(ctx.spark, reg, table, store)
        ctl = ServingServiceRestController(ctx.spark, reg, store_path=store)
        self.server = GrpcHttpServer([ServingServiceServicer(ctl)]).start()
        self.client = FeastClient(
            HttpJsonChannel(self.server.host, self.server.port, codec="proto")
        )

    def op(self, i: int):
        rows = self.requests[i % len(self.requests)]
        return len(rows), self.client.get_online_features(self.refs, rows)

    def check(self, i: int, answer) -> bool:
        m = self.ctx.meta
        per = m["rows_per_request"]
        base = (i % len(self.requests)) * per
        if len(answer) != per:
            return False
        ent, exp = m["entities"], m["expected"]
        for j, row in enumerate(answer):
            fields, statuses = row.get_fields(), row.get_statuses()
            for key in ("driver_id", "store_id", "sku"):
                if _scalar(fields.get(key)) != ent[key][base + j]:
                    return False
            for ref in self.refs:
                if statuses.get(ref) != exp[ref]["statuses"][base + j]:
                    return False
                if _scalar(fields.get(ref)) != exp[ref]["values"][base + j]:
                    return False
        return True

    def figures(self, ops: list[int], times: list[float], rows: int) -> dict:
        ms = [t * 1e3 for t in times]
        n_above = sum(1 for v in ms if v > _pctl(ms, 0.95))
        return {
            "online_p50_ms": (statistics.median(ms), "ms", f"n={len(ms)}"),
            "online_p95_ms": (
                _pctl(ms, 0.95),
                "ms",
                f"n={len(ms)}, {n_above} above"
                + ("" if n_above >= 10 else " (fewer than 10: indicative only)"),
            ),
            "online_rows_per_s": (rows / sum(times), "1/s", "closed loop"),
        }

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.stop()
        self.server = self.client = None


def _scalar(wrapped):
    """The value inside a proto-JSON Value wrapper; None when unset."""
    if not wrapped:
        return None
    return next(iter(wrapped.values()))


class OfflineRefresh(Workload):
    """``offline_refresh``: materialize both tables, then export a
    point-in-time training set to a noop sink, once per cycle. The export
    carries an Observation with its checksum, so checking it costs no
    extra Spark job."""

    TRAINING_REFS = [
        "driver_stats:conv_rate",
        "driver_stats:avg_daily_trips",
        "driver_stats:ratings",
        "store_sku:price",
        "store_sku:stock",
    ]

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.phase_s: dict[int, tuple[float, float]] = {}

    def engine_setup(self) -> None:
        M = import_module("feast_java_old_spark.operators.materialize")

        ctx = self.ctx
        self.reg = feature_registry(ctx)
        self.store = os.path.join(ctx.work, "store")
        for table in ("driver_stats", "store_sku"):
            M.materialize(ctx.spark, self.reg, table, self.store)

    def op(self, i: int):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        H = import_module("feast_java_old_spark.operators.historical")
        M = import_module("feast_java_old_spark.operators.materialize")

        ctx, spark = self.ctx, self.ctx.spark
        t0 = time.perf_counter()
        for table in ("driver_stats", "store_sku"):
            M.materialize(spark, self.reg, table, self.store)
        t1 = time.perf_counter()
        ents = spark.read.parquet(os.path.join(ctx.inputs, "entities.parquet"))
        df = H.get_training_dataset(
            spark, self.reg, ents, self.TRAINING_REFS, include_statuses=True
        )
        obs = Observation(f"training_{i}")
        aggs = [F.count(F.lit(1)).alias("rows")]
        for ref in self.TRAINING_REFS:
            c = ref.replace(":", "__")
            if c.endswith("ratings"):
                aggs.append(F.coalesce(F.sum(F.size(c)), F.lit(0)).alias(f"{c}|len"))
                elem_sum = F.aggregate(c, F.lit(0.0), lambda a, x: a + x)
                aggs.append(F.coalesce(F.sum(elem_sum), F.lit(0.0)).alias(f"{c}|sum"))
            else:
                aggs.append(F.coalesce(F.sum(c), F.lit(0)).alias(f"{c}|sum"))
            for s in ("PRESENT", "NULL_VALUE", "NOT_FOUND", "OUTSIDE_MAX_AGE"):
                hit = F.when(F.col(f"{c}__status") == s, 1).otherwise(0)
                aggs.append(F.sum(hit).alias(f"{c}|{s}"))
        with ctx.span("historical.exec"):
            df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.phase_s[i] = (t1 - t0, t2 - t1)
        rows = sum(ctx.meta["source_rows"].values()) + ctx.meta["entity_rows"]
        return rows, dict(obs.get)

    def traced_counts(self, i: int) -> None:
        """Materialize layer counts for a traced cycle, from the files it
        wrote (read after the cycle, outside its timing)."""
        ctx = self.ctx
        for table in ("driver_stats", "store_sku"):
            path = os.path.join(self.store, "default", table)
            for f in os.scandir(path):
                if f.name.endswith(".parquet"):
                    ctx.count(i, "materialize.files_written", 1)
                    ctx.count(i, "materialize.bytes_written", f.stat().st_size)
                    ctx.count(i, "materialize.rows_out", pq.read_metadata(f.path).num_rows)

    def check(self, i: int, answer) -> bool:
        return self._store_matches() and self._checksum_matches(answer)

    def _store_matches(self) -> bool:
        """The online tables written by this cycle equal the expected
        latest-per-key tables exactly."""
        for table, keys in (
            ("driver_stats", ["driver_id"]),
            ("store_sku", ["store_id", "sku"]),
        ):
            got = pq.read_table(os.path.join(self.store, "default", table))
            want = pq.read_table(os.path.join(self.ctx.inputs, f"expected_{table}.parquet"))
            if sorted(got.column_names) != sorted(want.column_names):
                return False
            order = [(k, "ascending") for k in keys]
            got = got.select(want.column_names).sort_by(order)
            if not got.equals(want.sort_by(order).cast(got.schema)):
                return False
        return True

    def _checksum_matches(self, got: dict) -> bool:
        want = self.ctx.meta["training_checksum"]
        if got.get("rows") != want["rows"]:
            return False
        for col, exp in want["features"].items():
            for status, n in exp["statuses"].items():
                if got.get(f"{col}|{status}") != n:
                    return False
            if "len" in exp and got.get(f"{col}|len") != exp["len"]:
                return False
            if not math.isclose(float(got.get(f"{col}|sum", math.nan)), exp["sum"], rel_tol=1e-9, abs_tol=1e-6):
                return False
        return True

    def figures(self, ops: list[int], times: list[float], rows: int) -> dict:
        meta = self.ctx.meta
        mat, train = zip(*(self.phase_s[i] for i in ops))
        src = sum(meta["source_rows"].values())
        return {
            "materialize_rows_per_s": (statistics.median(src / t for t in mat), "1/s", f"cycles={len(mat)}"),
            "training_rows_per_s": (statistics.median(meta["entity_rows"] / t for t in train), "1/s", f"cycles={len(train)}"),
        }


class CorpusDedup(Workload):
    """``corpus_dedup``: MinHash-LSH candidates, then connected components
    over them. Each call's labels must

    - equal a Python union-find over the engine's candidate pairs
      (collected once, at the first check): the components are exact;
    - never join two planted groups (a chain, or a lone base document);
    - keep at least ``MIN_LINK_RECALL`` of the planted chain links inside
      one group. This part knows nothing of the engine, so candidate
      generation that drops pairs fails it. Banded MinHash is
      probabilistic: with 12 hashes in 4 bands, a one-word edit of a
      40-word document is missed about 2% of the time."""

    MIN_LINK_RECALL = 0.9

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.pairs = None
        self.link_recall: list[float] = []

    def engine_setup(self) -> None:
        self.docs = self.ctx.spark.read.parquet(os.path.join(self.ctx.inputs, "documents.parquet"))

    def op(self, i: int):
        D = import_module("feast_java_old_spark.operators.dedup")

        self.last_pairs = D.minhash_lsh_candidates(self.docs)
        labels = D.dedup_components(self.last_pairs, self.docs.select("doc_id")).collect()
        return self.ctx.meta["documents"], {r["doc_id"]: r["group_id"] for r in labels}

    def expected(self) -> dict:
        if self.pairs is None:
            self.pairs = [(r[0], r[1]) for r in self.last_pairs.collect()]
            ids = [r[0] for r in self.docs.select("doc_id").collect()]
            self.labels = union_find_labels(ids, self.pairs)
        return self.labels

    def check(self, i: int, answer) -> bool:
        if answer != self.expected():
            return False
        chains = self.ctx.meta["chains"]
        home = {d: ("chain", c) for c, chain in enumerate(chains) for d in chain}
        group_home: dict = {}
        for doc, group in answer.items():
            if group_home.setdefault(group, home.get(doc, doc)) != home.get(doc, doc):
                return False
        links = [(a, b) for chain in chains for a, b in zip(chain, chain[1:])]
        kept = sum(answer[a] == answer[b] for a, b in links)
        self.link_recall.append(kept / len(links))
        return kept >= self.MIN_LINK_RECALL * len(links)

    def traced_counts(self, i: int) -> None:
        """Candidate pairs of this call's own pairs frame, counted after
        the call (one more Spark job, outside its timing and job range)."""
        self.ctx.count(i, "dedup.candidate_pairs", self.last_pairs.count())

    def figures(self, ops: list[int], times: list[float], rows: int) -> dict:
        n = self.ctx.meta["documents"]
        return {
            "dedup_docs_per_s": (statistics.median(n / t for t in times), "1/s", f"calls={len(times)}"),
            "dedup_link_recall": (min(self.link_recall), "share", f"planted chain links kept in one group, lowest of {len(self.link_recall)} calls; must be >= {self.MIN_LINK_RECALL}"),
        }


def union_find_labels(ids, pairs) -> dict:
    """Each id → the smallest id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


WORKLOADS = {
    "online_small": Online,
    "online_bulk": Online,
    "offline_refresh": OfflineRefresh,
    "corpus_dedup": CorpusDedup,
}
