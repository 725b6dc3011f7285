"""Layer tracing from outside the engine, Spark job accounting, and
process memory.

:class:`Tracer` wraps public functions of the engine's layers (``sdk``,
``transport``, ``plans``, ``registry``, ``operators.retrieval``,
``sources``, ``operators.materialize``, ``operators.historical``,
``operators.dedup``) and a few PySpark entry points. Each call made while
the tracer is active records a span — name, start, end, parent span and
the id of the operation it belongs to — in memory. Wrappers are installed
only for a traced run; an untraced run uses nothing from here but the
peak-memory reader.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict

# (module, attribute path, span name): the public functions whose calls
# become spans. A "." in the attribute path names a class method.
SPANS = [
    ("feast_java_old_spark.sdk", "FeastClient.get_online_features", "sdk.call"),
    ("feast_java_old_spark.sdk", "HttpJsonChannel.unary", "transport.client_call"),
    ("feast_java_old_spark.sdk", "HttpJsonChannel._dial", "transport.dial"),
    ("feast_java_old_spark.transport.protobin", "encode_request", "sdk.encode"),
    ("feast_java_old_spark.transport.protobin", "decode_response", "sdk.decode"),
    ("feast_java_old_spark.transport.protobin", "decode_request", "transport.server_decode"),
    ("feast_java_old_spark.transport.protobin", "encode_response", "transport.server_encode"),
    ("feast_java_old_spark.plans.serving_rest", "_parse_feature_refs", "plans.parse"),
    ("feast_java_old_spark.plans.serving_rest", "_parse_entity_rows", "plans.parse"),
    ("feast_java_old_spark.plans.serving_json", "response_rows", "plans.response_rows"),
    ("feast_java_old_spark.registry.registry", "Registry.get_feature_table", "registry.lookup"),
    ("feast_java_old_spark.registry.registry", "Registry.get_entity", "registry.lookup"),
    ("feast_java_old_spark.operators.retrieval", "get_online_features", "retrieval.build"),
    ("feast_java_old_spark.streaming.ingest", "read_online_table", "retrieval.read_online_table"),
    ("feast_java_old_spark.operators.materialize", "conform_batch_source", "sources.conform"),
    ("feast_java_old_spark.operators.materialize", "materialize", "materialize.op"),
    ("feast_java_old_spark.operators.historical", "get_training_dataset", "historical.build"),
    ("feast_java_old_spark.operators.dedup", "minhash_lsh_candidates", "dedup.candidates"),
    ("feast_java_old_spark.operators.dedup", "dedup_components", "dedup.components"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "spark.local_checkpoint"),
]

# Per-layer metrics: name → (unit, how it is derived from one traced
# operation). "span:<name>" sums the durations of that span; "count:"
# counts its calls; "self:<layer>" sums self time of the layer's spans;
# "input:<name>" sums the input records read by the Spark jobs that ran
# inside that span.
LAYER_METRICS = {
    "sdk.encode_ms": ("ms", "span:sdk.encode"),
    "sdk.decode_ms": ("ms", "decode"),
    "sdk.request_bytes": ("bytes", "counter:sdk.request_bytes"),
    "sdk.response_bytes": ("bytes", "counter:sdk.response_bytes"),
    "transport.wire_ms": ("ms", "wire"),
    "transport.server_decode_ms": ("ms", "span:transport.server_decode"),
    "transport.server_encode_ms": ("ms", "span:transport.server_encode"),
    "transport.reconnects": ("count", "count:transport.dial"),
    "plans.parse_ms": ("ms", "span:plans.parse"),
    "plans.response_map_ms": ("ms", "selfspan:plans.response_rows"),
    "registry.lookups_per_request": ("count", "count:registry.lookup"),
    "registry.lookup_ms": ("ms", "span:registry.lookup"),
    "retrieval.build_ms": ("ms", "span:retrieval.build"),
    "retrieval.read_online_table_ms": ("ms", "span:retrieval.read_online_table"),
    "retrieval.read_online_table_calls": ("count", "count:retrieval.read_online_table"),
    "spark.collect_ms": ("ms", "span:spark.collect"),
    "spark.jobs_per_op": ("count", "jobs:jobs"),
    "spark.stages_per_op": ("count", "jobs:stages"),
    "spark.tasks_per_op": ("count", "jobs:tasks"),
    "spark.job_gap_ms": ("ms", "jobs:gap_ms"),
    "spark.task_cpu_ms_per_op": ("ms", "jobs:cpu_ms"),
    "spark.gc_ms_per_op": ("ms", "jobs:gc_ms"),
    "spark.shuffle_write_bytes_per_op": ("bytes", "jobs:shuffle_write_bytes"),
    "sources.conform_ms": ("ms", "span:sources.conform"),
    "materialize.op_ms": ("ms", "span:materialize.op"),
    "materialize.rows_in": ("count", "input:materialize.op"),
    "materialize.rows_out": ("count", "counter:materialize.rows_out"),
    "materialize.files_written": ("count", "counter:materialize.files_written"),
    "materialize.bytes_written": ("bytes", "counter:materialize.bytes_written"),
    "historical.build_ms": ("ms", "span:historical.build"),
    "historical.exec_ms": ("ms", "span:historical.exec"),
    "dedup.candidate_pairs": ("count", "counter:dedup.candidate_pairs"),
    "dedup.rounds": ("count", "rounds"),
    "dedup.components_ms": ("ms", "span:dedup.components"),
}
LAYERS = (
    "sdk", "transport", "plans", "registry", "retrieval", "sources",
    "materialize", "historical", "dedup", "spark",
)
LAYER_METRICS.update(
    {f"{layer}.self_ms": ("ms", f"self:{layer}") for layer in LAYERS}
)


class Tracer:
    """In-memory span recorder.

    One operation is in flight at a time (the load is one closed-loop
    client), so a span opened on a thread with no open span of its own —
    the server's handler thread — takes the innermost open span of the
    client thread as its parent. All spans of one operation share its
    ``op`` id.
    """

    def __init__(self) -> None:
        self.active = False
        self.op = 0
        self.spans: list[dict] = []
        self.counters: dict[int, Counter] = defaultdict(Counter)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._client_top: list[int] = []
        self._installed: list[tuple[object, str, object]] = []

    # ---- recording -------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def count(self, op: int, name: str, n: int = 1) -> None:
        with self._lock:
            self.counters[op][name] += n

    def begin(self, op: int) -> None:
        self.op, self.active = op, True

    def end(self) -> None:
        self.active = False

    # ---- wrapping ----------------------------------------------------
    def install(self) -> None:
        """Wrap every function listed in :data:`SPANS`, and the handler
        factory of the gRPC-over-HTTP server. Call before the server is
        built; the wrappers record only while the tracer is active."""
        for module, path, name in SPANS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            self._patch(owner, attr, self._wrap(getattr(owner, attr), name))
        from feast_java_old_spark.transport.grpc_http import GrpcHttpServer

        make_handler = GrpcHttpServer._handler
        wrap = self._wrap

        def _handler(server, servicer, method_name, path):
            return wrap(make_handler(server, servicer, method_name, path), "transport.server_handler")

        self._patch(GrpcHttpServer, "_handler", _handler)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def _patch(self, owner, attr: str, fn) -> None:
        self._installed.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, fn)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "sdk.encode":
                tracer.count(tracer.op, "sdk.request_bytes", len(out))
            elif name == "sdk.decode":
                tracer.count(tracer.op, "sdk.response_bytes", len(args[2]))
            return out

        return traced

    # ---- output ------------------------------------------------------
    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "rec")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.rec = tracer, name, None

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        with t._lock:
            sid = t._next_id = t._next_id + 1
            parent = stack[-1] if stack else (t._client_top[-1] if t._client_top else None)
        self.rec = {
            "id": sid, "parent": parent, "op": t.op, "name": self.name,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(), "end": None,
        }
        stack.append(sid)
        if threading.current_thread() is threading.main_thread():
            t._client_top.append(sid)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        self.rec["end"] = time.perf_counter()
        t._stack().pop()
        if threading.current_thread() is threading.main_thread():
            t._client_top.pop()
        with t._lock:
            t.spans.append(self.rec)
        return False


def _union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_layer_metrics(spans: list[dict], counters: Counter, jobs: dict) -> dict:
    """Every per-layer metric for one traced operation."""
    by_name = defaultdict(list)
    children = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
        children[s["parent"]].append(s)

    def dur(s):
        return (s["end"] - s["start"]) * 1e3

    def self_ms(s):
        kids = [(c["start"], c["end"]) for c in children[s["id"]]]
        return dur(s) - _union_ms(kids) * 1e3

    out = {}
    for metric, (_, how) in LAYER_METRICS.items():
        kind, _, arg = how.partition(":")
        if kind == "span":
            v = sum(dur(s) for s in by_name[arg])
        elif kind == "selfspan":
            v = sum(self_ms(s) for s in by_name[arg])
        elif kind == "count":
            v = len(by_name[arg])
        elif kind == "counter":
            v = counters.get(arg, 0)
        elif kind == "jobs":
            v = jobs.get(arg, 0)
        elif kind == "input":
            v = sum(
                rows for start, end, rows in jobs.get("job_list", ())
                if any(s["start"] <= start and end <= s["end"] for s in by_name[arg])
            )
        elif kind == "self":
            v = sum(self_ms(s) for s in spans if s["name"].split(".")[0] == arg)
        elif how == "decode":
            # decode_response plus the SDK's Row mapping, which runs after
            # the client call returns and before get_online_features does
            v = sum(dur(s) for s in by_name["sdk.decode"])
            for call in by_name["sdk.call"]:
                inner = [c["end"] for c in children[call["id"]]]
                v += (call["end"] - max(inner, default=call["end"])) * 1e3
        elif how == "wire":
            # client call minus everything inside it: the server handler
            # (parented across threads) and the client codec
            v = sum(self_ms(s) for s in by_name["transport.client_call"])
        elif how == "rounds":
            # label-propagation rounds: checkpoints inside dedup_components
            # minus the one that materializes the edge list
            comp = {s["id"] for s in by_name["dedup.components"]}
            v = sum(max(0, sum(1 for c in children[i] if c["name"] == "spark.local_checkpoint") - 1) for i in comp)
        else:
            raise ValueError(how)
        out[metric] = v
    return out


def units() -> dict:
    """Unit of every metric a traced run reports."""
    out = {k: u for k, (u, _) in LAYER_METRICS.items()}
    out.update({"proc.py_rss_mb": "MB", "proc.jvm_rss_mb": "MB",
                "trace.op_p50_ms": "ms", "trace.overhead_ms": "ms"})
    return out


def median_metrics(per_op: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}


class SparkJobs:
    """Job, stage, task, CPU, GC and shuffle totals of one operation,
    read from the driver's status store by job-id range: every job with
    an id at or above the mark taken before the operation. With one
    operation in flight, that range is exactly the operation's jobs.
    ``job_list`` holds each job's (start, end, input records), with the
    times on the ``time.perf_counter`` clock the spans use."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.next_id = max(self.sc.statusTracker().getJobIdsForGroup(None) or [-1]) + 1
        self.seen_stages: set[int] = set()

    def _drain(self) -> None:
        self.bus.waitUntilEmpty(30_000)

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.job(jid)
        except Py4JJavaError:
            return None

    def mark(self) -> None:
        """Skip past every job that has run so far."""
        self._drain()
        while self._job(self.next_id) is not None:
            self.next_id += 1

    def collect(self, wall_ms: float) -> dict:
        self._drain()
        jobs, intervals = [], []
        while (j := self._job(self.next_id)) is not None:
            jobs.append(j)
            self.next_id += 1
        tot = Counter(jobs=len(jobs))
        job_list = []
        # epoch ms -> perf_counter s; both clocks read back to back
        off_ms = time.time() * 1e3 - time.perf_counter() * 1e3
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            job_input = 0
            for sid in j.stageIds().toList().mkString(",").split(","):
                if not sid or int(sid) in self.seen_stages:
                    continue
                st = self.store.lastStageAttempt(int(sid))
                if st.status().toString() != "COMPLETE":
                    continue
                self.seen_stages.add(int(sid))
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["cpu_ms"] += st.executorCpuTime() / 1e6
                tot["gc_ms"] += st.jvmGcTime()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                job_input += st.inputRecords()
            if sub.isDefined() and done.isDefined():
                job_list.append((
                    (sub.get().getTime() - off_ms) / 1e3,
                    (done.get().getTime() - off_ms) / 1e3,
                    job_input,
                ))
        tot["gap_ms"] = max(0.0, wall_ms - _union_ms(intervals))
        return {**tot, "job_list": job_list}


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pid(spark) -> int:
    """The driver JVM: the gateway process, or its java descendant when
    the launcher script did not exec."""
    pid = spark.sparkContext._gateway.proc.pid
    for _ in range(3):
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                return pid
        kids = [
            int(p) for p in os.listdir("/proc") if p.isdigit()
            and _ppid(int(p)) == pid
        ]
        if not kids:
            break
        pid = kids[0]
    return pid


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return -1


def peak_rss_mb(jvm: int) -> tuple[float, float]:
    """(python, jvm) peak resident set sizes in MiB."""
    return _hwm_mb("self"), _hwm_mb(jvm)
