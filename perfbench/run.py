"""Feature-store benchmark: one workload, one seed, one JSON line.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload online_small --seed 1 --seconds 6 --trace 0

Steps: generate the workload's inputs from the seed in a child process
(``gen.py``, which also writes the expected answers); start a Spark
session sized from the host; run the engine set-up once and the
warm-up operations; run timed operations in a closed loop for
``--seconds``; check every answer; print each figure on its own line and,
last, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run alternates traced and untraced
operations, so the tracing overhead is measured in the same process.

Everything the run writes lives under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span logs of traced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "rows_per_s": "1/s", "peak_rss_mb": "MB"}


def host_session(work: str):
    """A local Spark session sized from this host: every CPU, an eighth
    of RAM as a fixed-size driver heap (``-Xms`` = ``-Xmx``, so peak RSS
    repeats from run to run), the UI and console progress bar off, and
    the JVM options the engine's own ``bench.py`` session uses: the 1 GB
    JIT code cache, concurrent explicit GC and a periodic driver GC."""
    from feast_java_old_spark.sources.tables import session_builder

    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    heap_mb = mem_kb // 8192
    spark = session_builder(
        "perfbench",
        master=f"local[{cpus}]",
        **{
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_mb}m -XX:+ExplicitGCInvokesConcurrent -XX:ReservedCodeCacheSize=1g"
                f" -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
            ),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(4 * cpus),
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.python.sql.dataFrameDebugging.enabled": "false",
            "spark.cleaner.periodicGC.interval": "15s",
        },
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def drift(times: list[float]) -> float:
    """Median of the second half of a timed phase over the first, minus 1."""
    h = len(times) // 2
    if h < 2:
        return 0.0
    return statistics.median(times[h:]) / statistics.median(times[:h]) - 1


def attempt(wl, i: int):
    """Run operation ``i``: ``(rows, seconds, answer)``. An operation that
    raises is a failed one, with no time and no answer."""
    t0 = time.perf_counter()
    try:
        rows, answer = wl.op(i)
    except Exception:
        traceback.print_exc()
        return 0, None, None
    return rows, time.perf_counter() - t0, answer


def run(args, spec: dict, root: str, work: str) -> dict:
    import tracing as T
    from workloads import WORKLOADS, Context

    inputs = os.path.join(work, "inputs")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--kind", spec["kind"],
         "--spec", json.dumps(spec), "--seed", str(args.seed), "--out", inputs],
        check=True, timeout=150,
    )

    t_setup = time.perf_counter()
    tracer = T.Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    spark = host_session(work)
    session_s = time.perf_counter() - t_setup
    try:
        wl = WORKLOADS[args.workload](Context(spark, inputs, work, tracer))
        failed = 0
        try:
            t0 = time.perf_counter()
            wl.engine_setup()
            engine_s = time.perf_counter() - t0
            warm: list[float] = []
            for i in range(spec["warmup_ops"]):
                _, dt, answer = attempt(wl, i)
                failed += dt is None or not wl.check(i, answer)
                warm.append(dt or 0.0)
                gc.collect()
            # wall time to the first timed operation, less the answer
            # checks, which are harness work
            setup_s = session_s + engine_s + sum(warm)

            # Timed phase. A traced run traces every second operation.
            jobs = T.SparkJobs(spark) if tracer is not None else None
            plain, plain_ops, traced, layer = [], [], [], []
            rows_done = attempted = 0
            start = time.perf_counter()
            i = len(warm)
            while (attempted < spec["min_ops"]
                   or time.perf_counter() - start < args.seconds):
                on = tracer is not None and i % 2 == 1
                if on:
                    jobs.mark()
                    tracer.begin(i)
                rows, dt, answer = attempt(wl, i)
                if on:
                    tracer.end()
                    job_stats = jobs.collect((dt or 0.0) * 1e3)
                    if dt is not None:
                        wl.traced_counts(i)
                        layer.append((i, job_stats))
                        traced.append(dt)
                elif dt is not None:
                    plain.append(dt)
                    plain_ops.append(i)
                    rows_done += rows
                # checked after tracing stops, so no check work is traced
                failed += dt is None or not wl.check(i, answer)
                del answer
                attempted += 1
                i += 1
                gc.collect()
            figures = wl.figures(plain_ops, plain, rows_done)
        finally:
            wl.close()
        py_mb, jvm_mb = T.peak_rss_mb(T.jvm_pid(spark))
    finally:
        stop_session(spark)

    figures.update(
        setup_s=(setup_s, "s", f"session {session_s:.2f} s + engine set-up "
                 f"{engine_s:.2f} s + {len(warm)} warm-up ops {sum(warm):.2f} s"),
        peak_rss_mb=(py_mb + jvm_mb, "MB", f"python {py_mb:.0f} + jvm {jvm_mb:.0f}"),
        drift_pct=(drift(plain) * 100, "%", "timed phase: second-half median over first-half median"),
    )
    for name, (value, unit, note) in figures.items():
        print(f"{args.workload} {name} {value:.4f} {unit} ({note})")
    print(f"{args.workload} warm-up op s: " + " ".join(f"{t:.3f}" for t in warm))
    print(f"{args.workload} timed op s: " + " ".join(f"{t:.3f}" for t in plain))

    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(plain) * 1e3,
            "rows_per_s": rows_done / sum(plain),
            "peak_rss_mb": py_mb + jvm_mb,
        }
        units = E2E_UNITS
    else:
        by_op: dict[int, list] = {}
        for s in tracer.spans:
            by_op.setdefault(s["op"], []).append(s)
        metrics = T.median_metrics([
            T.op_layer_metrics(by_op.get(i, []), tracer.counters[i], stats)
            for i, stats in layer
        ])
        metrics["proc.py_rss_mb"], metrics["proc.jvm_rss_mb"] = py_mb, jvm_mb
        metrics["trace.op_p50_ms"] = statistics.median(traced) * 1e3
        metrics["trace.overhead_ms"] = metrics["trace.op_p50_ms"] - statistics.median(plain) * 1e3
        units = T.units()
        out = os.path.join(root, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(out)
        tracer.uninstall()
        print(f"{args.workload} spans written to {os.path.relpath(out, root)}")
    return {
        "correct": failed == 0,
        "attempted": len(warm) + attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> int:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        specs = json.load(fh)["workloads"]
    ap = argparse.ArgumentParser(description="feature-store benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(specs))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "feast_java_old_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(feast_java_old_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = run(args, dict(specs[args.workload]), root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
