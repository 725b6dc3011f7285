#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
a session sized from the host (``local[$SPARK_GRAFT_CPUS]`` when that is
set) and prints ONE JSON line.

Each query is forced to full execution with a noop sink (no driver-side
collect cost, no result materialization skew).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as _entry


# Queries whose ISOLATED fresh-JVM variance band exceeds 1.5x — for
# j2_compound_key three identical warm JVMs spanned 2.07–4.70 s (r14
# adjudication), a GC-sensitivity artifact of its 3 broadcasts + 10
# overlapping stages, not a plan property — so ONE in-suite shot cannot
# adjudicate a 2x flag (it flagged two rounds running on noise). These
# run N times in-suite; the headline carries the MEDIAN and all samples
# are recorded in BENCH_DETAIL under "median_samples". Median, not min:
# a best-of composite would mask a genuine regression whenever one
# sample got lucky (same reasoning as the warm-rerun rule below).
MEDIAN_OF = {
    "j2_compound_key": 3,
}

# Deliberate-ceiling twins: benched every run and recorded in
# BENCH_DETAIL under "tracked_ceilings", but EXCLUDED from the headline
# total — each tracks a documented worst-case evaluator (e.g.
# kmeans_refine_expr: the interpreted higher-order-function form whose
# production twin kmeans_refine runs the Arrow/BLAS kernel ~10x faster
# against the SAME oracle). The headline measures production plans;
# these measure the ceiling the production plans are compared against.
TRACKED_CEILINGS = [
    "kmeans_refine_expr",
]

# Every registered query in registry order, minus the streaming runs
# (their wall time is trigger pacing, not plan cost) and the ceilings.
HEADLINE = [
    name
    for name in _entry.queries()
    if not name.startswith("stream_") and name not in TRACKED_CEILINGS
]


def write_canonical_detail(detail: dict, repo: str | None = None) -> None:
    """Write BENCH_DETAIL.json PLUS its content fingerprint
    (BENCH_DETAIL.sha256). Only the canonical round-close writer
    (scripts/gen_scaling.py's best-of-2 composite) calls this — a plain
    `python bench.py` run overwrites only the JSON, so the fingerprint
    goes stale and :func:`freeze_baseline` refuses. That mechanizes the
    r13 freeze-ordering rule ("gen_scaling must be the LAST bench
    writer before the freeze"), which used to be convention only and
    cost one gen_scaling cycle when an out-of-order single shot
    clobbered the composite."""
    import hashlib

    repo = repo or os.path.dirname(os.path.abspath(__file__))
    data = json.dumps(detail, indent=1, sort_keys=True)
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        f.write(data)
    digest = hashlib.sha256(data.encode()).hexdigest()
    with open(os.path.join(repo, "BENCH_DETAIL.sha256"), "w") as f:
        f.write(digest + "\n")


def check_plans_fresh(repo: str | None = None) -> None:
    """Refuse (RuntimeError) if docs/PLANS.md's recorded generation sha
    is missing, not an ancestor of HEAD, or if anything under
    ``feast_java_old_spark/{operators,plans}`` differs from that sha
    (committed OR uncommitted) — a post-regen operator commit must not
    ship a stale plan audit silently (VERDICT r14 #2). The plan-audit
    twin of the BENCH_DETAIL fingerprint guard; called by
    :func:`freeze_baseline` whenever docs/PLANS.md exists."""
    import re
    import subprocess

    repo = repo or os.path.dirname(os.path.abspath(__file__))
    plans_path = os.path.join(repo, "docs", "PLANS.md")
    with open(plans_path) as f:
        header = f.read(2000)
    m = re.search(r"Generated at commit `([0-9a-f]{7,40})`", header)
    if not m:
        raise RuntimeError(
            "refusing: docs/PLANS.md records no generation sha — "
            "regenerate with scripts/gen_plans.py (it stamps HEAD)"
        )
    sha = m.group(1)

    def git(*args: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            ["git", "-C", repo, *args], capture_output=True, text=True
        )

    if git("merge-base", "--is-ancestor", sha, "HEAD").returncode != 0:
        raise RuntimeError(
            f"refusing: PLANS.md generation sha {sha[:12]} is not an "
            "ancestor of HEAD — the plan audit was generated on another "
            "line of history; re-run scripts/gen_plans.py"
        )
    plan_dirs = [
        "feast_java_old_spark/operators",
        "feast_java_old_spark/plans",
    ]
    diff = git("diff", "--name-only", sha, "--", *plan_dirs)
    untracked = git(
        "ls-files", "--others", "--exclude-standard", "--", *plan_dirs
    )
    for step, proc in (("git diff", diff), ("git ls-files", untracked)):
        # fail CLOSED: a failed git invocation (index.lock contention,
        # corrupt object, …) must block the freeze, not silently report
        # "nothing changed" — the guard exists to refuse on doubt.
        if proc.returncode != 0:
            raise RuntimeError(
                f"refusing: {step} failed during the PLANS.md freshness "
                f"check ({proc.stderr.strip() or 'no stderr'}) — cannot "
                "prove the plan audit is fresh"
            )
    changed = sorted(
        set(diff.stdout.splitlines()) | set(untracked.stdout.splitlines())
    )
    if changed:
        raise RuntimeError(
            "refusing: operator/plan sources changed since docs/PLANS.md "
            f"was generated at {sha[:12]} — re-run scripts/gen_plans.py "
            f"before freezing. Changed: {', '.join(changed)}"
        )


def freeze_baseline(repo: str | None = None) -> None:
    """Snapshot the current BENCH_DETAIL.json as the next round's
    adjudication baseline. Run EXACTLY ONCE per round, at round close,
    right after the final full bench run — mid-round regens must never
    touch BENCH_BASELINE.json (VERDICT r8 #1: a live-detail baseline
    ratchets intra-round and lets real drift cross rounds unflagged).

    Refuses (loudly) unless BENCH_DETAIL.json's bytes still match the
    fingerprint the canonical writer recorded — if any other writer
    touched the file since gen_scaling wrote the best-of-2 composite,
    freezing would snapshot a single shot as the round's baseline."""
    import hashlib

    repo = repo or os.path.dirname(os.path.abspath(__file__))
    # the plan-audit staleness guard rides the same close gate (only
    # where a plan audit exists — unit-test tmp repos have none)
    if os.path.exists(os.path.join(repo, "docs", "PLANS.md")):
        check_plans_fresh(repo)
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    fp_path = os.path.join(repo, "BENCH_DETAIL.sha256")
    with open(detail_path) as f:
        data = f.read()
    if not os.path.exists(fp_path):
        raise RuntimeError(
            "refusing to freeze: no BENCH_DETAIL.sha256 fingerprint — "
            "run scripts/gen_scaling.py first (it writes the canonical "
            "best-of-2 BENCH_DETAIL plus its fingerprint)"
        )
    with open(fp_path) as f:
        recorded = f.read().strip()
    digest = hashlib.sha256(data.encode()).hexdigest()
    if digest != recorded:
        raise RuntimeError(
            "refusing to freeze: BENCH_DETAIL.json changed since "
            "gen_scaling wrote it (fingerprint mismatch) — another "
            "bench.py run clobbered the best-of-2 composite; re-run "
            "scripts/gen_scaling.py, then freeze"
        )
    detail = json.loads(data)
    with open(os.path.join(repo, "BENCH_BASELINE.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(
        f"froze baseline: {len(detail.get('queries', {}))} queries, "
        f"total {detail.get('value')}s at sf{detail.get('sf')}"
    )


def same_host_prior(baseline_path: str, sf: float, cpus: int) -> dict[str, float]:
    """The frozen baseline's per-query seconds, or nothing when it was
    measured at another scale factor or CPU count: gen_scaling.py runs
    this harness across sf0.001/0.01/0.1 back-to-back, and a baseline
    from a bigger host flags queries that are only slower for having
    fewer cores."""
    try:
        with open(baseline_path) as f:
            base = json.load(f)
    except (OSError, ValueError):
        return {}
    if base.get("sf") != sf or base.get("cpus") != cpus:
        return {}
    return base.get("queries", {}) or {}


def isolated_once(names: list[str]) -> None:
    """Adjudication mode: run ONLY the named queries, once each, in this
    fresh JVM (same session confs + warm-up as the full suite), and
    print one JSON line. Drive best-of-3 by invoking this three times
    in separate processes:  python bench.py --only q1 q2 ..."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _build_session()
    _warm(spark, sf_dir)
    qs = _entry.queries()
    out = {}
    for name in names:
        runs = []
        for _ in range(2):  # cold (plan compile + codegen) then warm
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        out[name] = {"cold": runs[0], "warm": runs[1]}
    print(json.dumps({"isolated": out}, separators=(",", ":")))


def _build_session():
    from feast_java_old_spark.sources.tables import host_cpus, session_builder

    spark = session_builder(
        "bench",
        **{
            "spark.sql.shuffle.partitions": str(max(host_cpus(), 16)),
            "spark.ui.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "64MB",
            # r16: the SQL status store retains 1000 executions by default
            # even with the UI off; one JVM runs ~190 multi-stage queries,
            # and the retained plan graphs and metrics fill the old gen.
            "spark.sql.ui.retainedExecutions": "50",
            "spark.ui.retainedJobs": "300",
            "spark.ui.retainedStages": "500",
        },
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark, sf_dir: str) -> None:
    # Warm the JVM (codegen, parquet footer caches, shuffle + broadcast
    # machinery) so the first timed queries don't absorb session fixed
    # costs — a 1-row read leaves the first real shuffle/join to pay
    # executor spin-up, which showed up as phantom "regressions" on
    # whichever queries ran first.
    from pyspark.sql import functions as _F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("events", "documents", "embeddings", "orders", "lineitem", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("user_id").agg(_F.count(_F.lit(1)).alias("n"))
    agg.join(
        _F.broadcast(agg.limit(100).withColumnRenamed("n", "m")), "user_id"
    ).write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    spark = _build_session()
    _warm(spark, sf_dir)

    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    baseline_path = os.path.join(repo, "BENCH_BASELINE.json")
    # Prior ROUND's per-query numbers: the in-process adjudication
    # baseline for cold-plan flags. Read from BENCH_BASELINE.json — a
    # snapshot frozen exactly once per round close (`--freeze-baseline`),
    # never touched by mid-round regens. Reading the live
    # BENCH_DETAIL.json here (the pre-r9 behavior) meant every mid-round
    # rerun ratcheted the baseline, so a query could drift past the
    # flag threshold ACROSS the round without ever being adjudicated
    # (r8: j3_max_age 2.01x vs r7, never flagged — VERDICT r8 #1).
    cpus = spark.sparkContext.defaultParallelism
    prior = same_host_prior(baseline_path, sf, cpus)

    def run_once(fn, name: str) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        elapsed = round(time.perf_counter() - t0, 3)
        # Queries that persist small reused frames (request sets, edge
        # lists, ranked frames) populate them during their own timed
        # execution; drop them afterwards so storage-memory pressure
        # doesn't tax LATER queries' GC (observed 2-3x single-shot
        # spikes on late-suite queries with ~100 accumulated frames).
        spark.catalog.clearCache()
        return elapsed

    qs = _entry.queries()
    timings: dict[str, float] = {}
    median_samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        n = MEDIAN_OF.get(name, 1)
        if n == 1:
            timings[name] = run_once(qs[name], name)
        else:
            samples = [run_once(qs[name], name) for _ in range(n)]
            median_samples[name] = samples
            timings[name] = sorted(samples)[n // 2]

    # Single-shot suite numbers swing ±20% (GC) and a cold plan can be
    # ~75% one-time codegen/plan cost (r6's historical_asof false flag:
    # 2.93 s in-suite vs 0.78 s isolated). Adjudicate in-process: any
    # query >1.5x its prior-round number is rerun, BOTH/ALL numbers are
    # recorded, and the headline carries the MEDIAN of {cold, warm1,
    # warm2} — a number one real run actually produced. (Not min(): a
    # best-of composite would mask a genuine regression whenever one of
    # the runs happened to be fast — ADVICE r7 bench.py:286. Not
    # "warm replaces cold" either, the r9–r16 form: this round's stall
    # diagnosis showed a single warm rerun can itself absorb a
    # multi-second host/JIT stall and REPLACE a healthy cold number —
    # driver r16 c8 run: dedup_simhash cold 3.09 s overwritten by a
    # 14.55 s rerun; entry r17 run: triangle_count cold 4.46 s
    # overwritten by an 18.58 s rerun. The median of three keeps the
    # steady-state-plan intent while a single stalled sample, in either
    # position, can no longer decide the number. Old numbers stay: the
    # reruns dict records every sample, and cold_total still sums the
    # first shots.)
    cold_total = round(sum(timings.values()), 3)
    reruns: dict[str, dict[str, float]] = {}
    for name, cold in list(timings.items()):
        if name in MEDIAN_OF:
            # already a median of N in-suite samples — a warm-rerun
            # override would silently discard the median; the samples
            # are in the detail for close-time adjudication.
            continue
        p = prior.get(name)
        # Floor at 0.3 s (was 1.0 s): the old floor permanently exempted
        # sub-second queries from adjudication — two drifted past 1.5x
        # unadjudicated by r9 close (VERDICT r9 finding #1). 0.3 s is
        # below the fresh-JVM fixed overhead of any headline query, so
        # no flag can now escape the rerun.
        if p and cold > 1.5 * p and cold > 0.3:
            warm = run_once(qs[name], name)
            warm2 = run_once(qs[name], name)
            reruns[name] = {
                "cold": cold,
                "warm": warm,
                "warm2": warm2,
                "prior_round": p,
            }
            timings[name] = sorted((cold, warm, warm2))[1]

    # Ceiling twins: timed after the headline pass (so they never tax
    # headline GC), recorded separately, excluded from the total.
    ceilings: dict[str, float] = {}
    for name in TRACKED_CEILINGS:
        if name in qs:
            ceilings[name] = run_once(qs[name], name)

    total = round(sum(timings.values()), 3)
    # The round driver records only the last ~2000 chars of stdout; the
    # full per-query dict (~110 queries) exceeds that and truncated the
    # r3 JSON line into an unparseable tail. Full detail goes to
    # BENCH_DETAIL.json (committed, next to this script); stdout gets a
    # ONE-LINE summary bounded well under the window: total + the 10
    # slowest queries + a pointer to the detail file.
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total": cold_total,
        "reruns": reruns,
        "median_samples": median_samples,
        "tracked_ceilings": ceilings,
        "sf": sf,
        "cpus": cpus,
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "queries_truncated": True,
                "n_queries": len(timings),
                "n_reruns": len(reruns),
                "cold_total": cold_total,
                "queries_file": "BENCH_DETAIL.json",
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--freeze-baseline":
        freeze_baseline()
    elif len(sys.argv) > 2 and sys.argv[1] == "--only":
        isolated_once(sys.argv[2:])
    else:
        main()
