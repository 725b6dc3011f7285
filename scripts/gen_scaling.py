"""Generate docs/SCALING.md: measured per-query runtime across scale
factors (sf0.001 / sf0.01 / sf0.1 — 100x data range) with scaling
exponents.

For each headline query we fit runtime ~ sf^alpha between sf0.01 and
sf0.1 (the two largest SFs; the smallest is fixed-cost dominated).
alpha << 1 means fixed-cost dominated at these sizes; alpha ~ 1 means
linear in data — the shape that survives a 1000x scale-up on a cluster,
where per-partition work stays constant as partitions spread across
executors; alpha >> 1 would flag a super-linear operator (none expected:
every pipeline here is shuffle-bounded by design, no cross products).
"""
import io
import json
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = ["sf0.001", "sf0.01", "sf0.1"]


def run_bench(sf_dir: str) -> dict:
    """Best-of-2 per query: single-shot timings carry one-off JIT/GC
    spikes (observed 5x on one query in one run); the min of two
    independent JVMs is a stable estimator of the query's real cost."""
    runs = []
    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    for _ in range(2):
        # A timestamp, not a duration: compared with the detail file's mtime.
        start = time.time()
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        # stdout carries only a bounded summary (the driver's tail window
        # is ~2000 chars); the full per-query dict lives in the detail
        # file bench.py writes next to itself.  BENCH_DETAIL.json is
        # committed in the repo, so a crashed bench.py would otherwise
        # silently record a STALE file as this SF's numbers — fail loudly
        # on nonzero exit and on an mtime older than the run start.
        if proc.returncode != 0:
            raise RuntimeError(
                f"bench.py failed (rc={proc.returncode}) for {sf_dir}:\n"
                + proc.stderr[-2000:]
            )
        if os.path.getmtime(detail) < start:
            raise RuntimeError(
                f"BENCH_DETAIL.json not refreshed by bench.py run for {sf_dir}"
            )
        with open(detail) as f:
            runs.append(json.load(f))
    return composite(runs)


def composite(runs: list[dict]) -> dict:
    """Merge N bench shots into the canonical best-of-N detail dict.
    Factored out of :func:`run_bench` so the merge invariants are unit-
    testable without running Spark (tests/test_bench_tooling.py)."""
    # The composite must be internally consistent (r10 self-review):
    # single-shot metadata copied verbatim from shot 1 ('reruns',
    # 'cold_total') would sit beside best-of-2 query numbers it does
    # not describe — and --freeze-baseline snapshots this dict. Drop
    # the per-shot rerun log, min tracked ceilings across shots, and
    # recompute cold_total as the per-query-min of the shots' colds is
    # unavailable (colds aren't recorded per query), so carry the MIN
    # run's cold_total labeled for what it is.
    best = dict(runs[0])
    best["queries"] = {
        q: min(r["queries"][q] for r in runs) for q in runs[0]["queries"]
    }
    best["value"] = round(sum(best["queries"].values()), 3)
    best.pop("reruns", None)
    # min over only the shots that RECORDED cold_total — defaulting a
    # missing key to 0 would poison the frozen composite with a fake
    # zero (r10 ADVICE); if no shot carries it, omit the field.
    colds = [r["cold_total"] for r in runs if "cold_total" in r]
    if colds:
        best["cold_total"] = min(colds)
    else:
        best.pop("cold_total", None)
    # median_samples: per medianed query, carry the samples of the shot
    # whose MEDIAN won the per-query min — copying shot 1's samples
    # verbatim would freeze adjudication evidence that does not produce
    # the composite's headline number whenever shot 2 wins.
    if any("median_samples" in r for r in runs):
        med = {}
        for q in set().union(*(r.get("median_samples", {}) for r in runs)):
            winner = min(
                (r for r in runs if q in r.get("median_samples", {})),
                key=lambda r: r["queries"].get(q, float("inf")),
            )
            med[q] = winner["median_samples"][q]
        best["median_samples"] = med
    else:
        best.pop("median_samples", None)
    if any("tracked_ceilings" in r for r in runs):
        keys = set().union(*(r.get("tracked_ceilings", {}) for r in runs))
        best["tracked_ceilings"] = {
            k: min(
                r["tracked_ceilings"][k]
                for r in runs
                if k in r.get("tracked_ceilings", {})
            )
            for k in sorted(keys)
        }
    best["best_of"] = len(runs)
    return best


def main() -> None:
    results = {}
    for sf in SFS:
        t0 = time.perf_counter()
        results[sf] = run_bench(f"/root/testdata/{sf}")
        print(
            f"{sf}: total {results[sf]['value']}s "
            f"({time.perf_counter() - t0:.0f}s wall)"
        )

    queries = list(results[SFS[-1]]["queries"].keys())
    out = io.StringIO()
    cpus = results[SFS[-1]].get("cpus")
    out.write(f"""# SCALING — measured runtime across a 100x data range

Best-of-2 wall-clock per headline query (two independent JVMs per scale
factor; min filters one-off JIT/GC spikes), local[{cpus}] (regenerate:
`python scripts/gen_scaling.py`). `alpha` is the
fitted exponent of runtime ~ data^alpha between sf0.01 and sf0.1:
**alpha <= ~0.3** = fixed-cost dominated (Spark job setup, codegen —
vanishes at cluster scale); **alpha ~ 1** = linear, the scan/shuffle
bound; anything super-linear would flag a cross-product and there is
none.

| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | alpha (0.01→0.1) |
|---|---|---|---|---|
""")
    for q in queries:
        ts = [results[sf]["queries"].get(q) for sf in SFS]
        alpha = (
            math.log(ts[2] / ts[1]) / math.log(10)
            if ts[1] and ts[2]
            else float("nan")
        )
        out.write(
            f"| {q} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} | {alpha:.2f} |\n"
        )
    totals = [results[sf]["value"] for sf in SFS]
    alpha_t = math.log(totals[2] / totals[1]) / math.log(10)
    out.write(
        f"| **total** | **{totals[0]:.1f}** | **{totals[1]:.1f}** | "
        f"**{totals[2]:.1f}** | **{alpha_t:.2f}** |\n"
    )
    out.write("""
Reading: at these local scales most queries are dominated by fixed cost
(driver planning, codegen, Python worker spin-up for the Arrow paths), so
a 10x data step costs well under 10x runtime. The queries closest to
alpha=1 are the scan/shuffle-bound ones (materialization, as-of,
dedup families) — exactly the ones whose plans PLANS.md shows carrying
map-side partial aggregation and pruned scans, so their linear term is
the minimal one (one scan, one shuffle of reduced rows). On a cluster
the fixed term amortizes to zero and the linear term parallelizes by
partition count.
""")
    # Preserve hand-written appendices (the sf1 stress sections) across
    # regeneration — everything from the first "## Appendix" heading on
    # survives; only the measured table above it is rewritten.
    scaling_path = os.path.join(REPO, "docs", "SCALING.md")
    appendix = ""
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            old = f.read()
        idx = old.find("## Appendix")
        if idx != -1:
            appendix = "\n" + old[idx:]
    with open(scaling_path, "w") as f:
        f.write(out.getvalue() + appendix)
    print(f"written {len(out.getvalue()) + len(appendix)} chars")

    # Persist the sf0.1 BEST-OF-2 as the canonical BENCH_DETAIL (the
    # round-close artifact `--freeze-baseline` snapshots). Without
    # this, BENCH_DETAIL holds whichever single shot ran LAST — r9's
    # canonical best-of-2 had to be carried by hand.
    canonical = dict(results["sf0.1"])
    canonical["best_of"] = 2
    sys.path.insert(0, REPO)
    from bench import write_canonical_detail

    # writes BENCH_DETAIL.json + its sha256 fingerprint; bench.py
    # --freeze-baseline verifies the fingerprint and refuses if any
    # later writer clobbered the composite (the r13 ordering incident,
    # now mechanical instead of convention).
    write_canonical_detail(canonical, REPO)
    print(f"BENCH_DETAIL.json <- sf0.1 best-of-2 ({canonical['value']}s)")


if __name__ == "__main__":
    main()
