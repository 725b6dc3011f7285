"""Round-close tooling guards (no Spark needed).

The r13 close lost a gen_scaling cycle when a plain `python bench.py`
run clobbered the best-of-2 BENCH_DETAIL composite before the freeze
(docs/REGRESSION.md r13 "procedure note"). The ordering rule is now
mechanical: the canonical writer fingerprints what it wrote, and
freeze_baseline refuses on any mismatch.
"""

import json

import pytest

import bench


def _detail(total=1.23):
    return {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": 0.1,
        "queries": {"q1": total},
        "best_of": 2,
    }


def test_freeze_accepts_untouched_canonical_detail(tmp_path):
    repo = str(tmp_path)
    bench.write_canonical_detail(_detail(), repo)
    bench.freeze_baseline(repo)
    frozen = json.loads((tmp_path / "BENCH_BASELINE.json").read_text())
    assert frozen["value"] == 1.23 and frozen["best_of"] == 2


def test_freeze_refuses_clobbered_detail(tmp_path):
    """The r13 incident, replayed: gen_scaling writes the composite,
    a later single-shot bench run overwrites BENCH_DETAIL.json (but
    not the fingerprint), freeze must refuse loudly."""
    repo = str(tmp_path)
    bench.write_canonical_detail(_detail(), repo)
    # a plain bench.py run writes only the JSON, like bench.py main()
    clobber = _detail(total=9.99)
    clobber.pop("best_of")
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps(clobber, indent=1, sort_keys=True)
    )
    with pytest.raises(RuntimeError, match="fingerprint mismatch"):
        bench.freeze_baseline(repo)
    assert not (tmp_path / "BENCH_BASELINE.json").exists()


def test_freeze_refuses_without_fingerprint(tmp_path):
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps(_detail(), indent=1, sort_keys=True)
    )
    with pytest.raises(RuntimeError, match="no BENCH_DETAIL.sha256"):
        bench.freeze_baseline(str(tmp_path))


def test_sdk_query_in_headline_and_gate_window_front():
    """The r16 budgeted registration: sdk_proto_entity leads the
    50-query gate window and joins the bench headline; the five r11
    rows displaced from the r15 window follow it, per the pinned
    rotation."""
    import __spark_entry__ as e

    names = list(e.queries().keys())
    window = names[:50]
    assert window[0] == "sdk_proto_entity"
    assert window[1:6] == [
        "a8_cube_revenue",
        "tpch_q5",
        "tpch_q1",
        "tpch_q6",
        "tpch_q14",
    ]
    assert "sdk_proto_entity" in bench.HEADLINE
    assert "sdk_proto_entity" in e.oracle_sql()


def test_high_variance_queries_are_medianed():
    """j2_compound_key's isolated fresh-JVM band spans 2.07–4.70 s warm
    (r14 adjudication) — a single in-suite shot cannot adjudicate a 2x
    flag, so the headline number must be a median of N>=3 samples."""
    assert bench.MEDIAN_OF.get("j2_compound_key", 0) >= 3
    # every medianed query must be a headline query (the mechanism is
    # pointless otherwise) with an odd sample count (a true median)
    for name, n in bench.MEDIAN_OF.items():
        assert name in bench.HEADLINE
        assert n % 2 == 1 and n >= 3


# --------------------------------------------- PLANS.md staleness guard


def _git_repo_with_plans(tmp_path, stamp_sha=True):
    """A minimal repo: one operator file + a docs/PLANS.md stamped with
    the generating commit's sha (like scripts/gen_plans.py does)."""
    import subprocess

    repo = tmp_path / "repo"
    ops = repo / "feast_java_old_spark" / "operators"
    ops.mkdir(parents=True)
    (repo / "docs").mkdir()
    (ops / "x.py").write_text("A = 1\n")

    def git(*args):
        return subprocess.run(
            ["git", "-C", str(repo), *args],
            capture_output=True,
            text=True,
            check=True,
        )

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    git("add", "-A")
    git("commit", "-qm", "init")
    sha = git("rev-parse", "HEAD").stdout.strip()
    header = (
        f"# PLANS\n\nGenerated at commit `{sha}` from live explain.\n"
        if stamp_sha
        else "# PLANS\n\nGenerated from live explain.\n"
    )
    (repo / "docs" / "PLANS.md").write_text(header)
    git("add", "-A")
    git("commit", "-qm", "plans")
    return repo, git


def test_plans_guard_accepts_fresh_audit(tmp_path):
    repo, _ = _git_repo_with_plans(tmp_path)
    bench.check_plans_fresh(str(repo))  # no raise


def test_plans_guard_refuses_post_regen_operator_commit(tmp_path):
    """The r14 wart, replayed: operators change AFTER the plan regen —
    the freeze must refuse until gen_plans re-runs."""
    repo, git = _git_repo_with_plans(tmp_path)
    (repo / "feast_java_old_spark" / "operators" / "x.py").write_text("A = 2\n")
    git("add", "-A")
    git("commit", "-qm", "operator change after regen")
    with pytest.raises(RuntimeError, match="changed since docs/PLANS.md"):
        bench.check_plans_fresh(str(repo))


def test_plans_guard_refuses_uncommitted_operator_edit(tmp_path):
    repo, _ = _git_repo_with_plans(tmp_path)
    (repo / "feast_java_old_spark" / "operators" / "x.py").write_text("A = 3\n")
    with pytest.raises(RuntimeError, match="changed since"):
        bench.check_plans_fresh(str(repo))


def test_plans_guard_refuses_unstamped_plans(tmp_path):
    repo, _ = _git_repo_with_plans(tmp_path, stamp_sha=False)
    with pytest.raises(RuntimeError, match="records no generation sha"):
        bench.check_plans_fresh(str(repo))


def test_plans_guard_ignores_plan_neutral_commits(tmp_path):
    """Transport/driver-side commits after the regen must NOT trip the
    guard — only operators/ and plans/ are plan-bearing."""
    repo, git = _git_repo_with_plans(tmp_path)
    (repo / "feast_java_old_spark" / "sdk.py").write_text("CLIENT = 1\n")
    git("add", "-A")
    git("commit", "-qm", "transport-side change")
    bench.check_plans_fresh(str(repo))  # no raise


def test_freeze_runs_plans_guard_when_audit_exists(tmp_path):
    """freeze_baseline wires the guard in: a repo WITH a stale plan
    audit refuses the freeze even when the bench fingerprint is clean."""
    repo, git = _git_repo_with_plans(tmp_path)
    bench.write_canonical_detail(_detail(), str(repo))
    (repo / "feast_java_old_spark" / "operators" / "x.py").write_text("A = 9\n")
    with pytest.raises(RuntimeError, match="changed since"):
        bench.freeze_baseline(str(repo))
    # fresh again → freeze proceeds through both guards
    (repo / "feast_java_old_spark" / "operators" / "x.py").write_text("A = 1\n")
    bench.freeze_baseline(str(repo))
    assert (repo / "BENCH_BASELINE.json").exists()


# ------------------------------------- review-pass pins (r15 findings)


def _load_gen_scaling():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "scripts", "gen_scaling.py")
    spec = importlib.util.spec_from_file_location("gen_scaling_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_composite_median_samples_follow_the_winning_shot():
    """The best-of-N composite must carry the samples of the shot whose
    MEDIAN won each query's min — shot 1's samples copied verbatim
    would freeze adjudication evidence that does not produce the
    headline number whenever shot 2 wins."""
    gs = _load_gen_scaling()
    shot1 = {
        "queries": {"j2": 3.5, "other": 1.0},
        "median_samples": {"j2": [3.4, 3.5, 4.0]},
        "sf": 0.1,
    }
    shot2 = {
        "queries": {"j2": 1.5, "other": 1.2},
        "median_samples": {"j2": [1.4, 1.5, 3.0]},
        "sf": 0.1,
    }
    best = gs.composite([shot1, shot2])
    assert best["queries"]["j2"] == 1.5  # shot 2 won
    assert best["median_samples"]["j2"] == [1.4, 1.5, 3.0]  # its samples
    assert best["queries"]["other"] == 1.0  # per-query min still holds
    assert best["best_of"] == 2


def test_composite_drops_median_samples_when_absent():
    gs = _load_gen_scaling()
    best = gs.composite([{"queries": {"q": 1.0}}, {"queries": {"q": 2.0}}])
    assert "median_samples" not in best


def test_plans_guard_fails_closed_on_git_failure(tmp_path, monkeypatch):
    """A failed `git diff` (index.lock contention, corrupt object) must
    BLOCK the freeze, not silently report 'nothing changed'."""
    import subprocess as sp

    repo, _ = _git_repo_with_plans(tmp_path)
    real_run = sp.run

    def breaking_run(cmd, **kw):
        if isinstance(cmd, list) and "diff" in cmd:
            p = real_run(["false"], capture_output=True, text=True)
            p.stderr = "fatal: index.lock exists"
            return p
        return real_run(cmd, **kw)

    monkeypatch.setattr(sp, "run", breaking_run)
    with pytest.raises(RuntimeError, match="git diff failed"):
        bench.check_plans_fresh(str(repo))


# ------------------------------------------ derived lists, host sizing


def test_headline_is_the_registry_minus_streams_and_ceilings():
    import __spark_entry__ as e

    assert bench.HEADLINE == [
        name
        for name in e.queries()
        if not name.startswith("stream_") and name not in bench.TRACKED_CEILINGS
    ]
    assert "kmeans_refine_expr" not in bench.HEADLINE
    assert not [n for n in bench.HEADLINE if n.startswith("stream_")]


def test_session_builder_sizes_from_the_host(monkeypatch):
    import os

    from feast_java_old_spark.sources.tables import session_builder

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    opts = session_builder("t")._options
    assert opts["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    assert opts["spark.driver.memory"].endswith("m")
    assert int(opts["spark.driver.memory"][:-1]) > 0

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session_builder("t")._options["spark.master"] == "local[3]"

    opts = session_builder(
        "t", master="local[2]", **{"spark.driver.memory": "1g"}
    )._options
    assert opts["spark.master"] == "local[2]"
    assert opts["spark.driver.memory"] == "1g"


def test_prior_only_from_a_same_host_baseline(tmp_path):
    """A baseline frozen at another CPU count or scale factor yields no
    prior: a 32-CPU baseline read by a 4-CPU run would flag queries that
    are only slower for having fewer cores."""
    path = tmp_path / "BENCH_BASELINE.json"
    path.write_text(json.dumps({"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0}}))
    assert bench.same_host_prior(str(path), 0.1, 4) == {}
    assert bench.same_host_prior(str(path), 0.01, 32) == {}
    assert bench.same_host_prior(str(path), 0.1, 32) == {"q1": 1.0}
    assert bench.same_host_prior(str(tmp_path / "missing.json"), 0.1, 32) == {}
