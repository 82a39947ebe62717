"""scripts/query_profile.py: per-query records read through
perfbench.trace, plan files, and the interleaved A/B toggle."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import types

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
SCRIPT = os.path.join(SCRIPTS, "query_profile.py")

RECORD_KEYS = {
    "build_s", "execute_s", "build_jobs", "execute_jobs", "jobs",
    "stage_totals", "final_plan", "plan_counts", "scans",
}
JOB_KEYS = {"job", "phase", "sec", "stages", "tasks", "name"}


@pytest.fixture(scope="module")
def qp():
    spec = importlib.util.spec_from_file_location("query_profile", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def flag(monkeypatch):
    """A throwaway module ``ab_probe_mod`` whose ``FLAG`` starts as "prior"."""
    mod = types.ModuleType("ab_probe_mod")
    mod.FLAG = "prior"
    monkeypatch.setitem(sys.modules, "ab_probe_mod", mod)
    return mod


def test_profile_records_and_plans(spark, sf_dir, qp, tmp_path):
    names = ["region_revenue", "winnowing_fingerprints"]
    out = qp.profile(spark, names, sf_dir, plans=str(tmp_path))
    assert sorted(out) == names
    for name, rec in out.items():
        assert RECORD_KEYS <= set(rec), name
        assert rec["build_s"] >= 0 and rec["execute_s"] > 0
        assert rec["execute_jobs"] >= 1
        assert len(rec["jobs"]) == rec["build_jobs"] + rec["execute_jobs"]
        assert all(JOB_KEYS == set(j) for j in rec["jobs"])
        assert {j["phase"] for j in rec["jobs"]} >= {"execute"}
        assert rec["stage_totals"]["stages"] >= 1 and rec["stage_totals"]["tasks"] >= 1
        assert set(rec["plan_counts"]) == {"exchanges", "kernel_nodes", "checkpoint_scans"}
        assert rec["final_plan"] is True
        assert rec["scans"], name
    assert out["region_revenue"]["plan_counts"]["exchanges"] >= 1
    assert out["region_revenue"]["scans"] == {
        "lineitem": 1, "orders": 1, "customer": 1, "nation": 1, "region": 1,
    }
    assert out["winnowing_fingerprints"]["plan_counts"]["kernel_nodes"] >= 1
    assert out["winnowing_fingerprints"]["scans"] == {"documents": 1}
    assert sorted(os.listdir(tmp_path)) == [f"{n}.txt" for n in names]
    assert all(os.path.getsize(tmp_path / f"{n}.txt") > 0 for n in names)


def test_table_scans_reads_final_plan_only(qp):
    scan = "FileScan parquet [a#1] Location: InMemoryFileIndex(1 paths)[file:/d/{}.parquet], x\n"
    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n"
        + scan.format("orders") * 2 + scan.format("lineitem")
        + "+- == Initial Plan ==\n" + scan.format("orders") * 3
    )
    assert qp.table_scans(plan) == {"orders": 2, "lineitem": 1}


def test_ab_interleaves_and_restores_toggle(spark, sf_dir, qp, flag, monkeypatch, tmp_path):
    seen = []

    def probe(spark, sf_dir):
        seen.append(flag.FLAG)
        return spark.range(3)

    monkeypatch.setitem(qp.QUERIES, "ab_probe", probe)
    res = qp.ab(spark, "ab_probe", "ab_probe_mod:FLAG", sf_dir, runs=3, plans=str(tmp_path))
    assert len(res["A"]) == len(res["B"]) == 3
    assert all(RECORD_KEYS <= set(r) for r in res["A"] + res["B"])
    assert {"A_med_s", "B_med_s"} <= set(res)
    # untimed warm sample at the prior value, then A/B order alternating per rep
    assert seen == ["prior", True, False, False, True, True, False]
    assert flag.FLAG == "prior"
    assert sorted(os.listdir(tmp_path)) == ["ab_probe.A.txt", "ab_probe.B.txt"]


def test_ab_restores_toggle_when_a_sample_raises(spark, sf_dir, qp, flag, monkeypatch):
    def failing_b(spark, sf_dir):
        if flag.FLAG is False:
            raise RuntimeError("variant B failed")
        return spark.range(1)

    monkeypatch.setitem(qp.QUERIES, "ab_probe", failing_b)
    with pytest.raises(RuntimeError, match="variant B failed"):
        qp.ab(spark, "ab_probe", "ab_probe_mod:FLAG", sf_dir, runs=2)
    assert flag.FLAG == "prior"


def test_help_runs_from_an_unrelated_directory_without_a_jvm(tmp_path):
    # a JAVA_HOME without java makes any JVM launch fail the run
    env = {**os.environ, "JAVA_HOME": str(tmp_path / "no-java")}
    env.pop("SPARK_GRAFT_SF_DIR", None)
    r = subprocess.run(
        [sys.executable, SCRIPT, "--help"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    for opt in ("--runs", "--out", "--plans", "--ab"):
        assert opt in r.stdout


def test_no_script_shadows_a_standard_library_module():
    # a script runs with scripts/ first on sys.path, so scripts/profile.py
    # would replace the stdlib module that cProfile (and so pyspark) imports
    stems = {f[:-3] for f in os.listdir(SCRIPTS) if f.endswith(".py")}
    assert not stems & set(sys.stdlib_module_names)
