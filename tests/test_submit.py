"""North-rule deployment clause: the pipeline runs via REAL
``spark-submit --py-files <zip>`` (not just an in-process session) —
tools/submit_pipeline.py end-to-end as a subprocess."""

import json
import os
import subprocess

from npm_extraction_server_spark.plans.session import build_package_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pipeline(tmp_path):
    zip_path = build_package_zip()
    env = os.environ.copy()
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    out = tmp_path / "out"
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", zip_path,
         "tools/submit_pipeline.py",
         "--synthetic", "60", "--out", str(out), "--no-linking"],
        cwd=REPO, capture_output=True, text=True, timeout=420, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_triples"] > 0
    # the materialized warehouse exists on disk
    assert (out / "triples").exists() and (out / "lineage").exists()


def test_measure_scaling_reports_unfit_host_without_spawning(monkeypatch):
    """A host too small for the disjoint N / 4N pin layout gets a
    ``measurable: False`` result instead of pins to missing cores."""
    from tools import scale_lib

    def no_spawn(*a, **kw):
        raise AssertionError("no executor may start on an unfit host")

    monkeypatch.setattr(scale_lib, "_spawn", no_spawn)
    n = len(os.sched_getaffinity(0))
    out = scale_lib.measure_scaling("unused", exec_cores=1, n_execs=n)
    assert out["measurable"] is False
    assert f"{n} available" in out["reason"]
