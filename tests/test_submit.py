"""spark-submit --py-files packaging smoke (north-rule ship shape).

Zips the package, launches the real ``spark-submit`` with the zip on
``--py-files`` and the thin launcher as the primary resource, and
checks the pipeline runs end to end (metrics JSON on stdout) — the
exact deployment form a cluster user runs, not an import-path
simulation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_package(tmp_path):
    pkg_zip = shutil.make_archive(
        str(tmp_path / "pkg"), "zip", root_dir=REPO,
        base_dir="sems_event_deduplication_spark",
    )
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", pkg_zip,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--synth", "120", "--warehouse", str(tmp_path / "wh"),
            "--cores", "4",
        ],
        capture_output=True, text=True, timeout=480, env=env,
        cwd=str(tmp_path),  # NOT the repo root: the zip must supply the package
    )
    assert out.returncode == 0, out.stderr[-3000:]
    metrics_lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert metrics_lines, out.stdout[-2000:]
    metrics = json.loads(metrics_lines[-1])
    assert metrics["n_clips"] > 0
    assert metrics["clips_per_sec"] > 0
    assert "signatures" in metrics["stages"]
