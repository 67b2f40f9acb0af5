"""north_rule packaging proof: the pipeline runs via
``spark-submit --py-files dist/sparklink.zip`` with NO repo checkout on
sys.path — synth a fixture, then dedupe end-to-end and check F1.

Reference workflow being packaged: csv_example/csv_example.py driver
run end-to-end (read → train → partition → clustered CSV/parquet out).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _run(cmd: list[str], cwd: str, env: dict, timeout: int = 900) -> dict:
    # generous timeout: the sandbox intermittently delivers < 1 effective
    # core (BENCH.md host-ceiling caveat) and each step is a cold JVM
    r = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout)
    assert r.returncode == 0, f"spark-submit failed:\n{r.stderr[-4000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def _build_pyfiles(out: str) -> str:
    build = subprocess.run(
        ["bash", os.path.join(REPO, "tools", "build_pyfiles.sh"), out], capture_output=True, text=True
    )
    assert build.returncode == 0, build.stderr
    return out


def test_build_pyfiles_is_deterministic(tmp_path):
    """Two builds of one tree are byte-identical, so a rebuilt
    dist/sparklink.zip only differs when the sources do."""
    import zipfile

    first = _build_pyfiles(str(tmp_path / "a" / "sparklink.zip"))
    second = _build_pyfiles(str(tmp_path / "b" / "sparklink.zip"))
    with open(first, "rb") as f1, open(second, "rb") as f2:
        assert f1.read() == f2.read()
    names = zipfile.ZipFile(first).namelist()
    assert names == sorted(names)
    assert {"sparklink/__init__.py", "sparklink/cli.py", "transcript_model.json"} <= set(names)
    assert not [n for n in names if "__pycache__" in n or n.endswith(".pyc")]


def test_committed_pyfiles_zip_matches_fresh_build(tmp_path):
    """The committed dist/sparklink.zip is a build of the current tree.
    Rebuild it (bash tools/build_pyfiles.sh) whenever its sources change."""
    fresh = _build_pyfiles(str(tmp_path / "sparklink.zip"))
    with open(fresh, "rb") as f1, open(os.path.join(REPO, "dist", "sparklink.zip"), "rb") as f2:
        assert f1.read() == f2.read(), "dist/sparklink.zip is stale: run bash tools/build_pyfiles.sh"


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zip_path = _build_pyfiles(str(tmp_path / "sparklink.zip"))

    # the driver script lives OUTSIDE the repo and runs with cwd=tmp_path,
    # so `import sparklink` can only resolve from the --py-files zip
    driver = tmp_path / "cli.py"
    shutil.copy(os.path.join(REPO, "sparklink", "cli.py"), driver)

    env = {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    base = [
        _spark_submit(),
        "--master",
        "local[4]",
        # the driver JVM already exists when get_spark runs, so its
        # spark.driver.memory conf is a no-op under spark-submit — memory
        # MUST come from submit args (1g default OOMs on the iterative-CC
        # plan stringification)
        "--driver-memory",
        "8g",
        "--conf",
        "spark.sql.shuffle.partitions=8",
        "--conf",
        "spark.ui.showConsoleProgress=false",
        "--py-files",
        zip_path,
        str(driver),
        # no cli-level --master: get_spark must respect the submit-provided
        # master + confs instead of stomping them with local defaults
    ]

    data = tmp_path / "data"
    paths = _run(
        base + ["synth", "--out", str(data), "--entities", "40", "--seed", "7"],
        cwd=str(tmp_path),
        env=env,
    )
    assert set(paths) >= {"transcripts", "labeled_pairs", "conv_truth"}, paths

    out = _run(
        base
        + [
            "dedupe",
            "--transcripts",
            paths["transcripts"],
            "--labeled",
            paths["labeled_pairs"],
            "--truth",
            paths["conv_truth"],
            "--out",
            str(tmp_path / "entity_map"),
        ],
        cwd=str(tmp_path),
        env=env,
    )
    assert out["entity_map_rows"] > 0, out
    assert out["prf"]["f1"] >= 0.99, out
