"""The north rule's launch surface: the job runs via
``spark-submit --py-files import_spark.zip`` with the package supplied
BY THE ZIP, not by the repo checkout — the exact mechanics of shipping
the engine to a real cluster's executors.

The entry script is copied into a temp directory before launch, so its
own ``sys.path`` bootstrap (tools/run_job.py inserts its parent's
parent) points at nothing: if ``import import_spark`` succeeds, the
--py-files zip resolved it, the way a 1000-executor cluster would.
"""

import json
import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(tmp_path):
    zip_path = tmp_path / "import_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        # the package's Java sources ship with it: the driver compiles them
        for f in sorted((REPO / "import_spark").rglob("*")):
            if f.suffix in (".py", ".java"):
                zf.write(f, f.relative_to(REPO))
    entry = tmp_path / "run_job.py"
    shutil.copyfile(REPO / "tools" / "run_job.py", entry)

    env = dict(os.environ)
    env["SPARK_GRAFT_NO_MASTER"] = "1"  # get_spark defers to spark-submit
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    out_dir = tmp_path / "kg_out"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[4]",
            "--conf",
            "spark.sql.shuffle.partitions=8",
            "--py-files",
            str(zip_path),
            str(entry),
            "--synth-convs",
            "300",
            "--out",
            str(out_dir),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--run-id",
            "submit-smoke",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the metrics JSON lands on stdout; the triple table lands in --out
    metrics_line = next(
        line for line in proc.stdout.splitlines() if line.lstrip().startswith("{")
    )
    metrics = json.loads(
        "\n".join(proc.stdout[proc.stdout.index(metrics_line) :].splitlines())
    )
    counters = {r["counter"]: r["value"] for r in metrics["metrics"]}
    assert counters.get("triples_out", 0) > 0 or any(
        v > 0 for k, v in counters.items() if "triple" in k
    ), counters

    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM parquet_scan('{out_dir}/triples/**/*.parquet', hive_partitioning=1)"
    ).fetchone()[0]
    assert n > 0
