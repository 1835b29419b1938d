"""Python workers import the package the driver imported.

A ``pyspark.daemon`` worker runs as ``python -m``, which puts the
working directory first on ``sys.path``. A driver started from inside
another checkout would otherwise run that checkout's ``import_spark``
in its workers. The driver here runs in a subprocess whose working
directory holds a decoy ``import_spark`` package.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

DRIVER = """
import json

import import_spark
from import_spark.session import get_spark

spark = get_spark("worker-path", cores=1, extra_conf={"spark.driver.memory": "512m"})


def where(batches):
    import pandas as pd

    import import_spark

    for _ in batches:
        yield pd.DataFrame({"f": [import_spark.__file__]})


worker = spark.range(1).mapInPandas(where, "f string").first()["f"]
print(json.dumps({"driver": import_spark.__file__, "worker": worker}))
spark.stop()
"""


def test_workers_import_the_drivers_package(tmp_path):
    decoy = tmp_path / "other_checkout" / "import_spark"
    decoy.mkdir(parents=True)
    (decoy / "__init__.py").write_text("")
    script = tmp_path / "driver" / "driver.py"
    script.parent.mkdir()
    script.write_text(DRIVER)
    env = dict(os.environ, PYTHONPATH=str(REPO))
    env.pop("SPARK_GRAFT_NO_MASTER", None)
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=decoy.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    paths = json.loads(proc.stdout.strip().splitlines()[-1])
    assert paths["driver"] == str(REPO / "import_spark" / "__init__.py")
    assert paths["worker"] == paths["driver"]
