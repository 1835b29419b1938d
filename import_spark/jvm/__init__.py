"""JVM functions compiled from the Java sources in this package.

``LongId.java`` is the FarmHash long id (DcidGenerator.java:354-375) as a
Spark ``UDF1`` over Guava, so a plan that assigns ``dc/o/``-style ids
starts no Python worker. The jar is built on first use with the local
``javac`` and cached in ``__jarcache__`` (the temp directory for a
zipped package) under a name keyed by the source hash, written to a
temporary name and renamed into place. A missing ``javac`` or Guava
jar raises; there is no Python fallback.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.resources
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

# SQL name of the FarmHash long-id UDF
LONG_ID = "dc_long_id"
_CLASS = "import_spark.jvm.LongId"

_HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = (
    os.path.join(_HERE, "__jarcache__")
    if os.path.isdir(_HERE)
    else os.path.join(tempfile.gettempdir(), "import_spark_jarcache")
)


def _spark_jars() -> str:
    """The jar directory of the Spark installation this driver launches."""
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_find_spark_home(), "jars")


def build_jar() -> str:
    """Path of the compiled jar, compiling it first if the cache lacks it."""
    source = importlib.resources.files(__package__).joinpath("LongId.java").read_bytes()
    jar = os.path.join(CACHE_DIR, f"LongId-{hashlib.sha256(source).hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError("javac not found on PATH: it compiles the FarmHash UDF (LongId.java)")
    jars = _spark_jars()
    if not glob.glob(os.path.join(jars, "guava-*.jar")):
        raise RuntimeError(f"no Guava jar (guava-*.jar) in {jars}: the FarmHash UDF calls it")
    os.makedirs(CACHE_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "LongId.java")
        with open(src, "wb") as f:
            f.write(source)
        classes = os.path.join(tmp, "classes")
        proc = subprocess.run(
            [javac, "--release", "17", "-cp", os.path.join(jars, "*"), "-d", classes, src],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed on LongId.java:\n{proc.stderr}")
        part = os.path.join(CACHE_DIR, f".{os.path.basename(jar)}.{os.getpid()}.tmp")
        with zipfile.ZipFile(part, "w") as zf:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    zf.write(path, os.path.relpath(path, classes))
        os.replace(part, jar)
    return jar


def register_long_id(spark: SparkSession) -> None:
    """Attach the jar and register ``LONG_ID`` in ``spark``, once per
    session: a plan calls this before it resolves a ``col_long_id``."""
    if spark.catalog.functionExists(LONG_ID):
        return
    spark.sql(f"ADD JAR '{build_jar()}'")
    spark.udf.registerJavaFunction(LONG_ID, _CLASS, "string")
