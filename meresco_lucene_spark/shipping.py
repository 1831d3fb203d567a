"""Ship the engine package to executor Python workers.

The production story is ``spark-submit --py-files mls.zip`` (north rule);
for consumers that hand us an already-running SparkSession (the driver
contract, notebooks), :func:`ensure_shipped` zips the package and
registers it with ``sc.addPyFile`` so pandas-UDF deserialization works
on workers regardless of the consumer's cwd/PYTHONPATH. Idempotent per
SparkContext.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def checkout_digest(pkg_dir: str) -> str:
    """Short digest of a package directory's absolute path."""
    return hashlib.sha1(os.path.abspath(pkg_dir).encode()).hexdigest()[:12]


def package_zip_path() -> str:
    """Build a zip of meresco_lucene_spark for --py-files / addPyFile.

    Rebuilt whenever any package source is newer than the cached zip —
    a stale zip silently ships OLD code to executors (new modules raise
    ModuleNotFoundError inside UDF deserialization). The file name
    carries a digest of the package directory, so two checkouts on one
    host never ship each other's code."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(
        tempfile.gettempdir(),
        f"meresco_lucene_spark_pyfiles-{checkout_digest(pkg_dir)}.zip",
    )
    newest = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    if not os.path.exists(out) or os.path.getmtime(out) < newest:
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
        os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    sc.addPyFile(package_zip_path())
    _SHIPPED.add(app_id)
