"""Ship the package to executors (the --py-files contract, self-serve).

Executor python workers don't inherit the driver's sys.path, so any
closure that references this package (pandas-UDF encoders/scorers)
fails with ModuleNotFoundError unless the package is distributed. With
``spark-submit --py-files pyspark_codesearch.zip`` that's handled by
Spark; for library/driver-contract use we add the zip at runtime via
``sc.addPyFile`` — same mechanism, lazily."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SENTINEL = "_codesearch_pyfiles_added"


def build_zip(out_path: str | None = None) -> str:
    """Zip the package (deterministic content order) for --py-files."""
    out_path = out_path or os.path.join(
        tempfile.gettempdir(), f"pyspark_codesearch-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(_PKG_DIR):
            dirs.sort()
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "pyspark_codesearch", os.path.relpath(full, _PKG_DIR)
                    )
                    z.write(full, rel)
    return out_path


def ensure_py_files(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL, False):
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SENTINEL, True)


if __name__ == "__main__":
    # `python -m pyspark_codesearch.pyfiles` -> pyspark_codesearch.zip in cwd
    print(build_zip(os.path.join(os.getcwd(), "pyspark_codesearch.zip")))
