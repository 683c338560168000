"""Ship this package to executor Python workers.

Any operator that runs Python on executors (mapInPandas /
applyInPandas) pickles closures that reference this package's modules
by name. The driver harness imports ``__spark_entry__`` by file path
from an arbitrary cwd, so executor workers have no guarantee the
package is importable. ``ensure_package_on_executors`` zips the
package once per session and registers it with ``addPyFile``.

On a real cluster this is exactly how the engine deploys: one --py-files
zip; no reliance on a shared filesystem or cwd.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from .caching import session_memo


@session_memo
def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), f"apl_commissions_etl_spark_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, parent))
    sc.addPyFile(zpath)
