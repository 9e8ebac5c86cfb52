"""Time ``importlib.invalidate_caches()`` over the archives a PySpark
worker has on its path, before and after the zip invalidation guard.

    python tools/zip_invalidation_probe.py

Needs no Spark session: it builds zipimporters over
``$SPARK_HOME/python/lib/pyspark.zip`` and ``$SPARK_HOME/jars/spark-core_*.jar``
(plus package prefixes inside them, as a worker's imports create) and
times the call PySpark's worker makes before every task.
"""

import glob
import importlib
import os
import sys
import time
import zipimport

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kasper_spark.sources.topic_dir import install_zip_invalidation_guard  # noqa: E402

home = os.environ.get("SPARK_HOME")
if not home:
    sys.exit("set SPARK_HOME to a Spark distribution (python/lib/pyspark.zip, jars/)")
pyspark_zip = os.path.join(home, "python", "lib", "pyspark.zip")
core_jar = sorted(glob.glob(os.path.join(home, "jars", "spark-core_*.jar")))[0]
for archive, prefixes in {
    pyspark_zip: ["", "pyspark", "pyspark/sql", "pyspark/sql/pandas"],
    core_jar: ["", "org"],
}.items():
    for prefix in prefixes:
        entry = os.path.join(archive, prefix) if prefix else archive
        sys.path_importer_cache[entry] = zipimport.zipimporter(entry)
n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())


def timed_ms() -> float:
    t = time.perf_counter()
    importlib.invalidate_caches()
    return (time.perf_counter() - t) * 1e3


print(f"python {sys.version.split()[0]}: {n} zipimporters over "
      f"{os.path.basename(pyspark_zip)}, {os.path.basename(core_jar)}")
print(f"before install: {timed_ms():.1f} ms, {timed_ms():.1f} ms")
print(f"installed: {install_zip_invalidation_guard()}")
print(f"after install: first {timed_ms():.1f} ms (reads each archive once), "
      f"then {timed_ms():.2f} ms, {timed_ms():.2f} ms")
