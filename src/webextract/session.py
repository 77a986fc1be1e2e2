"""SparkSession factory with the engine's scale-minded defaults.

Local mode here is a proxy for a multi-executor cluster (the driver benches
local[8] vs local[32] as the N vs 4N cluster-size stand-in). Settings chosen
for the 100 TB target and annotated with why. Spark's own defaults (AQE
on, 128 MiB file splits, 4 task attempts) are left unset here: a conf set
here overrides ``spark-submit --conf``, so pinning them would only block a
cluster operator's overrides.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip(path: str | None = None) -> str:
    """Zip the webextract package for shipment to executors.

    This is the sandbox analog of the north rule's ``spark-submit
    --py-files webextract.zip`` deployment: executors' Python workers get the
    package on their sys.path without any installation step.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    path = path or os.path.join(tempfile.gettempdir(), "webextract_pyfiles.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for fname in sorted(os.listdir(pkg_dir)):
            if fname.endswith(".py"):
                zf.write(os.path.join(pkg_dir, fname), f"webextract/{fname}")
    return path

# HTML blobs are large (tens of KB); small Arrow batches keep Python-worker
# peak memory bounded at web scale (SURVEY.md §4.2: tune batch down ~64-256).
ARROW_BATCH_ROWS = "256"


def get_spark(app: str = "webextract", master: str | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH_ROWS)
        .config("spark.ui.enabled", "false")
        # Spark's codegen cache holds 100 compiled classes by default; one
        # curate run generates ~120, so every rerun in the session evicted
        # and recompiled all of them (a warm curate pass compiled ~90
        # classes: 2.15 s vs 1.69 s with this, 4 vCPU). Retained classes
        # cost metaspace only.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("WEBEXTRACT_DRIVER_MEM", "8g"))
    )
    n_shuffle = shuffle_partitions or int(cpus)
    b = b.config("spark.sql.shuffle.partitions", str(n_shuffle))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark
