"""SparkSession factory tuned for the local[32] test harness.

On a real cluster the same knobs apply, minus master/driver-memory:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (Pandas-UDF exchange), UTC session timezone (fixtures carry
ns/ms timestamps; see FIXTURES.md "Oracle parity rules").

Python workers start from ``worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. Each Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``);
before CPython 3.13 that makes each of the worker's 16 ``zipimporter``s
(pyspark.zip and 12 subpackage prefixes, the py4j zip and its prefix, the
spark-core jar and its ``org`` prefix) re-read its archive's central
directory, 26,672 entries: 138-188 ms a task on a 4-vCPU VM, against
0.1-0.2 ms when the daemon re-reads an archive only after its mtime or
size changed. Collecting a 1-row Python-list DataFrame (2 task threads)
took 258-299 ms before and 128-216 ms after, a JVM-only job 45-96 ms.
``spark.executorEnv.PYTHONPATH`` carries this checkout. Spark starts the
daemon with ``python -m``, which puts the driver's working directory first
on ``sys.path``: a directory holding another copy of the package (a second
checkout, or any ``vectordb_agentic_rag_spark/__init__.py``) would shadow
this one, and every Python task would fail with "No module named
vectordb_agentic_rag_spark.worker_daemon". ``spark.executorEnv.PYTHONSAFEPATH``
keeps the working directory off the path (honoured from Python 3.11). (The
sessions here are local, so the executors see the driver's checkout.)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tables import REPO_ROOT


def get_spark(app_name: str = "vectordb-rag-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Shuffle-partition sizing: at fixture scale every shuffle is tiny, so
    # reduce-task scheduling dominates — 8 partitions beats 32 by ~30% on
    # the headline bench (1.15 vs 1.71 s) with AQE still coalescing below
    # that. On a cluster, size to total_shuffle_bytes / 128MB (thousands at
    # 100 TB) and let AQE coalesce; this knob is the env override for that.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    # Scan-split sizing: fixture files are ~10 MB, so the default 128 MB
    # maxPartitionBytes plans a 3-task scan that leaves 29 of 32 cores
    # idle — 512k splits halve the scan-heavy queries (agg 587->329 ms).
    # On a cluster keep the default: 100 TB / 128 MB already yields ~800k
    # splits; the env override exists for that.
    max_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "512k")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.files.openCostInBytes", "16k")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: tasks are always PROCESS_LOCAL — don't wait for locality
        .config("spark.locality.wait", "0")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "vectordb_agentic_rag_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .getOrCreate()
    )
