"""SparkSession factory with engine-tuned defaults.

local[N] here is the sandbox surrogate for an N-executor cluster; the same
confs apply unchanged under spark-submit --py-files on a real cluster
(north_rule deployment). AQE is on as the backstop for residual skew on top
of the engine's explicit hot-term salting (SURVEY.md §4.2).

Python-worker start-up. PySpark's worker calls ``importlib.invalidate_caches()``
before every task (``pyspark/worker_util.py``, ``setup_spark_files``). On
Python < 3.13 ``zipimport.zipimporter.invalidate_caches`` re-parses its
archive's whole central directory at once, and a reused worker holds one
zipimporter per package it imported from the 3.5 MB ``pyspark.zip`` (14-16
of them), so every task paid 60-120 ms of re-reads before its kernel ran —
for a ~1 ms kernel (Python 3.11, 4-vCPU VM). ``guard_worker_zip_reads`` makes the re-read conditional
on the archive file having changed. The package ``__init__`` calls it, so it
is in place in every worker that has unpickled an engine kernel (unpickling
imports the package) and never touches the driver.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_STDLIB_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _invalidate_if_archive_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its (mtime_ns, size, inode) differs from when this importer last read
    it. A rewritten archive (``ship_package`` rewrites the shipped zip when
    a session starts) is still re-read; an unchanged one is not."""
    try:
        st = os.stat(self.archive)
        ident = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        ident = None  # gone: the stdlib call empties the importer
    if ident is None or ident != getattr(self, "_read_ident", None):
        _STDLIB_ZIP_INVALIDATE(self)
        self._read_ident = ident


def guard_worker_zip_reads() -> None:
    """Swap in _invalidate_if_archive_changed inside a PySpark worker on
    Python < 3.13 (3.13's zipimporter only drops its cache, so the re-read
    is lazy there); a no-op on the driver."""
    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_archive_changed


def ship_package(spark: SparkSession) -> None:
    """Ship cuvs_lucene_spark to executor Python workers.

    The library analog of the north_rule deployment
    (``spark-submit --py-files dist/engine.zip``): zips this package and
    registers it via addPyFile so Arrow-UDF kernels unpickle on executors
    even when the driver script runs outside the repo root.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "cuvs_lucene_spark_pyfiles")
    os.makedirs(base, exist_ok=True)
    zip_path = shutil.make_archive(
        os.path.join(base, "cuvs_lucene_spark"), "zip",
        root_dir=os.path.dirname(pkg_dir), base_dir="cuvs_lucene_spark",
    )
    spark.sparkContext.addPyFile(zip_path)


def get_spark(
    app: str = "cuvs-lucene-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
    executor_mem: str | None = None,
) -> SparkSession:
    """`master` overrides the default ``local[cpus]`` — pass
    ``local-cluster[n,c,mem_mb]`` to run n SEPARATE executor JVMs of c cores
    each (the faithful single-box surrogate for an n-executor cluster: per-
    executor heaps, shuffle over netty between processes, isolated GC).
    `cpus` should then be n·c so shuffle partitioning still matches."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)
    # Shuffle/spill scratch: prefer RAM-backed /dev/shm when present — the
    # single-box sandbox shares ONE throttled disk across all cores, which
    # makes shuffle I/O the non-scaling bottleneck; a real cluster has
    # per-executor local NVMe whose aggregate bandwidth scales with N.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app)
    if executor_mem:
        builder = builder.config("spark.executor.memory", executor_mem)
    spark = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle/spill block codec. lz4 is Spark's default; zstd trades a
        # little CPU for ~2x smaller shuffle blocks — on multi-executor
        # masters the cross-JVM fetch bytes drop with it. Env-gated for A/B.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a measured cache-residency tradeoff: the
        # flush kernel's intermediates (token list array, dictionary, codes)
        # are ~5-10x the text bytes, so at 128k rows they blow the L2/L3
        # budget of every concurrent worker and the build goes DRAM-bound
        # (measured: bench-tier build at 16 cores = 86 s / 1102 CPU-s at
        # 131072 vs 40 s / 490 CPU-s at 8192 — the CPU inflation is
        # busy-stalled cycles). 8k rows keeps per-batch state cache-resident
        # while still amortizing the per-batch Python overhead.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "8192"),
        )
        # 16m split size: the sandbox corpora are single few-hundred-MB
        # parquet files; 128m splits would cap scan/flush parallelism at 2-3
        # tasks regardless of cores. On a real multi-file 100 TB table set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=128m (or rely on file count).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # The sandbox box has 125 GiB RAM for one JVM: a small heap makes
        # high core counts GC-bound (cache + N concurrent sort/Arrow buffers
        # in 8g flattens the 4→16 scaling curve); on a real cluster this is
        # per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    ship_package(spark)
    return spark
