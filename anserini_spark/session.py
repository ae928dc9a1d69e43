"""SparkSession factory with the engine's recommended configuration.

Python workers run under ``anserini_spark.pyworker``, a daemon that stops
every Python task from re-reading ``pyspark.zip`` (~255 ms of a ~740 ms
single-query task's worker ``main`` at local[4]). Spark starts it before
any ``--py-files`` arrive, so the worker Python must import
``anserini_spark`` by itself: from PYTHONPATH, the working directory or
an installed package.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fs_type(path: str) -> str | None:
    """Filesystem type of the mount backing ``path`` (via /proc/mounts).

    Returns the fstype of the longest mount-point prefix of the resolved
    path, or None when /proc/mounts is unavailable (non-Linux).
    """
    try:
        real = os.path.realpath(path)
        best_len, best_type = -1, None
        with open("/proc/mounts", "r", encoding="utf-8") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) < 3:
                    continue
                mnt, fstype = parts[1], parts[2]
                if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) \
                        and len(mnt) > best_len:
                    best_len, best_type = len(mnt), fstype
        return best_type
    except OSError:
        return None


def _is_ram_backed(path: str) -> bool:
    """True only when ``path`` lives on a RAM-backed filesystem."""
    return _fs_type(path) in ("tmpfs", "ramfs")


def get_spark(app: str = "anserini-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              local_dir: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)
    # pin per-worker native thread pools: N python workers each spinning
    # their own BLAS/OMP pool oversubscribes the host (spin-wait storms
    # show up as system-CPU time)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # shuffle/spill on tmpfs when available: the sandbox's disk shows
    # high IO-contention variance under concurrent shuffle writers
    if local_dir is None:
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    builder = SparkSession.builder.master(master)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # tmpfs shuffle: lz4 compress/decompress is pure CPU overhead
    # (no disk or network to save) — measured 25% off the 8-core
    # docvec stage wall (BENCH.md round 3). Compression stays ON by
    # default (real disk / network shuffle wants it); it is disabled
    # only when the shuffle dir is verifiably RAM-backed.
    if local_dir and _is_ram_backed(local_dir):
        builder = (builder
                   .config("spark.shuffle.compress", "false")
                   .config("spark.shuffle.spill.compress", "false"))
    return (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # skip re-reading unchanged zip archives on every Python task: a
        # no-op one-partition mapInArrow job 260-352 -> 124-131 ms p50
        # (BENCH.md)
        .config("spark.python.daemon.module", "anserini_spark.pyworker")
        .getOrCreate()
    )
