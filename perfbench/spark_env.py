"""Spark session sized for the machine it runs on, and Spark's fixed costs.

Settings (one client process, ``local[cores]``):

- ``cores`` = the CPUs this process may run on; no pool is larger;
- driver heap 4 GiB, not pre-touched (the JVM holds no payload here: the
  encode tasks read and write the payload themselves);
- Arrow batches of 65,536 records and the glibc allocator settings of
  ``bench.py`` (they keep freed pages mapped between tasks);
- pyarrow and BLAS pools capped at ``cores`` through the environment the
  JVM and its Python workers inherit (the library's workers further cap
  pyarrow at one thread each);
- every scratch directory (Spark local dirs, warehouse, JVM temp) inside
  the benchmark's work directory.
"""

from __future__ import annotations

import os
import statistics
import time

DRIVER_HEAP = "4g"
ARROW_BATCH_ROWS = 65_536
# bench.py's glibc allocator settings: freed pages stay mapped, so repeated
# encodes of the same input do not page-fault their buffers in again. glibc
# reads them when a process starts, so ``run.py`` restarts itself with them.
ALLOCATOR_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "536870912",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
    "MALLOC_ARENA_MAX": "4",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_env(root: str, work: str) -> None:
    """Environment for this process and every process it starts."""
    n = str(cores())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": root,
            "PYTHONHASHSEED": "0",  # the same str hashes in every run and worker
            "TMPDIR": tmp,
            "OMP_NUM_THREADS": n,
            "OPENBLAS_NUM_THREADS": n,
            "MKL_NUM_THREADS": n,
            **ALLOCATOR_ENV,
        }
    )


def start_session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores()))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


# -- fixed-cost probes (public pyspark API only) ---------------------------


def _noop(batches):
    for _ in batches:
        pass
    return iter(())


def _consume(batches):
    import pyarrow as pa

    n = 0
    for b in batches:
        n += b.column(0).values.nbytes
    yield pa.record_batch([pa.array([n], pa.int64())], names=["n"])


def _produce(rows: int, width: int):
    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            for _ in range(len(b)):
                vals = pa.array(np.arange(rows * width, dtype=np.int32) % 50_257)
                offs = pa.array(np.arange(0, rows * width + 1, width, dtype=np.int32))
                yield pa.record_batch([pa.ListArray.from_arrays(offs, vals)], names=["x"])

    return fn


def _timed(action) -> float:
    t0 = time.perf_counter()
    action()
    return time.perf_counter() - t0


def noop_job_s(spark, partitions: int) -> float:
    """Wall of an empty ``mapInArrow`` job over ``partitions`` partitions.
    The session's first Python job also pays the Python workers' start-up."""
    return _timed(spark.range(0, partitions, 1, partitions).mapInArrow(_noop, "id long").collect)


def ferry_rates(spark, partitions: int) -> dict[str, float]:
    """Arrow ferry rates of a ``list<int32>`` column, timed from outside on
    a warm session with ``partitions`` partitions (the measured jobs').

    The rates are slopes: the extra wall of moving 192 MB more, so the
    job's fixed cost cancels. Every repetition builds a fresh DataFrame:
    re-running one would reuse its shuffle output."""
    from pyspark.sql import functions as F

    width = 1024

    def median_wall(build) -> float:
        return statistics.median(_timed(build().collect) for _ in range(3))

    def to_py(mb):
        rows = mb * (1 << 20) // (4 * width)
        src = spark.range(0, rows, 1, partitions).select(
            F.array_repeat(F.col("id").cast("int"), width).alias("x"))
        return lambda: src.mapInArrow(_consume, "n long").agg(F.sum("n"))

    def to_jvm(mb):
        per_part = mb * (1 << 20) // (4 * width) // partitions
        return lambda: (
            spark.range(0, partitions, 1, partitions)
            .mapInArrow(_produce(per_part, width), "x array<int>")
            .agg(F.sum(F.size("x")))
        )

    def slope(build, small=32, big=224) -> float:
        dt = median_wall(build(big)) - median_wall(build(small))
        return (big - small) * (1 << 20) / 1e6 / max(dt, 1e-3)

    return {
        "spark.arrow_to_py_mb_per_s": slope(to_py),
        "spark.arrow_to_jvm_mb_per_s": slope(to_jvm),
    }
