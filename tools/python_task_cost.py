"""Fixed cost of one Python task: the measurement behind the kernel
stage's width (``operators/rebalance.py``: two waves per core).

Runs an identity ``mapInArrow`` over the same ``spark.range`` rows split
into P = cores and P = 8 x cores partitions (median of a few timed runs
after a warm-up at each P) and prints:

* wall time per extra task: (wall at 8 x cores - wall at cores) / extra tasks
* Python-worker CPU per task at each P, read from /proc
  (``perfbench/procs.py``: workers are children of ``pyspark.daemon``)
* inside one worker: the number of zipimporters on its import path and the
  time of one ``importlib.invalidate_caches()``, which PySpark calls at
  the start of every task and which re-reads each zip's directory on
  CPython 3.11

The cost depends on the Python and PySpark versions (CPython 3.12 is
reported to make zipimport's invalidation lazy), so rerun it after
upgrading either and re-check the ``2`` in ``rebalance_by_size``.

Usage:
  python tools/python_task_cost.py          # cores from $SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import procs  # noqa: E402

from ocr_gpu_services_spark.session import get_spark  # noqa: E402

ROWS = 400_000  # 3.2 MB of longs through the Arrow hand-off
REPS = 5


def _identity(batches):
    yield from batches


def _probe(batches):
    import importlib
    import zipimport

    import pyarrow as pa
    for _ in batches:
        pass
    n = sum(isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values())
    t = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pylist(
        [{"zipimporters": n, "invalidate_s": time.perf_counter() - t}])


def _run(spark, parts: int) -> tuple[float, float]:
    """(wall s, Python-worker CPU s) of one identity pass."""
    before = {p: procs.cpu_s(p) for p in procs.python_workers()}
    t = time.perf_counter()
    (spark.range(0, ROWS, 1, parts).mapInArrow(_identity, "id long")
     .write.format("noop").mode("overwrite").save())
    wall = time.perf_counter() - t
    cpu = sum(procs.cpu_s(p) - before.get(p, 0.0)
              for p in procs.python_workers())
    return wall, cpu


def main() -> None:
    procs.adopt_orphans()
    try:
        spark = get_spark(app="python-task-cost",
                          extra={"spark.ui.showConsoleProgress": "false"})
        cores = spark.sparkContext.defaultParallelism
        med = {}
        for parts in (cores, 8 * cores):
            _run(spark, parts)
            walls, cpus = zip(*(_run(spark, parts) for _ in range(REPS)))
            med[parts] = statistics.median(walls), statistics.median(cpus)
            print(f"P={parts:4d}  wall {med[parts][0]:.3f} s  worker CPU "
                  f"{med[parts][1]:.2f} s = {med[parts][1] / parts:.3f} "
                  f"s/task  (median of {REPS})")
        extra = 7 * cores
        print(f"wall per extra task: "
              f"{(med[8 * cores][0] - med[cores][0]) / extra * 1e3:.1f} ms "
              f"({extra} extra tasks on {cores} cores)")
        r = spark.range(0, 1, 1, 1).mapInArrow(
            _probe, "zipimporters long, invalidate_s double").first()
        print(f"one worker: {r['zipimporters']} zipimporters, "
              f"importlib.invalidate_caches() {r['invalidate_s']:.3f} s "
              f"(Python {sys.version.split()[0]})")
        spark.stop()
    finally:
        procs.stop_all()


if __name__ == "__main__":
    main()
