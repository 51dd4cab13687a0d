"""Fixed cost of one Python task, as production pays it.

Runs an identity ``mapInArrow`` over the same ``spark.range`` rows split
into P = cores and P = 8 x cores partitions (median of a few timed runs
after a warm-up at each P).  The identity is a package function
(``zipdirs.identity``), so, as with every production stage, the worker
imports the package and with it ``zipdirs.install``; a function defined
here would be shipped by value and measure a worker that never did.
Prints:

* wall time per extra task: (wall at 8 x cores - wall at cores) / extra tasks
* Python-worker CPU per task at each P, read from /proc
  (``perfbench/procs.py``: workers are children of ``pyspark.daemon``)
* from ``zipdirs.probe`` over 2 x cores warm tasks: the zipimporters on a
  worker's import path; the time of re-reading all their directories,
  which is what ``importlib.invalidate_caches()`` costs in a fresh
  worker's first task (PySpark calls it at the start of every task, and
  CPython 3.11 re-reads each zip there); the time of a warm task's
  ``importlib.invalidate_caches()`` and how many zip directories it
  re-read (0 while no zip changed)

The cost depends on the Python and PySpark versions (CPython 3.12 makes
zipimport's invalidation lazy), so rerun it after upgrading either.

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

from ocr_gpu_services_spark import zipdirs  # noqa: E402
from ocr_gpu_services_spark.session import get_spark  # noqa: E402

ROWS = 400_000  # 3.2 MB of longs through the Arrow hand-off
REPS = 5


def _run(spark, parts: int) -> tuple[float, float]:
    """(wall s, Python-worker CPU s) of one identity pass."""
    before = {p: procs.cpu_s(p) for p in procs.python_workers()}
    t = time.perf_counter()
    (spark.range(0, ROWS, 1, parts).mapInArrow(zipdirs.identity, "id long")
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
        rows = spark.range(0, 2 * cores, 1, 2 * cores).mapInArrow(
            zipdirs.probe, zipdirs.PROBE_SCHEMA).collect()
        warm = [r["invalidate_s"] * 1e3 for r in rows]
        print(f"{len({r['pid'] for r in rows})} workers, "
              f"{max(r['zipimporters'] for r in rows)} zipimporters each "
              f"(Python {sys.version.split()[0]})")
        print(f"fresh worker's first task: re-reads every zip, "
              f"{statistics.median(r['stock_s'] for r in rows) * 1e3:.1f} ms")
        print(f"warm task: importlib.invalidate_caches() median "
              f"{statistics.median(warm):.2f} ms, max {max(warm):.2f} ms; "
              f"zip directories re-read: {max(r['rereads'] for r in rows)} "
              f"(max over {len(rows)} tasks)")
        spark.stop()
    finally:
        procs.stop_all()


if __name__ == "__main__":
    main()
