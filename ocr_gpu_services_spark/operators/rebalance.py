"""Skew handling for the map-heavy extraction stage (SURVEY.md §4.2).

The reference's only defense against a huge document is a 360 s request
timeout (supervisord.conf); at 10^12-row scale we instead balance BYTES per
task before the expensive kernel:

* ``salt`` = xxhash64(url): breaks the systematic collocation of pdf-heavy
  hosts (consecutive urls from one host land in one input split otherwise)
* byte-size split: rows whose html + text octets exceed ``BIG_THRESHOLD``
  go to their own hash partitioning so a handful of mega-pages never ride
  along in — and straggle — a partition full of small pages; the union of
  the two branches is narrow (no extra shuffle)
* AQE's skew-join splitting does NOT fire on map stages, so this manual
  salt is required (SURVEY.md §4.2); inside the kernel, byte-capped Arrow
  chunking bounds memory per batch

The small branch is two waves per core (2 x defaultParallelism), not
spark.sql.shuffle.partitions: every partition becomes one Python task of
the kernel stage, and one output file per day it holds.  Per-document
cost is heavy-tailed (on the crawl mix the slowest 1% of rows take ~45% of
the kernel CPU, perfbench's ``core.top1pct_cpu_share``), and more than one
task per core lets the other cores take the rest of the rows while one
task works through a heavy row.  A task's fixed cost no longer sets the
width: PySpark's per-task ``importlib.invalidate_caches()`` used to cost
~0.2 s of worker CPU per task (32 partitions took 5.7-7.1 s against
2.7-3.1 s at 8), and since ``zipdirs`` only a fresh worker's first task
pays it (tools/python_task_cost.py).  Re-measured since, on a 4-core run
of the 420-row crawl mix: 4 waves per core did not beat 2 and wrote 73
output files instead of 39; 1 wave read higher docs/s than 2 in each of 3
interleaved rounds, too few on a noisy host to change the width
(ROADMAP item 4).  At 1000 executors the
same rule holds (defaultParallelism is executors x cores), and each
mega-page is one task by row atomicity — the best any engine can do
without splitting documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BIG_THRESHOLD = 1 * 1024 * 1024  # 1 MiB payload -> 'big' branch


def rebalance_by_size(df: DataFrame) -> DataFrame:
    """Small rows, then mega rows, of a pages frame (url, html, text);
    text-route rows carry html=NULL with the payload in text."""
    n_small = 2 * df.sparkSession.sparkContext.defaultParallelism
    size = (F.coalesce(F.octet_length("html"), F.lit(0))
            + F.coalesce(F.octet_length("text"), F.lit(0)))
    salt = F.xxhash64(F.col("url"))
    small = df.filter(size <= BIG_THRESHOLD).repartition(n_small, salt)
    big = df.filter(size > BIG_THRESHOLD).repartition(max(4, n_small // 4),
                                                      salt)
    return small.unionByName(big)
