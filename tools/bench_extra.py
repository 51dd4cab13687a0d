"""Per-query isolation bench (guide §1.4 / §7.2).

bench.py is FROZEN for measurement; this auxiliary tool times individual
registry queries with the same methodology (noop sink, fresh plan per
pass, best-of-N) at any scale factor.  Plan dumps: tools/dump_plans.py.

Usage:
  python tools/bench_extra.py --sf /root/testdata/sf1.0 --n 3 name [name ..]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_gpu_services_spark.plans.queries import QUERIES  # noqa: E402
from ocr_gpu_services_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf1.0")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    names = args.names or list(QUERIES)
    spark = get_spark(app="bench-extra", cores=args.cores,
                      shuffle_partitions=128)
    out = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        best, samples = None, []
        for _ in range(args.n):
            t0 = time.time()
            df = fn(spark, args.sf)   # fresh plan per pass
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = dt if best is None or dt < best else best
        out[name] = {"best": round(best, 3), "samples": samples}
        print(f"{name}: best={best:.3f}s samples={samples}", flush=True)
    print(json.dumps({"sf": args.sf, "cores": args.cores, "times": out}))
    spark.stop()


if __name__ == "__main__":
    main()
