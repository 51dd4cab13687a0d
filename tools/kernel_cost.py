"""Layer cost of the extraction kernel, single-threaded, for A/B runs of
a decoder or extractor change: run it at the parent and at the change
(interleaved, on an otherwise idle host) and compare.

Prints, each the minimum over ``--reps`` passes:

* the ``core.*`` split of ``perfbench.tracing.kernel_split`` (the
  benchmark's own definitions): ms per megapixel of every decode
  family, p99 and max ms of every route, and the top-1% CPU share;
* the 10 slowest rows (thread CPU of ``extract_document``, the same
  per-document clock as ``kernel_split``) with their route and, for
  images, their decode family.

Times are ``time.thread_time`` of this one thread, so other load on
the host stretches them less than wall time, but does not vanish.

Usage:
  python tools/kernel_cost.py tiny|small|pool [--reps N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_gpu_services_spark.core.extract import (  # noqa: E402
    extract_document, get_atlas)
from perfbench import tracing  # noqa: E402

SLOWEST = 10


def rows(source: str) -> list[tuple[str, bytes | None, str | None]]:
    """(url, payload, text) of a fixture scale or the crawl_mix pool."""
    if source in ("tiny", "small"):
        from ocr_gpu_services_spark.fixtures.gen import gen_rows
        return [(r["url"], r["html"], r["text"]) for r in gen_rows(source, 7)]
    from perfbench.inputs import crawl_pool
    import pyarrow.parquet as pq
    table = pq.read_table(crawl_pool(), columns=["url", "html", "text"])
    return list(zip(*(table.column(c).to_pylist()
                      for c in ("url", "html", "text"))))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("source", choices=("tiny", "small", "pool"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)
    data = rows(args.source)
    payloads = [(payload, text) for _url, payload, text in data]
    get_atlas()
    split: dict[str, float] = {}
    per_row = [float("inf")] * len(data)
    for _ in range(args.reps):
        for k, v in tracing.kernel_split(payloads).items():
            split[k] = min(split.get(k, v), v)
        for i, (payload, text) in enumerate(payloads):
            t0 = time.thread_time()
            extract_document(payload, text)
            per_row[i] = min(per_row[i], time.thread_time() - t0)

    print(f"# {args.source}: {len(data)} rows, min of {args.reps} reps")
    for fam in tracing.DECODE_FORMATS:
        key = f"core.decode_image.{fam}_ms_per_mpix"
        print(f"{key} {split[key]:.1f}")
    for route in tracing.ROUTES:
        for stat in ("p99_ms", "max_ms"):
            key = f"core.{route}.{stat}"
            print(f"{key} {split[key]:.1f}")
    print(f"core.top1pct_cpu_share {split['core.top1pct_cpu_share']:.3f}")
    print(f"core.cpu_ms_per_doc {split['core.cpu_ms_per_doc']:.2f}")
    print(f"# {SLOWEST} slowest rows: ms route family url")
    order = sorted(range(len(data)), key=lambda i: -per_row[i])[:SLOWEST]
    for i in order:
        url, payload, text = data[i]
        route = extract_document(payload, text)[0]
        fam = tracing.decode_family(payload) if route == "image" else "-"
        print(f"{1e3 * per_row[i]:8.1f} {route:7s} {fam:9s} {url}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
