"""Per-row digest of what the extraction kernel produces, for same-bytes
checks: run it before and after a change and ``diff`` the outputs.

Each output line is ``<url> <payload sha256> <output sha256>``.  The
first hash is over the input payload bytes (empty for a NULL payload),
so one diff also shows that the fixture generator wrote the same
inputs.  The second is over (content_type, extracted_text, error,
probe_image_format, spans) from ``core.extract.extract_route`` and
``core.sniff.probe_image_format``.  Rows come out in input order.

Usage:
  python tools/route_digest.py tiny|small         # fixture corpus, seed 7
  python tools/route_digest.py pool               # perfbench crawl_mix row
                                                  # pool (built if missing)
  python tools/route_digest.py <parquet path>     # file or directory with
                                                  # url/html/text columns
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_gpu_services_spark.core.extract import extract_route  # noqa: E402
from ocr_gpu_services_spark.core.sniff import probe_image_format  # noqa: E402


def rows(source: str):
    """Yield (url, payload, text) from a fixture scale, the crawl pool or
    a parquet path."""
    if source in ("tiny", "small"):
        from ocr_gpu_services_spark.fixtures.gen import gen_rows
        for r in gen_rows(source, 7):
            yield r["url"], r["html"], r["text"]
        return
    if source == "pool":
        from perfbench.inputs import crawl_pool
        source = crawl_pool()
    import pyarrow.parquet as pq
    table = pq.read_table(source, columns=["url", "html", "text"])
    for batch in table.to_batches():
        yield from zip(*(batch.column(c).to_pylist()
                         for c in ("url", "html", "text")))


def digest(payload: bytes | None, text: str | None) -> str:
    ct, out_text, spans, error = extract_route(payload, text)
    fmt = probe_image_format(payload) if payload else None
    record = [ct, out_text, error, fmt, [s.as_dict() for s in spans]]
    blob = json.dumps(record, sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for url, payload, text in rows(argv[0]):
        print(url, hashlib.sha256(payload or b"").hexdigest(),
              digest(payload, text), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
