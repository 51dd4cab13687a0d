"""Output checks; a failed check makes the run report ``correct: false``."""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_gpu_services_spark.core.extract import extract_document
from ocr_gpu_services_spark.core.sniff import sniff_content_type
from ocr_gpu_services_spark.sources.table import IcebergLikeTable

SAMPLE_PER_ROUTE = 1


def check_extraction(spark, out: str, rows: list[dict], seed: int
                     ) -> tuple[list[str], str]:
    """Check a finished ``run_job`` table against its input rows.

    Returns (problems, sorted (url, text) digest)."""
    problems = []
    table = IcebergLikeTable(out)
    out_rows = table.read(spark).select(
        "url", "extracted_text", "error").collect()
    got = {r["url"]: r for r in out_rows}
    counts = Counter(r["url"] for r in out_rows)
    want = {r["url"] for r in rows}
    dup = [u for u, c in counts.items() if c != 1]
    if dup or set(counts) != want:
        problems.append(f"urls: {len(want - set(counts))} missing, "
                        f"{len(set(counts) - want)} unexpected, "
                        f"{len(dup)} not exactly once")
    committed = sum(m["row_count"] for m in table.manifests())
    if committed != len(rows):
        problems.append(f"manifest row_count sum {committed} != {len(rows)}")
    # one row of every route (seeded choice) plus every row that errored
    rng = random.Random(f"check:{seed}")
    by_route: dict[str, list[dict]] = {}
    for r in rows:
        by_route.setdefault(sniff_content_type(r["html"], r["text"]),
                            []).append(r)
    sample = [r for v in by_route.values()
              for r in rng.sample(v, min(SAMPLE_PER_ROUTE, len(v)))]
    sample += [r for r in rows
               if got.get(r["url"]) and got[r["url"]]["error"] is not None]
    for r in sample:
        _ct, text, _sp, _dt, _c, error = extract_document(r["html"], r["text"])
        g = got.get(r["url"])
        if g is None or g["extracted_text"] != text or g["error"] != error:
            problems.append(f"output differs from extract_document: "
                            f"{r['url']}")
    h = hashlib.sha256()
    for url in sorted(got):
        h.update(url.encode())
        h.update(b"\0")
        h.update((got[url]["extracted_text"] or "").encode())
        h.update(b"\0")
    return problems, h.hexdigest()


def result_digest(df: DataFrame) -> str:
    """Order-independent digest of a query result: row count plus the sum
    of per-row xxhash64 over the columns in name order."""
    cols = [df[c] for c in sorted(df.columns)]
    r = (df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
         .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
         .collect()[0])
    return f"{r['n']}:{r['s']}"
