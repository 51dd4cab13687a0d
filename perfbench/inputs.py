"""Seeded benchmark inputs, generated before any timing and cached on disk.

crawl_mix
    A pool of correctness-scale rows (``gen_rows("small", s)``, the full
    codec mix: JPEG baseline/progressive, VP8/VP8L WebP, GIF, TIFF/G4,
    encrypted PDFs, mega-pages) is generated once per ``GEN_VERSION`` with
    at most ``nproc`` processes.  The pool is the same for every seed: a
    row's kernel cost is heavy-tailed (the top 1% of rows carry about half
    the kernel CPU), so a per-seed sample of a few hundred rows would move
    the job wall by tens of percent from seed to seed.  The seed instead
    decides the row order, the urls (unique, each keeping its host) and so
    the rebalance salt, and where the contiguous ``pdf-farm.example`` block
    lands among the input shards.

corpus_ops
    TPC-H-like tables plus ``documents``, ``embeddings`` and ``events`` with
    the schemas of the registry's test data, drawn with numpy from the seed.

Every corpus is cached under ``WORK`` by (workload, seed, GEN_VERSION,
INPUTS_VERSION).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_gpu_services_spark.fixtures.gen import GEN_VERSION, gen_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# bump when this module changes the bytes it generates
INPUTS_VERSION = 2
# crawl pool: (generator seed, first row, stop row) slices of the 5,000-row
# correctness scale.  Rows 2750..2949 of every small-scale seed are the
# pdf-farm block; the last two slices take a run of it.
POOL_SLICES = [(101, 0, 95), (102, 0, 95), (103, 0, 95), (104, 0, 95),
               (105, 2750, 2770), (105, 2770, 2790)]
PAGE_SHARDS = 8

PAGES_ARROW = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                         ("html", pa.binary()), ("text", pa.string()),
                         ("lang", pa.string())])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _write_slice(seed: int, start: int, stop: int, out: str) -> None:
    rows = list(gen_rows("small", seed, start, stop))
    table = pa.Table.from_pylist(rows, schema=PAGES_ARROW)
    pq.write_table(table, out + ".tmp", compression="snappy")
    os.replace(out + ".tmp", out)


def _gen_slice(job: tuple) -> None:
    """One pool slice in a child process (no multiprocessing pool, whose
    resource tracker would outlive this benchmark)."""
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    *map(str, job)], check=True,
                   env=dict(os.environ, PYTHONPATH=ROOT))


def _publish(tmp: str, final: str) -> str:
    """Atomically expose a finished cache directory."""
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


def crawl_pool() -> str:
    final = os.path.join(WORK, f"pool-crawl-{GEN_VERSION}-v{INPUTS_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jobs = [(s, a, b, os.path.join(tmp, f"slice-{k:02d}.parquet"))
            for k, (s, a, b) in enumerate(POOL_SLICES)]
    # largest slices first so the pool's wall is not set by a late straggler
    jobs.sort(key=lambda j: j[1] - j[2])
    with ThreadPoolExecutor(min(nproc(), len(jobs))) as ex:
        list(ex.map(_gen_slice, jobs))
    return _publish(tmp, final)


def crawl_mix(seed: int) -> str:
    """Sharded pages parquet for one seed."""
    final = os.path.join(
        WORK, f"crawl_mix-{seed}-{GEN_VERSION}-v{INPUTS_VERSION}")
    if os.path.isdir(final):
        return final
    table = pq.read_table(crawl_pool())
    urls = table.column("url").to_pylist()
    farm = [i for i, u in enumerate(urls) if "//pdf-farm.example/" in u]
    rest = [i for i, u in enumerate(urls) if "//pdf-farm.example/" not in u]
    rng = random.Random(f"crawl_mix:{seed}")
    rng.shuffle(rest)
    at = rng.randrange(len(rest) + 1)
    order = rest[:at] + farm + rest[at:]
    table = table.take(pa.array(order))
    new_urls = [f"https://{u.split('/')[2]}/p/{seed}-{k:06d}"
                for k, u in enumerate(table.column("url").to_pylist())]
    table = table.set_column(0, "url", pa.array(new_urls, pa.string()))
    return _write_shards(table, final, PAGE_SHARDS)


def _write_shards(table: pa.Table, final: str, shards: int) -> str:
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = table.num_rows
    for k in range(shards):
        a, b = n * k // shards, n * (k + 1) // shards
        pq.write_table(table.slice(a, b - a),
                       os.path.join(tmp, f"part-{k:05d}.parquet"),
                       compression="snappy")
    return _publish(tmp, final)


# -- corpus_ops tables --------------------------------------------------------

OPS_SIZES = {"customer": 750, "supplier": 50, "part": 1000,
             "orders": 7500, "lineitem": 30000, "events": 5000,
             "documents": 500, "embeddings": 500}
COPIED_SPAN = 20   # words quoted from an earlier document
_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = np.int64(base.timestamp() * 1e6) + (seconds * 1e6).astype(np.int64)
    return pa.array(us, pa.timestamp("us"))


def ops_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x0C0])
    n = OPS_SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green",
                    "dark"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "pipe",
                     "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    nord = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    day = 86400.0
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(nord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], nord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, nord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, nord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2404, nord) * day),
        "o_orderpriority": prio[rng.integers(0, 5, nord)]})
    nli = n["lineitem"]
    qty = rng.integers(1, 51, nli).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, nord, nli), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nli), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nli), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nli), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nli), 2),
        "l_discount": rng.integers(0, 11, nli) / 100.0,
        "l_tax": rng.integers(0, 9, nli) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nli)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nli)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2499, nli) * day)})
    nev = n["events"]
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(nev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.uniform(0, 30 * day, nev))),
        "user_id": pa.array(rng.integers(0, 150, nev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, nev)],
        "value": np.round(rng.uniform(0.01, 490.0, nev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]})
    ndoc = n["documents"]
    words = np.array(_WORDS)
    toks = [list(words[rng.integers(0, len(words), k)])
            for k in rng.integers(10, 100, ndoc)]
    # one document in ten quotes a span of an earlier one, so the corpus
    # holds near-duplicates besides the copies the dedup queries add
    for i in range(1, ndoc):
        src = toks[int(rng.integers(0, i))]
        if rng.random() < 0.1 and len(src) >= COPIED_SPAN:
            a = int(rng.integers(0, len(src) - COPIED_SPAN + 1))
            toks[i] = toks[i] + src[a:a + COPIED_SPAN]
    texts = [" ".join(t) for t in toks]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(ndoc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "zh", "es", "de", "fr"])[
            rng.integers(0, 7, ndoc)],
        "source": [f"src{i % 20}" for i in range(ndoc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    nemb = n["embeddings"]
    labels = rng.integers(0, 10, nemb)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] * 0.5 + rng.normal(size=(nemb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nemb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def corpus_ops(seed: int) -> str:
    """Table directory for one seed."""
    final = os.path.join(
        WORK, f"corpus_ops-{seed}-{GEN_VERSION}-v{INPUTS_VERSION}")
    if os.path.isdir(final):
        return final
    tables = ops_tables(seed)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, final)


if __name__ == "__main__":   # one crawl pool slice: seed start stop out
    _s, _a, _b, _out = sys.argv[1:]
    _write_slice(int(_s), int(_a), int(_b), _out)
