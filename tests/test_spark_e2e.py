"""End-to-end Spark tests: golden byte-identity, resume exactness,
parallelism invariance (SURVEY.md §5.2 items 3 and 5)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_gpu_services_spark.plans.extract_job import extract_pipeline, run_job
from ocr_gpu_services_spark.sources.pages import synthetic_pages
from ocr_gpu_services_spark.sources.table import IcebergLikeTable

GOLDEN = os.path.join(os.path.dirname(__file__), "..", "golden")


def _load_goldens():
    with open(os.path.join(GOLDEN, "index.json")) as f:
        index = json.load(f)
    texts = {}
    for url, meta in index.items():
        with open(os.path.join(GOLDEN, meta["file"]), "rb") as f:
            texts[url] = f.read()
    return index, texts


@pytest.fixture(scope="module")
def extracted_rows(spark):
    df = extract_pipeline(synthetic_pages(spark, "tiny"))
    return {r["url"]: r for r in df.collect()}


def test_spark_matches_goldens_byte_identical(extracted_rows):
    """THE invariant: byte-identical extracted text per url vs goldens."""
    index, texts = _load_goldens()
    assert set(extracted_rows) == set(index)
    for url, meta in index.items():
        row = extracted_rows[url]
        assert row["extracted_text"].encode("utf-8") == texts[url], url
        assert row["content_type"] == meta["content_type"], url
        assert row["n_spans"] == meta["n_spans"], url


def test_spark_classification_expr_matches_oracle(extracted_rows):
    """A1 as JVM exprs vs the oracle's Python loop — adversarial pairing."""
    index, _ = _load_goldens()
    for url, meta in index.items():
        row = extracted_rows[url]
        assert row["doc_type"] == meta["doc_type"], url
        assert row["doc_type_conf"] == pytest.approx(meta["doc_type_conf"]), url


def test_error_column_degrades(extracted_rows):
    index, _ = _load_goldens()
    bad = [u for u, m in index.items() if m["error"]]
    assert bad
    for url in bad:
        assert extracted_rows[url]["error"] is not None
        assert extracted_rows[url]["extracted_text"] == ""


def test_parallelism_invariance(spark, extracted_rows):
    """Same input at a different partitioning -> byte-identical output."""
    pages = synthetic_pages(spark, "tiny").repartition(3)
    rows2 = {r["url"]: r for r in extract_pipeline(pages).collect()}
    assert set(rows2) == set(extracted_rows)
    for url, r1 in extracted_rows.items():
        r2 = rows2[url]
        assert r1["extracted_text"] == r2["extracted_text"]
        assert r1["spans"] == r2["spans"]


def test_kernel_stage_width_follows_cores_not_shuffle_partitions(spark):
    """The small branch feeding the Python kernel is two waves per core:
    each partition is one Python task with a fixed start-up cost, so the
    JVM operators' spark.sql.shuffle.partitions must not widen it."""
    import re

    from ocr_gpu_services_spark.operators.rebalance import rebalance_by_size
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        df = rebalance_by_size(synthetic_pages(spark, "tiny"))
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    widths = [int(n) for n in re.findall(
        r"Exchange hashpartitioning\(xxhash64\(url#\d+, 42\), (\d+)\)", plan)]
    n_small = 2 * spark.sparkContext.defaultParallelism
    assert n_small == 16                  # the session fixture's 8 cores
    # tiny has no mega row, so the optimizer drops the empty big branch
    assert widths == [n_small], plan


def test_mega_rows_take_the_big_branch(spark):
    """A >1 MiB html row and an html=NULL row whose text is over
    BIG_THRESHOLD in UTF-8 bytes (not in characters) both land in the big
    branch's partitions, which the union lays out after the small ones."""
    import datetime

    from ocr_gpu_services_spark.operators.rebalance import (
        BIG_THRESHOLD, rebalance_by_size)
    from ocr_gpu_services_spark.sources.pages import PAGES_SCHEMA
    ts = datetime.datetime(2024, 1, 1)
    text = "é" * (BIG_THRESHOLD // 2 + 1)
    assert len(text) < BIG_THRESHOLD < len(text.encode("utf-8"))
    mega = spark.createDataFrame([
        ("https://mega.example/html", ts,
         b"<p>" + b"x" * BIG_THRESHOLD + b"</p>", None, None),
        ("https://mega.example/text", ts, None, text, None),
    ], schema=PAGES_SCHEMA)
    df = rebalance_by_size(synthetic_pages(spark, "tiny").unionByName(mega))
    pids = {r["url"]: r["pid"] for r in df.select(
        "url", F.spark_partition_id().alias("pid")).collect()}
    n_small = 2 * spark.sparkContext.defaultParallelism
    big = {u for u, p in pids.items() if p >= n_small}
    assert big == {"https://mega.example/html", "https://mega.example/text"}
    assert len(pids) == 202


def test_write_resume_exactness(spark, tmp_path):
    """Kill-and-resume: committing only some partitions, the resumed run adds
    exactly the missing ones; bytes equal a clean one-shot run."""
    out = str(tmp_path / "t")
    pages = synthetic_pages(spark, "tiny")

    # simulated killed run: only 3 of the days get committed
    days = [r[0] for r in pages.select(
        F.date_format("warc_ts", "yyyy-MM-dd")).distinct().collect()]
    some_days = sorted(days)[:3]
    partial = pages.filter(
        F.date_format("warc_ts", "yyyy-MM-dd").isin(some_days))
    m1 = run_job(spark, partial, out, run_id="killed")
    assert m1["partitions_written"] == 3

    # resume: remaining days only
    m2 = run_job(spark, pages, out, run_id="resumed", resume=True)
    assert m2["partitions_written"] == len(days) - 3
    # resumed run must not have re-extracted committed days
    assert m2["rows_out"] == m2["rows_written"]

    table = IcebergLikeTable(out)
    got = {r["url"]: r["extracted_text"]
           for r in table.read(spark).collect()}
    _, texts = _load_goldens()
    assert set(got) == set(texts)
    for url, t in texts.items():
        assert got[url].encode("utf-8") == t, url
    assert table.total_committed_rows() == len(texts)

    # idempotence: resuming again writes nothing
    m3 = run_job(spark, pages, out, run_id="noop", resume=True)
    assert m3["partitions_written"] == 0
    assert table.read(spark).count() == len(texts)


def test_plan_pushdown_and_pruning(spark):
    """Plan-quality guard: a filtered 2-column projection over the parquet
    scan must push the predicate into the scan and prune to exactly the
    referenced columns (at 100 TB this is the difference between reading
    2 columns of 1 partition and reading everything)."""
    import os
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.01")
    from pyspark.sql import functions as F
    df = (spark.read.parquet(f"{sf}/documents.parquet")
          .filter(F.col("doc_id") < 200)
          .select("doc_id", F.length("text").alias("n")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(doc_id,200)" in plan, plan
    # ReadSchema must carry only doc_id + text, not lang/url/etc.
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in rs and "text" in rs and "lang" not in rs, rs


def test_streaming_ingest_golden_and_exactly_once(spark, tmp_path):
    """Structured Streaming twin of the batch job: drain the tiny corpus
    with availableNow, assert golden byte-identity, then restart the query
    from its checkpoint and assert nothing is reprocessed."""
    from ocr_gpu_services_spark.sources.pages import synthetic_pages
    from ocr_gpu_services_spark.streaming.ingest import stream_extract

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "extracted_stream")
    ckpt = str(tmp_path / "ckpt")
    synthetic_pages(spark, "tiny").repartition(8).write.parquet(src)

    q = stream_extract(spark, src, out, ckpt)
    q.awaitTermination(300)
    got = {r["url"]: r["extracted_text"]
           for r in spark.read.parquet(out).collect()}
    _, texts = _load_goldens()
    assert set(got) == set(texts)
    for url, t in texts.items():
        assert got[url].encode("utf-8") == t, url

    # exactly-once: a fresh start over the same checkpoint sees no new
    # files and writes no new rows
    q2 = stream_extract(spark, src, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == len(texts)


def test_resume_uses_partition_pruning(spark, tmp_path):
    """With a day-partitioned input table, a resumed run's NOT-IN filter
    on warc_day must reach the scan as PartitionFilters — committed days'
    bytes are never re-read (at 100 TB this is resume's whole point)."""
    from ocr_gpu_services_spark.sources.pages import (
        read_pages_partitioned, synthetic_pages, write_pages_partitioned)

    src = str(tmp_path / "pages_partitioned")
    write_pages_partitioned(synthetic_pages(spark, "tiny"), src)
    pages = read_pages_partitioned(spark, src)
    assert "warc_day" in pages.columns

    days = sorted(r["warc_day"]
                  for r in pages.select("warc_day").distinct().collect())
    done = days[:3]
    pruned = pages.filter(~F.col("warc_day").isin(done))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "warc_day" in plan.split(
        "PartitionFilters", 1)[1][:400], plan

    # end-to-end: resumed job over the partitioned source matches goldens
    out = str(tmp_path / "extracted")
    m1 = run_job(spark, pages.filter(F.col("warc_day").isin(done)), out,
                 run_id="killed")
    assert m1["partitions_written"] == 3
    m2 = run_job(spark, pages, out, run_id="resumed", resume=True)
    assert m2["partitions_written"] == len(days) - 3
    got = {r["url"]: r["extracted_text"]
           for r in spark.read.parquet(out).collect()}
    _, texts = _load_goldens()
    assert set(got) == set(texts)
    for url, t in texts.items():
        assert got[url].encode("utf-8") == t, url


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: only the first arrival of each
    payload fingerprint survives, across micro-batches AND across a
    stream restart (state restored from the checkpoint)."""
    from ocr_gpu_services_spark.sources.pages import PAGES_SCHEMA
    from ocr_gpu_services_spark.streaming.dedup import stream_dedup_exact

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "unique")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    base = synthetic_pages(spark, "tiny").limit(50).collect()

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema=PAGES_SCHEMA) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{src}/{name}")

    # batch 1: 30 docs; batch 2: 10 of the same + 20 new (same payloads,
    # re-crawled under new urls -> still duplicates by fingerprint)
    write_batch(base[:30], "b1")
    import datetime as dt
    redup = [type(r)(url=r.url + "?recrawl", warc_ts=r.warc_ts,
                     html=r.html, text=r.text, lang=r.lang)
             for r in base[10:20]]
    write_batch(redup + base[30:50], "b2")

    # scale guard (round 6): applyInPandasWithState is opaque to column
    # pruning, so the operator must project to (fingerprint, url,
    # warc_ts) ITSELF before the stateful groupBy — otherwise the
    # fingerprint exchange and the Python boundary carry the full page
    # payload per row.  Pin the narrow projection in the analyzed plan.
    import re
    plan_df = stream_dedup_exact(
        spark.readStream.schema(PAGES_SCHEMA).parquet(f"{src}/*"))
    plan = plan_df._jdf.queryExecution().analyzed().toString()
    projs = re.findall(r"Project \[([^\]]+)\]", plan)
    assert any("fingerprint" in p and "html" not in p and "text" not in p
               for p in projs), plan

    def run_stream():
        pages = (spark.readStream.schema(PAGES_SCHEMA)
                 .option("maxFilesPerTrigger", 1)
                 .parquet(f"{src}/*"))
        q = (stream_dedup_exact(pages).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run_stream()
    got = spark.read.parquet(out)
    fps = [r["fingerprint"] for r in got.collect()]
    assert len(fps) == len(set(fps)), "duplicate fingerprints emitted"
    uniq_payload_md5 = len({bytes(r.html) for r in base[:50]})
    assert len(fps) == uniq_payload_md5

    # restart with one more file of pure duplicates: nothing new emitted
    write_batch(base[:10], "b3")
    run_stream()
    assert spark.read.parquet(out).count() == uniq_payload_md5


def test_streaming_windowed_crawl_stats(spark, tmp_path):
    """Watermark + event-time window agg: every finalized window emitted
    by the stream must equal the batch groupBy over the same data."""
    from ocr_gpu_services_spark.sources.pages import (
        PAGES_SCHEMA, synthetic_pages)
    from ocr_gpu_services_spark.streaming.ingest import stream_crawl_stats
    from ocr_gpu_services_spark.operators.sniff import content_type_col

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    synthetic_pages(spark, "tiny").repartition(6).write.parquet(src)

    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_crawl_stats(pages).writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r["window_start"], r["window_end"], r["content_type"]):
           (r["n_docs"], r["payload_bytes"])
           for r in spark.read.parquet(out).collect()}
    assert got, "no windows finalized"
    batch = synthetic_pages(spark, "tiny") \
        .withColumn("content_type", content_type_col()) \
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"),
                 "content_type") \
        .agg(F.count("*").alias("n"),
             F.sum(F.coalesce(F.octet_length("html"), F.lit(0))).alias("b"))
    want = {(r["w"]["start"], r["w"]["end"], r["content_type"]):
            (r["n"], r["b"]) for r in batch.collect()}
    for k, v in got.items():
        assert want.get(k) == v, (k, v, want.get(k))


def test_layout_enrichment_on_extracted_spans(spark, extracted_rows):
    """U7 wired into the flagship: build a template from one image page's
    kernel-produced word spans; classify_extracted must assign that page
    to the template at cost 0 and leave span-less docs NULL."""
    import pandas as pd
    from ocr_gpu_services_spark.operators.layout_match import (
        classify_extracted)
    from ocr_gpu_services_spark.sources.pages import synthetic_pages

    # pick a deterministic image page with enough words
    target_url, tpl_rows = None, []
    for url in sorted(extracted_rows):
        row = extracted_rows[url]
        words = [s for s in row["spans"] if s["kind"] == "word"]
        if row["content_type"] == "image" and len(words) >= 6:
            target_url = url
            tpl_rows = [(0, w["text"].lower(), w["x0"], w["y0"],
                         w["x1"] - w["x0"], w["y1"] - w["y0"])
                        for w in words]
            break
    assert target_url is not None
    tpl = pd.DataFrame(
        tpl_rows, columns=["template_id", "word", "x", "y", "w", "h"])

    ext = extract_pipeline(synthetic_pages(spark, "tiny"))
    out = {r["url"]: r for r in classify_extracted(ext, tpl).collect()}
    assert len(out) == len(extracted_rows)      # left join keeps every doc
    assert out[target_url]["layout_template"] == 0
    assert out[target_url]["layout_cost"] == 0.0
    no_words = [u for u, r in extracted_rows.items()
                if not any(s["kind"] == "word" for s in r["spans"])]
    assert no_words
    for u in no_words:
        assert out[u]["layout_template"] is None


def test_ivf_topk_matches_numpy_twin_and_is_deterministic(spark):
    """The distributed IVF pipeline (partial-sum k-means, broadcast
    assignment, probe join) must equal the single-machine numpy twin."""
    import numpy as np
    from ocr_gpu_services_spark.operators import ann

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got1 = sorted(tuple(r) for r in ann.ivf_topk(e, [0, 1, 2, 3, 4],
                                                 dim=64, k=5).collect())
    got2 = sorted(tuple(r) for r in ann.ivf_topk(e, [0, 1, 2, 3, 4],
                                                 dim=64, k=5).collect())
    assert got1 == got2                      # deterministic across runs
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    want = ann.ivf_topk_numpy(ids, mat, [0, 1, 2, 3, 4], k=5)
    assert got1 == want
    # sanity: probing half the cells still finds most true neighbors
    exact = {(r[0], r[1]) for r in
             ann.cosine_topk(e, [0, 1, 2, 3, 4], k=5).collect()}
    found = {(a, b) for (a, b, _r, _c) in got1}
    assert len(found & exact) / len(exact) >= 0.5


def test_streaming_corpus_filter_matches_batch(spark, tmp_path):
    """The streaming decision record must equal the batch corpus_filter
    plan over the same corpus, including duplicate survivorship (files
    arrive in doc_id order, so first-arrival == min doc_id), and survive
    a checkpointed restart without re-admitting duplicates."""
    import pandas as pd
    from pyspark.sql import Window
    from ocr_gpu_services_spark.operators import textstats
    from ocr_gpu_services_spark.streaming.filter import stream_corpus_filter

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 120))
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    batch_corpus = docs.unionByName(dup)

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two arrival waves, doc_id-ordered file names
    docs.orderBy("doc_id").coalesce(1).write.parquet(src + "/b=0")
    import os
    os.rename(
        [f"{src}/b=0/{f}" for f in os.listdir(src + "/b=0")
         if f.endswith(".parquet")][0], f"{src}/a0.parquet")

    def run_stream():
        schema = "doc_id long, text string"
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream_corpus_filter(stream).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run_stream()
    # second wave: the planted duplicates arrive AFTER a restart
    dup.orderBy("doc_id").coalesce(1).write.parquet(src + "/b=1")
    os.rename(
        [f"{src}/b=1/{f}" for f in os.listdir(src + "/b=1")
         if f.endswith(".parquet")][0], f"{src}/a1.parquet")
    run_stream()

    got = {r["doc_id"]: (r["lang"], r["reason"], r["keep"])
           for r in spark.read.parquet(out).collect()}

    q_ = textstats.quality_cols("text")
    g = textstats.gopher_cols("text")
    base = batch_corpus.select(
        "doc_id",
        textstats.fingerprint_col("text").alias("fp"),
        textstats.langid_col("text").alias("lang"),
        q_["quality_ok"].alias("qok"),
        g["gopher_keep"].cast("int").alias("gok"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    m = base.withColumn("rn", F.row_number().over(w))
    want = {}
    for r in m.collect():
        if r["rn"] > 1:
            reason = "duplicate"
        elif r["qok"] == 0:
            reason = "low_quality"
        elif r["gok"] == 0:
            reason = "gopher_reject"
        else:
            reason = "kept"
        keep = 1 if (r["rn"] == 1 and r["qok"] == 1 and r["gok"] == 1) else 0
        want[r["doc_id"]] = (r["lang"], reason, keep)
    assert got == want
    assert any(v[1] == "duplicate" for v in got.values())
    assert any(v[2] == 1 for v in got.values())


def test_job_layout_templates_flag(spark, tmp_path, extracted_rows):
    """--layout-templates wires the U7 enrichment through the job: the
    output table carries layout_template/layout_cost, the matching page
    classifies at cost 0, span-less docs stay NULL, and goldens still
    hold for the base columns."""
    import pandas as pd
    from ocr_gpu_services_spark.plans.extract_job import run_job
    from ocr_gpu_services_spark.sources.pages import synthetic_pages

    target_url, tpl_rows = None, []
    for url in sorted(extracted_rows):
        row = extracted_rows[url]
        words = [s for s in row["spans"] if s["kind"] == "word"]
        if row["content_type"] == "image" and len(words) >= 6:
            target_url = url
            tpl_rows = [(0, w["text"].lower(), w["x0"], w["y0"],
                         w["x1"] - w["x0"], w["y1"] - w["y0"])
                        for w in words]
            break
    tpl_path = str(tmp_path / "templates.parquet")
    pd.DataFrame(tpl_rows, columns=["template_id", "word", "x", "y",
                                    "w", "h"]).to_parquet(tpl_path)
    out = str(tmp_path / "extracted")
    metrics = run_job(spark, synthetic_pages(spark, "tiny"), out, "r1",
                      layout_templates=tpl_path)
    assert metrics["rows_written"] == 200
    got = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert got[target_url]["layout_template"] == 0
    assert got[target_url]["layout_cost"] == 0.0
    assert any(r["layout_template"] is None for r in got.values())
    index, texts = _load_goldens()
    for url, meta in index.items():
        assert got[url]["extracted_text"].encode("utf-8") == texts[url]


def test_snapshot_read_as_of_and_by_run(spark, tmp_path):
    """Iceberg-style time travel over the manifest layer: a snapshot read
    scans exactly the files the selected manifests committed — by run_id
    or by commit timestamp — and fails loudly if a later rewrite removed
    them (never silently returns newer data)."""
    import time as _time

    import pytest

    out = str(tmp_path / "t")
    pages = synthetic_pages(spark, "tiny")
    days = sorted(r[0] for r in pages.select(
        F.date_format("warc_ts", "yyyy-MM-dd")).distinct().collect())
    first = pages.filter(
        F.date_format("warc_ts", "yyyy-MM-dd").isin(days[:2]))
    run_job(spark, first, out, run_id="run1")
    t_between = _time.time()
    run_job(spark, pages, out, run_id="run2", resume=True)

    table = IcebergLikeTable(out)
    full = table.read(spark).count()
    snap_run1 = table.read_as_of(spark, run_id="run1")
    snap_t = table.read_as_of(spark, as_of_unix=t_between)
    n1 = snap_run1.count()
    assert n1 == snap_t.count() < full
    assert set(r[0] for r in snap_run1.select(
        F.date_format("warc_ts", "yyyy-MM-dd")).distinct().collect()) \
        == set(days[:2])
    assert "warc_day" in snap_run1.columns     # basePath keeps partition col

    # staleness: delete a committed file -> the snapshot read refuses
    m = table.manifests()[0]
    victim = f"{out}/{m['partition']}/{m['files'][0]['name']}"
    import os as _os
    _os.remove(victim)
    with pytest.raises(FileNotFoundError):
        table.read_as_of(spark, run_id=m["run_id"]).count()


def test_sniff_twins_agree_on_every_magic(spark):
    """S2: the JVM column expression and the pure-Python sniffer are
    twins — one battery of crafted payloads covering every magic
    (incl. the AVIF/HEIC/JXL reject-to-error classes and the
    lookalike traps) must classify identically through both.  The
    battery and its expected types are written by hand, not derived
    from ``SIGNATURES``, so they check the table itself: it covers every
    family, and every signature cut short by one byte sniffs html."""
    from ocr_gpu_services_spark.core.sniff import (SIGNATURES,
                                                   signature_family,
                                                   sniff_content_type)
    from ocr_gpu_services_spark.operators.sniff import content_type_col

    battery = [
        (b"%PDF-1.7 stub", "pdf"),
        (b"\x89PNG\r\n\x1a\n" + b"\x00" * 8, "image"),
        (b"\xff\xd8\xff\xe0JFIF", "image"),
        (b"II*\x00" + b"\x00" * 8, "image"),
        (b"MM\x00*" + b"\x00" * 8, "image"),
        (b"GIF87a" + b"\x00" * 8, "image"),
        (b"GIF89a" + b"\x00" * 8, "image"),
        (b"BM" + b"\x00" * 12 + b"\x28\x00\x00\x00" + b"\x00" * 8, "image"),
        (b"BMoving text, not a bitmap", "html"),  # BM without DIB header
        (b"RIFF\x10\x00\x00\x00WEBPVP8L\x00\x00\x00\x00", "image"),
        (b"RIFF\x10\x00\x00\x00WAVEdata", "html"),  # RIFF, not WebP
        (b"\x00\x00\x00\x1cftypavif" + b"\x00" * 16, "image"),
        (b"\x00\x00\x00\x18ftypheix" + b"\x00" * 16, "image"),
        (b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16, "html"),  # video
        (b"\xff\x0a" + b"\x11" * 16, "image"),
        (b"\x00\x00\x00\x0cJXL \r\n\x87\n" + b"\x00" * 8, "image"),
        (b"<html><body>hi</body></html>", "html"),
        (b"", "text"),
        (None, "text"),
    ]
    assert {signature_family(p) for p, _ct in battery if p} \
        >= {family for family, _clauses, _ct in SIGNATURES}
    truncated = [
        b"%PDF",
        b"\x89PNG\r\n\x1a",
        b"\xff\xd8",
        b"II*",
        b"MM\x00",
        b"GIF87",
        b"GIF89",
        b"BM" + b"\x00" * 12 + b"\x28\x00\x00",
        b"RIFF\x10\x00\x00\x00WEB",
        b"\x00\x00\x00\x1cftypavi",
        b"\xff",
        b"\x00\x00\x00\x0cJXL \r\n\x87",
    ]
    battery += [(p, "html") for p in truncated]
    rows = [(k, p, "txt" if p in (b"", None) else None)
            for k, (p, _ct) in enumerate(battery)]
    df = spark.createDataFrame(rows, "k int, html binary, text string") \
        .withColumn("ct", content_type_col())
    got = {r["k"]: r["ct"] for r in df.collect()}
    for k, (p, expect) in enumerate(battery):
        want = sniff_content_type(p, "txt" if p in (b"", None) else None)
        assert got[k] == want == expect, \
            (k, p[:16] if p else p, got[k], want, expect)
