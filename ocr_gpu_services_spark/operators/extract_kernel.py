"""The Arrow-batched extraction kernel (operators S3/S4/U1/U2 analogues).

``mapInArrow`` over (url, warc_ts, html, text) -> extraction output columns.
Architecture mirrors what the north rule demands of the reference's GPU
inner loop (/root/reference/src/infrastructure/services/ocr_service.py:13-43):

* per-partition model load: the glyph atlas ('model weights') is built once
  per Python worker in the generator prologue, and
  ``spark.python.worker.reuse`` keeps it warm across tasks — the Spark
  analogue of the reference's process-level singletons
  (/root/reference/src/api/v1/dependencies.py:8-20)
* micro-batching by BYTES, not rows: an input Arrow batch is re-chunked so
  no output batch holds more than ~MAX_BATCH_BYTES of payload — a mega-page
  can never blow up worker memory (SURVEY.md §7.3 item 4)
* no per-row Python *control flow* outside the kernel: Spark sees one
  vectorized Arrow exchange; inside, image rows are matched as one tensor
  op per page (core/glyph_ocr.py), html/pdf rows are inherently
  per-document parses (same as any real extraction engine's inner loop)
* per-row errors degrade to the ``error`` column (never a task failure),
  mirroring the reference's catch-and-degrade services
  (optional_services.py:78-80)

The kernel runs ``core.extract.extract_route``, which the golden oracle
runs too — byte-identity across parallelism levels is structural.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from ..core.extract import extract_route, get_atlas

MAX_BATCH_BYTES = 32 * 1024 * 1024

SPAN_TYPE = pa.struct([
    ("text", pa.string()), ("conf", pa.float64()),
    ("x0", pa.float64()), ("y0", pa.float64()),
    ("x1", pa.float64()), ("y1", pa.float64()),
    ("kind", pa.string()),
])

OUT_SCHEMA_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("content_type", pa.string()),
    ("extracted_text", pa.string()),
    ("spans", pa.list_(SPAN_TYPE)),
    ("error", pa.string()),
])

OUT_SCHEMA_DDL = (
    "url string, warc_ts timestamp, content_type string, "
    "extracted_text string, "
    "spans array<struct<text:string,conf:double,x0:double,y0:double,"
    "x1:double,y1:double,kind:string>>, "
    "error string"
)


def _chunks_by_bytes(batch: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
    """Split an input batch so each chunk carries <= MAX_BATCH_BYTES of
    payload (always >= 1 row)."""
    import pyarrow.compute as pc
    html = batch.column(batch.schema.get_field_index("html"))
    text = batch.column(batch.schema.get_field_index("text"))
    # count BOTH payload columns: text-route rows carry html=NULL with
    # the payload in `text`, and counting only html would leave a batch
    # of mega text rows unsplit — exactly the blowup this cap prevents
    # binary_length on BOTH columns: it returns UTF-8 byte length for
    # string arrays, while utf8_length counts CHARACTERS — non-ASCII
    # text payloads undercounted up to 4x against the byte cap
    sizes = pc.add(
        pc.coalesce(pc.binary_length(html), 0),
        pc.coalesce(pc.binary_length(text), 0)).to_pylist()
    start, acc = 0, 0
    for i, s in enumerate(sizes):
        if acc + s > MAX_BATCH_BYTES and i > start:
            yield batch.slice(start, i - start)
            start, acc = i, 0
        acc += s
    if start < batch.num_rows:
        yield batch.slice(start, batch.num_rows - start)


def _extract_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    get_atlas()  # model load: once per worker, before the first batch
    ts_type = OUT_SCHEMA_ARROW.field("warc_ts").type
    for batch in it:
        for chunk in _chunks_by_bytes(batch):
            idx = chunk.schema.get_field_index
            # passthrough columns stay Arrow buffers end-to-end (zero-copy;
            # per-row .as_py() of 10^12 urls/timestamps would cost more
            # than the extraction itself)
            url_col = chunk.column(idx("url"))
            ts_col = chunk.column(idx("warc_ts"))
            if ts_col.type != ts_type:  # tz-aware us -> naive us, same tick
                ts_col = ts_col.cast(ts_type)
            # payload columns: one vectorized C conversion, not N as_py()
            payloads = chunk.column(idx("html")).to_pylist()
            pre_texts = chunk.column(idx("text")).to_pylist()
            cts, texts, errs = [], [], []
            # spans built columnar (flat field lists + list offsets): one
            # StructArray/ListArray construction per chunk instead of
            # N_rows x N_spans python dict conversions
            offs = [0]
            s_text, s_conf = [], []
            s_x0, s_y0, s_x1, s_y1, s_kind = [], [], [], [], []
            for payload, pre_text in zip(payloads, pre_texts):
                # no doc-type classification here: the pipeline runs it
                # JVM-side (operator A1, functions/classify.py)
                ct, text, spans, error = extract_route(payload, pre_text)
                cts.append(ct)
                texts.append(text)
                errs.append(error)
                for s in spans:
                    s_text.append(s.text); s_conf.append(s.conf)
                    s_x0.append(s.x0); s_y0.append(s.y0)
                    s_x1.append(s.x1); s_y1.append(s.y1)
                    s_kind.append(s.kind)
                offs.append(len(s_text))
            struct = pa.StructArray.from_arrays(
                [pa.array(s_text, pa.string()),
                 pa.array(s_conf, pa.float64()),
                 pa.array(s_x0, pa.float64()), pa.array(s_y0, pa.float64()),
                 pa.array(s_x1, pa.float64()), pa.array(s_y1, pa.float64()),
                 pa.array(s_kind, pa.string())],
                fields=list(SPAN_TYPE))
            spans_arr = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), struct)
            yield pa.RecordBatch.from_arrays(
                [url_col, ts_col,
                 pa.array(cts, pa.string()),
                 pa.array(texts, pa.string()),
                 spans_arr,
                 pa.array(errs, pa.string())],
                schema=OUT_SCHEMA_ARROW)


def extract_arrow(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, ...) -> extracted columns."""
    return (pages.select("url", "warc_ts", "html", "text")
                 .mapInArrow(_extract_batches, OUT_SCHEMA_DDL))
