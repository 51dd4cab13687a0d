"""Traced-run instruments: the driver-side span tracer for the ``core``
split, and the Spark event-log parser.

Spans are recorded by wrapping public ``core`` functions at module
attribute level, in the benchmark process only; Spark's Python workers
never see the wrappers.  Times are ``time.thread_time`` (CPU of the one
driver thread that runs the kernel), so other load on the host does not
enter them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

from ocr_gpu_services_spark.core import (barcode, components, extract,
                                         glyph_ocr, image_page, qrcode)
from ocr_gpu_services_spark.core.sniff import probe_image_format

ROUTES = ("html", "pdf", "image", "text", "unknown")
DECODE_FORMATS = ("png", "jpeg", "jpeg_prog", "webp_vp8", "webp_vp8l", "gif",
                  "tiff", "bmp")
# (module, attribute, span name); the name is the metric stem
WRAPPED = [
    (extract, "sniff_content_type", "sniff"),
    (extract, "extract_html", "html_extract"),
    (extract, "extract_pdf", "pdf_extract_self"),
    (extract, "process_image_page", "image_page.self"),
    (image_page, "process_image_page", "image_page.self"),
    (extract, "extract_text_branch", "text_branch"),
    (extract, "classify_text", "classify_text"),
    (image_page, "deskew", "image_page.deskew"),
    (image_page, "ocr_page", "image_page.ocr"),
    (glyph_ocr, "orientation_score", "image_page.orientation"),
    (components, "connected_components_with_runs", "image_page.components"),
    (qrcode, "try_decode_region", "image_page.qr"),
    (barcode, "try_decode_region", "image_page.barcode"),
]
SUBSTAGES = sorted({name for _m, _a, name in WRAPPED})


def decode_family(payload: bytes) -> str:
    fmt = probe_image_format(payload) or "unknown"
    if fmt.startswith("jpeg-prog"):
        return "jpeg_prog"
    if fmt.startswith("webp-vp8l"):
        return "webp_vp8l"
    if fmt.startswith("webp-vp8"):
        return "webp_vp8"
    return fmt.split("-")[0]


class SpanTracer:
    """Records (name, start, end, parent) spans around wrapped callables."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.mpix: dict[str, float] = defaultdict(float)

    def span(self, name: str, fn, *args, **kw):
        idx = len(self.spans)
        self.spans.append([name, time.thread_time(), 0.0,
                           self._stack[-1] if self._stack else -1])
        self._stack.append(idx)
        try:
            return fn(*args, **kw)
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.thread_time()

    def _wrap(self, name, fn):
        def traced(*args, **kw):
            return self.span(name, fn, *args, **kw)
        return traced

    def _wrap_decode(self, fn):
        def traced(payload):
            fam = decode_family(payload)
            img = self.span(f"decode_image.{fam}", fn, payload)
            self.mpix[fam] += img.shape[0] * img.shape[1] / 1e6
            return img
        return traced

    def install(self) -> None:
        for mod, attr, name in WRAPPED:
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(name, fn))
        self._saved.append((extract, "decode_image", extract.decode_image))
        extract.decode_image = self._wrap_decode(extract.decode_image)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for (name, t0, t1, _p), c in zip(self.spans, child):
            out[name] += t1 - t0 - c
        return out


def kernel_split(payloads: list[tuple[bytes | None, str | None]]) -> dict:
    """Run ``extract_document`` over every row single-threaded in this
    process with spans on; returns the ``core.*`` metrics."""
    extract.get_atlas()
    tr = SpanTracer()
    tr.install()
    per_route: dict[str, list[float]] = {r: [] for r in ROUTES}
    try:
        for payload, text in payloads:
            t0 = time.thread_time()
            ct = tr.span("doc", extract.extract_document, payload, text)[0]
            per_route[ct].append(time.thread_time() - t0)
    finally:
        tr.uninstall()
    m: dict[str, float] = {}
    every = sorted((c for v in per_route.values() for c in v), reverse=True)
    total = sum(every)
    for r in ROUTES:
        v = sorted(per_route[r])
        m[f"core.{r}.docs"] = len(v)
        m[f"core.{r}.cpu_s"] = sum(v)
        m[f"core.{r}.p50_ms"] = 1e3 * statistics.median(v) if v else 0.0
        m[f"core.{r}.p99_ms"] = 1e3 * v[min(len(v) - 1,
                                            int(0.99 * len(v)))] if v else 0.0
        m[f"core.{r}.max_ms"] = 1e3 * v[-1] if v else 0.0
    m["core.cpu_ms_per_doc"] = 1e3 * total / max(1, len(every))
    top = every[:max(1, len(every) // 100)]
    m["core.top1pct_cpu_share"] = sum(top) / total if total else 0.0
    selfs = tr.self_times()
    for name in SUBSTAGES:
        m[f"core.{name}_s"] = selfs.get(name, 0.0)
    for fam in DECODE_FORMATS:
        s = selfs.get(f"decode_image.{fam}", 0.0)
        m[f"core.decode_image.{fam}_s"] = s
        mp = tr.mpix.get(fam, 0.0)
        m[f"core.decode_image.{fam}_ms_per_mpix"] = 1e3 * s / mp if mp else 0.0
    return m


def top_substages(m: dict, k: int = 3) -> list[tuple[str, float]]:
    keys = [f"core.{n}_s" for n in SUBSTAGES] + \
           [f"core.decode_image.{f}_s" for f in DECODE_FORMATS]
    return sorted(((key, m[key]) for key in keys), key=lambda kv: -kv[1])[:k]


# -- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the uncompressed, unrolled logs under ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _acc(stage_info: dict, name: str) -> float:
    total = 0.0
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                total += float(a.get("Value", 0))
            except (TypeError, ValueError):
                pass
    return total


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def scan_bytes(events: list[dict], location: str) -> dict[str, float]:
    """Per job description: the ``size of files read`` of every file scan
    whose location contains ``location`` (task input metrics undercount
    parquet reads, so the scan node's SQL metric is used)."""
    exec_desc: dict[int, str] = {}
    acc_desc: dict[int, str] = {}
    out: dict[str, float] = defaultdict(float)
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            exec_desc[e["executionId"]] = e.get("description", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            desc = exec_desc.get(e["executionId"], "")
            for node in _plan_nodes(e["sparkPlanInfo"]):
                if location in str(node.get("metadata", {}).get("Location")):
                    for m in node.get("metrics", []):
                        if m["name"] == "size of files read":
                            acc_desc[m["accumulatorId"]] = desc
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                if acc in acc_desc:
                    out[acc_desc[acc]] += value
    return out


def job_stats(events: list[dict]) -> dict[str, dict]:
    """Per job description: task counts, GC, spill, shuffle and the task
    durations of the stages that feed Python workers."""
    stage_desc: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            if desc:
                for sid in e.get("Stage IDs", []):
                    stage_desc[sid] = desc
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    py_tasks: dict[str, list[float]] = defaultdict(list)
    py_stages: set[int] = set()
    for e in events:
        if e.get("Event") == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            desc = stage_desc.get(info["Stage ID"])
            if desc is None:
                continue
            sent = _acc(info, "data sent to Python workers")
            if sent:
                py_stages.add(info["Stage ID"])
                out[desc]["to_python_bytes"] += sent
                out[desc]["from_python_bytes"] += _acc(
                    info, "data returned from Python workers")
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        desc = stage_desc.get(e["Stage ID"])
        if desc is None:
            continue
        d = out[desc]
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        d["tasks"] += 1
        d["failed_tasks"] += 1 if info.get("Failed") else 0
        d["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        d["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) \
            + tm.get("Memory Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        d["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) \
            + sr.get("Local Bytes Read", 0)
        d["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                     ).get("Shuffle Bytes Written", 0)
        if e["Stage ID"] in py_stages:
            py_tasks[desc].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
    for desc, durs in py_tasks.items():
        out[desc]["py_task_s"] = durs
    return out
