"""Benchmark of the extraction engine on Spark local[nproc].

  env SPARK_DRIVER_MEM=2g python3 perfbench/run.py \
      --workload crawl_mix --seed 1 --seconds 20 --trace 0

Closed loop: one job at a time from this single driver process, with
``get_spark`` defaults on ``local[nproc]``.  Inputs come from ``--seed``
(perfbench/inputs.py) and are generated before any timing.  The last
stdout line is one JSON object: ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` (a separate process, since Spark
configs are fixed at ``getOrCreate``) the per-layer ones; the traced run
also writes its full metric set to ``.perfbench_work/trace-*.json``.
``setup_s`` is the process's cold set-up: imports, JVM, ``get_spark`` and
the Python workers spawned with the atlas loaded.  Every process the run
starts is stopped and waited for before it exits.

Workloads:
  crawl_mix   ``run_job`` (scan -> rebalance -> kernel -> classification ->
              partitioned write + manifests) over the full codec mix.
  corpus_ops  5 registry queries (dedup, text, vector and relational
              families) over seeded TPC-H-like tables, each ending in an
              order-independent digest of its result.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")

MIN_ROUNDS = 2    # ladder rounds per traced run
# Timed passes per run: two, and a third when the first two took less than
# --seconds.  The median of three drops the first pass, which the JIT still
# slows, and one pass a busy host slowed; a slow host keeps to two, so a run
# stays within the benchmark's time budget.
MIN_PASSES, MAX_PASSES = 2, 3
# The registry queries corpus_ops runs: every family, each JVM-side operator
# module (dedup, textstats, ann, boxes) and the ROADMAP's perf leaves, sized
# so a warm-up pass and two timed passes fit one run.
FAMILIES = {
    "dedup": ["dup_clusters"],
    "text": ["perplexity_filter"],
    "vector": ["dedup_embedding"],
    "relational": ["window_topk", "detect_threshold"],
}
OPS_QUERIES = [q for qs in FAMILIES.values() for q in qs]


def median(v):
    return statistics.median(v) if v else 0.0


def timed_passes(seconds: float, one_pass) -> list[float]:
    """Wall seconds of each pass; also prints the CPU time the host took
    from this machine during each pass (steal, per CPU), which tells a slow
    host apart from a slow program."""
    import procs
    walls, steals = [], []
    end = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or (
            len(walls) < MAX_PASSES and time.perf_counter() < end):
        st = procs.steal_s()
        t = time.perf_counter()
        one_pass(len(walls))
        walls.append(time.perf_counter() - t)
        steals.append((procs.steal_s() - st) / os.cpu_count())
    print("pass walls s:", [round(w, 3) for w in walls])
    print("pass steal s per cpu:", [round(w, 3) for w in steals])
    return walls


class Engine:
    """Starts, warms and stops the Spark session of one benchmark process."""

    def __init__(self, work: str, event_log: str | None):
        self.extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.environ["TMPDIR"],
        }
        if event_log:
            self.extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"})
        self.spark = None

    def start(self) -> float:
        """Session up and Python workers spawned with the atlas loaded;
        returns its wall seconds."""
        from ocr_gpu_services_spark.operators.extract_kernel import (
            extract_arrow)
        from ocr_gpu_services_spark.session import get_spark
        from inputs import nproc
        t = time.perf_counter()
        self.spark = get_spark(cores=nproc(), extra=self.extra)
        warm = self.spark.range(nproc()).selectExpr(
            "cast(id as string) url", "timestamp'2024-03-01' warc_ts",
            "cast(null as binary) html", "'warm up' text")
        extract_arrow(warm).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def stop(self) -> None:
        """Stop the session and wait for its JVM; its Python daemon and
        workers exit after it and are waited for by ``procs.stop_all``."""
        from pyspark import SparkContext
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()   # the JVM exits when its stdin closes
        gw.proc.wait(timeout=120)


def worker_peak_rss_mb() -> float:
    import procs
    return max([procs.peak_rss_mb(p) for p in procs.python_workers()],
               default=0.0)


# -- crawl_mix -----------------------------------------------------------------

def _identity_kernel(batches):
    """Ladder rung 3: take every batch the JVM hands over, return none."""
    import pyarrow as pa

    from ocr_gpu_services_spark.operators.extract_kernel import (
        OUT_SCHEMA_ARROW)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([], schema=OUT_SCHEMA_ARROW)


def rung_plan(spark, corpus: str, k: int):
    """Plan prefix k of the extraction job (k = 1..5; 6 is run_job)."""
    from ocr_gpu_services_spark.functions.classify import with_classification
    from ocr_gpu_services_spark.operators.extract_kernel import (
        OUT_SCHEMA_DDL, extract_arrow)
    from ocr_gpu_services_spark.operators.rebalance import rebalance_by_size
    from ocr_gpu_services_spark.sources.pages import read_pages
    df = read_pages(spark, corpus)
    if k == 1:
        return df
    df = rebalance_by_size(df)
    if k == 2:
        return df
    if k == 3:
        return df.select("url", "warc_ts", "html", "text").mapInArrow(
            _identity_kernel, OUT_SCHEMA_DDL)
    df = extract_arrow(df)
    return df if k == 4 else with_classification(df)


class CrawlMix:
    def __init__(self, args, work: str):
        import pyarrow.parquet as pq

        import inputs
        self.args = args
        self.corpus = inputs.crawl_mix(args.seed)
        if args.smoke:
            self.corpus = os.path.join(self.corpus, "part-00000.parquet")
        self.table = pq.read_table(self.corpus)
        self.out = os.path.join(work, f"out-{os.getpid()}")

    def job(self, spark, tag: str, corpus: str | None = None) -> dict:
        from ocr_gpu_services_spark.plans.extract_job import run_job
        from ocr_gpu_services_spark.sources.pages import read_pages
        return run_job(spark, read_pages(spark, corpus or self.corpus),
                       os.path.join(self.out, tag), tag)

    def warm_up(self, spark) -> None:
        """One untimed job over the first input shard: JIT, codegen and
        worker caches, at an eighth of a pass."""
        t = time.perf_counter()
        first = self.corpus if self.args.smoke else os.path.join(
            self.corpus, "part-00000.parquet")
        self.job(spark, "warm", first)
        print(f"warm-up s: {time.perf_counter() - t:.3f}")

    def measure(self, spark) -> tuple[dict, list[str], int]:
        import checks
        self.warm_up(spark)
        results = []

        def one_pass(k):
            results.append(self.job(spark, f"p{k}"))
        walls = timed_passes(self.args.seconds, one_pass)
        rss = worker_peak_rss_mb()
        n = self.table.num_rows
        last = results[-1]
        t = time.perf_counter()
        problems, digest = checks.check_extraction(
            spark, os.path.join(self.out, f"p{len(walls) - 1}"),
            self.table.to_pylist(), self.args.seed)
        print(f"check s: {time.perf_counter() - t:.3f}")
        print(f"crawl_mix digest sha256(sorted url,text) {digest}")
        if last["rows_out"] != n:
            problems.append(f"rows_out {last['rows_out']} != {n}")
        m = {"docs_per_s": n / median(walls),
             "ok_ratio": 1.0 - last["rows_err"] / n,
             "worker_peak_rss_mb": rss}
        return m, problems, n * len(walls)

    def traced(self, spark) -> tuple[dict, list[str], int]:
        import procs
        import tracing
        from ocr_gpu_services_spark.operators.rebalance import BIG_THRESHOLD
        self.warm_up(spark)
        walls: dict[int, list[float]] = {k: [] for k in range(1, 7)}
        worker_cpu = []
        end = time.perf_counter() + self.args.seconds
        rnd = 0
        while rnd < MIN_ROUNDS or time.perf_counter() < end:
            for k in range(1, 7):
                spark.sparkContext.setJobDescription(f"rung{k}")
                t = time.perf_counter()
                if k < 6:
                    (rung_plan(spark, self.corpus, k).write.format("noop")
                     .mode("overwrite").save())
                else:
                    before = {p: procs.cpu_s(p) for p in procs.python_workers()}
                    self.job(spark, f"r{rnd}")
                    worker_cpu.append(sum(
                        procs.cpu_s(p) - before.get(p, 0.0)
                        for p in procs.python_workers()))
                walls[k].append(time.perf_counter() - t)
            rnd += 1
        spark.sparkContext.setJobDescription(None)
        self.rounds = rnd
        last_out = os.path.join(self.out, f"r{rnd - 1}")
        files = [os.path.join(d, f) for d, _s, fs in os.walk(last_out)
                 for f in fs if f.endswith(".parquet")]
        out_bytes = sum(os.path.getsize(f) for f in files)
        med = {k: median(v) for k, v in walls.items()}
        disk = sum(os.path.getsize(os.path.join(d, f))
                   for d, _s, fs in os.walk(self.corpus)
                   for f in fs) if os.path.isdir(self.corpus) \
            else os.path.getsize(self.corpus)
        rows = self.table.to_pylist()
        big = sum(1 for r in rows
                  if len(r["html"] or b"") + len((r["text"] or "").encode())
                  > BIG_THRESHOLD)
        m = {
            "pages.scan_s": med[1],
            "pages.input_mb": disk / 1e6,
            "rebalance.delta_s": med[2] - med[1],
            "rebalance.big_rows": big,
            "extract_kernel.handoff_s": med[3] - med[2],
            "extract_kernel.kernel_s": med[4] - med[3],
            "classify.delta_s": med[5] - med[4],
            "table.write_delta_s": med[6] - med[5],
            "table.files": len(files),
            "table.bytes_mb": out_bytes / 1e6,
            "table.bytes_per_input_byte": out_bytes / disk,
            "python_workers.cpu_s": median(worker_cpu),
            "ladder.full_job_s": med[6],
        }
        extras = {"rung_walls_s": walls, "input_bytes": disk}
        t = time.perf_counter()
        split = tracing.kernel_split([(r["html"], r["text"]) for r in rows])
        extras["kernel_split_wall_s"] = time.perf_counter() - t
        m.update(split)
        top = tracing.top_substages(split)
        print("crawl_mix top kernel sub-stages by self time: "
              + ", ".join(f"{k} {v:.3f}s" for k, v in top))
        extras["top_substages"] = top
        self.extras = extras
        return m, [], len(rows) * rnd

    def from_event_log(self, stats: dict, rounds: int, events) -> dict:
        import tracing
        s6, s4, s2 = (stats.get(f"rung{k}", {}) for k in (6, 4, 2))
        durs = sorted(s4.get("py_task_s", []))
        p50 = median(durs)
        scanned = tracing.scan_bytes(events, os.path.basename(self.corpus))
        self.extras["scan_bytes"] = scanned
        return {
            "pages.read_amplification":
                scanned.get("rung6", 0) / rounds / self.extras["input_bytes"],
            "rebalance.shuffle_write_mb":
                s2.get("shuffle_write_bytes", 0) / rounds / 1e6,
            "extract_kernel.to_python_mb":
                s4.get("to_python_bytes", 0) / rounds / 1e6,
            "extract_kernel.from_python_mb":
                s4.get("from_python_bytes", 0) / rounds / 1e6,
            "extract_kernel.task_p50_s": p50,
            "extract_kernel.task_max_s": durs[-1] if durs else 0.0,
            "extract_kernel.task_skew": durs[-1] / p50 if p50 else 0.0,
            **spark_totals([s6], rounds),
        }

    def close(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


def spark_totals(stats: list[dict], passes: int) -> dict:
    def tot(key):
        return sum(s.get(key, 0) for s in stats) / passes
    return {"spark.tasks": tot("tasks"),
            "spark.failed_tasks": tot("failed_tasks"),
            "spark.gc_s": tot("gc_s"),
            "spark.spill_mb": tot("spill_bytes") / 1e6,
            "spark.shuffle_read_mb": tot("shuffle_read_bytes") / 1e6}


# -- corpus_ops ----------------------------------------------------------------

class CorpusOps:
    def __init__(self, args, work: str):
        import inputs
        self.args = args
        self.dir = inputs.corpus_ops(args.seed)
        self.extras = {}

    def _pass(self, spark, tagged: bool, scanned: list | None = None
              ) -> tuple[dict, dict]:
        """Every query once, each ending in its result digest; returns
        (seconds, digest) per query and, untimed, adds the files each query
        scans to ``scanned``."""
        import checks
        from ocr_gpu_services_spark.plans.queries import QUERIES
        secs, digests = {}, {}
        for n in OPS_QUERIES:
            if tagged:
                spark.sparkContext.setJobDescription(f"query:{n}")
            t = time.perf_counter()
            df = QUERIES[n](spark, self.dir)
            digests[n] = checks.result_digest(df)
            secs[n] = time.perf_counter() - t
            if scanned is not None:
                scanned.extend(df.inputFiles())
        spark.sparkContext.setJobDescription(None)
        return secs, digests

    def _run(self, spark, tagged: bool):
        # an untimed pass warms the JIT and codegen caches; its digests are
        # the reference the timed passes must repeat
        import pyarrow.parquet as pq
        t = time.perf_counter()
        scanned: list[str] = []
        digests = [self._pass(spark, tagged=False, scanned=scanned)[1]]
        print(f"warm-up s: {time.perf_counter() - t:.3f}")
        # table rows the queries read, counted from their scan files
        self.rows_read = sum(
            pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
            for f in scanned)
        times: dict[str, list[float]] = {n: [] for n in OPS_QUERIES}

        def one_pass(_k):
            secs, dig = self._pass(spark, tagged)
            for n, s in secs.items():
                times[n].append(s)
            digests.append(dig)
        walls = timed_passes(self.args.seconds, one_pass)
        print("query walls s:", json.dumps(
            {n: [round(x, 3) for x in v] for n, v in times.items()}))
        for n in OPS_QUERIES:
            print(f"corpus_ops digest {n} {digests[0][n]}")
        problems = [f"{n}: digest {digests[0][n]} then {d[n]}"
                    for d in digests[1:] for n in OPS_QUERIES
                    if d[n] != digests[0][n]]
        return times, walls, problems

    def measure(self, spark) -> tuple[dict, list[str], int]:
        times, walls, problems = self._run(spark, tagged=False)
        m = {"docs_per_s": self.rows_read / median(walls),
             "ok_ratio": 1.0 - len({p.split(":")[0] for p in problems})
             / len(OPS_QUERIES),
             "worker_peak_rss_mb": worker_peak_rss_mb()}
        return m, problems, len(OPS_QUERIES) * len(walls)

    def traced(self, spark) -> tuple[dict, list[str], int]:
        import procs
        before = {p: procs.cpu_s(p) for p in procs.python_workers()}
        times, walls, problems = self._run(spark, tagged=True)
        self.rounds = len(walls)
        m = {f"query.{n}_s": median(v) for n, v in times.items()}
        for fam, qs in FAMILIES.items():
            m[f"ops.{fam}_s"] = sum(m[f"query.{n}_s"] for n in qs)
        # per pass; the untimed warm-up pass does the same work
        m["python_workers.cpu_s"] = sum(
            procs.cpu_s(p) - before.get(p, 0.0)
            for p in procs.python_workers()) / (self.rounds + 1)
        self.extras = {"query_times_s": times}
        return m, problems, len(OPS_QUERIES) * len(walls)

    def from_event_log(self, stats: dict, rounds: int, _events) -> dict:
        per = [stats.get(f"query:{n}", {}) for n in OPS_QUERIES]
        m = {f"query.{n}.shuffle_mb":
             s.get("shuffle_write_bytes", 0) / rounds / 1e6
             for n, s in zip(OPS_QUERIES, per)}
        m.update(spark_totals(per, rounds))
        return m

    def close(self) -> None:
        pass


WORKLOADS = {"crawl_mix": CrawlMix, "corpus_ops": CorpusOps}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimal inputs and one set-up (perfbench/smoke.py)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_gpu_services_spark")):
        print("perfbench: ocr_gpu_services_spark/ not found beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)

    sys.path.insert(0, ROOT)
    import inputs  # noqa: E402  (needs ROOT on sys.path)
    work = inputs.WORK
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM (the launcher included) writes its perf data under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import pyspark.sql  # noqa: F401,E402

    import ocr_gpu_services_spark.plans.extract_job  # noqa: F401,E402
    import ocr_gpu_services_spark.plans.queries  # noqa: F401,E402
    import_s = time.perf_counter() - T0

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](args, work)   # inputs: untimed
    phases = {"imports": import_s, "inputs": time.perf_counter() - t}
    event_log = None
    if args.trace:
        event_log = os.path.join(work, f"eventlog-{os.getpid()}")
        os.makedirs(event_log)
    eng = Engine(work, event_log)
    try:
        cold_s = phases["setup"] = import_s + eng.start()
        if args.trace:
            m, problems, attempted = wl.traced(eng.spark)
            m["setup.cold_s"] = cold_s
        else:
            t = time.perf_counter()
            m, problems, attempted = wl.measure(eng.spark)
            phases["measure"] = time.perf_counter() - t
            m["setup_s"] = cold_s
    finally:
        t = time.perf_counter()
        if eng.spark is not None:
            eng.stop()
        wl.close()
        phases["stop"] = time.perf_counter() - t
    print("phase walls s:", json.dumps(phases))
    if args.trace:
        import tracing
        events = tracing.read_event_log(event_log)
        shutil.rmtree(event_log)
        stats = tracing.job_stats(events)
        m.update(wl.from_event_log(stats, wl.rounds, events))
        wl.extras["event_log"] = stats
        names = spec["per_layer"]
        with open(os.path.join(
                work, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": m, "extras": wl.extras}, f, indent=1,
                      sort_keys=True, default=str)
    else:
        names = spec["end_to_end"]
    if args.smoke:
        print("computed: " + json.dumps(sorted(m)))
    for p in problems:
        print("CHECK FAILED:", p)
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": 0,
        "metrics": {d["name"]: {"value": float(m.get(d["name"], 0.0)),
                                "unit": d["unit"]} for d in names}}))
    return 0


if __name__ == "__main__":
    import signal

    import procs
    procs.adopt_orphans()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = main()
    finally:
        procs.stop_all()
    sys.exit(rc)
