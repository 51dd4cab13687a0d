"""IcebergLikeTable: partitioned Parquet + per-partition JSON manifests +
exact resume (SURVEY.md §7.0, §7.5 — explicit substitution for the Iceberg
runtime jar, which this container lacks; the layout is Hive-partitioned so
Spark partition discovery gives real partition pruning).

Commit protocol per partition value (e.g. ``warc_day=2024-03-04``):
1. Spark writes the partition directory (dynamic partition overwrite)
2. the driver fsyncs a manifest ``_manifests/<part>.json`` with the file
   list, byte sizes, and row count (summed from the files' parquet
   footers), via tmp-file + atomic ``os.replace``

The manifest is the commit point: a killed run leaves either no manifest
(partition will be rewritten on resume — idempotent overwrite) or a complete
one (partition is skipped).  This is the batch analogue of the reference's
stateless retry-per-request model (supervisord autorestart / startretries=3)
and satisfies the north rule's "killed run resumes exactly".
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class IcebergLikeTable:
    def __init__(self, path: str, partition_col: str = "warc_day"):
        self.path = path
        self.partition_col = partition_col
        self.manifest_dir = os.path.join(path, "_manifests")

    # -- manifest bookkeeping ------------------------------------------------
    def committed_partitions(self) -> set[str]:
        if not os.path.isdir(self.manifest_dir):
            return set()
        return {f[:-5] for f in os.listdir(self.manifest_dir)
                if f.endswith(".json")}

    def _write_manifest(self, part_value: str, run_id: str,
                        files: list[str] | None = None) -> int:
        """Commit the manifest of one partition directory (default: every
        parquet file in it) and return its row count, the sum of the
        files' footer ``num_rows``: no Spark job reads the data back."""
        part_dir = os.path.join(self.path, f"{self.partition_col}={part_value}")
        if files is None:
            files = sorted(f for f in os.listdir(part_dir)
                           if f.endswith(".parquet"))
        rows = sum(pq.read_metadata(os.path.join(part_dir, f)).num_rows
                   for f in files)
        manifest = {
            "partition": f"{self.partition_col}={part_value}",
            "files": [{"name": f,
                       "bytes": os.path.getsize(os.path.join(part_dir, f))}
                      for f in files],
            "row_count": rows,
            "run_id": run_id,
            "committed_at_unix": time.time(),
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".{part_value}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.manifest_dir, f"{part_value}.json"))
        return rows

    # -- write with resume -----------------------------------------------------
    def write(self, df: DataFrame, run_id: str) -> dict:
        """Write df partitioned by ``partition_col`` and commit manifests for
        every partition directory that lacks one.  The caller prunes
        already-committed partitions from ``df``'s SOURCE (below the kernel)
        so resume skips the expensive work, not just the write.

        The single .write is the only materialization of the lineage; the
        manifests' row counts come from the parquet footers of the files
        each one lists.  Returns {partition_value: row_count} committed
        now."""
        pc = self.partition_col
        done = self.committed_partitions()
        (df.write.mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(pc).parquet(self.path))
        on_disk = {d.split("=", 1)[1] for d in os.listdir(self.path)
                   if d.startswith(pc + "=")}
        return {part_value: self._write_manifest(part_value, run_id)
                for part_value in sorted(on_disk - done)}

    # -- read ---------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        """Committed-snapshot read.  When manifests exist the scan covers
        exactly the current manifests' file lists (Iceberg-style planning:
        uncommitted or superseded files are invisible, so a compaction in
        flight can never double-count, and a half-compacted partition
        fails LOUDLY on its missing file instead of silently narrowing —
        read_as_of still resolves that generation via the _archive
        fallback).  Manifest-less layouts fall back to a directory scan."""
        sel = self.manifests()
        if not sel:
            return spark.read.parquet(self.path)
        paths, missing = [], []
        for m in sel:
            for fi in m["files"]:
                p = os.path.join(self.path, m["partition"], fi["name"])
                (paths if os.path.exists(p) else missing).append(p)
        if missing:
            raise FileNotFoundError(
                f"committed files missing from live partitions (crashed "
                f"compaction? see _archive): "
                f"{missing[:3]}{' ...' if len(missing) > 3 else ''}")
        return spark.read.option("basePath", self.path).parquet(*paths)

    def manifests(self) -> list[dict]:
        """All committed partition manifests, sorted by commit time."""
        out = []
        for part in self.committed_partitions():
            with open(os.path.join(self.manifest_dir, part + ".json")) as f:
                out.append(json.load(f))
        return sorted(out, key=lambda m: m["committed_at_unix"])

    def _history_dir(self, part_value: str) -> str:
        return os.path.join(self.manifest_dir, "history", part_value)

    def _expired_records(self) -> list[dict]:
        p = os.path.join(self.manifest_dir, "expired.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def all_manifests(self) -> list[dict]:
        """Current manifests PLUS archived (pre-compaction) generations,
        ascending by commit time."""
        out = self.manifests()
        hist_root = os.path.join(self.manifest_dir, "history")
        if os.path.isdir(hist_root):
            for part in os.listdir(hist_root):
                pdir = os.path.join(hist_root, part)
                for f in os.listdir(pdir):
                    if f.endswith(".json"):
                        with open(os.path.join(pdir, f)) as fh:
                            out.append(json.load(fh))
        return sorted(out, key=lambda m: m["committed_at_unix"])

    def read_as_of(self, spark: SparkSession, as_of_unix: float = None,
                   run_id: str = None) -> DataFrame:
        """Snapshot read (the Iceberg time-travel analogue over the
        manifest layer): only partitions committed at-or-before
        ``as_of_unix`` — or by the given ``run_id`` — are scanned, and
        ONLY through the exact file lists their manifests recorded.
        Compaction archives the superseded manifest generation and keeps
        the old data files, so snapshots taken before a compaction stay
        exactly readable until ``expire_snapshots`` vacuums them.

        Scope matches the manifest design honestly: partitions this
        table model has since REWRITTEN (dynamic overwrite replaces the
        directory) or whose old generations were EXPIRED no longer hold
        their old files, and the read fails loudly on the missing file
        instead of silently returning the newer data — time travel is
        exact, never approximate."""
        cand = [m for m in self.all_manifests()
                if (as_of_unix is None
                    or m["committed_at_unix"] <= as_of_unix)
                and (run_id is None or m["run_id"] == run_id)]
        latest: dict[str, dict] = {}
        for m in cand:                       # ascending -> last wins
            latest[m["partition"]] = m
        # expiry tombstones: if an EXPIRED generation would have won the
        # latest-per-partition selection for this snapshot, the snapshot
        # is unreconstructable — fail loudly, never silently narrow it
        for e in self._expired_records():
            hit = ((as_of_unix is None
                    or e["committed_at_unix"] <= as_of_unix)
                   and (run_id is None or e["run_id"] == run_id))
            cur = latest.get(e["partition"])
            if hit and (cur is None or
                        cur["committed_at_unix"] < e["committed_at_unix"]):
                raise ValueError(
                    f"snapshot expired: generation {e['run_id']} of "
                    f"{e['partition']} was vacuumed by expire_snapshots")
        sel = list(latest.values())
        if not sel:
            raise ValueError("no committed partitions match the snapshot")
        arch_root = os.path.join(self.path, "_archive")
        paths, arch_paths, missing = [], [], []
        for m in sel:
            for f in m["files"]:
                p = os.path.join(self.path, m["partition"], f["name"])
                pa = os.path.join(arch_root, m["partition"], f["name"])
                if os.path.exists(p):
                    paths.append(p)
                elif os.path.exists(pa):     # superseded by a compaction
                    arch_paths.append(pa)
                else:
                    missing.append(p)
        if missing:
            raise FileNotFoundError(
                f"snapshot files rewritten or expired since commit: "
                f"{missing[:3]}{' ...' if len(missing) > 3 else ''}")
        # basePath keeps the Hive partition column in the projected
        # schema; archived files live under a mirrored Hive layout with
        # their own basePath (underscore dirs are invisible to plain
        # directory reads), so a snapshot spanning both unions cleanly
        parts = []
        if paths:
            parts.append(spark.read.option("basePath", self.path)
                         .parquet(*paths))
        if arch_paths:
            parts.append(spark.read.option("basePath", arch_root)
                         .parquet(*arch_paths))
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        return df

    def total_committed_rows(self) -> int:
        return sum(m["row_count"] for m in self.manifests())

    # -- table maintenance ---------------------------------------------------
    def compact_partition(self, spark: SparkSession, part_value: str,
                          run_id: str,
                          target_bytes: int = 128 << 20) -> dict | None:
        """Small-file compaction (the Iceberg ``rewrite_data_files``
        analogue): coalesce a committed partition's files toward
        ``target_bytes`` each.  At crawl scale every incremental run
        appends a few small files per day-partition; without compaction
        a year-old table scans millions of tiny files and the scheduler,
        not the I/O, becomes the bottleneck.

        Snapshot-safe commit protocol (ordered so read() can never see
        OLD+NEW files together and double-count):
        1. new files are written to a temp dir (invisible: _tmp prefix)
        2. the superseded manifest is archived to
           ``_manifests/history/<part>/`` (fsync + atomic replace)
        3. the OLD data files move OUT to ``_archive/<partition>/`` —
           underscore-prefixed, invisible to directory listing; the
           still-current manifest keeps resolving them via read_as_of's
           archive fallback
        4. the new files move into the partition under distinct
           ``compact-<run_id>-*`` names
        5. the current manifest is atomically swapped to the new file
           list — the manifest is the commit point, exactly as in write()
        A reader holding the old snapshot (read_as_of by time or run_id)
        keeps resolving the archived generation until
        ``expire_snapshots`` vacuums it.  A crash mid-protocol leaves
        either the old manifest current (after step 3 the partition is
        readable only via the archive fallback and read() fails LOUDLY
        on the manifest-vs-directory mismatch; orphaned compact-* files
        are reclaimed by expire_snapshots' live-dir sweep) or the new
        manifest committed — never a silently double-counting table.
        Returns {files_before, files_after, bytes} or None if there is
        nothing to gain."""
        cur = os.path.join(self.manifest_dir, f"{part_value}.json")
        with open(cur) as f:
            man = json.load(f)
        part_dir = os.path.join(self.path, man["partition"])
        files = man["files"]
        total = sum(fi["bytes"] for fi in files)
        n_out = max(1, math.ceil(total / target_bytes))
        if n_out >= len(files):
            return None
        src = [os.path.join(part_dir, fi["name"]) for fi in files]
        tmp = os.path.join(self.path,
                           f"_tmp_compact_{part_value}_{run_id}")
        (spark.read.parquet(*src).coalesce(n_out)
         .write.mode("overwrite").parquet(tmp))
        hist = self._history_dir(part_value)
        os.makedirs(hist, exist_ok=True)
        htmp = os.path.join(hist, f".{man['run_id']}.json.tmp")
        with open(htmp, "w") as f:
            json.dump(man, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(htmp, os.path.join(
            hist, f"{man['run_id']}.{man['committed_at_unix']}.json"))
        arch_dir = os.path.join(self.path, "_archive", man["partition"])
        os.makedirs(arch_dir, exist_ok=True)
        for fi in files:                 # OLD files OUT first (step 3)
            os.replace(os.path.join(part_dir, fi["name"]),
                       os.path.join(arch_dir, fi["name"]))
        new_names = []
        for f in sorted(os.listdir(tmp)):    # NEW files in (step 4)
            if f.endswith(".parquet"):
                name = f"compact-{run_id}-{len(new_names):05d}.parquet"
                os.replace(os.path.join(tmp, f),
                           os.path.join(part_dir, name))
                new_names.append(name)
        shutil.rmtree(tmp)
        self._write_manifest(part_value, run_id, files=new_names)
        return {"files_before": len(files), "files_after": len(new_names),
                "bytes": total}

    def expire_snapshots(self, before_unix: float) -> dict:
        """Vacuum (the Iceberg ``expire_snapshots`` analogue): drop
        archived manifest generations committed before ``before_unix``
        and delete every data file no surviving manifest references —
        reclaiming the space compaction deliberately left behind.  The
        sweep covers both ``_archive/`` AND the live partition dirs of
        manifested partitions, so compact-* files orphaned by a crashed
        compaction (written in but never committed) are reclaimed too.
        Single-writer assumption (same as write()): don't vacuum while
        a write or compaction is in flight.  Returns counts."""
        keep: set[tuple[str, str]] = set()
        for m in self.manifests():
            for fi in m["files"]:
                keep.add((m["partition"], fi["name"]))
        dropped_manifests = 0
        hist_root = os.path.join(self.manifest_dir, "history")
        if os.path.isdir(hist_root):
            for part in os.listdir(hist_root):
                pdir = os.path.join(hist_root, part)
                for f in list(os.listdir(pdir)):
                    fp = os.path.join(pdir, f)
                    with open(fp) as fh:
                        m = json.load(fh)
                    if m["committed_at_unix"] < before_unix:
                        with open(os.path.join(self.manifest_dir,
                                               "expired.jsonl"), "a") as ef:
                            ef.write(json.dumps(
                                {"partition": m["partition"],
                                 "run_id": m["run_id"],
                                 "committed_at_unix":
                                     m["committed_at_unix"]}) + "\n")
                        os.remove(fp)
                        dropped_manifests += 1
                    else:
                        for fi in m["files"]:
                            keep.add((m["partition"], fi["name"]))
        removed_files = 0
        arch_root = os.path.join(self.path, "_archive")
        if os.path.isdir(arch_root):
            for d in os.listdir(arch_root):
                pdir = os.path.join(arch_root, d)
                for f in os.listdir(pdir):
                    if f.endswith(".parquet") and (d, f) not in keep:
                        os.remove(os.path.join(pdir, f))
                        removed_files += 1
        # live-dir sweep: only partitions that HAVE a current manifest
        # (a mid-write partition without one is the writer's, not ours)
        for m in self.manifests():
            pdir = os.path.join(self.path, m["partition"])
            if not os.path.isdir(pdir):
                continue
            for f in os.listdir(pdir):
                if f.endswith(".parquet") and \
                        (m["partition"], f) not in keep:
                    os.remove(os.path.join(pdir, f))
                    removed_files += 1
        # crashed-compaction temp dirs: a compact_partition that died
        # before its step-4 move leaves _tmp_compact_<part>_<run> with a
        # full duplicate copy of the partition's data, referenced by no
        # manifest — under the same single-writer assumption as the rest
        # of this vacuum, any such dir still present is dead.  Age-guard
        # the delete: a dir modified in the last 10 minutes may belong to
        # a compaction in flight in another process (a violation of the
        # single-writer assumption, but one this should not escalate into
        # data loss) — skip it; the next vacuum reclaims it once stale.
        dropped_tmp = 0
        now = time.time()
        for d in os.listdir(self.path):
            if d.startswith("_tmp_compact_"):
                full = os.path.join(self.path, d)
                try:
                    if now - os.path.getmtime(full) < 600:
                        continue
                except OSError:
                    continue
                shutil.rmtree(full)
                dropped_tmp += 1
        return {"dropped_manifests": dropped_manifests,
                "removed_files": removed_files,
                "dropped_tmp_dirs": dropped_tmp}
