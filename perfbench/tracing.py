"""Op → phase → Spark job spans, and the per-layer metrics built from them.

Every op is split into phases (``construct`` and ``action`` for a registry
query, ``upsert`` for an ingest batch). The ``Spans`` recorder times each
phase on the driver; in a traced run it also tags the phase's Spark jobs
with a job group ``<op>|<query>|<phase>``. After the session stops, the
Spark event log (``spark.eventLog.enabled=true``, uncompressed; Spark 4.1
writes it as a rolling ``eventlog_v2_*`` directory) is parsed, each job is
joined to its phase through ``spark.jobGroup.id``, and the stage and
task totals are summed per layer.
"""

from __future__ import annotations

import glob
import json
import os
import time

#: job group of Spark work outside any op phase (checks, set-up reads)
IDLE_GROUP = "idle"

#: per-op layer metrics built from the spans and the event log
SPAN_LAYERS = (
    "registry.construct_s",
    "registry.construct_jobs",
    "registry.construct_self_s",
    "operators.action_s",
    "operators.jobs",
    "operators.stages",
    "operators.tasks",
    "operators.driver_gap_s",
    "operators.executor_run_s",
    "operators.executor_cpu_s",
    "operators.gc_s",
    "operators.scan_bytes",
    "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes",
    "operators.spill_bytes",
    "sources.json_scan_s",
    "sources.json_bytes",
    "ingest.sink.jobs",
)
#: per-op layer metrics built from table listings around each upsert
SINK_LAYERS = (
    "ingest.sink.partitions_rewritten",
    "ingest.sink.files_written",
    "ingest.sink.bytes_written",
    "ingest.sink.write_amp",
)


class Spans:
    """In-memory phase spans; sets a Spark job group per phase when
    ``traced``."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []

    def run(self, op: str, query: str, phase: str, fn):
        if self.traced:
            self.sc.setJobGroup(f"{op}|{query}|{phase}", phase)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - p0
            self.spans.append(
                {"op": op, "query": query, "phase": phase, "t0": t0, "t1": t0 + wall, "wall": wall}
            )
            if self.traced:
                self.sc.setJobGroup(IDLE_GROUP, "outside any op phase")


def _event_files(log_dir: str) -> list[str]:
    """The rolled files of an ``eventlog_v2_*`` directory, in order."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


def _acc(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def parse_event_log(log_dir: str) -> dict:
    """Jobs (group, submit/complete ms, stage ids) and completed stages
    (task count, accumulator totals, scan kinds) from a Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, int] = {}
    files = _event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"],
                        "complete": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["complete"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]] = tasks.get(ev["Stage ID"], 0) + 1
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    scopes = []
                    for rdd in si.get("RDD Info", []):
                        try:
                            scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                        except ValueError:
                            continue
                    stages[si["Stage ID"]] = {
                        "acc": _acc(si),
                        "json_scan": any(s.startswith("Scan json") for s in scopes),
                    }
    for sid, st in stages.items():
        st["tasks"] = tasks.get(sid, 0)
    return {"jobs": jobs, "stages": stages}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def phase_records(spans: list[dict], log: dict) -> list[dict]:
    """One record per span: its wall, its jobs, stages, tasks and the
    stage totals of those jobs (each completed stage counted once, under
    the first job that ran it)."""
    by_group: dict[str, list[int]] = {}
    for jid, job in sorted(log["jobs"].items()):
        if job["group"]:
            by_group.setdefault(job["group"], []).append(jid)
    seen: set[int] = set()
    out = []
    for sp in spans:
        group = f"{sp['op']}|{sp['query']}|{sp['phase']}"
        jids = by_group.get(group, [])
        intervals, st_ids = [], []
        for jid in jids:
            job = log["jobs"][jid]
            end = job["complete"] if job["complete"] is not None else job["submit"]
            intervals.append((job["submit"] / 1000.0, end / 1000.0))
            for sid in job["stages"]:
                if sid in log["stages"] and sid not in seen:
                    seen.add(sid)
                    st_ids.append(sid)
        acc: dict[str, float] = {}
        json_run_ms = json_bytes = 0.0
        for sid in st_ids:
            st = log["stages"][sid]
            for k, v in st["acc"].items():
                acc[k] = acc.get(k, 0.0) + v
            if st["json_scan"]:
                json_run_ms += st["acc"].get("internal.metrics.executorRunTime", 0.0)
                json_bytes += st["acc"].get("internal.metrics.input.bytesRead", 0.0)
        out.append(
            {
                **sp,
                "jobs": len(jids),
                "stages": len(st_ids),
                "tasks": sum(log["stages"][s]["tasks"] for s in st_ids),
                "job_covered_s": _covered(intervals, sp["t0"], sp["t1"]),
                "acc": acc,
                "json_scan_s": json_run_ms / 1000.0,
                "json_bytes": json_bytes,
            }
        )
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(records: list[dict], timed_ops: list[str]) -> dict[str, float]:
    """Per-op means over the timed ops of every operator/registry/sources
    layer metric (sums over an op's phases, then a mean over ops)."""
    timed = set(timed_ops)
    per_op: dict[str, dict[str, float]] = {op: {} for op in timed_ops}

    def add(op: str, key: str, v: float) -> None:
        per_op[op][key] = per_op[op].get(key, 0.0) + v

    for r in records:
        if r["op"] not in timed:
            continue
        op, acc = r["op"], r["acc"]
        executes = r["phase"] in ("action", "upsert")
        if r["phase"] == "construct":
            add(op, "registry.construct_s", r["wall"])
            add(op, "registry.construct_jobs", r["jobs"])
            add(op, "registry.construct_self_s", r["wall"] - r["job_covered_s"])
        if executes:
            add(op, "operators.action_s", r["wall"])
            add(op, "operators.driver_gap_s", r["wall"] - r["job_covered_s"])
        if r["phase"] == "upsert":
            add(op, "ingest.sink.jobs", r["jobs"])
        add(op, "operators.jobs", r["jobs"])
        add(op, "operators.stages", r["stages"])
        add(op, "operators.tasks", r["tasks"])
        add(op, "operators.executor_run_s", acc.get("internal.metrics.executorRunTime", 0.0) / 1e3)
        add(op, "operators.executor_cpu_s", acc.get("internal.metrics.executorCpuTime", 0.0) / 1e9)
        add(op, "operators.gc_s", acc.get("internal.metrics.jvmGCTime", 0.0) / 1e3)
        add(op, "operators.scan_bytes", acc.get("internal.metrics.input.bytesRead", 0.0))
        add(op, "operators.shuffle_write_bytes", acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0))
        add(
            op,
            "operators.shuffle_read_bytes",
            acc.get("internal.metrics.shuffle.read.localBytesRead", 0.0)
            + acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0.0),
        )
        add(
            op,
            "operators.spill_bytes",
            acc.get("internal.metrics.memoryBytesSpilled", 0.0)
            + acc.get("internal.metrics.diskBytesSpilled", 0.0),
        )
        add(op, "sources.json_scan_s", r["json_scan_s"])
        add(op, "sources.json_bytes", r["json_bytes"])
    return {k: _mean(d.get(k, 0.0) for d in per_op.values()) for k in SPAN_LAYERS}


def table_files(root: str) -> dict[str, tuple[int, int]]:
    """Data files under a table directory: relpath -> (size, mtime_ns).
    Hidden and ``_``-prefixed files (checksums, markers) are skipped."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def sink_diff(before: dict, after: dict, batch_bytes: int) -> dict[str, float]:
    """What one upsert wrote, from two ``table_files`` listings."""
    written = [p for p, meta in after.items() if before.get(p) != meta]
    removed = [p for p in before if p not in after]
    parts = {os.path.dirname(p) for p in written + removed}
    nbytes = float(sum(after[p][0] for p in written))
    values = (float(len(parts)), float(len(written)), nbytes, nbytes / batch_bytes)
    return dict(zip(SINK_LAYERS, values))
