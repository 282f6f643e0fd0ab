"""Spans recorded from the benchmark's own files, and Spark's event log.

A traced run keeps spans in memory — workload → phase → op → layer call,
each with name, start, end and parent — and writes them out when the run
ends. Every op span also tags its Spark jobs with a job group, so the
event log (turned on for traced runs only) attributes each job, its GC
time and its shuffle bytes to the op that caused it.

The untraced run uses :class:`NullTracer`: no spans, no job groups.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from harness import dir_bytes_files


class NullTracer:
    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextmanager
    def op(self, index: int, kind: str, category: str):
        yield None


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "epoch_ms": time.time() * 1000.0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, index: int, kind: str, category: str):
        group = f"op-{index}"
        self.sc.setJobGroup(group, kind)
        try:
            with self.span("op", kind=kind, category=category, group=group) as rec:
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def phase_of(self, rec: dict) -> str | None:
        while rec is not None:
            if rec["name"].startswith("phase."):
                return rec["name"][len("phase."):]
            rec = self.spans[rec["parent"]] if rec["parent"] is not None else None
        return None

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {
            s["id"]: (s["end"] - s["start"])
            - union_length([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            for s in self.spans
        }

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        out = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(out, indent=None))


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _event_files(events_dir: Path) -> list[Path]:
    """Event log files in write order: a single-file log, or the parts of
    a rolling (``eventlog_v2_*``) log directory."""

    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if parts[0] == "events" else 0)

    return sorted(
        (p for p in events_dir.rglob("*")
         if p.is_file() and not p.name.startswith((".", "appstatus"))),
        key=order,
    )


def read_event_log(events_dir: Path) -> dict[str, dict]:
    """Per job group: job count, job (submit, complete) intervals in epoch
    ms, task GC ms and shuffle bytes written."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for path in _event_files(events_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = g
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    rec = groups.setdefault(
                        g, {"jobs": 0, "intervals": {}, "gc_ms": 0, "shuffle_bytes": 0}
                    )
                    rec["jobs"] += 1
                    rec["intervals"][ev["Job ID"]] = [ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        groups[g]["intervals"][ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if g is not None and m:
                        groups[g]["gc_ms"] += m.get("JVM GC Time", 0)
                        sw = m.get("Shuffle Write Metrics") or {}
                        groups[g]["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for rec in groups.values():
        rec["intervals"] = [tuple(iv) for iv in rec["intervals"].values() if iv[1] is not None]
    return groups


# ----------------------------------------------------------- storage layers


class NullLayers:
    def before_commit(self, root: str):
        return None

    def after_commit(self, root: str, before, user_bytes: int) -> None:
        pass


class StorageLayers:
    """What each commit of a traced run did to storage, measured from
    outside the program: bytes and files it added under the table root
    (``sources.fs``), and the time ``load_manifest`` takes on the table
    right after it (``sources.manifest``)."""

    def __init__(self) -> None:
        self.commits = 0
        self.bytes_written = 0
        self.user_bytes = 0
        self.files_added = 0
        self.load_s: list[float] = []

    def before_commit(self, root: str):
        return dir_bytes_files(root)

    def after_commit(self, root: str, before, user_bytes: int) -> None:
        from parquetranger_spark.sources.fs import fs_for
        from parquetranger_spark.sources.manifest import load_manifest

        nbytes, nfiles = dir_bytes_files(root)
        self.commits += 1
        self.bytes_written += nbytes - before[0]
        self.files_added += nfiles - before[1]
        self.user_bytes += user_bytes
        fs = fs_for(root)
        t0 = time.perf_counter()
        load_manifest(fs, root)
        self.load_s.append(time.perf_counter() - t0)
