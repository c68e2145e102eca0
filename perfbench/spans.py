"""Traced runs: span wrappers around each layer's public entry points,
Spark job groups per span, and a parser that joins Spark's event log to
the spans.

Each wrapper opens a span on entry, tags the Spark jobs it submits with
``sc.setLocalProperty('spark.jobGroup.id', '<span>#<n>')`` and restores the
parent span's group on exit, so every job is attributed to the innermost
active span. After the run, job, stage and task events from the
(uncompressed, non-rolling) event log are joined to the spans by group id.

Wrappers are installed where each caller looks the name up: module
attributes for functions, class attributes for methods.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# span name -> (module, attribute path) patched in the traced run
SPANS = {
    "pipeline.apply_batch": ("cdc.pipeline", "apply_batch"),
    "table.commit_merge": ("cdc.table.table", "CdcTable.commit_merge"),
    "table.commit_delta": ("cdc.table.table", "CdcTable.commit_delta"),
    "table.read": ("cdc.table.table", "CdcTable.read"),
    "table.lookup_keys": ("cdc.table.table", "CdcTable.lookup_keys"),
    "meta.store.write_snapshot": ("cdc.meta.store", "write_snapshot"),
    "metrics.write_batch_metrics": ("cdc.pipeline", "write_batch_metrics"),
    "maintenance.compact": ("cdc.table.maintenance", "compact"),
    "stream.dedup.ingest_dedup_batch": ("cdc.stream.dedup",
                                        "ingest_dedup_batch"),
    "stream.dedup.plan_epoch": ("cdc.stream.dedup", "plan_epoch"),
    "stream.dedup.apply_doc_changes": ("cdc.stream.dedup",
                                       "apply_doc_changes"),
    "cc.connected_components_incremental_delta": (
        "cdc.stream.dedup", "connected_components_incremental_delta"),
    "cc.connected_components": ("cdc.stream.dedup", "connected_components"),
    "ann.ingest_changes": ("cdc.ann", "IvfIndex.ingest_changes"),
}
MEASURES = ["calls", "wall_s", "self_s", "jobs", "job_s", "driver_s",
            "shuffle_write_mb", "output_mb"]
RATIOS = {
    "table.commit_merge.rows_written_per_event": "count",
    "table.read.live_files": "count",
    "table.lookup_keys.rows_read_per_row": "count",
    "stream.dedup.plan_epoch.rows_read_per_doc": "count",
    "stream.dedup.apply_doc_changes.rows_read_per_change": "count",
    "meta.store.write_snapshot.meta_bytes": "bytes",
}
UNITS = {"calls": "count", "wall_s": "s", "self_s": "s", "jobs": "count",
         "job_s": "s", "driver_s": "s", "shuffle_write_mb": "MB",
         "output_mb": "MB"}
# per-call Spark job counts that repeat exactly across traced runs of one
# seed (checked by ``tools.py exact``); every other count varies with
# epoch content
EXACT_SPANS = ["pipeline.apply_batch", "table.commit_merge",
               "table.commit_delta", "table.lookup_keys"]
# harness operation spans: the timed operations themselves (not layers)
OP_PREFIX = "op."


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{s}.{m}", UNITS[m]) for s in SPANS for m in MEASURES]
    return out + list(RATIOS.items())


@dataclass
class Span:
    name: str
    gid: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)


class Tracer:
    """In-memory span recorder. Untraced runs use ``NullTracer``."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.n = 0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        if parent is not None and parent.name == name:
            # a harness op held open under a layer's name (reads and
            # lookups are lazy: their jobs run when the harness collects)
            yield parent
            return
        self.n += 1
        s = Span(name, f"{name}#{self.n}", parent, time.time(), attrs=attrs)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s.gid)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     parent.gid if parent else None)

    def install(self) -> None:
        import importlib
        for name, (mod, attr) in SPANS.items():
            owner = importlib.import_module(mod)
            cls, _, fn = attr.rpartition(".")
            if cls:
                owner = getattr(owner, cls)
            setattr(owner, fn, self._wrap(name, getattr(owner, fn)))

    def _wrap(self, name, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            pre = _meta_size(args) if name == "meta.store.write_snapshot" \
                else None
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if pre is not None:
                s.attrs["meta_bytes"] = _meta_size(args) - pre
            if name == "table.read":
                s.attrs["live_files"] = (s.attrs.get("live_files", 0)
                                         + _live_files(args, kwargs))
            return out

        return wrapper


class NullTracer:
    @contextmanager
    def span(self, name: str, **attrs):
        yield None


def _meta_size(args) -> int:
    from cdc.meta import store
    d = store.meta_dir(args[0])
    try:
        return sum(e.stat().st_size for e in os.scandir(d) if e.is_file())
    except FileNotFoundError:
        return 0


def _live_files(args, kwargs) -> int:
    """Data files (base + delta layers) a current-snapshot read resolves
    for the requested partitions."""
    table = args[0]
    parts = kwargs.get("parts", args[2] if len(args) > 2 else None)
    snap = table.current_snapshot()
    if snap is None:
        return 0
    files = snap["files"]
    if parts is not None:
        keep = {int(p) for p in parts}
        files = [f for f in files if int(f["part"]) in keep]
    return len(files)


# -- event log -------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs per job group: [{start, end, shuffle_write, output_bytes,
    records_written, records_read}], times in epoch seconds."""
    jobs, stage_job, group_of = {}, {}, {}
    tasks = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    group_of[jid] = props.get("spark.jobGroup.id")
                    jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                                 "end": None, "shuffle_write": 0,
                                 "output_bytes": 0, "records_written": 0,
                                 "records_read": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics") or {}
        if jid is None or jid not in jobs:
            continue
        j = jobs[jid]
        j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        out = m.get("Output Metrics") or {}
        j["output_bytes"] += out.get("Bytes Written", 0)
        j["records_written"] += out.get("Records Written", 0)
        j["records_read"] += (m.get("Input Metrics") or {}).get(
            "Records Read", 0)
    by_group: dict[str, list[dict]] = {}
    for jid, j in sorted(jobs.items()):
        if j["end"] is None:
            j["end"] = j["start"]
        by_group.setdefault(group_of.get(jid), []).append(j)
    return by_group


def _union(intervals) -> float:
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


def _subtree(s: Span):
    yield s
    for c in s.children:
        yield from _subtree(c)


def _op_of(s: Span) -> Span | None:
    p = s
    while p is not None and not p.name.startswith(OP_PREFIX):
        p = p.parent
    return p


def per_layer_metrics(spans: list[Span], jobs_by_group: dict
                      ) -> tuple[dict, dict]:
    """(metrics by name, per-call job counts by span name), over the
    spans inside timed operations (set-up and warm-up are left out)."""
    spans = [s for s in spans if _op_of(s) is not None]
    stat = {}
    for s in spans:
        jobs = jobs_by_group.get(s.gid, [])
        wall = s.end - s.start
        self_s = wall - sum(c.end - c.start for c in s.children)
        job_s = _union((j["start"], j["end"]) for j in jobs)
        stat[s.gid] = {
            "wall_s": wall, "self_s": self_s, "jobs": len(jobs),
            "job_s": job_s, "driver_s": self_s - job_s,
            "shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / 1e6,
            "output_mb": sum(j["output_bytes"] for j in jobs) / 1e6,
            "records_written": sum(j["records_written"] for j in jobs),
            "records_read": sum(j["records_read"] for j in jobs),
        }

    def tree_read(s):
        return sum(stat[x.gid]["records_read"] for x in _subtree(s))

    out, calls = {}, {}
    for name in SPANS:
        inst = [s for s in spans if s.name == name]
        calls[name] = [stat[s.gid]["jobs"] for s in inst]
        out[f"{name}.calls"] = len(inst)
        for m in MEASURES[1:]:
            out[f"{name}.{m}"] = (sum(stat[s.gid][m] for s in inst) / len(inst)
                                  if inst else 0.0)

    def ratio(num, den):
        return num / den if den else 0.0

    written: dict[str, int] = {}
    ops: dict[str, Span] = {}
    for s in spans:
        if s.name == "table.commit_merge":
            op = _op_of(s)
            ops[op.gid] = op
            written[op.gid] = (written.get(op.gid, 0)
                               + stat[s.gid]["records_written"])
    out["table.commit_merge.rows_written_per_event"] = ratio(
        sum(written.values()),
        sum(o.attrs.get("events", 0) for o in ops.values()))
    calls["table.commit_merge.rows_written_per_event"] = [
        ratio(written[g], ops[g].attrs.get("events", 0)) for g in written]
    reads = [s for s in spans if s.name == "table.read"]
    out["table.read.live_files"] = ratio(
        sum(s.attrs.get("live_files", 0) for s in reads), len(reads))
    held = [s for s in spans if s.name == "table.lookup_keys"
            and "rows" in s.attrs]
    out["table.lookup_keys.rows_read_per_row"] = ratio(
        sum(tree_read(s) for s in held), sum(s.attrs["rows"] for s in held))
    plans = [s for s in spans if s.name == "stream.dedup.plan_epoch"]
    out["stream.dedup.plan_epoch.rows_read_per_doc"] = ratio(
        sum(tree_read(s) for s in plans),
        sum(_op_of(s).attrs.get("docs", 0) for s in plans))
    chg = [s for s in spans if s.name == "stream.dedup.apply_doc_changes"]
    out["stream.dedup.apply_doc_changes.rows_read_per_change"] = ratio(
        sum(tree_read(s) for s in chg),
        sum(_op_of(s).attrs.get("changes", 0) for s in chg))
    snaps = [s for s in spans if s.name == "meta.store.write_snapshot"]
    out["meta.store.write_snapshot.meta_bytes"] = ratio(
        sum(s.attrs.get("meta_bytes", 0) for s in snaps), len(snaps))
    return out, calls
