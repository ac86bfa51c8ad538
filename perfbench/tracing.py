"""Spans, layer wrappers and Spark event-log attribution for the traced
run.

Nothing here changes the package: spans are recorded around calls into
its public functions (wrapped for the duration of one traced pass and
restored afterwards), the checkpoint layer is observed through a
``SuperstepLedger`` subclass handed in via the public ``ledger=``
argument, and Spark jobs are attributed to operator calls through the
job group set before each call.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import time

from graph_mining_spark.checkpoint import SuperstepLedger


class Tracer:
    """In-memory span store; spans are written out once, at the end."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.perf_counter(),
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

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Tag every Spark job started inside the block with ``group``."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> tuple[float, float]:
        """(self time, time covered by child spans) of one span."""
        covered = union_length([(c["start"], c["end"]) for c in self.children(span["id"])])
        return span["end"] - span["start"] - covered, covered


def union_length(intervals) -> float:
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


class TracedLedger(SuperstepLedger):
    """A ledger that records a span around every ``record`` call and
    counts what the checkpoint layer wrote."""

    def record(self, superstep, state, *args, **kwargs):
        with self.tracer.span("checkpoint.record", superstep=superstep) as sp:
            out = super().record(superstep, state, *args, **kwargs)
            rec = self.records[-1]
            sp["durable"] = rec["state_path"] is not None
            sp["bytes"] = sum(f["bytes"] for f in rec.get("files") or [])
        return out


_CUT_LINEAGE_USERS = [
    "graph_mining_spark.checkpoint",
    "graph_mining_spark.operators.pagerank",
    "graph_mining_spark.operators.connected_components",
    "graph_mining_spark.operators.label_propagation",
    "graph_mining_spark.operators.affinity",
    "graph_mining_spark.operators.triangles",
]


@contextlib.contextmanager
def wrapped_layers(tracer: Tracer):
    """Record spans around the public layer functions the operators
    call internally: lineage cuts, CSR gathers and dense vertex ids."""
    targets = [(m, "cut_lineage", "checkpoint.cut_lineage") for m in _CUT_LINEAGE_USERS]
    targets += [
        ("graph_mining_spark.csr", "gather_sum", "csr.gather"),
        ("graph_mining_spark.csr", "gather_min", "csr.gather"),
        ("graph_mining_spark.ingest", "dense_vertex_ids", "ingest.vertex_ids"),
    ]
    saved = []
    for mod_name, attr, span_name in targets:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, _wrap(tracer, orig, span_name))
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def _wrap(tracer: Tracer, orig, span_name: str):
    def wrapper(*a, **k):
        with tracer.span(span_name):
            return orig(*a, **k)

    return functools.wraps(orig)(wrapper)


# spans recorded by an extra call frame around a package function
WRAPPED = {"checkpoint.cut_lineage", "csr.gather", "ingest.vertex_ids", "checkpoint.record"}


def inner_overhead(tracer: Tracer, outer: set[int], reps: int = 2000) -> float:
    """Seconds the spans inside the operator calls added: their count
    (those recorded through a wrapper frame apart) times their per-call
    cost, timed here in a loop on a throwaway tracer.  ``outer`` are the
    ids of the pass and call spans, whose cost is measured in place."""
    inner = [s for s in tracer.spans if s["id"] not in outer]
    wrapped = sum(1 for s in inner if s["name"] in WRAPPED)

    def per_call(fn):
        t0 = time.perf_counter()
        for _ in range(reps):
            fn()
        return (time.perf_counter() - t0) / reps

    t = Tracer(None, "overhead")

    def span():
        with t.span("s"):
            pass

    return (len(inner) - wrapped) * per_call(span) + wrapped * per_call(_wrap(t, lambda: None, "w"))


def read_event_log(event_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, shuffle writes and job busy
    time, from the Spark event log of application ``app_id``."""
    paths = [p for p in glob.glob(os.path.join(event_dir, f"*{app_id}*")) if os.path.isfile(p)]
    paths += sorted(glob.glob(os.path.join(event_dir, f"*{app_id}*", "events_*")))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def g(name):
        return groups.setdefault(
            name,
            {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
             "shuffle_records": 0, "intervals": {}},
        )

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        g(grp)["jobs"] += 1
                        g(grp)["intervals"][ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerJobEnd":
                    for info in groups.values():
                        if ev["Job ID"] in info["intervals"]:
                            info["intervals"][ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = ev["Stage Info"]["Stage ID"]
                    if grp:
                        stage_group[sid] = grp
                        g(grp)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev["Stage ID"])
                    if grp:
                        info = g(grp)
                        info["tasks"] += 1
                        sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                        info["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
                        info["shuffle_records"] += int(sw.get("Shuffle Records Written", 0))
    for info in groups.values():
        ivs = [(s, e) for s, e in info.pop("intervals").values() if e is not None]
        info["job_busy_s"] = union_length(ivs)
    return groups
