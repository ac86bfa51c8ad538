"""Per-layer metrics of one traced pass, and the per-layer table.

Layers are named after the package's modules.  The right-hand column of
``MOVES`` is the end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import statistics

from tracing import inner_overhead, read_event_log, union_length

OPS = ["pagerank", "cc", "lpa", "affinity", "triangles"]
ITERATIVE = ["pagerank", "cc", "lpa", "affinity"]
_CALL = ["jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_records", "job_busy_s"]

# in the per-layer table but not in the result line: only srcgraph
# calls ``dense_vertex_ids``
EXTRA_UNITS = {"ingest.vertex_ids_s": "s"}

MOVES = {
    "session.start_s": "setup_s",
    "ingest.": "ingest_s",
    "checkpoint.": "pagerank_s, resume_s, pipeline_s",
    "csr.": "csr_s",
    "cc.": "pipeline_s (cc_s is not bounded)",
    "lpa.": "(traced pass only)",
    "affinity.": "(traced pass only)",
    "trace.overhead_s": "(none)",
}


def moves(name: str) -> str:
    for prefix, target in MOVES.items():
        if name.startswith(prefix):
            return target
    return f"{name.split('.')[0]}_s"


def _spans(tracer, names, within=None):
    out = [s for s in tracer.spans if s["name"] in names and s["end"] is not None]
    if within is not None:
        out = [s for s in out if within["start"] <= s["start"] and s["end"] <= within["end"]]
    return out


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def per_layer(run, tracer, traced, units, app_id, session_start, sizes):
    """(metrics for the result line, markdown per-layer table).  ``units``
    maps each result-line metric to its unit."""
    groups = read_event_log(run.events, app_id)
    empty = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
             "shuffle_records": 0, "job_busy_s": 0.0}

    def grp(call):
        return groups.get(f"{traced.trace_id}/{call}", empty)

    m: dict[str, float] = {"session.start_s": session_start}

    if "ingest" in traced.spans:
        ing = traced.spans["ingest"]
        vid_s = _dur(_spans(tracer, {"ingest.vertex_ids"}, ing))
        m["ingest.vertex_ids_s"] = vid_s
        m["ingest.derive_s"] = traced.times["ingest"] - vid_s
        m["ingest.jobs"] = grp("ingest")["jobs"]
        m["ingest.shuffle_write_bytes"] = grp("ingest")["shuffle_write_bytes"]
        m["ingest.vertices"] = sizes["n"]
        m["ingest.edges"] = sizes["m"]
        m["ingest.max_degree"] = sizes["max_degree"]

    records = _spans(tracer, {"checkpoint.record"})
    cuts = _spans(tracer, {"checkpoint.record", "checkpoint.cut_lineage"})
    m["checkpoint.records"] = len(records)
    m["checkpoint.record_s"] = union_length([(s["start"], s["end"]) for s in cuts])
    m["checkpoint.durable_writes"] = sum(1 for s in records if s.get("durable"))
    m["checkpoint.bytes_written"] = sum(s.get("bytes", 0) for s in records)
    if "resume" in traced.spans:
        m["checkpoint.resume_load_s"] = _dur(_spans(tracer, {"checkpoint.resume_load"}))

    for op in OPS:
        if op not in traced.times:
            continue
        led = traced.ledgers.get(op)
        if op in ITERATIVE and led is not None and led.records:
            m[f"{op}.supersteps"] = (
                led.records[-1]["superstep"] if op == "pagerank" else len(led.records)
            )
            m[f"{op}.superstep_s"] = statistics.median(r["wall_s"] for r in led.records)
        g = grp(op)
        for k in _CALL:
            m[f"{op}.{k}"] = g[k]
        m[f"{op}.driver_gap_s"] = traced.times[op] - g["job_busy_s"]

    csr_calls = [c for c in ("csr.build", "csr.pagerank", "csr.cc") if c in traced.times]
    if csr_calls:
        gathers = [
            s for c in csr_calls if c != "csr.build"
            for s in _spans(tracer, {"csr.gather"}, traced.spans[c])
        ]
        if "csr.build" in traced.times:
            m["csr.build_s"] = traced.times["csr.build"]
            m["csr.shard_files"] = traced.counts["csr_shard_files"]
            m["csr.gather_parts"] = traced.counts["csr_gather_parts"]
        m["csr.gathers"] = len(gathers)
        m["csr.gather_s"] = _dur(gathers)
        m["csr.driver_s"] = sum(
            traced.times[c] for c in csr_calls if c != "csr.build"
        ) - m["csr.gather_s"]
        m["csr.jobs"] = sum(grp(c)["jobs"] for c in csr_calls)

    # the job-group and call-span bookkeeping around each call, measured
    # in place (wall minus span), plus the spans inside the calls
    rest = {c: traced.times[c] - (sp["end"] - sp["start"]) for c, sp in traced.spans.items()}
    outer = {sp["id"] for sp in traced.spans.values()} | {tracer.spans[0]["id"]}
    m["trace.overhead_s"] = sum(rest.values()) + inner_overhead(tracer, outer)
    metrics = {k: {"value": m[k], "unit": u} for k, u in units.items() if k in m}
    return metrics, table(tracer, traced, grp, m, {**units, **EXTRA_UNITS})


def table(tracer, traced, grp, m, units) -> str:
    lines = [
        f"# per-layer trace of {traced.trace_id}",
        "",
        "## operator calls",
        "",
        "`wall_s` is the call's time as the timed passes take it (perf_counter",
        "around the call, job-group setting and span included).  `self_s` is the",
        "span's duration minus the time its child spans cover (lineage cuts,",
        "ledger records, CSR gathers, dense vertex ids), `children_s` that",
        "covered time.  `rest_s` = wall - self - children: the job-group and",
        "span bookkeeping around the call.  `check` reads ok when rest_s is",
        "between 0 and max(20 ms, 2% of wall) and the Spark jobs of the call,",
        "timed by the JVM, fit in its wall (job_busy_s <= wall_s + 2 ms).",
        "",
        "| call | wall_s | self_s | children_s | rest_s | check | jobs | stages | tasks "
        "| shuffle_bytes | shuffle_records | job_busy_s | driver_gap_s |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for call, sp in traced.spans.items():
        wall = traced.times[call]
        self_s, covered = tracer.self_time(sp)
        unaccounted = wall - self_s - covered
        g = grp(call)
        ok = 0 <= unaccounted <= max(0.02, 0.02 * wall) and g["job_busy_s"] <= wall + 0.002
        lines.append(
            f"| {call} | {wall:.3f} | {self_s:.3f} | {covered:.3f} | {unaccounted:.1e} "
            f"| {'ok' if ok else 'MISMATCH'} | {g['jobs']} | {g['stages']} | {g['tasks']} "
            f"| {g['shuffle_write_bytes']} | {g['shuffle_records']} | {g['job_busy_s']:.3f} "
            f"| {wall - g['job_busy_s']:.3f} |"
        )
    lines += ["", "## layer metrics", "", "| metric | value | unit | should move |", "|---|---|---|---|"]
    for k, v in m.items():
        val = f"{v:.4f}" if isinstance(v, float) else str(v)
        lines.append(f"| {k} | {val} | {units[k]} | {moves(k)} |")
    return "\n".join(lines) + "\n"
