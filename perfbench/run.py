"""Link-graph benchmark: one driver process per workload, run from the
repository root.

    python3 perfbench/run.py --workload srcgraph-10k --seed 1 --seconds 20 --trace 0

A run generates its inputs from ``--seed`` and computes the oracle
answers (both untimed), then sets up: start the Spark session and load
and cache the input tables (``setup_s``).  It runs one untimed warm-up
pass over the workload's operator calls, then timed passes until
``--seconds`` is used up (at least ``MIN_PASSES``).  Every call's
output, the warm-up's included, is checked against its oracle.
The last line of stdout is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns the
Spark event log on, runs the warm-up pass and then one traced pass,
both with LPA and affinity added, and reports the per-layer metrics;
it also writes ``.bench_out/<workload>/`` (span file and per-layer
table).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import inspect
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

MIN_PASSES = 2  # timed passes per run, at least


def declared(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def gate() -> int:
    """Vertex count above which PageRank, CC and LPA leave the broadcast
    / fused regime: PageRank's ``broadcast_threshold`` default."""
    from graph_mining_spark.operators.pagerank import pagerank

    return inspect.signature(pagerank).parameters["broadcast_threshold"].default


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """30% of physical memory, between 2 and 8 GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(2, min(8, int(kb / 2**20 * 0.3)))}g"


class PeakRss:
    """Peak resident set of this (driver) process, sampled every 20 ms
    while active."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self):
        with open("/proc/self/statm") as f:
            self.peak = max(self.peak, int(f.read().split()[1]) * self._page)

    def _loop(self):
        while not self._stop.wait(0.02):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


class Pass:
    """One pass over a workload's operator calls: wall time per call,
    attempted / failed calls, and (when traced) a span per call under
    its own Spark job group."""

    def __init__(self, tracer=None, trace_id=None):
        self.tracer = tracer
        self.trace_id = trace_id
        self.times: dict[str, float] = {}  # wall seconds per call name
        self.counts: dict[str, float] = {}
        self.spans: dict[str, dict] = {}
        self.ledgers: dict[str, object] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def call(self, name, fn):
        """Time ``fn()``; a raise counts as a failed call and returns None.
        The time includes, when traced, setting the job group and the
        span around the call."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn()
            else:
                with self.tracer.job_group(f"{self.trace_id}/{name}"), self.tracer.span(name) as sp:
                    out = fn()
                self.spans[name] = sp
        except Exception:
            self.failures.append(f"{name}: raised\n{traceback.format_exc()}")
            return None
        self.times[name] = time.perf_counter() - t0
        return out

    def check(self, name, ok: bool, detail: str = ""):
        if not ok:
            self.failures.append(f"{name}: wrong output {detail}")

    def ledger(self, algo, directory=None, every=5):
        from graph_mining_spark.checkpoint import SuperstepLedger

        if self.tracer is None:
            led = SuperstepLedger(algo, directory=directory, every=every)
        else:
            from tracing import TracedLedger

            led = TracedLedger(algo, directory=directory, every=every)
            led.tracer = self.tracer
        self.ledgers[algo] = led
        return led


# ------------------------------------------------------------ checks ----


def _by_vid(pdf, col, want) -> tuple[np.ndarray | None, str]:
    """``col`` ordered by vid, or None when the vertex set differs from
    the oracle's."""
    pdf = pdf.sort_values("vid")
    vids = pdf["vid"].to_numpy()
    if not np.array_equal(vids, want[0]):
        return None, f"vertex set differs ({len(vids)} vs {len(want[0])} vertices)"
    return pdf[col].to_numpy(), ""


def labels_match(pdf, want) -> tuple[bool, str]:
    lab, why = _by_vid(pdf, "label", want)
    if lab is None:
        return False, why
    bad = int(np.count_nonzero(lab != want[1]))
    return bad == 0, f"{bad} wrong labels; {len(np.unique(lab))} labels vs {len(np.unique(want[1]))}"


def ranks_match(pdf, want) -> tuple[bool, str]:
    rank, why = _by_vid(pdf, "rank", want)
    if rank is None:
        return False, why
    l1 = float(np.abs(rank - want[1]).sum())
    return l1 <= 1e-9, f"L1 {l1:.3g} from the power iteration"


def triangles_match(pdf, want) -> tuple[bool, str]:
    cnt, why = _by_vid(pdf, "triangles", want)
    if cnt is None:
        return False, why
    bad = int(np.count_nonzero(cnt != want[1]))
    return bad == 0, f"{bad} wrong counts"


def edges_match(pdf, g) -> tuple[bool, str]:
    pdf = pdf.sort_values(["src", "dst"])
    s, d, w = (pdf[c].to_numpy() for c in ("src", "dst", "weight"))
    ok = (
        len(s) == g.m
        and np.array_equal(s, g.src)
        and np.array_equal(d, g.dst)
        and np.array_equal(w, g.weight)
    )
    return ok, f"{len(s)} edge rows vs {g.m} expected"


# --------------------------------------------------------- workloads ----


class GraphWorkload:
    """Ingest to a persisted symmetric edge table; PageRank with a
    durable ledger, stopped after ``pagerank_leg`` supersteps, and its
    resume for ``resume_leg`` more; CC; triangles; CSR build + CSR
    PageRank + CSR CC.  The traced pass adds LPA and 2-round affinity."""

    check_every = 1  # PageRank supersteps per convergence check
    # supersteps of the first PageRank call and of its resume, both well
    # short of convergence
    pagerank_leg, resume_leg = 4, 2

    def generate(self, d, seed):  # -> (symmetric Graph, triangle-input Graph)
        raise NotImplementedError

    def load(self, spark, d) -> list:
        raise NotImplementedError

    def derive(self, spark, d):  # -> {name: edge DataFrame} to persist
        raise NotImplementedError

    def oracles(self, g, tri_g):
        import oracles

        # the resumed call must stop at its cap, not converge first
        cap = self.pagerank_leg + self.resume_leg
        assert cap < oracles.pagerank_supersteps(g, self.check_every)
        return {
            "cc": oracles.components(g),
            "lpa": oracles.label_propagation(g),
            "affinity": oracles.affinity(g, rounds=2),
            "triangles": oracles.triangles(tri_g),
            "pagerank": functools.cache(lambda k: oracles.pagerank(g, k)),
            "sym": g,
        }

    def ingest(self, spark, d, out):
        """Source tables -> symmetric edge tables written as Parquet,
        read back and cached: what the graph operators start from."""
        from pyspark.storagelevel import StorageLevel

        tables = []
        for name, df in self.derive(spark, d).items():
            path = os.path.join(out, f"{name}.parquet")
            df.write.mode("overwrite").parquet(path)
            t = spark.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
            t.count()
            tables.append(t)
        return tables

    def run_pass(self, run, d, p: Pass, want, clustering=False):
        from graph_mining_spark.checkpoint import SuperstepLedger
        from graph_mining_spark.operators.affinity import AffinityConfig, affinity_cluster
        from graph_mining_spark.operators.connected_components import connected_components
        from graph_mining_spark.operators.label_propagation import label_propagation
        from graph_mining_spark.operators.pagerank import pagerank
        from graph_mining_spark.operators.triangles import triangle_counts

        spark = run.spark
        edges_dir = os.path.join(run.dir, "edges")
        res = p.call("ingest", lambda: self.ingest(spark, d, edges_dir))
        if res is None:
            return
        sym, tri_in = res[0], res[-1]
        p.check("ingest", *edges_match(sym.toPandas(), want["sym"]))
        p.counts["edges"] = want["sym"].m

        # a driver stopped by max_iterations after one durable checkpoint,
        # then resumed from its ledger by a second call
        leg = self.pagerank_leg
        ledger_dir = os.path.join(run.ledger_root, "pagerank")
        led = p.ledger("pagerank", directory=ledger_dir, every=leg)
        pr = p.call("pagerank", lambda: pagerank(
            sym, ledger=led, check_every=self.check_every, max_iterations=leg).toPandas())
        if pr is not None and led.records:
            steps = led.records[-1]["superstep"]
            p.counts["pagerank_supersteps"] = steps
            p.check("pagerank", *ranks_match(pr, want["pagerank"](steps)))

        def resume():
            with p.tracer.span("checkpoint.resume_load") if p.tracer else contextlib.nullcontext():
                state = SuperstepLedger.resume(spark, "pagerank", ledger_dir)
            if state is None:
                raise RuntimeError(f"no durable PageRank state under {ledger_dir}")
            resumed_from.append(state[0])
            return pagerank(
                sym, ledger=led2, resume_from=state, check_every=self.check_every,
                max_iterations=leg + self.resume_leg,
            ).toPandas()

        resumed_from: list[int] = []
        led2 = p.ledger("pagerank_resume")
        pr2 = p.call("resume", resume)
        if pr2 is not None:
            steps = led2.records[-1]["superstep"] if led2.records else resumed_from[0]
            p.check("resume", *ranks_match(pr2, want["pagerank"](steps)))
        shutil.rmtree(ledger_dir, ignore_errors=True)

        led = p.ledger("cc")
        out = p.call("cc", lambda: connected_components(
            sym, already_symmetric=True, ledger=led).toPandas())
        if out is not None:
            p.check("cc", *labels_match(out, want["cc"]))
        out = p.call("triangles", lambda: triangle_counts(tri_in).toPandas())
        if out is not None:
            p.check("triangles", *triangles_match(out, want["triangles"]))
        self.csr_calls(sym, p, want)
        if clustering:
            calls = [
                ("lpa", lambda led: label_propagation(sym, already_symmetric=True, ledger=led)),
                ("affinity", lambda led: affinity_cluster(
                    sym, AffinityConfig(num_iterations=2, edge_aggregation="sum"),
                    already_symmetric=True, ledger=led)),
            ]
            for name, fn in calls:
                led = p.ledger(name)
                out = p.call(name, lambda: fn(led).toPandas())
                if out is not None:
                    p.check(name, *labels_match(out, want[name]))
        for t in res:
            t.unpersist()
        shutil.rmtree(edges_dir, ignore_errors=True)

    @staticmethod
    def csr_calls(sym, p: Pass, want):
        from graph_mining_spark.csr import materialize_csr_shards
        from graph_mining_spark.operators.connected_components import connected_components_csr
        from graph_mining_spark.operators.pagerank import pagerank_csr

        shards = p.call(
            "csr.build", lambda: materialize_csr_shards(sym.select("src", "dst"))
        )
        if shards is not None:
            p.counts["csr_shard_files"] = len(shards.files or [])
            p.counts["csr_gather_parts"] = shards.gather_parts
            p.check("csr.build", shards.n == len(want["cc"][0]), f"n={shards.n}")
            led = p.ledger("pagerank_csr")
            out = p.call("csr.pagerank", lambda: pagerank_csr(
                sym, shards=shards, ledger=led).toPandas())
            if out is not None and led.records:
                p.check("csr.pagerank", *ranks_match(out, want["pagerank"](led.records[-1]["superstep"])))
            led = p.ledger("cc_csr")
            out = p.call("csr.cc", lambda: connected_components_csr(
                sym, already_symmetric=True, shards=shards, ledger=led).toPandas())
            if out is not None:
                p.check("csr.cc", *labels_match(out, want["cc"]))
            shards.unpersist()


class Tpch(GraphWorkload):
    """dbgen-shaped ``orders`` / ``lineitem`` at sf 0.01: the customer-
    supplier bipartite graph for every operator, the part co-occurrence
    graph for triangles."""

    check_every = 2  # bench.py's PageRank batching

    def generate(self, d, seed):
        from inputs import tpch_bipartite_graph, tpch_coparts_graph, write_tpch

        t = write_tpch(d, 0.01, seed)
        return tpch_bipartite_graph(t), tpch_coparts_graph(t)

    def load(self, spark, d):
        out = []
        for name in ("orders", "lineitem"):
            df = spark.read.parquet(os.path.join(d, f"{name}.parquet")).persist()
            df.count()
            out.append(df)
        return out

    def derive(self, spark, d):
        from graph_mining_spark.tpch_graph import bipartite_sym, coparts_edges

        return {"bipartite": bipartite_sym(spark, d), "coparts": coparts_edges(spark, d)}


class SourceGraph(GraphWorkload):
    """The north-rule input: 500 repos x 20 files of
    ``(repo, path, commit, lang, content)``."""

    def generate(self, d, seed):
        from inputs import write_source_table

        os.makedirs(d, exist_ok=True)
        g = write_source_table(os.path.join(d, "files.parquet"), 500, 20, seed)
        return g, g

    def load(self, spark, d):
        from graph_mining_spark.ingest import read_source_table

        files = read_source_table(spark, os.path.join(d, "files.parquet")).persist()
        files.count()
        return [files]

    def derive(self, spark, d):
        from graph_mining_spark.graph import symmetrize
        from graph_mining_spark.ingest import build_link_graph, read_source_table

        files = read_source_table(spark, os.path.join(d, "files.parquet"))
        return {"links": symmetrize(build_link_graph(files)[2])}


class LongDiameter:
    """Random-permutation paths: DataFrame CC on 2,000 vertices and CSR
    CC (shard build included) on 200,000 — the diameter, not the size,
    sets the superstep count."""

    def generate(self, d, seed):
        from inputs import write_permuted_path

        os.makedirs(d, exist_ok=True)
        return tuple(
            write_permuted_path(os.path.join(d, f"path{n:06d}.parquet"), n, seed + i)
            for i, n in enumerate((2_000, 200_000))
        )

    def oracles(self, g_df, g_csr):
        import oracles

        return {"cc": oracles.components(g_df), "csr.cc": oracles.components(g_csr)}

    def load(self, spark, d):
        out = []
        for name in sorted(os.listdir(d)):
            df = spark.read.parquet(os.path.join(d, name)).persist()
            df.count()
            out.append(df)
        return out

    def run_pass(self, run, d, p: Pass, want, clustering=False):
        from graph_mining_spark.operators.connected_components import (
            connected_components,
            connected_components_csr,
        )

        small, big = run.tables
        led = p.ledger("cc")
        out = p.call("cc", lambda: connected_components(small, ledger=led).toPandas())
        if out is not None:
            p.check("cc", *labels_match(out, want["cc"]))
        led = p.ledger("cc_csr")
        out = p.call("csr.cc", lambda: connected_components_csr(big, ledger=led).toPandas())
        if out is not None:
            p.check("csr.cc", *labels_match(out, want["csr.cc"]))


WORKLOADS = {"tpch-sf0.01": Tpch, "srcgraph-10k": SourceGraph, "long-diameter": LongDiameter}


# --------------------------------------------------------------- run ----


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.ckpt = os.path.join(self.dir, "ckpt")
        self.ledger_root = os.path.join(self.dir, "ledger")
        self.local = os.path.join(self.dir, "local")
        self.events = os.path.join(self.dir, "events")
        for p in (self.ckpt, self.ledger_root, self.local, self.events, os.path.join(self.dir, "tmp")):
            os.makedirs(p, exist_ok=True)
        self.spark = None
        self.cpus = nproc()
        self.memory = driver_memory()

    def env(self):
        """Per-run scratch locations, set before the JVM starts."""
        os.environ["SPARK_GRAFT_CKPT_DIR"] = self.ckpt
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}"
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def start_session(self) -> float:
        from graph_mining_spark.session import get_spark

        t0 = time.perf_counter()

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # the heap starts at its full size, so the collector does not
            # resize it during the run: each resize was a full collection
            # of 0.2-0.3 s at a random point of a pass
            "spark.driver.defaultJavaOptions": f"-Xms{self.memory}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            cpus=self.cpus, app_name="perfbench", driver_memory=self.memory, extra_conf=conf
        )
        return time.perf_counter() - t0

    def load(self, d) -> float:
        """Read and cache the workload's input tables."""
        t0 = time.perf_counter()
        self.tables = self.wl.load(self.spark, d)
        return time.perf_counter() - t0

    def stop_jvm(self):
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def leftovers(self) -> list[str]:
        """Files still present in the run's checkpoint, ledger and Spark
        local directories (all must be empty once Spark has stopped)."""
        found = []
        for root in (self.ckpt, self.ledger_root, self.local):
            for dirpath, _, files in os.walk(root):
                found += [os.path.relpath(os.path.join(dirpath, f), self.dir) for f in files]
        return found


def environment(run, sizes) -> dict:
    import duckdb
    import pyspark

    java = [
        line for line in subprocess.run(
            ["java", "-version"], capture_output=True, text=True
        ).stderr.splitlines()
        if "version" in line
    ]
    return {
        "cpus": run.cpus, "master": f"local[{run.cpus}]", "driver_memory": run.memory,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": java[0] if java else "?", "duckdb": duckdb.__version__,
        "seed": run.args.seed, **sizes,
    }


def best(xs):
    """The fastest of the timed passes.  Interference from the rest of a
    shared host only ever adds time, and it hits whole passes: the first
    timed pass was often 20-40% slower than the second while the rest
    of the JVM's compilation finished.  The minimum is the least
    disturbed sample; with two passes the median would be their mean."""
    return min(xs) if xs else None


def e2e_metrics(passes: list[Pass], setup: float, rss: int) -> dict:
    def fastest(name):
        return best([p.times[name] for p in passes if name in p.times])

    csr = best([  # CSR build + CSR PageRank + CSR CC
        sum(v for k, v in p.times.items() if k.startswith("csr."))
        for p in passes if any(k.startswith("csr.") for k in p.times)
    ])
    pagerank_s = fastest("pagerank")
    eps = None
    if pagerank_s and "pagerank_supersteps" in passes[-1].counts:
        eps = passes[-1].counts["edges"] * passes[-1].counts["pagerank_supersteps"] / pagerank_s
    values = {
        "setup_s": setup,
        "pipeline_s": best([sum(p.times.values()) for p in passes]),
        "ingest_s": fastest("ingest"), "pagerank_s": pagerank_s,
        "pagerank_edges_per_s": eps, "resume_s": fastest("resume"),
        "triangles_s": fastest("triangles"), "csr_s": csr, "driver_rss_mb": rss / 2**20,
    }
    units = declared("end_to_end")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items() if v is not None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graph_mining_spark")):
        print(f"graph_mining_spark not found next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    run = Run(args)
    run.env()
    try:
        return measure(run)
    finally:
        with contextlib.suppress(Exception):
            run.stop_jvm()
        shutil.rmtree(run.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(ROOT, ".bench_run"))


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def measure(run: Run) -> int:
    args, wl = run.args, run.wl
    log("generating inputs")
    inp = os.path.join(run.dir, "in")
    graphs = wl.generate(inp, args.seed)
    want = wl.oracles(*graphs)
    g = graphs[0]
    sizes = {"n": len(g.vids()), "m": g.m, "max_degree": g.max_degree()}
    if graphs[1] is not g:
        h = graphs[1]
        sizes.update({"n2": len(h.vids()), "m2": h.m, "max_degree2": h.max_degree()})
    log(f"inputs and oracles ready: {sizes}")

    session_start = run.start_session()
    setup = session_start + run.load(inp)
    log(f"set-up: session start {session_start:.3f}s, set-up {setup:.3f}s")

    warmup = Pass()  # untimed: JIT, codegen and first-use costs of every call
    t1 = time.perf_counter()
    wl.run_pass(run, inp, warmup, want, clustering=bool(args.trace))
    log(f"warm-up pass: {time.perf_counter() - t1:.1f}s " + " ".join(
        f"{k}={v:.2f}" for k, v in warmup.times.items()))
    passes: list[Pass] = []
    tracer = None
    with PeakRss() as rss:
        t0 = time.perf_counter()
        if args.trace:
            from tracing import Tracer, wrapped_layers

            tracer = Tracer(run.spark.sparkContext, f"{args.workload}:{args.seed}:1")
            traced = Pass(tracer=tracer, trace_id=tracer.trace_id)
            with wrapped_layers(tracer), tracer.span("pass"):
                wl.run_pass(run, inp, traced, want, clustering=True)
            passes.append(traced)
        else:
            while True:
                p = Pass()
                t1 = time.perf_counter()
                wl.run_pass(run, inp, p, want)
                passes.append(p)
                last = time.perf_counter() - t1
                log(f"pass {len(passes)}: {last:.1f}s " + " ".join(
                    f"{k}={v:.2f}" for k, v in p.times.items()))
                if len(passes) >= MIN_PASSES and time.perf_counter() - t0 + last > args.seconds:
                    break
    app_id = run.spark.sparkContext.applicationId
    for t in run.tables:
        t.unpersist()
    run.stop_jvm()
    leftover = run.leftovers()

    attempted = sum(p.attempted for p in [warmup, *passes])
    failures = [f for p in [warmup, *passes] for f in p.failures]
    env = environment(run, sizes)
    print("# environment")
    for k, v in env.items():
        print(f"{k:>14}: {v}")
    gate_n = gate()
    print(f"{'regime':>14}: {sizes['n']} vertices vs the {gate_n}-vertex gate -> "
          f"{'distributed' if sizes['n'] > gate_n else 'broadcast / fused'}")
    gp = passes[-1].counts.get("csr_gather_parts")
    if gp is not None:
        where = "in the driver" if gp == 1 else "as Spark jobs"
        print(f"{'csr':>14}: gather_parts={gp} (gathers run {where})")
    for f in failures:
        print(f"FAILED {f.splitlines()[0]}")
        print("\n".join(f.splitlines()[1:]), file=sys.stderr)
    if leftover:
        print(f"FAILED isolation: {len(leftover)} files left in run directories: {leftover[:5]}")
    print(f"{'failed_ops':>14}: {len(failures)}/{attempted} = {len(failures) / max(1, attempted):.3f}")

    if args.trace:
        from layers import per_layer

        metrics, table = per_layer(
            run, tracer, traced, declared("per_layer"), app_id, session_start, sizes
        )
        out_dir = os.path.join(ROOT, ".bench_out", args.workload)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "spans.json"), "w") as f:
            json.dump(tracer.spans, f, indent=1)
        with open(os.path.join(out_dir, "per_layer.md"), "w") as f:
            f.write(table)
        print(table)
    else:
        metrics = e2e_metrics(passes, setup, rss.peak)
        print(f"# end-to-end metrics (fastest of {len(passes)} timed passes)")
        for k, v in metrics.items():
            print(f"{k:>22} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({
        "correct": not failures and not leftover,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
