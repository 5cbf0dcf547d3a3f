"""Engine benchmark: one workload per run, one single-threaded client.

    python3 perfbench/run.py --workload serve_interactive --seed 1 --seconds 10 --trace 0

Workloads (closed loops with one client; inputs from ``--seed`` via gen.py):

- ``build``: one full build of a servable index into a fresh directory,
  ``build_index`` -> ``pack_blocks`` -> ``pack_positional_blocks`` ->
  ``write_index(positional=...)``, the first build in a fresh JVM: the cold
  build an offline build job pays. The write side of the posting format:
  tokenize/explode, the postings shuffle, codec encode and Parquet write.
- ``serve_interactive``: one call at a time on a warm ``StoredIndex`` for
  ``--seconds``, in gen.PATTERN's 3:1:1 mix of ``search([q], k=10,
  documents=docs)`` (ranked results plus content),
  ``search_filtered([q], must=, must_not=)`` and ``phrase([t1, t2])``. The
  cost is fixed per-call overhead: Spark jobs, planning, driver round-trips
  and the content join-back.

Every result is checked against reference.py. The last stdout line is the
result object; the line before it holds the run context.

``--trace 0`` reports the end-to-end metrics, with no spans and no event
log. ``--trace 1`` is a separate run of the same set-up and a fixed call
sequence that wraps every call into a layer in a span and a Spark job
group, forces lazy layers inside their span, reads per-job counters from
the event log and reports the per-layer metrics (README.md). Spans are
written to ``perfbench/.work/spans/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time


def _process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


T_PROC = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

WORKLOADS = ("build", "serve_interactive")
N_DOCS = 10_000
K = 10
WARMUP_SEARCHES = 2
TRACE_OPS = 5

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "index_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "index.build.s": "s",
    "index.build.postings_rows": "count",
    "index.build.shuffle_write_bytes": "bytes",
    "index.blocks.s": "s",
    "index.blocks.n_blocks": "count",
    "index.blocks.bytes": "bytes",
    "index.blocks.shuffle_write_bytes": "bytes",
    "index.positions.s": "s",
    "index.positions.bytes": "bytes",
    "index.positions.shuffle_write_bytes": "bytes",
    "index.storage.write_s": "s",
    "index.storage.bytes": "bytes",
    "index.storage.open_s": "s",
    "index.storage.joinback_s": "s",
    "index.storage.joinback_jobs": "count",
    "query.wand.s": "s",
    "query.wand.jobs": "count",
    "query.wand.rows_read": "count",
    "query.wand.shuffle_records": "count",
    "query.wand.driver_s": "s",
    "query.wand.busy_frac": "frac",
    "query.wand.path_wand_frac": "frac",
    "query.boolean.s": "s",
    "query.boolean.jobs": "count",
    "query.boolean.allowed_ids": "count",
    "query.boolean.filtered_s": "s",
    "query.boolean.filtered_jobs": "count",
    "query.phrase.s": "s",
    "query.phrase.jobs": "count",
    "query.phrase.rows_read": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.busy_frac": "frac",
    "spark.gc_frac": "frac",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.setup_s": "s",
    "trace.op_p50_ms": "ms",
}


def log(msg: str) -> None:
    print(f"perfbench {time.time() - T_PROC:7.1f}s {msg}", file=sys.stderr, flush=True)


def host_loop_s() -> float:
    """Seconds for a fixed pure-Python loop: how fast this host runs one
    thread right now, recorded with every result."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t


def host_fault_s() -> float:
    """Seconds to fault in 256 MB of fresh memory. On a virtual machine
    this cost varies with the host's memory state, and the JVM pays it for
    its heap, so it is recorded with every result."""
    import numpy as np

    t = time.perf_counter()
    np.ones(2**25).sum()
    return time.perf_counter() - t


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def prepare_env(run_dir: str) -> None:
    """Point the Spark JVM and its Python workers at this checkout: the
    workers import the package from ROOT, and scratch files stay in
    ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def run_context(seed: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "goldenretriever_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {
        "seed": seed,
        "nproc": nproc(),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
        "source_sha256": h.hexdigest(),
        "n_docs": N_DOCS,
    }


class Bench:
    """One run: inputs, Spark session, the workload and its results."""

    def __init__(self, args):
        self.args = args
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.ops_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.excluded_s = 0.0  # input generation and checks: not set-up
        self.index_dir = os.path.join(self.run_dir, "index")

    # -- inputs and reference -------------------------------------------
    def load_inputs(self) -> None:
        import pandas as pd

        from perfbench import gen
        from perfbench.reference import Reference

        t = time.time()
        self.corpus_path = gen.corpus_parquet(
            self.args.seed, N_DOCS, os.path.join(WORK, "inputs")
        )
        corpus = pd.read_parquet(self.corpus_path)
        self.input_bytes = int(corpus["content"].str.encode("utf-8").str.len().sum())
        self.ref = Reference(corpus["doc_id"], corpus["content"])
        self.sequence = gen.interactive_ops(self.args.seed, 1000, corpus)
        self.excluded_s += time.time() - t
        log("inputs and reference ready")

    # -- checks -----------------------------------------------------------
    def record(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.errors.append(f"{what}: {reason}")

    def check_op(self, op, result) -> str | None:
        from perfbench.reference import check_content, check_phrase, check_ranked

        kind = op[0]
        if kind == "phrase":
            return check_phrase(self.ref, op[1], {r["doc_id"]: r["occurrences"] for r in result})
        rows = sorted(result, key=lambda r: r["rank"])
        got = [(r["doc_id"], r["score"]) for r in rows]
        if kind == "filtered":
            return check_ranked(self.ref, op[1], got, K, op[2], op[3], exact_ties=True)
        return check_ranked(self.ref, op[1], got, K) or check_content(
            self.ref, [(r["doc_id"], r["content"]) for r in rows]
        )

    # -- engine calls -----------------------------------------------------
    def start_spark(self) -> None:
        from goldenretriever_spark.session import get_spark

        extra = None
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t = time.time()
        self.spark = get_spark("perfbench", cores=nproc(), extra_conf=extra)
        self.session_s = time.time() - t
        log("spark session started")
        from perfbench.trace import Tracer

        self.tracer = Tracer(self.spark.sparkContext, enabled=False)

    def build(self, out: str, op: str) -> None:
        from goldenretriever_spark.index.blocks import pack_blocks
        from goldenretriever_spark.index.build import build_index
        from goldenretriever_spark.index.positions import pack_positional_blocks
        from goldenretriever_spark.index.storage import write_index

        tr = self.tracer
        docs = self.spark.read.parquet(self.corpus_path)
        with tr.span("index.build", op) as s:
            idx = build_index(docs)
            if tr.enabled:
                s["postings_rows"] = idx.postings.count()
        with tr.span("index.blocks", op) as s:
            blocks = pack_blocks(idx)
            if tr.enabled:
                blocks = blocks.persist()
                s["n_blocks"] = blocks.count()
        with tr.span("index.positions", op):
            pos = pack_positional_blocks(docs, postings=idx.postings)
            if tr.enabled:
                pos = pos.persist()
                pos.count()
        with tr.span("index.storage.write", op):
            write_index(idx, out, blocks=blocks, positional=pos)
        for df in (idx.postings, blocks, pos):
            df.unpersist()

    def open_index(self, path: str, op: str):
        from goldenretriever_spark.index.storage import StoredIndex

        with self.tracer.span("index.storage.open", op):
            h = StoredIndex(self.spark, path)
            h.n_term_buckets, h.stats, h.posting_blocks, h.positional_blocks
        self.docs = self.spark.read.parquet(self.corpus_path).select("doc_id", "content")
        return h

    def serve(self, h, op, opid: str):
        """One interactive call, its result collected. Traced, each lazy
        layer runs in its own span: a search runs both ranked-only
        (``query.wand``) and with ``documents=``; the join-back is the
        difference of the two walls."""
        tr = self.tracer
        kind = op[0]
        q = [(0, op[1])] if kind != "phrase" else None
        if kind == "phrase":
            with tr.span("query.phrase", opid):
                return h.phrase(op[1]).collect()
        if kind == "filtered":
            if tr.enabled:
                with tr.span("query.boolean", opid) as s:
                    s["allowed_ids"] = h.boolean(must=op[2], must_not=op[3]).count()
                    s["allowed_ok"] = s["allowed_ids"] == int(self.ref.allowed(op[2], op[3]).sum())
            with tr.span("query.boolean.filtered", opid):
                return h.search_filtered(q, k=K, must=op[2], must_not=op[3]).collect()
        def ranked_only():
            with tr.span("query.wand", opid) as s:
                ranked, plan = h.search(q, k=K, with_plan=True)
                ranked.collect()
                s["path"] = plan.get("path")

        # the second of two calls on one query runs warmer, so the order
        # alternates between traced searches and the bias cancels in the mean
        ranked_first = tr.enabled and len(tr.spans_named("query.wand")) % 2 == 0
        if ranked_first:
            ranked_only()
        with tr.span("index.storage.joinback", opid):
            rows = h.search(q, k=K, documents=self.docs).collect()
        if tr.enabled and not ranked_first:
            ranked_only()
        return rows

    def checked(self, what: str, call, check) -> float | None:
        """Time ``call()``, then (untimed) record ``check(result)``. An
        exception from either counts as one failed operation. Returns the
        call's milliseconds, or None when it failed."""
        t = time.perf_counter()
        try:
            result = call()
            ms = (time.perf_counter() - t) * 1000.0
            t_check = time.time()
            reason = check(result)
            self.excluded_s += time.time() - t_check
        except Exception as e:  # an engine failure is a measured outcome
            self.record(what, f"raised {type(e).__name__}: {e}"[:300])
            return None
        self.record(what, reason)
        return ms

    def serve_checked(self, h, op, opid: str) -> float | None:
        return self.checked(
            opid, lambda: self.serve(h, op, opid), lambda r: self.check_op(op, r)
        )

    def build_checked(self, opid: str, check_tables: bool = True) -> float | None:
        """The run's one build, into a fresh directory. ``check_tables=False``
        skips the table checks for an index the serve calls check anyway."""
        out = self.index_dir

        def check(_):
            from perfbench.reference import check_index

            self.index_bytes = dir_bytes(out)
            return check_index(self.ref, out) if check_tables else None

        return self.checked(opid, lambda: self.build(out, opid), check)

    # -- workloads --------------------------------------------------------
    def run(self) -> None:
        self.start_spark()
        if self.args.trace:
            getattr(self, f"trace_{self.args.workload}")()
        else:
            getattr(self, f"measure_{self.args.workload}")()

    def first_op(self) -> None:
        """Mark the end of set-up: everything before this instant, minus
        input generation and checks, is ``setup_s``."""
        self.t_first = time.time()
        self.setup_s = self.t_first - T_PROC - self.excluded_s
        log(f"set-up done: {self.setup_s:.1f}s")

    def measure_build(self) -> None:
        """Exactly one build, the first in this JVM: it outlasts the
        window, and a second build in the same JVM would be a warm build,
        a different operation."""
        self.first_op()
        ms = self.build_checked("build")
        if ms is not None:
            self.ops_ms.append(ms)

    def setup_serve(self, traced: bool, check_tables: bool = False, warm_up: bool = True):
        """Build and open the served index (traced when asked), then a few
        untraced warm-up searches: the first searches on a handle still run
        JIT-cold. Filtered and phrase calls are not warmed: they are two of
        five calls and slower than a search, so a cold one moves no median."""
        self.tracer.enabled = traced
        self.build_ms = self.build_checked("setup", check_tables)
        log("set-up index built")
        if self.build_ms is None:
            raise SystemExit("set-up build failed: " + "; ".join(self.errors))
        h = self.open_index(self.index_dir, "setup")
        self.tracer.enabled = False
        if warm_up:
            searches = [o for o in reversed(self.sequence) if o[0] == "search"]
            for i, op in enumerate(searches[:WARMUP_SEARCHES]):
                self.serve_checked(h, op, f"warmup-{i}")
        log("index opened")
        return h

    def measure_serve_interactive(self) -> None:
        h = self.setup_serve(traced=False)
        self.first_op()
        for i, op in enumerate(self.sequence):
            if self.ops_ms and time.time() - self.t_first >= self.args.seconds:
                break
            ms = self.serve_checked(h, op, f"op-{i}")
            if ms is not None:
                self.ops_ms.append(ms)

    def trace_build(self) -> None:
        self.first_op()
        h = self.setup_serve(traced=True, check_tables=True, warm_up=False)
        # then one traced call of each kind on the fresh, cold index, so the
        # serve layers report on this workload too
        kinds = ("search", "filtered", "phrase")
        self.trace_ops(h, [next(o for o in self.sequence if o[0] == k) for k in kinds])

    def trace_serve_interactive(self) -> None:
        h = self.setup_serve(traced=True)
        self.first_op()
        self.trace_ops(h, self.sequence[:TRACE_OPS])

    def trace_ops(self, h, ops) -> None:
        self.tracer.enabled = True
        for i, op in enumerate(ops):
            opid = f"op-{i}-{op[0]}"
            with self.tracer.span(f"op.{op[0]}", opid):
                ms = self.serve_checked(h, op, opid)
            if ms is not None:
                self.ops_ms.append(ms)
        self.tracer.enabled = False

    # -- teardown and metrics -----------------------------------------------
    def stop(self) -> None:
        """Stop Spark, the JVM and every process they started, and wait
        for each to end."""
        from pyspark import SparkContext

        if not hasattr(self, "spark"):
            return
        gw = SparkContext._gateway
        jvm = gw.proc if gw is not None else None
        self.rss_mb = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
        kids = descendants(os.getpid())
        log(f"measured {len(self.ops_ms)} ops; stopping")
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.time() + 30
        while True:
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if not alive:
                break
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 30
            time.sleep(0.1)

    def end_to_end(self) -> dict:
        if not self.ops_ms:
            raise SystemExit("no operation succeeded: " + "; ".join(self.errors[:5]))
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": statistics.median(self.ops_ms),
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
        }

    def per_layer(self) -> dict:
        from perfbench.trace import span_counters, uncovered_s

        logs = [os.path.join(self.event_dir, f) for f in os.listdir(self.event_dir)]
        counters = span_counters(logs[0])
        spans = self.tracer.spans
        cores = nproc()
        m = dict.fromkeys(PER_LAYER, 0.0)
        m["session.start_s"] = self.session_s
        m["memory.peak_rss_mb"] = self.rss_mb

        of = self.tracer.spans_named

        def c(s, key):
            return counters[s["id"]][key] if s["id"] in counters else 0

        def dur(s):
            return s["end"] - s["start"]

        def mean(xs):
            return statistics.fmean(xs) if xs else 0.0

        for layer, time_key in (
            ("index.build", "index.build.s"),
            ("index.blocks", "index.blocks.s"),
            ("index.positions", "index.positions.s"),
            ("index.storage.write", "index.storage.write_s"),
            ("index.storage.open", "index.storage.open_s"),
        ):
            ss = of(layer)
            m[time_key] = mean([dur(s) for s in ss])
            if layer in ("index.build", "index.blocks", "index.positions"):
                m[f"{layer}.shuffle_write_bytes"] = mean([c(s, "shuffle_write_bytes") for s in ss])
        m["index.build.postings_rows"] = mean([s["postings_rows"] for s in of("index.build")])
        m["index.blocks.n_blocks"] = mean([s["n_blocks"] for s in of("index.blocks")])
        m["index.blocks.bytes"] = dir_bytes(os.path.join(self.index_dir, "posting_blocks"))
        m["index.positions.bytes"] = dir_bytes(os.path.join(self.index_dir, "positional_blocks"))
        m["index.storage.bytes"] = dir_bytes(self.index_dir)

        wand = of("query.wand")
        m["query.wand.s"] = mean([dur(s) for s in wand])
        m["query.wand.jobs"] = mean([c(s, "jobs") for s in wand])
        m["query.wand.rows_read"] = mean([c(s, "input_records") for s in wand])
        m["query.wand.shuffle_records"] = mean([c(s, "shuffle_write_records") for s in wand])
        m["query.wand.driver_s"] = mean(
            [uncovered_s(s["start"], s["end"], c(s, "job_intervals") or []) for s in wand]
        )
        wall = sum(dur(s) for s in wand)
        m["query.wand.busy_frac"] = (
            sum(c(s, "run_ms") for s in wand) / 1000.0 / (wall * cores) if wall else 0.0
        )
        m["query.wand.path_wand_frac"] = mean([float(s["path"] == "wand") for s in wand])
        jb = of("index.storage.joinback")
        by_op = {s["op"]: s for s in wand}
        m["index.storage.joinback_s"] = mean([dur(s) - dur(by_op[s["op"]]) for s in jb])
        m["index.storage.joinback_jobs"] = mean(
            [c(s, "jobs") - c(by_op[s["op"]], "jobs") for s in jb]
        )
        bl, fl, ph = of("query.boolean"), of("query.boolean.filtered"), of("query.phrase")
        m["query.boolean.s"] = mean([dur(s) for s in bl])
        m["query.boolean.jobs"] = mean([c(s, "jobs") for s in bl])
        m["query.boolean.allowed_ids"] = mean([s["allowed_ids"] for s in bl])
        m["query.boolean.filtered_s"] = mean([dur(s) for s in fl])
        m["query.boolean.filtered_jobs"] = mean([c(s, "jobs") for s in fl])
        m["query.phrase.s"] = mean([dur(s) for s in ph])
        m["query.phrase.jobs"] = mean([c(s, "jobs") for s in ph])
        m["query.phrase.rows_read"] = mean([c(s, "input_records") for s in ph])

        # spark.* covers the workload's own operations: the build's layer
        # spans on ``build``, the measured calls on ``serve_interactive``
        if self.args.workload == "build":
            ops = [s for s in spans if s["op"] == "setup" and s["name"] != "index.storage.open"]
            n_ops = 1
        else:
            ops = [s for s in spans if s["name"].startswith("op.")]
            n_ops = len(ops)
        top = {s["id"] for s in ops}
        inside = ops + [s for s in spans if s["parent"] in top]
        op_wall = sum(dur(s) for s in ops)
        run_ms = sum(c(s, "run_ms") for s in inside)
        m["spark.jobs_per_op"] = sum(c(s, "jobs") for s in inside) / n_ops
        m["spark.tasks_per_op"] = sum(c(s, "tasks") for s in inside) / n_ops
        m["spark.busy_frac"] = run_ms / 1000.0 / (op_wall * cores)
        m["spark.gc_frac"] = sum(c(s, "gc_ms") for s in inside) / run_ms if run_ms else 0.0
        m["spark.spill_bytes"] = sum(c(s, "spill_bytes") for s in inside)
        m["spark.failed_tasks"] = sum(c(s, "failed_tasks") for s in inside)
        m["trace.setup_s"] = self.setup_s
        m["trace.op_p50_ms"] = self.build_ms if self.args.workload == "build" else statistics.median(self.ops_ms)
        for s in of("query.boolean"):
            self.record(s["op"], None if s["allowed_ok"] else "boolean doc count differs")
        return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = os.getloadavg()
    host_start = [host_loop_s(), host_fault_s()]
    import goldenretriever_spark

    pkg = os.path.dirname(os.path.abspath(goldenretriever_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"engine imported from {pkg}, not from {ROOT}")

    b = Bench(args)
    b.excluded_s += sum(host_start)
    os.makedirs(b.run_dir, exist_ok=True)
    prepare_env(b.run_dir)
    try:
        b.load_inputs()
        try:
            b.run()
        finally:
            b.stop()
        if args.trace:
            metrics, units = b.per_layer(), PER_LAYER
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            b.tracer.write(
                os.path.join(WORK, "spans", f"{args.workload}_s{args.seed}_{os.getpid()}.jsonl")
            )
        else:
            metrics, units = b.end_to_end(), END_TO_END
    finally:
        shutil.rmtree(b.run_dir, ignore_errors=True)

    ctx = run_context(args.seed)
    ctx.update(
        workload=args.workload,
        trace=args.trace,
        loadavg_start=load_start,
        loadavg_end=os.getloadavg(),
        host_loop_s=[host_start[0], host_loop_s()],
        host_fault_256mb_s=[host_start[1], host_fault_s()],
        ops_ms=[round(x, 1) for x in b.ops_ms],
        peak_rss_mb=getattr(b, "rss_mb", None),
        failed_frac=b.failed / max(b.attempted, 1),
        errors=b.errors[:20],
    )
    print(json.dumps({"context": ctx}))
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}.json"), "w") as f:
        json.dump({"context": ctx, **result}, f)
    print(json.dumps(result))
    log("done")
    return 0


if __name__ == "__main__":
    sys.exit(main())
