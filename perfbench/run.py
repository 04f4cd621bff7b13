#!/usr/bin/env python3
"""spark-clim benchmark: one workload of registered gates, one seed, one
closed loop with a single client.

    python3 perfbench/run.py --workload climate --seed 0 --seconds 1 --trace 0

Run from the root of a source tree.  Set-up starts the session through
``xclim_spark.session.session`` with deployment settings only.  The timed
pass then runs every gate of the workload once, in a seeded order, in the
fresh session: each gate's output is collected and its digest compared
with the gate's DuckDB oracle on the same seeded inputs, and the cache is
cleared after it.  The pass lasts longer than ``--seconds`` (1 s in
``BENCHMARK.json``) at the workloads' scales.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
pass traced, then a traced and an untraced pass (``noop`` sink) for the
tracing overhead, and prints the per-layer metrics.  The last
stdout line is the result JSON; the line before it holds the host and
run context.  The source tables are those of the workload's scale in
TESTDATA.md, or those in ``SPARK_GRAFT_SF_DIR`` if it is set.  Everything
the run writes goes under ``.perfbench/`` in the tree, apart from the
staging directories the gates themselves create under ``/tmp``, which are
removed at exit."""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.arith import innermost, median, ratio, union_length  # noqa: E402
from perfbench.engine import (StatusStores, descendants,  # noqa: E402
                              peak_rss, reset_peak_rss, tree_cpu_s)
from perfbench.inputs import (Digester, Oracles, link_tree,  # noqa: E402
                              scale_dir, seed_dir)
from perfbench.workloads import LAYERS, WORKLOADS  # noqa: E402

# Leaves room on a 15 GB host shared with other jobs; every gate of the
# workloads runs in it.
DRIVER_MEMORY = "2g"
STAGING = "/tmp/xclim_spark_*"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pass_order(gates, seed: int, index: int) -> list[str]:
    order = list(gates)
    random.Random(f"{seed}:{index}").shuffle(order)
    return order


def tree_digest(root: Path) -> str:
    """Content hash of the package under test (the run's checkout need
    not be a git repository)."""
    h = hashlib.sha256()
    for f in sorted((root / "xclim_spark").rglob("*.py")):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def mem_available_mb() -> float | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


class Bench:
    def __init__(self, args, run_dir: Path, oracles: dict, context: dict):
        self.args = args
        self.gates = WORKLOADS[args.workload].gates
        self.run_dir, self.oracles, self.context = run_dir, oracles, context
        self.sf = str(run_dir / "sf")
        self.spark = None
        self.timed: list[list[dict]] = []   # untraced timed passes
        self.traced: list[list[dict]] = []  # traced passes (trace mode)
        self.metrics: dict = {}
        self.bad: set[str] = set()
        self.digester = Digester(ROOT)

    # -- session -------------------------------------------------------
    def start_session(self) -> float:
        from xclim_spark.session import session

        nproc = len(os.sched_getaffinity(0))
        t0 = time.time()
        self.spark = session(
            app="perfbench", master=f"local[{nproc}]",
            **{
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.local.dir": str(self.run_dir / "local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.run_dir / 'tmp'} "
                    "-XX:-UsePerfData "
                    # compiler threads never exit, so tree_cpu_s can
                    # tell their CPU time apart
                    "-XX:-UseDynamicNumberOfCompilerThreads",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    # -- one gate ------------------------------------------------------
    def run_gate(self, name: str, fn, tracer=None, check=False) -> dict:
        """Run one gate into a ``noop`` sink or, with ``check``, collect
        its output and compare its digest with the gate's oracle.  The
        driver CPU and wall time of collecting and digesting are recorded
        so the metrics can leave them out."""
        spark = self.spark
        sc = spark.sparkContext
        span = tracer.span if tracer else (lambda *_: nullcontext())
        rec = {"gate": name, "ok": True, "check_cpu": 0.0, "check_s": 0.0}
        rec["cpu0"], rec["jit0"], rec["gc0"] = tree_cpu_s(os.getpid())
        if tracer is not None:
            tracer.gate = name
            sc.setJobGroup(f"perfbench:{name}", name)
        rec["t0"] = time.time()
        c0 = got = None
        try:
            with span(f"queries:{name}", "queries"):
                with span("queries:build", "queries"):
                    df = fn(spark, self.sf)
                rec["t_build"] = time.time()
                with span("queries:save", "queries"):
                    if check:
                        c0 = time.process_time()
                        rows = df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failing gate is a result
            log(f"gate {name} raised:\n{traceback.format_exc()}")
            rec["ok"] = False
            rec.setdefault("t_build", time.time())
        rec["t1"] = time.time()
        if check:
            if rec["ok"]:
                got = self.digester.digest(df.columns, rows)
                rec["check_cpu"] = time.process_time() - c0
            rec["check_s"] = time.time() - rec["t1"]
            if got != self.oracles[name]:
                log(f"check {name}: output {got} != oracle "
                    f"{self.oracles[name]}")
                self.bad.add(name)
        rec["cpu1"], rec["jit1"], rec["gc1"] = tree_cpu_s(os.getpid())
        spark.catalog.clearCache()
        rec["t2"] = time.time()
        if tracer is not None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
            tracer.gate = None
        return rec

    def run_pass(self, index: int, tracer=None, harvest=None,
                 check=False) -> list[dict]:
        from xclim_spark.queries import build_queries

        qs = build_queries()
        recs = []
        for name in pass_order(self.gates, self.args.seed, index):
            recs.append(self.run_gate(name, qs[name], tracer, check))
            if harvest is not None:
                harvest(recs[-1])
        return recs

    # -- phases --------------------------------------------------------
    def run(self) -> dict:
        start_s = self.start_session()
        self.context.update({
            "session_start_s": start_s,
            "setup_wall_s": time.time() - T_PROCESS - self.context["prep_s"],
        })
        if self.args.trace:
            self.trace_passes()
        else:
            reset_peak_rss(os.getpid())
            self.timed.append(self.run_pass(0, check=True))
            rss, rss_by_process = peak_rss(os.getpid())
            runs = self.timed[0]
            # CPU seconds from process start to the first timed gate, less
            # the input preparation and, as for the timed pass, the JVM's
            # JIT compiler and garbage-collector threads
            first = runs[0]
            setup_s = (first["cpu0"] - first["jit0"] - first["gc0"]
                       - self.context["prep_cpu_s"])
            self.metrics = {
                "setup_s": (setup_s, "s"),
                "suite_cpu_s": (pass_cpu(runs), "s"),
            }
            self.context.update({
                "suite_s": pass_wall(runs),
                "gate_p50_s": median([r["t1"] - r["t0"] for r in runs]),
                "check_cpu_s": sum(r["check_cpu"] for r in runs),
                "peak_rss_mb": rss / 2**20,
                "peak_rss_mb_by_process": {
                    comm: [round(b / 2**20) for b in sizes]
                    for comm, sizes in rss_by_process.items()},
            })
        self.setup_layers = {"session.start_s": (start_s, "s")}
        return self.finish()

    def trace_passes(self) -> None:
        """A traced first pass, checked like the untraced run's timed pass,
        gives the per-layer metrics.  A traced (T) and an untraced (U)
        pass follow, in that order, for the tracing overhead; U runs later
        in the session's warm-up than T, so the overhead is if anything
        overstated."""
        from perfbench.trace import Patcher, ProgressLog, Tracer

        stores = StatusStores(self.spark)
        progress = ProgressLog()
        listener = progress.listener()
        self.spark.streams.addListener(listener)
        tracer = self.tracer = Tracer()

        unsettled = self.context["unsettled"] = []

        def harvest(rec):
            # the stores fill from the listener bus: read final totals only
            if not stores.drain():
                unsettled.append(f"{rec['gate']}: listener bus not drained")
            lo, hi = rec["t0"] - 0.005, rec["t1"] + 0.005
            rec["execs"] = [e for e in stores.executions(lo) if e["start"] <= hi]
            rec["jobs"] = [j for j in stores.jobs(lo) if j["start"] <= hi]
            stage_ids = {s for j in rec["jobs"] for s in j["stages"]}
            rec["stages"] = [s for s in map(stores.stage, sorted(stage_ids))
                             if s is not None]
            unsettled.extend(
                [f"{rec['gate']}: execution {e['id']} not ended"
                 for e in rec["execs"] if e["end"] is None]
                + [f"{rec['gate']}: stage {s['id']} {s['status']}"
                   for s in rec["stages"]
                   if s["status"] not in ("COMPLETE", "FAILED")])

        def traced_pass(index, check=False):
            patcher = Patcher()
            self.context["wrapped_attributes"] = patcher.install(tracer,
                                                                 LAYERS)
            try:
                self.traced.append(self.run_pass(index, tracer, harvest,
                                                 check))
            finally:
                patcher.restore()

        traced_pass(0, check=True)
        traced_pass(1)
        self.timed.append(self.run_pass(2))
        # progress events arrive on the listener bus after the batch ends
        deadline, seen = time.time() + 5.0, -1
        while time.time() < deadline and seen != len(progress.events):
            seen = len(progress.events)
            time.sleep(0.5)
        self.spark.streams.removeListener(listener)
        first = self.traced[0]
        self.progress = [e for e in progress.events
                         if first[0]["t0"] - 1 <= e["start"] <= first[-1]["t2"]]

    def finish(self) -> dict:
        """Assert where ``xclim_spark`` was imported from and build the
        result."""
        import xclim_spark

        root = str(ROOT) + os.sep
        driver_file = xclim_spark.__file__
        worker_file = self.spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("xclim_spark").__file__).collect()[0]
        imports_ok = (driver_file.startswith(root)
                      and worker_file.startswith(root))
        if not imports_ok:
            log(f"xclim_spark imported from {driver_file} (driver) and "
                f"{worker_file} (worker), not from {ROOT}")
        runs = [r for p in self.timed + self.traced for r in p]
        failed = sum(1 for r in runs if not r["ok"] or r["gate"] in self.bad)
        self.context.update({
            "imports": {"driver": driver_file, "worker": worker_file},
            "check_failed_gates": sorted(self.bad),
        })
        if self.args.trace:
            self.metrics = self.per_layer()
        return {"correct": imports_ok and failed == 0,
                "attempted": len(runs), "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in self.metrics.items()}}

    # -- per-layer rollup (traced run) -----------------------------------
    def per_layer(self) -> dict:
        from perfbench.trace import layer_rollup

        runs = self.traced[0]  # the checked first pass, as when untraced
        lo, hi = runs[0]["t0"] - 0.005, runs[-1]["t2"]
        m: dict[str, float] = defaultdict(float)
        engine_spans = []
        spans = [s for s in self.tracer.spans if lo <= s["start"] <= hi]
        by_gate = defaultdict(list)
        for s in spans:
            by_gate[s["gate"]].append(s)
        next_id = len(self.tracer.spans)
        peak_mem = 0.0
        for r in runs:
            wall = r["t1"] - r["t0"]
            execs = r["execs"]
            sql_jobs = {j for e in execs for j in e["jobs"]}
            m["queries.build_s"] += r["t_build"] - r["t0"]
            m["queries.exec_s"] += r["t1"] - r["t_build"]
            m["queries.eager_sql"] += sum(1 for e in execs
                                          if e["start"] < r["t_build"])
            m["spark.sql_executions"] += len(execs)
            ivals = [(e["start"], e["end"] or r["t1"]) for e in execs]
            m["spark.sql_exec_s"] += sum(b - a for a, b in ivals)
            m["spark.driver_only_s"] += wall - union_length(ivals, r["t0"],
                                                            r["t1"])
            m["spark.jobs"] += len(r["jobs"])
            m["spark.non_sql_jobs"] += sum(1 for j in r["jobs"]
                                           if j["id"] not in sql_jobs)
            for e in execs:
                for key in ("py_init_s", "py_start_s", "py_run_s",
                            "py_bytes_sent", "py_bytes_recv",
                            "cache_rows_read"):
                    m[f"spark.{key}"] += e[key]
            for s in r["stages"]:
                m["spark.stages"] += 1
                for key in ("scan_bytes", "shuffle_write_bytes",
                            "shuffle_records", "spill_bytes", "tasks",
                            "failed_tasks"):
                    m[f"spark.{key}"] += s[key]
                peak_mem = max(peak_mem, s["peak_op_mem_bytes"])
            # engine spans: children of the innermost span open at submission
            gate_spans = [s for s in by_gate[r["gate"]]
                          if r["t0"] - 0.005 <= s["start"] <= r["t2"]]
            items = [("sql", e["id"], e["start"], e["end"] or r["t1"])
                     for e in execs]
            items += [("job", j["id"], j["start"], j["end"] or r["t1"])
                      for j in r["jobs"] if j["id"] not in sql_jobs]
            for kind, ident, a, b in items:
                parent = innermost(gate_spans, a)
                engine_spans.append({
                    "id": next_id, "parent": parent and parent["id"],
                    "name": f"{kind}:{ident}", "layer": kind, "start": a,
                    "end": b, "gate": r["gate"]})
                next_id += 1
        out = {k: (v, unit_of(k)) for k, v in m.items()}
        out["spark.peak_op_mem_bytes"] = (peak_mem, "bytes")
        # JVM threads the end-to-end CPU figure leaves out
        out["jvm.jit_cpu_s"] = (sum(r["jit1"] - r["jit0"] for r in runs), "s")
        out["jvm.gc_cpu_s"] = (sum(r["gc1"] - r["gc0"] for r in runs), "s")
        ev = self.progress
        batch_s = sum(e["trigger_s"] for e in ev)
        add_s = sum(e["add_batch_s"] for e in ev)
        last = {}
        for e in ev:
            last[e["run"]] = e
        out.update({
            "streaming.batches": (len(ev), "count"),
            "streaming.batch_s": (batch_s, "s"),
            "streaming.add_batch_s": (add_s, "s"),
            "streaming.batch_overhead_s": (batch_s - add_s, "s"),
            "streaming.input_rows": (sum(e["rows"] for e in ev), "count"),
            "streaming.state_rows": (sum(e["state_rows"]
                                         for e in last.values()), "count"),
            "streaming.state_mem_bytes": (sum(e["state_mem"]
                                              for e in last.values()),
                                          "bytes"),
            "streaming.batch_p50_s": (median([e["trigger_s"] for e in ev]),
                                      "s"),
            "streaming.rows_per_s": (ratio(sum(e["rows"] for e in ev),
                                           batch_s), "1/s"),
        })
        for layer, vals in layer_rollup(spans, engine_spans, LAYERS).items():
            out[f"{layer}.calls"] = (vals["calls"], "count")
            out[f"{layer}.self_s"] = (vals["self_s"], "s")
            out[f"{layer}.eager_sql"] = (vals["eager_sql"], "count")
        # the later passes: traced, then untraced
        base, traced = pass_wall(self.timed[0]), pass_wall(self.traced[1])
        out["trace.base_suite_s"] = (base, "s")
        out["trace.suite_s"] = (traced, "s")
        out["trace.overhead_s"] = (traced - base, "s")
        out.update(self.setup_layers)
        for key in PER_LAYER_KEYS:
            out.setdefault(key, (0.0, unit_of(key)))
        self.spans_out = self.tracer.spans + engine_spans
        return out


PER_LAYER_KEYS = (
    "queries.build_s queries.exec_s queries.eager_sql "
    "spark.sql_executions spark.sql_exec_s spark.scan_bytes "
    "spark.shuffle_write_bytes spark.shuffle_records spark.spill_bytes "
    "spark.peak_op_mem_bytes spark.cache_rows_read spark.stages spark.tasks "
    "spark.failed_tasks spark.driver_only_s spark.jobs spark.non_sql_jobs "
    "spark.py_init_s spark.py_start_s spark.py_run_s spark.py_bytes_sent "
    "spark.py_bytes_recv").split()


def unit_of(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("bytes") or key.endswith("bytes_sent") or key.endswith(
            "bytes_recv"):
        return "bytes"
    return "count"


def gate_cpu(rec: dict) -> float:
    """CPU seconds of one gate execution, less the JVM's JIT compiler and
    garbage-collector threads and the driver's work of collecting and
    digesting the output for its check."""
    return (rec["cpu1"] - rec["cpu0"] - (rec["jit1"] - rec["jit0"])
            - (rec["gc1"] - rec["gc0"]) - rec["check_cpu"])


def pass_cpu(recs: list[dict]) -> float:
    """CPU seconds of one pass, summed over its gate executions."""
    return sum(map(gate_cpu, recs))


def pass_wall(recs: list[dict]) -> float:
    """Wall time of one pass: every gate call, sink and cache clear (the
    output digest, and harvesting between traced gates, are left out)."""
    return sum(r["t2"] - r["t0"] - r["check_s"] for r in recs)


def stop_processes(spark, before: set[int]) -> None:
    """Stop the session, end the driver JVM and wait for every process
    this run started (the JVM, the Python worker daemon and its workers)."""

    me = os.getpid()
    pids = set(descendants(me)) - {me} - before
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _terminate(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup finish
    sys.exit(143)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, _terminate)
    if not (ROOT / "xclim_spark" / "__init__.py").is_file():
        log(f"no xclim_spark package under {ROOT}; run from a source tree")
        return 2
    src = Path(os.environ.get("SPARK_GRAFT_SF_DIR")
               or scale_dir(ROOT / "TESTDATA.md",
                            WORKLOADS[args.workload].scale))
    if not (src / "lineitem.parquet").is_file():
        log(f"no input tables under {src} (set SPARK_GRAFT_SF_DIR)")
        return 2
    work = ROOT / ".perfbench"
    run_dir = work / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    # the driver JVM, and through it the Python workers, inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")

    import xclim_spark.queries as q

    staged_before = set(glob.glob(STAGING))
    procs_before = set(descendants(os.getpid()))
    load0 = os.getloadavg()
    context = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "gates": list(WORKLOADS[args.workload].gates),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load0, "mem_available_mb": mem_available_mb(),
        "python": platform.python_version(), "commit": git_commit(ROOT),
        "tree": tree_digest(ROOT), "source_dir": str(src),
    }
    bench = None
    result = None
    try:
        for sub in ("tmp", "local", "warehouse"):
            (run_dir / sub).mkdir(parents=True)
        t, (cpu, _, _) = time.time(), tree_cpu_s(os.getpid())
        data = seed_dir(work / "cache", src, args.seed)
        link_tree(data, run_dir / "sf")
        oracle_sql = q.build_oracles()
        oracles = Oracles(ROOT, data, seed_dir(work / "cache", src, 0))
        refs = {g: oracles.digest(g, oracle_sql[g])
                for g in WORKLOADS[args.workload].gates}
        context["prep_s"] = time.time() - t
        context["prep_cpu_s"] = tree_cpu_s(os.getpid())[0] - cpu
        bench = Bench(args, run_dir, refs, context)
        result = bench.run()
        import pyspark

        sc = bench.spark.sparkContext
        context.update({
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "spark_conf": dict(sorted(sc.getConf().getAll())),
            "pass_s": [pass_wall(p) for p in bench.timed + bench.traced],
            "gate_s": [{r["gate"]: r["t1"] - r["t0"] for r in p}
                       for p in bench.timed + bench.traced],
            "gate_cpu_s": [{r["gate"]: gate_cpu(r) for r in p}
                           for p in bench.timed + bench.traced],
            "pass_jit_cpu_s": [sum(r["jit1"] - r["jit0"] for r in p)
                               for p in bench.timed + bench.traced],
            "pass_gc_cpu_s": [sum(r["gc1"] - r["gc0"] for r in p)
                              for p in bench.timed + bench.traced],
        })
        if args.trace:
            out = work / "out"
            out.mkdir(parents=True, exist_ok=True)
            path = out / f"spans-{args.workload}-s{args.seed}.json"
            path.write_text(json.dumps(bench.spans_out))
            context["spans"] = str(path.relative_to(ROOT))
    finally:
        try:
            stop_processes(bench and bench.spark, procs_before)
        finally:
            for d in set(glob.glob(STAGING)) - staged_before:
                shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(run_dir, ignore_errors=True)
    context["loadavg_end"] = os.getloadavg()
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
