"""Engine-side measurement: Spark's SQL status store and application
status store (read through the session's JVM handles, so it works with
the UI off), and the CPU time and peak resident memory of the process
tree."""

from __future__ import annotations

import os

_SCALE = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}

#: SQL metric name -> per-layer metric it sums into.
PY_METRICS = {
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_start_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_recv",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'5,334'``, ``'734.0 B'``, or a
    ``'total (min, med, max ...)\\n6.4 s (3.2 s, ...)'`` summary, whose
    total is taken.  Sizes become bytes, durations seconds."""
    head = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    value = float(head[0].replace(",", ""))
    return value * _SCALE[head[1]] if len(head) > 1 else value


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStores:
    """Reads executions, jobs and stages finished in a time window."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        sc = spark.sparkContext._jsc.sc()
        self._app = sc.statusStore()
        self._bus = sc.listenerBus()

    def drain(self, timeout_ms: int = 30_000) -> bool:
        """Wait until the listener bus has delivered every event posted so
        far.  The stores are filled from that bus asynchronously: until an
        execution's end, its tasks' ends and its stages' completion are
        delivered, they hold partial totals.  False on timeout."""
        try:
            self._bus.waitUntilEmpty(timeout_ms)
        except Exception:  # noqa: BLE001 - py4j wraps the TimeoutException
            return False
        return True

    def executions(self, since: float) -> list[dict]:
        out = []
        for e in _seq(self._sql.executionsList()):
            start = e.submissionTime() / 1000.0
            if start < since:
                continue
            end = _date_s(e.completionTime())
            out.append({"id": e.executionId(), "start": start, "end": end,
                        "jobs": [int(j) for j in _seq(e.jobs().keys().toSeq())],
                        **self._plan_metrics(e.executionId())})
        return out

    def _plan_metrics(self, exec_id: int) -> dict:
        acc = {v: 0.0 for v in PY_METRICS.values()}
        acc["cache_rows_read"] = 0.0
        values = self._sql.executionMetrics(exec_id)
        for node in _seq(self._sql.planGraph(exec_id).allNodes()):
            cached = node.name() == "InMemoryTableScan"
            for m in _seq(node.metrics()):
                key = PY_METRICS.get(m.name())
                if key is None and not (cached
                                        and m.name() == "number of output rows"):
                    continue
                text = values.get(m.accumulatorId())
                if text.isDefined():
                    acc[key or "cache_rows_read"] += parse_metric(text.get())
        return acc

    def jobs(self, since: float) -> list[dict]:
        out = []
        for j in _seq(self._app.jobsList(None)):
            start = _date_s(j.submissionTime())
            if start is None or start < since:
                continue
            out.append({"id": j.jobId(), "start": start,
                        "end": _date_s(j.completionTime()),
                        "stages": [int(s) for s in _seq(j.stageIds())]})
        return out

    def stage(self, stage_id: int) -> dict | None:
        """Totals and status of a stage's last attempt; None if it was
        skipped."""
        s = self._app.lastStageAttempt(stage_id)
        status = s.status().toString()
        if status == "SKIPPED":
            return None
        return {
            "id": stage_id, "status": status,
            "scan_bytes": s.inputBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_records": s.shuffleWriteRecords(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_op_mem_bytes": s.peakExecutionMemory(),
            "tasks": (s.numCompleteTasks() + s.numFailedTasks()
                      + s.numKilledTasks()),
            "failed_tasks": s.numFailedTasks(),
        }


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


#: Thread names (``/proc`` cuts them to 15 characters) of HotSpot's JIT
#: compiler threads (``C2 CompilerThread0``) and G1 collector threads.
JIT_THREAD = "CompilerThre"
GC_THREADS = ("GC Thread", "G1 ")


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as fh:
        return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[fields])


def tree_cpu_s(root: int) -> tuple[float, float, float]:
    """CPU seconds (user and system, reaped children included) used so
    far by ``root`` and its descendants, and the parts of it spent by the
    JIT compiler threads and by the garbage-collector threads of JVMs
    among them.  Time the hypervisor steals from the guest is not in it,
    unlike wall time.  The parts stay whole only while those threads
    never exit: the JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads`` (HotSpot keeps GC threads
    once started)."""
    ticks = jit = gc = 0
    for pid in descendants(root):
        try:
            ticks += _ticks(f"/proc/{pid}/stat", slice(11, 15))
        except OSError:
            continue
        if _java_or_python(pid) != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read()
                if JIT_THREAD in name:
                    jit += _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
                elif name.startswith(GC_THREADS):
                    gc += _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
            except OSError:
                continue
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz, gc / hz


def _java_or_python(pid: int) -> str | None:
    """The process's command name if it is a JVM or a Python process.
    Short-lived helpers the JVM forks (``chmod`` and the like) are left
    out: until they exec they show the JVM's own resident pages."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
    except OSError:
        return None
    return comm if comm == "java" or comm.startswith("python") else None


def reset_peak_rss(root: int) -> None:
    """Restart the peak-RSS counter (``VmHWM``) of ``root`` and of every
    JVM and Python process below it."""
    for pid in descendants(root):
        if _java_or_python(pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass


def peak_rss(root: int) -> tuple[int, dict[str, list[int]]]:
    """Summed peak resident bytes (``VmHWM``) of ``root`` and the JVM and
    Python processes below it (the driver Python process, the driver JVM
    and the Python workers), and each one's peak by command name.  Read
    from the kernel, so no sampling thread competes with the run."""
    by_comm: dict[str, list[int]] = {}
    for pid in descendants(root):
        comm = _java_or_python(pid)
        if comm is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                kib = next(int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            continue
        by_comm.setdefault(comm, []).append(kib * 1024)
    return sum(map(sum, by_comm.values())), by_comm
