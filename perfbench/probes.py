"""Per-layer probes for traced runs, plus the /proc readers and host spins
that every run uses.

Each probe reads a counter before and after a pass, so a traced pass
yields one flat ``{metric: value}`` dict per layer.  Nothing here is
installed in an untraced run.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
_HERE = os.path.dirname(os.path.abspath(__file__))


# --------------------------------------------------------------- /proc

def proc_cpu_s(pid: int, children: bool = False) -> float:
    """User+system CPU of ``pid`` (plus reaped children if asked)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def proc_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def descendants(pid: int) -> list[int]:
    parents = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU of the PySpark daemon and workers under the JVM.  The daemon's
    reaped-children time covers workers that already exited."""
    total = 0.0
    for p in descendants(jvm_pid):
        cmd = cmdline(p)
        if "pyspark.daemon" in cmd:
            total += proc_cpu_s(p, children=True)
        elif "pyspark" in cmd or "python" in cmd:
            total += proc_cpu_s(p)
    return total


# --------------------------------------------------------------- sentinels

SPIN_ITERS = 2_000_000


def spin_once(iters: int = SPIN_ITERS) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i
    return time.perf_counter() - t0


def host_spins(width: int) -> dict[str, float]:
    """Single-thread spin (min of 3) and the median of ``width``
    simultaneous spins, with the width stored beside it."""
    single = min(spin_once() for _ in range(3))
    # children sleep until a common start time, then spin
    code = (f"import sys, time; sys.path.insert(0, {_HERE!r}); import probes; "
            f"time.sleep(max(0.0, {time.time() + 0.5} - time.time())); "
            f"print(probes.spin_once())")
    procs = [subprocess.Popen([sys.executable, "-c", code],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(width)]
    wide = [float(p.communicate(timeout=120)[0]) for p in procs]
    return {"spin_s": single, "pspin_s": statistics.median(wide),
            "pspin_width": width}


# --------------------------------------------------------------- JVM

class JvmCounters:
    """Cheap global JVM counters read over py4j."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jsc = spark.sparkContext._jsc
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def read(self) -> dict[str, float]:
        snap = self._codegen.getSnapshot()
        n = self._codegen.getCount()
        return {
            "codegen_compiles": n,
            # count x reservoir mean is exact until the 1028-sample
            # reservoir fills, an estimate after
            "codegen_ms": n * snap.getMean(),
            "jit_ms": self._comp.getTotalCompilationTime(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gcs),
            "cpu_s": proc_cpu_s(self.pid),
            "persisted_rdds": self._jsc.getPersistentRDDs().size(),
        }


# --------------------------------------------------------------- event log

_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_PY_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
}


class EventLog:
    """Incremental reader of the uncompressed Spark event log.

    ``window(windows)`` consumes the complete lines written since the last
    call and folds them into ``spark.*``/``udfs.*`` sums; ``windows`` is a
    list of ``(start_ms, end_ms, phase)`` used to attribute jobs whose
    group is not one of ours (streaming micro-batches) to a phase."""

    def __init__(self, directory: str):
        self.dir = directory
        self.offset = 0
        self.py_acc: dict[int, str] = {}

    def _path(self) -> str | None:
        files = [f for f in os.listdir(self.dir) if not f.startswith(".")]
        return os.path.join(self.dir, sorted(files)[0]) if files else None

    def _lines(self):
        path = self._path()
        if path is None:
            return []
        with open(path, "rb") as fh:
            fh.seek(self.offset)
            data = fh.read()
        end = data.rfind(b"\n") + 1
        self.offset += end
        return data[:end].splitlines()

    def _plan_nodes(self, info: dict) -> None:
        stack = [info]
        while stack:
            node = stack.pop()
            if _PY_NODE.search(node.get("nodeName", "")):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m.get("name"))
                    if key:
                        self.py_acc[m["accumulatorId"]] = key
            stack += node.get("children", [])

    def window(self, windows) -> dict[str, float]:
        s = dict.fromkeys(
            ("jobs", "build_jobs", "stages", "tasks", "failed_tasks",
             "sched_delay_ms", "task_run_ms", "task_cpu_ms", "input_bytes",
             "input_rows", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "bytes_to_python", "bytes_from_python",
             "rows_from_python"), 0.0)
        for raw in self._lines():
            ev = json.loads(raw)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                s["jobs"] += 1
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                if group.startswith("perfbench:"):
                    phase = group.rsplit(":", 1)[1]
                else:
                    t = ev.get("Submission Time", 0)
                    phase = next((p for a, b, p in windows if a <= t <= b), "")
                s["build_jobs"] += phase == "build"
            elif kind == "SparkListenerStageCompleted":
                s["stages"] += 1
                for acc in ev["Stage Info"].get("Accumulables", []):
                    key = self.py_acc.get(acc.get("ID"))
                    if key:
                        s[key] += float(acc.get("Value") or 0)
            elif kind == "SparkListenerTaskEnd":
                s["tasks"] += 1
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    s["failed_tasks"] += 1
                run = m.get("Executor Run Time", 0)
                s["task_run_ms"] += run
                s["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                s["sched_delay_ms"] += max(
                    0,
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    - run - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0),
                )
                inp = m.get("Input Metrics") or {}
                s["input_bytes"] += inp.get("Bytes Read", 0)
                s["input_rows"] += inp.get("Records Read", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                            + rd.get("Local Bytes Read", 0))
                wr = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            elif "sparkPlanInfo" in ev:
                self._plan_nodes(ev["sparkPlanInfo"])
        return s


# --------------------------------------------------------------- catalyst

_PHASES = ("analysis", "optimization", "planning")


def phase_ms(qe) -> dict[str, float]:
    phases = qe.tracker().phases()
    out = {}
    for p in _PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class CatalystListener:
    """QueryExecutionListener (py4j callback): sums the phase times of
    every action's QueryExecution."""

    def __init__(self):
        self.totals = dict.fromkeys(_PHASES, 0.0)
        self.enabled = False

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        if self.enabled:
            for k, v in phase_ms(qe).items():
                self.totals[k] += v

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --------------------------------------------------------------- streaming

def make_stream_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        """Folds query lifecycle and progress events into sums."""

        def __init__(self):
            self.enabled = False
            self.reset()

        def reset(self):
            self.started: dict[str, float] = {}
            self.ended: dict[str, float] = {}
            self.state: dict[str, tuple[float, float]] = {}
            self.s = dict.fromkeys(
                ("queries", "batches", "empty_batches", "trigger_ms",
                 "add_batch_ms", "query_planning_ms", "offset_ms",
                 "log_commit_ms"), 0.0)

        def onQueryStarted(self, event):  # noqa: N802
            if self.enabled:
                self.started[str(event.id)] = time.time()
                self.s["queries"] += 1

        def onQueryProgress(self, event):  # noqa: N802
            if not self.enabled:
                return
            p = event.progress
            d = p.durationMs
            s = self.s
            s["batches"] += 1
            s["empty_batches"] += p.numInputRows == 0
            s["trigger_ms"] += d.get("triggerExecution", 0)
            s["add_batch_ms"] += d.get("addBatch", 0)
            s["query_planning_ms"] += d.get("queryPlanning", 0)
            s["offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
            s["log_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            rows = sum(o.numRowsTotal for o in p.stateOperators)
            mem = sum(o.memoryUsedBytes for o in p.stateOperators)
            prev = self.state.get(str(p.id), (0, 0))
            self.state[str(p.id)] = (max(prev[0], rows), max(prev[1], mem))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            if self.enabled:
                self.ended[str(event.id)] = time.time()

        def summary(self, now: float) -> dict[str, float]:
            s = dict(self.s)
            life_ms = sum(
                (self.ended.get(q, now) - t0) * 1000.0
                for q, t0 in self.started.items()
            )
            s["outside_batch_ms"] = max(0.0, life_ms - s["trigger_ms"])
            s["empty_batch_frac"] = (
                s.pop("empty_batches") / s["batches"] if s["batches"] else 0.0
            )
            s["state_rows"] = sum(r for r, _ in self.state.values())
            s["state_memory_bytes"] = sum(m for _, m in self.state.values())
            return s

    return StreamListener()


# --------------------------------------------------------------- sources

SOURCE_MODULES = (
    "delta_protocol", "iceberg_format", "iceberg_v2", "hudi_format",
    "hudi_mor", "txnlog", "uniform", "iceberg_migrate",
)
_READ = re.compile(
    r"^(resolve|read|plan|snapshot|history|current|version|completed|"
    r"pending|file_slices|ref_snapshot|table_changes|commits|load|"
    r"savepoints|clean_horizon)"
)
_HELPER = re.compile(r"^(pack_|unpack_|encode_|decode_|spark_ddl|unescape_)")


class SourceTimers:
    """Self-time wrappers around the public functions of the lakehouse
    format modules.  ``install`` rebinds every reference to an original
    function in the package's loaded modules; ``uninstall`` restores them."""

    def __init__(self):
        self.s = dict.fromkeys(("read_calls", "read_s", "write_calls",
                                "write_s"), 0.0)
        self._tls = threading.local()
        self._wrapped: dict[object, object] = {}
        self._bound: list[tuple[object, str, object]] = []

    def _wrap(self, fn, kind: str):
        tls = self._tls
        s = self.s

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            stack = tls.__dict__.setdefault("stack", [])
            stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                s[f"{kind}_calls"] += 1
                s[f"{kind}_s"] += dt - child

        return timed

    def install(self) -> None:
        import importlib
        import sys

        if not self._wrapped:
            for short in SOURCE_MODULES:
                mod = importlib.import_module(
                    f"incubator_gluten_spark.sources.{short}")
                for name, fn in vars(mod).items():
                    if (callable(fn) and not name.startswith("_")
                            and getattr(fn, "__module__", None) == mod.__name__
                            and not isinstance(fn, type)
                            and not _HELPER.match(name)):
                        kind = "read" if _READ.match(name) else "write"
                        self._wrapped[fn] = self._wrap(fn, kind)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("incubator_gluten_spark") or mod is None:
                continue
            for name, val in list(vars(mod).items()):
                try:
                    wrapped = self._wrapped.get(val)
                except TypeError:
                    continue
                if wrapped is not None:
                    setattr(mod, name, wrapped)
                    self._bound.append((mod, name, val))

    def uninstall(self) -> None:
        for mod, name, val in self._bound:
            setattr(mod, name, val)
        self._bound.clear()


def files_written(roots, since: float) -> tuple[int, int]:
    """Files (and their bytes) under ``roots`` modified at or after
    ``since`` (epoch seconds)."""
    n = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for f in names:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except OSError:
                    continue
                if st.st_mtime >= since:
                    n += 1
                    size += st.st_size
    return n, size
