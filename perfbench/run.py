"""Layered benchmark of the query engine.

One run = one fresh process and one fresh Spark session on local[nproc]:

1. time set-up: ``get_session()`` plus a count of every table of the
   read-only fixture in ``fixture/sf<sf>`` (a copy of the repository's
   test fixture);
2. run passes over the workload's registry entries, each in an order
   shuffled by ``--seed``: one cold pass, a fixed number of unmeasured
   warm-up passes, then the measured passes, as many as ``--seconds``
   asks for (``workloads.py``); an operation is
   ``Q.build(spark, data_dir)`` plus a noop-sink write;
3. check each entry's last output against its DuckDB oracle twin (or for
   a non-empty result with a stable schema) outside every timed region;
4. stop streaming queries, the JVM and its children, measure and delete
   the run's files.

Usage, from the repository root::

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload olap --seed 1 --trace 1   # per layer
    python3 perfbench/run.py --smoke                              # sf0.001
    python3 perfbench/run.py --compare A.jsonl B.jsonl            # A/B

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones (see ``spec.py``); every pass of a
traced run is traced.  The line before it is a JSON object of details
(per-entry times, tail percentile, host spins, leftovers).
``--record FILE`` appends both to FILE for ``--compare``, which also
prints the tracing overhead: the traced runs' ``trace.pass_s`` over the
untraced runs' ``pass_s``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
import spec  # noqa: E402
from workloads import WARMUP_PASSES, WORKLOADS, measured_passes  # noqa: E402

PACKAGE = "incubator_gluten_spark"
TAIL_BEYOND = 10  # plans.op_tail_s: the highest percentile with this many beyond
FIXTURES = ("0.01", "0.001")
# Stop making passes once a run is this old, so it ends within 180 s even
# on a very slow host; the pass counts in the details line show it.
RUN_LIMIT_S = 140.0
LIVE_HEAP_GCS = 3  # for jvm_live_heap_mb


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """A quarter of host memory, 1-4 GiB: the engine's 24g default
    exceeds small hosts."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Harness:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.traced_run = bool(args.trace)
        self.work = os.path.join(root, ".perfbench", f"run_{os.getpid()}")
        self.data = os.path.join(HERE, "fixture", f"sf{args.sf}")
        self.tmp = os.path.join(self.work, "tmp")
        self.io = os.path.join(self.work, "io")
        self.evdir = os.path.join(self.work, "eventlog")
        # registry entries write below this fixed per-process path
        self.io_link = f"/tmp/spark_graft_io_{os.getpid()}"
        self.spark = None
        self.details: dict = {}

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        for d in (self.tmp, self.io, self.evdir):
            os.makedirs(d, exist_ok=True)
        if os.path.lexists(self.io_link):
            os.unlink(self.io_link)
        os.symlink(self.io, self.io_link)
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            # Python workers import the engine package too
            "PYTHONPATH": os.pathsep.join(
                p for p in (self.root, os.environ.get("PYTHONPATH")) if p),
        })
        tempfile.tempdir = None

    def setup(self) -> None:
        from incubator_gluten_spark.catalog import TABLES, load_tables
        from incubator_gluten_spark.session import get_session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata files in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced_run:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_session(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        for df in load_tables(self.spark, self.data, TABLES).values():
            df.count()
        t2 = time.perf_counter()
        self.session_s, self.warm_s = t1 - t0, t2 - t1
        _log(f"set-up {t1 - t0:.2f} s session + {t2 - t1:.2f} s catalog")

    # ------------------------------------------------------------ passes
    def run_passes(self, names: list[str]) -> list[dict]:
        from incubator_gluten_spark.plans import collect_all

        registry = collect_all()
        missing = [n for n in names if n not in registry]
        if missing:
            _die(f"entries missing from the registry: {missing}")
        self.registry = registry
        self.last_df: dict = {}
        self.schema: dict[str, str] = {}
        if self.traced_run:
            self._install_probes()
        rng = random.Random(self.args.seed)

        def shuffled() -> list[str]:
            order = list(names)
            rng.shuffle(order)
            return order

        plan = (["cold"] + ["warmup"] * WARMUP_PASSES[self.args.workload]
                + ["measured"] * measured_passes(self.args.workload,
                                                 self.args.seconds))
        passes = []
        for kind in plan:
            if passes and time.perf_counter() - T_START > RUN_LIMIT_S:
                _log(f"run limit reached after {len(passes)} passes")
                break
            passes.append(self._pass(shuffled(), kind))
            _log(f"{kind} pass {passes[-1]['wall']:.2f} s")
        # the Python driver's peak so far, before the checks load DuckDB
        self.py_peak_mb = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return passes

    def _pass(self, order: list[str], kind: str) -> dict:
        traced = self.traced_run
        if traced:
            self._begin_trace()
        ops = []
        windows = []
        t0 = time.perf_counter()
        for name in order:
            ops.append(self._op(name, traced, windows))
        wall = time.perf_counter() - t0
        p = {"kind": kind, "wall": wall, "ops": ops}
        if traced:
            p["layers"] = self._end_trace(ops, wall, windows)
        return p

    def _op(self, name: str, traced: bool, windows: list) -> dict:
        q = self.registry[name]
        sc = self.spark.sparkContext
        rec = {"name": name, "ok": False}
        if traced:
            sc.setJobGroup(f"perfbench:{name}:build", name)
        w0 = time.time() * 1000
        c0 = time.process_time()
        try:
            t0 = time.perf_counter()
            df = q.build(self.spark, self.data)
            t1 = time.perf_counter()
            w1 = time.time() * 1000
            if traced:
                sc.setJobGroup(f"perfbench:{name}:exec", name)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception:  # noqa: BLE001 - counted, run continues
            _log(f"{name} failed:\n{traceback.format_exc(limit=8)}")
            self.last_df.pop(name, None)
            return rec
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        rec.update(ok=True, build_s=t1 - t0, exec_s=t3 - t2,
                   secs=(t1 - t0) + (t3 - t2),
                   driver_cpu_s=time.process_time() - c0)
        windows += [(w0, w1, "build"), (w1, time.time() * 1000, "exec")]
        self.last_df[name] = df
        self.schema.setdefault(name, df.schema.simpleString())
        if traced:
            rec["analysis_ms"] = probes.phase_ms(df._jdf.queryExecution())[
                "analysis"]
        return rec

    # ------------------------------------------------------------ tracing
    def _install_probes(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        sc = self.spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self.jvm = probes.JvmCounters(self.spark)
        self.catalyst = probes.CatalystListener()
        self.spark._jsparkSession.listenerManager().register(self.catalyst)
        self.streams = probes.make_stream_listener()
        self.spark.streams.addListener(self.streams)
        self.sources = probes.SourceTimers()
        self.evlog = probes.EventLog(self.evdir)
        self.bus = sc._jsc.sc().listenerBus()

    def _begin_trace(self) -> None:
        self.bus.waitUntilEmpty()
        self.evlog.window([])
        self.streams.reset()
        self.streams.enabled = self.catalyst.enabled = True
        self.catalyst.totals = dict.fromkeys(self.catalyst.totals, 0.0)
        self._src0 = dict(self.sources.s)
        self.sources.install()
        self._jvm0 = self.jvm.read()
        self._py0 = probes.python_worker_cpu_s(self.jvm.pid)
        self._t0 = time.time()

    def _end_trace(self, ops, wall: float, windows) -> dict:
        self.sources.uninstall()
        self.bus.waitUntilEmpty()
        self.streams.enabled = self.catalyst.enabled = False
        now = time.time()
        jvm1 = self.jvm.read()
        ev = self.evlog.window(windows)
        st = self.streams.summary(now)
        nfiles, nbytes = probes.files_written([self.io, self.tmp], self._t0)
        good = [o for o in ops if o["ok"]]
        cat = self.catalyst.totals
        d = {f"jvm.{k}": jvm1[k] - self._jvm0[k]
             for k in ("jit_ms", "gc_ms", "cpu_s")}
        d.update({
            "plans.build_s": sum(o["build_s"] for o in good),
            "plans.exec_s": sum(o["exec_s"] for o in good),
            "plans.build_jobs": ev.pop("build_jobs"),
            "plans.driver_cpu_s": sum(o["driver_cpu_s"] for o in good),
            "catalyst.analysis_ms": cat["analysis"]
            + sum(o["analysis_ms"] for o in good),
            "catalyst.optimization_ms": cat["optimization"],
            "catalyst.planning_ms": cat["planning"],
            "spark.core_busy_frac": ev["task_run_ms"]
            / (wall * 1000.0 * _cpus()),
            "spark.codegen_compiles": jvm1["codegen_compiles"]
            - self._jvm0["codegen_compiles"],
            "spark.codegen_ms": jvm1["codegen_ms"] - self._jvm0["codegen_ms"],
            "spark.persisted_rdds": jvm1["persisted_rdds"],
            "sources.files_written": nfiles,
            "sources.bytes_written": nbytes,
            "udfs.worker_cpu_s": probes.python_worker_cpu_s(self.jvm.pid)
            - self._py0,
        })
        for k in ("bytes_to_python", "bytes_from_python", "rows_from_python"):
            d[f"udfs.{k}"] = ev.pop(k)
        d.update({f"spark.{k}": v for k, v in ev.items()})
        d.update({f"sources.{k}": v - self._src0[k]
                  for k, v in self.sources.s.items()})
        d.update({f"streaming.{k}": v for k, v in st.items()})
        return d

    def read_jvm_memory(self) -> None:
        """Peak RSS of the JVM, then its heap in use after a full GC.

        Python's collector runs first, so py4j proxies nobody holds stop
        pinning their JVM objects.  Then the smallest heap over
        ``LIVE_HEAP_GCS`` GCs a second apart: what the JVM frees after a
        GC (Spark's ContextCleaner, finalizers) can take a few rounds."""
        jvm = self.spark.sparkContext._jvm
        self.jvm_hwm_mb = probes.proc_hwm_mb(
            int(jvm.java.lang.ProcessHandle.current().pid()))
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        gc.collect()
        used = []
        for i in range(LIVE_HEAP_GCS):
            time.sleep(1.0 if i else 0.0)
            mem.gc()
            used.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        _log("heap after GC " + ", ".join(f"{u:.1f}" for u in used) + " MB")
        self.jvm_live_mb = min(used)

    # ------------------------------------------------------------ checks
    def verify(self, names: list[str]) -> list[str]:
        from incubator_gluten_spark.testing.compare import (
            compare_frames,
            duckdb_connection,
        )

        con = duckdb_connection(self.data)
        wrong = []
        for name in names:
            df = self.last_df.get(name)
            if df is None:
                continue  # already counted as a failed operation
            q = self.registry[name]
            try:
                if q.oracle:
                    compare_frames(df, con, q.oracle)
                elif not df.limit(1).collect():
                    raise ValueError("empty result")
                elif df.schema.simpleString() != self.schema[name]:
                    raise ValueError("schema changed between passes")
            except Exception as exc:  # noqa: BLE001 - a wrong output
                _log(f"{name} output wrong: {exc!r}"[:2000])
                wrong.append(name)
        con.close()
        return wrong

    # ------------------------------------------------------------ teardown
    def teardown(self) -> None:
        if self.spark is not None:
            leftover = []
            for q in self.spark.streams.active:
                leftover.append(q.name or str(q.id))
                q.stop()
            self.details["leftover_queries"] = leftover
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            self.spark.stop()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.details["leftover_processes"] = _reap_children()
        if os.path.lexists(self.io_link):
            os.unlink(self.io_link)
        nfiles, nbytes = probes.files_written([self.work], 0)
        self.details.update(run_files=nfiles, run_bytes=nbytes)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


def _reap_children() -> list[str]:
    """Terminate and wait for every process left below this one."""
    left = []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        kids = probes.descendants(os.getpid())
        if not kids:
            break
        for pid in kids:
            left.append(probes.cmdline(pid)[:80])
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 10
        while time.time() < end and probes.descendants(os.getpid()):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)
    return sorted(set(left))


def _tail(samples: list[float]) -> tuple[float, float, int]:
    """Value, percentile and sample count of the highest percentile that
    has ``TAIL_BEYOND`` samples beyond it; the maximum when that
    percentile would not lie above the median."""
    xs = sorted(samples)
    if not xs:
        return 0.0, 0.0, 0
    i = len(xs) - TAIL_BEYOND - 1
    if i < len(xs) // 2:
        i = len(xs) - 1
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def summarise(h: Harness, passes, wrong, spins) -> tuple[dict, dict, dict]:
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "measured"]
    if not warm:
        _die(f"no measured pass within the {RUN_LIMIT_S:.0f} s run limit")
    all_ops = [o for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in all_ops) + len(wrong)
    lat = [o["secs"] for p in warm for o in p["ops"] if o["ok"]]
    tail, tail_pct, tail_n = _tail(lat)
    e2e = {
        "setup_s": h.session_s + h.warm_s,
        "cold_pass_s": cold["wall"],
        "pass_s": _median([p["wall"] for p in warm]),
        "op_p50_s": _median(lat),
        "ok_frac": 1.0 - failed / len(all_ops),
        "jvm_live_heap_mb": h.jvm_live_mb,
        "py_peak_rss_mb": h.py_peak_mb,
    }
    layers = {}
    if h.traced_run:
        for name, *_ in spec.PER_LAYER:
            src = [cold] if name in spec.COLD_PASS else warm
            vals = [p["layers"][name] for p in src if name in p["layers"]]
            if vals:
                layers[name] = _median(vals)
        layers.update({
            "session.start_s": h.session_s,
            "catalog.warm_s": h.warm_s,
            "trace.pass_s": e2e["pass_s"],
        })
    layers.update({
        "plans.op_tail_s": tail,
        "jvm.peak_rss_mb": h.jvm_hwm_mb,
        "host.spin_s": spins["spin_s"],
        "host.pspin_s": spins["pspin_s"],
        "host.pspin_width": spins["pspin_width"],
    })
    per_entry: dict[str, list[float]] = {}
    for p in warm:
        for o in p["ops"]:
            if o["ok"]:
                per_entry.setdefault(o["name"], []).append(o["secs"])
    details = {
        "workload": h.args.workload, "seed": h.args.seed, "sf": h.args.sf,
        "passes": [{"kind": p["kind"], "wall": round(p["wall"], 4)}
                   for p in passes],
        "op_tail_pct": round(tail_pct, 1), "op_samples": tail_n,
        "attempted": len(all_ops), "failed": failed, "wrong": wrong,
        "entry_median_s": {k: round(_median(v), 4)
                           for k, v in sorted(per_entry.items())},
        "layers": layers,
    }
    result = {"correct": failed == 0, "attempted": len(all_ops),
              "failed": failed}
    return result, e2e, details


def measure(args, root: str) -> None:
    names = args.entries.split(",") if args.entries else list(
        WORKLOADS[args.workload])
    h = Harness(args, root)
    t0 = time.perf_counter()
    try:
        h.prepare()
        spins = probes.host_spins(_cpus())
        _log(f"inputs and host spins {time.perf_counter() - t0:.2f} s")
        h.setup()
        passes = h.run_passes(names)
        h.read_jvm_memory()
        t1 = time.perf_counter()
        wrong = h.verify(names)
        _log(f"checks {time.perf_counter() - t1:.2f} s")
        result, e2e, details = summarise(h, passes, wrong, spins)
    finally:
        t1 = time.perf_counter()
        h.teardown()
        _log(f"teardown {time.perf_counter() - t1:.2f} s, "
             f"run {time.perf_counter() - t0:.2f} s")
    details.update(h.details)
    chosen = details["layers"] if args.trace else e2e
    result["metrics"] = {k: {"value": v, "unit": spec.UNITS[k]}
                         for k, v in chosen.items()}
    print(json.dumps(details, default=float))
    print(json.dumps(result))
    if args.record:
        with open(args.record, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "result": result,
                                 "e2e": e2e, "details": details},
                                default=float) + "\n")


def smoke(root: str) -> int:
    """Run every workload at sf0.001 on its first entries, once untraced
    and once traced, and check that the two runs together emit each named
    metric with its unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    errors = []
    if want != spec.UNITS:
        errors.append(f"BENCHMARK.json and spec.py disagree: "
                      f"{sorted(set(want.items()) ^ set(spec.UNITS.items()))}")
    for w in bench["workloads"]:
        got: dict[str, str] = {}
        for trace in ("0", "1"):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                   w["name"], "--seed", "1", "--seconds", "1", "--trace",
                   trace, "--sf", "0.001", "--entries",
                   ",".join(WORKLOADS[w["name"]][:3])]
            out = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                                 timeout=600)
            try:
                res = json.loads(out.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                errors.append(f"{w['name']} --trace {trace}: no result "
                              f"(exit {out.returncode}): {out.stderr[-500:]}")
                continue
            if not res["correct"] or out.returncode:
                errors.append(f"{w['name']} --trace {trace}: "
                              f"correct={res['correct']} exit={out.returncode}")
            got.update({k: v["unit"] for k, v in res["metrics"].items()})
        bad = {k: (u, got.get(k)) for k, u in want.items() if got.get(k) != u}
        if bad:
            errors.append(f"{w['name']}: missing/wrong units={bad}")
        print(f"smoke {w['name']}: {len(got)} metrics", file=sys.stderr)
    for e in errors:
        print(f"perfbench smoke: {e}", file=sys.stderr)
    print(json.dumps({"smoke_ok": not errors}))
    return 1 if errors else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1),
                    help="0: end-to-end metrics, 1: per-layer metrics")
    ap.add_argument("--sf", default="0.01", choices=FIXTURES,
                    help="scale factor of the fixture to read")
    ap.add_argument("--entries",
                    help="comma-separated registry entries to run instead "
                    "of the workload's own")
    ap.add_argument("--record", help="append the run to this JSONL file")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="A/B report over two --record files")
    args = ap.parse_args(argv)
    if args.compare:
        import compare

        return compare.report(*args.compare, os.path.join(HERE, os.pardir))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        _die(f"run from the repository root: no {PACKAGE}/ package in {root}")
    sys.path.insert(0, root)
    if args.smoke:
        return smoke(root)
    if not args.workload:
        _die("--workload is required")
    measure(args, root)
    return 0


if __name__ == "__main__":
    sys.exit(main())
