"""Metric names, units and directions, and what each layer metric is
expected to move.

``BENCHMARK.json`` lists the same metrics; ``run.py --smoke`` checks
that both agree and that a run emits every one of them with its unit.
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),          # get_session() + catalog warm-up
    ("cold_pass_s", "s", "lower"),      # first pass: codegen and JIT
    ("pass_s", "s", "lower"),           # median warm pass
    ("op_p50_s", "s", "lower"),         # per-operation latency, warm
    ("ok_frac", "frac", "higher"),      # 1 - failed_frac
    # heap in use after a full GC at the end of the run: what the session
    # retains (caches, persisted RDDs).  The JVM's peak RSS is a layer
    # metric, because G1's adaptive heap sizing moves it by up to a third
    # between runs of identical work.
    ("jvm_live_heap_mb", "MB", "lower"),
    ("py_peak_rss_mb", "MB", "lower"),
)

# (name, unit, better, the end-to-end metric it should move and where;
#  on every other workload the prediction is no change)
PER_LAYER = (
    ("session.start_s", "s", "lower", "setup_s on all workloads"),
    ("catalog.warm_s", "s", "lower", "setup_s on all workloads"),
    ("plans.build_s", "s", "lower", "pass_s, op_p50_s on lakehouse"),
    ("plans.build_jobs", "count", "lower", "pass_s, op_p50_s on lakehouse"),
    ("plans.exec_s", "s", "lower", "pass_s on olap"),
    ("plans.driver_cpu_s", "s", "lower", "pass_s on lakehouse"),
    # warm-operation latency at the highest percentile with 10 samples
    # beyond it, else the maximum: with 3-10 samples per run it is the
    # slowest operation, which spreads too much between runs to gate on
    ("plans.op_tail_s", "s", "lower", "none: tail of the op_p50_s samples"),
    ("catalyst.analysis_ms", "ms", "lower", "op_p50_s on olap"),
    ("catalyst.optimization_ms", "ms", "lower", "op_p50_s on olap"),
    ("catalyst.planning_ms", "ms", "lower", "op_p50_s on olap"),
    ("spark.jobs", "count", "lower", "op_p50_s on lakehouse"),
    ("spark.stages", "count", "lower", "op_p50_s on lakehouse"),
    ("spark.tasks", "count", "lower", "op_p50_s on lakehouse"),
    ("spark.sched_delay_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("spark.task_run_ms", "ms", "lower", "pass_s on olap"),
    ("spark.task_cpu_ms", "ms", "lower", "pass_s on olap"),
    ("spark.core_busy_frac", "frac", "higher", "pass_s on olap"),
    ("spark.input_bytes", "bytes", "lower", "pass_s on olap"),
    ("spark.input_rows", "count", "lower", "pass_s on olap"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "pass_s on olap"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "pass_s on olap"),
    ("spark.spill_bytes", "bytes", "lower", "pass_s on olap"),
    ("spark.failed_tasks", "count", "lower", "ok_frac on all workloads"),
    ("spark.codegen_compiles", "count", "lower", "cold_pass_s on olap"),
    ("spark.codegen_ms", "ms", "lower", "cold_pass_s on olap"),
    ("spark.persisted_rdds", "count", "lower", "jvm_live_heap_mb on olap"),
    ("jvm.jit_ms", "ms", "lower", "cold_pass_s on all workloads"),
    ("jvm.gc_ms", "ms", "lower", "pass_s on lakehouse, olap"),
    ("jvm.cpu_s", "s", "lower", "pass_s on all workloads"),
    ("jvm.peak_rss_mb", "MB", "lower",
     "none: VmHWM, moved by G1 heap sizing as much as by the work"),
    ("sources.read_calls", "count", "lower", "op_p50_s on lakehouse"),
    ("sources.read_s", "s", "lower", "op_p50_s on lakehouse"),
    ("sources.write_calls", "count", "lower", "op_p50_s on lakehouse"),
    ("sources.write_s", "s", "lower", "op_p50_s on lakehouse"),
    ("sources.files_written", "count", "lower", "op_p50_s on lakehouse"),
    ("sources.bytes_written", "bytes", "lower", "op_p50_s on lakehouse"),
    ("streaming.queries", "count", "lower", "op_p50_s on lakehouse"),
    ("streaming.batches", "count", "lower", "op_p50_s on lakehouse"),
    ("streaming.empty_batch_frac", "frac", "lower", "op_p50_s on lakehouse"),
    ("streaming.trigger_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("streaming.add_batch_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("streaming.query_planning_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("streaming.offset_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("streaming.log_commit_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("streaming.outside_batch_ms", "ms", "lower", "op_p50_s on lakehouse"),
    ("streaming.state_rows", "count", "lower", "op_p50_s on lakehouse"),
    ("streaming.state_memory_bytes", "bytes", "lower", "op_p50_s on lakehouse"),
    ("udfs.worker_cpu_s", "s", "lower", "pass_s on olap"),
    ("udfs.bytes_to_python", "bytes", "lower", "pass_s on olap"),
    ("udfs.bytes_from_python", "bytes", "lower", "pass_s on olap"),
    ("udfs.rows_from_python", "count", "lower", "pass_s on olap"),
    # over an untraced run's pass_s, it is the tracing overhead (--compare)
    ("trace.pass_s", "s", "lower", "none: pass_s of the traced run"),
    ("host.spin_s", "s", "lower", "none: single-thread host sentinel"),
    ("host.pspin_s", "s", "lower", "none: host sentinel as wide as the cores"),
    ("host.pspin_width", "count", "higher", "none: width of host.pspin_s"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

# Layer metrics read over the cold pass, because that is where codegen
# and JIT happen; every other pass-level metric is a median over the
# measured passes.
COLD_PASS = ("spark.codegen_compiles", "spark.codegen_ms", "jvm.jit_ms")
