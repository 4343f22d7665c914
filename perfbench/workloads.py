"""Workloads: named subsets of the query registry.

Each pass runs every entry of a workload once, in an order shuffled by
the run's seed.  An operation is one entry: ``Q.build(spark, data_dir)``
followed by a write to Spark's ``noop`` sink, as in ``bench.py``.

The subsets are small on purpose.  A run pays about 15 s of set-up (a
fresh JVM and session) and a cold pass of two to three warm ones, and
the whole benchmark has to fit one hour of runs on a 4-core host, so
each workload keeps one entry per mechanism it is meant to stress.
``--entries`` runs any other set of entries under a workload's name.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Read-only analytics: TPC-H joins and aggregates, ClickBench-style
    # event analytics and the Python/Arrow UDF boundary.  Catalyst, Spark
    # execution and Python workers; no lakehouse formats, no streaming.
    "olap": (
        "q3",                     # 3-way join, aggregate, top-k
        "q21",                    # 4-way join with EXISTS / NOT EXISTS
        "cb_retention",           # event-log self-join and window
        "udf_pandas_vectorized",  # scalar pandas UDF over Arrow
        "udf_grouped_apply",      # grouped applyInPandas
    ),
    # Writes beside reads in the table formats and the streaming engine:
    # driver-side protocol work inside build(), commits, state store and
    # micro-batch lifecycle.  A fourth entry (stream_delta_sink) would add
    # about 10 s to a run on a busy host, more than the benchmark's hour
    # of runs can hold.
    "lakehouse": (
        "src_delta_merge",      # Delta MERGE commit
        "src_iceberg_cow_dml",  # Iceberg copy-on-write UPDATE/DELETE
        "stream_dedup",         # stateful streaming deduplication
    ),
}

# Warm passes a run makes after the cold one.  The first WARMUP_PASSES
# are run but not measured: the JIT is still compiling through them.  In
# the first warm olap pass it spends about 9 s of compiler-thread CPU,
# falling to about 4 s by the fifth pass, and how much is left varies
# from run to run; on lakehouse the first warm pass is a tenth to a
# quarter slower than the next.  Then a run measures
# max(1, round(--seconds / PASS_S)) passes, so the count is set by
# --seconds alone, never by the speed of the host.  At 15 s that is two
# olap passes, whose times differ by up to a sixth within a run, and one
# lakehouse pass: its passes agree within a few percent, and its cold
# pass already makes it the longer run.
WARMUP_PASSES = {"olap": 2, "lakehouse": 1}
PASS_S = {"olap": 7.0, "lakehouse": 15.0}


def measured_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))
