"""Measure the r11 executor-side identity-partitioned Iceberg write
against the pre-r11 driver-side reattach (round-10 verdict directive
#2 follow-through: the 'move, never rewrite' claim gets a measurement,
like the r10 stream-reader measurement in SCALE.md).

Method: stage an identity-partitioned write once, then time the
FINALIZE step — the part the r10 verdict flagged — two ways over the
SAME staged bytes:

* ``finalize_move``     — the shipped path (iceberg_format
  _write_data_files): staged files already carry every schema column
  (partitionBy stripped only the synthetic ``__p_*`` copy), finalize =
  footer-stat read + shutil.move per file.  O(file count) renames,
  zero data bytes through the driver.
* ``finalize_reattach`` — the pre-r11 path reproduced tool-locally:
  staged files MISS the identity column (partitionBy stripped the real
  one), so the driver re-reads every file with pyarrow, appends the
  partition column, and re-writes it — single-threaded,
  O(all written bytes) through one process.

The staged write itself is identical work either way (measured once,
reported as context).  The finalize ratio is the scale story: renames
stay flat as data grows; the reattach pass grows linearly with bytes
through ONE process — at 100 TB it IS the write.

Usage: python3 tools/iceberg_write_scaling.py [--rows=4000000 --parts=8]
Prints one JSON line per mode; the measured table lives in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def make_df(spark, n_rows: int, n_parts: int):
    return spark.range(n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
        F.concat(F.lit("txt-"), (F.col("id") % 99991).cast("string")).alias(
            "s"
        ),
        (F.col("id") % n_parts).cast("string").alias("p"),
    )


def stage(df, staging: str, with_copy: bool) -> float:
    """The executor-side staged write; identical bytes of real data
    either way (the copy column is stripped into directory names)."""
    shutil.rmtree(staging, ignore_errors=True)
    out = df.withColumn("__p_copy", F.col("p")) if with_copy else df
    t0 = time.perf_counter()
    out.write.mode("overwrite").partitionBy(
        "__p_copy" if with_copy else "p"
    ).parquet(staging)
    return time.perf_counter() - t0


def _walk_parquet(staging: str):
    for dirpath, _, names in os.walk(staging):
        rel = os.path.relpath(dirpath, staging)
        if rel == ".":
            continue
        val = rel.split("=", 1)[1]
        for name in sorted(n for n in names if n.endswith(".parquet")):
            yield os.path.join(dirpath, name), val


def finalize_move(staging: str, out: str) -> dict:
    """Shipped finalize: footer metadata + rename per file."""
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    n_files = n_bytes = 0
    for src, _val in _walk_parquet(staging):
        pq.read_metadata(src)  # row count, as _write_data_files does
        dst = os.path.join(out, f"move-{n_files:04d}.parquet")
        shutil.move(src, dst)
        n_bytes += os.path.getsize(dst)
        n_files += 1
    dt = time.perf_counter() - t0
    return {
        "mode": "finalize_move",
        "sec": round(dt, 3),
        "files": n_files,
        "mb": round(n_bytes / 1e6, 1),
    }


def finalize_reattach(staging: str, out: str) -> dict:
    """Pre-r11 finalize: driver re-reads + re-writes every staged file
    to reattach the identity column (the exact loop the r10 verdict
    flagged at iceberg_format.py:859-905)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    n_files = n_bytes = 0
    for src, val in _walk_parquet(staging):
        table = pq.read_table(src)
        arr = pa.array([val] * table.num_rows, type=pa.string())
        table = table.append_column("p", arr)
        dst = os.path.join(out, f"reattach-{n_files:04d}.parquet")
        pq.write_table(table, dst)
        n_bytes += os.path.getsize(dst)
        n_files += 1
    dt = time.perf_counter() - t0
    return {
        "mode": "finalize_reattach",
        "sec": round(dt, 3),
        "files": n_files,
        "mb": round(n_bytes / 1e6, 1),
    }


def main() -> int:
    n_rows, n_parts = 4_000_000, 8
    for a in sys.argv[1:]:
        if a.startswith("--rows="):
            n_rows = int(a.split("=", 1)[1])
        elif a.startswith("--parts="):
            n_parts = int(a.split("=", 1)[1])
    from incubator_gluten_spark.session import get_session

    spark = get_session(app_name="iceberg-write-scaling")
    base = f"/tmp/spark_graft_ice_write_{os.getpid()}"
    df = make_df(spark, n_rows, n_parts)
    staging = os.path.join(base, "staging")
    stage_sec = stage(df, staging, with_copy=True)  # warm-up + context
    stage_sec = min(stage_sec, stage(df, staging, with_copy=True))
    print(
        json.dumps(
            {"mode": "staged_write", "sec": round(stage_sec, 2),
             "rows": n_rows}
        ),
        flush=True,
    )
    results = []
    for fn, with_copy in (
        (finalize_move, True),
        (finalize_reattach, False),
    ):
        best = None
        for _ in range(2):  # min-of-two strips cold file cache
            stage(df, staging, with_copy=with_copy)
            rec = fn(staging, os.path.join(base, fn.__name__))
            shutil.rmtree(os.path.join(base, fn.__name__), ignore_errors=True)
            best = rec if best is None or rec["sec"] < best["sec"] else best
        results.append(best)
        print(json.dumps(best), flush=True)
    ratio = results[1]["sec"] / max(results[0]["sec"], 1e-9)
    print(json.dumps({"reattach_over_move": round(ratio, 1)}), flush=True)
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
