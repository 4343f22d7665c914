"""Delta table as a STRUCTURED STREAMING SOURCE.

``spark.readStream.format("graft_delta").option("path", root)`` tails
the `_delta_log`: offsets are COMMIT VERSIONS, each micro-batch is the
``dataChange=true`` add-actions of the versions in ``(start, end]`` —
the same change-set contract as delta's own streaming source:

* append commits stream through as inserts;
* a commit that REMOVES data files raises by default —
  ``ignoreDeletes`` permits remove-only commits (partition deletes),
  ``ignoreChanges`` additionally permits rewrite commits (COW
  update/delete/merge) by re-emitting the commit's restaged adds
  (duplicate delivery, exactly delta's documented semantics);
* an add carrying a DELETION VECTOR is emitted minus its deleted
  positions (the pure-Python Roaring decode, sources/roaring.py);
* ``readChangeFeed`` streams the Change Data Feed instead: rows carry
  ``_change_type`` and ``_commit_version``, a commit with ``cdc``
  actions defines its changes exclusively through them, a commit
  without derives inserts from its adds;
* column-mapped tables are refused (physical-name streaming would
  silently mis-bind after a rename).

One reader over the shared skeleton (sources/log_stream.py): the driver
walks ONLY the JSON log, once per micro-batch, and plans one
``InputPartition`` per add (or cdc) file; the parquet decode, DV filter
and partition-value injection run EXECUTOR-side.

Reference analog: gluten-delta streams through the Delta jar's
DeltaSource (gluten-delta/src/main/scala/org/apache/gluten/execution/
DeltaScanTransformer.scala is the scan side); semantics here are
delta-io PROTOCOL.md + the documented DeltaSource option contract.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql.types import LongType, StringType, StructField, StructType

from incubator_gluten_spark.sources.log_stream import (
    LogStreamReader,
    LogStreamSource,
    _opt,
)

__all__ = ["DeltaStreamDataSource", "register_delta_stream_source"]

_CDF_COLUMNS = [
    StructField("_change_type", StringType()),
    StructField("_commit_version", LongType()),
]


def _log_versions(root: str) -> list[int]:
    log = os.path.join(root, "_delta_log")
    out = []
    for name in os.listdir(log):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _actions(root: str, version: int) -> list[dict]:
    path = os.path.join(root, "_delta_log", f"{version:020d}.json")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _replay(root: str, hi: int):
    """(version, actions, metaData in force) for every commit <= ``hi``:
    plain JSON replay, no checkpoint shortcuts — a stream source needs
    the commits anyway."""
    meta = None
    for v in _log_versions(root):
        if v > hi:
            return
        actions = _actions(root, v)
        for a in actions:
            meta = a.get("metaData") or meta
        yield v, actions, meta


def _table_struct(root: str, hi: int, meta: dict | None) -> StructType:
    if meta is None:
        raise ValueError(f"no metaData action in {root} up to v{hi}")
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode != "none":
        raise ValueError(
            "graft_delta streaming source does not support column-mapped "
            f"tables (delta.columnMapping.mode={mode})"
        )
    return StructType.fromJson(json.loads(meta["schemaString"]))


def _data_changes(actions: list[dict], kind: str) -> list[dict]:
    return [
        a[kind]
        for a in actions
        if a.get(kind) and a[kind].get("dataChange", True)
    ]


def _plan(
    root: str,
    lo: int,
    hi: int,
    cdf: bool,
    ignore_deletes: bool = False,
    ignore_changes: bool = False,
) -> tuple[list[tuple], tuple[list, set]]:
    """Driver-side plan of versions ``(lo, hi]`` in ONE pass over the
    JSON log: ``(kind, file action, version)`` payloads plus the
    (field name, type) list and partition columns of the metadata at
    ``hi``.  METADATA-BOUNDED — never opens a data file.

    Plain mode validates the delete/rewrite option contract and plans
    the dataChange adds.  Change-feed mode plans a commit's ``cdc``
    files when it has any, else its adds as inserts; a dataChange
    remove without a cdc action is a CDF writer-contract violation and
    refuses, and CDF must be enabled at every emitted commit."""
    meta = None
    # paths live BEFORE the window: an add that re-states one of them
    # (a DV delete re-adds the same path with a descriptor) is an UPDATE
    # of already-delivered data, not an insert — delta's source refuses
    # it without ignoreChanges.
    seen: set[str] = set()
    out: list[tuple] = []
    for v, actions, meta in _replay(root, hi):
        if v <= lo:
            for a in actions:
                if a.get("add"):
                    seen.add(a["add"]["path"])
                elif a.get("remove"):
                    seen.discard(a["remove"]["path"])
            continue
        adds = _data_changes(actions, "add")
        removes = _data_changes(actions, "remove")
        if cdf:
            cdc = [a["cdc"] for a in actions if a.get("cdc")]
            if not (cdc or adds or removes):
                continue  # metadata-only commit: nothing to emit
            if ((meta or {}).get("configuration") or {}).get(
                "delta.enableChangeDataFeed"
            ) != "true":
                raise ValueError(
                    f"version {v}: Change Data Feed is not enabled "
                    "(delta.enableChangeDataFeed unset) — no change data "
                    "was recorded for this commit"
                )
            if removes and not cdc:
                raise ValueError(
                    f"version {v} removes data files but wrote no cdc "
                    "action — CDF writer-contract violation; refusing "
                    "rather than misderiving deletes"
                )
            out.extend(("cdc", c, v) for c in cdc)
            out.extend(("insert", a, v) for a in adds if not cdc)
            continue
        rewrites = bool(removes and adds) or any(
            a["path"] in seen for a in adds
        )
        if rewrites and not ignore_changes:
            raise ValueError(
                f"version {v} rewrites data files (COW update/delete/"
                "merge or DV delete). Streaming a rewritten table "
                "re-delivers the restaged rows; opt in with "
                ".option('ignoreChanges', 'true') — delta's own "
                "source contract"
            )
        if removes and not adds and not (ignore_deletes or ignore_changes):
            raise ValueError(
                f"version {v} deletes data files. Opt in with "
                ".option('ignoreDeletes', 'true') if downstream "
                "tolerates missing deletes — delta's own source contract"
            )
        out.extend(("insert", a, v) for a in adds)
        seen.update(a["path"] for a in adds)
        seen.difference_update(r["path"] for r in removes)
    schema = _table_struct(root, hi, meta)
    fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    return out, (fields, set(meta.get("partitionColumns") or []))


def _coerce_part(v: str | None, spark_type: str):
    if v is None:
        return None
    if spark_type in ("byte", "short", "integer", "long"):
        return int(v)
    if spark_type in ("float", "double"):
        return float(v)
    if spark_type == "boolean":
        return v == "true"
    if spark_type == "date":
        return _dt.date.fromisoformat(v)
    if spark_type == "timestamp":
        return _dt.datetime.fromisoformat(v)
    return v


def _decode_file(root: str, f: dict, fields: list, part_cols: set, extra=()):
    """pyarrow Table for one add or cdc file: parquet decode, DV filter,
    partition-value injection, columns in table-schema order followed by
    the stored ``extra`` columns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f["path"].replace("/", os.sep))
    cols = [n for n, _ in fields if n not in part_cols]
    table = pq.read_table(path, columns=cols + list(extra))
    if f.get("deletionVector"):
        from incubator_gluten_spark.sources.delta_protocol import load_dv

        deleted = np.fromiter(
            (int(p) for p in load_dv(root, f["deletionVector"])),
            dtype=np.int64,
        )
        table = table.take(
            np.setdiff1d(np.arange(table.num_rows, dtype=np.int64), deleted)
        )
    pvals = f.get("partitionValues") or {}
    n = table.num_rows
    out = {
        name: pa.array([_coerce_part(pvals.get(name), typ)] * n)
        if name in part_cols
        else table.column(name)
        for name, typ in fields
    }
    out.update((c, table.column(c)) for c in extra)
    return pa.table(out)


class _DeltaStreamReader(LogStreamReader):
    key, pace = "version", "maxVersionsPerBatch"

    def __init__(self, root: str, options, schema) -> None:
        super().__init__(root, options, schema)
        # -1 = from the table's first commit
        self.initial = int(_opt(options, "startingVersion", "0")) - 1
        self.ignore_deletes = _opt(options, "ignoreDeletes") == "true"
        self.ignore_changes = _opt(options, "ignoreChanges") == "true"
        self.cdf = _opt(options, "readChangeFeed") == "true"

    def commits(self) -> list[int]:
        return _log_versions(self.root)

    def plan(self, lo: int, hi: int):
        return _plan(
            self.root, lo, hi, self.cdf, self.ignore_deletes,
            self.ignore_changes,
        )

    def decode(self, payload: tuple, fields: tuple):
        import pyarrow as pa

        kind, f, version = payload
        extra = ("_change_type",) if kind == "cdc" else ()
        table = _decode_file(self.root, f, *fields, extra=extra)
        if not self.cdf:
            return table
        n = table.num_rows
        if kind == "insert":
            table = table.append_column(
                "_change_type", pa.array(["insert"] * n, pa.string())
            )
        return table.append_column(
            "_commit_version", pa.array([version] * n, pa.int64())
        )


class DeltaStreamDataSource(LogStreamSource):
    """``spark.readStream.format("graft_delta")`` — version-offset
    micro-batches over a Delta wire-format table."""

    reader = _DeltaStreamReader

    @classmethod
    def name(cls) -> str:
        return "graft_delta"

    def schema(self):
        root = self.root()
        vs = _log_versions(root)
        hi = vs[-1] if vs else 0
        meta = None
        for *_, meta in _replay(root, hi):
            pass
        struct = _table_struct(root, hi, meta)
        if _opt(self.options, "readChangeFeed") == "true":
            struct = StructType(struct.fields + _CDF_COLUMNS)
        return struct


register_delta_stream_source = DeltaStreamDataSource.register
