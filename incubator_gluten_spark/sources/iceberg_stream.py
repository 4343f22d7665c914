"""Iceberg table as a STRUCTURED STREAMING SOURCE.

``spark.readStream.format("graft_iceberg").option("path", root)`` tails
the snapshot log: offsets are SNAPSHOT IDS, each micro-batch is the
ADDED manifest entries of the snapshots in ``(start, end]`` — the same
incremental-append contract as Iceberg's own Spark streaming source:

* append snapshots stream through as inserts (Iceberg-written data
  files carry EVERY column; name-mapped tables — Hive migrate, Delta
  UniForm — lack identity partition columns in files, and those are
  injected from the manifest partition tuple like the batch path);
* a snapshot whose summary operation is not ``append`` (delete,
  replace/compaction) raises by default; ``ignoreChanges`` skips
  non-append snapshots' effects while still delivering genuinely new
  ADDED files (compactions re-add existing rows — duplicate delivery,
  the documented trade-off Iceberg's source shares);
* column binding is BY NAME against the current schema (fields a data
  file lacks read as NULL) — field-id evolution tables stream with
  their current names.

One reader over the shared skeleton (sources/log_stream.py): the
driver plans one InputPartition per ADDED data_file from metadata alone
— manifest Avro decodes through this repo's pure-Python codec — while
the parquet decode and the Arrow transfer run EXECUTOR-side.  Per-batch
size is paced by ``maxSnapshotsPerBatch``.

Reference analog: gluten-iceberg streams through the jar's
SparkMicroBatchStream; semantics here are the public spec's.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import types as T

from incubator_gluten_spark.sources.log_stream import (
    LogStreamReader,
    LogStreamSource,
    _opt,
)

__all__ = ["IcebergStreamDataSource", "register_iceberg_stream_source"]

# built SESSIONLESS: the data-source worker has no JVM, so
# _parse_datatype_string is unavailable (same constraint the Avro
# source hit) — map Iceberg types to pyspark type objects
_ICE_TO_SPARK = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
}


def _partition_injection(meta: dict, cur: dict) -> dict[str, str]:
    """Identity partition columns to source from the manifest tuple.
    Name-mapped tables (Hive migrate, Delta UniForm) strip them from
    EVERY data file: without injection the stream would silently
    NULL-fill them while the batch path (_read_name_mapped) sources
    them from the manifest partition tuple.  Mirrors the batch path's
    refusals too."""
    from incubator_gluten_spark.sources.iceberg_format import _default_spec

    if not (meta.get("properties") or {}).get("schema.name-mapping.default"):
        return {}
    if len(meta.get("schemas") or [meta["schema"]]) > 1:
        raise ValueError(
            "name-mapped stream with evolved schema history: name "
            "binding cannot track renames/re-adds — refusing"
        )
    spec = _default_spec(meta)
    if any(
        pf.get("transform", "identity") != "identity" for pf in spec["fields"]
    ):
        raise ValueError(
            "name-mapped stream supports identity partition specs only"
        )
    fld = {f["id"]: f for f in cur["fields"]}
    return {
        fld[pf["source-id"]]["name"]: fld[pf["source-id"]]["type"]
        for pf in spec["fields"]
    }


class _IcebergStreamReader(LogStreamReader):
    key, pace, initial = "snapshot", "maxSnapshotsPerBatch", 0

    def __init__(self, root: str, options, schema) -> None:
        super().__init__(root, options, schema)
        self.ignore_changes = _opt(options, "ignoreChanges") == "true"

    def commits(self) -> list[int]:
        from incubator_gluten_spark.sources import iceberg_format as ice

        meta = ice._current_metadata(self.root)
        return sorted(s["snapshot-id"] for s in meta.get("snapshots", []))

    def plan(self, lo: int, hi: int):
        """The snapshots in ``(lo, hi]``: validates the append-only
        contract and returns their ADDED data_file entries plus the
        current column names and the identity-partition injection map.
        METADATA-BOUNDED — walks metadata JSON + manifest Avro only."""
        from incubator_gluten_spark.sources import iceberg_format as ice
        from incubator_gluten_spark.sources.avro import read_container

        meta = ice._current_metadata(self.root)
        cur = ice._current_schema(meta)
        names = [f["name"] for f in cur["fields"]]
        fields = (names, _partition_injection(meta, cur))
        files: list[dict] = []
        for s in meta.get("snapshots", []):
            sid = s["snapshot-id"]
            if not (lo < sid <= hi):
                continue
            op = s.get("summary", {}).get("operation", "append")
            ml = ice._resolve_path(self.root, s["manifest-list"])
            added = [
                data_file
                for mf in read_container(ml)
                for status, snap_id, data_file in read_container(
                    ice._resolve_path(self.root, mf[0])
                )
                if status == ice.ADDED and snap_id == sid
            ]
            if op != "append" and not self.ignore_changes:
                if op == "replace" and not added:
                    # metadata-only manifest rewrite (rewrite_manifests):
                    # zero new rows, nothing lost — safe to pass silently
                    continue
                raise ValueError(
                    f"snapshot {sid} is a {op!r}, not an append. Streaming "
                    "past deletes/compactions loses or re-delivers rows; "
                    "opt in with .option('ignoreChanges', 'true') — "
                    "iceberg's own streaming-source contract"
                )
            files.extend(added)
        return files, fields

    def decode(self, data_file: dict, fields: tuple):
        """One ADDED data_file bound BY NAME to the current schema:
        identity partition values from the manifest tuple, NULL-fill for
        pre-evolution files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        names, part_inject = fields
        # a relative file_path resolves under the table root; an
        # absolute one is kept as is
        path = os.path.join(self.root, data_file["file_path"])
        table = pq.read_table(path)
        n = table.num_rows
        pvals = data_file.get("partition") or {}
        arrays = []
        for name in names:
            if name in table.schema.names:
                arrays.append(table.column(name))
            elif name in part_inject:
                # identity partition value from the manifest tuple
                # (spec: identity values may be sourced from metadata)
                v = pvals.get(name)
                if v is not None and part_inject[name] == "date":
                    v = _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
                arrays.append(pa.array([v] * n))
            else:
                arrays.append(pa.nulls(n))  # pre-evolution file
        return pa.table(dict(zip(names, arrays)))


class IcebergStreamDataSource(LogStreamSource):
    """``spark.readStream.format("graft_iceberg")`` — snapshot-id-offset
    micro-batches over an Iceberg v1 table."""

    reader = _IcebergStreamReader

    @classmethod
    def name(cls) -> str:
        return "graft_iceberg"

    def schema(self):
        from incubator_gluten_spark.sources import iceberg_format as ice

        cur = ice._current_schema(ice._current_metadata(self.root()))
        return T.StructType(
            [
                T.StructField(
                    f["name"], _ICE_TO_SPARK[f["type"]], not f["required"]
                )
                for f in cur["fields"]
            ]
        )


register_iceberg_stream_source = IcebergStreamDataSource.register
