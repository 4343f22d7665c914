"""The skeleton every lakehouse log-table STREAMING SOURCE shares (Spark 4
Python DataSource ``DataSourceStreamReader``).

A Delta, Iceberg or Hudi table is streamed by tailing its commit log:
an offset is one plain dict ``{key: <commit>}`` the engine checkpoints
(a Delta version, an Iceberg snapshot id, a Hudi commit instant), and a
micro-batch is the files the commits in ``(start, end]`` added.  The
shape is gluten-iceberg's ``SparkMicroBatchStream``: the driver plans
one ``InputPartition`` per file from METADATA alone, and the parquet
decode plus the Arrow transfer run in executor workers, so the scan
scales with the cluster, not the driver.  Exactly-once comes from the
offset log plus deterministic planning: ``partitions(start, end)``
returns the same files every time it is asked for the same window.

A format subclasses ``LogStreamReader`` and supplies only its hooks:

* ``key`` and ``pace`` — the offset key and the max-commits-per-batch
  option name;
* ``initial`` and ``commits()`` — the offset before the first batch and
  the ascending list of committed offsets;
* ``plan(lo, hi)`` — the per-file payloads of ``(lo, hi]`` plus the
  ``fields`` every payload decodes against; it validates the format's
  change contract and raises its refusals;
* ``decode(payload, fields)`` — one file as a ``pyarrow.Table`` in the
  declared column order.

``LogStreamSource`` is the matching ``DataSource``; a format adds its
``name()``, ``schema()`` and ``reader`` class.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _opt(options, name: str, default: str = "") -> str:
    """Case-insensitive option lookup (DSv2 hands a lower-cased map)."""
    want = name.lower()
    return next((v for k, v in options.items() if k.lower() == want), default)


class LogFilePartition(InputPartition):
    """One planned file = one input partition (the split unit
    gluten-iceberg's SparkMicroBatchStream plans)."""

    def __init__(self, payload, fields) -> None:
        self.payload = payload
        self.fields = fields


class LogStreamReader(DataSourceStreamReader):
    key: str
    pace: str
    initial: object

    def __init__(self, root: str, options, schema) -> None:
        from incubator_gluten_spark.sources.avro import _arrow_schema_for

        self.root = root
        self.schema = schema
        self.max_per_batch = int(_opt(options, self.pace, "0"))
        try:
            self.arrow_schema = _arrow_schema_for(schema)
        except ValueError:  # complex type: row fallback
            self.arrow_schema = None
        # high-water mark for max-commits-per-batch pacing.  None after a
        # checkpoint restart (Spark hands the start offset only to
        # partitions()), so the first post-restart batch is uncapped —
        # admission control is best-effort, exactly-once is exact.
        self._hwm = None

    def commits(self) -> list:
        raise NotImplementedError

    def plan(self, lo, hi) -> tuple[list, object]:
        raise NotImplementedError

    def decode(self, payload, fields):
        raise NotImplementedError

    def initialOffset(self) -> dict:
        self._hwm = self.initial
        return {self.key: self.initial}

    def latestOffset(self) -> dict:
        commits = self.commits()
        if self.max_per_batch > 0 and self._hwm is not None:
            newer = [c for c in commits if c > self._hwm]
            commits = newer[: self.max_per_batch] or [self._hwm]
        return {self.key: commits[-1] if commits else self.initial}

    def partitions(self, start: dict, end: dict):
        lo, hi = start[self.key], end[self.key]
        self._hwm = hi if self._hwm is None else max(self._hwm, hi)
        payloads, fields = self.plan(lo, hi)
        return [LogFilePartition(p, fields) for p in payloads]

    def read(self, partition: LogFilePartition):
        import pyarrow as pa

        table = self.decode(partition.payload, partition.fields)
        if self.arrow_schema is not None:
            try:
                return iter(table.cast(self.arrow_schema).to_batches())
            except (pa.ArrowException, ValueError):  # cast mismatch: rows
                pass
        return iter(zip(*[c.to_pylist() for c in table.columns]))

    def commit(self, end: dict) -> None:  # nothing external to ack
        pass


class LogStreamSource(DataSource):
    reader: type[LogStreamReader]

    def root(self) -> str:
        root = _opt(self.options, "path")
        if not root:
            raise ValueError(f"{self.name()} requires .option('path', <root>)")
        return root

    def streamReader(self, schema):
        return self.reader(self.root(), self.options, schema)

    @classmethod
    def register(cls, spark) -> None:
        spark.dataSource.register(cls)
