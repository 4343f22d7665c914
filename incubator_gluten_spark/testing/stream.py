"""Drive a Python streaming source the way the engine does, without one.

``open_reader`` builds the reader Spark builds (``streamReader`` over the
source's own ``schema()``); ``micro_batch`` runs one batch: the end
offset from ``latestOffset`` unless given, then ``partitions(start, end)``
and ``read`` of each partition, with Arrow batches turned into tuples.
"""

from __future__ import annotations


def open_reader(source_cls, options: dict):
    ds = source_cls(options)
    return ds.streamReader(ds.schema())


def micro_batch(reader, start: dict, end: dict | None = None):
    """``(rows, end)`` of the micro-batch ``(start, end]``."""
    if end is None:
        end = reader.latestOffset()
    rows: list[tuple] = []
    for p in reader.partitions(start, end):
        for item in reader.read(p):
            if hasattr(item, "columns"):  # pyarrow RecordBatch
                rows.extend(zip(*[c.to_pylist() for c in item.columns]))
            else:
                rows.append(tuple(item))
    return rows, end
