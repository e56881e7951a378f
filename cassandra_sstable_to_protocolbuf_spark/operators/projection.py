"""Projection operator -- P1 (SURVEY.md §2).

P1 projects each cell to the 3-field proto shape {name, value, writeTime}
(reference: service/ColumnMapper.java:9-21). P2 (folding a partition's
surviving cells into Row{key, repeated Column}) happens inside the
protobuf sink's writer, sources/sstable_pb._pb_flat_stream_writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def project_cells(cells: DataFrame) -> DataFrame:
    """P1: prune to the proto Column shape plus routing keys."""
    return cells.select("sstable_id", "key", "name", "value", "writeTime")
