"""The package's one pyarrow Parquet writer.

Spark's writer (parquet-mr) dictionary-encodes a column only while the
dictionary pays for itself; pyarrow's defaults dictionary-encode every
column. A float vector column has almost no repeated values, so under
pyarrow's defaults its dictionary fills up and falls back to plain
pages after the fact. A Spark-written 3,000-row, 128-dim collection
file (1,565,983 B) came out at 2,197,476 B in 35.8 ms that way when
pyarrow rewrote it, and at 1,573,719 B in 7.3 ms with dictionary
encoding only on the columns that are not float lists (4-core host).
Every driver-side Parquet write in the package goes through
``parquet_writer`` (the lint in ``tests/test_knob_lint.py`` enforces
it).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def _dictionary_paths(name: str, typ: pa.DataType) -> list[str]:
    """The Parquet leaf paths of an Arrow field that keep dictionary
    encoding: every leaf except the values of a float list."""
    if pa.types.is_struct(typ):
        return [p for f in typ for p in _dictionary_paths(
            f"{name}.{f.name}", f.type)]
    if pa.types.is_map(typ):
        return (_dictionary_paths(f"{name}.key_value.key", typ.key_type)
                + _dictionary_paths(f"{name}.key_value.value", typ.item_type))
    if (pa.types.is_list(typ) or pa.types.is_large_list(typ)
            or pa.types.is_fixed_size_list(typ)):
        if pa.types.is_floating(typ.value_type):
            return []
        return _dictionary_paths(f"{name}.list.element", typ.value_type)
    return [name]


def parquet_writer(path: str, schema: pa.Schema) -> pq.ParquetWriter:
    """A ``ParquetWriter`` for ``path`` with dictionary encoding on every
    column but the float lists (snappy, as Spark writes)."""
    return pq.ParquetWriter(path, schema, use_dictionary=[
        p for f in schema for p in _dictionary_paths(f.name, f.type)])


def write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` through ``parquet_writer``."""
    with parquet_writer(path, table.schema) as w:
        w.write_table(table)
