#!/usr/bin/env python3
"""Rewrites a GenData corpus in the layout of the shipped test corpus.

Used by perfbench/run.py. Each <gendataDir>/<table>.parquet directory becomes one bare parquet file
<outDir>/<table>.parquet with nullable columns, microsecond timestamps
without a time zone and no Spark schema metadata: the layout the DuckDB
views of tools/check.py read.
"""
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq


def shipped_layout(table):
    fields = [pa.field(f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type)
              for f in table.schema]
    return table.replace_schema_metadata(None).cast(pa.schema(fields))


def rewrite(src, out):
    """Rewrite every table of `src` into `out`; return rows and bytes per table."""
    tables = {}
    for d in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        name = os.path.basename(d)
        dest = os.path.join(out, name)
        pq.write_table(shipped_layout(pq.read_table(d)), dest)
        tables[name[:-len(".parquet")]] = {
            "rows": pq.ParquetFile(dest).metadata.num_rows, "bytes": os.path.getsize(dest)}
    if len(tables) != 10:
        raise RuntimeError(f"GenData wrote {len(tables)} tables, expected 10: {sorted(tables)}")
    return tables

