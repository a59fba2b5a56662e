"""Seeded benchmark inputs in the layout the engine reads.

The source tables are a copy of the engine's own test tables
(FIXTURES.md §B, seed 42), kept read-only under perfbench/tables/:
`sf0.01` for the benchmark (60 000 lineitem rows) and `sf0.001` for
the self-test.  Each is one single-row-group parquet file per table,
`{table}.parquet`.

For each benchmark seed, `ensure_inputs` writes a copy of a source
directory with every table's rows permuted by that seed.  A seed thus
changes physical row order (scan order, partition contents, tie order)
but never the row multiset, the parquet schema or the answers; both are
checked on every table written.
"""

from __future__ import annotations

import collections
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
DEFAULT_SOURCE = "sf0.01"

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def permuted(tb: pa.Table, rng: np.random.Generator) -> pa.Table:
    """`tb` with its rows in an order drawn from `rng`."""
    return tb.take(pa.array(rng.permutation(tb.num_rows)))


def _row_multiset(tb: pa.Table) -> collections.Counter:
    cols = [tb.column(i).to_pylist() for i in range(tb.num_columns)]
    return collections.Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in row) for row in zip(*cols)
    )


def _sorted(tb: pa.Table) -> pa.Table:
    keys = [f.name for f in tb.schema if not pa.types.is_list(f.type)]
    return tb.sort_by([(k, "ascending") for k in keys])


def same_rows(a: pa.Table, b: pa.Table) -> bool:
    """True when both tables have the same schema and row multiset.
    Sorting on the scalar columns settles it unless rows tie on all of
    them; only then are whole rows counted."""
    if not a.schema.equals(b.schema, check_metadata=True) or a.num_rows != b.num_rows:
        return False
    return _sorted(a).equals(_sorted(b)) or _row_multiset(a) == _row_multiset(b)


def _check_copy(src_path: str, path: str) -> None:
    """Raise unless `path` has the parquet schema, row-group layout and
    row multiset of `src_path`."""
    src, out = pq.ParquetFile(src_path), pq.ParquetFile(path)
    if not out.schema.equals(src.schema):
        raise RuntimeError(f"{path}: parquet schema differs from {src_path}")
    if out.metadata.num_row_groups != src.metadata.num_row_groups:
        raise RuntimeError(f"{path}: row groups differ from {src_path}")
    if not same_rows(src.read(), out.read()):
        raise RuntimeError(f"{path}: rows differ from {src_path}")


def ensure_inputs(root: str, seed: int, source: str = DEFAULT_SOURCE) -> str:
    """Return the directory holding the inputs for `seed`, writing and
    checking them on first use.  The directory is complete once its
    `_COMPLETE` marker exists; a partial directory is rebuilt."""
    out = os.path.join(root, f"{source}-seed{seed}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    rng = np.random.default_rng(seed)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLE_NAMES:
        src_path = os.path.join(TABLES_DIR, source, f"{name}.parquet")
        path = os.path.join(tmp, f"{name}.parquet")
        tb = pq.read_table(src_path)
        pq.write_table(permuted(tb, rng), path, row_group_size=max(1, tb.num_rows))
        _check_copy(src_path, path)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
