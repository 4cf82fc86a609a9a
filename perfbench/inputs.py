"""Seeded benchmark inputs.

The engine reads ten parquet tables (`<dir>/<table>.parquet`). The shipped
sf0.1 tables are kept under `data/sf0.1`; a run writes a row-order
permutation of each, chosen by its seed, in the shipped physical layout --
one file and one row group per table, snappy, the same arrow and parquet
column types. Every seed feeds the engine the same multiset of rows in a
different order; the seed changes nothing else about the data.

`check_layout` fails the run when a written table differs in layout from
the shipped one, because the engine's scan parallelism
(`core.Tables.spread`) decides from row-group counts.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))
SHIPPED = os.path.join(HERE, "data", "sf0.1")


def permutation(seed, table, n):
    """The row order `seed` gives `table`: a permutation of range(n)."""
    key = int.from_bytes(hashlib.sha256(f"{seed}/{table}".encode()).digest()[:8], "little")
    return np.random.default_rng(key).permutation(n)


def write_inputs(out_dir, seed):
    """Write every shipped table, rows permuted by `seed`, into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(SHIPPED, f"{name}.parquet"))
        shuffled = table.take(pa.array(permutation(seed, name, table.num_rows)))
        pq.write_table(shuffled, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy",
                       version="2.6")


def describe(data_dir):
    """Per table: row count, row-group count, arrow and parquet schema."""
    out = {}
    for name in TABLES:
        f = pq.ParquetFile(os.path.join(data_dir, f"{name}.parquet"))
        out[name] = {
            "rows": f.metadata.num_rows,
            "row_groups": f.metadata.num_row_groups,
            "arrow_schema": str(f.schema_arrow.remove_metadata()),
            "parquet_schema": str(f.schema).split("\n", 1)[1].strip(),
        }
    return out


def check_layout(data_dir):
    """Raise when a table in `data_dir` differs in layout from the shipped one."""
    shipped = describe(SHIPPED)
    got = describe(data_dir)
    bad = [f"{t}.{k}: {got[t][k]!r} != shipped {shipped[t][k]!r}"
           for t in TABLES for k in shipped[t] if got[t][k] != shipped[t][k]]
    if bad:
        raise ValueError("generated inputs differ from the shipped layout:\n  "
                         + "\n  ".join(bad))


def fingerprint(data_dir):
    """Order-independent digest of the rows in `data_dir`.

    The oracle's answer is a function of the input multiset, not of row
    order, so permuted inputs share oracle answers; any change to row
    content changes the digest.
    """
    h = hashlib.sha256()
    for name in TABLES:
        t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        keys = [(c, "ascending") for c, ty in zip(t.column_names, t.schema.types)
                if not pa.types.is_list(ty)]
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t.sort_by(keys))
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()[:16]
