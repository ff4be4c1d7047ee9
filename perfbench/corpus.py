"""Seeded corpus layouts for the catalog workloads, built from the
committed base tables in perfbench/data (the engine's sf0.01 tables).

The seed decides the physical layout only: row order inside every file
and, for the extended tier, which file each row lands in. The logical
content is fixed per workload, so one set of expected results holds for
every seed.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Fact keys offset per copy in the extended tier; foreign-key pairs share
# the offset within a copy (o_orderkey/l_orderkey, o_custkey/c_custkey).
KEY_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
}
KEY_OFFSET = 1_000_000_000


def _rng(seed, table):
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def copy_of(tbl, table, k):
    """Copy k of a fact table: keys offset by k * 10^9; documents also get
    every token renamed (tok -> tok~k), so copies add vocabulary."""
    if k == 0:
        return tbl
    for c in KEY_COLS[table]:
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, pc.add(tbl.column(c), pa.scalar(k * KEY_OFFSET, tbl.schema.field(c).type)))
    if table == "documents":
        i = tbl.schema.get_field_index("text")
        tbl = tbl.set_column(i, "text", pc.replace_substring_regex(tbl.column("text"), r"(\S+)", rf"\1~{k}"))
    return tbl


def _write(tbl, rng, files, path):
    perm = rng.permutation(tbl.num_rows)
    if files == 1:
        pq.write_table(tbl.take(perm), path)
        return
    os.makedirs(path)
    for i, part in enumerate(np.array_split(perm, files)):
        pq.write_table(tbl.take(part), os.path.join(path, f"part-{i:05d}.parquet"))


def build(data, seed, copies, files, out):
    """Base layout (copies == 1): every table as one file in seeded row
    order. Extended layout: fact tables and documents unioned with
    copies - 1 key-remapped copies and written as `files` files each;
    dimension tables stay fixed, the realistic scale-up shape."""
    os.makedirs(out)
    for t in TABLES:
        src = pq.read_table(os.path.join(data, f"{t}.parquet"))
        if copies > 1 and t in KEY_COLS:
            tbl = pa.concat_tables([copy_of(src, t, k) for k in range(copies)])
            _write(tbl, _rng(seed, t), files, os.path.join(out, f"{t}.parquet"))
        else:
            _write(src, _rng(seed, t), 1, os.path.join(out, f"{t}.parquet"))
    return out
