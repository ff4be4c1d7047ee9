#!/usr/bin/env python3
"""Validate recorded catalog results against the DuckDB oracle and write
the benchmark's expected values.

  python3 perfbench/run.py --workload catalog_sf01 --queries all --record R
  python3 perfbench/oracle.py R perfbench/expected/catalog_sf01.tsv

`R` holds what `--record` wrote: each query's row count and checksum
(<workload>.tsv), its rows as parquet (out/<query>/), the oracle SQL
(oracle_sql.json) and the corpus the queries ran on (work/corpus). Every
query's rows are compared, as a multiset and value for value, with what
DuckDB returns for the engine's oracle SQL on the same corpus. Only
queries that match are written to the expected file; the rest are
listed on stdout.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("num", v)
    if isinstance(v, int) and not isinstance(v, bool):
        return ("num", float(v))
    if isinstance(v, list):
        return ("list", tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((str(k), norm(x)) for k, x in v.items())))
    return ("v", repr(v))


def rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(norm(col[i]) for col in data) for i in range(tbl.num_rows))


def main():
    rec, dest = sys.argv[1], sys.argv[2]
    corpus = open(os.path.join(rec, "corpus_dir")).read().strip()
    oracle = json.load(open(os.path.join(rec, "oracle_sql.json")))
    recorded = [l.rstrip("\n").split("\t") for l in open(
        [os.path.join(rec, f) for f in os.listdir(rec) if f.endswith(".tsv")][0])
        if l.strip() and not l.startswith("#")]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(corpus, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    ok, bad = [], []
    for name, nrows, ck in recorded:
        if name not in oracle:
            bad.append((name, "no oracle SQL"))
            continue
        try:
            spark = con.execute(f"SELECT * FROM '{rec}/out/{name}/*.parquet'").fetch_arrow_table()
            duck = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - report and move on
            bad.append((name, f"exec error: {str(e)[:160]}"))
            continue
        sc, sr = rows(spark)
        dc, dr = rows(duck)
        if sc != dc:
            bad.append((name, f"columns {sc} vs {dc}"))
        elif sr != dr:
            bad.append((name, f"rows differ ({len(sr)} vs {len(dr)})"))
        else:
            ok.append((name, nrows, ck))
    with open(dest, "w") as f:
        f.write(f"# query\trows\tchecksum -- {len(ok)} results matching the DuckDB oracle\n")
        for name, nrows, ck in sorted(ok):
            f.write(f"{name}\t{nrows}\t{ck}\n")
    for name, why in bad:
        print(f"MISMATCH {name}: {why}")
    print(f"{len(ok)} match / {len(bad)} do not")


if __name__ == "__main__":
    main()
