#!/usr/bin/env python3
"""Pin the outputs of every query the query_mix sample can draw.

Usage (from the root of a checkout):

    python3 perfbench/pin.py

Runs every `SparkEntry.queries` entry twice on the generated tables at
query_mix's scale and records its row count and order-insensitive checksum. Queries
with oracle SQL are cross-checked once against DuckDB, with the rendering
rules of the repository's oracle checker (pandas `astype(str)` over
name-sorted columns, Spark side read through pyarrow). The pool kept in
`perfbench/pins_<scale>.tsv` is every query that ran, gave the same
checksum twice, finished within 4 s warm, and matched DuckDB when it has
oracle SQL. Excluded queries are listed in the file's comment lines with the
reason.
"""
import glob
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import run  # noqa: E402

# the repository's oracle checker: its table list and rendering rules
sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check_oracle import TABLES, frame_hash  # noqa: E402


def oracle_check(out, data, name, sql, con):
    parts = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
    got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    want = con.execute(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if frame_hash(got) != frame_hash(want):
        return "value hash mismatch"
    return None


def main():
    scale = run.TABLE_SCALE["query_mix"]
    cp = run.build()
    data = run.tables(scale)
    work = os.path.join(run.STATE, "pin", scale)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a private copy of the compiled classes: a rebuild during the long pin
    # run must not swap class files under it
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            dst = os.path.join(work, f"classes{i}")
            shutil.copytree(e, dst)
            e = dst
        entries.append(e)
    cp = os.pathsep.join(entries)
    run.JVM_TIMEOUT_S = 3600
    run.run_jvm(cp, "pin", work, data, work, 0, {})
    out = os.path.join(work, "pin")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    keep, dropped = [], []
    with open(os.path.join(out, "pins.raw.tsv")) as f:
        rows = [l.rstrip("\n").split("\t") for l in f if l.strip()]
    for name, fam, n, csum, status, secs in rows:
        if status != "ok":
            dropped.append((name, status))
            continue
        source = "self"
        if name in oracle:
            try:
                err = oracle_check(out, data, name, oracle[name], con)
            except Exception as e:  # oracle SQL that DuckDB cannot run
                err = f"duckdb error {type(e).__name__}"
            if err:
                dropped.append((name, f"oracle mismatch: {err}"))
                print(f"[pin] {name}: {err}", flush=True)
                continue
            source = "duckdb"
        keep.append([name, fam, n, csum, source, secs])
    dst = os.path.join(run.BENCH, f"pins_{scale}.tsv")
    with open(dst, "w") as f:
        f.write(f"# query outputs at {scale}: name family rows checksum "
                "checked_by seconds\n")
        for name, why in dropped:
            f.write(f"# excluded {name}: {why}\n")
        for r in keep:
            f.write("\t".join(r) + "\n")
    print(f"[pin] {len(keep)} pinned "
          f"({sum(r[4] == 'duckdb' for r in keep)} DuckDB-checked), "
          f"{len(dropped)} excluded -> {dst}")


if __name__ == "__main__":
    main()
