#!/usr/bin/env python3
"""Local self-check mimicking the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads each query's parquet result (written by graft.Verify), runs the
corresponding oracle SQL from oracle_sql.json in DuckDB against the same
fixture tables, and compares: column names (sorted), dtypes (loosely), row
count, and cell values (exact; floats must match bit-for-bit after
normalization, which the engine's decimal-exact aggregation scheme is
designed to guarantee).

Dev-only tooling — not part of the shipped library.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Tag floats so an int-valued float (e.g. DuckDB HUGEINT fetched by
        # pandas as float64) does NOT compare equal to a Python int — the
        # driver's hash is type-sensitive ("33" vs "33.0"), and 33 == 33.0
        # here silently hid exactly that class of oracle-type mismatch
        # (r5 d17/q51 driver hash-FAILs).
        return ("f", v)
    # timestamps/dates -> isoformat strings for comparison
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def sortkey(row):
    return tuple((x is None, str(x)) for x in row)


def table_rows(rel, cols_sorted):
    df = rel.fetchdf()
    lower = {c.lower(): i for i, c in enumerate(df.columns)}
    rows = [tuple(norm_cell(r[lower[c]]) for c in cols_sorted)
            for r in df.itertuples(index=False, name=None)]
    rows.sort(key=sortkey)
    return rows


def compare(con, out_dir, name, sql):
    """Check one query's output; returns None on PASS, else the reason."""
    got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    if sql is None:
        # rows-only query (no oracle): the weaker check is rows > 0
        n = con.sql(f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'").fetchone()[0]
        return None if n > 0 else "rows-only query returned 0 rows"
    exp_rel = con.sql(sql)
    got_cols = sorted(c.lower() for c in got_rel.columns)
    exp_cols = sorted(c.lower() for c in exp_rel.columns)
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    got = table_rows(got_rel, got_cols)
    exp = table_rows(exp_rel, exp_cols)
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    bad = [(i, g, e) for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    if bad:
        i, g, e = bad[0]
        return (f"{len(bad)}/{len(got)} rows differ; "
                f"first at {i}:\n  got {g}\n  exp {e}")
    return None


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    dirs = {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}
    # _verify.json names what the run was asked for and what threw; a dir
    # outside `requested` is an earlier run's output and is not checked.
    # Without it (an older Verify), every oracle op counts as requested.
    status_path = os.path.join(out_dir, "_verify.json")
    if os.path.exists(status_path):
        status = json.load(open(status_path))
        requested, failed = set(status["requested"]), status["failed"]
    else:
        requested, failed = set(oracle) | dirs, {}
    n_pass = n_fail = 0
    for name in sorted(requested):
        if name in failed:
            print(f"FAIL {name}: query threw: {failed[name]}")
            n_fail += 1
            continue
        if name not in dirs:
            print(f"FAIL {name}: requested but no output")
            n_fail += 1
            continue
        try:
            why = compare(con, out_dir, name, oracle.get(name))
        except Exception as ex:
            why = f"ERROR {ex}"
            try:
                con.execute("ROLLBACK")
            except Exception:
                pass
        if why is None:
            print(f"PASS {name}")
            n_pass += 1
        else:
            print(f"FAIL {name}: {why}")
            n_fail += 1
    n_skip = len(set(oracle) - requested)
    skipped = f", {n_skip} oracle ops not requested" if n_skip else ""
    print(f"== {n_pass} pass, {n_fail} fail{skipped} ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
