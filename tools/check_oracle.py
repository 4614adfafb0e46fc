#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare each
SparkEntry.queries parquet dump (written by graft.Verify) against its
oracle SQL executed in DuckDB over the same testdata parquet tables.

A query passes when its column names, each column's value kind (integer,
float, bool or other: the numpy dtype kind of the relation's pandas
frame, where DuckDB's HUGEINT becomes float64) and its rows all agree.
Integer widths may differ; the kind may not.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort()
    return out


def kinds(rel, cols):
    """Column name -> value kind of a DuckDB relation's pandas frame."""
    names = {"i": "integer", "u": "integer", "f": "float", "b": "bool"}
    return {c: names.get(t.kind, "other") for c, t in zip(cols, rel.df().dtypes)}


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = [c.lower() for c in got_rel.columns]
            got = rows_key(got_rel.fetchall(), got_cols)
            got_kinds = kinds(got_rel, got_cols)
        except Exception as e:
            print(f"FAIL {name}: engine output unreadable: {str(e)[:200]}")
            n_fail += 1
            continue
        try:
            exp_rel = con.sql(sql)
            exp_cols = [c.lower() for c in exp_rel.columns]
            exp = rows_key(exp_rel.fetchall(), exp_cols)
            exp_kinds = kinds(exp_rel, exp_cols)
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e)[:300]}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: schema mismatch {sorted(got_cols)} vs {sorted(exp_cols)}")
            n_fail += 1
        elif got_kinds != exp_kinds:
            diff = {c: (got_kinds[c], exp_kinds[c]) for c in got_cols if got_kinds[c] != exp_kinds[c]}
            print(f"FAIL {name}: column kinds differ (engine, oracle): {diff}")
            n_fail += 1
        elif got == exp:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            diff = [(g, e) for g, e in zip(got, exp) if g != e][:3]
            for g, e in diff:
                print(f"   got {g}\n   exp {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
