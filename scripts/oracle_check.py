#!/usr/bin/env python3
"""Dev-only mirror of the driver's correctness gate: run Verify's parquet
outputs against the DuckDB oracle SQL and diff, column-name-sorted,
value-exact. Usage: oracle_check.py <sfDir> <verifyOutDir> [query ...]
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    # one line per query as it finishes, also into a redirected log: the
    # query running now is the one after the last line
    sys.stdout.reconfigure(line_buffering=True)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            exp = con.sql(sql)
            gcols = sorted(got.columns)
            ecols = sorted(exp.columns)
            if gcols != ecols:
                print(f"FAIL {name}: columns {gcols} != {ecols}")
                n_bad += 1
                continue
            # dtype compare — the driver hashes typed values, so a DuckDB
            # HUGEINT (int128 SUM) vs Spark BIGINT is a hash mismatch even
            # when every value is equal. Catch it here.
            def norm(t):
                # Align with the driver's pandas-level hash: int widths up
                # to 64 bits and date-vs-timestamp all collapse to the same
                # pandas dtype (observed hash-green in r01), but HUGEINT
                # (int128 — DuckDB SUM over integers) does NOT fit int64 and
                # breaks the hash, so it stays distinct.
                s = str(t).replace(" WITH TIME ZONE", "")
                if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                         "UTINYINT", "USMALLINT", "UINTEGER"):
                    return "INT64"
                if s in ("DATE", "TIMESTAMP"):
                    return "DATETIME64"
                return s
            gtypes = dict(zip(got.columns, [norm(t) for t in got.types]))
            etypes = dict(zip(exp.columns, [norm(t) for t in exp.types]))
            tbad = [(c, gtypes[c], etypes[c]) for c in gcols
                    if gtypes[c] != etypes[c]]
            if tbad:
                print(f"FAIL {name}: dtype mismatch {tbad}")
                n_bad += 1
                continue
            gdf = got.df()[gcols]
            edf = exp.df()[ecols]
            if len(gdf) != len(edf):
                print(f"FAIL {name}: rows {len(gdf)} != {len(edf)}")
                n_bad += 1
                continue
            # exact value compare, row-order-sensitive (both sides are
            # ORDER BY'd identically)
            bad = []
            for c in gcols:
                gv, ev = gdf[c].tolist(), edf[c].tolist()
                for i, (a, b) in enumerate(zip(gv, ev)):
                    if a != b and not (a != a and b != b):  # NaN==NaN ok
                        bad.append((c, i, a, b))
                        if len(bad) > 3:
                            break
                if len(bad) > 3:
                    break
            if bad:
                print(f"FAIL {name}: {len(bad)}+ diffs, first: {bad[:3]}")
                n_bad += 1
            else:
                print(f"ok   {name} ({len(gdf)} rows)")
                n_ok += 1
        except Exception as e:
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
