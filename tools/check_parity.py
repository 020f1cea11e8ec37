#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Runs each oracle SQL from <outdir>/oracle_sql.json in DuckDB over the
same sf tables, loads the Spark parquet result, sorts columns by name
and rows by all columns, and compares values exactly (with a tiny float
tolerance report so we can see *how* far off a mismatch is).

Usage: python3 tools/check_parity.py <sfdir> <verify_outdir> [q1,q2,...]
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    """Sort columns by name, then rows by string repr (order-insensitive)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def cmp_val(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b, None
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b), None
        if math.isnan(fa) and math.isnan(fb):
            return True, 0.0
        return fa == fb, abs(fa - fb)
    return str(a) == str(b), None


def main(sfdir, outdir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    # a subset name that matches no query would otherwise check nothing
    # and report "0 ok, 0 bad"
    unknown = sorted(set(only or ()) - set(oracles))
    if unknown:
        print(f"no oracle query named: {', '.join(unknown)} (use full names, e.g. q51_bm25_search)",
              file=sys.stderr)
        return 2
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            want_rel = con.execute(sql)
            want_cols = [d[0] for d in want_rel.description]
            want_rows = want_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        try:
            got_rel = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
            got_cols = [d[0] for d in got_rel.description]
            got_rows = got_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_bad += 1
            continue
        wc, wr = canon(want_rows, want_cols)
        gc, gr = canon(got_rows, got_cols)
        if wc != gc:
            print(f"FAIL {name}: columns differ: oracle={wc} spark={gc}")
            n_bad += 1
            continue
        if len(wr) != len(gr):
            print(f"FAIL {name}: rowcount differ: oracle={len(wr)} spark={len(gr)}")
            n_bad += 1
            continue
        bad = None
        maxdiff = 0.0
        for i, (a, b) in enumerate(zip(wr, gr)):
            for j, (x, y) in enumerate(zip(a, b)):
                ok, diff = cmp_val(x, y)
                if diff:
                    maxdiff = max(maxdiff, diff)
                if not ok:
                    bad = (i, wc[j], x, y)
                    break
            if bad:
                break
        if bad:
            i, cname, x, y = bad
            print(f"FAIL {name}: row {i} col {cname}: oracle={x!r} spark={y!r}")
            n_bad += 1
        else:
            extra = f" (max float diff {maxdiff:.2e})" if maxdiff else ""
            print(f"OK   {name}: {len(wr)} rows{extra}")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    only = {q.strip() for q in sys.argv[3].split(",")} if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
