#!/usr/bin/env python3
"""DuckDB oracle compare for a `graft.Verify` dump.

    python3 scripts/oracle_compare.py <verify_out_dir> <sf_dir> [query ...]

Loads every <sf_dir>/*.parquet as a DuckDB view named after the file, runs
each entry of <verify_out_dir>/oracle_sql.json, and compares its result with
the Spark output in <verify_out_dir>/<query>/. Both sides are read through
DuckDB, columns are sorted by name, rows are sorted by value, and rows are
compared as strings. Prints one line per mismatch and `N/M match`; exits 1
if any query mismatches or fails.
"""
import json
import sys
from pathlib import Path

import duckdb


def canon(rel):
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = sorted(tuple(str(r[i]) for i in order) for r in rel.fetchall())
    return [rel.columns[i] for i in order], rows


def main(argv):
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out, sf = Path(argv[1]), Path(argv[2])
    oracle = json.loads((out / "oracle_sql.json").read_text())
    names = sorted(argv[3:] or oracle)
    con = duckdb.connect()
    for p in sorted(sf.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    ok = 0
    for name in names:
        try:
            want = canon(con.sql(oracle[name]))
            got = canon(con.sql(f"SELECT * FROM read_parquet('{out / name}/*.parquet')"))
        except Exception as e:  # a missing dump or a failing oracle is a mismatch
            print(f"MISMATCH {name}: error: {str(e).splitlines()[0]}")
            continue
        if got == want:
            ok += 1
        elif got[0] != want[0]:
            print(f"MISMATCH {name}: columns spark={got[0]} oracle={want[0]}")
        else:
            extra = sorted(set(got[1]) - set(want[1]))[:1]
            missing = sorted(set(want[1]) - set(got[1]))[:1]
            print(f"MISMATCH {name}: rows spark={len(got[1])} oracle={len(want[1])}; "
                  f"spark-only {extra} oracle-only {missing}")
    print(f"{ok}/{len(names)} match")
    return 0 if ok == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
