#!/usr/bin/env python3
"""DuckDB oracle compare for a `graft.Verify` dump.

    python3 scripts/oracle_compare.py <verify_out_dir> <sf_dir> [query ...]
    python3 scripts/oracle_compare.py <verify_out_dir> --against <other_verify_out_dir> [query ...]

Oracle mode loads every <sf_dir>/*.parquet as a DuckDB view named after the
file, runs each entry of <verify_out_dir>/oracle_sql.json, and compares its
result with the Spark output in <verify_out_dir>/<query>/. Prints one line
per mismatch and `N/M match`.

`--against` mode compares two Verify dumps row for row (e.g. a change
against its parent commit) over the queries of <verify_out_dir>'s
oracle_sql.json. Prints one line per difference and `N/M identical`.

Both modes read every side through DuckDB, sort columns by name and rows by
value, and compare rows as strings; each exits 1 if any query differs or
fails.
"""
import json
import sys
from pathlib import Path

import duckdb


def canon(rel):
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = sorted(tuple(str(r[i]) for i in order) for r in rel.fetchall())
    return [rel.columns[i] for i in order], rows


def dump(con, out, name):
    return canon(con.sql(f"SELECT * FROM read_parquet('{out / name}/*.parquet')"))


def diff(got, want, a, b):
    """One-line description of how two canonical results differ."""
    if got[0] != want[0]:
        return f"columns {a}={got[0]} {b}={want[0]}"
    extra = sorted(set(got[1]) - set(want[1]))[:1]
    missing = sorted(set(want[1]) - set(got[1]))[:1]
    return (f"rows {a}={len(got[1])} {b}={len(want[1])}; "
            f"{a}-only {extra} {b}-only {missing}")


def main(argv):
    if len(argv) < 3 or (argv[2] == "--against" and len(argv) < 4):
        print(__doc__, file=sys.stderr)
        return 2
    out = Path(argv[1])
    against = argv[2] == "--against"
    other = Path(argv[3] if against else argv[2])
    oracle = json.loads((out / "oracle_sql.json").read_text())
    names = sorted(argv[4 if against else 3:] or oracle)
    con = duckdb.connect()
    if not against:
        for p in sorted(other.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    label, a, b = ("identical", "this", "other") if against else ("match", "spark", "oracle")
    ok = 0
    for name in names:
        try:
            got = dump(con, out, name)
            want = dump(con, other, name) if against else canon(con.sql(oracle[name]))
        except Exception as e:  # a missing dump or a failing oracle is a mismatch
            print(f"MISMATCH {name}: error: {str(e).splitlines()[0]}")
            continue
        if got == want:
            ok += 1
        else:
            print(f"MISMATCH {name}: {diff(got, want, a, b)}")
    print(f"{ok}/{len(names)} {label}")
    return 0 if ok == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
