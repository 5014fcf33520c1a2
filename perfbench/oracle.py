#!/usr/bin/env python3
"""Check `batch_heavy` results against the DuckDB oracle once per build.

Reads the dump `graftbench.Main --workload oracle_dump` writes (each
query's sf0.1 result as parquet, the digest the timed pass observes, and
the oracle SQL the program declares) and compares every result with its
oracle the way tools/strict_check.py does: every column cast to VARCHAR,
rows compared as multisets, no tolerance. A query that matches keeps its
digest as the expected output; one that does not keeps the reason, and
every timed run then counts it as failed.

    python3 perfbench/oracle.py DATA_DIR DUMP_DIR DUMP_JSON EXPECTED_JSON DATA_ID
"""
import glob
import json
import os
import sys

import duckdb


def compare(con, got_dir, sql):
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    want = con.sql(sql)
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    sel = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in gcols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE _g AS SELECT {sel} FROM got")
    con.execute(f"CREATE OR REPLACE TEMP TABLE _w AS SELECT {sel} FROM want")
    ng = con.sql("SELECT count(*) FROM _g").fetchone()[0]
    nw = con.sql("SELECT count(*) FROM _w").fetchone()[0]
    if ng != nw:
        return f"rows {ng} != {nw}"
    diff = con.sql("SELECT count(*) FROM ((SELECT * FROM _g EXCEPT ALL SELECT * FROM _w) "
                   "UNION ALL (SELECT * FROM _w EXCEPT ALL SELECT * FROM _g))").fetchone()[0]
    return None if diff == 0 else f"{diff // 2} differing rows of {ng}"


def check(data, dump_dir, dump_json, expected_json, data_id):
    dump = json.load(open(dump_json))
    con = duckdb.connect()
    for p in glob.glob(f"{data}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    expected = {}
    for q, digest in sorted(dump["digests"].items()):
        sql = dump["oracle_sql"].get(q)
        if isinstance(digest, str):
            why = f"failed at build: {digest}"
        elif sql is None:
            why = "no oracle SQL"
        else:
            try:
                why = compare(con, os.path.join(dump_dir, q), sql)
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"{type(e).__name__}: {str(e)[:200]}"
        expected[q] = digest if why is None else f"oracle mismatch: {why}"
        print(f"[perfbench] oracle {q}: {'PASS' if why is None else 'FAIL ' + why}", file=sys.stderr)
    with open(expected_json, "w") as fh:
        json.dump({"data": data_id, "digests": expected}, fh, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    check(*sys.argv[1:6])
