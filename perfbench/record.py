#!/usr/bin/env python3
"""Record the benchmark's expected results, cross-checked against DuckDB.

Usage (from the repository root, with tools/local_oracle.py present):
  python3 perfbench/record.py

For each scale factor the Java recorder (perfbench.Record) runs every
candidate statement and grid point once and writes (id, check, rows, hash)
plus, for hash-checked reads, the rows and the oracle SQL. This script then
 - replays the oracle SQL in DuckDB with tools/local_oracle.py and drops
   every hash-checked read whose rows DuckDB does not reproduce;
 - replays every write's mutation in DuckDB and drops grid points whose
   post-state row count differs;
and writes perfbench/expected/<sf>.tsv. Statements without oracle SQL keep a
row-count check only.
"""
import pathlib
import re
import subprocess
import sys

import duckdb

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
OUT = BUILD / "record"
# a workload at each scale factor, so the recorder reads that scale's data
WORKLOAD_OF = {"sf0.01": "sql_text", "sf0.1": "analytics"}


def safe(stmt_id):
    return re.sub(r"[^A-Za-z0-9_.-]", "_", stmt_id)


def oracle_passes(sf):
    """Ids of dumped reads whose rows DuckDB reproduces exactly."""
    proc = subprocess.run(
        [sys.executable, "tools/local_oracle.py", str(BUILD / "data" / sf), str(OUT / f"oracle-{sf}")],
        capture_output=True, text=True, check=False)
    print(proc.stdout[-3000:], file=sys.stderr)
    return {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("OK ")}


def write_rows(sf, stmt_id):
    """Post-state row count of a write grid point, replayed in DuckDB."""
    kind, idx = stmt_id.split("@")
    table = "orders" if kind == "write:delete" else "customer"
    con = duckdb.connect()
    con.sql(f"CREATE TABLE {table} AS SELECT * FROM "
            f"read_parquet('{BUILD / 'data' / sf / table}.parquet')")
    con.sql(MUTATIONS[kind][int(idx)])
    return con.sql(f"SELECT count(*) FROM {table}").fetchone()[0]


# The write grid of perfbench.Workloads.mutationGrid as DuckDB statements;
# the MERGE, which only updates matched rows, is its equivalent UPDATE.
MUTATIONS = {
    "write:delete": [f"DELETE FROM orders WHERE o_orderstatus = '{st}' AND o_totalprice < {cut}.0"
                     for st in ("F", "O", "P") for cut in (100000, 250000)],
    "write:update": [f"UPDATE customer SET c_acctbal = c_acctbal + {add}.0 WHERE c_mktsegment = '{seg}'"
                     for seg in ("BUILDING", "MACHINERY") for add in (50, 100)],
    "write:merge": [f"UPDATE customer SET c_acctbal = c_acctbal + 500.0 WHERE c_custkey % {m} = 0"
                    for m in (7, 11)],
}


def main():
    (BENCH / "expected").mkdir(exist_ok=True)
    for sf, workload in WORKLOAD_OF.items():
        rc = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                             "--seed", "0", "--seconds", "1", "--record", str(OUT)]).returncode
        if rc != 0:
            print(f"recorder failed for {sf}", file=sys.stderr)
            return 1
        passed = oracle_passes(sf)
        kept = []
        for line in (OUT / f"{sf}.tsv").read_text().splitlines():
            stmt_id, check, rows, _ = line.split("\t")
            if stmt_id.startswith("write:"):
                if write_rows(sf, stmt_id) != int(rows):
                    print(f"drop {stmt_id}: DuckDB row count differs", file=sys.stderr)
                    continue
            elif check == "hash" and safe(stmt_id) not in passed:
                print(f"drop {stmt_id}: DuckDB result differs", file=sys.stderr)
                continue
            kept.append(line)
        header = f"# {sf}: id, check (hash|rows), rows, order-independent row hash\n"
        (BENCH / "expected" / f"{sf}.tsv").write_text(header + "\n".join(kept) + "\n")
        print(f"{sf}: kept {len(kept)} statements", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
