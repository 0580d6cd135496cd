"""Cross-checks the benchmark's expected files against DuckDB.

    python3 perfbench/oracle_check.py

Run from the repository root after regenerating perfbench/expected (see
README.md). For every battery query with oracle SQL, the engine's result
(written by `graft.Verify` over the benchmark corpus) is compared with
DuckDB's using tools/local_oracle.py's canonicalization, and the row
count in expected/battery.tsv must match. Every serve request's expected
row count is recomputed by DuckDB. Prints one line per check and exits
non-zero on any mismatch.
"""
import csv
import glob
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, os.pardir, "tools"))
import build  # noqa: E402
import run  # noqa: E402
from local_oracle import canon  # noqa: E402


def read_tsv(name):
    with open(os.path.join(HERE, "expected", name)) as f:
        return [r for r in csv.reader(f, delimiter="\t") if r and not r[0].startswith("#")]


def main():
    classes, jars, _ = build.build()
    corpus = run.corpus()
    battery = {q: int(rows) for q, rows, _ in read_tsv("battery.tsv")}
    out = os.path.join(build.build_dir(), "work", "oracle")
    shutil.rmtree(out, ignore_errors=True)
    run.run_jvm(run.java_cmd(classes, jars, out, "graft.Verify",
                             [corpus, out, ",".join(sorted(battery))]),
                os.path.join(build.build_dir(), "last-oracle.log"))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(corpus, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = 0
    for q in sorted(battery):
        spark_rel = con.sql(f"SELECT * FROM '{out}/{q}/*.parquet'")
        s = canon(spark_rel.fetchall(), spark_rel.columns, spark_rel.types)
        if len(s[2]) != battery[q]:
            print(f"FAIL {q}: engine wrote {len(s[2])} rows, expected file says {battery[q]}")
            bad += 1
            continue
        if q not in oracle:
            print(f"ok   {q}: {battery[q]} rows (no oracle SQL; engine only)")
            continue
        duck_rel = con.sql(oracle[q])
        d = canon(duck_rel.fetchall(), duck_rel.columns, duck_rel.types)
        if (s[0], s[2]) != (d[0], d[2]):
            print(f"FAIL {q}: engine and DuckDB differ")
            bad += 1
        else:
            print(f"ok   {q}: {battery[q]} rows, matches DuckDB")
    for rows, key in read_tsv("serve.tsv"):
        if key.startswith("table:"):
            got = con.sql(f"SELECT count(*) FROM {key[6:]}").fetchone()[0]
        elif key.startswith("schema:"):
            got = len(con.sql(key[7:]).columns)
        else:
            got = con.sql(f"SELECT count(*) FROM ({key})").fetchone()[0]
        if got != int(rows):
            print(f"FAIL serve {key[:70]}: DuckDB {got}, expected file {rows}")
            bad += 1
    print(f"serve: {len(read_tsv('serve.tsv'))} expected counts checked")
    shutil.rmtree(out, ignore_errors=True)
    print(f"== {bad} mismatches ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
