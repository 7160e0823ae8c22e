#!/usr/bin/env python3
"""Pin the row counts headline_warm checks, for the current sf0.1 fixture.

    python3 perfbench/pin_counts.py

Runs each headline_warm query once in Spark and, where the registry has
a DuckDB oracle (SparkEntry.oracleSql), runs the oracle over the same
parquet files. The oracle's count is pinned; a query whose Spark count
disagrees with its oracle is an error and nothing is written. Queries
without an oracle are pinned to the Spark count of this fixture. The
counts replace this fixture identity's lines in perfbench/expected.tsv.
"""
import json
import os
import shutil
import sys

import duckdb

import run as bench

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duckdb_count(con, sql):
    return con.execute(f"SELECT COUNT(*) FROM ({sql.strip().rstrip(';')}) AS oracle").fetchone()[0]


def main():
    cp, jvm_opts = bench.build()
    sf = os.path.join(bench.FIXTURES, "sf0.1")
    run_dir = os.path.join(bench.BUILD, "runs", f"pin-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, "pin.tsv")
    cmd = (["java", f"-Xmx{bench.HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + jvm_opts + ["-cp", cp, "perfbench.Pin", bench.FIXTURES, run_dir, out])
    with open(os.path.join(bench.BUILD, "pin.log"), "w") as log:
        rc = bench.run_child(cmd, bench.ROOT, log, os.environ.copy(), 900)
    if rc != 0:
        sys.exit(f"Pin exited {rc}; see .bench_build/pin.log")
    identity, *rows = open(out).read().splitlines()
    shutil.rmtree(run_dir, ignore_errors=True)

    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    pinned, bad = [], []
    for row in rows:
        name, spark_count, oracle = row.split("\t", 2)
        oracle = json.loads(oracle)
        if oracle is None:
            pinned.append((name, int(spark_count), "spark"))
            continue
        n = duckdb_count(con, oracle)
        print(f"{name}: spark {spark_count}, oracle {n}")
        if n != int(spark_count):
            bad.append(name)
        pinned.append((name, n, "oracle"))
    if bad:
        sys.exit(f"Spark disagrees with the oracle on {', '.join(bad)}; nothing pinned")

    path = os.path.join(bench.HERE, "expected.tsv")
    keep = [l for l in open(path).read().splitlines() if not l.startswith(identity + "\t")]
    keep += [f"{identity}\t{n}\t{c}\t{src}" for n, c, src in pinned]
    with open(path, "w") as f:
        f.write("\n".join(keep) + "\n")
    print(f"pinned {len(pinned)} counts for {identity}")


if __name__ == "__main__":
    main()
