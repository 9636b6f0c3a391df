#!/usr/bin/env python3
"""Cross-check the frozen query digests of the `batch` workload against
the DuckDB oracle (SparkEntry.oracleSql), the way scripts/oracle_check.py
checks the engine: DuckDB runs each query's oracle SQL over the same
tables, the benchmark digests its result exactly as it digests Spark's,
and the two must match the value frozen in perfbench/workloads.json.

Usage (from the repository root, after one run.py run has built the tree):

    python3 perfbench/oracle_check.py
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402  (shares the build and JVM flags)


def jvm(cp, *args):
    cmd = [run.java(), "-Xmx2g", "-XX:-UsePerfData"]
    for p in run.JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={HERE}/log4j2.properties", "-cp", cp,
            "graft.perfbench.Oracle", *args]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        design = json.load(f)
    w = design["workloads"]["batch"]
    data = os.path.join(HERE, design["data"])
    work = os.path.join(HERE, ".work", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "duck"))
    cp = run.build()

    jvm(cp, "sql", "--queries", w["params"]["queries"], "--out", f"{work}/sql.json")
    with open(f"{work}/sql.json") as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{data}/{t}')")
    for q, sql in sqls.items():
        if sql is None:
            print(f"[SKIP] {q}: no oracle SQL")
            continue
        con.execute(f"COPY ({sql}) TO '{work}/duck/{q}.parquet' (FORMAT PARQUET)")
    jvm(cp, "digest", "--dir", f"{work}/duck", "--out", f"{work}/digests.json")
    with open(f"{work}/digests.json") as f:
        duck = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    bad = 0
    for q in sqls:
        if q not in duck:
            continue
        frozen = w["expected"].get(q)
        ok = duck[q] == frozen
        bad += not ok
        print(f"[{'PASS' if ok else 'FAIL'}] {q}: oracle {duck[q]} frozen {frozen}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
