#!/usr/bin/env python3
"""Pin the reference results the benchmark's check pass compares against.

    python3 perfbench/certify.py

For every query of every workload in BENCHMARK.json, the harness
writes the Spark result as parquet plus its row count and
order-insensitive hash (perfbench.Main --dump). Each result that has an
oracle SQL in the engine (SparkEntry.oracleSql) is compared with DuckDB
running that SQL over the same input tables: row count, column set, and
every value with rows sorted by all columns. Queries without an oracle
are pinned as "rows_only". Any mismatch stops the script before
reference.json is written.
"""
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canonical(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[ns]").astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def differences(spark_df, duck_df):
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns: spark={sorted(spark_df.columns)} duckdb={sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"rows: spark={len(spark_df)} duckdb={len(duck_df)}"]
    a, b = canonical(spark_df), canonical(duck_df)
    out = []
    for c in a.columns:
        x, y = a[c], b[c]
        kinds = {"i" if s.dtype.kind in "iu" else s.dtype.kind for s in (x, y)}
        if kinds == {"i", "f"}:
            out.append(f"{c}: integer on one side, float on the other")
            continue
        if "f" in kinds:
            x, y = x.astype("float64"), y.astype("float64")
        bad = ~((x == y) | (x.isna() & y.isna()))
        if bad.any():
            out.append(f"{c}: {int(bad.sum())} values differ, e.g. spark={x[bad].iloc[0]!r} "
                       f"duckdb={y[bad].iloc[0]!r}")
    return out


def main():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    classpath, jvm_opts = run.build()
    data = run.data_dir()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    ref_path = os.path.join(run.HERE, "reference.json")
    pinned = {}
    bad = 0
    for w in workloads:
        work = os.path.join(run.WORK, f"certify-{w}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        dump = os.path.join(work, "dump")
        cmd = [run.java(), f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}/tmp", *jvm_opts,
               "-cp", classpath, "perfbench.Main", "--workload", w, "--data", data,
               "--work", work, "--out", os.path.join(work, "unused.json"), "--dump", dump]
        rc = run.run_logged(cmd, os.path.join(work, "log"), 1800, work)
        if rc != 0:
            sys.exit(f"{w}: harness failed, see {work}/log")
        sums = json.load(open(os.path.join(dump, "checksums.json")))
        oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
        for q in sorted(sums):
            status = "rows_only"
            if q in oracle:
                problems = differences(pd.read_parquet(os.path.join(dump, q)),
                                       con.execute(oracle[q]).fetchdf())
                status = "oracle"
                if problems:
                    bad += 1
                    print(f"MISMATCH {q}: " + "; ".join(problems))
                    continue
            print(f"ok {q} ({sums[q]['rows']} rows, {status})")
            pinned[q] = {"rows": sums[q]["rows"], "hash": sums[q]["hash"], "checked": status}
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"{bad} queries disagree with the oracle; reference.json not written")
    with open(ref_path, "w") as f:
        json.dump({"data": run.data_stamp(), "queries": dict(sorted(pinned.items()))},
                  f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
