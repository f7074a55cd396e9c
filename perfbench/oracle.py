#!/usr/bin/env python3
"""Record a workload's expected output digests, confirmed against DuckDB.

usage: python3 perfbench/oracle.py <workload> [<data set>...]

For the workload's own data set (and each extra data set named, e.g.
`base`), runs every query once through perfbench.Harness --dump, untimed,
and compares each output with the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`) after canonicalising both sides: columns sorted
by name, values rendered per column by pandas, rows sorted. On the
workload's own data set it then writes perfbench/expected/<workload>.json
from the dumped digests, but only when every oracle-backed query agrees
and no query threw. Run it on the commit whose outputs are the reference.
"""
import json
import shutil
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import run as R


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")
    return sorted(tuple(r) for r in df.astype(str).itertuples(index=False, name=None))


def confirm(workload, data_name):
    wl = R.SPEC["workloads"][workload]
    cp, stamp = R.build_program()
    classes = R.build_harness(cp, stamp)
    root = R.ensure_data(cp)
    data = root / data_name
    out = R.WORK / "oracle" / f"{workload}-{data_name}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    R.run(R.java_cmd(f"{classes}:{cp}", "perfbench.Harness",
                     *R.harness_args({**wl, "data": data_name}, root, "--out", str(out / "run.json"),
                                     "--dump", str(out))),
          1800, R.java_env(), out / "harness.log")
    digests = json.loads((out / "digests.json").read_text())
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in R.TABLES:
        p = data / f"{t}.parquet"
        src = f"'{p}/*.parquet'" if p.is_dir() else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        if t == "events" and con.execute("SELECT typeof(ts) FROM events LIMIT 1").fetchone()[0] == "BIGINT":
            # graft.ScaleUp writes events.ts as the BIGINT epoch-ns that
            # Catalog.table reads; the oracles expect the fixture's timestamp
            con.execute(f"CREATE OR REPLACE VIEW events AS "
                        f"SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM {src}")
    bad = 0
    for q in wl["queries"]:
        if "error" in digests[q]:
            print(f"FAIL {q} [{data_name}]: threw {digests[q]['error']}")
            bad += 1
        elif q not in oracle:
            print(f"---- {q} [{data_name}]: no oracle SQL; digest {digests[q]['hash']}")
        else:
            s = canon(pq.read_table(out / q).to_pandas())
            try:
                o = canon(con.execute(oracle[q]).fetchdf())
            except duckdb.Error as e:
                o = [f"oracle error: {e}"]
            ok = s == o
            bad += not ok
            print(f"{'PASS' if ok else 'FAIL'} {q} [{data_name}]: {len(s)} rows "
                  f"(duckdb {len(o)}), digest {digests[q]['hash']}")
    return bad, digests


def main(workload, extra):
    bad, digests = confirm(workload, R.SPEC["workloads"][workload]["data"])
    for d in extra:
        bad += confirm(workload, d)[0]
    if bad:
        sys.exit(f"{bad} failures; expected digests not written")
    path = R.BENCH / "expected" / f"{workload}.json"
    path.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2:])
