#!/usr/bin/env python3
"""External performance anchor: time DuckDB itself on the TPC-H-shaped
oracle queries (q01..q22) at a given scale dir, for comparison against the
graft engine's BenchFull numbers on the same queries and data.

This is NOT a pass/fail gate — DuckDB is a single-process vectorized OLAP
engine (a different engine class from a distributed Spark plan, which pays
JVM/codegen/task-scheduling overheads to BUY horizontal scalability). The
point is to end the "within 2x of nothing" situation: the reference
publishes no numbers, so this gives the bench table an external, honestly
labeled reference point.

usage: python3 tools/duckdb_anchor.py <oracle_sql.json> <sfDir> <bench.json>
           [iters] [name-pattern]
outputs a markdown ratio table on stdout.
"""
import json, sys, time, re
import duckdb


def true_median(sorted_vals):
    """Median of an already-sorted list — averages the two middle elements
    for even counts (the r11/r12 verdicts flagged the upper-middle-element
    shortcut: 22 rows printed 1.82x where the true median was 1.78x)."""
    n = len(sorted_vals)
    mid = n // 2
    if n % 2 == 1:
        return sorted_vals[mid]
    return (sorted_vals[mid - 1] + sorted_vals[mid]) / 2.0


assert true_median([1.0, 2.0, 4.0]) == 2.0
assert true_median([1.0, 2.0, 4.0, 8.0]) == 3.0  # even count: avg of middle two


def main(oracle_path, sfdir, bench_path, iters=3, pattern=r"^q\d\d"):
    oracle = json.load(open(oracle_path))
    tpch = {k: v for k, v in oracle.items() if re.match(pattern, k)}
    con = duckdb.connect()
    import os
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sfdir}/{t}.parquet"
        # ScaleUp replicas are Spark-style parquet DIRECTORIES of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    # graft per-query min-of-iterations, across one OR SEVERAL BenchFull
    # artifacts (comma-separated). The same-window anchor protocol runs
    # two fresh graft passes BRACKETING the DuckDB timing and feeds both
    # here — host drift then has a ~minutes envelope instead of the
    # ritual-bench-to-anchor gap (the r13 lesson: cross-window compares
    # on this host are dominated by the host, not the code).
    graft_ms = {}
    for bp in bench_path.split(","):
        bench = json.load(open(bp))
        for q in bench["queries"]:
            if q["success"]:
                m = min(i["elapsed"] for i in q["iterations"])
                graft_ms[q["query"]] = min(m, graft_ms.get(q["query"], m))

    # GRAFT_DUCK_SAVE / GRAFT_DUCK_LOAD: persist / reuse the DuckDB
    # timings so the bracketing protocol's second invocation (after the
    # post-duck graft pass) rebuilds the table WITHOUT re-timing DuckDB —
    # the duck window stays strictly between the two graft windows.
    # GRAFT_DUCK_MIN instead RE-times DuckDB and takes the per-query min
    # with the loaded values — giving duck the same two-window min
    # treatment the graft column gets from its two bracketing passes
    # (min-of-samples is the estimator everywhere in the bench protocol;
    # one engine getting twice the windows would bias the ratio).
    duck_loaded = {}
    duck_prior = {}
    load_path = os.environ.get("GRAFT_DUCK_LOAD")
    if load_path:
        duck_loaded = json.load(open(load_path))
    min_path = os.environ.get("GRAFT_DUCK_MIN")
    if min_path:
        duck_prior = json.load(open(min_path))
    duck_measured = {}
    rows = []
    for name in sorted(tpch):
        if name in duck_loaded:
            duck = duck_loaded[name]
        else:
            times = []
            for _ in range(iters):
                t0 = time.time()
                con.execute(tpch[name]).fetchall()
                times.append((time.time() - t0) * 1000)
            duck = min(times)
            if name in duck_prior:
                duck = min(duck, duck_prior[name])
        duck_measured[name] = duck
        g = graft_ms.get(name)
        rows.append((name, duck, g, (g / duck) if g else None))

    print("| query | duckdb ms (min of %d) | graft ms (min of bench iters) "
          "| graft/duckdb |" % iters)
    print("|---|---|---|---|")
    for name, duck, g, ratio in rows:
        gs = f"{g:.0f}" if g is not None else "n/a"
        rs = f"{ratio:.2f}x" if ratio is not None else "n/a"
        print(f"| {name} | {duck:.0f} | {gs} | {rs} |")
    ratios = sorted(r[3] for r in rows if r[3] is not None)
    if ratios:
        med = true_median(ratios)
        print(f"\nmedian graft/duckdb ratio: {med:.2f}x over {len(ratios)} queries")
    if "," in bench_path:
        duck_note = (" duckdb ms = per-query min over two timing slots "
                     "(center-of-interleave + table build)."
                     if duck_prior else "")
        print("\ngraft ms = per-query min over %d passes bracketing the "
              "DuckDB timing (same-window anchor protocol).%s"
              % (len(bench_path.split(",")), duck_note))
    save_path = os.environ.get("GRAFT_DUCK_SAVE")
    if save_path:
        json.dump(duck_measured, open(save_path, "w"))


if __name__ == "__main__":
    it = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    pat = sys.argv[5] if len(sys.argv) > 5 else r"^q\d\d"
    main(sys.argv[1], sys.argv[2], sys.argv[3], it, pat)
