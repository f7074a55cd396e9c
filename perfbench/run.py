#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds what is
missing, each step cached under perfbench/.work/ and redone only when its
inputs change:

  1. the program (`sbt compile`, offline) and its runtime classpath;
  2. the harness in perfbench/harness/, compiled with the Scala 2.13
     compiler that Spark ships on the program's runtime classpath;
  3. the fixtures: perfbench/gen_data.py writes the base tables at sf0.1,
     and graft.ScaleUp writes the key-shifted 4x replica `x4` from them. Each data set is
     checked against a per-table row-count manifest and rebuilt when the
     counts differ.

A run is one JVM (perfbench.Harness): set-up timed from JVM start, a cold
pass over the workload's queries in a seed-permuted order, eight warm-up
passes and then one measured warm pass per three seconds of --seconds (each
pass in a fresh permutation). Every execution's output is checked against
perfbench/expected/<workload>.json. The last stdout line is the result
JSON. With --trace 1 as many passes again run with the harness's
listeners attached, the metrics are the per-layer ones, and the span file
is written to perfbench/.work/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
SPEC = json.loads((BENCH / "workloads.json").read_text())
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SF, DATA_SEED, REPLICA = 0.1, 42, 4
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in DECLARED["end_to_end"] + DECLARED["per_layer"]}


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run(cmd, timeout, env=None, log_to=None):
    """Run a child to completion; returns its stdout. The child's process
    group is killed, and waited for, on timeout or when this script is
    terminated."""
    with open(log_to, "w") if log_to else open(os.devnull, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
            die(f"timed out after {timeout}s: {' '.join(cmd[:3])} (log: {log_to})")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if p.returncode != 0:
        die(f"exit {p.returncode}: {' '.join(cmd[:3])} (log: {log_to})")
    return out


def build_program():
    """sbt compile + the runtime classpath, cached by the source digest."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die(f"no program sources under {ROOT} (build.sbt, src/main)")
    srcs = [ROOT / "build.sbt", *(ROOT / "project").glob("*.properties"),
            *(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())]
    stamp = digest(srcs)
    cp_file = WORK / "program.cp"
    if cp_file.is_file():
        cached = json.loads(cp_file.read_text())
        if cached["stamp"] == stamp:
            return cached["classpath"], stamp
    log("building the program with sbt")
    repos = Path.home() / ".sbt" / "repositories"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get("SBT_OPTS", (
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
        "-Dsbt.offline=true -Xmx2g")))
    out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
               "export Runtime/fullClasspath"], 800, env, WORK / "sbt.log")
    cp = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not cp:
        die("sbt printed no classpath")
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": cp[-1].strip()}))
    return cp[-1].strip(), stamp


def build_harness(cp, program_stamp):
    srcs = sorted((BENCH / "harness").glob("*.scala"))
    stamp = digest(srcs) + program_stamp
    out = WORK / "harness"
    stamp_file = WORK / "harness.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    log("compiling the harness")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    scalac = ":".join(j for j in cp.split(":")
                      if Path(j).name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-")))
    run(["java", "-Xmx1g", "-cp", scalac, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", cp, "-d", str(out), *map(str, srcs)], 600, log_to=WORK / "scalac.log")
    stamp_file.write_text(stamp)
    return out


def heap():
    """The test suite's SPARK_DRIVER_MEM: half the machine's memory, clamped to 2..8 GiB."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpu_ticks():
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def java_env():
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    return dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                SPARK_GRAFT_LOCAL_DIR=str(WORK / "spark-local"))


def java_cmd(cp, main, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap()}", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "-cp", cp, main, *args]


def row_counts(d):
    import pyarrow.parquet as pq
    counts = {}
    for t in TABLES:
        p = d / f"{t}.parquet"
        files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
        counts[t] = sum(pq.ParquetFile(f).metadata.num_rows for f in files) if p.exists() else -1
    return counts


def ensure_data(cp):
    """Base tables from gen_data.py and the x4 replica from graft.ScaleUp
    under perfbench/.work/data; each is verified by its row-count manifest
    and rebuilt when it differs. Returns the data root."""
    root = WORK / "data"
    base = root / "base"
    gen = (BENCH / "gen_data.py").read_bytes()
    want = {"generator": hashlib.sha256(gen).hexdigest(), "sf": SF, "seed": DATA_SEED}
    man = base / "manifest.json"
    if not man.is_file() or json.loads(man.read_text()) != {**want, "rows": row_counts(base)}:
        log("generating base tables")
        run([sys.executable, str(BENCH / "gen_data.py"), str(base), str(SF), str(DATA_SEED)],
            300, log_to=WORK / "gen.log")
        man.write_text(json.dumps({**want, "rows": row_counts(base)}))
    out = root / "x4"
    base_rows = json.loads(man.read_text())["rows"]
    rows = {t: n if t in ("region", "nation") else n * REPLICA for t, n in base_rows.items()}
    rman = out / "manifest.json"
    want_r = {"base": json.loads(man.read_text()), "factor": REPLICA, "rows": rows}
    if not rman.is_file() or json.loads(rman.read_text()) != want_r or row_counts(out) != rows:
        log("building replica x4 with graft.ScaleUp")
        run(java_cmd(cp, "graft.ScaleUp", str(base), str(out), str(REPLICA)), 600,
            java_env(), WORK / "scaleup-x4.log")
        if row_counts(out) != rows:
            die(f"replica x4 row counts {row_counts(out)} != manifest {rows}")
        rman.write_text(json.dumps(want_r))
    return root


def harness_args(wl, root, *extra):
    return ["--data-root", str(root), "--data", wl["data"], "--queries", ",".join(wl["queries"]),
            "--tables", ",".join(wl["tables"]), *extra]


def reduce(res, expected, trace):
    queries = res["queries"]
    failed = 0
    for q in queries:
        if "error" in q:
            log(f"{q['name']} threw in pass {q['pass']}: {q['error']}")
        elif q["digest"] != expected.get(q["name"]):
            log(f"{q['name']} output in pass {q['pass']} is {q['digest']}, "
                f"expected {expected.get(q['name'])}")
        else:
            continue
        failed += 1
    passes = res["passes"]
    warm = [p["seconds"] for p in passes if p["kind"] == "warm"]
    warm_passes = {p["pass"] for p in passes if p["kind"] == "warm"}
    per_query = {}
    for q in queries:
        if q["pass"] in warm_passes and "error" not in q:
            per_query.setdefault(q["name"], []).append(q["latency_ms"])
    log(f"{len(warm)} warm passes; per-query warm medians (ms): "
        + ", ".join(f"{k} {statistics.median(v):.0f}" for k, v in sorted(per_query.items())))
    if trace:
        vals = res["layers"]
    else:
        # medians over the measured passes, so that a burst of load from
        # outside the run, which slows a pass or two, does not move them
        vals = {"setup_s": res["setup_s"],
                "warm_pass_s": statistics.median(warm),
                "query_gmean_ms": statistics.geometric_mean(
                    [statistics.median(v) for v in per_query.values()])}
    declared = [m["name"] for m in DECLARED["per_layer" if trace else "end_to_end"]]
    if sorted(vals) != sorted(declared):
        die(f"metrics {sorted(set(vals) ^ set(declared))} differ from BENCHMARK.json")
    metrics = {k: {"value": vals[k], "unit": UNITS[k]} for k in declared}
    return {"correct": failed == 0, "attempted": len(queries), "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=SPEC["default_seed"])
    ap.add_argument("--seconds", type=float, default=DECLARED["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in SPEC["workloads"]:
        die(f"unknown workload {a.workload}; one of {sorted(SPEC['workloads'])}")
    wl = SPEC["workloads"][a.workload]
    WORK.mkdir(parents=True, exist_ok=True)
    cp, stamp = build_program()
    classes = build_harness(cp, stamp)
    root = ensure_data(cp)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    out = WORK / "out" / f"{tag}.json"
    out.unlink(missing_ok=True)
    args = harness_args(wl, root, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--out", str(out),
                        "--spans", str(WORK / "trace" / f"{tag}.json"))
    steal0, total0 = cpu_ticks()
    run(java_cmd(f"{classes}:{cp}", "perfbench.Harness", *args), 170, java_env(),
        WORK / f"{tag}.log")
    steal1, total1 = cpu_ticks()
    # a virtual machine's CPU time taken by its host: the main source of
    # run-to-run spread where it is large
    log(f"stolen CPU during the run: {(steal1 - steal0) / max(1, total1 - total0):.1%}")
    res = json.loads(out.read_text())
    expected = json.loads((BENCH / "expected" / f"{a.workload}.json").read_text())
    print(json.dumps(reduce(res, expected, a.trace)))


if __name__ == "__main__":
    main()
