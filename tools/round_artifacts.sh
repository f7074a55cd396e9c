#!/usr/bin/env bash
# Regenerate every round proof artifact at HEAD, in dependency order.
# All outputs carry {commit, testdata_mtime} provenance stamps.
# usage: tools/round_artifacts.sh <round-tag>   (e.g. r5)
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="${1:?usage: tools/round_artifacts.sh <round-tag>}"
SF01=/root/testdata/sf0.01
SF1=/root/testdata/sf0.1
REP=/tmp/graft_${TAG}_sf1x
VOUT=/tmp/graft_${TAG}_verify
COUT=/tmp/graft_${TAG}_cluster

echo "=== [1/7] 10x replica (ScaleUp) -> $REP"
[ -d "$REP/lineitem.parquet" ] || \
  sbt -batch "runMain graft.ScaleUp $SF1 $REP 10" > /tmp/${TAG}_scaleup.log 2>&1
echo "=== [1b/7] previous-round HEAD worktree (same-window drift calibration)"
# r12 verdict item 1: host throughput drifted ~2x WITHIN a round, so any
# compare against the previous round's committed file confounds code
# deltas with drift. Build the previous round-close commit in a worktree
# once, then interleave its bench passes with HEAD's in the same window:
# merge_bench computes new/old ratios per window pair and drift cancels.
PREVHEAD_DIR=/tmp/graft_prevhead
PREV_COMMIT=$(git log --grep '^round [0-9]*: verdict' --format=%H -1 || true)
if [ -n "$PREV_COMMIT" ]; then
  if [ ! -d "$PREVHEAD_DIR" ] || \
     [ "$(git -C "$PREVHEAD_DIR" rev-parse HEAD 2>/dev/null)" != "$PREV_COMMIT" ]; then
    git worktree remove --force "$PREVHEAD_DIR" 2>/dev/null || true
    git worktree add --force "$PREVHEAD_DIR" "$PREV_COMMIT" > /tmp/${TAG}_prevhead.log 2>&1
    (cd "$PREVHEAD_DIR" && sbt -batch compile) >> /tmp/${TAG}_prevhead.log 2>&1
  fi
else
  echo "    no round-close commit found; compares will be cross-window"
fi
run_prev_bench() { # $1=data dir, $2=out json, $3=iters
  [ -n "$PREV_COMMIT" ] && \
    (cd "$PREVHEAD_DIR" && sbt -batch "runMain graft.BenchFull $1 $2 $3") \
      >> /tmp/${TAG}_prevbench.log 2>&1
}
echo "=== [2/7] BenchFull @ sf0.1 (two interleaved HEAD/prev-HEAD pass pairs)"
# same-HEAD suite totals swing +-20% between windows (r9 measurement), so
# one pass cannot support the 1.2x regression protocol: run two, commit
# the per-query min, and flag only deltas that reproduce in BOTH passes
# (tools/merge_bench.py) — with ratios taken against the INTERLEAVED
# prev-HEAD pass of the same window pair. The previous round's committed
# file is kept as an informational snapshot only.
PREV_SF01=/tmp/${TAG}_sf0.1_prev.json
[ -f bench_results/${TAG}_sf0.1.json ] && cp bench_results/${TAG}_sf0.1.json "$PREV_SF01" || \
  cp "$(ls bench_results/r*_sf0.1.json 2>/dev/null | grep -v duckdb | sort -V | tail -1)" "$PREV_SF01" 2>/dev/null || true
# order ALTERNATES between pairs (r13 measurement: the first runner of a
# pair wins by ~10-20%, so a fixed order biases every ratio one way;
# with opposite orders a reproduced flag cannot be an ordering artifact)
sbt -batch "runMain graft.BenchFull $SF1 /tmp/${TAG}_sf0.1_passA.json 3" \
  > /tmp/${TAG}_bench01a.log 2>&1
run_prev_bench "$SF1" /tmp/${TAG}_sf0.1_prevA.json 3
# sf0.1 + extension DuckDB anchor timing slots at the CENTER of this
# interleave (same-window protocol — same rationale as the SF1 anchor
# in [3]); step [6] re-times and min-merges via GRAFT_DUCK_MIN
sbt -batch "runMain graft.OracleDump /tmp/${TAG}_oracle" \
  > /tmp/${TAG}_oracledump.log 2>&1
GRAFT_DUCK_SAVE=/tmp/${TAG}_duck01_q.json \
  python3 tools/duckdb_anchor.py /tmp/${TAG}_oracle/oracle_sql.json "$SF1" \
  /tmp/${TAG}_sf0.1_passA.json 3 > /dev/null
GRAFT_DUCK_SAVE=/tmp/${TAG}_duck01_ext.json \
  python3 tools/duckdb_anchor.py /tmp/${TAG}_oracle/oracle_sql.json "$SF1" \
  /tmp/${TAG}_sf0.1_passA.json 3 '^(?!q\d\d)' > /dev/null
run_prev_bench "$SF1" /tmp/${TAG}_sf0.1_prevB.json 3
sbt -batch "runMain graft.BenchFull $SF1 /tmp/${TAG}_sf0.1_passB.json 3" \
  > /tmp/${TAG}_bench01b.log 2>&1
python3 tools/merge_bench.py /tmp/${TAG}_sf0.1_passA.json \
  /tmp/${TAG}_sf0.1_passB.json bench_results/${TAG}_sf0.1.json \
  "$PREV_SF01" bench_results/${TAG}_sf0.1_compare.md \
  /tmp/${TAG}_sf0.1_prevA.json /tmp/${TAG}_sf0.1_prevB.json
echo "=== [3/7] BenchFull @ 10x replica (two interleaved pass pairs — same rationale as [2])"
# pair order alternates — same rationale as [2]. The DuckDB anchor
# timing sits at the CENTER of this interleave so the SF1 anchor ratio
# is same-window by construction: graft = min over the two FULL-registry
# HEAD passes bracketing it (full passes, not a q-family-only run — a
# 22-query pass measures a JIT-cold JVM and read ~1.5x high across the
# board when tried; JIT warmth is part of the measurement conditions and
# must match the committed bench's).
sbt -batch "runMain graft.BenchFull $REP /tmp/${TAG}_sf1x_passA.json 3" \
  > /tmp/${TAG}_bench1xa.log 2>&1
run_prev_bench "$REP" /tmp/${TAG}_sf1x_prevA.json 3
# oracle_sql.json was dumped in step [2]
GRAFT_DUCK_SAVE=/tmp/${TAG}_anchor_duck.json \
  python3 tools/duckdb_anchor.py /tmp/${TAG}_oracle/oracle_sql.json "$REP" \
  /tmp/${TAG}_sf1x_passA.json 3 '^q\d\d' > /dev/null
run_prev_bench "$REP" /tmp/${TAG}_sf1x_prevB.json 3
sbt -batch "runMain graft.BenchFull $REP /tmp/${TAG}_sf1x_passB.json 3" \
  > /tmp/${TAG}_bench1xb.log 2>&1
python3 tools/merge_bench.py /tmp/${TAG}_sf1x_passA.json \
  /tmp/${TAG}_sf1x_passB.json bench_results/${TAG}_sf1x.json \
  "" bench_results/${TAG}_sf1x_compare.md \
  /tmp/${TAG}_sf1x_prevA.json /tmp/${TAG}_sf1x_prevB.json
echo "=== [4/7] ClusterCheck (full registry, 2 executor JVMs) @ sf0.01"
SPARK_SCALA_VERSION=2.13 sbt -batch "runMain graft.ClusterCheck $SF01 $COUT" \
  > /tmp/${TAG}_cluster.log 2>&1
python3 tools/clustercheck_artifact.py "$COUT" "$SF01" \
  bench_results/${TAG}_clustercheck.json
echo "=== [4b/7] FaultCheck (executor kill mid-query, retry determinism)"
SPARK_SCALA_VERSION=2.13 sbt -batch \
  "runMain graft.FaultCheck $SF01 bench_results/${TAG}_faultcheck.json" \
  > /tmp/${TAG}_fault.log 2>&1
echo "=== [4c/7] differential fuzz (generated common-dialect corpus)"
FUZZ_JSON=bench_results/${TAG}_fuzz.json tools/fuzz.sh 6 500 "$SF01" \
  > /tmp/${TAG}_fuzz.log 2>&1
echo "=== [4d/7] differential fuzz @ 10x replica (v4 decimal/outer seams)"
FUZZ_JSON=bench_results/${TAG}_fuzz10x.json tools/fuzz.sh 14 120 "$REP" \
  > /tmp/${TAG}_fuzz10x.log 2>&1
echo "=== [5/7] oracle_sql.json dump for anchors"
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify $SF01 $VOUT" \
  > /tmp/${TAG}_verify.log 2>&1
echo "=== [6/7] DuckDB anchors"
# sf0.1 anchor: same-window like the SF1 one — graft = min over the two
# HEAD passes of step [2]'s interleave, duck = min over its center slot
# + this second slot (GRAFT_DUCK_MIN)
GRAFT_DUCK_MIN=/tmp/${TAG}_duck01_q.json \
  python3 tools/duckdb_anchor.py "$VOUT/oracle_sql.json" "$SF1" \
  /tmp/${TAG}_sf0.1_passA.json,/tmp/${TAG}_sf0.1_passB.json 3 \
  > bench_results/${TAG}_duckdb_anchor_sf0.1.md
# SF1 anchor is SAME-WINDOW (r13 addendum): the DuckDB timing ran at
# the center of step [3]'s interleave (saved to ${TAG}_anchor_duck.json)
# and the graft column is the per-query min over the two FULL-registry
# HEAD passes that bracketed it — identical measurement conditions to
# the committed bench (deep-JIT-warm JVM), ~25-minute total envelope
# instead of the old bench-to-anchor hour.
# GRAFT_DUCK_MIN (not LOAD): re-time DuckDB here and take per-query
# mins with the center-of-interleave slot — duck then gets two windows,
# matching the graft column's min over its two bracketing passes
# (min-of-samples symmetric on both sides; with a single duck window,
# a row's >2x/<2x membership was hostage to that one window's mood).
GRAFT_DUCK_MIN=/tmp/${TAG}_anchor_duck.json \
  python3 tools/duckdb_anchor.py "$VOUT/oracle_sql.json" "$REP" \
  /tmp/${TAG}_sf1x_passA.json,/tmp/${TAG}_sf1x_passB.json 3 '^q\d\d' \
  > bench_results/${TAG}_duckdb_anchor_sf1x.md
# extension-layer anchor: every non-TPC-H oracle query at sf0.1 —
# same-window, same pattern as above
GRAFT_DUCK_MIN=/tmp/${TAG}_duck01_ext.json \
  python3 tools/duckdb_anchor.py "$VOUT/oracle_sql.json" "$SF1" \
  /tmp/${TAG}_sf0.1_passA.json,/tmp/${TAG}_sf0.1_passB.json 3 '^(?!q\d\d)' \
  > bench_results/${TAG}_duckdb_anchor_ext_sf0.1.md
echo "=== [7/7] 30x heavy-tail scale-headroom run (~SF3)"
# 30x/100x replicas are built SALTED (r11 adjudication): verbatim text
# replicas collapse ~100:1 at the near-dup dup-collapse stage, which
# trivializes exactly the banding/bucketing machinery these runs exist
# to stress (plain 100x: 4,967 distinct simhashes, 29.9M pairs, 1.6 s —
# a no-op workload). The salted build matches the replica lineage the
# r8-r10 carried numbers were actually measured on (SCALING_r9's "salt
# tokens dominate the majority vote") and is the harder, more
# corpus-realistic shape: ~500k distinct signatures, 1.0B-pair output.
# TPC-H tables are not salted, so q18 et al. are unaffected.
REP30=/tmp/graft_${TAG}_sf3x
[ -d "$REP30/lineitem.parquet" ] || \
  sbt -batch "runMain graft.ScaleUp $SF1 $REP30 30 saltText" > /tmp/${TAG}_scaleup30.log 2>&1
HEAVY=p_dedup_canonical,t_dedup_clusters,t_minhash_lsh,t_minhash_lsh_mat,t_simhash_neardup,v_semdedup,v_knn_graph,v_lsh_ann,a_fuzzy_match,t_substr_runs,t_normalize,e_interpolate,a_basket_pairs,q18_in_subquery_having,p_clean_corpus,x_salted_join,e_decimate
sbt -batch "runMain graft.BenchFull $REP30 bench_results/${TAG}_sf3x.json 2 $HEAVY" \
  > /tmp/${TAG}_bench3x.log 2>&1
echo "=== [8/8] 100x heavy-tail proof (~SF10 — the initialPartitionNum-16x motivator)"
REP100=/tmp/graft_${TAG}_sf10x
[ -d "$REP100/lineitem.parquet" ] || \
  sbt -batch "runMain graft.ScaleUp $SF1 $REP100 100 saltText" > /tmp/${TAG}_scaleup100.log 2>&1
HEAVY100=p_dedup_canonical,t_minhash_lsh,t_simhash_neardup,v_semdedup,q18_in_subquery_having
sbt -batch "runMain graft.BenchFull $REP100 bench_results/${TAG}_sf10x.json 1 $HEAVY100" \
  > /tmp/${TAG}_bench10x.log 2>&1
echo "=== done"
