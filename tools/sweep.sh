#!/bin/bash
# Trend sweep: Bench executes every plan twice (cold+warm,
# SPARK_GRAFT_BENCH_WARM default on), so each bench_*.json carries
# `queries` (cold) AND `queries_warm`. tools/trend.py publishes min-cold
# (cross-round comparable) and min-warm (the steady-state/reused-plan
# number) side by side.
# Driver-facing graft.Bench defaults to COLD_PASSES=2 (min-of-2 in-JVM);
# the sweep pins 1 because run a/b already take the min across separate
# JVMs - same discipline, half the wall.
# Serial on purpose — timing purity (never co-tenant sbt with a timing
# pass; verify skill).
set -xe
cd "$(dirname "$0")/.."
T=target/trend
mkdir -p "$T"

calibrate() {  # $1 = tag
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_ONLY=q01_scan_timerange,q35_lineitem_pricing \
    SPARK_GRAFT_BENCH_COLD_PASSES=1 \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1
  cp target/bench_full.json "$T/cal_spark_$1.json"
  python3 tools/time_oracle.py /root/testdata/sf0.1 \
    "$T/oracle_sf01/oracle_sql.json" \
    q01_scan_timerange,q35_lineitem_pricing \
    > "$T/cal_duck_$1.json" 2>/dev/null
}

# --- per-SF oracle dumps (cheap: zero queries run; artifacts the twins
# embed — BPE merges, recall shortlists — materialize if missing)
for sf in sf01:/root/testdata/sf0.1 sf1:/root/repo/target/scale-sf1 sf5:/root/repo/target/scale-sf5; do
  name=${sf%%:*}; dir=${sf#*:}
  SPARK_GRAFT_VERIFY_ONLY= \
    sbt -batch "runMain graft.Verify $dir $T/oracle_$name" >/dev/null 2>&1
  echo "ORACLE DUMP $name done"
done

# --- bench: 2 runs per SF (each run = cold + warm pass per query),
# per-query min taken by tools/trend.py. SPARK_DRIVER_MEM=8g (the r14
# heap-sizing lesson: 48g is strictly worse on shuffle-heavy sf5).
for sf in sf01:/root/testdata/sf0.1 sf1:/root/repo/target/scale-sf1 sf5:/root/repo/target/scale-sf5; do
  name=${sf%%:*}; dir=${sf#*:}
  calibrate "$name"
  for run in a b; do
    SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=8g \
      SPARK_GRAFT_BENCH_COLD_PASSES=1 \
      sbt -batch "runMain graft.Bench" >/dev/null 2>&1
    cp target/bench_full.json "$T/bench_${name}_${run}.json"
    echo "BENCH ${name} ${run} done"
  done
done

# --- DuckDB side, each SF against ITS OWN oracle dump
calibrate duck_pre
ORACLE_QUERY_TIMEOUT_S=1800 python3 tools/time_oracle.py /root/testdata/sf0.1 \
  "$T/oracle_sf01/oracle_sql.json" > "$T/duck_sf01.json" 2> "$T/duck_sf01.log"
ORACLE_QUERY_TIMEOUT_S=1800 python3 tools/time_oracle.py target/scale-sf1 \
  "$T/oracle_sf1/oracle_sql.json" > "$T/duck_sf1.json" 2> "$T/duck_sf1.log"
# sf5: the all-pairs media oracles are O(n^2) — a 900 s cap per query is
# already a failure proof many times over Spark's cost
ORACLE_QUERY_TIMEOUT_S=900 python3 tools/time_oracle.py target/scale-sf5 \
  "$T/oracle_sf5/oracle_sql.json" > "$T/duck_sf5.json" 2> "$T/duck_sf5.log"
calibrate duck_post
echo SWEEP_DONE
