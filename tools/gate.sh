#!/usr/bin/env bash
# The round gate, in required order (SURVEY §6): build → full-suite
# correctness vs the DuckDB oracle → plan hygiene (PlanAudit exits
# non-zero on CARTESIAN / unexpected-BNLJ / INTERPRETED codegen-fallback
# flags — the r10 ss_pq_topk Janino overflow shipped a silent
# interpreted stage for a round; this step exists so the next one
# can't). Bench runs AFTER the gate passes, never instead of it.
#
#   tools/gate.sh [sf_dir] [out_dir]
set -euo pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_gate_out}
cd "$(dirname "$0")/.."

echo "[gate] 0/4 pin-discipline greps (no raw deserialized persist call sites, no RDD.unpersist sweep)"
# Raw persist(MEMORY_AND_DISK) pins are the residency class that OOM'd
# betweenness/pagerank at sf10 (r11/r12): every cache in src/main must
# route through GraphAnalytics.persistPinned / persistPinnedTwoPhase /
# pinLevel / pinTwoPhase, which demote to serialized DISK_ONLY past the
# heap ceiling. The only allowed literal is the DefaultPinLevel val
# inside the helpers themselves (an assignment, not a persist call).
# r13 ADVICE: match ANY deserialized StorageLevel spelling reaching a
# .persist( call — fully-qualified, imported `StorageLevel.MEMORY_*`, or
# bare `MEMORY_*` — not just the two exact literals; MEMORY_ONLY and the
# _2 replicated variants are the same residency class.
# `_SER` spellings are excluded (r14 ADVICE): serialized levels are not
# the deserialized-residency class this gate exists for, and failing
# them with a "raw deserialized persist" message would mislead.
if grep -rn "\.persist(.*MEMORY_" src/main/scala \
    | grep -v "_SER" \
    | grep -v "GraphAnalytics.scala.*DefaultPinLevel"; then
  echo "[gate] FAIL: raw deserialized persist call site (use persistPinned)"
  exit 1
fi

# A sweep over getPersistentRDDs that frees with RDD.unpersist logs
# Spark's lineage-truncated WARN for every local checkpoint it meets;
# sweeps go through DatasetBridge.unpersistAll. Step 1 runs Verify, not
# Bench, so its WARN check cannot see the Bench sweep: this grep does.
if grep -rn -A2 "getPersistentRDDs" src/main/scala | grep "\.unpersist("; then
  echo "[gate] FAIL: a getPersistentRDDs sweep frees with .unpersist( (use DatasetBridge.unpersistAll)"
  exit 1
fi

echo "[gate] 1/4 verify dump @ $SF"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | tee /tmp/graft_gate_verify.log
# Freed local checkpoints go through DatasetBridge.unpersistCheckpoint,
# which frees without RDD.unpersist's per-RDD WARN; one of these lines
# means a release path is back on RDD.unpersist and burying real WARNs.
if grep -q "was locally checkpointed, its lineage has been truncated" /tmp/graft_gate_verify.log; then
  echo "[gate] FAIL: a freed local checkpoint logged Spark's lineage-truncated WARN"
  exit 1
fi
# Deliberate global windows over bounded input use graft.operators
# .GlobalWindow, whose one-group key keeps WindowExec from logging this
# WARN each time it plans a keyless window; one of these lines means a
# keyless Window.orderBy / Window.partitionBy() is back.
if grep -q "No Partition Defined for Window operation" /tmp/graft_gate_verify.log; then
  echo "[gate] FAIL: a keyless window logged Spark's No-Partition-Defined WARN (use GlobalWindow)"
  exit 1
fi

# Driver replays serve their V-row outputs from one broadcast
# (DatasetBridge.arrayFrame), not from rows serialized into the tasks of
# a LocalTableScan; one of these lines means a replay-sized frame is back
# on a LocalRelation (or another closure carries data).
if grep -q "contains a task of very large size" /tmp/graft_gate_verify.log; then
  echo "[gate] FAIL: a stage shipped rows inside its tasks (task of very large size)"
  exit 1
fi

echo "[gate] 2/4 oracle compare"
python3 tools/check_oracle.py "$SF" "$OUT"

echo "[gate] 3/4 plan audit (fails on CARTESIAN/BNLJ/INTERPRETED)"
sbt -batch "runMain graft.tools.PlanAudit /root/testdata/sf0.001" | tee /tmp/graft_gate_audit.log | grep -E "flagged|CARTESIAN|BNLJ|INTERPRETED|PLAN-ERROR" || true
grep -q "flagged queries: 0" /tmp/graft_gate_audit.log

echo "[gate] PASS"
