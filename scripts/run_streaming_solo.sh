#!/usr/bin/env bash
# Committed STREAMING bench protocol (r13, SCALING.md "Round 13"): one query
# per JVM — solo. The r12 shared-JVM record (BENCH_r12_streaming_sf10.json)
# was visibly contaminated (cdc 110.3 s shared vs 27-33 s in adjacent solo
# runs): a streaming query's RocksDB/staging/GC residue taxes every query
# after it in the same JVM, so only solo records are comparable across
# rounds. Queries are interleaved WITHIN each pass (all queries run once,
# then the next pass) so any A/B sides sit minutes apart and machine drift
# hits both; min over passes is the estimator. Appends one solo-record JSON
# line per query per pass (StreamingBench jvm_seq:0 shape) to the out file.
#
# Cores come from `nproc` and the heap from run_main.sh's SPARK_DRIVER_MEM
# default, so the protocol fits whatever box runs it.
#
# Usage: run_streaming_solo.sh <sf-dir> <out.jsonl> [passes=2] [q_a q_b ...]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:?sf dir}"
OUT="${2:?out jsonl}"
PASSES="${3:-2}"
shift; shift; [[ $# -gt 0 ]] && shift
QS=("$@")
if [[ ${#QS[@]} -eq 0 ]]; then
  QS=(q_streaming_funnel q_streaming_cdc q_streaming_trending
      q_streaming_rate_limit q_streaming_per_record
      q_streaming_trending_fmgws q_streaming_rate_limit_tws
      q_streaming_restore)
fi
# streaming replays shuffle little; 64 partitions matches every committed
# r11/r12 streaming jsonl at sf1 AND sf10 (comparability), 32 at sf0.1
PARTS=64
[[ "$SF" == *sf0.1* ]] && PARTS=32
for pass in $(seq 1 "$PASSES"); do
  for q in "${QS[@]}"; do
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$(nproc)" \
      SPARK_GRAFT_SHUFFLE_PARTITIONS=$PARTS SPARK_GRAFT_ONLY="$q" \
      scripts/run_main.sh graft.StreamingBench \
      2>/dev/null | grep '^{' >> "$OUT"
  done
done
echo "SOLO_DONE $SF passes=$PASSES -> $OUT"
