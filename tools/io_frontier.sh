#!/usr/bin/env bash
# IO-frontier capture: run named queries against a ~17 GB K=1000 corpus
# (tools/gen_scale10.py K=1000 -> /tmp/sf100_synth, lineitem 600M rows),
# COLD vs WARM page cache. Cold = `echo 3 > /proc/sys/vm/drop_caches`
# before each query's JVM, so run1 reads parquet from disk and the later
# runs from page cache - the warm/cold delta is pure IO, measured inside
# one JVM. Each query runs through graft.tools.ProfJobs (noop sink, so
# every column is materialized; `.count()` could answer a pure projection
# from parquet metadata).
#
# Requires root (drop_caches). Writes nothing inside the repo.
# Usage: tools/io_frontier.sh <q1,q2,...> <runs> [corpusDir] [outDir]
#
#   scan family + heaviest floor operators (round 11):
#     tools/io_frontier.sh ref_full_scan,ref_filter,ref_aggregation,q1_pricing_summary,q6_revenue_forecast,ann_recall_eval,dedup_keep_best,graph_reach,mm_scene_cuts,dedup_cc 3
#   production dedup/ANN/curation routes (round 12; the 2M-vector IVF kNN
#   graph runs ~12 min a run, so it gets a cold and one warm run):
#     tools/io_frontier.sh ann_recall_eval,dedup_minhash_lsh,dedup_simhash,pipeline_curate 3
#     tools/io_frontier.sh emb_knn_graph_ivf 2
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 2 ]; then
  echo "usage: $0 <q1,q2,...> <runs> [corpusDir] [outDir]" >&2
  exit 2
fi
QS="$1"
RUNS="$2"
CORPUS="${3:-/tmp/sf100_synth}"
OUT="${4:-/tmp/io_frontier}"
mkdir -p "$OUT"

for q in ${QS//,/ }; do
  [ -s "$OUT/$q.txt" ] && { echo "skip $q (exists)"; continue; }
  sync
  echo 3 > /proc/sys/vm/drop_caches
  # run1 = cold (files untouched since the drop), later runs = warm
  timeout $((1800 * RUNS)) env SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
    sbt -batch "runMain graft.tools.ProfJobs $q $CORPUS $RUNS" \
    > "$OUT/$q.raw" 2>&1 || echo "TIMEOUT-OR-FAIL $q" >> "$OUT/$q.raw"
  grep -E "run[0-9]+:|TIMEOUT" "$OUT/$q.raw" > "$OUT/$q.txt" || true
  cat "$OUT/$q.txt"
done
echo "done -> $OUT"
