#!/usr/bin/env bash
# N-vs-4N scaling evidence (sandbox substitute for two cluster sizes):
# one JVM per parallelism level with -XX:ActiveProcessorCount matched to
# task slots (SPARK_PROC_COUNT -> build.sbt javaOptions), levels interleaved
# across cycles so host-throttling windows hit both equally; report the
# per-level minima. Usage: tools/scaling_run.sh [sf] [n] [cycles] [reps]
# n defaults to a quarter of the host's cores (at least 1), so 4n fits it.
# Each run records into a fresh temp dir, so minima never mix in older runs.
set -euo pipefail
# a UTF-8 locale, so the JVM can encode non-ASCII file paths (build.sbt
# sets the same for the JVMs sbt forks)
export LC_ALL=C.UTF-8
cd "$(dirname "$0")/.."
SF=${1:-1.0}
CORES=$(nproc)
N=${2:-$(( CORES / 4 > 1 ? CORES / 4 : 1 ))}
CYCLES=${3:-3}
REPS=${4:-3}   # timed reps per JVM; min-of-reps removes first-rep JIT skew
OUT=$(mktemp -d)/scaling_sf${SF}
echo "sf=$SF n=$N 4n=$((4 * N)) cycles=$CYCLES host_cores=$CORES records=${OUT}_{n,4n}.jsonl" >&2
for c in $(seq 1 "$CYCLES"); do
  SPARK_PROC_COUNT=$N sbt -batch "runMain graft.ScalingBench $SF $N $REPS" \
    2>&1 | grep '"mode":"once"' | sed 's/^\[info\] //' >> "${OUT}_n.jsonl"
  SPARK_PROC_COUNT=$((4 * N)) sbt -batch "runMain graft.ScalingBench $SF $((4 * N)) $REPS" \
    2>&1 | grep '"mode":"once"' | sed 's/^\[info\] //' >> "${OUT}_4n.jsonl"
done
python3 - "$OUT" <<'EOF'
import json, sys
base = sys.argv[1]
tn = min(json.loads(l)["sec"] for l in open(base + "_n.jsonl"))
t4 = min(json.loads(l)["sec"] for l in open(base + "_4n.jsonl"))
docs = json.loads(open(base + "_n.jsonl").readline())["docs"]
print(json.dumps({"docs": docs, "sec_n": tn, "sec_4n": t4,
                  "docs_per_sec_n": round(docs/tn), "docs_per_sec_4n": round(docs/t4),
                  "speedup": round(tn/t4, 3), "scaling_efficiency": round(tn/t4/4, 3)}))
EOF
