#!/usr/bin/env bash
# Reference-vs-engine dump throughput on the SAME big fixture (the brief's
# "matches-or-beats its single-node throughput at the same data scale").
# The reference runs unmodified (stdlib shim); both sides dump ADDR_OBJ for
# regions 01+77, target csv, region_tree mode. Where the reference package is
# not importable, only the engine halves run. Temp dirs go under $TMPDIR
# (default /tmp). Usage: tools/ref_throughput.sh [rows_per_region]
set -euo pipefail
# a UTF-8 locale, so the JVM can encode non-ASCII file paths (build.sbt
# sets the same for the JVMs sbt forks)
export LC_ALL=C.UTF-8
cd "$(dirname "$0")/.."
ROWS=${1:-200000}
FIX=$(mktemp -d -t garbig.XXXX)

# through sbt, which compiles first: a fresh clone has no target/ and an old
# checkout's classes may be stale
sbt -batch "runMain graft.synth.GarFixtureBig $FIX $ROWS" 2>&1 | grep 'big fixture at' | sed 's/^\[info\] //'
du -sh "$FIX"/01/*.xml

export PYTHONPATH="$PWD/tools/refshim:/root/reference"
REFOUT=
if python3 -c 'import ru_address.dump' 2>/dev/null; then
  REFOUT=$(mktemp -d -t refrace.XXXX)
  # time only the dump (python startup excluded like JVM startup is for the engine)
  python3 - "$FIX" "$REFOUT" <<'PY'
import sys, time
from ru_address.dump import ConverterRegistry
from ru_address.output import OutputRegistry
fix, out = sys.argv[1], sys.argv[2]
conv = ConverterRegistry.init_converter('csv', fix, fix)
output = OutputRegistry.init_output('region_tree', conv, out, False)
t0 = time.time()
output.write(['ADDR_OBJ'], ['01', '77'])
print(f'{{"engine":"ru_address","target":"csv","sec":{time.time()-t0:.2f}}}')
PY
else
  echo "reference skipped: ru_address is not importable"
fi

ENGOUT=$(mktemp -d -t engrace.XXXX)
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
sbt -batch "Test/runMain graft.RefThroughput $FIX $ENGOUT/seq csv" 2>&1 | grep '"engine"' | sed 's/^\[info\] //'
sbt -batch "Test/runMain graft.RefThroughput $FIX $ENGOUT/par csv parallel" 2>&1 | grep '"engine"' | sed 's/^\[info\] //'

# byte-equality of the outputs (same data in = same bytes out)
for r in 01 77; do
  cmp "$ENGOUT/seq/run/$r/ADDR_OBJ.csv" "$ENGOUT/par/run/$r/ADDR_OBJ.csv" && echo "par == seq bytes ($r)"
done
if [ -n "$REFOUT" ]; then
  cmp "$REFOUT/01/ADDR_OBJ.csv" "$ENGOUT/seq/run/01/ADDR_OBJ.csv" && echo "seq == reference bytes"
  cmp "$REFOUT/01/ADDR_OBJ.csv" "$ENGOUT/par/run/01/ADDR_OBJ.csv" && echo "par == reference bytes"
fi
