#!/usr/bin/env bash
# Reference-vs-engine dump throughput on the SAME big fixture (the brief's
# "matches-or-beats its single-node throughput at the same data scale").
# The reference runs unmodified (stdlib shim); both sides dump ADDR_OBJ for
# regions 01+77, target csv, region_tree mode. Usage: tools/ref_throughput.sh [rows_per_region]
set -euo pipefail
cd "$(dirname "$0")/.."
ROWS=${1:-200000}
FIX=$(mktemp -d /tmp/garbig.XXXX)
SPARK_JARS=$(ls /opt/spark/jars/*.jar | tr '\n' ':')

java -cp "target/scala-2.13/classes:${SPARK_JARS}" graft.synth.GarFixtureBig "$FIX" "$ROWS"
du -sh "$FIX"/01/*.xml

export PYTHONPATH="$PWD/tools/refshim:/root/reference"
REFOUT=$(mktemp -d /tmp/refrace.XXXX)
# time only the dump (python startup excluded like JVM startup is for the engine)
python3 - "$FIX" "$REFOUT" <<'EOF'
import sys, time
from ru_address.dump import ConverterRegistry
from ru_address.output import OutputRegistry
fix, out = sys.argv[1], sys.argv[2]
conv = ConverterRegistry.init_converter('csv', fix, fix)
output = OutputRegistry.init_output('region_tree', conv, out, False)
t0 = time.time()
output.write(['ADDR_OBJ'], ['01', '77'])
print(f'{{"engine":"ru_address","target":"csv","sec":{time.time()-t0:.2f}}}')
EOF

ENGOUT=$(mktemp -d /tmp/engrace.XXXX)
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
sbt -batch "runMain graft.RefThroughput $FIX $ENGOUT/seq csv" 2>&1 | grep '"engine"' | sed 's/^\[info\] //'
sbt -batch "runMain graft.RefThroughput $FIX $ENGOUT/par csv parallel" 2>&1 | grep '"engine"' | sed 's/^\[info\] //'

# byte-equality of the three outputs on region 01 (same data in = same bytes out)
cmp "$REFOUT/01/ADDR_OBJ.csv" "$ENGOUT/seq/run/01/ADDR_OBJ.csv" && echo "seq == reference bytes"
cmp "$REFOUT/01/ADDR_OBJ.csv" "$ENGOUT/par/run/01/ADDR_OBJ.csv" && echo "par == reference bytes"
