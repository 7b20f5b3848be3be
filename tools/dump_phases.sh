#!/usr/bin/env bash
# Phase split of a parallel GAR dump (graft.DumpPhases in test sources): the
# median time before the first Spark job, of the skim job, of the gap between
# the jobs, of the parse job and of the file assembly, over warm
# `Gar.dump(parallel = true)` calls on a GarFixtureBig tree; plus each job's
# start-to-first-task delay and per-task deserialize time. The fixture goes
# to a temp dir under $TMPDIR (default /tmp) and is deleted afterwards.
#
#   tools/dump_phases.sh [regions (3)] [rows_per_region (10000)] [dumps (20)] [warm (3)]
#
# Runs on local[$SPARK_GRAFT_CPUS] (default: nproc).
set -euo pipefail
# a UTF-8 locale, so the JVM can encode non-ASCII file paths (build.sbt
# sets the same for the JVMs sbt forks)
export LC_ALL=C.UTF-8
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
# through sbt, which compiles first: a fresh clone has no target/
sbt -batch "Test/runMain graft.DumpPhases ${1:-3} ${2:-10000} ${3:-20} ${4:-3}" 2>&1 \
  | grep 'dump_phases: ' | sed 's/^\[info\] //'
