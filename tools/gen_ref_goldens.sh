#!/usr/bin/env bash
# Regenerate the reference-CLI byte-parity goldens.
#
# Runs the UNMODIFIED reference (`python -m ru_address.command dump`, with a
# stdlib shim standing in for lxml/psutil — see tools/refshim/) over the
# deterministic fixture tree produced by graft.synth.GarFixtureMain, for every
# dump target x output mode the reference supports, and checks the results in
# under src/test/resources/ref_goldens/. RefParitySpec then byte-compares the
# engine's DumpJob output against these files (normalising only the
# `-- generated at ...` timestamp line).
#
# Usage: tools/gen_ref_goldens.sh   (from the repo root; requires sbt compile)
set -euo pipefail
# a UTF-8 locale, so the JVM can encode non-ASCII file paths (build.sbt
# sets the same for the JVMs sbt forks)
export LC_ALL=C.UTF-8
cd "$(dirname "$0")/.."

REF=/root/reference
FIX=$(mktemp -d /tmp/garfixture.XXXX)
OUT=$(mktemp -d /tmp/refgold.XXXX)
GOLD=src/test/resources/ref_goldens

SPARK_JARS=$(ls /opt/spark/jars/*.jar | tr '\n' ':')
java -cp "target/scala-2.13/classes:${SPARK_JARS}" graft.synth.GarFixtureMain "$FIX"

export PYTHONPATH="$PWD/tools/refshim:$REF"

TABLES=(-t ADDHOUSE_TYPES -t HOUSE_TYPES -t OBJECT_LEVELS -t PARAM_TYPES \
        -t ADDR_OBJ -t HOUSES_PARAMS -t CHANGE_HISTORY)
REGIONS=(-r 01 -r 77)

run_dump() { # name, extra-global-args..., then: target mode outpath(file|dir)
  local name=$1 target=$2 mode=$3 isdir=$4; shift 4
  local dest="$OUT/$name"
  if [ "$isdir" = dir ]; then mkdir -p "$dest"; fi
  python3 -m ru_address.command "$@" dump --target "$target" -m "$mode" \
    "${REGIONS[@]}" "${TABLES[@]}" "$FIX" "$dest" > /dev/null
  rm -rf "$GOLD/$name"; mkdir -p "$GOLD/$name"
  if [ "$isdir" = dir ]; then cp -r "$dest/." "$GOLD/$name/"; else cp "$dest" "$GOLD/$name/out.sql"; fi
}

# schema goldens need an XSD for EVERY known entity (schema.py:64-70)
FIXS=$(mktemp -d /tmp/garfixture_xsd.XXXX)
java -cp "target/scala-2.13/classes:${SPARK_JARS}" graft.synth.GarFixtureMain "$FIXS" all-xsds

run_schema() { # name outkind(file|dir), then the full command to run (src/dest appended)
  local name=$1 isdir=$2; shift 2
  local dest="$OUT/$name"
  if [ "$isdir" = dir ]; then mkdir -p "$dest"; else dest="$OUT/$name.sql"; fi
  "$@" "$FIXS" "$dest" > /dev/null
  rm -rf "$GOLD/$name"; mkdir -p "$GOLD/$name"
  if [ "$isdir" = dir ]; then cp -r "$dest/." "$GOLD/$name/"; else cp "$dest" "$GOLD/$name/out.sql"; fi
}

SCHEMA_CMD=(python3 -m ru_address.command schema)
run_schema schema_mysql_dir  dir  "${SCHEMA_CMD[@]}" --target mysql
run_schema schema_psql_dir   dir  "${SCHEMA_CMD[@]}" --target psql
run_schema schema_ch_dir     dir  "${SCHEMA_CMD[@]}" --target ch
run_schema schema_mysql_file file "${SCHEMA_CMD[@]}" --target mysql
run_schema schema_mysql_nokeys file "${SCHEMA_CMD[@]}" --target mysql --no-keys
run_schema schema_psql_nokeys  file "${SCHEMA_CMD[@]}" --target psql --no-keys
run_schema schema_mysql_nodrop_innodb file \
  env RA_INCLUDE_DROP=0 RA_TABLE_ENGINE=InnoDB "${SCHEMA_CMD[@]}" --target mysql

run_dump mysql_region_tree mysql region_tree dir
run_dump mysql_per_table  mysql per_table  dir
run_dump mysql_per_region mysql per_region dir
run_dump mysql_direct     mysql direct     file
run_dump mysql_direct_b2  mysql direct     file -e RA_BATCH_SIZE 2 -e RA_SQL_ENCODING utf8
run_dump psql_direct      psql  direct     file
run_dump psql_region_tree psql  region_tree dir
run_dump csv_region_tree  csv   region_tree dir
run_dump tsv_region_tree  tsv   region_tree dir

echo "goldens refreshed under $GOLD (fixture: $FIX)"
find "$GOLD" -type f | sort
