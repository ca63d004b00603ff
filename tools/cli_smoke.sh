#!/usr/bin/env bash
# CLI smoke run: drives every streaming mode of graft.Main on one seeded
# `gen` changelog and prints each mode's summary lines, with the scratch
# dir shown as $W so two checkouts' outputs diff cleanly.
#
#   tools/cli_smoke.sh [scratch-dir]
#
# Modes: init + run (one lake table), run-config (a lake route plus a
# filtered changefeed route), run-dynamic (wildcard discovery over the
# `tool` column) and changefeed (one unfiltered feed, then its top-level
# layout and a read-feed count). Builds the thin jar of the checkout this
# script lives in with sbt (under the caller's sbt settings) and launches
# each mode through spark-submit ($SPARK_HOME/bin, else PATH) at local[2];
# about four minutes on 4 cores.
set -euo pipefail

ROOT=$(cd "$(dirname "$0")/.." && pwd)
W=${1:-$(mktemp -d)}
mkdir -p "$W"
SUBMIT=${SPARK_HOME:+$SPARK_HOME/bin/}spark-submit
export SPARK_GRAFT_CPUS=2

(cd "$ROOT" && sbt --batch -Dsbt.log.noformat=true package >"$W/build.log" 2>&1) ||
  { tail -40 "$W/build.log"; exit 1; }
JAR=$(ls "$ROOT"/target/scala-2.13/gomysqltransferspark_2.13-*.jar | head -1)

graft() {
  "$SUBMIT" --master local[2] --driver-memory 2g \
    --conf spark.ui.enabled=false --class graft.Main "$JAR" "$@" \
    2>>"$W/spark.log" | sed "s#$W#\$W#g"
}

echo "== gen"
graft gen "$W/log" 20000 200

echo "== init + run"
graft init "$W/table" 8
graft run "$W/log" "$W/table" "$W/cp-run"

echo "== run-config (lake + changefeed)"
cat >"$W/app.yml" <<EOF
changelog_dir: $W/log
checkpoint_dir: $W/cp-config
max_files_per_trigger: 8
routes:
  - name: lake
    target: lake
    table_dir: $W/config-lake
    key_columns: [conv_id, turn_idx]
    bucket_columns: [conv_id]
    num_buckets: 8
  - name: feed
    target: changefeed
    filter: "role = 'user'"
    out_dir: $W/config-feed
    key_columns: [conv_id, turn_idx]
EOF
graft run-config "$W/app.yml"

echo "== run-dynamic"
graft run-dynamic "$W/log" "$W/tables" "$W/cp-dyn" tool 'tool_0[0-3]'

echo "== changefeed"
graft changefeed "$W/log" "$W/feed" "$W/cp-feed"
echo "layout of \$W/feed:"
find "$W/feed" -mindepth 1 -maxdepth 1 -printf '%f\n' |
  sed -E 's/^\.part-.*\.crc$/.part-*.crc/; s/^part-.*/part-*.parquet/; s/^epoch=[0-9]+$/epoch=N/' | sort | uniq -c
graft read-feed "$W/feed" 0 | grep '^messages='
