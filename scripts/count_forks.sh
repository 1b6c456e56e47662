#!/usr/bin/env bash
# Count the child processes a command starts, per command name.
#
#   scripts/count_forks.sh [command ...]
#
# Puts a directory of logging wrappers for chmod, readlink, ls, stat, bash
# and sh first on PATH, runs the command (default: one ncd_ingest_sql
# benchmark run, seed 911, from the repository root), then prints one
# `forks <name> <count>` line per wrapped name. Each wrapper appends its
# name to a log and execs the real binary, so the command runs as it would
# without them. A child started by absolute path (/bin/sh -c ...) does not
# search PATH and is not counted. Exits with the command's status.
set -euo pipefail

wrapped=(chmod readlink ls stat bash sh)
if [ $# -eq 0 ]; then
  set -- python3 ncdbench/run.py --workload ncd_ingest_sql --seed 911 \
    --seconds 5 --trace 0
fi

dir=$(mktemp -d "${TMPDIR:-/tmp}/count_forks.XXXXXX")
trap 'rm -rf "$dir"' EXIT
mkdir "$dir/bin"
log="$dir/calls.log"
: > "$log"
for name in "${wrapped[@]}"; do
  real=$(command -v "$name")
  printf '#!/bin/sh\necho %q >> %q\nexec %q "$@"\n' "$name" "$log" "$real" \
    > "$dir/bin/$name"
  chmod +x "$dir/bin/$name"
done

status=0
PATH="$dir/bin:$PATH" "$@" || status=$?
for name in "${wrapped[@]}"; do
  echo "forks $name $(grep -cx -- "$name" "$log" || true)"
done
exit "$status"
