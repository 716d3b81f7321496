#!/usr/bin/env bash
# Count the child processes a command starts through the programs that
# Hadoop's Shell runs (chmod, readlink, ls, ...): each is a fork+exec
# that costs milliseconds whatever the host's speed, so the counts are
# a host-independent measure of local filesystem overhead.
#
# Usage: tools/forkcount.sh <command...>
#   e.g. tools/forkcount.sh python3 perfbench/run.py --workload medallion_daily --trace 0
#
# A temporary directory of logging wrappers is put first on PATH; each
# wrapper records its name and its parent's process name, then execs
# the real program. The command's own output and exit code pass through
# unchanged; the counts go to stderr once it ends, one line per program:
#   forkcount <program> <all> java <started by a java process>
# so forks from wrapper scripts (pyenv shims, launchers) and from the
# JVM are told apart. Programs started by absolute path are not seen.
set -euo pipefail
[ $# -gt 0 ] || { echo "usage: $0 <command...>" >&2; exit 2; }

programs=(chmod chown ls stat readlink df du id groups bash setsid)
dir=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
trap 'rm -rf "$dir"' EXIT
log="$dir/log"
: > "$log"
for p in "${programs[@]}"; do
  real=$(command -v "$p") || continue
  printf '#!/bin/sh\necho "%s $(cat /proc/$PPID/comm 2>/dev/null)" >> "%s"\nexec "%s" "$@"\n' \
    "$p" "$log" "$real" > "$dir/$p"
  chmod +x "$dir/$p"
done

status=0
PATH="$dir:$PATH" "$@" || status=$?
for p in "${programs[@]}"; do
  echo "forkcount $p $(grep -c "^$p " "$log" || true) java $(grep -cx "$p java" "$log" || true)" >&2
done
exit "$status"
