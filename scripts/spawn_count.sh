#!/usr/bin/env bash
# Count the file-metadata processes a command starts.
#
#   scripts/spawn_count.sh <cmd> [args...]
#
# Runs <cmd> with PATH led by logging shims for chmod, chown, chgrp, ls,
# stat, df and du: each shim appends its command line to a log and then
# execs the real binary, so the command behaves as it would without them.
# These are the programs Hadoop's local FileSystem shells out to when it
# has no libhadoop (modes, owners, permission reads, disk usage). When
# <cmd> exits, one line per program goes to stderr:
#
#   [spawn_count] chmod 588 (0644 536, 0755 52)
#
# with the first argument's counts in brackets (the mode for chmod, the
# owner spec for chown). Child JVMs that sbt forks inherit PATH, so
# `scripts/spawn_count.sh sbt "runMain graft.Verify ..."` and
# `scripts/spawn_count.sh python3 perfbench/run.py ...` count their
# processes too. Exits with <cmd>'s status. Nothing is written outside
# its own temp dir, which is removed on exit.
set -euo pipefail
if [ $# -lt 1 ]; then
  echo "usage: $0 <cmd> [args...]" >&2
  exit 2
fi
progs="chmod chown chgrp ls stat df du"
tmp=$(mktemp -d "${TMPDIR:-/tmp}/spawn_count.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/bin"
log="$tmp/spawns.log"
: >"$log"
for p in $progs; do
  real=$(command -v "$p") || continue
  printf '#!/bin/sh\necho "%s $*" >>"%s"\nexec "%s" "$@"\n' "$p" "$log" "$real" >"$tmp/bin/$p"
  chmod 755 "$tmp/bin/$p"
done
status=0
PATH="$tmp/bin:$PATH" "$@" || status=$?
for p in $progs; do
  n=$(grep -c "^$p " "$log" || true)
  detail=""
  if [ "$n" -gt 0 ]; then
    detail=" ($(awk -v p="$p" '$1 == p { c[$2]++ } END { for (a in c) printf "%s%s %d", (k++ ? ", " : ""), a, c[a] }' "$log"))"
  fi
  echo "[spawn_count] $p $n$detail" >&2
done
exit "$status"
