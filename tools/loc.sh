#!/usr/bin/env bash
# Code lines per path: lines that are neither blank nor start (after
# leading whitespace) with `*`, `/*` or `//`. A directory counts every
# *.scala file under it.
# Usage: tools/loc.sh <path>...   (default: src/main/scala)
set -euo pipefail
[ $# -gt 0 ] || set -- src/main/scala
for p in "$@"; do
  n=$(find "$p" -type f -name '*.scala' -print0 | xargs -0 cat | awk '
    { t = $0; sub(/^[ \t]+/, "", t) }
    t == "" || t ~ /^\*/ || t ~ /^\/\*/ || t ~ /^\/\// { next }
    { n++ }
    END { print n + 0 }')
  printf '%s\t%s\n' "$n" "$p"
done
