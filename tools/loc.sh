#!/usr/bin/env bash
# Main-code line count: non-blank, non-comment lines per file under
# src/main/scala, then one total per directory and a grand total.
# A comment line is one that starts with `//`, `/*`, `/**` or `*`.
#
# Usage: tools/loc.sh [dir]   (dir relative to the repo root; default src/main/scala)
set -euo pipefail
cd "$(dirname "$0")/.."
ROOT="${1:-src/main/scala}"

count() { grep -v '^\s*$' "$1" | grep -v '^\s*//' | grep -v '^\s*/\?\*' | wc -l; }

find "$ROOT" -name '*.scala' | sort | while read -r f; do
  printf '%6d  %s\n' "$(count "$f")" "$f"
done | awk '
  { n = $1; f = $2; d = f; sub(/\/[^\/]*$/, "", d); dir[d] += n; all += n; print }
  END {
    print ""
    for (d in dir) printf "%6d  %s/\n", dir[d], d | "sort -k2"
    close("sort -k2")
    printf "%6d  total\n", all
  }'
