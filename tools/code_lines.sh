#!/usr/bin/env bash
# Code lines of the Scala sources: lines that are neither blank nor
# comment (`//` lines and `/* ... */` blocks, scaladoc included), per
# package directory and in total, sorted by package.
#
#   tools/code_lines.sh                       # this checkout's src/main/scala
#   tools/code_lines.sh other/checkout/src/main/scala
#
# A line holding code and a trailing comment counts as code.
set -euo pipefail
root="${1:-$(dirname "$0")/../src/main/scala}"
root="${root%/}"
find "$root" -name '*.scala' -print0 | sort -z | xargs -0 awk -v root="$root/" '
  FNR == 1 {
    block = 0
    pkg = substr(FILENAME, length(root) + 1)
    sub(/\/[^\/]*$/, "", pkg)
    gsub(/\//, ".", pkg)
  }
  {
    line = $0
    sub(/^[ \t]+/, "", line)
    if (block) {
      i = index(line, "*/")
      if (i == 0) next
      block = 0
      line = substr(line, i + 2)
      sub(/^[ \t]+/, "", line)
    }
    if (line == "" || substr(line, 1, 2) == "//") next
    if (substr(line, 1, 2) == "/*") {
      rest = substr(line, 3)
      i = index(rest, "*/")
      if (i == 0) { block = 1; next }
      rest = substr(rest, i + 2)
      sub(/^[ \t]+/, "", rest)
      if (rest == "" || substr(rest, 1, 2) == "//") next
    }
    n[pkg]++; total++
  }
  END {
    for (p in n) printf "%-24s %7d\n", p, n[p] | "sort"
    close("sort")
    printf "%-24s %7d\n", "total", total
  }'
