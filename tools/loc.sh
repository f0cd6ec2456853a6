#!/bin/bash
# Count main code: non-blank, non-comment lines of every file under
# src/main, per file and in total. A comment line is one whose first
# non-blank characters are `//`, `/*` or `*` (scaladoc body and close).
# Usage: tools/loc.sh [checkout]   (default: the checkout holding this script)
set -e
cd "${1:-$(dirname "$0")/..}"
find src/main -type f | LC_ALL=C sort | xargs awk '
  FNR == 1 && NR > 1 { printf "%7d %s\n", n, prev; total += n; n = 0 }
  { prev = FILENAME; t = $0; sub(/^[ \t]+/, "", t)
    if (t != "" && t !~ /^(\/\/|\/\*|\*)/) n++ }
  END { if (prev != "") { printf "%7d %s\n", n, prev; total += n }
        printf "%7d total\n", total }'
