#!/usr/bin/env bash
# Scala code lines under src/main at a git revision and in the working
# tree, and their difference. Blank lines and comment lines (`//` lines
# and `/* ... */` blocks, scaladoc included) are not counted.
#
#   tools/codelines.sh [rev]      # rev defaults to HEAD
set -euo pipefail
rev="${1:-HEAD}"
cd "$(git rev-parse --show-toplevel)"

# code lines of the .scala files under the directory $1
count() {
  find "$1" -name '*.scala' -print0 | xargs -0 -r awk '
    FNR == 1 { block = 0 }
    {
      line = $0
      gsub(/^[ \t]+|[ \t]+$/, "", line)
      if (block) {
        end = index(line, "*/")
        if (!end) next
        block = 0
        line = substr(line, end + 2)
        gsub(/^[ \t]+/, "", line)
      }
      if (line == "" || line ~ /^\/\//) next
      if (line ~ /^\/\*/) {
        end = index(substr(line, 3), "*/")
        if (!end) { block = 1; next }
        line = substr(line, end + 4)
        gsub(/^[ \t]+/, "", line)
        if (line == "" || line ~ /^\/\//) next
      }
      n++
    }
    END { print n + 0 }'
}

tmp="$(mktemp -d)"
trap 'rm -rf "$tmp"' EXIT
git archive "$rev" src/main | tar -x -C "$tmp"
before="$(count "$tmp/src/main")"
after="$(count src/main)"
printf '%s\t%d\nworking tree\t%d\ndifference\t%+d\n' "$rev" "$before" "$after" "$((after - before))"
