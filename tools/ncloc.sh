#!/bin/sh
# Non-blank, non-comment Scala lines of src/main and src/test in the
# working tree against a base revision — run from the repo root:
#   sh tools/ncloc.sh <base-rev>
# A line counts unless it is blank, a `//` line comment, or inside a
# `/* ... */` block (scaladoc included). Code followed by a trailing
# comment counts.
set -e
[ $# -eq 1 ] || { echo "usage: tools/ncloc.sh <base-rev>" >&2; exit 2; }
base=$1
git rev-parse --verify --quiet "$base^{commit}" >/dev/null \
  || { echo "ncloc: unknown revision $base" >&2; exit 2; }

# reads Scala source on stdin, prints its non-comment line count
ncloc() {
  awk '
    { line = $0; sub(/^[ \t]+/, "", line) }
    inblock { if (line ~ /\*\//) { inblock = 0; rest = line; sub(/.*\*\//, "", rest); if (rest ~ /[^ \t]/) n++ } ; next }
    line == "" { next }
    line ~ /^\/\// { next }
    line ~ /^\/\*/ { if (line !~ /\*\//) inblock = 1; else { rest = line; sub(/.*\*\//, "", rest); if (rest ~ /[^ \t]/) n++ }; next }
    { n++ }
    END { print n + 0 }'
}

for dir in src/main src/test; do
  before=$(git ls-tree -r --name-only "$base" -- "$dir" | grep '\.scala$' \
    | while read -r f; do git show "$base:$f"; echo; done | ncloc)
  after=$(find "$dir" -name '*.scala' -type f | sort \
    | while read -r f; do cat "$f"; echo; done | ncloc)
  echo "$dir $before -> $after ($((after - before)))"
done
