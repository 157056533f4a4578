#!/usr/bin/env bash
# Size of the main sources: the working tree against a git revision.
#
#   scripts/loc.sh [REV]        # REV defaults to HEAD
#
# Prints, for src/main/scala in the working tree and at REV, the total
# `wc -l` and the code-line count (lines that are not blank, not `//`
# comments and not scaladoc/block-comment lines: the filter
# `grep -vE '^\s*(//|\*|/\*\*|$)'`). Then, per file whose counts differ,
# the two sides and the deltas (a file missing on one side counts 0).
#
# Run from anywhere inside the repository.
set -euo pipefail

rev=${1:-HEAD}
root=$(git rev-parse --show-toplevel)
cd "$root"
dir=src/main/scala
code_filter='^\s*(//|\*|/\*\*|$)'

git rev-parse --verify --quiet "$rev^{commit}" >/dev/null ||
  { echo "loc.sh: unknown revision '$rev'" >&2; exit 2; }

# one "path<TAB>lines<TAB>code" row per file
count_tree() {
  find "$dir" -type f -name '*.scala' | sort | while read -r f; do
    printf '%s\t%s\t%s\n' "$f" "$(wc -l <"$f")" \
      "$(grep -cvE "$code_filter" "$f" || true)"
  done
}
count_rev() {
  git ls-tree -r --name-only "$rev" -- "$dir" | grep '\.scala$' | sort |
    while read -r f; do
      printf '%s\t%s\t%s\n' "$f" "$(git show "$rev:$f" | wc -l)" \
        "$(git show "$rev:$f" | grep -cvE "$code_filter" || true)"
    done
}

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
count_tree >"$tmp/tree"
count_rev >"$tmp/rev"

# totals to stdout; per changed file, one "file, lines at REV, lines in
# tree, code at REV, code in tree" row to $tmp/files, sorted and printed below
awk -F'\t' -v rev="$rev" -v dir="$dir" -v rows="$tmp/files" '
  FNR == NR { rl[$1] = $2; rc[$1] = $3; seen[$1] = 1; next }
            { tl[$1] = $2; tc[$1] = $3; seen[$1] = 1 }
  END {
    for (f in seen) {
      RL += rl[f]; RC += rc[f]; TL += tl[f]; TC += tc[f]
    }
    printf "%s (.scala)      %10s %10s\n", dir, "wc -l", "code"
    printf "  %-22s %10d %10d\n", rev, RL, RC
    printf "  %-22s %10d %10d\n", "working tree", TL, TC
    printf "  %-22s %+10d %+10d\n", "delta", TL - RL, TC - RC
    for (f in seen)
      if (rl[f] + 0 != tl[f] + 0 || rc[f] + 0 != tc[f] + 0)
        printf "%s\t%d\t%d\t%d\t%d\n", substr(f, length(dir) + 2),
          rl[f], tl[f], rc[f], tc[f] >rows
  }' "$tmp/rev" "$tmp/tree"

[ -s "$tmp/files" ] || exit 0
printf '\nper file: wc -l %s -> tree (delta), code %s -> tree (delta)\n' "$rev" "$rev"
sort "$tmp/files" | awk -F'\t' '{
  printf "  %-58s %6d -> %6d (%+5d)  %6d -> %6d (%+5d)\n",
    $1, $2, $3, $3 - $2, $4, $5, $5 - $4
}'
