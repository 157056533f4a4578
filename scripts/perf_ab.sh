#!/usr/bin/env bash
# Paired A/B runs of perfbench: parent commit vs the current checkout.
#
#   scripts/perf_ab.sh [-w WORKLOAD] [-s SECONDS] [-t 0|1] [-p REV | -d DIR]
#                      [-o OUT] SEED...
#
# For each seed it runs `perfbench/run.py` once on the parent and once on
# this checkout, alternating which side goes first (even pairs parent
# first, odd pairs change first) so host drift does not favour one side.
# The parent is a detached `git worktree` of REV (default HEAD~1: the
# change is the last commit), created in a temporary directory and removed
# at exit; `-d DIR` uses an existing checkout instead. Nothing under
# perfbench/ is changed. Each run's output is kept in OUT (default
# .bench_build/ab/<workload>-<time>). The summary prints, per metric of
# the runs' JSON results: each side's median and quartiles, the change of
# the medians in percent, and the per-pair sign (+ change better, - change
# worse, = equal) by the `better` direction BENCHMARK.json declares
# (lower when undeclared).
#
# Run from the repository root, e.g.
#   scripts/perf_ab.sh -w dag_trickle 101 102 103 104 105 106
set -euo pipefail

workload=dag_trickle
seconds=5
trace=0
rev=HEAD~1
parent_dir=
out=
while getopts "w:s:t:p:d:o:" opt; do
  case $opt in
    w) workload=$OPTARG ;;
    s) seconds=$OPTARG ;;
    t) trace=$OPTARG ;;
    p) rev=$OPTARG ;;
    d) parent_dir=$OPTARG ;;
    o) out=$OPTARG ;;
    *) sed -n '2,21p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
if [ $# -eq 0 ]; then sed -n '2,21p' "$0"; exit 2; fi

change_dir=$(pwd)
[ -f "$change_dir/perfbench/run.py" ] || { echo "perf_ab: run from the repository root" >&2; exit 2; }
out=${out:-$change_dir/.bench_build/ab/$workload-$(date +%Y%m%d-%H%M%S)}
mkdir -p "$out"

if [ -z "$parent_dir" ]; then
  sha=$(git rev-parse --verify "$rev^{commit}")
  parent_dir=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab_parent.XXXXXX")
  rmdir "$parent_dir"
  git worktree add --detach "$parent_dir" "$sha" >/dev/null
  trap 'git -C "$change_dir" worktree remove --force "$parent_dir"' EXIT
  echo "parent: $sha in $parent_dir"
fi

run_side() { # side seed
  local dir=$change_dir
  [ "$1" = parent ] && dir=$parent_dir
  local log="$out/$1-$2.log"
  echo "$(date +%T) $1 seed $2" >&2
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace "$trace") >"$log" 2>"$out/$1-$2.err" ||
    echo "perf_ab: $1 seed $2 exited $?" >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then run_side parent "$seed"; run_side change "$seed"
  else run_side change "$seed"; run_side parent "$seed"; fi
  i=$((i + 1))
done

python3 - "$out" "$change_dir/BENCHMARK.json" "$@" <<'EOF'
import json, os, statistics, sys

out, bench, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
better = {}
if os.path.exists(bench):
    with open(bench) as f:
        b = json.load(f)
    for m in b.get("end_to_end", []) + b.get("per_layer", []):
        better[m["name"]] = m.get("better", "lower")

def result(side, seed):
    try:
        with open(os.path.join(out, f"{side}-{seed}.log")) as f:
            return json.loads(f.read().strip().splitlines()[-1])
    except (OSError, ValueError, IndexError):
        return None

pairs = [(s, result("parent", s), result("change", s)) for s in seeds]
for s, p, c in pairs:
    status = lambda r: "missing" if r is None else \
        f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"
    print(f"seed {s}: parent {status(p)}; change {status(c)}")
ok = [(s, p, c) for s, p, c in pairs if p and c]
names = sorted({m for _, p, c in ok for m in p["metrics"]} &
               {m for _, p, c in ok for m in c["metrics"]})
def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]

print(f"{'metric':44} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
      f" {'delta':>8}  pairs")
for m in names:
    pv = [p["metrics"][m]["value"] for _, p, c in ok if m in p["metrics"]]
    cv = [c["metrics"][m]["value"] for _, p, c in ok if m in c["metrics"]]
    if not pv or not cv:
        continue
    mp, mc = statistics.median(pv), statistics.median(cv)
    delta = f"{mc / mp - 1:+.1%}" if mp else "n/a"
    side = lambda med, v: "%10.4g [%.4g, %.4g]" % ((med,) + quartiles(v))
    up = better.get(m, "lower") == "higher"
    signs = ""
    for _, p, c in ok:
        a, b = p["metrics"][m]["value"], c["metrics"][m]["value"]
        signs += "=" if a == b else ("+" if (b > a) == up else "-")
    print(f"{m:44} {side(mp, pv):>30} {side(mc, cv):>30} {delta:>8}  {signs}")
EOF
