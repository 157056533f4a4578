#!/usr/bin/env bash
# Paired A/B runs of perfbench: parent commit vs the current checkout.
#
#   scripts/perf_ab.sh [-w WORKLOAD] [-s SECONDS] [-t 0|1] [-p REV | -d DIR]
#                      [-e NAME=VALUE]... [-o OUT] SEED...
#
# For each seed it runs `perfbench/run.py` once on the parent and once on
# this checkout, alternating which side goes first (even pairs parent
# first, odd pairs change first) so host drift does not favour one side.
# The parent is a detached `git worktree` of REV (default HEAD~1: the
# change is the last commit), created in a temporary directory and removed
# at exit; `-d DIR` uses an existing checkout instead. `-e NAME=VALUE`
# (repeatable) exports NAME=VALUE to the change side's runs only: with
# `-d` pointing at a copy of the same tree it A/Bs a setting perfbench
# does not apply itself, e.g. an engine default passed as a JVM property,
#   scripts/perf_ab.sh -d ../copy \
#     -e JAVA_TOOL_OPTIONS=-Dspark.sql.codegen.cache.maxEntries=1000 1 2 3
# Nothing under perfbench/ is changed. Each run's output is kept in OUT
# (default .bench_build/ab/<workload>-<time>) as <side>-<seed>.log (the
# JSON result) and .err, plus the program's own log as <side>-<seed>.jvm.log
# (run.py keeps it in the checkout's .bench_build/logs/, which for the
# parent is removed with its worktree). The summary prints, per metric of
# the runs' JSON results: each side's median and quartiles, the change of
# the medians in percent, and the per-pair sign (+ change better, - change
# worse, = equal) by the `better` direction BENCHMARK.json declares
# (lower when undeclared). When the JVM logs carry perfbench's
# `round r: … last batch ms g:v …` lines (dag_trickle), it then prints
# per query group and side the median, over all rounds, of the group's
# slowest last-batch time in the round, to show which group moved. The
# `curation` group is left out of that table: its queries get rows only
# in round 0, so the value the round line prints for them is their
# round-0 ingest batch or a later idle progress event, not a round time.
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
change_env=()
while getopts "w:s:t:p:d:e:o:" opt; do
  case $opt in
    w) workload=$OPTARG ;;
    s) seconds=$OPTARG ;;
    t) trace=$OPTARG ;;
    p) rev=$OPTARG ;;
    d) parent_dir=$OPTARG ;;
    e) change_env+=("$OPTARG") ;;
    o) out=$OPTARG ;;
    *) sed -n '2,35p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
if [ $# -eq 0 ]; then sed -n '2,35p' "$0"; exit 2; fi

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
  local dir=$change_dir extra=("${change_env[@]}")
  [ "$1" = parent ] && dir=$parent_dir extra=()
  local log="$out/$1-$2.log"
  echo "$(date +%T) $1 seed $2" >&2
  (cd "$dir" && env ${extra[@]+"${extra[@]}"} python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace "$trace") >"$log" 2>"$out/$1-$2.err" ||
    echo "perf_ab: $1 seed $2 exited $?" >&2
  cp "$dir/.bench_build/logs/$workload-$2-$trace.log" "$out/$1-$2.jvm.log" 2>/dev/null ||
    echo "perf_ab: no JVM log for $1 seed $2" >&2
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

# perfbench's per-round line: "[perfbench] round r: N ms; last batch ms g:v g:v …"
# (`curation` is skipped: it is fed in round 0 only, see the header)
def last_batch(side):
    groups = {}
    for s in seeds:
        try:
            with open(os.path.join(out, f"{side}-{s}.jvm.log")) as f:
                lines = [l for l in f if "last batch ms " in l]
        except OSError:
            continue
        for l in lines:
            slowest = {}  # a group's slowest query bounds its share of the round
            for tok in l.split("last batch ms ", 1)[1].split():
                g, _, v = tok.rpartition(":")
                if g and g != "curation" and v.isdigit():
                    slowest[g] = max(slowest.get(g, 0), int(v))
            for g, v in slowest.items():
                groups.setdefault(g, []).append(v)
    return groups

lb = {side: last_batch(side) for side in ("parent", "change")}
if lb["parent"] or lb["change"]:
    print(f"\n{'last batch ms (median [q1, q3])':44} {'parent':>30} {'change':>30} {'delta':>8}")
    for g in sorted(set(lb["parent"]) | set(lb["change"])):
        pv, cv = lb["parent"].get(g, []), lb["change"].get(g, [])
        cell = lambda v: "%10.0f [%.0f, %.0f]" % ((statistics.median(v),) + quartiles(v)) \
            if v else "n/a"
        delta = f"{statistics.median(cv) / statistics.median(pv) - 1:+.1%}" \
            if pv and cv and statistics.median(pv) else "n/a"
        print(f"{g:44} {cell(pv):>30} {cell(cv):>30} {delta:>8}")
EOF
