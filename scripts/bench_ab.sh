#!/usr/bin/env bash
# Same-window A/B of the repository benchmark: a git revision against the
# working tree.
#
#   scripts/bench_ab.sh <rev> <workload> <seed...>
#
# Checks <rev> out into a temporary git worktree and runs
# `perfbench/run.py --trace 0` there and in the working tree for every seed,
# the two runs back to back. The order flips from seed to seed (<rev> first
# on the 1st, 3rd, ... seed), so a drift in host speed weighs on both sides
# alike. For each seed it prints every end-to-end metric of BENCHMARK.json as
# <rev>, change and change/<rev>, then both runs' host canary and co-tenant
# CPU; at the end, the median ratio per metric. Each run lasts BENCHMARK.json's
# `run_seconds`. The worktree is removed on exit.
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,14p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
rev=$1 workload=$2
shift 2
root=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")
wt="$tmp/rev"
cleanup() {
  git -C "$root" worktree remove --force "$wt" >/dev/null 2>&1 || true
  git -C "$root" worktree prune
  rm -rf "$tmp"
}
trap cleanup EXIT
git -C "$root" worktree add --quiet --detach "$wt" "$rev"
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

run() { # <checkout> <side> <seed>
  if ! (cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
          --seconds "$seconds" --trace 0) >"$tmp/$2.$3.out" 2>"$tmp/$2.$3.err"; then
    echo "bench_ab: the $2 run of seed $3 failed:" >&2
    tail -n 20 "$tmp/$2.$3.err" >&2
    exit 1
  fi
}

report() { # <final|seed>
  python3 - "$root/BENCHMARK.json" "$tmp" "$rev" "$@" <<'EOF'
import json, os, re, statistics, sys

bench, tmp, rev, what = sys.argv[1:5]
names = [m["name"] for m in json.load(open(bench))["end_to_end"]]

def result(side, seed):
    lines = open(os.path.join(tmp, f"{side}.{seed}.out")).read().split("\n")
    return json.loads([l for l in lines if l.strip()][-1])

def host(side, seed):
    err = open(os.path.join(tmp, f"{side}.{seed}.err")).read()
    m = re.findall(r"host canary ([\d.]+) ms, co-tenant cpu ([\d.]+) cores", err)
    return f"canary {m[-1][0]} ms, co-tenant {m[-1][1]} cores" if m else "canary n/a"

def ratio(a, b):
    return b / a if a else float("nan")

if what == "seed":
    seed = sys.argv[5]
    a, b = result("rev", seed), result("change", seed)
    print(f"seed {seed}  ({rev} failed {a['failed']}/{a['attempted']}, "
          f"change failed {b['failed']}/{b['attempted']})")
    print(f"  {'metric':18s} {rev[:12]:>12s} {'change':>12s} {'ratio':>7s}")
    for n in names:
        x, y = a["metrics"][n]["value"], b["metrics"][n]["value"]
        print(f"  {n:18s} {x:12.4g} {y:12.4g} {ratio(x, y):7.3f}")
    print(f"  host {rev[:12]}: {host('rev', seed)}; change: {host('change', seed)}")
else:
    seeds = sys.argv[5:]
    print(f"median change/{rev} over seeds {' '.join(seeds)}")
    for n in names:
        rs = [ratio(result("rev", s)["metrics"][n]["value"],
                    result("change", s)["metrics"][n]["value"]) for s in seeds]
        print(f"  {n:18s} {statistics.median(rs):7.3f}")
EOF
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run "$wt" rev "$seed"; run "$root" change "$seed"
  else
    run "$root" change "$seed"; run "$wt" rev "$seed"
  fi
  i=$((i + 1))
  report seed "$seed"
done
report final "$@"
