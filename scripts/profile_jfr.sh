#!/usr/bin/env bash
# JFR profile of one untraced repository-benchmark run.
#
#   scripts/profile_jfr.sh <workload> <seed> [out.jfr]
#
# Runs `perfbench/run.py --trace 0` for BENCHMARK.json's `run_seconds` with
# JAVA_TOOL_OPTIONS starting a flight recording (settings=profile, stack
# depth 256) into <out.jfr> (default: a temporary file, deleted on exit).
# Every JVM of the run writes the same file; the workload's JVM exits last,
# so the recording is the workload's. Then prints, from `jfr print`, the top
# self frames and the top inclusive graft.* frames of the `main` thread's
# execution samples, the number of child processes the JVM started
# (jdk.ProcessStart), and the main-thread samples by phase. A sample's
# phase is the outermost routing entry on its stack: RoutingTable
# `recover`, `sweepPending` (or `sweepPendingRoute`), `markComplete`, or
# `receivePath` (or a signal's `receive`); a sample under none of them is
# `set-up/other` (JVM start, declaring routes, Spark, the harness). So the
# log tail that `recover` replays through `receivePath` counts as recover,
# and the warm-up round's live work counts in the live phases.
set -euo pipefail

if [ $# -lt 2 ]; then
  sed -n '2,19p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
workload=$1 seed=$2
root=$(cd "$(dirname "$0")/.." && pwd)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/profile_jfr.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
out=$(realpath -m "${3:-$tmp/run.jfr}")
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

(cd "$root" && JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$out,settings=profile -XX:FlightRecorderOptions=stackdepth=256" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" --trace 0) >"$tmp/run.out" 2>"$tmp/run.err" || {
  echo "profile_jfr: the run failed:" >&2
  tail -n 20 "$tmp/run.err" >&2
  exit 1
}
tail -n 1 "$tmp/run.out"
[ $# -ge 3 ] && echo "recording: $out"

jfr print --json --stack-depth 256 --events jdk.ExecutionSample,jdk.ProcessStart "$out" >"$tmp/events.json"
python3 - "$tmp/events.json" <<'EOF'
import collections, json, sys

events = json.load(open(sys.argv[1]))["recording"]["events"]
starts = sum(1 for e in events if e["type"] == "jdk.ProcessStart")
samples = [e["values"] for e in events if e["type"] == "jdk.ExecutionSample"
           and (e["values"].get("sampledThread") or {}).get("javaName") == "main"]

def name(frame):
    m = frame["method"]
    return f'{m["type"]["name"].replace("/", ".")}.{m["name"]}'

self_n, incl_n = collections.Counter(), collections.Counter()
truncated = 0
for s in samples:
    trace = s.get("stackTrace") or {}
    frames = [name(f) for f in trace.get("frames", [])]
    truncated += bool(trace.get("truncated"))
    if frames:
        self_n[frames[0]] += 1
    incl_n.update({f for f in frames
                   if f.startswith("graft.") and "$$Lambda" not in f and "$anonfun$" not in f})

PHASES = {
    "graft.routing.RoutingTable.recover": "recover",
    "graft.routing.RoutingTable.sweepPending": "sweepPending",
    "graft.routing.RoutingTable.sweepPendingRoute": "sweepPending",
    "graft.routing.RoutingTable.markComplete": "markComplete",
    "graft.routing.RoutingTable.receivePath": "receivePath",
    "graft.routing.RoutingTable.receive": "receivePath",
}
phase_n = collections.Counter()
for s in samples:
    frames = [name(f) for f in (s.get("stackTrace") or {}).get("frames", [])]
    # frames run innermost first: the last entry frame is the outermost
    phase = next((PHASES[f] for f in reversed(frames) if f in PHASES), "set-up/other")
    phase_n[phase] += 1

n = len(samples)
print(f"main-thread samples: {n} ({truncated} truncated stacks); jdk.ProcessStart: {starts}")
for title, counts in (("top self frames", self_n), ("top inclusive graft.* frames", incl_n)):
    print(title)
    for f, c in counts.most_common(15):
        print(f"  {c:6d} {100.0 * c / max(n, 1):5.1f}%  {f}")
print("samples by phase (outermost routing entry)")
for p in ("receivePath", "sweepPending", "markComplete", "recover", "set-up/other"):
    print(f"  {phase_n[p]:6d} {100.0 * phase_n[p] / max(n, 1):5.1f}%  {p}")
EOF
