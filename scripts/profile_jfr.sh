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
# execution samples, and the number of child processes the JVM started
# (jdk.ProcessStart).
set -euo pipefail

if [ $# -lt 2 ]; then
  sed -n '2,13p' "$0" | sed 's/^# \{0,1\}//' >&2
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

n = len(samples)
print(f"main-thread samples: {n} ({truncated} truncated stacks); jdk.ProcessStart: {starts}")
for title, counts in (("top self frames", self_n), ("top inclusive graft.* frames", incl_n)):
    print(title)
    for f, c in counts.most_common(15):
        print(f"  {c:6d} {100.0 * c / max(n, 1):5.1f}%  {f}")
EOF
