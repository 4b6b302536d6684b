#!/usr/bin/env bash
# Parent-vs-change comparison on one perfbench workload.
#
#   scripts/ab.sh <parent-rev> <change-rev> <workload> [pairs=10]
#
# Extracts both revisions (git archive) into a fresh directory under
# ${TMPDIR:-/tmp}, then runs
#   python3 perfbench/run.py --workload W --seed s --seconds 12 --trace 0
# on each, for seeds 1..pairs, alternating which side runs first. The
# parent's BENCHMARK.json names the end-to-end metrics. For each metric
# it prints both medians, the relative change B/A - 1, each side's
# IQR/median, and the share of pairs B wins (ties count for neither
# side). Exits non-zero if any run fails or reports a failed statement.
# Needs SPARK_HOME (see perfbench/README.md); uses only git and python3.
set -euo pipefail
usage="usage: scripts/ab.sh <parent-rev> <change-rev> <workload> [pairs=10]"
A_REV="${1:?$usage}"; B_REV="${2:?$usage}"; WORKLOAD="${3:?$usage}"; PAIRS="${4:-10}"
cd "$(dirname "$0")/.."
A_SHA="$(git rev-parse --verify "$A_REV^{commit}")"
B_SHA="$(git rev-parse --verify "$B_REV^{commit}")"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/ab.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT
mkdir -p "$WORK/A" "$WORK/B" "$WORK/out"
git archive "$A_SHA" | tar -x -C "$WORK/A"
git archive "$B_SHA" | tar -x -C "$WORK/B"
echo "ab: A=$A_SHA B=$B_SHA workload=$WORKLOAD pairs=$PAIRS" >&2

run() { # side seed -> writes $WORK/out/<side>-<seed>.txt
  local out="$WORK/out/$1-$2.txt"
  if ! (cd "$WORK/$1" && python3 perfbench/run.py --workload "$WORKLOAD" \
      --seed "$2" --seconds 12 --trace 0 >"$out" 2>"$out.err"); then
    echo "ab: run $1 seed $2 failed:" >&2; tail -20 "$out.err" >&2; exit 1
  fi
  echo "ab: $1 seed $2: $(tail -1 "$out")" >&2
}
for seed in $(seq 1 "$PAIRS"); do
  if [ $((seed % 2)) -eq 1 ]; then run A "$seed"; run B "$seed"
  else run B "$seed"; run A "$seed"; fi
done

python3 - "$WORK" "$PAIRS" <<'EOF'
import json, statistics, sys
work, pairs = sys.argv[1], int(sys.argv[2])
spec = json.load(open(f"{work}/A/BENCHMARK.json"))["end_to_end"]
runs = {s: [json.loads(open(f"{work}/out/{s}-{i}.txt").read().splitlines()[-1])
            for i in range(1, pairs + 1)] for s in "AB"}
bad = [(s, i + 1, r["failed"]) for s in "AB" for i, r in enumerate(runs[s])
       if r["failed"] or not r["correct"]]

def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / statistics.median(xs)

print(f"{'metric':<18} {'median A':>11} {'median B':>11} {'B/A-1':>8} "
      f"{'IQR/med A':>10} {'IQR/med B':>10} {'B wins':>7}")
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    a = [r["metrics"][name]["value"] for r in runs["A"]]
    b = [r["metrics"][name]["value"] for r in runs["B"]]
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    ma, mb = statistics.median(a), statistics.median(b)
    print(f"{name:<18} {ma:>11.4g} {mb:>11.4g} {mb / ma - 1:>+8.1%} "
          f"{spread(a):>10.3f} {spread(b):>10.3f} {wins:>4}/{pairs}")
for s, seed, n in bad:
    print(f"FAILED side {s} seed {seed}: {n} failed statement(s)")
sys.exit(1 if bad else 0)
EOF
