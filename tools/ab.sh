#!/usr/bin/env bash
# Alternating A/B benchmark of the working tree against a parent commit.
#
#   tools/ab.sh <workload> <pairs> [parent-ref] [first-seed] [scratch-dir]
#
# Run from the repository root. The parent (default HEAD~1; pass HEAD to
# measure uncommitted changes) is exported with `git archive` into
# <scratch-dir>/parent (default ${TMPDIR:-/tmp}/graft-ab). Each side first
# runs once unrecorded, which builds it and writes its class-data archive.
# Pair i then runs `perfbench/run.py` on both sides with seed first-seed+i
# (default first seed 1) and BENCHMARK.json's run_seconds, the parent
# first on even pairs and the working tree first on odd ones.
#
# Prints, per end-to-end metric, each side's median and quartiles and the
# number of pairs the working tree won (ties count for neither side). A
# metric is a gain when the working tree wins at least nine tenths of the
# pairs and the medians differ by more than the parent's interquartile
# range. Below the verdicts it prints each side's median of the compile
# counters in the per-seed sidecars (.bench_build/sidecars/<workload>-
# trace0-seed<N>.json): generated classes compiled and JIT ms in the timed
# region. Raw result lines go to <scratch-dir>/results.jsonl.
set -euo pipefail

[ $# -ge 2 ] || { sed -n '2,21p' "$0"; exit 2; }
workload=$1 pairs=$2 ref=${3:-HEAD~1} seed0=${4:-1}
scratch=${5:-${TMPDIR:-/tmp}/graft-ab}
repo=$(pwd)
[ -f "$repo/BENCHMARK.json" ] && [ -f "$repo/perfbench/run.py" ] ||
  { echo "run from the repository root" >&2; exit 2; }
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

parent=$scratch/parent
rm -rf "$parent"
mkdir -p "$parent"
git archive "$ref" | tar -x -C "$parent"
results=$scratch/results.jsonl
: > "$results"

# run <side> <dir> <seed> <record>: one benchmark run, its result line kept
# (a run that prints no result is recorded as null and the pairs go on)
run() {
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
           --seconds "$seconds" --trace 0 2>>"$scratch/$1.log" | tail -n 1) || true
  echo "[ab] $1 seed $3: $line" >&2
  if [ "$4" = 1 ]; then
    printf '{"side": "%s", "seed": %s, "result": %s}\n' "$1" "$3" "${line:-null}" >> "$results"
  fi
}

run parent "$parent" 0 0
run change "$repo" 0 0
for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run parent "$parent" "$seed" 1; run change "$repo" "$seed" 1
  else
    run change "$repo" "$seed" 1; run parent "$parent" "$seed" 1
  fi
done

python3 - "$results" "$repo/BENCHMARK.json" "$workload" "$ref" "$parent" "$repo" <<'EOF'
import json, os, statistics, sys

results, bench, workload, ref, parent_dir, change_dir = sys.argv[1:]
spec = json.load(open(bench))
runs = {"parent": {}, "change": {}}
for line in open(results):
    r = json.loads(line)
    runs[r["side"]][r["seed"]] = r["result"]
seeds = sorted(set(runs["parent"]) & set(runs["change"]))
ok = all(runs[s][seed] and runs[s][seed]["correct"] for s in runs for seed in seeds)
print(f"{workload}: working tree vs {ref}, {len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}, "
      f"all correct: {ok}")

def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]

print(f"{'metric':<18}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'wins':>8}  verdict")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pv = [runs["parent"][s]["metrics"][name]["value"] for s in seeds if runs["parent"][s]]
    cv = [runs["change"][s]["metrics"][name]["value"] for s in seeds if runs["change"][s]]
    if len(pv) != len(seeds) or len(cv) != len(seeds):
        print(f"{name:<18} missing results")
        continue
    wins = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    better = (cm < pm) if lower else (cm > pm)
    gain = wins >= 0.9 * len(seeds) and better and abs(cm - pm) > p3 - p1
    worse = (cm - pm) / pm if pm else 0.0
    worse = worse if lower else -worse
    verdict = ("gain" if gain else
               "worse than bound" if worse > m["bound"] else "within bound")
    fmt = lambda a, b, c: f"{a:.4g}/{b:.4g}/{c:.4g}"
    print(f"{name:<18}{fmt(p1, pm, p3):>30}{fmt(c1, cm, c3):>30}{wins:>5}/{len(seeds):<2}  "
          f"{verdict} ({(cm - pm) / pm:+.1%} median)" if pm else f"{name:<18} parent median 0")

def sidecar(side_dir, seed):
    path = os.path.join(side_dir, ".bench_build", "sidecars", f"{workload}-trace0-seed{seed}.json")
    return json.load(open(path)) if os.path.exists(path) else None

print("sidecar medians (timed region)")
for key in ("timed_codegen_classes", "timed_jit_ms"):
    cols = []
    for side, side_dir in (("parent", parent_dir), ("change", change_dir)):
        cars = [sidecar(side_dir, s) for s in seeds if runs[side][s]]
        xs = [c[key] for c in cars if c]
        cols.append(f"{side} {statistics.median(xs):.6g} (n={len(xs)})" if xs else f"{side} -")
    print(f"{key:<24}{cols[0]:>24}{cols[1]:>24}")
EOF
