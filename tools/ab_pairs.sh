#!/bin/bash
# A/B pairs of one perfbench workload: a parent revision against this
# checkout's working tree.
#
#   tools/ab_pairs.sh <workload> <parent-rev> <seed>...
#
# The parent is `git archive`d into a temporary directory. Both sides run
# `perfbench/run.py --workload <workload> --seed <seed> --seconds <s>
# --trace 0` (s = BENCHMARK.json's run_seconds) with CARGO_TARGET_DIR set
# to a directory of their own under the temporary one, so nothing is
# written into either checkout. An even seed runs the parent first, an
# odd seed this checkout first. Prints one line per pair, then for each
# end-to-end metric the median and IQR of each side and the number of
# pairs this checkout won ("better" as BENCHMARK.json defines it).
# Each run's stdout and stderr are kept in <tmp>/results/, which is left
# in place and named at the end; the parent tree and builds are removed.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <workload> <parent-rev> <seed>..." >&2
  exit 2
fi
workload=$1 rev=$2
shift 2
here=$(cd "$(dirname "$0")/.." && pwd)
work=$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX")
trap 'rm -rf "$work/parent" "$work/build"' EXIT
mkdir -p "$work/parent" "$work/results"
git -C "$here" archive "$rev" | tar -x -C "$work/parent"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$here/BENCHMARK.json")

run() { # side seed
  local dir=$here
  [ "$1" = parent ] && dir=$work/parent
  (cd "$dir" && CARGO_TARGET_DIR="$work/build/$1" python3 perfbench/run.py \
    --workload "$workload" --seed "$2" --seconds "$seconds" --trace 0 \
    >"$work/results/$1-$2.out" 2>"$work/results/$1-$2.err") || true
}

for seed in "$@"; do
  if [ $((seed % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do run "$side" "$seed"; done
done

python3 - "$here/BENCHMARK.json" "$work/results" "$workload" "$@" <<'EOF'
import json, statistics, sys

spec, results, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
metrics = json.load(open(spec))["end_to_end"]

def load(side, seed):
    """The run's JSON result (its last stdout line), with the host steal
    share its summary line reports, or None."""
    try:
        lines = open(f"{results}/{side}-{seed}.out").read().splitlines()
        res = json.loads(lines[-1])
    except (OSError, ValueError, IndexError):
        return None
    steal = [w.split("=")[1] for l in lines if l.startswith("perfbench ")
             for w in l.replace(",", " ").split() if w.startswith("steal_share=")]
    res["steal"] = float(steal[0]) if steal else float("nan")
    return res

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]

pairs = []
for seed in seeds:
    p, c = load("parent", seed), load("change", seed)
    if not p or not c:
        print(f"seed {seed}: a run printed no result (see {results}/*-{seed}.*)")
        continue
    first = "parent" if int(seed) % 2 == 0 else "change"
    cells = " ".join(f"{m['name']} {p['metrics'][m['name']]['value']:.4g}->"
                     f"{c['metrics'][m['name']]['value']:.4g}" for m in metrics)
    print(f"{workload} seed {seed} ({first} first) correct {p['correct']}/{c['correct']} "
          f"failed {p['failed']}/{c['failed']} steal {p['steal']:.2%}/{c['steal']:.2%}: {cells}")
    pairs.append((p, c))

print(f"{workload}: {len(pairs)} pairs (parent -> change)")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    a = [p["metrics"][name]["value"] for p, _ in pairs]
    b = [c["metrics"][name]["value"] for _, c in pairs]
    if not pairs:
        continue
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    ma, mb = statistics.median(a), statistics.median(b)
    (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
    change = (mb - ma) / ma * 100 if ma else float("nan")
    print(f"  {name:14s} median {ma:.4g} -> {mb:.4g} ({change:+.1f} %), "
          f"IQR {a3 - a1:.3g} / {b3 - b1:.3g}, change better in {wins}/{len(pairs)}")
print(f"results: {results}")
EOF
