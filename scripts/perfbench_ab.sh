#!/bin/bash
# Interleaved perfbench A/B between a parent ref and the working tree.
# Builds `git archive` copies of <parent-ref> and of the working tree
# (tracked and untracked, not ignored, files) under target/perfbench-ab/,
# then runs <pairs> pairs of `perfbench/run.py --trace 0` on <workload>,
# one seed per pair starting at <first-seed>, alternating which side runs
# first so box drift lands on both sides. Each copy compiles into its own
# .bench_build/ on its first run.
# CSV on stdout: pair,side,seed,metric,value (metrics from each run's
# last-line JSON, plus `correct` and `failed`). A seed whose
# `info nb_accuracy …` quality line differs between the sides is flagged
# on stderr, and the script then exits 1.
# Usage: scripts/perfbench_ab.sh <parent-ref> <workload> <first-seed> <pairs>
set -u
if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-ref> <workload> <first-seed> <pairs>" >&2
  exit 2
fi
REF="$1"; WORKLOAD="$2"; FIRST="$3"; PAIRS="$4"
ROOT="$(git rev-parse --show-toplevel)" || exit 2
cd "$ROOT" || exit 2
AB="$ROOT/target/perfbench-ab"
rm -rf "$AB/parent" "$AB/change"
mkdir -p "$AB/parent" "$AB/change" "$AB/logs"

# the working tree as a tree object, via a throwaway index
IDX="$(mktemp)"
trap 'rm -f "$IDX"' EXIT
cp "$(git rev-parse --git-path index)" "$IDX"
GIT_INDEX_FILE="$IDX" git add -A || exit 2
TREE="$(GIT_INDEX_FILE="$IDX" git write-tree)" || exit 2
git archive "$REF" | tar -x -C "$AB/parent" || exit 2
git archive "$TREE" | tar -x -C "$AB/change" || exit 2

run() { # pair side seed
  local pair="$1" side="$2" seed="$3"
  local out="$AB/logs/$side-seed$seed.out"
  python3 "$AB/$side/perfbench/run.py" --workload "$WORKLOAD" \
    --seed "$seed" --seconds 1 --trace 0 > "$out" 2> "$AB/logs/$side-seed$seed.err"
  tail -n 1 "$out" | python3 -c '
import json, sys
pair, side, seed = sys.argv[1:4]
try:
    r = json.loads(sys.stdin.read())
except ValueError:
    print(f"{pair},{side},{seed},error,1")
    sys.exit()
rows = [("correct", str(r.get("correct")).lower()), ("failed", r.get("failed"))]
rows += [(name, m["value"]) for name, m in sorted(r.get("metrics", {}).items())]
for name, value in rows:
    print(f"{pair},{side},{seed},{name},{value}")
' "$pair" "$side" "$seed"
}

quality() { grep '^info nb_accuracy' "$AB/logs/$1-seed$2.out"; }

echo "pair,side,seed,metric,value"
STATUS=0
for i in $(seq 1 "$PAIRS"); do
  seed=$((FIRST + i - 1))
  if [ $((i % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do run "$i" "$side" "$seed"; done
  if [ "$(quality parent "$seed")" != "$(quality change "$seed")" ]; then
    echo "QUALITY MISMATCH seed $seed: parent '$(quality parent "$seed")'" \
      "change '$(quality change "$seed")'" >&2
    STATUS=1
  fi
done
exit "$STATUS"
