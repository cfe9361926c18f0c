#!/usr/bin/env bash
# Same-sitting A/B/A bench bracket — attribute a cross-round artifact
# delta to CODE or to environment DRIFT before acting on it.
#
#   scripts/ab_bench.sh <commitA> <commitB> <gates-csv> [sfdir]
#
# Why this exists: BENCH_r{N}.json artifacts are taken in different
# sittings (different page cache, JIT, background load), and three
# rounds in a row (r13→r14, r14→r15, r15→r16) flagged "regressions"
# that same-sitting replays attributed to drift. Cross-sitting artifact
# ratios are NOT evidence; this bracket is. Protocol:
#
#   1. build commitA and commitB in their own detached git worktrees
#      (the main checkout is never touched);
#   2. run the gate subset on A, then B, then A AGAIN (the bracket:
#      if A1 and A2 disagree, the sitting itself drifted and the
#      numbers are inconclusive — rerun on an idle box);
#   3. print per-gate seconds side by side with B/minA ratios, and
#      whether each gate's Spark jobs/stages/tasks (`queries_counts`)
#      are equal between A and B.
#
# Numbers are Bench's own per-gate seconds: the median of its timed
# passes (`queries`; warm-up and pass count live in Bench itself). The
# sitting is judged by the SUITE TOTAL's A2/A1: one gate's A2/A1 moves
# ±20-40 % between passes of the same code, so per-gate outliers are
# listed but do not fail the sitting. A gate whose counts differ
# between A and B changed its work, so its delta is the code's; equal
# counts with a time delta are sitting noise unless the bracket holds.
# Keep the box otherwise idle: do NOT run sbt test or another bench
# concurrently (NOTES.md: contention inflates 3-8x).
set -euo pipefail

A=${1:?usage: ab_bench.sh <commitA> <commitB> <gates-csv> [sfdir]}
B=${2:?usage: ab_bench.sh <commitA> <commitB> <gates-csv> [sfdir]}
GATES=${3:?usage: ab_bench.sh <commitA> <commitB> <gates-csv> [sfdir]}
SF=${4:-/root/testdata/sf0.1}

ROOT=$(git rev-parse --show-toplevel)
WT=${AB_BENCH_WT:-/tmp/ab_bench_wt}
OUT=${AB_BENCH_OUT:-/tmp/ab_bench_out}
mkdir -p "$WT" "$OUT"

build_wt() { # <commit> -> worktree dir on stdout
  local c d
  c=$(git -C "$ROOT" rev-parse --short "$1")
  d="$WT/$c"
  if [ ! -d "$d" ]; then
    git -C "$ROOT" worktree add --detach "$d" "$c" >&2
  fi
  echo "$d"
}

run_one() { # <worktree-dir> <tag>
  local d=$1 tag=$2
  echo "== bench $tag ($(git -C "$d" rev-parse --short HEAD)) gates=$GATES sf=$SF" >&2
  (cd "$d" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_QUERIES="$GATES" \
    SPARK_GRAFT_BENCH_OUT="$OUT/$tag.json" \
    sbt -batch "runMain graft.Bench" >"$OUT/$tag.log" 2>&1) \
    || { echo "bench $tag FAILED — see $OUT/$tag.log" >&2; exit 1; }
}

DA=$(build_wt "$A"); DB=$(build_wt "$B")
run_one "$DA" A1
run_one "$DB" B1
run_one "$DA" A2

python3 - "$OUT" "$A" "$B" <<'EOF'
import json, sys
out, a, b = sys.argv[1], sys.argv[2], sys.argv[3]
runs = {t: json.load(open(f"{out}/{t}.json")) for t in ("A1", "B1", "A2")}
gates = sorted(runs["A1"]["queries"])
def counts(t, g):
    c = runs[t].get("queries_counts", {}).get(g)
    return None if c is None else tuple(c.get(k) for k in ("jobs", "stages", "tasks"))
print(f"\n{'gate':<28}{'A1':>9}{'B1':>9}{'A2':>9}  {'B/minA':>7}  {'A2/A1':>7}  counts A→B")
total = {t: 0.0 for t in runs}
outliers = []
for g in gates:
    a1 = runs["A1"]["queries"].get(g)
    b1 = runs["B1"]["queries"].get(g)
    a2 = runs["A2"]["queries"].get(g)
    if None in (a1, b1, a2):
        print(f"{g:<28}  MISSING in one run"); continue
    for t, v in (("A1", a1), ("B1", b1), ("A2", a2)):
        total[t] += v
    ratio = b1 / min(a1, a2)
    bracket = a2 / a1
    if not (0.8 <= bracket <= 1.25):
        outliers.append(g)
    ca, cb = counts("A1", g), counts("B1", g)
    same = ("unknown" if None in (ca, cb) else "equal" if ca == cb
            else "CHANGED {}/{}/{} → {}/{}/{}".format(*ca, *cb))
    print(f"{g:<28}{a1:>9.3f}{b1:>9.3f}{a2:>9.3f}  {ratio:>7.2f}  {bracket:>7.2f}  {same}")
bracket = total["A2"] / total["A1"] if total["A1"] else float("nan")
drift = not (0.8 <= bracket <= 1.25)
lo = min(total["A1"], total["A2"])
print(f"{'TOTAL':<28}{total['A1']:>9.3f}{total['B1']:>9.3f}{total['A2']:>9.3f}  "
      f"{total['B1'] / lo if lo else float('nan'):>7.2f}  {bracket:>7.2f}")
if outliers:
    print(f"per-gate A2/A1 outside [0.80, 1.25] (noise, not a verdict): {', '.join(outliers)}")
for t, r in runs.items():
    if r.get("contended"):
        print(f"WARNING: run {t} self-reported CONTENDED — numbers unreliable")
        drift = True
print()
if drift:
    print("BRACKET UNSTABLE (the suite total's A2/A1 is outside [0.80, 1.25], "
          "or a run was contended): the sitting drifted — rerun on an idle box.")
else:
    print(f"Bracket stable. A gate whose counts CHANGED did different work "
          f"({a}→{b}); B/minA > ~1.15 across the family with equal counts = "
          f"commit-attributable; otherwise the cross-round artifact delta "
          f"was sitting drift.")
EOF
