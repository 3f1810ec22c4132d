#!/usr/bin/env bash
# Paired A/B: a parent commit against this checkout's working tree, the
# two sides run back to back, alternating which goes first. This host's
# wall clock drifts up to 2.2x across sessions for the SAME code
# (BASELINE.md "Paired-A/B protocol"), so only pairs run side by side in
# one session support a perf claim.
#
# Usage:
#   tools/ab_paired.sh <parent-sha> perfbench <workload> <seed>...
#   tools/ab_paired.sh <parent-sha> probe <sf-dirs-csv> <names-csv> [reps]
# e.g.
#   tools/ab_paired.sh 2e3148b perfbench transform_probe 1 2 3 4 5 6 7 8 9 10
#   tools/ab_paired.sh a9d6c75 probe /tmp/grow_sf10 gr_triangle_count 3
#
# Runners. perfbench: one pair per seed; each side runs the repository
# benchmark (BENCHMARK.json) as `perfbench/run.py --workload <w> --seed
# <s> --seconds <run_seconds> --trace 0` from its own root, building
# from its own sources on its first run; the metrics are BENCHMARK.json's
# end-to-end ones. probe: one pair per rep; each side runs
# graft.ProbeMain (one JVM, every name on every dir once); the metric is
# each query's `sec`. ProbeMain.scala is copied into the parent's tree,
# so a parent that predates it exposes the same probe surface.
#
# The parent is exported with `git archive` into $AB_DIR/<sha> (default
# AB_DIR: ${TMPDIR:-/tmp}/ab_paired). Do not `cp -a` a built checkout
# instead: sbt's incremental-compile state under target/ holds absolute
# paths, so building in such a copy can delete the original's compiled
# classes (seen: the original's target/scala-2.13/classes left empty).
# The change side is labelled with HEAD's sha, plus "+dirty" when the
# tree has uncommitted edits.
#
# Result rows are appended to $OUT (default: $AB_DIR/<runner>_<workload
# or names>.jsonl) as
#   {"side":"parent"|"change","sha":"...","pair":N,"key":"...","result":{...}}
# and the summary reads every row in $OUT, so runs accumulate across
# invocations. When a harness caps this script's wall time, invoke it
# once per seed or rep with the same OUT: a killed run leaves no row
# (and a warning), never a failed one. For each key and metric the
# summary prints each side's median and quartiles, the pairs the change
# won (ties count for neither), and two verdicts: GAIN when there are at
# least ten pairs, the change won at least 9/10 of them and the medians
# differ by more than the parent's quartile spread (choosing-metrics
# §8); WORSE when the change's median is worse than the parent's by more
# than the metric's bound (perfbench metrics only).
set -euo pipefail

usage() {
  echo "usage: $0 <parent-sha> perfbench <workload> <seed>..." >&2
  echo "       $0 <parent-sha> probe <sf-dirs-csv> <names-csv> [reps]" >&2
  exit 2
}

SHA_ARG=${1:-}
RUNNER=${2:-}
[ -n "$SHA_ARG" ] && [ -n "$RUNNER" ] || usage
shift 2

ROOT=$(git rev-parse --show-toplevel)
cd "$ROOT"
PARENT_SHA=$(git rev-parse "$SHA_ARG^{commit}")
CHANGE_SHA=$(git rev-parse HEAD)
[ -z "$(git status --porcelain)" ] || CHANGE_SHA="$CHANGE_SHA+dirty"
AB_DIR=${AB_DIR:-${TMPDIR:-/tmp}/ab_paired}
PARENT_DIR="$AB_DIR/${PARENT_SHA:0:12}"

run_perfbench() { # $1=dir $2=seed
  (cd "$1" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds "$RUN_SECONDS" --trace 0) | tail -n 1 | grep '^{"correct"' || true
}

run_probe() { # $1=dir
  (cd "$1" && SPARK_GRAFT_PROBE_NAMES="$NAMES" SPARK_GRAFT_SF_DIRS="$SFDIRS" \
    sbt -batch "Test/runMain graft.ProbeMain" 2>/dev/null) | grep '^{"probe"' || true
}

case "$RUNNER" in
  perfbench)
    [ "$#" -ge 2 ] || usage
    WORKLOAD=$1
    shift
    PAIRS=("$@")
    KEY=$WORKLOAD
    RUN_SECONDS=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' BENCHMARK.json)
    OUT=${OUT:-$AB_DIR/perfbench_$WORKLOAD.jsonl}
    ;;
  probe)
    [ "$#" -ge 2 ] || usage
    SFDIRS=$1
    NAMES=$2
    mapfile -t PAIRS < <(seq 1 "${3:-2}")
    KEY="" # one key per query and dir, read from each row
    OUT=${OUT:-$AB_DIR/probe_${NAMES//,/_}.jsonl}
    ;;
  *) usage ;;
esac

mkdir -p "$AB_DIR" "$(dirname "$OUT")"
if [ ! -f "$PARENT_DIR/.archived" ]; then
  rm -rf "$PARENT_DIR"
  mkdir -p "$PARENT_DIR"
  git archive "$PARENT_SHA" | tar -x -C "$PARENT_DIR"
  touch "$PARENT_DIR/.archived"
fi
if [ "$RUNNER" = probe ]; then
  mkdir -p "$PARENT_DIR/src/test/scala/graft"
  # ProbeMain must compile against any parent: it may use only
  # SparkSession, QueryCatalog and graft.functions.exprs, never
  # graft.Session. Parent probe mains built on its former shared `run`
  # (Round10Probe) would not compile against it, so they are dropped.
  { grep -rl 'ProbeMain\.run' "$PARENT_DIR/src/test" || true; } | xargs -r rm -f
  cp src/test/scala/graft/ProbeMain.scala "$PARENT_DIR/src/test/scala/graft/ProbeMain.scala"
fi

run_side() { # $1=side $2=dir $3=sha $4=pair
  local line n=0
  echo "[ab] pair $4: $1 ($3)" >&2
  while IFS= read -r line; do
    printf '{"side":"%s","sha":"%s","pair":"%s","key":"%s","result":%s}\n' \
      "$1" "$3" "$4" "$KEY" "$line" >> "$OUT"
    n=$((n + 1))
  done < <("run_$RUNNER" "$2" "$4")
  [ "$n" -gt 0 ] || echo "[ab] WARNING: $1 pair $4 gave no result row" >&2
}

i=0
for pair in "${PAIRS[@]}"; do
  if [ $((i % 2)) -eq 0 ]; then
    run_side parent "$PARENT_DIR" "$PARENT_SHA" "$pair"
    run_side change "$ROOT" "$CHANGE_SHA" "$pair"
  else
    run_side change "$ROOT" "$CHANGE_SHA" "$pair"
    run_side parent "$PARENT_DIR" "$PARENT_SHA" "$pair"
  fi
  i=$((i + 1))
done

echo "[ab] wrote $OUT" >&2
python3 - "$OUT" "$RUNNER" BENCHMARK.json <<'EOF'
import json
import statistics
import sys
from collections import defaultdict

out, runner = sys.argv[1], sys.argv[2]
if runner == "perfbench":
    defs = json.load(open(sys.argv[3]))["end_to_end"]
else:
    defs = [{"name": "sec", "better": "lower", "bound": None}]

# (key, pair) -> side -> [metrics]; repeated pair ids pair up in order.
runs = defaultdict(lambda: {"parent": [], "change": []})
failed = {"parent": 0, "change": 0}
for line in open(out):
    if not line.strip():
        continue
    row = json.loads(line)
    res = row["result"]
    if runner == "perfbench":
        failed[row["side"]] += res["failed"]
        metrics = {k: v["value"] for k, v in res["metrics"].items()}
    elif "sec" in res:
        metrics = {"sec": res["sec"]}
    else:
        print("ERROR row:", row)
        failed[row["side"]] += 1
        continue
    key = row["key"] or f"{res['probe']} {res['dir']}"
    runs[(key, row["pair"])][row["side"]].append(metrics)

pairs = defaultdict(list)  # key -> [(parent, change)]
for (key, _), sides in runs.items():
    pairs[key].extend(zip(sides["parent"], sides["change"]))
print(f"{out}: failed runs parent {failed['parent']}, change {failed['change']}")


def quartiles(xs):
    if len(xs) == 1:
        return xs * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


for key in sorted(pairs):
    print(f"{key}: {len(pairs[key])} pairs")
    for m in defs:
        name, lower = m["name"], m["better"] == "lower"
        vals = [(p[name], c[name]) for p, c in pairs[key] if name in p and name in c]
        if not vals:
            continue
        pq = quartiles([p for p, _ in vals])
        cq = quartiles([c for _, c in vals])
        wins = sum((c < p) if lower else (c > p) for p, c in vals)
        better = (cq[1] < pq[1]) if lower else (cq[1] > pq[1])
        worse_by = ((cq[1] - pq[1]) if lower else (pq[1] - cq[1])) / pq[1] if pq[1] else 0.0
        verdict = []
        if (better and len(vals) >= 10 and wins * 10 >= 9 * len(vals)
                and abs(cq[1] - pq[1]) > pq[2] - pq[0]):
            verdict.append("GAIN")
        if m["bound"] is not None and worse_by > m["bound"]:
            verdict.append(f"WORSE by {worse_by:.0%} (bound {m['bound']:.0%})")
        print(f"  {name:<20} parent {pq[1]:.4g} [{pq[0]:.4g}-{pq[2]:.4g}]"
              f"  change {cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}]"
              f"  change better in {wins}/{len(vals)}  {' '.join(verdict)}")
EOF
