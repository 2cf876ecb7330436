#!/usr/bin/env bash
# Plan-identity check for refactors: dumps the formatted plan of every
# registry query (graft.PlanDump) on <base-ref> and on the working tree,
# at the same scale factor and core count, and diffs them with run-local
# ids masked. Exits non-zero on any difference.
#
# Usage: scripts/plan_diff.sh <base-ref> [sf-dir]
#   sf-dir defaults to the sf0.001 directory listed in TESTDATA.md.
#
# <base-ref> is exported with `git archive` into a temporary directory and
# built there with sbt (pass sbt's offline settings through SBT_OPTS as
# for any other build). The sides run one after the other, never
# concurrently. Plans and diffs are left in the printed work dir.
#
# Masked: expression ids (`#<n>`), exchange `plan_id`s, RDD ids, the source
# line in an RDD's call-site text (`at localCheckpoint at Sim.scala:_`),
# object hash codes, lambda class names and per-process fixture dirs
# (`pid<n>`).
# Expression ids also decide the order of hash-keyed expression sets
# (e.g. the Expand of RewriteDistinctAggregates), and eager AQE jobs make
# the ids drift run to run. So a query whose plans differ in the
# all-queries dump is dumped again alone, in a fresh JVM on each side; it
# counts as a difference only if it still differs there.
set -euo pipefail
base_ref=${1:?usage: scripts/plan_diff.sh <base-ref> [sf-dir]}
repo=$(cd "$(dirname "$0")/.." && pwd)
sf=${2:-$(sed -n 's/^| 0\.001 | `\(.*\)\/` |.*/\1/p' "$repo/TESTDATA.md")}
[ -d "$sf" ] || { echo "plan_diff: no sf dir '$sf'" >&2; exit 2; }

work=$(mktemp -d -t graft_plan_diff.XXXXXX)
git -C "$repo" archive --format=tar "$base_ref" | tar -x -C "$work" --one-top-level=base
echo "plan_diff: base $(git -C "$repo" rev-parse --short "$base_ref") vs working tree, sf $sf, work dir $work"

# Same core count on both sides: a PlanDump that hard-codes its master
# (`local[N]`, before GraftSession.create read SPARK_GRAFT_CPUS) fixes N,
# and the other side follows it; otherwise both run at nproc.
cores=$(grep -o 'local\[[0-9]*\]' "$work/base/src/main/scala/graft/PlanDump.scala" |
  grep -o '[0-9]\+' || nproc)

dump() { # <tree> <out> [name,name,...]
  mkdir -p "$2"
  (cd "$1" && SPARK_GRAFT_CPUS=$cores sbt --batch "runMain graft.PlanDump $sf $2 plan ${3:-}") \
    2>&1 | grep '^PLANDUMP' | sort > "$2.status"
  sed -i -E 's/#[0-9]+/#/g; s/plan_id=[0-9]+/plan_id=/g; s/RDD\[[0-9]+\]/RDD[]/g;
    s/ at ([A-Za-z0-9_$]+\.scala):[0-9]+/ at \1:_/g;
    s/Lambda\$[0-9]+\/0x[0-9a-f]+/Lambda/g; s/@[0-9a-f]+/@/g; s/\/pid[0-9]+\//\/pid\//g' "$2"/*.txt
}
differing() { # <dir-a> <dir-b>: names of the queries whose plans differ
  { diff -rq "$1" "$2" || true; } | sed -n 's/^Files .*\/\(.*\)_plan\.txt and .*/\1/p' | sort
}

dump "$work/base" "$work/all/base"
dump "$repo" "$work/all/head"
echo "plan_diff: dumped $(grep -c '^PLANDUMP ok' "$work/all/base.status") base and" \
  "$(grep -c '^PLANDUMP ok' "$work/all/head.status") head plans at $cores cores"

status=0
diff -u "$work/all/base.status" "$work/all/head.status" > "$work/status.diff" || {
  echo "plan_diff: PlanDump outcomes differ (see $work/status.diff)"; status=1; }
suspects=$(differing "$work/all/base" "$work/all/head" | paste -sd, -)
if [ -n "$suspects" ]; then
  echo "plan_diff: differ in the all-queries dump, dumping alone: $suspects"
  dump "$work/base" "$work/alone/base" "$suspects"
  dump "$repo" "$work/alone/head" "$suspects"
  diff -ru "$work/alone/base" "$work/alone/head" > "$work/plans.diff" || true
  real=$(differing "$work/alone/base" "$work/alone/head" | paste -sd' ' -)
  if [ -n "$real" ]; then
    echo "plan_diff: plans differ (see $work/plans.diff): $real"; status=1
  fi
fi
if [ "$status" = 0 ]; then
  echo "plan_diff: identical plans for all $(wc -l < "$work/all/head.status") registry queries"
fi
exit $status
