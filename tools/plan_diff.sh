#!/usr/bin/env bash
# Compare two graft.PlanDump directories with the run-to-run noise
# stripped: prints `DIFF <query>` for every query whose normalized plan
# differs (or is missing on the changed side) and exits 1 if any does.
#
# usage: tools/plan_diff.sh <parentdir> <changedir>
#   <parentdir> holds <query>_parent.txt, <changedir> <query>_change.txt
#   (the PlanDump tags `parent` and `change`).
#
# Stripped, because two runs of one tree already differ in them:
# expression ids `#123`, exchange `plan_id=`, checkpoint RDD ids, the
# ETL cache fingerprint dir, the seeds of SPARQL uuid()/struuid(),
# lambda variable ids (a JVM-wide counter that moves with query order),
# JVM lambda class names, Java array identity hashes, temp dir suffixes,
# AQE query-stage ids (the `Arguments: N` line of a `…QueryStage`
# node, numbered in materialization order) and whole-stage codegen
# ids. Those are numbered per sub-plan as its stages are planned, so in
# q_dedup_jaccard and q_split_audit the two Filters over the cached
# shingle index swap ids with the order their table-cache stages
# finish; the `*` before a node still shows that it is codegen'd.
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <parentdir> <changedir>" >&2
  exit 2
fi
norm() {
  sed -E '/QueryStage$/{n;n;s/^Arguments: [0-9]+$/Arguments: N/}' "$1" |
    sed -E 's/#[0-9]+//g; s/plan_id=[0-9]+//g;
      s/[A-Za-z]*RDD\[[0-9]+\] at [A-Za-z]+ at [A-Za-z]+\.scala:[0-9]+/RDD/g;
      s/store_etl\/[0-9a-f]+/store_etl/g; s/uuid\(Some\(-?[0-9]+\)\)/uuid()/g;
      s/lambda ([a-z]+)_[0-9]+/lambda \1/g;
      s/\$\$Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/$$Lambda/g;
      s/\[+[A-Z]@[0-9a-f]+/[@/g; s/(graft_[a-z_]+)[0-9]+/\1/g;
      s/\[codegen id : [0-9]+\]/[codegen]/g'
}
status=0
n=0
for f in "$1"/*_parent.txt; do
  [ -e "$f" ] || { echo "no *_parent.txt in $1" >&2; exit 2; }
  q=$(basename "$f" _parent.txt)
  c="$2/${q}_change.txt"
  n=$((n + 1))
  if [ ! -e "$c" ] || ! diff -q <(norm "$f") <(norm "$c") >/dev/null; then
    echo "DIFF $q"
    status=1
  fi
done
echo "compared $n plans" >&2
exit $status
