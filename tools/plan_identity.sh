#!/bin/bash
# Plan identity between two builds: shows that a behaviour-neutral refactor
# moved no executed plan.
#
# Usage: tools/plan_identity.sh <parentdir> <query...>
#
# <parentdir> is a second checkout of the base commit, compiled
# (`sbt compile` there); this checkout must be compiled too. For each query
# the script dumps `graft.Dev plan` from both builds, plain and with
# --audit (auto-broadcast off), at Dev's default corpus (sf0.01, or
# SPARK_GRAFT_SF_DIR), normalizes what moves with unrelated code, diffs each
# pair and exits non-zero on any difference. The normalization:
#   - expression and plan ids (`#12`, `#12L`, `plan_id=3`);
#   - RDD call sites (` at TextQueries.scala:182`);
#   - lambda-bound variables, renamed by their first appearance on each
#     line (`lambda i#7`, `lambda x_12#9` -> `lambda L1`): a bound name does
#     not change what a lambda computes, and Scala-API lambdas are numbered
#     `x_<counter>`, which moves whenever a helper builds its lambdas in a
#     different order;
#   - any other Scala-API lambda counter (`x_123` -> `x_N`; the Scala API
#     names lambda arguments x, y and z).
# Dumps and diffs stay in a temp dir, named on the last line.
set -e
PARENT=${1:?usage: tools/plan_identity.sh <parentdir> <query...>}
shift
[ $# -gt 0 ] || { echo "usage: tools/plan_identity.sh <parentdir> <query...>" >&2; exit 2; }
HERE=$(cd "$(dirname "$0")/.." && pwd)
for d in "$PARENT" "$HERE"; do
  [ -d "$d/target/scala-2.13/classes/graft" ] || { echo "not compiled: $d" >&2; exit 2; }
done
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OUT=$(mktemp -d -t plan_identity.XXXXXX)
dump() { # <repo dir> <suffix> [--audit]
  java $ADD_OPENS -Xmx4g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$1/target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.Dev plan $3 --out "$OUT" "$2" "${QUERIES[@]}" > "$OUT/$2.log" 2>&1 \
    || { echo "graft.Dev plan failed for $1 ($2), see $OUT/$2.log" >&2; exit 2; }
}
normalize() {
  perl -pe 'my %m; my $k = 0; s/lambda ([A-Za-z_][A-Za-z0-9_]*#[0-9]+L?)/"lambda L" . ($m{$1} \/\/= ++$k)/ge' "$1" |
    sed -E 's/#[0-9]+L?//g; s/plan_id=[0-9]+//g; s/ at [A-Za-z]+\.scala:[0-9]+//g; s/\b([xyz])_[0-9]+\b/\1_N/g'
}
QUERIES=("$@")
dump "$PARENT" p
dump "$HERE" n
dump "$PARENT" pa --audit
dump "$HERE" na --audit
status=0
for q in "${QUERIES[@]}"; do
  for mode in "" a; do
    label=$q${mode:+ (--audit)}
    if diff <(normalize "$OUT/${q}_p$mode.txt") <(normalize "$OUT/${q}_n$mode.txt") \
        > "$OUT/${q}_$mode.diff"; then
      echo "SAME  $label"
    else
      echo "DIFF  $label ($OUT/${q}_$mode.diff)"
      status=1
    fi
  done
done
echo "dumps: $OUT"
exit $status
