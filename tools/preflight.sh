#!/usr/bin/env bash
# Pre-snapshot gate — run as the LAST action of every session, before
# the round ends. A round-8 postmortem: the end-of-round snapshot swept
# in a never-compiled WIP query, sbt failed at compile, and the whole
# round's driver verification was voided. This script makes that class
# of failure impossible: it refuses to pass unless the EXACT current
# tree compiles (main + test), every registered query dumps, and every
# dump hash-matches its DuckDB oracle twin.
#
# Usage:
#   tools/preflight.sh              # full gate at sf0.01 (the driver's tier)
#   tools/preflight.sh sf0.001      # quick gate on the smoke tier
#   tools/preflight.sh sf0.01 q193_crosscorrelation q84_cms_counts
#                                   # gate only the named queries (iteration)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-sf0.01}"
shift || true
SF_DIR="/root/testdata/$SF"
OUT_DIR="/tmp/preflight_verify_$SF"

echo "== preflight 1/5: layout guards (one table-access path, one registry entry per query, one kernel-call pattern, one near-dup pipeline, one similarity-join core, one decision policy)"
# every testdata read goes through graft.Tables: a read(Stream) whose
# path literal names a .parquet file anywhere else in src/main is a
# second table-access path
STRAY=$(find src/main -name '*.scala' ! -path src/main/scala/graft/Tables.scala -print0 \
  | xargs -0 perl -0777 -ne 'while (/\bread(?:Stream)?\b(?:\s*\.\s*\w+\([^()]*\))*\s*\.\s*parquet\(\s*s?"[^"]*\.parquet"/g) {
      printf "%s:%d\n", $ARGV, 1 + (substr($_, 0, $-[0]) =~ tr/\n//) }')
[ -z "$STRAY" ] \
  || { echo "$STRAY"; echo "PREFLIGHT FAIL: testdata read outside graft.Tables (use Tables(spark, dir, name))"; exit 1; }
# a query is one graft.queries.Query(name, plan, oracle): a name-keyed
# "q<N>_<name>" -> map entry is a second plan or twin map coming back
KEYED=$(grep -rnE '"q[0-9]+_[a-z0-9_]+"\s*->' src/main || true)
[ -z "$KEYED" ] \
  || { echo "$KEYED"; echo "PREFLIGHT FAIL: name-keyed query map entry (add a Query(name, plan, oracle) to a family sequence instead)"; exit 1; }
# a codegen kernel is a static method that Spark's StaticInvoke calls: a
# hand-written doGenCode in src/main is a second kernel-call pattern
# coming back. The one exception is QuantizeQ, whose result type follows
# the resolved input type, which a StaticInvoke cannot declare up front.
GENCODE=$(find src/main -name '*.scala' -print0 \
  | xargs -0 perl -0777 -ne 'while (/\bdef\s+doGenCode\b/g) {
      my $pre = substr($_, 0, $-[0]); my ($cls) = $pre =~ /.*\bclass\s+(\w+)/s;
      printf "%s:%d (class %s)\n", $ARGV, 1 + ($pre =~ tr/\n//), $cls // "?"
        unless ($cls // "") eq "QuantizeQ" }')
[ -z "$GENCODE" ] \
  || { echo "$GENCODE"; echo "PREFLIGHT FAIL: hand-written doGenCode (call the static kernel through StaticInvoke instead)"; exit 1; }
# the near-dup building blocks each have one home: LSH band arrays are
# built only by TextFunctions.minhashBands (a minhashBand( call anywhere
# else is a hand-built band array that can drift from the probe side),
# and the token-set Jaccard in mills, floor(1000*c / (a + b - c)), is
# written only in Dedup.jaccardMills
BANDS=$(find src/main -name '*.scala' -print0 \
  | xargs -0 perl -0777 -ne 'while (/(?<!def )\bminhashBand\(/g) {
      my $pre = substr($_, 0, $-[0]); my ($def) = $pre =~ /.*\bdef\s+(\w+)/s;
      printf "%s:%d (def %s)\n", $ARGV, 1 + ($pre =~ tr/\n//), $def // "?"
        unless ($def // "") eq "minhashBands" }')
[ -z "$BANDS" ] \
  || { echo "$BANDS"; echo "PREFLIGHT FAIL: hand-built LSH band array (call TextFunctions.minhashBands instead)"; exit 1; }
JACCARD=$(find src/main -name '*.scala' -print0 \
  | xargs -0 perl -0777 -ne 'while (/floor\(\s*lit\(1000\)\s*\*\s*(\S[^\/]{0,60}?)\s*\/\s*\((?:(?!floor\()[^;]){0,200}?-\s*\1\s*\)/gs) {
      my $pre = substr($_, 0, $-[0]); my ($def) = $pre =~ /.*\bdef\s+(\w+)/s;
      printf "%s:%d (def %s)\n", $ARGV, 1 + ($pre =~ tr/\n//), $def // "?"
        unless ($def // "") eq "jaccardMills" }')
[ -z "$JACCARD" ] \
  || { echo "$JACCARD"; echo "PREFLIGHT FAIL: Jaccard-mills arithmetic outside Dedup.jaccardMills (call it instead)"; exit 1; }
# the similarity-join core has one home each: the PPJoin prefix bound
# col("sz") - ceil(col("sz") * t …) + 1 is written only in
# Dedup.prefixShingles (the DuckDB twins recompute it in SQL on
# purpose), and the LSH geometry (a rowsPerBand value) lives only with
# TextFunctions.minhashBands
SIMJOIN=$(find src/main -name '*.scala' -print0 \
  | xargs -0 perl -0777 -ne 'while (/(\browsPerBand\b)|col\("(\w+)"\)\s*-\s*ceil\(\s*col\("\2"\)\s*\*/g) {
      my $home = defined $1 ? "minhashBands" : "prefixShingles";
      my $pre = substr($_, 0, $-[0]); my ($def) = $pre =~ /.*\bdef\s+(\w+)/s;
      printf "%s:%d (def %s)\n", $ARGV, 1 + ($pre =~ tr/\n//), $def // "?"
        unless ($def // "") eq $home }')
[ -z "$SIMJOIN" ] \
  || { echo "$SIMJOIN"; echo "PREFLIGHT FAIL: LSH geometry or PPJoin prefix bound outside its home (use TextFunctions.minhashBands / Dedup.prefixShingles)"; exit 1; }

# the decision bands have one home, Normalize.AutoResolve/AutoReject
# next to decisionBand(score): an autoResolve/autoReject/rescueFloor
# name, a 97.0/50.0 literal or a decisionBand( call with threshold
# arguments anywhere else is a second, settable copy of the policy
POLICY=$(find src/main -name '*.scala' ! -path src/main/scala/graft/functions/Normalize.scala -print0 \
  | xargs -0 perl -0777 -ne 'while (/\b(?:autoResolve|autoReject|rescueFloor)\b|(?<![\w.])(?:97|50)\.0\b|\bdecisionBand\((?:[^(),]++|(\((?:[^()]++|(?1))*\)))*,/g) {
      printf "%s:%d\n", $ARGV, 1 + (substr($_, 0, $-[0]) =~ tr/\n//) }' | uniq)
[ -z "$POLICY" ] \
  || { echo "$POLICY"; echo "PREFLIGHT FAIL: decision-band threshold outside Normalize (read Normalize.AutoResolve/AutoReject, call decisionBand(score))"; exit 1; }

echo "== preflight 2/5: sbt Test/compile (main + test must compile at HEAD+worktree)"
sbt -batch "Test/compile" >/tmp/preflight_compile.log 2>&1 \
  || { tail -30 /tmp/preflight_compile.log; echo "PREFLIGHT FAIL: compile"; exit 1; }

echo "== preflight 3/5: graft.Verify → $OUT_DIR ($SF)"
rm -rf "$OUT_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR $*" >/tmp/preflight_verify.log 2>&1 \
  || { tail -30 /tmp/preflight_verify.log; echo "PREFLIGHT FAIL: verify"; exit 1; }
if grep -q '\[verify\].*failed' /tmp/preflight_verify.log; then
  grep '\[verify\].*failed' /tmp/preflight_verify.log
  echo "PREFLIGHT FAIL: one or more queries threw during dump"
  exit 1
fi

# a typo'd query name must be a hard failure, not a vacuous pass: Verify
# silently dumps nothing for unknown names and compare_oracle silently
# skips them, so check every requested name produced a dump directory
for q in "$@"; do
  [ -d "$OUT_DIR/$q" ] \
    || { echo "PREFLIGHT FAIL: no dump for '$q' (unknown query name?)"; exit 1; }
done

echo "== preflight 4/5: oracle type lint (DESCRIBE all twins vs tools/oracle_schema.json)"
python3 tools/lint_oracle_types.py "$OUT_DIR" "$SF_DIR" \
  || { echo "PREFLIGHT FAIL: oracle type drift (cast the twin, or --regen after an intentional schema change)"; exit 1; }

echo "== preflight 5/5: DuckDB oracle compare"
COMPARE_OUT=$(python3 tools/compare_oracle.py "$OUT_DIR" "$SF_DIR" "$@") \
  || { echo "$COMPARE_OUT"; echo "PREFLIGHT FAIL: oracle mismatch"; exit 1; }
echo "$COMPARE_OUT"
# vacuous-pass guard: zero compared queries is a failure, and a partial
# run must compare exactly the requested names
PASSED=$(echo "$COMPARE_OUT" | sed -n 's/^\([0-9]*\) passed.*/\1/p' | tail -1)
[ -n "$PASSED" ] && [ "$PASSED" -gt 0 ] \
  || { echo "PREFLIGHT FAIL: zero queries compared"; exit 1; }
if [ "$#" -gt 0 ] && [ "$PASSED" -ne "$#" ]; then
  echo "PREFLIGHT FAIL: requested $# queries, only $PASSED compared"
  exit 1
fi

echo "PREFLIGHT PASS ($SF, $PASSED queries oracle-green)"
