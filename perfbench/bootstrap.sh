#!/usr/bin/env bash
# Regenerate perfbench/digests/sf0.01.tsv, the expected result digests the
# corpus workload checks in its warm-up pass. Run from the repository root.
#   1. graft.Verify dumps every catalog query over perfbench/data/sf0.01;
#   2. tools/check_correctness.py compares the dump with DuckDB's answers;
#   3. only if every query matches, the corpus queries' digests are written.
set -euo pipefail
cd "$(dirname "$0")/.."
out=.bench_build/perfbench-bootstrap
rm -rf "$out" && mkdir -p "$out"
export COURSIER_MODE=offline
sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.Verify perfbench/data/sf0.01 $out/verify"
python3 tools/check_correctness.py perfbench/data/sf0.01 "$out/verify" \
  --json "$out/check.json"
python3 -c 'import json,sys; r=json.load(open(sys.argv[1])); sys.exit(r["failed"] != 0)' \
  "$out/check.json"
python3 perfbench/run.py --bootstrap-digests "$out/digests.tsv"
{ head -3 perfbench/digests/sf0.01.tsv; sort "$out/digests.tsv"; } > "$out/new.tsv"
mv "$out/new.tsv" perfbench/digests/sf0.01.tsv
echo "wrote perfbench/digests/sf0.01.tsv"
