#!/usr/bin/env bash
# Full local round validation: compile + tests + oracle compare + bench.
# Usage: tools/roundcheck.sh [sf_dir_for_verify] [sf_dir_for_bench]
#        tools/roundcheck.sh guard   # only the session-builder and bench.json guards
set -euo pipefail
cd "$(dirname "$0")/.."
VDIR=${1:-/root/testdata/sf0.01}
BDIR=${2:-/root/testdata/sf0.1}

# Committed-artifact guard (round-13 verdict #1): commit 3631c66 shipped
# an sf0.001 smoke run as the repo's standing bench.json. The headline
# artifact must be a FULL-suite run at the bench SF (sf0.1) with the
# 10x axis present; anything else is a smoke/scoped snapshot and must
# not be committed as bench.json.
bench_guard() {
  local f=${1:-bench.json}
  python3 - "$f" <<'EOF'
import json, sys
path = sys.argv[1]
j = json.load(open(path))
errs = []
sf = j.get("sf", "")
if not sf.rstrip("/").endswith("sf0.1"):
    errs.append(f'sf field is "{sf}" — the committed bench must run at sf0.1')
if "tpch10x_sec" not in j:
    errs.append("tpch10x_sec missing — the 10x axis did not run (scoped/smoke snapshot?)")
if len(j.get("queries", {})) < 300:
    errs.append(f'only {len(j.get("queries", {}))} queries — not a full-suite run')
if j.get("failed", 0) > 0:
    errs.append(f'failed: {j["failed"]} {j.get("failed_queries", [])} — a bench with failed queries is not committed')
if errs:
    print(f"[bench-guard] REJECT {path}:")
    for e in errs:
        print(f"  - {e}")
    sys.exit(1)
print(f'[bench-guard] OK {path}: sf={sf}, {len(j["queries"])} queries, '
      f'tpch10x_sec={j["tpch10x_sec"]}')
EOF
}

# One way to build a session: graft.Session.local is the only
# SparkSession.builder call under src/main (comment lines, such as the
# usage example in the GraftExtensions scaladoc, are not calls).
session_guard() {
  local hits
  hits=$(grep -rnE 'SparkSession[[:space:]]*\.[[:space:]]*builder' src/main \
      --include='*.scala' \
    | grep -v '^src/main/scala/graft/Session\.scala:' \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)' || true)
  if [[ -n "$hits" ]]; then
    echo "[session-guard] REJECT: SparkSession.builder outside graft/Session.scala:"
    echo "$hits"
    return 1
  fi
  echo "[session-guard] OK: graft/Session.scala is the only session builder"
}

if [[ "${1:-}" == "guard" ]]; then
  session_guard
  bench_guard "${2:-bench.json}"
  exit 0
fi

OUT=$(mktemp -d /tmp/graft_roundcheck.XXXX)

echo "== compile + test"
sbt -batch test 2>&1 | grep -E "Tests:|\*\*\*" | tail -2

echo "== verify + duckdb compare ($VDIR)"
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $VDIR $OUT" 2>&1 \
  | grep -E "\[verify\]" || true
# Verify exits 0 even with failed queries (its dump is the result); a
# non-empty or missing _failed.json fails the round here.
python3 - "$OUT/_failed.json" <<'EOF'
import json, sys
failed = json.load(open(sys.argv[1]))
if failed:
    print(f"[verify] REJECT: {len(failed)} failed queries: {failed}")
    sys.exit(1)
EOF
python3 tools/compare_local.py "$OUT" "$VDIR" | tail -1

echo "== bench ($BDIR)"
SPARK_GRAFT_SF_DIR=$BDIR SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Bench" \
  2>/dev/null | grep '"metric"' | python3 -c "
import json, statistics, sys
j = json.loads(sys.stdin.read().strip().removeprefix('[info] '))
q = j['queries']
bad = [k for k, v in q.items() if v < 0]
print(f'total {j[\"value\"]:.1f}s / {len(q)} queries | median '
      f'{statistics.median(q.values()):.2f}s | failed: {bad or \"none\"}')"

echo "== committed-tree guards"
session_guard
bench_guard bench.json
