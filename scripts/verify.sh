#!/bin/bash
# Local dev loop: run graft.Verify on a scale factor, then the DuckDB
# oracle check. Usage: scripts/verify.sh [sf0.01]
set -e
SF=${1:-sf0.01}
OUT=/tmp/verify_${SF}
rm -rf "$OUT"
# graft.Verify exits 1 when a query threw: compare the rest, then fail
set +e -o pipefail
sbt -batch "runMain graft.Verify /root/testdata/$SF $OUT" 2>&1 | grep -Ev '^\[info\]' | tail -20
verify_rc=$?
set -e +o pipefail
# bare-session smoke: entry() must work without any graft configs
sbt -batch "Test/runMain graft.EntrySmoke" 2>/dev/null | grep -q 'ENTRY_ROWS=' || { echo "ENTRY SMOKE FAILED"; exit 1; }
python3 scripts/oracle_check.py /root/testdata/$SF "$OUT"
[ "$verify_rc" = 0 ] || { echo "VERIFY FAILED: queries threw (see [verify] lines above)"; exit 1; }
