#!/bin/bash
# Tri-scale oracle sweep: run Verify + the DuckDB compare at every fixture
# scale. The driver gates at sf0.01 only; sf0.001 catches small-N edge
# cases (empty groups, single-element quantiles) and sf0.1 catches
# scale-dependent divergence (rounding half-boundaries, oracle memory) —
# round 5 found one real defect in each direction this way.
# Usage: tools/sweep.sh [sf ...]   (default: 0.001 0.01 0.1)
set -e -o pipefail  # pipefail: check.py exits 1 on any FAIL; tail must not mask it
cd "$(dirname "$0")/.."
sbt -batch compile >/dev/null
for sf in "${@:-0.001 0.01 0.1}"; do
  for s in $sf; do
    out="/tmp/graft_sweep_sf$s"
    echo "== sf$s =="
    # fresh output dir: a Verify crash must not leave stale results from an
    # earlier run for check.py to silently pass against
    rm -rf "$out"
    log="/tmp/graft_sweep_sf$s.log"
    if ! \
        tools/run.sh graft.Verify "/root/testdata/sf$s" "$out" >"$log" 2>&1; then
      echo "VERIFY CRASHED at sf$s — tail of $log:"; tail -20 "$log"; exit 1
    fi
    grep '\[verify\]' "$log" || true
    python3 tools/check.py "/root/testdata/sf$s" "$out" | tail -1
  done
done
