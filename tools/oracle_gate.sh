#!/usr/bin/env bash
# The oracle gate as one command: dump every SparkEntry result with
# graft.Verify into a fresh temporary directory, then diff each against
# its DuckDB oracle with tools/check_oracle.py (needs python3 + duckdb).
#
# Usage: tools/oracle_gate.sh [sfDir]    (default /root/testdata/sf0.01)
# Exits with the checker's status: 0 only when it prints ALL OK.
set -euo pipefail
sf="${1:-/root/testdata/sf0.01}"
cd "$(dirname "$0")/.."
out="$(mktemp -d "${TMPDIR:-/tmp}/oracle-gate.XXXXXX")"
trap 'rm -rf "$out"' EXIT
sbt --batch "runMain graft.Verify $sf $out"
python3 tools/check_oracle.py "$out" "$sf"
