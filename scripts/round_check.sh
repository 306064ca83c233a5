#!/usr/bin/env bash
# Round-end verification checklist — run before the external driver's
# round-end sampling. Chains, in order:
#   1. the full pytest suite,
#   2. the driver's exact 50-entry sample window vs the DuckDB oracle
#      at sf0.01 (including rows-only pipeline entries),
#   3. the full 174-entry registry sweep at sf0.01,
#   4. the window-order audit (prints what the driver will sample).
# Any failure stops the chain with a non-zero exit.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 pytest =="
python -m pytest tests/ -q

echo "== 2/4 driver window (first 50, sf0.01) =="
python scripts/sweep_oracle.py /root/testdata/sf0.01 --window 50

echo "== 3/4 full registry sweep (sf0.01) =="
python scripts/sweep_oracle.py /root/testdata/sf0.01

echo "== 4/4 window audit =="
# keep only the stderr summary line (stdout listing to /dev/null; the
# redirection order sends stderr through the pipe)
python scripts/rotate_registry.py 2>&1 >/dev/null | tail -1

echo "ROUND CHECK: all green"
