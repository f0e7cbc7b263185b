#!/usr/bin/env bash
# Full local gate: tests, the benchmark harness smoke test (serving changes
# show up in serve_mixed and nowhere else), oracle differential (sf0.01),
# the driver's 50-query sample on its vanilla session, bench (sf0.1).
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -q
echo "== benchmark smoke (sf0.001) =="
python -m pytest perfbench/test_smoke.py -q
echo "== oracle differential (sf0.01) =="
python tools/check_oracle.py
echo "== driver sample on the driver's vanilla session (sf0.01) =="
front=$(python -c 'import __spark_entry__ as e; print(*list(e.queries())[:50])')
python tools/check_oracle.py --posture vanilla $front
echo "== bench (sf0.1) =="
python bench.py
