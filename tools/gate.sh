#!/bin/sh
# Registry gate — run between "register/modify a query" and "commit".
#
# Exists because of the r07 ending: a new query landed on the round's
# final commit without its exchange-budget entry, and the full suite
# (which would have caught it) takes ~35 min under throttle — so it
# wasn't run, and the board went red on the builder's own lint. This
# subset is the set of contracts a registry change can break, and runs
# in ~5 min:
#
#   test_scale_lint      — plan lint + pinned exchange budgets
#                          (run tools/refresh_exchange_budgets.py --write
#                          first when adding a query)
#   test_driver_window   — zero-history/staleness window rules
#   test_entry_contract  — __spark_entry__ surface + window pin
#   test_bench_contract  — bench.py covers the registry
#
# Full-suite pytest still gates the round; this is the fast pre-commit
# slice, not a replacement. Since r12 the bare suite itself is tiered
# (tests/conftest.py): `python -m pytest tests/` runs the default tier
# (8 min 15 s measured on 2026-10-20, 4-vCPU host: 1071 passed / 59
# skipped); `tools/gate.sh full` runs EVERYTHING including the slow
# e2e/replay/compaction tier (70 min when last timed, 2026-08-18).
set -e
cd "$(dirname "$0")/.."
if [ "$1" = "full" ]; then
    shift
    exec env WALEX_SLOW_TESTS=1 python -m pytest tests/ -q "$@"
fi
exec python -m pytest tests/test_scale_lint.py tests/test_driver_window.py \
    tests/test_entry_contract.py tests/test_bench_contract.py -q "$@"
