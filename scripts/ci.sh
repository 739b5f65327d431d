#!/usr/bin/env bash
# Full local gate: test suite at sf0.001, oracle sweep at the driver's
# sf0.01, and the bench contract. Mirrors what the round driver checks.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compileall (tier-1 step 1) =="
python -m compileall -q harmony_spark

echo "== perfbench unit tests =="
python -m pytest perfbench/test_perfbench.py -q

echo "== pytest (sf0.001 fixtures + unit/property/plan/streaming) =="
python -m pytest tests/ -q

echo "== fused harmony path (30k cells, the whole fit in one pass) =="
python3 perfbench/run.py --workload harmony_fused --seed 1 --seconds 1 --trace 0 \
    | tail -n 1 | python -c "
import json, sys
d = json.load(sys.stdin)
assert d['correct'] is True, d
print('harmony_fused OK:', d['attempted'], 'checks')"

echo "== distributed harmony path (66k cells, above the fuse gate) =="
python3 perfbench/run.py --workload harmony_distributed --seed 1 --seconds 1 --trace 0 \
    | tail -n 1 | python -c "
import json, sys
d = json.load(sys.stdin)
assert d['correct'] is True, d
print('harmony_distributed OK:', d['attempted'], 'checks')"

echo "== query mix (warm cached tables: each dataset built in one concurrent pass) =="
python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0 \
    | tail -n 1 | python -c "
import json, sys
d = json.load(sys.stdin)
assert d['correct'] is True, d
print('query_mix OK:', d['attempted'], 'checks')"

echo "== oracle sweep at sf0.01 (the driver's correctness SF) =="
HARMONY_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_queries.py -q

echo "== vanilla-session probe (tier-1 step 3: no session configs of ours) =="
python -c "
from pyspark.sql import SparkSession
import __spark_entry__ as E
spark = SparkSession.builder.master('local[8]').getOrCreate()
n_entry = len(E.entry(spark).collect())
n_events = len(E.queries()['q337_window_funnel'](spark, '/root/testdata/sf0.01').collect())
assert n_entry > 0 and n_events > 0, (n_entry, n_events)
print(f'vanilla session OK: entry {n_entry} rows, q337_window_funnel {n_events} rows')
spark.stop()"

echo "== bench contract (the full JSON line, then the compact tail line) =="
python bench.py 2>/dev/null | python -c "
import json, sys
full, compact = (json.loads(line) for line in sys.stdin.read().splitlines())
for d in (full, compact):
    assert {'metric','value','unit','queries','sf'} <= set(d), d.keys()
print(f'bench OK: {full[\"value\"]}s over {len(full[\"queries\"])} queries at sf={full[\"sf\"]}')"

echo "== tracked bench archives unchanged (bench.py archives only with --round) =="
if ! git diff --quiet -- 'BENCH_full_*.json'; then
    git diff --stat -- 'BENCH_full_*.json' >&2
    echo "a run rewrote a tracked BENCH_full_*.json archive" >&2
    exit 1
fi
echo "bench archives OK"
