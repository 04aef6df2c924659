#!/usr/bin/env bash
# The full gate chain in one command — what every round-end certification
# ran by hand. ~25 min on local[32]:
#   oracle at sf0.001/0.01/0.1, adversarial-conf oracle at sf0.01,
#   full pytest, perfbench output checks, a traced recap_backfill run,
#   entry smoke. Exits nonzero on the first failure.
set -euo pipefail
cd "$(dirname "$0")/.."

for sf in 0.001 0.01 0.1; do
  echo "=== ORACLE sf$sf ==="
  python tools/check_oracle.py "/root/testdata/sf$sf" | tail -2 | grep -q "^0 failures" \
    || { echo "ORACLE sf$sf FAILED"; exit 1; }
  echo "0 failures"
done

echo "=== ADVERSARIAL sf0.01 (AQE off, 7 partitions, no broadcast) ==="
SPARK_GRAFT_CONF='{"spark.sql.adaptive.enabled":"false","spark.sql.shuffle.partitions":"7","spark.sql.autoBroadcastJoinThreshold":"-1"}' \
  python tools/check_oracle.py /root/testdata/sf0.01 | tail -2 | grep -q "^0 failures" \
    || { echo "ADVERSARIAL FAILED"; exit 1; }
echo "0 failures"

echo "=== DIFFERENTIAL FUZZ (40 seeded cases) ==="
python tools/fuzz_differential.py /root/testdata/sf0.01 40 7 | tail -1 | grep -q "^0 mismatches" \
  || { echo "FUZZ FAILED"; exit 1; }
echo "0 mismatches"

echo "=== PYTEST ==="
python -m pytest tests/ -q | tail -2

echo "=== PERFBENCH OUTPUT CHECKS (5 s per workload) ==="
for w in ingest_ticks recap_backfill headline_queries; do
  line=$(python perfbench/run.py --workload "$w" --seconds 5 --trace 0 | tail -1) \
    || { echo "PERFBENCH $w FAILED"; exit 1; }
  python - "$w" "$line" <<'PY' || { echo "PERFBENCH $w FAILED"; exit 1; }
import json, sys
r = json.loads(sys.argv[2])
assert r["correct"] is True and r["failed"] == 0, r
print(sys.argv[1], "correct, 0 failed")
PY
done

echo "=== PERFBENCH TRACED RUN (recap_backfill, 5 s) ==="
# --trace 1 reads the per-layer spans (one snapshot_merge span per day);
# a recap path that stopped producing them fails here, not only in a report
line=$(python perfbench/run.py --workload recap_backfill --seconds 5 --trace 1 | tail -1) \
  || { echo "PERFBENCH TRACED recap_backfill FAILED"; exit 1; }
python - "$line" <<'PY' || { echo "PERFBENCH TRACED recap_backfill FAILED"; exit 1; }
import json, sys
r = json.loads(sys.argv[1])
assert r["correct"] is True and r["failed"] == 0, r
print("recap_backfill traced: correct, 0 failed")
PY

echo "=== ENTRY SMOKE ==="
python - <<'PY'
import importlib.util, sys
sys.path.insert(0, ".")
spec = importlib.util.spec_from_file_location("e", "__spark_entry__.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
from etl_weather_jabar_spark.session import get_spark
rows = m.entry(get_spark()).collect()
assert rows, "entry() returned no rows"
print(len(rows), "rows")
PY
echo "ALL GATES GREEN"
