#!/usr/bin/env bash
# Round-close battery — run from the repo root on an otherwise-idle host
# (trust bench/probe numbers only when start loadavg < ~1.5):
#
#   bash scripts/round_close.sh
#
# 1. full pytest suite            (~12-15 min)
# 2. full driver_sim sweep, default parallelism   (~5 min)
# 3. full driver_sim sweep, SPARK_GRAFT_CPUS=5    (~5-8 min)
#    -> hashes must match step 2 (partitioning independence)
# 4. scale probe -> SCALE.md      (~8 min; exit 1 on unexplained superlinear)
# 5. bench.py layer records + one-line JSON  (~5 min; compare each row
#    to its bench_pins.json pin, taken on the same host; the load guard
#    below stays)
#
# Any non-zero exit stops the battery.
set -euo pipefail
cd "$(dirname "$0")/.."

TESTDATA="${SPARK_GRAFT_TESTDATA:-/root/testdata}"
echo "== loadavg: $(cat /proc/loadavg)"

# Load guard (round-8 verdict item 5): bench/probe numbers are only
# trustworthy when the host is idle. Wait up to 10 min for the 1-min
# loadavg to drop below 1.5 before the timed steps; proceed with a loud
# warning if it never does (bench.py also tags the artifact with
# load_ok, so a loaded run can't become the official record silently).
wait_for_idle() {
  for _ in $(seq 1 60); do
    load1="$(cut -d' ' -f1 /proc/loadavg)"
    ok="$(python3 -c "print(1 if ${load1} < 1.5 else 0)")"
    if [ "$ok" = "1" ]; then return 0; fi
    echo "== load guard: loadavg ${load1} >= 1.5, waiting 10s..."
    sleep 10
  done
  echo "== WARNING: host still loaded after 10 min; timed numbers suspect"
}
echo "== 1/5 pytest (FULL suite incl. slow tier)"
SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -x -q
echo "== 2/5 driver_sim (default parallelism)"
python scripts/driver_sim.py "$TESTDATA/sf0.01"
echo "== 3/5 driver_sim (SPARK_GRAFT_CPUS=5)"
SPARK_GRAFT_CPUS=5 python scripts/driver_sim.py "$TESTDATA/sf0.01"
echo "== 4/5 scale probe"
wait_for_idle
python scripts/scale_probe.py
echo "== 5/5 bench"
wait_for_idle
python bench.py
echo "== round-close battery green"
