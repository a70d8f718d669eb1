#!/bin/sh
# Full-registry sf10 oracle sweep in parallel alphabetical ranges.
#
# Serial, the 171-key sweep takes ~4 h wall: single-threaded pandas /
# DuckDB compare phases leave 32 cores idle. Three concurrent
# checkers (front / llm-family / back ranges) finish in ~75 min with
# ~65 GB peak RSS (measured r7; 128 GiB host). PASS lines in each log
# are the artifact of record for a killed run — the --json file only
# appears at a worker's clean exit — and the inline merge below folds
# logs + part JSONs into one file.
#
# CHECKLIST (VERDICT r8 item 6): FREEZE THE REGISTRY before launching
# this sweep — keys declared after the key-lister below runs are
# silently absent from the artifact (the r8 sweep-launch/declare race)
# and must be folded in post hoc from a same-corpus check_oracles run.
#
# Usage: sh tools/run_sf10_sweep.sh [SF_DIR] [OUT_JSON]
set -e
SF_DIR=${1:-/root/repo/.bench/sf10}
OUT=${2:-CORRECTNESS_LOCAL_sf10.json}
export PYTHONPATH=/root/repo

# Scratch dir per invocation (ADVICE r7): fixed /tmp names clobbered
# concurrent runs. Logs are the crash artifact — print the dir.
SCRATCH=$(mktemp -d /tmp/sf10_sweep.XXXXXX)
echo "scratch: $SCRATCH"
export SWEEP_SCRATCH="$SCRATCH"

python - <<'EOF'
import os
from database_importer_spark.plans import REGISTRY
sc = os.environ["SWEEP_SCRATCH"]
ks = [k for k in sorted(REGISTRY) if "jdbc" not in k]  # Derby pair:
# connector-bound (embedded Derby, minutes-to-hours at scale) — the
# live pair is swept at sf1 instead, per the r6 verdict protocol.
# Range anchors: llm_* is the heavy middle; fall back to an even
# 3-way split if key naming ever shifts (ADVICE r7: a StopIteration
# here killed the whole sweep).
try:
    i = next(i for i, k in enumerate(ks) if k.startswith("llm_"))
    j = next(i for i, k in enumerate(ks) if k.startswith("sink_ob"))
except StopIteration:
    i, j = len(ks) // 3, 2 * len(ks) // 3
open(f"{sc}/sweep_front.txt", "w").write(" ".join(ks[:i]))
open(f"{sc}/sweep_llm.txt", "w").write(" ".join(ks[i:j]))
open(f"{sc}/sweep_back.txt", "w").write(" ".join(ks[j:]))
print(f"front {i} / llm {j-i} / back {len(ks)-j} keys")
EOF

# Collect worker PIDs and wait on each: a bare `wait` returns 0 even
# when a worker exited 1 (check_oracles exits non-zero on any FAIL) —
# ADVICE r7. Workers keep running to completion even if one fails;
# we still merge (the part JSONs carry the fail statuses) but exit 1.
PIDS=""
for part in front llm back; do
  # shellcheck disable=SC2046
  python tools/check_oracles.py "$SF_DIR" $(cat "$SCRATCH/sweep_$part.txt") \
    --json "$SCRATCH/sweep_$part.json" > "$SCRATCH/sweep_$part.log" 2>&1 &
  PIDS="$PIDS $!"
done
FAILED=0
for pid in $PIDS; do
  wait "$pid" || FAILED=1
done

python - "$SF_DIR" "$OUT" <<'EOF'
import datetime
import json
import os
import sys
sc = os.environ["SWEEP_SCRATCH"]
results = {}
for part in ("front", "llm", "back"):
    d = json.load(open(f"{sc}/sweep_{part}.json"))
    results.update(d["results"] if "results" in d else d)
st = {}
for v in results.values():
    st[v["status"]] = st.get(v["status"], 0) + 1
# Keep the merged doc shape diffable with single-process
# check_oracles artifacts (ADVICE r7): protocol + date + summary in
# the native {passed, failed, rows_only} vocabulary.
summary = {
    "passed": st.get("pass", 0),
    "failed": sum(n for s, n in st.items()
                  if s not in ("pass", "rows_only")),
    "rows_only": st.get("rows_only", 0),
}
json.dump(
    {"protocol": (
         f"tools/run_sf10_sweep.sh {sys.argv[1]} — full registry minus "
         "live-JDBC pair, 3 parallel alphabetical ranges, driver-"
         "identical compare (row count + schema + value hash)"),
     "date": datetime.date.today().isoformat(),
     "summary": summary,
     "sf_dir": sys.argv[1],
     "results": {k: results[k] for k in sorted(results)}},
    open(sys.argv[2], "w"), indent=1)
print(f"{sys.argv[2]}: {len(results)} keys {st}")
EOF

if [ "$FAILED" -ne 0 ]; then
  echo "sweep FAILED: at least one range reported a non-pass (logs in $SCRATCH)" >&2
  exit 1
fi
