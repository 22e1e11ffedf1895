#!/bin/sh
# Pre-snapshot gate — run before EVERY end-of-round / milestone commit.
#
# Round 3 shipped a MinHash engine rewrite in the final snapshot commit
# without re-running the mirror; six driver-green queries went red for a
# whole round (VERDICT r3 item 1).  This gate makes that impossible to
# repeat: it refuses (exit 1) unless the driver contract, the
# physical-plan audit, the full oracle-parity mirror, AND two bench
# smokes — sf0.1 and sf1 (r4 task 8 / r5 task 6: a perf cliff, and in
# particular a quadratic one invisible inside sf0.1 noise, must not
# ship blind) — are all green.
#
# Usage:  sh tools/pre_snapshot_gate.sh   (from the repo root)
set -e
cd "$(dirname "$0")/.."

echo "== gate 1/10: driver-contract smoke (vanilla session, like the driver) =="
python - <<'EOF'
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[4]").appName("gate-smoke").getOrCreate()
import __spark_entry__ as e

rows = e.entry(spark).collect()
assert rows, "entry() returned no rows"
qs, osql = e.queries(), e.oracle_sql()
assert set(osql) <= set(qs), "oracle_sql keys not a subset of queries"
print(f"entry rows={len(rows)} queries={len(qs)} oracles={len(osql)}")
spark.stop()
EOF

echo "== gate 2/10: physical-plan audit (red flags + shuffle snapshot) =="
python tools/audit_plans.py

echo "== gate 3/10: full oracle-parity mirror (sf0.001) =="
python -m pytest tests/test_oracle_parity.py -q

echo "== gate 4/10: bench smoke (one JSON line, no query > 3x its committed median) =="
python - <<'EOF'
import json, os, subprocess, sys

env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1")
out = subprocess.run(
    [sys.executable, "bench.py"], env=env, capture_output=True, text=True, check=True
).stdout.strip().splitlines()
assert len(out) == 1, f"bench printed {len(out)} lines, want exactly 1"
got = json.loads(out[0])
for key in ("metric", "value", "unit", "queries", "sf"):
    assert key in got, f"bench JSON missing {key!r}"
# compare against the last committed round's bench: a query that got
# >3x slower is a cliff (far outside the measured sf0.1 spread), and
# it must be explained BEFORE the snapshot, not discovered by the judge
import glob

prior = sorted(glob.glob("BENCH_r*.json"))
if prior:
    base = json.load(open(prior[-1])).get("queries", {})
    cliffs = {
        n: (base[n], t)
        for n, t in got["queries"].items()
        if n in base and base[n] > 0 and t > 3.0 * base[n]
    }
    assert not cliffs, f"bench cliff vs {prior[-1]}: {cliffs}"
    print(f"bench ok: wall={got['value']}s, {len(got['queries'])} queries, no cliff vs {prior[-1]}")
else:
    print(f"bench ok: wall={got['value']}s (no prior BENCH_r*.json to compare)")
EOF

echo "== gate 5/10: sf1 bench smoke (quadratic cliffs hide inside sf0.1 noise) =="
python - <<'EOF'
import json, os, subprocess, sys

# the sf1 tier is gitignored and regenerable; skip (loudly) if absent
if not os.path.isdir("benchdata/sf1"):
    print("SKIP: benchdata/sf1 missing — regenerate with tools/gen_bench_sf1.py")
    sys.exit(0)
env = dict(os.environ, SPARK_GRAFT_SF_DIR="benchdata/sf1")
out = subprocess.run(
    [sys.executable, "bench.py"], env=env, capture_output=True, text=True, check=True
).stdout.strip().splitlines()
got = json.loads(out[-1])
import glob

prior = sorted(glob.glob("BENCH_SF1_r*.json"))
if prior:
    base = json.load(open(prior[-1])).get("queries", {})
    # 2x vs the committed min-of-medians anchor: sf1 queries are
    # data-bound, so a genuine 2x move is a regression, not noise
    # (cross-run spreads in the anchor top out ~0.33) — but this is
    # ONE run vs a min-of-3 anchor, so allow one noisy-box outlier:
    # fail only when 2+ queries cliff, or one exceeds 3x
    cliffs = {
        n: (base[n], round(t, 3))
        for n, t in got["queries"].items()
        if n in base and base[n] > 0 and t > 2.0 * base[n]
    }
    hard = {n: v for n, v in cliffs.items() if v[1] > 3.0 * v[0]}
    assert len(cliffs) < 2 and not hard, f"sf1 bench cliff vs {prior[-1]}: {cliffs}"
    print(f"sf1 bench ok: wall={got['value']}s, no cliff vs {prior[-1]}"
          + (f" (single soft outlier tolerated: {cliffs})" if cliffs else ""))
else:
    print(f"sf1 bench ok: wall={got['value']}s (no prior BENCH_SF1_r*.json)")
EOF

echo "== gate 6/10: sf1 full-suite sweep (heavy-query regression anchor) =="
python - <<'EOF'
import glob, json, os, subprocess, sys

# the r5 sketch-gate regression (234 s at sf1) lived in a NON-headline
# query and was caught by a human reading sweep output; this gate
# machine-checks every registry query's sf1 wall against the committed
# sweep anchor, so the dominators (x_graph_triangles, x_sim_knn_join,
# x_embed_semdedup, x_dedup_clusters_cc) are gated, not narrated.
if not os.path.isdir("benchdata/sf1"):
    print("SKIP: benchdata/sf1 missing — regenerate with tools/gen_bench_sf1.py")
    sys.exit(0)
if os.environ.get("SPARK_GRAFT_SKIP_SF1_SWEEP"):
    print("SKIP (explicit): SPARK_GRAFT_SKIP_SF1_SWEEP set — run the full "
          "gate before the round snapshot")
    sys.exit(0)
prior = sorted(glob.glob("SWEEP_SF1_r*.json"))
out = "/tmp/sweep_sf1_gate.json"
env = dict(os.environ, SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "16g"))
cmd = [sys.executable, "tools/sweep_all.py", "benchdata/sf1", "10", "--out", out]
if prior:
    # retry-on-cliff: suspects re-run twice in the warm session and the
    # artifact records their median — warmup noise (3-10x with registry
    # order, r8 judge finding) doesn't reproduce; real regressions do
    cmd += ["--anchor", prior[-1]]
r = subprocess.run(cmd, env=env, capture_output=True, text=True)
if r.returncode:
    sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
    raise SystemExit("sf1 sweep had failures")
got = json.load(open(out))["queries"]
if not prior:
    print(f"sf1 sweep ok ({len(got)} queries; no committed SWEEP_SF1_r*.json "
          "anchor yet — commit one this round)")
    sys.exit(0)
base = json.load(open(prior[-1]))["queries"]
# two-tier rule vs the committed anchor (judge finding r8 — the flat
# 10 s floor un-gated every sub-3 s query's 3x regression):
#   tier A: 3x with a 10 s floor — the DOMINATORS (10-60 s entries)
#   tier B: 6x with a 2 s floor — mid-range anchors keep coverage
# Safe to tighten because suspects are now median-of-3 (retry-on-cliff
# in sweep_all.py --anchor): single-run warmup noise (3-10x with
# registry order; r8 measured x_multimodal_feature_extract anchor
# 2.63 s, sweep 8.1 s, warm steady-state 0.6 s) no longer reaches
# this comparison — only reproducible walls do.
cliffs = {
    n: (base[n], round(t, 1))
    for n, t in got.items()
    if n in base
    and (t > max(3.0 * base[n], 10.0) or t > max(6.0 * base[n], 2.0))
}
assert not cliffs, f"sf1 sweep cliff vs {prior[-1]}: {cliffs}"
# queries with no anchor entry (added/renamed since the anchor) are
# not gated this round — surface them so un-anchored coverage is
# visible instead of silently passing (ADVICE r7)
unanchored = sorted(n for n in got if n not in base)
if unanchored:
    print(f"sf1 sweep WARNING: {len(unanchored)} queries have no anchor "
          f"in {prior[-1]} (new/renamed this round, ungated): {unanchored}")
print(f"sf1 sweep ok: {len(got)} queries, no query >3x its {prior[-1]} anchor")
EOF

echo "== gate 7/10: commit-message wall numbers match shipped artifacts =="
# This gate runs BEFORE the snapshot commit exists, so checking HEAD
# would only ever validate the PREVIOUS commit's message (ADVICE r11).
# If the prepared message is provided (COMMIT_MSG_FILE env var), the
# message about to be used is validated against worktree artifacts;
# otherwise fall back to the documented HEAD re-check of the last
# commit — and remember to re-run `python tools/check_commit_wall.py
# HEAD` once the snapshot commit lands.
if [ -n "${COMMIT_MSG_FILE:-}" ] && [ -f "${COMMIT_MSG_FILE}" ]; then
    python tools/check_commit_wall.py --message-file "${COMMIT_MSG_FILE}"
else
    python tools/check_commit_wall.py HEAD
    echo "   (no COMMIT_MSG_FILE set: validated the PREVIOUS commit;" \
         "re-run check_commit_wall.py HEAD after the snapshot commit)"
fi

echo "== gate 8/10: committed local-FileSystem jar matches its Java source =="
python tools/build_jvm.py --check

echo "== gate 9/10: materialize.py is the package's only checkpoint/persist site =="
# every barrier goes through materialize(), whose barrier_scope frees
# it at RDD level; a direct call elsewhere would escape that lifetime
if grep -rnE 'localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(' \
    mcm_problem_f_data_wrangling_spark/ --include='*.py' \
    | grep -v '^mcm_problem_f_data_wrangling_spark/materialize.py:'; then
    echo "FAIL: checkpoint/persist call outside materialize.py (above)"
    exit 1
fi

echo "== gate 10/10: the program reaches every top-level package name and binds every test-bound parameter =="
# reachability from the program's roots (root scripts, tools/,
# perfbench/, the @query functions): a name only tests/ reach, or that
# nothing references, is code the program never runs; a defaulted
# parameter of a reached function that tests bind but no reached call
# does is a branch only tests run; the scan's two allowlists hold each
# deliberate exception with its reason
python tools/check_test_only.py

echo "GATE GREEN — safe to commit"
