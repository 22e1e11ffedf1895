#!/usr/bin/env python
"""Physical-plan audit over every registered query.

Prints exchange/Python-stage counts per query and fails (exit 1) on
scale red flags:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — accidental
  cross joins;
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (only
  Arrow-batched ``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` /
  ``MapInPandas`` stages are acceptable, and only in the model /
  multimodal queries);
- **shuffle regressions** — each query's Exchange count is compared to
  the committed snapshot ``tools/plan_shuffles.json``; a query that
  suddenly shuffles MORE than it used to fails the audit (an extra
  Exchange that is invisible at sf0.01 is a new network stage at
  100 TB).  Refresh the snapshot deliberately with ``--snapshot``
  after reviewing why a plan changed.

CAVEAT (r12 advisor): queries whose build runs eager materialization
barriers (``localCheckpoint(eager=True)`` — the LSH verify frame, the
gram/segment tables, CC round state) UNDERCOUNT here: the exchanges
executed during the barrier's build job sit BELOW a ``LogicalRDD`` in
the final plan and are invisible to this audit.  A count DROPPING to
0-2 for such a query usually means work moved behind a checkpoint,
not that shuffles disappeared — read the operator source before
celebrating.  The committed snapshot shares this blind spot.

Usage: python tools/audit_plans.py [sf_dir] [--snapshot]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from mcm_problem_f_data_wrangling_spark.materialize import barrier_scope  # noqa: E402
from mcm_problem_f_data_wrangling_spark.plans import REGISTRY  # noqa: E402
from mcm_problem_f_data_wrangling_spark.session import get_spark  # noqa: E402

RED_FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
# queries whose semantics genuinely need a Python boundary
PYTHON_OK = {
    "x3_aic_grid_fit",
    "x3_aic_gate",  # same applyInPandas ML core, planted series
    "x3_holt_winters",
    "x5_sarimax_exog_fan",
    "x3_drift_fit_forecast",
    "x4_diagnostics",
    "x4_diagnostics_gate",  # same applyInPandas core, planted series
    "x5_monte_carlo_fan",
    "x_multimodal_decode",
    "x_multimodal_jpeg",   # baseline-JPEG decode runs in mapInPandas
    "x_multimodal_phash",  # DCT pHash runs in mapInPandas
    "x_multimodal_mp4_metadata",  # box-walk parse runs in mapInPandas
    "x_audio_spectral_fingerprint",  # FFT stage runs in mapInPandas
    "x_audio_fingerprint_match",     # FFT stage runs in mapInPandas
    "x_media_dedup_clusters",        # pHash + FFT stages in mapInPandas
    "x_audio_quality_stats",         # decode stage in mapInPandas
    "x_audio_shift_neardup",         # FFT stage in mapInPandas
    "x_video_frame_sample",          # decode stage in mapInPandas
    "x_multimodal_mjpeg_decode",     # demux + JPEG decode in mapInPandas
    "x_audio_rate_invariant_match",  # resample + FFT in mapInPandas
    "x_video_phash_neardup",         # frame pHash in mapInPandas
    "x_video_clip_containment",      # frame pHash in mapInPandas
    "x_video_audio_fingerprint",     # PCM demux + FFT in mapInPandas
    # (behind an eager localCheckpoint, so usually 0 in the audited plan)
    "x_multimodal_feature_extract",
    "x_bpe_token_stats",
    "s30_streaming_running_totals",  # applyInPandasWithState stream

    "x_multimodal_frame_pipeline",
}


SNAPSHOT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_shuffles.json")


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--snapshot"]
    snapshot_mode = "--snapshot" in sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    baseline: dict[str, int] = {}
    if not snapshot_mode and os.path.exists(SNAPSHOT_PATH):
        with open(SNAPSHOT_PATH) as f:
            baseline = json.load(f)
    spark = get_spark("plan_audit", shuffle_partitions=8)
    failures = []
    counts: dict[str, int] = {}
    for name, q in REGISTRY.items():
        with barrier_scope():
            plan = q.spark(spark, sf)._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange")
        counts[name] = n_ex
        n_py = (
            plan.count("ArrowEvalPython")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInPandas")
        )
        hits = [f for f in RED_FLAGS if f in plan]
        if n_py and name not in PYTHON_OK:
            hits.append("unexpected-python-stage")
        if name in baseline and n_ex > baseline[name]:
            hits.append(f"shuffle-regression({baseline[name]}→{n_ex})")
        elif baseline and name not in baseline:
            # a registry name absent from the snapshot would otherwise
            # be silently unguarded against shuffle regressions
            hits.append("missing-from-snapshot")
        status = "FLAG " + ",".join(hits) if hits else "ok"
        print(f"{status:6s} {name:40s} exchanges={n_ex} pythonStages={n_py}")
        if hits:
            failures.append(name)
    print(f"\n{len(REGISTRY) - len(failures)}/{len(REGISTRY)} clean")
    if snapshot_mode:
        with open(SNAPSHOT_PATH, "w") as f:
            json.dump(counts, f, indent=0, sort_keys=True)
        print(f"snapshot written: {SNAPSHOT_PATH} ({len(counts)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
