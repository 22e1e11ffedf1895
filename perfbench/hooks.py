"""Benchmark-owned hooks for the traced run, and the per-layer rollup.

Nothing here changes the engine; the hooks sit around its public calls:

- Spark's event log (enabled through ``get_spark(extra_conf=...)``),
  parsed by ``eventlog.parse`` after the session stops;
- one job group per ``workload:query:phase`` (phases: ``build`` =
  ``Query.spark``, ``exec`` = the noop-sink write, ``export`` = the
  writers, ``exec`` of ``scan_<table>`` = a noop scan of one input);
- a ``StreamingQueryListener`` that keeps every micro-batch progress;
- a counter wrapped around the py4j gateway client's ``send_command``,
  counting the main thread's calls while a plan is being built.

Jobs that run under Spark's own group (streaming micro-batches) are
placed in the phase whose time window holds their submission time.
"""

from __future__ import annotations

import bisect
import glob
import os
import statistics
import threading
import time
from datetime import datetime

import eventlog
from pyspark.sql.streaming import StreamingQueryListener


def _now_ms() -> float:
    return time.time() * 1000.0


class _Listener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000
        self.sink.append(
            {
                "ts_ms": ts,
                "run_id": str(p.runId),
                "duration": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    def __init__(self) -> None:
        self.windows: list[tuple[float, float, str, object]] = []  # start, end, group, pass
        self.pass_no: object = -1  # traced passes are numbered 0, 1, ...
        self.py4j: dict[object, int] = {}
        self.progress: list[dict] = []
        self.persisted_max = 0
        self._counting = False
        self._main = threading.get_ident()

    def attach(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*a, **kw):
            if self._counting and threading.get_ident() == self._main:
                self.py4j[self.pass_no] = self.py4j.get(self.pass_no, 0) + 1
            return send(*a, **kw)

        client.send_command = counted
        self._client, self._send = client, send
        self._listener = _Listener(self.progress)
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(self._listener)
        self._client.send_command = self._send

    def new_pass(self) -> None:
        self.pass_no += 1

    def phase(self, spark, group: str, fn):
        spark.sparkContext.setJobGroup(group, group)
        t0 = _now_ms()
        self._counting = group.endswith(":build")
        try:
            return fn()
        finally:
            self._counting = False
            self.windows.append((t0, _now_ms(), group, self.pass_no))

    def after_query(self, spark) -> None:
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
        self.persisted_max = max(self.persisted_max, n)

    def scan(self, runner, tables: list[str], reps: int = 3) -> float:
        """Median over ``reps`` of a noop scan of every input table."""
        from mcm_problem_f_data_wrangling_spark.plans.base import table

        self.pass_no = "scan"
        totals = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for t in tables:
                df = table(runner.spark, runner.sf_dir, t)
                self.phase(
                    runner.spark,
                    f"{runner.workload}:scan_{t}:exec",
                    lambda df=df: df.write.format("noop").mode("overwrite").save(),
                )
            totals.append(time.perf_counter() - t0)
        return statistics.median(totals)

    def _window(self, t_ms: float | None):
        """The phase window holding ``t_ms`` (phases never overlap)."""
        i = bisect.bisect_right(self._starts, t_ms) - 1 if t_ms is not None else -1
        if i >= 0 and t_ms <= self.windows[i][1]:
            return self.windows[i]
        return None

    def metrics(self, eventlog_dir: str, traced: list[dict], plain: list[dict]) -> dict:
        """Per-layer medians over the ``traced`` passes; ``plain`` are the
        same passes run without hooks."""
        (path,) = glob.glob(os.path.join(eventlog_dir, "*"))
        jobs, stages = eventlog.parse(path)
        self.windows.sort()
        self._starts = [w[0] for w in self.windows]
        # by time, not by group: a group recurs in every pass, and
        # streaming micro-batches run under Spark's own group
        job_win = {j["job_id"]: self._window(j["submit_ms"]) for j in jobs}
        rows = []
        for p in range(len(traced)):
            wins = [w for w in self.windows if w[3] == p]
            pj = [j for j in jobs if job_win[j["job_id"]] in wins]
            build_jobs = [j for j in pj if job_win[j["job_id"]][2].endswith(":build")]
            ids = {j["job_id"] for j in pj}
            ps = [s for s in stages if s["job_id"] in ids]
            prog = [e for e in self.progress if self._window(e["ts_ms"]) in wins]
            build_s = sum(b - a for a, b, g, _ in wins if g.endswith(":build")) / 1000
            eager_s = _union_ms([(j["submit_ms"], j["end_ms"] or j["submit_ms"]) for j in build_jobs]) / 1000
            last_state: dict[str, int] = {}
            for e in sorted(prog, key=lambda e: e["ts_ms"]):
                last_state[e["run_id"]] = e["state_rows"]
            batch_ms = [e["duration"].get("triggerExecution", 0) for e in prog]
            rows.append(
                {
                    "plans.build_s": build_s,
                    "plans.build_jobs": len(build_jobs),
                    "plans.build_eager_s": eager_s,
                    "plans.build_self_s": build_s - eager_s,
                    "plans.py4j_calls": self.py4j.get(p, 0),
                    "operators.exec_s": sum(b - a for a, b, g, _ in wins if g.endswith(":exec")) / 1000,
                    "operators.jobs": len(pj),
                    "operators.stages": len(ps),
                    "operators.tasks": sum(s["tasks"] for s in ps),
                    "operators.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in ps),
                    "operators.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ps),
                    "operators.spill_bytes": sum(s["spill_disk_bytes"] for s in ps),
                    "operators.executor_run_s": sum(s["run_ms"] for s in ps) / 1000,
                    "operators.executor_cpu_s": sum(s["cpu_ns"] for s in ps) / 1e9,
                    "operators.gc_s": sum(s["gc_ms"] for s in ps) / 1000,
                    "operators.python_s": sum(s["python_ms"] for s in ps) / 1000,
                    "operators.python_bytes": sum(s["python_bytes"] for s in ps),
                    "sources.bytes_read": sum(s["input_bytes"] for s in ps),
                    "sources.export_s": sum(b - a for a, b, g, _ in wins if g.endswith(":export")) / 1000,
                    "streaming.batches": len(prog),
                    "streaming.batch_ms.p50": statistics.median(batch_ms) if batch_ms else 0,
                    "streaming.batch_ms.max": max(batch_ms, default=0),
                    "streaming.add_batch_ms": sum(e["duration"].get("addBatch", 0) for e in prog),
                    "streaming.wal_commit_ms": sum(e["duration"].get("walCommit", 0) for e in prog),
                    "streaming.commit_offsets_ms": sum(e["duration"].get("commitOffsets", 0) for e in prog),
                    "streaming.query_planning_ms": sum(e["duration"].get("queryPlanning", 0) for e in prog),
                    "streaming.state_commit_ms": sum(e["state_commit_ms"] for e in prog),
                    "streaming.state_rows": sum(last_state.values()),
                    "box.steal_s": traced[p]["steal_s"],
                    "jvm.jit_cpu_s": traced[p]["jit_s"],
                }
            )
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out["operators.persisted_rdds_max"] = self.persisted_max
        wall = statistics.median(p["wall_s"] for p in traced)
        out["trace.overhead_frac"] = wall / statistics.median(p["wall_s"] for p in plain) - 1
        return out
