"""End-to-end benchmark of the query engine, with an optional traced run.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload ces_pipeline --seed 1 --seconds 20 --trace 0

One run is one Python process with one SparkSession on ``local[<cores>]``:

1. set up: start the session, ship the package, register the inputs
   (the committed test tables in ``data/sf0.01``);
2. compute the DuckDB oracle results of the workload's queries;
3. the measured passes: one cold pass, the check pass, then ``WARM``
   warm passes.  The pass count is fixed, so every run compares the
   same passes however fast the host is; ``--seconds`` is accepted
   for the command-line contract but does not change it.  A pass runs
   every query of the workload once, in a seed-shuffled order:
   ``Query.spark`` (the plan build) and then a noop-sink write (the
   execution).  Wall time, process-tree CPU and host steal are read
   around every pass.  The check pass compares every query's output
   with its DuckDB oracle (``check.py``); it is not timed, and it is
   the warm-up pass the JIT still needs after the cold pass;
4. stop the session and the JVM and wait for every child process.

``--trace 1`` then repeats the ``WARM`` warm passes in a session with
benchmark-owned hooks (event log, job groups, a streaming listener, a
py4j call counter), and once more in a session without them, and
prints the per-layer metrics instead; the hooks' own cost is the
traced passes' wall time against the plain ones before and after.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The line before it holds the per-pass
record (wall, CPU, steal).  Metric names and units come from
``BENCHMARK.json`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

T_START = time.perf_counter()

import procstat  # noqa: E402  (after T_START: setup is timed from process start)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WARM = 3

# workload -> (queries, input tables)
WORKLOADS = {
    "ces_pipeline": (
        ["src01_tsv_ingest_normalize", "flagship_career_collapse", "x4_diagnostics"],
        ["lineitem", "part", "region"],
    ),
    "stream_replay": (
        ["s37_streaming_checkpoint_resume"],
        ["documents"],
    ),
}
# executed through ``sources.writers`` (CSV + Excel) instead of the noop sink
EXPORTED = "flagship_career_collapse"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_env() -> int:
    """Keep every file inside the checkout and pin the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "local"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*,
    # and JIT compiler threads that live as long as the JVM (procstat)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    import tempfile

    tempfile.tempdir = tmp
    return cores


def session_conf(trace: bool) -> dict[str, str]:
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.eventLog.enabled": str(trace).lower(),
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(tmp, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"  # one file per app
    return conf


class Runner:
    """Runs passes over one workload in one session."""

    def __init__(self, workload: str, sf_dir: str, queries: list):
        self.workload = workload
        self.sf_dir = sf_dir
        self.queries = queries
        self.tracer = None
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.export_bytes = 0

    def start(self, trace: bool, tables: list[str]) -> tuple[float, float]:
        from mcm_problem_f_data_wrangling_spark.plans.base import table
        from mcm_problem_f_data_wrangling_spark.session import get_spark, ship_package

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=session_conf(trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ship_package(self.spark)
        t2 = time.perf_counter()
        for name in tables:
            table(self.spark, self.sf_dir, name)
        return t1 - t0, t2 - t1

    def step(self, name: str, fn) -> None:
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - a failed query is a result
            self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            log(f"FAILED {name}: {exc!r}"[:400])

    def _phase(self, query: str, phase: str, fn):
        if self.tracer is None:
            return fn()
        return self.tracer.phase(self.spark, f"{self.workload}:{query}:{phase}", fn)

    def _run_query(self, q) -> None:
        df = self._phase(q.name, "build", lambda: q.spark(self.spark, self.sf_dir))
        if q.name == EXPORTED:
            self._phase(q.name, "export", lambda: self._export(df))
        else:
            self._phase(q.name, "exec", lambda: df.write.format("noop").mode("overwrite").save())
        if self.tracer is not None:
            self.tracer.after_query(self.spark)

    def _export(self, df) -> None:
        from mcm_problem_f_data_wrangling_spark.sources.writers import (
            write_csv_single,
            write_excel_sheets,
        )

        csv, xlsx = export_paths()
        write_csv_single(df, csv)
        write_excel_sheets({"series": df}, xlsx)
        self.export_bytes = os.path.getsize(csv) + os.path.getsize(xlsx)

    def one_pass(self, rng: random.Random) -> dict:
        steps = list(self.queries)
        rng.shuffle(steps)
        if self.tracer is not None:
            self.tracer.new_pass()
        (c0, j0), s0, t0 = procstat.tree_cpu_s(), procstat.steal_s(), time.perf_counter()
        for q in steps:
            self.step(q.name, lambda q=q: self._run_query(q))
        wall, (c1, j1), s1 = time.perf_counter() - t0, procstat.tree_cpu_s(), procstat.steal_s()
        return {"wall_s": wall, "cpu_s": c1 - c0, "jit_s": j1 - j0, "steal_s": s1 - s0}

    def check(self, oracle: dict) -> None:
        """Compare every query's output with the oracle."""
        from check import problems

        for q in self.queries:

            def one(q=q) -> None:
                bad = problems(q.spark(self.spark, self.sf_dir), oracle[q.name])
                if bad:
                    raise AssertionError("; ".join(bad))

            self.step(f"check:{q.name}", one)

    def stop(self) -> None:
        self.spark.stop()


def export_paths() -> tuple[str, str]:
    out = os.path.join(os.environ["TMPDIR"], "export")
    return os.path.join(out, "series.csv"), os.path.join(out, "series.xlsx")


def check_export(n_rows: int) -> None:
    """The last pass's export: header + one CSV line per row, and an xlsx
    workbook with a worksheet."""
    csv, xlsx = export_paths()
    with open(csv) as f:
        lines = sum(1 for _ in f)
    if lines != n_rows + 1:
        raise AssertionError(f"{csv} has {lines} lines, expected {n_rows} rows + header")
    with zipfile.ZipFile(xlsx) as z:
        if not any(n.startswith("xl/worksheets/") for n in z.namelist()):
            raise AssertionError(f"{xlsx} has no worksheet")


def measure(runner: Runner, rng: random.Random, oracle: dict):
    """One cold pass; the check pass, which also takes the warm-up the
    JIT still needs after the cold pass; then ``WARM`` warm passes."""
    t0 = time.perf_counter()
    cold = runner.one_pass(rng)
    log(f"cold pass {cold['wall_s']:.2f}s")
    runner.check(oracle)
    log(f"check pass {time.perf_counter() - t0 - cold['wall_s']:.2f}s")
    warm: list[dict] = []
    for _ in range(WARM):
        warm.append(runner.one_pass(rng))
        log(f"warm pass {len(warm)} {warm[-1]['wall_s']:.2f}s cpu {warm[-1]['cpu_s']:.2f}s")
    if EXPORTED in oracle:
        runner.step("check:export", lambda: check_export(len(oracle[EXPORTED][1])))
    return cold, warm


def traced_passes(runner: Runner, tables: list[str], rng: random.Random, warm: list[dict]):
    """The warm passes again in a session with the hooks on, then in a
    session without them, so the hooks' cost is measured against plain
    passes both before and after them."""
    import hooks

    tracer = hooks.Tracer()
    runner.stop()
    runner.tracer = tracer
    runner.start(True, tables)
    tracer.attach(runner.spark)
    traced = [runner.one_pass(rng) for _ in warm]
    scan_s = tracer.scan(runner, tables)
    tracer.detach(runner.spark)
    runner.stop()
    runner.tracer = None
    runner.start(False, tables)
    plain = warm + [runner.one_pass(rng) for _ in warm]
    return traced, plain, scan_s, tracer


def stop_processes() -> None:
    """Stop the JVM gateway and wait for every child process to end."""
    from pyspark import SparkContext

    kids = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not kids:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    try:
        from mcm_problem_f_data_wrangling_spark.plans import REGISTRY
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2
    cores = prepare_env()
    rng = random.Random(args.seed)
    names, tables = WORKLOADS[args.workload]
    queries = [REGISTRY[n] for n in names]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    runner = Runner(args.workload, SF_DIR, queries)
    try:
        start_s, ship_s = runner.start(False, tables)
        setup_wall_s = time.perf_counter() - T_START
        setup_cpu_s = procstat.tree_cpu_s()[0]
        log(f"setup {setup_wall_s:.2f}s, cpu {setup_cpu_s:.2f}s (start {start_s:.2f}s, ship {ship_s:.2f}s)")
        from check import oracle_rows

        oracle = oracle_rows(SF_DIR, queries)
        cold, warm = measure(runner, rng, oracle)
        if args.trace:
            traced, plain, scan_s, tracer = traced_passes(runner, tables, rng, warm)
        runner.stop()
    finally:
        stop_processes()

    def record(ps: list[dict]) -> list[dict]:
        return [{k: round(p[k], 3) for k in ("wall_s", "cpu_s", "jit_s", "steal_s")} for p in ps]

    print(
        json.dumps(
            {
                "workload": args.workload,
                "cores": cores,
                "setup_wall_s": round(setup_wall_s, 3),
                "passes": record([cold, *warm]),
                "traced_passes": record(traced) if args.trace else [],
                "failures": runner.failures[:20],
            }
        )
    )
    if not args.trace:
        wanted = spec["end_to_end"]
        metrics = {
            "setup_s": setup_cpu_s,
            "cold_cpu_s": cold["cpu_s"],
            "cpu_s": statistics.median(p["cpu_s"] - p["jit_s"] for p in warm),
        }
    else:
        wanted = spec["per_layer"]
        metrics = tracer.metrics(os.path.join(os.environ["TMPDIR"], "eventlog"), traced, plain)
        metrics.update(
            {
                "wall.setup_s": setup_wall_s,
                "wall.cold_pass_s": cold["wall_s"],
                "wall.pass_s": statistics.median(p["wall_s"] for p in warm),
                "session.start_s": start_s,
                "session.ship_s": ship_s,
                "sources.scan_s": scan_s,
                "sources.export_bytes": runner.export_bytes,
                "box.cores": cores,
            }
        )
    if set(metrics) != {m["name"] for m in wanted}:
        print(f"perfbench: metrics {sorted(metrics)} differ from BENCHMARK.json", file=sys.stderr)
        return 3
    failed = len(runner.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
