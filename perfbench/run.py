#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON line at the end.

    python3 perfbench/run.py --workload mix_sf01 --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run is a fresh process with a
fresh Spark local directory, so catalog caches, autosize state and
checkpoint blocks never carry over from an earlier run. Inputs are built
by ``perfbench/datagen.py`` under ``.perfbench_work/`` on first use; the
seed only changes the order in which queries run.

Workloads (a single client in a closed loop, ``local[nproc]``):

* ``mix_sf01``: a warm session on the sf0.1 corpus running a mix whose
  latency is dominated by plan build, eager checkpoints and Python UDFs,
  each result collected with ``toPandas``;
* ``cold_jobs_sf01``: each operation is one fresh
  ``integration/spark_job.py`` process writing parquet, as one Snakemake
  rule runs it.

Set-up is timed as ``setup_s``: for ``mix_sf01`` session start, registry
import and the oracle gate, which is also the warm-up pass; for
``cold_jobs_sf01`` the median of several fresh-process registry imports.
The timed phase then runs
``round(seconds / nominal pass time)`` whole passes (at least one) over
the workload's queries, each pass in a seed-shuffled order; on a 4-core
host that takes about ``--seconds``. ``--trace 1`` reports per-layer counters
instead of the end-to-end metrics; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OP_TIMEOUT_S = 150
DRIVER_MEM = "2g"
SETUP_REPEATS = 5

MIX = (
    "q1_pricing_summary",
    "t1_tumbling_hourly",
    "l6_token_tf",
    "a17_heavy_hitters",
    "c2_zscore_screen",
    "c3_fetal_fraction",
    "d4_grouped_zscore",
    "d5_grouped_agg_udf",
    "d6_mapinpandas",
    "l67_kneser_ney_logprob",
)
COLD = ("q1_pricing_summary", "c3_fetal_fraction")
# Nominal seconds of one timed pass on a 4-core host.
PASS_S = {"mix_sf01": 5.0, "cold_jobs_sf01": 27.0}

E2E_UNITS = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
}
# Effective conf read at each action: per-layer key -> Spark conf key.
EFFECTIVE_CONF = {
    "catalog.shuffle_partitions": "spark.sql.shuffle.partitions",
    "catalog.max_partition_bytes": "spark.sql.files.maxPartitionBytes",
}
# Per-layer metrics: (name, unit, how the per-run value is formed).
# "op" = total over the timed phase divided by the operations run,
# "once" = measured once per set-up (per job process for cold jobs),
# "median" = median of the per-operation values.
LAYER_METRICS = (
    ("session.get_spark_s", "s", "once"),
    ("registry.all_specs_s", "s", "once"),
    ("catalog.load_calls", "count/op", "op"),
    ("catalog.load_s", "s/op", "op"),
    ("catalog.shuffle_partitions", "count", "median"),
    ("catalog.max_partition_bytes", "B", "median"),
    ("queries.build_s", "s/op", "op"),
    ("queries.build_jobs", "count/op", "op"),
    ("materialize.checkpoint_calls", "count/op", "op"),
    ("materialize.checkpoint_s", "s/op", "op"),
    ("spark.action_s", "s/op", "op"),
    ("spark.jobs", "count/op", "op"),
    ("spark.stages", "count/op", "op"),
    ("spark.tasks", "count/op", "op"),
    ("spark.executor_run_s", "s/op", "op"),
    ("spark.executor_cpu_s", "s/op", "op"),
    ("spark.gc_s", "s/op", "op"),
    ("spark.input_bytes", "B/op", "op"),
    ("spark.input_records", "count/op", "op"),
    ("spark.shuffle_write_bytes", "B/op", "op"),
    ("spark.shuffle_write_records", "count/op", "op"),
    ("spark.shuffle_fetch_wait_s", "s/op", "op"),
    ("spark.spill_bytes", "B/op", "op"),
    ("python.rows_out", "count/op", "op"),
    ("python.bytes_sent", "B/op", "op"),
    ("python.bytes_returned", "B/op", "op"),
    ("python.worker_run_s", "s/op", "op"),
    ("integration.write_s", "s/op", "op"),
    ("integration.bytes_written", "B/op", "op"),
    ("host.calib_jvm_s", "s", "once"),
    ("trace.read_s", "s/op", "op"),
)


def _isolate_env(local: str) -> None:
    """Pin the engine's environment for this run: no inherited engine knobs,
    ``local[nproc]``, a fixed Spark driver heap, and every temporary write (Spark
    blocks and checkpoints, JVM and Python temp files) under ``local``."""
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "NIPD_SPARK_")):
            del os.environ[key]
    tmp = os.path.join(local, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["NIPD_SPARK_DRIVER_MEM"] = DRIVER_MEM


class Run:
    """State of one benchmark run."""

    def __init__(self, args, local: str) -> None:
        from layers import Tracer
        from stats import Outcomes

        self.args = args
        self.local = local
        self.rng = random.Random(args.seed)
        self.tracer = Tracer() if args.trace else None
        self.out = Outcomes()
        self.layer: dict[str, float] = defaultdict(float)
        self.conf: dict[str, list[float]] = defaultdict(list)
        self.ops = 0
        self.notes: list[str] = []
        self.setup_s = 0.0
        self.wall_s = 0.0
        self.peak_rss = 0
        self.job_peaks: list[int] = []  # cold jobs: peak RSS of each job
        self.spark = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def passes(self, names, op) -> None:
        """The timed phase: whole passes, each in seed-shuffled order.

        The pass count is fixed by ``--seconds`` and the workload's nominal
        pass time, never by the clock, so every run of every commit times
        the same operations and only their order changes with the seed."""
        from layers import PeakRss

        n = max(1, round(self.args.seconds / PASS_S[self.args.workload]))
        with PeakRss() as rss:
            start = time.perf_counter()
            for _ in range(n):
                for name in self.rng.sample(names, len(names)):
                    self.ops += 1
                    op(name)
            self.wall_s = time.perf_counter() - start
        self.peak_rss = rss.peak

    def e2e(self) -> dict[str, float]:
        from stats import geomean_of_medians, harrell_davis, tail

        lat = self.out.samples()
        if not lat:
            raise RuntimeError("no operation succeeded")
        t = tail(lat)
        if t is None:
            self.notes.append(
                f"tail: {len(lat)} samples < 11, no percentile tail; "
                "query_tail_s is the maximum"
            )
            tail_s = max(lat)
        else:
            self.notes.append(f"tail: p{t[0]:.1f} with {t[2]} of {len(lat)} beyond")
            tail_s = t[1]
        return {
            "setup_s": self.setup_s,
            "queries_per_s": len(lat) / self.wall_s,
            "query_p50_s": harrell_davis(lat, 0.5),
            "query_tail_s": tail_s,
            "query_geomean_s": geomean_of_medians(self.out.latency),
            "peak_rss_mb": (
                statistics.median(self.job_peaks) if self.job_peaks else self.peak_rss
            )
            / 2**20,
        }

    def per_layer(self, e2e: dict[str, float]) -> dict[str, dict]:
        ops = max(self.ops, 1)
        m = {}
        for name, unit, how in LAYER_METRICS:
            if how == "op":
                v = self.layer.get(name, 0.0) / ops
            elif how == "median":
                v = statistics.median(self.conf[name]) if self.conf[name] else 0.0
            else:
                v = self.layer.get(name, 0.0)
            m[name] = {"value": v, "unit": unit}
        for name, v in e2e.items():
            m[f"traced.{name}"] = {"value": v, "unit": E2E_UNITS[name]}
        return m


# ---------------------------------------------------------------------------
# mix_sf01: a warm session
# ---------------------------------------------------------------------------


def _mix(run: Run, sf_dir: str) -> None:
    if run.tracer:
        from layers import install_wrappers

        install_wrappers(run.tracer)
    from nipd_spark import registry, session, testing

    # A warm session keeps its JVM: commit and touch the whole heap up
    # front, so peak RSS does not depend on when the collector grew it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell'
    )
    t0 = time.perf_counter()
    with run.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    run.spark = spark
    with run.span("registry.all_specs"):
        specs = registry.all_specs()
    # Oracle gate, once per run: every query against its DuckDB twin. It
    # is also the warm-up pass, so it sits inside setup_s.
    con = testing.make_duck(sf_dir)
    try:
        for name in MIX:
            run.out.gate(
                name, lambda: testing.compare_spec(spark, con, specs[name], sf_dir)
            )
    finally:
        con.close()
    run.setup_s = time.perf_counter() - t0
    if run.tracer:
        from layers import StatusReader, calibrate

        for key in ("session.get_spark_s", "registry.all_specs_s"):
            run.layer[key] = run.tracer.counters[key]
        run.tracer.counters.clear()
        reader = StatusReader(spark)

    sc = spark.sparkContext

    def op(name: str) -> None:
        bgroup, agroup = f"pb{run.ops}b", f"pb{run.ops}a"

        def body() -> None:
            sc.setJobGroup(bgroup, name)
            with run.span("queries.build"):
                df = specs[name].fn(spark, sf_dir)
            if run.tracer:
                for key, conf in EFFECTIVE_CONF.items():
                    run.conf[key].append(float(spark.conf.get(conf).rstrip("b")))
            sc.setJobGroup(agroup, name)
            with run.span("spark.action"):
                df.toPandas()

        watchdog = threading.Timer(
            OP_TIMEOUT_S, lambda: [sc.cancelJobGroup(g) for g in (bgroup, agroup)]
        )
        watchdog.start()
        try:
            run.out.attempt(name, body)
        finally:
            watchdog.cancel()
        if run.tracer:
            with run.span("trace.read"):
                counts = reader.read([bgroup, agroup])
                counts["queries.build_jobs"] = len(reader.job_ids(bgroup))
            for k, v in counts.items():
                run.layer[k] += v

    run.passes(MIX, op)
    if run.tracer:
        for k, v in run.tracer.counters.items():
            run.layer[k] += v
        run.layer["host.calib_jvm_s"] = calibrate(spark)


# ---------------------------------------------------------------------------
# cold jobs
# ---------------------------------------------------------------------------


def _run_job(cmd: list[str]) -> tuple[int, str, str]:
    """Run one job process in its own process group; on timeout kill the
    whole group (the job, its JVM and Python workers) and wait for it."""
    proc = subprocess.Popen(
        cmd,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=OP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        return -1, out, "timeout"
    _wait_group(proc.pid)
    return proc.returncode, out, err


def _wait_group(pgid: int, timeout: float = 30.0) -> None:
    """Wait until no process of group ``pgid`` is left; kill stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
        time.sleep(0.05)


def _cold(run: Run, sf_dir: str) -> None:
    from layers import PeakRss

    # Set-up is the registry import and the DuckDB views of the oracle
    # gate. A run sets up once, but a single cold import is too short to
    # time steadily, so set-up is timed as the median of SETUP_REPEATS
    # fresh processes that do the same.
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from nipd_spark import registry, testing; "
        "registry.all_specs(); testing.make_duck(sys.argv[2]).close()"
    )
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        code, _, err = _run_job([sys.executable, "-c", probe, ROOT, sf_dir])
        if code != 0:
            raise RuntimeError(f"set-up exit {code}: {err.strip()[-300:]}")
        times.append(time.perf_counter() - t0)
    run.setup_s = statistics.median(times)
    from nipd_spark import registry, testing

    specs = registry.all_specs()
    con = testing.make_duck(sf_dir)

    script = (
        os.path.join(HERE, "job_twin.py")
        if run.tracer
        else os.path.join(ROOT, "integration", "spark_job.py")
    )
    outputs: dict[str, str] = {}

    def op(name: str) -> None:
        path = os.path.join(run.local, "out", f"{name}-{run.ops}")
        cmd = [sys.executable, script, "--sf-dir", sf_dir, "--query", name, "--out", path]
        stdout = []

        def body() -> None:
            with PeakRss() as rss:
                code, out, err = _run_job(cmd)
            run.job_peaks.append(rss.peak)
            if code != 0:
                raise RuntimeError(f"exit {code}: {err.strip()[-300:]}")
            stdout.append(out)

        run.out.attempt(name, body)
        if not stdout:
            return
        outputs[name] = path
        if run.tracer:
            for k, v in json.loads(stdout[0].strip().splitlines()[-1]).items():
                if k in EFFECTIVE_CONF:
                    run.conf[k].append(v)
                else:
                    run.layer[k] += v

    run.passes(COLD, op)
    if run.tracer:
        jobs = max(run.ops, 1)
        for key in ("session.get_spark_s", "registry.all_specs_s"):
            run.layer[key] /= jobs  # once per job process

    # Oracle gate: read back what each job wrote and compare it.
    def matches(name: str) -> tuple[bool, str]:
        res = con.execute(f"SELECT * FROM read_parquet('{outputs[name]}/*.parquet')")
        got = testing.canon_rows([d[0] for d in res.description], res.fetchall())
        res = con.execute(specs[name].sql)
        want = testing.canon_rows([d[0] for d in res.description], res.fetchall())
        return got == want, "written parquet differs from the oracle"

    try:
        for name in COLD:
            if name in outputs:
                run.out.gate(name, lambda: matches(name))
    finally:
        con.close()
    if run.tracer:
        from layers import calibrate
        from nipd_spark import session

        run.spark = session.get_spark("perfbench-calibration")
        run.layer["host.calib_jvm_s"] = calibrate(run.spark)


# ---------------------------------------------------------------------------


def _stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and its Python workers, and
    wait until all of them have ended."""
    from layers import descendants
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [p for p in started if _alive(p)]
        time.sleep(0.05)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nipd_spark", "__init__.py")) or not (
        os.path.isfile(os.path.join(ROOT, "integration", "spark_job.py"))
    ):
        print(f"perfbench: no repository sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen

    sf_dir, gen_s = datagen.ensure_base(os.path.join(WORK, "data"))

    local = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    _isolate_env(local)
    run = Run(args, local)
    try:
        WORKLOADS[args.workload](run, sf_dir)
        e2e = run.e2e()
        metrics = (
            run.per_layer(e2e)
            if args.trace
            else {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        )
        if run.tracer:
            spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
            with open(spans, "w") as f:
                json.dump(run.tracer.spans, f)
    finally:
        if run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(local, ignore_errors=True)

    out = run.out
    print(
        f"workload={args.workload} seed={args.seed} data={sf_dir} "
        f"datagen_s={gen_s:.2f} setup_s={run.setup_s:.2f} timed_s={run.wall_s:.2f} "
        f"ops={run.ops} failed_share={out.failed_share:.4f}"
    )
    for note in run.notes:
        print(note)
    for name, lat in sorted(out.latency.items()):
        if not name.startswith("gate:"):
            print(f"  {name}: n={len(lat)} median_s={statistics.median(lat):.4f}")
    for name, reason in out.failed:
        print(f"FAILED {name}: {reason}")
    print(
        json.dumps(
            {
                "correct": not out.failed,
                "attempted": out.attempted,
                "failed": len(out.failed),
                "metrics": metrics,
            }
        )
    )
    return 0 if not out.failed else 1


WORKLOADS = {
    "mix_sf01": _mix,
    "cold_jobs_sf01": _cold,
}

if __name__ == "__main__":
    sys.exit(main())
