"""KG-construction benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload code_kg_scan --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The program under test
(``ner_funtool_spark``) is measured from outside, through its public
functions, on ``local[<cores>]`` (less the workload's spare cores, left
to the driver) with the driver heap taken from
``SPARK_DRIVER_MEM`` (default 1g here).  Inputs are staged to parquet
from the seed before anything is timed, cached per (workload, size, seed)
under ``.perfbench/``; one run's scratch space is removed when it ends.

A run sets up a SparkSession three times (each set-up ends with a first
job on the staged input), runs the workload's warm-up operations, then
repeats the workload's operation until ``--seconds`` have passed and at
least its minimum count has run.  Every operation's output is checked
against a reference the program does not compute.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is the traced
run: it sets up once with the Spark event log on, runs the workload
untraced and then with per-layer spans, and prints the per-layer metrics
and the tracing overhead; its spans are written to ``.perfbench/traces/``.
The last line of standard output is the JSON result; the line before it
records host context (a fixed numpy calibration kernel, the load
average, set-up samples, operation walls and phase times).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
N_SETUPS = 3
MIN_PREFIX_ROUNDS = 3
KEEP_STAGED = 32  # staged inputs kept in the checkout: every seed of a baseline
SETUP_SAMPLE_FILES = 64
# a heap the workloads fill: the JVM's share of peak RSS then tracks the
# cap, not how far the collector happened to grow the heap in this run
DRIVER_MEM = "1g"

END_TO_END = {"triples_per_s": "triples/s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "sources.scan_s": "s", "sources.input_bytes": "B", "sources.scan_tasks": "count",
    "segment.self_s": "s", "segment.rows_out": "rows", "segment.unique_row_share": "ratio",
    "tagger.self_s": "s", "tagger.py_bytes_in": "B", "tagger.py_bytes_out": "B",
    "tagger.py_worker_start_s": "s", "tagger.py_worker_init_s": "s", "tagger.py_run_s": "s",
    "tagger.jvm_blocked_s": "s", "tagger.batches": "count", "tagger.mentions_out": "rows",
    "tagger.rows_with_mention_share": "ratio",
    "kernel.tokenize_ms": "ms", "kernel.decode_ms": "ms", "kernel.extract_ms": "ms",
    "kernel.rows_per_s": "rows/s",
    "triples.self_s": "s", "triples.rows_out": "rows",
    "linking.s": "s", "linking.jobs": "count", "linking.entities": "count",
    "linking.pairs_scored": "count", "linking.edges_kept": "count",
    "linking.edge_yield": "ratio", "linking.blocks_refined": "count",
    "components.cc_s": "s", "components.jobs": "count", "components.shuffle_bytes": "B",
    "graph.pagerank_s": "s", "graph.jobs": "count", "graph.shuffle_bytes": "B",
    "graph.nodes": "count",
    "checkpoint.write_s": "s", "checkpoint.bytes_written": "B",
    "checkpoint.files_written": "count", "checkpoint.bytes_per_row": "B/row",
    "upsert.merge_s": "s", "upsert.bloom_build_s": "s", "upsert.bloom_pass_rows": "rows",
    "upsert.bloom_precision": "ratio", "upsert.shuffle_bytes": "B",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.cached_rdds_after": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--files", type=int, default=None,
                   help="input size override (files); for quick checks only")
    return p.parse_args(argv)


class RssSampler:
    """Peak resident memory of this process tree (Python driver, JVM,
    Python workers), sampled by ``rss.py`` in a child process."""

    def __enter__(self):
        self.peak = 0
        self._proc = subprocess.Popen(
            [sys.executable, str(HERE / "rss.py"), str(os.getpid())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc):
        out, _ = self._proc.communicate("", timeout=60)  # closing stdin stops it
        self.peak = int(out or 0)


def host_context() -> dict:
    """``bench.py``'s fixed calibration kernel (min of 5) and the load
    average: host speed beside every sample, not a metric."""
    import numpy as np

    a = np.random.RandomState(0).rand(1024, 1024)
    cal = []
    for _ in range(5):
        t0 = time.time()
        for _ in range(8):
            a = a @ a % 1.0 + 0.5
        cal.append(time.time() - t0)
    return {"host_calibration_sec": min(cal), "loadavg": list(os.getloadavg()),
            "cores": len(os.sched_getaffinity(0))}


def stop_jvm() -> None:
    """End the JVM that PySpark launched (it exits when its stdin closes)
    and wait for it, so that no process of the run outlives the run."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def prune_staged(stage_root: Path, keep: Path) -> None:
    dirs = sorted((p for p in stage_root.iterdir() if p != keep),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for p in dirs[KEEP_STAGED - 1:]:
        shutil.rmtree(p, ignore_errors=True)


def session_conf(run_dir: Path, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if trace:
        os.makedirs(run_dir / "events", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(stage_dir: str, n_files: int, conf: dict, cores: int):
    """SparkSession creation through the end of the first job on the
    staged input: a thin sample (about SETUP_SAMPLE_FILES files) spanning
    every scan partition, so every core starts and initializes its
    Python worker."""
    from ner_funtool_spark.plans.kg import build_triples
    from ner_funtool_spark.session import get_spark

    # one shuffle partition per core, as bench.py runs its session
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra=conf)
    fraction = min(1.0, SETUP_SAMPLE_FILES / n_files)
    sample = spark.read.parquet(f"{stage_dir}/source").sample(fraction, seed=0)
    build_triples(sample, mode="rules").write.format("noop").mode("overwrite").save()
    return spark


class Runner:
    """Runs and checks operations, counting attempts and failures."""

    def __init__(self, spark, wl, src, expected, run_dir: Path):
        self.spark, self.wl, self.src, self.expected = spark, wl, src, expected
        self.run_dir = run_dir
        self.attempted = self.failed = 0
        self.n = 0
        self.walls: list[float] = []
        self.phases: dict[str, float] = {}

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def op(self, ctx):
        from workloads import OpResult, hygiene

        self.n += 1
        t0 = time.perf_counter()
        try:
            r = self.wl.op(self.spark, self.src, self.expected, ctx)
        except Exception:  # a failed operation is counted, and the run goes on
            traceback.print_exc()
            r = OpResult(time.perf_counter() - t0, 0, False)
        r.cached_after = hygiene(self.spark)
        self.record(r.ok)
        if not r.ok:
            print(f"perfbench: operation {self.n} failed its check", file=sys.stderr)
        return r

    def loop(self, ctx, seconds: float, min_ops: int = 0):
        """Operations until ``seconds`` have passed, and at least
        ``min_ops`` (by default the workload's)."""
        out = []
        deadline = time.perf_counter() + seconds
        min_ops = min_ops or self.wl.min_ops
        while len(out) < min_ops or time.perf_counter() < deadline:
            out.append(self.op(ctx))
        return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def throughput(ops) -> float:
    good = [r for r in ops if r.ok] or ops
    return med([r.rows for r in good]) / med([r.wall for r in good])


def trace_metrics(spark, wl, runner, stage_dir, seconds, run_id):
    """The traced run: untraced operations, then traced ones; returns the
    per-layer metrics, the tracer and the per-job-description totals
    read from the event log."""
    import tracing as tr
    import workloads
    from workloads import NoTrace, refresh_counts, scan_prefixes, tagger_counts

    sc = spark.sparkContext
    expected = runner.expected
    source = spark.read.parquet(f"{stage_dir}/source")
    tracer = tr.Tracer(spark, run_id)
    sc.setLocalProperty("spark.job.description", "untraced")
    # one operation each side is enough for the per-layer split
    plain = runner.loop(NoTrace, seconds / 2, min_ops=1)
    sc.setLocalProperty("spark.job.description", None)
    m = {k: 0.0 for k in PER_LAYER}
    if wl.name == "code_kg_scan":
        rounds = []
        deadline = time.perf_counter() + seconds / 2
        while len(rounds) < MIN_PREFIX_ROUNDS or time.perf_counter() < deadline:
            r = scan_prefixes(spark, source, expected, tracer)
            for _, _, ok in r.values():
                runner.record(ok)
            rounds.append(r)
        n_traced = n_tag = len(rounds)
        wall = {k: med([r[k][0] for r in rounds]) for k in rounds[0]}
        rows = {k: rounds[0][k][1] for k in rounds[0]}
        counts = tagger_counts(spark, source)
        m.update({
            "sources.scan_s": wall["sources"],
            "segment.self_s": wall["segment"] - wall["sources"],
            "tagger.self_s": wall["tagger"] - wall["segment"],
            "tagger.mentions_out": rows["tagger"],
            "triples.self_s": wall["triples"] - wall["tagger"],
            "triples.rows_out": rows["triples"],
        })
        traced_wall = wall["triples"]
    else:
        traced = runner.loop(tracer, seconds / 2, min_ops=1)
        n_traced, n_tag = len(traced), 1
        # what the ranking input is built by, once: too slow to repeat in
        # every timed operation (see workloads.canonical_and_refresh)
        store_dir = str(runner.run_dir / "store")
        with tr.instrument(tracer):
            try:
                ok = workloads.canonical_and_refresh(spark, source, expected, tracer, store_dir)
            except Exception:  # counted as a failed operation, like any other
                traceback.print_exc()
                ok = False
        runner.record(ok)
        counts = tagger_counts(spark, source)
        m.update(refresh_counts(spark, source, store_dir))
        m.update({
            "tagger.self_s": med(tracer.walls("tagger")),
            "tagger.mentions_out": counts["mentions"],
            "linking.s": med(tracer.self_times("linking")),
            "linking.blocks_refined": expected["link"]["blocks_refined"],
            "components.cc_s": med(tracer.walls("components")),
            "graph.pagerank_s": med(tracer.walls("graph")),
            "checkpoint.write_s": med(tracer.walls("checkpoint")),
            "upsert.merge_s": med(tracer.walls("upsert")),
            "upsert.bloom_build_s": med(tracer.walls("upsert.bloom")),
        })
        traced_wall = med([r.wall for r in traced])
    m["segment.rows_out"] = counts["lines"]
    m["segment.unique_row_share"] = expected["unique_row_share"]
    m["tagger.rows_with_mention_share"] = counts["rows_with_mention"] / expected["lines"]
    m["tagger.batches"] = counts["batches"]
    m["trace.overhead_s"] = traced_wall - med([r.wall for r in plain])
    m["spark.cached_rdds_after"] = med([r.cached_after for r in plain])
    m.update(tr.kernel_timings(f"{stage_dir}/source"))

    app_id = sc.applicationId
    log_dir = str(runner.run_dir / "events")
    spark.stop()
    ev = tr.parse_event_log(tr.event_log_file(log_dir, app_id))

    def per(desc, key, n):
        return ev.get(desc, {}).get(key, 0.0) / n

    m.update({
        "sources.input_bytes": per("sources", "scan_bytes", n_traced),
        "sources.scan_tasks": per("sources", "tasks", n_traced),
        "tagger.py_bytes_in": per("tagger", "py_bytes_in", n_tag),
        "tagger.py_bytes_out": per("tagger", "py_bytes_out", n_tag),
        "tagger.py_worker_start_s": per("tagger", "py_worker_start", n_tag),
        "tagger.py_worker_init_s": per("tagger", "py_worker_init", n_tag),
        "tagger.py_run_s": per("tagger", "py_run", n_tag),
        "tagger.jvm_blocked_s": per("tagger", "run_s", n_tag) - per("tagger", "cpu_s", n_tag),
    })
    if wl.name != "code_kg_scan":
        m.update({
            "linking.jobs": per("linking", "jobs", 1),
            "components.jobs": per("components", "jobs", 1),
            "components.shuffle_bytes": per("components", "shuffle_write_bytes", 1),
            "graph.jobs": per("graph", "jobs", n_traced),
            "graph.shuffle_bytes": per("graph", "shuffle_write_bytes", n_traced),
            "upsert.shuffle_bytes": per("upsert", "shuffle_write_bytes", 1)
            + per("upsert.bloom", "shuffle_write_bytes", 1),
        })
    n_plain = len(plain)
    m.update({
        "spark.jobs": per("untraced", "jobs", n_plain),
        "spark.tasks": per("untraced", "tasks", n_plain),
        "spark.executor_run_s": per("untraced", "run_s", n_plain),
        "spark.executor_cpu_s": per("untraced", "cpu_s", n_plain),
        "spark.gc_s": per("untraced", "gc_s", n_plain),
        "spark.shuffle_write_bytes": per("untraced", "shuffle_write_bytes", n_plain),
        "spark.spill_bytes": per("untraced", "spill_bytes", n_plain),
    })
    return m, tracer, ev


def measure(args, wl, stage_dir: Path, expected: dict, run_dir: Path, run_id: str):
    import workloads

    cores = max(1, len(os.sched_getaffinity(0)) - wl.spare_cores)
    conf = session_conf(run_dir, bool(args.trace))
    spark, setups = None, []
    # the traced run reports no set-up time, so it sets up once
    for _ in range(1 if args.trace else N_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = set_up(str(stage_dir), expected["files"], conf, cores)
        setups.append(time.perf_counter() - t0)
    src = spark.read.parquet(str(stage_dir / wl.input))
    runner = Runner(spark, wl, src, expected, run_dir)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "warmup")
    t0 = time.perf_counter()
    # traced and untraced operations are compared, so both must be warm
    for _ in range(max(wl.warmup_ops, args.trace)):
        runner.op(workloads.NoTrace)
    runner.phases["warmup"] = time.perf_counter() - t0
    sc.setLocalProperty("spark.job.description", None)
    if args.trace:
        metrics, tracer, ev = trace_metrics(spark, wl, runner, str(stage_dir), args.seconds, run_id)
        os.makedirs(WORK / "traces", exist_ok=True)
        tracer.write(str(WORK / "traces" / f"{run_id}.json"), event_log=ev)
        units = PER_LAYER
    else:
        ops = runner.loop(workloads.NoTrace, args.seconds)
        spark.stop()
        metrics = {"triples_per_s": throughput(ops), "setup_s": med(setups)}
        units = END_TO_END
        runner.walls = [r.wall for r in ops]
    return runner, metrics, units, setups


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import ner_funtool_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable here ({e})",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    n_files = args.files or wl.n_files
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # every JVM Spark launches keeps its temp files in the checkout and
    # writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    t_start = time.perf_counter()
    try:
        host = host_context()
        t_stage = time.perf_counter()
        stage_dir = WORK / "stage" / f"{wl.name}-{n_files}-{args.seed}"
        expected = workloads.stage(str(stage_dir), n_files, args.seed, wl.expected)
        prune_staged(stage_dir.parent, stage_dir)
        t_measure = time.perf_counter()
        with RssSampler() as rss:
            runner, metrics, units, setups = measure(
                args, wl, stage_dir, expected, run_dir, run_id)
        runner.phases.update(calibrate=t_stage - t_start, stage=t_measure - t_stage,
                             measure=time.perf_counter() - t_measure)
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak / 2**20
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    host.update({"loadavg_end": list(os.getloadavg()), "setup_samples_s": setups,
                 "op_walls_s": runner.walls, "phases_s": runner.phases,
                 "files": n_files, "seed": args.seed, "workload": wl.name})
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
