"""Where the flagship's time goes, in two modes.

    python tools/flagship_probe.py phases
    python tools/flagship_probe.py cpu

Both stage the seeded perfbench source of ``code_kg_scan`` (12,000
files, seed 1) and run on ``local[<cores>]`` with perfbench's session
settings.  Each prints one JSON line.

``phases`` times the flagship's Arrow stage in this process, on one
scan partition (files / cores rows, one input batch, as a scan task
hands them to its Python worker).  The stage function is the one
``build_triples`` passes to ``mapInArrow``; its helpers are wrapped in
timers: split, encode, tokenize, classify, decode, extract, expand, the
mention-text gather and ``emit``, the triple emitter's work (file URIs,
the triple rows of each slice of mentions and the CONTAINS rows).
``gather`` is the rest of the stage (the kernel's mention columns and
the output slicing), and ``ipc_write`` serializes the output batches as
the worker sends them to the JVM, into a ``pa.MockOutputStream`` (which
counts bytes and keeps none), so it times serialization, not the growth
of a buffer.  Each phase is the minimum over REPS
runs, in ms.  A phase whose helper the checked-out code lacks is left
out.

``cpu`` sets a session up with perfbench's ``set_up``, runs WARMUP
untimed and OPS timed ``build_triples`` operations into the noop
sink (perfbench's ``timed_noop``), and splits the CPU time that the
probe's own JVM and Python workers spent in the timed ones by thread
group.  It reads only ``/proc/<jvm>/task/*/stat`` (polled every 50 ms,
so threads that end mid-run count) and the ``stat`` of the JVM's
descendant processes (the Python daemon and its workers).  Figures are
core-seconds per operation beside the wall per operation; ``other`` is
the rest of the JVM (scheduler, listeners, block manager).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run as perfbench  # noqa: E402
import workloads  # noqa: E402

CORES = len(os.sched_getaffinity(0))
FILES = workloads.WORKLOADS["code_kg_scan"].n_files
SEED = 1
REPS = 5  # phases: runs, the minimum taken
WARMUP, OPS = 3, 10  # cpu: untimed, then timed operations
# (phase, module, attribute): the stage helpers the phases time
TIMED = [
    ("split", "ner_funtool_spark.operators.tagger", "split_lines"),
    ("encode", "pyarrow.compute", "dictionary_encode"),
    ("tokenize", "ner_funtool_spark.functions.fast_tokenize", "padded_spans"),
    ("tokenize", "ner_funtool_spark.operators.tagger", "_tokenize_unique"),
    ("classify", "ner_funtool_spark.operators.tagger", "_classes_bytes"),
    ("decode", "ner_funtool_spark.operators.tagger", "bmes_tags_from_classes"),
    ("extract", "ner_funtool_spark.operators.tagger", "extract_mentions_arrays"),
    ("expand", "ner_funtool_spark.operators.tagger", "_expand"),
    ("text_gather", "ner_funtool_spark.operators.tagger", "_gather_strings"),
    ("emit", "ner_funtool_spark.operators.triples", "file_uris"),
    ("emit", "ner_funtool_spark.operators.triples", "_mention_triples"),
    ("emit", "ner_funtool_spark.operators.triples", "_contains_triples"),
]
# the source columns build_triples reads
SOURCE_COLS = ["repo", "path", "commit", "content_sha", "content"]
# JVM thread name (comm, at most 15 bytes) prefix -> group
THREAD_GROUPS = [
    ("C2 CompilerThre", "jit_c2"),
    ("C1 CompilerThre", "jit_c1"),
    ("Executor task l", "executor_tasks"),
    ("GC Thread", "gc"),
    ("G1 ", "gc"),
    ("Thread-", "py4j"),  # the gateway threads: planning, the driver's calls
]


def stage_fn(source):
    """The function ``build_triples`` hands to ``mapInArrow``, captured
    as the plan is declared (nothing runs)."""
    from ner_funtool_spark.plans.kg import build_triples

    cls = type(source)
    real, fns = cls.mapInArrow, []

    def capture(self, fn, *args, **kwargs):
        fns.append(fn)
        return real(self, fn, *args, **kwargs)

    cls.mapInArrow = capture
    try:
        build_triples(source, mode="rules")
    finally:
        cls.mapInArrow = real
    (fn,) = fns
    return fn


def phases(stage_dir: str, run_dir: Path) -> dict:
    import importlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ner_funtool_spark.session import get_spark

    spark = get_spark("flagship_probe", cores=CORES, shuffle_partitions=CORES,
                      extra=perfbench.session_conf(run_dir, trace=False))
    fn = stage_fn(spark.read.parquet(f"{stage_dir}/source"))
    spark.stop()
    table = pq.read_table(f"{stage_dir}/source", columns=SOURCE_COLS)
    n_files = table.num_rows // CORES
    (batch,) = table.slice(0, n_files).combine_chunks().to_batches()

    spent: dict[str, float] = {}
    saved = []
    for phase, mod_name, attr in TIMED:
        mod = importlib.import_module(mod_name)
        inner = getattr(mod, attr, None)
        if inner is None:  # a helper this version of the stage lacks
            continue

        def timed(*a, _inner=inner, _phase=phase, **k):
            t0 = time.perf_counter()
            try:
                return _inner(*a, **k)
            finally:
                spent[_phase] = spent.get(_phase, 0.0) + time.perf_counter() - t0

        saved.append((mod, attr, inner))
        setattr(mod, attr, timed)
    best: dict[str, float] = {}
    try:
        for _ in range(REPS):
            spent.clear()
            t0 = time.perf_counter()
            out = list(fn(iter([batch])))
            spent["total"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            sink = pa.MockOutputStream()
            with pa.ipc.new_stream(sink, out[0].schema) as w:
                for b in out:
                    w.write_batch(b)
            spent["ipc_write"] = time.perf_counter() - t0
            inside = sum(v for k, v in spent.items() if k not in ("total", "ipc_write"))
            spent["gather"] = spent["total"] - inside
            for k, v in spent.items():
                best[k] = min(best.get(k, v), v)
    finally:
        for mod, attr, inner in saved:
            setattr(mod, attr, inner)
    order = [p for p, _, _ in TIMED] + ["gather", "ipc_write", "total"]
    return {"mode": "phases", "files": n_files, "reps": REPS,
            "rows_out": sum(b.num_rows for b in out),
            "bytes_out": sink.size(),
            "ms": {k: round(best[k] * 1e3, 2) for k in dict.fromkeys(order) if k in best}}


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after it) of a /proc stat file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:  # the thread ended meanwhile
            continue
    return out


def _threads(jvm: int) -> dict[str, tuple[str, int]]:
    """tid -> (name, utime + stime clock ticks) of the JVM's threads."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            comm, f = _stat_fields(f"/proc/{jvm}/task/{tid}/stat")
        except FileNotFoundError:  # the thread ended meanwhile
            continue
        out[tid] = (comm, int(f[11]) + int(f[12]))
    return out


def _procs(jvm: int) -> dict[int, int]:
    """pid -> clock ticks of the JVM's descendant processes (the Python
    daemon and workers): utime + stime + what their reaped children
    spent."""
    out, todo = {}, _children(jvm)
    while todo:
        pid = todo.pop()
        try:
            _, f = _stat_fields(f"/proc/{pid}/stat")
            todo += _children(pid)
        except FileNotFoundError:
            continue
        out[pid] = sum(int(x) for x in f[11:15])
    return out


class ThreadSampler:
    """Polls the JVM's threads while it runs, so that a thread that ends
    before the last look (the JVM starts and stops JIT compiler threads
    on demand) still counts, with the ticks it was last seen with."""

    def __init__(self, jvm: int, interval: float = 0.05):
        import threading

        self.jvm, self.interval = jvm, interval
        self.first = _threads(jvm)
        self.last = dict(self.first)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self):
        while not self._stop.wait(self.interval):
            self.last.update(_threads(self.jvm))

    def stop(self) -> dict[str, int]:
        """Ticks per thread group since the sampler started."""
        self._stop.set()
        self._thread.join()
        self.last.update(_threads(self.jvm))
        groups: dict[str, int] = {}
        for tid, (comm, t) in self.last.items():
            g = _group(comm)
            groups[g] = groups.get(g, 0) + t - self.first.get(tid, (comm, 0))[1]
        return groups


def _group(comm: str) -> str:
    for prefix, name in THREAD_GROUPS:
        if comm.startswith(prefix):
            return name
    return "other"


def cpu(stage_dir: str, run_dir: Path) -> dict:
    from pyspark import SparkContext

    from ner_funtool_spark.plans.kg import build_triples

    spark = perfbench.set_up(stage_dir, FILES, perfbench.session_conf(run_dir, False),
                             CORES)
    jvm = SparkContext._gateway.proc.pid
    src = spark.read.parquet(f"{stage_dir}/source")
    for _ in range(WARMUP):
        workloads.timed_noop(build_triples(src, mode="rules"))
    jvm_before, py_before = _stat_fields(f"/proc/{jvm}/stat")[1], _procs(jvm)
    sampler = ThreadSampler(jvm)
    walls = [workloads.timed_noop(build_triples(src, mode="rules"))[0] for _ in range(OPS)]
    groups = sampler.stop()
    jvm_after, py_after = _stat_fields(f"/proc/{jvm}/stat")[1], _procs(jvm)
    spark.stop()
    tick = os.sysconf("SC_CLK_TCK") * OPS
    jvm_total = sum(int(a) - int(b) for a, b in zip(jvm_after[11:13], jvm_before[11:13]))
    # threads that started and ended between two looks
    groups["unsampled"] = jvm_total - sum(groups.values())
    python = sum(t - py_before.get(pid, 0) for pid, t in py_after.items())
    return {"mode": "cpu", "files": FILES, "cores": CORES, "ops": OPS,
            "wall_s": round(sum(walls) / OPS, 3),
            "jvm_core_s": {k: round(v / tick, 3) for k, v in sorted(groups.items())},
            "jvm_total_core_s": round(jvm_total / tick, 3),
            "python_workers_core_s": round(python / tick, 3)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=("phases", "cpu"))
    mode = p.parse_args(argv).mode
    os.environ.setdefault("SPARK_DRIVER_MEM", perfbench.DRIVER_MEM)
    with tempfile.TemporaryDirectory() as tmp:
        stage_dir = os.path.join(tmp, "stage")
        workloads.stage(stage_dir, FILES, SEED, lambda files, d: {})
        run_dir = Path(tmp) / "run"
        rec = phases(stage_dir, run_dir) if mode == "phases" else cpu(stage_dir, run_dir)
        perfbench.stop_jvm()
    print(json.dumps({"seed": SEED, **rec}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
