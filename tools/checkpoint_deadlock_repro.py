"""Stress repro for the lock-order deadlock between a job that runs
``RDD.doCheckpoint`` and the DAG scheduler (Spark 4.1.2).

One side holds ``RDDCheckpointData$`` inside ``RDD.doCheckpoint`` (seen
from a ``broadcast-exchange`` thread) and waits for an RDD's lock; the
other, ``dag-scheduler-event-loop``, holds that lock in
``getCacheLocs -> checkpointRDD`` and waits for ``RDDCheckpointData$``.
It needs a chain of lazy ``localCheckpoint``s that a broadcast reads.

The tool runs ``--calls`` calls of one graph loop in a child process
over a seeded graph shaped like ``kg_canonical_rank``'s canonical
triples (files mentioning Zipf-distributed entities, repos containing
files).  A watchdog reads the child's progress.  When one call makes no
progress for ``STALL_S`` seconds, or the run reaches ``--budget``
seconds with a call still open, it runs ``jcmd <pid> Thread.print`` on
the child's JVM, reports whether the dump holds ``Found one Java-level
deadlock`` (and that section of the dump) and kills the JVM and the
child.  The hit rate is low, so a clean run is no proof; the report
says what was run and what was seen, as one JSON line:

    python tools/checkpoint_deadlock_repro.py --loop pagerank --calls 40 --budget 600
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOOPS = ("pagerank", "lpa", "kcore")
SEED = 6  # the perfbench seed the deadlock was first seen on
CORES = 3  # kg_canonical_rank's local[nproc-1] on a 4-core host
STALL_S = 120.0  # seconds without a finished call that count as a hang
DEADLOCK = "Found one Java-level deadlock"


def graph_rows(seed: int, files: int = 500, repos: int = 10,
               entities: int = 3000, per_file: int = 20):
    """(src, dst) edges: repo -> file, file -> entity (Zipf-skewed)."""
    import random

    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(entities)]
    names = [f"e{i:04d}" for i in range(entities)]
    rows = []
    for f in range(files):
        path = f"r{f % repos}/f{f:04d}"
        rows.append((f"r{f % repos}", path))
        rows += [(path, e) for e in rng.choices(names, weights, k=per_file)]
    return rows


def child(loop: str, calls: int) -> None:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators import graph as G
    from ner_funtool_spark.session import get_spark

    spark = get_spark("checkpoint_deadlock_repro", cores=CORES,
                      shuffle_partitions=CORES)
    print("jvm", spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid(),
          flush=True)
    d = spark.createDataFrame(graph_rows(SEED), "src string, dst string")
    u = d.select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b")).distinct()
    run = {"pagerank": lambda: G.pagerank(d),
           "lpa": lambda: G.label_propagation(u),
           "kcore": lambda: G.kcore(u, k=2)}[loop]
    for i in range(calls):
        t0 = time.perf_counter()
        n = run().count()
        print("call", i, n, round(time.perf_counter() - t0, 3), flush=True)
    spark.stop()


def deadlock_section(dump: str) -> str | None:
    """The JVM's own deadlock report at the end of a thread dump: the
    threads in the cycle, the locks each holds and waits for, and their
    stacks."""
    at = dump.find(DEADLOCK)
    return None if at < 0 else dump[at:].strip()


def watch(args) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    cmd = [sys.executable, os.path.abspath(__file__), "--child", args.loop,
           str(args.calls)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True, env=env)
    lines: queue.Queue = queue.Queue()
    threading.Thread(target=lambda: [lines.put(x) for x in proc.stdout],
                     daemon=True).start()
    t0 = time.monotonic()
    last, pid, walls = t0, None, []
    report = {"loop": args.loop, "calls": args.calls, "seed": SEED,
              "cores": CORES, "stall_s": STALL_S,
              "budget_s": args.budget, "spark_root": ROOT}
    outcome = None
    while outcome is None:
        now = time.monotonic()
        try:
            line = lines.get(timeout=1.0).split()
        except queue.Empty:
            if proc.poll() is not None:
                outcome = "finished" if proc.returncode == 0 else "failed"
            elif pid is not None and now - last > STALL_S:
                outcome = "stalled"
            elif now - t0 > args.budget:
                outcome = "budget"
            continue
        if line[:1] == ["jvm"]:
            pid, last = int(line[1]), time.monotonic()
        elif line[:1] == ["call"]:
            walls.append(float(line[3]))
            last = time.monotonic()
    report.update(outcome=outcome, calls_done=len(walls),
                  wall_s=round(time.monotonic() - t0, 1),
                  call_walls_s=walls, deadlock=False, deadlock_dump=None)
    if pid is not None and proc.poll() is None:
        # stalled, or out of budget mid-call: the dump says which threads
        # wait on what, so a hang shorter than STALL_S is not missed
        dump = subprocess.run(["jcmd", str(pid), "Thread.print"],
                              capture_output=True, text=True).stdout
        section = deadlock_section(dump)
        report.update(deadlock=section is not None, deadlock_dump=section)
        # a deadlocked JVM can hang in its shutdown hooks: end it first
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    return report


def main() -> int:
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2], int(sys.argv[3]))
        return 0
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--loop", choices=LOOPS, required=True)
    p.add_argument("--calls", type=int, required=True)
    p.add_argument("--budget", type=float, required=True,
                   help="seconds for the whole run")
    args = p.parse_args()
    report = watch(args)
    print(json.dumps(report))
    return 2 if report["deadlock"] else 0


if __name__ == "__main__":
    sys.exit(main())
