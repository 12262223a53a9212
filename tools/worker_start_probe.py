"""Per-task Python worker start and init times of perfbench's set-up job.

Stages FILES seeded source files as perfbench stages them, then starts
SESSIONS sessions one after another with perfbench's own ``set_up`` on
CORES cores, each with the event log on, and asks each session's workers
where they imported pyspark from.  Prints one JSON line per session: the
``set_up`` wall, each set-up task's "time to start Python workers" and
"time to initialize Python workers" (ms, from the event log, keyed by
perfbench's ``PY_METRICS`` names), and the workers' ``pyspark.__file__``.

    python tools/worker_start_probe.py
"""

from __future__ import annotations

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
from tracing import PY_METRICS, event_log_file  # noqa: E402

SESSIONS = 3
CORES = 4
FILES = 400
WORKER_TIMES = ("py_worker_start", "py_worker_init")


def set_up_task_times(log_path: str) -> list[dict]:
    """Python worker times of each task of the jobs with no description:
    ``set_up`` names none, the probe after it does."""
    stages, tasks = set(), []
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart" and not (
                    ev.get("Properties") or {}).get("spark.job.description"):
                stages.update(ev["Stage IDs"])
            elif ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                accs = (ev.get("Task Info") or {}).get("Accumulables", [])
                times = {PY_METRICS[a["Name"]]: int(a["Update"]) for a in accs
                         if PY_METRICS.get(a.get("Name")) in WORKER_TIMES}
                if times:
                    tasks.append(times)
    return tasks


def one_session(stage_dir: str, run_dir: Path) -> dict:
    import pyarrow as pa

    conf = perfbench.session_conf(run_dir, trace=True)
    t0 = time.perf_counter()
    spark = perfbench.set_up(stage_dir, FILES, conf, CORES)
    setup_s = time.perf_counter() - t0

    def origin(batches):
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__]})

    spark.sparkContext.setJobDescription("origin")
    files = sorted({r.file for r in spark.range(CORES, numPartitions=CORES)
                    .mapInArrow(origin, "file string").collect()})
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = event_log_file(str(run_dir / "events"), app_id)
    return {"setup_s": round(setup_s, 3), "tasks": set_up_task_times(log),
            "worker_pyspark": files}


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        stage_dir = os.path.join(tmp, "stage")
        workloads.stage(stage_dir, FILES, 1, lambda files, d: {})
        for i in range(SESSIONS):
            rec = one_session(stage_dir, Path(tmp) / f"run{i}")
            print(json.dumps({"session": i, **rec}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
