"""Standalone Viterbi-kernel concurrency probe (VERDICT r2 item 7).

Times the rules-mode decode kernel (class emissions -> Viterbi) on one
process and on N concurrent processes pinned to the same workload, so
the per-process slowdown under 32-way memory-bus sharing is measured
directly — the hypothesized limiter of the 8->32 scaling row
(BENCH/BASELINE.md).

Usage: python tools/viterbi_probe.py [kernel] [n_procs] [reps]
  kernel: 'cube' (materialized emission cube, r2 baseline) or
          'closed' (maximal-run closed form, r6 — no DP)
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

B, S, NT = 4096, 48, 2  # flagship-like batch: V = 9
BATCHES = 8


def _work(arg):
    kernel, seed = arg
    import numpy as np

    from ner_funtool_spark.functions.crf import (
        bmes_tags_from_classes,
        bmes_transitions,
        viterbi_decode_batch,
    )
    from ner_funtool_spark.functions.model import class_emissions

    rng = np.random.RandomState(seed)
    cls = rng.randint(0, NT + 1, size=(B, S)).astype(np.int8)
    lens = rng.randint(4, S + 1, size=B)
    trans, start, end = bmes_transitions(NT)
    t0 = time.perf_counter()
    for _ in range(BATCHES):
        if kernel == "cube":
            em = class_emissions(cls, NT)
            out = viterbi_decode_batch(em, trans, lens, start, end)
        else:
            out = bmes_tags_from_classes(cls, lens)
    dt = time.perf_counter() - t0
    return dt, int(out.sum())


def main() -> int:
    kernel = sys.argv[1] if len(sys.argv) > 1 else "cube"
    if kernel not in ("cube", "closed"):
        raise SystemExit(f"unknown kernel {kernel!r}: use 'cube' or 'closed'")
    n_procs = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    # single-process reference
    solo = min(_work((kernel, 1))[0] for _ in range(reps))
    rows = BATCHES * B
    print(f"kernel={kernel} solo: {solo:.3f}s  ({rows / solo:,.0f} rows/s/proc)")
    # N-way concurrent
    best = None
    for _ in range(reps):
        with ProcessPoolExecutor(max_workers=n_procs) as ex:
            t0 = time.perf_counter()
            walls = [w for w, _ in ex.map(_work, [(kernel, i) for i in range(n_procs)])]
            total = time.perf_counter() - t0
        if best is None or total < best[0]:
            best = (total, sum(walls) / len(walls))
    total, mean_wall = best
    print(f"kernel={kernel} {n_procs}-way: wall {total:.3f}s, mean per-proc "
          f"{mean_wall:.3f}s (per-proc slowdown x{mean_wall / solo:.2f}), "
          f"aggregate {n_procs * rows / total:,.0f} rows/s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
