"""Traced-run support: spans, per-layer job descriptions, event-log
parsing and in-process kernel timing.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, run id), kept in memory and written out when
the run ends.  While a span is open, every Spark job it submits carries
the span name as its job description, so the event log attributes task,
stage and SQL metrics to the layer.  Layers that only build a lazy plan
are timed by prefix plans instead (see ``workloads``).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# SQL metrics of the Arrow/Python boundary, by the name Spark gives them
PY_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to start Python workers": "py_worker_start",
    "time to initialize Python workers": "py_worker_init",
    "time to run Python workers": "py_run",
}
# driver-side scan metrics, posted per SQL execution rather than per task
SCAN_METRICS = {"size of files read": "scan_bytes", "number of files read": "scan_files"}


class Tracer:
    """In-memory span recorder that also labels Spark jobs by span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.job.description", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.job.description", parent["name"] if parent else None)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, name: str) -> list[float]:
        """Span duration minus the time its direct children cover."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["id"])
            out.append(s["end"] - s["start"] - kids)
        return out

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _wrap(tracer: Tracer, name: str, fn, materialize: bool = False):
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            if materialize:
                # cache the lazy result and run it here, so the layer's
                # work is attributed to its own span and not to whichever
                # later layer first reads it
                out = out.persist()
                out.write.format("noop").mode("overwrite").save()
            return out
    return wrapped


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the public layer functions that ``build_canonical_triples`` and
    ``upsert_triples`` call, so their work shows as spans.  Program files
    are untouched; the originals are restored on exit."""
    from ner_funtool_spark.operators import linking, upsert
    from ner_funtool_spark.plans import kg

    patches = [
        (kg, "detect_mentions", "tagger", True),
        (linking, "link_entities", "linking", False),
        (linking, "canonicalize", "components", False),
        (upsert, "build_key_bloom", "upsert.bloom", False),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
    try:
        for mod, attr, name, mat in patches:
            setattr(mod, attr, _wrap(tracer, name, getattr(mod, attr), mat))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name, metric type)."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"],
                                   m.get("metricType", ""))
    for child in info.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(path: str) -> dict[str, dict]:
    """Sum task, stage and Python-boundary metrics per job description.

    Returns {description: {"jobs", "tasks", "run_s", "cpu_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes", <PY_METRICS and
    SCAN_METRICS values>}}.  Python timings are converted to seconds."""
    accs: dict[int, tuple] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo", {}), accs)
                if "description" in ev:
                    exec_desc[ev["executionId"]] = ev["description"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                a = agg[exec_desc.get(ev["executionId"], "")]
                for acc_id, value in ev["accumUpdates"]:
                    node, name, _ = accs.get(acc_id, ("", "", ""))
                    if node.startswith("Scan") and name in SCAN_METRICS:
                        a[SCAN_METRICS[name]] += value
            elif kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                agg[desc]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                a = agg[stage_desc.get(ev["Stage ID"], "")]
                tm = ev.get("Task Metrics") or {}
                a["tasks"] += 1
                a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                a["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                a["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    node, name, mtype = accs.get(acc.get("ID"), ("", "", ""))
                    key = PY_METRICS.get(name)
                    if key is None or "Arrow" not in node and "Python" not in node:
                        continue
                    v = float(acc.get("Update") or 0)
                    if mtype == "nsTiming":
                        v /= 1e9
                    elif mtype == "timing":
                        v /= 1e3
                    a[key] += v
    return {k: dict(v) for k, v in agg.items()}


def event_log_file(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def kernel_timings(stage_dir: str, batch_rows: int = 16384,
                   max_batches: int = 4, reps: int = 5) -> dict:
    """Time the tagger's rules-mode kernels in process on batches of the
    workload's own lines, the way ``tag_mentions`` runs them: tokenize
    the batch's distinct lines, then decode and extract over every row.
    Classification runs untimed, as input preparation for the decode."""
    import statistics

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ner_funtool_spark.functions.crf import bmes_tags_from_classes
    from ner_funtool_spark.functions.fast_tokenize import padded_spans
    from ner_funtool_spark.operators.tagger import (
        MAX_LEN,
        _classes_bytes,
        extract_mentions_arrays,
    )

    content = pq.read_table(stage_dir, columns=["content"]).column("content")
    lines = pc.list_flatten(pc.split_pattern(content, "\n"))
    lines = lines.filter(pc.greater(pc.utf8_length(lines), 0))
    n_batches = max(1, min(max_batches, len(lines) // batch_rows))
    tok, dec, ext, rows = [], [], [], 0
    for i in range(n_batches):
        batch = lines.slice(i * batch_rows, batch_rows).combine_chunks()
        enc = pc.dictionary_encode(batch)
        codes = enc.indices.to_numpy(zero_copy_only=False)
        for _ in range(reps):
            t0 = time.perf_counter()
            data, _offs, utb, ute, ulens, tstart, tlen = padded_spans(enc.dictionary, MAX_LEN)
            t1 = time.perf_counter()
            ucls = _classes_bytes("code", data, tstart, tlen, ulens)
            cls, tb, te, lens = ucls[codes], utb[codes], ute[codes], ulens[codes]
            t2 = time.perf_counter()
            tags = bmes_tags_from_classes(cls, lens)
            t3 = time.perf_counter()
            extract_mentions_arrays(tags, tb, te, lens)
            t4 = time.perf_counter()
            tok.append(t1 - t0)
            dec.append(t3 - t2)
            ext.append(t4 - t3)
        rows += len(batch)
    per_batch = rows / n_batches
    t_tok, t_dec, t_ext = (statistics.median(x) for x in (tok, dec, ext))
    return {
        "kernel.tokenize_ms": t_tok * 1e3,
        "kernel.decode_ms": t_dec * 1e3,
        "kernel.extract_ms": t_ext * 1e3,
        "kernel.rows_per_s": per_batch / (t_tok + t_dec + t_ext),
    }
