"""The benchmark's workloads: seeded staging, the timed operation, its
correctness check and its traced breakdown.

``code_kg_scan`` is the flagship dataflow: parquet scan -> ``segment`` ->
the ``tagger`` Arrow/Python boundary and its kernels -> ``triples``, with
no loop and no write.  ``kg_canonical_rank`` ranks the canonical triples
with the ``graph`` PageRank driver loop, whose many small Spark jobs carry
the wall; no tagging runs in its timed operation.  Its traced run also
builds the canonical triples once (``tagger``, then the ``linking`` and
``components`` loops) and runs the store's ``checkpoint`` write and bloom
``upsert`` merge once: each is too slow to repeat in every timed
operation within the run budget.

Every operation is checked against ``reference``; the timed part of an
operation never includes its check.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import time
from dataclasses import dataclass

import reference as ref

N_STAGE_FILES = 16  # parquet files per staged input: fans the scan out


def write_parquet(table, out_dir: str) -> None:
    """``table`` as N_STAGE_FILES parquet files under ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    step = math.ceil(table.num_rows / N_STAGE_FILES)
    for i in range(0, table.num_rows, step):
        pq.write_table(table.slice(i, step), os.path.join(out_dir, f"part-{i:08d}.parquet"))


def stage(stage_dir: str, n_files: int, seed: int, expected_fn) -> dict:
    """Write the seeded source table as parquet under ``source/``, and
    the workload's reference (which may stage further inputs beside it),
    once per (workload, size, seed); the reference file marks completion."""
    done = os.path.join(stage_dir, "_reference.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    import pyarrow as pa

    shutil.rmtree(stage_dir, ignore_errors=True)
    files = ref.source_files(n_files, seed)
    cols = ("repo", "path", "commit", "lang", "content", "content_sha")
    write_parquet(pa.table({c: [f[c] for f in files] for c in cols}),
                  os.path.join(stage_dir, "source"))
    expected = expected_fn(files, stage_dir)
    expected.update(ref.line_stats(files))
    expected["files"] = n_files
    expected["mentions"] = sum(len(f["mentions"]) for f in files)
    with open(done + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(done + ".tmp", done)
    return expected


def timed_noop(df, cols=("subj", "pred", "obj")) -> tuple[float, list[int]]:
    """Run ``df`` into the noop sink (so Catalyst cannot prune the
    projection, as ``count()`` would) and return (wall, digest), the
    digest being ``reference.digest`` of ``cols``, observed in the same
    job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("\t", *cols))).alias("a"),
        F.sum(F.crc32(F.concat_ws("\t", *reversed(cols)))).alias("b"))
    t0 = time.perf_counter()
    observed.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    m = obs.get
    return wall, [int(m["n"]), int(m["a"] or 0), int(m["b"] or 0)]


def hygiene(spark) -> int:
    """Release what an operation left cached; returns the persistent RDD
    count found before the release."""
    import gc

    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    gc.collect()
    # a JVM collection lets Spark's ContextCleaner drop the checkpoint
    # blocks, broadcasts and shuffle files of what was just released,
    # so they do not pile up in the heap under later operations
    spark.sparkContext._jvm.System.gc()
    return left


@dataclass
class OpResult:
    wall: float
    rows: int
    ok: bool
    cached_after: int = 0


# --------------------------------------------------------------------------
# code_kg_scan
# --------------------------------------------------------------------------

def scan_expected(files, stage_dir) -> dict:
    return {"digest": ref.digest(ref.scan_triples(files))}


def check_triples(triples, expected, ctx) -> OpResult:
    """Time ``triples`` into the noop sink and compare its digest."""
    with ctx.span("op"):
        wall, got = timed_noop(triples)
    return OpResult(wall, got[0], got == expected["digest"])


def scan_op(spark, src, expected, ctx) -> OpResult:
    from ner_funtool_spark.plans.kg import build_triples

    return check_triples(build_triples(src, mode="rules"), expected, ctx)


def scan_prefixes(spark, src, expected, tracer) -> dict:
    """One round of prefix plans, each timed with the noop sink: scan,
    then +segment, then +tag, then +triples.  A layer's self time is the
    difference between adjacent prefixes.  Returns per-prefix wall, row
    count and whether the counts (and the final digest) match."""
    from ner_funtool_spark.operators.segment import segment_lines
    from ner_funtool_spark.plans.kg import build_triples, detect_mentions

    plans = [
        ("sources", src, ["repo", "path"], expected["files"]),
        ("segment", segment_lines(src), ["path", "sentence"], expected["lines"]),
        ("tagger", detect_mentions(src, mode="rules"), ["path", "text"], expected["mentions"]),
        ("triples", build_triples(src, mode="rules"), ["subj", "pred", "obj"], None),
    ]
    out = {}
    for name, df, cols, want_rows in plans:
        with tracer.span(name):
            wall, got = timed_noop(df, cols)
        ok = got == expected["digest"] if want_rows is None else got[0] == want_rows
        out[name] = (wall, got[0], ok)
    return out


# --------------------------------------------------------------------------
# kg_canonical_rank
# --------------------------------------------------------------------------

STORE_COLS = ["subj", "pred", "obj", "repo", "content_sha", "commit"]
N_PARTS, N_SALT = 4, 2  # store buckets, sized to the input


def rank_expected(files, stage_dir) -> dict:
    """The reference canonical triples, staged under ``triples/`` as the
    ranking input, and everything the traced run checks."""
    import pyarrow as pa

    canon, link_stats = ref.canonical_map(files)
    rows = list(ref.canonical_rows(files, canon))
    write_parquet(pa.table({c: [r[i] for r in rows] for i, c in enumerate(("subj", "pred", "obj"))}),
                  os.path.join(stage_dir, "triples"))
    nodes, pr = ref.pagerank({(r[0], r[2]) for r in rows})
    return {
        "triples": len(rows),
        "nodes": nodes,
        "pr": pr.tolist(),
        "canonical_digest": ref.digest(r[:3] for r in rows),
        "link": link_stats,
        "store_digest": ref.digest(r[:5] + ("c0",) for r in rows),
        "merged_digest": ref.digest(ref.merge_rows(rows)),
    }


def rank_op(spark, triples, expected, ctx) -> OpResult:
    """PageRank over the (subj, obj) graph of the canonical triples."""
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.graph import pagerank

    with ctx.span("op"):
        t0 = time.perf_counter()
        with ctx.span("graph"):
            ranks = pagerank(triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
        wall = time.perf_counter() - t0
    pr = {r[0]: r[1] for r in ranks.collect()}
    ok = (sorted(pr) == expected["nodes"]
          and max(abs(pr[n] - p) for n, p in zip(expected["nodes"], expected["pr"])) <= 1e-6)
    return OpResult(wall, expected["triples"], ok)


def read_store(path: str):
    """Rows of a written (part, salt) store, read by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        cols = ", ".join(f'"{c}"' for c in STORE_COLS)
        return con.execute(
            f"SELECT {cols} FROM read_parquet('{path}/part=*/salt=*/*.parquet', "
            "hive_partitioning = false)").fetchall()
    finally:
        con.close()


def canonical_and_refresh(spark, source, expected, ctx, work_dir) -> bool:
    """The paths that build what ``rank_op`` ranks, run once by the
    traced run: canonical triples from the source (tagging, then the
    linking and connected-components loops); those triples written to a
    fresh salted store through the checkpoint ledger; a 1-in-DELTA_EVERY-
    files delta re-emitted under a newer commit and merged by the bloom
    upsert against the store read back; the merged store written.
    Returns whether the triples and both stores match the reference."""
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.checkpoint import resumable_write
    from ner_funtool_spark.operators.triples import with_salted_part, write_triples
    from ner_funtool_spark.operators.upsert import upsert_triples
    from ner_funtool_spark.plans.kg import build_canonical_triples

    store_dir = os.path.join(work_dir, "store")
    merged_dir = os.path.join(work_dir, "merged")
    file_id = F.regexp_extract("_path", r"file(\d+)\.", 1).cast("int")
    ct = build_canonical_triples(source, domain="code", mode="rules")
    _, got = timed_noop(ct)
    rows = ct.select("subj", "pred", "obj", "repo", "content_sha",
                     F.col("provenance.path").alias("_path"))
    with ctx.span("checkpoint"):
        resumable_write(with_salted_part(
            rows.drop("_path").withColumn("commit", F.lit("c0")), N_PARTS, N_SALT),
            store_dir)
    with ctx.span("upsert"):
        existing = spark.read.parquet(store_dir).drop("part", "salt")
        incoming = (rows.filter(file_id % ref.DELTA_EVERY == 0)
                    .drop("_path").withColumn("commit", F.lit("c1")))
        write_triples(upsert_triples(existing, incoming, bloom=True),
                      merged_dir, N_PARTS, N_SALT)
    return (got == expected["canonical_digest"]
            and ref.digest(read_store(store_dir)) == expected["store_digest"]
            and ref.digest(read_store(merged_dir)) == expected["merged_digest"])


def tagger_counts(spark, src) -> dict:
    """Untimed counts of the tagger's output on ``src``, and the Arrow
    batches its input makes: each scan partition's lines cross the
    boundary in batches of ``maxRecordsPerBatch`` rows."""
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.segment import segment_lines
    from ner_funtool_spark.plans.kg import detect_mentions

    mentions = detect_mentions(src, mode="rules").persist()
    per_part = segment_lines(src).groupBy(F.spark_partition_id()).count().collect()
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    out = {"lines": sum(r["count"] for r in per_part),
           "mentions": mentions.count(),
           "rows_with_mention": mentions.select("path", "sent_id").distinct().count(),
           "batches": sum(math.ceil(r["count"] / batch) for r in per_part)}
    mentions.unpersist()
    return out


def refresh_counts(spark, src, work_dir) -> dict:
    """Untimed per-layer counts from the program's own public functions,
    over the stores ``canonical_and_refresh`` left in ``work_dir``."""
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.linking import candidate_pairs
    from ner_funtool_spark.operators.upsert import TRIPLE_KEY, bloom_prune, build_key_bloom
    from ner_funtool_spark.plans.kg import detect_mentions

    keys = list(TRIPLE_KEY)
    nodes = detect_mentions(src, mode="rules").select("text", "etype").distinct().persist()
    scored = candidate_pairs(nodes, threshold=0.0, token_pattern="[._/ ]").count()
    kept = candidate_pairs(nodes, token_pattern="[._/ ]").count()
    store_dir = os.path.join(work_dir, "store")
    existing = spark.read.parquet(store_dir).drop("part", "salt")
    merged = spark.read.parquet(os.path.join(work_dir, "merged"))
    # the re-emitted rows carry the newer commit, so they win every touched key
    inc_keys = merged.filter(F.col("commit") == "c1").select(*keys).distinct()
    bloom_df, m, k = build_key_bloom(inc_keys, keys)
    passed = bloom_prune(existing, bloom_df, keys, m, k).count()
    true = existing.join(inc_keys, keys, "left_semi").count()
    written = [os.path.join(d, f) for d, _, fs in os.walk(store_dir)
               for f in fs if f.endswith(".parquet")]
    store_rows = existing.count()
    n_bytes = sum(os.path.getsize(p) for p in written)
    out = {
        "linking.entities": nodes.count(),
        "linking.pairs_scored": scored,
        "linking.edges_kept": kept,
        "linking.edge_yield": kept / scored if scored else 0.0,
        "upsert.bloom_pass_rows": passed,
        "upsert.bloom_precision": true / passed if passed else 0.0,
        "checkpoint.bytes_written": n_bytes,
        "checkpoint.files_written": len(written),
        "checkpoint.bytes_per_row": n_bytes / store_rows if store_rows else 0.0,
        "triples.rows_out": store_rows,
        # the ranked graph: (subj, obj) of the canonical triples
        "graph.nodes": existing.select("subj").union(existing.select("obj")).distinct().count(),
    }
    nodes.unpersist()
    return out


class NoTrace:
    """Span-less context for untraced operations."""

    @staticmethod
    def span(name):
        return contextlib.nullcontext()


@dataclass
class Workload:
    name: str
    n_files: int
    expected: object
    op: object
    why: str
    # untimed operations before timing starts: the first run of each
    # plan shape compiles its code, which no later run pays again
    warmup_ops: int
    # timed operations at least, however long they take; the run's
    # figure is their median
    min_ops: int
    # the staged table the operation reads
    input: str = "source"
    # cores left to the driver: Spark runs local[<cores> - spare_cores]
    spare_cores: int = 0


WORKLOADS = {
    "code_kg_scan": Workload(
        "code_kg_scan", 12_000, scan_expected, scan_op,
        "flagship scan -> segment -> tag -> triples; the Arrow/Python boundary "
        "and the kernel carry the wall", 1, 4),
    "kg_canonical_rank": Workload(
        "kg_canonical_rank", 500, rank_expected, rank_op,
        "PageRank driver loop over canonical triples; no tagging",
        # each PageRank is tens of small jobs the driver plans one by one:
        # with a task thread on every core they queue behind the tasks, so
        # one core is left to the driver (ops ran about 30 % faster and
        # steadier on a 4-core host); the PageRanks after the cold one
        # still speed up for several more while the JVM compiles the
        # planner and scheduler paths: two warm-ups, and the median of five
        2, 5, "triples", spare_cores=1),
}
