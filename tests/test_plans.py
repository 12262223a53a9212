"""End-to-end plan tests: canonical triples and physical-plan shape
regressions (explain() guards)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner_funtool_spark.plans.kg import build_canonical_triples, build_triples
from ner_funtool_spark.sources.code_table import source_table


@pytest.fixture(scope="module")
def src(spark):
    df = source_table(spark, 80, partitions=4).cache()
    df.count()
    return df


def test_canonical_triples_flow(spark, src):
    t = build_canonical_triples(src, domain="code", mode="rules").cache()
    preds = {r["pred"] for r in t.select("pred").distinct().collect()}
    assert "CONTAINS" in preds and "DEFINES" in preds
    # canonicalization is conservative on this corpus (module names that
    # share >= 0.5 of their [._/]-separated tokens merge); SAME_AS rows
    # exist iff any merge happened, and then each maps to a canonical obj
    same_as = t.filter(F.col("pred") == "SAME_AS")
    for r in same_as.collect():
        assert r["subj"] != r["obj"]
    # all objects of IMPORTS are canonical ids (closed under mapping)
    imports = {r["obj"] for r in t.filter(F.col("pred") == "IMPORTS").collect()}
    mapped = {r["obj"] for r in same_as.collect()}
    assert mapped <= (imports | {r["obj"] for r in t.collect()})


def test_canonical_triples_with_alias_dict(spark, src):
    alias = spark.createDataFrame(
        [("alpha.core", "ALPHA_CORE_LIB")], "alias string, entity_id string"
    )
    t = build_canonical_triples(src, domain="code", mode="rules", alias_df=alias)
    objs = {r["obj"] for r in t.filter(F.col("pred") == "IMPORTS").collect()}
    assert "ALPHA_CORE_LIB" in objs and "alpha.core" not in objs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_pushes_filter_to_scan(spark):
    from ner_funtool_spark.operators.analytics import pricing_summary

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = _plan(pricing_summary(li))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_plan_broadcasts_dimensions(spark):
    from ner_funtool_spark.operators.analytics import revenue_by_nation

    d = "/root/testdata/sf0.001"
    plan = _plan(
        revenue_by_nation(
            spark.read.parquet(f"{d}/customer.parquet"),
            spark.read.parquet(f"{d}/orders.parquet"),
            spark.read.parquet(f"{d}/lineitem.parquet"),
            spark.read.parquet(f"{d}/nation.parquet"),
        )
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_plan_topk_uses_window_group_limit(spark):
    from ner_funtool_spark.operators.analytics import top_parts_per_supplier

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    assert "WindowGroupLimit" in _plan(top_parts_per_supplier(li))


def test_plan_kg_pipeline_prunes_scan_columns(spark):
    from ner_funtool_spark.plans.kg import documents_as_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = build_triples(documents_as_source(docs), domain="doc", mode="rules")
    plan = _plan(t.select("subj", "pred", "obj"))
    # n_chars is never used -> must not be read from parquet
    assert "n_chars" not in plan.split("ReadSchema")[1][:400]


def test_plan_simhash_no_cartesian(spark):
    """Simhash pairs must plan as an equi hash join on the pigeonhole
    bucket — never BroadcastNestedLoop/Cartesian."""
    from ner_funtool_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash_pairs(docs, 3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_minhash_single_signature_aggregate(spark):
    """The fused minhash path computes all k signature mins in ONE
    aggregation over the shingle table — no param-table crossJoin
    explode (round-2 rewrite)."""
    from ner_funtool_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, 0.1))
    assert "CartesianProduct" not in plan
    # the old plan had a 16-row params BroadcastNestedLoopJoin
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_asof_join_equi_only(spark):
    """The as-of join must stay an equi join on the bucket key (plus
    a post-filter) — no range/theta join node."""
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.asof import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rates = ev.select(
        F.date_trunc("hour", "ts").alias("rt"), F.lit(1.0).alias("rate")
    ).distinct()
    plan = _plan(asof_join(ev.select("event_id", "ts"), rates))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_pagerank_constant_depth(spark):
    """localCheckpoint per iteration keeps the final plan depth bounded
    (lineage does not grow with iteration count)."""
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    p2 = pagerank(edges, iterations=2)
    p6 = pagerank(edges, iterations=6)
    # depth measured as plan-string line count: must not scale ~3x
    d2, d6 = len(_plan(p2).splitlines()), len(_plan(p6).splitlines())
    assert d6 <= d2 + 5, (d2, d6)


def test_driver_query_plan_shapes_match_snapshot(spark):
    """The committed BENCH/PLANS.json is the expected physical-plan
    shape of the most expensive driver queries (VERDICT r2 item 3):
    join strategies, shuffle/Arrow-stage counts, pushed filters, and
    the per-row-Python count (always 0).  A regression to a worse plan
    changes a count and fails here; intentional plan changes must
    regenerate the snapshot (python tools/plan_snapshot.py) and commit
    the reviewed diff."""
    import json
    import os
    import sys

    import __spark_entry__ as mod
    from ner_funtool_spark.plans.inspect import plan_summary

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    with open(os.path.join(repo, "BENCH", "PLANS.json")) as f:
        snap = json.load(f)
    qs = mod.queries()
    mismatches = {}
    for name, want in snap["queries"].items():
        # cache-free, like tools/plan_snapshot.py: cached subtrees from
        # other queries/tests would substitute into the plan text and
        # make counts order-dependent
        spark.catalog.clearCache()
        got = plan_summary(qs[name](spark, snap["sf_dir"]))
        assert got["per_row_python"] == 0, name  # never row-at-a-time
        if got != want:
            mismatches[name] = {"want": want, "got": got}
    assert not mismatches, json.dumps(mismatches, indent=1)


def test_staging_prune_runs_once_per_process(tmp_path):
    """The per-PID staging prune sweeps a prefix on its first call only:
    later staging calls in the same process skip the glob."""
    import os
    import subprocess
    import sys

    import __spark_entry__ as mod

    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True).stdout.strip()
    prefix = str(tmp_path / "stage")
    stale = f"{prefix}_x_p{dead}"
    os.makedirs(stale)
    mod._prune_stale_staging(None, prefix)
    assert not os.path.exists(stale)
    os.makedirs(stale)
    mod._prune_stale_staging(None, prefix)
    assert os.path.exists(stale)


def test_violations_returns_planted_bad_rows(spark):
    """The invariant gates compare against an EMPTY oracle, so they
    would pass vacuously if the violation builders stopped emitting
    rows: planted bad rows must come back, tagged by their check."""
    import __spark_entry__ as mod

    df = spark.createDataFrame([(1, 5), (2, -1), (3, 11)], "id long, x long")
    got = mod._violations(
        df, [("x_nonneg", F.col("x") < 0), ("x_le_10", F.col("x") > 10)], "id"
    ).collect()
    assert sorted(tuple(r) for r in got) == [("x_le_10", 3), ("x_nonneg", 2)]
    assert mod._violations(df, [("none", F.col("x") > 99)], "id").count() == 0

    k = mod.ANN_K
    topk = spark.createDataFrame(
        [(0, n, n + 1) for n in range(k)] + [(0, 99, k + 1), (1, 7, 0)],
        "query_id long, neighbor_id long, rank int",
    )
    bad = {tuple(r) for r in mod._topk_violations(topk).collect()}
    assert bad == {("rank_bounds", k + 1, k), ("rank_bounds", 0, k),
                   ("topk_size", k + 1, k)}
