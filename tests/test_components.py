"""Connected components vs a brute-force union-find, plus linking tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_funtool_spark.operators.components import canonicalize, connected_components
from ner_funtool_spark.operators.linking import (
    alias_link,
    candidate_pairs,
    canonical_map,
    embedding_link_scores,
    link_entities,
)


def _uf_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


@pytest.mark.parametrize("seed", range(5))
def test_cc_matches_union_find_random_graphs(spark, seed):
    rng = np.random.RandomState(seed)
    n = 40
    nodes = [f"n{i:03d}" for i in range(n)]
    m = int(rng.randint(10, 60))
    edges = [
        (nodes[rng.randint(n)], nodes[rng.randint(n)]) for _ in range(m)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = _uf_components(nodes, edges)
    ndf = spark.createDataFrame([(x,) for x in nodes], "node string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["canonical_id"] for r in canonicalize(ndf, edf).collect()}
    assert got == want


@pytest.mark.parametrize("seed", range(4))
def test_cc_result_is_canonicalize_over_endpoints(spark, seed):
    """Without self-loops every edge endpoint is in the CC result, so
    canonicalize over the endpoint node list adds nothing: the near-dup
    cluster map calls connected_components alone."""
    rng = np.random.RandomState(100 + seed)
    n = int(rng.randint(5, 60))
    pairs = {tuple(sorted(rng.choice(n, 2, replace=False)))
             for _ in range(int(rng.randint(1, 2 * n)))}
    edf = spark.createDataFrame([(int(a), int(b)) for a, b in pairs],
                                "src long, dst long")
    ends = edf.select(F.col("src").alias("node")).union(
        edf.select(F.col("dst").alias("node")))
    got = sorted(connected_components(edf).collect())
    assert got and got == sorted(canonicalize(ends, edf).collect())


@pytest.mark.parametrize("seed", range(3))
def test_canonicalize_equals_join_and_coalesce(spark, seed):
    """Node rows ride the loop's final aggregation as (node, node): on a
    graph with isolated nodes and duplicate (node, etype) rows this
    equals the left join of the nodes onto connected_components with
    the node as the default id, and it is the loop's own checkpoint."""
    from ner_funtool_spark.operators.graph import _checkpoint_rdd

    rng = np.random.RandomState(200 + seed)
    nodes = [f"e{i:02d}" for i in range(30)]
    rows = [(x, t) for x in nodes for t in ("op", "obj")[: 1 + rng.randint(2)]]
    rows += rows[:5]  # duplicate (node, etype) rows
    edges = {tuple(sorted(rng.choice(20, 2, replace=False))) for _ in range(12)}
    ndf = spark.createDataFrame(rows, "node string, etype string")
    edf = spark.createDataFrame([(nodes[a], nodes[b]) for a, b in edges],
                                "src string, dst string")
    joined = (
        ndf.select("node").distinct()
        .join(connected_components(edf), "node", "left")
        .select("node", F.coalesce("canonical_id", "node").alias("canonical_id"))
    )
    got = canonicalize(ndf.select("node"), edf)
    assert _checkpoint_rdd(got) is not None
    assert sorted(got.collect()) == sorted(joined.collect())
    assert got.count() == len(nodes)


def test_canonical_map_leaves_only_its_result(spark):
    """The entity table cached for the call is released: a map call on
    a fresh frame leaves one new persistent RDD, its result's own
    checkpoint."""
    from ner_funtool_spark.operators.graph import _checkpoint_rdd

    mentions = spark.createDataFrame(
        [("join merge", "op", 1), ("join merge sort", "op", 2),
         ("scan", "op", 3), ("join merge", "obj", 4)],
        "text string, etype string, doc long",
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    out = canonical_map(mentions)
    rdd = _checkpoint_rdd(out)
    assert rdd is not None
    assert set(persistent().keySet()) - before == {rdd.id()}
    assert dict(out.collect()) == {"join merge": "join merge",
                                   "join merge sort": "join merge",
                                   "scan": "scan"}


def test_linking_frames_build_without_jobs(spark):
    """Building a candidate-pair frame runs no Spark job: the block cap
    is part of the plan, not a count taken to log it."""
    rows = [(f"get item{i} thing{i}", "op") for i in range(30)]
    ents = spark.createDataFrame(rows, "text string, etype string")
    sc = spark.sparkContext
    group = "linking-frame-jobs"
    sc.setJobGroup(group, group)
    try:
        candidate_pairs(ents, threshold=0.0, max_block=10)
        embedding_link_scores(ents, max_block=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_linking_plans_read_their_input_once(spark, tmp_path):
    """Every read of the entity table in a pair plan is one subtree, so
    exchange reuse scans the input (in the queries: runs the tagging
    stage) once, with no cache."""
    rows = [(f"get item{i % 7} thing{i}", "op") for i in range(30)] + [(None, "op")]
    path = str(tmp_path / "ents")
    spark.createDataFrame(rows, "text string, etype string").write.parquet(path)
    ents = spark.read.parquet(path)
    for build in (candidate_pairs, embedding_link_scores):
        df = build(ents, max_block=10)
        assert df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.split("== Initial Plan ==")[0].count("FileScan") == 1, plan


def test_cc_long_chain_converges(spark):
    # a 40-node path graph is the worst case for naive propagation;
    # the star algorithm must still converge within max_iter
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(nodes[:-1], nodes[1:]))
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(edf, max_iter=25).collect()
    assert {r["canonical_id"] for r in got} == {"n000"}
    assert len(got) == 40


def test_cc_empty_edges(spark):
    ndf = spark.createDataFrame([("a",), ("b",)], "node string")
    edf = spark.createDataFrame([], "src string, dst string")
    got = {r["node"]: r["canonical_id"] for r in canonicalize(ndf, edf).collect()}
    assert got == {"a": "a", "b": "b"}


def test_candidate_pairs_jaccard_and_blocking(spark):
    ents = spark.createDataFrame(
        [
            ("join merge", "op"),
            ("join merge sort", "op"),
            ("join", "op"),
            ("join merge", "obj"),   # same text, different type -> different block
            ("sort scan", "op"),     # different first token -> never paired
        ],
        "text string, etype string",
    )
    got = {(r["src"], r["dst"]): r["score"] for r in candidate_pairs(ents).collect()}
    # jaccard({join,merge},{join,merge,sort}) = 2/3; ({join},{join,merge}) = 1/2
    assert got == {
        ("join merge", "join merge sort"): round(2 / 3, 6),
        ("join", "join merge"): 0.5,
    }
    # jaccard 1/3 < threshold -> ("join", "join merge sort") excluded;
    # the obj-typed "join merge" is in a different block so the op/obj
    # twin pair never forms; "sort scan" has a different first token.


def test_alias_link_broadcast(spark):
    mentions = spark.createDataFrame(
        [("Join Merge", "op"), ("unknown thing", "op")], "text string, etype string"
    )
    alias = spark.createDataFrame(
        [("join merge", "ENT_1")], "alias string, entity_id string"
    )
    got = {r["text"]: r["entity_id"] for r in alias_link(mentions, alias).collect()}
    assert got == {"Join Merge": "ENT_1", "unknown thing": None}


def test_link_entities_assigns_canonical_ids(spark):
    mentions = spark.createDataFrame(
        [
            ("join merge", "op"),
            ("join merge sort", "op"),
            ("scan", "op"),
            ("join merge", "op"),  # duplicate mention
        ],
        "text string, etype string",
    )
    got = link_entities(mentions).collect()
    by_text = {}
    for r in got:
        by_text.setdefault(r["text"], set()).add(r["canonical_id"])
    # the two similar entities share one canonical id (the min text)
    assert by_text["join merge"] == {"join merge"}
    assert by_text["join merge sort"] == {"join merge"}
    assert by_text["scan"] == {"scan"}
    assert len(got) == 4  # mention rows preserved


def test_keep_one_per_cluster_policies(spark):
    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.components import keep_one_per_cluster

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (9, 99)],
        "doc_id long, n_chars long",
    )
    # cluster {1,2,3} with canonical 1; 4 clustered alone; 9 unclustered
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "node long, canonical_id long"
    )
    # default policy: min id per cluster
    kept = {r["doc_id"] for r in keep_one_per_cluster(docs, clusters).collect()}
    assert kept == {1, 4, 9}
    # keep-longest policy: n_chars desc, doc_id asc tie-break (2 beats 3)
    kept = {
        r["doc_id"]
        for r in keep_one_per_cluster(
            docs, clusters,
            order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        ).collect()
    }
    assert kept == {2, 4, 9}
