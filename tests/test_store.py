"""Bucketed triples store: write once, then subj-keyed aggregation and
self-join read the catalog bucketing spec and plan NO Exchange."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ner_funtool_spark.plans.kg import build_triples
from ner_funtool_spark.sources.code_table import source_table
from ner_funtool_spark.sources.store import (
    pred_cooccurrence_from_store,
    subj_degrees_from_store,
    write_triples_bucketed,
)

TABLE = "triples_bkt_test"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "triples_bkt")
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    triples = build_triples(
        source_table(spark, 120, partitions=4), domain="code", mode="rules"
    ).drop("provenance")
    write_triples_bucketed(triples, TABLE, path, n_buckets=8)
    yield spark, triples
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    shutil.rmtree(path, ignore_errors=True)


def test_store_roundtrips_rows(store):
    spark, triples = store
    assert spark.table(TABLE).count() == triples.count()
    # multiset equality via exceptAll in both directions
    assert spark.table(TABLE).exceptAll(triples).count() == 0
    assert triples.exceptAll(spark.table(TABLE)).count() == 0


def test_degrees_from_store_has_no_exchange(store):
    spark, triples = store
    deg = subj_degrees_from_store(spark, TABLE)
    plan = _physical(deg)
    assert "Exchange" not in plan, plan[:2000]
    assert "Bucketed: true" in plan
    # values match the non-bucketed computation
    expect = {
        r["subj"]: r["n"]
        for r in triples.groupBy("subj").agg(F.count("*").alias("n")).collect()
    }
    got = {r["subj"]: r["out_deg"] for r in deg.collect()}
    assert got == expect


def test_self_join_from_store_is_colocated(store):
    spark, triples = store
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        co = pred_cooccurrence_from_store(spark, TABLE)
        plan = _physical(co)
        # the only Exchange allowed is the final tiny (pred1, pred2)
        # aggregation; the join inputs themselves must be co-located —
        # asserted on the indentation-bounded join SUBTREE, not on text
        # position (an Exchange printed after the join in another
        # branch must not flip the check)
        from ner_funtool_spark.plans.inspect import join_subtree_exchanges

        assert "SortMergeJoin" in plan, plan[:2000]
        assert join_subtree_exchanges(co) == 0, plan[:2000]
        rows = {(r["pred1"], r["pred2"]): r["n_subjects"] for r in co.collect()}
        # oracle-free cross-check against the in-memory frame
        t = triples.select("subj", "pred").distinct()
        a = t.select("subj", F.col("pred").alias("pred1"))
        b = t.select("subj", F.col("pred").alias("pred2"))
        expect = {
            (r["pred1"], r["pred2"]): r["n"]
            for r in a.join(b, "subj")
            .filter(F.col("pred1") < F.col("pred2"))
            .groupBy("pred1", "pred2")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert rows == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_two_hop_from_store_is_colocated_and_exact(store):
    """Dual SPO/OPS bucketed indexes: the 2-hop join (and the hub-cap
    degree filter) plan with ZERO Exchange in the join subtree, and
    the result equals operators/graph.two_hop on the same triples."""
    from ner_funtool_spark.operators.graph import two_hop
    from ner_funtool_spark.plans.inspect import join_subtree_exchanges
    from ner_funtool_spark.sources.store import (
        two_hop_from_store,
        write_triples_bucketed_by_obj,
    )

    spark, triples = store
    ops_table = TABLE + "_ops"
    spark.sql(f"DROP TABLE IF EXISTS {ops_table}")
    t = triples.select("subj", "pred", "obj").distinct()
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        # the SPO fixture table kept full columns; rebuild both indexes
        # key-unique (the two_hop_from_store precondition)
        spo_table = TABLE + "_spo2"
        spark.sql(f"DROP TABLE IF EXISTS {spo_table}")
        from ner_funtool_spark.sources.store import write_triples_bucketed

        write_triples_bucketed(t, spo_table, f"{tmp}/spo", n_buckets=8)
        write_triples_bucketed_by_obj(t, ops_table, f"{tmp}/ops", n_buckets=8)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got_df = two_hop_from_store(
                spark, spo_table, ops_table, max_mid_degree=3
            )
            assert join_subtree_exchanges(got_df) == 0, \
                got_df._jdf.queryExecution().executedPlan().toString()[:3000]
            got = {
                (r["a"], r["pred1"], r["pred2"], r["c"]): r["n_paths"]
                for r in got_df.collect()
            }
            want = {
                (r["a"], r["pred1"], r["pred2"], r["c"]): r["n_paths"]
                for r in two_hop(triples, max_mid_degree=3).collect()
            }
            assert got == want and len(want) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql(f"DROP TABLE IF EXISTS {spo_table}")
            spark.sql(f"DROP TABLE IF EXISTS {ops_table}")


def test_degrees_from_store_dual_index_zero_exchange(store):
    """Full degree view (out from SPO, in from OPS, co-located
    full-outer merge): the ENTIRE plan holds zero Exchange, and values
    equal the direct computation over the distinct triple set."""
    import tempfile

    from ner_funtool_spark.sources.store import (
        degrees_from_store,
        write_triples_bucketed,
        write_triples_bucketed_by_obj,
    )

    spark, triples = store
    t = triples.select("subj", "pred", "obj").distinct()
    spo_table, ops_table = TABLE + "_dspo", TABLE + "_dops"
    with tempfile.TemporaryDirectory() as tmp:
        spark.sql(f"DROP TABLE IF EXISTS {spo_table}")
        spark.sql(f"DROP TABLE IF EXISTS {ops_table}")
        write_triples_bucketed(t, spo_table, f"{tmp}/spo", n_buckets=8)
        write_triples_bucketed_by_obj(t, ops_table, f"{tmp}/ops", n_buckets=8)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            deg = degrees_from_store(spark, spo_table, ops_table)
            plan = _physical(deg)
            assert "Exchange" not in plan, plan[:2000]
            got = {
                r["node"]: (r["out_deg"], r["in_deg"], r["deg"])
                for r in deg.collect()
            }
            from pyspark.sql import functions as F  # noqa: F811

            out_d = t.groupBy(F.col("subj").alias("node")).agg(
                F.count("*").alias("o"))
            in_d = t.groupBy(F.col("obj").alias("node")).agg(
                F.count("*").alias("i"))
            want = {
                r["node"]: (r["o"] or 0, r["i"] or 0,
                            (r["o"] or 0) + (r["i"] or 0))
                for r in out_d.join(in_d, "node", "full_outer")
                .fillna(0).collect()
            }
            assert got == want and len(want) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql(f"DROP TABLE IF EXISTS {spo_table}")
            spark.sql(f"DROP TABLE IF EXISTS {ops_table}")


MSTORE = "mentions_bkt_test"


@pytest.fixture(scope="module")
def mention_store(spark, tmp_path_factory):
    from ner_funtool_spark.plans.kg import detect_mentions
    from ner_funtool_spark.sources.store import write_mentions_bucketed

    path = str(tmp_path_factory.mktemp("mstore") / "mentions_bkt")
    spark.sql(f"DROP TABLE IF EXISTS {MSTORE}")
    m = detect_mentions(
        source_table(spark, 120, partitions=4), domain="code", mode="rules"
    )
    write_mentions_bucketed(m, MSTORE, path, n_buckets=8)
    yield spark, m
    spark.sql(f"DROP TABLE IF EXISTS {MSTORE}")
    shutil.rmtree(path, ignore_errors=True)


def test_comention_from_store_is_colocated_and_exact(mention_store):
    """The doc-bucketed mention store serves the co-mention self-join
    with ZERO Exchange in the join subtree (both inputs read buckets
    hashed on the composite (repo, path) key), and the rows equal the
    plain comention_edges computation."""
    from ner_funtool_spark.operators.graph import comention_edges
    from ner_funtool_spark.plans.inspect import join_subtree_exchanges
    from ner_funtool_spark.sources.store import comention_from_store

    spark, m = mention_store
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        co = comention_from_store(spark, MSTORE)
        plan = _physical(co)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert join_subtree_exchanges(co) == 0, plan[:2000]
        got = {(r["a"], r["b"]): r["n_docs"] for r in co.collect()}
        want = {
            (r["a"], r["b"]): r["n_docs"]
            for r in comention_edges(m).collect()
        }
        assert got == want and len(want) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_comention_pmi_from_store_matches_plain(mention_store):
    from ner_funtool_spark.operators.graph import comention_pmi
    from ner_funtool_spark.sources.store import comention_pmi_from_store

    spark, m = mention_store
    got = {
        (r["a"], r["b"]): (r["n_ab"], r["n_a"], r["n_b"], r["pmi"])
        for r in comention_pmi_from_store(spark, MSTORE).collect()
    }
    want = {
        (r["a"], r["b"]): (r["n_ab"], r["n_a"], r["n_b"], r["pmi"])
        for r in comention_pmi(m, min_pair_docs=2).collect()
    }
    assert got == want
