"""Snapshot the physical-plan shape of the most expensive driver
queries to BENCH/PLANS.json (VERDICT r2 item 3).

The committed snapshot is the expectation tests/test_plans.py compares
against: regenerate with  `python tools/plan_snapshot.py`  ONLY when a
plan change is intentional, and review the diff — a broadcast join
degrading to sort-merge, an extra Python stage, or a lost pushed filter
shows up as a changed count here.

Usage: python tools/plan_snapshot.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the 10+ most expensive driver queries by bench wall (BENCH_r*.json),
# plus wordpiece_features (the one with its own Arrow stage kind)
PLAN_QUERIES = [
    "kg_triples",
    "kg_mentions",
    "mentions_relational",
    "kg_canonical_triples",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "entity_canonicalize",
    "ann_topk",
    "triples_upsert",
    "triples_upsert_bloom",
    "sessionize",
    "embedding_link",
    "wordpiece_features",
    "training_corpus",
    "triples_history_scd2",
    "dedup_incremental",
    "kg_comention",
    "multimodal_features",
    # r3 continuation: graph-analytics tier (kg_triangles is excluded
    # like kg_pagerank: its eager-checkpointed result plan is opaque)
    "kg_two_hop",
    "kg_comention_pmi",
    "kg_skew_report",
    # r4: layout-served queries — the pruned/co-located read paths ARE
    # the regression surface (kg_two_hop_store writes its indexes at
    # construction; the snapshot pins the read plan's zero-Exchange
    # join; events_time_pruned pins PartitionFilters reaching the scan)
    "kg_two_hop_store",
    "events_time_pruned",
    "kg_entity_temporal",
    "tag_metrics_micro",
    # rotated ANN compositions: the rotation is a large codegen
    # projection — pin per_row_python = 0 and the join shapes
    "ann_topk_opq",
    "ann_topk_ivf_opq",
    "kg_degrees_store",
    # r5: doc-bucketed mention store — pins the zero-Exchange
    # co-mention join subtree the layout exists for
    "kg_comention_store",
    "kg_comention_pmi_store",
    # every top-k form of operators/similarity.py, so a change to the
    # shared rank/re-rank helpers shows up as a changed plan here
    "ann_topk_lsh",
    "ann_topk_lsh_multiprobe",
    "ann_topk_ivf",
    "ann_topk_pq",
    "ann_topk_ivf_pq",
    "neardup_cosine",
]


def snapshot(sf_dir: str) -> dict:
    import __spark_entry__ as mod
    from ner_funtool_spark.plans.inspect import plan_summary
    from ner_funtool_spark.session import get_spark

    spark = get_spark("plan_snapshot", cores=8, shuffle_partitions=8)
    qs = mod.queries()
    out = {}
    for name in PLAN_QUERIES:
        # cached subtrees from OTHER queries substitute into this plan's
        # text and make counts order-dependent — snapshot cache-free
        spark.catalog.clearCache()
        out[name] = plan_summary(qs[name](spark, sf_dir))
        print(name, out[name])
    spark.stop()
    return {"sf_dir": sf_dir, "queries": out}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "PLANS.json",
    )
    snap = snapshot(sf_dir)
    with open(out_path, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote", out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
