"""Delta-versioned snapshot store (r4 verdict item 1): per-batch I/O
scales with the DELTA, readers fold base + deltas through the manifest,
chains auto-compact, retention keeps pinned readers valid."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ner_funtool_spark.streaming.snapshot import (
    compact_snapshot,
    latest_committed_version,
    read_snapshot,
    store_bytes,
    write_delta,
    write_snapshot,
)

ADD = {"kind": "additive", "keys": ["node"], "sums": ["deg"]}


def _counts(spark, store, **kw):
    return {r["node"]: r["deg"] for r in read_snapshot(spark, store, **kw).collect()}


def test_delta_bytes_scale_with_delta_not_store(spark, tmp_path):
    """THE scale claim: a 1 % batch against a large base writes ~1 % of
    the base's bytes, not a full store rewrite (the r4 'weak' item —
    write amplification O(delta), not O(store))."""
    store = str(tmp_path / "big")
    base = spark.range(0, 200_000).select(
        F.concat(F.lit("node_"), F.col("id")).alias("node"),
        (F.col("id") % 97 + 1).cast("bigint").alias("deg"),
    )
    info0 = write_delta(base, store, 0, merge=ADD)
    assert info0["mode"] == "full_init"
    delta = spark.range(0, 2_000).select(
        F.concat(F.lit("node_"), F.col("id") * 100).alias("node"),
        F.lit(5).cast("bigint").alias("deg"),
    )
    info1 = write_delta(delta, store, 1, merge=ADD)
    assert info1["mode"] == "delta"
    b0, b1 = store_bytes(spark, store, 0), store_bytes(spark, store, 1)
    assert b1 < b0 / 10, f"delta wrote {b1}B vs base {b0}B — not O(delta)"
    # and the folded read applies the additive merge exactly
    got = _counts(spark, store)
    assert got["node_0"] == 1 + 5          # 0 % 97 + 1, boosted
    assert got["node_100"] == 100 % 97 + 1 + 5
    assert got["node_1"] == 1 % 97 + 1      # untouched
    assert len(got) == 200_000              # delta keys all pre-existing


def test_delta_upsert_resolution_equals_iterated_merge(spark, tmp_path):
    """The manifest 'upsert' fold (latest_per_key over base ∪ deltas)
    equals applying upsert_triples batch-by-batch — associativity of
    the max-struct resolution, pinned on data with overlapping keys."""
    from ner_funtool_spark.operators.upsert import upsert_triples

    cols = "subj string, pred string, obj string, content_sha string, commit string"
    b0 = spark.createDataFrame(
        [("r1", "DEFINES", "f1", "sha_a", "e00000"),
         ("r1", "DEFINES", "f2", "sha_b", "e00000"),
         ("r2", "IMPORTS", "m1", "sha_c", "e00000")], cols)
    b1 = spark.createDataFrame(
        [("r1", "DEFINES", "f1", "sha_A2", "e00001"),   # update
         ("r3", "DEFINES", "f9", "sha_d", "e00001")], cols)  # insert
    b2 = spark.createDataFrame(
        [("r1", "DEFINES", "f1", "sha_A3", "e00002"),   # update again
         ("r2", "IMPORTS", "m1", "sha_c", "e00002")], cols)  # re-emit
    merge = {"kind": "upsert", "keys": ["subj", "pred", "obj"],
             "version_col": "commit"}
    store = str(tmp_path / "ups")
    for i, b in enumerate((b0, b1, b2)):
        write_delta(b, store, i, merge=merge)
    got = {tuple(r) for r in read_snapshot(spark, store).collect()}
    want_df = upsert_triples(upsert_triples(b0, b1, key_cols=("subj", "pred", "obj")),
                             b2, key_cols=("subj", "pred", "obj"))
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    assert ("r1", "DEFINES", "f1", "sha_A3", "e00002") in got


def test_delta_chain_compacts_at_max_chain(spark, tmp_path):
    """Chain length is bounded: the max_chain-th delta triggers a fold
    into a FULL version (read amplification stays O(max_chain), the
    full rewrite amortizes over max_chain batches)."""
    store = str(tmp_path / "chain")
    modes = []
    for v in range(6):
        d = spark.createDataFrame([(f"n{v % 2}", 1)], "node string, deg bigint")
        modes.append(write_delta(d, store, v, merge=ADD, max_chain=3)["mode"])
    assert modes == ["full_init", "delta", "delta",
                     "compacted", "delta", "delta"]
    got = _counts(spark, store)
    assert got == {"n0": 3, "n1": 3}
    # the compacted version directory is a plain full snapshot
    assert os.path.exists(f"{store}/v{3:010d}/_SUCCESS")
    assert not os.path.exists(f"{store}/v{3:010d}/manifest.json")


def test_delta_replay_is_idempotent(spark, tmp_path):
    """An at-least-once replay of a delta epoch resolves the SAME
    predecessor chain and overwrites its slot — additive counts are
    never double-applied."""
    store = str(tmp_path / "replay")
    write_delta(spark.createDataFrame([("a", 1), ("b", 2)],
                                      "node string, deg bigint"),
                store, 0, merge=ADD)
    d1 = spark.createDataFrame([("a", 3), ("c", 1)], "node string, deg bigint")
    write_delta(d1, store, 1, merge=ADD)
    first = _counts(spark, store)
    write_delta(d1, store, 1, merge=ADD)  # replay epoch 1
    second = _counts(spark, store)
    assert first == second == {"a": 4, "b": 2, "c": 1}


def test_reader_pinned_at_head_survives_retention_window(spark, tmp_path):
    """Retention contract (r4 verdict item 7): a reader that resolved
    head v stays correct while the writer commits up to keep-1 further
    versions — the chain-aware prune keeps every version the retained
    heads reference (a delta head keeps its base alive).  Beyond the
    window the versions are gone by design (keep sizes the read
    horizon)."""
    store = str(tmp_path / "ret")
    write_delta(spark.createDataFrame([("a", 1)], "node string, deg bigint"),
                store, 0, merge=ADD, keep=3)
    write_delta(spark.createDataFrame([("b", 2)], "node string, deg bigint"),
                store, 1, merge=ADD, keep=3)
    pinned = read_snapshot(spark, store)          # resolves head v1 (chain {0,1})
    pinned_rows = {"a": 1, "b": 2}
    # writer advances TWO more versions with keep=3
    write_delta(spark.createDataFrame([("c", 3)], "node string, deg bigint"),
                store, 2, merge=ADD, keep=3)
    write_delta(spark.createDataFrame([("a", 10)], "node string, deg bigint"),
                store, 3, merge=ADD, keep=3)
    # the pinned plan still reads its frozen chain — snapshot isolation
    assert {r["node"]: r["deg"] for r in pinned.collect()} == pinned_rows
    # and the live head sees everything
    assert _counts(spark, store) == {"a": 11, "b": 2, "c": 3}
    # keep=3 retained the chains of v1, v2, v3 => v0 (shared base) alive
    assert os.path.exists(f"{store}/v{0:010d}")
    # chain members stay alive as long as ANY retained head references
    # them — v1 is in v3's chain, so it survives further commits...
    write_delta(spark.createDataFrame([("d", 1)], "node string, deg bigint"),
                store, 4, merge=ADD, keep=3)
    assert os.path.exists(f"{store}/v{1:010d}")
    # ...until a compaction resets the chain: after the fold, two more
    # commits age the old chain out of the keep window entirely
    compact_snapshot(spark, store)                # v5 = full fold
    write_delta(spark.createDataFrame([("e", 1)], "node string, deg bigint"),
                store, 6, merge=ADD, keep=2)
    write_delta(spark.createDataFrame([("f", 1)], "node string, deg bigint"),
                store, 7, merge=ADD, keep=2)
    for old in (0, 1, 2, 3, 4):
        assert not os.path.exists(f"{store}/v{old:010d}")
    assert _counts(spark, store) == {
        "a": 11, "b": 2, "c": 3, "d": 1, "e": 1, "f": 1
    }


def test_compact_folds_delta_chain(spark, tmp_path):
    """compact_snapshot on a delta head folds base + deltas into one
    full next version; reads are unchanged."""
    store = str(tmp_path / "cmp")
    for v in range(3):
        write_delta(spark.createDataFrame([(f"n{v}", v + 1)],
                                          "node string, deg bigint"),
                    store, v, merge=ADD)
    before = _counts(spark, store)
    stats = compact_snapshot(spark, store)
    assert stats["from_version"] == 2 and stats["to_version"] == 3
    assert latest_committed_version(spark, store) == 3
    assert os.path.exists(f"{store}/v{3:010d}/_SUCCESS")
    assert _counts(spark, store) == before == {"n0": 1, "n1": 2, "n2": 3}


MAINTAINERS = ("stream_triples_upsert", "stream_degrees_ivm",
               "stream_pagerank_ivm", "stream_comention_ivm",
               "stream_communities_ivm")
# maintainers that also write a derived (ranks / labels) snapshot store
TWO_STORE = ("stream_pagerank_ivm", "stream_communities_ivm")


@pytest.mark.parametrize("name", MAINTAINERS)
def test_checkpointed_run_rejects_foreign_store(spark, tmp_path, name):
    """Store-checkpoint pairing contract (r4 ADVICE item 1): a FRESH
    checkpointed run against a store populated by a checkpoint-less
    rebuild fails loudly instead of double-merging stale versions —
    for every maintainer on the shared loop."""
    from ner_funtool_spark.streaming import stream as stream_mod

    maintain = getattr(stream_mod, name)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "src"
    src.mkdir()
    (docs.limit(50).coalesce(1).write.parquet(str(src / "b0")))
    stores = [str(tmp_path / "store")]
    if name in TWO_STORE:
        stores.append(str(tmp_path / "derived"))
    # populate via a checkpoint-less rebuild run
    maintain(spark, f"{src}/*", *stores)
    assert latest_committed_version(spark, stores[0]) is not None
    # a FRESH checkpoint against that store must refuse
    with pytest.raises(ValueError, match="no progress"):
        maintain(spark, f"{src}/*", *stores,
                 checkpoint_location=str(tmp_path / "fresh_ckpt"))


def test_triples_commit_stamp_orders_past_five_digits(spark):
    """A checkpointed stream's epoch ids keep counting across runs, and
    the upsert fold keeps the LARGEST commit string per key: the stamp
    of epoch 100000 must outrank that of 99999 (a 5-digit stamp gave
    'e100000' < 'e99999', so the older batch's row won)."""
    from ner_funtool_spark.streaming.snapshot import _apply_merge
    from ner_funtool_spark.streaming.stream import _commit_stamp

    cols = "subj string, pred string, obj string, content_sha string"
    older = spark.createDataFrame([("r1", "DEFINES", "f1", "sha_old")], cols)
    newer = spark.createDataFrame([("r1", "DEFINES", "f1", "sha_new")], cols)
    frags = [older.withColumn("commit", _commit_stamp(99_999)),
             newer.withColumn("commit", _commit_stamp(100_000))]
    merge = {"kind": "upsert", "keys": ["subj", "pred", "obj"],
             "version_col": "commit"}
    for order in (frags, frags[::-1]):
        got = [tuple(r) for r in _apply_merge(order, merge).collect()]
        assert got == [("r1", "DEFINES", "f1", "sha_new", "e0000100000")]


def test_write_paths_have_no_driver_materialization():
    """Extend the r3 hot-path pin to the delta write path: no
    toPandas/collect/createDataFrame anywhere in the store writers."""
    import inspect

    from ner_funtool_spark.streaming import snapshot as snap_mod

    for fn in (snap_mod.write_delta, snap_mod.write_snapshot,
               snap_mod.read_snapshot, snap_mod._apply_merge,
               snap_mod.compact_snapshot):
        src = inspect.getsource(fn)
        for banned in ("toPandas", ".collect(", "createDataFrame"):
            assert banned not in src, f"{fn.__name__} contains {banned}"


def test_uncommitted_delta_version_is_invisible(spark, tmp_path):
    """A crashed delta write (delta parquet present, manifest missing —
    or manifest present without delta/_SUCCESS) never commits; readers
    fall back to the predecessor."""
    store = str(tmp_path / "crash")
    write_delta(spark.createDataFrame([("a", 1)], "node string, deg bigint"),
                store, 0, merge=ADD)
    # simulate: delta written, crash before manifest
    d = spark.createDataFrame([("a", 100)], "node string, deg bigint")
    d.write.mode("overwrite").parquet(f"{store}/v{1:010d}/delta")
    assert latest_committed_version(spark, store) == 0
    assert _counts(spark, store) == {"a": 1}
    # simulate: manifest present but delta job never committed
    os.makedirs(f"{store}/v{2:010d}", exist_ok=True)
    with open(f"{store}/v{2:010d}/manifest.json", "w") as fh:
        fh.write('{"base": 0, "deltas": [2], "merge": {"kind": "additive", '
                 '"keys": ["node"], "sums": ["deg"]}}')
    assert latest_committed_version(spark, store) == 0
    assert _counts(spark, store) == {"a": 1}


def test_delta_chain_accepts_tuple_merge_spec(spark, tmp_path):
    """A spec with tuples reads back from the manifest as lists: the
    chain check compares both sides in JSON form, so the same spec is
    accepted on every delta, while a different spec is still refused."""
    store = str(tmp_path / "tup")
    merge = {"kind": "additive", "keys": ("node",), "sums": ("deg",)}
    modes = [write_delta(spark.createDataFrame([("a", v)], "node string, deg bigint"),
                         store, v, merge=merge)["mode"] for v in range(3)]
    assert modes == ["full_init", "delta", "delta"]
    assert _counts(spark, store) == {"a": 0 + 1 + 2}
    with pytest.raises(ValueError, match="merge spec"):
        write_delta(spark.createDataFrame([("a", 1)], "node string, deg bigint"),
                    store, 3, merge={"kind": "distinct"})
