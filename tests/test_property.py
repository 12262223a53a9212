"""Hypothesis property tests for the pure kernels (no Spark session)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from ner_funtool_spark.functions.crf import (
    bmes_transitions,
    viterbi_brute_force,
    viterbi_decode_batch,
)
from ner_funtool_spark.functions.model import class_emissions
from ner_funtool_spark.functions.spans import pipeline_rule
from ner_funtool_spark.operators.tagger import extract_mentions_arrays

TAGNAMES = ["O"] + [f"{b}-{t}" for t in ("a", "b") for b in "BMES"]


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 10_000),
    st.integers(1, 4),  # B
    st.integers(1, 5),  # S
    st.integers(2, 4),  # V
)
def test_viterbi_equals_brute_force(seed, B, S, V):
    rng = np.random.RandomState(seed % (2**31))
    logits = rng.randn(B, S, V).astype(np.float32) * 3
    trans = rng.randn(V, V).astype(np.float32)
    lengths = rng.randint(1, S + 1, size=B)
    got = viterbi_decode_batch(logits, trans, lengths)
    for b in range(B):
        want = viterbi_brute_force(
            logits[b].astype(np.float32), trans, int(lengths[b])
        )
        np.testing.assert_array_equal(got[b], want)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.integers(0, 2), min_size=1, max_size=14))
def test_constrained_decode_is_maximal_run_labeling(cls_row):
    trans, start, end = bmes_transitions(2)
    em = class_emissions(np.array([cls_row]), 2)
    got = list(viterbi_decode_batch(em, trans, np.array([len(cls_row)]), start, end)[0])
    want = []
    i, n = 0, len(cls_row)
    while i < n:
        c = cls_row[i]
        j = i
        while j + 1 < n and cls_row[j + 1] == c:
            j += 1
        if c == 0:
            want += [0] * (j - i + 1)
        elif j == i:
            want.append(4 * (c - 1) + 4)
        else:
            base = 4 * (c - 1)
            want += [base + 1] + [base + 2] * (j - i - 1) + [base + 3]
        i = j + 1
    assert got == want


@settings(max_examples=80, deadline=None)
@given(st.lists(st.integers(0, 8), min_size=1, max_size=14))
def test_vectorized_extraction_equals_pipeline_rule(tag_ids):
    n = len(tag_ids)
    words = [f"w{j}" for j in range(n)]
    sent = " ".join(words)
    tb_l, te_l, off = [], [], 0
    for w in words:
        tb_l.append(off)
        te_l.append(off + len(w))
        off += len(w) + 1
    tags = np.array([tag_ids], dtype=np.int32)
    tb = np.array([tb_l], dtype=np.int32)
    te = np.array([te_l], dtype=np.int32)
    m = extract_mentions_arrays(tags, tb, te, np.array([n]))
    got_set = {
        (b, e, sent[b:e], ("a", "b")[t])
        for b, e, t in zip(m["begin"], m["end"], m["etype_id"])
    }
    want = pipeline_rule(words, [TAGNAMES[t] for t in tag_ids])
    want_set = {(tb_l[x.begin], te_l[x.end], x.text, x.etype) for x in want}
    assert got_set == want_set


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 10_000),
    st.integers(1, 6),   # B
    st.integers(1, 12),  # S
    st.integers(1, 3),   # n_types
)
def test_closed_form_bmes_property(seed, B, S, NT):
    """bmes_tags_from_classes == viterbi_decode_batch over materialized
    class emissions for any class matrix/length combination (the
    closed-form rules decode, fuzzed beyond the fixed-seed unit test)."""
    from ner_funtool_spark.functions.crf import bmes_tags_from_classes

    rng = np.random.RandomState(seed % (2**31))
    cls = rng.randint(0, NT + 1, size=(B, S)).astype(np.int8)
    lens = rng.randint(1, S + 1, size=B)
    trans, start, end = bmes_transitions(NT)
    a = viterbi_decode_batch(class_emissions(cls, NT), trans, lens, start, end)
    b = bmes_tags_from_classes(cls, lens)
    np.testing.assert_array_equal(a, b)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=60),
       st.integers(1, 50))
def test_packing_invariants(ntoks, budget):
    """Concat-and-chunk packing math (pure form of pack_documents):
    offsets stay inside the budget, pack ids are monotone, and the
    layout is gapless (each doc starts where the previous ended)."""
    cum = 0
    prev_pack = 0
    for n in ntoks:
        pack_id, start_off = cum // budget, cum % budget
        assert 0 <= start_off < budget
        assert pack_id >= prev_pack
        prev_pack = pack_id
        cum += n
    assert cum == sum(ntoks)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=200, unique=True),
       st.floats(0.05, 0.95))
def test_split_partition_property(ids, frac):
    """Every id gets exactly one split label and membership depends only
    on the id (pure form of assign_splits' bucket rule)."""
    from ner_funtool_spark.functions.hashing import md5_int

    edge = int(round(frac * 10000))
    labels = {}
    for i in ids:
        b = md5_int(f"split_v1|{i}") % 10000
        labels[i] = "train" if b < edge else "test"
    # stability: recomputing yields identical assignment
    for i in ids:
        b = md5_int(f"split_v1|{i}") % 10000
        assert labels[i] == ("train" if b < edge else "test")
