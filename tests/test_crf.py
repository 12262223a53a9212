"""Viterbi kernel vs brute-force enumeration (SURVEY.md §5 test plan).

Mirrors the contract of the reference's crf_decode call sites
(model_lstm_crf.py:56, layers/lstm_crf_layer.py:60-62): best path under
emission+transition scores, masked by true lengths.
"""

from __future__ import annotations

import numpy as np
import pytest

from ner_funtool_spark.functions.crf import (
    bmes_transitions,
    crf_log_norm,
    crf_sequence_score,
    viterbi_brute_force,
    viterbi_decode_batch,
)
from ner_funtool_spark.functions.model import class_emissions


@pytest.mark.parametrize("seed", range(8))
def test_viterbi_matches_brute_force(seed):
    rng = np.random.RandomState(seed)
    B, S, V = 5, 6, 4
    logits = rng.randn(B, S, V) * 3
    trans = rng.randn(V, V)
    lengths = rng.randint(1, S + 1, size=B)
    got = viterbi_decode_batch(logits, trans, lengths)
    for b in range(B):
        want = viterbi_brute_force(logits[b], trans, int(lengths[b]))
        np.testing.assert_array_equal(got[b], want, err_msg=f"seq {b} len {lengths[b]}")


@pytest.mark.parametrize("seed", range(4))
def test_viterbi_with_start_end_matches_brute_force(seed):
    rng = np.random.RandomState(100 + seed)
    B, S, V = 4, 5, 3
    logits = rng.randn(B, S, V) * 2
    trans = rng.randn(V, V)
    start = rng.randn(V)
    end = rng.randn(V)
    lengths = rng.randint(1, S + 1, size=B)
    got = viterbi_decode_batch(logits, trans, lengths, start, end)
    for b in range(B):
        want = viterbi_brute_force(logits[b], trans, int(lengths[b]), start, end)
        np.testing.assert_array_equal(got[b], want)


def test_padding_is_zero_and_ignored():
    rng = np.random.RandomState(7)
    B, S, V = 3, 8, 4
    logits = rng.randn(B, S, V)
    trans = rng.randn(V, V)
    lengths = np.array([3, 8, 1])
    out = viterbi_decode_batch(logits, trans, lengths)
    assert (out[0, 3:] == 0).all() and (out[2, 1:] == 0).all()
    # garbage in padded logits must not change the decoded prefix
    logits2 = logits.copy()
    logits2[0, 3:, :] = 1e6
    out2 = viterbi_decode_batch(logits2, trans, lengths)
    np.testing.assert_array_equal(out[0, :3], out2[0, :3])


def test_log_norm_upper_bounds_best_path():
    rng = np.random.RandomState(3)
    B, S, V = 4, 5, 3
    logits = rng.randn(B, S, V)
    trans = rng.randn(V, V)
    lengths = np.array([5, 4, 2, 1])
    paths = viterbi_decode_batch(logits, trans, lengths)
    logz = crf_log_norm(logits, trans, lengths)
    for b in range(B):
        s = crf_sequence_score(logits[b], trans, paths[b], int(lengths[b]))
        assert s <= logz[b] + 1e-9


def _decode_classes(cls_row: list[int], n_types: int) -> list[int]:
    trans, start, end = bmes_transitions(n_types)
    cls = np.array([cls_row])
    em = class_emissions(cls, n_types)
    lengths = np.array([len(cls_row)])
    return list(viterbi_decode_batch(em, trans, lengths, start, end)[0])


def tagname(i, etypes):
    if i == 0:
        return "O"
    return f"{'BMES'[(i - 1) % 4]}-{etypes[(i - 1) // 4]}"


def test_bmes_constraint_decoder_equals_maximal_runs():
    """The BMES-constrained decoder must label each maximal same-class
    run as ONE entity: S for len 1, B M* E for len >= 2 — the property
    that makes the SQL window rule an exact oracle for the pipeline."""
    cases = {
        # cls sequence          -> expected tags (type 1 block ids 1..4, type 2 block 5..8)
        (0, 0, 0): [0, 0, 0],
        (1,): [4],                       # S-t1
        (1, 1): [1, 3],                  # B-t1 E-t1
        (1, 1, 1): [1, 2, 3],            # B M E
        (1, 1, 1, 1, 1): [1, 2, 2, 2, 3],
        (0, 1, 0): [0, 4, 0],
        (1, 2): [4, 8],                  # S-t1 S-t2 (class switch splits)
        (1, 1, 2, 2): [1, 3, 5, 7],      # B-t1 E-t1 B-t2 E-t2
        (0, 1, 1, 0, 2): [0, 1, 3, 0, 8],
        (2, 0, 2): [8, 0, 8],            # O-gap splits entities
    }
    for cls_row, want in cases.items():
        got = _decode_classes(list(cls_row), n_types=2)
        assert got == want, (cls_row, got, want)


def test_bmes_decoder_randomized_property():
    """Property check over random class sequences: decode == run rule."""
    rng = np.random.RandomState(11)
    for _ in range(50):
        n = int(rng.randint(1, 12))
        cls_row = list(rng.randint(0, 3, size=n))
        got = _decode_classes(cls_row, n_types=2)
        # expected: maximal-run BMES labeling
        want = []
        i = 0
        while i < n:
            c = cls_row[i]
            j = i
            while j + 1 < n and cls_row[j + 1] == c:
                j += 1
            if c == 0:
                want += [0] * (j - i + 1)
            elif j == i:
                want.append(4 * (c - 1) + 4)  # S
            else:
                base = 4 * (c - 1)
                want += [base + 1] + [base + 2] * (j - i - 1) + [base + 3]
            i = j + 1
        assert got == want, (cls_row, got, want)


def test_closed_form_bmes_equals_viterbi():
    """bmes_tags_from_classes == viterbi_decode_batch over materialized
    class_emissions for random class matrices/lengths — the closed-form
    decode that removes the DP from the rules path is a pure compute
    optimization, not a semantics change (crf.py docstring proof
    sketch)."""
    from ner_funtool_spark.functions.crf import bmes_tags_from_classes

    rng = np.random.RandomState(23)
    for dtype in (np.int8, np.int64):
        for _ in range(60):
            B, S, NT = rng.randint(1, 16), rng.randint(1, 24), rng.randint(1, 5)
            cls = rng.randint(0, NT + 1, size=(B, S)).astype(dtype)
            lens = rng.randint(1, S + 1, size=B)
            trans, start, end = bmes_transitions(NT)
            a = viterbi_decode_batch(class_emissions(cls, NT), trans, lens,
                                     start, end)
            b = bmes_tags_from_classes(cls, lens)
            assert np.array_equal(a, b), (cls, lens, a, b)
