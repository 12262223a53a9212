"""Vectorized CRF kernels (numpy, Arrow-batch friendly).

Re-implements the *semantics* of the reference's CRF decode —
``tf.contrib.crf.crf_decode(logits, transitions, sequence_lengths)``
(reference: model_lstm_crf.py:53-56, layers/lstm_crf_layer.py:60-62,
148-164) — as dense numpy dynamic programming over a whole Arrow record
batch at once, masked by true sequence lengths.  This is the hot kernel
inside ``mapInPandas``; there is deliberately no per-row Python here.

Extensions over the reference's crf_decode: optional explicit start/end
score vectors (tf's crf_decode folds these into learned transitions; our
hand-constrained BMES decoder needs them as hard constraints so that
sequences cannot begin at M/E or end at B/M).

Also provides the forward-algorithm log-partition (the training-side
``crf_log_likelihood`` recurrence, layers/lstm_crf_layer.py:148-164) for
path-scoring parity tests, and a brute-force path enumerator used only
by pytest.
"""

from __future__ import annotations

import numpy as np

NEG = -1e9  # effective -inf that survives float64 addition

# within-entity transition bonus: makes Viterbi prefer one maximal
# B M ... E entity over any split into shorter entities when emissions
# are indifferent (proved in tests/test_crf.py)
ENTITY_BONUS = 0.5


def viterbi_decode_batch(
    logits: np.ndarray,
    transitions: np.ndarray,
    lengths: np.ndarray,
    start: np.ndarray | None = None,
    end: np.ndarray | None = None,
) -> np.ndarray:
    """Batch Viterbi: best tag path per sequence.

    Parameters
    ----------
    logits      : float [B, S, V] emission scores (padded positions ignored)
    transitions : float [V, V]  transitions[i, j] = score(i -> j)
    lengths     : int [B] true lengths (1..S); positions >= length are masked
    start       : optional float [V] scores added at t=0
    end         : optional float [V] scores added at each sequence's last step

    Returns
    -------
    int32 [B, S] best path; padded positions are 0.
    """
    B, S, V = logits.shape
    lengths = np.asarray(lengths, dtype=np.int64)
    # float32 + per-target-tag inner loop: the DP state is [B, V] slices
    # (cache-resident) instead of a materialized [B, V, V] score cube —
    # ~4x less memory traffic, which is what scales across 32 workers
    # sharing one memory bus (see BENCH/BASELINE.md analysis)
    logits32 = logits if logits.dtype == np.float32 else logits.astype(np.float32)
    tr = transitions if transitions.dtype == np.float32 else transitions.astype(np.float32)
    dp = logits32[:, 0, :].copy()  # [B, V]
    if start is not None:
        dp += start.astype(np.float32)[None, :]
    backp = np.zeros((B, S, V), dtype=np.int16)
    new_dp = np.empty_like(dp)
    bp_t = np.empty((B, V), dtype=np.int16)
    rows = np.arange(B)
    for t in range(1, int(lengths.max())):
        for j in range(V):
            s = dp + tr[:, j][None, :]  # score of (prev=i -> cur=j)  [B, V]
            bp = np.argmax(s, axis=1)
            bp_t[:, j] = bp
            new_dp[:, j] = s[rows, bp] + logits32[:, t, j]
        # sequences already finished keep their dp frozen at their last step
        active = (t < lengths)[:, None]
        dp = np.where(active, new_dp, dp)
        backp[:, t, :] = np.where(active, bp_t, 0)
    if end is not None:
        dp = dp + end.astype(np.float32)[None, :]
    # backtrack from each sequence's true last step
    path = np.zeros((B, S), dtype=np.int32)
    path[rows, lengths - 1] = np.argmax(dp, axis=1).astype(np.int32)
    for t in range(S - 1, 0, -1):
        prev = backp[rows, t, path[:, t]]
        path[:, t - 1] = np.where(t <= lengths - 1, prev, path[:, t - 1])
    # zero out padding
    mask = np.arange(S)[None, :] < lengths[:, None]
    return np.where(mask, path, 0).astype(np.int32)


def bmes_tags_from_classes(cls: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Closed-form decode for the rules-mode CRF: the maximal-run BMES
    labeling of a class matrix, equal to
    ``viterbi_decode_batch(class_emissions(cls, n_types), trans, lengths,
    start, end)`` with ``trans, start, end = bmes_transitions(n_types)``
    for EVERY input (pinned in tests/test_crf.py and
    tests/test_property.py) but computed with shift-compare index
    arithmetic instead of the [B, S] x V dynamic program.

    Why this is exact, not an approximation: under the hard BMES
    grammar, class-indicator emissions (+emit_score per matching-block
    tag, 0 otherwise) and the within-entity ENTITY_BONUS, the unique
    argmax path (a) tags every class-c token inside block c — any
    deviation loses emit_score, far above any transition gain; (b) tags
    every class-0 token O; and (c) labels each maximal same-class run
    as ONE entity — splitting a run forfeits ENTITY_BONUS at the split.
    Maximal-run BMES is therefore the optimum, and it is computable
    directly: a token is M if its neighbours on both sides continue the
    run, E if only the left does, B if only the right does, S if
    neither.  This removes the DP that BENCH/BASELINE.md measured as
    the flagship's residual 8->32 scaling cost (r6, guide §1.2 step 2).
    """
    B, S = cls.shape
    lengths = np.asarray(lengths, dtype=np.int64)
    mask = np.arange(S)[None, :] < lengths[:, None]
    c = np.where(mask, cls, 0)
    nz = c > 0
    prev_same = np.zeros_like(nz)
    prev_same[:, 1:] = nz[:, 1:] & (c[:, 1:] == c[:, :-1]) & nz[:, :-1]
    next_same = np.zeros_like(nz)
    next_same[:, :-1] = nz[:, :-1] & (c[:, :-1] == c[:, 1:]) & nz[:, 1:]
    # boundary offset within the [B, M, E, S] block: B=0, M=1, E=2, S=3
    code = np.where(
        prev_same & next_same, 1,
        np.where(prev_same, 2, np.where(next_same, 0, 3)),
    )
    return np.where(nz, (c - 1) * 4 + 1 + code, 0).astype(np.int32)


def crf_sequence_score(
    logits: np.ndarray,
    transitions: np.ndarray,
    path: np.ndarray,
    length: int,
    start: np.ndarray | None = None,
    end: np.ndarray | None = None,
) -> float:
    """Score of one explicit path (single sequence) — test helper."""
    s = float(logits[0, path[0]])
    if start is not None:
        s += float(start[path[0]])
    for t in range(1, length):
        s += float(transitions[path[t - 1], path[t]]) + float(logits[t, path[t]])
    if end is not None:
        s += float(end[path[length - 1]])
    return s


def viterbi_brute_force(
    logits: np.ndarray,
    transitions: np.ndarray,
    length: int,
    start: np.ndarray | None = None,
    end: np.ndarray | None = None,
) -> np.ndarray:
    """Exhaustive best-path search for tiny V**S spaces (pytest only)."""
    import itertools

    S, V = logits.shape
    best, best_path = -np.inf, None
    for cand in itertools.product(range(V), repeat=length):
        sc = crf_sequence_score(logits, transitions, np.array(cand), length, start, end)
        if sc > best:
            best, best_path = sc, cand
    out = np.zeros(S, dtype=np.int32)
    out[:length] = best_path
    return out


def crf_log_norm(
    logits: np.ndarray, transitions: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """Forward-algorithm log-partition per sequence [B] (logsumexp DP).

    Semantics of the reference's crf_log_likelihood denominator
    (layers/lstm_crf_layer.py:148-164); used for scoring parity tests.
    """
    B, S, V = logits.shape
    alpha = logits[:, 0, :].astype(np.float64).copy()
    for t in range(1, S):
        m = alpha[:, :, None] + transitions[None, :, :]
        mx = m.max(axis=1)
        new_alpha = mx + np.log(np.exp(m - mx[:, None, :]).sum(axis=1)) + logits[:, t, :]
        active = (t < np.asarray(lengths))[:, None]
        alpha = np.where(active, new_alpha, alpha)
    mx = alpha.max(axis=1)
    return mx + np.log(np.exp(alpha - mx[:, None]).sum(axis=1))


def bmes_transitions(n_types: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Hand-built BMES-O constraint transitions + start/end scores.

    Tag layout must match config.tagset: id 0 = O, then per type t the
    block [B, M, E, S] at ids 1+4t .. 4+4t.

    Encodes the BMES grammar the reference's span extractors assume
    (public_tools/ner_utils.py:42-59, 103-146): within a type, B->M/E,
    M->M/E; entities close at E or are singletons S; O/E/S can be
    followed by O or B-/S- of any type.  Sequences cannot start at M/E
    (start vector) nor end at B/M (end vector).  Within-entity
    transitions carry ENTITY_BONUS so maximal runs beat splits.

    Returns (transitions [V,V], start [V], end [V]) float64.
    """
    V = 1 + 4 * n_types
    trans = np.full((V, V), NEG, dtype=np.float64)
    start = np.full(V, NEG, dtype=np.float64)
    end = np.full(V, NEG, dtype=np.float64)
    O = 0  # noqa: E741

    def bid(t):
        return 1 + 4 * t

    start[O] = 0.0
    end[O] = 0.0
    trans[O, O] = 0.0
    for t in range(n_types):
        B, M, E, S = bid(t), bid(t) + 1, bid(t) + 2, bid(t) + 3
        start[B] = 0.0
        start[S] = 0.0
        end[E] = 0.0
        end[S] = 0.0
        # open/extend/close within the same type (bonus: prefer long runs)
        trans[B, M] = ENTITY_BONUS
        trans[B, E] = ENTITY_BONUS
        trans[M, M] = ENTITY_BONUS
        trans[M, E] = ENTITY_BONUS
        # entity boundaries: after E/S/O an entity may start or O continue
        for closer in (E, S, O):
            trans[closer, O] = 0.0
            for u in range(n_types):
                trans[closer, bid(u)] = 0.0      # -> B-u
                trans[closer, bid(u) + 3] = 0.0  # -> S-u
    return trans, start, end
