"""Graph analytics over the materialized triples table — the natural
KG surface next to canonicalization (round-1 backlog item).

The reference stops at emitting tag outputs; its KG re-expression
(north_star) materializes (subj, pred, obj) triples, and the first
questions a user asks of a triples table are graph-shaped: node
degrees and node importance.  Both are expressed as DataFrame ops:

* degrees — two groupBy counts + one outer join (two shuffles total);
  multigraph semantics (parallel edges count separately).
* pagerank — fixed-iteration power method over DISTINCT edges with the
  standard damping + dangling-mass redistribution, as message-passing
  supersteps: the node table carries each node's out-neighbours, and a
  round is one aggregation of the messages sent along them with the
  node rows — one shuffle, no join, no broadcast.  The dangling mass a
  round reads is a literal ``observe``-d on the previous round's
  checkpoint job, so the loop runs no job for its scalars.

Both are DuckDB-oracle-checked (unrolled-CTE SQL, oracles.py) at
round(6) on doubles.

Every convergence loop — the three PageRank forms, label propagation,
k-core and ``components.connected_components`` — runs on ``_iterate``,
the one owner of the loop policy: a ``localCheckpoint`` per round (so
the lineage never grows with the round count), the round limit (a
loop with a convergence check warns when it runs out of rounds), and
the release of round checkpoints and persisted inputs once the result
no longer reads them, so a call leaves at most its result persistent.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

DAMPING = 0.85
PR_ITERATIONS = 5


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD a ``localCheckpoint`` frame reads, or None when
    ``df`` is not itself a checkpoint."""
    plan = df._jdf.queryExecution().logical()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def _iterate(state: DataFrame, step, max_rounds: int, finish, done=None,
             eager: bool = False, inputs=(), name: str = "loop"):
    """Run ``state = step(state)`` for at most ``max_rounds`` rounds, or
    until ``done(prev, new)`` holds; returns ``(finish(state), rounds,
    converged)``.  Every round's state is ``localCheckpoint``-ed
    (``eager`` picks the form), and so is the initial one when a
    ``done`` check will read it or the loop is eager (a step may
    ``observe`` its round scalars on that checkpoint's job); a checked
    loop that runs out of rounds warns.  An eager checkpoint no longer
    reads its predecessor, which is released once the round's check has
    run; lazy ones are computed only with the finished frame, so they
    are released after ``finish`` — if it returned a checkpoint (a lazy
    result keeps what it reads).  The ``inputs`` persisted or
    checkpointed for the loop are released after ``finish``.
    """
    held = []

    def checkpoint(df):
        df = df.localCheckpoint(eager=eager)
        held.append(_checkpoint_rdd(df))
        return df

    if done is not None or eager:
        state = checkpoint(state)
    rounds, converged = 0, False
    while rounds < max_rounds and not converged:
        new = checkpoint(step(state))
        rounds += 1
        converged = done is not None and done(state, new)
        if eager and len(held) > 1:
            held.pop(0).unpersist(False)
        state = new
    if done is not None and not converged:
        warnings.warn(f"{name} did not converge within {rounds} rounds",
                      RuntimeWarning, stacklevel=3)
    out = finish(state)
    if _checkpoint_rdd(out) is not None:
        for rdd in held:
            rdd.unpersist(False)
    for df in inputs:
        rdd = _checkpoint_rdd(df)
        if rdd is None:
            df.unpersist()
        else:
            rdd.unpersist(False)
    return out, rounds, converged


def degrees(edges: DataFrame, src_col: str = "src",
            dst_col: str = "dst") -> DataFrame:
    """(node, out_deg, in_deg, deg) over a multigraph edge list."""
    return _degrees(edges, src_col, edges, dst_col)


def _degrees(out_edges: DataFrame, src_col: str, in_edges: DataFrame,
             dst_col: str) -> DataFrame:
    """``degrees`` with the out-degrees counted over ``out_edges`` and
    the in-degrees over ``in_edges`` — the same frame for an edge list,
    the SPO and OPS indexes of the bucketed store."""
    out_d = out_edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = in_edges.groupBy(F.col(dst_col).alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .fillna(0, subset=["out_deg", "in_deg"])
        .select(
            "node",
            F.col("out_deg").cast("bigint").alias("out_deg"),
            F.col("in_deg").cast("bigint").alias("in_deg"),
            (F.col("out_deg") + F.col("in_deg")).cast("bigint").alias("deg"),
        )
    )


def comention_edges(mentions: DataFrame, doc_cols=("repo", "path"),
                    text_col: str = "text") -> DataFrame:
    """Entity co-occurrence edges: (a, b, n_docs) for every unordered
    pair of DISTINCT entities mentioned in the same document, weighted
    by the number of documents co-mentioning them — the edge list
    entity-embedding / related-entities features train on.

    Per-document distinct-entity self-join: the join key is the doc id,
    so pair count per doc is bounded by (distinct entities per doc)^2 —
    document-length-bounded, never corpus-quadratic; one groupBy on the
    (a, b) pair aggregates the weights.
    """
    return _comention(_doc_entities(mentions, doc_cols, text_col), doc_cols)


def _doc_entities(mentions: DataFrame, doc_cols, text_col: str) -> DataFrame:
    """The distinct (doc, e) projection every co-mention view reads."""
    return mentions.select(*doc_cols, F.col(text_col).alias("e")).distinct()


def _comention(ents: DataFrame, doc_cols) -> DataFrame:
    """``comention_edges`` over an already-distinct (doc, e) frame."""
    d = list(doc_cols)
    a = ents.select(*d, F.col("e").alias("a"))
    b = ents.select(*d, F.col("e").alias("b"))
    return (
        a.join(b, d)
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def two_hop(triples: DataFrame, max_mid_degree: int | None = None) -> DataFrame:
    """2-hop reachability with path counts over the DISTINCT triple
    set: (a, pred1, pred2, c, n_paths) where n_paths = number of
    distinct middle nodes m with a -pred1-> m -pred2-> c.  This is the
    derived-relation query a KG serves constantly (repo ->* entity,
    package ->* symbol).

    Shape at scale: one self-join shuffled on the middle node m, then
    one aggregation on the (a, pred1, pred2, c) group — the output is
    aggregated, never the raw path enumeration.  The quadratic danger
    is a HUB middle node (a file mentioning 10^5 entities fans out
    in-degree × out-degree pairs); ``max_mid_degree`` caps it by
    dropping middle nodes whose out-degree exceeds the cap *before*
    the join (the cap is part of the query contract and is mirrored in
    the DuckDB oracle — deterministic, not a silent truncation).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    return _two_hop(t, t, max_mid_degree)


def _two_hop(hop1: DataFrame, hop2: DataFrame,
             max_mid_degree: int | None) -> DataFrame:
    """``two_hop`` over key-unique (subj, pred, obj) frames: hop-1
    edges end at the middle node, hop-2 edges (and the hub-degree cap)
    start there — one distinct triple set for a triples frame, the OPS
    and SPO indexes of the bucketed store."""
    e2 = hop2.select(
        F.col("subj").alias("m"), F.col("pred").alias("pred2"),
        F.col("obj").alias("c"),
    )
    if max_mid_degree is not None:
        mid_deg = e2.groupBy("m").agg(F.count("*").alias("md"))
        e2 = e2.join(
            mid_deg.filter(F.col("md") <= max_mid_degree).select("m"), "m"
        )
    e1 = hop1.select(
        F.col("subj").alias("a"), F.col("pred").alias("pred1"),
        F.col("obj").alias("m"),
    )
    return (
        e1.join(e2, "m")
        .groupBy("a", "pred1", "pred2", "c")
        .agg(F.count("*").cast("bigint").alias("n_paths"))
    )


def comention_pmi(mentions: DataFrame, doc_cols=("repo", "path"),
                  text_col: str = "text", min_pair_docs: int = 2) -> DataFrame:
    """Pointwise mutual information over co-mention pairs:
    (a, b, n_ab, n_a, n_b, pmi) with
    pmi = ln(n_ab * N / (n_a * n_b)), N = distinct documents with at
    least one mention.  The association score entity-relatedness
    features (and distant-supervision relation candidates) are built
    from; ``min_pair_docs`` thresholds on the INTEGER pair count, so
    cross-engine determinism does not depend on float comparisons.

    Shape at scale: the bounded per-document pair join from
    ``comention_edges``, one per-entity doc-count aggregation joined
    back onto the pair list (no broadcast hint — the entity dimension
    is unbounded; AQE promotes it when small), and N as a 1-row
    broadcast — no driver collect, no corpus-quadratic stage.  The
    ``ents`` subtree appears several times in the plan; the references
    are IDENTICAL subtrees, so Spark plans one Exchange and reuses it
    (ReusedExchange — verified by kg_comention_pmi's wall matching
    kg_comention's in bench); the plan-snapshot arrow_stages count is
    a textual upper bound (plans/inspect.py docstring).
    """
    return _comention_pmi(_doc_entities(mentions, doc_cols, text_col),
                          doc_cols, min_pair_docs)


def _comention_pmi(ents: DataFrame, doc_cols,
                   min_pair_docs: int) -> DataFrame:
    """``comention_pmi`` over an already-distinct (doc, e) frame."""
    d = list(doc_cols)
    pairs = _comention(ents, doc_cols)
    ent_docs = ents.groupBy("e").agg(F.count("*").alias("n_e"))
    n_docs = ents.select(*d).distinct().agg(F.count("*").alias("n_docs"))
    return (
        pairs.filter(F.col("n_docs") >= min_pair_docs)
        .withColumnRenamed("n_docs", "n_ab")
        .join(ent_docs.withColumnRenamed("e", "a")
              .withColumnRenamed("n_e", "n_a"), "a")
        .join(ent_docs.withColumnRenamed("e", "b")
              .withColumnRenamed("n_e", "n_b"), "b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a", "b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.log(F.col("n_ab") * F.col("n_docs")
                      / (F.col("n_a") * F.col("n_b"))), 6
            ).alias("pmi"),
        )
    )


def triangle_counts(edges: DataFrame, a_col: str = "a",
                    b_col: str = "b") -> DataFrame:
    """Per-node triangle counts (node, n_tri) over an undirected edge
    list given as unordered pairs with a < b (the ``comention_edges``
    output contract) — the clustering/community signal on the entity
    graph.

    Algorithm: degree-ordered orientation (compact-forward).  Each
    undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, so every node's out-degree is bounded by
    O(sqrt(|E|)) on skewed graphs — the wedge self-join fans out from
    out-adjacency pairs, which tames the hub-node blowup that a naive
    (a < b < c) id-ordered enumeration hits when a low-id node is a
    hub.  Each triangle is counted exactly once (at its orientation
    apex), then unpivoted to its three corners.  The DuckDB oracle
    deliberately uses the naive id-ordered enumeration: a value-hash
    match proves orientation-invariance, not just plan parity.
    """
    # the edge list feeds degree counting, orientation AND the closing-
    # edge probe — persist it (and the oriented list below) so an
    # upstream pipeline (e.g. the Arrow tagging stage behind
    # comention_edges) runs once, not once per reference; released
    # after the eager checkpoint of the result
    e, und = _undirected(edges, a_col, b_col)
    deg = und.groupBy("u").agg(F.count("*").alias("d")).withColumnRenamed("u", "n")
    # orientation key: (degree, id) total order, lower -> higher
    # degree dimension is one row per node — unbounded at corpus
    # scale, so no broadcast hint: AQE promotes to broadcast when the
    # runtime size allows, else these stay partitioned hash joins
    keyed = (
        und.join(deg.withColumnRenamed("n", "u")
                 .withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v")
              .withColumnRenamed("d", "dv"), "v")
    )
    oriented = keyed.filter(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v", "dv").persist()
    # wedges from the apex u: out-neighbour pairs ordered by the SAME
    # (degree, id) orientation key, so in a triangle o1 < o2 < o3 the
    # apex is o1 and the wedge pair is exactly (o2, o3) — the closing
    # edge o2 -> o3 is then a plain 2-column EQUI join against the
    # oriented edge list (hash join, never a nested-loop OR-join)
    w1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"),
                         F.col("dv").alias("dx"))
    w2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"),
                         F.col("dv").alias("dy"))
    wedges = w1.join(w2, "apex").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("apex", "x", "y")
    corners = (
        tris.select(F.col("apex").alias("node"))
        .union(tris.select(F.col("x").alias("node")))
        .union(tris.select(F.col("y").alias("node")))
    )
    out = corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_tri")
    ).localCheckpoint(eager=True)
    oriented.unpersist()
    e.unpersist()
    return out


def _pagerank(edges: DataFrame, src_col: str, dst_col: str, damping: float,
              max_rounds: int, seeds: list[str] | None = None,
              tol: float | None = None, init_ranks: DataFrame | None = None):
    """The PageRank body behind ``pagerank``, ``pagerank_personalized``
    (``seeds``: teleport mass goes to the seed set, not 1/N) and
    ``pagerank_converged`` (``tol``: iterate to an L1 fixed point and
    keep full precision; the fixed-round forms report 6 decimals).
    Returns ``(ranks, rounds)``.  Each teleport form keeps the literal
    arithmetic its oracle mirrors (``oracles.kg_pagerank_sql``,
    ``kg_ppr_sql``): uniform is NOT personalized with s(v) = 1/N, which
    would differ in the last float bit.

    The node table is one aggregation over the out-endpoints (src, dst)
    and in-endpoints (dst, NULL): ``dsts`` is a node's DISTINCT out-
    neighbours (empty = dangling), plus the teleport weight ``sv`` if
    personalized; a warm start's ``init_ranks`` rows ride the same
    aggregation.  A round is one superstep on the state alone: every
    node sends pr/|dsts| along ``dsts``, and one ``groupBy(node)`` over
    the messages and the node rows (which carry ``dsts`` and the old pr)
    yields the new pr — one Exchange, no join, no broadcast.  The round
    scalars — N (or the seeds present), the dangling mass the next round
    reads as a literal, and the converged form's L1 residual — are
    ``observe``-d on the eager checkpoint that materializes each frame,
    so they cost no job of their own.
    """
    e = edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("dst"))
    no_dst = F.lit(None).alias("dst")
    ends = e.union(e.select(F.col("dst").alias("node"), no_dst))
    aggs = [F.collect_set("dst").alias("dsts")]
    if init_ranks is not None:
        # warm-start rows add their pr0 to graph nodes; a node that has
        # no endpoint row (g NULL) is not in the graph and is dropped
        ends = ends.select("node", "dst", F.lit(True).alias("g"),
                           F.lit(None).alias("pr0")).union(
            init_ranks.select("node", no_dst, F.lit(None), "pr"))
        aggs += [F.max("g").alias("g"),
                 F.first("pr0", ignorenulls=True).alias("pr0")]
    seen = []  # the Observation of each checkpointed frame, newest last

    def observed(df, *metrics):
        seen.append(Observation())
        return df.observe(seen[-1], *metrics)

    nodes = ends.groupBy("node").agg(*aggs)
    if init_ranks is not None:
        nodes = nodes.filter("g")
    # N, or the number of seeds present in the graph
    present = (F.count("*") if seeds is None
               else F.count(F.when(F.col("node").isin(seeds), 1)))
    nodes = observed(nodes, present.alias("n")).localCheckpoint(eager=True)
    n = seen[-1].get["n"]
    pr = F.col("pr") if tol is not None else F.round("pr", 6).alias("pr")

    def finish(ranks):
        return ranks.select("node", pr).localCheckpoint(eager=True)

    if n == 0:
        # empty edge list, or no seed present: the teleport vector is
        # all-zero, so emit exactly that (one 0.0 row per node, zero
        # rounds), matching the SQL mirror's CASE semantics instead of
        # an empty frame — and guarding the 1.0/n below
        zeros = nodes.select("node", F.lit(0.0).cast("double").alias("pr"))
        return _iterate(zeros, None, 0, finish, inputs=(nodes,))[:2]
    cols = ["node", "dsts"]  # what a node row carries besides pr
    init = nodes
    if seeds is None:
        start = F.lit(1.0 / n)

        def update(c, dm):
            return F.lit((1.0 - damping) / n) + F.lit(damping) * (c + dm / n)
    else:
        init = nodes.withColumn(
            "sv",
            F.when(F.col("node").isin(seeds), F.lit(1.0 / n)).otherwise(F.lit(0.0)),
        )
        cols.append("sv")
        start = F.col("sv")

        def update(c, dm):
            return (F.lit(1.0 - damping) * F.col("sv")
                    + F.lit(damping) * (c + dm * F.col("sv")))
    if init_ranks is not None:
        start = F.coalesce(F.col("pr0"), start)
    dangling = F.coalesce(F.sum(F.when(F.size("dsts") == 0, F.col("pr"))),
                          F.lit(0.0)).alias("dm")
    residual = ([] if tol is None else
                [F.sum(F.abs(F.col("pr") - F.col("pr_old"))).alias("d")])

    def step(ranks):
        dm = F.lit(seen[-1].get["dm"])
        msgs = ranks.select(F.explode("dsts").alias("node"),
                            (F.col("pr") / F.size("dsts")).alias("msg"))
        new = (
            ranks.withColumnRenamed("pr", "pr_old")
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(*[F.first(c, ignorenulls=True).alias(c)
                   for c in cols[1:] + ["pr_old"]],
                 F.sum("msg").alias("contrib"))
            .select(*cols, "pr_old",
                    update(F.coalesce(F.col("contrib"), F.lit(0.0)),
                           dm).alias("pr"))
        )
        return observed(new, dangling, *residual).select(*cols, "pr")

    def settled(old, new):
        delta = seen[-1].get["d"]
        return delta is not None and delta < tol

    return _iterate(
        observed(init.select(*cols, start.alias("pr")), dangling),
        step, max_rounds, finish,
        done=None if tol is None else settled, eager=True,
        inputs=(nodes,), name="pagerank_converged",
    )[:2]


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             iterations: int = PR_ITERATIONS,
             damping: float = DAMPING) -> DataFrame:
    """Fixed-iteration PageRank over the DISTINCT edge set.

    pr_{t+1}(v) = (1-d)/N + d * (sum_{u->v} pr_t(u)/outdeg(u)
                                 + dangling_mass_t / N)

    Returns (node, pr) with pr rounded to 6 decimals (cross-engine
    float determinism rule).  N is observed once, on the node table's
    checkpoint; the rounds are distributed, and the only driver values
    they read are scalars observed on their own checkpoint jobs.
    """
    return _pagerank(edges, src_col, dst_col, damping, iterations)[0]


def pagerank_personalized(edges: DataFrame, seeds: list[str],
                          src_col: str = "src", dst_col: str = "dst",
                          iterations: int = PR_ITERATIONS,
                          damping: float = DAMPING) -> DataFrame:
    """Personalized PageRank: restart (and dangling) mass teleports to
    the SEED set instead of uniformly — relatedness-to-these-entities,
    the query behind "related repos/symbols" KG features.

    pr_{t+1}(v) = (1-d)*s(v) + d*(sum_{u->v} pr_t(u)/od(u) + dm_t*s(v))

    with s(v) = 1/|S| for seed nodes present in the graph, else 0; no
    seed present gives 0.0 for every node.  The teleport vector is one
    extra column carried on the node table, NOT a broadcast (seeds are
    a literal list, but the node table itself stays distributed).
    """
    return _pagerank(edges, src_col, dst_col, damping, iterations,
                     seeds=seeds)[0]


def pagerank_converged(edges: DataFrame, src_col: str = "src",
                       dst_col: str = "dst", tol: float = 1e-9,
                       max_iterations: int = 60,
                       damping: float = DAMPING,
                       init_ranks: DataFrame | None = None):
    """PageRank iterated to an L1 fixed-point tolerance, optionally
    WARM-STARTED from a previous rank vector: after the edge set
    changes, re-converging from the previous ranks reaches the
    (unique) fixed point of the new graph.

    The update pr_{t+1} = (1-d)/N + d*(M·pr_t + dm_t/N) is an L1
    contraction with factor d for ANY starting vector, so no
    renormalization of the warm start is needed — nodes missing from
    ``init_ranks`` (new to the graph) start at 1/N and the iteration
    pulls everything to the same fixed point the cold start reaches.
    Returns ``(ranks, n_rounds)``: (node, pr) at FULL double precision
    (round at the reporting edge only — a 6-decimal store would
    re-inflate a warm start's error to ~n_nodes*5e-7 L1 and forfeit
    the saving), and the number of rounds actually run.  Running out
    of ``max_iterations`` before the tolerance holds warns.  An
    ``init_ranks`` row for a node outside the graph is dropped.

    Warm-start invariants (gated by Q:kg_pagerank_inc_invariants and
    tests/test_graph.py::test_pagerank_converged_warm_start): a warm
    start from the half-graph fixed point lands on the full graph's
    fixed point (1e-6 per node), and a restart from the fixed point on
    the unchanged graph takes <= 2 rounds.  Warm rounds track the
    start's distance to the new fixed point, not the graph size: a
    graph grown by a third can take MORE rounds than a uniform cold
    start (the uniform vector excites only fast-decaying modes; a stale
    fixed point holds error in the slow modes, which decay at the
    worst-case rate d), so only the unchanged-graph restart carries a
    rounds claim.

    Per round: the same one-shuffle superstep as ``pagerank``; the node
    row carries its previous pr through the aggregation, and the L1
    delta is ``observe``-d on the round's own checkpoint job — no join
    and no job for the check, the driver sees a single float per round.
    """
    return _pagerank(edges, src_col, dst_col, damping, max_iterations,
                     tol=tol, init_ranks=init_ranks)


LPA_ITERATIONS = 5


def _undirected(edges: DataFrame, a_col: str, b_col: str):
    """``(e, und)``: the DISTINCT unordered edge list as (u, v),
    persisted, and its both-directions union (not persisted)."""
    e = edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")) \
        .distinct().persist()
    return e, e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _lpa_round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous plurality-update round: every node adopts the
    most frequent label among its neighbours, ties broken by the
    lexicographically smallest label (min-struct argmax)."""
    nb = und.join(
        labels.select(F.col("u").alias("v"), "lbl"), "v"
    ).select("u", "lbl")
    counts = nb.groupBy("u", "lbl").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("u")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                            F.col("lbl").alias("l"))).alias("m"))
        .select("u", F.col("m.l").alias("lbl"))
    )


def _labels_unchanged(old: DataFrame, new: DataFrame) -> bool:
    return (
        old.join(new.select("u", F.col("lbl").alias("lbl2")), "u")
        .filter(F.col("lbl") != F.col("lbl2"))
        .count()
    ) == 0


def _lpa(edges: DataFrame, a_col: str, b_col: str, max_rounds: int,
         init_labels: DataFrame | None = None, done=None):
    """The LPA body behind ``label_propagation`` (fixed rounds) and
    ``lpa_converged`` (``done`` = no label changed); returns
    ``(labels, rounds, converged)``."""
    e, und = _undirected(edges, a_col, b_col)
    und = und.persist()
    labels, lbl = und.select("u").distinct(), F.col("u")
    if init_labels is not None:
        labels = labels.join(
            init_labels.select(F.col("node").alias("u"),
                               F.col("community").alias("lbl0")),
            "u", "left",
        )
        lbl = F.coalesce(F.col("lbl0"), F.col("u"))
    return _iterate(
        labels.select("u", lbl.alias("lbl")),
        lambda lb: _lpa_round(und, lb), max_rounds,
        lambda lb: lb.select(
            F.col("u").alias("node"), F.col("lbl").alias("community")
        ).localCheckpoint(eager=True),
        done=done, inputs=(und, e), name="lpa_converged",
    )


def label_propagation(edges: DataFrame, a_col: str = "a", b_col: str = "b",
                      iterations: int = LPA_ITERATIONS) -> DataFrame:
    """Synchronous label-propagation communities over an undirected
    edge list (unordered a < b pairs, the ``comention_edges`` output
    contract): labels start as the node id; each round every node
    adopts the PLURALITY label among its neighbours, ties broken by
    the lexicographically smallest label — fully deterministic, so the
    DuckDB unrolled-CTE oracle replays every round exactly.  Returns
    (node, community) after a FIXED iteration count (sync LPA can
    oscillate on bipartite structures; a fixed horizon keeps the
    result well-defined on both engines).

    Shape at scale: per iteration one join (labels onto the edge list)
    and two aggregations (neighbour-label counts, then a min-struct
    argmax per node); the label dimension is never broadcast
    (unbounded), no driver collect.

    Fixed-horizon LPA has no warm-start story (the labeling is defined
    BY its trajectory); ``lpa_converged`` below is the incremental
    variant — it iterates to a fixed point, and its docstring states
    exactly which warm-start guarantees exist (and which don't).
    """
    return _lpa(edges, a_col, b_col, iterations)[0]


def lpa_converged(edges: DataFrame, a_col: str = "a", b_col: str = "b",
                  init_labels: DataFrame | None = None,
                  max_rounds: int = 25):
    """Label propagation iterated until the labeling stops changing,
    optionally WARM-STARTED from a previous assignment.  Returns
    ``(labels, n_rounds, converged)``: (node, community) rows, the
    number of plurality rounds applied (including the final round that
    confirmed stability), and whether a fixed point was reached within
    ``max_rounds``.

    Warm-start guarantees — what holds and what does NOT:

    * GUARANTEED (gated by Q:kg_lpa_inc_invariants and
      tests/test_graph.py::test_lpa_converged_fixed_point_and_warm_start):
      on an UNCHANGED graph, restarting from a converged labeling
      re-confirms the same fixed point in exactly 1 round with zero
      label changes — the plurality update is deterministic, and a
      fixed point maps to itself.
    * NOT guaranteed (documented, not claimed): warm labels on a
      CHANGED graph need not equal the cold labels of the new graph.
      Unlike PageRank's contraction (unique fixed point, any start),
      sync LPA admits MANY fixed points, and which one a run lands on
      depends on its starting labels — the trajectory is part of the
      algorithm.  A warm start converges to a valid, deterministic
      labeling (same inputs -> same output), but tie-break sensitivity
      means it can be a DIFFERENT valid community structure than a
      cold run's.  Convergence itself is also graph-dependent: sync
      plurality updates can 2-cycle on bipartite-ish structures, hence
      the ``max_rounds`` horizon and the explicit ``converged`` flag
      (measured: the co-mention graphs converge in ~3 rounds at
      sf0.001-0.01).

    Per round: one join + two aggregations + one node-keyed equality
    check (count of changed labels — the driver sees one long per
    round).  New nodes absent from ``init_labels`` start as their own
    community, exactly like a cold start.
    """
    return _lpa(edges, a_col, b_col, max_rounds, init_labels,
                done=_labels_unchanged)


def kcore(edges: DataFrame, k: int = 3, rounds: int = 5,
          a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Bounded-round k-core peeling over an undirected edge list
    (unordered a < b pairs): each round removes every node whose
    current degree is below ``k`` together with its edges, then
    recounts.  Returns (node, deg) for the surviving subgraph after a
    FIXED number of rounds — the dense-core filter entity-graph
    pipelines use to separate well-attested entities from one-off
    noise.  With enough rounds this is the exact k-core; the fixed
    horizon (same trade as pagerank/LPA iterations) keeps the oracle
    replayable as unrolled CTEs and the plan depth bounded.

    Shape at scale: per round one degree aggregation and two
    semi-join-shaped filters against the surviving-node set (an
    unbounded dimension — no broadcast hint, AQE decides).
    """
    e, und = _undirected(edges, a_col, b_col)

    def peel(und):
        deg = und.groupBy("u").agg(F.count("*").alias("c"))
        keep = deg.filter(F.col("c") >= k).select("u")
        return (
            und.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
        )

    return _iterate(
        und, peel, rounds,
        lambda und: und.groupBy(F.col("u").alias("node")).agg(
            F.count("*").cast("bigint").alias("deg")
        ).localCheckpoint(eager=True),
        inputs=(e,),
    )[0]
