"""Iterative connected components — canonicalization of the link graph.

Alternating large-star / small-star DataFrame joins (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014; converges
in O(log n) rounds) with a driver-side convergence check (SURVEY.md §7
M4; north_star's union-find analog).  The loop runs on
``graph._iterate``: the edge list and every round are eager
``localCheckpoint``s, each predecessor is released once compared, and a
warning is raised when ``max_iter`` runs out before the fixed point.
Each state's edge count is ``observe``-d on its own checkpoint job, so
the check runs a job of its own only on rounds where the count did not
move.  The (node, canonical_id) result is an eager checkpoint as well
(``canonicalize``'s isolated nodes ride its final aggregation), so the
call leaves only its result behind.

Node ids are any orderable column (we use entity strings; the
representative is the lexicographic min of the component, so DuckDB's
``min`` over VARCHAR agrees and a recursive-CTE oracle can verify us).

Scale notes: every iteration is two self-shuffles on the node key; AQE
handles the (typical) power-law degree skew by splitting oversized
partitions.  For 10^12-edge graphs the alternating algorithm's edge
count is non-increasing, so the worst shuffle is the first one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .graph import _iterate


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    No trailing ``distinct()``: this output only ever feeds
    ``_small_star``, whose ``collect_set`` aggregation dedups (src, dst)
    pairs identically — the explicit distinct was a whole extra shuffle
    per round for a set the next groupBy rebuilds anyway (r6, guide
    §2.4).  Cross-group duplicates are bounded by 2|E| rows."""
    nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    agg = nbrs.groupBy("src").agg(
        F.collect_set("dst").alias("ns"),
    )
    mn = F.array_min(F.array_append(F.col("ns"), F.col("src")))
    out = agg.select(
        F.explode(F.filter(F.col("ns"), lambda v: v > F.col("src"))).alias("src"),
        mn.alias("dst"),
    )
    return out.filter(F.col("src") != F.col("dst"))


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (max, min); connect all small neighbors + self to the min."""
    oriented = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    agg = oriented.groupBy("src").agg(F.collect_set("dst").alias("ns"))
    mn = F.array_min(F.col("ns"))  # all ns <= src, so min(N ∪ {u}) = min(N)
    out = agg.select(
        F.explode(F.array_append(F.col("ns"), F.col("src"))).alias("v"),
        mn.alias("m"),
    ).select(F.col("v").alias("src"), F.col("m").alias("dst"))
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges(src, dst) -> (node, canonical_id).

    canonical_id = min node id in the component; isolated nodes (absent
    from edges) are ``canonicalize``'s.  Running out of ``max_iter``
    rounds before the fixed point warns.
    """
    return _components(edges, max_iter)


def canonicalize(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """All nodes -> (node, canonical_id), identity for isolated nodes.
    Exact when every edge endpoint is a node."""
    return _components(edges, 25, nodes)


def _components(edges: DataFrame, max_iter: int, nodes=None) -> DataFrame:
    """The star loop; ``nodes`` rows join its final aggregation as
    (node, node), so the result is the loop's own checkpoint."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    seen = []  # the Observation of each checkpointed state, newest last

    def counted(e: DataFrame) -> DataFrame:
        seen.append(Observation())
        return e.observe(seen[-1], F.count("*").alias("n"))

    def stable(prev: DataFrame, new: DataFrame) -> bool:
        # converged when the edge multiset is stable (star ops are
        # deterministic, so set equality is a fixed-point check).  While
        # the observed edge count still moves the multisets cannot be
        # equal, so the exceptAll job runs ONLY on count-stable rounds,
        # and one-sided emptiness plus equal counts implies equality
        return (seen[-1].get["n"] == seen[-2].get["n"]
                and new.exceptAll(prev).limit(1).count() == 0)

    def canonical(e: DataFrame) -> DataFrame:
        # fixed point: every edge is (node, root)
        rows = e.select(F.col("src").alias("node"), F.col("dst").alias("canonical_id"))
        roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("canonical_id")).distinct()
        rows = rows.unionByName(roots)
        if nodes is not None:
            rows = rows.unionByName(nodes.select("node", F.col("node").alias("canonical_id")))
        return rows.groupBy("node").agg(
            F.min("canonical_id").alias("canonical_id")
        ).localCheckpoint(eager=True)

    return _iterate(counted(e), lambda e: counted(_small_star(_large_star(e))),
                    max_iter, canonical, done=stable,
                    name="connected_components")[0]


def keep_one_per_cluster(docs: DataFrame, clusters: DataFrame,
                         id_col: str = "doc_id",
                         order_cols=None) -> DataFrame:
    """Materialize the deduped corpus: ONE representative row of
    ``docs`` per near-dup cluster, unclustered docs pass through.

    ``clusters``: (node, canonical_id) from connected_components over
    the near-dup edge graph (node = doc id).  ``order_cols``: window
    ordering choosing the representative — default ascending id (the
    min-id policy).  Real LLM pipelines usually keep the longest /
    highest-quality doc: pass e.g.
    ``[F.col("n_chars").desc(), F.col("doc_id").asc()]`` (the trailing
    id makes the order total, so the choice is deterministic and
    oracle-mirrorable).

    One broadcast-or-shuffle join on the doc id + one window over the
    cluster id; clusters are tiny relative to the corpus (only docs
    with a near-dup edge appear), so at scale the join side is the
    filter, not the corpus.
    """
    from pyspark.sql import Window

    if order_cols is None:
        order_cols = [F.col(id_col).asc()]
    c = clusters.select(F.col("node").alias(id_col), "canonical_id")
    d = docs.join(c, id_col, "left").withColumn(
        "_cid", F.coalesce(F.col("canonical_id"), F.col(id_col))
    )
    w = Window.partitionBy("_cid").orderBy(*order_cols)
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cid", "canonical_id")
    )
