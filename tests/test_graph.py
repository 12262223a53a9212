"""Graph analytics (degrees, PageRank) vs numpy references."""

from __future__ import annotations

import numpy as np
import pytest

from ner_funtool_spark.operators.graph import degrees, pagerank


def _np_pagerank(edges, nodes, iterations=5, d=0.85):
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += pr[idx[s]] / out_deg[idx[s]]
        dangling = pr[out_deg == 0].sum()
        pr = (1 - d) / n + d * (contrib + dangling / n)
    return {nodes[i]: pr[i] for i in range(n)}


def test_degrees_multigraph(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: (r["out_deg"], r["in_deg"], r["deg"])
           for r in degrees(df).collect()}
    assert got == {"a": (2, 1, 3), "b": (1, 2, 3), "c": (1, 1, 2)}


def test_pagerank_matches_numpy_with_dangling(spark):
    # d is dangling (no out-edges); duplicate edge must count once
    edges = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["pr"] for r in pagerank(df).collect()}
    want = _np_pagerank(list(set(edges)), ["a", "b", "c", "d"])
    assert set(got) == set(want)
    for node, pr in want.items():
        assert abs(got[node] - pr) < 1e-6, node
    # probability mass is conserved under dangling redistribution
    assert abs(sum(got.values()) - 1.0) < 1e-5


def test_pagerank_empty_edges(spark):
    # empty edge list: typed empty result, no ZeroDivisionError
    df = spark.createDataFrame([], "src string, dst string")
    out = pagerank(df)
    assert out.columns == ["node", "pr"]
    assert out.count() == 0


def test_comention_edges(spark):
    from ner_funtool_spark.operators.graph import comention_edges

    m = spark.createDataFrame(
        [("r", "p1", "a"), ("r", "p1", "b"), ("r", "p1", "b"), ("r", "p1", "c"),
         ("r", "p2", "a"), ("r", "p2", "b"),
         ("r", "p3", "a")],
        "repo string, path string, text string",
    )
    got = {(r["a"], r["b"]): r["n_docs"] for r in comention_edges(m).collect()}
    # duplicates within a doc count once; pairs weighted by doc count
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_two_hop_counts_and_cap(spark):
    from ner_funtool_spark.operators.graph import two_hop

    t = spark.createDataFrame(
        [
            ("r", "C", "f1"), ("r", "C", "f2"), ("r", "C", "f2"),  # dup edge
            ("f1", "M", "e1"), ("f1", "M", "e2"),
            ("f2", "M", "e1"), ("f2", "M", "e2"), ("f2", "M", "e3"),
        ],
        "subj string, pred string, obj string",
    )
    got = {(r["a"], r["pred1"], r["pred2"], r["c"]): r["n_paths"]
           for r in two_hop(t).collect()}
    # r reaches e1 via f1 AND f2 -> n_paths = 2 (dup edge deduped)
    assert got[("r", "C", "M", "e1")] == 2
    assert got[("r", "C", "M", "e3")] == 1
    # cap at 2 drops f2 (out-degree 3) as a middle node
    capped = {(r["a"], r["pred1"], r["pred2"], r["c"]): r["n_paths"]
              for r in two_hop(t, max_mid_degree=2).collect()}
    assert capped[("r", "C", "M", "e1")] == 1
    assert ("r", "C", "M", "e3") not in capped


def test_comention_pmi_matches_formula(spark):
    import math

    from ner_funtool_spark.operators.graph import comention_pmi

    # docs: d1={a,b}, d2={a,b}, d3={a,c}, d4={b}
    rows = [("r", "d1", "a"), ("r", "d1", "b"), ("r", "d2", "a"),
            ("r", "d2", "b"), ("r", "d3", "a"), ("r", "d3", "c"),
            ("r", "d4", "b")]
    m = spark.createDataFrame(rows, "repo string, path string, text string")
    got = {(r["a"], r["b"]): r for r in
           comention_pmi(m, min_pair_docs=2).collect()}
    assert set(got) == {("a", "b")}  # (a,c) has n_ab=1 < 2
    r = got[("a", "b")]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (2, 3, 3)
    assert abs(r["pmi"] - round(math.log(2 * 4 / (3 * 3)), 6)) < 1e-9


def test_triangle_counts_vs_bruteforce(spark):
    import itertools
    import random

    from ner_funtool_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(14)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})
    adj = set(edges)
    want = {}
    for x, y, z in itertools.combinations(sorted(nodes), 3):
        if (x, y) in adj and (y, z) in adj and (x, z) in adj:
            for v in (x, y, z):
                want[v] = want.get(v, 0) + 1
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == want


def test_key_skew_report(spark):
    from ner_funtool_spark.operators.analytics import key_skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = {r["key"]: r for r in key_skew_report(df, "k", top_k=2).collect()}
    assert set(out) == {"hot", "warm"}  # top-2 only
    assert out["hot"]["rank"] == 1 and out["warm"]["rank"] == 2
    assert abs(out["hot"]["share"] - 0.6) < 1e-9
    assert abs(out["hot"]["cum_share"] - 0.6) < 1e-9
    assert abs(out["warm"]["cum_share"] - 0.9) < 1e-9


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: each clique converges
    to its smallest member's label; deterministic plurality+min rule."""
    from ner_funtool_spark.operators.graph import label_propagation

    edges = [("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
             ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
             ("a3", "b1")]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert got["a1"] == got["a2"] == got["a3"]
    assert got["b2"] == got["b3"]
    # the two cliques do not merge into one community
    assert got["a1"] != got["b2"]


def test_label_propagation_matches_python_replay(spark):
    """Fixed-iteration sync LPA replayed in pure python on a random
    graph — the Spark loop must match round for round."""
    import random
    from collections import Counter, defaultdict

    from ner_funtool_spark.operators.graph import label_propagation

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(20)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(35)})
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    lbl = {n: n for n in adj}
    for _ in range(5):
        new = {}
        for n in adj:
            c = Counter(lbl[m] for m in adj[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
        lbl = new
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert got == lbl


def test_sketch_profile_violations_empty_and_triggers(spark):
    from ner_funtool_spark.operators.analytics import sketch_profile_violations

    d = spark.createDataFrame(
        [(i, f"text {i % 40}", "en", f"s{i % 2}", 100 + i % 7)
         for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert sketch_profile_violations(d).count() == 0
    # an impossible bound must trip and emit typed violation rows
    out = sketch_profile_violations(d, max_distinct_rel_err=-1.0,
                                    max_quantile_rel_err=-1.0)
    rows = out.collect()
    assert len(rows) == 4  # 2 sources x 2 checks
    assert {r["check_name"] for r in rows} == {"distinct", "quantile"}


def test_kcore_matches_python_peeling(spark):
    """Bounded-round peeling replayed in pure python; also checks the
    classic case where a node's degree drops below k only after its
    neighbour is peeled (cascade)."""
    import random
    from collections import defaultdict

    from ner_funtool_spark.operators.graph import kcore

    rng = random.Random(3)
    nodes = [f"n{i:02d}" for i in range(18)]
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})
    # plus a chain hanging off the graph: peels over successive rounds
    edges += [("n00", "x1"), ("x1", "x2"), ("x2", "x3")]

    def replay(es, k, rounds):
        es = set(es)
        for _ in range(rounds):
            deg = defaultdict(int)
            for u, v in es:
                deg[u] += 1
                deg[v] += 1
            keep = {n for n, d in deg.items() if d >= k}
            es = {(u, v) for u, v in es if u in keep and v in keep}
        deg = defaultdict(int)
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        return dict(deg)

    df = spark.createDataFrame(sorted(edges), "a string, b string")
    for k in (2, 3):
        got = {r["node"]: r["deg"] for r in kcore(df, k=k, rounds=5).collect()}
        assert got == replay(edges, k, 5), k


def test_ppr_matches_numpy(spark):
    from ner_funtool_spark.operators.graph import pagerank_personalized

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]  # d dangling
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["pr"] for r in
           pagerank_personalized(df, ["a"]).collect()}
    # numpy replay: teleport mass (restart + dangling) all flows to 'a'
    idx = {"a": 0, "b": 1, "c": 2, "d": 3}
    od = np.zeros(4)
    for s, _ in edges:
        od[idx[s]] += 1
    sv = np.array([1.0, 0, 0, 0])
    pr = sv.copy()
    for _ in range(5):
        contrib = np.zeros(4)
        for s, t in edges:
            contrib[idx[t]] += pr[idx[s]] / od[idx[s]]
        dm = pr[od == 0].sum()
        pr = 0.15 * sv + 0.85 * (contrib + dm * sv)
    for n, i in idx.items():
        assert abs(got[n] - pr[i]) < 1e-6, n
    # seeded node holds the plurality of the mass
    assert got["a"] == max(got.values())


def test_ppr_no_seed_in_graph_is_all_zero(spark):
    """No seed present -> every node at 0.0 (the SQL mirror's CASE
    semantics), not an empty frame."""
    from ner_funtool_spark.operators.graph import pagerank_personalized

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r["node"]: r["pr"] for r in pagerank_personalized(df, ["zz"]).collect()}
    assert got == {"a": 0.0, "b": 0.0}


def test_lpa_converged_fixed_point_and_warm_start(spark):
    """lpa_converged: reaches a fixed point; restarting from it on the
    unchanged graph costs exactly 1 confirm round and changes nothing;
    a new-node warm start stays valid (one label per node, new nodes
    seeded as their own community)."""
    from ner_funtool_spark.operators.graph import lpa_converged

    # two triangles bridged by one edge — plurality converges to one
    # label per triangle side
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"),
         ("x", "y"), ("x", "z"), ("y", "z"),
         ("c", "x")],
        "a string, b string",
    )
    cold, cold_rounds, cold_conv = lpa_converged(edges)
    assert cold_conv and cold_rounds >= 1
    labels = {r["node"]: r["community"] for r in cold.collect()}
    assert set(labels) == {"a", "b", "c", "x", "y", "z"}
    # warm restart on the unchanged graph: 1 round, identical labels
    warm, warm_rounds, warm_conv = lpa_converged(edges, init_labels=cold)
    assert warm_conv and warm_rounds == 1
    assert {r["node"]: r["community"] for r in warm.collect()} == labels
    # grown graph: warm start converges to a valid labeling (equality
    # with a cold run is NOT asserted — trajectory-dependent)
    grown = edges.union(
        spark.createDataFrame([("z", "w"), ("w", "v")], "a string, b string")
    )
    warm2, _, conv2 = lpa_converged(grown, init_labels=cold)
    got2 = {r["node"]: r["community"] for r in warm2.collect()}
    assert conv2 and set(got2) == set(labels) | {"w", "v"}


def _random_digraph(spark, n_nodes=300, n_edges=1500, seed=5):
    import random

    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n_nodes)]
    pairs = set()
    while len(pairs) < n_edges:
        pairs.add(tuple(rng.sample(nodes, 2)))
    return nodes, spark.createDataFrame(sorted(pairs), "src string, dst string")


def _as_dict(df, key="node", val="pr"):
    return {r[key]: r[val] for r in df.collect()}


def test_pagerank_forms_agree(spark):
    """The three PageRank forms share one body: fixed-iteration equals
    the converged form stopped after the same rounds (rounded like the
    fixed form), and uniform equals personalized with every node a seed."""
    import warnings

    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.graph import (
        pagerank_converged,
        pagerank_personalized,
    )

    nodes, e = _random_digraph(spark)
    want = _as_dict(pagerank(e))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # tol=0 never converges
        conv, rounds = pagerank_converged(e, tol=0.0, max_iterations=5)
    assert rounds == 5
    assert _as_dict(conv.select("node", F.round("pr", 6).alias("pr"))) == want
    assert _as_dict(pagerank_personalized(e, nodes)) == want


def test_pagerank_converged_warm_start(spark):
    """pagerank_converged(init_ranks=...): the update is an L1
    contraction, so a warm start from the half-graph fixed point lands
    on the full graph's unique fixed point; restarting from the cold
    fixed point on the unchanged graph costs at most 2 rounds; and an
    init_ranks row for a node outside the graph is dropped."""
    from ner_funtool_spark.operators.graph import pagerank_converged

    _, e = _random_digraph(spark)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    nodes = sorted({n for p in pairs for n in p})
    tol, d = 1e-9, 0.5
    want = _np_pagerank(pairs, nodes, iterations=100, d=d)

    half = spark.createDataFrame(pairs[::2], "src string, dst string")
    r_half, _ = pagerank_converged(half, tol=tol, damping=d)
    ghost = spark.createDataFrame([("ghost", 0.5)], "node string, pr double")
    warm, _ = pagerank_converged(e, tol=tol, damping=d,
                                 init_ranks=r_half.unionByName(ghost))
    got = _as_dict(warm)
    assert set(got) == set(want)  # "ghost" is not a graph node
    for node, pr in want.items():
        assert abs(got[node] - pr) <= 1e-6, node

    cold, cold_rounds = pagerank_converged(e, tol=tol, damping=d)
    _, rounds = pagerank_converged(e, tol=tol, damping=d, init_ranks=cold)
    assert rounds <= min(2, cold_rounds)


def test_label_propagation_equals_lpa_converged_horizon(spark):
    import warnings

    from ner_funtool_spark.operators.graph import label_propagation, lpa_converged

    # two triangles bridged by one edge converge; K(3,3) 2-cycles
    # (every node adopts the other side's smallest label each round)
    bridged = [("a", "b"), ("a", "c"), ("b", "c"),
               ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")]
    k33 = [(f"l{i}", f"r{j}") for i in range(3) for j in range(3)]
    for es in (bridged, k33):
        u = spark.createDataFrame(es, "a string, b string")
        for k in range(1, 6):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                conv = lpa_converged(u, max_rounds=k)[0]
            assert (_as_dict(label_propagation(u, iterations=k), val="community")
                    == _as_dict(conv, val="community")), k


def _loop_calls():
    from ner_funtool_spark.operators import graph as G
    from ner_funtool_spark.operators.components import connected_components

    return {
        "pagerank": lambda d, u: G.pagerank(d),
        "pagerank_personalized": lambda d, u: G.pagerank_personalized(d, ["n000", "n001"]),
        "pagerank_converged": lambda d, u: G.pagerank_converged(d, max_iterations=5)[0],
        "label_propagation": lambda d, u: G.label_propagation(u),
        "lpa_converged": lambda d, u: G.lpa_converged(u, max_rounds=5)[0],
        "kcore": lambda d, u: G.kcore(u, k=2),
        "connected_components": lambda d, u: connected_components(d),
    }


def _loop_graph(spark, n_nodes=40, n_edges=120):
    """A random digraph ``d`` and its unordered edge list ``u`` (a < b)."""
    from pyspark.sql import functions as F

    _, d = _random_digraph(spark, n_nodes, n_edges)
    return d, d.select(F.least("src", "dst").alias("a"),
                       F.greatest("src", "dst").alias("b")).distinct()


@pytest.mark.filterwarnings("ignore::RuntimeWarning")
@pytest.mark.parametrize("name", sorted(_loop_calls()))
def test_loop_leaves_at_most_its_result_persistent(spark, name):
    """Round checkpoints and persisted loop inputs are released: a call
    leaves exactly one new persistent RDD, its result's own checkpoint."""
    from ner_funtool_spark.operators.graph import _checkpoint_rdd

    d, u = _loop_graph(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    out = _loop_calls()[name](d, u)
    rdd = _checkpoint_rdd(out)
    assert rdd is not None
    assert set(persistent().keySet()) - before == {rdd.id()}
    assert out.count() > 0


@pytest.mark.filterwarnings("ignore::RuntimeWarning")
@pytest.mark.parametrize("name", sorted(_loop_calls()))
def test_loop_makes_no_lazy_checkpoint(spark, monkeypatch, name):
    """Every ``localCheckpoint`` a graph loop makes is eager, so no later
    job (an AQE broadcast among them) computes a round's checkpoint."""
    d, u = _loop_graph(spark)
    made, checkpoint = [], type(d).localCheckpoint

    def recording(self, eager=True, storageLevel=None):
        made.append(eager)
        return checkpoint(self, eager, storageLevel)

    monkeypatch.setattr(type(d), "localCheckpoint", recording)
    _loop_calls()[name](d, u)
    assert made and all(e is True for e in made), made


def test_round_limit_warns_only_when_unconverged(spark):
    import warnings

    from ner_funtool_spark.operators.components import connected_components
    from ner_funtool_spark.operators.graph import pagerank_converged

    nodes = [f"n{i:03d}" for i in range(40)]
    path = spark.createDataFrame(list(zip(nodes[:-1], nodes[1:])),
                                 "src string, dst string")
    with pytest.warns(RuntimeWarning, match="connected_components"):
        connected_components(path, max_iter=1).collect()
    with pytest.warns(RuntimeWarning, match="pagerank_converged"):
        _, rounds = pagerank_converged(path, max_iterations=1, tol=1e-12)
    assert rounds == 1
    # on a directed cycle the uniform start is already the fixed point
    cycle = spark.createDataFrame(list(zip(nodes, nodes[1:] + nodes[:1])),
                                  "src string, dst string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert {r["canonical_id"] for r in
                connected_components(path).collect()} == {"n000"}
        assert pagerank_converged(cycle)[1] == 1


def test_pagerank_multigraph_self_loop_and_sinks_match_numpy(spark):
    """Parallel edges count once (the node table's ``collect_set``), a
    self-loop sends a node's mass to itself, a node seen only as a
    destination is dangling, and a node whose one out-edge is its own
    self-loop is not."""
    import warnings

    from pyspark.sql import functions as F

    from ner_funtool_spark.operators.graph import pagerank_converged

    edges = [("a", "b"), ("a", "b"), ("a", "b"), ("a", "a"), ("b", "c"),
             ("c", "a"), ("c", "d"), ("c", "e"), ("e", "e"), ("f", "d"),
             ("f", "g"), ("f", "g")]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _np_pagerank(sorted(set(edges)), list("abcdefg"))
    got = _as_dict(pagerank(df))
    assert set(got) == set(want)
    for node, pr in want.items():
        assert abs(got[node] - pr) < 1e-6, node
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        conv, rounds = pagerank_converged(df, tol=0.0, max_iterations=5)
    assert rounds == 5
    full = _as_dict(conv)
    for node, pr in want.items():
        assert abs(full[node] - pr) < 1e-12, node
    assert _as_dict(conv.select("node", F.round("pr", 6).alias("pr"))) == got


def _pagerank_forms():
    from ner_funtool_spark.operators import graph as G

    return {
        "pagerank": lambda d: (G.pagerank(d), G.PR_ITERATIONS),
        "pagerank_personalized": lambda d: (
            G.pagerank_personalized(d, ["n000", "n001"]), G.PR_ITERATIONS),
        "pagerank_converged": lambda d: G.pagerank_converged(d, tol=1e-6),
    }


@pytest.mark.parametrize("name", sorted(_pagerank_forms()))
def test_pagerank_jobs_per_round_bounded(spark, name):
    """A round is one shuffle whose scalars ride its own checkpoint job:
    at most 2 jobs a round (AQE runs the map stage as a job of its own)
    plus at most 4 for the node table, the initial state and the
    result."""
    _, d = _random_digraph(spark, n_nodes=60, n_edges=240)
    sc = spark.sparkContext
    group = f"pagerank-jobs-{name}"
    sc.setJobGroup(group, group)
    try:
        _, rounds = _pagerank_forms()[name](d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rounds >= 1
    assert jobs <= 2 * rounds + 4, (jobs, rounds)


@pytest.mark.parametrize("name", sorted(_pagerank_forms()))
def test_pagerank_round_plan_is_one_exchange(spark, monkeypatch, name):
    """Every round's physical plan has exactly one hash Exchange and
    no join or broadcast: the node rows carry their out-edges, so the
    messages and the rows meet in one aggregation."""
    from ner_funtool_spark.operators import graph as G

    rounds, iterate = [], G._iterate

    def recording(state, step, *args, **kwargs):
        def recorded(s):
            rounds.append(step(s))
            return rounds[-1]
        return iterate(state, recorded, *args, **kwargs)

    monkeypatch.setattr(G, "_iterate", recording)
    _, d = _random_digraph(spark, n_nodes=40, n_edges=120)
    _pagerank_forms()[name](d)
    assert rounds
    for frame in rounds:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[-1]
        assert plan.count("Exchange hashpartitioning") == 1, plan
        for op in ("BroadcastExchange", "Join", "CartesianProduct"):
            assert op not in plan, plan


def test_lpa_converged_check_costs_no_job(spark):
    """The "no label changed" check is observed on each round's own
    checkpoint job.  On this graph (13 rounds to the fixed point) a
    separate join + count check job per round runs 108 jobs, 8.3 a
    round; the observed check runs 84, 6.5 a round (AQE runs each
    shuffle's map stage as a job of its own)."""
    from ner_funtool_spark.operators.graph import lpa_converged

    _, u = _loop_graph(spark, n_nodes=100, n_edges=400)
    sc = spark.sparkContext
    group = "lpa-converged-jobs"
    sc.setJobGroup(group, group)
    try:
        _, rounds, converged = lpa_converged(u)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert converged and rounds >= 5
    assert jobs <= 7 * rounds, (jobs, rounds)
