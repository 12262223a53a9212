"""Similarity search over the embeddings table (array<float> column).

Top-k paths, same contract (query ids -> ranked neighbors):

* brute-force — exact baseline.  The dot product is a JVM-side
  ``aggregate(zip_with(a, b, *), +)`` expression (whole-stage codegen,
  no Python), with the query side broadcast: one pass over the corpus
  per batch of queries, which is also the correct 100 TB plan when the
  query set is small.
* scale paths — random-hyperplane LSH (seeded literal planes shared
  with the DuckDB oracle), IVF lists, and PQ/OPQ asymmetric distance
  over 8 code bytes per vector.  Recall < 1 by design; each oracle
  mirrors the same candidate rule, so the comparison is still exact.

Also near_duplicates_cosine (all pairs above a cosine threshold,
LSH-bucketed candidates + exact verify) and the trainers behind the
seeded index state (kmeans_centroids, pq_train_codebooks, opq_train).

Rank rule (``_ranked``, every top-k form): order by the 6-decimal
ROUNDED score (cosine descending, ADC distance ascending), then
neighbor id, and the DuckDB oracles order the same way (r2 ADVICE
item 1).  Ordering by the unrounded value would require bit-identical
doubles across engines, which the differing summation orders (Spark
left-fold vs DuckDB aggregate) do not guarantee; rounding absorbs the
ulp noise and the id tie-break makes the rank total.  Thresholds
(near-dup) still compare the unrounded value on both sides.

Shared cores: ``_ranked``; ``_cosine_topk`` (exact cosine re-rank of a
candidate side against a broadcast query side); ``_subvectors`` (the
cast-once PQ subvector cut); ``_lloyd`` (Lloyd's iterations over
driver-held codebooks, behind both k-means trainers).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SEED
from .graph import _checkpoint_rdd

LSH_PLANES = 8  # 2^8 buckets
EMBED_DIM = 64  # driver embeddings table dimension


def hyperplanes(n_planes: int = LSH_PLANES, dim: int = EMBED_DIM,
                seed: int = SEED) -> list[list[float]]:
    """Deterministic hyperplanes, rounded so SQL literals are exact."""
    rng = np.random.RandomState(seed + 7)
    h = rng.randn(n_planes, dim)
    return [[round(float(v), 6) for v in row] for row in h]


def _f64(a):
    """Pin vector kernels to DOUBLE arithmetic over the float32-stored
    embeddings.  Without this, Spark's zip_with multiplies in float32
    while DuckDB's list arithmetic promotes to double — a ~1e-8 score
    discrepancy that flips the 6-decimal rounding whenever a score
    lands on a .5e-6 boundary (latent at small sfs; the sf1 sweep's
    87k near-dup replica pairs surfaced one).  Casting the inputs
    makes both engines do identical double math on the same
    32-bit-exact values; casting a double array is a no-op.

    r6 perf note: every call site pre-casts the embedding ONCE in the
    projection that feeds a join/crossJoin (``_bucketed``,
    ``_subvectors`` and the top-k side selects), so inside the per-pair
    kernels this cast is a no-op that Catalyst's SimplifyCasts removes
    (see ``_subvectors`` for the r5 regression it avoids)."""
    return a.cast("array<double>")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(_f64(a), _f64(b), lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(_f64(a), F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x * x)
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _ranked(scored: DataFrame, k: int, score: str, order) -> DataFrame:
    """(query_id, neighbor_id, ``score``, rank): the ``k`` best rows per
    query under the module's rank rule — ``order`` (F.desc / F.asc) of
    the already-rounded ``score``, then neighbor id ascending."""
    w = Window.partitionBy("query_id").orderBy(order(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, F.col("rank").cast("int").alias("rank"))
    )


def _cosine_topk(c: DataFrame, q: DataFrame, k: int, on=None) -> DataFrame:
    """Exact cosine top-k of the candidate side ``c`` (neighbor_id, nv)
    against the broadcast query side ``q`` (query_id, qv), equi-joined
    on ``on`` (a crossJoin when None), self-pairs dropped.  Both vector
    columns arrive double-cast; each side's norm is computed once per
    ROW before the join, so per pair only the dot fold and a divide
    remain (guide §2.3/§4)."""
    c = c.withColumn("nn", _norm(F.col("nv")))
    q = F.broadcast(q.withColumn("qn", _norm(F.col("qv"))))
    scored = (
        (c.crossJoin(q) if on is None else c.join(q, on))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6),
        )
    )
    return _ranked(scored, k, "score", F.desc)


def topk_bruteforce(embeddings: DataFrame, query_ids: list[int], k: int,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, score, rank) exact top-k by cosine.

    Ties broken by neighbor id ascending so results are deterministic.
    """
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), _f64(F.col(vec_col)).alias("qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _f64(F.col(vec_col)).alias("nv")
    )
    return _cosine_topk(c, q, k)


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id from literal hyperplanes — pure codegen."""
    bucket = F.lit(0).cast("bigint")
    for j, p in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in p])
        bit = (_dot(vec_col, arr) > 0).cast("bigint")
        bucket = bucket + F.shiftleft(bit, j)
    return bucket


def _bucketed(embeddings: DataFrame, id_col: str, vec_col: str,
              n_planes: int, seed: int) -> DataFrame:
    """(id, vec, bucket): the vector cast to double ONCE per row, ahead
    of the n_planes plane-dot bucket projection and every kernel after
    it."""
    planes = hyperplanes(n_planes, seed=seed)
    return embeddings.select(
        F.col(id_col), _f64(F.col(vec_col)).alias(vec_col)
    ).withColumn("bucket", lsh_bucket(F.col(vec_col), planes))


def topk_lsh(embeddings: DataFrame, query_ids: list[int], k: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = LSH_PLANES, seed: int = SEED) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within the query's LSH
    bucket only (same-bucket recall; the oracle mirrors the bucketing)."""
    e = _bucketed(embeddings, id_col, vec_col, n_planes, seed)
    q = e.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    c = e.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"), "bucket"
    )
    return _cosine_topk(c, q, k, "bucket")


def topk_lsh_multiprobe(embeddings: DataFrame, query_ids: list[int], k: int,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_planes: int = LSH_PLANES, seed: int = SEED) -> DataFrame:
    """Multi-probe LSH top-k (round-2 extension): each query probes its
    own bucket PLUS every Hamming-1 neighbor bucket (one sign flip per
    hyperplane) — the standard recall lever that costs n_planes+1 probe
    keys on the (tiny, broadcast) query side instead of more tables.
    Corpus rows still carry exactly one bucket, so candidates are
    naturally distinct; exact cosine re-ranks within the probed set.
    """
    e = _bucketed(embeddings, id_col, vec_col, n_planes, seed)
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
    )
    q = e.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        probes.alias("bucket"),
    )
    c = e.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"), "bucket"
    )
    return _cosine_topk(c, q, k, "bucket")


IVF_CENTROIDS = 8
IVF_NPROBE = 2


def seeded_centroids(n: int = IVF_CENTROIDS, dim: int = EMBED_DIM,
                     seed: int = SEED) -> list[list[float]]:
    """Deterministic coarse-quantizer anchors (rounded so the DuckDB
    oracle embeds exactly the same literals).  A trained k-means
    centroid table (kmeans_centroids) is a drop-in replacement — the
    driver query uses seeded anchors because the oracle must be
    expressible without running the trainer."""
    rng = np.random.RandomState(seed + 13)
    h = rng.randn(n, dim)
    return [[round(float(v), 6) for v in row] for row in h]


def _centroid_df(spark, centroids: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cid int, cvec array<double>",
    )


def assign_clusters(embeddings: DataFrame, centroids: list[list[float]],
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    nprobe: int = 1) -> DataFrame:
    """(id, vec, cid, probe_rank): each vector's ``nprobe`` nearest
    centroids by cosine (rank 1 = the IVF list it belongs to).
    The centroid table is tiny -> broadcast crossJoin + per-row window;
    ties break by cid ascending (deterministic, oracle-mirrored).

    Perf: the vector is cast to double and its norm computed ONCE per
    row before the 8-way centroid fan-out; each centroid's norm lives
    on the (8-row) centroid table — per (row, centroid) only the dot
    fold and a divide remain.  Identical doubles (same folds, hoisted).
    The returned ``vec_col`` is the double-cast array (same values)."""
    spark = embeddings.sparkSession
    cent = _centroid_df(spark, centroids).withColumn("_cn", _norm(F.col("cvec")))
    scored = embeddings.select(
        F.col(id_col), _f64(F.col(vec_col)).alias(vec_col)
    ).withColumn("_vn", _norm(F.col(vec_col))).crossJoin(
        F.broadcast(cent)
    ).withColumn(
        "ccos",
        _dot(F.col(vec_col), F.col("cvec")) / (F.col("_vn") * F.col("_cn")),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("cid"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(id_col, vec_col, "cid", "probe_rank")
    )


def topk_ivf(embeddings: DataFrame, query_ids: list[int], k: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: list[list[float]] | None = None,
             nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their nearest-centroid
    list (one cluster each); a query probes its ``nprobe`` nearest
    lists and re-ranks exactly inside them.  The scale path next to
    LSH: cluster-sized candidate sets, equi-join on cid, and the
    centroid table is the only broadcast state."""
    if centroids is None:
        centroids = seeded_centroids()
    corpus = assign_clusters(embeddings, centroids, id_col, vec_col, nprobe=1)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"), "cid"
    )
    q = assign_clusters(
        embeddings.filter(F.col(id_col).isin(query_ids)),
        centroids, id_col, vec_col, nprobe=nprobe,
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cid")
    return _cosine_topk(c, q, k, "cid")


def kmeans_centroids(embeddings: DataFrame, n_clusters: int = IVF_CENTROIDS,
                     iterations: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[list[float]]:
    """Distributed Lloyd's k-means (cosine assignment, mean update) —
    the trainer behind topk_ivf for real corpora: ``_lloyd`` with one
    codebook whose assignment is ``assign_clusters``.

    Deterministic: init = the ``n_clusters`` lowest-id vectors; each
    iteration is one broadcast crossJoin assignment + one element-wise
    mean; the k x dim centroid table collects to the driver per
    iteration (it is broadcast state, not data).  Empty clusters keep
    their previous centroid."""
    first = embeddings.orderBy(id_col).limit(n_clusters).select(vec_col).collect()

    def assign(cb):
        return assign_clusters(embeddings, cb[0], id_col, vec_col).select(
            F.lit(0).alias("m"), F.col("cid").alias("code"),
            F.col(vec_col).alias("sv"),
        )

    init = [[[float(v) for v in r[vec_col]] for r in first]]
    return _lloyd(init, assign, iterations)[0]


def near_duplicates_cosine(embeddings: DataFrame, threshold: float,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           n_planes: int = LSH_PLANES, seed: int = SEED,
                           exact: bool = False) -> DataFrame:
    """(a, b, score) pairs with cosine >= threshold.

    exact=False (default, the scale path): candidates share an LSH
    bucket.  exact=True: full O(n²) verification — the small-SF oracle
    baseline.
    """
    if exact:
        e = embeddings.select(F.col(id_col), _f64(F.col(vec_col)).alias(vec_col))
    else:
        e = _bucketed(embeddings, id_col, vec_col, n_planes, seed)
    on = [] if exact else ["bucket"]
    a = e.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"), *on) \
        .withColumn("na", _norm(F.col("va")))
    b = e.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), *on) \
        .withColumn("nb", _norm(F.col("vb")))
    pairs = (a.join(b, on) if on else a.crossJoin(b)).filter(F.col("a") < F.col("b"))
    # norms hoisted to the per-row projections above; the raw score is
    # computed ONCE (threshold compares the unrounded value, the
    # reported column rounds it — the repo's cross-engine rule)
    sc = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("_sc", sc)
        .filter(F.col("_sc") >= threshold)
        .select("a", "b", F.round("_sc", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-side ANN scale path
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_K = 16       # codes per subspace
PQ_SUBDIM = EMBED_DIM // PQ_M


def seeded_pq_codebooks(m: int = PQ_M, k: int = PQ_K,
                        subdim: int = PQ_SUBDIM,
                        seed: int = SEED) -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks, rounded so the DuckDB
    oracle embeds exactly the same literals (same contract as
    seeded_centroids: a trained sub-k-means is a drop-in)."""
    rng = np.random.RandomState(seed + 29)
    cb = rng.randn(m, k, subdim)
    return [[[round(float(v), 6) for v in code] for code in sub] for sub in cb]


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(_f64(a), _f64(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _pq_codebook_df(spark, codebooks):
    return spark.createDataFrame(
        [(m, j, [float(v) for v in code])
         for m, sub in enumerate(codebooks) for j, code in enumerate(sub)],
        "m int, j int, cvec array<double>",
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, m: int,
                subdim: int, out_id: str) -> DataFrame:
    """(out_id, m, sv): each vector cut into ``m`` subvectors of
    ``subdim`` doubles.  The cast to double runs ONCE per vector BEFORE
    the slice/explode: the r5 form cast ``sv`` inside _l2sq per
    codebook-join OUTPUT row (16x per (id, m)) — the ann_topk_pq ~4x
    regression.  Identical values: cast(slice(x)) == slice(cast(x))."""
    v64 = _f64(F.col(vec_col))
    subs = F.array(*[
        F.struct(F.lit(i).alias("m"),
                 F.slice(v64, i * subdim + 1, subdim).alias("sv"))
        for i in range(m)
    ])
    return df.select(F.col(id_col).alias(out_id), F.explode(subs).alias("s")) \
        .select(out_id, F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _nearest_codes(sub: DataFrame, cb: DataFrame, id_col: str) -> DataFrame:
    """(id, m, code): per (id, m) the codeword nearest ``sv`` in squared
    L2, picked by a min-struct (distance then code id — a total order,
    deterministic, oracle-mirrored).  No UDF: the distance is a codegen
    fold against the broadcast codebook."""
    return (
        sub.join(F.broadcast(cb), "m")
        .withColumn("d", _l2sq(F.col("sv"), F.col("cvec")))
        .groupBy(id_col, "m")
        .agg(F.min(F.struct(F.col("d").alias("d"), F.col("j").alias("j"))).alias("mn"))
        .select(id_col, "m", F.col("mn.j").alias("code"))
    )


def pq_encode(embeddings: DataFrame, codebooks=None, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, m, code): each vector compressed to PQ_M code ids — 8 bytes
    instead of 64 doubles, the 64x memory cut that lets a 100 TB
    embedding corpus live in executor memory for candidate scoring.

    Relational shape: explode each vector into its M subvectors, join
    the 128-row codebook (broadcast), argmin per (id, m).
    """
    if codebooks is None:
        codebooks = seeded_pq_codebooks()
    cb = _pq_codebook_df(embeddings.sparkSession, codebooks)
    subdim = len(codebooks[0][0])  # derive the stride from the codebook
    sub = _subvectors(embeddings, id_col, vec_col, len(codebooks), subdim, id_col)
    return _nearest_codes(sub, cb, id_col)


def _pq_query_table(embeddings: DataFrame, query_ids: list[int], codebooks,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(query_id, m, code, qd): each query's per-subspace distance
    table against the full codebook — M*K rows per query, the only
    broadcast state ADC scoring needs."""
    cb = _pq_codebook_df(embeddings.sparkSession, codebooks)
    return (
        _subvectors(embeddings.filter(F.col(id_col).isin(query_ids)), id_col,
                    vec_col, len(codebooks), len(codebooks[0][0]), "query_id")
        .join(F.broadcast(cb), "m")
        .select("query_id", "m", F.col("j").alias("code"),
                _l2sq(F.col("sv"), F.col("cvec")).alias("qd"))
    )


def topk_pq(embeddings: DataFrame, query_ids: list[int], k: int,
            id_col: str = "vec_id", vec_col: str = "embedding",
            codebooks=None) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus vectors are scored
    against a query through their 8 code ids only — per (query, m)
    the query precomputes a 16-entry distance table, and a candidate's
    approximate distance is the sum of 8 table lookups.

    (query_id, neighbor_id, adist, rank), adist ascending.  Everything
    is an equi-join: codes ⋈ query-table on (m, code), then one
    aggregation — at scale this composes with the IVF lists (probe
    cluster -> ADC-score its list -> exact re-rank survivors); here the
    full-scan form is the oracle-checked unit.
    """
    if codebooks is None:
        codebooks = seeded_pq_codebooks()
    codes = pq_encode(embeddings, codebooks, id_col, vec_col) \
        .withColumnRenamed(id_col, "neighbor_id")
    qtab = _pq_query_table(embeddings, query_ids, codebooks, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(qtab), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("qd"), 6).alias("adist"))
    )
    return _ranked(scored, k, "adist", F.asc)


def topk_ivf_pq(embeddings: DataFrame, query_ids: list[int], k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                centroids: list[list[float]] | None = None,
                codebooks=None, nprobe: int = IVF_NPROBE) -> DataFrame:
    """The composed 100 TB ANN shape: IVF lists bound the candidate
    set (probe ``nprobe`` clusters), PQ/ADC scores the survivors
    through 8 code bytes each — neither the raw vectors nor the full
    corpus ever enter the scoring join.  Per query the scan cost is
    (corpus/n_lists)*nprobe candidates x 8 integer lookups, and the
    candidate state is 64x smaller than the float vectors.

    (query_id, neighbor_id, adist, rank), adist ascending.
    """
    if centroids is None:
        centroids = seeded_centroids()
    if codebooks is None:
        codebooks = seeded_pq_codebooks()
    corpus_cid = assign_clusters(embeddings, centroids, id_col, vec_col,
                                 nprobe=1).select(
        F.col(id_col).alias("neighbor_id"), "cid"
    )
    codes = pq_encode(embeddings, codebooks, id_col, vec_col) \
        .withColumnRenamed(id_col, "neighbor_id")
    cand = codes.join(corpus_cid, "neighbor_id")
    q = embeddings.filter(F.col(id_col).isin(query_ids))
    q_probe = assign_clusters(q, centroids, id_col, vec_col,
                              nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), "cid"
    )
    qtab = _pq_query_table(embeddings, query_ids, codebooks, id_col, vec_col)
    scored = (
        cand.join(F.broadcast(q_probe), "cid")
        .join(F.broadcast(qtab), ["query_id", "m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("qd"), 6).alias("adist"))
    )
    return _ranked(scored, k, "adist", F.asc)


def _mean_vectors(rows: DataFrame, keys: list[str], vec: str) -> list:
    """Collected (*keys, cvec) rows: the element-wise mean of the
    ``vec`` arrays per ``keys`` group (posexplode + groupBy(*keys, pos),
    reassembled in position order)."""
    return (
        rows.select(*keys, F.posexplode(vec).alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.avg("v").alias("mv"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("xs"))
        .select(*keys, F.transform("xs", lambda x: x["mv"]).alias("cvec"))
        .collect()
    )


def _lloyd(codebooks, assign, iterations: int):
    """Lloyd's iterations over driver-held codebooks indexed
    ``[m][code]``.  ``assign(codebooks)`` returns one (m, code, sv) row
    per point and subspace; each iteration moves every code to the
    mean of its points, and a code that gets no points keeps its
    vector.  Only the codebooks reach the driver (broadcast state, not
    data)."""
    for _ in range(iterations):
        new = [list(sub) for sub in codebooks]
        for r in _mean_vectors(assign(codebooks), ["m", "code"], "sv"):
            vec = [float(v) for v in r["cvec"]]
            if len(vec) == len(new[r["m"]][r["code"]]):
                new[r["m"]][r["code"]] = vec
        codebooks = new
    return codebooks


def pq_train_codebooks(embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K,
                       iterations: int = 5, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       init_codebooks=None) -> list[list[list[float]]]:
    """Per-subspace Lloyd's k-means on squared L2 — the trainer behind
    topk_pq for real corpora (seeded_pq_codebooks is the oracle-able
    stand-in, exactly the kmeans_centroids/seeded_centroids split).

    All M subspaces train in the SAME distributed pass (``_lloyd``):
    the corpus is cut once into (id, m, subvector) rows, assignment is
    one broadcast join + min-struct argmin keyed by (id, m), the update
    is one element-wise mean per (m, code, pos).  Only the M*K*SUBDIM
    codebook (1k floats) ever reaches the driver.  Deterministic: init
    from the k lowest-id vectors' subvectors, or ``init_codebooks``
    when warm-starting (the OPQ alternation needs Lloyd to DESCEND from
    the current solution, not restart); empty codes keep their previous
    centroid.
    """
    spark = embeddings.sparkSession
    # subspace width follows the DATA and the requested m, not the
    # module default — m=4 over 64 dims trains 4x16-dim codebooks;
    # warm starts derive it from the codebooks and skip the cold-init
    # collect entirely (review finding)
    if init_codebooks is not None:
        subdim = len(init_codebooks[0][0])
        cb = [[list(map(float, code)) for code in sc] for sc in init_codebooks]
    else:
        subdim = len(embeddings.select(vec_col).first()[vec_col]) // m
        first = embeddings.orderBy(id_col).limit(k).select(vec_col).collect()
        cb = [[[float(v) for v in r[vec_col][i * subdim:(i + 1) * subdim]]
               for r in first] for i in range(m)]
    sub = _subvectors(embeddings, id_col, vec_col, m, subdim, "vid").persist()

    def assign(cb):
        codes = _nearest_codes(sub, _pq_codebook_df(spark, cb), "vid")
        return codes.join(sub, ["vid", "m"])

    cb = _lloyd(cb, assign, iterations)
    sub.unpersist()
    return cb


def pq_distortion(embeddings: DataFrame, codebooks,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """1-row (total) quantization distortion: sum over (vector,
    subspace) of the squared-L2 distance to the nearest codeword — the
    objective k-means minimizes, the gate metric for trained vs seeded
    codebooks."""
    cb = _pq_codebook_df(embeddings.sparkSession, codebooks)
    sub = _subvectors(embeddings, id_col, vec_col, len(codebooks),
                      len(codebooks[0][0]), "vid")
    return (
        sub.join(F.broadcast(cb), "m")
        .withColumn("d", _l2sq(F.col("sv"), F.col("cvec")))
        .groupBy("vid", "m").agg(F.min("d").alias("dmin"))
        .agg(F.sum("dmin").alias("total"))
    )


def _rotation_df(spark, rotation):
    """(i, j, r): row-major entries of the DxD rotation — broadcast
    dimension state, like the codebook table."""
    return spark.createDataFrame(
        [(i, j, float(rotation[i][j]))
         for i in range(len(rotation)) for j in range(len(rotation[i]))],
        "i int, j int, r double",
    )


def rotate_embeddings(embeddings: DataFrame, rotation,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """x -> R·x as pure relational algebra: unnest the vector, join the
    broadcast rotation entries on the input index, sum per output
    index, reassemble ordered.  O(n·D²) work — the standard OPQ
    rotation cost — with only the D² rotation as broadcast state; a
    BLAS pandas_udf is the drop-in when D grows, same contract."""
    spark = embeddings.sparkSession
    rdf = _rotation_df(spark, rotation)
    flat = embeddings.select(
        F.col(id_col), F.posexplode(vec_col).alias("j", "v")
    )
    return (
        flat.join(F.broadcast(rdf), "j")
        .groupBy(id_col, "i")
        .agg(F.sum(F.col("v") * F.col("r")).alias("rv"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("i", "rv"))).alias("xs"))
        .select(id_col,
                F.transform("xs", lambda x: x["rv"]).alias(vec_col))
    )


def opq_train(embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K,
              iterations: int = 2, pq_iterations: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding"):
    """OPQ-style training: an orthogonal rotation R ahead of the PQ
    split, alternately optimized with the codebooks (OPQ's
    non-parametric alternation: fix codes -> R by orthogonal
    Procrustes; fix R -> codebooks by warm-started Lloyd).

    Descent is MONOTONE from the plain-PQ solution: R starts at
    identity with the plain trained codebooks, the Procrustes step is
    the exact minimizer of ||R·x - reconstruction||² over orthogonal R
    for fixed assignments, and the warm-started Lloyd step never
    increases the objective — so trained-OPQ distortion <= trained-PQ
    distortion by construction (the driver invariants gate).

    Distributed shape: the Procrustes sufficient statistic
    M = Σ_i y_i·x_iᵀ is one relational join+agg (only the D² matrix
    reaches the driver for a 64x64 SVD); everything else reuses the PQ
    trainer's passes.  Returns (rotation, codebooks).
    """
    spark = embeddings.sparkSession
    dim = len(embeddings.select(vec_col).first()[vec_col])
    subdim = dim // m
    rot = np.eye(dim)
    emb = embeddings.select(id_col, vec_col).persist()
    # rot starts at identity, so the rotated view IS the corpus —
    # each loop iteration rotates the corpus exactly ONCE (after the
    # Procrustes update) and the next iteration reuses it (review
    # finding: the first cut re-rotated per iteration for nothing)
    rotated = emb
    cb = pq_train_codebooks(rotated, m=m, k=k, iterations=pq_iterations,
                            id_col=id_col, vec_col=vec_col)

    def release(df):
        # drop a superseded eager checkpoint (the identity start is the
        # persisted corpus itself, released with ``emb`` below)
        rdd = _checkpoint_rdd(df)
        if rdd is not None:
            rdd.unpersist(False)

    for _ in range(iterations):
        # reconstruction of each rotated vector from its codes
        enc = pq_encode(rotated, cb, id_col=id_col, vec_col=vec_col)
        cbdf = _pq_codebook_df(spark, cb)
        recon = (
            enc.join(F.broadcast(cbdf).withColumnRenamed("m", "cm"),
                     (enc["m"] == F.col("cm")) & (enc["code"] == F.col("j")))
            .select(id_col, "m", "cvec")
            .select(id_col, "m", F.posexplode("cvec").alias("pos", "y"))
            .select(id_col, (F.col("m") * subdim + F.col("pos")).alias("p"),
                    "y")
        )
        x_flat = emb.select(id_col, F.posexplode(vec_col).alias("q", "x"))
        mat = (
            recon.join(x_flat, id_col)
            .groupBy("p", "q")
            .agg(F.sum(F.col("y") * F.col("x")).alias("s"))
            .collect()
        )
        M = np.zeros((dim, dim))
        for r in mat:
            M[r["p"], r["q"]] = r["s"]
        u, _, vt = np.linalg.svd(M)
        rot = u @ vt
        release(rotated)
        rotated = rotate_embeddings(
            emb, rot.tolist(), id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=True)
        cb = pq_train_codebooks(rotated, m=m, k=k,
                                iterations=pq_iterations,
                                id_col=id_col, vec_col=vec_col,
                                init_codebooks=cb)
    release(rotated)
    emb.unpersist()
    return rot.tolist(), cb


def seeded_rotation(dim: int = EMBED_DIM, seed: int = SEED):
    """Deterministic orthogonal rotation (QR of a seeded gaussian),
    entries rounded to 6 decimals so the DuckDB oracle embeds exactly
    the same literals — the seeded stand-in for a trained OPQ rotation
    (same contract as seeded_pq_codebooks vs pq_train_codebooks)."""
    rng = np.random.RandomState(seed + 41)
    q, _ = np.linalg.qr(rng.randn(dim, dim))
    return [[round(float(v), 6) for v in row] for row in q]


def rotate_embeddings_exact(embeddings: DataFrame, rotation,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """x -> round(R·x, 6) as ONE codegen projection of sequential-fold
    dot products (F.aggregate) — the cross-engine-deterministic
    rotation for oracle-backed queries: the DuckDB mirror's
    list_sum(list_transform(...)) adds in the same element order, so
    the rounded doubles hash identically (the established _l2sq/_dot
    mechanics).  The relational ``rotate_embeddings`` (groupBy sum,
    nondeterministic fp order) stays the trainer-side path."""
    cols = []
    for row in rotation:
        r = F.array(*[F.lit(float(v)) for v in row])
        cols.append(
            F.round(
                F.aggregate(
                    F.zip_with(F.col(vec_col), r, lambda x, y: x * y),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x,
                ),
                6,
            )
        )
    return embeddings.select(F.col(id_col), F.array(*cols).alias(vec_col))


def topk_opq(embeddings: DataFrame, query_ids: list[int], k: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             rotation=None, codebooks=None) -> DataFrame:
    """OPQ-shaped ANN: rotate (seeded orthogonal R, rounded) then PQ
    ADC top-k — the composed rotation+quantization serving path.  With
    trained (rotation, codebooks) from opq_train this is production
    OPQ; with the seeded pair the ENTIRE path is value-hash-checked
    against the DuckDB mirror (rotation literals shared)."""
    if rotation is None:
        rotation = seeded_rotation()
    rotated = rotate_embeddings_exact(embeddings, rotation,
                                      id_col=id_col, vec_col=vec_col)
    return topk_pq(rotated, query_ids, k, id_col=id_col, vec_col=vec_col,
                   codebooks=codebooks)


def topk_ivf_opq(embeddings: DataFrame, query_ids: list[int], k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 rotation=None, centroids=None, codebooks=None,
                 nprobe: int = IVF_NPROBE) -> DataFrame:
    """The fully-composed production ANN: rotation (OPQ) -> IVF probed
    lists bound the candidates -> PQ/ADC scores them.  One rotation
    pass, then every stage an equi-join; with the seeded (R, centroids,
    codebooks) the whole composition is value-hash-checked."""
    if rotation is None:
        rotation = seeded_rotation()
    rotated = rotate_embeddings_exact(embeddings, rotation,
                                      id_col=id_col, vec_col=vec_col)
    return topk_ivf_pq(rotated, query_ids, k, id_col=id_col,
                       vec_col=vec_col, centroids=centroids,
                       codebooks=codebooks, nprobe=nprobe)
