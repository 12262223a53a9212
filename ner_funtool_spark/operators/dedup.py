"""Deduplication operators for large-scale training-data pipelines.

Five detectors over the ``documents`` table, all expressed with
JVM-side expressions (codegen) + equi-joins on blocking keys — the
shapes that survive a 100 TB corpus:

* exact          — hash groupBy on md5(text); one shuffle.
* ngram jaccard  — token 3-gram shingles; candidates share a shingle
                   (equi-join on shingle), verified by exact jaccard.
* minhash + LSH  — k universal hashes over the cross-engine md5 hash
                   (functions/hashing.py), banded; candidates share a
                   band bucket.  The scale path: candidate count is
                   O(near-dups), not O(n²).
* simhash        — 64-bit sign-aggregated token-hash fingerprint;
                   candidate blocking is the (max_distance + 1)-block
                   pigeonhole: two fingerprints within Hamming distance
                   d differ in at most d blocks, so they MUST agree on
                   at least one of d+1 blocks — candidate recall is
                   guaranteed for the advertised distance, then
                   verified by bit_count(xor) <= max_distance.
* embedding cosine — see operators/similarity.py (near_duplicates_cosine).

Skew safety: ngram-jaccard caps the document frequency of blocking
shingles (``max_df``) so one boilerplate shingle can never create an
O(df²) candidate block; dropped shingles are logged, never silent.

Every detector is deterministic and mirrored by a DuckDB oracle in
oracles.py; hash parameters are literals generated from config.SEED so
both engines compute identical signatures.

Caching: the shingle DataFrames are persisted (MEMORY_AND_DISK) because
each feeds 2-3 downstream plans in the same query; the cache lives for
the session and relies on Spark's LRU eviction — an intentional,
documented tradeoff (a long-lived session re-running these per query
re-uses the hot blocks instead of rescanning the corpus).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SEED
from ..functions.hashing import (
    MERSENNE_P,
    md5_int2_col,
    md5_int_col,
    minhash_params,
)

logger = logging.getLogger(__name__)

SHINGLE_K = 3
MINHASH_K = 16
LSH_BANDS = 4  # rows per band = MINHASH_K // LSH_BANDS = 4
SIMHASH_BITS = 64
MAX_SHINGLE_DF = 1000  # blocking-key document-frequency cap
INT64_MIN = -(1 << 63)  # two's-complement value of bit 63


def exact_duplicates(documents: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical docs -> (keep_id, dup_id) rows."""
    h = documents.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    groups = h.groupBy("h").agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n")
    )
    return (
        h.join(groups.filter(F.col("n") > 1), "h")
        .filter(F.col(id_col) != F.col("keep_id"))
        .select("keep_id", F.col(id_col).alias("dup_id"))
    )


def shingles(documents: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", k: int = SHINGLE_K) -> DataFrame:
    """(id, shingle) rows: k-token shingles, space-joined, DISTINCT per doc."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return (
        documents.filter(n >= k)
        .select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(documents: DataFrame, threshold: float,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = SHINGLE_K,
                        max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """(a, b, score) doc pairs with shingle-set jaccard >= threshold.

    Candidates = pairs sharing >= 1 *blocking* shingle; a blocking
    shingle is one whose document frequency is <= ``max_df``.  Hotter
    shingles (license boilerplate, common code idioms) are excluded
    from candidate generation — otherwise a single shingle with df=D
    yields O(D²) candidate rows on one skewed key.  Verification uses
    the FULL shingle sets, so reported jaccard scores are exact; the
    only approximation is recall for pairs whose overlap consists
    ENTIRELY of >max_df shingles.  Dropped shingles are logged, never
    silent.
    """
    sh = shingles(documents, text_col, id_col, k).persist()
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    hot = df_counts.filter(F.col("_df") > max_df)
    n_hot = hot.count()
    if n_hot:
        sample = [r["shingle"] for r in hot.orderBy(F.desc("_df")).head(5)]
        logger.warning(
            "ngram_jaccard_pairs: %d shingles over max_df=%d dropped "
            "from candidate blocking (top: %s)", n_hot, max_df, sample)
    block_sh = sh.join(
        df_counts.filter(F.col("_df") <= max_df).select("shingle"), "shingle"
    )
    cand = (
        block_sh.select(F.col(id_col).alias("a"), "shingle")
        .join(block_sh.select(F.col(id_col).alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return _verify_jaccard(cand, sh, id_col, threshold)


def _verify_jaccard(cand: DataFrame, sh: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact-jaccard verification of (a, b) candidates against the full
    shingle table — candidate-proportional, shared by ngram + LSH paths.

    r6 shape (guide §2.3 "shuffle fewer bytes", measured 6-9 s -> ~1 s
    at sf0.1): the r5 form joined candidates against the (id, shingle)
    table on BOTH sides, materializing |pairs| x |shingles-per-doc|
    intermediate rows through a shuffle (~60 M rows for 1.1 M pairs at
    sf0.1 — and the very join that exceeded the sf1 cap on near-dup
    cliques).  Instead, fold each doc's DISTINCT shingles into ONE
    array row (bounded by doc length), join the candidate pairs against
    that per-doc dimension twice (narrow 2-column shuffle), and compute
    the exact intersection per pair with ``array_intersect`` in codegen.
    Intersection counts, sizes and scores are integer/double-identical
    to the join-and-count form; ``ni > 0`` keeps the inner-join-on-
    shingle semantics (a pair with no overlap never surfaced there).
    """
    # shuffle-hash hint: the per-doc set dimension is UNBOUNDED at
    # corpus scale, so broadcasting it is wrong at 100 TB — and locally
    # the broadcast build of array-typed rows measured 2-3x slower than
    # the shuffled hash join (11-15 s vs 4-5 s full-query at sf0.1)
    sets = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_ss"),
        F.count("*").alias("_sz"),
    ).hint("shuffle_hash")
    return (
        cand.join(
            sets.select(F.col(id_col).alias("a"),
                        F.col("_ss").alias("_sa"), F.col("_sz").alias("sa")),
            "a",
        )
        .join(
            sets.select(F.col(id_col).alias("b"),
                        F.col("_ss").alias("_sb"), F.col("_sz").alias("sb")),
            "b",
        )
        .withColumn("ni", F.size(F.array_intersect("_sa", "_sb")))
        .filter(F.col("ni") > 0)
        .withColumn("jac", F.col("ni") / (F.col("sa") + F.col("sb") - F.col("ni")))
        .filter(F.col("jac") >= threshold)
        .select("a", "b", F.round("jac", 6).alias("score"))
    )


def minhash_lsh_pairs(documents: DataFrame, threshold: float,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: int = MINHASH_K, bands: int = LSH_BANDS,
                      seed: int = SEED) -> DataFrame:
    """MinHash-LSH candidate generation + exact-jaccard verification.

    band bucket key = one BIGINT — bit_xor of xxhash64(i, sig) over the
    band's r signature rows.  Key equality is implied by equal band
    contents (so no candidate the banding scheme promises is ever
    lost).  An xor COLLISION (probability ~2^-64 per band pair) adds an
    extra candidate; verification keeps it iff its true jaccard clears
    the threshold — so a collision can only add a CORRECT pair that the
    band-equality scheme itself would have missed.  Vs the DuckDB
    oracle (string-agg band keys, collision-free at these widths) that
    is a one-sided recall asymmetry, not a soundness issue: at ~2^-64
    it is negligible, and every pair either engine emits is truly above
    threshold.  One 8-byte key instead of the previous ~r*24-byte
    concat string cuts the self-join shuffle width.

    Pairs sharing any bucket are verified with the true shingle jaccard
    (so the threshold is exact, LSH only prunes).
    """
    r = k // bands
    a_arr, b_arr = minhash_params(k, seed)
    # NOTE (r6, measured): do NOT persist one shared shingle table for
    # both the signature pass and the verify pass — materializing the
    # exploded (id, shingle) rows into the cache costs MORE than the
    # scan+explode codegen it saves (3.05 -> 3.66 s at sf0.1), because
    # the signature aggregation otherwise fuses scan -> explode -> agg
    # in one codegen stage with map-side combine.
    sh0 = shingles(documents, text_col, id_col).withColumn(
        "h", md5_int_col(F.col("shingle")) % F.lit(MERSENNE_P)
    )
    # ONE aggregation computes all k signature mins as columns (the
    # md5 hash is evaluated once per shingle, never exploded k-fold);
    # band keys are then pure projections — xor of xxhash64(i, sig_i)
    # over the band's rows, same key as the long form would build
    wide = sh0.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(int(a_arr[i])) * F.col("h") + F.lit(int(b_arr[i])))
                % F.lit(MERSENNE_P)
            ).alias(f"s{i}")
            for i in range(k)
        ]
    )
    def band_key(b_idx: int):
        key = None
        for i in range(b_idx * r, (b_idx + 1) * r):
            term = F.xxhash64(F.lit(i), F.col(f"s{i}"))
            key = term if key is None else key.bitwiseXOR(term)
        return key

    banded = wide.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b_idx).alias("band"), band_key(b_idx).alias("key"))
                    for b_idx in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(F.col(id_col).alias("a"), "band", "key")
    b = banded.select(F.col(id_col).alias("b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # candidate-proportional verification: intersect shingles only for
    # LSH candidates (never the full pair enumeration — that is the
    # whole point of LSH at corpus scale).  No persist: the r6 array
    # verify reads the shingle table exactly ONCE (the per-doc set
    # aggregation), so caching it would only add materialization cost
    # (the measured minhash persist lesson above).
    sh = shingles(documents, text_col, id_col)
    return _verify_jaccard(cand, sh, id_col, threshold)


def block_widths(bits: int, n_blocks: int) -> list[int]:
    """Split ``bits`` into ``n_blocks`` contiguous widths, low to high
    (the first ``bits % n_blocks`` blocks get the extra bit)."""
    base = bits // n_blocks
    return [base + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]


def simhash_fingerprints(documents: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, fp): 64-bit sign-aggregated token-hash fingerprint.

    bit_j(fp) = 1 iff sum over DISTINCT tokens of (2*bit_j(H(tok)) - 1) > 0,
    with H = the two independent 32-bit cross-engine md5 streams
    (functions/hashing.py: hex chars 1-8 for bits 0-31, 9-16 for bits
    32-63).  Bit 63 is the int64 sign bit: its term is INT64_MIN (the
    two's-complement value of 1<<63), so fp stays a plain BIGINT in
    both engines with no overflow.
    """
    toks = documents.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).withColumn("h1", md5_int_col(F.col("tok"))).withColumn(
        "h2", md5_int2_col(F.col("tok"))
    )
    # one aggregation with `bits` vote columns instead of a bits-table
    # cross join: shuffles 1 row per token, not `bits` rows per token
    def vote(j: int):
        src, off = ("h1", j) if j < 32 else ("h2", j - 32)
        return F.sum(F.expr(f"(shiftright({src}, {off}) & 1) * 2 - 1")).alias(f"v{j}")

    votes = toks.groupBy(id_col).agg(*[vote(j) for j in range(bits)])
    fp = None
    for j in range(bits):
        bit_val = INT64_MIN if j == 63 else (1 << j)
        term = F.when(F.col(f"v{j}") > 0, F.lit(bit_val).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return votes.select(F.col(id_col), fp.alias("fp"))


def simhash_pairs(documents: DataFrame, max_distance: int,
                  text_col: str = "text", id_col: str = "doc_id",
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """(a, b, dist) pairs with Hamming(fp_a, fp_b) <= max_distance —
    COMPLETE for the advertised distance.

    Blocking: the fingerprint is split into ``max_distance + 1``
    contiguous blocks; two fingerprints within Hamming distance d can
    differ in at most d blocks, so by pigeonhole they agree exactly on
    at least one block — every qualifying pair is a candidate in some
    bucket.  Candidates are then verified with the exact bit_count.
    With the default 64-bit fp and d=3 this is the standard simhash
    dedup config (4 blocks of 16 bits → ~2^16 buckets per block).

    Block extraction is (fp >> lo) & mask — the & mask erases the
    arithmetic-shift sign extension identically in Spark and DuckDB.
    """
    n_blocks = max_distance + 1
    widths = block_widths(bits, n_blocks)
    fp = simhash_fingerprints(documents, text_col, id_col, bits)
    buckets, lo = [], 0
    for i, w in enumerate(widths):
        blk = F.shiftright(F.col("fp"), lo) if lo else F.col("fp")
        if w < 64:  # a 64-bit mask overflows int64; full-width needs none
            blk = blk.bitwiseAND(F.lit((1 << w) - 1))
        buckets.append(F.concat(F.lit(f"b{i}:"), blk.cast("string")))
        lo += w
    parts = fp.select(
        F.col(id_col), F.col("fp"), F.explode(F.array(*buckets)).alias("bucket")
    )
    a = parts.select(F.col(id_col).alias("a"), F.col("fp").alias("fa"), "bucket")
    b = parts.select(F.col(id_col).alias("b"), F.col("fp").alias("fb"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()
    )
    dist = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= max_distance)
        .select("a", "b", F.col("dist").cast("int").alias("dist"))
    )


def ngram_jaccard_incremental(new_docs: DataFrame, corpus: DataFrame,
                              threshold: float,
                              text_col: str = "text", id_col: str = "doc_id",
                              k: int = SHINGLE_K,
                              max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """(new_id, corpus_id, score): near-dups of NEW documents against an
    EXISTING corpus — the incremental-ingest shape.

    A re-crawl batch must not pay the corpus self-join again: blocking
    uses the CORPUS-side shingle document frequencies (the stored index
    statistic, <= max_df, same cap semantics as ngram_jaccard_pairs),
    candidates are new x corpus equi-joins on the blocking shingle, and
    verification is the exact jaccard of the two full shingle sets.
    Cost ~ |new| x bounded block sizes — independent of |corpus|² and
    of pairs WITHIN the corpus (assumed already deduped).
    """
    sh_n = shingles(new_docs, text_col, id_col, k).persist()
    sh_c = shingles(corpus, text_col, id_col, k).persist()
    dfc = sh_c.groupBy("shingle").agg(F.count("*").alias("_df"))
    blocked_c = sh_c.join(
        dfc.filter(F.col("_df") <= max_df).select("shingle"), "shingle"
    )
    cand = (
        sh_n.select(F.col(id_col).alias("a"), "shingle")
        .join(blocked_c.select(F.col(id_col).alias("b"), "shingle"), "shingle")
        .select("a", "b")
        .distinct()
    )
    # per-doc shingle-set arrays + array_intersect instead of the
    # pair x shingle shuffle join — same exact counts (_verify_jaccard
    # r6 note), candidate-pair-proportional bytes
    sets_n = sh_n.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_sa"), F.count("*").alias("sa")
    ).hint("shuffle_hash")
    sets_c = sh_c.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_sb"), F.count("*").alias("sb")
    ).hint("shuffle_hash")
    return (
        cand.join(sets_n.select(F.col(id_col).alias("a"), "_sa", "sa"), "a")
        .join(sets_c.select(F.col(id_col).alias("b"), "_sb", "sb"), "b")
        .withColumn("ni", F.size(F.array_intersect("_sa", "_sb")))
        .filter(F.col("ni") > 0)
        .withColumn("jac", F.col("ni") / (F.col("sa") + F.col("sb") - F.col("ni")))
        .filter(F.col("jac") >= threshold)
        .select(F.col("a").alias("new_id"), F.col("b").alias("corpus_id"),
                F.round("jac", 6).alias("score"))
    )
