"""Entity linking: broadcast alias dictionary + blocked candidate-pair
scoring + canonical ids via connected components.

The reference's only "linking" is exact dictionary lookup (char2id /
vocab broadcast dicts, data_preprocess.py:157-159); the north_star
extends this to real linking: a broadcast alias join for known names,
and minhash/ngram-blocked similarity joins for the tail.  All joins are
equi-joins on blocking keys (the theta-join row of SURVEY.md §2.6),
so Spark plans them as hash joins — never a cartesian product.

``canonical_map`` is the one place the canonical entity map is built
(blocked-jaccard edges -> connected components); ``link_entities``
joins mentions onto it.  Building a candidate-pair frame runs no Spark
job, and a map call leaves only its result persistent.

Scale: the alias dict is a broadcast join (no shuffle); candidate
generation shuffles once on the block key; per-pair scoring is a
JVM-side expression (token-set jaccard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import canonicalize

JACCARD_THRESHOLD = 0.5
MAX_BLOCK = 1000  # entities per blocking key before secondary refinement


def _refine_hot_blocks(e: DataFrame, max_block: int = MAX_BLOCK) -> DataFrame:
    """Block-size cap: any block holding more than ``max_block``
    entities is refined with a secondary key (the SECOND token of the
    ``raw`` token list, '' if absent), so one common first token ("get",
    "the") can never create a block with quadratic pair count.  Pairs
    inside an oversized block that differ in their second token are the
    documented recall tradeoff.  The cap is part of the query contract:
    the DuckDB oracle mirrors it, so its effect is checked, not logged.
    Lazy: no job runs until the caller's action.
    """
    counts = e.groupBy("block").agg(F.count("*").alias("_bn"))
    refined = F.concat_ws(
        "#", F.col("block"), F.coalesce(F.element_at("raw", 2), F.lit(""))
    )
    e2 = (
        e.join(counts, "block")
        .withColumn(
            "block",
            F.when(F.col("_bn") > max_block, refined).otherwise(F.col("block")),
        )
        .drop("_bn")
    )
    # a refined (etype, tok1, tok2) block can itself still exceed the
    # cap (pathological corpora); such blocks are DROPPED entirely —
    # their entities become isolated nodes — so worst-case pair count
    # per key is hard-bounded at max_block², never quadratic in n
    counts2 = e2.groupBy("block").agg(F.count("*").alias("_bn2"))
    return (
        e2.join(counts2, "block")
        .filter(F.col("_bn2") <= max_block)
        .drop("_bn2")
    )


def _entities(entities: DataFrame, id_col: str, etype_col: str) -> DataFrame:
    """The distinct entity table of a pair plan.  A null text never
    pairs (nor has a block in the oracle), so it is dropped here: every
    read of the table in the plan is then one subtree, and exchange
    reuse runs its upstream (the tagging stage) once without a cache."""
    return entities.select(id_col, etype_col).filter(F.col(id_col).isNotNull()).distinct()


def alias_link(mentions: DataFrame, alias_df: DataFrame,
               text_col: str = "text") -> DataFrame:
    """Broadcast alias-dictionary join: adds entity_id (NULL if unknown).

    alias_df: (alias, entity_id) — small dimension, broadcast.
    Lookup key is the case-folded mention text (the reference folds
    case in BasicTokenizer, bert/tokenization.py:220-232).
    """
    a = alias_df.select(F.col("alias"), F.col("entity_id"))
    return mentions.join(
        F.broadcast(a), F.lower(F.col(text_col)) == F.col("alias"), "left"
    ).drop("alias")


def candidate_pairs(entities: DataFrame, id_col: str = "text",
                    etype_col: str = "etype",
                    threshold: float = JACCARD_THRESHOLD,
                    token_pattern: str = " ",
                    max_block: int = MAX_BLOCK) -> DataFrame:
    """Blocked candidate-pair generation + token-set jaccard scoring.

    entities: distinct (text, etype) rows.  Block key = (etype, first
    token), refined with the second token for blocks over ``max_block``
    (see _refine_hot_blocks — bounded pair count per key); within a
    block all pairs with jaccard(token sets) >= threshold become link
    edges (src < dst to dedupe).

    Jaccard is computed with array_intersect/array_union on the
    pre-split token arrays — pure codegen, no UDF.
    """
    # block key from the RAW first token (array_distinct does not
    # preserve order in every engine; the raw list does)
    e = (
        _entities(entities, id_col, etype_col)
        .withColumn("raw", F.split(F.col(id_col), token_pattern))
        .withColumn("toks", F.array_distinct(F.col("raw")))
        .withColumn("block", F.concat_ws("#", F.col(etype_col), F.element_at("raw", 1)))
    )
    e = _refine_hot_blocks(e, max_block=max_block).drop("raw")
    a = e.select(
        F.col("block"),
        F.col(id_col).alias("src"),
        F.col("toks").alias("src_toks"),
    )
    b = e.select(
        F.col("block"),
        F.col(id_col).alias("dst"),
        F.col("toks").alias("dst_toks"),
    )
    pairs = a.join(b, "block").filter(F.col("src") < F.col("dst"))
    ni = F.size(F.array_intersect("src_toks", "dst_toks"))
    nu = F.size("src_toks") + F.size("dst_toks") - ni
    jac = ni / nu
    # threshold on the unrounded score; round only the reported value
    return pairs.filter(jac >= threshold).select(
        "src", "dst", F.round(jac, 6).alias("score")
    )


def canonical_map(mentions: DataFrame,
                  threshold: float = JACCARD_THRESHOLD,
                  token_pattern: str = " ") -> DataFrame:
    """mentions(text, etype, ...) -> (node = entity text, canonical_id)
    as an eager checkpoint.

    The distinct (text, etype) entities are linked through blocked-
    jaccard edges and canonicalized by connected components; an
    unlinked entity is its own canonical id (canonical ids are the min
    text of a component, so the etype collapses).  The entity table
    feeds both the edge builder and the node list, so it is cached for
    the call (the upstream tagging runs once) and released once the map
    is computed: the call leaves only its result persistent.
    """
    ents = mentions.select("text", "etype").distinct().persist()
    edges = candidate_pairs(ents, threshold=threshold,
                            token_pattern=token_pattern).select("src", "dst")
    out = canonicalize(ents.select(F.col("text").alias("node")), edges)
    ents.unpersist()
    return out


def link_entities(mentions: DataFrame, *,
                  threshold: float = JACCARD_THRESHOLD,
                  token_pattern: str = " ") -> DataFrame:
    """mentions -> mentions + canonical_id: every mention gets its
    entity's id from ``canonical_map``.  The map is the distinct entity
    vocabulary, small relative to mentions, so the join broadcasts."""
    mapping = canonical_map(mentions, threshold, token_pattern)
    return mentions.join(
        F.broadcast(mapping.withColumnRenamed("node", "text")), "text", "left"
    )


def pooled_embedding(text_col, dim: int = 16):
    """Deterministic pooled token embedding as a pure JVM expression:
    per token, a ±1 vector from the bits of the cross-engine md5 hash
    (functions/hashing.py); per entity, the token mean.  The
    SQL-expressible stand-in for mean-pooled model embeddings — the
    operator shape (pool -> cosine over blocked pairs) is identical.
    """
    from ..functions.hashing import md5_int_col

    toks = F.split(text_col, " ")
    n = F.size(toks)

    def comp(j):
        return (
            F.aggregate(
                toks,
                F.lit(0).cast("double"),
                lambda acc, t: acc
                + (F.shiftright(md5_int_col(t), j).bitwiseAND(F.lit(1)) * 2 - 1),
            )
            / n
        )

    return F.array(*[comp(j) for j in range(dim)])


def embedding_link_scores(entities: DataFrame, id_col: str = "text",
                          etype_col: str = "etype",
                          threshold: float = 0.5, dim: int = 16,
                          max_block: int = MAX_BLOCK) -> DataFrame:
    """Blocked candidate pairs scored by cosine over pooled embeddings
    (the north_star's second linking scorer, next to token jaccard).

    Same blocking as candidate_pairs (etype + first token, hot blocks
    refined with the second token); emits (src, dst, cos) for pairs
    with cosine >= threshold."""
    from .similarity import cosine

    e = (
        _entities(entities, id_col, etype_col)
        .withColumn("vec", pooled_embedding(F.col(id_col), dim))
        .withColumn("raw", F.split(F.col(id_col), " "))
        .withColumn(
            "block",
            F.concat_ws("#", F.col(etype_col), F.element_at("raw", 1)),
        )
    )
    e = _refine_hot_blocks(e, max_block=max_block).drop("raw")
    a = e.select("block", F.col(id_col).alias("src"), F.col("vec").alias("va"))
    b = e.select("block", F.col(id_col).alias("dst"), F.col("vec").alias("vb"))
    pairs = a.join(b, "block").filter(F.col("src") < F.col("dst"))
    c = cosine(F.col("va"), F.col("vb"))
    return pairs.filter(c >= threshold).select(
        "src", "dst", F.round(c, 6).alias("cos")
    )
