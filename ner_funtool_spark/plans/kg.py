"""End-to-end KG-construction plans.

``build_triples`` is the flagship dataflow (north_star):

  source scan -> fused Arrow segment+tag+extract+emit -> triples
  (CONTAINS from each file's own row) -> salted write

The plan is declared entirely with DataFrame ops so Catalyst prunes
columns into the parquet scan; the only Python is the single
Arrow-batched stage, which takes FILE rows and splits them into lines
itself, so each file's columns cross into Python once rather than once
per line, and which returns the finished triple rows
(``operators.triples.TripleRows``): scan -> one ``mapInArrow``, with no
projection above it and the source read once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.tagger import tag_file_mentions, tag_file_triples
from ..operators.triples import mentions_to_triples


def detect_mentions(source: DataFrame, *, domain: str = "code",
                    mode: str = "rules",
                    encoder_opts: dict | None = None,
                    _file_rows: bool = False) -> DataFrame:
    """source(repo,path,commit,lang,content,content_sha) -> mention rows,
    with every column of ``tag_mentions(segment_lines(source))``.
    ``encoder_opts`` overrides the neural encoder shape (depth study —
    operators/tagger._build_encoder docstring).  ``_file_rows`` is
    :func:`build_canonical_triples`' own (tagger.tag_file_mentions)."""
    return tag_file_mentions(source, domain=domain, mode=mode,
                             encoder_opts=encoder_opts, _file_rows=_file_rows)


def build_triples(source: DataFrame, *, domain: str = "code",
                  mode: str = "rules", include_contains: bool = True) -> DataFrame:
    """Full mention->triple dataflow; returns the un-salted triple DF
    (callers add salting via operators.triples.write_triples)."""
    return tag_file_triples(source, domain=domain, mode=mode,
                            include_contains=include_contains)


def build_canonical_triples(source: DataFrame, *, domain: str = "code",
                            mode: str = "rules",
                            link_threshold: float = 0.5,
                            alias_df: DataFrame | None = None) -> DataFrame:
    """The full north_star flow: mentions -> (optional) alias join ->
    blocked candidate linking -> connected-components canonical ids ->
    triples whose objects are canonical entities, plus SAME_AS edges
    for every non-canonical surface form.
    """
    from ..operators.linking import alias_link, link_entities

    # the Arrow tagging stage feeds linking (nodes + edges), the triple
    # projection, the SAME_AS branch AND the CONTAINS rows — persist so
    # it runs once, not once per downstream reference (session-lifetime
    # cache, LRU)
    tagged = detect_mentions(source, domain=domain, mode=mode,
                             _file_rows=True).persist()
    files = tagged.filter(F.col("etype").isNull())
    mentions = tagged.filter(F.col("etype").isNotNull())
    if alias_df is not None:
        mentions = alias_link(mentions, alias_df)
        mentions = mentions.withColumn(
            "text", F.coalesce("entity_id", F.col("text"))
        ).drop("entity_id")
    token_pattern = "[._/ ]" if domain == "code" else " "
    linked = link_entities(mentions, threshold=link_threshold,
                           token_pattern=token_pattern)
    canon = linked.withColumn("surface", F.col("text")).withColumn(
        "text", F.col("canonical_id")
    )
    triples = mentions_to_triples(
        canon.drop("canonical_id", "surface").unionByName(files), domain=domain
    )
    same_as = (
        linked.filter(F.col("text") != F.col("canonical_id"))
        .select(
            F.col("text").alias("subj"),
            F.lit("SAME_AS").alias("pred"),
            F.col("canonical_id").alias("obj"),
            F.col("repo"),
            F.col("content_sha"),
            F.struct(
                F.col("path"), F.col("commit"), F.col("sent_id"),
                F.col("begin"), F.col("end"), F.col("model"), F.col("score"),
            ).alias("provenance"),
        )
        .distinct()
    )
    return triples.unionByName(same_as)


def documents_as_source(documents: DataFrame) -> DataFrame:
    """Adapt the driver's `documents` table to the source-code input
    shape (repo,path,commit,lang,content,content_sha) — a pure
    projection, SQL-expressible so the DuckDB oracle can mirror it."""
    return documents.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.substring(F.md5(F.col("text")), 1, 12).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )
