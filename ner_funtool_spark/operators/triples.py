"""Mentions -> (subj, pred, obj) triples + salted partitioned materialize.

The triple vocabulary follows BASELINE.json's examples —
``(repo, DEFINES, function)``, ``(file, IMPORTS, module)`` — and is the
KG re-expression of the reference's entity outputs
(``TYPE:text`` strings, public_tools/ner_utils.py:82-100, and the CLUE
submit JSON, predict_bert_wol.py:204-221).

The flagship's triples come straight out of the tagging stage:
:class:`TripleRows` is its emitter, so ``plans.kg.build_triples`` is a
scan and one ``mapInArrow`` with nothing above it, and each file's
CONTAINS triple comes from the file's own input row, so the source is
scanned once and nothing is unioned.  :func:`mentions_to_triples` is
the same mapping as a JVM-side projection over mention rows, for
``build_canonical_triples``, whose objects are canonical ids known only
after linking.  The only shuffle is the optional salted repartition
before the partitioned write, which is exactly the skew-handling the
north_rule requires for hot repos.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PRED_BY_ETYPE = {
    "func": "DEFINES",
    "class": "DEFINES_CLASS",
    "module": "IMPORTS",
    "package": "DECLARES_PACKAGE",
}
# code-domain entity types whose triples hang off the repo
DEFINES = ("func", "class")

# doc-domain (driver `documents` table): mention triples hang off the file
DOC_PRED_BY_ETYPE = {"op": "MENTIONS_OP", "obj": "MENTIONS_OBJ"}

N_SALT = 8  # salt buckets per hot key

# the file columns the triples carry (besides the content they are tagged from)
FILE_COLS = ("repo", "path", "commit", "content_sha")

PROVENANCE = ("path", "commit", "sent_id", "begin", "end", "model", "score")
TRIPLE_NAMES = ["subj", "pred", "obj", "repo", "content_sha", "provenance"]
# the triple plans' output schema
TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, repo string, content_sha string, "
    "provenance struct<path: string, commit: string, sent_id: bigint, "
    "`begin`: int, `end`: int, model: string, score: float> NOT NULL"
)


def file_uri(repo="repo", path="path") -> F.Column:
    return F.concat_ws("/", F.col(repo), F.col(path))


def file_uris(repo, path):
    """:func:`file_uri` over Arrow string columns: ``repo/path`` where
    both are set, else whichever is set, else ''.  The nulls are
    resolved by mask, as ``binary_join_element_wise``'s
    ``null_handling='skip'`` drops all-null rows on some pyarrow
    releases."""
    import pyarrow as pa
    import pyarrow.compute as pc

    joined = pc.binary_join_element_wise(repo, path, "/")
    if not joined.null_count:
        return joined
    return pc.if_else(pc.is_null(joined),
                      pc.coalesce(repo, path, pa.scalar("")), joined)


class TripleRows:
    """The tagging stage's triple emitter (``tagger.tag_file_triples``,
    over the FILE_COLS and the content): each input batch's mentions
    become finished triple rows, by the same tables as
    :func:`mentions_to_triples`, and (with ``include_contains``) each
    input file its CONTAINS triple.  The file URI is computed once per
    file."""

    schema = TRIPLE_SCHEMA

    def __init__(self, domain: str, include_contains: bool):
        self.pred_map = PRED_BY_ETYPE if domain == "code" else DOC_PRED_BY_ETYPE
        self.defines = DEFINES if domain == "code" else ()
        self.include_contains = include_contains

    def __call__(self, rb, lines, sent_id, parts):
        furi = file_uris(rb.column("repo"), rb.column("path"))
        for line_of, frows, cols in parts:
            yield _mention_triples(rb, furi, frows, sent_id[line_of], cols,
                                   self.pred_map, self.defines)
        if self.include_contains:
            yield _contains_triples(rb, furi)


def _mention_triples(rb, furi, frows, sent_id, cols, pred_map, defines):
    """One slice of mentions -> triple rows: ``pred`` by etype id; a
    DEFINES* mention is (repo, pred, file::text), any other (file,
    pred, text)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    etype, text = cols["etype"], cols["text"]
    names = etype.dictionary.to_pylist()
    pred = pa.array([pred_map.get(e) for e in names], pa.string()).take(etype.indices)
    files = rb.select(list(FILE_COLS)).take(frows)
    furi = furi.take(frows)
    repo = files.column("repo")
    subj, obj = furi, text
    if defines:
        d = pa.array(np.isin(names, defines)).take(etype.indices)
        subj = pc.if_else(d, repo, furi)
        obj = pc.if_else(d, pc.binary_join_element_wise(furi, text, "::"), text)
    prov = pa.StructArray.from_arrays(
        [files.column("path"), files.column("commit"),
         pa.array(sent_id, pa.int64()), cols["begin"], cols["end"],
         cols["model"], cols["score"]], names=PROVENANCE)
    return pa.RecordBatch.from_arrays(
        [subj, pred, obj, repo, files.column("content_sha"), prov], names=TRIPLE_NAMES)


def _contains_triples(rb, furi):
    """(repo, CONTAINS, file) per input file row, with the provenance
    (path, commit, -1, -1, -1, 'scan', 0.0); (repo, path) is unique per
    commit snapshot, so there is one per file and no distinct."""
    import pyarrow as pa

    n = rb.num_rows
    minus1 = pa.repeat(pa.scalar(-1, pa.int32()), n)
    prov = pa.StructArray.from_arrays(
        [rb.column("path"), rb.column("commit"),
         pa.repeat(pa.scalar(-1, pa.int64()), n), minus1, minus1,
         pa.repeat(pa.scalar("scan", pa.string()), n),
         pa.repeat(pa.scalar(0.0, pa.float32()), n)], names=PROVENANCE)
    return pa.RecordBatch.from_arrays(
        [rb.column("repo"), pa.repeat(pa.scalar("CONTAINS", pa.string()), n), furi,
         rb.column("repo"), rb.column("content_sha"), prov], names=TRIPLE_NAMES)


def mentions_to_triples(mentions: DataFrame, with_provenance: bool = True,
                        domain: str = "code") -> DataFrame:
    """One narrow projection; subj depends on predicate semantics:
    DEFINES* hang off the repo, IMPORTS/DECLARES_PACKAGE/MENTIONS_*
    off the file.  A file row of the tagging stage (null ``etype``,
    ``tagger.tag_file_mentions(_file_rows=True)``) becomes
    (repo, CONTAINS, file), its provenance (path, commit, -1, -1, -1,
    'scan', 0.0) carried by the row itself; (repo, path) is unique per
    commit snapshot, so there is one per file and no distinct."""
    furi = file_uri()
    pred_map = PRED_BY_ETYPE if domain == "code" else DOC_PRED_BY_ETYPE
    scan = F.col("etype").isNull()
    pred = F.when(scan, F.lit("CONTAINS")).otherwise(F.element_at(
        F.create_map(*[F.lit(x) for kv in pred_map.items() for x in kv]),
        F.col("etype"),
    ))
    defines = F.col("etype").isin(*DEFINES) if domain == "code" else F.lit(False)
    subj = F.when(defines | scan, F.col("repo")).otherwise(furi)
    obj = F.when(
        defines,
        F.concat(furi, F.lit("::"), F.col("text")),
    ).when(scan, furi).otherwise(F.col("text"))
    cols = [
        subj.alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        F.col("repo"),
        F.col("content_sha"),
    ]
    if with_provenance:
        cols.append(
            F.struct(
                F.col("path"), F.col("commit"),
                F.col("sent_id").cast("long").alias("sent_id"),
                F.col("begin"), F.col("end"), F.col("model"), F.col("score"),
            ).alias("provenance")
        )
    return mentions.select(*cols)


def with_salted_part(triples: DataFrame, n_parts: int = 32,
                     n_salt: int = N_SALT) -> DataFrame:
    """Explicit skew handling (north_rule): hot repos are split across
    ``n_salt`` salt buckets so no single partition owns a hot key.

    part = pmod(xxhash64(repo), n_parts); salt = pmod(xxhash64(subj,
    pred, obj), n_salt) — deterministic, so re-runs land rows in
    identical partitions (required by the resumable checkpoint ledger).
    """
    return triples.withColumn(
        "part",
        F.pmod(F.xxhash64("repo"), F.lit(n_parts)).cast("int"),
    ).withColumn(
        "salt",
        F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(n_salt)).cast("int"),
    )


def write_triples(triples: DataFrame, out_dir: str, n_parts: int = 32,
                  n_salt: int = N_SALT, mode: str = "overwrite") -> None:
    """Partitioned parquet materialize (Iceberg-shaped layout: the
    partition spec (part, salt) is what an Iceberg identity-partition
    table would use; the jars aren't in this image — import-gated in
    sinks.iceberg_support)."""
    salted = with_salted_part(triples, n_parts, n_salt)
    (
        salted.repartition("part", "salt")
        .write.mode(mode)
        .partitionBy("part", "salt")
        .parquet(out_dir)
    )
