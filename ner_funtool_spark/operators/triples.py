"""Mentions -> (subj, pred, obj) triples + salted partitioned materialize.

The triple vocabulary follows BASELINE.json's examples —
``(repo, DEFINES, function)``, ``(file, IMPORTS, module)`` — and is the
KG re-expression of the reference's entity outputs
(``TYPE:text`` strings, public_tools/ner_utils.py:82-100, and the CLUE
submit JSON, predict_bert_wol.py:204-221).

CONTAINS triples come out of the same projection, from the one row
per file that the tagging stage adds for the triple plans, so the
source is scanned once and nothing is unioned.

Everything here is a single JVM-side projection (whole-stage codegen,
no shuffle); the only shuffle is the optional salted repartition before
the partitioned write, which is exactly the skew-handling the
north_rule requires for hot repos.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PRED_BY_ETYPE = {
    "func": "DEFINES",
    "class": "DEFINES_CLASS",
    "module": "IMPORTS",
    "package": "DECLARES_PACKAGE",
}

# doc-domain (driver `documents` table): mention triples hang off the file
DOC_PRED_BY_ETYPE = {"op": "MENTIONS_OP", "obj": "MENTIONS_OBJ"}

N_SALT = 8  # salt buckets per hot key

# the non-mention columns mentions_to_triples reads (with provenance)
TRIPLE_PASS_COLS = ("repo", "path", "commit", "content_sha", "sent_id")


def file_uri(repo="repo", path="path") -> F.Column:
    return F.concat_ws("/", F.col(repo), F.col(path))


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
    defines = F.col("etype").isin("func", "class") if domain == "code" else F.lit(False)
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
