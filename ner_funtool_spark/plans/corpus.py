"""The training-corpus materialization plan — the end-to-end flow a
data team actually runs over raw documents:

    quality filter -> near-dup removal (keep-longest) ->
    stratified sampling (data mixing) -> deterministic split assignment

Each stage is an existing oracle-gated operator (textstats.quality_score,
dedup.ngram_jaccard_pairs + components.connected_components +
components.keep_one_per_cluster,
datasplit.stratified_sample / assign_splits); this plan composes them in
the canonical order (filter FIRST so dedup's candidate generation never
sees rows that are leaving anyway) and the composed DuckDB oracle
(oracles.training_corpus_sql) replays the whole flow — so the
INTERACTION of the stages is value-hash-gated, not just each stage
alone.

Scale shape: the quality filter is a pure projection+filter in the
scan stage; dedup is the bounded-blocking jaccard path; sampling/splits
are shuffle-free hash filters.  The only shuffles are the dedup
self-join and the keep-one window — both over the already-filtered
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import quality_score
from ..operators.components import connected_components, keep_one_per_cluster
from ..operators.datasplit import assign_splits, stratified_sample
from ..operators.dedup import ngram_jaccard_pairs


def build_training_corpus(docs: DataFrame, *, min_quality: float,
                          jaccard_t: float,
                          rates: dict[str, float], default_rate: float,
                          weights: dict[str, float]) -> DataFrame:
    """documents -> (doc_id, source, quality, split) of the materialized
    training corpus.  Thresholds compare the 6-decimal-rounded quality
    (quality_score's output contract) so both engines cut identically.
    """
    q = docs.withColumn("quality", quality_score(F.col("text")))
    # filtered feeds BOTH the dedup edge builder and the keep stage:
    # persist so the quality projection runs once
    filtered = q.filter(F.col("quality") >= min_quality).persist()
    # the CC loop's eager initial checkpoint is the only reader of the
    # near-dup edge list, so the candidate-join + exact-verify pipeline
    # runs once; the edges have no self-loops (a < b), so the result
    # holds every clustered doc
    clusters = connected_components(
        ngram_jaccard_pairs(filtered, jaccard_t)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    kept = keep_one_per_cluster(
        filtered, clusters,
        order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    sampled = stratified_sample(kept, rates, default_rate=default_rate)
    out = assign_splits(sampled, weights)
    return out.select("doc_id", "source", "quality", "split")
