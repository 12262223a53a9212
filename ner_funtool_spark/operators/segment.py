"""Content segmentation — P9/S1 semantics as pure DataFrame ops.

The reference groups blank-line-delimited chars into sentences
(public_tools/data_preprocess.py:18-74) and splits raw text on
punctuation for online prediction (predict_lstm_crf.py:104).  Our
source payload is code: ``content`` splits into lines, each line one
"sentence".  All JVM-side (split + posexplode) — Catalyst prunes and
pushes the surrounding filters.  The flagship plan does not call
``segment_lines``: the tagging stage splits file rows itself
(operators/tagger.split_lines, pinned equal to this function).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SENTENCE_PUNCT_RE = r"[。？?！!；;\n]"


def segment_lines(df: DataFrame, content_col: str = "content",
                  keep: list[str] | None = None) -> DataFrame:
    """content -> (sent_id, sentence) rows; one row per line.

    Drops empty lines *after* position assignment so sent_id remains a
    stable line number of the original content (lineage-friendly).
    """
    keep = keep if keep is not None else [c for c in df.columns if c != content_col]
    out = df.select(
        *keep,
        F.posexplode(F.split(F.col(content_col), r"\n")).alias("sent_id", "sentence"),
    )
    return out.filter(F.length("sentence") > 0)


def segment_sentences(df: DataFrame, text_col: str = "text",
                      keep: list[str] | None = None,
                      pattern: str = SENTENCE_PUNCT_RE) -> DataFrame:
    """Punctuation-based sentence splitting (predict_lstm_crf.py:104)."""
    keep = keep if keep is not None else [c for c in df.columns if c != text_col]
    out = df.select(
        *keep,
        F.posexplode(F.split(F.col(text_col), pattern)).alias("sent_id", "sentence"),
    )
    return out.filter(F.length(F.trim("sentence")) > 0)


def token_array(col: Column | str) -> Column:
    """Whitespace tokenization as a JVM-side expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")
