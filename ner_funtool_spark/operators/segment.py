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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
