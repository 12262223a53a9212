"""The fused file-row tagging stage (segmentation inside the Arrow
stage) against the line-level reference path
``tag_mentions(segment_lines(src))``, its triple rows against the
JVM-side ``mentions_to_triples``, the triple plans' one-pass shape, and
the per-distinct-line kernel against a per-line decode."""

from __future__ import annotations

import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ner_funtool_spark.operators import tagger
from ner_funtool_spark.operators.segment import segment_lines
from ner_funtool_spark.operators.tagger import MAX_LEN, tag_mentions
from ner_funtool_spark.operators.triples import (
    TRIPLE_NAMES,
    file_uri,
    mentions_to_triples,
)
from ner_funtool_spark.plans.inspect import plan_string
from ner_funtool_spark.plans.kg import (
    build_canonical_triples,
    build_triples,
    detect_mentions,
)

LONG = "def f" + " x" * (MAX_LEN * 3)  # truncation boundary
CODE = [
    ("a.py", ""),                                        # empty content
    ("b.py", "import alpha.core\ndef load_1(a):\n"),     # trailing newline
    ("c.py", "class Reader7:\r\n    def run(self):\r\n"),  # \r\n endings
    ("d.py", "def g1():\n\n\n\nimport os\n\n"),          # blank runs: sent_id gaps
    ("e.py", None),                                      # null content
    ("f.py", LONG + "\nclass Tail:"),                    # > 64 tokens
    ("g.py", "def café_fn():\nimport beta\n"),           # one non-ASCII line
    ("h.py", "import alpha.core\ndef load_1(a):\n"),     # duplicate lines
    ("i.py", "from alpha.core import load_1\npackage p.q\n"),
    ("j.py", "x = 1\n    return x\n"),                   # lines, no mention
]
DOC = [
    ("a.txt", ""),
    ("b.txt", "load the table and parse the file\n"),
    ("c.txt", "parse record\r\n\r\nwrite file schema\r\n"),
    ("d.txt", None),
    ("e.txt", " ".join(["parse table"] * MAX_LEN)),
    ("f.txt", "écrire the file\nload the table and parse the file\n"),
]


def _source(spark, files):
    rows = [("r0", p, "c0", "py", t) for p, t in files]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).withColumn("content_sha", F.sha2("content", 256)).coalesce(1)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rows_with_nulls(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("domain,mode,files", [
    ("code", "rules", CODE),
    ("doc", "rules", DOC),
    ("code", "neural", CODE),
])
def test_fused_stage_equals_line_path(spark, domain, mode, files):
    src = _source(spark, files)
    fused = detect_mentions(src, domain=domain, mode=mode)
    lines = tag_mentions(segment_lines(src), domain=domain, mode=mode)
    assert fused.schema == lines.schema
    assert dict(fused.dtypes)["sent_id"] == "int"
    got, want = _rows(fused), _rows(lines)
    assert got == want
    if mode == "rules":
        assert got, "fixture should produce mentions"
        # null content yields no rows (not an error)
        paths = {r[1] for r in got}
        assert "e.py" not in paths and "d.txt" not in paths


def test_build_triples_equals_line_path(spark):
    src = _source(spark, CODE)
    contains = src.select(
        F.col("repo").alias("subj"), F.lit("CONTAINS").alias("pred"),
        file_uri().alias("obj"), "repo", "content_sha",
        F.struct("path", "commit", F.lit(-1).cast("long").alias("sent_id"),
                 F.lit(-1).alias("begin"), F.lit(-1).alias("end"),
                 F.lit("scan").alias("model"),
                 F.lit(0.0).cast("float").alias("score")).alias("provenance"))
    want = mentions_to_triples(
        tag_mentions(segment_lines(src), domain="code", mode="rules")
    ).unionByName(contains)
    assert _rows(build_triples(src, domain="code", mode="rules")) == _rows(want)


# the triple plans' output schema: provenance.sent_id is a bigint,
# though the stage's sent_id is an int
TRIPLES_SCHEMA = StructType([
    StructField("subj", StringType()),
    StructField("pred", StringType()),
    StructField("obj", StringType()),
    StructField("repo", StringType()),
    StructField("content_sha", StringType()),
    StructField("provenance", StructType([
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("sent_id", LongType()),
        StructField("begin", IntegerType()),
        StructField("end", IntegerType()),
        StructField("model", StringType()),
        StructField("score", FloatType()),
    ]), nullable=False),
])


def test_triple_plans_keep_their_schema(spark):
    src = _source(spark, CODE)
    assert build_triples(src).schema == TRIPLES_SCHEMA
    assert build_canonical_triples(src).schema == TRIPLES_SCHEMA


def test_build_triples_is_one_pass(spark, tmp_path):
    """scan -> one mapInArrow, and nothing above it: no second scan, no
    union, no projection."""
    _source(spark, CODE).write.parquet(str(tmp_path / "src"))
    t = build_triples(spark.read.parquet(str(tmp_path / "src")))
    t.write.format("noop").mode("overwrite").save()
    plan = plan_string(t)
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    above = plan[:plan.index("MapInArrow")]
    assert "Project" not in above and "Union" not in above, plan
    assert "Union" not in plan, plan


# null repo, null path, both null, null content, a file without
# mentions and a non-ASCII line, per domain
EDGE_FILES = {
    "code": [("r0", "a.py", "def f():\nimport os\n"), (None, "b.py", "class B:\nimport re\n"),
             ("r1", None, "def g():\npackage p.q\n"), (None, None, "import sys\n"),
             ("r2", "e.py", None), ("r2", "f.py", "x = 1\n"),
             ("r3", "g.py", "def café():\nimport os\n")],
    "doc": [("s0", "a.txt", "join the table\nsort the row\n"), (None, "b.txt", "merge key\n"),
            ("s1", None, "scan batch\n"), (None, None, "filter data\n"),
            ("s2", "e.txt", None), ("s2", "f.txt", "nothing here\n"),
            ("s3", "g.txt", "écrire the table\nhash the row\n")],
}


@pytest.mark.parametrize("include_contains", [True, False])
@pytest.mark.parametrize("domain", ["code", "doc"])
def test_stage_triples_equal_projection(spark, domain, include_contains):
    """The stage's triple rows equal the JVM-side projection over the
    stage's mention rows, nulls in the file columns included."""
    src = spark.createDataFrame(
        [(r, p, "c0", "py", t) for r, p, t in EDGE_FILES[domain]],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("content_sha", F.sha2("content", 256)).coalesce(1)
    got = build_triples(src, domain=domain, include_contains=include_contains)
    want = mentions_to_triples(
        detect_mentions(src, domain=domain, _file_rows=include_contains), domain=domain)
    assert got.schema == want.schema == TRIPLES_SCHEMA
    rows = _rows_with_nulls(got)
    assert rows == _rows_with_nulls(want)
    preds = {r[1] for r in rows}
    assert ("CONTAINS" in preds) == include_contains
    assert {r[0] for r in rows if r[1] != "CONTAINS"} >= (
        {None, "b.py", "r1", ""} if domain == "code" else {"b.txt", "s1", ""})


@pytest.mark.parametrize("build", [build_triples, build_canonical_triples])
def test_one_contains_per_source_row(spark, build):
    """Every source row, null content (e.py), no lines (a.py) and no
    mentions (j.py) included, has exactly one CONTAINS row with the
    scan provenance."""
    t = build(_source(spark, CODE), domain="code", mode="rules")
    got = sorted(tuple(r) for r in t.filter(F.col("pred") == "CONTAINS").select(
        "subj", "obj", "provenance.*").collect())
    want = sorted(("r0", f"r0/{p}", p, "c0", -1, -1, -1, "scan", 0.0)
                  for p, _ in CODE)
    assert got == want


def test_triples_path_sends_only_read_columns(spark):
    """The triple stage takes only the file columns it reads and the
    content, and returns the triple columns: no sentence or lang."""
    t = build_triples(_source(spark, CODE))
    assert t.columns == TRIPLE_NAMES
    (stage,) = [ln for ln in plan_string(t).splitlines() if "MapInArrow" in ln]
    assert "lang" not in stage and "sentence" not in stage, stage
    assert all(c in stage for c in ("repo", "path", "commit", "content_sha", "content"))


def _kernel_rows(lines, chunk, k=None):
    """One kernel call over ``lines``, as (line, *mention) tuples."""
    k = k or tagger._LineKernel("code", "rules")
    line_of, cols = k(lines, chunk)
    cols = dict(cols, etype=cols["etype"].dictionary_decode())
    return list(zip(line_of.tolist(), *(cols[c].to_pylist() for c in tagger.MENTION_NAMES)))


def test_non_ascii_fallback_is_bounded_by_chunk(monkeypatch):
    """Distinct lines are decoded in slices of at most ``chunk``: one
    non-ASCII line sends only its own slice down the regex path, and
    the output does not depend on the slicing."""
    seen = []
    real = tagger._tokenize_unique

    def spy(strs, max_len):
        seen.append(list(strs))
        return real(strs, max_len)

    monkeypatch.setattr(tagger, "_tokenize_unique", spy)
    ascii_lines = [f"def fn_{i}(a):" for i in range(11)] + ["import alpha.core"]
    lines = pa.array(ascii_lines + ["class Café:"] + ascii_lines[:3])

    chunked = _kernel_rows(lines, 4)
    assert len(seen) == 1 and len(seen[0]) <= 4 and "class Café:" in seen[0]
    seen.clear()
    whole = _kernel_rows(lines, 1 << 14)
    assert len(seen) == 1 and len(seen[0]) == 13  # every distinct line
    assert chunked == whole
    assert sorted(x[0] for x in whole) == [x[0] for x in whole]
    assert {x[3] for x in whole} >= {"fn_0", "alpha.core"}


@pytest.mark.parametrize("chunk", [0, -1])
def test_non_positive_chunk_means_no_limit(chunk):
    """maxRecordsPerBatch <= 0 is Spark's "no limit": one slice."""
    lines = pa.array([f"def fn_{i}(a):" for i in range(7)] + ["import os"])
    assert [a for a, _ in tagger.chunk_lines(lines, chunk)] == [0]
    line_of, _ = tagger._LineKernel("code", "rules")(lines, chunk)
    assert tagger._line_slices(line_of, len(lines), chunk) == [(0, len(line_of))]
    assert _kernel_rows(lines, chunk) == _kernel_rows(lines, 1 << 14)
    assert _kernel_rows(lines, chunk)


@pytest.mark.parametrize("batch", ["0", "-1", "3"])
def test_fused_stage_under_arrow_batch_setting(spark, batch):
    """The stage reads its chunk from maxRecordsPerBatch; its output
    does not depend on it."""
    src = _source(spark, CODE)
    want = _rows(tag_mentions(segment_lines(src), domain="code", mode="rules"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, batch)
    try:
        got = _rows(detect_mentions(src, domain="code", mode="rules"))
    finally:
        spark.conf.set(key, old)
    assert got == want


# heavily duplicated lines, lines without mentions, and (MIXED) a
# non-ASCII run that sends its chunks down the string path
KERNEL_ASCII = (
    ["def load_1(a):", "import alpha.core", "    return x", "x = 1"] * 9
    + ["class Reader7:", "from alpha.core import load_1", "package p.q", "",
       "# a comment", "import os"] + ["def load_1(a):"] * 5 + [LONG]
)
KERNEL_MIXED = KERNEL_ASCII[:21] + ["def café_fn():", "class Café:"] + KERNEL_ASCII[21:]


@pytest.fixture(scope="module")
def kernels():
    """One kernel per mode for the module (the neural ones build a model)."""
    return {}


def _per_line_rows(k, lines, chunk):
    """What the kernel returns when every line is tokenized, decoded and
    extracted on its own row (the reference regex path, same chunks)."""
    out = []
    for a, part in tagger.chunk_lines(pa.array(lines), chunk):
        strs = part.to_pylist()
        toks, tb, te, lens = tagger._tokenize_unique(strs, MAX_LEN)
        m = tagger.extract_mentions_arrays(k.tags(toks, lens), tb, te, lens)
        out += [(int(r) + a, int(b), int(e), strs[r][b:e], k.etypes[t], 0.0,
                 k.model_name)
                for r, b, e, t in zip(m["row"], m["begin"], m["end"], m["etype_id"])]
    return out


def _stage_batches(k, lines, chunk):
    """The stage's output batches on line rows ``(i, sentence)``."""
    rb = pa.record_batch({"i": pa.array(range(len(lines)), pa.int64()),
                          "sentence": pa.array(lines)})
    emit = tagger.MentionRows(["i", "sentence"], {"i": "bigint", "sentence": "string"})
    return list(tagger._stage_fn("sentence", False, k, chunk, emit)(iter([rb])))


@pytest.mark.parametrize("chunk", [1, 7, 1 << 14])
@pytest.mark.parametrize("mode", ["rules", "neural", "cascade", "albert"])
@pytest.mark.parametrize("lines", [KERNEL_ASCII, KERNEL_MIXED], ids=["ascii", "mixed"])
def test_kernel_equals_per_line_decode(kernels, lines, mode, chunk):
    """Decoding once per distinct line of the input batch, in slices of
    at most ``chunk`` distinct lines, and expanding by the dictionary
    codes gives the per-line result, row for row and in order; each
    output batch holds the mentions of at most ``chunk`` lines."""
    from ner_funtool_spark.functions.fast_tokenize import padded_spans

    # rules on ASCII runs the byte path, on MIXED the string path
    assert (padded_spans(pa.array(lines), MAX_LEN) is None) == (lines is KERNEL_MIXED)
    # lines of an early slice of distinct lines recur after lines of a
    # later one, so the expansion reads across the slices
    distinct = list(dict.fromkeys(lines))
    slice_of = [distinct.index(x) // chunk for x in lines]
    if chunk < len(distinct):
        assert any(a > b for i, a in enumerate(slice_of) for b in slice_of[i + 1:])
    k = kernels.setdefault(mode, tagger._LineKernel("code", mode))
    batches = _stage_batches(k, lines, chunk)
    got = [(r["i"], r["begin"], r["end"], r["text"], r["etype"], r["score"], r["model"])
           for b in batches for r in b.to_pylist()]
    assert got == _per_line_rows(k, lines, chunk)
    for b in batches:
        i = b.column("i").to_numpy()
        assert i.min() // chunk == i.max() // chunk, (chunk, i)
    if mode == "rules":
        assert {x[3] for x in got} >= {"load_1", "alpha.core", "Reader7", "p"}


@pytest.mark.parametrize("mode", ["rules", "neural"])
def test_kernel_skips_expansion_when_every_line_is_distinct(kernels, monkeypatch, mode):
    """With no repeated line the dictionary codes are 0..n-1: the
    distinct-line mentions are the result, and no expansion runs."""
    calls = []
    real = tagger._expand

    def spy(*a):
        calls.append(1)
        return real(*a)

    monkeypatch.setattr(tagger, "_expand", spy)
    k = kernels.setdefault(mode, tagger._LineKernel("code", mode))
    lines = list(dict.fromkeys(KERNEL_MIXED))
    got = _kernel_rows(pa.array(lines), 7, k)
    assert not calls
    assert got == _per_line_rows(k, lines, 7)
    _kernel_rows(pa.array(lines + lines[:1]), 7, k)
    assert calls


def test_split_lines_matches_segment_semantics():
    lines, parent, sent_id = tagger.split_lines(
        pa.array(["a\n\nb\r\n", None, "", "\nc"]))
    assert lines.to_pylist() == ["a", "b\r", "c"]
    assert parent.tolist() == [0, 0, 3]
    assert sent_id.tolist() == [0, 2, 1]
    assert np.issubdtype(sent_id.dtype, np.integer)


def test_plans_import_does_not_load_pandas():
    """The Arrow worker's import closure stays pandas-free."""
    code = ("import sys, ner_funtool_spark.plans.kg; "
            "sys.exit(1 if 'pandas' in sys.modules else 0)")
    assert subprocess.run([sys.executable, "-c", code]).returncode == 0
