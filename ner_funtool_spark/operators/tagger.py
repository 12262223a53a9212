"""Fused Arrow-batch tagging stage: segment -> tokenize -> emissions ->
decode -> mentions.

This is the engine's analog of the reference's predict loop
(predict_bert_crf.py:141-173: per-sentence convert_single_example ->
sess.run -> strip -> extract), re-expressed as ONE ``mapInArrow``
stage over whole Arrow record batches — the north_star's explicit
replacement for the row-at-a-time serving scripts.

The stage takes FILE rows (:func:`tag_file_mentions`): it splits the
content into lines in Arrow C++, so a file's columns cross into Python
once instead of once per line.  Per input batch it dictionary-encodes
all of the batch's lines once, then tokenizes, decodes and extracts
once per distinct line, in slices of at most ``maxRecordsPerBatch``
distinct lines, and expands the mentions to every line that holds that
text.  An emitter turns the mentions into output rows, in batches of at
most ``maxRecordsPerBatch`` lines' mentions: :class:`MentionRows` (the
columns the caller names, then the mention columns) or, for the
flagship :func:`tag_file_triples`, ``operators.triples.TripleRows``
(finished triples, each file's CONTAINS triple from its own input row),
so the source is scanned once and nothing runs above the stage.
:func:`tag_mentions` is the same stage on line rows, with segmentation
skipped.  Per-slice dynamic padding reproduces pad_sequences'
batch-max semantics (data_preprocess.py:228-242, the shadowed
``max_len`` quirk).  This is the engine's only tagger: token matrices
become tag ids in one method, :meth:`_LineKernel.tags`, which the
decode-parity fixtures pin.

Two decoders share the Viterbi kernel (functions/crf.py):

* mode="rules":  interpretable lexer-class emissions + hard BMES
  constraint transitions.  Output provably equals a relational
  window rule -> DuckDB-oracle-checkable end-to-end.
* mode="neural": seeded hash-vocab embedding + BiLSTM + dense +
  seeded CRF transitions (model_lstm_crf.py graph shape, M1-M7).
  Decode parity is pinned by committed fixtures.
* mode="cascade": dual-head decode — 5-label BMEO boundary Viterbi +
  type argmax + trans_label merge (run_multitask_bert_crf.py:620-635,
  ner_utils.py:9-39; the label-vocab-shrink speedup the reference
  notes at predict_multitask_lm_model.py:8-10).
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame

from ..config import CODE_ETYPES, DOC_ETYPES, DOC_OBJ_WORDS, DOC_OP_WORDS, SEED
from ..functions.crf import (
    bmes_tags_from_classes,
    viterbi_decode_batch,
)
from ..functions.hashing import md5_int
from ..functions.model import (
    SeededAlbertBiLSTM,
    SeededBertBiLSTM,
    SeededBiLSTM,
)
from .triples import FILE_COLS, TripleRows

def _build_encoder(mode: str, n_types: int,
                   opts: dict | None = None) -> SeededBiLSTM:
    """Encoder per mode: 'albert' = factorized-embedding shared-layer
    variant (modeling_albert.py semantics), else the BERT-style stack;
    both feed the same BiLSTM + Viterbi machinery.

    ``opts`` overrides the encoder SHAPE (n_layers, n_heads, embed_dim,
    hidden, vocab_size) — the M13 depth-study knob (real-BERT regime:
    12 layers x 12 heads over a 21128 wordpiece vocab,
    bert/modeling_bert.py:784-1157).  Defaults unchanged, so every
    fixture-pinned path is untouched."""
    opts = opts or {}
    cls = SeededAlbertBiLSTM if mode == "albert" else SeededBertBiLSTM
    kw = {k: opts[k] for k in ("n_layers", "n_heads", "embed_dim", "hidden")
          if k in opts}
    vocab = opts.get("vocab_size", NEURAL_VOCAB)
    return cls(vocab, 1 + 4 * n_types, n_attr=n_types + 1, seed=SEED, **kw)


TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+|[^\sA-Za-z0-9_]")
IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

KW_FUNC = frozenset({"def", "func", "function", "void"})
KW_CLASS = frozenset({"class", "type"})
KW_IMPORT = frozenset({"import", "from"})
KW_ALL = KW_FUNC | KW_CLASS | KW_IMPORT | {"package"}

MAX_LEN = 64
NEURAL_VOCAB = 4096
NEURAL_MODES = ("neural", "cascade", "albert")

MENTION_COLS = "begin int, end int, text string, etype string, score float, model string"


# --------------------------------------------------------------------------
# feature extraction -> token class ids
# --------------------------------------------------------------------------

# token lexical categories (computed once per UNIQUE token per batch)
_K_OTHER, _K_DEF, _K_CLASS, _K_IMPORT, _K_FROM, _K_PKG, _K_DOT, _K_QUOTE, _K_IDENT = range(9)


def _token_categories(toks: np.ndarray) -> np.ndarray:
    """[B,S] object tokens -> int category matrix, via hash-factorize:
    string work happens once per unique token, the matrix ops are int.
    """
    import pandas as pd

    codes, uniques = pd.factorize(toks.ravel())
    u = pd.Series(uniques, dtype=object)
    ucat = np.zeros(len(u), dtype=np.int8)
    ucat[u.isin(("def", "func", "function", "void")).to_numpy()] = _K_DEF
    ucat[u.isin(("class", "type")).to_numpy()] = _K_CLASS
    ucat[(u == "import").to_numpy()] = _K_IMPORT
    ucat[(u == "from").to_numpy()] = _K_FROM
    ucat[(u == "package").to_numpy()] = _K_PKG
    ucat[u.isin((".", "/")).to_numpy()] = _K_DOT
    ucat[(u == '"').to_numpy()] = _K_QUOTE
    is_id = (u.str.match(IDENT_RE) & ~u.isin(KW_ALL)).to_numpy()
    ucat[is_id] = _K_IDENT
    return ucat[codes].reshape(toks.shape)


def _shift_i(mat: np.ndarray, k: int) -> np.ndarray:
    out = np.zeros_like(mat)
    if k < mat.shape[1]:
        out[:, k:] = mat[:, :-k] if k else mat
    return out


def code_token_classes(toks: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Lexer-feature classes for source code: 0=O 1=func 2=class 3=module 4=package.

    Bounded-lookbehind rules over an int category matrix (string work
    is factorized to unique tokens): the code-domain analog of the
    reference's char-class folding (data_preprocess.py:89-92) and
    BasicTokenizer feature prep — zero per-row Python.
    """
    return _code_classes_from_categories(_token_categories(toks), lengths)


def _code_classes_from_categories(K: np.ndarray,
                                  lengths: np.ndarray) -> np.ndarray:
    """Positional lexer rules over a category matrix — shared by the
    string path (above) and the byte path (_code_categories_bytes)."""
    B, S = K.shape
    p1, p2, p3 = _shift_i(K, 1), _shift_i(K, 2), _shift_i(K, 3)
    is_ident = K == _K_IDENT
    imp = lambda m: (m == _K_IMPORT) | (m == _K_FROM)  # noqa: E731
    # has a 'from' strictly before this position (distinguishes the
    # imported-symbol slot of `from X import Y` from a module name)
    seen_from = np.cumsum(p1 == _K_FROM, axis=1) > 0

    cls = np.zeros((B, S), dtype=np.int64)
    cls[is_ident & (p1 == _K_DEF)] = 1
    cls[is_ident & (p1 == _K_CLASS)] = 2
    mod_first = is_ident & (
        ((p1 == _K_IMPORT) & ~seen_from)
        | (p1 == _K_FROM)
        | ((p1 == _K_QUOTE) & imp(p2))
    )
    mod_dot = (K == _K_DOT) & (p1 == _K_IDENT) & imp(p2)
    mod_second = is_ident & (p1 == _K_DOT) & (p2 == _K_IDENT) & imp(p3)
    cls[mod_first | mod_dot | mod_second] = 3
    cls[is_ident & (p1 == _K_PKG)] = 4
    # zero out padding
    mask = np.arange(S)[None, :] < lengths[:, None]
    return np.where(mask, cls, 0)


def doc_token_classes(toks: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Word-class features for the `documents` word-soup domain:
    0=O, 1=op, 2=obj.  Consecutive same-class runs form entities."""
    import pandas as pd

    B, S = toks.shape
    codes, uniques = pd.factorize(toks.ravel())
    u = pd.Series(uniques, dtype=object)
    ucls = np.zeros(len(u), dtype=np.int64)
    ucls[u.isin(frozenset(DOC_OP_WORDS)).to_numpy()] = 1
    ucls[u.isin(frozenset(DOC_OBJ_WORDS)).to_numpy()] = 2
    cls = ucls[codes].reshape(B, S)
    mask = np.arange(S)[None, :] < lengths[:, None]
    return np.where(mask, cls, 0)


CLASS_FNS = {"code": (code_token_classes, CODE_ETYPES), "doc": (doc_token_classes, DOC_ETYPES)}


# --------------------------------------------------------------------------
# byte-path classification (no Python strings — functions/fast_tokenize.py)
# --------------------------------------------------------------------------

def _code_categories_bytes(data: np.ndarray, tok_start: np.ndarray,
                           tok_len: np.ndarray) -> np.ndarray:
    """Token categories straight from the UTF-8 buffer via
    (length, 8-byte-prefix) keys — equals _token_categories on the
    materialized strings (pytest-proven)."""
    from ..functions.fast_tokenize import (
        first_byte,
        match_words,
        prefix_keys,
        starts_with_letter,
    )

    keys = prefix_keys(data, tok_start, tok_len)
    K = np.zeros(keys.shape, dtype=np.int8)
    K[match_words(keys, tok_len, KW_FUNC)] = _K_DEF
    K[match_words(keys, tok_len, KW_CLASS)] = _K_CLASS
    K[match_words(keys, tok_len, ("import",))] = _K_IMPORT
    K[match_words(keys, tok_len, ("from",))] = _K_FROM
    K[match_words(keys, tok_len, ("package",))] = _K_PKG
    fb = first_byte(keys)
    one = tok_len == 1
    K[one & ((fb == ord(".")) | (fb == ord("/")))] = _K_DOT
    K[one & (fb == ord('"'))] = _K_QUOTE
    is_id = starts_with_letter(keys) & ~match_words(keys, tok_len, KW_ALL)
    K[is_id] = _K_IDENT
    return K


def _classes_bytes(domain: str, data: np.ndarray, tok_start: np.ndarray,
                   tok_len: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Byte-path analog of CLASS_FNS[domain][0]."""
    from ..functions.fast_tokenize import match_words, prefix_keys

    if domain == "code":
        K = _code_categories_bytes(data, tok_start, tok_len)
        return _code_classes_from_categories(K, lengths)
    keys = prefix_keys(data, tok_start, tok_len)
    cls = np.zeros(keys.shape, dtype=np.int64)
    cls[match_words(keys, tok_len, DOC_OP_WORDS)] = 1
    cls[match_words(keys, tok_len, DOC_OBJ_WORDS)] = 2
    # padding slots have tok_len 0 and can never match a word
    return cls


# --------------------------------------------------------------------------
# vectorized mention extraction from decoded tag ids
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# the fused Spark stage
# --------------------------------------------------------------------------

# memoized token->id maps, one per vocab size: encoders with different
# hash-vocab sizes (the depth/vocab study) must not share cached ids
_ID_CACHES: dict[int, dict[str, int]] = {}
_ID_CACHE_MAX = 1_000_000


def _ids_from_tokens(toks: np.ndarray, vocab_size: int) -> np.ndarray:
    """Hash-vocab token ids — the scale-path analog of the char2id
    broadcast lookup with UNK folding (data_preprocess.py:144-160):
    no driver-side dictionary, deterministic on any executor.  The
    token->id map is pure, so it is memoized across Arrow batches for
    the lifetime of the worker (bounded)."""
    import pandas as pd

    cache = _ID_CACHES.setdefault(vocab_size, {})
    codes, uniq = pd.factorize(toks.ravel())
    uids = np.empty(len(uniq), dtype=np.int64)
    for i, u in enumerate(uniq):
        v = cache.get(u)
        if v is None:
            v = 0 if u == "" else md5_int(u) % (vocab_size - 1) + 1
            if len(cache) < _ID_CACHE_MAX:
                cache[u] = v
        uids[i] = v
    return uids[codes].reshape(toks.shape)


# line-level columns the file-row stage derives, with their Spark types
# (segment_lines' posexplode position is an int)
LINE_COLS = {"sent_id": "int", "sentence": "string"}
MENTION_NAMES = [f.split()[0] for f in MENTION_COLS.split(", ")]


def tag_mentions(df: DataFrame, *, domain: str = "code", mode: str = "rules",
                 encoder_opts: dict | None = None) -> DataFrame:
    """sentences -> mention rows; all pass-through columns preserved.

    Output adds (begin, end, text, etype, score, model); char offsets
    into the sentence, end exclusive.  This is the line-row entry of
    the stage :func:`tag_file_mentions` runs, with segmentation skipped.
    """
    emit = MentionRows(list(df.columns), _types(df))
    return _mention_stage(df, "sentence", False, domain, mode, encoder_opts, emit)


def tag_file_mentions(df: DataFrame, *, keep: list[str] | None = None,
                      domain: str = "code", mode: str = "rules",
                      encoder_opts: dict | None = None,
                      _file_rows: bool = False) -> DataFrame:
    """file rows -> mention rows, with line segmentation fused into the
    Arrow stage: equal to ``tag_mentions(segment_lines(df, keep))``.

    ``keep`` lists the output's pass-through columns in order: columns
    of ``df`` other than ``content``, plus ``sent_id`` and ``sentence``
    (segment_lines' columns).  The default is segment_lines' output.
    Only the named file columns and the content cross into Python, once
    per file, not once per line.

    ``_file_rows`` (``build_canonical_triples``' own) adds one row per
    input file, null content included: its file columns, ``text``,
    ``etype`` and ``sentence`` null, and the CONTAINS provenance
    (``sent_id``, ``begin``, ``end`` -1, ``score`` 0, ``model``
    ``'scan'``), which ``operators.triples.mentions_to_triples`` turns
    into the file's CONTAINS triple.
    """
    if keep is None:
        keep = [c for c in df.columns if c != "content"] + list(LINE_COLS)
    file_cols = [c for c in keep if c not in LINE_COLS]
    emit = MentionRows(keep, {**_types(df), **LINE_COLS}, file_rows=_file_rows)
    return _mention_stage(df.select(*file_cols, "content"), "content", True,
                          domain, mode, encoder_opts, emit)


def tag_file_triples(df: DataFrame, *, domain: str = "code", mode: str = "rules",
                     include_contains: bool = True) -> DataFrame:
    """file rows -> finished triple rows (``plans.kg.build_triples``):
    the stage of :func:`tag_file_mentions` with the triple emitter
    (:class:`operators.triples.TripleRows`), equal to
    ``mentions_to_triples(tag_file_mentions(df, _file_rows=include_contains))``."""
    return _mention_stage(df.select(*FILE_COLS, "content"), "content", True,
                          domain, mode, None, TripleRows(domain, include_contains))


def _types(df: DataFrame) -> dict:
    return {f.name: f.dataType.simpleString() for f in df.schema}


def _mention_stage(df: DataFrame, text_col: str, segment: bool, domain: str,
                   mode: str, encoder_opts: dict | None, emit) -> DataFrame:
    """The one ``mapInArrow`` stage behind every entry: :func:`_stage_fn`
    over ``df``, its output rows and schema (``emit.schema``) those of
    the emitter ``emit`` (:class:`MentionRows`, or
    :class:`operators.triples.TripleRows`)."""
    if mode != "rules" and mode not in NEURAL_MODES:
        raise ValueError(mode)
    # a file batch holds ~18x more lines than a line batch; the chunk
    # bounds the [U, S] matrices and each output batch as on the line
    # path, and a non-ASCII line sends only its own slice of distinct
    # lines down the regex path.  Zero or negative means no limit, as
    # in Spark.
    chunk = int(df.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    kernel = _LineKernel(domain, mode, encoder_opts)
    return df.mapInArrow(_stage_fn(text_col, segment, kernel, chunk, emit),
                         schema=emit.schema)


def _stage_fn(text_col: str, segment: bool, kernel: "_LineKernel", chunk: int, emit):
    """The function the stage hands to ``mapInArrow``.

    Per input batch: (if ``segment``) split each file's text into lines
    in Arrow C++; tag all of the batch's lines in one kernel call; then
    ``emit(rb, lines, sent_id, parts)`` turns ``parts`` — (line index,
    input row, mention columns) per slice of at most ``chunk`` lines —
    into output batches.  ``lines`` are the batch's lines and
    ``sent_id`` their positions in their files (None on line rows).
    Pass-through columns never materialize as Python objects.
    """
    import pyarrow as pa

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            text = rb.column(text_col)
            if segment:
                lines, parent, sent_id = split_lines(text)
            else:
                lines, parent, sent_id = text, None, None
            line_of, cols = kernel(lines, chunk)

            def parts():
                for lo, hi in _line_slices(line_of, len(lines), chunk):
                    lf = line_of[lo:hi]
                    frows = pa.array(lf if parent is None else parent[lf])
                    yield lf, frows, {c: a.slice(lo, hi - lo) for c, a in cols.items()}

            yield from emit(rb, lines, sent_id, parts())

    return run


class MentionRows:
    """The stage's mention emitter: per slice, the ``keep`` columns
    (``types`` gives their Spark types; file columns by Arrow ``take``,
    ``sent_id`` and ``sentence`` from the split lines when the rows are
    files), then the mention columns; with ``file_rows``, after the
    slices of each input batch one file row per input row
    (:func:`_file_batch`)."""

    def __init__(self, keep: list[str], types: dict, file_rows: bool = False):
        self.schema = ", ".join(f"`{c}` {types[c]}" for c in keep) + ", " + MENTION_COLS
        self.keep, self.file_rows = keep, file_rows

    def __call__(self, rb, lines, sent_id, parts):
        import pyarrow as pa

        for line_of, frows, cols in parts:
            arrays = []
            for c in self.keep:
                if sent_id is None or c not in LINE_COLS:
                    arrays.append(rb.column(c).take(frows))
                elif c == "sent_id":
                    arrays.append(pa.array(sent_id[line_of], type=pa.int32()))
                else:
                    arrays.append(lines.take(pa.array(line_of)))
            arrays += [cols[c].dictionary_decode() if c == "etype" else cols[c]
                       for c in MENTION_NAMES]
            yield pa.RecordBatch.from_arrays(arrays, names=self.keep + MENTION_NAMES)
        if self.file_rows:
            yield _file_batch(rb, self.keep)


def _file_batch(rb, keep: list[str]):
    """One file row per row of ``rb`` (see :func:`tag_file_mentions`):
    the file columns as they came in, and constant or null line and
    mention columns."""
    import pyarrow as pa

    n = rb.num_rows
    minus1 = pa.repeat(pa.scalar(-1, pa.int32()), n)
    const = {
        "sent_id": minus1, "sentence": pa.nulls(n, pa.string()),
        "begin": minus1, "end": minus1,
        "text": pa.nulls(n, pa.string()), "etype": pa.nulls(n, pa.string()),
        "score": pa.repeat(pa.scalar(0.0, pa.float32()), n),
        "model": pa.repeat(pa.scalar("scan", pa.string()), n),
    }
    names = keep + MENTION_NAMES
    return pa.RecordBatch.from_arrays(
        [const[c] if c in const else rb.column(c) for c in names], names=names)


def _step(n: int, chunk: int) -> int:
    """Slice length for ``n`` rows: ``chunk``, or all of them when
    ``chunk`` <= 0 (Spark's "no limit")."""
    return chunk if chunk > 0 else max(n, 1)


def chunk_lines(lines, chunk: int):
    """(start, slice) over ``lines`` in slices of at most ``chunk``
    rows; ``chunk`` <= 0 means one slice (Spark's "no limit")."""
    step = _step(len(lines), chunk)
    for a in range(0, len(lines), step):
        yield a, lines.slice(a, step)


def _line_slices(line_of: np.ndarray, n_lines: int, chunk: int):
    """(lo, hi) ranges of the mentions (``line_of`` sorted) of each
    slice of at most ``chunk`` lines, empty slices left out."""
    step = _step(n_lines, chunk)
    edges = [0, *np.searchsorted(line_of, np.arange(step, n_lines, step)).tolist(),
             len(line_of)]
    return [(lo, hi) for lo, hi in zip(edges[:-1], edges[1:]) if hi > lo]


def split_lines(content):
    """Arrow string column of file texts -> (lines, parent file row,
    sent_id): exactly segment_lines' ``split(content, '\\n')`` +
    posexplode + ``length > 0`` — null content yields no lines, ``\\r``
    stays in the line, and sent_id is the line's position in its file
    (gaps where blank lines were dropped)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = pc.split_pattern(content, "\n")
    lines = pc.list_flatten(parts)
    parent = pc.list_parent_indices(parts).to_numpy()
    offs = parts.offsets.to_numpy()
    sent_id = np.arange(len(lines)) - (offs[parent] - offs[0])
    keep = np.flatnonzero(pc.binary_length(lines).to_numpy(zero_copy_only=False) > 0)
    if len(keep) < len(lines):
        lines = lines.take(pa.array(keep))
        parent, sent_id = parent[keep], sent_id[keep]
    return lines, parent, sent_id


def _gather_strings(data: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Byte ranges of one buffer -> a pyarrow StringArray, by one numpy
    gather (no Python string per range)."""
    import pyarrow as pa

    offs = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    idx = np.repeat(starts - offs[:-1], lens) + np.arange(offs[-1])
    return pa.StringArray.from_buffers(len(starts), pa.py_buffer(offs),
                                       pa.py_buffer(data[idx]))


class _LineKernel:
    """Lines -> mentions.

    ``kernel(lines, chunk)`` returns (line index per mention, mention
    columns by name), mentions in line order; ``etype`` is a dictionary
    array over the domain's entity types, so an emitter can map it by
    id.  All the lines of a call (one input batch) are
    dictionary-encoded once; tokenize, classify or encode, decode and
    extract then run once per distinct line, on slices of at most
    ``chunk`` distinct lines (which bounds the [U, S] matrices), and
    the mentions of each distinct line are copied to every line that
    holds it by one CSR gather (:func:`_expand`) — not at all when no
    line repeats.  Rules mode on a slice of pure-ASCII lines runs the
    byte path (functions/fast_tokenize.py: token spans, classes and
    mention texts straight from the Arrow buffer); a slice holding any
    non-ASCII line, and the neural modes, tokenize with the reference
    regex.
    """

    def __init__(self, domain, mode, encoder_opts=None):
        self.domain, self.mode, self.encoder_opts = domain, mode, encoder_opts
        self.class_fn, self.etypes = CLASS_FNS[domain]
        self.model_name = f"{mode}_{domain}_v1"
        self.neural = None

    def __call__(self, lines, chunk: int):
        import pyarrow as pa
        import pyarrow.compute as pc

        if lines.null_count:
            lines = pc.fill_null(lines, "")
        enc = pc.dictionary_encode(lines)
        uarr = enc.dictionary
        # m: the mentions of the distinct lines, m["row"] indexing uarr
        parts = [self._distinct(part, a) for a, part in chunk_lines(uarr, chunk)]
        if not parts:
            parts = [dict(EMPTY_MENTIONS, text=pa.array([], pa.string()))]
        m = parts[0] if len(parts) == 1 else {
            k: (pa.concat_arrays if k == "text" else np.concatenate)([p[k] for p in parts])
            for k in parts[0]}
        text = m.pop("text")
        if len(uarr) == len(lines):
            # every line distinct: codes are 0..n-1, the expansion the identity
            line_of = m["row"]
        else:
            codes = enc.indices.to_numpy(zero_copy_only=False)
            line_of, idx = _expand(m["row"], codes, len(uarr))
            m = {k: v[idx] for k, v in m.items()}
            text = text.take(pa.array(idx))
        cols = {
            "begin": pa.array(m["begin"], type=pa.int32()),
            "end": pa.array(m["end"], type=pa.int32()),
            "text": text,
            "etype": pa.DictionaryArray.from_arrays(
                pa.array(m["etype_id"], type=pa.int32()),
                pa.array(list(self.etypes), type=pa.string())),
            "score": pa.array(m["score"], type=pa.float32()),
            "model": pa.repeat(pa.scalar(self.model_name, pa.string()), len(line_of)),
        }
        return line_of, cols

    def _distinct(self, uarr, first: int) -> dict:
        """Mentions of the distinct lines ``uarr`` (those from index
        ``first`` on): extract_mentions_arrays' columns, ``row`` offset
        by ``first``, and ``text``."""
        import pyarrow as pa

        from ..functions.fast_tokenize import padded_spans

        fast = padded_spans(uarr, MAX_LEN) if self.mode == "rules" else None
        if fast is not None:
            data, offs, utb, ute, ulens, tstart, tlen = fast
            ucls = _classes_bytes(self.domain, data, tstart, tlen, ulens)
            m = extract_mentions_arrays(bmes_tags_from_classes(ucls, ulens),
                                        utb, ute, ulens)
            m["text"] = _gather_strings(data, offs[m["row"]] + m["begin"],
                                        (m["end"] - m["begin"]).astype(np.int64))
        else:
            strs = uarr.to_pylist()
            utoks, utb, ute, ulens = _tokenize_unique(strs, MAX_LEN)
            m = extract_mentions_arrays(self.tags(utoks, ulens), utb, ute, ulens)
            m["text"] = pa.array([strs[r][b:e] for r, b, e in
                                  zip(m["row"], m["begin"], m["end"])], type=pa.string())
        m["row"] = m["row"] + first
        return m

    def tags(self, toks: np.ndarray, lens: np.ndarray) -> np.ndarray:
        """[B,S] token matrix + lengths -> [B,S] tag ids (0 = O, then
        B/M/E/S per entity type): the string path's classify-or-encode
        and decode."""
        if self.mode == "rules":
            return bmes_tags_from_classes(self.class_fn(toks, lens), lens)
        if self.neural is None:
            self.neural = _build_encoder(self.mode, len(self.etypes),
                                         self.encoder_opts)
        ids = _ids_from_tokens(
            toks, (self.encoder_opts or {}).get("vocab_size", NEURAL_VOCAB))
        return _neural_decode(self.neural, ids, lens, len(self.etypes),
                              "neural" if self.mode == "albert" else self.mode)


def _expand(rows: np.ndarray, codes: np.ndarray, n_uniq: int):
    """Mentions of distinct lines -> mentions of lines: (line index per
    mention, index into the distinct mentions), lines in order and each
    line's mentions in its distinct line's order.  ``rows`` (sorted)
    gives each distinct mention's distinct line, ``codes`` each line's
    distinct line."""
    cnt = np.bincount(rows, minlength=n_uniq)
    first = np.cumsum(cnt) - cnt  # a distinct line's first mention
    per_line = cnt[codes]
    line_of = np.repeat(np.arange(len(codes)), per_line)
    line_first = np.cumsum(per_line) - per_line  # a line's first output row
    idx = np.arange(len(line_of)) + np.repeat(first[codes] - line_first, per_line)
    return line_of, idx


def _tokenize_unique(uniques: list, max_len: int):
    """Sentences -> (toks [U,S] object, tbegin [U,S] i32, tend [U,S] i32,
    lengths [U]) by the reference regex: the string path of
    :class:`_LineKernel`, run once per distinct line.

    S is the call's max length (dynamic padding, P3 semantics);
    sequences longer than ``max_len`` truncate like
    convert_single_example (run_bert_crf.py:378-381)."""
    all_toks, all_b, all_e = [], [], []
    for s in uniques:
        toks, bs, es = [], [], []
        for mt in TOKEN_RE.finditer(s):
            toks.append(mt.group(0))
            bs.append(mt.start())
            es.append(mt.end())
            if len(toks) >= max_len:
                break
        all_toks.append(toks)
        all_b.append(bs)
        all_e.append(es)
    ulens = np.array([max(len(t), 1) for t in all_toks], dtype=np.int64)
    S = max(1, int(ulens.max()))
    U = max(1, len(uniques))
    utoks = np.full((U, S), "", dtype=object)
    ubegin = np.zeros((U, S), dtype=np.int32)
    uend = np.zeros((U, S), dtype=np.int32)
    for i, (t, b, e) in enumerate(zip(all_toks, all_b, all_e)):
        n = len(t)
        if n:
            utoks[i, :n] = t
            ubegin[i, :n] = b
            uend[i, :n] = e
    return utoks, ubegin, uend, ulens


# extract_mentions_arrays' columns, with no mention
EMPTY_MENTIONS = dict(
    row=np.array([], dtype=np.int64),
    begin=np.array([], dtype=np.int32),
    end=np.array([], dtype=np.int32),
    etype_id=np.array([], dtype=np.int64),
    score=np.array([], dtype=np.float32),
)


def extract_mentions_arrays(tags: np.ndarray, tbegin: np.ndarray,
                            tend: np.ndarray, lengths: np.ndarray) -> dict:
    """Vectorized pipeline-rule extraction returning plain arrays
    (row, begin, end, etype_id, score); callers slice sentence text by
    the char offsets.  Same group logic as extract_mentions, but with
    run boundaries found by index arithmetic (no pandas groupby)."""
    B, S = tags.shape
    mask = (np.arange(S)[None, :] < lengths[:, None]) & (tags > 0)
    r_idx, c_idx = np.nonzero(mask)
    if len(r_idx) == 0:
        return dict(EMPTY_MENTIONS)
    tag_v = tags[r_idx, c_idx]
    b_code = (tag_v - 1) % 4  # 0=B 1=M 2=E 3=S
    t_code = (tag_v - 1) // 4
    same_prev = np.zeros(len(r_idx), dtype=bool)
    same_prev[1:] = (r_idx[1:] == r_idx[:-1]) & (c_idx[1:] == c_idx[:-1] + 1)
    pb = np.roll(b_code, 1)
    pt = np.roll(t_code, 1)
    continues = same_prev & np.isin(b_code, (1, 2)) & np.isin(pb, (0, 1)) & (pt == t_code)
    starts = np.nonzero(~continues)[0]
    ends = np.append(starts[1:], len(r_idx)) - 1
    first_b = b_code[starts]
    last_b = b_code[ends]
    sizes = ends - starts + 1
    ok = ((first_b == 0) & (last_b == 2) & (sizes >= 2)) | (
        (first_b == 3) & (sizes == 1)
    )
    s_ok, e_ok = starts[ok], ends[ok]
    if len(s_ok) == 0:
        return dict(EMPTY_MENTIONS)
    rows = r_idx[s_ok]
    return dict(
        row=rows,
        begin=tbegin[rows, c_idx[s_ok]].astype(np.int32),
        end=tend[rows, c_idx[e_ok]].astype(np.int32),
        etype_id=t_code[s_ok],
        score=np.zeros(len(s_ok), dtype=np.float32),
    )


def _neural_decode(neural: SeededBiLSTM, ids: np.ndarray, lens: np.ndarray,
                   n_types: int, mode: str) -> np.ndarray:
    """Neural decode paths.

    neural: full-tagset Viterbi with the seeded transition matrix (M7).
    cascade: 5-label BMEO boundary Viterbi + attr-head argmax + the
    trans_label merge rule — attr of O-boundary tokens masked to O
    (ner_utils.py:28-34; loss-mask analog run_multitask_bert_crf.py:646-651).
    """
    if mode == "neural":
        logits = neural.logits(ids, lens)
        return viterbi_decode_batch(logits, neural.transitions.astype(np.float64), lens)
    bnd_logits, attr_logits = neural.dual_logits(ids, lens)
    # boundary head: O + B/M/E/S (5 labels) = tagset of ONE pseudo-type
    bnd5 = np.zeros(bnd_logits.shape[:2] + (5,), dtype=np.float64)
    # fold the full head onto 5 labels: O stays, per-boundary max over types
    bnd5[:, :, 0] = bnd_logits[:, :, 0]
    for b in range(4):
        bnd5[:, :, 1 + b] = bnd_logits[:, :, 1 + b :: 4].max(axis=2)
    trans5 = _boundary_transitions(neural)
    bpath = viterbi_decode_batch(bnd5, trans5, lens)  # 0=O 1=B 2=M 3=E 4=S
    attr = np.argmax(attr_logits, axis=2)  # 0=O-attr, 1..n_types
    # trans_label merge: O boundary or O attr -> O
    merged = np.where((bpath == 0) | (attr == 0), 0, (attr - 1) * 4 + bpath)
    mask = np.arange(ids.shape[1])[None, :] < np.asarray(lens)[:, None]
    return np.where(mask, merged, 0).astype(np.int32)


def _boundary_transitions(neural: SeededBiLSTM) -> np.ndarray:
    """Seeded 5x5 boundary transition matrix (deterministic slice of the
    full seeded transitions — fixture-pinned like the rest)."""
    t = neural.transitions
    idx = [0, 1, 2, 3, 4]
    return t[np.ix_(idx, idx)].astype(np.float64)
