"""Corpus readers + dictionary builders (SURVEY.md §2.1 S1-S16, §2.5 A1-A2).

The reference's input universe, re-expressed as DataFrame plans:

* blank-line-delimited ``char<TAB>TAG`` sentence TSV
  (public_tools/data_preprocess.py:18-74, run_bert_crf.py:242-293):
  running blank-line counter over a window -> groupBy sentence.
* multitask variant: ``B-ORG`` split at '-' into boundary + type
  (public_tools/data_preprocess_multitask.py:55-70).
* CLUE JSON lines ``{"text", "label": {type: {word: [[s,e]]}}}``
  (data/clue_ner/data_trans.py:11-60): spans -> per-char BMES-O tags
  (``S-`` for singletons, else B/M.../E) and the reverse direction for
  the submit sink (predict_bert_wol.py:204-221) — round-trip tested.
* vocab build with digit/latin folding and min-count filter
  (data_preprocess.py:77-113) and tag-dictionary derivation (:64-73).

Ordering note: line order inside a text file is reconstructed with
monotonically_increasing_id, whose (partition, offset) layout follows
split order for contiguous file splits — exact for the file sizes these
corpora come in; at 100 TB the payload rides in the table itself (one
row per record), not in line adjacency, so this path never scales-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ordered_lines(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path).withColumn("fid", F.monotonically_increasing_id())


def read_tagged_tsv(spark: SparkSession, path: str,
                    multitask: bool = False) -> DataFrame:
    """Blank-line-delimited char\\tTAG -> (sent_id, chars, tags[, bmeo, attr])."""
    lines = _ordered_lines(spark, path)
    w = Window.orderBy("fid")
    blank = F.when(F.length(F.trim("value")) == 0, 1).otherwise(0)
    sent = lines.withColumn("sent_id", F.sum(blank).over(w)).filter(
        F.length(F.trim("value")) > 0
    )
    parts = F.split(F.col("value"), "\t")
    tok = sent.select(
        "sent_id",
        "fid",
        F.element_at(parts, 1).alias("ch"),
        F.element_at(parts, 2).alias("tag"),
    )
    agg = tok.groupBy("sent_id").agg(
        F.array_sort(F.collect_list(F.struct("fid", "ch", "tag"))).alias("xs")
    )
    out = agg.select(
        "sent_id",
        F.transform("xs", lambda x: x["ch"]).alias("chars"),
        F.transform("xs", lambda x: x["tag"]).alias("tags"),
    )
    if multitask:
        # 'B-ORG' -> ('B', 'ORG'); 'O' -> ('O', 'O')
        out = out.withColumn(
            "bmeo",
            F.transform("tags", lambda t: F.element_at(F.split(t, "-"), 1)),
        ).withColumn(
            "attr",
            F.transform(
                "tags",
                lambda t: F.when(t.contains("-"), F.element_at(F.split(t, "-"), 2)).otherwise("O"),
            ),
        )
    return out


CLUE_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField(
        "label",
        T.MapType(
            T.StringType(),
            T.MapType(T.StringType(), T.ArrayType(T.ArrayType(T.IntegerType()))),
        ),
    ),
])


def read_clue_json(spark: SparkSession, path: str) -> DataFrame:
    """CLUE JSONL -> (line_id, text, label) with explicit schema."""
    df = spark.read.schema(CLUE_SCHEMA).json(path)
    return df.withColumn("line_id", F.monotonically_increasing_id())


def clue_spans(clue: DataFrame) -> DataFrame:
    """label map -> one row per span: (line_id, etype, word, s, e).

    Spans are inclusive [s, e] char offsets (data_trans.py:38-60).
    """
    return (
        clue.select(
            "line_id", "text", F.explode(F.map_entries("label")).alias("t")
        )
        .select(
            "line_id", "text",
            F.col("t.key").alias("etype"),
            F.explode(F.map_entries("t.value")).alias("w"),
        )
        .select(
            "line_id", "text", "etype",
            F.col("w.key").alias("word"),
            F.explode("w.value").alias("span"),
        )
        .select(
            "line_id", "text", "etype", "word",
            F.element_at("span", 1).alias("s"),
            F.element_at("span", 2).alias("e"),
        )
    )


def clue_tags(clue: DataFrame) -> DataFrame:
    """spans -> per-char BMES-O tag array (S- singleton, else B..M..E),
    matching data_trans.py:50-56.  Pure column expressions: a position
    map from exploded spans, then a sequence transform."""
    sp = clue_spans(clue)
    pos_tag = sp.select(
        "line_id",
        F.explode(F.sequence("s", "e")).alias("pos"),
        F.when(F.col("s") == F.col("e"), F.concat(F.lit("S-"), "etype"))
        .when(F.col("pos") == F.col("s"), F.concat(F.lit("B-"), "etype"))
        .when(F.col("pos") == F.col("e"), F.concat(F.lit("E-"), "etype"))
        .otherwise(F.concat(F.lit("M-"), "etype"))
        .alias("tag"),
    )
    maps = pos_tag.groupBy("line_id").agg(
        F.map_from_entries(F.collect_list(F.struct("pos", "tag"))).alias("m")
    )
    all_o = F.array_repeat(F.lit("O"), F.length("text"))
    from_map = F.transform(
        F.sequence(F.lit(0), F.length("text") - 1),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit("O")),
    )
    return clue.join(maps, "line_id", "left").select(
        "line_id",
        "text",
        F.when(F.col("m").isNull(), all_o).otherwise(from_map).alias("tags"),
    )


def tags_to_clue_label(tagged: DataFrame, text_col: str = "text",
                       tags_col: str = "tags") -> DataFrame:
    """Reverse direction (K5 submit sink): per-char BMES tags -> the
    CLUE label map, via the relational run-grouping (same shape as
    operators/mentions_sql.py) + nested map assembly."""
    t = tagged.select(
        "line_id",
        F.col(text_col).alias("text"),
        F.posexplode(tags_col).alias("pos", "tag"),
    ).withColumn("etype", F.when(F.col("tag") != "O", F.substring("tag", 3, 1000)))
    w = Window.partitionBy("line_id").orderBy("pos")
    runs = (
        t.withColumn(
            "brk",
            F.when(
                F.col("etype").eqNullSafe(F.lag("etype").over(w))
                & ~F.col("tag").startswith("B-")
                & ~F.col("tag").startswith("S-")
                & ~F.coalesce(F.lag("tag").over(w), F.lit("")).startswith("S-")
                & ~F.coalesce(F.lag("tag").over(w), F.lit("")).startswith("E-"),
                0,
            ).otherwise(1),
        )
        .withColumn("gid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(F.col("etype").isNotNull())
    )
    spans = runs.groupBy("line_id", "gid", "etype").agg(
        F.min("pos").alias("s"), F.max("pos").alias("e"), F.first("text").alias("text")
    ).withColumn("word", F.expr("substring(text, s + 1, e - s + 1)"))
    words = spans.groupBy("line_id", "etype", "word").agg(
        F.collect_list(F.array("s", "e")).alias("locs")
    )
    per_type = words.groupBy("line_id", "etype").agg(
        F.map_from_entries(F.collect_list(F.struct("word", "locs"))).alias("wm")
    )
    return per_type.groupBy("line_id").agg(
        F.map_from_entries(F.collect_list(F.struct("etype", "wm"))).alias("label")
    )


def wordtag_to_char_bio(df: DataFrame, text_col: str = "line",
                        sep: str = "/") -> DataFrame:
    """MSRA-style converter (S13, data/msra_ner/train2pkl.py:8-39):
    ``word/tag`` tokens -> per-char tags.  Exactly the reference's rule:
    single-char word -> ``B_tag`` alone; 2+ chars -> ``B_ (M_)* E_``;
    tag ``o`` -> lowercase ``o`` per char (the reference writes '/o').
    Pure column expressions (flatten of a nested transform).

    Empty tokens are dropped like python ``line.strip().split()`` does
    (F.trim strips spaces only, so a trailing newline would otherwise
    leave a '' token that the reference's split never produces).
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    word = lambda t: F.element_at(F.split(t, sep), 1)  # noqa: E731
    tag = lambda t: F.element_at(F.split(t, sep), 2)  # noqa: E731

    def char_tags(t):
        w, g = word(t), tag(t)
        n = F.length(w)
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.when(g == "o", "o")
            .when(i == 1, F.concat(F.lit("B_"), g))
            .when(i == n, F.concat(F.lit("E_"), g))
            .otherwise(F.concat(F.lit("M_"), g)),
        )

    chars = F.flatten(
        F.transform(
            toks,
            lambda t: F.transform(
                F.sequence(F.lit(1), F.length(word(t))),
                lambda i: word(t).substr(i, F.lit(1)),
            ),
        )
    )
    tags = F.flatten(F.transform(toks, char_tags))
    return df.withColumn("chars", chars).withColumn("tags", tags)


def vocab_build(corpus: DataFrame, chars_col: str = "chars",
                min_count: int = 1) -> DataFrame:
    """Char-frequency vocab with the reference's folding rules
    (data_preprocess.py:77-113): digits -> <NUM>, latin -> <ENG>, drop
    below min_count (folded specials always kept), ids by frequency
    desc then char asc (deterministic rank)."""
    folded = corpus.select(F.explode(chars_col).alias("ch")).select(
        F.when(F.col("ch").rlike("^[0-9]$"), "<NUM>")
        .when(F.col("ch").rlike("^[A-Za-z]$"), "<ENG>")
        .otherwise(F.col("ch"))
        .alias("ch")
    )
    counts = folded.groupBy("ch").agg(F.count("*").alias("freq"))
    kept = counts.filter(
        (F.col("freq") >= min_count) | F.col("ch").isin("<NUM>", "<ENG>")
    )
    w = Window.orderBy(F.desc("freq"), F.asc("ch"))
    return kept.select(
        "ch", "freq", (F.row_number().over(w)).alias("id")
    )


def tag_dictionary(corpus: DataFrame, tags_col: str = "tags") -> DataFrame:
    """Distinct tags -> dense ids, O first then lexicographic
    (derivation rule of data_preprocess.py:64-73 made deterministic)."""
    tags = corpus.select(F.explode(tags_col).alias("tag")).distinct()
    w = Window.orderBy(F.when(F.col("tag") == "O", 0).otherwise(1), F.asc("tag"))
    return tags.select("tag", (F.row_number().over(w) - 1).alias("id"))


def load_dict_broadcast(spark: SparkSession, df: DataFrame,
                        key: str, value: str):
    """Small dimension -> broadcast python dict (S7/S8 loaders)."""
    d = {r[key]: r[value] for r in df.collect()}
    return spark.sparkContext.broadcast(d)


# ---------------------------------------------------------------------------
# S14/S15: People's-Daily + Boson converters — the EXACT reference rules
# (round-2: VERDICT r1 items 7/8 closed these partial rows)
# ---------------------------------------------------------------------------

_CT = "array<struct<ch:string,tag:string>>"


def _char_bme(w, g):
    """word + entity type -> per-char B_/M_/E_ (ch, tag) structs with
    the reference's single-char quirk reproduced faithfully: a 1-char
    word emits its char TWICE (B_ then E_), because both converters
    write ``word[0]/B_`` and ``word[-1]/E_`` unconditionally
    (data_renmin_word.py:52-57, boson data_util.py:118-122)."""
    n = F.length(w)
    s = lambda ch, t: F.struct(ch.alias("ch"), t.alias("tag"))  # noqa: E731
    first = F.array(s(w.substr(1, 1), F.concat(F.lit("B_"), g)))
    mids = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(2), n - 1),
            lambda i: s(w.substr(i, F.lit(1)), F.concat(F.lit("M_"), g)),
        ),
    ).otherwise(F.array().cast(_CT))
    last = F.array(s(w.substr(n, F.lit(1)), F.concat(F.lit("E_"), g)))
    return F.concat(first, mids, last)


def _chars_o(w):
    """Every char of ``w`` tagged O."""
    return F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.struct(w.substr(i, F.lit(1)).alias("ch"), F.lit("O").alias("tag")),
    )


def renmin_merge_tokens(df: DataFrame, line_col: str = "line") -> DataFrame:
    """People's-Daily originHandle (data_renmin_word.py:11-36) as one
    JVM-side aggregate state machine per line — no Python.

    Tokens are the two-space split, skipping the first (date id) and
    last elements exactly like the reference loop bounds.  Rules:

    * ``[w1/t1 w2/t2 ... wk/tk]TT`` bracketed compound -> one token
      ``w1w2...wk/TT`` (TT = last two chars after ']');
    * two adjacent ``/nr`` tokens (surname + given name) merge into one
      ``/nr`` token; a lone ``/nr`` stays (flushed before the next
      token is re-dispatched, mirroring the reference's ``continue``);
    * everything else passes through unchanged.

    An unclosed bracket at line end is dropped (the reference would
    mis-consume the excluded last token; inputs are well-formed).
    Output column ``toks``: array of ``word/tag`` strings.  The
    array-append accumulator is O(L²) in line token count — lines are
    sentence-sized; this is a shipped-corpus reader, not a 100 TB path.
    """
    toks = F.split(F.col(line_col), "  ")
    body = F.slice(toks, 2, F.greatest(F.size(toks) - 2, F.lit(0)))

    word = lambda t: F.element_at(F.split(t, "/"), 1)  # noqa: E731
    tag = lambda t: F.element_at(F.split(t, "/"), 2)  # noqa: E731

    def acc_of(out, buf, prev):
        return F.struct(out.alias("out"), buf.alias("buf"), prev.alias("prev"))

    null_s = F.lit(None).cast("string")
    init = acc_of(F.array().cast("array<string>"), null_s, null_s)

    def dispatch(out, t):
        """Fresh-token cases (no pending compound, no pending nr)."""
        w = word(t)
        return (
            F.when(t.startswith("["), acc_of(out, w.substr(F.lit(2), F.length(w)), null_s))
            .when(tag(t) == "nr", acc_of(out, null_s, w))
            .otherwise(acc_of(F.concat(out, F.array(t)), null_s, null_s))
        )

    def merge(acc, t):
        w = word(t)
        compound_done = F.concat(
            acc["buf"], F.trim(w), F.lit("/"), F.substring(tag(t), -2, 2)
        )
        nr_merged = F.concat(acc["prev"], w, F.lit("/nr"))
        nr_flushed = F.concat(acc["out"], F.array(F.concat(acc["prev"], F.lit("/nr"))))
        return (
            F.when(t == "", acc)
            .when(
                acc["buf"].isNotNull(),
                F.when(
                    F.instr(t, "]") > 0,
                    acc_of(F.concat(acc["out"], F.array(compound_done)), null_s, acc["prev"]),
                ).otherwise(acc_of(acc["out"], F.concat(acc["buf"], w), acc["prev"])),
            )
            .when(
                acc["prev"].isNotNull() & (tag(t) == F.lit("nr")),
                acc_of(F.concat(acc["out"], F.array(nr_merged)), null_s, null_s),
            )
            .when(acc["prev"].isNotNull(), dispatch(nr_flushed, t))
            .otherwise(dispatch(acc["out"], t))
        )

    finish = lambda acc: F.when(  # noqa: E731
        acc["prev"].isNotNull(),
        F.concat(acc["out"], F.array(F.concat(acc["prev"], F.lit("/nr")))),
    ).otherwise(acc["out"])

    return df.withColumn("toks", F.aggregate(body, init, merge, finish))


RENMIN_ENTITY_TAGS = ("nr", "ns", "nt")


def renmin_char_bme(df: DataFrame, toks_col: str = "toks") -> DataFrame:
    """originHandle2 (data_renmin_word.py:39-62): merged ``word/tag``
    tokens -> per-char (chars, tags) arrays; nr/ns/nt expand to
    B_/M_/E_ (single-char quirk preserved), all other tags -> O."""
    word = lambda t: F.element_at(F.split(t, "/"), 1)  # noqa: E731
    tag = lambda t: F.element_at(F.split(t, "/"), 2)  # noqa: E731
    ct = F.flatten(
        F.transform(
            F.filter(F.col(toks_col), lambda t: t != ""),
            lambda t: F.when(
                tag(t).isin(*RENMIN_ENTITY_TAGS), _char_bme(word(t), tag(t))
            ).otherwise(_chars_o(word(t))),
        )
    )
    return (
        df.withColumn("_ct", ct)
        .withColumn("chars", F.transform("_ct", lambda x: x["ch"]))
        .withColumn("tags", F.transform("_ct", lambda x: x["tag"]))
        .drop("_ct")
    )


def boson_char_tags(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Boson origin2tag (data/boson_ner/data_util.py:104-129):
    ``{{type:text}}`` spans -> per-char B_/M_/E_type, everything else
    per-char O.  Faithful quirks: the annotation text is
    ``split(':')[1]`` (anything after a SECOND colon is dropped) and
    the 1-char duplication of _char_bme.  Pieces come from a
    lookaround split, so the scan is one JVM expression per line."""
    # python .strip() equivalent (F.trim strips spaces only, not \n)
    stripped = F.regexp_replace(F.col(line_col), r"^\s+|\s+$", "")
    pieces = F.split(stripped, r"(?=\{\{)|(?<=\}\})")
    inner = lambda p: F.regexp_extract(p, r"^\{\{(.*)\}\}$", 1)  # noqa: E731
    etype = lambda p: F.element_at(F.split(inner(p), ":"), 1)  # noqa: E731
    sen = lambda p: F.element_at(F.split(inner(p), ":"), 2)  # noqa: E731
    ct = F.flatten(
        F.transform(
            F.filter(pieces, lambda p: p != ""),
            lambda p: F.when(
                p.startswith("{{") & p.endswith("}}"), _char_bme(sen(p), etype(p))
            ).otherwise(_chars_o(p)),
        )
    )
    return (
        df.withColumn("_ct", ct)
        .withColumn("chars", F.transform("_ct", lambda x: x["ch"]))
        .withColumn("tags", F.transform("_ct", lambda x: x["tag"]))
        .drop("_ct")
    )


RENMIN_SPLIT_PUNCTS = tuple("，。！？、‘’“”:")
BOSON_SPLIT_PUNCTS = tuple("，。！？、‘’“”（）")


def split_tagged_sentences(df: DataFrame, id_col: str = "line_id",
                           chars_col: str = "chars", tags_col: str = "tags",
                           puncts: tuple = RENMIN_SPLIT_PUNCTS,
                           drop_all_o: bool = False) -> DataFrame:
    """sentence2split / tagsplit: break (chars, tags) rows at
    punctuation chars tagged O (the separator char is dropped), keeping
    in-line order.  ``drop_all_o`` additionally drops sentences with no
    entity tag (the data2pkl ``numNotO`` filter).

    Per-line running-group-id window (partitioned by line — never
    global) + groupBy: the engine's standard sessionize shape.
    Divergence from the reference, documented: the reference splits the
    concatenated FILE, so a sentence could span a newline; here lines
    split independently (downstream whitespace-split semantics agree).
    """
    z = df.select(
        id_col,
        F.posexplode(F.arrays_zip(F.col(chars_col).alias("ch"), F.col(tags_col).alias("tag"))).alias("pos", "z"),
    ).select(id_col, "pos", F.col("z.ch").alias("ch"), F.col("z.tag").alias("tag"))
    boundary = F.col("ch").isin(*puncts) & (F.col("tag") == "O")
    w = Window.partitionBy(id_col).orderBy("pos")
    g = z.withColumn("gid", F.sum(boundary.cast("int")).over(w)).filter(~boundary)
    sents = (
        g.groupBy(id_col, "gid")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "ch", "tag"))).alias("s"))
        .select(
            id_col,
            F.col("gid").alias("sent_id"),
            F.transform("s", lambda x: x["ch"]).alias("chars"),
            F.transform("s", lambda x: x["tag"]).alias("tags"),
        )
    )
    if drop_all_o:
        sents = sents.filter(
            F.exists("tags", lambda t: t != "O")
        )
    return sents


# ---------------------------------------------------------------------------
# S16: char-embedding text-file ingestion (data_preprocess.py:163-213)
# ---------------------------------------------------------------------------

EMB_SPECIALS = ("<PAD>", "<UNK>", "<CLS>", "<SEP>", "<MASK>", "<NUM>", "<ENG>")


def gen_char_embedding(spark: SparkSession, raw_embedding_path: str,
                       seed: int | None = None) -> DataFrame:
    """Parse a ``char v1 .. vd`` text embedding file into a vocab +
    vector table (S16, gen_char_embedding data_preprocess.py:163-213).

    Faithful rules: the 7 special tokens head the vocab in the
    reference's order, file rows follow in FILE ORDER; rows whose char
    is a literal space are skipped; ``<PAD>`` backfills as the zero
    vector; other missing specials get normal(0,1) vectors.  Two
    documented divergences: (1) the reference's backfill is unseeded
    np.random — here it is seeded (config.SEED by default) so re-runs
    are byte-identical (the engine's determinism invariant); (2) the
    reference appends every file row to vocab_ls unconditionally, so a
    special token ALSO present in the embedding file gets two vocab
    entries (its special slot 0-6 plus a file-order id) — here it is
    deduped to the special slot only, since a duplicate char key would
    break the (ch -> id) dict contract every downstream consumer
    assumes (the reference only avoids the crash because its dict
    insert silently overwrites).

    Returns (ch, id, vector array<double>) with dense ids matching the
    vocab file the reference writes.  The file is a bounded dimension
    (like S7/S8 dict loads): per-special backfill decisions use one
    small driver-side aggregate, then everything stays a DataFrame.
    """
    import numpy as np

    from ..config import SEED

    lines = _ordered_lines(spark, raw_embedding_path)
    parts = F.split(F.col("value"), " ")
    parsed = (
        lines.select(
            "fid",
            F.element_at(parts, 1).alias("ch"),
            F.transform(
                F.filter(F.slice(parts, 2, F.size(parts) - 1), lambda x: x != ""),
                lambda x: x.cast("double"),
            ).alias("vector"),
        )
        # a literal-space char row splits to a leading '' element; the
        # reference's `char != ' '` guard intends to skip it — both
        # forms are skipped here (the '' row would crash float() there)
        .filter(~F.col("ch").isin("", " "))
    )
    # bounded metadata: embedding dim + which specials the file covers
    head = parsed.select(
        F.size("vector").alias("dim"), F.col("ch")
    )
    dim = head.first()["dim"]
    present = {
        r["ch"] for r in parsed.filter(F.col("ch").isin(*EMB_SPECIALS))
        .select("ch").distinct().collect()
    }
    rng = np.random.RandomState(SEED if seed is None else seed)
    fill_rows = []
    for sp in EMB_SPECIALS:
        if sp in present:
            continue
        if sp == "<PAD>":
            vec = [0.0] * dim
        else:
            vec = [float(v) for v in rng.normal(0.0, 1.0, size=dim)]
        fill_rows.append((sp, vec))
    fills = spark.createDataFrame(fill_rows, "ch string, vector array<double>") \
        if fill_rows else None

    # vocab order: specials first (reference order), then file order
    order = {sp: i for i, sp in enumerate(EMB_SPECIALS)}
    spec_rank = F.coalesce(
        *[F.when(F.col("ch") == sp, F.lit(order[sp])) for sp in EMB_SPECIALS],
        F.lit(len(EMB_SPECIALS)),
    )
    file_rows = parsed.filter(~F.col("ch").isin(*EMB_SPECIALS)).select(
        F.lit(len(EMB_SPECIALS)).alias("rank"), "fid", "ch", "vector"
    )
    spec_file = parsed.filter(F.col("ch").isin(*EMB_SPECIALS)).select(
        spec_rank.alias("rank"), F.lit(-1).cast("long").alias("fid"), "ch", "vector"
    )
    all_rows = spec_file.unionByName(file_rows)
    if fills is not None:
        all_rows = all_rows.unionByName(
            fills.select(
                spec_rank.alias("rank"), F.lit(-1).cast("long").alias("fid"),
                "ch", "vector",
            )
        )
    w = Window.orderBy("rank", "fid", "ch")
    return all_rows.select(
        "ch", (F.row_number().over(w) - 1).alias("id"), "vector"
    )
