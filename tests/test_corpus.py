"""Corpus reader tests: tagged TSV, CLUE JSON round-trip,
vocab/tag dictionaries (FIXTURES.md F2/F3/F5/F6)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ner_funtool_spark.sources.corpus import (
    clue_spans,
    clue_tags,
    load_dict_broadcast,
    read_clue_json,
    read_tagged_tsv,
    tag_dictionary,
    tags_to_clue_label,
    vocab_build,
    wordtag_to_char_bio,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def tsv(spark):
    return read_tagged_tsv(spark, f"{DATA}/tagged.tsv").orderBy("sent_id").cache()


def test_tagged_tsv_sentences(spark, tsv):
    rows = tsv.collect()
    assert len(rows) == 8
    assert rows[0]["chars"] == list("hqwzk")
    assert rows[0]["tags"] == ["B-company", "M-company", "M-company", "E-company", "O"]
    assert rows[7]["chars"] == ["好"] and rows[7]["tags"] == ["S-position"]


def test_tagged_tsv_multitask_split(spark):
    mt = read_tagged_tsv(spark, f"{DATA}/tagged.tsv", multitask=True).orderBy("sent_id")
    r = mt.first()
    assert r["bmeo"] == ["B", "M", "M", "E", "O"]
    assert r["attr"] == ["company", "company", "company", "company", "O"]


def test_clue_tags_spans_to_bmes(spark):
    clue = read_clue_json(spark, f"{DATA}/clue.jsonl")
    tagged = {r["text"]: r["tags"] for r in clue_tags(clue).collect()}
    assert tagged["abcdefghij"] == [
        "O", "B-name", "M-name", "E-name", "O",
        "B-company", "M-company", "E-company", "O", "O",
    ]
    assert tagged["xyzxyzxyz"] == ["S-game", "O", "O", "S-game", "O", "O", "O", "O", "O"]
    assert tagged["noentities"] == ["O"] * 10
    assert tagged["qrstu"] == ["B-book", "M-book", "M-book", "M-book", "E-book"]


def test_clue_roundtrip_identity(spark):
    """JSON -> tags -> spans -> label map must equal the original
    (FIXTURES.md F3 round-trip gate)."""
    clue = read_clue_json(spark, f"{DATA}/clue.jsonl").cache()
    tagged = clue_tags(clue)
    back = tags_to_clue_label(tagged)
    orig = {r["line_id"]: r["label"] for r in clue.collect()}
    got = {r["line_id"]: r["label"] for r in back.collect()}

    def norm(label):
        if not label:
            return {}
        return {
            t: {w: sorted(map(tuple, locs)) for w, locs in wm.items()}
            for t, wm in label.items()
        }

    for lid, lab in orig.items():
        if not lab:  # empty-label lines produce no row in `back`
            assert lid not in got or norm(got[lid]) == {}
            continue
        assert norm(got[lid]) == norm(lab), lid


def test_clue_spans_explode(spark):
    clue = read_clue_json(spark, f"{DATA}/clue.jsonl")
    sp = clue_spans(clue)
    assert sp.count() == 5  # 1+1+2+0+1 spans
    g = sp.filter(F.col("etype") == "game").orderBy("s").collect()
    assert [(r["s"], r["e"]) for r in g] == [(0, 0), (3, 3)]


def test_vocab_build_folding_and_rank(spark, tsv):
    v = vocab_build(tsv, min_count=1)
    rows = {r["ch"]: (r["freq"], r["id"]) for r in v.collect()}
    # '1' -> <NUM>, 'A' -> <ENG>
    assert "<NUM>" in rows and "<ENG>" in rows and "1" not in rows and "A" not in rows
    # ids are dense 1..n, ordered by freq desc then char asc
    ids = sorted(i for _, i in rows.values())
    assert ids == list(range(1, len(rows) + 1))
    top = [ch for ch, (f_, i) in sorted(rows.items(), key=lambda kv: kv[1][1])][0]
    assert rows[top][0] == max(f_ for f_, _ in rows.values())


def test_vocab_min_count_keeps_specials(spark, tsv):
    v = vocab_build(tsv, min_count=3)
    kept = {r["ch"] for r in v.collect()}
    assert "<NUM>" in kept and "<ENG>" in kept  # kept despite freq 1


def test_tag_dictionary_o_first(spark, tsv):
    d = tag_dictionary(tsv)
    rows = {r["tag"]: r["id"] for r in d.collect()}
    assert rows["O"] == 0
    assert len(rows) == len(set(rows.values()))


def test_wordtag_to_char_bio_reference_rule(spark):
    """MSRA converter (train2pkl.py:8-39): 1-char -> B_ alone, 2-char ->
    B_ E_, longer -> B_ M_* E_, 'o' words -> per-char lowercase 'o'."""
    df = spark.createDataFrame(
        [("ab/ns c/nt defg/nr xy/o",)], "line string"
    )
    r = wordtag_to_char_bio(df).first()
    assert r["chars"] == list("abcdefgxy")
    assert r["tags"] == [
        "B_ns", "E_ns", "B_nt", "B_nr", "M_nr", "M_nr", "E_nr", "o", "o",
    ]


def test_dict_broadcast(spark, tsv):
    d = tag_dictionary(tsv)
    b = load_dict_broadcast(spark, d, "tag", "id")
    assert b.value["O"] == 0
    b.unpersist()


def test_gen_char_embedding_parse_and_backfill(spark, tmp_path):
    """S16 (data_preprocess.py:163-213): specials head the vocab in
    reference order, file rows follow in file order, <PAD> backfills
    zeros, other missing specials get seeded-normal vectors (the
    documented determinism divergence), space-char rows are skipped."""
    from ner_funtool_spark.sources.corpus import EMB_SPECIALS, gen_char_embedding

    raw = tmp_path / "raw_emb.txt"
    raw.write_text(
        "我 0.1 0.2 0.3\n"
        "<UNK> 1.0 1.0 1.0\n"   # a special present in the file keeps its vector
        "  9.0 9.0 9.0\n"        # space char -> skipped
        "你 0.4 0.5 0.6\n",
        encoding="utf-8",
    )
    out = gen_char_embedding(spark, str(raw)).collect()
    by_ch = {r["ch"]: r for r in out}
    by_id = {r["id"]: r["ch"] for r in out}
    # vocab order: 7 specials then file chars
    assert [by_id[i] for i in range(9)] == list(EMB_SPECIALS) + ["我", "你"]
    assert by_ch["<PAD>"]["vector"] == [0.0, 0.0, 0.0]
    assert by_ch["<UNK>"]["vector"] == [1.0, 1.0, 1.0]   # from file, not backfill
    assert by_ch["我"]["vector"] == [0.1, 0.2, 0.3]
    assert " " not in by_ch
    assert len(by_ch["<MASK>"]["vector"]) == 3           # dim from the file
    # deterministic backfill
    again = {r["ch"]: r["vector"] for r in gen_char_embedding(spark, str(raw)).collect()}
    assert again["<CLS>"] == by_ch["<CLS>"]["vector"]
