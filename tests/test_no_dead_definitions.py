"""Dead-definition guards over the package's top-level definitions.

* Every definition is named somewhere besides its own definition: a
  function, class or constant that no module, test, tool or benchmark
  mentions is dead weight.  The scan counts whole-word occurrences over
  the repo's ``.py`` files, so a name used only inside its own module
  still counts as used; dunder names are exempt.
* Every definition is reachable from the program's own callers — the
  driver entry, ``bench.py``, ``bench_extra.py``, ``tools/`` and
  ``perfbench/`` — or is on ``KEEP``, the short list of public names
  that only tests call, each with the reason it stays.  A definition
  kept alive only by its own tests fails here instead of lingering."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "ner_funtool_spark")
WORD = re.compile(r"\w+")
IDENT = re.compile(r"[A-Za-z_]\w*")


def _py_files(top):
    for d, subdirs, files in os.walk(top):
        # hidden dirs hold staged bench inputs and tool state, the
        # warehouse Spark's table data — neither holds repo code
        subdirs[:] = [s for s in subdirs
                      if not s.startswith(".") and s != "spark-warehouse"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _defined(node):
    """The top-level names a module statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) \
            else [node.target]
        return [t.id for t in targets if isinstance(t, ast.Name)]
    return []


def _top_level_names(path):
    for node in _parse(path).body:
        yield from _defined(node)


def _names_in(node):
    """Every name ``node`` mentions: identifiers, attribute names,
    imported names and identifier-like string constants (``getattr``
    keys, registry strings)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and IDENT.fullmatch(n.value):
            yield n.value


def test_every_package_definition_is_named_elsewhere():
    words = Counter()
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as f:
            words.update(WORD.findall(f.read()))
    dead = sorted(
        f"{os.path.relpath(path, ROOT)}:{name}"
        for path in _py_files(PKG)
        for name in set(_top_level_names(path))
        if not (name.startswith("__") and name.endswith("__"))
        and words[name] <= 1
    )
    assert dead == [], f"defined but never named elsewhere: {dead}"


# Public package names that only tests call, kept on purpose, each with
# why: the COVERAGE.md row that maps it to the reference (the row must
# name it), or the test file that uses it (the file must name it).
KEEP = {
    # reference-parity readers, converters and sinks
    "read_tagged_tsv": "S1",
    "tag_dictionary": "S6",
    "load_dict_broadcast": "S7/S8",
    "read_clue_json": "S11",
    "clue_spans": "S11",
    "clue_tags": "S11",
    "wordtag_to_char_bio": "S13",
    "renmin_merge_tokens": "S14",
    "renmin_char_bme": "S14",
    "split_tagged_sentences": "S14",
    "boson_char_tags": "S15",
    "BOSON_SPLIT_PUNCTS": "tests/test_converters.py",
    "gen_char_embedding": "S16",
    "stream_mentions": "S17",
    "metrics_json": "K3",
    "run_metrics": "K3",
    "write_tsv": "K4",
    "tags_to_clue_label": "K5",
    "clue_submit_json": "K5",
    "tag_mentions": "P7",
    "crf_log_norm": "M6",
    "tag_pairs": "A7",
    "get_entity_rule": "E1",
    "get_result_rule": "E3",
    "calculate_rule": "E4",
    "trans_label_rule": "E5",
    # scalar references the tests check the distributed kernels against
    "pipeline_rule": "tests/test_spans.py",
    "viterbi_brute_force": "tests/test_crf.py",
    "crf_sequence_score": "tests/test_crf.py",
    "basic_tokenize": "tests/test_wordpiece.py",
    "full_tokenize": "tests/test_wordpiece.py",
    "md5_int2": "tests/test_dedup_similarity.py",
    # the constrained-Viterbi reference that bmes_tags_from_classes equals
    "class_emissions": "tests/test_crf.py",
    "bmes_transitions": "tests/test_crf.py",
    # test-only entry points (ROADMAP direction 4 candidates)
    "read_events_stream": "tests/test_streaming.py",
    "run_stream_to_memory": "tests/test_streaming.py",
    "gold_mentions": "tests/test_pipeline_e2e.py",
    "prune_stats": "tests/test_layout.py",
}


def _caller_roots():
    """The names every ``.py`` file outside the package and ``tests/``
    mentions: the entry, the benchmarks and the tools."""
    tests_dir = os.path.join(ROOT, "tests")
    for path in _py_files(ROOT):
        if not path.startswith((PKG + os.sep, tests_dir + os.sep)):
            yield from _names_in(_parse(path))


def _closure(roots):
    """``roots`` closed over the package's top-level definitions: a
    reached name reaches everything its definitions mention.  Module
    statements that define and import nothing run on import, so they
    are roots too."""
    todo, bodies = list(roots), {}
    for path in _py_files(PKG):
        for node in _parse(path).body:
            names = _defined(node)
            for name in names:
                bodies.setdefault(name, []).append(node)
            if not names and not isinstance(node, (ast.Import,
                                                   ast.ImportFrom)):
                todo.extend(_names_in(node))
    reached = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for node in bodies.get(name, ()):
                todo.extend(_names_in(node))
    return reached


def _keep_reason_holds(name, why, coverage_rows):
    if why.startswith("tests/"):
        path = os.path.join(ROOT, why)
        if not os.path.exists(path):
            return False
        with open(path, encoding="utf-8") as f:
            return name in WORD.findall(f.read())
    return name in WORD.findall(coverage_rows.get(why, ""))


def test_every_package_definition_is_reached_or_kept():
    roots = list(_caller_roots())
    reached = _closure(roots)
    kept = _closure(roots + list(KEEP))
    defined = {
        name: os.path.relpath(path, ROOT)
        for path in _py_files(PKG)
        for name in _top_level_names(path)
        if not (name.startswith("__") and name.endswith("__"))
    }
    unreached = sorted(
        f"{where}:{name}" for name, where in defined.items()
        if name not in kept
    )
    assert unreached == [], (
        "reached only by tests (delete it, or add it to KEEP with "
        f"its reason): {unreached}"
    )
    stale = sorted(
        name for name in KEEP
        if name not in defined or name in reached or name.startswith("_")
    )
    assert stale == [], f"KEEP entries gone, reached or private: {stale}"
    with open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8") as f:
        coverage_rows = {
            line.split("|")[1].strip(): line
            for line in f if line.startswith("| ")
        }
    unfounded = sorted(
        f"{name}: {why}" for name, why in KEEP.items()
        if not _keep_reason_holds(name, why, coverage_rows)
    )
    assert unfounded == [], f"KEEP reasons that do not name it: {unfounded}"
