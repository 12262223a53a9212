"""Every top-level definition in the package is named somewhere besides
its own definition: a function, class or constant that no module, test,
tool or benchmark mentions is dead weight, and it fails here instead of
lingering.  The scan counts whole-word occurrences over the repo's
``.py`` files, so a name used only inside its own module still counts
as used; dunder names are exempt."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "ner_funtool_spark")
WORD = re.compile(r"\w+")


def _py_files(top):
    for d, subdirs, files in os.walk(top):
        # hidden dirs hold staged bench inputs and tool state, the
        # warehouse Spark's table data — neither holds repo code
        subdirs[:] = [s for s in subdirs
                      if not s.startswith(".") and s != "spark-warehouse"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _top_level_names(path):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id


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
