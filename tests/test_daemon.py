"""The Python daemon module of ``get_spark`` sessions: which pyspark it
starts on, and that package stages run from any working directory."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from ner_funtool_spark import _daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYSPARK = {
    "pyspark/__init__.py": "",
    "pyspark/version.py": '__version__: str = "4.1.2"\n',
    "pyspark/worker.py": "def main(infile, outfile):\n    pass\n",
    "pyspark/sql/__init__.py": "",
    # test and benchmark members the pip distribution leaves out
    "pyspark/tests/test_worker.py": "def test(): pass\n",
    "pyspark/sql/streaming/benchmark/utils.py": "N = 1\n",
}
PY4J = {"py4j/__init__.py": "", "py4j/version.py": '__version__ = "0.10.9.9"\n'}
NOT_SHIPPED = ("pyspark/tests/test_worker.py", "pyspark/sql/streaming/benchmark/utils.py")


def _write_zip(path, members):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


def _write_tree(root, members):
    for name, text in members.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)


@pytest.fixture()
def layout(tmp_path):
    """Spark's two zips and core jar first on a path, an installed copy
    of the same release after them, and an importer cache holding the
    archives, one package prefix inside a zip, and a plain directory."""
    lib = tmp_path / "spark" / "python" / "lib"
    _write_zip(lib / "pyspark.zip", PYSPARK)
    _write_zip(lib / "py4j-0.10.9.9-src.zip", PY4J)
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    _write_zip(jar, {"org/apache/spark/SparkContext.class": "\xca\xfe"})
    site = tmp_path / "site"
    _write_tree(site, {k: v for k, v in {**PYSPARK, **PY4J}.items() if k not in NOT_SHIPPED})
    cwd = str(tmp_path / "cwd")
    archives = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"), str(jar)]
    path = [cwd, *archives, str(site)]
    cache = {entry: object() for entry in path}
    cache[os.path.join(archives[0], "pyspark")] = object()
    yield site, path, cache
    for key in [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[key]


def _unchanged(path, cache):
    before = (list(path), dict(cache))
    assert _daemon.use_installed_pyspark(path, cache) is False
    assert (path, cache) == before


def test_identical_copies_take_the_archives_off_the_path(layout):
    site, path, cache = layout
    cwd = path[0]
    assert _daemon.use_installed_pyspark(path, cache) is True
    assert path == [cwd, str(site)]
    assert set(cache) == {cwd, str(site)}


@pytest.mark.parametrize("change", [
    ("pyspark/version.py", '__version__: str = "4.1.3"\n'),  # same size, other bytes
    ("pyspark/worker.py", None),                             # a shipped member missing
    ("pyspark/worker.py", "def main(infile, outfile):\n    return\n"),  # size differs
    ("py4j/version.py", '__version__ = "0.10.9.8"\n'),      # py4j differs, pyspark matches
], ids=["version_differs", "member_missing", "member_size_differs", "py4j_differs"])
def test_any_mismatch_changes_nothing(layout, change):
    site, path, cache = layout
    name, text = change
    if text is None:
        (site / name).unlink()
    else:
        (site / name).write_text(text)
    _unchanged(path, cache)


@pytest.mark.parametrize("package", ["pyspark", "py4j"])
def test_no_installed_copy_changes_nothing(layout, package):
    site, path, cache = layout
    shutil.rmtree(site / package)
    _unchanged(path, cache)


def test_daemon_gets_argv_as_spark_passes_it(tmp_path):
    """``pyspark.daemon`` runs as ``__main__`` with the worker module
    Spark names, and finds the package unimported, as under the stock
    daemon."""
    _write_tree(tmp_path / "fake", {
        "pyspark/__init__.py": "",
        "pyspark/daemon.py": (
            "import json, sys\n"
            "print(json.dumps({'name': __name__, 'argv': sys.argv[1:],\n"
            "    'package': [m for m in sys.modules if m.startswith('ner_funtool_spark')]}))\n"
        ),
    })
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([str(tmp_path / "fake"), ROOT])}
    out = subprocess.run(
        [sys.executable, "-m", "ner_funtool_spark._daemon", "pyspark.worker", "--x"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60, check=True,
    ).stdout
    assert json.loads(out) == {"name": "__main__", "argv": ["pyspark.worker", "--x"],
                               "package": []}


ANY_CWD_JOB = f"""
import sys
sys.path.insert(0, {ROOT!r})
import pyarrow as pa
from pyspark.sql import functions as F
from ner_funtool_spark.plans.kg import build_triples
from ner_funtool_spark.session import get_spark

spark = get_spark("any_cwd", cores=2, shuffle_partitions=2)
src = spark.createDataFrame(
    [("r0", "a.py", "c0", "py", "import alpha.core\\ndef load_1(a):\\n")],
    "repo string, path string, commit string, lang string, content string",
).withColumn("content_sha", F.sha2("content", 256))
n_triples = build_triples(src, mode="rules").count()
plus_one = lambda batches: (pa.RecordBatch.from_pydict({{"id": [v + 1 for v in b.column(0).to_pylist()]}})
                            for b in batches)
ids = sorted(r.id for r in spark.range(4, numPartitions=2).mapInArrow(plus_one, "id long").collect())
print("RESULT", n_triples, ids)
spark.stop()
"""


def test_package_stages_run_from_any_working_directory(tmp_path):
    """A ``get_spark`` session started outside the checkout, with no
    ``PYTHONPATH``: the workers still find the package (and the daemon
    module) and a plain Python UDF still runs."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    run = subprocess.run([sys.executable, "-c", ANY_CWD_JOB], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    result = [line for line in run.stdout.splitlines() if line.startswith("RESULT")]
    assert run.returncode == 0 and result == ["RESULT 3 [1, 2, 3, 4]"], run.stderr[-3000:]
