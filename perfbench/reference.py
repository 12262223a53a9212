"""Reference outputs that the code under test does not compute.

Every reference starts from ``sources.code_table.make_file``, the pure
generator whose gold mentions are known by construction, and re-derives
the expected result in plain Python (plus numpy and DuckDB):

* ``scan_triples``: the documented mention -> triple projection of
  ``operators/triples.py`` (DEFINES* hang off the repo, IMPORTS and
  DECLARES_PACKAGE off the file, one CONTAINS per file);
* ``canonical_map``: ``operators/linking.py``'s documented rule as a
  small union-find: block on etype plus the first ``[._/ ]`` token,
  refine blocks over ``MAX_BLOCK`` by the second token, link pairs whose
  distinct-token Jaccard is at least the threshold, and take the
  component minimum as the canonical id;
* ``merge_rows``: MERGE semantics in DuckDB SQL (existing rows minus the
  touched keys, plus the newest version of every touched key);
* ``pagerank``: a numpy power iteration with ``operators/graph.py``'s
  damping, iteration count and dangling-mass rule.

Outputs are compared through ``digest``, an order-insensitive multiset
digest (row count plus two sums of CRC-32 over the tab-joined row), which
Spark reproduces with ``crc32(concat_ws('\\t', ...))``.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections import defaultdict

import numpy as np

from ner_funtool_spark.operators.graph import DAMPING, PR_ITERATIONS
from ner_funtool_spark.operators.linking import JACCARD_THRESHOLD, MAX_BLOCK
from ner_funtool_spark.operators.triples import PRED_BY_ETYPE
from ner_funtool_spark.sources.code_table import make_file

TOKEN_SPLIT = re.compile(r"[._/ ]")
DELTA_EVERY = 20  # one file in DELTA_EVERY is re-emitted by the refresh
FILE_ID = re.compile(r"file(\d+)\.")


def source_files(n_files: int, seed: int) -> list[dict]:
    """The generator's records (content plus gold mentions), with the
    content_sha the source table carries."""
    files = []
    for i in range(n_files):
        f = make_file(i, seed)
        f["content_sha"] = hashlib.sha256(f["content"].encode()).hexdigest()
        files.append(f)
    return files


def is_delta(path: str) -> bool:
    """The refresh re-emits files whose id is a multiple of DELTA_EVERY."""
    return int(FILE_ID.search(path).group(1)) % DELTA_EVERY == 0


def digest(rows) -> list[int]:
    """[count, sum crc32(row), sum crc32(reversed row)] of string tuples."""
    n = a = b = 0
    for r in rows:
        a += zlib.crc32("\t".join(r).encode())
        b += zlib.crc32("\t".join(reversed(r)).encode())
        n += 1
    return [n, a, b]


def _mention_triple(f: dict, text: str, etype: str) -> tuple[str, str, str]:
    uri = f"{f['repo']}/{f['path']}"
    if etype in ("func", "class"):
        return f["repo"], PRED_BY_ETYPE[etype], f"{uri}::{text}"
    return uri, PRED_BY_ETYPE[etype], text


def scan_triples(files: list[dict]):
    """(subj, pred, obj) of ``plans.kg.build_triples`` over the files."""
    for f in files:
        for _sid, _b, _e, text, etype in f["mentions"]:
            yield _mention_triple(f, text, etype)
        yield f["repo"], "CONTAINS", f"{f['repo']}/{f['path']}"


def line_stats(files: list[dict]) -> dict:
    """Input properties of the segmented lines."""
    lines = [ln for f in files for ln in f["content"].split("\n") if ln]
    return {"lines": len(lines), "unique_row_share": len(set(lines)) / len(lines)}


def canonical_map(files: list[dict], threshold: float = JACCARD_THRESHOLD,
                  max_block: int = MAX_BLOCK) -> tuple[dict, dict]:
    """text -> canonical text, plus the linking counts the rule implies."""
    ents = {(m[3], m[4]) for f in files for m in f["mentions"]}
    raw = {t: TOKEN_SPLIT.split(t) for t, _ in ents}
    blocks = defaultdict(set)
    for t, et in ents:
        blocks[f"{et}#{raw[t][0]}"].add(t)
    refined = 0
    for key in [k for k, v in blocks.items() if len(v) > max_block]:
        refined += 1
        for t in blocks.pop(key):
            second = raw[t][1] if len(raw[t]) > 1 else ""
            blocks[f"{key}#{second}"].add(t)
    parent = {t: t for t, _ in ents}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    scored = kept = 0
    for members in blocks.values():
        if len(members) > max_block:
            continue  # still oversized after refinement: dropped
        ms = sorted(members)
        for i, a in enumerate(ms):
            ta = set(raw[a])
            for b in ms[i + 1:]:
                tb = set(raw[b])
                ni = len(ta & tb)
                scored += 1
                if ni / (len(ta) + len(tb) - ni) >= threshold:
                    kept += 1
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    canon = {t: find(t) for t in parent}
    stats = {"entities": len(ents), "pairs_scored": scored,
             "edges_kept": kept, "blocks_refined": refined}
    return canon, stats


def canonical_rows(files: list[dict], canon: dict):
    """``plans.kg.build_canonical_triples`` rows as
    (subj, pred, obj, repo, content_sha, path)."""
    for f in files:
        tail = (f["repo"], f["content_sha"], f["path"])
        for _sid, _b, _e, text, etype in f["mentions"]:
            c = canon[text]
            yield _mention_triple(f, c, etype) + tail
            if text != c:
                yield (text, "SAME_AS", c) + tail
        yield (f["repo"], "CONTAINS", f"{f['repo']}/{f['path']}") + tail


MERGE_SQL = """
WITH incoming AS (
    SELECT subj, pred, obj, repo, content_sha, 'c1' AS "commit"
    FROM rows WHERE delta),
keys AS (SELECT DISTINCT subj, pred, obj FROM incoming),
existing AS (SELECT subj, pred, obj, repo, content_sha, 'c0' AS "commit" FROM rows),
touched AS (
    SELECT * FROM existing SEMI JOIN keys USING (subj, pred, obj)
    UNION ALL SELECT * FROM incoming),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY subj, pred, obj
        ORDER BY "commit" DESC, repo DESC, content_sha DESC) AS rn
    FROM touched)
SELECT subj, pred, obj, repo, content_sha, "commit"
FROM existing ANTI JOIN keys USING (subj, pred, obj)
UNION ALL
SELECT subj, pred, obj, repo, content_sha, "commit" FROM ranked WHERE rn = 1
"""


def merge_rows(rows: list[tuple]) -> list[tuple]:
    """Store after the refresh: every row written as commit 'c0', the
    delta files' rows re-emitted as commit 'c1', newest version winning
    (ties broken by the remaining columns, as ``latest_per_key`` does)."""
    import duckdb
    import pyarrow as pa

    names = ["subj", "pred", "obj", "repo", "content_sha", "path"]
    cols = list(zip(*rows))
    tbl = pa.table({n: list(c) for n, c in zip(names, cols)})
    tbl = tbl.append_column("delta", pa.array([is_delta(p) for p in cols[5]]))
    con = duckdb.connect()
    try:
        con.register("rows", tbl)
        return con.execute(MERGE_SQL).fetchall()
    finally:
        con.close()


def pagerank(edges) -> tuple[list[str], np.ndarray]:
    """Fixed-iteration PageRank over distinct (src, dst) edges with
    uniform teleport and dangling mass spread over all nodes."""
    edges = sorted(set(edges))
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[s] for s, _ in edges], dtype=np.int64)
    dst = np.array([idx[d] for _, d in edges], dtype=np.int64)
    od = np.bincount(src, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    dangling = od == 0
    for _ in range(PR_ITERATIONS):
        contrib = np.bincount(dst, weights=pr[src] / od[src], minlength=n)
        pr = (1.0 - DAMPING) / n + DAMPING * (contrib + pr[dangling].sum() / n)
    return nodes, pr
