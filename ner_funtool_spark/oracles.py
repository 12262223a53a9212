"""DuckDB oracle SQL builders.

Each builder returns ANSI SQL (DuckDB dialect) computing the same
result as the corresponding Spark query in ``__spark_entry__.py``, from
the driver's pre-registered views (documents, embeddings, lineitem, …).
SQL is generated from the SAME constants the Spark operators use
(config.DOC_*_WORDS, tagger.MAX_LEN) so the two sides cannot drift.

Why this is a valid oracle for a CRF pipeline: the rules decoder uses
hard BMES-constraint transitions + class emissions, and
tests/test_crf.py proves its Viterbi output equals the maximal-run
BMES labeling — which is exactly the window-function formulation below.
"""

from __future__ import annotations

from .config import (
    DOC_OBJ_WORDS,
    DOC_OBJ_WORDS_ALT,
    DOC_OP_WORDS,
    DOC_OP_WORDS_ALT,
    SEED,
)
from .functions.hashing import MERSENNE_P, minhash_params
from .operators.tagger import MAX_LEN

H_SQL = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"  # cross-engine md5 hash


def _inlist(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def doc_mentions_cte(max_len: int = MAX_LEN,
                     op_words=DOC_OP_WORDS, obj_words=DOC_OBJ_WORDS,
                     doc_where: str = "") -> str:
    """CTE chain: documents -> (repo, path, sent_id, mbegin, mend, text, etype).

    Mirrors segment_lines (one line per doc: no newlines in the corpus)
    + the tagger's MAX_LEN token truncation (_LineKernel) +
    doc_token_classes + the constrained Viterbi/maximal-run span
    assembly + char-offset mention extraction.
    ``doc_where`` optionally restricts the document set (e.g. the
    temporal-versioning oracle's epoch-1 half-corpus).
    """
    return f"""
toks AS (
    SELECT doc_id, source, text AS doc_text,
           generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok
    FROM (SELECT *, list_slice(string_split(text, ' '), 1, {max_len}) AS l
          FROM documents {doc_where})
),
classed AS (
    SELECT *,
           CASE WHEN tok IN ({_inlist(op_words)}) THEN 'op'
                WHEN tok IN ({_inlist(obj_words)}) THEN 'obj'
                ELSE NULL END AS cls,
           (COALESCE(SUM(length(tok)) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + pos)::INT AS tok_begin
    FROM toks
),
runs AS (
    SELECT *,
           CASE WHEN cls IS DISTINCT FROM lag(cls) OVER (
                    PARTITION BY doc_id ORDER BY pos)
                THEN 1 ELSE 0 END AS brk
    FROM classed
),
grp AS (
    SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
    FROM runs
),
mention_rows AS (
    SELECT source AS repo,
           'docs/' || doc_id || '.txt' AS path,
           0::BIGINT AS sent_id,
           MIN(tok_begin)::INT AS mbegin,
           MAX(tok_begin + length(tok))::INT AS mend,
           string_agg(tok, ' ' ORDER BY pos) AS text,
           cls AS etype
    FROM grp
    WHERE cls IS NOT NULL
    GROUP BY doc_id, source, gid, cls
)"""


def doc_mentions_sql() -> str:
    return f"WITH {doc_mentions_cte()} SELECT * FROM mention_rows"


def doc_mentions_alt_sql() -> str:
    """Relational extractor with the perturbed ('second model') lists."""
    return (
        "WITH "
        + doc_mentions_cte(op_words=DOC_OP_WORDS_ALT, obj_words=DOC_OBJ_WORDS_ALT)
        + " SELECT * FROM mention_rows"
    )


def _pairs_cte(max_len: int = MAX_LEN, remove_o: bool = True) -> str:
    """(gold, pred) token-class pairs: gold = standard lists, pred = alt."""
    where = "WHERE gold <> 'O'" if remove_o else ""
    return f"""
toks AS (
    SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok
    FROM (SELECT *, list_slice(string_split(text, ' '), 1, {max_len}) AS l
          FROM documents)
),
pairs AS (
    SELECT CASE WHEN tok IN ({_inlist(DOC_OP_WORDS)}) THEN 'op'
                WHEN tok IN ({_inlist(DOC_OBJ_WORDS)}) THEN 'obj'
                ELSE 'O' END AS gold,
           CASE WHEN tok IN ({_inlist(DOC_OP_WORDS_ALT)}) THEN 'op'
                WHEN tok IN ({_inlist(DOC_OBJ_WORDS_ALT)}) THEN 'obj'
                ELSE 'O' END AS pred
    FROM toks
),
pr AS (SELECT * FROM pairs {where})"""


def tag_metrics_sql() -> str:
    """Per-tag P/R/F1, tag universe = gold tags (tag_evaluating.py)."""
    return f"""
WITH {_pairs_cte()},
gn AS (SELECT gold AS tag, count(*) AS gold_n FROM pr GROUP BY 1),
pn AS (SELECT pred AS tag, count(*) AS pred_n FROM pr GROUP BY 1),
tp AS (SELECT gold AS tag, count(*) AS tp FROM pr WHERE gold = pred GROUP BY 1)
SELECT g.tag,
       COALESCE(tp.tp, 0)::BIGINT AS tp,
       g.gold_n::BIGINT AS gold_n,
       COALESCE(pn.pred_n, 0)::BIGINT AS pred_n,
       round(CASE WHEN COALESCE(pn.pred_n, 0) = 0 THEN 0.0
                  ELSE COALESCE(tp.tp, 0) / pn.pred_n END, 6) AS precision,
       round(COALESCE(tp.tp, 0) / g.gold_n, 6) AS recall,
       round(2 * (CASE WHEN COALESCE(pn.pred_n, 0) = 0 THEN 0.0
                       ELSE COALESCE(tp.tp, 0) / pn.pred_n END)
               * (COALESCE(tp.tp, 0) / g.gold_n)
             / ((CASE WHEN COALESCE(pn.pred_n, 0) = 0 THEN 0.0
                      ELSE COALESCE(tp.tp, 0) / pn.pred_n END)
                + (COALESCE(tp.tp, 0) / g.gold_n) + 1e-10), 6) AS f1
FROM gn g LEFT JOIN pn ON g.tag = pn.tag LEFT JOIN tp ON g.tag = tp.tag
"""


def tag_metrics_avg_sql() -> str:
    """Support-weighted average over the gold tagset."""
    return f"""
WITH {_pairs_cte()},
gn AS (SELECT gold AS tag, count(*) AS gold_n FROM pr GROUP BY 1),
pn AS (SELECT pred AS tag, count(*) AS pred_n FROM pr GROUP BY 1),
tp AS (SELECT gold AS tag, count(*) AS tp FROM pr WHERE gold = pred GROUP BY 1),
per AS (
  SELECT g.tag, g.gold_n,
         CASE WHEN COALESCE(pn.pred_n, 0) = 0 THEN 0.0
              ELSE COALESCE(tp.tp, 0) / pn.pred_n END AS p,
         COALESCE(tp.tp, 0) / g.gold_n AS r
  FROM gn g LEFT JOIN pn ON g.tag = pn.tag LEFT JOIN tp ON g.tag = tp.tag
)
SELECT round(sum(p * gold_n) / sum(gold_n), 6) AS precision,
       round(sum(r * gold_n) / sum(gold_n), 6) AS recall,
       round(sum((2 * p * r / (p + r + 1e-10)) * gold_n) / sum(gold_n), 6) AS f1,
       sum(gold_n)::BIGINT AS support
FROM per
"""


def tag_metrics_micro_sql() -> str:
    """Micro-averaged P/R/Fβ over positive classes (tf_metrics.py
    parity): totals masked from the FULL pair set (remove_o=False),
    Fβ zero-guarded like safe_div.  One row per β."""
    return f"""
WITH {_pairs_cte(remove_o=False)},
counts AS (
  -- mirror the FULL Spark positive-class condition (metrics.py
  -- tag_metrics_micro pos_tags=None): NOT IN ('O','[CLS]','[SEP]').
  -- Equivalent today (doc_tag_pairs emits no special tags) but latent
  -- divergence if they ever enter the pair set (ADVICE r4).
  SELECT sum(CASE WHEN gold NOT IN ('O', '[CLS]', '[SEP]')
                   AND gold = pred THEN 1 ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN gold NOT IN ('O', '[CLS]', '[SEP]')
             THEN 1 ELSE 0 END)::BIGINT AS gold_n,
         sum(CASE WHEN pred NOT IN ('O', '[CLS]', '[SEP]')
             THEN 1 ELSE 0 END)::BIGINT AS pred_n
  FROM pr
),
pr2 AS (
  SELECT *,
         CASE WHEN pred_n = 0 THEN 0.0 ELSE tp / pred_n END AS p,
         CASE WHEN gold_n = 0 THEN 0.0 ELSE tp / gold_n END AS r
  FROM counts
)
SELECT round(beta, 6) AS beta, tp, gold_n, pred_n,
       round(p, 6) AS precision, round(r, 6) AS recall,
       round(CASE WHEN beta * beta * p + r = 0 THEN 0.0
                  ELSE (1 + beta * beta) * p * r / (beta * beta * p + r)
             END, 6) AS fbeta
FROM pr2 CROSS JOIN (VALUES (0.5), (1.0), (2.0)) AS b(beta)
"""


def tag_metrics_tf_macro_sql(beta: float = 1.0) -> str:
    """tf_metrics average='macro' mirror: per-class P/R/Fβ from the
    full pair set (remove_o=False), unweighted mean over positive
    classes."""
    b2 = beta * beta
    return f"""
WITH {_pairs_cte(remove_o=False)},
classes AS (
  -- full Spark positive condition mirrored: NOT IN ('O','[CLS]','[SEP]')
  SELECT DISTINCT tag FROM (
    SELECT gold AS tag FROM pr WHERE gold NOT IN ('O', '[CLS]', '[SEP]')
    UNION ALL
    SELECT pred FROM pr WHERE pred NOT IN ('O', '[CLS]', '[SEP]'))
),
tp AS (SELECT gold AS tag, count(*) AS tp FROM pr
       WHERE gold = pred
         AND gold NOT IN ('O', '[CLS]', '[SEP]') GROUP BY 1),
pn AS (SELECT pred AS tag, count(*) AS pred_n FROM pr GROUP BY 1),
gn AS (SELECT gold AS tag, count(*) AS gold_n FROM pr GROUP BY 1),
per AS (
  SELECT c.tag,
         CASE WHEN COALESCE(pn.pred_n, 0) = 0 THEN 0.0
              ELSE COALESCE(tp.tp, 0) / pn.pred_n END AS p,
         CASE WHEN COALESCE(gn.gold_n, 0) = 0 THEN 0.0
              ELSE COALESCE(tp.tp, 0) / gn.gold_n END AS r
  FROM classes c LEFT JOIN tp ON c.tag = tp.tag
  LEFT JOIN pn ON c.tag = pn.tag LEFT JOIN gn ON c.tag = gn.tag
)
SELECT count(*)::BIGINT AS n_classes,
       round(avg(p), 6) AS precision,
       round(avg(r), 6) AS recall,
       round(avg(CASE WHEN {b2} * p + r = 0 THEN 0.0
                      ELSE (1 + {b2}) * p * r / ({b2} * p + r) END), 6)
           AS fbeta
FROM per
"""


def confusion_matrix_sql() -> str:
    """Long-format confusion counts; preds outside the gold tagset skipped."""
    return f"""
WITH {_pairs_cte()}
SELECT gold, pred, count(*)::BIGINT AS n
FROM pr
WHERE pred IN (SELECT DISTINCT gold FROM pr)
GROUP BY gold, pred
"""


def entity_prf_sql() -> str:
    """Entity-set-intersection P/R/F1: CRF-pipeline mentions (standard
    lists) vs relational mentions (alt lists)."""
    keys = "repo, path, sent_id, mbegin, mend, text, etype"
    return f"""
WITH {doc_mentions_cte()},
pred_m AS (SELECT {keys} FROM mention_rows),
gold_m AS (
  WITH {doc_mentions_cte(op_words=DOC_OP_WORDS_ALT, obj_words=DOC_OBJ_WORDS_ALT)}
  SELECT {keys} FROM mention_rows
),
inter AS (SELECT count(*) AS n_inter FROM pred_m SEMI JOIN gold_m USING ({keys})),
cnt AS (SELECT (SELECT count(*) FROM pred_m) AS n_pred,
               (SELECT count(*) FROM gold_m) AS n_gold,
               (SELECT n_inter FROM inter) AS n_inter)
SELECT n_pred::BIGINT AS n_pred, n_gold::BIGINT AS n_gold, n_inter::BIGINT AS n_inter,
       round(CASE WHEN n_inter = 0 THEN 0.0 ELSE n_inter / n_pred END, 6) AS precision,
       round(CASE WHEN n_inter = 0 THEN 0.0 ELSE n_inter / n_gold END, 6) AS recall,
       round(CASE WHEN n_inter = 0 THEN 0.0
                  ELSE 2 * (n_inter / n_pred) * (n_inter / n_gold)
                       / ((n_inter / n_pred) + (n_inter / n_gold)) END, 6) AS f1
FROM cnt
"""


def _link_edges_cte(threshold: float = 0.5, max_block: int = 1000) -> str:
    """Blocked candidate pairs over distinct (text, etype) mention
    entities: block = (etype, first raw token), refined with the second
    token when a block exceeds max_block (mirrors
    operators/linking.py:_refine_hot_blocks); token-set jaccard."""
    return f"""
ents AS (SELECT DISTINCT text, etype FROM mention_rows),
ent_raw AS (
    SELECT text, etype,
           list_distinct(string_split(text, ' ')) AS toks,
           etype || '#' || string_split(text, ' ')[1] AS block0,
           coalesce(string_split(text, ' ')[2], '') AS tok2
    FROM ents
),
blk_n AS (SELECT block0, count(*) AS bn FROM ent_raw GROUP BY block0),
ent_ref AS (
    SELECT text, etype, toks,
           CASE WHEN b.bn > {max_block} THEN e.block0 || '#' || e.tok2
                ELSE e.block0 END AS block
    FROM ent_raw e JOIN blk_n b USING (block0)
),
blk_n2 AS (SELECT block, count(*) AS bn2 FROM ent_ref GROUP BY block),
ent_feats AS (
    SELECT e.text, e.etype, e.toks, e.block
    FROM ent_ref e JOIN blk_n2 b USING (block) WHERE b.bn2 <= {max_block}
),
cand AS (
    SELECT a.text AS src, b.text AS dst,
           len(list_intersect(a.toks, b.toks)) AS ni,
           len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS nu
    FROM ent_feats a JOIN ent_feats b
      ON a.block = b.block AND a.text < b.text
),
link_edges AS (
    SELECT src, dst, ni / nu AS jac FROM cand WHERE ni / nu >= {threshold}
)"""


def link_candidates_sql() -> str:
    return f"""
WITH {doc_mentions_cte()},
{_link_edges_cte()}
SELECT src, dst, round(jac, 6) AS score FROM link_edges
"""


def canonicalize_sql() -> str:
    """Connected components over the link graph via recursive min-label
    propagation; canonical_id = lexicographic min text of the component
    (identical to the large-star/small-star fixed point)."""
    return f"""
WITH RECURSIVE {doc_mentions_cte()},
{_link_edges_cte()},
nodes AS (SELECT DISTINCT text AS n FROM ents),
reach(node, lbl) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT CASE WHEN r.node = e.src THEN e.dst ELSE e.src END, r.lbl
    FROM reach r JOIN link_edges e ON r.node IN (e.src, e.dst)
)
SELECT node, min(lbl) AS canonical_id FROM reach GROUP BY node
"""


def label_f1_sql() -> str:
    """CLUE-style per-label TP/FP/FN macro metrics on distinct
    (line, label, word) keys (cluener_score.py:10-35)."""
    return f"""
WITH {doc_mentions_cte()},
pred_m AS (SELECT DISTINCT repo, path, etype, text FROM mention_rows),
gold_m AS (
  WITH {doc_mentions_cte(op_words=DOC_OP_WORDS_ALT, obj_words=DOC_OBJ_WORDS_ALT)}
  SELECT DISTINCT repo, path, etype, text FROM mention_rows
),
tp AS (SELECT etype, count(*) AS tp FROM pred_m SEMI JOIN gold_m
       USING (repo, path, etype, text) GROUP BY etype),
fp AS (SELECT etype, count(*) AS fp FROM pred_m ANTI JOIN gold_m
       USING (repo, path, etype, text) GROUP BY etype),
fn AS (SELECT etype, count(*) AS fn FROM gold_m ANTI JOIN pred_m
       USING (repo, path, etype, text) GROUP BY etype),
labels AS (SELECT DISTINCT etype FROM (SELECT etype FROM pred_m UNION ALL SELECT etype FROM gold_m))
SELECT l.etype AS label,
       COALESCE(tp.tp, 0)::BIGINT AS tp,
       COALESCE(fp.fp, 0)::BIGINT AS fp,
       COALESCE(fn.fn, 0)::BIGINT AS fn,
       round(COALESCE(tp.tp, 0) / (COALESCE(tp.tp, 0) + COALESCE(fp.fp, 0)), 6) AS precision,
       round(COALESCE(tp.tp, 0) / (COALESCE(tp.tp, 0) + COALESCE(fn.fn, 0)), 6) AS recall,
       round(2 * (COALESCE(tp.tp, 0) / (COALESCE(tp.tp, 0) + COALESCE(fp.fp, 0)))
               * (COALESCE(tp.tp, 0) / (COALESCE(tp.tp, 0) + COALESCE(fn.fn, 0)))
             / ((COALESCE(tp.tp, 0) / (COALESCE(tp.tp, 0) + COALESCE(fp.fp, 0)))
                + (COALESCE(tp.tp, 0) / (COALESCE(tp.tp, 0) + COALESCE(fn.fn, 0)))), 6) AS f1
FROM labels l LEFT JOIN tp ON l.etype = tp.etype
LEFT JOIN fp ON l.etype = fp.etype LEFT JOIN fn ON l.etype = fn.etype
"""


def label_f1_macro_sql() -> str:
    """Macro (unweighted) average of per-label P/R/F1
    (cluener_score.py:38-49); NULL labels excluded by avg on both
    engines."""
    return f"""
WITH {doc_mentions_cte()},
pred_m AS (SELECT DISTINCT repo, path, etype, text FROM mention_rows),
gold_m AS (
  WITH {doc_mentions_cte(op_words=DOC_OP_WORDS_ALT, obj_words=DOC_OBJ_WORDS_ALT)}
  SELECT DISTINCT repo, path, etype, text FROM mention_rows
),
tp AS (SELECT etype, count(*) AS tp FROM pred_m SEMI JOIN gold_m
       USING (repo, path, etype, text) GROUP BY etype),
fp AS (SELECT etype, count(*) AS fp FROM pred_m ANTI JOIN gold_m
       USING (repo, path, etype, text) GROUP BY etype),
fn AS (SELECT etype, count(*) AS fn FROM gold_m ANTI JOIN pred_m
       USING (repo, path, etype, text) GROUP BY etype),
labels AS (SELECT DISTINCT etype FROM (SELECT etype FROM pred_m UNION ALL SELECT etype FROM gold_m)),
per AS (
  SELECT l.etype,
         COALESCE(tp.tp, 0) / NULLIF(COALESCE(tp.tp, 0) + COALESCE(fp.fp, 0), 0) AS p,
         COALESCE(tp.tp, 0) / NULLIF(COALESCE(tp.tp, 0) + COALESCE(fn.fn, 0), 0) AS r
  FROM labels l LEFT JOIN tp ON l.etype = tp.etype
  LEFT JOIN fp ON l.etype = fp.etype LEFT JOIN fn ON l.etype = fn.etype
)
SELECT count(*)::BIGINT AS n_labels,
       round(avg(p), 6) AS precision,
       round(avg(r), 6) AS recall,
       round(avg(2 * p * r / NULLIF(p + r, 0)), 6) AS f1
FROM per
"""


def doc_triples_sql() -> str:
    """Full flagship oracle: mention triples UNION ALL CONTAINS rows."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha
    FROM documents
)
SELECT m.repo || '/' || m.path AS subj,
       CASE m.etype WHEN 'op' THEN 'MENTIONS_OP' ELSE 'MENTIONS_OBJ' END AS pred,
       m.text AS obj,
       m.repo AS repo,
       d.content_sha AS content_sha
FROM mention_rows m JOIN doc_sha d ON m.path = d.path AND m.repo = d.repo
UNION ALL
SELECT repo AS subj, 'CONTAINS' AS pred, repo || '/' || path AS obj,
       repo, content_sha
FROM doc_sha
"""


# ---------------------------------------------------------------------------
# dedup / similarity / text-analysis oracles
# ---------------------------------------------------------------------------

def dedup_exact_sql() -> str:
    return """
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
g AS (SELECT h, min(doc_id) AS keep_id, count(*) AS n FROM h GROUP BY h)
SELECT g.keep_id, h.doc_id AS dup_id
FROM h JOIN g USING (h) WHERE g.n > 1 AND h.doc_id <> g.keep_id
"""


def _shingles_cte(k: int = 3, max_df: int = 1000,
                  src: str = "documents") -> str:
    """Shingle table + df-capped candidate blocking + exact-jaccard
    verify (mirrors operators/dedup.py: candidates come only from
    shingles with document frequency <= max_df; scores use full sets).
    ``src``: source relation (a CTE name for composed pipelines)."""
    return f"""
sh AS (
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(len(l) - {k - 1}),
                       i -> array_to_string(list_slice(l, i + 1, i + {k}), ' '))
    )) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM {src})
    WHERE len(l) >= {k}
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
block_sh AS (
    SELECT sh.doc_id, sh.shingle FROM sh
    JOIN (SELECT shingle FROM sh GROUP BY shingle
          HAVING count(*) <= {max_df}) ok USING (shingle)
),
cand AS (
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM block_sh a JOIN block_sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c.a, c.b, count(*) AS ni
    FROM cand c
    JOIN sh x ON x.doc_id = c.a
    JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
    GROUP BY 1, 2
),
jac_pairs AS (
    SELECT i.a, i.b, i.ni * 1.0 / (sa.sz + sb.sz - i.ni) AS jac
    FROM inter i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id
)"""


def ngram_jaccard_sql(threshold: float, max_df: int = 1000) -> str:
    return f"""
WITH {_shingles_cte(max_df=max_df)}
SELECT a, b, round(jac, 6) AS score FROM jac_pairs WHERE jac >= {threshold}
"""


def dedup_incremental_sql(threshold: float, k: int = 3,
                          max_df: int = 1000) -> str:
    """Mirror of dedup.ngram_jaccard_incremental: the re-crawl batch
    (every 10th doc, re-keyed +100000) blocked against corpus-side
    df-capped shingles, exact-jaccard verified."""
    def sh(src: str) -> str:
        return f"""(
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(len(l) - {k - 1}),
                       i -> array_to_string(list_slice(l, i + 1, i + {k}), ' '))
    )) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM {src})
    WHERE len(l) >= {k})"""

    return f"""
WITH newd AS (
    SELECT doc_id + 100000 AS doc_id, text FROM documents
    WHERE doc_id % 10 = 0
),
sh_c AS (SELECT * FROM {sh('documents')}),
sh_n AS (SELECT * FROM {sh('newd')}),
blocked_c AS (
    SELECT s.* FROM sh_c s
    JOIN (SELECT shingle FROM sh_c GROUP BY shingle
          HAVING count(*) <= {max_df}) ok USING (shingle)
),
cand AS (
    SELECT DISTINCT n.doc_id AS a, c.doc_id AS b
    FROM sh_n n JOIN blocked_c c USING (shingle)
),
inter AS (
    SELECT cd.a, cd.b, count(*) AS ni
    FROM cand cd
    JOIN sh_n x ON x.doc_id = cd.a
    JOIN sh_c y ON y.doc_id = cd.b AND y.shingle = x.shingle
    GROUP BY 1, 2
),
szn AS (SELECT doc_id, count(*) AS sa FROM sh_n GROUP BY doc_id),
szc AS (SELECT doc_id, count(*) AS sb FROM sh_c GROUP BY doc_id)
SELECT i.a AS new_id, i.b AS corpus_id,
       round(i.ni * 1.0 / (sa.sa + sb.sb - i.ni), 6) AS score
FROM inter i
JOIN szn sa ON i.a = sa.doc_id
JOIN szc sb ON i.b = sb.doc_id
WHERE i.ni * 1.0 / (sa.sa + sb.sb - i.ni) >= {threshold}
"""


def minhash_lsh_sql(threshold: float, k: int = 16, bands: int = 4,
                    seed: int = SEED) -> str:
    a_arr, b_arr = minhash_params(k, seed)
    values = ", ".join(
        f"({i}, {int(a_arr[i])}, {int(b_arr[i])})" for i in range(k)
    )
    r = k // bands
    h = H_SQL.format(x="shingle")
    return f"""
WITH {_shingles_cte()},
params(i, pa, pb) AS (VALUES {values}),
sig AS (
    SELECT doc_id, i,
           min((pa * ({h} % {MERSENNE_P}) + pb) % {MERSENNE_P}) AS sig
    FROM sh CROSS JOIN params
    GROUP BY doc_id, i
),
banded AS (
    SELECT doc_id, i // {r} AS band,
           string_agg(i || ':' || sig, '|' ORDER BY i) AS key
    FROM sig GROUP BY doc_id, band
),
lsh_cand AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
lsh_inter AS (
    SELECT c.a, c.b, count(*) AS ni
    FROM lsh_cand c
    JOIN sh x ON x.doc_id = c.a
    JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
    GROUP BY 1, 2
)
SELECT i.a, i.b,
       round(i.ni * 1.0 / (sa.sz + sb.sz - i.ni), 6) AS score
FROM lsh_inter i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id
WHERE i.ni * 1.0 / (sa.sz + sb.sz - i.ni) >= {threshold}
"""


def simhash_sql(max_distance: int, bits: int = 64) -> str:
    """64-bit simhash with (max_distance + 1)-block pigeonhole blocking
    — mirrors operators/dedup.py:simhash_pairs exactly: two md5 hash
    streams (hex 1-8 → bits 0-31, hex 9-16 → bits 32-63), bit 63 as the
    int64 sign bit via the two's-complement INT64_MIN term, block
    extraction (fp >> lo) & mask (mask erases shift sign extension)."""
    from .operators.dedup import block_widths

    h1 = H_SQL.format(x="tok")
    h2 = f"(('0x' || substr(md5(tok), 9, 8))::BIGINT)"
    widths = block_widths(bits, max_distance + 1)
    part_selects, lo = [], 0
    for i, w in enumerate(widths):
        blk = f"fp >> {lo}" if lo else "fp"
        if w < 64:  # full-width block needs no mask (and 2^64-1 overflows)
            blk = f"(({blk}) & {(1 << w) - 1})"
        part_selects.append(
            f"SELECT doc_id, fp, 'b{i}:' || {blk} AS bucket FROM fp"
        )
        lo += w
    parts_sql = "\n    UNION ALL\n    ".join(part_selects)
    bit_term = (
        "CASE WHEN v > 0 THEN "
        "(CASE WHEN j = 63 THEN (-9223372036854775807 - 1) "
        "ELSE (1::BIGINT << j) END) ELSE 0 END"
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
),
votes AS (
    SELECT doc_id, j,
           sum(((CASE WHEN j < 32 THEN {h1} >> j
                      ELSE {h2} >> (j - 32) END) & 1) * 2 - 1) AS v
    FROM toks CROSS JOIN (SELECT unnest(range({bits})) AS j)
    GROUP BY doc_id, j
),
fp AS (
    SELECT doc_id, sum({bit_term})::BIGINT AS fp
    FROM votes GROUP BY doc_id
),
parts AS (
    {parts_sql}
),
cand AS (
    SELECT DISTINCT x.doc_id AS a, x.fp AS fa, y.doc_id AS b, y.fp AS fb
    FROM parts x JOIN parts y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
)
SELECT a, b, bit_count(xor(fa, fb))::INT AS dist
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_distance}
"""


def _cosine_sql(va: str, vb: str, dim: int = 64) -> str:
    dot = (f"list_sum(list_transform(range({dim}), "
           f"i -> {va}[i + 1]::DOUBLE * {vb}[i + 1]::DOUBLE))")
    na = f"sqrt(list_sum(list_transform(range({dim}), i -> {va}[i + 1]::DOUBLE * {va}[i + 1]::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform(range({dim}), i -> {vb}[i + 1]::DOUBLE * {vb}[i + 1]::DOUBLE)))"
    return f"({dot} / ({na} * {nb}))"


def neardup_cosine_sql(threshold: float, planes: list[list[float]],
                       dim: int = 64) -> str:
    return f"""
WITH {_lsh_bucket_cte(planes, dim)},
cand AS (
    SELECT x.vec_id AS a, x.embedding AS va, y.vec_id AS b, y.embedding AS vb
    FROM bucketed x JOIN bucketed y
      ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT a, b, round({_cosine_sql('va', 'vb', dim)}, 6) AS score
FROM cand WHERE {_cosine_sql('va', 'vb', dim)} >= {threshold}
"""


def _lsh_bucket_cte(planes: list[list[float]], dim: int = 64) -> str:
    values = ", ".join(
        "({}, [{}])".format(j, ", ".join(repr(v) for v in p))
        for j, p in enumerate(planes)
    )
    dot = (f"list_sum(list_transform(range({dim}), "
           f"i -> e.embedding[i + 1]::DOUBLE * p.vec[i + 1]))")
    return f"""
planes(j, vec) AS (VALUES {values}),
bucketed AS (
    SELECT e.vec_id, e.embedding,
           sum(CASE WHEN {dot} > 0 THEN (1::BIGINT << p.j) ELSE 0 END) AS bucket
    FROM embeddings e CROSS JOIN planes p
    GROUP BY e.vec_id, e.embedding
)"""


def ann_topk_sql(query_max_id: int, k: int, dim: int = 64) -> str:
    cos = _cosine_sql("q.embedding", "c.embedding", dim)
    return f"""
WITH ranked AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({cos}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({cos}, 6) DESC, c.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {query_max_id}
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def ann_topk_lsh_sql(query_max_id: int, k: int, planes: list[list[float]],
                     dim: int = 64) -> str:
    cos = _cosine_sql("q.embedding", "c.embedding", dim)
    return f"""
WITH {_lsh_bucket_cte(planes, dim)},
ranked AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({cos}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({cos}, 6) DESC, c.vec_id ASC) AS rank
    FROM bucketed q JOIN bucketed c
      ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {query_max_id}
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def ann_topk_lsh_multiprobe_sql(query_max_id: int, k: int,
                                planes: list[list[float]],
                                dim: int = 64) -> str:
    """Multi-probe LSH: the query side probes its bucket plus every
    one-bit flip (mirrors operators/similarity.py:topk_lsh_multiprobe)."""
    n_planes = len(planes)
    cos = _cosine_sql("q.embedding", "c.embedding", dim)
    return f"""
WITH {_lsh_bucket_cte(planes, dim)},
probes AS (
    SELECT vec_id, embedding,
           CASE WHEN j = {n_planes} THEN bucket
                ELSE xor(bucket, (1::BIGINT << j)) END AS bucket
    FROM bucketed CROSS JOIN (SELECT unnest(range({n_planes + 1})) AS j)
    WHERE vec_id < {query_max_id}
),
ranked AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({cos}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({cos}, 6) DESC, c.vec_id ASC) AS rank
    FROM probes q JOIN bucketed c
      ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def ann_topk_ivf_sql(query_max_id: int, k: int,
                     centroids: list[list[float]], nprobe: int,
                     dim: int = 64) -> str:
    """IVF oracle: corpus in its argmax-cosine centroid list, query
    probes its nprobe nearest lists (mirrors similarity.topk_ivf with
    the same centroid literals and cid-ascending tie-break)."""
    values = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in c))
        for i, c in enumerate(centroids)
    )
    ccos = _cosine_sql("e.embedding", "c.vec", dim)
    cos = _cosine_sql("q.qemb", "c.embedding", dim)
    return f"""
WITH cents(cid, vec) AS (VALUES {values}),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid, {ccos} AS ccos
    FROM embeddings e CROSS JOIN cents c
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS pr
    FROM scored
),
corpus AS (SELECT vec_id AS neighbor_id, embedding, cid FROM ranked WHERE pr = 1),
qprobe AS (
    SELECT vec_id AS query_id, embedding AS qemb, cid
    FROM ranked WHERE pr <= {nprobe} AND vec_id < {query_max_id}
),
rr AS (
    SELECT q.query_id, c.neighbor_id, round({cos}, 6) AS score,
           row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round({cos}, 6) DESC, c.neighbor_id ASC) AS rank
    FROM qprobe q JOIN corpus c
      ON q.cid = c.cid AND q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, score, rank::INT AS rank
FROM rr WHERE rank <= {k}
"""


def text_stats_sql(markers: dict, stopwords, fp_mult: int, fp_mod: int) -> str:
    marker_values = ", ".join(
        "('{}', [{}])".format(lang, ", ".join(f"'{w}'" for w in ws))
        for lang, ws in sorted(markers.items())
    )
    stop_list = ", ".join(f"'{w}'" for w in stopwords)
    h = H_SQL.format(x="t")
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n, text
    FROM documents
),
markers(lang, words) AS (VALUES {marker_values}),
scores AS (
    SELECT b.doc_id, m.lang,
           round(len(list_filter(b.toks, t -> list_contains(m.words, t))) * 1.0 / b.n, 6) AS s
    FROM base b CROSS JOIN markers m
),
pred AS (
    SELECT doc_id, lang AS lang_pred
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn
          FROM scores)
    WHERE rn = 1
)
SELECT b.doc_id,
       b.n::INT AS n_tokens_ws,
       len(regexp_extract_all(b.text, '[a-z0-9]+|[^a-z0-9 ]'))::INT AS n_tokens_bpe,
       p.lang_pred,
       round(0.4 * least(b.n / 64.0, 1.0)
             + 0.3 * (len(list_distinct(b.toks)) * 1.0 / b.n)
             + 0.3 * (1 - len(list_filter(b.toks, t -> t IN ({stop_list}))) * 1.0 / b.n), 6)
           AS quality,
       list_reduce(
           list_prepend(0::BIGINT, list_transform(b.toks, t -> {h})),
           (acc, x) -> (acc * {fp_mult} + x) % {fp_mod}
       ) AS fingerprint
FROM base b JOIN pred p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# relational analytics + streaming-shape oracles
# ---------------------------------------------------------------------------

def pricing_summary_sql(cutoff: str = "1998-09-02") -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cutoff} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def revenue_by_nation_sql() -> str:
    return """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def customers_without_orders_sql() -> str:
    return """
SELECT c_custkey, c_name, c_mktsegment
FROM customer ANTI JOIN orders ON c_custkey = o_custkey
"""


def top_parts_per_supplier_sql(k: int = 3) -> str:
    return f"""
WITH rev AS (
    SELECT l_suppkey, l_partkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem GROUP BY l_suppkey, l_partkey
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey ASC) AS rank
    FROM rev
)
SELECT l_suppkey, l_partkey, revenue, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def order_priority_sql() -> str:
    return """
SELECT o_orderpriority, count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderpriority
"""


def windowed_event_counts_sql(window_hours: int = 1) -> str:
    return f"""
SELECT time_bucket(INTERVAL '{window_hours} hour', ts) AS w_start,
       time_bucket(INTERVAL '{window_hours} hour', ts)
           + INTERVAL '{window_hours} hour' AS w_end,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS total
FROM events GROUP BY 1, 2, 3
"""


def sessionize_sql(gap_minutes: int = 30) -> str:
    return f"""
WITH g AS (
    SELECT user_id, ts,
           -- floor(epoch) mirrors Spark's timestamp->long second truncation
           CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT
                     > {gap_minutes * 60}
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
    SELECT user_id, ts,
           sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM g
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
       min(ts) AS t_start, max(ts) AS t_end
FROM s GROUP BY user_id, session_id
"""


def vocab_build_sql(min_count: int = 2) -> str:
    """Token-frequency vocab with digit/latin folding + rank
    (data_preprocess.py:77-113 re-expressed over documents tokens)."""
    return f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
folded AS (
    SELECT CASE WHEN regexp_matches(tok, '^[0-9]$') THEN '<NUM>'
                WHEN regexp_matches(tok, '^[A-Za-z]$') THEN '<ENG>'
                ELSE tok END AS ch
    FROM toks
),
counts AS (SELECT ch, count(*) AS freq FROM folded GROUP BY ch),
kept AS (SELECT * FROM counts
         WHERE freq >= {min_count} OR ch IN ('<NUM>', '<ENG>'))
SELECT ch, freq,
       row_number() OVER (ORDER BY freq DESC, ch ASC) AS id
FROM kept
"""


def dedup_clusters_sql(threshold: float) -> str:
    """Near-dup clusters: jaccard edges -> connected components ->
    (doc_id, keep_id = min doc_id of the cluster), clustered docs only."""
    return f"""
WITH RECURSIVE {_shingles_cte()},
edges AS (SELECT a, b FROM jac_pairs WHERE jac >= {threshold}),
nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
reach(node, lbl) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.lbl
    FROM reach r JOIN edges e ON r.node IN (e.a, e.b)
)
SELECT node AS doc_id, min(lbl) AS keep_id FROM reach GROUP BY node
"""


def dedup_keep_docs_longest_sql(threshold: float) -> str:
    """Keep-one-per-cluster with the keep-LONGEST policy: per near-dup
    component keep the (n_chars desc, doc_id asc) representative;
    unclustered docs pass through (mirrors
    components.keep_one_per_cluster with that order)."""
    return f"""
WITH RECURSIVE {_shingles_cte()},
edges AS (SELECT a, b FROM jac_pairs WHERE jac >= {threshold}),
nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
reach(node, lbl) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.lbl
    FROM reach r JOIN edges e ON r.node IN (e.a, e.b)
),
comp AS (SELECT node AS doc_id, min(lbl) AS cid FROM reach GROUP BY node),
dd AS (
    SELECT d.doc_id, d.source, d.lang, d.n_chars,
           coalesce(c.cid, d.doc_id) AS cid
    FROM documents d LEFT JOIN comp c USING (doc_id)
),
rn AS (
    SELECT doc_id, source, lang, n_chars,
           row_number() OVER (
               PARTITION BY cid ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM dd
)
SELECT doc_id, source, lang, n_chars FROM rn WHERE rn = 1
"""


def _bucket_sql(salt: str) -> str:
    """DuckDB form of datasplit._bucket: md5 prefix hash of salt|id
    mod 10000 (functions/hashing.py cross-engine contract)."""
    h = H_SQL.format(x=f"'{salt}' || '|' || doc_id::VARCHAR")
    return f"({h} % 10000)"


def _split_case_sql(weights: dict, salt: str) -> str:
    """CASE expression assigning a split label from the hash bucket."""
    total = sum(weights.values())
    b = _bucket_sql(salt)
    case = "CASE"
    acc = 0.0
    labels = list(weights.items())
    for label, w in labels[:-1]:
        acc += w / total
        case += f" WHEN {b} < {int(round(acc * 10000))} THEN '{label}'"
    return case + f" ELSE '{labels[-1][0]}' END"


def _sample_case_sql(rates: dict, default_rate: float, salt: str) -> str:
    """Boolean CASE keeping each row at its stratum's rate."""
    b = _bucket_sql(salt)
    case = "CASE"
    for stratum, rate in rates.items():
        case += (f" WHEN source = '{stratum}' THEN {b} <"
                 f" {int(round(rate * 10000))}")
    return case + f" ELSE {b} < {int(round(default_rate * 10000))} END"


def doc_splits_sql(weights: dict, salt: str = "split_v1") -> str:
    """Mirror of datasplit.assign_splits: cumulative integer bucket
    edges over the 10,000-bucket hash."""
    case = _split_case_sql(weights, salt)
    return f"SELECT doc_id, source, {case} AS split FROM documents"


def doc_sample_stratified_sql(rates: dict, default_rate: float,
                              salt: str = "sample_v1") -> str:
    """Mirror of datasplit.stratified_sample."""
    case = _sample_case_sql(rates, default_rate, salt)
    return f"SELECT doc_id, source FROM documents WHERE {case}"


def doc_packing_sql(budget: int) -> str:
    """Mirror of datasplit.pack_documents: per-source concat-and-chunk
    window cumsum."""
    return f"""
WITH toks AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, source, n_tokens::INT AS n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
    FROM toks
)
SELECT doc_id, source, n_tokens,
       (cum_before // {budget})::BIGINT AS pack_id,
       (cum_before % {budget})::INT AS start_off
FROM cum
"""


def triples_degrees_salted_sql() -> str:
    """PLAIN join oracle for the salted join: triples x subj
    out-degree.  A hash match proves salting is partitioning-only."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo
    FROM documents
),
triples AS (
    SELECT m.repo || '/' || m.path AS subj,
           CASE m.etype WHEN 'op' THEN 'MENTIONS_OP'
                ELSE 'MENTIONS_OBJ' END AS pred,
           m.text AS obj
    FROM mention_rows m
    UNION ALL
    SELECT repo AS subj, 'CONTAINS' AS pred, repo || '/' || path AS obj
    FROM doc_sha
),
deg AS (SELECT subj, count(*) AS out_deg FROM triples GROUP BY subj)
SELECT t.subj, t.pred, t.obj, d.out_deg::BIGINT AS out_deg
FROM triples t JOIN deg d USING (subj)
"""


def triples_history_scd2_sql() -> str:
    """SQL replay of the SCD2 MERGE (operators/upsert.py:scd2_upsert)
    over the same v1 history + v2 batch the Spark query constructs:
    matched-changed keys close at v2 and reopen, matched-identical keys
    no-op, new keys open; presence tests use valid_from/content_sha
    non-null (table contract)."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha, doc_id
    FROM documents
),
base AS (
    SELECT DISTINCT m.repo || '/' || m.path AS subj,
           CASE m.etype WHEN 'op' THEN 'MENTIONS_OP'
                ELSE 'MENTIONS_OBJ' END AS pred,
           m.text AS obj, m.repo AS repo, d.content_sha, d.doc_id
    FROM mention_rows m JOIN doc_sha d ON m.path = d.path AND m.repo = d.repo
    UNION
    SELECT DISTINCT repo AS subj, 'CONTAINS' AS pred,
           repo || '/' || path AS obj, repo, content_sha, doc_id
    FROM doc_sha
),
history AS (
    SELECT DISTINCT subj, pred, obj, repo, content_sha,
           'v1' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
    FROM base
),
inc AS (
    SELECT DISTINCT * FROM (
        SELECT subj, pred, obj, repo, 'new:' || content_sha AS content_sha
        FROM base WHERE doc_id % 5 = 0
        UNION ALL
        SELECT subj, pred, obj, repo, content_sha
        FROM base WHERE doc_id % 5 <> 0 AND doc_id % 11 = 0
        UNION ALL
        SELECT subj, pred, obj || '_x' AS obj, repo, content_sha
        FROM base WHERE doc_id % 7 = 0
    )
)
-- surviving current rows: no incoming match, or matched-identical
SELECT h.subj, h.pred, h.obj, h.repo, h.content_sha, h.valid_from, h.valid_to
FROM history h LEFT JOIN inc i USING (subj, pred, obj)
WHERE i.content_sha IS NULL OR i.content_sha = h.content_sha
UNION ALL
-- matched-changed current rows close at v2
SELECT h.subj, h.pred, h.obj, h.repo, h.content_sha, h.valid_from,
       'v2' AS valid_to
FROM history h JOIN inc i USING (subj, pred, obj)
WHERE i.content_sha <> h.content_sha
UNION ALL
-- new current rows: matched-changed or brand-new keys
SELECT i.subj, i.pred, i.obj, i.repo, i.content_sha,
       'v2' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
FROM inc i LEFT JOIN history h USING (subj, pred, obj)
WHERE h.valid_from IS NULL OR h.content_sha <> i.content_sha
"""


def triples_snapshot_v1_sql() -> str:
    """Time-travel invariant oracle: the SCD2 history read AS OF v1 is
    exactly the original v1 triple table (base, key-distinct)."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha
    FROM documents
)
SELECT DISTINCT * FROM (
    SELECT m.repo || '/' || m.path AS subj,
           CASE m.etype WHEN 'op' THEN 'MENTIONS_OP'
                ELSE 'MENTIONS_OBJ' END AS pred,
           m.text AS obj, m.repo AS repo, d.content_sha
    FROM mention_rows m JOIN doc_sha d ON m.path = d.path AND m.repo = d.repo
    UNION ALL
    SELECT repo AS subj, 'CONTAINS' AS pred, repo || '/' || path AS obj,
           repo, content_sha
    FROM doc_sha
)
"""


def doc_len_quantiles_sql() -> str:
    """Per-source quartiles of n_chars; quantile_cont matches Spark's
    percentile() interpolation exactly (verified to 6 decimals)."""
    return """
SELECT source, count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.75), 6) AS p75,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source
"""


def training_corpus_sql(min_quality: float, jaccard_t: float,
                        rates: dict, default_rate: float, weights: dict,
                        stopwords) -> str:
    """Composed replay of plans/corpus.py:build_training_corpus —
    quality filter -> keep-longest near-dup removal (recursive CC over
    the FILTERED corpus) -> stratified sample -> split assignment.
    The stage interaction is what this gates: quality runs first, so
    the dedup cluster graph must be computed on the filtered set."""
    stop_list = ", ".join(f"'{w}'" for w in stopwords)
    sample_case = _sample_case_sql(rates, default_rate, "sample_v1")
    split_case = _split_case_sql(weights, "split_v1")
    return f"""
WITH RECURSIVE docs_q AS (
    SELECT doc_id, source, n_chars, text, quality FROM (
        SELECT doc_id, source, n_chars, text,
               round(0.4 * least(n / 64.0, 1.0)
                     + 0.3 * (len(list_distinct(toks)) * 1.0 / n)
                     + 0.3 * (1 - len(list_filter(toks,
                                t -> t IN ({stop_list}))) * 1.0 / n), 6)
                   AS quality
        FROM (SELECT *, string_split(text, ' ') AS toks,
                     len(string_split(text, ' ')) AS n
              FROM documents)
    ) WHERE quality >= {min_quality}
),
{_shingles_cte(src="docs_q")},
edges AS (SELECT a, b FROM jac_pairs WHERE jac >= {jaccard_t}),
nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
reach(node, lbl) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.lbl
    FROM reach r JOIN edges e ON r.node IN (e.a, e.b)
),
comp AS (SELECT node AS doc_id, min(lbl) AS cid FROM reach GROUP BY node),
dd AS (
    SELECT q.doc_id, q.source, q.n_chars, q.quality,
           coalesce(c.cid, q.doc_id) AS cid
    FROM docs_q q LEFT JOIN comp c USING (doc_id)
),
keep AS (
    SELECT doc_id, source, quality FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cid ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM dd
    ) WHERE rn = 1
),
sampled AS (SELECT * FROM keep WHERE {sample_case})
SELECT doc_id, source, quality, {split_case} AS split FROM sampled
"""


def multimodal_features_sql(n: int, seed: int = 7, dim: int = 16) -> str:
    """Replays multimodal.synth_media + _fake_feature_sums in SQL:
    payload = sha256('{seed}:{i}') bytes repeated (1 + i%4) times;
    bucket_sum[d] = repeats * (byte[d] + byte[d+16]) since one 32-byte
    digest folds into 16 buckets exactly twice."""
    return f"""
WITH m AS (SELECT range AS i FROM range({n})),
h AS (
    SELECT i,
           sha256('{seed}' || ':' || i::VARCHAR) AS hx,
           1 + i % 4 AS r,
           CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind
    FROM m
),
b AS (
    SELECT i, kind, r,
           list_transform(range(32),
                          j -> ('0x' || substr(hx, 2 * j + 1, 2))::BIGINT)
               AS bytes
    FROM h
)
SELECT b.i AS media_id, b.kind, p.pos::INT AS pos,
       (b.r * (b.bytes[p.pos + 1] + b.bytes[p.pos + {dim + 1}]))::BIGINT
           AS bucket_sum
FROM b, (SELECT unnest(range({dim})) AS pos) p
"""


def multimodal_frame_sample_sql(n: int, every_k: int = 4) -> str:
    """Replays multimodal.frame_sample over the synthetic metadata."""
    return f"""
WITH meta AS (
    SELECT range AS i,
           CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           16 * (1 + range % 8) AS width,
           16 * (1 + range % 5) AS height,
           CASE WHEN range % 3 = 0 THEN 1 ELSE 8 + range % 16 END AS n_frames
    FROM range({n})
)
SELECT i AS media_id, unnest(range(0, n_frames, {every_k}))::INT AS frame_idx,
       width::INT AS width, height::INT AS height
FROM meta WHERE kind = 'video'
"""


def multimodal_resize_plan_sql(n: int, max_side: int = 64) -> str:
    """Replays multimodal.resize_plan (pure metadata arithmetic)."""
    return f"""
WITH meta AS (
    SELECT range AS i,
           CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           16 * (1 + range % 8) AS width,
           16 * (1 + range % 5) AS height
    FROM range({n})
),
s AS (
    SELECT i, kind, width, height,
           least(1.0, {max_side} / greatest(width, height)) AS scale
    FROM meta
)
SELECT i AS media_id, kind,
       round(width * scale)::INT AS out_width,
       round(height * scale)::INT AS out_height
FROM s
"""


def ann_ivf_trained_invariants_sql() -> str:
    """Typed empty oracle for the trained-IVF invariants query: the
    k-means trainer cannot be expressed in SQL (no centroid literals
    exist before it runs), so the gate is violations == empty set."""
    return """
SELECT CAST(NULL AS VARCHAR) AS invariant,
       CAST(NULL AS BIGINT) AS value,
       CAST(NULL AS BIGINT) AS baseline
WHERE 1 = 0
"""


def _canon_subquery(doc_where: str = "") -> str:
    """Nested WITH RECURSIVE computing (node, canonical_id) over the
    link graph of the (optionally restricted) document set — the same
    min-label fixed point canonicalize_sql exposes, usable twice in one
    statement (epoch-1 half corpus vs epoch-2 full corpus)."""
    return f"""(
  WITH RECURSIVE {doc_mentions_cte(doc_where=doc_where)},
  {_link_edges_cte()},
  nodes AS (SELECT DISTINCT text AS n FROM ents),
  reach(node, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT CASE WHEN r.node = e.src THEN e.dst ELSE e.src END, r.lbl
      FROM reach r JOIN link_edges e ON r.node IN (e.src, e.dst)
  )
  SELECT node, min(lbl) AS canonical_id FROM reach GROUP BY node
)"""


def kg_entity_temporal_sql() -> str:
    """Entity-level temporal validity: SCD2 history of canonical-id
    assignments (epoch v1 = even-doc_id half corpus, epoch v2 = full
    corpus) joined to mentions at their observation epoch
    (valid_from <= obs < valid_to, NULL = open) — every mention binds
    to the entity version that was current when it was observed."""
    return f"""
WITH canon1 AS {_canon_subquery("WHERE doc_id % 2 = 0")},
canon2 AS {_canon_subquery()},
hist AS (
  SELECT c1.node, c1.canonical_id, 'v1' AS valid_from, 'v2' AS valid_to
  FROM canon1 c1 JOIN canon2 c2 USING (node)
  WHERE c1.canonical_id <> c2.canonical_id
  UNION ALL
  SELECT c1.node, c1.canonical_id, 'v1', NULL
  FROM canon1 c1 JOIN canon2 c2 USING (node)
  WHERE c1.canonical_id = c2.canonical_id
  UNION ALL
  SELECT c2.node, c2.canonical_id, 'v2', NULL
  FROM canon2 c2 LEFT JOIN canon1 c1 USING (node)
  WHERE c1.node IS NULL OR c1.canonical_id <> c2.canonical_id
),
m AS (WITH {doc_mentions_cte()} SELECT * FROM mention_rows),
mm AS (
  SELECT *,
         CASE WHEN CAST(regexp_extract(path, 'docs/(\\d+)\\.txt', 1) AS BIGINT)
                   % 2 = 0
              THEN 'v1' ELSE 'v2' END AS obs_version
  FROM m
)
SELECT mm.repo, mm.path, mm.sent_id, mm.mbegin, mm.mend, mm.text,
       mm.etype, mm.obs_version, h.canonical_id, h.valid_from
FROM mm JOIN hist h ON mm.text = h.node
WHERE h.valid_from <= mm.obs_version
  AND (h.valid_to IS NULL OR mm.obs_version < h.valid_to)
"""


def events_time_pruned_sql() -> str:
    """Per-type counts over the [min_date+1, min_date+3) event window —
    the window the Spark side serves via partition pruning."""
    return """
WITH b AS (SELECT min(CAST(ts AS DATE)) AS mn FROM events)
SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS total
FROM events, b
WHERE CAST(ts AS DATE) >= mn + 1 AND CAST(ts AS DATE) < mn + 3
GROUP BY event_type
"""


def double_invariants_sql() -> str:
    """Typed empty oracle for invariants queries with double-valued
    evidence columns (iterative trainers/convergence loops are not
    SQL-expressible; the gate is violations == empty set)."""
    return """
SELECT CAST(NULL AS VARCHAR) AS invariant,
       CAST(NULL AS DOUBLE) AS value,
       CAST(NULL AS DOUBLE) AS baseline
WHERE 1 = 0
"""


def pagerank_inc_invariants_sql() -> str:
    """Typed empty oracle for the warm-start PageRank invariants query
    (the convergence loop itself is iterative, not SQL-expressible;
    the batch pagerank semantics are already oracle-checked by
    kg_pagerank's unrolled CTEs)."""
    return double_invariants_sql()


def lpa_inc_invariants_sql() -> str:
    """Typed empty oracle for the incremental-LPA invariants query
    (the converge-until-stable loop is iterative, not SQL-expressible;
    the fixed-horizon LPA semantics are already oracle-checked by
    kg_communities' unrolled CTEs).  Gate: violations == empty set."""
    return """
SELECT CAST(NULL AS VARCHAR) AS invariant,
       CAST(NULL AS VARCHAR) AS detail
WHERE 1 = 0
"""


def dedup_keep_docs_sql(threshold: float) -> str:
    """Keep-one-per-cluster corpus materialization: drop every doc in
    a near-dup component except its min-id representative."""
    return f"""
WITH RECURSIVE {_shingles_cte()},
edges AS (SELECT a, b FROM jac_pairs WHERE jac >= {threshold}),
nodes AS (SELECT a AS n FROM edges UNION SELECT b FROM edges),
reach(node, lbl) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.lbl
    FROM reach r JOIN edges e ON r.node IN (e.a, e.b)
),
drop_ids AS (
    SELECT node AS doc_id FROM reach GROUP BY node
    HAVING node <> min(lbl)
)
SELECT d.doc_id, d.source, d.lang
FROM documents d ANTI JOIN drop_ids USING (doc_id)
"""


def sales_cube_sql() -> str:
    """CUBE grouping-sets aggregation (SURVEY §2.6: 'built-in if ever
    needed' — provided with an oracle for completeness)."""
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def asof_join_sql() -> str:
    """Native ASOF LEFT JOIN oracle for the bucketized as-of operator.

    Rates: one row per event-hour at hh:30 (so the join is genuinely
    temporal — events before half past match the previous hour), rate =
    cross-engine hash of the hour string.  Max event->rate gap is < 2h,
    inside the Spark operator's lookback horizon, so both formulations
    are exact.  The left side plants duplicate rows (every 97th event
    twice) to mirror the Spark query's duplicate-preservation check."""
    h = H_SQL.format(x="strftime(date_trunc('hour', ts), '%Y-%m-%d %H')")
    return f"""
WITH rates AS (
    SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 30 MINUTE AS rt,
           {h} % 100 AS rate
    FROM events
),
ev AS (
    SELECT event_id, ts FROM events
    UNION ALL
    SELECT event_id, ts FROM events WHERE event_id % 97 = 0
)
SELECT e.event_id, e.ts, r.rt, r.rate
FROM ev e ASOF LEFT JOIN rates r ON e.ts >= r.rt
"""


def neural_invariants_sql() -> str:
    """The neural-path invariants query returns VIOLATIONS; its oracle
    is the typed empty set — a green rows+schema+hash match proves all
    invariants hold on the full sf corpus."""
    return """
SELECT CAST(NULL AS VARCHAR) AS invariant,
       CAST(NULL AS VARCHAR) AS repo,
       CAST(NULL AS VARCHAR) AS path,
       CAST(NULL AS INTEGER) AS mbegin,
       CAST(NULL AS INTEGER) AS mend
WHERE 1 = 0
"""


def wordpiece_invariants_sql() -> str:
    """Typed empty oracle for the WordPiece-stage invariants query."""
    return """
SELECT CAST(NULL AS VARCHAR) AS invariant,
       CAST(NULL AS BIGINT) AS doc_id
WHERE 1 = 0
"""


WP_CHARSET = "abcdefghijklmnopqrstuvwxyz0123456789_"


def wordpiece_features_sql(min_freq: int = 10, max_len: int = 64,
                           word_suffix: str = "",
                           max_vocab: int = 30_000) -> str:
    """Full SQL re-statement of the WordPiece encode stage
    (operators/wordpiece_stage.py + functions/wordpiece.py, reference
    semantics run_bert_crf.py:340-433): corpus vocab (specials, chars,
    ##chars, then tokens with freq >= min_freq by (freq desc, tok)),
    greedy longest-match split, truncation to max_len-2, [CLS]/[SEP]
    wrap, first-piece label alignment with X continuations, zero
    padding (pad label = O).  Output: one scalar row per (doc, pos).

    The greedy split IS SQL-expressible for corpus_vocab-built vocabs
    because every ``##`` continuation piece is a single character
    (corpus tokens never start with a literal ``##``): the first piece
    is the longest vocab prefix, every later piece is one ``##char``.
    A word with any uncovered remainder char (or > 200 chars, or no
    matching prefix) is whole-word [UNK] — same as
    functions/wordpiece.py:wordpiece.
    """
    ops = _inlist(DOC_OP_WORDS)
    objs = _inlist(DOC_OBJ_WORDS)
    sfx = f" || '{word_suffix}'" if word_suffix else ""
    return f"""
WITH words0 AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
words_orig AS (
    SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS wpos
    FROM words0
),
words AS (
    SELECT doc_id, word{sfx} AS word, wpos FROM words_orig
),
freq AS (
    -- vocab always derives from the ORIGINAL corpus tokens, so a
    -- non-empty word_suffix forces real multi-char greedy prefixes;
    -- the (cnt desc, tok) LIMIT mirrors corpus_vocab's max_vocab cap
    -- (the bounded-collect fix) so the two sides cannot diverge on a
    -- corpus whose frequent-token set exceeds the cap
    SELECT tok, cnt FROM (
        SELECT word AS tok, count(*) AS cnt FROM words_orig
        GROUP BY word HAVING count(*) >= {min_freq}
        ORDER BY cnt DESC, tok ASC LIMIT {max_vocab})
),
charlist AS (SELECT string_split('{WP_CHARSET}', '') AS cl),
baselist AS (
    SELECT ['[PAD]','[UNK]','[CLS]','[SEP]'] || cl
           || list_transform(cl, c -> '##' || c) AS bl
    FROM charlist
),
base AS (
    SELECT unnest(bl) AS piece, generate_subscripts(bl, 1) - 1 AS id
    FROM baselist
),
vocab AS (
    SELECT piece, id FROM base
    UNION ALL
    SELECT tok,
           (SELECT count(*) FROM base) - 1
           + row_number() OVER (ORDER BY cnt DESC, tok ASC) AS id
    FROM freq
    WHERE tok <> '' AND tok NOT IN (SELECT piece FROM base)
),
dwords AS (SELECT DISTINCT word FROM words),
firstp AS (
    -- greedy first piece = longest vocab prefix of the word
    SELECT d.word, max(len(v.piece)) AS flen
    FROM dwords d JOIN vocab v
      ON len(v.piece) <= len(d.word)
     AND v.piece = substr(d.word, 1, len(v.piece))
    GROUP BY d.word
),
wpieces AS (
    SELECT d.word,
      CASE
        WHEN d.word = '' THEN CAST([] AS VARCHAR[])
        WHEN len(d.word) > 200 OR f.flen IS NULL
             OR regexp_matches(substr(d.word, f.flen + 1), '[^{WP_CHARSET}]')
          THEN ['[UNK]']
        ELSE list_prepend(
               substr(d.word, 1, f.flen),
               list_transform(
                 list_filter(string_split(substr(d.word, f.flen + 1), ''),
                             c -> c <> ''),
                 c -> '##' || c))
      END AS pieces
    FROM dwords d LEFT JOIN firstp f USING (word)
),
doc_pieces AS (
    SELECT w.doc_id, w.wpos, p.pieces,
           CASE WHEN w.word IN ({ops}) THEN 'op'
                WHEN w.word IN ({objs}) THEN 'obj'
                ELSE 'O' END AS lab
    FROM words w JOIN wpieces p USING (word)
),
flat AS (
    SELECT doc_id, wpos, unnest(pieces) AS piece,
           generate_subscripts(pieces, 1) AS k, lab
    FROM doc_pieces
),
seqd AS (
    SELECT doc_id, piece,
           CASE WHEN k = 1 THEN lab ELSE 'X' END AS plab,
           row_number() OVER (PARTITION BY doc_id ORDER BY wpos, k) AS seq
    FROM flat
),
trunc AS (SELECT * FROM seqd WHERE seq <= {max_len} - 2),
nn AS (
    SELECT d.doc_id, count(t.seq) AS n
    FROM documents d LEFT JOIN trunc t USING (doc_id)
    GROUP BY d.doc_id
),
positions AS (
    SELECT doc_id, unnest(range({max_len})) AS pos FROM documents
),
tokrows AS (
    SELECT p.doc_id, p.pos,
      CASE WHEN p.pos = 0 THEN '[CLS]'
           WHEN p.pos <= nn.n THEN t.piece
           WHEN p.pos = nn.n + 1 THEN '[SEP]'
           ELSE '[PAD]' END AS token,
      CASE WHEN p.pos = 0 THEN '[CLS]'
           WHEN p.pos <= nn.n THEN t.plab
           WHEN p.pos = nn.n + 1 THEN '[SEP]'
           ELSE 'O' END AS plab,
      CASE WHEN p.pos <= nn.n + 1 THEN 1 ELSE 0 END AS input_mask
    FROM positions p
    JOIN nn USING (doc_id)
    LEFT JOIN trunc t ON t.doc_id = p.doc_id AND t.seq = p.pos
),
labmap(lab, lid) AS (VALUES
    ('[PAD]', 0), ('[CLS]', 1), ('[SEP]', 2), ('O', 3), ('X', 4),
    ('op', 5), ('obj', 6))
SELECT tr.doc_id, tr.pos::INT AS pos, tr.token,
       v.id::INT AS input_id, tr.input_mask::INT AS input_mask,
       lm.lid::INT AS label_id
FROM tokrows tr
JOIN vocab v ON v.piece = tr.token
JOIN labmap lm ON lm.lab = tr.plab
"""


def wordpiece_features_multipiece_sql(min_freq: int = 10,
                                      max_len: int = 64,
                                      max_vocab: int = 30_000) -> str:
    """General greedy-longest-match mirror for the DOUBLED-word /
    subword-vocab gate: the vocab adds a multi-char continuation piece
    '##tok' per frequent token (corpus_vocab_with_subwords id order),
    and the split is replayed as a RECURSIVE CTE state machine over
    (word, rest, pieces) — each step consumes the longest matching
    piece (first: raw vocab prefix; later: '##' continuation), a stuck
    state never completes and COALESCEs to whole-word [UNK], exactly
    functions/wordpiece.py:wordpiece.  Everything downstream
    (truncation, [CLS]/[SEP], X alignment, padding, ids) is identical
    to wordpiece_features_sql."""
    ops = _inlist(DOC_OP_WORDS)
    objs = _inlist(DOC_OBJ_WORDS)
    return f"""
WITH RECURSIVE words0 AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
words_orig AS (
    SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS wpos
    FROM words0
),
words AS (
    SELECT doc_id, word || word AS word, wpos FROM words_orig
),
freq AS (
    -- mirrors corpus_vocab's (cnt desc, tok) max_vocab cap
    SELECT tok, cnt FROM (
        SELECT word AS tok, count(*) AS cnt FROM words_orig
        GROUP BY word HAVING count(*) >= {min_freq}
        ORDER BY cnt DESC, tok ASC LIMIT {max_vocab})
),
charlist AS (SELECT string_split('{WP_CHARSET}', '') AS cl),
baselist AS (
    SELECT ['[PAD]','[UNK]','[CLS]','[SEP]'] || cl
           || list_transform(cl, c -> '##' || c) AS bl
    FROM charlist
),
base AS MATERIALIZED (
    SELECT unnest(bl) AS piece, generate_subscripts(bl, 1) - 1 AS id
    FROM baselist
),
freqv AS MATERIALIZED (
    SELECT tok, cnt FROM freq
    WHERE tok <> '' AND tok NOT IN (SELECT piece FROM base)
),
vocab0 AS MATERIALIZED (
    SELECT piece, id FROM base
    UNION ALL
    SELECT tok,
           (SELECT count(*) FROM base) - 1
           + row_number() OVER (ORDER BY cnt DESC, tok ASC) AS id
    FROM freqv
),
vocab AS MATERIALIZED (
    SELECT piece, id FROM vocab0
    UNION ALL
    -- corpus_vocab_with_subwords skips '##'/'[' -prefixed base tokens
    -- when minting continuations; mirror those skips exactly
    SELECT '##' || tok,
           (SELECT count(*) FROM vocab0) - 1
           + row_number() OVER (ORDER BY cnt DESC, tok ASC) AS id
    FROM freqv
    WHERE len(tok) >= 2
      AND tok NOT LIKE '##%' AND tok NOT LIKE '[%'
      AND ('##' || tok) NOT IN (SELECT piece FROM vocab0)
),
dwords AS MATERIALIZED (SELECT DISTINCT word FROM words),
-- longest vocab match per (word, start position), precomputed OUTSIDE
-- the recursion: a correlated aggregate inside a recursive term
-- evaluated nondeterministically across DuckDB connections (observed
-- flipping most words to [UNK]); with lm materialized, the recursive
-- step is a plain equi-join — deterministic by construction
poslist AS (
    SELECT word, unnest(range(1, len(word) + 1)) AS pos
    FROM dwords WHERE word <> '' AND len(word) <= 200
),
lm AS MATERIALIZED (
    SELECT p.word, p.pos,
           max(CASE WHEN p.pos = 1 THEN len(v.piece)
                    ELSE len(v.piece) - 2 END) AS flen
    FROM poslist p JOIN vocab v
      ON (p.pos = 1 AND v.piece NOT LIKE '##%'
          AND v.piece = substr(p.word, 1, len(v.piece)))
      OR (p.pos > 1 AND v.piece LIKE '##%' AND len(v.piece) > 2
          AND substr(v.piece, 3) = substr(p.word, p.pos, len(v.piece) - 2))
    GROUP BY p.word, p.pos
),
splits(word, pos, pieces) AS (
    SELECT word, 1, CAST([] AS VARCHAR[])
    FROM dwords WHERE word <> '' AND len(word) <= 200
  UNION ALL
    SELECT s.word, s.pos + l.flen,
           list_append(s.pieces,
             CASE WHEN s.pos = 1 THEN substr(s.word, 1, l.flen)
                  ELSE '##' || substr(s.word, s.pos, l.flen) END)
    FROM splits s JOIN lm l ON l.word = s.word AND l.pos = s.pos
    WHERE s.pos <= len(s.word)
),
wpieces AS (
    SELECT d.word,
      CASE WHEN d.word = '' THEN CAST([] AS VARCHAR[])
           ELSE COALESCE(c.pieces, ['[UNK]']) END AS pieces
    FROM dwords d
    LEFT JOIN (SELECT word, pieces FROM splits
               WHERE pos = len(word) + 1) c
      USING (word)
),
doc_pieces AS (
    SELECT w.doc_id, w.wpos, p.pieces,
           CASE WHEN w.word IN ({ops}) THEN 'op'
                WHEN w.word IN ({objs}) THEN 'obj'
                ELSE 'O' END AS lab
    FROM words w JOIN wpieces p USING (word)
),
flat AS (
    SELECT doc_id, wpos, unnest(pieces) AS piece,
           generate_subscripts(pieces, 1) AS k, lab
    FROM doc_pieces
),
seqd AS (
    SELECT doc_id, piece,
           CASE WHEN k = 1 THEN lab ELSE 'X' END AS plab,
           row_number() OVER (PARTITION BY doc_id ORDER BY wpos, k) AS seq
    FROM flat
),
trunc AS MATERIALIZED (SELECT * FROM seqd WHERE seq <= {max_len} - 2),
nn AS (
    SELECT d.doc_id, count(t.seq) AS n
    FROM documents d LEFT JOIN trunc t USING (doc_id)
    GROUP BY d.doc_id
),
positions AS (
    SELECT doc_id, unnest(range({max_len})) AS pos FROM documents
),
tokrows AS (
    SELECT p.doc_id, p.pos,
      CASE WHEN p.pos = 0 THEN '[CLS]'
           WHEN p.pos <= nn.n THEN t.piece
           WHEN p.pos = nn.n + 1 THEN '[SEP]'
           ELSE '[PAD]' END AS token,
      CASE WHEN p.pos = 0 THEN '[CLS]'
           WHEN p.pos <= nn.n THEN t.plab
           WHEN p.pos = nn.n + 1 THEN '[SEP]'
           ELSE 'O' END AS plab,
      CASE WHEN p.pos <= nn.n + 1 THEN 1 ELSE 0 END AS input_mask
    FROM positions p
    JOIN nn USING (doc_id)
    LEFT JOIN trunc t ON t.doc_id = p.doc_id AND t.seq = p.pos
),
labmap(lab, lid) AS (VALUES
    ('[PAD]', 0), ('[CLS]', 1), ('[SEP]', 2), ('O', 3), ('X', 4),
    ('op', 5), ('obj', 6))
SELECT tr.doc_id, tr.pos::INT AS pos, tr.token,
       v.id::INT AS input_id, tr.input_mask::INT AS input_mask,
       lm.lid::INT AS label_id
FROM tokrows tr
JOIN vocab v ON v.piece = tr.token
JOIN labmap lm ON lm.lab = tr.plab
"""


def asof_join_keyed_sql() -> str:
    """Per-key ASOF oracle: rates for every (event_type, hour) pair so
    the Spark operator's lookback horizon is never exceeded."""
    h = H_SQL.format(
        x="event_type || '|' || strftime(h, '%Y-%m-%d %H')"
    )
    return f"""
WITH rates AS (
    SELECT event_type, h + INTERVAL 30 MINUTE AS rt, {h} % 100 AS rate
    FROM (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events)
    CROSS JOIN (SELECT DISTINCT event_type FROM events)
)
SELECT e.event_id, e.event_type, e.ts, r.rt, r.rate
FROM events e ASOF LEFT JOIN rates r
  ON e.event_type = r.event_type AND e.ts >= r.rt
"""


def embedding_link_sql(threshold: float = 0.5, dim: int = 16,
                       max_block: int = 1000) -> str:
    """Pooled ±1-bit-vector embeddings + cosine over blocked pairs
    (same hot-block second-token refinement as _link_edges_cte)."""
    h = H_SQL.format(x="t")
    pooled = (
        f"list_transform(range({dim}), j -> "
        f"list_sum(list_transform(toks, t -> (({h} >> j) & 1) * 2 - 1)) * 1.0 / len(toks))"
    )
    dot = f"list_sum(list_transform(range({dim}), i -> a.vec[i + 1] * b.vec[i + 1]))"
    na = f"sqrt(list_sum(list_transform(range({dim}), i -> a.vec[i + 1] * a.vec[i + 1])))"
    nb = f"sqrt(list_sum(list_transform(range({dim}), i -> b.vec[i + 1] * b.vec[i + 1])))"
    cos = f"({dot} / ({na} * {nb}))"
    return f"""
WITH {doc_mentions_cte()},
ents AS (SELECT DISTINCT text, etype FROM mention_rows),
feat0 AS (
    SELECT text, etype,
           {pooled} AS vec,
           etype || '#' || string_split(text, ' ')[1] AS block0,
           coalesce(string_split(text, ' ')[2], '') AS tok2
    FROM (SELECT *, string_split(text, ' ') AS toks FROM ents)
),
blk_n AS (SELECT block0, count(*) AS bn FROM feat0 GROUP BY block0),
feat_ref AS (
    SELECT text, etype, vec,
           CASE WHEN b.bn > {max_block} THEN f.block0 || '#' || f.tok2
                ELSE f.block0 END AS block
    FROM feat0 f JOIN blk_n b USING (block0)
),
blk_n2 AS (SELECT block, count(*) AS bn2 FROM feat_ref GROUP BY block),
feat AS (
    SELECT f.text, f.etype, f.vec, f.block
    FROM feat_ref f JOIN blk_n2 b USING (block) WHERE b.bn2 <= {max_block}
)
SELECT a.text AS src, b.text AS dst, round({cos}, 6) AS cos
FROM feat a JOIN feat b ON a.block = b.block AND a.text < b.text
WHERE {cos} >= {threshold}
"""


def _triples_edges_cte() -> str:
    """Edge list (subj -> obj) of the flagship pipeline's triples —
    shared by the graph-analytics oracles."""
    return f"""
{doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo
    FROM documents
),
triples AS (
    SELECT m.repo || '/' || m.path AS subj, m.text AS obj
    FROM mention_rows m
    UNION ALL
    SELECT repo AS subj, repo || '/' || path AS obj FROM doc_sha
)"""


def kg_comention_sql() -> str:
    """Co-occurrence edge oracle: unordered distinct-entity pairs per
    document, weighted by co-mentioning document count."""
    return f"""
WITH {doc_mentions_cte()},
ents AS (SELECT DISTINCT repo, path, text AS e FROM mention_rows)
SELECT a.e AS a, b.e AS b, count(*)::BIGINT AS n_docs
FROM ents a JOIN ents b ON a.repo = b.repo AND a.path = b.path AND a.e < b.e
GROUP BY a.e, b.e
"""


def kg_degrees_sql() -> str:
    """Multigraph in/out/total degrees over the triples edge list."""
    return f"""
WITH {_triples_edges_cte()},
od AS (SELECT subj AS node, count(*) AS out_deg FROM triples GROUP BY subj),
idg AS (SELECT obj AS node, count(*) AS in_deg FROM triples GROUP BY obj)
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(o.out_deg, 0)::BIGINT AS out_deg,
       COALESCE(i.in_deg, 0)::BIGINT AS in_deg,
       (COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0))::BIGINT AS deg
FROM od o FULL OUTER JOIN idg i ON o.node = i.node
"""


def kg_pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Fixed-iteration PageRank, unrolled to one CTE per iteration —
    mirrors operators/graph.py:pagerank exactly (same double literals,
    same dangling-mass redistribution); round(6) absorbs summation-
    order float noise."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    iters = []
    for t in range(iterations):
        iters.append(f"""
pr{t + 1} AS MATERIALIZED (
    SELECT n.node,
           {one_minus_d} / nn.n
           + {d} * (COALESCE(c.s, 0) + dm.m / nn.n) AS pr
    FROM nodes n
    CROSS JOIN ncount nn
    CROSS JOIN (SELECT COALESCE(sum(p.pr), 0) AS m
                FROM pr{t} p ANTI JOIN deg d ON p.node = d.src) dm
    LEFT JOIN (SELECT e.dst AS node, sum(p.pr / d.od) AS s
               FROM edges e JOIN pr{t} p ON e.src = p.node
               JOIN deg d ON e.src = d.src
               GROUP BY e.dst) c ON n.node = c.node
)""")
    return f"""
WITH {_triples_edges_cte()},
edges AS (SELECT DISTINCT subj AS src, obj AS dst FROM triples),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
ncount AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
pr0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN ncount nn),
{",".join(iters)}
SELECT node, round(pr, 6) AS pr FROM pr{iterations}
"""


def kg_canonical_triples_sql(threshold: float = 0.5) -> str:
    """Full north_star flow oracle (plans/kg.py:build_canonical_triples):
    mentions -> blocked link edges -> recursive-CC canonical ids ->
    triples with canonical objects, SAME_AS edges for non-canonical
    surface forms (distinct per mention provenance), CONTAINS rows."""
    return f"""
WITH RECURSIVE {doc_mentions_cte()},
{_link_edges_cte(threshold)},
nodes AS (SELECT DISTINCT text AS n FROM ents),
reach(node, lbl) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT CASE WHEN r.node = e.src THEN e.dst ELSE e.src END, r.lbl
    FROM reach r JOIN link_edges e ON r.node IN (e.src, e.dst)
),
mapping AS (SELECT node, min(lbl) AS canonical_id FROM reach GROUP BY node),
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha
    FROM documents
),
cm AS (
    SELECT m.repo, m.path, m.sent_id, m.mbegin, m.mend, m.etype, m.text,
           coalesce(mp.canonical_id, m.text) AS ctext
    FROM mention_rows m LEFT JOIN mapping mp ON m.text = mp.node
),
tri AS (
    SELECT cm.repo || '/' || cm.path AS subj,
           CASE cm.etype WHEN 'op' THEN 'MENTIONS_OP' ELSE 'MENTIONS_OBJ' END AS pred,
           cm.ctext AS obj, cm.repo AS repo, d.content_sha
    FROM cm JOIN doc_sha d ON cm.path = d.path AND cm.repo = d.repo
),
sa AS (
    SELECT DISTINCT cm.text AS subj, cm.ctext AS obj, cm.repo AS repo,
           d.content_sha, cm.path, cm.sent_id, cm.mbegin, cm.mend
    FROM cm JOIN doc_sha d ON cm.path = d.path AND cm.repo = d.repo
    WHERE cm.text <> cm.ctext
)
SELECT subj, pred, obj, repo, content_sha FROM tri
UNION ALL
SELECT subj, 'SAME_AS' AS pred, obj, repo, content_sha FROM sa
UNION ALL
SELECT repo AS subj, 'CONTAINS' AS pred, repo || '/' || path AS obj,
       repo, content_sha
FROM doc_sha
"""


def triples_upsert_sql() -> str:
    """MERGE-INTO-shaped upsert oracle (mirrors operators/upsert.py):
    existing = flagship triples at version v1; incoming = re-emitted
    triples (updated content sha, version v2) for docs whose id is
    divisible by 5; matched keys take the newest struct(commit, repo,
    content_sha), untouched rows pass through."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT doc_id, 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha
    FROM documents
),
base AS (
    SELECT m.repo || '/' || m.path AS subj,
           CASE m.etype WHEN 'op' THEN 'MENTIONS_OP' ELSE 'MENTIONS_OBJ' END AS pred,
           m.text AS obj, m.repo AS repo, d.content_sha, d.doc_id
    FROM mention_rows m JOIN doc_sha d ON m.path = d.path AND m.repo = d.repo
    UNION ALL
    SELECT repo AS subj, 'CONTAINS' AS pred, repo || '/' || path AS obj,
           repo, content_sha, doc_id
    FROM doc_sha
),
existing AS (
    SELECT subj, pred, obj, repo, content_sha, 'v1' AS commit FROM base
),
incoming AS (
    SELECT subj, pred, obj, repo, 'new:' || content_sha AS content_sha,
           'v2' AS commit
    FROM base WHERE doc_id % 5 = 0
),
inc_keys AS (SELECT DISTINCT subj, pred, obj FROM incoming),
untouched AS (
    SELECT e.* FROM existing e ANTI JOIN inc_keys USING (subj, pred, obj)
),
touched AS (
    SELECT e.* FROM existing e SEMI JOIN inc_keys USING (subj, pred, obj)
    UNION ALL SELECT * FROM incoming
),
resolved AS (
    SELECT subj, pred, obj,
           (mx).repo AS repo, (mx).content_sha AS content_sha,
           (mx).commit AS commit
    FROM (SELECT subj, pred, obj,
                 max(struct_pack(commit := commit, repo := repo,
                                 content_sha := content_sha)) AS mx
          FROM touched GROUP BY subj, pred, obj)
)
SELECT * FROM untouched UNION ALL SELECT * FROM resolved
"""


def kg_repo_rollup_sql() -> str:
    """ROLLUP over the flagship pipeline's own triples: triple counts
    per (repo, pred) with subtotals — KG analytics on KG output."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha
    FROM documents
),
triples AS (
    SELECT m.repo,
           CASE m.etype WHEN 'op' THEN 'MENTIONS_OP' ELSE 'MENTIONS_OBJ' END AS pred
    FROM mention_rows m
    UNION ALL
    SELECT repo, 'CONTAINS' AS pred FROM doc_sha
)
SELECT repo, pred, count(*) AS n
FROM triples GROUP BY ROLLUP (repo, pred)
"""


def doc_tfidf_sql() -> str:
    """Smoothed TF-IDF mirror: idf = ln((1+N)/(1+df)) + 1; ln agrees
    across engines within the 6-decimal rounding."""
    return """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
t2 AS (SELECT * FROM toks WHERE token <> ''),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t2 GROUP BY doc_id, token),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf::BIGINT AS tf, dfq.df::BIGINT AS df,
       round(tf.tf * (ln((1 + n.n_docs) * 1.0 / (1 + dfq.df)) + 1), 6)
           AS tfidf
FROM tf JOIN dfq USING (token) CROSS JOIN n
"""


def doc_bigrams_sql(min_n: int = 5) -> str:
    """Bigram counts + conditional probability mirror."""
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
pairs AS (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM toks, unnest(range(1, len(l))) AS r(i)
    WHERE l[i] <> '' AND l[i + 1] <> ''
),
counts AS (SELECT w1, w2, count(*) AS n FROM pairs GROUP BY w1, w2),
firsts AS (SELECT w1, count(*) AS n1 FROM pairs GROUP BY w1)
SELECT c.w1, c.w2, c.n::BIGINT AS n, round(c.n * 1.0 / f.n1, 6) AS p
FROM counts c JOIN firsts f USING (w1)
WHERE c.n >= {min_n}
"""


def _triples_pred_cte() -> str:
    """Full (subj, pred, obj) triple list of the flagship pipeline —
    mention triples plus CONTAINS, multiset (one row per mention)."""
    return f"""
{doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo
    FROM documents
),
triples AS (
    SELECT m.repo || '/' || m.path AS subj,
           CASE m.etype WHEN 'op' THEN 'MENTIONS_OP'
                        ELSE 'MENTIONS_OBJ' END AS pred,
           m.text AS obj
    FROM mention_rows m
    UNION ALL
    SELECT repo AS subj, 'CONTAINS' AS pred, repo || '/' || path AS obj
    FROM doc_sha
)"""


def kg_two_hop_sql(max_mid_degree: int) -> str:
    """2-hop reachability mirror: distinct triples, middle nodes capped
    at out-degree <= max_mid_degree (the same contract as the Spark
    operator), path counts per (a, pred1, pred2, c)."""
    return f"""
WITH {_triples_pred_cte()},
dt AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM triples),
md AS (SELECT subj, count(*) AS d FROM dt GROUP BY subj),
e2 AS (
    SELECT t.subj, t.pred, t.obj FROM dt t
    JOIN md ON t.subj = md.subj
    WHERE md.d <= {max_mid_degree}
)
SELECT e1.subj AS a, e1.pred AS pred1, e2.pred AS pred2, e2.obj AS c,
       count(*)::BIGINT AS n_paths
FROM dt e1 JOIN e2 ON e1.obj = e2.subj
GROUP BY e1.subj, e1.pred, e2.pred, e2.obj
"""


def kg_comention_pmi_sql(min_pair_docs: int = 2) -> str:
    """PMI mirror over co-mention pairs: ln agrees across engines
    within the 6-decimal rounding (same argument as doc_tfidf)."""
    return f"""
WITH {doc_mentions_cte()},
ents AS MATERIALIZED (SELECT DISTINCT repo, path, text AS e FROM mention_rows),
pairs AS (
    SELECT a.e AS a, b.e AS b, count(*) AS n_ab
    FROM ents a JOIN ents b ON a.repo = b.repo AND a.path = b.path AND a.e < b.e
    GROUP BY a.e, b.e
),
ed AS (SELECT e, count(*) AS n_e FROM ents GROUP BY e),
nd AS (SELECT count(*) AS n_docs FROM (SELECT DISTINCT repo, path FROM ents))
SELECT p.a, p.b, p.n_ab::BIGINT AS n_ab,
       ea.n_e::BIGINT AS n_a, eb.n_e::BIGINT AS n_b,
       round(ln(p.n_ab * nd.n_docs * 1.0 / (ea.n_e * eb.n_e)), 6) AS pmi
FROM pairs p
JOIN ed ea ON p.a = ea.e
JOIN ed eb ON p.b = eb.e
CROSS JOIN nd
WHERE p.n_ab >= {min_pair_docs}
"""


def kg_triangles_sql() -> str:
    """Per-node triangle counts over the co-mention graph — the NAIVE
    id-ordered enumeration (x < y < z), deliberately a different
    algorithm than Spark's degree-ordered orientation: a value-hash
    match proves the orientation scheme is result-invariant."""
    return f"""
WITH {doc_mentions_cte()},
ents AS MATERIALIZED (SELECT DISTINCT repo, path, text AS e FROM mention_rows),
e AS MATERIALIZED (
    SELECT DISTINCT a.e AS a, b.e AS b
    FROM ents a JOIN ents b ON a.repo = b.repo AND a.path = b.path AND a.e < b.e
),
tri AS MATERIALIZED (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT node, count(*)::BIGINT AS n_tri FROM corners GROUP BY node
"""


def kg_skew_report_sql(top_k: int = 20) -> str:
    """Hot-key profile mirror over the flagship triples' subj column:
    integer running sum divided once at the end (float-order-free)."""
    return f"""
WITH {_triples_pred_cte()},
counts AS MATERIALIZED (SELECT subj AS key, count(*) AS n FROM triples GROUP BY subj),
tot AS (SELECT sum(n) AS t FROM counts),
top AS (
    SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rnk
    FROM counts
    QUALIFY rnk <= {top_k}
)
SELECT key, n::BIGINT AS n,
       round(n * 1.0 / t, 6) AS share,
       round(sum(n) OVER (ORDER BY rnk) * 1.0 / t, 6) AS cum_share,
       rnk::INT AS rank
FROM top CROSS JOIN tot
"""


def kg_communities_sql(iterations: int = 5) -> str:
    """Synchronous label propagation unrolled to one (count, argmax)
    CTE pair per iteration — the same replay style as the pagerank
    oracle; ties break by (count desc, label asc) on both engines."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(f"""
c{i} AS (
    SELECT e.u, l.lbl, count(*) AS c
    FROM und e JOIN l{i - 1} l ON e.v = l.u
    GROUP BY e.u, l.lbl
),
l{i} AS (
    SELECT u, lbl FROM c{i}
    QUALIFY row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) = 1
)""")
    return f"""
WITH {doc_mentions_cte()},
ents AS MATERIALIZED (SELECT DISTINCT repo, path, text AS e FROM mention_rows),
eo AS MATERIALIZED (
    SELECT DISTINCT a.e AS u, b.e AS v
    FROM ents a JOIN ents b ON a.repo = b.repo AND a.path = b.path AND a.e < b.e
),
und AS MATERIALIZED (SELECT u, v FROM eo UNION ALL SELECT v AS u, u AS v FROM eo),
l0 AS (SELECT DISTINCT u, u AS lbl FROM und),{",".join(rounds)}
SELECT u AS node, lbl AS community FROM l{iterations}
"""


def sketch_profile_sql() -> str:
    """Typed empty oracle for the sketch-vs-exact profiling gate."""
    return """
SELECT CAST(NULL AS VARCHAR) AS source,
       CAST(NULL AS VARCHAR) AS check_name,
       CAST(NULL AS DOUBLE) AS exact_distinct,
       CAST(NULL AS DOUBLE) AS approx_distinct,
       CAST(NULL AS DOUBLE) AS exact_p50,
       CAST(NULL AS DOUBLE) AS approx_p50
WHERE 1 = 0
"""


def kg_kcore_sql(k: int = 3, rounds: int = 5) -> str:
    """Bounded-round k-core peeling unrolled to one
    (degree, keep, filtered-edges) CTE triple per round.

    Every u{i} is referenced three times by round i+1 (degree count +
    both endpoint filters); DuckDB INLINES multiply-referenced CTEs by
    default, which makes the naive form recompute the base mention
    extraction 3^rounds times — ``AS MATERIALIZED`` pins each round to
    one evaluation (the analog of the Spark side's per-round
    localCheckpoint)."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""
d{i} AS MATERIALIZED (SELECT u, count(*) AS c FROM u{i - 1} GROUP BY u),
k{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE c >= {k}),
u{i} AS MATERIALIZED (
    SELECT e.u, e.v FROM u{i - 1} e
    JOIN k{i} a ON e.u = a.u
    JOIN k{i} b ON e.v = b.u
)""")
    return f"""
WITH {doc_mentions_cte()},
ents AS MATERIALIZED (SELECT DISTINCT repo, path, text AS e FROM mention_rows),
eo AS MATERIALIZED (
    SELECT DISTINCT a.e AS u, b.e AS v
    FROM ents a JOIN ents b ON a.repo = b.repo AND a.path = b.path AND a.e < b.e
),
u0 AS MATERIALIZED (SELECT u, v FROM eo UNION ALL SELECT v AS u, u AS v FROM eo),{",".join(parts)}
SELECT u AS node, count(*)::BIGINT AS deg FROM u{rounds} GROUP BY u
"""


def ann_topk_pq_sql(query_max_id: int, k: int,
                    codebooks: list[list[list[float]]],
                    subdim: int = 8) -> str:
    """PQ/ADC mirror: same seeded codebook literals, argmin encode via
    explicit row_number (squared-L2 asc, code id asc), 8-way
    table-lookup sum rounded to 6 decimals, rank by ROUNDED distance +
    id tie-break (operators/similarity.py:topk_pq)."""
    m_count = len(codebooks)
    rows = ", ".join(
        f"({m}, {j}, [{', '.join(repr(v) for v in code)}]::DOUBLE[])"
        for m, sub in enumerate(codebooks) for j, code in enumerate(sub)
    )
    l2 = (f"list_sum(list_transform(range({subdim}), i -> "
          f"(s.sv[i + 1]::DOUBLE - c.cvec[i + 1]) * "
          f"(s.sv[i + 1]::DOUBLE - c.cvec[i + 1])))")
    return f"""
WITH cb(m, j, cvec) AS MATERIALIZED (VALUES {rows}),
sub AS MATERIALIZED (
    SELECT vec_id, m,
           embedding[m * {subdim} + 1 : m * {subdim} + {subdim}] AS sv
    FROM embeddings, range({m_count}) r(m)
),
enc AS MATERIALIZED (
    SELECT vec_id AS neighbor_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, c.j,
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {l2} ASC, c.j ASC) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
    ) WHERE rn = 1
),
qtab AS MATERIALIZED (
    SELECT s.vec_id AS query_id, s.m, c.j AS code, {l2} AS qd
    FROM sub s JOIN cb c ON s.m = c.m
    WHERE s.vec_id < {query_max_id}
),
scored AS (
    SELECT t.query_id, e.neighbor_id, round(sum(t.qd), 6) AS adist
    FROM enc e JOIN qtab t ON e.m = t.m AND e.code = t.code
    WHERE e.neighbor_id <> t.query_id
    GROUP BY t.query_id, e.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY adist ASC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, adist, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def kg_degrees_store_sql() -> str:
    """Degree view over the DISTINCT (subj, pred, obj) triple set —
    the store contract (key-unique rows): out/in counts full-outer
    merged per node."""
    return f"""
WITH {doc_mentions_cte()},
doc_sha AS (
    SELECT 'docs/' || doc_id || '.txt' AS path, source AS repo,
           sha256(text) AS content_sha
    FROM documents
),
trip AS (
    SELECT DISTINCT subj, pred, obj FROM (
        SELECT m.repo || '/' || m.path AS subj,
               CASE m.etype WHEN 'op' THEN 'MENTIONS_OP'
                    ELSE 'MENTIONS_OBJ' END AS pred,
               m.text AS obj
        FROM mention_rows m
        UNION ALL
        SELECT repo AS subj, 'CONTAINS' AS pred,
               repo || '/' || path AS obj
        FROM doc_sha
    )
),
outd AS (SELECT subj AS node, count(*) AS out_deg FROM trip GROUP BY 1),
ind AS (SELECT obj AS node, count(*) AS in_deg FROM trip GROUP BY 1)
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(o.out_deg, 0)::BIGINT AS out_deg,
       COALESCE(i.in_deg, 0)::BIGINT AS in_deg,
       (COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0))::BIGINT AS deg
FROM outd o FULL JOIN ind i ON o.node = i.node
"""


def ann_topk_opq_sql(query_max_id: int, k: int,
                     codebooks: list[list[list[float]]],
                     rotation: list[list[float]],
                     subdim: int = 8) -> str:
    """OPQ/ADC mirror: the seeded orthogonal rotation applied FIRST —
    round(R·x, 6) with R's rows as literals, the dot products summed
    in element order (list_sum over list_transform, matching the
    Spark side's sequential F.aggregate fold bit-for-bit) — then the
    identical PQ argmin-encode / table-lookup ADC / rounded-rank
    pipeline as ann_topk_pq_sql."""
    m_count = len(codebooks)
    dim = len(rotation)
    rows = ", ".join(
        f"({m}, {j}, [{', '.join(repr(v) for v in code)}]::DOUBLE[])"
        for m, sub in enumerate(codebooks) for j, code in enumerate(sub)
    )
    rmat = ", ".join(repr(float(v)) for row in rotation for v in row)
    l2 = (f"list_sum(list_transform(range({subdim}), i -> "
          f"(s.sv[i + 1] - c.cvec[i + 1]) * "
          f"(s.sv[i + 1] - c.cvec[i + 1])))")
    return f"""
WITH cb(m, j, cvec) AS MATERIALIZED (VALUES {rows}),
rmat AS (SELECT [{rmat}]::DOUBLE[] AS r),
rot AS MATERIALIZED (
    SELECT vec_id,
           list_transform(range({dim}), i ->
               round(list_sum(list_transform(range({dim}), j ->
                   embedding[j + 1]::DOUBLE * r[i * {dim} + j + 1])), 6))
               AS embedding
    FROM embeddings, rmat
),
sub AS MATERIALIZED (
    SELECT vec_id, m,
           embedding[m * {subdim} + 1 : m * {subdim} + {subdim}] AS sv
    FROM rot, range({m_count}) r(m)
),
enc AS MATERIALIZED (
    SELECT vec_id AS neighbor_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, c.j,
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {l2} ASC, c.j ASC) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
    ) WHERE rn = 1
),
qtab AS MATERIALIZED (
    SELECT s.vec_id AS query_id, s.m, c.j AS code, {l2} AS qd
    FROM sub s JOIN cb c ON s.m = c.m
    WHERE s.vec_id < {query_max_id}
),
scored AS (
    SELECT t.query_id, e.neighbor_id, round(sum(t.qd), 6) AS adist
    FROM enc e JOIN qtab t ON e.m = t.m AND e.code = t.code
    WHERE e.neighbor_id <> t.query_id
    GROUP BY t.query_id, e.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY adist ASC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, adist, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def kg_ppr_sql(seeds: list[str], iterations: int = 5,
               damping: float = 0.85) -> str:
    """Personalized PageRank mirror: restart + dangling mass teleport
    to the seed distribution; same unrolled-CTE replay style as
    kg_pagerank_sql.  Every pr{t} is referenced TWICE by round t+1
    (dangling subquery + contribution subquery), so each is
    MATERIALIZED — the plain form inlines 2^iterations deep (the
    k-core lesson, CLAUDE.md)."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    seed_list = ", ".join(f"'{s}'" for s in seeds)
    iters = []
    for t in range(iterations):
        iters.append(f"""
pr{t + 1} AS MATERIALIZED (
    SELECT tl.node,
           {one_minus_d} * tl.sv
           + {d} * (COALESCE(c.s, 0) + dm.m * tl.sv) AS pr
    FROM tele tl
    CROSS JOIN (SELECT COALESCE(sum(p.pr), 0) AS m
                FROM pr{t} p ANTI JOIN deg d ON p.node = d.src) dm
    LEFT JOIN (SELECT e.dst AS node, sum(p.pr / d.od) AS s
               FROM edges e JOIN pr{t} p ON e.src = p.node
               JOIN deg d ON e.src = d.src
               GROUP BY e.dst) c ON tl.node = c.node
)""")
    return f"""
WITH {_triples_edges_cte()},
edges AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM triples),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seedn AS (SELECT count(*)::DOUBLE AS ns FROM nodes
          WHERE node IN ({seed_list})),
tele AS MATERIALIZED (
    SELECT n.node,
           CASE WHEN n.node IN ({seed_list}) THEN 1.0 / sn.ns
                ELSE 0.0 END AS sv
    FROM nodes n CROSS JOIN seedn sn
),
deg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
pr0 AS MATERIALIZED (SELECT node, sv AS pr FROM tele),
{",".join(iters)}
SELECT node, round(pr, 6) AS pr FROM pr{iterations}
"""


def ann_topk_ivf_pq_sql(query_max_id: int, k: int,
                        centroids: list[list[float]],
                        codebooks: list[list[list[float]]],
                        nprobe: int, subdim: int = 8,
                        dim: int = 64,
                        rotation: list[list[float]] | None = None) -> str:
    """Composed IVF+PQ mirror: candidates bounded by the query's nprobe
    nearest centroid lists (same literals/tie-breaks as the IVF
    oracle), scored by the PQ/ADC table-lookup sum (same codebook
    literals as the PQ oracle), ranked by rounded distance + id.

    With ``rotation``, the whole pipeline runs in the rotated space
    (round(R·x, 6) first, element-order sums — the ann_topk_opq
    mechanics): that is the composed IVF+OPQ serving path."""
    cvalues = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in c))
        for i, c in enumerate(centroids)
    )
    ccos = _cosine_sql("e.embedding", "c.vec", dim)
    m_count = len(codebooks)
    rows = ", ".join(
        f"({m}, {j}, [{', '.join(repr(v) for v in code)}]::DOUBLE[])"
        for m, sub in enumerate(codebooks) for j, code in enumerate(sub)
    )
    l2 = (f"list_sum(list_transform(range({subdim}), i -> "
          f"(s.sv[i + 1]::DOUBLE - c.cvec[i + 1]) * "
          f"(s.sv[i + 1]::DOUBLE - c.cvec[i + 1])))")
    src = "embeddings"
    rot_cte = ""
    if rotation is not None:
        rdim = len(rotation)
        rmat = ", ".join(repr(float(v)) for row in rotation for v in row)
        rot_cte = f"""rmat AS (SELECT [{rmat}]::DOUBLE[] AS r),
rot AS MATERIALIZED (
    SELECT vec_id,
           list_transform(range({rdim}), i ->
               round(list_sum(list_transform(range({rdim}), j ->
                   embedding[j + 1]::DOUBLE * r[i * {rdim} + j + 1])), 6))
               AS embedding
    FROM embeddings, rmat
),
"""
        src = "rot"
    return f"""
WITH {rot_cte}cents(cid, vec) AS (VALUES {cvalues}),
cscored AS MATERIALIZED (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {ccos} DESC, c.cid ASC) AS pr
    FROM {src} e CROSS JOIN cents c
),
corpus_cid AS MATERIALIZED (
    SELECT vec_id AS neighbor_id, cid FROM cscored WHERE pr = 1
),
qprobe AS MATERIALIZED (
    SELECT vec_id AS query_id, cid
    FROM cscored WHERE pr <= {nprobe} AND vec_id < {query_max_id}
),
cb(m, j, cvec) AS MATERIALIZED (VALUES {rows}),
sub AS MATERIALIZED (
    SELECT vec_id, m,
           embedding[m * {subdim} + 1 : m * {subdim} + {subdim}] AS sv
    FROM {src}, range({m_count}) r(m)
),
enc AS MATERIALIZED (
    SELECT vec_id AS neighbor_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, c.j,
               row_number() OVER (
                   PARTITION BY s.vec_id, s.m
                   ORDER BY {l2} ASC, c.j ASC) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
    ) WHERE rn = 1
),
qtab AS MATERIALIZED (
    SELECT s.vec_id AS query_id, s.m, c.j AS code, {l2} AS qd
    FROM sub s JOIN cb c ON s.m = c.m
    WHERE s.vec_id < {query_max_id}
),
scored AS (
    SELECT qp.query_id, cc.neighbor_id, round(sum(t.qd), 6) AS adist
    FROM corpus_cid cc
    JOIN qprobe qp ON cc.cid = qp.cid
    JOIN enc e ON e.neighbor_id = cc.neighbor_id
    JOIN qtab t ON t.query_id = qp.query_id
               AND t.m = e.m AND t.code = e.code
    WHERE cc.neighbor_id <> qp.query_id
    GROUP BY qp.query_id, cc.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY adist ASC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, adist, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def kg_pred_cooccurrence_sql() -> str:
    """Predicate co-occurrence per subject (the bucketed store's
    co-located self-join shape, gated on the plain layout)."""
    return f"""
WITH {_triples_pred_cte()},
dt AS MATERIALIZED (SELECT DISTINCT subj, pred FROM triples)
SELECT a.pred AS pred1, b.pred AS pred2, count(*)::BIGINT AS n_subjects
FROM dt a JOIN dt b ON a.subj = b.subj AND a.pred < b.pred
GROUP BY a.pred, b.pred
"""
