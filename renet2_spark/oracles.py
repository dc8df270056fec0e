"""DuckDB oracle SQL for every SQL-expressible query.

Each builder returns ANSI SQL that DuckDB runs on the driver's raw
parquet views (documents, embeddings, lineitem, ...) reproducing the
Spark pipeline's output exactly: same column names, same values. The
corpus derivation constants (10-word sentences, media rule) and the
entity dictionaries are inlined from the same python constants the
Spark plans use — single source of truth.

Float parity: the deterministic scorer is pure IEEE arithmetic
(+,*,/ and clamp) with the SAME association order in both engines;
no libm calls, so results are bit-identical before round().
"""

from __future__ import annotations

from .dictionaries import (
    DISEASE_CANON,
    DISEASE_EXT_CANON,
    DISEASE_EXT_RAW,
    DISEASE_RAW,
    GENE_CANON,
    GENE_EXT_CANON,
    GENE_EXT_RAW,
    GENE_RAW,
    MULTIWORD_DISEASE,
)
from .operators.dedup import MAX_LSH_BUCKET, MAX_SHINGLE_DF
from .operators.scorer import BIAS, CUTOFF, MODEL_STEP, N_MODELS, W_CNT, W_COOC


def _values(d: dict[str, str], cols: str) -> str:
    rows = ", ".join(f"('{k}', '{v}')" for k, v in d.items())
    return f"(VALUES {rows}) AS {cols}"


def gdict(canon: bool = True) -> str:
    return _values(GENE_CANON if canon else GENE_RAW, "g(surface, gene_id)")


def ddict(canon: bool = True) -> str:
    return _values(
        DISEASE_CANON if canon else DISEASE_RAW, "d(surface, disease_id)"
    )


def edict_raw() -> str:
    rows = ", ".join(
        f"('{s}', 'Gene', '{r}')" for s, r in GENE_RAW.items()
    ) + ", " + ", ".join(
        f"('{s}', 'Disease', '{r}')" for s, r in DISEASE_RAW.items()
    )
    return f"(VALUES {rows}) AS e(surface, type, raw_id)"


def edict_canon() -> str:
    rows = ", ".join(
        f"('{s}', 'Gene', '{GENE_CANON[s]}')" for s in GENE_RAW
    ) + ", " + ", ".join(
        f"('{s}', 'Disease', '{DISEASE_CANON[s]}')" for s in DISEASE_RAW
    )
    return f"(VALUES {rows}) AS e(surface, type, entity_id)"


def edict_ext_canon() -> str:
    """Base dict + cleaning-fixture single-token surfaces (canonical
    ids) — mirrors dictionaries.entity_dict_ext_df."""
    rows = (
        ", ".join(f"('{s}', 'Gene', '{GENE_CANON[s]}')" for s in GENE_RAW)
        + ", "
        + ", ".join(
            f"('{s}', 'Disease', '{DISEASE_CANON[s]}')" for s in DISEASE_RAW
        )
        + ", "
        + ", ".join(
            f"('{s}', 'Gene', '{GENE_EXT_CANON[s]}')" for s in GENE_EXT_RAW
        )
        + ", "
        + ", ".join(
            f"('{s}', 'Disease', '{DISEASE_EXT_CANON[s]}')"
            for s in DISEASE_EXT_RAW
        )
    )
    return f"(VALUES {rows}) AS e(surface, type, entity_id)"


def mwdict_canon() -> str:
    rows = ", ".join(
        f"('{s}', '{c}')" for s, (_r, c) in MULTIWORD_DISEASE.items()
    )
    return f"(VALUES {rows}) AS mw(surface, disease_id)"


# ---- shared CTE fragments over the documents view -----------------------

WORDS = """
words AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS doc_num,
         string_split("text", ' ') AS ws
  FROM documents
)"""

SENTS = WORDS + """,
sents AS (
  SELECT doc_id, doc_num, CAST(t.s AS INT) AS sent_no,
         list_slice(ws, t.s*10+1, t.s*10+10) AS sw, ws
  FROM words,
       unnest(range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS t(s)
)"""

TOKS = WORDS + """,
toks AS (
  SELECT doc_id, doc_num, ws, CAST(u.k - 1 AS INT) AS k, ws[u.k] AS token
  FROM words, unnest(generate_series(1, len(ws))) AS u(k)
)"""


def q_corpus_spans() -> str:
    """Aggregate view of the interleaved span derivation."""
    return f"""
WITH {WORDS},
base AS (
  SELECT doc_id, doc_num,
         CAST(ceil(len(ws)/10.0) AS INT) AS n_text_spans,
         length(array_to_string(ws, ' ')) AS total_chars
  FROM words
)
SELECT doc_id,
       n_text_spans,
       CAST(len(list_filter(range(2, n_text_spans),
                            s -> (doc_num + s) % 7 = 0)) AS INT) AS n_media_spans,
       CAST(n_text_spans
            + len(list_filter(range(2, n_text_spans),
                              s -> (doc_num + s) % 7 = 0)) AS INT) AS n_spans,
       CAST(total_chars AS BIGINT) AS total_chars
FROM base
"""


def q_sentences() -> str:
    return f"""
WITH {SENTS}
SELECT doc_id, sent_no,
       CASE WHEN sent_no = 0 THEN 'title'
            WHEN sent_no = 1 THEN 'abstract'
            ELSE 'paragraph' END AS kind,
       array_to_string(sw, ' ') AS sentence,
       CAST(CASE WHEN sent_no = 0 THEN 0
            ELSE length(array_to_string(ws[1:sent_no*10], ' ')) + 1
            END AS INT) AS "offset"
FROM sents
"""


def q_media() -> str:
    return f"""
WITH {WORDS},
m AS (
  SELECT doc_id, doc_num, ws, CAST(t.s AS INT) AS s
  FROM words,
       unnest(range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS t(s)
  WHERE t.s >= 2 AND (doc_num + t.s) % 7 = 0
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT)
         AS media_no,
       'img://' || doc_id || '/' || CAST(s AS VARCHAR) AS media_ref,
       CAST(length(array_to_string(ws[1:least((s+1)*10, len(ws))], ' ')) + 1
            AS INT) AS "offset"
FROM m
"""


def q_mentions(canon: bool = True) -> str:
    ed = edict_canon() if canon else edict_raw()
    idcol = "entity_id" if canon else "raw_id"
    return f"""
WITH {TOKS}
SELECT doc_id,
       CAST(k // 10 AS INT) AS sent_no,
       CAST(k % 10 AS INT) AS tok_no,
       CAST(CASE WHEN k = 0 THEN 0
            ELSE length(array_to_string(ws[1:k], ' ')) + 1 END AS INT) AS start,
       CAST(CASE WHEN k = 0 THEN 0
            ELSE length(array_to_string(ws[1:k], ' ')) + 1 END
            + length(token) AS INT) AS "end",
       token AS mention, e.type AS type, e.{idcol} AS {idcol}
FROM toks JOIN {ed} ON lower(token) = e.surface
"""


def q_mentions_clean() -> str:
    """Cleaning chain: singles+bigrams -> cross-sentence drop -> joint
    fusion -> extend-and-replace overlap merge (chain formulation:
    the running end after each scanned tag is that tag's own end, so
    chains break exactly at start >= lag(end) in scan order; per chain
    keep first.start/tok_no, last.end and the LAST tag's identity)."""
    return f"""
WITH {TOKS},
pos AS (
  SELECT doc_id, ws, k, token,
         CAST(CASE WHEN k = 0 THEN 0
              ELSE length(array_to_string(ws[1:k], ' ')) + 1 END AS INT)
           AS start
  FROM toks
),
sing AS (
  SELECT doc_id, CAST(k // 10 AS INT) AS sent_no, CAST(k % 10 AS INT) AS tok_no,
         start, CAST(start + length(token) AS INT) AS "end",
         token AS mention, e.type AS type, e.entity_id AS entity_id, ws
  FROM pos JOIN {edict_ext_canon()} ON lower(token) = e.surface
),
mwm AS (
  SELECT doc_id, CAST(k // 10 AS INT) AS sent_no, CAST(k % 10 AS INT) AS tok_no,
         start,
         CAST(start + length(token) + 1 + length(ws[k + 2]) AS INT) AS "end",
         token || ' ' || ws[k + 2] AS mention, 'Disease' AS type,
         mw.disease_id AS entity_id, ws
  FROM pos JOIN {mwdict_canon()}
    ON k + 2 <= len(ws) AND lower(token || ' ' || ws[k + 2]) = mw.surface
),
allm AS (SELECT * FROM sing UNION ALL SELECT * FROM mwm),
cs AS (
  SELECT * FROM allm
  WHERE "end" <= length(array_to_string(
        ws[1:least((sent_no + 1) * 10, len(ws))], ' '))
),
fused AS (
  SELECT doc_id, sent_no, tok_no, start, "end", mention,
         CASE WHEN g IS NOT NULL AND d IS NOT NULL THEN 'Gene-Disease'
              WHEN g IS NOT NULL THEN 'Gene' ELSE 'Disease' END AS type,
         CASE WHEN g IS NOT NULL AND d IS NOT NULL THEN d || '>-<' || g
              WHEN g IS NOT NULL THEN g ELSE d END AS entity_id
  FROM (SELECT doc_id, sent_no, tok_no, start, "end", mention,
               max(CASE WHEN type = 'Gene' THEN entity_id END) AS g,
               max(CASE WHEN type = 'Disease' THEN entity_id END) AS d
        FROM cs GROUP BY 1, 2, 3, 4, 5, 6)
),
chains AS (
  SELECT *,
         sum(CASE WHEN prev_end IS NULL OR start >= prev_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, sent_no
                 ORDER BY start, "end", mention, type, entity_id, tok_no
                 ROWS UNBOUNDED PRECEDING) AS chain
  FROM (SELECT *,
               lag("end") OVER w AS prev_end,
               row_number() OVER w AS rn
        FROM fused
        WINDOW w AS (PARTITION BY doc_id, sent_no
                     ORDER BY start, "end", mention, type, entity_id, tok_no))
)
SELECT doc_id, sent_no,
       CAST(min_by(tok_no, rn) AS INT) AS tok_no,
       CAST(min_by(start, rn) AS INT) AS start,
       CAST(max_by("end", rn) AS INT) AS "end",
       max_by(mention, rn) AS mention,
       max_by(type, rn) AS type,
       max_by(entity_id, rn) AS entity_id
FROM chains GROUP BY doc_id, sent_no, chain
"""


def q_mentions_capped(max_sents: int = 4, max_tokens: int = 7,
                      max_chars: int = 200) -> str:
    """Caps: sentence s kept iff s < max_sents and its char offset <
    max_chars; each kept sentence truncated to max_tokens tokens —
    i.e. token k survives iff k//10 < max_sents, k%10 < max_tokens,
    offset(k//10) < max_chars."""
    return f"""
WITH {TOKS}
SELECT doc_id,
       CAST(k // 10 AS INT) AS sent_no,
       CAST(k % 10 AS INT) AS tok_no,
       CAST(CASE WHEN k = 0 THEN 0
            ELSE length(array_to_string(ws[1:k], ' ')) + 1 END AS INT) AS start,
       CAST(CASE WHEN k = 0 THEN 0
            ELSE length(array_to_string(ws[1:k], ' ')) + 1 END
            + length(token) AS INT) AS "end",
       token AS mention, e.type AS type, e.entity_id AS entity_id
FROM toks JOIN {edict_canon()} ON lower(token) = e.surface
WHERE k // 10 < {max_sents}
  AND k % 10 < {max_tokens}
  AND (CASE WHEN k // 10 = 0 THEN 0
       ELSE length(array_to_string(ws[1:(k // 10) * 10], ' ')) + 1 END)
      < {max_chars}
"""


def q_mentions_verified() -> str:
    """F5: mentions whose start was corrupted ((sent_no+tok_no)%5==2)
    fail the substring-vs-mention check and are dropped — the kept set
    is exactly the uncorrupted raw mentions."""
    return f"""
WITH {TOKS}
SELECT doc_id,
       CAST(k // 10 AS INT) AS sent_no,
       CAST(k % 10 AS INT) AS tok_no,
       CAST(CASE WHEN k = 0 THEN 0
            ELSE length(array_to_string(ws[1:k], ' ')) + 1 END AS INT) AS start,
       CAST(CASE WHEN k = 0 THEN 0
            ELSE length(array_to_string(ws[1:k], ' ')) + 1 END
            + length(token) AS INT) AS "end",
       token AS mention, e.type AS type, e.raw_id AS raw_id
FROM toks JOIN {edict_raw()} ON lower(token) = e.surface
WHERE ((k // 10) + (k % 10)) % 5 != 2
"""


def q_tokens_rnn() -> str:
    """F8 Filter_rnn: injected punctuation drops (incl. the multi-char
    substring rule), dictionary positions survive, survivors renumber
    and non-entity tokens lowercase."""
    from .functions.text import RNN_FILTERS

    surfaces = ", ".join(
        f"('{s}')" for s in list(GENE_RAW) + list(DISEASE_RAW)
    )
    # the filter string contains no single quotes; tab/newline embed raw
    return f"""
WITH {TOKS},
inj AS (
  SELECT doc_id, CAST(k // 10 AS INT) AS sent_no, CAST(k % 10 AS INT)
           AS orig_tok_no, k,
         CASE WHEN k % 13 = 4 THEN '('
              WHEN k % 17 = 9 THEN '<='
              ELSE token END AS token
  FROM toks
),
flagged AS (
  SELECT i.*, (s.surface IS NOT NULL) AS ent
  FROM inj i LEFT JOIN (VALUES {surfaces}) AS s(surface)
    ON lower(i.token) = s.surface
),
kept AS (
  SELECT doc_id, sent_no, orig_tok_no, k,
         CASE WHEN ent THEN token ELSE lower(token) END AS token
  FROM flagged
  WHERE ent OR NOT (token = '' OR strpos('{RNN_FILTERS}', token) > 0)
)
SELECT doc_id, sent_no,
       CAST(row_number() OVER (PARTITION BY doc_id, sent_no ORDER BY k) - 1
            AS INT) AS tok_no,
       orig_tok_no, token
FROM kept
"""


def q_bioc_roundtrip() -> str:
    """S4/F2/F4: expected kept spans of the synthetic BioC rendering —
    title (no section_type), abstract, RESULTS paragraph, figure;
    funding (skip list) and METHODS (whitelist-excluded) dropped."""
    return f"""
WITH {WORDS},
parts AS (
  SELECT doc_id,
         coalesce(array_to_string(ws[1:10], ' '), '') AS title,
         coalesce(array_to_string(list_slice(ws, 11, 20), ' '), '')
           AS abstract,
         coalesce(array_to_string(list_slice(ws, 21, len(ws)), ' '), '')
           AS body
  FROM words
)
SELECT doc_id, CAST(0 AS INT) AS span_no, 'title' AS kind, title AS "text",
       CAST(NULL AS VARCHAR) AS media_ref, CAST(0 AS INT) AS "offset"
FROM parts
UNION ALL
SELECT doc_id, 1, 'abstract', abstract, NULL,
       CAST(length(title) + 1 AS INT) FROM parts
UNION ALL
SELECT doc_id, 2, 'paragraph', body, NULL,
       CAST(length(title) + length(abstract) + 2 AS INT) FROM parts
UNION ALL
SELECT doc_id, 3, 'figure', '', 'img://' || doc_id, 9002 FROM parts
"""


def _pairs_cte() -> str:
    return f"""
{SENTS},
sg AS (
  SELECT doc_id, sent_no, g.gene_id
  FROM sents JOIN {gdict()} ON list_contains(list_transform(sw, t -> lower(t)), g.surface)
),
sd AS (
  SELECT doc_id, sent_no, d.disease_id
  FROM sents JOIN {ddict()} ON list_contains(list_transform(sw, t -> lower(t)), d.surface)
),
pairs AS (
  SELECT doc_id, gene_id, disease_id, CAST(count(*) AS INT) AS n_cooc_sents
  FROM sg JOIN sd USING (doc_id, sent_no)
  GROUP BY 1, 2, 3
)"""


def q_pairs() -> str:
    return f"WITH {_pairs_cte()} SELECT * FROM pairs"


def q_pairs_doc() -> str:
    return f"""
WITH {TOKS},
dg AS (SELECT DISTINCT doc_id, g.gene_id
       FROM toks JOIN {gdict()} ON lower(token) = g.surface),
dd AS (SELECT DISTINCT doc_id, d.disease_id
       FROM toks JOIN {ddict()} ON lower(token) = d.surface)
SELECT doc_id, gene_id, disease_id FROM dg JOIN dd USING (doc_id)
"""


def _features_cte() -> str:
    return f"""
{_pairs_cte()},
tok AS (
  SELECT doc_id, unnest(ws) AS token FROM words
),
gc AS (
  SELECT doc_id, g.gene_id, CAST(count(*) AS INT) AS n_g
  FROM tok JOIN {gdict()} ON lower(token) = g.surface GROUP BY 1, 2
),
dc AS (
  SELECT doc_id, d.disease_id, CAST(count(*) AS INT) AS n_d
  FROM tok JOIN {ddict()} ON lower(token) = d.surface GROUP BY 1, 2
),
feats AS (
  SELECT p.doc_id, p.gene_id, p.disease_id, p.n_cooc_sents, gc.n_g, dc.n_d
  FROM pairs p
  JOIN gc ON p.doc_id = gc.doc_id AND p.gene_id = gc.gene_id
  JOIN dc ON p.doc_id = dc.doc_id AND p.disease_id = dc.disease_id
)"""


def q_pairs_labeled() -> str:
    """J1 labels join: sentence pairs LEFT-join the deterministic label
    fixture (operators/labels.py) + fillna(0)."""
    return f"""
WITH {_pairs_cte()},
dg AS (SELECT DISTINCT doc_id, g.gene_id
       FROM sents, unnest(sw) AS u(token)
       JOIN {gdict()} ON lower(u.token) = g.surface),
dd AS (SELECT DISTINCT doc_id, d.disease_id
       FROM sents, unnest(sw) AS u(token)
       JOIN {ddict()} ON lower(u.token) = d.surface),
doc_pairs AS (SELECT doc_id, gene_id, disease_id FROM dg JOIN dd USING (doc_id)),
labels AS (
  SELECT doc_id, gene_id, disease_id,
         CASE WHEN dgt < 4 THEN 1.0 WHEN dgt < 6 THEN 0.5 ELSE 0.0 END AS label
  FROM (SELECT *,
               strpos('0123456789abcdef',
                      substr(md5(doc_id || ':' || gene_id || ':' || disease_id),
                             1, 1)) - 1 AS dgt
        FROM doc_pairs)
  WHERE dgt < 8
)
SELECT p.doc_id, p.gene_id, p.disease_id, p.n_cooc_sents,
       coalesce(l.label, 0.0) AS label
FROM pairs p
LEFT JOIN labels l
  ON p.doc_id = l.doc_id AND p.gene_id = l.gene_id
  AND p.disease_id = l.disease_id
"""


def q_unify() -> str:
    """A6 per-doc id unification over parity-salted ids: components are
    per-(doc, type, surface) star graphs here (each salted id maps to
    exactly one surface), so the representative — max mention count,
    ties by id desc (reference normalize_ann.py:26-49) — reduces to a
    per-surface argmax over (count, id)."""
    return f"""
WITH {TOKS},
m AS (
  SELECT doc_id, CAST(k // 10 AS INT) AS sent_no, CAST(k % 10 AS INT) AS tok_no,
         token AS mention, e.type AS type, e.surface AS surface,
         e.entity_id || '_' || CAST((k % 10) % 2 AS VARCHAR) AS entity_id
  FROM toks JOIN {edict_canon()} ON lower(token) = e.surface
),
cnt AS (
  SELECT doc_id, type, surface, entity_id, count(*) AS n
  FROM m GROUP BY 1, 2, 3, 4
),
rep AS (
  SELECT doc_id, type, surface,
         split_part(max(printf('%08d', n) || '|' || entity_id), '|', 2)
           AS rep_id
  FROM cnt GROUP BY 1, 2, 3
)
SELECT m.doc_id, m.sent_no, m.tok_no, m.mention, m.type,
       r.rep_id AS entity_id
FROM m JOIN rep r
  ON m.doc_id = r.doc_id AND m.type = r.type AND m.surface = r.surface
"""


def _prob_expr(i: int) -> str:
    logit = (
        f"({W_COOC} * CAST(n_cooc_sents AS DOUBLE)"
        f" + {W_CNT} * (CAST(n_g AS DOUBLE) + CAST(n_d AS DOUBLE))"
        f" + {BIAS} + {MODEL_STEP} * {float(i)})"
    )
    return f"greatest(0.0, least(1.0, 0.5 + {logit} / 8.0))"


def _scored_cte() -> str:
    probs_sum = " + ".join(_prob_expr(i) for i in range(N_MODELS))
    hits = " + ".join(
        f"(CASE WHEN {_prob_expr(i)} > 0.5 THEN 1 ELSE 0 END)"
        for i in range(N_MODELS)
    )
    return f"""
{_features_cte()},
scored AS (
  SELECT doc_id, gene_id, disease_id, n_cooc_sents, n_g, n_d,
         CAST({hits} AS INT) AS hit_cnt,
         round((0.0 + {probs_sum}) / {float(N_MODELS)}, 5) AS prob_avg
  FROM feats
)"""


def q_scores() -> str:
    """Scored pairs incl. prob_X (r4 verdict #1: the former
    kg_scores_probx column folded in — printf('%.5f') == Spark
    format_number for probs <= 1, see q_scores_probx)."""
    prob_x = " || ';' || ".join(
        f"printf('%.5f', {_prob_expr(i)})" for i in range(N_MODELS)
    )
    return f"""
WITH {_scored_cte()}
SELECT doc_id, gene_id, disease_id, n_cooc_sents, n_g, n_d, hit_cnt,
       prob_avg, {prob_x} AS "prob_X"
FROM scored
"""


def q_scores_probx() -> str:
    """T8: ';'-joined per-model probs at 5 decimals (reference
    '{:,.5f}', predict.py:131-136). printf('%.5f') == Spark
    format_number for probs <= 1 (no comma grouping below 1000; both
    round the same IEEE double)."""
    prob_x = " || ';' || ".join(
        f"printf('%.5f', {_prob_expr(i)})" for i in range(N_MODELS)
    )
    return f"""
WITH {_scored_cte()}
SELECT doc_id, gene_id, disease_id, hit_cnt, prob_avg, {prob_x} AS "prob_X"
FROM scored
"""


def q_edges() -> str:
    return f"""
WITH {_scored_cte()},
voted AS (SELECT * FROM scored WHERE hit_cnt >= {CUTOFF}),
gnames AS (
  SELECT doc_id, g.gene_id,
         string_agg(DISTINCT token, '|' ORDER BY token) AS g_name
  FROM tok JOIN {gdict()} ON lower(token) = g.surface GROUP BY 1, 2
),
dnames AS (
  SELECT doc_id, d.disease_id,
         string_agg(DISTINCT token, '|' ORDER BY token) AS d_name
  FROM tok JOIN {ddict()} ON lower(token) = d.surface GROUP BY 1, 2
)
SELECT v.doc_id, v.gene_id, 'associated_with' AS predicate, v.disease_id,
       gn.g_name, dn.d_name, v.prob_avg, v.hit_cnt
FROM voted v
JOIN gnames gn ON v.doc_id = gn.doc_id AND v.gene_id = gn.gene_id
JOIN dnames dn ON v.doc_id = dn.doc_id AND v.disease_id = dn.disease_id
"""


def q_nodes() -> str:
    return f"""
WITH {TOKS}
SELECT e.type AS type, e.entity_id AS entity_id,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks JOIN {edict_canon()} ON lower(token) = e.surface
GROUP BY 1, 2
"""


# ---- dedup / similarity / textstats oracles ------------------------------

SHINGLES = """
shingles AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
         array_to_string(list_slice(ws, t.i + 1, t.i + 5), ' ') AS shingle
  FROM (SELECT doc_id, string_split("text", ' ') AS ws FROM documents) w,
       unnest(range(greatest(len(ws) - 5, 0) + 1)) AS t(i)
)"""


def q_dedup_exact() -> str:
    return """
SELECT md5("text") AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(CAST(doc_id AS VARCHAR)) AS keeper_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def _jaccard_cte(
    threshold: float,
    max_shingle_df: int = MAX_SHINGLE_DF,
    src: str = "documents",
) -> str:
    # max_shingle_df mirrors dedup.MAX_SHINGLE_DF: sizes over ALL
    # shingles, intersection over df-capped shingles only; src lets the
    # composed curation-pipeline oracle dedup a FILTERED doc set
    return f"""
{SHINGLES.replace("FROM documents", "FROM " + src)},
sizes AS (SELECT doc_id, CAST(count(*) AS INT) AS n_sh FROM shingles GROUP BY 1),
capped AS (
  SELECT * FROM shingles
  WHERE shingle IN (SELECT shingle FROM shingles
                    GROUP BY shingle HAVING count(*) <= {max_shingle_df})
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS INT) AS n_common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
         round(CAST(n_common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 5) AS jaccard
  FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
)"""


def q_dedup_ngram(threshold: float = 0.7) -> str:
    return f"""
WITH {_jaccard_cte(threshold)}
SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard
FROM jpairs WHERE jaccard >= {threshold}
"""


def q_dedup_minhash(threshold: float = 0.7, k: int = 12, bands: int = 4,
                    max_bucket: int = MAX_LSH_BUCKET) -> str:
    r = k // bands
    mh_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(k)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"mh_{b * r + j}" for j in range(r))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {_jaccard_cte(threshold)},
sig AS (SELECT doc_id, {mh_cols} FROM shingles GROUP BY doc_id),
keys AS ({band_rows}),
ckeys AS (
  SELECT doc_id, band, band_key FROM (
    SELECT *, row_number() OVER (PARTITION BY band, band_key
                                 ORDER BY doc_id) AS r
    FROM keys) WHERE r <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ckeys a JOIN ckeys b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, j.jaccard
FROM cand c JOIN jpairs j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
WHERE j.jaccard >= {threshold}
"""


def _simhash_expr(bits: int = 64) -> str:
    # bit j = bit (3 - j//32) of hex digit (j % 32) of md5(token) —
    # mirrors dedup.simhash exactly
    parts = []
    for j in range(bits):
        d = (
            f"(strpos('0123456789abcdef', "
            f"substr(md5(token), {(j % 32) + 1}, 1)) - 1)"
        )
        bit = f"(CASE WHEN ({d} >> {3 - j // 32}) & 1 = 1 THEN 1 ELSE -1 END)"
        parts.append(f"(CASE WHEN sum({bit}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(parts)


def q_simhash(bits: int = 64) -> str:
    return f"""
WITH dtok AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id, unnest(ws) AS token
  FROM (SELECT doc_id, list_distinct(string_split("text", ' ')) AS ws
        FROM documents)
)
SELECT doc_id, {_simhash_expr(bits)} AS simhash
FROM dtok GROUP BY doc_id
"""


def q_dedup_simhash(bits: int = 64) -> str:
    return f"""
WITH dtok AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id, unnest(ws) AS token
  FROM (SELECT doc_id, list_distinct(string_split("text", ' ')) AS ws
        FROM documents)
),
sig AS (SELECT doc_id, {_simhash_expr(bits)} AS simhash
        FROM dtok GROUP BY doc_id)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM sig GROUP BY 1 HAVING count(*) > 1
"""


_COS = (
    "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 5)"
)


def q_dedup_embedding(threshold: float = 0.9) -> str:
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS} >= {threshold}
"""


def q_ann_topk(k: int = 5, n_queries: int = 20) -> str:
    return f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
  WHERE a.vec_id < {n_queries}
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= {k}
"""


def q_text_stats() -> str:
    return """
WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, "text" AS txt,
                  string_split("text", ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) AS INT) AS n_tokens,
       CAST(length(txt) AS INT) AS n_chars,
       round(CAST(length(txt) - (len(ws) - 1) AS DOUBLE)
             / CAST(len(ws) AS DOUBLE), 5) AS avg_token_len,
       round(CAST(len(list_filter(ws, x -> x IN ('the', 'a'))) AS DOUBLE)
             / CAST(len(ws) AS DOUBLE), 5) AS stopword_ratio,
       round(least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
             * (1.0 - CAST(len(list_filter(ws, x -> x IN ('the', 'a')))
                           AS DOUBLE) / CAST(len(ws) AS DOUBLE)), 5)
         AS quality_score
FROM w
"""


def q_lang_id() -> str:
    return """
WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                  string_split("text", ' ') AS ws FROM documents)
SELECT doc_id, lang,
       CASE WHEN len(list_filter(ws, x -> x IN ('the', 'a'))) > 0
            THEN 'en' ELSE 'und' END AS lang_pred,
       round(CAST(len(list_filter(ws, x -> x IN ('the', 'a'))) AS DOUBLE)
             / CAST(len(ws) AS DOUBLE), 5) AS lang_conf
FROM w
"""


def q_token_counts() -> str:
    return """
WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  string_split("text", ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) AS INT) AS ws_tokens,
       CAST(list_sum(list_transform(ws,
            x -> CAST(ceil(length(x) / 4.0) AS INT))) AS INT) AS subword_tokens
FROM w
"""


def q_fingerprint() -> str:
    return """
WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, "text" AS txt,
                  string_split("text", ' ') AS ws FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ws, x -> CAST(ascii(substr(x, 1, 1)) * 100
                                        + length(x) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS fp,
       md5(txt) AS text_md5
FROM w
"""


# ---- relational coverage / metrics / multimodal oracles -------------------


def q_rel_suite_join() -> str:
    """Consolidated join suite (r4 verdict #1): semi + anti + union +
    left join + fillna + grouped agg — mirrors
    plans.relational.rel_suite_join."""
    return """
WITH stats AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS total
  FROM orders GROUP BY 1
),
base AS (
  SELECT c_custkey, c_name, 'active' AS status FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  UNION ALL
  SELECT c_custkey, c_name, 'none' AS status FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
)
SELECT c_custkey, c_name, status,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(total, 0.0) AS total_spent
FROM base LEFT JOIN stats ON c_custkey = o_custkey
"""


def q_rel_suite_window() -> str:
    """Consolidated window suite: rank + lag + top-k limit — mirrors
    plans.relational.rel_suite_window."""
    return """
SELECT o_custkey, rank, o_orderkey, o_totalprice, price_delta FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER w AS INT) AS rank,
         round(o_totalprice - lag(o_totalprice, 1, 0.0) OVER w, 5)
           AS price_delta
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC)
) WHERE rank <= 3
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


def q_rel_suite_setagg() -> str:
    """Consolidated set-op/aggregation suite: three harmonized grouped
    aggregations (JSON / broadcast-join+having / decimal-exact Q1)
    union'd with an intentional duplicate branch that DISTINCT must
    collapse — mirrors plans.relational.rel_suite_setagg."""
    ev = """
  SELECT 'events' AS src, event_type AS grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(props->>'k' AS INT)) AS DOUBLE) AS v1,
         CAST(max(CAST(props->>'k' AS INT)) AS DOUBLE) AS v2
  FROM events GROUP BY 2"""
    return f"""
SELECT DISTINCT * FROM (
{ev}
  UNION ALL
{ev}
  UNION ALL
  SELECT 'nation' AS src, n_name AS grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           AS v1,
         0.0 AS v2
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 2 HAVING count(*) > 1
  UNION ALL
  SELECT 'lineitem' AS src, l_returnflag || '/' || l_linestatus AS grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS v1,
         round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 2) AS v2
  FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' GROUP BY 2
)
"""


def q_media_suite(stride: int = 4) -> str:
    """Consolidated multimodal suite: decode features joined with the
    per-frame sampling fan-out — mirrors decode_media x sample_frames
    on (doc_id, media_ref)."""
    media = q_media().strip()
    b = lambda i: _hexbyte("md5(media_ref)", i)
    return f"""
WITH media AS ({media}),
f AS (
  SELECT doc_id, media_no, media_ref,
         CAST(16 AS INT) AS bytes_len,
         CAST(64 + {b(0)} % 192 AS INT) AS width,
         CAST(64 + {b(1)} % 192 AS INT) AS height,
         CAST(1 + {b(2)} % 4 AS INT) AS n_channels,
         round({b(3)} / 255.0, 5) AS f0,
         round({b(4)} / 255.0, 5) AS f1
  FROM media
),
m AS (SELECT doc_id, media_ref,
             CAST(1 + {_hexbyte("md5(media_ref)", 15)} % 32 AS INT)
               AS n_frames
      FROM media),
fr AS (
  SELECT doc_id, media_ref, n_frames, CAST(t.f AS INT) AS frame_no
  FROM m, unnest(range(0, n_frames, {stride})) AS t(f)
)
SELECT f.doc_id, f.media_no, f.media_ref, f.bytes_len, f.width, f.height,
       f.n_channels, f.f0, f.f1, fr.n_frames, fr.frame_no
FROM f JOIN fr ON f.doc_id = fr.doc_id AND f.media_ref = fr.media_ref
"""


def q_edges_rawtext_suite() -> str:
    """Both raw-text twins ('!'-cut and punctuation-rich) through the
    exact packed-edges oracle, tagged by variant — the raw chain must
    reconstruct the packed corpus's edges bit-for-bit on each."""
    e = q_edges()
    return f"""
SELECT 'bang' AS variant, * FROM ({e})
UNION ALL
SELECT 'messy' AS variant, * FROM ({e})
"""


def q_dedup_survivors_suite(threshold: float = 0.7) -> str:
    """Both survivor rules (pairwise keep-smallest and transitive
    connected-component representative) tagged by rule."""
    return f"""
SELECT 'pairwise' AS rule, * FROM ({q_dedup_survivors(threshold)})
UNION ALL
SELECT 'cc' AS rule, * FROM ({q_dedup_survivors_cc(threshold)})
"""


def q_kg_pr_vs_strong_cooc() -> str:
    return f"""
WITH {_scored_cte()},
voted AS (
  SELECT DISTINCT doc_id, gene_id, disease_id FROM scored
  WHERE hit_cnt >= {CUTOFF}
),
gold AS (
  SELECT DISTINCT doc_id, gene_id, disease_id FROM pairs
  WHERE n_cooc_sents >= 3
),
counts AS (
  SELECT (SELECT count(*) FROM voted JOIN gold USING (doc_id, gene_id, disease_id)) AS tp,
         (SELECT count(*) FROM voted) AS n_pred,
         (SELECT count(*) FROM gold) AS n_gold
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_gold AS BIGINT) AS n_gold,
       round(tp / CAST(n_pred AS DOUBLE), 5) AS precision,
       round(tp / CAST(n_gold AS DOUBLE), 5) AS recall,
       round(2.0 * (tp / CAST(n_pred AS DOUBLE)) * (tp / CAST(n_gold AS DOUBLE))
             / ((tp / CAST(n_pred AS DOUBLE)) + (tp / CAST(n_gold AS DOUBLE))), 5)
         AS f1
FROM counts
"""


def _hexbyte(hexpr: str, i: int) -> str:
    """SQL for byte i (0-based) of a 32-hex-char md5 string expr."""
    hi = f"(strpos('0123456789abcdef', substr({hexpr}, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({hexpr}, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def q_media_features() -> str:
    media = q_media().strip()
    b = lambda i: _hexbyte("md5(media_ref)", i)
    return f"""
WITH media AS ({media})
SELECT doc_id, media_no, media_ref,
       CAST(16 AS INT) AS bytes_len,
       CAST(64 + {b(0)} % 192 AS INT) AS width,
       CAST(64 + {b(1)} % 192 AS INT) AS height,
       CAST(1 + {b(2)} % 4 AS INT) AS n_channels,
       round({b(3)} / 255.0, 5) AS f0,
       round({b(4)} / 255.0, 5) AS f1
FROM media
"""


def q_media_frames(stride: int = 4) -> str:
    media = q_media().strip()
    b15 = _hexbyte("md5(media_ref)", 15)
    return f"""
WITH media AS ({media}),
m AS (SELECT doc_id, media_ref,
             CAST(1 + {b15} % 32 AS INT) AS n_frames
      FROM media)
SELECT doc_id, media_ref, n_frames, CAST(t.f AS INT) AS frame_no
FROM m, unnest(range(0, n_frames, {stride})) AS t(f)
"""


def q_kg_threshold_sweep() -> str:
    return f"""
WITH {_scored_cte()},
flags AS (
  SELECT prob_avg, (n_cooc_sents >= 3) AS gold FROM scored
),
grid AS (SELECT t.i / 20.0 AS threshold
         FROM unnest(generate_series(1, 18)) AS t(i)),
swept AS (
  SELECT threshold,
         CAST(sum(CASE WHEN prob_avg > threshold AND gold THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN prob_avg > threshold THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT) AS n_gold
  FROM flags CROSS JOIN grid GROUP BY threshold
)
SELECT threshold, tp, n_pred, n_gold,
       CASE WHEN tp > 0 THEN
         2 * (tp / CAST(n_pred AS DOUBLE)) * (tp / CAST(n_gold AS DOUBLE))
           / ((tp / CAST(n_pred AS DOUBLE)) + (tp / CAST(n_gold AS DOUBLE)))
       ELSE 0.0 END AS f1
FROM swept ORDER BY f1 DESC, threshold ASC LIMIT 1
"""


def q_dedup_survivors(threshold: float = 0.7) -> str:
    return f"""
WITH {_jaccard_cte(threshold)},
losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM jpairs WHERE jaccard >= {threshold}
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       CAST(length(d."text") AS INT) AS n_chars
FROM documents d
WHERE CAST(d.doc_id AS VARCHAR) NOT IN (SELECT doc_id FROM losers)
"""


def q_corpus_metrics(max_sents: int = 32) -> str:
    """A7 count-stats (reference raw_handler.py:98-114)."""
    return f"""
WITH {WORDS},
per AS (SELECT len(ws) AS n_tok,
               CAST(ceil(len(ws) / 10.0) AS INT) AS n_sent
        FROM words)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_sent) AS BIGINT) AS n_sents,
       CAST(sum(CASE WHEN n_sent > {max_sents} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_over_snt_cap,
       round(CAST(sum(n_tok) AS DOUBLE) / CAST(sum(n_sent) AS DOUBLE), 5)
         AS avg_tokens_per_sent
FROM per
"""


def q_silver_negatives(n_tools: int = 4) -> str:
    """J6 silver-vote merge (reference train.py:451-480)."""
    tool_branches = " UNION ALL ".join(
        f"""
SELECT doc_id, gene_id, disease_id, {i} AS tool,
       CASE WHEN dgt < 2 THEN 1 ELSE 0 END AS pred
FROM (SELECT *,
             strpos('0123456789abcdef',
                    substr(md5('t{i}:' || doc_id || ':' || gene_id || ':'
                               || disease_id), 1, 1)) - 1 AS dgt
      FROM doc_pairs)
WHERE dgt < 8"""
        for i in range(n_tools)
    )
    return f"""
WITH {TOKS},
dg AS (SELECT DISTINCT doc_id, g.gene_id
       FROM toks JOIN {gdict()} ON lower(token) = g.surface),
dd AS (SELECT DISTINCT doc_id, d.disease_id
       FROM toks JOIN {ddict()} ON lower(token) = d.surface),
doc_pairs AS (SELECT doc_id, gene_id, disease_id FROM dg JOIN dd USING (doc_id)),
votes AS ({tool_branches}),
agg AS (
  SELECT doc_id, gene_id, disease_id, max(pred) AS any_pos,
         CAST(count(*) AS INT) AS n_tools
  FROM votes GROUP BY 1, 2, 3
),
annotated AS (
  SELECT doc_id, gene_id, disease_id
  FROM (SELECT *,
               strpos('0123456789abcdef',
                      substr(md5(doc_id || ':' || gene_id || ':' || disease_id),
                             1, 1)) - 1 AS dgt
        FROM doc_pairs)
  WHERE dgt < 8
)
SELECT a.doc_id, a.gene_id, a.disease_id, a.n_tools, 0.0 AS label
FROM agg a
WHERE a.any_pos = 0
  AND NOT EXISTS (SELECT 1 FROM annotated x
                  WHERE x.doc_id = a.doc_id AND x.gene_id = a.gene_id
                    AND x.disease_id = a.disease_id)
"""


def _lsh_planes_sql(n_planes: int, n_tables: int, dim: int = 64,
                    seed: int = 42) -> list[list[str]]:
    """Per-table bucket-bit dot-product literals, sharing the EXACT
    plane values the Spark side uses (similarity._hyperplanes)."""
    from .operators.similarity import _hyperplanes

    tables = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        bits = []
        for p in planes:
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
                f"{lit}::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
            )
        tables.append(bits)
    return tables


def _lsh_buckets_cte(n_planes: int, n_tables: int) -> str:
    branches = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {' || '.join(bits)} AS bucket "
        f"FROM embeddings"
        for t, bits in enumerate(_lsh_planes_sql(n_planes, n_tables))
    )
    return f"buckets AS ({branches})"


def q_dedup_embedding_lsh(threshold: float = 0.9, n_planes: int = 4,
                          n_tables: int = 8,
                          max_bucket: int = MAX_LSH_BUCKET) -> str:
    """LSH-blocked embedding near-dup — EXACT oracle: the random
    hyperplanes are deterministic literals, so DuckDB reproduces
    candidate generation bit-for-bit (sign of the same IEEE dot
    product) and the exact-cosine verify. Bucket membership capped at
    max_bucket like the engine (cap_hot_buckets)."""
    return f"""
WITH {_lsh_buckets_cte(n_planes, n_tables)},
cbuckets AS (
  SELECT vec_id, tbl, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, bucket
                                 ORDER BY vec_id) AS r
    FROM buckets) WHERE r <= {max_bucket}
),
cand AS (
  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
  FROM cbuckets x JOIN cbuckets y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.va AS vec_a, c.vb AS vec_b, {_COS} AS cos
FROM cand c
JOIN embeddings a ON a.vec_id = c.va
JOIN embeddings b ON b.vec_id = c.vb
WHERE {_COS} >= {threshold}
"""


def q_ann_topk_lsh(k: int = 5, n_queries: int = 20, n_planes: int = 8,
                   n_tables: int = 4,
                   max_bucket: int = MAX_LSH_BUCKET) -> str:
    """Approximate top-k with LSH candidates — exact oracle (same
    literal hyperplanes): candidates within shared buckets (corpus
    side capped at max_bucket per bucket like the engine; query side
    uncapped), exact cosine re-rank, rank over the ROUNDED cosine like
    the Spark side."""
    return f"""
WITH {_lsh_buckets_cte(n_planes, n_tables)},
cbuckets AS (
  SELECT vec_id, tbl, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, bucket
                                 ORDER BY vec_id) AS r
    FROM buckets) WHERE r <= {max_bucket}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
  FROM buckets q JOIN cbuckets v
    ON q.tbl = v.tbl AND q.bucket = v.bucket AND q.vec_id != v.vec_id
  WHERE q.vec_id < {n_queries}
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {_COS} AS cos
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= {k}
"""


# Frozen IVF centroids for the sf0.01 embeddings table (the driver's
# correctness scale): ivf_centroids() is deterministic (bounded
# content-hash sample — top-512 by md5('ivf:'||vec_id), an unbiased
# uniform draw over the corpus (r5 verdict #3), ties by vec_id —
# hash-order init, 5 Lloyd iterations), so the trained matrix is a
# CONSTANT of the corpus and can be inlined — the same way the LSH
# hyperplanes are shared literals. Guarded against drift by
# tests/test_similarity.py::test_frozen_ivf_centroids_match_sf001.
_IVF_CENTROIDS_SF001 = [
    [0.22656127091999714, 0.023647940401110505, 0.1284669693647345, -0.008748738662072661, 0.0296960043209189, 0.0070711037719301895, -0.2291934071241762, -0.03710482962424419, -0.018251980839796216, -0.16757530275088195, -0.03441945072847571, 0.02241779120396298, -0.06679313529611328, -0.00531975282083313, 0.0027746307535043476, -0.09829541151083493, -0.17098590617842008, -0.16322114087337525, 0.0301659349651592, -0.04390118419796498, -0.2444926005712003, 0.13928964993693566, -0.0329308573303804, 0.28756475807182447, 0.14780967155209135, 0.09189698260877419, 0.291250712554441, 0.043438005268199846, 0.02861721411851151, 0.18748713233720296, -0.10465489582167094, 0.0766162556619175, -0.11064433953708724, 0.0036828527139623536, 0.06818733622314918, -0.09911393393645584, -0.08964088398153255, 0.16418281147216, -0.027315830334685712, 0.05867853921302936, -0.15084611285808852, -0.03254632784620876, 0.14014391958065298, 0.08041091149886193, -0.2160484035550993, 0.036792659703564254, 0.008810465987200922, -0.20322951371850043, -0.08243635594674067, 0.22991170361740668, 0.15798516029201667, 0.07290897404328185, 0.07714534179980197, 0.06706523678904229, 0.018319001571411645, 0.079392423588349, 0.06699347710182336, -0.01235840298876084, -0.24748270229626237, -0.001038520096467458, 0.10725372474070355, -0.19816625071217348, 0.10805072466785967, 0.019093863577826612],
    [-0.12439333390810058, -0.15648058455275296, -0.04015086503933547, -0.04959965668327345, 0.009224481466273, 0.10298297426440191, -0.18651699865639187, 0.015636127734519067, 0.12697622322866012, 0.1921542568520953, -0.1628352285706671, 0.10653609813766855, 0.11281460629966568, -0.1043155179410626, 0.10773253250668594, 0.02622578931645371, 0.046444348226589376, -0.1454180549878826, 0.15977488326250824, 0.030816687661290747, 0.11929881172998057, 0.06636195858381701, 0.03828684198658445, 0.050712692156042426, -0.01498972073071161, 0.30244062294155916, -0.019527143892636413, -0.1519094570239694, -0.0584521684756493, -0.24309808764455368, -0.0767076157296982, 0.12116522522568628, 0.13969013307939315, 0.0028765150184525963, 0.17659009279680987, -0.09280517288858363, -0.05017009344174217, -0.024132125305108977, -0.09664964789509783, -0.22155312621068057, 0.029616355554927833, -0.11284652269766209, -0.1385250603668138, -0.12590696273263197, -0.04845729248763755, 0.10372496393091708, -0.15141465321718378, -0.02993684282527751, -0.05075448787226305, -0.09921275991410321, 0.03195757766270139, -0.024862469770407968, 0.0024697364880760402, -0.05043360921699442, -0.16739797707551365, -0.15691218006315916, 0.11264517340767143, 0.13389721404691698, 0.305997623630817, 0.07055383310874971, 0.0006814074014339473, 0.1879248044346698, -0.17465828224091365, -0.20497012215817786],
    [-0.2478029324251088, 0.033323085771826216, -0.27488522281747046, 0.2103157060634491, 0.1253136251026892, 0.13137032486149786, 0.13901465283261136, -0.054797433646373316, 0.10292997059713511, 0.005002787787830189, 0.021735533035150512, -0.020588543540568837, -0.18163731725019425, 0.04887521386417215, -0.11928866345804841, -0.0988698452444216, 0.03469019200922701, -0.0007129025319268194, -0.1366506388958168, 0.0613496795325485, -0.01321499686534729, -0.16475794897420995, 0.086751596577144, -0.052612857137280235, 0.009345102311199146, -0.06364444424888506, -0.08621923080373327, 0.24026836655972184, -0.11726568003776665, 0.08235553735228864, 0.2163812104384101, -0.35549967598809684, 0.09518715124506084, 0.008202286300847458, 0.03131838701475454, -0.13340242575562714, 0.10166596458345835, 0.03490397678809925, -0.062310596436618244, 0.11587202480194514, -0.21021739024735936, 0.2086736986072133, -0.08023100810453837, -0.0983053271933086, -0.00930697061193384, -0.03492685035782192, -0.13373414649233975, 0.09273627567209569, 0.013893981060926977, -0.006350081348690794, 0.08360995767329624, -0.21653597207620165, -0.27118477238178723, -0.10046032189406304, -0.053573959447343764, 0.10498221221254161, 0.09985072747953028, -0.012943295330280706, -0.09209708707609189, -0.025753868862824603, 0.08264359823007586, 0.02098229338535547, 0.017280731774709047, -0.01795824308204691],
    [-0.20559819435499252, -0.08277968367110305, 0.15732897021347025, -0.0126666290194856, 0.11986690685636163, -0.005648299558565972, -0.07448065621938418, -0.10130686533616506, -0.00751893540832142, 0.11240862310665983, -0.04469620549903735, -0.09688396521834157, -0.008643510359067741, 0.17565412225835214, 0.0811434389924368, 0.007241459509912687, 0.05880272408930238, 0.054660394491065814, -0.05832022879817732, -0.02247006704418367, -0.16937806929415009, -0.13673047864558596, -0.011106568098846576, -0.17645065183770028, -0.18317038216040749, -0.0716094375311559, -0.013597744888809023, -0.08039312664006526, 0.11228685498844301, -0.07762287450066559, 0.15536021718743362, -0.012387614167585005, 0.07332335172291778, -0.14226628098283708, -0.03903661738699948, 0.12618247555319254, 0.04247222540773231, 0.016924943729153107, -0.24385947558284793, 0.1424736191961263, 0.1721855370542995, -0.0708607730426773, 0.0857815598501106, 0.38753132474345975, -0.03436097092484403, 0.0532683830854804, 0.07963812993479925, 0.05802784438559897, -0.2734085092348435, 0.00268179033314021, -0.13472353156602382, 0.2843180879641475, 0.2511702757148642, -0.03021885208921826, 0.12198057446278543, 0.05118647069695874, -0.04600771335194902, 0.040610057743770994, -0.00015090244313021035, -0.09026650662892537, -0.14331925298938974, -0.09609193742501639, -0.09491245659333661, 0.14166869368009155],
    [0.12158148926104531, -0.2585229988043407, 0.01564565530284589, 0.06376400597404856, -0.026757426974177673, 0.026610545655814857, -0.1502926476823564, 0.3281052905389404, -0.12884347453726558, 0.25119766221096895, 0.08539905638107763, 0.07651072625037579, -0.20276242483824372, -0.20592373440337347, 0.03760302541248035, -0.13424845055942836, -0.008198523992050274, -0.025724928477879803, -0.009343885825413348, 0.19435948273040904, 0.05731702361712857, -0.09333306555525468, 0.11589719934631762, 0.03542449418281279, -0.019601209196723812, 0.17444757950013387, -0.1394694404623466, 0.15890443671133567, -0.1422182986399958, 0.3265414807309195, -0.01658888446724897, 0.2652167642212078, 0.040438803994984444, -0.04413293143699284, -0.0002872969781781814, 0.1889184304836228, -0.17095768922989965, -0.04856488566843371, 0.00473701573268755, 0.1296228872373272, -0.041554691310690714, 0.007958325618636644, 0.015194015318775275, 0.06995940453755967, -0.0636728591398173, -0.11155028150880582, 0.1407130403781023, -0.036784386659266054, 0.10051875380447516, -0.19281343525203792, 0.10706671490284833, 0.0016300466331791558, -0.03407490786184023, 0.03504531695096997, -0.08269205700151289, 0.048832866388650746, 0.04015651239143533, -0.06431481659920273, -0.07512760442783276, -0.004794504858790395, -0.01855852543257794, 0.1269083791593634, 0.004700342181969004, -0.13358848432931691],
    [-0.005389582523981167, 0.061022901350000276, -0.07837872535002555, -0.09649918858345029, -0.04298166770983941, 0.06997611616792586, 0.14255478728783078, -0.12292969925160106, -0.15459439357682678, -0.20957957030090033, 0.10967533412412453, -0.3014179668169981, -0.11619595077693046, -0.012400759457109115, -0.2154195843413066, -0.10644738324770589, 0.17353181602287993, 0.3215898789342615, 0.06374836998095923, 0.034078893530688985, 0.1770730739555045, 0.20234048400009408, 0.003867220527748513, -0.13101975034971305, 0.04888624946949274, -0.22805596617558935, 0.12721747373143885, -0.004721048850003639, 0.08269334330154506, 0.06299079694661315, -0.0743031647297755, -0.025906333022438388, -0.001270951339143681, -0.054911532132070624, 0.038952394916786946, 0.15363553978930353, 0.152675215654776, -0.0492244917316234, -0.0013903273645466923, 0.005827695229569988, -0.059355376880464786, 0.0371073221450813, -0.04407270880480558, -0.27790581624854, 0.08191550157638432, -0.04269513345890402, 0.10940297808403525, -0.03093544846837544, 0.03141901013602902, -0.18281801916731166, -0.0846946077028127, -0.06622877391049753, 0.15352189890931708, -0.0939868565473461, 0.061957876720680045, -0.14148186936353815, -0.22176802234675402, -0.05510506653195771, 0.006704361501527576, 0.11245205197547738, -0.11115981387301753, 0.11791365560182591, -0.03093792163914247, -0.16396607575844463],
    [0.2533146487087521, 0.052029090572943616, 0.060467509063511414, 0.039846683069392465, 0.025253959809431143, -0.03788155306248244, -0.14848379223697125, 0.15947501609412829, -0.0984284570300333, -0.20524893643210682, -0.004877676633504566, 0.1992490721284429, -0.008814727500707211, 0.1492330692346574, -0.15264443770021707, 0.41503643023763365, -0.029215836904503165, -0.006714858459707647, -0.021811566860078922, -0.23450996460395437, -0.12034958393816166, 0.12819708822537962, 0.12090103693041233, -0.1280787856162186, -0.06474784768161074, -0.03604442538841682, -0.2185919802107352, -0.04914963087476277, 0.048217126786368546, -0.19131954904704218, 0.27228626961620644, -0.07297335561398369, -0.11438836795688852, -0.09509814246997805, -0.10206026462770183, -0.10076860174645011, -0.035606769742302924, 0.03514413166512627, 0.15887484139567398, -0.09711831079638943, 0.034474028512682005, -0.015689958771095535, -0.015543750409922652, -0.01503869378997229, 0.0038999873150098456, 0.12092250805675013, 0.04122796708521647, 0.3187030127996933, 0.04213176152624404, -0.11177806555149063, 0.02742052200150601, 0.03412402181774078, 0.04264420198209425, 0.0952067691254058, 0.10787959145597656, -0.06535955718046035, -0.03207509317223525, 0.01314703044557335, 0.046291529782054835, -0.04486960027666801, -0.03339399882057908, -0.04872519696648822, 0.08235461211452773, 0.13490414401655085],
    [-0.024223280037312923, 0.1813993695124572, 0.1277133322279318, -0.2411838610282614, 0.08125275671425518, -0.04993659538588032, 0.013927190524909467, 0.03817443556696015, 0.09103413935873728, 0.010756797743852771, 0.2300353697276984, 0.037281067587647154, 0.30928819357761084, 0.04123742568396958, 0.2240242153526403, 0.07731860784614143, 0.007032607526520307, 0.16711084793634495, -0.08315684043537114, 0.04781785308970976, 0.04152462373777842, -0.12577167026985947, -0.19046757149503896, -0.1396598231228682, 0.005105022402999873, 0.1315203326798586, 0.03574740995074253, 0.19789656882942527, 0.018125734401162965, -0.051592666796337686, -0.16267015665812146, -0.2034177996197964, 0.12993053356768858, 0.09828054342284796, -0.0322975272252198, 0.03125509960825331, -0.0697984986446002, -0.15447895136369558, 0.167222634491602, -0.0660973784727994, 0.14552996703721308, -0.30973138998265093, 0.07220692261347704, 0.030634856357427305, -0.056648332322589076, -0.03973617180398702, -0.08076155045553242, -0.013584760925224756, 0.059545318774164184, 0.07236947228486698, 0.0673050528900511, -0.10035093440414013, 0.018044259630532997, -0.057848474520607096, 0.14970998635906166, 0.0259339080006849, 0.09822841876296834, -0.12809579255110345, -0.15316522421832487, -0.27279871816668655, 0.08756636109454109, 0.0017989870282135673, 0.0544922936817794, -0.12977753383725343],
]


def q_ann_topk_ivf(k: int = 5, n_queries: int = 20, nprobe: int = 3) -> str:
    """IVF approximate top-k — EXACT oracle at sf0.01 (frozen trained
    centroids above): every vector is assigned to its argmax-dot
    centroid (inverted file; ties -> lowest cid, matching the engine's
    stable argsort), queries probe their nprobe best centroids, and
    candidates are exact-cosine re-ranked over the ROUNDED cosine like
    the Spark side. The engine skips query normalization for the same
    scale-invariant argmax (similarity._ivf_probe_udf)."""
    cents = " UNION ALL ".join(
        "SELECT " + str(i) + " AS cid, " + repr(row) + "::DOUBLE[] AS c"
        for i, row in enumerate(_IVF_CENTROIDS_SF001)
    )
    cos = _COS
    return f"""
WITH cents AS ({cents}),
dots AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.embedding::DOUBLE[], c.c) AS dot
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id AS neighbor_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cid ASC) AS r
    FROM dots) WHERE r = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cid ASC) AS r
    FROM dots WHERE vec_id < {n_queries}) WHERE r <= {nprobe}
),
cand AS (
  SELECT DISTINCT q.query_id, a.neighbor_id
  FROM qprobe q JOIN assign a ON q.cid = a.cid
  WHERE q.query_id != a.neighbor_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {cos} AS cos
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= {k}
"""


# ---- curation oracles (operators/curation.py) ------------------------------


def q_pack_sequences(budget: int = 256) -> str:
    """Concat-then-chunk packing per source in numeric doc_id order —
    mirrors curation.pack_sequences exactly."""
    return f"""
WITH t AS (
  SELECT source, CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS ord,
         CAST(len(string_split("text", ' ')) AS INT) AS n_tokens
  FROM documents
),
s AS (
  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY ord
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_offset
  FROM t
)
SELECT source, doc_id, n_tokens, start_offset,
       CAST(start_offset // {budget} AS INT) AS bin_id,
       CAST(start_offset % {budget} AS INT) AS bin_offset
FROM s
"""


def q_decontaminate(mod: int = 97, rem: int = 3) -> str:
    """Contamination of train docs (doc_id % mod != rem) against the
    deterministic eval slice (doc_id % mod == rem) — mirrors
    curation.decontaminate over dedup.doc_shingles shingling."""
    return f"""
WITH {SHINGLES},
ev AS (
  SELECT DISTINCT shingle FROM shingles
  WHERE CAST(doc_id AS BIGINT) % {mod} = {rem}
),
train AS (
  SELECT * FROM shingles WHERE CAST(doc_id AS BIGINT) % {mod} != {rem}
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_sh FROM train GROUP BY 1
),
hits AS (
  SELECT t.doc_id, CAST(count(*) AS INT) AS n_contaminated
  FROM train t JOIN ev USING (shingle) GROUP BY 1
)
SELECT z.doc_id,
       CAST(coalesce(h.n_contaminated, 0) AS INT) AS n_contaminated,
       z.n_sh,
       round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE)
             / CAST(z.n_sh AS DOUBLE), 5) AS contamination
FROM sizes z LEFT JOIN hits h ON z.doc_id = h.doc_id
"""


def q_sample_hash(pct: float = 10.0, salt: str = "s0") -> str:
    """Deterministic md5-prefix sampling — mirrors curation.sample_hash
    (first 4 hex digits of md5(salt || ':' || doc_id) as an int)."""
    h = f"md5('{salt}:' || CAST(doc_id AS VARCHAR))"
    digit = lambda k: f"(strpos('0123456789abcdef', substr({h}, {k}, 1)) - 1)"
    val = f"((({digit(1)} * 16 + {digit(2)}) * 16 + {digit(3)}) * 16 + {digit(4)})"
    threshold = int(pct / 100.0 * 65536)
    return f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, source
FROM documents
WHERE {val} < {threshold}
"""


def q_pubtator_roundtrip() -> str:
    """Expected output of the PubTator render->parse roundtrip
    (__spark_entry__.q_pubtator_roundtrip): spans from the render rule,
    '$$$' sentinel for short abstracts (parse_data.py:52), Gene+Disease
    anns kept, Chemical dropped. coalesce: DuckDB array_to_string over
    an empty slice is NULL where Spark array_join gives ''."""
    return """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did,
         string_split("text", ' ') AS ws
  FROM documents
),
r AS (
  SELECT doc_id, did,
         array_to_string(list_slice(ws, 1, 10), ' ') AS title,
         CASE WHEN did % 7 = 0 THEN 'xy'
              ELSE coalesce(array_to_string(list_slice(ws, 11, 20), ' '), '')
         END AS abstract0
  FROM w
)
SELECT doc_id,
       2 AS n_spans,
       title AS title_text,
       CASE WHEN length(abstract0) < 3 THEN '$$$' ELSE abstract0 END
         AS abstract_text,
       CAST(length(title) + 1 AS INT) AS abstract_offset,
       CAST(CASE WHEN did % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_anns,
       CASE WHEN did % 3 = 0 THEN 'D' || doc_id || ',G' || doc_id
            ELSE 'G' || doc_id END AS ann_ids
FROM r
"""


# Corpus-scale fingerprints (r5 verdict next #4): frozen oracles are
# per-corpus constants, so their SQL must pick the right corpus's
# literals AT ORACLE RUN TIME instead of hardcoding 'sf0.01'. Both
# 500-doc corpora share a row count, so the probe is sum(n_chars) —
# a one-int-column aggregate DuckDB evaluates off the registered
# documents view. Drift guard:
# tests/test_neural.py::test_scale_fingerprints_match_testdata.
SCALE_FINGERPRINTS: dict[str, int] = {
    "sf0.001": 153156,
    "sf0.01": 149174,
}

_SCALE_PROBE = "(SELECT sum(n_chars) FROM documents)"


def _scale_case(literals: dict[str, str], typ: str) -> str:
    """CASE expression selecting a per-scale literal by the corpus
    fingerprint; an unknown corpus yields NULL -> a LOUD mismatch."""
    whens = " ".join(
        f"WHEN {_SCALE_PROBE} = {SCALE_FINGERPRINTS[sf]} THEN {lit}"
        for sf, lit in literals.items()
    )
    return f"CAST(CASE {whens} END AS {typ})"


# Frozen outputs of the pair-tensor encode digest (round-3 verdict
# next #8): the encode stage (vocab lookup, entity remap, feature
# codes, truncation/padding) is DETERMINISTIC int arrays, so its
# corpus-wide digest is a constant of the corpus — frozen here from an
# INDEPENDENT DuckDB+NumPy recompute (no Spark;
# tests/test_neural.py::test_pair_tensor_digest_frozen_literals is the
# drift guard that re-derives both rows).
PAIR_TENSOR_DIGESTS: dict[str, tuple[int, str]] = {
    "sf0.001": (5371, "10b21a3944210edde9f9e4fc239c7a8b"),
    "sf0.01": (5314, "c7d533426c377204630878ae0afd3b8c"),
}


def q_pair_tensors_digest() -> str:
    """One-row (n_pairs, digest) oracle for the neural encode stage —
    scale-adaptive (r5 verdict next #4): the corpus fingerprint probe
    selects the right frozen literals, so the oracle is exact at
    EVERY scale it has a frozen row for, not just sf0.01."""
    n_case = _scale_case(
        {sf: str(n) for sf, (n, _) in PAIR_TENSOR_DIGESTS.items()}, "BIGINT"
    )
    d_case = _scale_case(
        {sf: f"'{d}'" for sf, (_, d) in PAIR_TENSOR_DIGESTS.items()},
        "VARCHAR",
    )
    return f"SELECT {n_case} AS n_pairs, {d_case} AS digest"


def q_edges_neural_golden() -> str:
    """ROW-LEVEL oracle for kg_edges_neural (r5 verdict next #1 — the
    last rows-only driver row closed): the full voted edge rows,
    probability digits included, frozen as golden parquet from an
    INDEPENDENT DuckDB+NumPy recompute
    (scripts/freeze_neural_golden.py; drift guards in
    tests/test_neural.py re-derive the goldens and re-run the Spark
    pipeline against them bitwise). Possible since the r6
    deterministic forward kernel (operators/neural.py: exactly-rounded
    fixed-order ops only), which makes probabilities bitwise
    independent of batch composition — the r5 variance that forced the
    digest-only oracle is gone by construction. Scale-adaptive via the
    corpus fingerprint probe; an unknown corpus selects no rows (loud
    row-count mismatch)."""
    cols = ("doc_id, gene_id, predicate, disease_id, g_name, d_name, "
            "prob_avg, hit_cnt")
    parts = [
        f"SELECT {cols} FROM read_parquet("
        f"'/root/repo/tests/golden/neural_edges_{sf}.parquet') "
        f"WHERE {_SCALE_PROBE} = {fp}"
        for sf, fp in SCALE_FINGERPRINTS.items()
    ]
    return " UNION ALL ".join(parts)


def q_repeated_spans(n: int = 5, min_df: int = 2,
                     max_df: int = 1024) -> str:
    """Cross-document repeated-substring spans (dedup.repeated_spans,
    promoted to the driver contract in r6 — r5 verdict next #2):
    positioned n-grams -> distinct-doc frequency (df-capped) ->
    per-doc run-length merge of consecutive repeated positions."""
    return f"""
WITH g AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(t.i AS INT) AS pos,
         array_to_string(list_slice(ws, t.i + 1, t.i + {n}), ' ') AS gram
  FROM (SELECT doc_id, string_split("text", ' ') AS ws FROM documents
        WHERE len(string_split("text", ' ')) >= {n}) w,
       unnest(range(len(ws) - {n} + 1)) AS t(i)
),
freq AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
rep AS (SELECT g.doc_id, g.pos, f.df FROM g JOIN freq f USING (gram)
        WHERE f.df >= {min_df} AND f.df <= {max_df}),
runs AS (SELECT doc_id, pos, df,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS grp
         FROM rep)
SELECT doc_id, CAST(min(pos) AS INT) AS start_word,
       CAST(max(pos) + {n} AS INT) AS end_word,
       CAST(count(*) AS INT) AS n_grams,
       CAST(max(df) AS INT) AS max_df
FROM runs GROUP BY doc_id, grp
"""


def q_label_distribution() -> str:
    """A8 class-balance counts over the deterministic label fixture
    (operators/labels.synthetic_labels over doc-level candidate pairs;
    reference raw_handler.py:326-377)."""
    return f"""
WITH {TOKS},
dg AS (SELECT DISTINCT doc_id, g.gene_id
       FROM toks JOIN {gdict()} ON lower(token) = g.surface),
dd AS (SELECT DISTINCT doc_id, d.disease_id
       FROM toks JOIN {ddict()} ON lower(token) = d.surface),
doc_pairs AS (SELECT doc_id, gene_id, disease_id FROM dg JOIN dd USING (doc_id)),
labels AS (
  SELECT CASE WHEN dgt < 4 THEN 1.0 WHEN dgt < 6 THEN 0.5 ELSE 0.0 END AS label
  FROM (SELECT *,
               strpos('0123456789abcdef',
                      substr(md5(doc_id || ':' || gene_id || ':' || disease_id),
                             1, 1)) - 1 AS dgt
        FROM doc_pairs)
  WHERE dgt < 8
)
SELECT label, CAST(count(*) AS BIGINT) AS n FROM labels GROUP BY label
"""


def q_dedup_components(threshold: float = 0.7) -> str:
    """Connected components of the ngram-jaccard near-dup graph via a
    recursive transitive closure; component = min reachable doc_id —
    mirrors dedup.dedup_components' min-label propagation fixpoint."""
    return f"""
WITH RECURSIVE {_jaccard_cte(threshold)},
dpairs AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= {threshold}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM dpairs
          UNION SELECT doc_b AS u, doc_a AS v FROM dpairs),
reach(u, v) AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u
"""


def q_dedup_survivors_cc(threshold: float = 0.7) -> str:
    """Component-representative dedup survivors (transitive): drop
    every doc that is not its component's min id."""
    return f"""
WITH RECURSIVE {_jaccard_cte(threshold)},
dpairs AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= {threshold}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM dpairs
          UNION SELECT doc_b AS u, doc_a AS v FROM dpairs),
reach(u, v) AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
),
comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
losers AS (SELECT doc_id FROM comp WHERE doc_id != component)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       CAST(length(d."text") AS INT) AS n_chars
FROM documents d LEFT JOIN losers l ON CAST(d.doc_id AS VARCHAR) = l.doc_id
WHERE l.doc_id IS NULL
"""


def q_sample_balanced(ratio: float = 2.0, salt: str = "bal") -> str:
    """Deterministic stratified class balancing — mirrors
    caps.sample_balanced_hash (md5-prefix rule per label<1.0 class,
    fraction = min(1, ratio * n_pos / n_class)). n_label_orig carries
    the PRE-sampling per-class count (r4 verdict #1: the former
    kg_label_distribution query folded into this one — the driver
    hash now pins both the distribution and the sampled rows)."""
    h = f"md5('{salt}:' || doc_id || ':' || gene_id || ':' || disease_id)"
    digit = lambda k: f"(strpos('0123456789abcdef', substr({h}, {k}, 1)) - 1)"
    val = f"((({digit(1)} * 16 + {digit(2)}) * 16 + {digit(3)}) * 16 + {digit(4)})"
    return f"""
WITH {TOKS},
dg AS (SELECT DISTINCT doc_id, g.gene_id
       FROM toks JOIN {gdict()} ON lower(token) = g.surface),
dd AS (SELECT DISTINCT doc_id, d.disease_id
       FROM toks JOIN {ddict()} ON lower(token) = d.surface),
doc_pairs AS (SELECT doc_id, gene_id, disease_id FROM dg JOIN dd USING (doc_id)),
labels AS (
  SELECT doc_id, gene_id, disease_id,
         CASE WHEN dgt < 4 THEN 1.0 WHEN dgt < 6 THEN 0.5 ELSE 0.0 END AS label
  FROM (SELECT *,
               strpos('0123456789abcdef',
                      substr(md5(doc_id || ':' || gene_id || ':' || disease_id),
                             1, 1)) - 1 AS dgt
        FROM doc_pairs)
  WHERE dgt < 8
),
dist AS (SELECT label, count(*) AS n FROM labels GROUP BY label),
np AS (SELECT coalesce(sum(n), 0) AS n_pos FROM dist WHERE label >= 1.0),
fr AS (SELECT label, n,
              CASE WHEN label >= 1.0 THEN 1.0
                   ELSE least(1.0, {ratio} * n_pos / n) END AS frac
       FROM dist, np)
SELECT l.doc_id, l.gene_id, l.disease_id, l.label,
       CAST(fr.n AS BIGINT) AS n_label_orig
FROM labels l JOIN fr USING (label)
WHERE {val} < frac * 65536
"""


def q_curation_pipeline(
    min_quality: float = 0.3,
    max_cont: float = 0.2,
    pct: float = 50.0,
    budget: int = 256,
    threshold: float = 0.7,
    mod: int = 97,
    rem: int = 3,
    salt: str = "s0",
) -> str:
    """The composed curation chain (curation.curation_pipeline):
    quality gate -> transitive CC dedup -> decontamination ->
    deterministic sample -> pack, one exact SQL mirror."""
    h = f"md5('{salt}:' || doc_id)"
    digit = lambda k: f"(strpos('0123456789abcdef', substr({h}, {k}, 1)) - 1)"
    val = f"((({digit(1)} * 16 + {digit(2)}) * 16 + {digit(3)}) * 16 + {digit(4)})"
    samp_threshold = int(pct / 100.0 * 65536)
    return f"""
WITH RECURSIVE
d0 AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, "text", lang, source,
              string_split("text", ' ') AS ws
       FROM documents WHERE CAST(doc_id AS BIGINT) % {mod} != {rem}),
dq AS (SELECT doc_id, "text", lang, source FROM d0
       WHERE round(least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
             * (1.0 - CAST(len(list_filter(ws, x -> x IN ('the', 'a')))
                           AS DOUBLE) / CAST(len(ws) AS DOUBLE)), 5)
             >= {min_quality}),
{_jaccard_cte(threshold, src="dq")},
dpairs AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= {threshold}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM dpairs
          UNION SELECT doc_b AS u, doc_a AS v FROM dpairs),
reach(u, v) AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
),
comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u),
dup_losers AS (SELECT doc_id FROM comp WHERE doc_id != component),
d2 AS (SELECT * FROM dq
       WHERE doc_id NOT IN (SELECT doc_id FROM dup_losers)),
tr_sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(ws, t.i + 1, t.i + 5), ' ') AS shingle
  FROM (SELECT doc_id, string_split("text", ' ') AS ws FROM d2) w,
       unnest(range(greatest(len(ws) - 5, 0) + 1)) AS t(i)
),
ev_sh AS (
  SELECT DISTINCT array_to_string(list_slice(ws, t.i + 1, t.i + 5), ' ')
         AS shingle
  FROM (SELECT string_split("text", ' ') AS ws FROM documents
        WHERE CAST(doc_id AS BIGINT) % {mod} = {rem}) w,
       unnest(range(greatest(len(ws) - 5, 0) + 1)) AS t(i)
),
tr_sizes AS (SELECT doc_id, count(*) AS n_sh FROM tr_sh GROUP BY 1),
tr_hits AS (SELECT t.doc_id, count(*) AS n_c
            FROM tr_sh t JOIN ev_sh USING (shingle) GROUP BY 1),
dirty AS (
  SELECT s.doc_id FROM tr_sizes s LEFT JOIN tr_hits h ON s.doc_id = h.doc_id
  WHERE round(CAST(coalesce(h.n_c, 0) AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 5)
        >= {max_cont}
),
d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
d4 AS (SELECT * FROM d3 WHERE {val} < {samp_threshold}),
t4 AS (SELECT source, doc_id, CAST(doc_id AS BIGINT) AS ord,
              CAST(len(string_split("text", ' ')) AS INT) AS n_tokens
       FROM d4),
s4 AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY ord
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_offset
       FROM t4)
SELECT source, doc_id, n_tokens, start_offset,
       CAST(start_offset // {budget} AS INT) AS bin_id,
       CAST(start_offset % {budget} AS INT) AS bin_offset
FROM s4
"""


def q_text_profile(n: int = 3, bits: int = 64) -> str:
    """Composite per-document text-analysis profile — the union of the
    text_stats / lang_id / token_counts / fingerprint /
    text_repetition / simhash oracles joined on doc_id (r4 verdict #1
    consolidation; mirrors functions.textstats.text_profile)."""
    stop = "len(list_filter(ws, x -> x IN ('the', 'a')))"
    return f"""
WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, "text" AS txt,
                  string_split("text", ' ') AS ws FROM documents),
base AS (
  SELECT doc_id,
         CAST(len(ws) AS INT) AS n_tokens,
         CAST(length(txt) AS INT) AS n_chars,
         round(CAST(length(txt) - (len(ws) - 1) AS DOUBLE)
               / CAST(len(ws) AS DOUBLE), 5) AS avg_token_len,
         round(CAST({stop} AS DOUBLE)
               / CAST(len(ws) AS DOUBLE), 5) AS stopword_ratio,
         round(least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
               * (1.0 - CAST({stop} AS DOUBLE) / CAST(len(ws) AS DOUBLE)), 5)
           AS quality_score,
         lang,
         CASE WHEN {stop} > 0 THEN 'en' ELSE 'und' END AS lang_pred,
         round(CAST({stop} AS DOUBLE)
               / CAST(len(ws) AS DOUBLE), 5) AS lang_conf,
         CAST(len(ws) AS INT) AS ws_tokens,
         CAST(list_sum(list_transform(ws,
              x -> CAST(ceil(length(x) / 4.0) AS INT))) AS INT)
           AS subword_tokens,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(ws, x -> CAST(ascii(substr(x, 1, 1)) * 100
                                          + length(x) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS fp,
         md5(txt) AS text_md5,
         CAST(greatest(len(ws) - {n - 1}, 0) AS INT) AS n_grams,
         CAST(CASE WHEN len(ws) < {n} THEN 0
              ELSE len(list_distinct(list_transform(
                     range(greatest(len(ws) - {n - 1}, 0)),
                     i -> array_to_string(list_slice(ws, i + 1, i + {n}), ' '))))
         END AS INT) AS n_distinct
  FROM w
),
dtok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(ws)) AS token FROM w
),
sig AS (SELECT doc_id, {_simhash_expr(bits)} AS simhash
        FROM dtok GROUP BY doc_id)
SELECT base.*,
       CASE WHEN n_grams = 0 THEN 0.0
            ELSE round(CAST(n_grams - n_distinct AS DOUBLE)
                       / CAST(n_grams AS DOUBLE), 5) END AS dup_ratio,
       sig.simhash
FROM base JOIN sig USING (doc_id)
"""


def q_corpus_tfidf(k: int = 3) -> str:
    """Rare/unique-term injection + per-doc TF-IDF top-k + mean
    unigram surprisal — mirrors __spark_entry__.q_corpus_tfidf over
    functions.textstats.tfidf_topk / unigram_surprisal. tfidf is
    rounded to 6 decimals BEFORE the rank so ordering is robust to
    last-ulp ln() differences between DuckDB and the JVM; the
    surprisal per-word terms are rounded then summed as DECIMAL —
    exact arithmetic, order/engine independent."""
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         "text"
         || CASE WHEN doc_id % 3 = 0
                 THEN ' term' || CAST(doc_id % 13 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' uniq' || CAST(doc_id AS VARCHAR)
                 ELSE '' END AS t
  FROM documents
),
w AS (SELECT doc_id, unnest(str_split(t, ' ')) AS word FROM base),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dl AS (SELECT doc_id, SUM(tf) AS n_tokens FROM tf GROUP BY doc_id),
dfx AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM base),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, dl.n_tokens, dfx.df,
         ROUND((CAST(tf.tf AS DOUBLE) / dl.n_tokens)
               * LN(CAST(nd.n_docs AS DOUBLE) / dfx.df), 6) AS tfidf
  FROM tf
  JOIN dl USING (doc_id)
  JOIN dfx USING (word)
  CROSS JOIN nd
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, word ASC
         ) AS rnk
  FROM scored
),
lm AS (SELECT word, SUM(tf) AS cnt FROM tf GROUP BY word),
tot AS (SELECT SUM(tf) AS total FROM tf),
sup AS (
  SELECT tf.doc_id,
         SUM(tf.tf) AS n_toks,
         SUM(CAST(ROUND(CAST(tf.tf AS DOUBLE)
                        * -LN(CAST(lm.cnt AS DOUBLE) / tot.total), 6)
                  AS DECIMAL(28,6))) AS s_dec
  FROM tf JOIN lm USING (word) CROSS JOIN tot
  GROUP BY tf.doc_id
),
surp AS (
  SELECT doc_id,
         ROUND(CAST(s_dec AS DOUBLE) / CAST(n_toks AS DOUBLE), 6)
           AS surprisal
  FROM sup
)
SELECT r.doc_id, r.word, CAST(r.tf AS INT) AS tf,
       CAST(r.n_tokens AS INT) AS n_tokens, CAST(r.df AS INT) AS df,
       r.tfidf, CAST(r.rnk AS INT) AS rnk, surp.surprisal
FROM ranked r JOIN surp USING (doc_id) WHERE r.rnk <= {k}
"""


def q_events_asof() -> str:
    """As-of join parity: each click event gains its user's most
    recent prior-or-equal view event — DuckDB's NATIVE ASOF LEFT JOIN
    is the oracle for operators/asof.asof_join's union+window
    formulation."""
    return """
WITH clicks AS (SELECT event_id, ts, user_id, value FROM events
                WHERE event_type = 'click'),
views  AS (SELECT event_id, ts, user_id, value FROM events
           WHERE event_type = 'view')
SELECT c.event_id, c.ts, c.user_id, c.value,
       v.event_id AS r_event_id, v.ts AS r_ts, v.user_id AS r_user_id,
       v.value AS r_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_events_range() -> str:
    """Range (interval-overlap) join parity: 6h view windows x +-1h
    error windows per user — DuckDB's range-predicate join is the
    oracle for operators/rangejoin.range_join's binned equi-join."""
    return """
WITH w AS (SELECT event_id, user_id,
                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS st,
                  CAST(FLOOR(epoch(ts)) AS BIGINT) + 21600 AS en
           FROM events WHERE event_type = 'view'),
e AS (SELECT event_id, user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) - 3600 AS st,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + 3600 AS en
      FROM events WHERE event_type = 'error')
SELECT w.event_id, w.user_id, w.st, w.en,
       e.event_id AS r_event_id, e.user_id AS r_user_id,
       e.st AS r_st, e.en AS r_en
FROM w JOIN e
  ON w.user_id = e.user_id AND w.st < e.en AND e.st < w.en
"""


def q_events_sessionize() -> str:
    """Gap-based sessionization parity (operators/sessionize): 3-day
    inactivity gap per user over the events table — the identical
    lag-flag + running-sum window formulation in DuckDB."""
    return """
WITH m AS (
  SELECT event_id, ts, user_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 259200.0
              THEN 1 ELSE 0 END AS st
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, value)
)
SELECT event_id, ts, user_id, value,
       CAST(SUM(st) OVER (
         PARTITION BY user_id ORDER BY ts, event_id, value
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
FROM m
"""


def q_text_pii() -> str:
    """PII injection + scrub — mirrors __spark_entry__.q_text_pii over
    functions.textstats.pii_scrub. The regex patterns are the common
    Java-regex / RE2 subset, shared verbatim from the engine module."""
    from .functions.textstats import PII_EMAIL, PII_IP, PII_PHONE

    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS did, "text" AS t0
  FROM documents
),
i1 AS (SELECT doc_id, did,
              CASE WHEN did % 3 = 0
                   THEN t0 || ' contact user' || CAST(did AS VARCHAR)
                        || '@example.com now'
                   ELSE t0 END AS t FROM base),
i2 AS (SELECT doc_id, did,
              CASE WHEN did % 5 = 0
                   THEN t || ' call +1-555-'
                        || CAST(1000 + did % 9000 AS VARCHAR)
                   ELSE t END AS t FROM i1),
i3 AS (SELECT doc_id,
              CASE WHEN did % 7 = 0
                   THEN t || ' from 10.0.' || CAST(did % 250 AS VARCHAR)
                        || '.' || CAST(did % 200 AS VARCHAR)
                   ELSE t END AS t FROM i2),
m AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{PII_EMAIL}', '[EMAIL]', 'g'),
             '{PII_PHONE}', '[PHONE]', 'g'),
           '{PII_IP}', '[IP]', 'g') AS masked
  FROM i3
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{PII_IP}')) AS INT) AS n_ips,
       masked AS text_masked,
       md5(masked) AS masked_md5
FROM m
"""


def q_text_repetition(n: int = 3) -> str:
    """Intra-doc duplicate-n-gram ratio — mirrors
    textstats.text_repetition."""
    return f"""
WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  string_split("text", ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         greatest(len(ws) - {n - 1}, 0) AS n_grams,
         CASE WHEN len(ws) < {n} THEN 0
              ELSE len(list_distinct(list_transform(
                     range(greatest(len(ws) - {n - 1}, 0)),
                     i -> array_to_string(list_slice(ws, i + 1, i + {n}), ' '))))
         END AS n_distinct
  FROM w
)
SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
       CAST(n_distinct AS INT) AS n_distinct,
       CASE WHEN n_grams = 0 THEN 0.0
            ELSE round(CAST(n_grams - n_distinct AS DOUBLE)
                       / CAST(n_grams AS DOUBLE), 5) END AS dup_ratio
FROM g
"""
