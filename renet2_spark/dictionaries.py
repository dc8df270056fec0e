"""Entity dictionaries + canonicalization maps.

The reference consumes PubTator NER output plus pickled dictionaries
(reference: utils/omim2mesh.py:8-11 OMIM→MeSH map,
utils/gene_transfer.py:7-8 species→human gene map, utils/mesh_match.py:6-7 MeSH C→D validity).
Our engine replaces the NER input with a dictionary+regex tagger
(north_star) whose dictionaries below are defined over the synthetic
corpus vocabulary — deterministically, so DuckDB oracles can inline
the same mappings.

RAW ids are deliberately "dirty" in the same ways the reference
repairs in parse_ann_id (reference: src/renet2/parse_data.py:29-41):
  genes:    ';'-multivalue (take first), '(tax:..)' suffix (strip),
            species id needing Gene_transfer to the human id
  diseases: 'MESH:' prefix (strip), 'OMIM:x' (map via omim2mesh),
            ';'-multivalue (take first), C-prefix validity (mesh_match)

Small dictionaries broadcast to every executor: as python dicts inside
pandas UDFs (sc.broadcast) and as broadcast-hinted DataFrames for
joins. At 10^12-doc scale these stay O(MB) — genuinely broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import local_table

# surface -> raw id emitted by the tagger (pre-normalization)
GENE_RAW: dict[str, str] = {
    "scan": "1001",
    "join": "1002",  # hot entity: present in ~77% of docs (skew fixture)
    "hash": "1003",
    "merge": "1004",
    "filter": "1005",
    "sort": "1006",
    "window": "1007",
    "vector": "2008(tax:10090);9999",  # strip parens, first of ';', transfer
}

DISEASE_RAW: dict[str, str] = {
    "slow": "MESH:D0001",
    "big": "MESH:D0002",
    "small": "D0003",
    "stream": "OMIM:600100",  # -> omim2mesh -> D0004
    "dup": "MESH:C0005;D0009",  # first of ';' -> C0005, valid per c2d
}

# reference: utils/omim2mesh.py:12-19 — OMIM:x -> '|'.join(mesh list)
OMIM2MESH: dict[str, list[str]] = {"600100": ["D0004"]}

# reference: utils/gene_transfer.py:10-13 — species gene -> human gene(s)
GENE_TRANSFER: dict[str, list[str]] = {"2008": ["1008"]}

# reference: utils/mesh_match.py:6-14 — C-prefixed MeSH valid iff in dict
MESH_C2D_VALID: set[str] = {"C0005"}

# ---- extension dictionary for the annotation-cleaning queries ----------
# Used ONLY by kg_mentions_clean/kg_mentions_capped (not the flagship
# dict), these surfaces make every make_tags cleaning rule observable
# on the driver corpus:
#   * 'table' is BOTH a gene and a disease -> joint-tag fusion fires
#     (reference sequence_utils.py:17-26 composite 'g>-<d')
#   * 'sort merge' is a TWO-token disease surface -> it overlaps the
#     single-token 'sort'/'merge' gene mentions (overlap merge,
#     sequence_utils.py:42-80) and, when it straddles a sentence
#     boundary (token index 9 -> 10), the cross-sentence drop fires
#     (ann_utils.py:13-23)
GENE_EXT_RAW: dict[str, str] = {"table": "1009"}
DISEASE_EXT_RAW: dict[str, str] = {"table": "MESH:D0006"}
GENE_EXT_CANON: dict[str, str] = {"table": "1009"}
DISEASE_EXT_CANON: dict[str, str] = {"table": "D0006"}
# two-token disease surfaces: surface -> (raw_id, canonical_id)
MULTIWORD_DISEASE: dict[str, tuple[str, str]] = {
    "sort merge": ("MESH:D0008", "D0008"),
}

# canonical (post-normalization) ids — what the oracle SQL inlines
GENE_CANON: dict[str, str] = {
    "scan": "1001", "join": "1002", "hash": "1003", "merge": "1004",
    "filter": "1005", "sort": "1006", "window": "1007", "vector": "1008",
}
DISEASE_CANON: dict[str, str] = {
    "slow": "D0001", "big": "D0002", "small": "D0003",
    "stream": "D0004", "dup": "C0005",
}

# token vocabulary for the neural scorer (reference: raw_handler.py:25-33;
# OOV sentinel '[X]'). ids > 0; 0 is padding.
CORPUS_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
WORD_INDEX: dict[str, int] = {w: i + 1 for i, w in enumerate(CORPUS_WORDS)}
WORD_INDEX["[X]"] = len(WORD_INDEX) + 1  # OOV sentinel
VOCAB_SIZE = len(WORD_INDEX) + 1  # +1 for pad id 0


def normalize_gene_id(raw: str) -> str:
    """parse_ann_id gene path (reference: parse_data.py:33-41):
    first of ';'-list, strip '(...)', species->human via Gene_transfer."""
    g = raw.split(";")[0]
    if "(" in g:
        g = g[: g.find("(")]
    if g in GENE_TRANSFER:
        g = "|".join(GENE_TRANSFER[g])
    return g


def normalize_disease_id(raw: str) -> str:
    """parse_ann_id disease path (reference: parse_data.py:29-33 +
    utils/omim2mesh.py:12-19, utils/mesh_match.py:9-14)."""
    d = raw
    if d.startswith("MESH:"):
        d = d[5:]
    if d.startswith("OMIM:"):
        omim = d[5:]
        d = "|".join(OMIM2MESH.get(omim, [d]))
    d = d.split(";")[0]
    return d


def entity_dict_df(spark: SparkSession) -> DataFrame:
    """Union tagger dictionary: (surface, type, raw_id, entity_id)."""
    rows = [(s, "Gene", r, GENE_CANON[s]) for s, r in GENE_RAW.items()] + [
        (s, "Disease", r, DISEASE_CANON[s]) for s, r in DISEASE_RAW.items()
    ]
    return local_table(
        spark, rows,
        "surface string, type string, raw_id string, entity_id string",
    )


def entity_dict_fused_df(spark: SparkSession) -> DataFrame:
    """(surface, type, entity_id) with canonicalization, MeSH validity
    and joint-tag fusion PRE-FOLDED into the dimension: a surface
    carrying both a gene and a disease id becomes ONE 'Gene-Disease'
    row with composite id 'd>-<g' (disease first — reference make_tags
    fusion, sequence_utils.py:17-26), invalid C-prefix diseases are excluded
    (mesh_match.py:9-14), ids are canonical (parse_ann_id).

    For a token-granularity tagger this is EXACTLY equivalent to
    tag -> canonicalize -> fuse_joint_tags (same (doc,sent,tok,mention)
    can only collide via dictionary collision), but costs zero runtime
    shuffles: the work moves into the O(MB) broadcast dimension —
    asserted equivalent in tests/test_invariant.py. The reference
    likewise canonicalizes at parse time, not score time
    (parse_data.py:29-41)."""
    rows: dict[str, tuple[str, str]] = {}
    for s, g in GENE_CANON.items():
        rows[s] = ("Gene", g)
    for s, d in DISEASE_CANON.items():
        if not (d.startswith("D") or d in MESH_C2D_VALID):
            continue
        if s in rows:
            rows[s] = ("Gene-Disease", f"{d}>-<{rows[s][1]}")
        else:
            rows[s] = ("Disease", d)
    return local_table(
        spark,
        [(s, t, e) for s, (t, e) in rows.items()],
        "surface string, type string, entity_id string",
    )


def entity_dict_ext_df(spark: SparkSession) -> DataFrame:
    """entity_dict_df plus the cleaning-fixture surfaces (single-token
    only; multiword surfaces go through tagger.tag_multiword)."""
    rows = (
        [(s, "Gene", r, GENE_CANON[s]) for s, r in GENE_RAW.items()]
        + [(s, "Disease", r, DISEASE_CANON[s]) for s, r in DISEASE_RAW.items()]
        + [(s, "Gene", r, GENE_EXT_CANON[s]) for s, r in GENE_EXT_RAW.items()]
        + [
            (s, "Disease", r, DISEASE_EXT_CANON[s])
            for s, r in DISEASE_EXT_RAW.items()
        ]
    )
    return local_table(
        spark, rows,
        "surface string, type string, raw_id string, entity_id string",
    )
