"""Entity-ID canonicalization + per-doc ID unification.

Reference semantics:
* parse_ann_id (src/renet2/parse_data.py:29-41): disease — strip
  'MESH:' prefix, OMIM→MeSH via dict (utils/omim2mesh.py:12-19), first
  of ';'-list; gene — first of ';'-list, strip '(...)', species→human
  via Gene_transfer (utils/gene_transfer.py:10-13, multi ids '|'-joined).
* IsValidMeSH (utils/mesh_match.py:9-14): D-prefix always valid,
  C-prefix valid iff mapped in dict_c2d.
* normalize_ann per-doc name↔id connected components with
  most-frequent-id representative (src/renet2/normalize_ann.py:26-49).

Spark-first: the string surgery is native Catalyst expressions
(regexp_replace/split — whole-stage codegen); the tiny OMIM/transfer
maps become chained `when` literals built from the broadcast dicts
(O(10) entries here; for real-world ~4k-entry maps use
F.broadcast(map_df) joins — :func:`canonicalize_mentions_by_join`
takes that path above MAP_LITERAL_MAX). Per-doc unification is a
grouped applyInPandas: each group is ONE document's mentions
(bounded, tiny graphs) — no global connected-components shuffle
storm.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dictionaries import GENE_TRANSFER, MESH_C2D_VALID, OMIM2MESH


def _map_literal(col: Column, mapping: dict[str, str]) -> Column:
    out = col
    for k, v in mapping.items():
        out = F.when(col == k, F.lit(v)).otherwise(out)
    return out


def _gene_id_literal(raw: Column, transfer: dict) -> Column:
    g = F.split(raw, ";")[0]
    g = F.regexp_replace(g, r"\(.*\)", "")
    return _map_literal(g, {k: "|".join(v) for k, v in transfer.items()})


def _disease_id_literal(raw: Column, omim: dict) -> Column:
    d = F.regexp_replace(raw, r"^MESH:", "")
    d = _map_literal(d, {f"OMIM:{k}": "|".join(v) for k, v in omim.items()})
    return F.split(d, ";")[0]


# above this size a when-chain / create_map literal is a pathological
# Catalyst expression tree (reference dict_omim2mesh = 4,149 rows,
# word_index = 82,948); broadcast joins are the default there
MAP_LITERAL_MAX = 256


def canonicalize_mentions(
    mentions: DataFrame,
    transfer: dict | None = None,
    omim: dict | None = None,
    valid_c: set | None = None,
) -> DataFrame:
    """mentions(+raw_id) -> mentions(+entity_id). Picks the literal
    when-chain plan for small maps and broadcast joins above
    MAP_LITERAL_MAX (round-1 verdict #5: literal maps don't survive
    real dictionary sizes)."""
    transfer = GENE_TRANSFER if transfer is None else transfer
    omim = OMIM2MESH if omim is None else omim
    valid_c = MESH_C2D_VALID if valid_c is None else valid_c
    if max(len(transfer), len(omim), len(valid_c)) > MAP_LITERAL_MAX:
        return canonicalize_mentions_by_join(mentions, transfer, omim, valid_c)
    eid = F.when(
        F.col("type") == "Gene", _gene_id_literal(F.col("raw_id"), transfer)
    ).otherwise(_disease_id_literal(F.col("raw_id"), omim))
    out = mentions.withColumn("entity_id", eid)
    valid = F.col("entity_id").startswith("D")
    for c in valid_c:
        valid = valid | (F.col("entity_id") == c)
    return out.filter((F.col("type") == "Gene") | valid)


def canonicalize_mentions_by_join(
    mentions: DataFrame, transfer: dict, omim: dict, valid_c: set
) -> DataFrame:
    """Broadcast-join canonicalization — identical semantics to the
    literal path, but the maps ship as executor-side hash relations
    (O(MB) broadcast) instead of expression trees. The string surgery
    stays native Catalyst; three broadcast left joins on derived keys
    (null key for the other type -> no match -> passthrough)."""
    from ..session import local_table

    spark = mentions.sparkSession
    tdf = local_table(
        spark,
        [(k, "|".join(v)) for k, v in transfer.items()] or [("", "")],
        "_tk string, _tv string",
    )
    odf = local_table(
        spark,
        [(f"OMIM:{k}", "|".join(v)) for k, v in omim.items()] or [("", "")],
        "_ok string, _ov string",
    )
    cdf = local_table(
        spark, [(c,) for c in sorted(valid_c)] or [("",)], "_ck string"
    )
    g0 = F.regexp_replace(F.split(F.col("raw_id"), ";")[0], r"\(.*\)", "")
    d0 = F.regexp_replace(F.col("raw_id"), r"^MESH:", "")
    keyed = mentions.withColumn(
        "_gk", F.when(F.col("type") == "Gene", g0)
    ).withColumn("_dk", F.when(F.col("type") != "Gene", d0))
    out = (
        keyed.join(F.broadcast(tdf), keyed._gk == tdf._tk, "left")
        .join(F.broadcast(odf), keyed._dk == odf._ok, "left")
        .withColumn(
            "entity_id",
            F.when(
                F.col("type") == "Gene", F.coalesce("_tv", "_gk")
            ).otherwise(F.split(F.coalesce("_ov", "_dk"), ";")[0]),
        )
        .drop("_gk", "_dk", "_tk", "_tv", "_ok", "_ov")
    )
    validated = (
        out.join(
            F.broadcast(cdf), out.entity_id == cdf._ck, "left"
        )
        .filter(
            (F.col("type") == "Gene")
            | F.col("entity_id").startswith("D")
            | F.col("_ck").isNotNull()
        )
        .drop("_ck")
    )
    return validated


_UNIFY_SCHEMA = (
    "doc_id string, sent_no int, tok_no int, start int, end int, "
    "mention string, type string, raw_id string, entity_id string"
)


def unify_doc_ids(mentions: DataFrame) -> DataFrame:
    """Per-document name↔id connected components; every id in a
    component is rewritten to the component's representative — the id
    with the highest mention count, ties broken by id desc
    (reference src/renet2/normalize_ann.py:26-49: add_d_cnt at 19-23,
    representative pick at 45; 'orig;rep' rewrite at 114-121 — we keep
    just the representative, the ';'-form is re-split by
    the gene-id canonicalization anyway).

    Grouped applyInPandas keyed by doc_id: graphs are bounded by the
    per-doc mention count (<= 512*500), so executor memory is safe at
    any corpus scale; the only shuffle is the groupBy(doc_id).
    """

    def unify(pdf: pd.DataFrame) -> pd.DataFrame:
        for typ in ("Gene", "Disease"):
            sub = pdf[pdf["type"] == typ]
            if sub.empty:
                continue
            parent: dict[str, str] = {}

            def find(x: str) -> str:
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            by_name: dict[str, str] = {}
            for name, eid in zip(sub["mention"].str.lower(), sub["entity_id"]):
                if name in by_name:
                    parent[find(by_name[name])] = find(eid)
                else:
                    by_name[name] = eid
            cnt = sub.groupby("entity_id").size().to_dict()
            comp: dict[str, list[str]] = {}
            for eid in set(sub["entity_id"]):
                comp.setdefault(find(eid), []).append(eid)
            rep_of: dict[str, str] = {}
            for members in comp.values():
                rep = max(members, key=lambda e: (cnt.get(e, 0), e))
                for e in members:
                    rep_of[e] = rep
            mask = pdf["type"] == typ
            pdf.loc[mask, "entity_id"] = pdf.loc[mask, "entity_id"].map(rep_of)
        return pdf

    cols = [f.split(" ")[0] for f in _UNIFY_SCHEMA.split(", ")]
    return (
        mentions.select(*cols)
        .groupBy("doc_id")
        .applyInPandas(unify, schema=_UNIFY_SCHEMA)
    )
