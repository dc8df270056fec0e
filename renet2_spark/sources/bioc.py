"""BioC-JSON ingest: raw document JSON -> interleaved span schema.

Reference: parse_doc walks doc['passages'], keeps passage types
{title, abstract, front, paragraph}, routes section names through a
whitelist + fallback mapping, and skips funding/abbreviations/
references sections (src/renet2/parse_data.py:73-327; whitelist
77-83/163-173 with METHODS blanked by default IG_N=3, fallback
181-201, skip-list 154-159). The reference walks JSON in python; here
it is `from_json` + explode + when/otherwise chains — fully
declarative, so Catalyst prunes/pushes as usual.

Input: DataFrame with (doc_json string). Output: documents_spans
(doc_id, spans) in the standard interleaved schema — media passages
(figure/table refs) become media spans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BIOC_SCHEMA = (
    "struct<pmid:string, passages:array<struct<"
    "infons:struct<type:string, section_type:string>, "
    "text:string, offset:int, media_ref:string>>>"
)

# reference parse_data.py:77-83 (METHODS excluded by default, IG_N=3)
SECTION_WHITELIST = ["TITLE", "ABSTRACT", "INTRO", "RESULTS", "DISCUSS", "CONCL"]
# reference parse_data.py:154-159
SECTION_SKIP = ["funding", "abbreviations", "references", "ack_funding"]

_KIND_OF_SECTION = {
    "TITLE": "title",
    "ABSTRACT": "abstract",
    "INTRO": "paragraph",
    "RESULTS": "paragraph",
    "DISCUSS": "paragraph",
    "CONCL": "paragraph",
}


def _map_section(raw: Column) -> Column:
    """Fallback section-name mapping (reference parse_data.py:181-201:
    substring match on lowered name)."""
    low = F.lower(raw)
    return (
        F.when(low.contains("title"), F.lit("TITLE"))
        .when(low.contains("abstract"), F.lit("ABSTRACT"))
        .when(low.contains("intro"), F.lit("INTRO"))
        .when(low.contains("background"), F.lit("INTRO"))
        .when(low.contains("result"), F.lit("RESULTS"))
        .when(low.contains("discuss"), F.lit("DISCUSS"))
        .when(low.contains("concl"), F.lit("CONCL"))
        .when(low.contains("method"), F.lit("METHODS"))
        .otherwise(F.upper(raw))
    )


def parse_bioc(raw: DataFrame) -> DataFrame:
    """raw(doc_json) -> documents_spans(doc_id, spans)."""
    doc = F.from_json(F.col("doc_json"), BIOC_SCHEMA)
    passages = raw.select(
        doc["pmid"].alias("doc_id"),
        F.posexplode(doc["passages"]).alias("p_no", "p"),
    )
    section = _map_section(
        F.coalesce(F.col("p.infons.section_type"), F.col("p.infons.type"))
    )
    # coalesce: a passage WITHOUT section_type (common for titles /
    # abstracts in real BioC) must not null out the skip predicate —
    # ~(NULL.isin(...)) is NULL and silently drops the row
    skip_key = F.lower(F.coalesce(F.col("p.infons.section_type"), F.lit("")))
    kept = passages.withColumn("section", section).filter(
        ~skip_key.isin(SECTION_SKIP)
        & F.col("section").isin(
            SECTION_WHITELIST + ["FIGURE", "TABLE_MEDIA"]
        )
    )
    kind_chain = F.when(F.col("p.media_ref").isNotNull(), F.lit("figure"))
    for sec, kind in _KIND_OF_SECTION.items():
        kind_chain = kind_chain.when(F.col("section") == sec, F.lit(kind))
    spans_rows = kept.select(
        "doc_id",
        "p_no",
        F.struct(
            kind_chain.alias("kind"),
            F.coalesce(F.col("p.text"), F.lit("")).alias("text"),
            F.col("p.media_ref").cast("string").alias("media_ref"),
            F.col("p.offset").cast("int").alias("offset"),
        ).alias("span"),
    )
    return spans_rows.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("p_no", "span"))),
            lambda s: s["span"],
        ).alias("spans")
    )
