"""PubTator abstract-format ingest (S3).

Reference: read_abs_offset_f (src/renet2/parse_data.py:43-67) parses
one abstract file: line 1 `pmid|t|title`, line 2 `pmid|a|abstract`
(abstract shorter than 3 chars -> sentinel '$$$'), then TSV annotation
lines `pmid \t start \t end \t mention \t type \t id` filtered to
type in {Gene, Disease}. The reference reads one file per pmid with
python file handles; here the whole corpus is ONE line-oriented
`spark.read.text` scan — every line self-describes (title/abstract/
annotation + its pmid), so no blank-line blocking is needed and the
input splits freely across executors. All parsing is native Catalyst
(split/filter/when); grouping to one row per doc is a single
doc-keyed shuffle.

Reference quirk kept: the ann filter `None not in ann[1:] and _type ==
"Disease" or _type == 'Gene'` boolean-precedence means the type filter
is what actually binds — reproduced as a plain type isin.

Canonicalization (parse_ann_id) is NOT applied here — the parser emits
raw ids and composes with operators/normalize.canonicalize_mentions,
exactly like the BioC path (reference applies parse_ann_id inline at
parse_data.py:64; same net semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMPTY_ABSTRACT = "$$$"  # reference parse_data.py:52


def parse_pubtator(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """raw(value) -> (documents_spans(doc_id, spans), anns(doc_id,
    start, end, mention, type, raw_id)): `value` is a spark.read.text
    line.

    Spans: [title span (kind='title', offset 0), abstract span
    (kind='abstract', offset len(title)+1)] — PubTator's abstract
    offsets start at len(title)+1, so annotation char offsets stay
    valid against the ' '-joined doc text."""
    parts = F.split(F.col("value"), r"\|", 3)
    tab = F.split(F.col("value"), "\t")
    is_ann = F.size(tab) == 6
    is_title = (~is_ann) & (F.size(parts) == 3) & (parts[1] == "t")
    is_abs = (~is_ann) & (F.size(parts) == 3) & (parts[1] == "a")

    titles = raw.filter(is_title).select(
        parts[0].alias("doc_id"), parts[2].alias("title")
    )
    abstracts = raw.filter(is_abs).select(
        parts[0].alias("doc_id"),
        F.when(F.length(parts[2]) < 3, F.lit(EMPTY_ABSTRACT))
        .otherwise(parts[2])
        .alias("abstract"),
    )
    docs = (
        titles.join(abstracts, "doc_id", "left")
        .withColumn("abstract", F.coalesce("abstract", F.lit(EMPTY_ABSTRACT)))
        .select(
            "doc_id",
            F.array(
                F.struct(
                    F.lit("title").alias("kind"),
                    F.col("title").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                ),
                F.struct(
                    F.lit("abstract").alias("kind"),
                    F.col("abstract").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    (F.length("title") + 1).cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    anns = (
        raw.filter(is_ann)
        .select(
            tab[0].alias("doc_id"),
            tab[1].cast("int").alias("start"),
            tab[2].cast("int").alias("end"),
            tab[3].alias("mention"),
            tab[4].alias("type"),
            tab[5].alias("raw_id"),
        )
        .filter(F.col("type").isin("Gene", "Disease"))
    )
    return docs, anns


def read_pubtator(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Directory/file of PubTator abstract text -> (docs_spans, anns)."""
    return parse_pubtator(spark.read.text(path))
