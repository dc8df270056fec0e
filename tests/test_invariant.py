"""Per-row invariant (BASELINE input_hint): span-sequence equality on
(kind, text, media_ref, order) preserved through every stage."""

import pytest
from pyspark.sql import functions as F

from renet2_spark.corpus import (
    derive_spans,
    media_from_spans,
    sentences_from_spans,
    spans_fingerprint,
)
from tests.conftest import SF_SMOKE


def _spans(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return derive_spans(docs)


def test_fingerprint_stable_across_recompute(spark):
    s1 = _spans(spark).select("doc_id", spans_fingerprint().alias("fp"))
    s2 = _spans(spark).select("doc_id", spans_fingerprint().alias("fp2"))
    joined = s1.join(s2, "doc_id")
    assert joined.filter(F.col("fp") != F.col("fp2")).count() == 0


def test_sentence_media_split_reconstructs_span_sequence(spark):
    """Splitting into sentences + media and re-zipping by offset must
    reproduce the original (kind, text, media_ref, order) sequence."""
    spans = _spans(spark)
    flat = spans.select(
        "doc_id", F.posexplode("spans").alias("ord", "span")
    ).select(
        "doc_id",
        "ord",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
    sents = sentences_from_spans(spans).select(
        "doc_id",
        F.col("kind"),
        F.col("sentence").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        "offset",
    )
    media = media_from_spans(spans).select(
        "doc_id",
        F.lit("figure").alias("kind"),
        F.lit("").alias("text"),
        "media_ref",
        "offset",
    )
    def seq_hash(df, ord_cols, out):
        payload = F.concat_ws(
            "\x01", "kind", "text", F.coalesce("media_ref", F.lit("-"))
        )
        arr = F.sort_array(
            F.collect_list(F.struct(*[F.col(c) for c in ord_cols], payload.alias("p")))
        )
        return df.groupBy("doc_id").agg(
            F.md5(F.array_join(F.transform(arr, lambda s: s["p"]), "\x02")).alias(out)
        )

    a = seq_hash(flat, ["ord"], "h")
    # a media span shares its offset with the FOLLOWING text span and
    # precedes it in the original sequence -> figure sorts first
    rebuilt = sents.unionByName(media).withColumn(
        "tie", F.when(F.col("kind") == "figure", 0).otherwise(1)
    )
    b = seq_hash(rebuilt, ["offset", "tie"], "h2")
    bad = a.join(b, "doc_id").filter(F.col("h") != F.col("h2")).count()
    assert bad == 0


def test_offsets_match_doc_text(spark):
    """Every sentence's offset slices the reconstructed doc text to the
    sentence itself — offsets survive the span derivation."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    sents = sentences_from_spans(_spans(spark))
    j = sents.join(docs, "doc_id").withColumn(
        "cut",
        F.expr("substring(text, offset + 1, length(sentence))"),
    )
    assert j.filter(F.col("cut") != F.col("sentence")).count() == 0


def test_sentences_direct_equals_span_path(spark):
    from renet2_spark.corpus import sentences_direct

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = sentences_direct(docs)
    b = sentences_from_spans(derive_spans(docs))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fused_dict_equals_runtime_fusion(spark):
    """Dimension-side fusion/canonicalization (entity_dict_fused_df)
    must equal tag -> canonicalize -> fuse_joint_tags on the token
    path — including for a dictionary where a surface IS both a gene
    and a disease (the ext 'table' surface)."""
    from pyspark.sql import functions as F

    from renet2_spark.dictionaries import (
        DISEASE_CANON,
        DISEASE_EXT_CANON,
        DISEASE_EXT_RAW,
        DISEASE_RAW,
        GENE_CANON,
        GENE_EXT_CANON,
        GENE_EXT_RAW,
        GENE_RAW,
        MESH_C2D_VALID,
    )
    from renet2_spark.operators.anncleaner import fuse_joint_tags
    from renet2_spark.operators.normalize import canonicalize_mentions
    from renet2_spark.operators.tagger import tag_mentions_fast

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # runtime chain over the EXT dict (raw ids)
    rows = [(s, "Gene", r) for s, r in GENE_RAW.items()]
    rows += [(s, "Disease", r) for s, r in DISEASE_RAW.items()]
    rows += [(s, "Gene", r) for s, r in GENE_EXT_RAW.items()]
    rows += [(s, "Disease", r) for s, r in DISEASE_EXT_RAW.items()]
    raw_dict = spark.createDataFrame(
        rows, "surface string, type string, raw_id string"
    )
    runtime = fuse_joint_tags(
        canonicalize_mentions(tag_mentions_fast(docs, spark, raw_dict))
    )

    # fused dimension built the same way entity_dict_fused_df does,
    # but over base+ext
    fused_rows: dict = {}
    for s, g in {**GENE_CANON, **GENE_EXT_CANON}.items():
        fused_rows[s] = ("Gene", g)
    for s, d in {**DISEASE_CANON, **DISEASE_EXT_CANON}.items():
        if not (d.startswith("D") or d in MESH_C2D_VALID):
            continue
        if s in fused_rows:
            fused_rows[s] = ("Gene-Disease", f"{d}>-<{fused_rows[s][1]}")
        else:
            fused_rows[s] = ("Disease", d)
    fused_dict = spark.createDataFrame(
        [(s, t, e) for s, (t, e) in fused_rows.items()],
        "surface string, type string, entity_id string",
    )
    dimside = tag_mentions_fast(docs, spark, fused_dict)

    cols = ["doc_id", "sent_no", "tok_no", "mention", "type", "entity_id"]
    a = {tuple(r) for r in runtime.select(*cols).collect()}
    b = {tuple(r) for r in dimside.select(*cols).collect()}
    assert a == b and len(a) > 0
    # the joint surface actually fused
    assert any(t[4] == "Gene-Disease" for t in a)


@pytest.mark.parametrize("corpus", ["packed", "raw", "raw_messy"])
def test_build_mentions_equals_unfused_chain(spark, corpus):
    """build_mentions (fused dictionary) yields exactly the mention rows
    of the unfused tag -> canonicalize chain, on the packed corpus and
    on both raw twins: the base dictionary has no joint surface, so
    fusion only folds canonicalization in. The neural edge plan, which
    used the unfused chain, shares build_mentions with the flagship on
    the strength of this equality."""
    from renet2_spark.corpus import (
        raw_text_twin,
        raw_text_twin_messy,
        sentences_direct,
    )
    from renet2_spark.operators.normalize import canonicalize_mentions
    from renet2_spark.operators.tagger import tag_mentions, tag_mentions_raw
    from renet2_spark.plans.pipeline import build_mentions

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    if corpus == "packed":
        unfused = tag_mentions(sentences_direct(docs), spark, with_offsets=False)
    else:
        docs = (raw_text_twin if corpus == "raw" else raw_text_twin_messy)(docs)
        unfused = tag_mentions_raw(docs, spark).drop("start", "end")
    cols = ["doc_id", "sent_no", "tok_no", "mention", "type", "entity_id"]
    want = canonicalize_mentions(unfused).select(*cols)
    got = build_mentions(
        spark, docs, corpus="packed" if corpus == "packed" else "raw"
    ).select(*cols)
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ingest_parallelism_floor_semantics(spark):
    """The floor repartitions a low-split scan up to defaultParallelism
    but is a NO-OP (same plan object, no exchange) once the input
    already has at least half the cluster's parallelism — the
    production multi-split case. Row content identical either way."""
    from renet2_spark.corpus import ingest_parallelism_floor, load_documents

    docs = load_documents(spark, SF_SMOKE)
    assert docs.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    floored = ingest_parallelism_floor(docs, spark)
    assert floored.rdd.getNumPartitions() == target
    # identical rows (hash-partitioned by doc_id, nothing lost/duped)
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, floored.collect()))
    assert a == b
    # already-parallel input: returned UNCHANGED (no inserted shuffle)
    wide = docs.repartition(target, "doc_id")
    assert ingest_parallelism_floor(wide, spark) is wide
