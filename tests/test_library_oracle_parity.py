"""Per-operator oracle parity for the library surface behind the
round-5 COMPOSITE driver queries.

The driver contract consolidation (STATUS.md window math) folded
single-operator queries into composite plans so all 50 fit the
harness's correctness window; the one thing that trade gave up was
FAILURE GRANULARITY — a composite hash mismatch doesn't say which
operator drifted. This suite restores it: every retired
single-operator oracle still compares exactly at sf0.001, using the
same DuckDB mirrors the driver used through round 4 (they remain the
per-operator oracle surface of renet2_spark.oracles). The lang_id,
token_counts and text_repetition columns exist only inside
textstats.text_profile, so their cases project those columns out of
the profile. The relational operator classes have no single-operator
plans: each runs inside one of the three rel_suite_* queries of
__spark_entry__.queries(), whose exact oracles cover them."""

import pytest

from renet2_spark import oracles
from renet2_spark.corpus import derive_spans, load_documents, sentences_from_spans
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare


def _docs(spark):
    return load_documents(spark, SF_SMOKE)


def _mentions(spark):
    from renet2_spark.operators.normalize import canonicalize_mentions
    from renet2_spark.operators.tagger import tag_mentions

    return canonicalize_mentions(
        tag_mentions(sentences_from_spans(derive_spans(_docs(spark))), spark)
    )


def _labels(spark):
    from renet2_spark.operators.labels import synthetic_labels
    from renet2_spark.operators.pairgen import doc_pair_candidates

    return synthetic_labels(doc_pair_candidates(_mentions(spark)))


def q_text_stats(spark):
    from renet2_spark.functions import textstats as ts

    return ts.text_stats(_docs(spark))


def _profile(spark, *cols):
    from renet2_spark.functions import textstats as ts

    return ts.text_profile(_docs(spark)).select("doc_id", *cols)


def q_lang_id(spark):
    return _profile(spark, "lang", "lang_pred", "lang_conf")


def q_token_counts(spark):
    return _profile(spark, "ws_tokens", "subword_tokens")


def q_fingerprint(spark):
    from renet2_spark.functions import textstats as ts

    return ts.fingerprint(_docs(spark))


def q_text_repetition(spark):
    return _profile(spark, "n_grams", "n_distinct", "dup_ratio")


def q_simhash(spark):
    from renet2_spark.operators import dedup as dd

    return dd.simhash(_docs(spark))


def q_label_distribution(spark):
    from renet2_spark.operators.caps import label_distribution

    return label_distribution(_labels(spark))


def q_dedup_survivors(spark):
    from renet2_spark.operators import dedup as dd

    return dd.dedup_survivors(_docs(spark))


def q_dedup_survivors_cc(spark):
    from renet2_spark.operators import dedup as dd

    return dd.dedup_survivors_cc(_docs(spark))


def q_media_features(spark):
    from renet2_spark.operators import multimodal as mm

    return mm.decode_media(mm.media_table(derive_spans(_docs(spark))))


def q_media_frames(spark):
    from renet2_spark.operators import multimodal as mm

    return mm.sample_frames(mm.media_table(derive_spans(_docs(spark))))


def q_pair_tensors_digest(spark):
    """Retired from the driver contract in round 6 (its encode digest
    is strictly subsumed by kg_edges_neural's exact row-level golden
    oracle; the slot went to corpus_tfidf) — kept here so an
    encode-stage regression is still localized to this digest rather
    than surfacing only as a flagship golden mismatch."""
    import __spark_entry__ as entry_mod

    return entry_mod.q_pair_tensors_digest(spark, SF_SMOKE)


CASES = {
    "kg_pair_tensors_digest": (
        q_pair_tensors_digest,
        oracles.q_pair_tensors_digest,
    ),
    "text_stats": (q_text_stats, oracles.q_text_stats),
    "lang_id": (q_lang_id, oracles.q_lang_id),
    "token_counts": (q_token_counts, oracles.q_token_counts),
    "fingerprint": (q_fingerprint, oracles.q_fingerprint),
    "text_repetition": (q_text_repetition, oracles.q_text_repetition),
    "text_simhash": (q_simhash, oracles.q_simhash),
    "kg_label_distribution": (q_label_distribution, oracles.q_label_distribution),
    "dedup_survivors_pairwise": (q_dedup_survivors, oracles.q_dedup_survivors),
    "dedup_survivors_cc": (q_dedup_survivors_cc, oracles.q_dedup_survivors_cc),
    "media_features": (q_media_features, oracles.q_media_features),
    "media_frames": (q_media_frames, oracles.q_media_frames),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_library_oracle_parity(spark, name):
    build, oracle = CASES[name]
    ok, msg = compare(build(spark), oracle(), SF_SMOKE)
    assert ok, f"{name}: {msg}"
