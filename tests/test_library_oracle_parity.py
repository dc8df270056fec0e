"""Per-operator oracle parity for the library surface behind the
round-5 COMPOSITE driver queries.

The driver contract consolidation (STATUS.md window math) folded
single-operator queries into composite plans so all 50 fit the
harness's correctness window; the one thing that trade gave up was
FAILURE GRANULARITY — a composite hash mismatch doesn't say which
operator drifted. This suite restores it: every retired
single-operator (plan, oracle) pair still compares exactly at
sf0.001, using the same DuckDB mirrors the driver used through
round 4 (they remain the per-operator oracle surface of
renet2_spark.oracles). The relational operator classes have no
single-operator plans: each runs inside one of the three rel_suite_*
queries of __spark_entry__.queries(), whose exact oracles cover them."""

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


def q_lang_id(spark):
    from renet2_spark.functions import textstats as ts

    return ts.lang_id(_docs(spark))


def q_token_counts(spark):
    from renet2_spark.functions import textstats as ts

    return ts.token_counts(_docs(spark))


def q_fingerprint(spark):
    from renet2_spark.functions import textstats as ts

    return ts.fingerprint(_docs(spark))


def q_text_repetition(spark):
    from renet2_spark.functions import textstats as ts

    return ts.text_repetition(_docs(spark))


def q_simhash(spark):
    from renet2_spark.operators import dedup as dd

    return dd.simhash(_docs(spark))


def q_scores_probx(spark):
    from renet2_spark.operators.pairgen import pair_features
    from renet2_spark.operators.scorer import score_and_vote

    return score_and_vote(pair_features(_mentions(spark)), cutoff=0).select(
        "doc_id", "gene_id", "disease_id", "hit_cnt", "prob_avg", "prob_X"
    )


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


def q_events_asof(spark):
    """As-of join (operators/asof) vs DuckDB's NATIVE ASOF LEFT JOIN —
    each click gains the user's most recent prior-or-equal view."""
    from pyspark.sql import functions as F

    from renet2_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id", "value"
    )
    return asof_join(clicks, views, on="ts", by=("user_id",))


def q_events_range(spark):
    """Range join (operators/rangejoin) vs DuckDB's range-predicate
    join: 6h view windows x +-1h error windows per user. bin_width
    deliberately SMALLER than the intervals so every pair spans
    several shared bins — the first-shared-bin dedup is exercised."""
    from pyspark.sql import functions as F

    from renet2_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    epoch = F.unix_timestamp("ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", epoch.alias("st"),
        (epoch + 21600).alias("en"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", (epoch - 3600).alias("st"),
        (epoch + 3600).alias("en"),
    )
    return range_join(
        views, errors, by=("user_id",), left_bounds=("st", "en"),
        right_bounds=("st", "en"), bin_width=1800,
    )


def q_events_sessionize(spark):
    """Gap sessionization (operators/sessionize) vs the identical
    DuckDB window formulation: 3-day inactivity gap per user."""
    from renet2_spark.operators.sessionize import sessionize

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    return sessionize(ev, on="ts", by=("user_id",), gap_seconds=259200)


CASES = {
    "events_asof": (q_events_asof, oracles.q_events_asof),
    "events_range": (q_events_range, oracles.q_events_range),
    "events_sessionize": (q_events_sessionize, oracles.q_events_sessionize),
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
    "kg_scores_probx": (q_scores_probx, oracles.q_scores_probx),
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
