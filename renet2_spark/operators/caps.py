"""Per-document truncation caps + class-balance sampling.

Reference caps (src/renet2/raw.py:648-698): <= 500 sentences/doc,
<= 512 tokens/sentence, <= 135,000 chars/doc; annotations beyond the
kept text are dropped (raw.py:741-742). Tensor pad shape caps live in
operators/neural.py (MAX_SENTS/MAX_TOKENS, raw_handler.py:51-61).

Class-balance utilities (reference raw_handler.py:326-377 weighted
sampling): label distribution + deterministic stratified downsampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_SENTS_PER_DOC = 500  # raw.py:648
MAX_TOKENS_PER_SENT = 512  # raw.py:655
MAX_CHARS_PER_DOC = 135_000  # raw.py:660


def cap_sentences(sentences: DataFrame,
                  max_sents: int = MAX_SENTS_PER_DOC,
                  max_chars: int = MAX_CHARS_PER_DOC) -> DataFrame:
    """Drop sentences beyond the per-doc sentence cap or starting
    beyond the char cap (reference keeps the prefix, raw.py:648,660,
    689-691). Row-local filters — no shuffle (sent_no/offset are
    already per-doc coordinates)."""
    return sentences.filter(
        (F.col("sent_no") < max_sents) & (F.col("offset") < max_chars)
    )


def cap_tokens(sentences: DataFrame,
               max_tokens: int = MAX_TOKENS_PER_SENT) -> DataFrame:
    """Truncate each sentence to its first max_tokens tokens
    (raw.py:655, 696-698)."""
    words = F.split(F.col("sentence"), " ")
    return sentences.withColumn(
        "sentence",
        F.when(
            F.size(words) <= max_tokens, F.col("sentence")
        ).otherwise(F.array_join(F.slice(words, 1, max_tokens), " ")),
    )


def cap_mentions(mentions: DataFrame,
                 max_sents: int = MAX_SENTS_PER_DOC,
                 max_tokens: int = MAX_TOKENS_PER_SENT) -> DataFrame:
    """Drop annotations referring past the kept text (raw.py:735-742;
    also drops id=='None' rows per raw.py:735-736)."""
    out = mentions.filter(
        (F.col("sent_no") < max_sents) & (F.col("tok_no") < max_tokens)
    )
    if "raw_id" in out.columns:
        out = out.filter(F.col("raw_id") != "None")
    return out


def label_distribution(labels: DataFrame) -> DataFrame:
    """(label, n) — reference class-balance counts
    (raw_handler.py:326-377)."""
    return labels.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))


def sample_balanced_hash(labels: DataFrame) -> DataFrame:
    """Deterministic stratified class balancing: every label >= 1.0
    row is kept; each label < 1.0 class is downsampled to ~2 x
    positives by the md5-prefix rule of curation.sample_hash — a row
    is kept iff the first 4 hex digits of md5(bal:doc:gene:disease),
    as an int, fall below fraction * 65536.

    Balances as the reference's weighted sampling does
    (raw_handler.py:326-377), but content-hash-deterministic instead of
    seeded-random: reproducible across engines (exact DuckDB oracle,
    kg_sample_balanced), stable under corpus growth (a row's fate
    never depends on other rows once the fraction is fixed), and
    plan-side pure Catalyst — per-class fractions come from one tiny
    aggregate broadcast back onto the row stream, no driver action."""
    dist = labels.groupBy("label").agg(F.count("*").alias("_n"))
    n_pos = dist.filter(F.col("label") >= 1.0).select(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("_np")
    )
    fracs = dist.crossJoin(F.broadcast(n_pos)).select(
        "label",
        F.when(F.col("label") >= 1.0, F.lit(1.0))
        .otherwise(
            F.least(
                F.lit(1.0),
                F.lit(2.0) * F.col("_np") / F.col("_n"),
            )
        )
        .alias("_frac"),
    )
    key = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("bal"), "doc_id", "gene_id", "disease_id"
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    return (
        labels.join(F.broadcast(fracs), "label")
        .withColumn("_k", key)
        .filter(F.col("_k") < F.col("_frac") * 65536)
        .drop("_frac", "_k")
        .select("doc_id", "gene_id", "disease_id", "label")
    )
