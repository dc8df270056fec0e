"""The near-dup plans do not depend on plan shape or on other builds in
the same session, and degenerate corpora (NULL text, empty text, no
documents) give exactly the oracle's pairs. Config matrix:
tests.conftest.CONFIG_MATRIX."""

from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from renet2_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
from renet2_spark.oracles import q_dedup_minhash, q_dedup_ngram
from tests.conftest import CONFIG_MATRIX, SF_SMOKE, sql_conf
from tests.oracle_utils import compare

OPERATORS = {
    "minhash": (dedup_minhash_lsh, q_dedup_minhash),
    "ngram": (dedup_ngram_jaccard, q_dedup_ngram),
}


def _check(spark, name):
    build, oracle = OPERATORS[name]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return compare(build(docs), oracle(), SF_SMOKE)


@pytest.mark.parametrize("op", sorted(OPERATORS))
@pytest.mark.parametrize("config", sorted(CONFIG_MATRIX))
def test_dedup_config_matrix(spark, config, op):
    with sql_conf(spark, CONFIG_MATRIX[config]):
        ok, msg = _check(spark, op)
    assert ok, f"{op} under {config}: {msg}"


def test_dedup_concurrent_builds(spark):
    """Both operators built at once in one session give the oracle's
    pairs: neither persists anything or shares state with the other."""
    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(_check, spark, op) for op in sorted(OPERATORS)]
        results = [f.result(timeout=600) for f in futures]
    assert results == [(True, "ok")] * 2, results


def _oracle_rows(sql, rows):
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        if rows:
            con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


SEVEN_WORDS = "alpha beta gamma delta epsilon zeta eta"


@pytest.mark.parametrize(
    "rows, pairs",
    [
        (
            [(1, None), (2, None), (3, ""), (4, ""), (5, SEVEN_WORDS), (6, SEVEN_WORDS)],
            {("3", "4"), ("5", "6")},
        ),
        ([], set()),
    ],
    ids=["null_and_empty_text", "empty_corpus"],
)
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_dedup_degenerate_corpus(spark, op, rows, pairs):
    """NULL text shingles to a NULL, which matches nothing (two
    NULL-text docs are not a pair); two empty texts share the empty
    shingle and are one."""
    build, oracle = OPERATORS[op]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(map(tuple, build(docs, threshold=0.0).collect()))
    assert got == _oracle_rows(oracle(threshold=0.0), rows)
    assert {g[:2] for g in got} == pairs


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_duplicated_doc_id_rows(spark, op):
    """A doc_id listed twice is one document, as in the oracle's
    distinct (doc_id, shingle) relation: no self-pair, and shared
    shingles and set sizes counted once."""
    build, oracle = OPERATORS[op]
    words = [f"w{i}" for i in range(20)]
    t, t2 = " ".join(words), " ".join(words[:-1] + ["changed"])
    rows = [(1, t), (1, t), (2, t2)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(map(tuple, build(docs, threshold=0.0).collect()))
    assert got == _oracle_rows(oracle(threshold=0.0), rows)
    want = {"minhash": ("1", "2", 0.88235), "ngram": ("1", "2", 15, 16, 16, 0.88235)}
    assert got == [want[op]]
