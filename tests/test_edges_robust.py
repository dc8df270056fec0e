"""The flagship and neural edge plans do not depend on plan shape or
on other builds in the same session, and degenerate corpora yield no
edges.

Config matrix: tests.conftest.CONFIG_MATRIX."""

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from renet2_spark.corpus import raw_text_twin
from renet2_spark.oracles import q_edges, q_edges_neural_golden
from renet2_spark.plans.pipeline import (
    build_edges,
    build_edges_neural,
    run_neural,
)
from tests.conftest import CONFIG_MATRIX, SF_SMOKE, sql_conf
from tests.oracle_utils import compare

def _edges(spark, docs=None):
    if docs is None:
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return build_edges(spark, docs, corpus="packed")


@pytest.mark.parametrize("name", sorted(CONFIG_MATRIX))
def test_build_edges_config_matrix(spark, name):
    with sql_conf(spark, CONFIG_MATRIX[name]):
        ok, msg = compare(_edges(spark), q_edges(), SF_SMOKE)
    assert ok, f"{name}: {msg}"


def test_build_edges_concurrent_builds(spark):
    """Two builds running at once in one session must not disturb
    each other (no shared cache registry on the edge path)."""
    with ThreadPoolExecutor(2) as pool:
        futures = [
            pool.submit(lambda: compare(_edges(spark), q_edges(), SF_SMOKE))
            for _ in range(2)
        ]
        results = [f.result(timeout=600) for f in futures]
    assert results == [(True, "ok")] * 2, results


@pytest.mark.parametrize("name", sorted(CONFIG_MATRIX))
def test_build_edges_neural_config_matrix(spark, name):
    with sql_conf(spark, CONFIG_MATRIX[name]):
        ok, msg = compare(
            run_neural(spark, SF_SMOKE), q_edges_neural_golden(), SF_SMOKE
        )
    assert ok, f"{name}: {msg}"


def test_build_edges_neural_concurrent_builds(spark):
    """Two neural builds running at once in one session must not
    disturb each other (no shared cache registry on the neural path
    either)."""
    def build():
        return compare(
            run_neural(spark, SF_SMOKE), q_edges_neural_golden(), SF_SMOKE
        )

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(build) for _ in range(2)]
        results = [f.result(timeout=600) for f in futures]
    assert results == [(True, "ok")] * 2, results


# the flagship over every routing, and the neural plan over both
# declared contracts (its auto routing is the flagship's _route)
_BUILDS = [
    *(pytest.param(build_edges, c, id=c) for c in ("auto", "packed", "raw")),
    *(
        pytest.param(build_edges_neural, c, id=f"neural-{c}")
        for c in ("packed", "raw")
    ),
]


@pytest.mark.parametrize("build, corpus", _BUILDS)
def test_build_edges_empty_corpus(spark, build, corpus):
    docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert build(spark, docs, corpus=corpus).collect() == []


@pytest.mark.parametrize("build, corpus", _BUILDS)
def test_build_edges_null_text_doc(spark, build, corpus):
    """A NULL-text document contributes no edges, leaves the edges of
    the documents beside it unchanged and does not flip auto routing.
    The raw case runs on the punctuated twin. The flagship scorer reads
    counts only, so the twin's edges equal the packed corpus's; the
    neural encoder also reads the twin's '!' tokens, so its reference
    is the twin without the NULL document."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.col("doc_id").cast("string"), "text")
        .orderBy("doc_id")
        .limit(20)
    )
    with_null = docs.unionByName(
        spark.createDataFrame([("-1", None)], "doc_id string, text string")
    )
    if corpus == "raw":
        with_null = raw_text_twin(with_null)
    if build is build_edges_neural and corpus == "raw":
        want = sorted(build(spark, raw_text_twin(docs), corpus="raw").collect())
    else:
        want = sorted(build(spark, docs, corpus="packed").collect())
    got = sorted(build(spark, with_null, corpus=corpus).collect())
    assert want and got == want
    only_null = with_null.filter("text IS NULL")
    assert build(spark, only_null, corpus=corpus).collect() == []
