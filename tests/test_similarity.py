import pytest

from renet2_spark import oracles
from renet2_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_lsh_recall_vs_brute(spark):
    """ann_topk_lsh must reach >=50% recall@5 against the exact
    baseline. Uniform random 64-d embeddings are LSH's worst case
    (top-5 cosine ~0.3 -> near-uniform bucket collision); 8 tables x
    4 planes gives ~0.65 expected recall there, and far more on real
    clustered embeddings."""
    brute = sim.ann_topk_brute(_emb(spark)).collect()
    lsh = sim.ann_topk_lsh(_emb(spark), n_planes=4, n_tables=8).collect()
    b = {(r["query_id"], r["neighbor_id"]) for r in brute}
    l = {(r["query_id"], r["neighbor_id"]) for r in lsh}
    assert len(b) == 100
    recall = len(b & l) / len(b)
    assert recall >= 0.5, f"LSH recall@5 too low: {recall}"


def test_brute_topk_ranks_are_dense(spark):
    rows = sim.ann_topk_brute(_emb(spark), k=3, n_queries=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == set(range(5))
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3]


def test_ivf_recall_vs_brute(spark):
    from renet2_spark.operators import similarity as sim
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in sim.ann_topk_brute(emb).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in sim.ann_topk_ivf(emb).collect()}
    assert brute
    assert len(ivf & brute) / len(brute) >= 0.5
    # every IVF result is a true vector pair with correct rank order
    per_q = {}
    for r in sim.ann_topk_ivf(emb).collect():
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, rows in per_q.items():
        rows.sort()
        assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))


def test_ivf_centroids_deterministic(spark):
    import numpy as np

    from renet2_spark.operators import similarity as sim
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    c1 = sim.ivf_centroids(emb)
    c2 = sim.ivf_centroids(emb.repartition(7))
    assert np.allclose(c1, c2)


def test_frozen_ivf_centroids_match_sf001(spark):
    """The oracle's frozen centroid literals must equal what
    ivf_centroids trains on the sf0.01 embeddings — guards both the
    trainer's determinism and literal drift (q_ann_topk_ivf is an
    exact oracle only while these agree)."""
    import numpy as np

    from renet2_spark.oracles import _IVF_CENTROIDS_SF001
    from renet2_spark.operators.similarity import ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = ivf_centroids(emb)
    frozen = np.array(_IVF_CENTROIDS_SF001, dtype=np.float64)
    assert got.shape == frozen.shape
    assert np.array_equal(got, frozen)


def test_ivf_centroids_degenerate_inputs(spark):
    """ADVICE #3: empty sample -> clear error; short sample -> clamped
    centroid count, not a silent short matrix."""
    import numpy as np
    import pytest

    from renet2_spark.operators.similarity import ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="empty sample"):
        ivf_centroids(emb.filter("vec_id < 0"))
    c = ivf_centroids(emb.filter("vec_id < 3"))
    assert c.shape[0] == 3  # clamped to the sample size
    assert np.isfinite(c).all()


def test_lsh_buckets_rejects_wrong_dim(spark):
    """A vector whose length is not `dim` used to hash to the all-'0'
    bucket in every table (zip_with pads with NULL, so every dot was
    NULL): 200 random 32-d vectors filled ONE bucket per table, and the
    bucket cap dropped all but 256 ids without a count. Now it raises,
    naming both lengths; the right dim spreads the same vectors, and a
    NULL embedding keeps the all-'0' bucket."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(0)
    schema = "vec_id long, embedding array<double>"
    for d in (32, 128):
        emb = spark.createDataFrame(
            [(i, rng.randn(d).tolist()) for i in range(200)], schema
        )
        with pytest.raises(Exception, match=f"length {d}, expected dim=64"):
            sim.lsh_buckets(emb).collect()
        spread = sim.lsh_buckets(emb, dim=d).groupBy("table").agg(
            F.countDistinct("bucket").alias("n")
        )
        assert all(r["n"] > 50 for r in spread.collect())
    nulls = spark.createDataFrame([(0, None)], schema)
    assert {r["bucket"] for r in sim.lsh_buckets(nulls).collect()} == {"0" * 8}


BLOCKED_CASES = {
    "dedup_t0.4": (
        lambda e: sim.dedup_embedding_lsh(e, threshold=0.4),
        lambda: oracles.q_dedup_embedding_lsh(threshold=0.4),
        49,
    ),
    # the cap binds: the largest bucket has 52 members
    "dedup_t0.2_cap3": (
        lambda e: sim.dedup_embedding_lsh(e, threshold=0.2, max_bucket_size=3),
        lambda: oracles.q_dedup_embedding_lsh(threshold=0.2, max_bucket=3),
        31,
    ),
    # 99 rows uncapped
    "ann_topk_cap2": (
        lambda e: sim.ann_topk_lsh(e, max_bucket_size=2),
        lambda: oracles.q_ann_topk_lsh(max_bucket=2),
        74,
    ),
}


@pytest.mark.parametrize("name", sorted(BLOCKED_CASES))
def test_blocked_embedding_paths_match_oracle(spark, name):
    """Exact parity of the LSH-blocked embedding paths on cases that
    return rows (the driver's dedup_embedding_lsh, threshold 0.9,
    returns none at sf0.001 or sf0.01, so its parity compares two empty
    sets)."""
    build, sql, n_rows = BLOCKED_CASES[name]
    df = build(_emb(spark))
    assert df.count() == n_rows
    ok, msg = compare(df, sql(), SF_SMOKE)
    assert ok, f"{name}: {msg}"
