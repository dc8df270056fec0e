"""Embedding similarity: near-dup pairs and top-k search over an
embedding column, all verified by one exact cosine.

* :func:`dedup_embedding` / :func:`ann_topk_brute` — exact pairwise
  cosine; the correctness baselines.
* :func:`dedup_embedding_lsh` / :func:`ann_topk_lsh` — random-hyperplane
  LSH (:func:`lsh_buckets`): candidates only within a shared signature
  bucket (multi-probe via several independent tables), bucket
  membership capped (dedup.cap_hot_buckets). Dedup blocks its buckets
  with dedup.blocked_pairs, on the bucket fan-out minhash uses.
* :func:`ann_topk_ivf` — inverted file: queries probe their 3 nearest
  centroid buckets.

One verify for all of them: each side's id, vector and L2 norm are
projected ONCE (:func:`_side`) before the pairwise join, then
cos = round(dot / (norm_a * norm_b), 5) (:func:`_with_cos`) — bitwise
the oracle's list cosine (same sub-expressions, same association). LSH
and IVF top-k share the candidate step and re-rank
(:func:`_probe_topk`); they differ only in how the probe keys are
made. Every result is exact against a DuckDB oracle.

Scale: brute force is O(n*q) — fine when the query set is small or as
a final re-rank; the LSH and IVF paths turn global search into
per-bucket local search. Hyperplanes are deterministic (seeded numpy,
broadcast as literal arrays), so results are stable across
runs/executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import MAX_LSH_BUCKET, blocked_pairs, cap_hot_buckets


def vec_dot(a, b):
    """Sequential-fold double dot product (bit-compatible with the
    DuckDB oracle's list fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def vec_norm(v):
    """Sequential-fold double L2 norm."""
    return F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _side(emb: DataFrame, name: str) -> DataFrame:
    """One side of a pairwise verify: (name, name_e, name_n) — the id,
    the vector and its L2 norm, computed ONCE per row, not once per
    pair (the interpreted norm folds would triple the per-pair work)."""
    return emb.select(
        F.col("vec_id").alias(name),
        F.col("embedding").alias(f"{name}_e"),
        vec_norm(F.col("embedding")).alias(f"{name}_n"),
    )


def _with_cos(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Adds cos over pairs carrying both _side projections a and b,
    rounded to 5 places as in the DuckDB oracle."""
    dot = vec_dot(F.col(f"{a}_e"), F.col(f"{b}_e"))
    return pairs.withColumn(
        "cos", F.round(dot / (F.col(f"{a}_n") * F.col(f"{b}_n")), 5)
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cos): the k best neighbors per
    query by cos, ties broken on the lower neighbor id."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _probe_topk(
    qkeys: DataFrame, ckeys: DataFrame, on: str | list[str], emb: DataFrame,
    k: int,
) -> DataFrame:
    """Approximate top-k from probe keys: candidates are the distinct
    (query_id, neighbor_id) pairs whose query keys (qkeys) equal corpus
    keys (ckeys) on `on`, self excluded, re-ranked by exact cosine."""
    cand = (
        qkeys.join(ckeys, on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    pairs = cand.join(_side(emb, "query_id"), "query_id").join(
        _side(emb, "neighbor_id"), "neighbor_id"
    )
    return _topk(_with_cos(pairs, "query_id", "neighbor_id"), k)


def _floored(embeddings: DataFrame) -> DataFrame:
    """Scan-parallelism floor for the similarity operators (r7, guide
    §2.6/§6): the sandbox's single-split embeddings file otherwise
    runs the whole interpreted-fold cosine work in ONE task (measured:
    ann_topk_brute spent 0.72 of its 1.4s wall in a single task).
    No-op on any multi-split input (ingest_parallelism_floor guard)."""
    from ..corpus import ingest_parallelism_floor

    return ingest_parallelism_floor(
        embeddings, embeddings.sparkSession, key="vec_id"
    )


def ann_topk_brute(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 20,
) -> DataFrame:
    """Top-k cosine neighbors for vec_id < n_queries:
    (query_id, rank, neighbor_id, cos). Deterministic tie-break on
    neighbor id. Exact: every query scores every other vector."""
    emb = _floored(embeddings)
    q = _side(emb.filter(F.col("vec_id") < n_queries), "query_id")
    pairs = q.join(
        _side(emb, "neighbor_id"), F.col("query_id") != F.col("neighbor_id")
    )
    return _topk(_with_cos(pairs, "query_id", "neighbor_id"), k)


def dedup_embedding(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-dup pairs: (vec_a, vec_b, cos). Brute
    pairwise here (oracle-checkable); the scale path is
    dedup_embedding_lsh."""
    pairs = _side(embeddings, "vec_a").join(
        _side(embeddings, "vec_b"), F.col("vec_a") < F.col("vec_b")
    )
    return (
        _with_cos(pairs, "vec_a", "vec_b")
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def lsh_buckets(
    embeddings: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """(vec_id, table, bucket) — sign-pattern bucket per hash table.
    Planes are literal arrays → whole-stage codegen dot products; table
    t's planes are seeded 42 + t.

    A non-NULL embedding whose length is not `dim` raises: zip_with
    would pad the shorter side with NULL, every dot product would be
    NULL and every bit '0', so the whole input would land in ONE bucket
    per table and the bucket cap would drop all but its lowest ids. A
    NULL embedding gets the all-'0' bucket and never verifies."""
    emb = F.col("embedding")
    out = []
    for t in range(n_tables):
        bits = [
            F.when(vec_dot(emb, F.array(*map(F.lit, p))) >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            for p in _hyperplanes(dim, n_planes, 42 + t)
        ]
        out.append(
            F.struct(F.lit(t).alias("table"), F.concat(*bits).alias("bucket"))
        )
    wrong_dim = F.raise_error(
        F.concat(
            F.lit("lsh_buckets: vec_id "), F.col("vec_id").cast("string"),
            F.lit(" has an embedding of length "), F.size(emb).cast("string"),
            F.lit(f", expected dim={dim}"),
        )
    )
    tables = F.when(emb.isNotNull() & (F.size(emb) != dim), wrong_dim).otherwise(
        F.array(*out)
    )
    return embeddings.select("vec_id", F.explode(tables).alias("tb")).select(
        "vec_id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


def dedup_embedding_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Scale path for embedding near-dup: candidates are the pairs
    sharing a random-hyperplane LSH bucket (lsh_buckets, 8 tables of 4
    planes), blocked by dedup.blocked_pairs — bucket membership capped
    at max_bucket_size (lowest vec_id kept) — then exact-cosine
    verified. Same output
    schema as dedup_embedding; approximate recall (measured vs the
    brute-force baseline in tests), O(n * min(bucket, cap)) instead of
    O(n^2). Integer vec_ids sort numerically, so vec_a < vec_b."""
    buckets = lsh_buckets(embeddings, n_planes=4, n_tables=8)
    cand = blocked_pairs(
        buckets, ["table", "bucket"], "vec_id", max_bucket_size
    ).toDF("vec_a", "vec_b")
    pairs = cand.join(_side(embeddings, "vec_a"), "vec_a").join(
        _side(embeddings, "vec_b"), "vec_b"
    )
    return (
        _with_cos(pairs, "vec_a", "vec_b")
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def ivf_centroids(embeddings: DataFrame) -> np.ndarray:
    """Deterministic mini k-means (cosine/spherical) over a BOUNDED
    content-hash sample: rows are ranked by md5('ivf:' || vec_id) and
    the first 512 taken (r5 verdict #3 — the old id-PREFIX
    sample biased centroids toward whatever the low ids contained;
    the hash rank is a uniform draw over the WHOLE corpus, stays a
    tiny driver-side collect at any corpus size — orderBy+limit plans
    as TakeOrderedAndProject, per-partition top-K then a driver-side
    merge, no global sort materializes — and is deterministic across
    runs/partitionings, ties broken by vec_id). 5 Lloyd iterations run
    in NumPy on the driver and the resulting [C, d] centroid matrix
    broadcasts; C = 8, fewer if the sample is smaller. Initialization
    = first C sample vectors (hash order) — seed-free and stable."""
    key = F.md5(F.concat(F.lit("ivf:"), F.col("vec_id").cast("string")))
    rows = (
        embeddings.select("vec_id", "embedding", key.alias("_k"))
        .orderBy("_k", "vec_id")
        .limit(512)
        .select("embedding")
        .collect()
    )
    if not rows:
        raise ValueError(
            "ivf_centroids: embeddings table has no rows — cannot seed "
            "centroids from an empty sample"
        )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    # fewer sample vectors than centroids: clamp to the sample
    n_centroids = min(8, len(x))
    c = x[:n_centroids].copy()
    for _ in range(5):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(n_centroids):
            m = x[assign == j]
            if len(m):
                c[j] = m.mean(axis=0)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def _ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """Vectorized pandas UDF: embedding -> array of the nprobe nearest
    centroid ids (one batched matmul per Arrow batch)."""
    from pyspark.sql import types as T

    c = centroids.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(emb: pd.Series) -> pd.Series:
        x = np.array(emb.tolist(), dtype=np.float64)
        # no query normalization: argsort of x.c is scale-invariant,
        # and skipping the divide keeps the dot bit-comparable with
        # the DuckDB oracle's list_dot_product(embedding, centroid)
        sims = x @ c.T
        # stable sort pins dot ties to ascending centroid id — the
        # same tie rule the DuckDB oracle's row_number uses
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(int).tolist() for row in top])

    return probe


def ann_topk_ivf(embeddings: DataFrame) -> DataFrame:
    """IVF approximate top-5 for vec_id < 20 (the second scale path
    next to LSH): vectors are bucketed by nearest of 8 centroids
    (inverted file), queries probe their 3 nearest centroid buckets,
    candidates are exact re-ranked. Global search becomes a
    centroid-keyed equi-join — candidate generation is O(n * 3 / 8)
    per query instead of O(n). Approximate: recall vs the brute baseline asserted in
    tests/test_similarity.py; rows-only in the driver contract."""
    cents = ivf_centroids(embeddings)
    probe = _ivf_probe_udf(cents, 3)
    assign1 = _ivf_probe_udf(cents, 1)
    inv = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(assign1(F.col("embedding"))).alias("cid"),
    )
    qprobe = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe(F.col("embedding"))).alias("cid"),
    )
    return _probe_topk(qprobe, inv, "cid", embeddings, 5)


def ann_topk_lsh(
    embeddings: DataFrame,
    max_bucket_size: int = MAX_LSH_BUCKET,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-5 for vec_id < 20: candidates = vectors sharing
    any LSH bucket (lsh_buckets) with the query, re-ranked by exact
    cosine. The CORPUS side of the bucket join is capped at
    max_bucket_size members per (table, bucket) (dedup.cap_hot_buckets
    — lowest vec_id kept, mirrored in the oracle), bounding a hot
    bucket's candidate fan-out at O(20 * cap) instead of O(20 * N); the
    query side is never capped, so every query still probes."""
    buckets = lsh_buckets(embeddings, n_planes=n_planes, n_tables=n_tables)
    qb = buckets.filter(F.col("vec_id") < 20)
    cb = cap_hot_buckets(buckets, ["table", "bucket"], "vec_id", max_bucket_size)
    return _probe_topk(
        qb.withColumnRenamed("vec_id", "query_id"),
        cb.withColumnRenamed("vec_id", "neighbor_id"),
        ["table", "bucket"],
        embeddings,
        5,
    )
