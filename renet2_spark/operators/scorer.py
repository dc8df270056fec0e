"""Deterministic ensemble scorer + ensemble vote.

The reference scores every candidate pair with an ensemble of 10
CNN+BiGRU classifiers, one sequential full pass per model with a TSV
round-trip between them (src/renet2/predict.py:63-118), then
outer-merges the 10 result frames, computes hit_cnt and prob_avg, and
thresholds hit_cnt >= max(1, N//2) (predict.py:104-140, cutoff at
122-124).

This module keeps the exact ensemble/vote/format semantics but with a
**calibrated piecewise-linear scorer** whose logit is a deterministic
function of the pair evidence features — fully expressible in ANSI SQL
so the DuckDB oracle can verify it bit-for-bit (pure IEEE arithmetic,
no libm). The real neural scorer (NumPy CNN+BiGRU over Arrow batches,
reference model.py:289-450) lives in operators/neural.py and plugs
into the same vote stage.

Spark-first restructure (SURVEY §4): instead of N passes + N files +
N-way outer join, all N model scores are computed in ONE row-local
projection (score_and_vote) — zero shuffle, zero extra scans; the
ensemble collapse that was the reference's biggest algorithmic cost
disappears into whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

N_MODELS = 10  # reference predict.py:316
# vote cutoff max(1, N//2); sensitive mode uses 1 (predict.py:122-124)
CUTOFF = max(1, N_MODELS // 2)

# logit coefficients of the deterministic ensemble member i
W_COOC, W_CNT, BIAS, MODEL_STEP = 1.2, 0.2, -3.0, -0.3


def _vote(df: DataFrame, cols: list[str], ps: list[str], cutoff: int) -> DataFrame:
    """`cols` plus hit_cnt / prob_avg / prob_X over the N_MODELS
    per-model prob expressions `ps`, filtered by the vote cutoff
    (reference predict.py:104-140; a model votes when its prob > 0.5,
    train.py:564). The prob sum is a left fold from 0.0; prob_X keeps
    model order with ';' join and 5-decimal formatting
    (predict.py:131-136, format '{:,.5f}')."""
    hit = " + ".join(f"CASE WHEN {p} > 0.5D THEN 1 ELSE 0 END" for p in ps)
    total = "0.0D"
    for p in ps:
        total = f"({total} + {p})"
    fmt = ", ".join(f"format_number({p}, 5)" for p in ps)
    return df.selectExpr(
        *cols,
        f"CAST({hit} AS INT) AS hit_cnt",
        f"round({total} / {float(N_MODELS)}D, 5) AS prob_avg",
        f"concat_ws(';', {fmt}) AS prob_X",
    ).where(f"hit_cnt >= {cutoff}")


def score_and_vote(pairs: DataFrame, cutoff: int = CUTOFF) -> DataFrame:
    """Fused deterministic scorer + ensemble vote with zero lambda
    HOFs (Spark evaluates HOF lambdas interpreted — measured hot in
    the reduce stage). Model i's prob is the piecewise-linear
    'sigmoid' clamp(0.5 + logit_i / 8, 0, 1), logit_i = (W_COOC *
    n_cooc + W_CNT * (n_g + n_d)) + BIAS + MODEL_STEP * i, with the
    model-independent prefix `_base` computed once. Adds hit_cnt,
    prob_avg, prob_X (_vote); filters by the vote cutoff.

    Built from SQL strings, one per projection and one for the filter:
    every Column-API call is one or more Py4J round trips, and the
    equivalent Column tree cost ~400 of them, the largest part of
    build_edges' driver-side construction."""
    base = (
        f"({W_COOC}D * CAST(n_cooc_sents AS DOUBLE)"
        f" + {W_CNT}D * (CAST(n_g AS DOUBLE) + CAST(n_d AS DOUBLE)))"
        f" + ({BIAS}D)"
    )
    probs = [
        f"greatest(0.0D, least(1.0D, 0.5D"
        f" + (_base + ({MODEL_STEP}D) * {float(i)}D) / 8.0D)) AS _p{i}"
        for i in range(N_MODELS)
    ]
    cols = [f"`{c}`" for c in pairs.columns]
    scored = pairs.selectExpr("*", f"{base} AS _base").selectExpr(*cols, *probs)
    return _vote(scored, cols, [f"_p{i}" for i in range(N_MODELS)], cutoff)


def ensemble_vote(scored: DataFrame, cutoff: int = CUTOFF) -> DataFrame:
    """The vote of score_and_vote (_vote) over a `probs` array of
    N_MODELS per-model probabilities (the neural scorer's output),
    read by index: no lambda."""
    cols = [f"`{c}`" for c in scored.columns]
    return _vote(scored, cols, [f"probs[{i}]" for i in range(N_MODELS)], cutoff)
