"""Golden test for the neural scorer: an independent driver-side NumPy
oracle recomputes every pair's ensemble probabilities from the raw
parquet (via DuckDB, no Spark), and the resulting triples must match
the Spark pipeline at P/R >= 0.95 (BASELINE north_rule; in practice
they match exactly). Plus batching-invariance: results must not depend
on Arrow batch boundaries."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from renet2_spark.dictionaries import (
    DISEASE_CANON,
    GENE_CANON,
    WORD_INDEX,
)
from renet2_spark.operators.neural import N_MODELS, score_batch
from renet2_spark.plans.pipeline import build_edges_neural, run_neural
from renet2_spark.operators.scorer import CUTOFF
from tests.conftest import SF_SMOKE


def numpy_oracle_triples(sf_dir: str):
    """Independent recompute: pandas/duckdb corpus derivation ->
    tensors -> score_batch -> vote. Shares only the math kernel
    (score_batch) with the pipeline, not any Spark plan."""
    docs = duckdb.sql(
        f"SELECT CAST(doc_id AS VARCHAR) doc_id, \"text\" "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()
    oov = WORD_INDEX["[X]"]
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split(" ")
        sents = [words[i : i + 10] for i in range(0, len(words), 10)]
        tok_ids = [[WORD_INDEX.get(w, oov) for w in s] for s in sents]
        ments, genes, diseases = [], {}, {}
        for si, s in enumerate(sents):
            for ti, w in enumerate(s):
                if w in GENE_CANON:
                    ments.append(
                        {"sent_no": si, "tok_no": ti, "type": "Gene",
                         "entity_id": GENE_CANON[w]}
                    )
                    genes.setdefault(GENE_CANON[w], set()).add(si)
                elif w in DISEASE_CANON:
                    ments.append(
                        {"sent_no": si, "tok_no": ti, "type": "Disease",
                         "entity_id": DISEASE_CANON[w]}
                    )
                    diseases.setdefault(DISEASE_CANON[w], set()).add(si)
        for g, gs in genes.items():
            for d, ds in diseases.items():
                if gs & ds:  # sentence co-occurrence candidates
                    rows.append(
                        {"doc_id": doc_id, "gene_id": g, "disease_id": d,
                         "tok_ids": tok_ids, "ments": ments}
                    )
    pdf = pd.DataFrame(rows)
    triples = set()
    for lo in range(0, len(pdf), 512):
        chunk = pdf.iloc[lo : lo + 512].reset_index(drop=True)
        probs = score_batch(chunk)
        hits = (probs > 0.5).sum(axis=1)
        for i in np.nonzero(hits >= CUTOFF)[0]:
            r = chunk.iloc[int(i)]
            triples.add((r["doc_id"], r["gene_id"], r["disease_id"]))
    return triples


@pytest.fixture(scope="module")
def oracle_triples():
    return numpy_oracle_triples(SF_SMOKE)


def test_neural_pipeline_matches_numpy_oracle(spark, oracle_triples):
    got = {
        (r["doc_id"], r["gene_id"], r["disease_id"])
        for r in run_neural(spark, SF_SMOKE).collect()
    }
    assert oracle_triples, "oracle produced no positives — fixture broken"
    inter = got & oracle_triples
    precision = len(inter) / len(got) if got else 0.0
    recall = len(inter) / len(oracle_triples)
    # north_rule gate (reference metric: inner join on id triple,
    # benchmark/calculate_metrics_with_input.py:21-26)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_batching_invariance(spark, oracle_triples):
    """Arrow batch boundaries (and thus partitioning) must not change
    any score: run with tiny batches and compare the full edge set."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        small = {
            tuple(r) for r in build_edges_neural(spark, docs)
            .select("doc_id", "gene_id", "disease_id", "prob_avg")
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    big = {
        tuple(r) for r in build_edges_neural(spark, docs)
        .select("doc_id", "gene_id", "disease_id", "prob_avg")
        .collect()
    }
    assert small == big


def test_ensemble_members_differ():
    """10 seeded models must not be identical (vote must be an
    actual ensemble)."""
    pdf = pd.DataFrame(
        [{
            "doc_id": "x",
            "gene_id": "1002",
            "disease_id": "D0001",
            "tok_ids": [[13, 22, 1], [4, 13, 22]],
            "ments": [
                {"sent_no": 0, "tok_no": 0, "type": "Gene", "entity_id": "1002"},
                {"sent_no": 0, "tok_no": 1, "type": "Disease", "entity_id": "D0001"},
            ],
        }]
    )
    probs = score_batch(pdf)[0]
    assert probs.shape == (N_MODELS,)
    assert len(set(np.round(probs, 6))) > 5


def test_entity_remap_mx_cap():
    """MX_id_n=20 per-doc entity remap (reference raw.py:1223-1226):
    genes 1..20 in first-occurrence order, 21st+ gene -> 20; diseases
    21..40, 21st+ disease -> 20 (the reference's exact overflow)."""
    from renet2_spark.operators.neural import MX_ID_N, entity_remap

    ments = [
        {"sent_no": 0, "tok_no": t, "type": "Gene", "entity_id": f"g{t}"}
        for t in range(25)
    ] + [
        {"sent_no": 1, "tok_no": t, "type": "Disease", "entity_id": f"d{t}"}
        for t in range(25)
    ]
    remap = entity_remap(ments)
    assert remap[("Gene", "g0")] == 1
    assert remap[("Gene", "g19")] == 20
    assert remap[("Gene", "g20")] == MX_ID_N  # overflow -> 20
    assert remap[("Gene", "g24")] == MX_ID_N
    assert remap[("Disease", "d0")] == MX_ID_N + 1
    assert remap[("Disease", "d19")] == 2 * MX_ID_N
    assert remap[("Disease", "d24")] == MX_ID_N  # reference overflow quirk


def test_entity_remap_applied_in_tensors():
    """Entity positions' token ids move into the reserved range and are
    insensitive to ments ordering (remap sorts by (sent, tok))."""
    from renet2_spark.operators.neural import ENT_BASE, build_pair_tensors

    ments = [
        {"sent_no": 0, "tok_no": 1, "type": "Disease", "entity_id": "D1"},
        {"sent_no": 0, "tok_no": 0, "type": "Gene", "entity_id": "g1"},
    ]
    tok, feat = build_pair_tensors([[5, 6, 7]], ments, "g1", "D1")
    assert tok[0, 0] == ENT_BASE + 1       # first gene -> index 1
    assert tok[0, 1] == ENT_BASE + 21      # first disease -> MX+1
    assert tok[0, 2] == 7                  # plain token untouched
    tok2, _ = build_pair_tensors([[5, 6, 7]], list(reversed(ments)), "g1", "D1")
    assert (tok == tok2).all()


def test_vocab_ids_large_vocab_equals_dict_get():
    """The encoder's one vocabulary lookup over a vocabulary larger
    than 1,024 entries: every word, the empty words of repeated and
    edge spaces included, maps exactly as dict.get(w, oov) over
    s.split(" ")."""
    from renet2_spark.operators.neural import vocab_ids

    vocab = {f"w{i}": i + 1 for i in range(3000)}
    vocab["[X]"] = 3001
    sents = ["w0 w1 w2999", "w5  unknown   w7", " w3 ", "", "zzz"]
    oov = vocab["[X]"]
    want = [[vocab.get(w, oov) for w in s.split(" ")] for s in sents]
    assert vocab_ids([s.split(" ") for s in sents], vocab) == want
    assert want[1] == [6, oov, oov, oov, oov, 8]
    assert vocab_ids([], vocab) == []


def _jobs_in_group(spark, group: str, fn) -> list:
    """The ids of the Spark jobs `fn()` starts, under job group `group`."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_build_edges_neural_rejects_bad_mode_before_persisting(spark):
    """An unknown mode raises before any job runs. A count under a
    second job group shows that a job would be seen."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def bad_modes():
        for corpus in ("packed", "auto"):
            with pytest.raises(ValueError, match="mode"):
                build_edges_neural(spark, docs, corpus=corpus, mode="bogus")

    assert _jobs_in_group(spark, "neural-bad-mode", bad_modes) == []
    assert _jobs_in_group(spark, "neural-count", docs.count)


def test_building_auto_plans_runs_no_job(spark):
    """corpus='auto' routes inside the plan: building the edge, node
    and neural plans starts no Spark job; running one does."""
    from renet2_spark.plans.pipeline import build_edges, build_nodes

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plans = []

    def build():
        for b in (build_edges, build_nodes, build_edges_neural):
            plans.append(b(spark, docs, corpus="auto"))

    assert _jobs_in_group(spark, "auto-build", build) == []
    assert len(plans) == 3
    assert _jobs_in_group(spark, "auto-run", plans[1].count)


def test_fulltext_mode_tensor_shape():
    """Verdict #6: the ft/abs input-shape switch (reference fix_snt_n,
    predict.py:291-294 — abs 32, ft 400). A 450-sentence document must
    cap at 32 sentences in abstract mode and 400 in full-text mode;
    token cap (54) is shared."""
    from renet2_spark.operators.neural import (
        MAX_SENTS,
        MAX_SENTS_FT,
        MAX_TOKENS,
        build_pair_tensors,
    )

    assert (MAX_SENTS, MAX_SENTS_FT, MAX_TOKENS) == (32, 400, 54)
    tok_ids = [[1, 2, 3] for _ in range(450)]
    ments = [
        {"sent_no": 350, "tok_no": 1, "type": "Gene", "entity_id": "g1"},
        {"sent_no": 350, "tok_no": 2, "type": "Disease", "entity_id": "d1"},
    ]
    tok_abs, feat_abs = build_pair_tensors(tok_ids, ments, "g1", "d1")
    assert tok_abs.shape == (32, 3) and feat_abs.shape == (32, 3)
    assert feat_abs.sum() == 0  # sentence 350 is beyond the abs window
    tok_ft, feat_ft = build_pair_tensors(
        tok_ids, ments, "g1", "d1", max_sents=MAX_SENTS_FT
    )
    assert tok_ft.shape == (400, 3) and feat_ft.shape == (400, 3)
    assert feat_ft[350, 1] == 5 and feat_ft[350, 2] == 4  # targets coded
    # long-token sentences still cap at MAX_TOKENS via the caller shape
    wide = [[1] * 80 for _ in range(3)]
    tok_w, _ = build_pair_tensors(wide, [], "g", "d")
    assert tok_w.shape == (3, MAX_TOKENS)


def test_fulltext_mode_end_to_end(spark):
    """Both modes must run the full neural pipeline; on this corpus
    (max 32-sentence docs at smoke scale? -> verify dynamically) ft
    widens or preserves evidence, never loses it."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    abs_rows = build_edges_neural(spark, docs, mode="abs").count()
    ft_rows = build_edges_neural(spark, docs, mode="ft").count()
    assert abs_rows > 0 and ft_rows > 0


def _independent_pair_tensor_digest(sf_dir: str) -> tuple[int, str]:
    """Independent recompute of the encode-stage digest: DuckDB corpus
    derivation + python candidate generation (shares only the tensor
    math kernel with the engine, same precedent as
    numpy_oracle_triples)."""
    import hashlib

    from renet2_spark.operators.neural import (
        build_pair_tensors,
        tensor_digest,
    )

    docs = duckdb.sql(
        f"SELECT CAST(doc_id AS VARCHAR) doc_id, \"text\" "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()
    oov = WORD_INDEX["[X]"]
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split(" ")
        sents = [words[i : i + 10] for i in range(0, len(words), 10)]
        tok_ids = [[WORD_INDEX.get(w, oov) for w in s] for s in sents]
        ments, genes, diseases = [], {}, {}
        for si, s in enumerate(sents):
            for ti, w in enumerate(s):
                if w in GENE_CANON:
                    ments.append(
                        {"sent_no": si, "tok_no": ti, "type": "Gene",
                         "entity_id": GENE_CANON[w]}
                    )
                    genes.setdefault(GENE_CANON[w], set()).add(si)
                elif w in DISEASE_CANON:
                    ments.append(
                        {"sent_no": si, "tok_no": ti, "type": "Disease",
                         "entity_id": DISEASE_CANON[w]}
                    )
                    diseases.setdefault(DISEASE_CANON[w], set()).add(si)
        for g, gs in genes.items():
            for d, ds in diseases.items():
                if gs & ds:
                    tok, feat = build_pair_tensors(tok_ids, ments, g, d)
                    rows.append(f"{doc_id}|{g}|{d}|{tensor_digest(tok, feat)}")
    rows.sort()
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_pair_tensor_digest_frozen_literals(sf):
    """Drift guard for oracles.PAIR_TENSOR_DIGESTS: the frozen
    (n_pairs, digest) literals must equal an independent recompute at
    both corpus scales — so a corpus or encode change cannot silently
    invalidate the kg_pair_tensors_digest oracle."""
    from renet2_spark.oracles import PAIR_TENSOR_DIGESTS

    got = _independent_pair_tensor_digest(f"/root/testdata/{sf}")
    assert got == PAIR_TENSOR_DIGESTS[sf]


def spark_round(x: float, scale: int = 5) -> float:
    """Replicate Spark's F.round on DoubleType (HALF_UP on the
    shortest-decimal representation, Round -> BigDecimal.valueOf)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def independent_neural_edges(
    sf_dir: str, margin_out: list | None = None
) -> pd.DataFrame:
    """Independent FULL-ROW recompute of the neural flagship output
    (r5 verdict next #1): DuckDB corpus derivation + python candidate
    generation + score_batch forward + python vote/average — shares
    only the score_batch math kernel with the Spark pipeline. Since
    the r6 deterministic kernel (neural.py forward_all: exactly-
    rounded fixed-order ops only, no BLAS/libm), probabilities are
    bitwise independent of batch composition, so prob_avg IS part of
    the frozen surface — the r5 exclusion note no longer applies."""
    docs = duckdb.sql(
        f"SELECT CAST(doc_id AS VARCHAR) doc_id, \"text\" "
        f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()
    oov = WORD_INDEX["[X]"]
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split(" ")
        sents = [words[i : i + 10] for i in range(0, len(words), 10)]
        tok_ids = [[WORD_INDEX.get(w, oov) for w in s] for s in sents]
        ments, genes, diseases, names = [], {}, {}, {}
        for si, s in enumerate(sents):
            for ti, w in enumerate(s):
                eid = GENE_CANON.get(w) or DISEASE_CANON.get(w)
                if eid is None:
                    continue
                typ = "Gene" if w in GENE_CANON else "Disease"
                ments.append(
                    {"sent_no": si, "tok_no": ti, "type": typ,
                     "entity_id": eid}
                )
                (genes if typ == "Gene" else diseases).setdefault(
                    eid, set()
                ).add(si)
                names.setdefault(eid, set()).add(w)
        for g, gs in genes.items():
            for d, ds in diseases.items():
                if gs & ds:
                    rows.append(
                        {"doc_id": doc_id, "gene_id": g, "disease_id": d,
                         "g_name": "|".join(sorted(names[g])),
                         "d_name": "|".join(sorted(names[d])),
                         "tok_ids": tok_ids, "ments": ments}
                    )
    pdf = pd.DataFrame(rows)
    out = []
    for lo in range(0, len(pdf), 512):
        chunk = pdf.iloc[lo : lo + 512].reset_index(drop=True)
        probs = score_batch(chunk)
        if margin_out is not None and len(chunk):
            margin_out.append(float(np.abs(probs - 0.5).min()))
        for i in range(len(chunk)):
            hit = int((probs[i] > 0.5).sum())
            if hit < CUTOFF:
                continue
            # fold the 10 probs left-to-right in float64, like Spark's
            # aggregate(probs, 0.0D, (a, p) -> a + p) in the pipeline
            s = 0.0
            for p in probs[i]:
                s = s + float(p)
            r = chunk.iloc[i]
            out.append(
                {"doc_id": r["doc_id"], "gene_id": r["gene_id"],
                 "predicate": "associated_with",
                 "disease_id": r["disease_id"], "g_name": r["g_name"],
                 "d_name": r["d_name"],
                 "prob_avg": spark_round(s / 10.0),
                 "hit_cnt": np.int32(hit)}
            )
    res = pd.DataFrame(out, columns=["doc_id", "gene_id", "predicate",
                                     "disease_id", "g_name", "d_name",
                                     "prob_avg", "hit_cnt"])
    res["hit_cnt"] = res["hit_cnt"].astype("int32")
    return res.sort_values(
        ["doc_id", "gene_id", "disease_id"], ignore_index=True
    )


GOLDEN_DIR = "/root/repo/tests/golden"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_neural_edges_golden_matches_independent_recompute(sf):
    """Drift guard for the kg_edges_neural row-level golden (the
    driver oracle reads these parquet files): the committed golden
    must equal the independent recompute at both corpus scales —
    bitwise, probability digits included."""
    golden = pd.read_parquet(f"{GOLDEN_DIR}/neural_edges_{sf}.parquet")
    margins: list[float] = []
    got = independent_neural_edges(f"/root/testdata/{sf}", margins)
    pd.testing.assert_frame_equal(golden, got, check_exact=True)
    # r5 ADVICE #2: even with the bitwise-deterministic kernel, guard
    # the frozen golden against a per-model prob sitting AT the 0.5
    # vote cutoff. Bitwise determinism is the primary defense (no
    # reordering can change any bit); this margin catches a prob
    # landing exactly on, or within ~a couple f32 ulps (2^-24 ~ 6e-8
    # at 0.5) of, the strict > comparison — the one place where even
    # a single-ulp environment difference would flip a vote. Measured
    # minima: ~9e-4 at sf0.001, ~5.7e-7 (~10 ulps) at sf0.01.
    margin = min(margins)
    assert margin > 1e-7, f"per-model prob within {margin} of vote cutoff"


def test_neural_pipeline_matches_golden_bitwise(spark):
    """The Spark pipeline must reproduce the frozen golden EXACTLY at
    smoke scale — row set, names, hit counts, and every prob_avg bit
    (possible since the r6 deterministic kernel; this is the local
    replica of the driver's kg_edges_neural hash check)."""
    golden = pd.read_parquet(f"{GOLDEN_DIR}/neural_edges_sf0.001.parquet")
    got = (
        run_neural(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["doc_id", "gene_id", "disease_id"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(golden, got, check_exact=True)


def test_forward_all_bitwise_batch_invariance():
    """Adversarial kernel-level invariance: scoring the same pairs
    under many batch compositions (chunk sizes 1/7/512, shuffled,
    reversed) must give bitwise-identical float probabilities — the
    property the deterministic kernel exists to provide (r5 ADVICE:
    the frozen oracle must not be environment/batching-sensitive)."""
    from renet2_spark.dictionaries import VOCAB_SIZE

    rng = np.random.RandomState(7)
    docs = []
    for i in range(40):
        n_s = 1 + (i % 5)
        tok_ids = [[int(rng.randint(1, VOCAB_SIZE))
                    for _ in range(3 + (i + j) % 8)]
                   for j in range(n_s)]
        ments = [
            {"sent_no": 0, "tok_no": 0, "type": "Gene", "entity_id": f"g{i}"},
            {"sent_no": 0, "tok_no": 1, "type": "Disease",
             "entity_id": f"d{i}"},
        ]
        docs.append({"doc_id": str(i), "gene_id": f"g{i}",
                     "disease_id": f"d{i}", "tok_ids": tok_ids,
                     "ments": ments})
    pdf = pd.DataFrame(docs)

    def score_comp(order, chunk):
        p = pdf.iloc[order].reset_index(drop=True)
        out = {}
        for lo in range(0, len(p), chunk):
            c = p.iloc[lo : lo + chunk].reset_index(drop=True)
            probs = score_batch(c)
            for i in range(len(c)):
                out[c.iloc[i]["doc_id"]] = probs[i]
        return out

    base = score_comp(np.arange(40), 40)
    for order, chunk in [
        (np.arange(40), 1), (np.arange(40), 7),
        (rng.permutation(40), 13), (np.arange(40)[::-1], 512),
    ]:
        got = score_comp(order, chunk)
        for k, v in base.items():
            assert np.array_equal(v, got[k]), k


def test_score_batch_matches_forward_all():
    """r7 shared-conv path: score_batch (per-doc base conv + per-pair
    affected-sentence re-conv + grouped GRU tail) must be BITWISE
    equal to the brute per-pair forward_all over build_pair_tensors.
    Adversarial shapes: short sentences (T < CONV_K), multi-pair docs
    sharing a doc tensor, several targets per sentence, out-of-bounds
    mention coordinates, docs with no mentions of one type."""
    from renet2_spark.dictionaries import VOCAB_SIZE
    from renet2_spark.operators.neural import build_pair_tensors, forward_all

    rng = np.random.RandomState(11)
    rows = []
    for i in range(18):
        n_s = 1 + (i % 6)
        tok_ids = [
            [int(rng.randint(1, VOCAB_SIZE)) for _ in range(1 + (i + j) % 9)]
            for j in range(n_s)
        ]
        ments = []
        for j in range(n_s):
            ments.append({"sent_no": j, "tok_no": 0, "type": "Gene",
                          "entity_id": f"g{i}_{j % 3}"})
            ments.append({"sent_no": j, "tok_no": min(1, len(tok_ids[j]) - 1),
                          "type": "Disease", "entity_id": f"d{i}_{j % 2}"})
        # out-of-bounds coordinates must be ignored identically
        ments.append({"sent_no": 999, "tok_no": 0, "type": "Gene",
                      "entity_id": "oob"})
        ments.append({"sent_no": 0, "tok_no": 999, "type": "Disease",
                      "entity_id": "oob2"})
        for g in range(2):
            for d in range(2):
                rows.append({"doc_id": str(i), "gene_id": f"g{i}_{g}",
                             "disease_id": f"d{i}_{d}",
                             "tok_ids": tok_ids, "ments": ments})
    pdf = pd.DataFrame(rows)
    got = score_batch(pdf)
    # the dense reference path: per-pair full (tok, feat) through
    # forward_all — the semantics the frozen golden pins
    for i, r in enumerate(pdf.itertuples()):
        tok, feat = build_pair_tensors(
            r.tok_ids, r.ments, r.gene_id, r.disease_id
        )
        want = forward_all(tok[None], feat[None])[0]
        assert np.array_equal(got[i], want), i


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_scale_fingerprints_match_testdata(sf):
    """Drift guard for oracles.SCALE_FINGERPRINTS (the corpus probe
    that makes frozen oracles scale-adaptive): the frozen sum(n_chars)
    must match the real corpus, and the two corpora must stay
    distinguishable (they share a row count)."""
    from renet2_spark.oracles import SCALE_FINGERPRINTS

    got = duckdb.sql(
        f"SELECT sum(n_chars) FROM '/root/testdata/{sf}/documents.parquet'"
    ).fetchone()[0]
    assert got == SCALE_FINGERPRINTS[sf]
    assert len(set(SCALE_FINGERPRINTS.values())) == len(SCALE_FINGERPRINTS)


def test_sentence_arrays_matches_grouped(spark):
    """corpus.sentence_arrays must equal regrouping sentences_direct's
    exploded relation per doc — same strings, same order — including
    the degenerate shapes: empty text (split('', ' ') = ['']), one
    word, exact 10/11-word boundaries, repeated spaces (empty words), a
    many-sentence doc and NULL text. The scoring worker's packed word
    rows (neural.word_rows) are those sentences split on ' ', on
    sf0.001 and on a text with double and trailing spaces (empty words
    kept)."""
    from pyspark.sql import functions as F

    from renet2_spark.corpus import load_documents, sentence_arrays, sentences_direct
    from renet2_spark.operators.neural import word_rows

    rows = [
        ("1", ""),
        ("2", "a"),
        ("3", " ".join(f"w{i}" for i in range(10))),
        ("4", " ".join(f"w{i}" for i in range(11))),
        ("5", "a  b   c"),
        ("6", " ".join(f"tok{i}" for i in range(137))),
        ("7", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["_sents"]
        for r in sentence_arrays(docs).collect()
    }
    want = {
        r["doc_id"]: r["_sents"]
        for r in sentences_direct(docs)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sent_no", "sentence"))
                ),
                lambda s: s["sentence"],
            ).alias("_sents")
        )
        .collect()
    }
    want["7"] = []  # NULL text: no exploded sentences, an empty array
    assert got == want

    spaced = spark.createDataFrame(
        [("-1", " ".join(f"w{i}" for i in range(12)).replace("w3 ", "w3  ") + " ")],
        "doc_id string, text string",
    )
    packed = load_documents(spark, SF_SMOKE).select(
        F.col("doc_id").cast("string"), "text"
    ).unionByName(spaced)
    rows = packed.join(sentence_arrays(packed), "doc_id").collect()
    want = [[s.split(" ") for s in r["_sents"]] for r in rows]
    assert len(rows) == 501
    assert want[[r["doc_id"] for r in rows].index("-1")] == [
        ["w0", "w1", "w2", "w3", "", "w4", "w5", "w6", "w7", "w8"],
        ["w9", "w10", "w11", ""],
    ]
    assert word_rows([r["text"] for r in rows], [True] * len(rows)) == want
