"""Neural relation scorer: the reference's CNN+BiGRU document
classifier ensemble re-expressed as Arrow-batch NumPy inference.

Reference architecture (src/renet2/model.py:289-450): word embedding
concat frozen feature embedding (model.py:309-312) -> per-sentence
Conv1d over tokens + max-pool -> sentence vectors -> bidirectional GRU
over sentences -> FC -> sigmoid; 10 independently-initialized models
(src/renet2/predict.py:63-100), each scored over the whole dataset in
a separate sequential pass with a TSV round-trip.

Spark-first restructure (the big algorithmic win, SURVEY §4): ALL 10
models are resident in the Python worker and applied to each Arrow
batch in one pass — the corpus is read once, not 10 times. Weights are
deterministic (seeded per model id), executor-local singletons (built
on first batch, reused across batches — the reference's
"load checkpoint once" predict.py:63-72 analogue).

Input tensor semantics (reference raw_handler.py:51-61 padding +
sequence_utils.py feature codes): per pair, token-id matrix [S, T] and
feature-code matrix [S, T], S<=32 sentences, T<=54 tokens; codes
{0:plain, 1:other-disease, 2:other-gene, 3:joint, 4:target-disease,
5:target-gene, 6:target-joint}. Batches pad to the batch max S/T with
masking, so results are independent of batching/partitioning.

One encoder: pairs reach the scoring worker grouped per document
(_doc_payload), built from the flagship's per-doc entity row
(pairgen.doc_entities + DOC_PAIRS) joined to the doc's text, then
repartitioned round-robin to a fixed count of tasks: the payload is
tiny in bytes, so AQE would coalesce a repartition-by-column to a
couple of scoring tasks. The worker turns each doc's text into word
rows (word_rows), maps them through the packaged vocabulary (vocab_ids,
the only vocabulary lookup) and builds the doc's tensors once
(_doc_cache_entry); each pair then only flips its target codes
(_target_feat). build_pair_tensors is that same recode for one pair,
and pair_tensor_digests hashes it over the same payload, so the
frozen encode digest pins the path that scores.

Scale: scoring is embarrassingly parallel; Arrow batch size is the
only memory knob (spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..corpus import SENT_WORDS
from ..dictionaries import VOCAB_SIZE
from ..functions.text import split_tokenize
from .scorer import N_MODELS
MAX_SENTS = 32  # reference abstract-mode snt_n (README.md:216)
# full-text mode: fix_snt_n=400 (reference predict.py:291-294 default;
# "recommend [for abs 32, for ft 400]") — exposed as mode="ft" through
# build_edges_neural and the CLI, threaded here via max_sents
MAX_SENTS_FT = 400
MAX_TOKENS = 54  # reference fix_token_n (predict.py:291-294)
# per-doc entity remap cap (reference raw.py:1223-1226): entity tokens
# are replaced by per-doc indices — genes 1..MX in first-occurrence
# order, diseases MX+1..2*MX; the (MX+1)-th and later entities of a
# type all collapse onto index MX (the reference's exact overflow
# behavior, including diseases overflowing onto the gene slot MX).
# Indices live in a reserved embedding-id range above the vocab.
MX_ID_N = 20
ENT_BASE = VOCAB_SIZE  # first reserved embedding row
EMB_DIM = 8
FEAT_DIM = 4
N_FEAT_CODES = 7
CONV_FILTERS = 8
CONV_K = 3
GRU_HIDDEN = 4
SEED_BASE = 1000


def model_weights(i: int) -> dict[str, np.ndarray]:
    """Deterministic seeded weights for ensemble member i (stand-in
    for the reference's trained checkpoints, predict.py:63-72)."""
    rng = np.random.RandomState(SEED_BASE + i)
    d_in = EMB_DIM + FEAT_DIM
    h = GRU_HIDDEN
    f32 = lambda a: np.ascontiguousarray(a, dtype=np.float32)
    return {
        # float32 throughout: halves memory traffic (the forward is
        # bandwidth-bound); results stay deterministic — the pytest
        # NumPy oracle runs the identical kernels
        "emb_w": f32(rng.randn(VOCAB_SIZE + 2 * MX_ID_N + 1, EMB_DIM) * 0.3),
        "emb_f": f32(rng.randn(N_FEAT_CODES, FEAT_DIM) * 0.3),
        "conv_w": f32(rng.randn(CONV_K * d_in, CONV_FILTERS) * 0.2),
        "conv_b": f32(rng.randn(CONV_FILTERS) * 0.1),
        # one GRU per direction: [update z, reset r, candidate n]
        "gru_wx_f": f32(rng.randn(CONV_FILTERS, 3 * h) * 0.3),
        "gru_wh_f": f32(rng.randn(h, 3 * h) * 0.3),
        "gru_b_f": f32(rng.randn(3 * h) * 0.1),
        "gru_wx_b": f32(rng.randn(CONV_FILTERS, 3 * h) * 0.3),
        "gru_wh_b": f32(rng.randn(h, 3 * h) * 0.3),
        "gru_b_b": f32(rng.randn(3 * h) * 0.1),
        "fc_w": f32(rng.randn(2 * h) * 0.5),
        "fc_b": np.float32(rng.randn() * 0.1),
    }


_WEIGHTS: list[dict[str, np.ndarray]] | None = None


def all_weights() -> list[dict[str, np.ndarray]]:
    global _WEIGHTS
    if _WEIGHTS is None:
        _WEIGHTS = [model_weights(i) for i in range(N_MODELS)]
    return _WEIGHTS


# ---------------------------------------------------------------------
# Deterministic forward kernel (round 6).
#
# The r5 kernel was BLAS GEMMs + libm exp/tanh; both round differently
# depending on total array length (BLAS picks M-dependent kernels,
# NumPy's vectorized transcendentals treat SIMD-bulk vs scalar-tail
# elements differently), so the SAME pair's probability could differ by
# 1 f32 ulp (2^-23) between Arrow batch compositions — measured on
# 3-4k of ~5.3k pairs per corpus. That forced the driver oracle to
# exclude probability digits (r5 NEURAL_EDGE_DIGESTS note).
#
# This kernel uses ONLY exactly-rounded elementwise IEEE ops (+ - * /
# max, plus floor/ldexp for the exp range split) in a fixed program
# order, with the K-reduction of every matmul unrolled as an explicit
# fixed-order multiply-add chain. Exactly-rounded ops give the same
# bits for the same operands whether evaluated in a SIMD lane or a
# scalar tail, so the result is bitwise independent of batch
# composition, padding, and row position — verified by
# tests/test_neural.py::test_batching_invariance_bitwise across
# adversarial chunkings/permutations. That closes the last rows-only
# driver row: kg_edges_neural now has an exact frozen row-level oracle
# including probability digits.
#
# Speed: the conv GEMM (the flop bulk) collapses into a table gather —
# conv input is an embedding lookup, so each (tap j, model m) word/feat
# projection emb @ conv_w[j] is PRECOMPUTED once per worker into lookup
# tables [V, M, K, F]; the per-batch conv becomes one fancy-index
# gather + shift-adds. The GRU is vectorized across all 10 models at
# once (10x fewer NumPy dispatches). Net: measured FASTER than the r5
# BLAS kernel (1.15s vs 1.69s scoring sf0.001 in 512-row chunks).
# ---------------------------------------------------------------------

_LOG2E = np.float64(1.4426950408889634)
# Taylor coefficients of 2^r on [0, 1) (degree 6; |err| < 3e-10 on the
# reduced range, far below f32 resolution of the final cast)
_EXP2_C = (
    1.0, 0.6931471805599453, 0.2402265069591007, 0.05550410866482158,
    0.009618129107628477, 0.0013333558146428443, 0.00015403530393381608,
)


def det_exp64(x: np.ndarray) -> np.ndarray:
    """exp(x) over float64 via exp2 range reduction + fixed-order
    polynomial — exactly-rounded elementwise ops only, so SIMD and
    scalar paths agree bitwise (np.exp does not guarantee that)."""
    t = np.clip(x * _LOG2E, -1000.0, 1000.0)
    k = np.floor(t)
    r = t - k
    p = np.full_like(r, _EXP2_C[6])
    for c in _EXP2_C[5::-1]:
        p = p * r + c
    return np.ldexp(p, k.astype(np.int64))


def det_sigmoid32(x: np.ndarray) -> np.ndarray:
    return (1.0 / (1.0 + det_exp64(np.asarray(x, dtype=np.float64) * -1.0))).astype(
        np.float32
    )


def det_tanh32(x: np.ndarray) -> np.ndarray:
    x64 = np.asarray(x, dtype=np.float64)
    return (1.0 - 2.0 / (det_exp64(2.0 * x64) + 1.0)).astype(np.float32)


def _detmm_stack(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-model batched matmul a[M, ..., K] @ b[M, K, N] -> [M, ..., N]
    with the K-reduction as an explicit fixed-order MAC chain (each
    partial sum exactly rounded -> bitwise shape-independent)."""
    K = b.shape[1]
    ones = (1,) * (a.ndim - 2)
    bb = b.reshape(b.shape[0], *ones, K, b.shape[2])
    acc = a[..., 0, None] * bb[..., 0, :]
    for k in range(1, K):
        acc = acc + a[..., k, None] * bb[..., k, :]
    return acc


_TBL: dict | None = None


def conv_tables() -> dict:
    """Executor-local singleton: projected-embedding conv lookup tables
    and per-model weight stacks. W3[v, m, j, f] = emb_w_m[v] .
    conv_w_m[j, :EMB_DIM, f] (word part of tap j), F3 likewise for the
    feature embedding — so conv(x) = sum_j (W3[tok[p+j]] +
    F3[feat[p+j]]) masked, with no per-batch GEMM at all. Built with
    the same fixed-order MAC chain (fixed shapes, deterministic)."""
    global _TBL
    if _TBL is not None:
        return _TBL
    ws = all_weights()
    V = ws[0]["emb_w"].shape[0]
    W3 = np.zeros((V, N_MODELS, CONV_K, CONV_FILTERS), dtype=np.float32)
    F3 = np.zeros((N_FEAT_CODES, N_MODELS, CONV_K, CONV_FILTERS), dtype=np.float32)
    for m, w in enumerate(ws):
        cw = w["conv_w"].reshape(CONV_K, EMB_DIM + FEAT_DIM, CONV_FILTERS)
        for j in range(CONV_K):
            acc = w["emb_w"][:, 0, None] * cw[j, 0]
            for k in range(1, EMB_DIM):
                acc = acc + w["emb_w"][:, k, None] * cw[j, k]
            W3[:, m, j] = acc
            accf = w["emb_f"][:, 0, None] * cw[j, EMB_DIM]
            for k in range(1, FEAT_DIM):
                accf = accf + w["emb_f"][:, k, None] * cw[j, EMB_DIM + k]
            F3[:, m, j] = accf
    st = lambda key: np.stack([w[key] for w in ws])
    _TBL = {
        "W3": W3, "F3": F3,
        # per-tap contiguous views for the direct-tap conv (r7): the
        # conv gathers [.., M, F] per (position, tap) directly instead
        # of materializing the [.., M, K, F] intermediate and slicing
        # it — ~3x smaller temporaries, same values
        "W3j": [np.ascontiguousarray(W3[:, :, j]) for j in range(CONV_K)],
        "F3j": [np.ascontiguousarray(F3[:, :, j]) for j in range(CONV_K)],
        "conv_b": st("conv_b"),
        "gru_wx_f": st("gru_wx_f"), "gru_wh_f": st("gru_wh_f"),
        "gru_b_f": st("gru_b_f"),
        "gru_wx_b": st("gru_wx_b"), "gru_wh_b": st("gru_wh_b"),
        "gru_b_b": st("gru_b_b"),
        "fc_w": st("fc_w"), "fc_b": np.stack([w["fc_b"] for w in ws]),
    }
    return _TBL


def _gru_all(x, mask, wx, wh, b, reverse: bool):
    """Masked GRU over the sentence axis for ALL models at once.
    x: [M, B, S, F], mask: [B, S] -> h: [M, B, H]."""
    S = x.shape[2]
    H = GRU_HIDDEN
    h = np.zeros((x.shape[0], x.shape[1], H), dtype=np.float32)
    xw = _detmm_stack(x, wx) + b[:, None, None, :]  # [M,B,S,3H]
    steps = range(S - 1, -1, -1) if reverse else range(S)
    for s in steps:
        g = xw[:, :, s, : 2 * H] + _detmm_stack(h, wh[:, :, : 2 * H])
        z = det_sigmoid32(g[..., :H])
        r = det_sigmoid32(g[..., H:])
        n = det_tanh32(
            xw[:, :, s, 2 * H :] + _detmm_stack(r * h, wh[:, :, 2 * H :])
        )
        h_new = (1 - z) * n + z * h
        m = mask[None, :, s : s + 1]
        h = m * h_new + (1 - m) * h
    return h


def forward_all(tok: np.ndarray, feat: np.ndarray) -> np.ndarray:
    """All-model forward. tok/feat: int [B, S, T] (0 = pad) ->
    probs [B, N_MODELS] float32, bitwise independent of batch
    composition (see kernel note above)."""
    t = conv_tables()
    B, S, Tk = tok.shape
    tmask = (tok > 0).astype(np.float32)  # [B,S,T]
    smask = (tmask.sum(axis=2) > 0).astype(np.float32)  # [B,S]
    # direct-tap conv (r7): gather each tap's projected contribution
    # yj = (W3[tok[p+j], :, j] + F3[feat[p+j], :, j]) * tmask[p+j]
    # straight at window granularity — the same elementwise values in
    # the same addition order as the former [.., M, K, F] gather +
    # slice formulation (bitwise identical; exactly-rounded ops), but
    # without materializing the K axis: ~3x smaller temporaries on the
    # kernel's memory-traffic bulk. Short rows pad tok/feat/tmask with
    # zero columns, whose contribution is (table[0] row) * 0.0 — the
    # windows that could see a sign-of-zero difference all START on a
    # pad position and are erased by the wmask below.
    tmask_p = tmask
    if Tk < CONV_K:
        zi = np.zeros((B, S, CONV_K - Tk), dtype=tok.dtype)
        tok = np.concatenate([tok, zi], axis=2)
        feat = np.concatenate([feat, zi], axis=2)
        tmask_p = np.concatenate(
            [tmask, np.zeros((B, S, CONV_K - Tk), dtype=np.float32)], axis=2
        )
        Tk = CONV_K
    Tp = Tk - CONV_K + 1
    conv = None
    for j in range(CONV_K):
        sl = slice(j, Tp + j)
        yj = (
            t["W3j"][j][tok[:, :, sl]] + t["F3j"][j][feat[:, :, sl]]
        ) * tmask_p[:, :, sl][..., None, None]
        conv = yj if conv is None else conv + yj
    conv = conv + t["conv_b"][None, None, None]
    conv = np.maximum(conv, 0.0)  # [B,S,T',M,F]
    # mask windows that start on padding, then max-pool over tokens
    wmask = tmask[:, :, :Tp]
    conv = np.where(wmask[..., None, None] > 0, conv, -np.inf)
    sent = conv.max(axis=2)  # [B,S,M,F]
    sent = np.where(np.isfinite(sent), sent, 0.0)
    sent = np.ascontiguousarray(sent.transpose(2, 0, 1, 3))  # [M,B,S,F]
    hf = _gru_all(sent, smask, t["gru_wx_f"], t["gru_wh_f"], t["gru_b_f"], False)
    hb = _gru_all(sent, smask, t["gru_wx_b"], t["gru_wh_b"], t["gru_b_b"], True)
    hcat = np.concatenate([hf, hb], axis=2)  # [M,B,2H]
    fw = t["fc_w"]
    acc = hcat[..., 0] * fw[:, 0, None]
    for k in range(1, fw.shape[1]):
        acc = acc + hcat[..., k] * fw[:, k, None]
    out = acc + t["fc_b"][:, None]
    return det_sigmoid32(out).T  # [B, M]


FEATURE_OTHER_DISEASE = 1
FEATURE_OTHER_GENE = 2
FEATURE_TARGET_DISEASE = 4
FEATURE_TARGET_GENE = 5


def entity_remap(sorted_ments: list) -> dict[tuple[str, str], int]:
    """Per-doc entity index remap with the MX_id_n cap (reference
    raw.py:1223-1226). `sorted_ments` must be in (sent_no, tok_no)
    order — the reference enumerates its per-doc gene/disease dicts in
    sorted annotation order. Genes -> i+1 (i < MX) else MX; diseases ->
    i+MX+1 (i < MX) else MX."""
    order: dict[str, list[str]] = {"Gene": [], "Disease": []}
    for m in sorted_ments:
        typ = m["type"]
        if typ not in order:
            continue
        if m["entity_id"] not in order[typ]:
            order[typ].append(m["entity_id"])
    remap: dict[tuple[str, str], int] = {}
    for i, eid in enumerate(order["Gene"]):
        remap[("Gene", eid)] = i + 1 if i < MX_ID_N else MX_ID_N
    for i, eid in enumerate(order["Disease"]):
        remap[("Disease", eid)] = i + MX_ID_N + 1 if i < MX_ID_N else MX_ID_N
    return remap


def word_rows(texts, packed) -> list[list[list[str]]]:
    """Each document's sentences as word rows, the encoder's input: a
    packed text's SENT_WORDS-word chunks of text.split(" ") (empty
    words kept), a raw text's split_sentences sentences as the parity
    tokenizer's tokens (split_tokenize, one call for the batch's raw
    texts, as in tagger.raw_tokens) less those with no token."""
    raw = iter(split_tokenize([t for t, p in zip(texts, packed) if not p]))
    rows = []
    for text, p in zip(texts, packed):
        if p:
            words = text.split(" ")
            rows.append([words[i : i + SENT_WORDS] for i in range(0, len(words), SENT_WORDS)])
        else:
            rows.append([toks for _, toks in next(raw) if toks])
    return rows


def vocab_ids(rows: list[list[str]], vocab: dict[str, int]) -> list[list[int]]:
    """Token-id rows of one doc's word rows: every word (an empty word
    included) maps through `vocab`, unknown words to vocab['[X]']
    (reference raw_handler.py:24-33). The encoder's only vocabulary
    lookup; it runs inside the scoring worker, where the vocabulary
    ships with the package."""
    oov = vocab["[X]"]
    lookup = vocab.get
    return [[lookup(w, oov) for w in row] for row in rows]


def _doc_cache_entry(tok_ids: list, ments,
                     max_sents: int = MAX_SENTS) -> tuple:
    """Per-DOC precompute shared by all of the doc's pairs: the token
    matrix (entity positions remapped to reserved per-doc indices,
    raw.py:1223-1226 — ments are sorted by (sent, tok) first so the
    remap is independent of collect_list order), the base feature
    matrix (other-gene=2 / other-disease=1 everywhere), and per-entity
    position lists for target flipping."""
    S = min(len(tok_ids), max_sents)
    Tk = min(max((len(s) for s in tok_ids[:S]), default=1), MAX_TOKENS)
    tok = np.zeros((S, Tk), dtype=np.int64)
    for si in range(S):
        row = tok_ids[si][:Tk]
        tok[si, : len(row)] = row
    base = np.zeros((S, Tk), dtype=np.int64)
    pos: dict[tuple[str, str], list[tuple[int, int]]] = {}
    if ments is not None:
        sorted_ments = sorted(
            ments, key=lambda m: (m["sent_no"], m["tok_no"])
        )
        remap = entity_remap(sorted_ments)
        for m in sorted_ments:
            s, t = m["sent_no"], m["tok_no"]
            if s >= S or t >= Tk:
                continue
            typ = m["type"]
            base[s, t] = FEATURE_OTHER_GENE if typ == "Gene" else FEATURE_OTHER_DISEASE
            idx = remap.get((typ, m["entity_id"]))
            if idx is not None:
                tok[s, t] = ENT_BASE + idx
            pos.setdefault((typ, m["entity_id"]), []).append((s, t))
    return tok, base, pos


def _target_feat(base: np.ndarray, pos: dict, gene_id: str,
                 disease_id: str) -> np.ndarray:
    """One pair's feature codes: the doc's base codes with the target
    gene's positions flipped to 5 and the target disease's to 4
    (reference recode sequence_utils.py:325-349)."""
    feat = base.copy()
    for s, t in pos.get(("Gene", gene_id), ()):
        feat[s, t] = FEATURE_TARGET_GENE
    for s, t in pos.get(("Disease", disease_id), ()):
        feat[s, t] = FEATURE_TARGET_DISEASE
    return feat


def build_pair_tensors(
    tok_ids: list, ments: list, gene_id: str, disease_id: str,
    max_sents: int = MAX_SENTS,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-pair [S, T] token-id and feature-code matrices (reference
    sequence_utils.py:325-349 pair-specific recode; entity positions'
    token ids remapped to reserved per-doc indices, raw.py:1223-1226).
    max_sents selects the input shape: 32 = abstract mode, 400 =
    full-text mode (MAX_SENTS_FT). The same recode score_batch runs."""
    tok, base, pos = _doc_cache_entry(tok_ids, ments, max_sents)
    return tok, _target_feat(base, pos, gene_id, disease_id)


def score_batch(pdf: pd.DataFrame,
                max_sents: int = MAX_SENTS) -> np.ndarray:
    """[B, N_MODELS] ensemble probabilities for a pandas batch with
    columns doc_id, tok_ids, ments, gene_id, disease_id.

    The token matrix, base feature codes, and entity positions are
    built ONCE per distinct doc in the batch (pairs of one doc share
    them — ~10x fewer python-side loops); per pair only the target
    positions are flipped to codes 5/4 (reference recode
    sequence_utils.py:325-349).

    Every pair is evaluated at its OWN doc tensor shape (r6): rows
    are grouped by (n_sents, max_sent_tokens) internally, so the
    convolution never sees batch-max padding that its own doc doesn't
    have. Padding to a foreign batch max is not neutral — a window
    starting on the doc's last tokens and extending into pad columns
    exists ONLY in the padded layout and can win the max-pool — so
    canonical own-shape evaluation is what makes a pair's score a
    pure function of its document, independent of batch composition
    (the r5 pipeline did this grouping one level up; moving it here
    gives every caller — pipeline, NumPy oracle, golden freeze — the
    same semantics). Combined with the deterministic kernel above,
    score_batch is bitwise composition-independent:
    tests/test_neural.py::test_forward_all_bitwise_batch_invariance."""
    B = len(pdf)
    cache: dict = {}
    tensors = []
    for doc_id, t, m, g, d in zip(
        pdf["doc_id"], pdf["tok_ids"], pdf["ments"], pdf["gene_id"],
        pdf["disease_id"],
    ):
        ent = cache.get(doc_id)
        if ent is None:
            ent = cache[doc_id] = _doc_cache_entry(t, m, max_sents)
        tok, base, pos = ent
        tensors.append((tok, _target_feat(base, pos, g, d)))
    out = np.empty((B, N_MODELS), dtype=np.float32)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, (tk, _) in enumerate(tensors):
        groups.setdefault(tk.shape, []).append(i)
    for shape, idxs in groups.items():
        tok = np.stack([tensors[i][0] for i in idxs])
        feat = np.stack([tensors[i][1] for i in idxs])
        out[idxs] = forward_all(tok, feat)
    return out  # [B, N]


def _doc_payload(mentions: DataFrame, texts: DataFrame) -> DataFrame:
    """(doc_id, _pairs, ments, text, packed): one row per document, so
    each doc's text and mentions cross the shuffle and the Arrow
    boundary ONCE instead of once per pair (~10.7 pairs/doc on the
    driver corpus; A/B in BENCH.md round 6). `_pairs` and `ments` come
    from the flagship's per-doc entity row (pairgen.doc_entities,
    DOC_PAIRS): the pairs carry their counts and names, so no lookup
    join follows. `text` and `packed` come from `texts`; the worker
    derives the doc's sentences from them (word_rows). A
    doc without pairs (about 3% of the test corpora's docs) rides
    along and expands to no rows in the worker: a `size(_pairs) > 0`
    filter would be pushed below the projection and evaluate
    DOC_PAIRS twice for every doc.

    The repartition is round-robin to a FIXED count: the rows are few
    and tiny in bytes but heavy in CPU per row, and AQE coalesces a
    repartition-by-column exchange of such rows to a couple of
    partitions, leaving most python workers idle (build_edges_neural
    at sf0.1 on 4 cores: 2 scoring tasks instead of 8, median of 6
    builds 11.6 s instead of 7.8 s). AQE never coalesces a
    repartition to an explicit count. Not (count, doc_id): when the
    count equals spark.sql.shuffle.partitions, Spark drops that
    exchange as redundant with doc_entities' and the coalescible one
    is left; a doc's row needs no particular partition."""
    from .pairgen import DOC_PAIRS, doc_entities

    nparts = mentions.sparkSession.sparkContext.defaultParallelism * 2
    return (
        doc_entities(mentions)
        .selectExpr("doc_id", f"{DOC_PAIRS} AS _pairs", "ments")
        .join(texts.select("doc_id", "text", "packed"), "doc_id")
        .repartition(nparts)
    )


def _expand_pairs(pdf: pd.DataFrame, pair_cols: list[str],
                  vocab: dict[str, int]) -> pd.DataFrame:
    """A batch of _doc_payload rows -> one row per pair: doc_id,
    tok_ids, ments and the pair columns (score_batch's input layout).
    A doc's word rows and ids are built once, shared by its pairs."""
    cols: dict = {c: [] for c in ("doc_id", "tok_ids", "ments", *pair_cols)}
    for doc_id, rows, m, plist in zip(
        pdf["doc_id"], word_rows(pdf["text"], pdf["packed"]), pdf["ments"],
        pdf["_pairs"],
    ):
        t = vocab_ids(rows, vocab)
        for p in plist:
            cols["doc_id"].append(doc_id)
            cols["tok_ids"].append(t)
            cols["ments"].append(m)
            for c in pair_cols:
                cols[c].append(p[c])
    return pd.DataFrame(cols)


def tensor_digest(tok: np.ndarray, feat: np.ndarray) -> str:
    """Canonical md5 of one pair's (token, feature) matrices: shape
    header + row-major int64 bytes. Deterministic for a given corpus —
    the digestable surface of the encode stage."""
    import hashlib

    h = hashlib.md5()
    h.update(f"{tok.shape[0]}x{tok.shape[1]}:".encode())
    h.update(np.ascontiguousarray(tok, dtype="<i8").tobytes())
    h.update(np.ascontiguousarray(feat, dtype="<i8").tobytes())
    return h.hexdigest()


def pair_tensor_digests(mentions: DataFrame, texts: DataFrame) -> DataFrame:
    """(doc_id, gene_id, disease_id, tensor_md5) — per-pair digest of
    the DETERMINISTIC abstract-mode (MAX_SENTS) tensor-encode stage
    (vocab lookup, entity-index remap, feature codes 0-6,
    truncation/padding; reference
    sequence_utils.py:325-349 + raw.py:1223-1226). Everything up to —
    but excluding — the float forward pass, over the same payload and
    lookup neural_score_pairs scores, so the driver can hash-check the
    encoder exactly (round-3 verdict next #8: shrink the un-oracled
    neural surface to the forward pass alone)."""
    pair_cols = ["gene_id", "disease_id"]
    payload = _doc_payload(mentions, texts)
    schema = (
        "doc_id string, gene_id string, disease_id string, tensor_md5 string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from renet2_spark.dictionaries import WORD_INDEX

        for pdf in batches:
            flat = _expand_pairs(pdf, pair_cols, WORD_INDEX)
            if flat.empty:
                continue
            flat["tensor_md5"] = [
                tensor_digest(*build_pair_tensors(t, m, g, d))
                for t, m, g, d in zip(
                    flat["tok_ids"], flat["ments"], flat["gene_id"],
                    flat["disease_id"],
                )
            ]
            yield flat[["doc_id", *pair_cols, "tensor_md5"]]

    return payload.mapInPandas(run, schema=schema)


def neural_score_pairs(
    mentions: DataFrame, texts: DataFrame, max_sents: int = MAX_SENTS,
) -> DataFrame:
    """Candidate pairs of `mentions` with their 10-model ensemble
    probabilities: (doc_id, gene_id, disease_id, n_cooc_sents, n_g,
    n_d, g_name, d_name, probs array<double>); plugs into
    scorer.ensemble_vote. `texts` is (doc_id string, text, packed),
    each doc's text and whether it is packed. max_sents = 32
    (abstract mode, default) or MAX_SENTS_FT=400 (full-text mode).

    Pairs travel grouped per document (_doc_payload); the worker
    re-expands them (_expand_pairs), turning each doc's text into word
    rows (word_rows), mapping those through the packaged vocabulary
    (dictionaries.WORD_INDEX, imported once per worker process) with
    vocab_ids, and scores them with score_batch. Scores are bitwise
    independent of how pairs fall into batches, since score_batch
    evaluates every pair at its own doc shape
    (test_forward_all_bitwise_batch_invariance)."""
    payload = _doc_payload(mentions, texts)
    pair_fields = payload.schema["_pairs"].dataType.elementType.fields
    out_schema = T.StructType(
        [payload.schema["doc_id"], *pair_fields,
         T.StructField("probs", T.ArrayType(T.DoubleType()))]
    )
    pair_cols = [f.name for f in pair_fields]
    out_cols = out_schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from renet2_spark.dictionaries import WORD_INDEX

        for pdf in batches:
            flat = _expand_pairs(pdf, pair_cols, WORD_INDEX)
            if flat.empty:
                continue
            # score_batch groups rows by per-doc tensor shape
            # internally (r6): canonical own-shape evaluation removes
            # both the padding waste (one 10-sentence doc in a mixed
            # batch would inflate every 2-sentence doc's forward 5x;
            # measured ~30% off this query, BENCH.md round 5) and any
            # dependence of the scores on batch composition.
            probs = score_batch(flat, max_sents)
            out = flat.drop(columns=["tok_ids", "ments"])
            # float32 -> float64 is exact: the same bits as per-element float()
            out["probs"] = probs.astype(np.float64).tolist()
            yield out[out_cols]

    return payload.mapInPandas(run, schema=out_schema)
