"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the workload seed; the program only
ever sees the parquet files written here. The benchmark reads nothing
outside its checkout, so instead of sampling the driver corpus it
regenerates documents with the shape measured on the sf0.1
``documents`` table. To compare a generated corpus with a real one, run
``PYTHONPATH=. python3 perfbench/inputs.py DOCS.parquet [SEED]``.
The shape is:

* 10..99 space-separated words per document, drawn uniformly from the
  package's corpus vocabulary without the ``dup`` surface;
* a planted 5% of documents are near-duplicate copies of another
  document with ``dup`` appended, so ``dup`` occurs only as their last
  word and two copies of one source are exact duplicates.

The KG workload draws a base pool of documents and then samples it
with replacement (doc ids remapped to 0..n-1), so a per-document oracle
computed once over the pool covers the whole sampled corpus. The dedup
workload appends near-duplicate copies of a seed-chosen fraction of its
documents, each with a seed-chosen fraction of words substituted.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pandas as pd

from renet2_spark.corpus import SENT_WORDS
from renet2_spark.dictionaries import CORPUS_WORDS, DISEASE_CANON, GENE_CANON

DUP = "dup"
VOCAB = [w for w in CORPUS_WORDS if w != DUP]
MIN_WORDS, MAX_WORDS = 10, 99
PLANTED_FRAC = 0.05


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so resizing one input
    never shifts another's draws."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def base_documents(seed: int, n: int, stream: str = "base") -> pd.DataFrame:
    rng = rng_for(seed, stream)
    vocab = np.array(VOCAB)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    texts = [" ".join(rng.choice(vocab, k)) for k in lengths]
    copies = rng.choice(n, round(PLANTED_FRAC * n), replace=False)
    sources = np.setdiff1d(np.arange(n), copies)
    for i, j in zip(copies, rng.choice(sources, len(copies))):
        texts[i] = f"{texts[j]} {DUP}"
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def sample_documents(
    pool: pd.DataFrame, seed: int, n: int
) -> tuple[pd.DataFrame, np.ndarray]:
    """n documents sampled with replacement from `pool`, doc ids
    remapped to 0..n-1. Returns the corpus and each row's pool index."""
    pick = rng_for(seed, "sample").integers(0, len(pool), n)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pool["text"].to_numpy()[pick],
        }
    )
    return docs, pick


def near_dup_documents(
    seed: int, n: int, dup_frac: tuple[float, float], sub_frac: tuple[float, float]
) -> tuple[pd.DataFrame, float, float]:
    """n base documents plus one near-duplicate copy of a seed-chosen
    fraction of them. Each copy substitutes a per-copy seed-chosen
    fraction of its words. Returns (corpus, near-dup fraction, mean
    substituted fraction)."""
    docs = base_documents(seed, n)
    rng = rng_for(seed, "near-dup")
    frac = float(rng.uniform(*dup_frac))
    src = np.sort(rng.choice(n, max(1, round(frac * n)), replace=False))
    copies, subs = [], []
    for i in src:
        words = docs.at[i, "text"].split(" ")
        p = float(rng.uniform(*sub_frac))
        k = max(1, round(p * len(words)))
        for j in rng.choice(len(words), k, replace=False):
            words[j] = str(rng.choice(VOCAB))
        copies.append(" ".join(words))
        subs.append(k / len(words))
    dup = pd.DataFrame(
        {"doc_id": np.arange(n, n + len(src), dtype=np.int64), "text": copies}
    )
    return pd.concat([docs, dup], ignore_index=True), len(src) / n, float(np.mean(subs))


def write_parquet(df: pd.DataFrame, path: str, files: int) -> int:
    """Write `df` as `files` parquet files under directory `path`;
    returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(df)), files)):
        df.iloc[idx].to_parquet(
            os.path.join(path, f"part-{i:03d}.parquet"), index=False
        )
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def dir_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def shape(docs: pd.DataFrame) -> dict:
    """Corpus shape the generator is fitted to: words per document, the
    share of documents holding the hot gene surface ``join``, the share
    ending in ``dup``, and the share that are an exact or one-word
    prefix copy of another document (the planted near-duplicates)."""
    texts = docs["text"].tolist()
    words = [t.split(" ") for t in texts]
    lengths = np.array([len(w) for w in words])
    seen = Counter(texts)
    prefix = sum(t.rsplit(" ", 1)[0] in seen or seen[t] > 1 for t in texts)
    n = max(len(texts), 1)
    return {
        "min_words": int(lengths.min()),
        "max_words": int(lengths.max()),
        "mean_words_per_doc": float(lengths.mean()),
        "join_doc_frac": sum("join" in w for w in words) / n,
        "dup_tail_frac": sum(w[-1] == DUP for w in words) / n,
        "planted_near_dup_frac": prefix / n,
    }


def properties(docs: pd.DataFrame, seed: int, near_dup_frac: float = 0.0) -> dict:
    """Input properties the pipeline's cost depends on: documents, mean
    words per doc, dictionary mentions per doc, and sentence-level
    gene-disease candidate pairs per doc (the packed corpus contract:
    SENT_WORDS-word sentences)."""
    words = mentions = pairs = 0
    for text in docs["text"]:
        ws = text.split(" ")
        words += len(ws)
        genes: dict[str, set] = {}
        diseases: dict[str, set] = {}
        for k, w in enumerate(ws):
            if w in GENE_CANON:
                genes.setdefault(GENE_CANON[w], set()).add(k // SENT_WORDS)
            elif w in DISEASE_CANON:
                diseases.setdefault(DISEASE_CANON[w], set()).add(k // SENT_WORDS)
            else:
                continue
            mentions += 1
        pairs += sum(1 for g in genes.values() for d in diseases.values() if g & d)
    n = max(len(docs), 1)
    return {
        "seed": seed,
        "docs": len(docs),
        "mean_words_per_doc": words / n,
        "mentions_per_doc": mentions / n,
        "candidate_pairs_per_doc": pairs / n,
        "near_dup_frac": near_dup_frac,
    }


if __name__ == "__main__":
    # usage, from the repository root:
    #   PYTHONPATH=. python3 perfbench/inputs.py DOCS.parquet [SEED]
    real = pd.read_parquet(sys.argv[1], columns=["doc_id", "text"])
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    made = base_documents(seed, len(real))
    print(f"{'':<24}{'real':>10}{'generated':>12}")
    for (k, a), b in zip(shape(real).items(), shape(made).values()):
        print(f"{k:<24}{a:>10.4f}{b:>12.4f}")
