"""Benchmark workloads: seeded inputs, the timed operation, its output
check, and the per-layer plan of the traced run.

Each workload generates its inputs from the seed once for the oracle
and again (with the parquet write) inside every set-up round. The timed
operation collects its result to the driver through Arrow, so its
output can be checked outside the timed region against an oracle the
repository already has.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pandas as pd

import inputs
from layers import Tracer, cached_mb, job_group, materialize


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive exact comparison, as the repository's oracle
    tests compare Spark results with DuckDB."""
    from tests.oracle_utils import canon

    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.array_equal(
                a.astype(float).to_numpy(), b.astype(float).to_numpy(), equal_nan=True
            ):
                return False
        elif not a.astype(str).equals(b.astype(str)):
            return False
    return True


def duck(sql: str, documents: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("documents", documents)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def through_sample(per_pool: pd.DataFrame, pick: np.ndarray) -> pd.DataFrame:
    """Per-document oracle rows of the pool, re-keyed onto every sampled
    document that copies that pool document."""
    idx = pd.DataFrame(
        {"_pool": pick.astype(str), "doc_id": np.arange(len(pick)).astype(str)}
    )
    return (
        per_pool.rename(columns={"doc_id": "_pool"})
        .astype({"_pool": str})
        .merge(idx, on="_pool")
        .drop(columns="_pool")
    )


def diff(groups: dict, group: str, prev: str, field: str) -> float:
    """Task metric `field` of job group `group` minus that of `prev`."""
    return groups.get(group, {}).get(field, 0.0) - groups.get(prev, {}).get(field, 0.0)


class Workload:
    name = ""
    sizes: dict = {}
    smoke_sizes: dict = {}

    def __init__(self, seed: int, smoke: bool = False):
        self.seed = seed
        self.size = self.smoke_sizes if smoke else self.sizes

    # -- inputs ---------------------------------------------------------
    def generate(self) -> pd.DataFrame:
        raise NotImplementedError

    def write(self, root: str) -> dict:
        """Generate the inputs from the seed and write them as parquet
        under `root` (part of set-up)."""
        path = os.path.join(root, "docs")
        inputs.write_parquet(self.generate(), path, self.size["files"])
        return {"docs": path}

    def n_docs(self) -> int:
        return len(self.docs)

    # -- timed operation and check -------------------------------------
    def builders(self, spark, paths: dict) -> list:
        """Zero-argument functions that construct the workload's
        DataFrames, in the order a user runs them. Each is constructed
        only after the previous one has been collected: the package's
        module-level cache registries release one build's persisted
        relations when the next build is constructed."""
        raise NotImplementedError

    def op(self, spark, paths: dict) -> list:
        return [build().toPandas() for build in self.builders(spark, paths)]

    def check(self, out) -> bool:
        raise NotImplementedError

    # -- traced run ----------------------------------------------------
    def layers(self, spark, tr: Tracer, paths: dict, tmp: str) -> None:
        raise NotImplementedError

    def layer_metrics(self, tr: Tracer, groups: dict) -> tuple[dict, int, int]:
        """(metrics, checks attempted, checks failed)."""
        raise NotImplementedError


class KgPacked(Workload):
    name = "kg_packed"
    sizes = {"pool": 5000, "docs": 8000, "files": 16, "raw_docs": 400,
             "neural_docs": 600, "batch_pairs": 512}
    smoke_sizes = {"pool": 60, "docs": 120, "files": 16, "raw_docs": 40,
                   "neural_docs": 50, "batch_pairs": 64}

    def __init__(self, seed: int, smoke: bool = False):
        super().__init__(seed, smoke)
        self.pool = inputs.base_documents(seed, self.size["pool"])
        self.docs, self.pick = inputs.sample_documents(
            self.pool, seed, self.size["docs"]
        )
        self._want = None

    def generate(self):
        pool = inputs.base_documents(self.seed, self.size["pool"])
        return inputs.sample_documents(pool, self.seed, self.size["docs"])[0]

    def properties(self) -> dict:
        p = inputs.properties(self.docs, self.seed)
        p["pool_shape"] = inputs.shape(self.pool)
        return p

    def want(self) -> pd.DataFrame:
        if self._want is None:
            from renet2_spark.oracles import q_edges

            self._want = through_sample(duck(q_edges(), self.pool), self.pick)
        return self._want

    def builders(self, spark, paths):
        from renet2_spark.plans.pipeline import build_edges

        return [
            lambda: build_edges(spark, spark.read.parquet(paths["docs"]), corpus="packed")
        ]

    def check(self, out) -> bool:
        return frames_equal(out[0], self.want())

    def layers(self, spark, tr, paths, tmp):
        from renet2_spark.operators.pairgen import edge_relations
        from renet2_spark.plans.pipeline import build_mentions

        def docs():
            return spark.read.parquet(paths["docs"])

        tr.layer("corpus", lambda: docs().select("doc_id", "text"))
        tr.layer("tagger", lambda: build_mentions(spark, docs(), corpus="packed"))
        # candidate pairs only: the scorer prefix adds the entity-info
        # side of edge_relations and the joins onto it
        tr.layer(
            "pairgen",
            lambda: edge_relations(build_mentions(spark, docs(), corpus="packed"))[0],
        )
        # edge_relations' persisted pre-aggregation is still cached here
        self.cache_mb = cached_mb(spark)
        tr.layer("scorer", self.builders(spark, paths)[0])
        self.neural = neural_layers(spark, tr, self, tmp)
        self.raw = raw_resume_layers(spark, tr, self, tmp)

    def layer_metrics(self, tr, groups):
        out = {
            "corpus.self_s": tr.wall["corpus"],
            "pairgen.cache_mb": self.cache_mb,
            "scorer.keep_ratio": tr.rows["scorer"][0] / max(tr.rows["pairgen"][0], 1),
        }
        prev = "corpus"
        for layer, fields in (
            ("tagger", ("task_s",)),
            ("pairgen", ("task_s", "shuffle_mb")),
            ("scorer", ("task_s", "shuffle_mb")),
        ):
            out[f"{layer}.self_s"] = tr.self_s(layer, prev)
            out[f"{layer}.rows_out"] = tr.rows[layer][0]
            for f in fields:
                out[f"{layer}.{f}"] = diff(groups, layer, prev, f)
            prev = layer
        kernel, neural_failed = self.neural
        out.update(neural_metrics(tr, groups, kernel))
        raw_metrics, attempted, failed = self.raw
        out.update(raw_metrics)
        out["tagger.raw.py_s"] = groups.get("tagger.raw", {}).get("py_s", 0.0)
        # wall time of the ingest's file-writing SQL executions
        out["checkpoint.write_s"] = groups.get("checkpoint.ingest", {}).get("write_s", 0.0)
        # self-test: the neural scorer and the raw tokenizer both run in
        # Python workers and the ingest writes files, so a zero reading
        # means the metric is broken
        self_test = ("neural.py_s", "tagger.raw.py_s", "checkpoint.write_s")
        failed += neural_failed + sum(out[k] <= 0 for k in self_test)
        return out, attempted + 1 + len(self_test), failed


RAW_BUCKETS = 8


def raw_resume_layers(spark, tr: Tracer, wl: KgPacked, tmp: str) -> tuple:
    """Raw-text chain and checkpointed resume over the punctuation-rich
    raw twin of the first `raw_docs` packed documents: the Python
    splitter/tokenizer tagger, run_incremental into a fresh
    CheckpointStore, and a second run_incremental that must recompute
    nothing. The raw chain must reproduce the packed oracle's edges."""
    from renet2_spark.corpus import raw_text_twin_messy
    from renet2_spark.dictionaries import entity_dict_fused_df
    from renet2_spark.operators.tagger import tag_mentions_raw
    from renet2_spark.plans.pipeline import build_mentions, probe_corpus_contract_info
    from renet2_spark.sources.checkpoint import (
        CheckpointStore,
        input_fingerprint,
        with_part_key,
    )
    from renet2_spark.streaming.incremental import run_incremental

    n = wl.size["raw_docs"]
    raw_dir = os.path.join(tmp, "raw")
    raw_pdf = raw_text_twin_messy(spark.createDataFrame(wl.docs.iloc[:n])).toPandas()
    in_bytes = inputs.write_parquet(raw_pdf, raw_dir, 4)

    def raw():
        return spark.read.parquet(raw_dir)

    attempted = failed = 0
    with job_group(spark, "pipeline.probe"):
        t = time.perf_counter()
        probe = probe_corpus_contract_info(raw())
        probe_s = time.perf_counter() - t
    attempted += 1
    failed += bool(probe["packed"])  # punctuated text must route raw

    tr.layer("raw.corpus", lambda: raw().select("doc_id", "text"))
    tr.layer("tagger.raw", lambda: build_mentions(spark, raw(), corpus="raw"))
    tr.layer(
        "tagger.raw.unverified",
        lambda: tag_mentions_raw(
            raw(), spark, entity_dict=entity_dict_fused_df(spark), verify=False
        ),
    )
    tr.layer(
        "checkpoint.fingerprint",
        lambda: input_fingerprint(with_part_key(raw(), "doc_id", RAW_BUCKETS)),
    )

    root = os.path.join(tmp, "checkpoint")
    store = CheckpointStore(spark, root)
    with job_group(spark, "checkpoint.ingest"):
        t = time.perf_counter()
        edges = run_incremental(spark, raw(), store, buckets=RAW_BUCKETS, corpus="raw")
        ingest_s = time.perf_counter() - t
    tr.layer("checkpoint.readback", lambda: edges)
    got = edges.toPandas()
    want = wl.want()
    attempted += 1
    failed += not frames_equal(got, want[want["doc_id"].astype(int) < n])
    committed = store.lineage("edges").count()
    files, written = inputs.dir_files(root), inputs.dir_bytes(root)

    with job_group(spark, "checkpoint.resume"):
        t = time.perf_counter()
        again = run_incremental(spark, raw(), store, buckets=RAW_BUCKETS, corpus="raw")
        materialize([again])
        resume_s = time.perf_counter() - t
    recomputed = store.lineage("edges").count() - committed
    attempted += 1
    failed += recomputed != 0

    metrics = {
        "pipeline.probe_s": probe_s,
        "tagger.raw.self_s": tr.self_s("tagger.raw", "raw.corpus"),
        "tagger.raw.rows_out": tr.rows["tagger.raw"][0],
        "tagger.raw.verify_kept_ratio": tr.rows["tagger.raw"][0]
        / max(tr.rows["tagger.raw.unverified"][0], 1),
        "checkpoint.fingerprint_s": tr.self_s("checkpoint.fingerprint", "raw.corpus"),
        "checkpoint.ingest_s": ingest_s,
        "checkpoint.readback_s": tr.wall["checkpoint.readback"],
        "checkpoint.files_written": files,
        "checkpoint.bytes_written": written,
        "checkpoint.write_amp": written / in_bytes,
        "checkpoint.resume_s": resume_s,
        "checkpoint.resume_recomputed_buckets": recomputed,
    }
    return metrics, attempted, failed


NEURAL_FIELDS = ("task_s", "shuffle_mb", "py_s", "py_sent_mb")


def neural_layers(spark, tr: Tracer, wl: KgPacked, tmp: str) -> tuple:
    """build_edges_neural over the first `neural_docs` packed documents,
    layer by layer: the offset-less tag_mentions + entity_info path
    feeding the neural mapInPandas scorer. Its output must equal the
    repository's independent NumPy recompute, and the scoring stage
    must report Python-worker time."""
    from tests.test_neural import independent_neural_edges

    from renet2_spark.corpus import sentence_arrays, sentences_direct
    from renet2_spark.operators.normalize import canonicalize_mentions
    from renet2_spark.operators.pairgen import entity_info, pair_features
    from renet2_spark.operators.tagger import tag_mentions
    from renet2_spark.plans.pipeline import build_edges_neural

    subset = wl.docs.iloc[: wl.size["neural_docs"]]
    docs_dir = os.path.join(tmp, "neural")
    inputs.write_parquet(subset, docs_dir, 4)
    oracle_dir = os.path.join(tmp, "neural_oracle")
    os.makedirs(oracle_dir)
    subset.to_parquet(os.path.join(oracle_dir, "documents.parquet"), index=False)

    def docs():
        return spark.read.parquet(docs_dir)

    def mentions():
        return canonicalize_mentions(
            tag_mentions(sentences_direct(docs()), spark, with_offsets=False)
        )

    def pairs():
        m = mentions()
        return pair_features(m, info=entity_info(m))

    def edges():
        return build_edges_neural(spark, docs(), corpus="packed")

    tr.layer("neural.corpus", lambda: [sentences_direct(docs()), sentence_arrays(docs())])
    tr.layer("neural.tagger", mentions)
    tr.layer("neural.pairgen", pairs)
    tr.layer("neural", edges)
    with job_group(spark, "neural.check"):
        ok = frames_equal(edges().toPandas(), independent_neural_edges(oracle_dir))
    return kernel_split(subset, wl.size["batch_pairs"]), int(not ok)


def neural_metrics(tr: Tracer, groups: dict, kernel: tuple) -> dict:
    out = {f"neural.{f}": diff(groups, "neural", "neural.pairgen", f) for f in NEURAL_FIELDS}
    out["neural.self_s"] = tr.self_s("neural", "neural.pairgen")
    out["neural.rows_out"] = tr.rows["neural"][0]
    encode_s, forward_s, per_pair_s = kernel
    out["neural.encode_s"] = encode_s
    out["neural.forward_s"] = forward_s
    # share of the scoring workers' time spent outside score_batch's own
    # encode + forward: Arrow/pandas conversion, payload expansion, output
    scored = tr.rows["neural.pairgen"][0]
    py_s = out["neural.py_s"]
    out["neural.boundary_share"] = 1 - per_pair_s * scored / py_s if py_s > 0 else 0.0
    return out


def neural_batch(docs: pd.DataFrame, n_pairs: int) -> pd.DataFrame:
    """A scoring batch in score_batch's input layout (doc_id, tok_ids,
    ments, gene_id, disease_id), built from the packed corpus contract
    the same way the repository's independent neural recompute does."""
    from renet2_spark.dictionaries import DISEASE_CANON, GENE_CANON, WORD_INDEX

    oov = WORD_INDEX["[X]"]
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split(" ")
        sents = [words[i : i + inputs.SENT_WORDS] for i in range(0, len(words), inputs.SENT_WORDS)]
        tok_ids = [[WORD_INDEX.get(w, oov) for w in s] for s in sents]
        ments, genes, diseases = [], {}, {}
        for si, s in enumerate(sents):
            for ti, w in enumerate(s):
                if w in GENE_CANON:
                    typ, eid, side = "Gene", GENE_CANON[w], genes
                elif w in DISEASE_CANON:
                    typ, eid, side = "Disease", DISEASE_CANON[w], diseases
                else:
                    continue
                ments.append({"sent_no": si, "tok_no": ti, "type": typ, "entity_id": eid})
                side.setdefault(eid, set()).add(si)
        for g, gs in genes.items():
            for d, ds in diseases.items():
                if gs & ds:
                    rows.append({"doc_id": str(doc_id), "tok_ids": tok_ids,
                                 "ments": ments, "gene_id": g, "disease_id": d})
        if len(rows) >= n_pairs:
            break
    return pd.DataFrame(rows[:n_pairs])


def kernel_split(docs: pd.DataFrame, n_pairs: int, reps: int = 3) -> tuple:
    """(encode_s, forward_s, score_batch seconds per pair) on one batch,
    each the median of `reps` direct calls: forward_s is forward_all
    over the batch's own-shape groups, encode_s the rest of score_batch."""
    from renet2_spark.operators.neural import build_pair_tensors, forward_all, score_batch

    batch = neural_batch(docs, n_pairs)
    groups: dict = {}
    for r in batch.itertuples():
        tok, feat = build_pair_tensors(r.tok_ids, r.ments, r.gene_id, r.disease_id)
        groups.setdefault(tok.shape, []).append((tok, feat))
    stacked = [
        (np.stack([t for t, _ in g]), np.stack([f for _, f in g])) for g in groups.values()
    ]
    total, fwd = [], []
    for _ in range(reps):
        t = time.perf_counter()
        score_batch(batch)
        total.append(time.perf_counter() - t)
        t = time.perf_counter()
        for tok, feat in stacked:
            forward_all(tok, feat)
        fwd.append(time.perf_counter() - t)
    total_s, forward_s = statistics.median(total), statistics.median(fwd)
    return total_s - forward_s, forward_s, total_s / max(len(batch), 1)


class DedupNear(Workload):
    name = "dedup_near"
    sizes = {"docs": 1200, "files": 4, "dup_frac": (0.08, 0.12), "sub_frac": (0.0, 0.06)}
    smoke_sizes = {"docs": 150, "files": 4, "dup_frac": (0.08, 0.12), "sub_frac": (0.0, 0.06)}

    def __init__(self, seed: int, smoke: bool = False):
        super().__init__(seed, smoke)
        self.docs, self.dup_frac, self.sub_frac = self._near_dups()
        self._want = None

    def _near_dups(self):
        return inputs.near_dup_documents(
            self.seed, self.size["docs"], self.size["dup_frac"], self.size["sub_frac"]
        )

    def generate(self):
        return self._near_dups()[0]

    def properties(self) -> dict:
        p = inputs.properties(self.docs, self.seed, self.dup_frac)
        p["mean_substituted_frac"] = self.sub_frac
        p["shape"] = inputs.shape(self.docs)
        return p

    def want(self):
        if self._want is None:
            from renet2_spark.oracles import q_dedup_minhash, q_dedup_ngram

            self._want = (duck(q_dedup_minhash(), self.docs), duck(q_dedup_ngram(), self.docs))
        return self._want

    def builders(self, spark, paths):
        from renet2_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard

        def docs():
            return spark.read.parquet(paths["docs"])

        return [lambda: dedup_minhash_lsh(docs()), lambda: dedup_ngram_jaccard(docs())]

    def check(self, out) -> bool:
        return all(frames_equal(o, w) for o, w in zip(out, self.want()))

    def layers(self, spark, tr, paths, tmp):
        from renet2_spark.operators import dedup as D

        def docs():
            return spark.read.parquet(paths["docs"])

        tr.layer("corpus", lambda: docs().select("doc_id", "text"))
        for step in ("shingle", "signature", "block"):
            tr.layer(f"dedup.minhash.{step}", lambda s=step: minhash_prefix(docs(), s))
        tr.layer("dedup.minhash.verify", lambda: D.dedup_minhash_lsh(docs()))
        for step in ("shingle", "block"):
            tr.layer(f"dedup.jaccard.{step}", lambda s=step: jaccard_prefix(docs(), s))
        tr.layer("dedup.jaccard.verify", lambda: D.dedup_ngram_jaccard(docs()))
        with job_group(spark, "dedup.stats"):
            self.capped = D.capped_shingle_stats(docs()).collect()[0]["n_dropped"]
            keys = D.lsh_band_keys(minhash_prefix(docs(), "signature"))
            self.hot = D.hot_bucket_stats(keys, BUCKET).collect()[0]["n_members_dropped"]

    def layer_metrics(self, tr, groups):
        out = {"corpus.self_s": tr.wall["corpus"]}
        steps = {
            "minhash": ["shingle", "signature", "block", "verify"],
            "jaccard": ["shingle", "block", "verify"],
        }
        for algo, names in steps.items():
            prev = "corpus"
            for s in names:
                group = f"dedup.{algo}.{s}"
                out[f"{group}_s"] = tr.self_s(group, prev)
                prev = group
            full = groups.get(f"dedup.{algo}.verify", {})
            out[f"dedup.{algo}.task_s"] = full.get("task_s", 0.0)
            out[f"dedup.{algo}.shuffle_mb"] = full.get("shuffle_mb", 0.0)
            out[f"dedup.{algo}.dup_pairs"] = tr.rows[f"dedup.{algo}.verify"][0]
            out[f"dedup.{algo}.candidates"] = tr.rows[f"dedup.{algo}.block"][0]
            out[f"dedup.{algo}.candidate_precision"] = out[f"dedup.{algo}.dup_pairs"] / max(
                out[f"dedup.{algo}.candidates"], 1
            )
            out[f"dedup.{algo}.capped_shingles"] = self.capped
        out["dedup.minhash.hot_bucket_drops"] = self.hot
        return out, 0, 0


BUCKET = ["band", "band_key"]


def minhash_prefix(documents, upto: str):
    """dedup_minhash_lsh's plan (default arguments) cut after `upto`
    ("shingle", "signature" or "block"), built from the same calls in
    the same order as that function, persisted relations included, so
    each prefix is the real plan's prefix. "block" ends in the capped,
    de-duplicated candidate pairs."""
    from pyspark.sql import functions as F

    from renet2_spark.operators import dedup as D

    sh_arr = D._shared_shingle_arrays(documents)
    if upto == "shingle":
        return sh_arr
    sh = sh_arr.select("doc_id", F.explode("shingles").alias("shingle"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(D.MINHASH_K)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    if upto == "signature":
        return sig
    keys = D.cap_hot_buckets(D.lsh_band_keys(sig), BUCKET, "doc_id", D.MAX_LSH_BUCKET)
    keys = D._cache_keep(keys)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, BUCKET)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return D._cache_keep(cand)


def jaccard_prefix(documents, upto: str):
    """dedup_ngram_jaccard's plan (default arguments: df-capped grouped
    fan-out) cut after `upto` ("shingle" or "block"), built the same way
    as that function. "block" ends in the candidate pairs with their
    shared-shingle counts, before the set-size joins and the threshold."""
    from pyspark.sql import functions as F

    from renet2_spark.operators import dedup as D

    sh_arr = D._shared_shingle_arrays(documents)
    if upto == "shingle":
        return sh_arr
    ex = sh_arr.select("doc_id", F.explode("shingles").alias("shingle"))
    grouped = ex.groupBy("shingle").agg(
        F.count("*").alias("df"), F.collect_list("doc_id").alias("docs")
    )
    kept = grouped.filter((F.col("df") >= 2) & (F.col("df") <= D.MAX_SHINGLE_DF))
    s1 = kept.select(F.array_sort("docs").alias("ds"))
    s2 = s1.select("ds", F.posexplode("ds").alias("_i", "doc_a"))
    s3 = s2.select(
        "doc_a", F.explode(F.slice("ds", F.col("_i") + 2, F.size("ds"))).alias("doc_b")
    )
    return s3.groupBy("doc_a", "doc_b").agg(F.count("*").cast("int").alias("n_common"))


WORKLOADS = {w.name: w for w in (KgPacked, DedupNear)}
