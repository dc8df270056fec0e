"""Curation operators: packing invariants, decontamination semantics,
deterministic sampling properties (operators/curation.py)."""

from pyspark.sql import functions as F

from renet2_spark.operators import curation as cur
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_pack_sequences_invariants(spark):
    budget = 64
    rows = cur.pack_sequences(_docs(spark), budget=budget).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert 0 <= r["bin_offset"] < budget
        assert r["bin_id"] == r["start_offset"] // budget
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: int(r["doc_id"]))
        # contiguous concat: each doc starts where the previous ended
        off = 0
        for r in rs:
            assert r["start_offset"] == off
            off += r["n_tokens"]
        # bin ids are monotone within a source
        bins = [r["bin_id"] for r in rs]
        assert bins == sorted(bins)


def test_pack_sequences_bins_fill(spark):
    """Every bin except a source's last must be 'full': the next doc in
    the source starts in the same or next bin (no empty bins)."""
    budget = 64
    rows = cur.pack_sequences(_docs(spark), budget=budget).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for rs in by_src.values():
        rs.sort(key=lambda r: int(r["doc_id"]))
        for a, b in zip(rs, rs[1:]):
            # concat semantics: no gap -> bin ids never skip by more
            # than the tokens of the doc spanning them allow
            assert b["bin_id"] >= a["bin_id"]
            assert (
                b["bin_id"] - a["bin_id"]
                <= (a["n_tokens"] // budget) + 1
            )


def _pack_expected(rows, key):
    """Single-threaded reference packing: per-source cumsum in key
    order over (source, doc_id, n_tokens) tuples."""
    out = {}
    by_src = {}
    for r in rows:
        by_src.setdefault(r[0], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: key(r[1]))
        off = 0
        for _, doc_id, n in rs:
            out[(src, doc_id)] = off
            off += n
    return out


def test_pack_sequences_hierarchical_matches_single_window(spark):
    """The segmented two-pass prefix sum must produce the EXACT
    start_offsets of a single per-source window, at several segment
    counts (including segments=1, the degenerate single-segment case,
    and segments >> docs-per-source)."""
    docs = _docs(spark)
    flat = [
        (r["source"], str(r["doc_id"]), len(r["text"].split(" ")))
        for r in docs.select("source", "doc_id", "text").collect()
    ]
    want = _pack_expected(flat, key=int)
    for segs in (1, 8, 10_000):
        got = {
            (r["source"], r["doc_id"]): r["start_offset"]
            for r in cur.pack_sequences(docs, segments=segs).collect()
        }
        assert got == want, f"segments={segs}"


def test_pack_sequences_non_numeric_ids_deterministic(spark):
    """Non-castable doc_ids must not silently scramble the packing
    order (round-3 verdict #2): the fallback orders numeric ids first
    (numerically), then non-numeric ids lexicographically, and warns."""
    import warnings

    docs = spark.createDataFrame(
        [
            ("u-b", "w w w", "en", "s1"),
            ("10", "w w", "en", "s1"),
            ("u-a", "w", "en", "s1"),
            ("2", "w w w w", "en", "s1"),
            ("9", "w", "en", "s2"),
        ],
        "doc_id string, text string, lang string, source string",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            (r["source"], r["doc_id"]): r["start_offset"]
            for r in cur.pack_sequences(docs, budget=4).collect()
        }
    assert any(issubclass(w.category, RuntimeWarning) for w in caught)
    # s1 order: 2 (4 tok), 10 (2 tok), u-a (1 tok), u-b (3 tok)
    assert got == {
        ("s1", "2"): 0,
        ("s1", "10"): 4,
        ("s1", "u-a"): 6,
        ("s1", "u-b"): 7,
        ("s2", "9"): 0,
    }
    # and it is stable across recomputation
    got2 = {
        (r["source"], r["doc_id"]): r["start_offset"]
        for r in cur.pack_sequences(docs, budget=4).collect()
    }
    assert got2 == got


def test_pack_sequences_sparse_ids(spark):
    """Sparse/clustered numeric ids still pack correctly (segments
    bound the id range, not the count — values must be unaffected)."""
    rows = [(str(i * 997 + 5), "w " * (i % 7 + 1), "en", "s") for i in range(50)]
    rows += [(str(10**15), "w w", "en", "s")]
    docs = spark.createDataFrame(
        [(d, t.strip(), la, s) for d, t, la, s in rows],
        "doc_id string, text string, lang string, source string",
    )
    flat = [
        (r["source"], r["doc_id"], len(r["text"].split(" ")))
        for r in docs.collect()
    ]
    want = _pack_expected(flat, key=int)
    got = {
        (r["source"], r["doc_id"]): r["start_offset"]
        for r in cur.pack_sequences(docs, segments=16).collect()
    }
    assert got == want


def test_decontaminate_flags_planted_overlap(spark):
    docs = spark.createDataFrame(
        [
            ("1", "a b c d e f g h", "en", "s"),
            ("2", "z y x w v u t s", "en", "s"),
        ],
        "doc_id string, text string, lang string, source string",
    )
    ev = spark.createDataFrame(
        [("9", "q q a b c d e f q q", "en", "s")],
        "doc_id string, text string, lang string, source string",
    )
    got = {r["doc_id"]: r for r in cur.decontaminate(docs, ev).collect()}
    # doc 1 shares 'a b c d e' and 'b c d e f' with the eval doc
    assert got["1"]["n_contaminated"] == 2
    assert got["1"]["n_sh"] == 4
    assert abs(got["1"]["contamination"] - 0.5) < 1e-9
    assert got["2"]["n_contaminated"] == 0
    assert got["2"]["contamination"] == 0.0


def test_sample_hash_deterministic_and_stable(spark):
    docs = _docs(spark)
    a = {r["doc_id"] for r in cur.sample_hash(docs, pct=20.0).collect()}
    b = {r["doc_id"] for r in cur.sample_hash(docs, pct=20.0).collect()}
    assert a == b and len(a) > 0
    # membership is per-doc: a larger pct strictly grows the sample
    big = {r["doc_id"] for r in cur.sample_hash(docs, pct=50.0).collect()}
    assert a <= big
    # a different salt draws a different sample
    c = {r["doc_id"] for r in cur.sample_hash(docs, pct=20.0, salt="x").collect()}
    assert c != a
    # roughly the requested rate (binomial, 500 docs, generous bounds)
    n = docs.count()
    assert 0.10 * n <= len(a) <= 0.32 * n


def test_sample_balanced_hash_properties(spark):
    """Deterministic class balancing: all positives kept, each
    negative class ~2x positives (binomial bounds), byte-stable
    across runs, and per-row fate independent of the rest of the
    class (content-hash rule)."""
    from renet2_spark.operators.caps import sample_balanced_hash
    from renet2_spark.operators.labels import synthetic_labels
    from renet2_spark.operators.pairgen import doc_pair_candidates
    from renet2_spark.operators.tagger import tag_mentions
    from renet2_spark.corpus import derive_spans, sentences_from_spans
    from renet2_spark.operators.normalize import canonicalize_mentions

    m = canonicalize_mentions(
        tag_mentions(sentences_from_spans(derive_spans(_docs(spark))), spark)
    )
    labels = synthetic_labels(doc_pair_candidates(m))
    before = {r["label"]: r["n"] for r in labels.groupBy("label").agg(
        F.count("*").alias("n")).collect()}
    out = sample_balanced_hash(labels)
    after = {r["label"]: r["n"] for r in out.groupBy("label").agg(
        F.count("*").alias("n")).collect()}
    n_pos = before[1.0]
    assert after[1.0] == n_pos  # positives never sampled away
    for lab in (0.0, 0.5):
        if before.get(lab, 0) > 2 * n_pos:
            # binomial around 2x positives, generous 3-sigma-ish bounds
            assert 1.5 * n_pos <= after[lab] <= 2.5 * n_pos, (lab, after)
    # deterministic: identical output on recompute
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, sample_balanced_hash(labels).collect()))
    assert a == b


def test_curation_pipeline_single_shingle_pass(spark, monkeypatch):
    """r4 verdict #2: the composed chain must shingle the train corpus
    exactly ONCE (one checkpointed shingle-array relation shared by the
    dedup and decontamination stages); the only other shingle pass is
    the tiny eval set."""
    from renet2_spark.operators import dedup as dd

    calls = []

    def counting(name):
        real = getattr(dd, name)

        def wrapped(documents):
            calls.append(name)
            return real(documents)

        return wrapped

    for name in ("doc_shingle_arrays", "doc_shingles"):
        wrapped = counting(name)
        monkeypatch.setattr(dd, name, wrapped)
        monkeypatch.setattr(cur, name, wrapped)
    docs = _docs(spark)
    tr = docs.filter("doc_id % 97 != 3")
    ev = docs.filter("doc_id % 97 = 3")
    out = cur.curation_pipeline(tr, ev)
    assert out.count() > 0
    # ONE train-side pass + the eval set
    assert sorted(calls) == ["doc_shingle_arrays", "doc_shingles"]


def test_curation_pipeline_concurrent_builds(spark):
    """Two curation chains built at once in one session each give the
    oracle's bins: their shared shingle relations are their own."""
    from concurrent.futures import ThreadPoolExecutor

    from renet2_spark.oracles import q_curation_pipeline
    from tests.oracle_utils import compare

    def build():
        docs = _docs(spark)
        out = cur.curation_pipeline(
            docs.filter("doc_id % 97 != 3"), docs.filter("doc_id % 97 = 3")
        )
        return compare(out, q_curation_pipeline(), SF_SMOKE)

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(build) for _ in range(2)]
        results = [f.result(timeout=600) for f in futures]
    assert results == [(True, "ok")] * 2, results


def test_pack_sequences_many_sources_bounded_plan(spark):
    """r4 verdict #4: the per-source (lo, span) map rides in as a
    broadcast join, so the compiled plan stays CONSTANT-size as source
    count grows (the old literal CASE chain grew linearly and would
    blow up at ten-thousand-source warehouses). 1,000 sources must
    compile to a plan no bigger than 10 sources', and values must
    still match the reference packing."""
    rows_small = [
        (str(i), "w " * (i % 5 + 1), "en", f"s{i % 10}") for i in range(60)
    ]
    rows_big = [
        (str(i), "w " * (i % 5 + 1), "en", f"s{i % 1000}")
        for i in range(1000)
    ]
    mk = lambda rows: spark.createDataFrame(
        [(d, t.strip(), la, s) for d, t, la, s in rows],
        "doc_id string, text string, lang string, source string",
    )
    small = cur.pack_sequences(mk(rows_small), segments=8)
    big = cur.pack_sequences(mk(rows_big), segments=8)
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    plan_big = big._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan_big) < 2 * len(plan_small) + 2000
    flat = [
        (r["source"], r["doc_id"], len(r["text"].split(" ")))
        for r in mk(rows_big).collect()
    ]
    want = _pack_expected(flat, key=int)
    got = {
        (r["source"], r["doc_id"]): r["start_offset"]
        for r in big.collect()
    }
    assert got == want


def test_curation_pipeline_minimal_schema(spark):
    """curation_pipeline must accept a bare (doc_id, text) corpus —
    lang/source get defaults (single-source packing)."""
    docs = spark.createDataFrame(
        [(str(i), " ".join(f"w{j}" for j in range(i % 40 + 80)))
         for i in range(30)],
        "doc_id string, text string",
    )
    rows = cur.curation_pipeline(docs, None, pct=100.0).collect()
    assert rows and all(r["source"] == "default" for r in rows)


def test_pack_sequences_null_source_kept(spark):
    """A NULL source is a real group: its documents must keep packing
    (the broadcast stats join is keyed null-safely — a plain equi-join
    would silently drop every NULL-source row)."""
    docs = spark.createDataFrame(
        [
            ("1", "w w w", "en", None),
            ("2", "w w", "en", None),
            ("3", "w w w w", "en", "s1"),
        ],
        "doc_id string, text string, lang string, source string",
    )
    got = {
        (r["source"], r["doc_id"]): r["start_offset"]
        for r in cur.pack_sequences(docs, budget=4, segments=8).collect()
    }
    assert got == {(None, "1"): 0, (None, "2"): 3, ("s1", "3"): 0}
