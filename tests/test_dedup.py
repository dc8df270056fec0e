"""Dedup operators find the planted near-duplicates (docs sharing a
long prefix, suffixed with 'dup') in the driver testdata."""

import pytest
from pyspark.sql import functions as F

from renet2_spark.operators import dedup as dd
from renet2_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_ngram_jaccard_finds_planted_dups(spark):
    pairs = dd.dedup_ngram_jaccard(_docs(spark), threshold=0.7).collect()
    assert len(pairs) > 0
    docs = {
        str(r["doc_id"]): r["text"]
        for r in _docs(spark).collect()
    }
    # every reported pair must genuinely share most shingles
    for p in pairs[:10]:
        a, b = docs[p["doc_a"]], docs[p["doc_b"]]
        assert p["jaccard"] >= 0.7
        # planted dups share a long common prefix
        common_prefix = 0
        for x, y in zip(a, b):
            if x != y:
                break
            common_prefix += 1
        assert common_prefix > 50


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates must recover >=90% of the exact-jaccard pairs at
    the 0.7 threshold (b=4, r=3 -> P(miss at j=0.7) ~ 19%, but planted
    dups have j >= 0.9 where P(miss) < 1%)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.dedup_ngram_jaccard(_docs(spark), threshold=0.9).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.dedup_minhash_lsh(_docs(spark), threshold=0.9).collect()
    }
    assert exact, "fixture should contain high-jaccard planted dups"
    assert len(lsh & exact) / len(exact) >= 0.9
    # and LSH never emits a pair the exact check rejects
    assert lsh <= exact


def test_simhash_groups_contain_high_jaccard_pair(spark):
    groups = dd.dedup_simhash(_docs(spark)).collect()
    assert len(groups) > 0


def test_exact_dedup_no_false_positives(spark):
    docs = _docs(spark)
    groups = dd.dedup_exact(docs).collect()
    # sf0.001 has no exact text dups (500 distinct texts)
    texts = docs.select("text").distinct().count()
    total = docs.count()
    assert (total - texts) == sum(g["n_docs"] - 1 for g in groups)


def test_embedding_neardup_symmetric_threshold(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    pairs = sim.dedup_embedding(emb, threshold=0.5).collect()
    for p in pairs:
        assert p["vec_a"] < p["vec_b"]
        assert p["cos"] >= 0.5


def test_embedding_lsh_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {(r["vec_a"], r["vec_b"])
             for r in sim.dedup_embedding(emb, threshold=0.4).collect()}
    lsh = {(r["vec_a"], r["vec_b"])
           for r in sim.dedup_embedding_lsh(emb, threshold=0.4).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.5


def test_minhash_jaccard_values_match_exact_path(spark):
    """The candidate-restricted verify must compute the SAME jaccard the
    full exact path computes — the restriction changes cost, not
    values (round-1 verdict fix #1)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.dedup_ngram_jaccard(_docs(spark), threshold=0.7).collect()
    }
    for r in dd.dedup_minhash_lsh(_docs(spark), threshold=0.7).collect():
        assert exact[(r["doc_a"], r["doc_b"])] == r["jaccard"]


def test_minhash_plan_has_no_corpus_shingle_self_join(spark):
    """Plan-shape guard: the old scale-killer self-joined two exploded
    corpus shingle branches on shingle. The only shingle-keyed join
    left is the LeftAnti that drops df-capped shingles (broadcast);
    pairs share shingles through array_intersect, never a join."""
    import re

    plan = dd.dedup_minhash_lsh(_docs(spark))._jdf.queryExecution().optimizedPlan().toString()
    joins = re.findall(r"Join (\w+), \(([^)]*)\)", plan)
    shingle_joins = [kind for kind, cond in joins if "shingle" in cond]
    assert shingle_joins == ["LeftAnti"], joins


def test_ngram_df_cap_drops_stop_shingle_evidence(spark):
    """With a df cap below the corpus size, shingles present in every
    doc stop contributing to n_common (sizes stay uncapped)."""
    rows = [(i, "alpha beta gamma delta epsilon zeta w%d x%d y%d z%d" % (i, i, i, i))
            for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # a cap of 5, the corpus size, drops no shingle
    uncapped = dd.dedup_ngram_jaccard(docs, threshold=0.0,
                                      max_shingle_docs=5).collect()
    assert uncapped and all(p["n_common"] >= 1 for p in uncapped)
    capped = dd.dedup_ngram_jaccard(docs, threshold=0.0,
                                    max_shingle_docs=4).collect()
    # the shared 6-word prefix shingles have df=5 > 4 -> no common left
    assert capped == []
    stats = dd.capped_shingle_stats(docs, max_shingle_docs=4).collect()[0]
    assert stats["n_dropped"] >= 1 and stats["max_df"] == 5


def test_dedup_survivors_drops_only_losers(spark):
    docs = _docs(spark)
    pairs = dd.dedup_ngram_jaccard(docs, threshold=0.7).collect()
    losers = {p["doc_b"] for p in pairs}
    surv = {r["doc_id"] for r in dd.dedup_survivors(docs).collect()}
    all_ids = {str(r["doc_id"]) for r in docs.select("doc_id").collect()}
    assert surv == all_ids - losers


def test_hot_bucket_cap_bounds_candidates(spark):
    """Round-2 verdict #2: a corpus of N identical docs shares every
    band bucket; the per-bucket cap must bound candidate fan-out at
    O(cap^2) per bucket instead of O(N^2), deterministically (lowest
    doc_ids kept), with dropped membership accounted."""
    n, cap = 1000, 16
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [("%04d" % i, text) for i in range(n)], "doc_id string, text string"
    )
    pairs = dd.dedup_minhash_lsh(docs, max_bucket_size=cap).collect()
    # identical docs -> identical signatures -> the SAME lowest-id cap
    # members in every band: exactly C(cap, 2) distinct pairs, all j=1.0
    assert len(pairs) == cap * (cap - 1) // 2
    kept = {"%04d" % i for i in range(cap)}
    for p in pairs:
        assert p["doc_a"] in kept and p["doc_b"] in kept
        assert p["jaccard"] == 1.0
    stats = dd.hot_bucket_stats(
        dd.lsh_band_keys(dd.minhash_signatures(docs)),
        ["band", "band_key"],
        max_bucket_size=cap,
    ).collect()[0]
    assert stats["n_buckets"] == dd.LSH_BANDS  # one bucket per band
    assert stats["n_hot"] == dd.LSH_BANDS
    assert stats["max_bucket"] == n
    assert stats["n_members_dropped"] == dd.LSH_BANDS * (n - cap)


def test_minhash_verify_respects_shingle_df_cap(spark):
    """Round-2 advice #2: the minhash verify must under-count shared
    stop-shingles with the SAME df cap as the exact path, so both paths
    (and the oracle) agree even when the cap binds."""
    rows = [
        (i, "alpha beta gamma delta epsilon zeta w%d x%d y%d z%d" % (i, i, i, i))
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.dedup_ngram_jaccard(
            docs, threshold=0.0, max_shingle_docs=4
        ).collect()
    }
    # threshold 0 so surviving candidates aren't filtered; cap binds on
    # the df=5 prefix shingles -> lsh must report the capped jaccard,
    # and a pair with no capped shared shingle is not emitted at all.
    # A bucket cap of 5, the corpus size, drops no bucket member.
    for r in dd.dedup_minhash_lsh(
        docs, threshold=0.0, max_shingle_docs=4, max_bucket_size=5
    ).collect():
        assert exact[(r["doc_a"], r["doc_b"])] == r["jaccard"]


def test_minhash_threshold_zero_matches_oracle(spark):
    """At threshold 0 every verified candidate survives the filter, so
    a pair whose capped intersection is empty would show up; the
    oracle's inner join drops such pairs and so must the operator."""
    from renet2_spark.oracles import q_dedup_minhash
    from tests.oracle_utils import compare

    ok, msg = compare(
        dd.dedup_minhash_lsh(_docs(spark), threshold=0.0),
        q_dedup_minhash(threshold=0.0),
        SF_SMOKE,
    )
    assert ok, msg


def _blocked_pairs_reference(rows, cap):
    """Pairs a < b sharing any bucket, among each bucket's `cap`
    lowest ids."""
    buckets = {}
    for table, bucket, i in rows:
        buckets.setdefault((table, bucket), []).append(i)
    out = set()
    for ids in buckets.values():
        kept = sorted(ids)[:cap]
        out |= {(a, b) for a in kept for b in kept if a < b}
    return out


@pytest.mark.parametrize(
    "rows, cap",
    [
        # 2 < 10 numerically; as strings "10" would sort first
        ([(0, "x", 10), (0, "x", 2)], 256),
        # (1, 2) shares three buckets and comes out once
        ([(t, "x", i) for t in range(3) for i in (1, 2)] + [(0, "y", 3)], 256),
        # cap boundary: a bucket of exactly cap members stays whole, one
        # of cap + 1 drops its highest id, and id 4 is kept in one
        # bucket while cut from the other
        (
            [(0, "a", i) for i in (1, 3, 4)]
            + [(0, "b", i) for i in (1, 2, 3, 4)]
            + [(1, "a", i) for i in (5, 6)],
            3,
        ),
        # a cap equal to the largest bucket keeps every member
        ([(0, "a", i) for i in range(6)] + [(1, "a", i) for i in (4, 7)], 6),
        # an id listed twice in one bucket is one member: no (1, 1)
        ([(0, "x", 1), (0, "x", 1), (0, "x", 2), (1, "y", 1), (1, "y", 1)], 256),
    ],
    ids=["numeric_order", "shared_buckets_once", "cap_boundary", "uncapped",
         "duplicated_id"],
)
def test_blocked_pairs_matches_reference(spark, rows, cap):
    keys = spark.createDataFrame(rows, "table int, bucket string, id long")
    got = [tuple(r) for r in
           dd.blocked_pairs(keys, ["table", "bucket"], "id", cap).collect()]
    assert len(got) == len(set(got))
    assert set(got) == _blocked_pairs_reference(rows, cap)


def test_row_local_signatures_match_minhash_signatures(spark):
    """The per-row array_min signature equals the explode + groupBy
    definition, NULL and empty text included."""
    docs = _docs(spark).select("doc_id", "text").limit(50).unionByName(
        spark.createDataFrame(
            [(-1, None), (-2, ""), (-3, "one two")], "doc_id bigint, text string"
        )
    )
    want = {r["doc_id"]: tuple(r) for r in dd.minhash_signatures(docs).collect()}
    got = {
        r["doc_id"]: tuple(r)
        for r in dd._row_local_signatures(dd.doc_shingle_arrays(docs)).collect()
    }
    assert len(want) == 53 and got == want
    assert want["-1"][1:] == (None,) * dd.MINHASH_K


def test_dedup_components_transitive_chain(spark):
    """Star/chain near-dup structure: 9 is similar to BOTH 1 and 5,
    but 1 and 5 are not similar to each other. The pairwise
    keep-smallest rule keeps {1, 5} (only 9 is a doc_b); the
    connected-component semantics puts all three in one cluster and
    keeps only its min representative {1}."""
    from renet2_spark.operators.dedup import (
        dedup_components,
        dedup_ngram_jaccard,
        dedup_survivors,
        dedup_survivors_cc,
    )

    base = list("abcdefghijkl")  # 12 one-word tokens -> 8 shingles
    docs = spark.createDataFrame(
        [
            ("1", " ".join(base)),
            ("9", " ".join(base[:-1] + ["zz"])),
            ("5", " ".join(["yy"] + base[1:-1] + ["zz"])),
        ],
        "doc_id string, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(docs).collect()
    }
    assert pairs == {("1", "9"), ("5", "9")}
    comp = {
        (r["doc_id"], r["component"])
        for r in dedup_components(docs).collect()
    }
    assert comp == {("1", "1"), ("5", "1"), ("9", "1")}
    assert {r["doc_id"] for r in dedup_survivors_cc(docs).collect()} == {"1"}
    # the pairwise rule keeps 5 (it is never a doc_b) — documented gap
    assert {r["doc_id"] for r in dedup_survivors(docs).collect()} == {"1", "5"}


def test_dedup_components_long_chain_converges(spark):
    """A 6-doc similarity CHAIN (adjacent docs >= 0.7 jaccard,
    non-adjacent < 0.7) has graph diameter 5 — the propagation loop
    must run multiple rounds and still land every doc in the single
    component rooted at '0'; max_iters=1 must fail loudly instead of
    silently truncating."""
    import pytest as _pytest

    from renet2_spark.operators.dedup import dedup_components

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [(str(k), " ".join(words[k : k + 12])) for k in range(6)],
        "doc_id string, text string",
    )
    comp = {
        (r["doc_id"], r["component"])
        for r in dedup_components(docs).collect()
    }
    assert comp == {(str(k), "0") for k in range(6)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(docs, max_iters=1).collect()


def test_dedup_components_reliable_checkpoint_matches(spark):
    """r4 verdict #3: the cluster-durable reliable-checkpoint path
    (per-round .checkpoint() against the session checkpoint dir, which
    survives executor loss) must produce components identical to the
    default executor-local localCheckpoint path, and must fail loudly
    when no checkpoint dir is configured."""
    import shutil
    import tempfile

    import pytest as _pytest

    from renet2_spark.operators.dedup import dedup_components

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [(str(k), " ".join(words[k : k + 12])) for k in range(6)],
        "doc_id string, text string",
    )
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with _pytest.raises(RuntimeError, match="setCheckpointDir"):
            dedup_components(docs, reliable_checkpoint=True)
    d = tempfile.mkdtemp(prefix="cc_ckpt_")
    sc.setCheckpointDir(d)
    try:
        a = sorted(map(tuple, dedup_components(docs).collect()))
        b = sorted(
            map(
                tuple,
                dedup_components(docs, reliable_checkpoint=True).collect(),
            )
        )
        assert a == b and len(a) == 6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_ngram_jaccard_injected_shingles_match(spark):
    """The shared-pass hook (shingles=) must be a pure optimization:
    injecting a precomputed doc_shingle_arrays relation changes
    nothing."""
    from renet2_spark.operators.dedup import (
        dedup_ngram_jaccard,
        doc_shingle_arrays,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = sorted(map(tuple, dedup_ngram_jaccard(docs).collect()))
    b = sorted(
        map(
            tuple,
            dedup_ngram_jaccard(
                docs, shingles=doc_shingle_arrays(docs)
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_repeated_spans_finds_maximal_shared_passage(spark):
    """A 12-word passage planted in 3 docs (at different positions,
    surrounded by unique text) must come back as ONE maximal span per
    doc covering exactly the passage; fully-unique docs produce no
    spans."""
    from renet2_spark.operators.dedup import NGRAM, repeated_spans

    passage = " ".join(f"p{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            ("1", " ".join(f"a{i}" for i in range(5)) + " " + passage
                  + " " + " ".join(f"b{i}" for i in range(4))),
            ("2", passage + " " + " ".join(f"c{i}" for i in range(7))),
            ("3", " ".join(f"d{i}" for i in range(9)) + " " + passage),
            ("4", " ".join(f"u{i}" for i in range(25))),
        ],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: (r["start_word"], r["end_word"], r["n_grams"], r["max_df"])
        for r in repeated_spans(docs).collect()
    }
    n_positions = 12 - NGRAM + 1  # consecutive repeated gram starts
    assert got == {
        "1": (5, 5 + 12, n_positions, 3),
        "2": (0, 12, n_positions, 3),
        "3": (9, 9 + 12, n_positions, 3),
    }


def test_repeated_spans_merges_runs_and_caps_df(spark):
    """Two disjoint shared passages in one doc -> two spans (the
    run-length merge must not bridge the gap); a gram over the df cap
    is dropped (no-silent-caps parity with the jaccard path)."""
    from renet2_spark.operators.dedup import repeated_spans

    p1 = " ".join(f"x{i}" for i in range(7))
    p2 = " ".join(f"y{i}" for i in range(7))
    gap = " ".join(f"g{i}" for i in range(6))
    docs = spark.createDataFrame(
        [
            ("1", p1 + " " + gap + " " + p2),
            ("2", p1 + " " + " ".join(f"z{i}" for i in range(8)) + " " + p2),
        ],
        "doc_id string, text string",
    )
    spans = {
        (r["doc_id"], r["start_word"], r["end_word"])
        for r in repeated_spans(docs).collect()
    }
    assert ("1", 0, 7) in spans and ("1", 13, 20) in spans
    assert ("2", 0, 7) in spans and ("2", 15, 22) in spans
    assert len([s for s in spans if s[0] == "1"]) == 2
    # df cap: with max_shingle_docs=1 every repeated gram (df=2) drops
    assert repeated_spans(docs, max_shingle_docs=1).count() == 0
    # docs shorter than n words have NO n-grams: two identical 2-word
    # docs must produce zero spans (not a truncated pseudo-gram span
    # whose end_word exceeds the doc length)
    short = spark.createDataFrame(
        [("8", "tiny doc"), ("9", "tiny doc")], "doc_id string, text string"
    )
    assert repeated_spans(short).count() == 0


def test_repeated_spans_matches_duckdb_mirror(spark):
    """Exact SQL-mirror parity for repeated_spans over the real
    sf0.001 corpus (library-level oracle, same rigor as the driver
    queries): positioned grams -> distinct-doc df (capped) ->
    run-length merge."""
    from renet2_spark.operators.dedup import MAX_SHINGLE_DF, NGRAM, repeated_spans
    from tests.oracle_utils import compare

    sql = f"""
WITH g AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(t.i AS INT) AS pos,
         array_to_string(list_slice(ws, t.i + 1, t.i + {NGRAM}), ' ') AS gram
  FROM (SELECT doc_id, string_split("text", ' ') AS ws FROM documents
        WHERE len(string_split("text", ' ')) >= {NGRAM}) w,
       unnest(range(len(ws) - {NGRAM} + 1)) AS t(i)
),
freq AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
rep AS (SELECT g.doc_id, g.pos, f.df FROM g JOIN freq f USING (gram)
        WHERE f.df >= 2 AND f.df <= {MAX_SHINGLE_DF}),
runs AS (SELECT doc_id, pos, df,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS grp
         FROM rep)
SELECT doc_id, CAST(min(pos) AS INT) AS start_word,
       CAST(max(pos) + {NGRAM} AS INT) AS end_word,
       CAST(count(*) AS INT) AS n_grams,
       CAST(max(df) AS INT) AS max_df
FROM runs GROUP BY doc_id, grp
"""
    df = repeated_spans(_docs(spark))
    ok, msg = compare(df, sql, SF_SMOKE)
    assert ok, msg
    assert df.count() > 0  # the planted near-dups share long passages
