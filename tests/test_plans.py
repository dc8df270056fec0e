"""Physical-plan regression guards: the properties that make these
plans scale (broadcast dimensions, column pruning, candidate
restriction, single-scan fan-outs) are asserted so a refactor cannot
silently regress them to shuffle-heavy shapes."""

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, sql_conf


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_flagship_scan_prunes_columns(spark):
    """The parquet scan behind kg_edges must read ONLY doc_id + text
    (the documents table has more columns)."""
    from renet2_spark.plans.pipeline import build_edges

    plan = _executed(build_edges(spark, _docs(spark)))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_flagship_dictionary_join_is_broadcast(spark):
    from renet2_spark.plans.pipeline import build_mentions

    plan = _executed(build_mentions(spark, _docs(spark)))
    assert "BroadcastHashJoin" in plan
    # dictionary-folded fusion: the mention path is ONE join total
    assert plan.count("Join") - plan.count("ReusedExchange") <= plan.count(
        "BroadcastHashJoin"
    ) + 1


def test_minhash_verify_is_candidate_restricted(spark):
    """No unrestricted shingle self-join and no lookup join: each band
    key carries its doc's shingle array, so only the pairs fanned out
    of a shared bucket ever reach array_intersect."""
    from renet2_spark.operators.dedup import dedup_minhash_lsh

    plan = _optimized(dedup_minhash_lsh(_docs(spark)))
    assert "Join Inner" not in plan, plan
    intersect = re.findall(r"array_intersect\((\w+)#\d+\.shingles, (\w+)#\d+\.shingles\)", plan)
    assert intersect == [("doc_a", "doc_b")], plan


def test_ngram_cap_applies_map_side(spark):
    """The df cap must never force a second shuffle of the whole
    inverted index. r7: the capped path folds the cap INTO the single
    groupBy(shingle) (a filter on the grouped relation) and fans pairs
    out row-locally — so the capped plan carries NO anti-join and NO
    shingle-keyed self-join at all."""
    from renet2_spark.operators.dedup import dedup_ngram_jaccard

    plan = _executed(dedup_ngram_jaccard(_docs(spark)))
    assert "LeftAnti" not in plan  # cap is a grouped filter now
    # pair fan-out is generator-based, not a join of the index
    assert "Generate posexplode" in plan or "PosExplode" in plan


def test_tool_votes_single_scan(spark):
    """Silver votes fan out row-locally (explode), not via a 4-branch
    union that would recompute the pair pipeline 4x."""
    from renet2_spark.operators.labels import tool_votes

    pairs = spark.createDataFrame(
        [("1", "g", "d")], "doc_id string, gene_id string, disease_id string"
    )
    plan = _optimized(tool_votes(pairs))
    assert "Union" not in plan
    assert plan.count("Generate explode") == 1 or "Generate" in plan


def test_labels_join_keys_include_doc(spark):
    """The labels join shuffles on the full id triple (document-keyed,
    hot-entity immune)."""
    from renet2_spark.operators.labels import join_labels, synthetic_labels

    pairs = spark.createDataFrame(
        [("1", "g", "d", 1)],
        "doc_id string, gene_id string, disease_id string, n_cooc_sents int",
    )
    out = join_labels(pairs, synthetic_labels(pairs))
    assert {"doc_id", "gene_id", "disease_id", "n_cooc_sents", "label"} == set(
        out.columns
    )


def test_flagship_edge_plan_is_one_shuffle(spark):
    """build_edges is doc-local: in the non-adaptive plan ONE
    repartition(doc_id) exchange serves both aggregations, with no
    shuffled join and no persist. The sentence intersection appears
    once (inside the generator input) — the vote cutoff must not be
    inlined into it. doc_entities also aggregates the neural encoder's
    mention coordinates (ments); this plan must prune that aggregate,
    and tok_no with it, so neither crosses the doc_id shuffle."""
    from renet2_spark.plans.pipeline import build_edges

    # a build earlier in the session may have cached an identical
    # mention subtree, which Spark substitutes into this plan; the
    # guard is about the plan build_edges itself makes
    spark.catalog.clearCache()
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        df = build_edges(spark, _docs(spark), corpus="packed")
        plan = _executed(df)
        optimized = _optimized(df)
    # "\bExchange" skips BroadcastExchange / ReusedExchange
    assert len(re.findall(r"\bExchange ", plan)) == 1, plan
    assert "hashpartitioning(doc_id" in plan
    assert "InMemoryTableScan" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert optimized.count("array_intersect") == 1
    for text in (optimized, plan):
        assert not re.search(r"\b(ments|tok_no)#", text), text


def test_neural_edge_plan_is_flagship_plan_plus_scorer(spark):
    """build_edges_neural reads the flagship's per-doc entity row: in
    the non-adaptive plan two exchanges, the entity row's doc_id
    repartition and the round-robin scoring repartition to a fixed
    count, no shuffled join, no persisted relation, and two document
    scans: the tagger's and the text's, which the scorer reads. A
    second mentions branch would add an exchange and a scan. The
    scoring count is set to the shuffle partition count too: a (count,
    doc_id) scoring repartition would then be dropped as redundant,
    leaving only the doc_id exchange that AQE may coalesce."""
    from renet2_spark.plans.pipeline import build_edges_neural

    spark.catalog.clearCache()
    nparts = 2 * spark.sparkContext.defaultParallelism
    for partitions in (None, str(nparts)):
        conf = {"spark.sql.adaptive.enabled": "false"}
        if partitions:
            conf["spark.sql.shuffle.partitions"] = partitions
        with sql_conf(spark, conf):
            df = build_edges_neural(spark, _docs(spark), corpus="packed")
            plan = _executed(df)
            optimized = _optimized(df)
        assert "InMemoryRelation" not in optimized, optimized
        assert "InMemoryTableScan" not in plan, plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        exchanges = re.findall(r"\bExchange (\w+)\((\w+)", plan)
        assert sorted(exchanges) == [
            ("RoundRobinPartitioning", str(nparts)),
            ("hashpartitioning", "doc_id"),
        ], plan
        # AQE coalesces a repartition by column, never one to a count
        assert "REPARTITION_BY_NUM" in plan, plan
        assert plan.count("FileScan parquet") == 2, plan


_PYTHON_NODE = re.compile(r"\b(MapInPandas|ArrowEvalPython|MapInArrow)\b")
_JOIN_NODE = re.compile(r"\b\w*(?:Join|CartesianProduct)\b")
# an Exchange operator line (a ReusedExchange line only names one)
_EXCHANGE = re.compile(r"^[\s:+-]*Exchange ", re.M)


def test_raw_edge_plans_run_the_raw_chain_in_one_pass(spark):
    """Raw text crosses into Python once per plan that reads it: split,
    tokenize, locate and the mention-vs-text check are one map over
    (doc_id, text). build_edges(corpus='raw') has one Python node, one
    document scan and the broadcast dictionary join as its only join
    (no join of the text back for the check). build_edges_neural runs
    that map once, for its mentions, and its scorer reads the text
    itself: two Python nodes, at most two scans, and only the entity
    row's doc_id exchange and the round-robin scoring exchange; a raw
    relation of sentence arrays would add a Python pass, its two
    aggregations and their exchanges."""
    from renet2_spark.corpus import raw_text_twin_messy
    from renet2_spark.plans.pipeline import build_edges, build_edges_neural

    spark.catalog.clearCache()
    docs = raw_text_twin_messy(_docs(spark))
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        flagship = _executed(build_edges(spark, docs, corpus="raw"))
        neural = _executed(build_edges_neural(spark, docs, corpus="raw"))
    assert len(_PYTHON_NODE.findall(flagship)) == 1, flagship
    assert flagship.count("FileScan parquet") == 1, flagship
    assert _JOIN_NODE.findall(flagship) == ["BroadcastHashJoin"], flagship
    assert _PYTHON_NODE.findall(neural) == ["MapInPandas"] * 2, neural
    nparts = 2 * spark.sparkContext.defaultParallelism
    assert sorted(re.findall(r"\bExchange (\w+)\((\w+)", neural)) == [
        ("RoundRobinPartitioning", str(nparts)), ("hashpartitioning", "doc_id"),
    ], neural
    assert neural.count("FileScan parquet") <= 2, neural


def test_auto_edge_plan_routes_each_document_in_the_plan(spark):
    """corpus='auto' is one plan: the packed tagger over the documents
    PACKED_OK holds for, unioned with the raw chain over the rest. In the non-adaptive plan: one document
    scan per branch and one Python node, the raw pass. The neural plan
    adds only the scorer's Python node: its text is routed by the same
    predicate, with no second raw pass."""
    from renet2_spark.plans.pipeline import build_edges, build_edges_neural

    spark.catalog.clearCache()
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        plan = _executed(build_edges(spark, _docs(spark), corpus="auto"))
        neural = _executed(build_edges_neural(spark, _docs(spark), corpus="auto"))
    assert plan.count("FileScan parquet") == 2, plan
    assert _PYTHON_NODE.findall(plan) == ["MapInPandas"], plan
    assert plan.count("Union") == 1, plan
    assert _PYTHON_NODE.findall(neural) == ["MapInPandas"] * 2, neural


def test_threshold_sweep_scores_the_flagship_pairs(spark):
    """kg_threshold_sweep scores the flagship's candidate pairs: in the
    non-adaptive plan one document scan, two hash exchanges (the pairs'
    doc_id repartition and the groupBy threshold) and no join besides
    the dictionary broadcast and the grid's nested-loop join. Entity
    counts joined back onto a second pair relation would add scans,
    exchanges and joins."""
    from renet2_spark.plans.relational import kg_threshold_sweep

    spark.catalog.clearCache()
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        plan = _executed(kg_threshold_sweep(spark, SF_SMOKE))
    assert plan.count("FileScan parquet") == 1, plan
    assert len(_EXCHANGE.findall(plan)) == 2, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert sorted(_JOIN_NODE.findall(plan)) == [
        "BroadcastHashJoin", "BroadcastNestedLoopJoin"
    ], plan


def test_pr_query_builds_its_pairs_once(spark, monkeypatch):
    """kg_pr_vs_strong_cooc runs one packed tagger chain: its edges and
    its gold are two predicates over the same candidate pairs, counted
    by one aggregation. In the non-adaptive plan of its one metrics
    action: one document scan, no Python node, the dictionary broadcast
    join, the doc_id repartition and the final single-partition
    exchange; no sort-merge join."""
    from renet2_spark.plans.relational import kg_pr_vs_strong_cooc

    actions = []
    cls = type(spark.range(1))
    first = cls.first
    monkeypatch.setattr(cls, "first", lambda df: actions.append(df) or first(df))
    spark.catalog.clearCache()
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        kg_pr_vs_strong_cooc(spark, SF_SMOKE)
        [metrics] = actions
        plan = _executed(metrics)
    assert plan.count("FileScan parquet") == 1, plan
    assert _PYTHON_NODE.findall(plan) == [], plan
    assert _JOIN_NODE.findall(plan) == ["BroadcastHashJoin"], plan
    assert len(_EXCHANGE.findall(plan)) == 2, plan
    assert "ReusedExchange" not in plan, plan
    assert len(re.findall(
        r"^[\s:+-]*Exchange hashpartitioning\(doc_id#\d+, \d+\), REPARTITION_BY_COL",
        plan, re.M,
    )) == 1, plan


def test_decontaminate_probe_is_broadcast(spark):
    """The eval shingle set must reach the train side as a broadcast
    hash relation — the train corpus is never shuffled for the probe."""
    from renet2_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ev = docs.filter("doc_id % 97 = 3")
    tr = docs.filter("doc_id % 97 != 3")
    plan = _executed(decontaminate(tr, ev))
    assert "BroadcastHashJoin" in plan
    # the only sort-merge exchange keys are doc-side aggregations, not
    # a shingle-keyed train-vs-eval join
    assert "SortMergeJoin [shingle" not in plan


def test_pack_sequences_partitions_by_source(spark):
    """Packing must window per source (parallel), never a global
    single-partition window."""
    from renet2_spark.operators.curation import pack_sequences

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _executed(pack_sequences(docs))
    # windows key on _skey (the NULL-coalesced source sentinel, r5:
    # NULL sources are real groups and must survive the stats join)
    assert "hashpartitioning(_skey" in plan
    assert "SinglePartition" not in plan


def test_pack_sequences_window_is_segmented(spark):
    """The corpus-side running-sum window must partition on
    (source, _seg) — the bounded id-range segment — not on source
    alone (round-3 verdict #2: per-source windows serialize a hot
    source through one task); segment bases come back via broadcast."""
    from renet2_spark.operators.curation import pack_sequences

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _executed(pack_sequences(docs, segments=8))
    assert "hashpartitioning(_skey" in plan and "_seg" in plan
    assert "BroadcastHashJoin" in plan


def test_minhash_bucket_cap_window_reuses_join_key(spark):
    """The hot-bucket cap's row_number partitions on the SAME
    (band, band_key) the candidate join shuffles on, so the cap adds
    no extra exchange shape beyond the window sort."""
    from renet2_spark.operators.dedup import dedup_minhash_lsh

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _executed(dedup_minhash_lsh(docs))
    assert "hashpartitioning(band" in plan


def _cached_relations(df) -> int:
    """Distinct persisted relations the optimized plan reads (one
    InMemoryRelation node per reference, all sharing one cache)."""
    system = df.sparkSession._jvm.java.lang.System
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    caches = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "InMemoryRelation":
            caches.add(system.identityHashCode(leaf.cacheBuilder()))
    return len(caches)


def test_minhash_plan_is_doc_local(spark):
    """dedup_minhash_lsh is doc-local and persists nothing: signatures
    row-local, buckets fanned out from sorted member sets that carry
    each doc's shingle array, verification by array_intersect on the
    fanned-out pairs. In the non-adaptive plan that is at most three
    shuffles (bucket key, candidate pair, shingle df), none keyed on
    doc_id, and no shuffled join."""
    from renet2_spark.operators.dedup import dedup_minhash_lsh

    spark.catalog.clearCache()
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        df = dedup_minhash_lsh(_docs(spark))
        plan = _executed(df)
        assert _cached_relations(df) == 0
    exchanges = re.findall(r"\bExchange hashpartitioning\((\w+)#", plan)
    assert 0 < len(exchanges) <= 3, plan
    assert "doc_id" not in exchanges, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "hashpartitioning(band" in plan


def test_jaccard_plan_reads_input_once(spark):
    """dedup_ngram_jaccard carries each doc's set size in its inverted
    index, so its non-adaptive plan is two exchanges (shingle, then
    pair) with no set-size join and no persisted relation."""
    from renet2_spark.operators import dedup as dd

    # an earlier build may have cached an identical shingle relation,
    # which Spark would substitute into this plan
    spark.catalog.clearCache()
    with sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        df = dd.dedup_ngram_jaccard(_docs(spark))
        plan = _executed(df)
        optimized = _optimized(df)
    assert "InMemoryRelation" not in optimized, optimized
    assert "Join" not in optimized, optimized
    exchanges = re.findall(r"\bExchange hashpartitioning\((\w+)#", plan)
    assert exchanges == ["doc_a", "shingle"], plan


def test_benchmarked_plans_build_in_few_py4j_calls(spark):
    """Driver-side construction of the benchmarked plans stays cheap:
    each Column-API call is one or more Py4J round trips, so these
    plans build their projections, filters and aggregates from SQL
    strings (Column-API builds took 1,234 / 785 / 1,332). The neural
    build reuses the flagship's pair plan (its own plan took 2,139)."""
    from renet2_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
    from renet2_spark.plans.pipeline import build_edges, build_edges_neural

    builds = {
        "dedup_minhash_lsh": (dedup_minhash_lsh, 300),
        "dedup_ngram_jaccard": (dedup_ngram_jaccard, 300),
        "build_edges": (
            lambda docs: build_edges(spark, docs, corpus="packed"), 300
        ),
        "build_edges_neural": (
            lambda docs: build_edges_neural(spark, docs, corpus="packed"), 700
        ),
    }
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        # object deletes ("m\nd\n") go out whenever Python frees
        # earlier Java references, whatever is being built
        calls[0] += not command.startswith("m\nd\n")
        return send(command, *args, **kwargs)

    docs = _docs(spark)
    counts = {}
    for name, (build, _) in builds.items():
        build(docs)  # first build: one-time lookups (dictionaries)
        calls[0] = 0
        client.send_command = counting
        try:
            build(docs)
        finally:
            client.send_command = send
        counts[name] = calls[0]
    assert all(counts[name] <= bound for name, (_, bound) in builds.items()), counts


def test_text_profile_is_single_scan_no_shuffle(spark):
    """The composite text profile must stay ONE row-local scan: no
    Exchange (shuffle) and no Join anywhere in the plan — all 17
    signals compute per row (the consolidation must never regress to
    joining the six per-operator outputs)."""
    from renet2_spark.functions.textstats import text_profile

    plan = _executed(text_profile(_docs(spark)))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_rel_suite_window_shares_one_window(spark):
    """rank + lag ride ONE window spec -> exactly one Window physical
    node (one sort), not two."""
    from renet2_spark.plans.relational import rel_suite_window

    plan = _executed(rel_suite_window(spark, SF_SMOKE))
    assert plan.count("Window") == 1


def test_pack_sequences_stats_join_is_broadcast(spark):
    """The per-source (lo, span) map must ride in as a BROADCAST join
    (r4 verdict #4), never a shuffled join on source."""
    from renet2_spark.operators.curation import pack_sequences

    plan = _executed(pack_sequences(_docs(spark), segments=8))
    assert "BroadcastHashJoin" in plan


def test_query_window_cap():
    """The driver's correctness window checks at most 50 queries; a
    51st entry would be SILENTLY evicted from per-round verification
    (r5 ADVICE #1). Fail loudly instead, and require every queries()
    entry except documented rows-only ones to carry an oracle."""
    import __spark_entry__ as entry

    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert len(qs) <= 50, (
        f"{len(qs)} queries exceeds the driver's 50-query correctness "
        "window — consolidate before adding (see queries() comment)"
    )
    missing = sorted(set(qs) - set(os_))
    assert missing == [], f"queries without an oracle: {missing}"
    stray = sorted(set(os_) - set(qs))
    assert stray == [], f"oracles without a query: {stray}"


def _referenced_names(node) -> set[str]:
    """Names a statement references: identifiers, attribute names,
    names imported under an alias and identifier-like string constants
    (getattr by name). Docstrings and comments never qualify."""
    import ast

    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            # an unaliased import is a use only where the bound name is
            # read (an ast.Name); an aliased one hides the original
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


# Package names that only tests call, each with the reason it stays.
_ORACLE = "per-operator oracle: localizes a composite driver-query mismatch"
_TEST_ONLY = {
    "q_simhash": _ORACLE,
    "q_text_stats": _ORACLE,
    "q_lang_id": _ORACLE,
    "q_token_counts": _ORACLE,
    "q_fingerprint": _ORACLE,
    "q_text_repetition": _ORACLE,
    "q_media_features": _ORACLE,
    "q_media_frames": _ORACLE,
    "q_label_distribution": _ORACLE,
    "q_pair_tensors_digest": _ORACLE,
    "normalize_gene_id": "Python mirror of the reference's parse_ann_id gene path",
    "normalize_disease_id": "Python mirror of the reference's parse_ann_id disease path",
    "tokenize_s": "Python mirror of the reference's tokenize_s, pinned to frozen vectors",
    "tokenize_text": "Python mirror of the reference's tokenize; PACKED_OK is checked against it",
    "sentence_split_simple": "Python mirror of the reference's sentence_split",
    "refine_snt": "Python mirror of the reference's refine_snt",
    "minhash_signatures": "reference for _row_local_signatures",
    "spans_fingerprint": "invariant helper checked after every span stage",
    "fetch_documents": "RENET2's download step; only testable offline",
    "urllib_transport": "RENET2's download step; only testable offline",
    "fetch_accounting": "RENET2's download step; only testable offline",
    "stream_edges": "Structured Streaming form of RENET2's micro-batch loop",
}


def test_package_has_no_unreferenced_top_level_names():
    """Every top-level function, class and assigned name in
    renet2_spark/ is referenced outside its own definition somewhere
    in the package, __spark_entry__.py, bench*.py, perfbench/,
    scripts/ or tests/ — dead code fails here instead of lingering.
    A name that only tests/ reference must be a key of _TEST_ONLY,
    whose value says why it stays, and every key there must still be
    such a name."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "renet2_spark"
    files = [*pkg.rglob("*.py"), root / "__spark_entry__.py",
             *root.glob("bench*.py")]
    for d in ("perfbench", "scripts", "tests"):
        files += (root / d).rglob("*.py")
    defined: dict[str, str] = {}
    used: set[str] = set()
    used_outside_tests: set[str] = set()
    for f in files:
        for stmt in ast.parse(f.read_text()).body:
            own = set()
            if pkg in f.parents:
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    own = {stmt.name}
                elif isinstance(stmt, ast.Assign):
                    own = {t.id for t in stmt.targets if isinstance(t, ast.Name)}
                elif isinstance(stmt, ast.AnnAssign) and isinstance(
                    stmt.target, ast.Name
                ):
                    own = {stmt.target.id}
            for name in own:
                defined.setdefault(name, f"{f.relative_to(root)}:{stmt.lineno}")
            refs = _referenced_names(stmt) - own
            used |= refs
            if root / "tests" not in f.parents:
                used_outside_tests |= refs
    live = {name: where for name, where in defined.items()
            if not name.startswith("__")}
    dead = {name: where for name, where in live.items() if name not in used}
    assert dead == {}, f"top-level names referenced nowhere: {dead}"
    test_only = {name: where for name, where in live.items()
                 if name not in used_outside_tests}
    unlisted = {n: w for n, w in test_only.items() if n not in _TEST_ONLY}
    assert unlisted == {}, f"names only tests reference, no reason given: {unlisted}"
    stale = sorted(set(_TEST_ONLY) - set(test_only))
    assert stale == [], f"_TEST_ONLY names that are gone or used outside tests: {stale}"


# Defaulted package parameters that only tests set, each with the
# reason it stays.
_SHRINK = "a test shrinks it so the bound binds at fixture scale"
_REF = "test_ref_parity feeds the reference-scale dictionaries"
_OFFLINE = "RENET2's download step; only testable offline"
_TEST_SEAMS = {
    "dedup_ngram_jaccard.threshold": _SHRINK,
    "dedup_ngram_jaccard.max_shingle_docs": _SHRINK,
    "dedup_minhash_lsh.threshold": _SHRINK,
    "dedup_minhash_lsh.max_shingle_docs": _SHRINK,
    "dedup_minhash_lsh.max_bucket_size": _SHRINK,
    "capped_shingle_stats.max_shingle_docs": _SHRINK,
    "hot_bucket_stats.max_bucket_size": _SHRINK,
    "blocked_pairs.max_bucket_size": _SHRINK,
    "repeated_spans.max_shingle_docs": _SHRINK,
    "dedup_embedding.threshold": _SHRINK,
    "dedup_embedding_lsh.threshold": _SHRINK,
    "dedup_embedding_lsh.max_bucket_size": _SHRINK,
    "ann_topk_lsh.max_bucket_size": _SHRINK,
    "ann_topk_lsh.n_planes": "recall test: 4 planes x 8 tables",
    "ann_topk_lsh.n_tables": "recall test: 4 planes x 8 tables",
    "ann_topk_brute.k": "dense-rank test at a small k",
    "ann_topk_brute.n_queries": "dense-rank test at few queries",
    "dedup_components.max_iters": "non-convergence test: one round",
    "lsh_buckets.dim": "wrong-dim test hashes 32- and 128-d vectors",
    "pack_sequences.segments": "forces many segments at fixture scale",
    "build_pair_tensors.max_sents": "full-text shape at the encoder",
    "sample_hash.salt": "a different salt draws a different sample",
    "canonicalize_mentions.transfer": _REF,
    "canonicalize_mentions.omim": _REF,
    "canonicalize_mentions.valid_c": _REF,
    "fetch_documents.partitions": _OFFLINE,
    "urllib_transport.timeout": _OFFLINE,
    "urllib_transport.backoff": _OFFLINE,
}
# package parameters no body reads, each with the reason it stays
_UNREAD = {"pair_features.info": "perfbench passes it; goes with the benchmark"}


def test_every_option_has_a_caller():
    """Every defaulted parameter of a renet2_spark/ function or method
    (oracles.py aside) is set by a call outside tests/: in the package,
    __spark_entry__.py, bench*.py, perfbench/ or scripts/. An argument
    that only forwards the caller's own defaulted parameter sets it
    only if that parameter is set. A parameter only tests set must be
    a key of _TEST_SEAMS, and every key there must still be one; a
    test call that passes the default literal sets nothing. No package
    signature takes **kwargs, and every parameter is read (_UNREAD
    aside): an option no caller sets is a configuration no workload
    runs."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "renet2_spark"
    files = [*pkg.rglob("*.py"), root / "__spark_entry__.py",
             *root.glob("bench*.py")]
    for d in ("perfbench", "scripts", "tests"):
        files += (root / d).rglob("*.py")
    trees = {f: ast.parse(f.read_text()) for f in files}
    fn_types = (ast.FunctionDef, ast.AsyncFunctionDef)
    funcs, bad = {}, []
    for f, tree in trees.items():
        if pkg not in f.parents or f.name == "oracles.py":
            continue
        for n in ast.walk(tree):
            if isinstance(n, fn_types) and n.args.kwarg:
                bad.append(f"{n.name}(**{n.args.kwarg.arg})")
        for stmt in tree.body:
            methods = [m for m in getattr(stmt, "body", []) if isinstance(m, fn_types)]
            for fn, off in [(stmt, 0)] if isinstance(stmt, fn_types) else \
                    [(m, 1) for m in methods] if isinstance(stmt, ast.ClassDef) else []:
                assert fn.name not in funcs, f"two package functions named {fn.name}"
                funcs[fn.name] = (fn, off)

    def params(fn):
        a = fn.args
        pos = [p.arg for p in [*a.posonlyargs, *a.args]]
        dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        dflt.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d)
        return pos, dflt

    for name, (fn, _) in funcs.items():
        a = fn.args
        read = {n.id for s in fn.body for n in ast.walk(s) if isinstance(n, ast.Name)}
        bad += [f"{name}.{p.arg} is never read"
                for p in [*a.posonlyargs, *a.args, *a.kwonlyargs]
                if p.arg not in read and f"{name}.{p.arg}" not in _UNREAD]

    # "func.param" -> [(in_tests, forwarded "func.param" or None)]
    sites: dict[str, list] = {}
    for f, tree in trees.items():
        in_tests = root / "tests" in f.parents
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}

        def binder(node, name):
            """The tracked function whose defaulted parameter `name`
            is, as seen from `node`; "" for any other binding."""
            while node in parent:
                node = parent[node]
                if isinstance(node, (*fn_types, ast.Lambda)):
                    a = node.args
                    if name == getattr(a.kwarg, "arg", None) or name in {
                        p.arg for p in [*a.posonlyargs, *a.args, *a.kwonlyargs]
                    }:
                        tracked = funcs.get(getattr(node, "name", None), (None,))[0]
                        return node.name if tracked is node else ""
            return ""

        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            if name not in funcs:
                continue
            fn, off = funcs[name]
            pos, dflt = params(fn)
            given = [(pos[i + off], v) for i, v in enumerate(call.args)
                     if i + off < len(pos) and not isinstance(v, ast.Starred)]
            given += [(k.arg, k.value) for k in call.keywords if k.arg]
            for p, v in given:
                if p not in dflt:
                    if fn.args.kwarg and p not in pos:  # into **kwargs
                        sites.setdefault(f"{name}.**{p}", []).append((in_tests, None))
                    continue
                if in_tests and isinstance(v, ast.Constant) and \
                        isinstance(dflt[p], ast.Constant) and v.value == dflt[p].value:
                    continue
                fwd = binder(call, v.id) if isinstance(v, ast.Name) else ""
                if fwd and v.id not in params(funcs[fwd][0])[1]:
                    fwd = ""  # a required parameter is always set
                sites.setdefault(f"{name}.{p}", []).append(
                    (in_tests, f"{fwd}.{v.id}" if fwd else None))
            for k in call.keywords:
                fwd = binder(call, k.value.id) if k.arg is None and \
                    isinstance(k.value, ast.Name) else ""
                for p in dflt if fwd else ():
                    sites.setdefault(f"{name}.{p}", []).append(
                        (in_tests, f"{fwd}.**{p}"))

    def set_by(with_tests):
        done, grew = set(), True
        while grew:
            grew = False
            for key, ss in sites.items():
                if key not in done and any(
                    (with_tests or not t) and (dep is None or dep in done)
                    for t, dep in ss
                ):
                    done.add(key)
                    grew = True
        return done

    outside, anywhere = set_by(False), set_by(True)
    options = [f"{n}.{p}" for n, (fn, _) in funcs.items() for p in params(fn)[1]]
    never = [o for o in options if o not in anywhere]
    unlisted = [o for o in options
                if o in anywhere and o not in outside and o not in _TEST_SEAMS]
    stale = [o for o in _TEST_SEAMS if o not in anywhere or o in outside]
    assert (never, unlisted, stale, bad) == ([], [], [], []), (
        f"set by no caller: {never}; set only by tests, no reason given: "
        f"{unlisted}; _TEST_SEAMS keys not test-only: {stale}; {bad}"
    )


def test_package_has_no_unused_imports():
    """Every name an import binds in renet2_spark/ is read somewhere in
    its module (or listed in __all__). With the dead-name guard above,
    a definition kept alive only by a stray import fails here."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "renet2_spark"
    unused = []
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
            ):
                read |= {c.value for c in ast.walk(n.value)
                         if isinstance(c, ast.Constant)}
        for n in ast.walk(tree):
            if isinstance(n, (ast.Import, ast.ImportFrom)) and not (
                isinstance(n, ast.ImportFrom) and n.module == "__future__"
            ):
                for a in n.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in read:
                        unused.append(f"{f.relative_to(pkg.parent)}:{n.lineno} {bound}")
    assert unused == [], f"imports never read: {unused}"


def test_package_has_no_module_level_registry():
    """No function in renet2_spark/ mutates a module-level name (calls
    append, pop, clear, extend, update or add on it): a process-global
    registry lets two builds in one session interfere (one evicting
    the other's persisted relations)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "renet2_spark"
    mutating = {"append", "pop", "clear", "extend", "update", "add"}
    found = set()
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        module_names = set()
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign):
                module_names |= {t.id for t in stmt.targets if isinstance(t, ast.Name)}
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                module_names.add(stmt.target.id)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            args = fn.args
            local = {a.arg for a in [*args.posonlyargs, *args.args, *args.kwonlyargs]}
            local |= {n.id for n in ast.walk(fn)
                      if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
            for call in ast.walk(fn):
                if (isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Attribute)
                        and call.func.attr in mutating
                        and isinstance(call.func.value, ast.Name)
                        and call.func.value.id in module_names - local):
                    found.add(call.func.value.id)
    assert found == set(), f"module-level names mutated by functions: {sorted(found)}"
