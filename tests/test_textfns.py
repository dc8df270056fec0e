"""Unit tests for the raw-text tokenizer/splitter (SURVEY T1/T2) and
annotation cleaning (W1/F6)."""

from renet2_spark.functions.text import split_sentences, tokenize_text


def test_tokenizer_punctuation_and_clitics():
    # reference rule semantics: mid-text periods stay attached; only
    # the FINAL period is split (tokenizer.py:37-49)
    assert tokenize_text("TP53 (p53), a tumor suppressor") == [
        "TP53", "(", "p53", ")", ",", "a", "tumor", "suppressor",
    ]
    assert tokenize_text("the gene's role isn't clear") == [
        "the", "gene", "'s", "role", "is", "n't", "clear",
    ]


def test_tokenizer_final_period_rules():
    assert tokenize_text("found in mice.") == ["found", "in", "mice", "."]
    # only the final '.' splits; abbreviation/mid-text periods survive
    assert tokenize_text("e.g. mice") == ["e.g.", "mice"]
    assert tokenize_text("p = 0.05.") == ["p", "=", "0.05", "."]
    # final '.' behind closing brackets/quotes still splits
    assert tokenize_text('done (fig. 2a.)') == [
        "done", "(", "fig.", "2a", ".", ")",
    ]


def test_sentence_splitter_basic():
    # reference snt_split keeps the exact substrings incl. the leading
    # space of continuation sentences (raw.py:437-545)
    assert split_sentences("First sentence. Second one. Third.") == [
        "First sentence.", " Second one.", " Third.",
    ]


def test_sentence_splitter_abbreviations_and_brackets():
    s = "Results (see Fig. 2a. for details) hold. Dr. Smith agreed."
    # periods inside brackets and after abbreviations do not split
    assert split_sentences(s) == [
        "Results (see Fig. 2a. for details) hold.",
        " Dr. Smith agreed.",
    ]


def test_sentence_splitter_decimal_and_lowercase_continuation():
    s = "We used 3.5 mg. of compound X. It worked."
    # '3.5' digit rule; 'mg.' followed by lowercase 'of' -> no split
    assert split_sentences(s) == [
        "We used 3.5 mg. of compound X.", " It worked.",
    ]


def test_splitter_udf_roundtrip(spark):
    """raw_tokens numbers sentences by the splitter's cuts and gives
    each token its char offset in the whole text, across the leading
    space the splitter leaves on a later sentence."""
    from renet2_spark.operators.tagger import raw_tokens

    df = spark.createDataFrame(
        [("1", "Alpha beta. Gamma delta."), ("2", "One. Two. Three.")],
        "doc_id string, text string",
    )
    rows = raw_tokens(df).collect()
    got = {(r["doc_id"], r["token"], r["start"]): r["sent_no"] for r in rows}
    assert got[("1", "Alpha", 0)] == 0
    assert got[("1", "Gamma", 12)] == 1
    assert got[("2", "Three", 10)] == 2
    assert got[("2", ".", 15)] == 2


# ---- annotation cleaning -------------------------------------------------

MSCHEMA = (
    "doc_id string, sent_no int, tok_no int, start int, end int, "
    "mention string, type string, entity_id string"
)


def _m(doc, sent, tok, start, end, mention, typ, eid):
    return (doc, sent, tok, start, end, mention, typ, eid)


def test_fuse_joint_tags(spark):
    from renet2_spark.operators.anncleaner import fuse_joint_tags

    df = spark.createDataFrame(
        [
            _m("d", 0, 0, 0, 4, "abcd", "Gene", "g1"),
            _m("d", 0, 0, 0, 4, "abcd", "Disease", "D1"),
            _m("d", 0, 2, 10, 14, "wxyz", "Gene", "g2"),
        ],
        MSCHEMA,
    )
    got = {
        (r["start"], r["type"], r["entity_id"])
        for r in fuse_joint_tags(df).collect()
    }
    # disease-first composite order (reference make_tags: both branches
    # of sequence_utils.py:20-24 put the Disease id before '>-<')
    assert got == {(0, "Gene-Disease", "D1>-<g1"), (10, "Gene", "g2")}


def test_merge_overlaps_extend_and_replace_chain(spark):
    """Reference semantics (sequence_utils.py:42-80): an overlapping
    tag REPLACES the kept one with span [kept.start, new.end] and the
    NEW identity; running end = each scanned tag's own end, so the
    whole overlapping run collapses into ONE tag carrying the LAST
    tag's identity."""
    from renet2_spark.operators.anncleaner import merge_overlaps

    df = spark.createDataFrame(
        [
            _m("d", 0, 0, 0, 10, "aaaa", "Gene", "g1"),
            _m("d", 0, 1, 5, 12, "bbbb", "Gene", "g2"),   # 5 < 10 -> merge
            _m("d", 0, 2, 11, 15, "cccc", "Gene", "g3"),  # 11 < 12 -> merge
            _m("d", 0, 3, 14, 20, "dddd", "Gene", "g4"),  # 14 < 15 -> merge
            _m("d", 1, 0, 0, 5, "eeee", "Gene", "g5"),    # other sentence
        ],
        MSCHEMA,
    )
    got = {
        (r["sent_no"], r["start"], r["end"], r["entity_id"], r["tok_no"])
        for r in merge_overlaps(df).collect()
    }
    assert got == {(0, 0, 20, "g4", 0), (1, 0, 5, "g5", 0)}


def test_merge_overlaps_contained_span_shrinks_running_end(spark):
    """The reference tracks last_end = the LAST tag's end (not a max):
    after [0,10) merges contained [2,5), a following [6,8) starts a
    NEW chain (6 >= 5) even though it overlaps the original [0,10)."""
    from renet2_spark.operators.anncleaner import merge_overlaps

    df = spark.createDataFrame(
        [
            _m("d", 0, 0, 0, 10, "aaaa", "Gene", "g1"),
            _m("d", 0, 1, 2, 5, "bb", "Gene", "g2"),
            _m("d", 0, 2, 6, 8, "cc", "Gene", "g3"),
        ],
        MSCHEMA,
    )
    got = {
        (r["start"], r["end"], r["entity_id"])
        for r in merge_overlaps(df).collect()
    }
    assert got == {(0, 5, "g2"), (6, 8, "g3")}


def test_drop_cross_sentence(spark):
    from renet2_spark.operators.anncleaner import drop_cross_sentence

    sents = spark.createDataFrame(
        [("d", 0, "0123456789", 0), ("d", 1, "abcdefghij", 11)],
        "doc_id string, sent_no int, sentence string, offset int",
    )
    ms = spark.createDataFrame(
        [
            _m("d", 0, 0, 0, 5, "01234", "Gene", "g1"),    # inside -> keep
            _m("d", 0, 1, 8, 13, "89 ab", "Gene", "g2"),   # crosses -> drop
            _m("d", 1, 0, 11, 21, "abcdefghij", "Gene", "g3"),  # exact -> keep
        ],
        MSCHEMA,
    )
    kept = {r["entity_id"] for r in drop_cross_sentence(ms, sents).collect()}
    assert kept == {"g1", "g3"}


def test_filter_rnn(spark):
    """Reference Filter_rnn (sequence_utils.py:170-198): tokens that
    are SUBSTRINGS of the filter string drop (so '()' and '<=' drop,
    not only single chars — python `in` is substring membership);
    non-entity survivors lowercase; entity positions always survive
    with case kept; survivors renumber."""
    from renet2_spark.functions.text import filter_rnn

    toks = spark.createDataFrame(
        [("d", 0, 0, "TP53"), ("d", 0, 1, "("), ("d", 0, 2, "Tumor"),
         ("d", 0, 3, ")"), ("d", 0, 4, "<="), ("d", 0, 5, ","),
         ("d", 0, 6, "Grows")],
        "doc_id string, sent_no int, tok_no int, token string",
    )
    ments = spark.createDataFrame(
        [("d", 0, 0)], "doc_id string, sent_no int, tok_no int"
    )
    got = {
        r["tok_no"]: (r["token"], r["orig_tok_no"])
        for r in filter_rnn(toks, ments).collect()
    }
    assert got == {0: ("TP53", 0), 1: ("tumor", 2), 2: ("grows", 6)}


def test_filter_rnn_entity_punct_survives(spark):
    from renet2_spark.functions.text import filter_rnn

    toks = spark.createDataFrame(
        [("d", 0, 0, "("), ("d", 0, 1, "x")],
        "doc_id string, sent_no int, tok_no int, token string",
    )
    ments = spark.createDataFrame(
        [("d", 0, 0)], "doc_id string, sent_no int, tok_no int"
    )
    got = [r["token"] for r in
           filter_rnn(toks, ments).orderBy("tok_no").collect()]
    assert got == ["(", "x"]


def test_text_repetition_edges(spark):
    """Repetition signal: fully repetitive doc scores high, distinct
    doc scores 0, docs shorter than n grams score (0, 0, 0.0). The
    columns live only in text_profile, so they are projected from it."""
    from renet2_spark.functions.textstats import text_profile

    docs = spark.createDataFrame(
        [
            ("1", "a b c a b c a b c", "en"),   # grams: 7, distinct: 3
            ("2", "q w e r t y u", "en"),       # all distinct
            ("3", "x y", "en"),                 # shorter than one 3-gram
        ],
        "doc_id string, text string, lang string",
    )
    rep = text_profile(docs).select("doc_id", "n_grams", "n_distinct",
                                    "dup_ratio")
    got = {r["doc_id"]: r for r in rep.collect()}
    assert (got["1"]["n_grams"], got["1"]["n_distinct"]) == (7, 3)
    assert abs(got["1"]["dup_ratio"] - round(4 / 7, 5)) < 1e-9
    assert got["2"]["dup_ratio"] == 0.0
    assert (got["3"]["n_grams"], got["3"]["n_distinct"], got["3"]["dup_ratio"]) == (0, 0, 0.0)


def test_pii_scrub_masks_and_counts(spark):
    """PII scrubbing: typed masks replace emails/phones/IPs (multiple
    occurrences, mixed classes), PII-free text passes through
    byte-identical with zero counts."""
    from renet2_spark.functions.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            ("1", "mail a.b+c@x-y.org and d@e.io or call +44-207-946000"),
            ("2", "server 192.168.0.1 talks to 10.0.0.254 daily"),
            ("3", "no personal data in this sentence at all"),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (got["1"]["n_emails"], got["1"]["n_phones"]) == (2, 1)
    assert got["1"]["text_masked"] == "mail [EMAIL] and [EMAIL] or call [PHONE]"
    assert got["2"]["n_ips"] == 2
    assert got["2"]["text_masked"] == "server [IP] talks to [IP] daily"
    assert got["3"]["text_masked"] == "no personal data in this sentence at all"
    assert (got["3"]["n_emails"], got["3"]["n_phones"], got["3"]["n_ips"]) == (0, 0, 0)


def test_tfidf_topk_ranks_rare_words_first(spark):
    """TF-IDF: a word unique to one doc outranks corpus-wide words for
    that doc; a word present in EVERY doc has idf=0 (tfidf exactly
    0.0); ranking ties break by word ascending; the rank cut keeps
    exactly k rows per doc with enough vocabulary."""
    import math

    from renet2_spark.functions.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            ("1", "alpha beta beta zzyzx"),
            ("2", "alpha beta gamma gamma"),
            ("3", "alpha delta delta delta"),
        ],
        "doc_id string, text string",
    )
    rows = tfidf_topk(docs, k=2).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) == 2 for v in by_doc.values())
    # doc 1: zzyzx (df=1, tf=1/4) beats beta (df=2, tf=2/4)
    top1 = by_doc["1"][0] if by_doc["1"][0]["rnk"] == 1 else by_doc["1"][1]
    assert top1["word"] == "zzyzx"
    assert top1["tfidf"] == round((1 / 4) * math.log(3 / 1), 6)
    assert (top1["tf"], top1["n_tokens"], top1["df"]) == (1, 4, 1)
    # alpha appears in all 3 docs -> idf = ln(1) = 0 -> outranked
    # wherever the doc has >= 2 nonzero-idf words (docs 1 and 2)
    assert all(
        r["word"] != "alpha" for r in rows if r["doc_id"] in ("1", "2")
    )
    # doc 3: delta (tf=3/4, df=1) first, then... only delta and alpha
    # have candidates; alpha's tfidf is 0.0 but still rankable at rnk 2
    d3 = sorted(by_doc["3"], key=lambda r: r["rnk"])
    assert d3[0]["word"] == "delta"
    assert d3[1]["word"] == "alpha" and d3[1]["tfidf"] == 0.0


def test_unigram_surprisal_corpus_model(spark):
    """Mean unigram surprisal under the corpus's own LM: a doc made of
    corpus-common words scores LOWER than one containing a hapax; the
    value matches the hand-computed decimal-summed definition."""
    from decimal import ROUND_HALF_UP, Decimal

    import math

    from renet2_spark.functions.textstats import unigram_surprisal

    docs = spark.createDataFrame(
        [("1", "the the cat"), ("2", "the zzyzx cat")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    # corpus counts: the=3, cat=2, zzyzx=1; total=6
    def term(tf, cnt):
        v = tf * -math.log(cnt / 6)
        return Decimal(repr(round(v, 6)))

    s1 = (term(2, 3) + term(1, 2)) / 3
    s2 = (term(1, 3) + term(1, 1) + term(1, 2)) / 3
    q = lambda d: float(
        Decimal(d).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
    assert got["1"]["surprisal"] == q(s1)
    assert got["2"]["surprisal"] == q(s2)
    assert got["2"]["surprisal"] > got["1"]["surprisal"]
    assert (got["1"]["n_tokens"], got["2"]["n_tokens"]) == (3, 3)
