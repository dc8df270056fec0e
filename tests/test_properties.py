"""Property-based tests (hypothesis) for the pure text functions and
corpus derivation invariants — no Spark session needed, so they run
fast and explore the input space the fixtures can't."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from renet2_spark.functions.text import split_sentences, tokenize_text

words = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
texts = st.lists(words, min_size=1, max_size=40).map(" ".join)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_tokenizer_roundtrip_plain_words(t):
    # pure lowercase word text: tokenizer is exactly whitespace split
    assert tokenize_text(t) == t.split()


@given(st.text(min_size=0, max_size=200))
@settings(max_examples=200, deadline=None)
def test_tokenizer_total_and_nonempty(t):
    toks = tokenize_text(t)
    assert all(tok for tok in toks)
    # no token may contain whitespace
    assert all(" " not in tok for tok in toks)


@given(st.lists(st.lists(words, min_size=1, max_size=8), min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_splitter_reconstructs_content(sentences):
    # "Word ... word." sentences with capitalized starts
    rendered = " ".join(s[0].capitalize() + " " + " ".join(s[1:]) + "."
                        if len(s) > 1 else s[0].capitalize() + "."
                        for s in sentences)
    got = split_sentences(rendered)
    # snt_split PARTITIONS the text exactly (reference keeps leading
    # spaces): concatenating the pieces reproduces the input verbatim
    assert "".join(got) == rendered
    # and every emitted sentence ends with the terminator
    assert all(g.endswith(".") for g in got)


@given(st.integers(min_value=0, max_value=10_000),
       st.lists(words, min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_media_rule_and_sentence_math(doc_id, ws):
    """The corpus derivation constants in pure python: sentence count,
    media rule, and offset arithmetic agree with the oracle SQL's
    formulation (mirrors renet2_spark/corpus.py)."""
    n_sent = (len(ws) + 9) // 10
    media = [s for s in range(2, n_sent) if (doc_id + s) % 7 == 0]
    # offsets: sentence s starts after s*10 words joined by spaces
    text = " ".join(ws)
    for s in range(n_sent):
        off = 0 if s == 0 else len(" ".join(ws[: s * 10])) + 1
        sent = " ".join(ws[s * 10 : s * 10 + 10])
        assert text[off : off + len(sent)] == sent
    assert all(2 <= m < n_sent for m in media)


def _scan_model(tags):
    """Reference make_tags phase-2 scan, re-expressed in plain python
    (sequence_utils.py:42-80): overlap (start < running end, exclusive
    ends) REPLACES the previous kept tag with [kept.start, new.end] +
    the NEW identity; running end := each scanned tag's own end."""
    kept = []
    cur_end = None
    for t in sorted(tags):
        if kept and t[0] < cur_end:
            prev = kept.pop()
            kept.append((prev[0],) + t[1:])
        else:
            kept.append(t)
        cur_end = t[1]
    return kept


@given(st.lists(
    st.tuples(st.integers(0, 30), st.integers(1, 10), st.text("ab", min_size=1, max_size=3)),
    min_size=1, max_size=12))
@settings(max_examples=25, deadline=None)
def test_merge_overlaps_equals_reference_scan(spark, spans):
    """The window-chain formulation of merge_overlaps must equal the
    reference's sequential scan for ARBITRARY span sets (incl.
    contained spans that shrink the running end and duplicate
    starts)."""
    tags = []
    seen = set()
    for i, (s, ln, name) in enumerate(spans):
        key = (s, s + ln, name)
        if key in seen:  # model sort needs unique tuples for determinism
            continue
        seen.add(key)
        tags.append((s, s + ln, f"m{name}", f"e{name}{i}"))
    rows = [("d", 0, i, s, e, m, "Gene", eid)
            for i, (s, e, m, eid) in enumerate(tags)]
    from renet2_spark.operators.anncleaner import merge_overlaps

    df = spark.createDataFrame(
        rows,
        "doc_id string, sent_no int, tok_no int, start int, end int, "
        "mention string, type string, entity_id string",
    )
    got = {(r["start"], r["end"], r["mention"], r["entity_id"])
           for r in merge_overlaps(df).collect()}
    # model operates on (start, end, mention, type, entity_id, tok_no)
    # sort order; replicate the window's ordering exactly
    ordered = sorted(
        (s, e, m, "Gene", eid, i)
        for i, (s, e, m, eid) in enumerate(tags)
    )
    model_in = [(t[0], t[1], t[2], t[4]) for t in ordered]
    want = set(_scan_model(model_in))
    assert got == want


def _contract_texts(n: int, seed: int) -> list[str]:
    """Seeded texts around the packed contract: alphanumeric words,
    every alphanumeric fragment of a tokenizer rule (so every word a
    rule rewrites, the 'wanna' no-op and clitic parts), punctuation and
    apostrophes, joined by single or double spaces or tabs, some with a
    leading space or a trailing newline."""
    import random
    import re

    from renet2_spark.functions.text import _RULES_POST

    rng = random.Random(seed)
    alnum = string.ascii_letters + string.digits
    special = sorted({w for p, _ in _RULES_POST
                      for w in re.findall("[A-Za-z0-9]+", p)})
    special += ["Cannots", "gonnA", "lemmee"]
    punct = ["x.", "a,b", "it's", "don't", "(", ")", "!", "?", ";", "e.g.",
             "'", "\"q\"", "-", "vs.", "a.B"]

    def word():
        r = rng.random()
        if r < 0.15:
            return rng.choice(special)
        if r < 0.25:
            return rng.choice(punct)
        return "".join(rng.choices(alnum, k=rng.randint(1, 6)))

    out = []
    for _ in range(n):
        seps = [" "] * 20 + ["  ", "\t"]
        t = word()
        for _ in range(rng.randint(0, 7)):
            t += rng.choice(seps) + word()
        r = rng.random()
        if r < 0.08:
            t += "\n"
        elif r < 0.12:
            t = " " + t
        elif r < 0.13:
            t = ""
        out.append(t)
    return out


def test_packed_ok_sql_is_the_splitter_tokenizer_identity(spark):
    """The SQL predicate PACKED_OK, evaluated by Spark in one pass over
    24k generated texts, holds only where the reference splitter and
    tokenizer are the identity (one sentence, the text's ' ' split), and
    on alphanumeric-and-space texts exactly there."""
    import re

    from renet2_spark.functions.text import PACKED_OK

    texts = _contract_texts(24_000, seed=22)
    rows = spark.createDataFrame(
        list(enumerate(texts)), "i int, text string"
    ).selectExpr("i", f"{PACKED_OK} AS ok").collect()
    ok = {r["i"]: r["ok"] for r in rows}
    assert len(ok) == len(texts)
    n_ok = n_plain = 0
    for i, t in enumerate(texts):
        identity = tokenize_text(t) == t.split(" ") and split_sentences(t) == [t]
        if ok[i]:
            n_ok += 1
            assert identity, repr(t)
        if re.fullmatch("[A-Za-z0-9 ]*", t):
            n_plain += 1
            assert ok[i] == identity, repr(t)
    assert n_ok > 1000 and n_plain > 5000
