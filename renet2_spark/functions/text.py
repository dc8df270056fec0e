"""Raw-text scalar functions: tokenizer + sentence splitter.

Reference-parity re-expressions (NOT ports) of the reference's text
preprocessing:

* :func:`tokenize_text` / :func:`tokenize_series` — the reference's
  rule-based tokenizer (src/renet2/utils/tokenizer.py:16-110
  `tokenize`, the variant raw.py imports) re-expressed as an ORDERED
  regex rule table: quote normalization, ellipsis, punctuation
  spacing, the stateful final-period scan (as a single anchored
  regex), bracket spacing, clitic splitting ('s/n't/... incl. case
  variants), and the word expansions (cannot -> can not, gonna ->
  gon na, ... including the reference's "wanna -> wanna" no-op).
  Token-sequence equality with the reference is pinned by frozen
  vectors in tests/test_ref_parity.py. The Series variant applies the
  SAME table via pd.Series.str.replace — a vectorized chain, no
  per-row python function in the tokenize path.

* :data:`PACKED_OK` — the packed corpus contract as one SQL predicate
  on `text`: true exactly where the splitter and tokenizer below are
  the identity, with the deny-list generated from the rule table.

* :func:`split_sentences` — the reference's `snt_split`
  (src/renet2/raw.py:437-545) re-expressed: bracket-balance gating
  (disabled when the text's brackets are unbalanced), '!?'+space
  cuts, '.;' cuts with the abbreviation set (' vs', 'i.e', 's.c',
  'e.g', ' al', ' Dr' / ' ref', 'e. g', ' viz'), uppercase/lowercase
  lookahead scans, the digit+unit continuation scan, and the
  trailing-')]' scan. Sentences keep the reference's exact substrings
  (including leading spaces). A character-scan automaton is inherently
  sequential, so this stays a per-string function; split_tokenize runs
  it over a batch for the raw tagger's one pass (operators.tagger.
  raw_tokens) and the neural worker (operators.neural.word_rows; the
  reference itself shells out to the GENIA C++ splitter in production,
  src/renet2/parse_data.py:456-467).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lit(s: str, repl: str) -> tuple[str, str]:
    return re.escape(s), repl


# ---- tokenizer rule table (reference utils/tokenizer.py:16-110) ----------
# Applied IN ORDER via re.sub; literal str.replace and re.sub with an
# escaped pattern scan identically (left-to-right, non-overlapping,
# replacements never rescanned), so the chain is rule-for-rule
# equivalent to the reference's replace sequence.

# the final-period scan (tokenizer.py:37-49): from the end skip
# spaces, then closing brackets/quotes (NOT '('/'{'/'<'); if the char
# there is a '.' not preceded by another '.', split it off. The tail
# after the '.' is therefore exactly: closers*, spaces*, end.
_FINAL_PERIOD = (r"(?<!\.)\.([\[\]\)\}>\"']*)( *)$", r" .\1\2")

_RULES_PRE: list[tuple[str, str]] = [
    (r'^"', '" '),
    _lit(' "', '  " '),
    _lit('("', '( " '),
    _lit('["', '[ " '),
    _lit('{"', '{ " '),
    _lit('<"', '< " '),
    _lit("...", " ... "),
    _lit(",", " , "),
    _lit(";", " ; "),
    _lit(":", " : "),
    _lit("@", " @ "),
    _lit("#", " # "),
    _lit("$", " $ "),
    _lit("%", " % "),
    _lit("&", " & "),
    _FINAL_PERIOD,
    _lit("?", " ? "),
    _lit("!", " ! "),
    _lit("[", " [ "),
    _lit("]", " ] "),
    _lit("(", " ( "),
    _lit(")", " ) "),
    _lit("{", " { "),
    _lit("}", " } "),
    _lit("<", " < "),
    _lit(">", " > "),
    _lit("--", " -- "),
]

# after padding with one space on both ends (tokenizer.py:66-67)
_RULES_POST: list[tuple[str, str]] = [
    _lit('"', ' " '),
    # replace("' ", " ' ", skip="'") — skip when preceded by a quote
    (r"(?<!')' ", " ' "),
    _lit("'s ", " 's "),
    _lit("'S ", " 'S "),
    _lit("'m ", " 'm "),
    _lit("'M ", " 'M "),
    _lit("'d ", " 'd "),
    _lit("'D ", " 'D "),
    _lit("'ll ", " 'll "),
    _lit("'re ", " 're "),
    _lit("'ve ", " 've "),
    _lit("n't ", " n't "),
    _lit("'LL ", " 'LL "),
    _lit("'RE ", " 'RE "),
    _lit("'VE ", " 'VE "),
    _lit("N'T ", " N'T "),
    _lit(" Cannot ", " Can not "),
    _lit(" cannot ", " can not "),
    _lit(" D'ye ", " D' ye "),
    _lit(" d'ye ", " d' ye "),
    _lit(" Gimme ", " Gim me "),
    _lit(" gimme ", " gim me "),
    _lit(" Gonna ", " Gon na "),
    _lit(" gonna ", " gon na "),
    _lit(" Gotta ", " Got ta "),
    _lit(" gotta ", " got ta "),
    _lit(" Lemme ", " Lem me "),
    _lit(" lemme ", " lem me "),
    _lit(" More'n ", " More 'n "),
    _lit(" more'n ", " more 'n "),
    _lit("'Tis ", " 'T is "),
    _lit("'tis ", " 't is "),
    _lit("'Twas ", " 'T was "),
    _lit("'twas ", " 't was "),
    _lit(" Wanna ", " Wan na "),
    _lit(" wanna ", " wanna "),  # the reference's exact no-op, kept
]

_COMPILED_PRE = [(re.compile(p), r) for p, r in _RULES_PRE]
_COMPILED_POST = [(re.compile(p), r) for p, r in _RULES_POST]


def _rewritten_words() -> list[str]:
    """The alphanumeric words W of the literal ' W ' rules of
    _RULES_POST that change the text (the 'wanna' no-op excluded)."""
    out = []
    for pat, repl in _RULES_POST:
        s = re.sub(r"\\(.)", r"\1", pat)
        if (re.escape(s) == pat and re.fullmatch(" [A-Za-z0-9]+ ", s)
                and repl != s):
            out.append(s.strip())
    return out


# ---- the packed corpus contract ------------------------------------------
# A document is PACKED iff this SQL predicate holds on its `text`: single
# spaces between alphanumeric words (\z, not $: Java's $ also matches
# before a final line terminator), and no word a _RULES_POST word rule
# rewrites. Exactly then split_sentences is [text] and tokenize_text is
# the split on ' ' (no _RULES_PRE rule and no splitter cut fires
# without punctuation), so the arithmetic tagger's coordinates are the
# reference's. NULL text is not packed.
PACKED_OK = (
    r"coalesce(text rlike '\\A[A-Za-z0-9]+( [A-Za-z0-9]+)*\\z'"
    " AND NOT arrays_overlap(split(text, ' '), array("
    + ", ".join(f"'{w}'" for w in _rewritten_words())
    + ")), false)"
)


def tokenize_text(text: str) -> list[str]:
    """Reference-parity tokenizer (single string)."""
    if not text:
        return []
    s = text
    for pat, repl in _COMPILED_PRE:
        s = pat.sub(repl, s)
    s = " " + s + " "
    for pat, repl in _COMPILED_POST:
        s = pat.sub(repl, s)
    return s.strip().split()


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized tokenizer: the SAME rule table applied as a
    pd.Series.str.replace chain (no per-row python function)."""
    s = texts.fillna("")
    for pat, repl in _COMPILED_PRE:
        s = s.str.replace(pat, repl, regex=True)
    s = " " + s + " "
    for pat, repl in _COMPILED_POST:
        s = s.str.replace(pat, repl, regex=True)
    return s.str.strip().str.split()


# ---- secondary tokenizer variant (reference utils/tokenizer.py:112-225) ---
# tokenize_s: the aggressive variant — same quote/punct framing as
# `tokenize` but the '" ' padding carries a double space, the
# quote-clitic replace has NO skip guard, only the Cannot/D'ye word
# expansions are live, and a final pass splits on - ' / _ * + = . ;
# (so ALL periods separate, not just the sentence-final one).

_RULES_S_PRE: list[tuple[str, str]] = [
    (r'^"', '" '),
    _lit(' "', '  " '),
    _lit('("', '( " '),
    _lit('["', '[ " '),
    _lit('{"', '{ " '),
    _lit('<"', '< " '),
    _lit("...", " ... "),
    _lit(",", " , "),
    _lit(";", " ; "),
    _lit(":", " : "),
    _lit("@", " @ "),
    _lit("#", " # "),
    _lit("$", " $ "),
    _lit("%", " % "),
    _lit("&", " & "),
    _FINAL_PERIOD,
    _lit("?", " ? "),
    _lit("!", " ! "),
    _lit("[", " [ "),
    _lit("]", " ] "),
    _lit("(", " ( "),
    _lit(")", " ) "),
    _lit("{", " { "),
    _lit("}", " } "),
    _lit("<", " < "),
    _lit(">", " > "),
    _lit("--", " -- "),
]

_RULES_S_POST: list[tuple[str, str]] = [
    _lit('"', ' "  '),  # double trailing space, reference line 176
    _lit("' ", " ' "),  # no skip guard in this variant
    _lit("'s ", " 's "),
    _lit("'S ", " 'S "),
    _lit("'m ", " 'm "),
    _lit("'M ", " 'M "),
    _lit("'d ", " 'd "),
    _lit("'D ", " 'D "),
    _lit("'ll ", " 'll "),
    _lit("'re ", " 're "),
    _lit("'ve ", " 've "),
    _lit("n't ", " n't "),
    _lit("'LL ", " 'LL "),
    _lit("'RE ", " 'RE "),
    _lit("'VE ", " 'VE "),
    _lit("N'T ", " N'T "),
    _lit(" Cannot ", " Can not "),
    _lit(" cannot ", " can not "),
    _lit(" D'ye ", " D' ye "),
    _lit(" d'ye ", " d' ye "),
    _lit("-", " - "),
    _lit("'", " ' "),
    _lit("/", " / "),
    _lit("_", " _ "),
    _lit("*", " * "),
    _lit("+", " + "),
    _lit("=", " = "),
    _lit(".", " . "),
    _lit(";", " ; "),
]

_COMPILED_S_PRE = [(re.compile(p), r) for p, r in _RULES_S_PRE]
_COMPILED_S_POST = [(re.compile(p), r) for p, r in _RULES_S_POST]


def tokenize_s(text: str) -> list[str]:
    """Reference-parity secondary tokenizer (tokenize_s,
    utils/tokenizer.py:112-225) — parity pinned by frozen vectors
    generated by executing the reference (tests/test_ref_parity.py)."""
    if not text:
        return []
    s = text
    for pat, repl in _COMPILED_S_PRE:
        s = pat.sub(repl, s)
    s = " " + s + " "
    for pat, repl in _COMPILED_S_POST:
        s = pat.sub(repl, s)
    return s.strip().split()


# ---- simple sentence splitter + bracket refine (raw.py:399-433,550-586) ---

_SPLIT_LEAD = "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + '-"' + "'"


def sentence_split_simple(text: str) -> list[str]:
    """Reference `sentence_split` (raw.py:399-433) — the simple
    pre-splitter refine_snt consumes: cut after '?'/'!' anywhere and
    after '.' followed by ' ' + [A-Z-\"'], absorbing the tail when the
    cut char sits within the last two positions. Exact substrings."""
    out: list[str] = []
    piv, n = 0, len(text)
    for i, ch in enumerate(text):
        if ch in "?!":
            if i > n - 3:
                out.append(text[piv:])
                return out
            out.append(text[piv : i + 1])
            piv = i + 1
        elif ch == ".":
            if i > n - 3:
                out.append(text[piv:])
                return out
            if text[i + 1] == " " and text[i + 2] in _SPLIT_LEAD:
                out.append(text[piv : i + 1])
                piv = i + 1
    out.append(text[piv:])
    return out


def refine_snt(text: str, snt_offsets: list[int]) -> tuple[list[str], list[int]]:
    """Reference `refine_snt` (raw.py:550-586): drop candidate sentence
    START offsets that fall inside an open-bracket region (only when
    the text's brackets are globally balanced; an offset AT an opening
    bracket of depth 1 survives), then re-slice the text at the kept
    offsets. Returns (sentences, kept_offsets)."""
    balanced = sum(c in "[({" for c in text) == sum(c in "}])" for c in text)
    kept: list[int] = []
    depth, j = 0, 0
    for i, ch in enumerate(text):
        if balanced:
            if ch in "[({":
                depth += 1
            if depth > 0 and ch in "])}":
                depth -= 1
        if j < len(snt_offsets) and snt_offsets[j] == i:
            if depth == 0 or (depth == 1 and ch in "[({"):
                kept.append(i)
            j += 1
    snts = [
        text[kept[i] : kept[i + 1] if i + 1 < len(kept) else len(text)]
        for i in range(len(kept))
    ]
    return snts, kept


# ---- sentence splitter (reference raw.py:437-545 snt_split) ---------------

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LEAD = "({[" + _UPPER + '-"' + "'"
_ABBR3 = (" vs", "i.e", "s.c", "e.g", " al", " Dr")
_ABBR4 = (" ref", "e. g", " viz")


def split_sentences(text: str) -> list[str]:
    """Reference-parity sentence splitter (snt_split semantics).
    Returns the reference's exact substrings — no trimming."""
    n = len(text)
    snts: list[str] = []
    prv = 0
    hold = 0
    balanced = sum(c in "[({" for c in text) == sum(c in "}])" for c in text)
    for i, ch in enumerate(text):
        if i >= n - 2:
            break
        if balanced:
            if ch in "[({":
                hold += 1
            if hold and ch in "])}":
                hold -= 1
            if hold:
                continue
        cut = False
        if ch in "!?" and text[i + 1] == " ":
            cut = True
        elif ch in ".;":
            protected = False
            if text[i + 1] == " ":
                if i > 3 and text[i - 3 : i] in _ABBR3:
                    protected = True
                elif i > 4 and text[i - 4 : i] in _ABBR4:
                    protected = True
                if not protected and ch == ".":
                    nxt = text[i + 2]
                    if nxt in _LEAD:
                        cut = True
                    else:
                        if "a" <= nxt <= "z":
                            j = i + 2
                            while j < n:
                                c = text[j]
                                if c in "0123456789({[" + _UPPER + '-"' + "'":
                                    cut = True
                                    break
                                if c == " ":
                                    break
                                j += 1
                        if not cut and "0" <= nxt <= "9":
                            j = i + 2
                            while j < n:
                                c = text[j]
                                if c in _UPPER + "|-/":
                                    cut = True
                                    break
                                if c == " ":
                                    break
                                j += 1
            elif i > 2 and "a" <= text[i - 1] <= "z":
                j = i + 1
                while j < n and text[j] in "0123456789-/()[]{}":
                    j += 1
                if j + 1 < n and text[j] == " " and text[j + 1] in _UPPER:
                    cut = True
            if not protected and not cut:
                j = i + 2
                while j < n:
                    c = text[j]
                    if c in ")]":
                        cut = True
                        break
                    if c not in " 0123456789([":
                        break
                    j += 1
        if cut:
            snts.append(text[prv : i + 1])
            prv = i + 1
    snts.append(text[prv:])
    return snts


def split_tokenize(texts) -> list[list[tuple[str, list[str]]]]:
    """Each text's split_sentences sentences, in order, each with its
    tokens: all sentences of `texts` are tokenized in ONE
    tokenize_series call. A NULL text reads as the empty text."""
    per_text = [split_sentences(t or "") for t in texts]
    toks = iter(tokenize_series(pd.Series([s for ss in per_text for s in ss], dtype=object)))
    return [[(s, next(toks)) for s in ss] for ss in per_text]


# ---- Filter_rnn (reference utils/sequence_utils.py:170-198) ---------------

# the reference's filter STRING: a token is dropped iff it is a
# SUBSTRING of this (python `token not in filters` is substring
# membership — so '()' or '<=' are dropped too, not only single chars)
RNN_FILTERS = "!\"#$%&()*+,-./:;<=>?@[\\]^_`{|}~\t\n"


def filter_rnn(tokens: DataFrame, mentions: DataFrame | None = None
               ) -> DataFrame:
    """Reference Filter_rnn over a token stream (doc_id, sent_no,
    tok_no, token): entity tokens (positions present in `mentions`)
    always survive with case preserved; other tokens are dropped when
    they are a substring of RNN_FILTERS, and LOWERCASED otherwise.
    Survivors get re-numbered tok_no (row_number within the sentence),
    with the original position kept as orig_tok_no so mention
    coordinates can be re-joined — the reference gets this renumbering
    for free because entities are woven into the python list as tuples
    (sequence_utils.py:177-196). The 8d->6d feature projection of the
    reference is layout-internal (our encoder carries feature CODES,
    operators/neural.py) and needs no counterpart."""
    from pyspark.sql import Window as W

    if mentions is not None:
        ent = mentions.select(
            "doc_id", "sent_no", "tok_no", F.lit(True).alias("_ent")
        ).dropDuplicates(["doc_id", "sent_no", "tok_no"])
        toks = tokens.join(ent, ["doc_id", "sent_no", "tok_no"], "left")
    else:
        toks = tokens.withColumn("_ent", F.lit(None).cast("boolean"))
    is_ent = F.coalesce("_ent", F.lit(False))
    # '' is "in" every string in python, so empty tokens drop too
    dropped = (F.length("token") == 0) | (
        F.instr(F.lit(RNN_FILTERS), F.col("token")) > 0
    )
    kept = toks.filter(is_ent | ~dropped).withColumn(
        "token", F.when(is_ent, F.col("token")).otherwise(F.lower("token"))
    )
    w = W.partitionBy("doc_id", "sent_no").orderBy("tok_no")
    return (
        kept.withColumn("orig_tok_no", F.col("tok_no"))
        .withColumn("tok_no", (F.row_number().over(w) - 1).cast("int"))
        .drop("_ent")
    )
