"""Text extraction and analysis functions (Spark-native where possible).

``extract_text`` is the trafilatura-equivalent stage of the north star:
html → main text, *byte-identical per url* to the golden ``text`` column
(the per-row invariant in ``input_hint``).  For the deterministic HTML
produced by :mod:`deepie_spark.datagen.pages` the inverse is exact and —
deliberately — implemented with JVM-side column expressions only
(regexp + unescape), so the hot path of the 100 TB scan stays inside
whole-stage codegen with zero Python.  A real-world extractor would slot
in here as an Arrow-batched pandas UDF with the same signature.

The analysis functions (language id, quality score, token counts,
fingerprints) are the text-analysis operator family for training-data
pipelines; each has a DuckDB-oracle twin in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# extraction (north-star stage 1)

_BODY_RE = "<p>(.*?)</p>"


def html_unescape_col(c: Column) -> Column:
    """Inverse of datagen.pages.html_escape_col (reverse order)."""
    c = F.regexp_replace(c, "&gt;", ">")
    c = F.regexp_replace(c, "&lt;", "<")
    c = F.regexp_replace(c, "&amp;", "&")
    return c


def extract_text(html: Column) -> Column:
    """binary html → extracted main text (byte-identical to golden)."""
    return html_unescape_col(
        F.regexp_extract(html.cast("string"), _BODY_RE, 1)
    )


# ---------------------------------------------------------------------------
# tokenization

def tokenize(text: Column) -> Column:
    """Whitespace tokenization; drops empty tokens (split on runs)."""
    return F.filter(F.split(text, "\\s+"), lambda t: t != "")


import re as _re

#: ASCII \s, matching Java-regex \s (Spark) and RE2 \s (DuckDB); python
#: str.split()/default \s are Unicode-aware and would tokenize
#: differently on e.g. non-breaking spaces
_WS_RE = _re.compile(r"\s+", _re.ASCII)

#: ASCII file/group/record/unit separators: str.split() treats them as
#: whitespace, regex \s does not — they gate the fast path
_FS_RE = _re.compile("[\x1c-\x1f]")


def py_tokenize(text: str) -> list[str]:
    """Python twin of :func:`tokenize` — used by every python-side
    stage (trie matcher, tagger) so all three engines (Spark column
    expr, DuckDB oracle, python UDF) agree on token positions.

    Pure-ASCII text (the overwhelmingly common case post-extraction)
    takes the C-speed ``str.split`` path, which is semantics-identical
    there except for \\x1c-\\x1f — hence the separator guard."""
    if text.isascii() and not _FS_RE.search(text):
        return text.split()
    return [t for t in _WS_RE.split(text) if t]


#: a BPE-ish subword proxy: alternating letter/digit/punct runs, the kind
#: of regex pre-tokenizer BPE vocabularies use.
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def bpe_ish_tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(_BPE_RE), 0)


# ---------------------------------------------------------------------------
# language identification (n-gram / stopword heuristic)

#: tiny per-language stopword lists — a closed-world heuristic classifier.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "en", "est", "que"],
    "de": ["der", "die", "das", "und", "in", "von", "zu", "ist"],
}


def stopword_ratio(tokens: Column, lang: str) -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n = F.size(tokens)
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# quality scoring

def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / repetition features.

    All JVM-side; the composite ``quality_score`` is a fixed linear blend
    so results are reproducible in the DuckDB oracle.
    """
    toks = tokenize(text)
    n_tok = F.size(toks)
    n_char = F.length(text)
    n_punct = F.length(F.regexp_replace(text, "[^.,;:!?]", ""))
    n_distinct = F.size(F.array_distinct(toks))
    mean_tok_len = F.when(
        n_tok > 0,
        (n_char - (n_tok - 1)).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        n_tok > 0, n_distinct.cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_char > 0, n_punct.cast("double") / n_char
    ).otherwise(F.lit(0.0))
    en_stop = stopword_ratio(toks, "en")
    return {
        "n_tokens": n_tok,
        "n_chars": n_char,
        "mean_token_len": mean_tok_len,
        "distinct_ratio": distinct_ratio,
        "punct_ratio": punct_ratio,
        "stopword_ratio_en": en_stop,
    }


def quality_score(text: Column) -> Column:
    """Composite in [0,1]-ish: rewards length and lexical diversity,
    penalizes punctuation soup."""
    f = quality_features(text)
    return (
        F.least(f["n_tokens"].cast("double") / 100.0, F.lit(1.0)) * 0.4
        + f["distinct_ratio"] * 0.4
        + (1.0 - F.least(f["punct_ratio"] * 10.0, F.lit(1.0))) * 0.2
    )


# ---------------------------------------------------------------------------
# portable deterministic hashing (same algorithm is written in the DuckDB
# oracles, so hash-based operators are cross-checkable)

MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
BASE = 131


def char_poly_hash(text: Column) -> Column:
    """Polynomial rolling hash over character code points, mod 2^31-1.

    h = sum(code(c_i) * BASE^i) mod M computed left-to-right as
    h_{i+1} = (h_i * BASE + code(c_{i+1})) mod M.  Expressed with
    ``aggregate`` over the exploded character array — stays JVM-side.
    """
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * BASE + F.ascii(c)) % MOD,
    )


def char_poly_hash_str(s: Column) -> Column:
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * BASE + F.ascii(c)) % MOD,
    )


def shingles(tokens: Column, k: int) -> Column:
    """k-token shingles as space-joined strings (for minhash / jaccard)."""
    n = F.size(tokens)
    return F.when(n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
        )
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


def doc_fingerprint(text: Column) -> Column:
    """Document fingerprint: polynomial hash of the whole text (the
    rolling structure makes it incremental / streamable)."""
    return char_poly_hash(text)


# ---------------------------------------------------------------------------
# intra-document repetition (training-data quality: repetitive docs are
# boilerplate/spam candidates — the Gopher-style repetition signals
# restated over token n-grams, since the synthetic corpus is one line)

def winnow_fingerprints(tokens: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS local fingerprinting scheme): hash every k-token shingle,
    slide a w-hash window, keep the window minimum — RIGHTMOST on ties
    (robust winnowing) — as ``struct(pos, fp)``, de-duplicated in-row.

    Guarantees: any shared substring of ≥ w+k-1 tokens yields at least
    one shared fingerprint, with expected density 2/(w+1) — the
    principled sparsification between "hash everything" (doc_trigrams)
    and "one hash per doc" (doc_fingerprint).

    Entirely in-row integer expressions over the portable BASE/MOD poly
    hash → map-only plan, zero shuffle, and a DuckDB twin computes
    identical values.  Docs shorter than one window keep their single
    global minimum (shingles() already collapses sub-k docs to one
    shingle).

    Implementation note (round-4 perf fix): the windows must NOT be
    expressed as ``transform(sequence, j -> f(slice(hs, j, w)))`` with
    ``hs`` a derived expression — Spark performs no common-subexpression
    elimination inside higher-order-function lambdas, so ``hs`` (the
    full shingle+hash pipeline) is re-evaluated PER WINDOW → O(m²) per
    document (measured 230 s for 5k docs at sf0.1).  Instead this is
    ONE left fold over ``hs`` (the fold's collection argument is
    evaluated once) carrying a ring buffer of the last ``w`` hashes:
    O(m·w) total, ~100× faster on the same corpus.  A switched-away
    minimum can never be re-picked (the switch target is a ≤-min that
    stays in the window longer), so duplicate selections are adjacent —
    dropped by the last-element guard; array_distinct stays as a cheap
    belt-and-braces."""
    hs = F.transform(shingles(tokens, k), char_poly_hash_str)
    init = F.struct(
        F.array().cast("array<long>").alias("buf"),
        F.lit(0).cast("long").alias("n"),
        F.expr(
            "CAST(array() AS array<struct<pos:bigint,fp:bigint>>)"
        ).alias("out"),
    )

    def step(acc: Column, x: Column) -> Column:
        grown = F.concat(acc["buf"], F.array(x))
        buf = F.when(
            F.size(grown) > w, F.slice(grown, 2, w)
        ).otherwise(grown)
        n = acc["n"] + 1
        v = F.array_min(buf)
        rpos = F.size(buf) - F.array_position(F.reverse(buf), v) + 1
        pick = F.struct(
            (n - w + rpos - 1).cast("long").alias("pos"),
            v.alias("fp"),
        )
        appended = F.when(
            (F.size(acc["out"]) > 0)
            & (F.element_at(acc["out"], -1) == pick),
            acc["out"],
        ).otherwise(F.concat(acc["out"], F.array(pick)))
        out = F.when(F.size(buf) >= w, appended).otherwise(acc["out"])
        return F.struct(buf.alias("buf"), n.alias("n"), out.alias("out"))

    def finish(acc: Column) -> Column:
        # short doc (< w shingles): single global window over buf;
        # pos = rightmost-min index (0-based) within the whole array
        v = F.array_min(acc["buf"])
        rpos = (
            F.size(acc["buf"])
            - F.array_position(F.reverse(acc["buf"]), v)
            + 1
        )
        short = F.array(
            F.struct((rpos - 1).cast("long").alias("pos"), v.alias("fp"))
        )
        return F.when(F.size(acc["out"]) > 0, acc["out"]).otherwise(short)

    return F.array_distinct(F.aggregate(hs, init, step, finish))


def doc_trigrams(tokens: Column) -> Column:
    """Non-distinct token trigrams (same fallback semantics as
    :func:`shingles`: short docs yield the whole text as one gram)."""
    return shingles(tokens, 3)


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline: redact emails / IPv4 / phone
# numbers before anything ships to a training corpus).  Patterns use
# only syntax with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b — no lookaround.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9-]{5,}[0-9]"


def pii_counts(text: Column) -> dict[str, Column]:
    return {
        "n_emails": F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)),
        "n_ipv4": F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), 0)),
        "n_phones": F.size(F.regexp_extract_all(text, F.lit(PII_PHONE), 0)),
    }


def scrub_pii(text: Column) -> Column:
    """Redact in a fixed order (email → ipv4 → phone) so the three
    patterns cannot partially rewrite each other's matches."""
    t = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV4, "<IP>")
    return F.regexp_replace(t, PII_PHONE, "<PHONE>")


# ---------------------------------------------------------------------------
# Gopher-style document quality flags (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", Appendix A — the public heuristic set
# used by most web-corpus pipelines).  Pure JVM column expressions:
# every term is an integer count or an int/int division, so the doubles
# are bit-identical across engines and the boolean flags cannot sit on
# a float boundary.  The line-level signals (bullet-start / ellipsis-
# end line fractions) are omitted because the synthetic corpus is
# single-line; they would be the same pattern over split(text, '\n').

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_flags(text: Column) -> dict[str, Column]:
    """Gopher quality signals + the composite ``passes`` flag.

    Thresholds (Gopher A1): 50 <= words <= 100k, 3 <= mean word length
    <= 10, symbol-to-word ratio ('#' or '...') <= 0.1, >= 80% of words
    contain an alphabetic character, >= 2 distinct stop words present.
    """
    toks = tokenize(text)
    n = F.size(toks)
    nd = n.cast("double")
    len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = len_sum.cast("double") / nd
    n_symbols = (
        F.size(F.split(text, "#", -1)) - 1
        + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0))
    )
    symbol_ratio = n_symbols.cast("double") / nd
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = n_alpha.cast("double") / nd
    n_stop = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(toks, w).cast("long")
        n_stop = hit if n_stop is None else n_stop + hit
    passes = (
        (n >= 50) & (n <= 100_000)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (n_stop >= 2)
    )
    return {
        "n_words": n.cast("long"),
        "mean_word_len": F.round(mean_len, 6),
        "symbol_ratio": F.round(symbol_ratio, 6),
        "alpha_frac": F.round(alpha_frac, 6),
        "n_stop": n_stop,
        "passes": passes,
    }


#: a..z → soundex digit ('0' = vowel/ignored; h/w removed beforehand)
SOUNDEX_MAP = "01230120022455012623010202"


def soundex_key(name: Column) -> Column:
    """Deterministic soundex-style phonetic key (pure codegen — no
    UDF): the classic American-Soundex pipeline re-expressed in
    engine-portable primitives, for ER phonetic blocking (the
    fuzzy_alias_match / sorted_neighborhood candidate family).

    Steps (both engines run the IDENTICAL algorithm — Spark's native
    ``F.soundex`` is NOT used because DuckDB has no counterpart and
    the two engines' h/w edge-case conventions differ; parity is the
    point of the gate):

    1. keep letters only, lowercase; empty → NULL key;
    2. drop h/w from position 2+ (they do not separate duplicate
       codes), keep the first letter;
    3. map a..z → SOUNDEX_MAP digits ('0' = vowels/y);
    4. collapse adjacent equal digits (indexed array filter — the
       backreference-free formulation, DuckDB's RE2 has no \\1);
    5. drop the LEADING collapsed group (the first letter's own code,
       with any same-code run absorbed), then drop '0's;
    6. key = upper(first letter) + first 3 digits, right-padded '0'.

    Matches the textbook examples (Robert/Rupert → R163, Ashcraft →
    A261, Tymczak → T522, Pfister → P236, Honeyman → H555).  The
    array lambdas re-evaluate their ≤|name|-length input per element
    (the HOF-CSE trap) — bounded by name length, irrelevant here."""
    s = F.lower(F.regexp_replace(name, "[^A-Za-z]", ""))
    first = F.upper(F.substring(s, 1, 1))
    body = F.concat(
        F.substring(s, 1, 1),
        F.regexp_replace(F.substring(s, 2, 1_000_000), "[hw]", ""),
    )
    codes = F.translate(
        body, "abcdefghijklmnopqrstuvwxyz", SOUNDEX_MAP
    )
    arr = F.split(codes, "")
    collapsed = F.filter(
        arr,
        lambda x, i: (i == F.lit(0))
        | (x != F.element_at(arr, F.greatest(i, F.lit(1)))),
    )
    digits = F.filter(
        F.slice(collapsed, 2, 1_000_000), lambda x: x != "0"
    )
    key3 = F.concat_ws("", F.slice(digits, 1, 3))
    return F.when(
        F.length(s) > 0, F.concat(first, F.rpad(key3, 3, "0"))
    )


def lz78_phrase_count(s: Column) -> Column:
    """LZ78 dictionary-parse phrase count of a string — the classic
    sequence-complexity score (incompressible sequences parse into
    ≈ n/log n phrases, rote repetition into far fewer): walk the
    chars growing the current word while it matches a previously
    EMITTED phrase, else emit word+char as a new phrase; a trailing
    partial word counts as one final phrase.  ONE in-row aggregate
    fold (collection arg evaluated once — the winnow_fingerprints
    rule), pure integer output, engine-portable (the DuckDB twin is
    a per-row recursive walk)."""
    init = F.expr(
        "named_struct('dict', CAST(array() AS ARRAY<STRING>),"
        " 'w', '', 'c', CAST(0 AS LONG))"
    )

    def step(acc: Column, ch: Column) -> Column:
        cand = F.concat(acc["w"], ch)
        return F.when(
            F.array_contains(acc["dict"], cand),
            F.struct(
                acc["dict"].alias("dict"),
                cand.alias("w"),
                acc["c"].alias("c"),
            ),
        ).otherwise(
            F.struct(
                F.array_append(acc["dict"], cand).alias("dict"),
                F.lit("").alias("w"),
                (acc["c"] + F.lit(1)).cast("long").alias("c"),
            )
        )

    # split('', '') yields [''] — drop empty chars so '' parses to 0
    return F.aggregate(
        F.filter(F.split(s, ""), lambda c: c != F.lit("")),
        init,
        step,
        lambda acc: acc["c"]
        + F.when(acc["w"] != F.lit(""), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )
