"""Text-analysis scalar functions for large-scale training-data pipelines.

All pure Catalyst expressions (JVM-side, codegen) — language ID, quality
scoring, token counting, fingerprinting. Designed to run in the scan
projection over a 100 TB `documents` table: no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (empty tokens dropped)."""
    return F.filter(F.split(F.trim(_c(col)), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish proxy: alnum runs + individual punctuation marks — a
    cheap, deterministic stand-in for a real BPE count. The pattern
    avoids lookarounds so any RE2-class engine (including the DuckDB
    oracle, which still counts via len(regexp_extract_all)) computes
    the identical count.

    Counted by REPLACE ARITHMETIC, not by materializing the match
    array: collapse each alnum run to one char, strip whitespace, take
    the length. regexp_extract_all allocated an array of match strings
    per document just to size() it — the allocation was the entire
    pack_manifest 100x ladder wall (measured 7.9 s extract-all vs
    0.8 s replace-count over 6M docs, value-identical on every row)."""
    c = _c(col)
    return F.length(F.regexp_replace(
        F.regexp_replace(c, r"[A-Za-z0-9]+", "x"), r"\s", ""))


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    stripped = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    return ((F.length(c) - F.length(stripped)).cast("double")
            / F.greatest(F.length(c), F.lit(1)).cast("double"))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    hits = F.size(F.array_intersect(toks, F.array(
        *[F.lit(w) for w in STOPWORDS[lang]])))
    # distinct stopwords present / distinct tokens — set-based, cheap
    return hits.cast("double") / F.greatest(
        F.size(F.array_distinct(toks)), F.lit(1)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Composite document-quality heuristic in [0,1]: length band +
    punctuation sanity + mean word length band."""
    c = _c(col)
    n = F.length(c).cast("double")
    tc = token_count(col).cast("double")
    mean_word = n / F.greatest(tc, F.lit(1.0))
    len_ok = F.when((n >= 50) & (n <= 10000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.4)
    word_ok = F.when((mean_word >= 2.5) & (mean_word <= 12), 1.0).otherwise(0.5)
    # portable floor-based rounding so the DuckDB oracle matches bit-for-bit
    s = F.lit(10000.0)
    return F.floor((len_ok + punct_ok + word_ok) / F.lit(3.0) * s + F.lit(0.5)) / s


def lang_id(col: Column | str) -> Column:
    """Stopword-marker language ID over {en,es,fr,de}, 'und' when no
    marker hits. Deterministic tie-break by fixed language order."""
    toks = F.array_distinct(F.transform(tokens(col), lambda t: F.lower(t)))
    scores = [
        (lang, F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in ws]))))
        for lang, ws in STOPWORDS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace/case-normalized text —
    the exact-dedup key. (md5 rather than xxhash so the same fingerprint is
    computable by any engine.)"""
    norm = F.lower(F.regexp_replace(F.trim(_c(col)), r"\s+", " "))
    return F.md5(norm)


# PII patterns: RE2-class regexes (no lookarounds/backrefs) so the same
# pattern string runs identically under Spark's Java regex and any
# RE2-based engine. Order matters: EMAIL first (its domain dots must not
# be half-eaten by the IP rule), SSN before PHONE (disjoint shapes, but a
# fixed order keeps the chain deterministic), IP last.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column | str) -> Column:
    """Scrub emails / SSNs / phone numbers / IPv4s to typed placeholder
    tokens — the standard pre-training privacy pass. A fixed chain of
    scan-side regexp_replace calls: no shuffle, no Python, and at 100 TB it
    fuses into the same whole-stage-codegen projection as the rest of the
    cleaning pipeline."""
    out = _c(col)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_count(col: Column | str, kind: str) -> Column:
    """Number of matches of one PII category (pre-redaction)."""
    pat = {name: p for name, p, _ in PII_PATTERNS}[kind]
    return F.size(F.regexp_extract_all(_c(col), F.lit(pat), 0))


def ngram_array(toks: Column, n: int) -> Column:
    """Word n-grams of a token-array expression, space-joined, in
    position order — built with zip_with over shifted slices so EVERY
    argument expression evaluates once per row.

    The obvious form — transform(sequence(...), i -> f(element_at(toks,
    i+j)...)) — references `toks` inside the lambda body, and Spark's
    interpreted higher-order-function path re-evaluates outer expression
    references PER ELEMENT: tokenization itself runs O(len) times per
    document, making the n-gram pass O(len^2) (measured 151s -> 4s, 37x,
    on the 10x slice for the 3-gram repetition signal). zip_with's
    arguments are evaluated once and the lambda touches only bound
    variables. Trailing zip padding yields null grams (concat propagates
    null), filtered at the end — docs shorter than n naturally produce
    an empty array, no size guard needed. A NULL token array yields []
    (coalesced), matching the old size-guard semantics for null text."""
    size = F.size(toks)
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(size - j, F.lit(0)))
        acc = F.zip_with(acc, shifted,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.coalesce(F.filter(acc, lambda x: x.isNotNull()),
                      F.array().cast("array<string>"))


def dup_ngram_frac(col: Column | str, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram in
    the same document — the Gopher-style repetition quality signal
    (1 - distinct/total). Pure array expressions over the scan: the n-gram
    list never leaves the row, so cost is O(doc_len) per document with no
    shuffle regardless of corpus size."""
    grams = ngram_array(tokens(col), n)
    return ((F.size(grams) - F.size(F.array_distinct(grams))).cast("double")
            / F.greatest(F.size(grams), F.lit(1)).cast("double"))


GOPHER_SYMBOLS = r"[#$%&@~]"


def gopher_rules(col: Column | str, lang: str = "en",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mwl: float = 3.0, max_mwl: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_stop_hits: int = 2) -> Column:
    """Gopher-style document quality gate (Rae et al. 2021, published
    rule set; reference repo has no equivalent — LLM-pipeline addition):
    word-count band, mean-word-length band, symbol-to-word ratio cap,
    and a minimum number of distinct stopwords present. Returns a struct
    of int verdict flags plus the derived measurements; `keep` is the
    conjunction.

    All pure scan-side JVM expressions — mean word length uses
    length(concat_ws('', toks)) (total in-token chars) rather than a
    per-token higher-order fold, so the whole gate stays inside
    whole-stage codegen at any corpus size."""
    toks = tokens(col)
    n_words = F.size(toks)
    tok_chars = F.length(F.concat_ws("", toks))
    mean_wl = tok_chars.cast("double") / F.greatest(
        n_words, F.lit(1)).cast("double")
    n_sym = F.size(F.regexp_extract_all(_c(col), F.lit(GOPHER_SYMBOLS), 0))
    sym_ratio = n_sym.cast("double") / F.greatest(
        n_words, F.lit(1)).cast("double")
    stop_hits = F.size(F.array_intersect(
        F.transform(toks, lambda t: F.lower(t)),
        F.array(*[F.lit(w) for w in STOPWORDS[lang]])))
    words_ok = ((n_words >= min_words) & (n_words <= max_words)).cast("int")
    mwl_ok = ((mean_wl >= min_mwl) & (mean_wl <= max_mwl)).cast("int")
    sym_ok = (sym_ratio < max_symbol_ratio).cast("int")
    stop_ok = (stop_hits >= min_stop_hits).cast("int")
    keep = (words_ok.cast("boolean") & mwl_ok.cast("boolean")
            & sym_ok.cast("boolean") & stop_ok.cast("boolean")).cast("int")
    return F.struct(
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        words_ok.alias("words_ok"), mwl_ok.alias("mwl_ok"),
        sym_ok.alias("sym_ok"), stop_ok.alias("stop_ok"),
        keep.alias("keep"))
