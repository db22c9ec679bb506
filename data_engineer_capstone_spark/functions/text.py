"""Text-analysis expression library for the LLM-data-pipeline operators:
tokenization, shingling, deterministic 64-bit hashing, language ID,
quality scoring, token counting, fingerprinting.

All pure Catalyst expressions (split/transform/filter/aggregate) — no
Python UDFs, so they vectorize inside whole-stage codegen and scale
linearly with executors.

Hashing convention: cross-engine-checkable 64-bit hashes are derived from
md5 hex (identical in Spark and DuckDB): ``h64(s) = first 15 hex digits of
md5(s) as a base-16 integer`` — 60 bits, positive, deterministic everywhere.
(Spark's xxhash64/hash are engine-specific and can't be oracle-checked.)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

WORD_RE = "[A-Za-z0-9]+"

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic. Chosen from high-frequency function words; the
# oracle embeds the identical lists.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"],
}


def words(col: Column | str) -> Column:
    """Lower-cased alphanumeric word tokens (regex extraction, not split —
    robust to punctuation/multi-space)."""
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_RE), 0)


def word_count(col: Column | str) -> Column:
    return F.size(words(col))


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``value`` evaluated ONCE per row and bound to the
    lambda variable ``v``. Spark evaluates a lambda body once per array
    element and Catalyst never hoists element-independent work out of it,
    so an expensive column (a tokenizer) referenced inside a per-element
    lambda is re-derived per element — O(n²) per row. Reading a bound
    variable instead keeps it at one evaluation per row."""
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles(col: Column | str, k: int = 3, distinct: bool = True) -> Column:
    """Word k-gram shingles; distinct=True gives the unit SET for
    Jaccard/MinHash dedup, distinct=False keeps multiplicity for frequency
    counts. Guarded for short docs (Spark's sequence(1,0) would DESCEND,
    not return empty). One tokenization per row: the gram lambda reads
    the word array through a bound variable (``bind``), never the
    tokenizer itself."""

    def grams_of(w: Column) -> Column:
        n = F.size(w)
        idx = F.sequence(F.lit(1), n - (k - 1))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, k)))
        if distinct:
            grams = F.array_distinct(grams)
        return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))

    return bind(words(col), grams_of)


def adjacent_pairs(arr: Column, left: str, right: str) -> Column:
    """Array of ``struct(arr[i] AS left, arr[i+1] AS right)`` over the
    adjacent elements of ``arr``, with ``arr`` bound once per row. Callers
    keep rows with size(arr) >= 2 (a shorter array gives sequence(1, 0),
    which DESCENDS)."""
    return bind(
        arr,
        lambda a: F.transform(
            F.sequence(F.lit(1), F.size(a) - 1),
            lambda i: F.struct(
                F.element_at(a, i).alias(left), F.element_at(a, i + 1).alias(right)
            ),
        ),
    )


def h64(col: Column) -> Column:
    """Deterministic 60-bit positive hash from md5 hex (cross-engine)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h32(col: Column) -> Column:
    """Deterministic 32-bit positive hash from md5 hex (cross-engine)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# Affine-permutation MinHash family over the Mersenne prime 2^31-1:
# h_i(x) = (a_i * (h32(x) mod P) + b_i) mod P. ONE md5 per shingle feeds
# every permutation (the salted-hash alternative pays n_perm md5s per
# shingle — measured 16× the hash cost at n_perm=16). Exactness bound:
# a_i*(P-1)+b_i < 2^63 for every supported i (at the default n_perm=32,
# a_31*(P-1) ≈ 9.1e15), so the arithmetic is exact in int64 — which is how
# BOTH engines evaluate it (Spark long, DuckDB BIGINT). It does NOT stay
# under 2^53, so a double-arithmetic engine would need smaller constants.
MINHASH_P = 2_147_483_647


def minhash_consts(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for permutation i (prime-stepped, a_i≠0)."""
    return 976_369 + 104_729 * i, 15_485_863 + 32_452_843 * i


def _affine(i: int):
    # A dedicated factory, NOT `lambda x, i=i`: PySpark dispatches
    # higher-order-function lambdas on parameter COUNT, so a 2-param lambda
    # becomes (element, index) and the "default" captures the index Column.
    a, b = minhash_consts(i)
    return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)


def minhash_base_hashes(shingle_col: Column) -> Column:
    """The shared base-hash array: h32(shingle) mod P per element. Project
    this into its OWN select before `minhash_signature_from_hashes` — as a
    multiply-referenced non-cheap alias Catalyst keeps the projection
    un-collapsed, so every shingle is md5-hashed exactly once (inlining it
    into each permutation's transform re-derives md5 n_perm times; the
    plan shows one `md5` occurrence in the two-step form, n_perm inlined)."""
    return F.transform(shingle_col, lambda s: h32(s) % F.lit(MINHASH_P))


def minhash_signature_from_hashes(hash_col: Column | str, n_perm: int = 32) -> Column:
    """Signature from a precomputed base-hash array column: permutation i
    is min over (a_i * h + b_i) mod P — pure integer transforms."""
    return F.array(
        *[F.array_min(F.transform(hash_col, _affine(i))) for i in range(n_perm)]
    )


def minhash_signature(shingle_col: Column, n_perm: int = 32) -> Column:
    """MinHash signature as one expression (convenience form — re-derives
    the base hash per permutation; hot paths should project
    ``minhash_base_hashes`` separately and use
    ``minhash_signature_from_hashes``, as the dedup operator does)."""
    return minhash_signature_from_hashes(minhash_base_hashes(shingle_col), n_perm)


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Count of distinct stopwords of `lang` present in the text."""
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(words(col)), stop))


def detect_language(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits with a
    deterministic tie-break (language code ascending); 'und' if no hits."""
    langs = sorted(LANG_STOPWORDS)
    scored = F.array(
        *[F.struct(stopword_hits(col, lg).alias("hits"), F.lit(lg).alias("lg")) for lg in langs]
    )
    best = F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lg")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    return F.when(best["hits"] <= 0, F.lit("und")).otherwise(best["lg"])


def quality_score(col: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]: mix of length signal,
    mean word length sanity, and alphanumeric density. Integer arithmetic
    inside, one final division — cross-engine stable."""
    col = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(col)
    n_words = word_count(col)
    alnum_chars = F.length(F.regexp_replace(col, "[^A-Za-z0-9]", ""))
    len_ok = (n_words >= 5) & (n_words <= 100000)
    awl_x10 = F.when(n_words > 0, (alnum_chars * 10) / n_words).otherwise(F.lit(0.0))
    awl_ok = (awl_x10 >= 25) & (awl_x10 <= 120)  # mean word len 2.5..12
    density_x100 = F.when(n_chars > 0, (alnum_chars * 100) / n_chars).otherwise(F.lit(0.0))
    density_ok = density_x100 >= 60
    return (
        len_ok.cast("int") + awl_ok.cast("int") + density_ok.cast("int")
    ).cast("double") / 3


def fingerprint(col: Column | str, k: int = 8) -> Column:
    """Document fingerprint: lexicographic min of md5 over character k-grams
    (a 1-sample winnowing sketch). Identical docs share fingerprints; near-
    identical docs usually do — used as a cheap first-pass dedup key."""
    col = F.col(col) if isinstance(col, str) else col
    n = F.length(col)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_min(F.transform(idx, lambda i: F.md5(F.substring(col, i, k))))


# PII patterns shared by Spark (Java regex) and the DuckDB oracle (RE2):
# restricted to syntax both dialects interpret identically — character
# classes, bounded repetition, \b word boundaries; no lookaround/backrefs.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


def redact_pii(col: Column | str) -> Column:
    """Struct of the PII-redacted text and per-category match counts.

    Redaction order is load-bearing and must match any oracle: emails
    first (an address can embed digit runs), then SSNs (whose tail would
    otherwise match the shorter phone pattern), then phones; each count is
    taken on the text as it stood BEFORE that category's own replacement.
    Pure Catalyst regexp expressions — no UDF, fully codegen'd, scans
    each document a bounded number of times regardless of corpus size.
    """
    col = F.col(col) if isinstance(col, str) else col
    n_emails = F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_RE), F.lit(0)))
    s2 = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    n_ssns = F.size(F.regexp_extract_all(s2, F.lit(PII_SSN_RE), F.lit(0)))
    s3 = F.regexp_replace(s2, PII_SSN_RE, "<SSN>")
    n_phones = F.size(F.regexp_extract_all(s3, F.lit(PII_PHONE_RE), F.lit(0)))
    s4 = F.regexp_replace(s3, PII_PHONE_RE, "<PHONE>")
    return F.struct(
        s4.alias("redacted"),
        n_emails.cast("long").alias("n_emails"),
        n_ssns.cast("long").alias("n_ssns"),
        n_phones.cast("long").alias("n_phones"),
    )
