"""Text-analysis expressions for the LLM-data-pipeline extensions:
tokenization, shingling, quality stats, language-ID heuristic, document
fingerprinting. All built-in ``pyspark.sql.functions`` higher-order
expressions — JVM-side, codegen'd, no Python UDFs — so they hold up on
100 TB text scans.

These extend the reference's surface (it has no text ops) per the
BASELINE.json mandate; semantics are fixed here and mirrored 1:1 in the
DuckDB oracle SQL of the suite queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .stats import portable_round

# deliberately small, fixed stopword lists (heuristic lang-id; public
# common-word lists)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "los", "y", "es", "de", "un"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "zh": ["的", "是", "了", "在", "和", "有", "我"],
}
LANG_PRECEDENCE = ["en", "de", "es", "fr", "zh"]


def tokens(c: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != F.lit(""))


def bigram_shingles(words: Column) -> Column:
    """Distinct word-bigram shingles of a token array (for Jaccard /
    MinHash dedup). Empty when fewer than 2 tokens."""
    return F.when(
        F.size(words) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 1),
                lambda i: F.concat(
                    F.element_at(words, i), F.lit(" "), F.element_at(words, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def stable_hash64(c: Column, seed: int | str = "") -> Column:
    """Engine-portable deterministic 60-bit hash: first 15 hex chars of
    md5. Identical in DuckDB as CAST('0x'||substr(md5(...),1,15) AS
    BIGINT) — used wherever the oracle must reproduce hashing (MinHash,
    SimHash). Spark's xxhash64 would be faster but engine-specific."""
    payload = F.concat(F.lit(f"{seed}:"), c) if seed != "" else c
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def stable_hash64_py(s: str, seed: int | str = "") -> int:
    """Python twin of stable_hash64 (same md5-prefix derivation), for
    driver-side constants like LSH hyperplane components."""
    import hashlib

    payload = f"{seed}:{s}" if seed != "" else s
    return int(hashlib.md5(payload.encode()).hexdigest()[:15], 16)


# MinHash permutation family: h_i(x) = (a_i * (base(x) mod P) + b_i) mod P.
# One md5 per element, then cheap integer mixing per permutation —
# identical arithmetic in the DuckDB oracle. P = 2^31 - 1 keeps
# a*h + b inside int64.
MINHASH_P = 2_147_483_647
MINHASH_AB = [
    (1103515245, 12345),
    (1588635695, 98765),
    (1117695901, 54321),
    (1387672319, 11111),
    (1289706101, 77777),
    (1464165419, 33333),
    (1987654321, 55555),
    (1732584193, 99999),
]


def token_count_regex(c: Column) -> Column:
    """BPE-ish token count: runs of alphanumerics or single non-space
    symbols (a cheap proxy for subword token counts)."""
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def punct_ratio(c: Column) -> Column:
    r"""Fraction of non-letter, non-digit, non-space characters.

    Unicode-aware (\pL letters / \pN digits — valid brace-free in
    BOTH Java regex and RE2, so the DuckDB oracle spells it the same):
    an ASCII-only class counted every accented/CJK character as
    punctuation, silently scoring well-formed non-English documents
    ~0.2 lower on the quality composite."""
    n = F.greatest(F.length(c), F.lit(1))
    return F.length(F.regexp_replace(c, r"[\pL\pN\s]", "")) / n


def quality_score(c: Column) -> Column:
    """Composite document quality in [0, 1]: rewards reasonable length
    (saturating at 100 words), low punctuation density, and a natural
    stopword rate. Fixed public heuristic — weights are part of the
    operator contract and mirrored in the DuckDB oracle."""
    ws = tokens(c)
    nw = F.size(ws)
    length_term = F.least(nw / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    sw_term = F.least(
        stopword_hits(ws, "en") / F.greatest(nw, F.lit(1)) * 5, F.lit(1.0)
    )
    # portable rounding (see stats.portable_round): the composite is
    # built from quotients, and a .5-boundary value would round
    # differently under Spark's BigDecimal vs DuckDB's float round
    return portable_round(
        0.4 * length_term + 0.3 * punct_term + 0.3 * sw_term, 4
    )


def fingerprint(c: Column) -> Column:
    """Document fingerprint: md5 of the lowercased text with all
    non-alphanumerics stripped (whitespace/punctuation-insensitive
    exact-dup key)."""
    return F.md5(F.regexp_replace(F.lower(c), r"[^a-z0-9]", ""))


def stopword_hits(words: Column, lang: str) -> Column:
    sw = STOPWORDS[lang]
    return F.size(F.filter(words, lambda x: x.isin(sw)))


def lang_id(words: Column) -> Column:
    """Heuristic language ID: argmax of stopword hits, ties resolved by
    fixed precedence (en > de > es > fr > zh); no hits -> 'und'."""
    scores = {lang: stopword_hits(words, lang) for lang in LANG_PRECEDENCE}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRECEDENCE):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


SIMHASH_BITS = 60  # stable_hash64 yields 60-bit values; stay in signed range


def simhash_frame(df, id_col: str, text_col: str, seed: str = "sim"):
    """(id, simhash): 60-bit SimHash per document — entirely shuffle-free.

    One projection hashes the token array (one md5 per token), a second
    computes the per-bit signed sums with ``F.aggregate`` over that
    array and packs the sign bits. No explode, no groupBy: the previous
    explode+groupBy formulation shuffled every (doc, token) row; this
    one never leaves the scan stage, which is the difference between a
    full-corpus shuffle and a map-only pass at 100 TB. The intermediate
    exchange exists only to spread small inputs and pin the hash array
    against projection re-inlining."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
    par = df.sparkSession.sparkContext.defaultParallelism
    # second exchange pins _hs as a materialized column: the 60 bit-sum
    # aggregates below each reference it, and project-collapse would
    # otherwise re-inline tokenize+md5 into every reference (60x work);
    # the shuffled payload is just (id, hash array) — tiny
    hashed = (
        base.repartition(par)
        .select(
            "id",
            F.transform(
                tokens(F.col("_text")), lambda t: stable_hash64(t, seed)
            ).alias("_hs"),
        )
        .repartition(par)
    )
    # one aggregate pass: accumulator = per-bit signed sums (array<int>);
    # then pack sign bits. Single compact expression instead of 60
    # separate array scans (which overwhelm codegen).
    bits = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    sums = F.aggregate(
        "_hs",
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda a, j: a
            + (
                F.call_function("shiftright", h, j).bitwiseAND(F.lit(1)) * 2 - 1
            ).cast("int"),
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            sums,
            bits,
            lambda s, j: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("bigint"), j)
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return hashed.select("id", packed.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed hashes: popcount of XOR
    (bit_count is built-in, JVM-side)."""
    return F.bit_count(a.bitwiseXOR(b))
