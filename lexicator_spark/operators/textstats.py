"""Text analysis operators: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All pure Catalyst (string/array built-ins) so they run inside
whole-stage codegen at 100 TB — no Python in these paths.  Each has
an exact ANSI-SQL twin in ``__spark_entry__.oracle_sql`` (DuckDB),
which pins the semantics engine-independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lexicator_spark.operators.dedup import TOKEN_SPLIT

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]

# tiny marker vocabularies for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "de"],
}


def md5_bucket(col, modulus: int | None = None):
    """First 8 hex chars of ``md5(col)`` as a bigint, optionally mod
    ``modulus`` — THE deterministic-bucket idiom shared by split
    assignment (``curation.with_split``), mixture sampling
    (``curation.mixture_sample``), and KG negative sampling
    (``graph.negative_samples``).  One implementation so the
    engine-portable exact-SQL-twin guarantee (md5/substring/conv are
    identical in DuckDB) cannot silently diverge between the three."""
    h = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
    return h if modulus is None else h % F.lit(modulus)


def _toks(col):
    """THE whitespace tokenizer (lowercase, ordered, empties dropped) —
    the single implementation every text operator shares
    (``decontam._ordered_tokens`` re-exports it; split pattern is
    ``dedup.TOKEN_SPLIT`` so dedup agrees on what a token is)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda t: t != F.lit(""))


def _toked(docs: DataFrame, text_col: str, toks_col: str | None):
    """(frame, tokens column, needs_drop): materialize the token array
    once per operator — or reuse a caller-materialized column via
    ``toks_col`` so an operator CHAIN tokenizes once per row total."""
    if toks_col is not None:
        return docs, F.col(toks_col), False
    return docs.withColumn("__toks", _toks(F.col(text_col))), F.col("__toks"), True


def with_tokens(
    docs: DataFrame, text_col: str = "text", out_col: str = "__toks"
) -> DataFrame:
    """Materialize the shared token array once; pass ``out_col`` as
    ``toks_col=`` to the per-feature operators so a chain (e.g.
    ``curate_corpus``, the ``text_stats`` query) tokenizes each row
    exactly once instead of once per operator."""
    return docs.withColumn(out_col, _toks(F.col(text_col)))


# BPE-ish pre-tokenizer: the GPT-2-style split (contraction suffixes,
# letter runs, digit runs, punctuation runs, whitespace runs) without
# lookaheads, so the SAME pattern runs identically under Java regex
# (Spark) and RE2 (DuckDB).  Counts approximate BPE token counts the
# way training-data pipelines budget corpora.
BPE_TOKEN_PATTERN = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+|\\s+"


ROLLING_BASE = 31
ROLLING_MOD = 2_147_483_647  # 2^31 - 1 (prime); acc*31 + 127 < 2^36, no overflow


def with_rolling_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Rabin-Karp-style polynomial rolling hash over the characters of
    the normalized text (lowercased, non-alphanumeric runs collapsed
    to single spaces).  Order-sensitive like ``with_fingerprint``'s
    md5, but a pure arithmetic left-fold: the same computation runs
    verbatim in any engine (the DuckDB twin uses ``list_reduce``), and
    the polynomial form is what windowed/shingled variants extend —
    no engine-specific hash function anywhere."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    codes = F.transform(
        F.filter(F.split(norm, ""), lambda c: c != F.lit("")),
        lambda c: F.ascii(c).cast("bigint"),
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda a, x: (a * ROLLING_BASE + x) % F.lit(ROLLING_MOD),
    )
    return docs.withColumn("rolling_fp", h)


def with_bpe_token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``n_bpe_tokens``: count of BPE-ish pre-tokens over the
    lowercased text (whitespace runs count once, as merge boundaries
    do).  Pure Catalyst — one regexp_extract_all inside codegen."""
    return docs.withColumn(
        "n_bpe_tokens",
        F.size(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_TOKEN_PATTERN), F.lit(0)
            )
        ),
    )


def with_quality(
    docs: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Quality features + combined score, all emitted as integer
    basis points (bp = value·10⁴ floored) so results are bit-stable
    across engines: ratios are single IEEE divisions of exact integer
    counts, and floor (unlike round) has no half-way tie to disagree
    on.

    quality_bp = floor(5000·n_distinct/n) + floor(3000·(n−n_stop)/n)
               + least(floor(250·sum_tok_len/n), 2000)
    (≙ 0.5·distinct_ratio + 0.3·(1−stop_ratio)
       + 0.2·min(mean_tok_len/8, 1), in bp)

    The token array is materialized as a projected column first: the
    five feature expressions reference it ~10 times, and expressions
    containing lambda HOFs are excluded from codegen subexpression
    elimination, so inlining the split+filter tree re-tokenizes the
    text once per reference (same pitfall as operators/decontam.py's
    module note).  The multi-referenced alias keeps CollapseProject
    from inlining it back.  ``toks_col`` reuses a caller-materialized
    array (``with_tokens``) instead."""
    toked, toks, drop = _toked(docs, text_col, toks_col)
    n = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        toked.withColumn("n_tokens", F.size(toks))
        .withColumn("distinct_ratio_bp", F.floor(10000.0 * n_distinct / n))
        .withColumn("stop_ratio_bp", F.floor(10000.0 * n_stop / n))
        .withColumn("mean_tok_len_c", F.floor(100.0 * sum_len / n))
        .withColumn(
            "quality_bp",
            F.floor(5000.0 * n_distinct / n)
            + F.floor(3000.0 * (n - n_stop) / n)
            + F.least(F.floor(250.0 * sum_len / n), F.lit(2000).cast("bigint")),
        )
        .drop(*(["__toks"] if drop else []))
    )


def with_repetition(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    toks_col: str | None = None,
) -> DataFrame:
    """``dup_ngram_frac_bp``: fraction of the document's word
    ``n``-grams that are repeats of an earlier gram, in integer basis
    points (floor) — the Gopher/MassiveText-style intra-document
    repetition signal (published recipe: drop docs whose duplicate
    n-gram fraction is high; boilerplate and looping generations score
    high, natural prose low).  0 for docs with fewer than ``n`` tokens.

    dup_frac = 1 − n_distinct_grams / n_grams, so multiplicity
    matters: the positional gram array is materialized once and both
    sizes read it (same HOF-CSE pitfall note as ``with_quality``)."""
    from lexicator_spark.operators.decontam import gram_array

    toked, toks, drop = _toked(docs, text_col, toks_col)
    toked = toked.withColumn("__grams", gram_array(toks, n, distinct=False))
    n_g = F.size(F.col("__grams")).cast("double")
    n_d = F.size(F.array_distinct(F.col("__grams"))).cast("double")
    return toked.withColumn(
        "dup_ngram_frac_bp",
        F.when(n_g > 0, F.floor(10000.0 * (n_g - n_d) / n_g)).otherwise(
            F.lit(0).cast("bigint")
        ),
    ).drop(*(["__toks", "__grams"] if drop else ["__grams"]))


def with_langid(
    docs: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Heuristic language id: language with the highest marker-word
    hit count; zero hits → 'und'.  Deterministic tie-break: first
    language in alphabetical code order (de < en < es < fr) wins.
    Tokens materialized once (see ``with_quality``): the folded
    best-lang expression references the marker counts ~2× each and
    each count references the token array, so an inline split tree
    would re-tokenize ~8× per row."""
    toked, toks, drop = _toked(docs, text_col, toks_col)
    counts = {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    langs = sorted(counts)  # alphabetical deterministic tie-break
    best_lang = F.lit("und")
    best_n = F.lit(0)
    for lang in langs:
        cond = counts[lang] > best_n
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_n = F.when(cond, counts[lang]).otherwise(best_n)
    # evaluate in order: fold left so earlier (alphabetical) wins ties
    out = toked.withColumn("lang_pred", best_lang)
    return out.drop("__toks") if drop else out


# PII patterns — deliberately lookahead-free so the SAME pattern runs
# under Java regex (Spark) and RE2 (DuckDB) and a pure-Python `re`
# twin.  Scrub ORDER is part of the semantics (emails first so their
# digit-bearing domains never feed the phone pattern; IPv4 before
# phone because a dotted quad is also 8+ digits with separators).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d"),
)


def scrub_pii(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """Redact emails / IPv4 addresses / phone-shaped digit runs — the
    scrub a training pipeline runs before packing (published recipe:
    C4/CCNet-style pattern filters; redaction beats dropping because
    the surrounding prose keeps its training value).  Adds
    ``out_col`` (each match → ``<KIND>``) plus per-kind match counts
    ``n_pii_email / n_pii_ipv4 / n_pii_phone`` (counted on the text
    as it stands when that kind is scrubbed — order above) and
    ``n_pii_total``.  Pure Catalyst ``regexp_replace`` +
    ``regexp_count`` inside codegen: zero shuffles, zero Python, and
    NULL text passes through as NULL with zero counts."""
    out = docs
    cur = F.coalesce(F.col(text_col), F.lit(""))
    total = F.lit(0)
    for kind, pat in PII_PATTERNS:
        cnt = F.regexp_count(cur, F.lit(pat))
        out = out.withColumn(f"n_pii_{kind}", cnt)
        total = total + F.col(f"n_pii_{kind}")
        cur = F.regexp_replace(cur, pat, f"<{kind.upper()}>")
    return out.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
            cur
        ),
    ).withColumn("n_pii_total", total)


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable content fingerprint: md5 over the normalized token
    stream (lowercase, whitespace-collapsed) — dedup/idempotency key
    analogous to lexicator's unchanged-hash skip (SURVEY.md §2 #10)."""
    normalized = F.concat_ws(" ", _toks(F.col(text_col)))
    return docs.withColumn("fingerprint", F.md5(normalized))
