"""Shared extraction-rule specification.

This module is the single source of truth for the knowledge-graph
extraction semantics.  It is imported BOTH by the vectorized Spark
stages (``lexicator_spark.operators.extract`` / ``link``) and by the
pure-Python single-threaded oracle (``tests/oracle.py``), so the two
implementations can never drift apart on rule content — any P/R gap
in the parity test is a distributed-semantics bug, not a rule diff.

Reference parity (symbol-level, see SURVEY.md §0 for the citation
convention): this plays the role of lexicator's template dispatch
table — ``lexicator/TemplateProcessor.py :: templates`` dict [M] and
the constants module ``lexicator/consts.py`` [M].  Where lexicator
maps wikitext template names to processor classes, we map mention /
relation / template patterns to triple predicates.

Everything here is plain data + compiled regexes: no Spark imports,
no I/O, fully deterministic.
"""

from __future__ import annotations

import re

# --------------------------------------------------------------------------
# Entity vocabulary: canonical_id -> surface-form aliases.
# Mirrors lexicator's grammatical-feature QID map (consts.py [M]): a small
# static vocabulary shipped to every executor as a broadcast table.
# --------------------------------------------------------------------------
ENTITY_ALIASES: dict[str, list[str]] = {
    "Q_spark": ["Apache Spark", "apache-spark", "Spark", "PySpark"],
    "Q_iceberg": ["Apache Iceberg", "Iceberg", "iceberg-tables"],
    "Q_kafka": ["Apache Kafka", "Kafka", "kafka-broker"],
    "Q_arrow": ["Apache Arrow", "PyArrow", "arrow-format"],
    "Q_duckdb": ["DuckDB", "duck-db"],
    "Q_postgres": ["PostgreSQL", "Postgres", "postgres-db"],
    "Q_flink": ["Apache Flink", "Flink", "flink-jobs"],
    "Q_parquet": ["Apache Parquet", "Parquet", "parquet-files"],
}

# Zipf-skewed tool vocabulary; the first tool is deliberately hot
# (~40% of tool rows) to exercise salting / AQE skew handling.
TOOL_VOCAB: list[str] = ["search", "browser", "python", "bash", "calculator", "sql_runner"]

# Predicates emitted by the pipeline (FIXTURES.md §2 vocabulary).
PRED_USES_TOOL = "uses_tool"
PRED_MENTIONS = "mentions"
PRED_REPLIES_TO = "replies_to"
PRED_DEPENDS_ON = "depends_on"
PRED_INVOKES = "invokes"
PRED_SAME_AS = "same_as"
PRED_CANONICAL_OF = "canonical_of"


def normalize_surface(s: str) -> str:
    """Canonical surface normalization used by extraction, linking and
    the oracle: lowercase, non-alphanumeric runs collapsed to single
    spaces, stripped."""
    return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()


def _alias_alternation() -> str:
    """Regex alternation over every alias, longest first so that
    'Apache Spark' wins over 'Spark' at the same position (leftmost
    match + first-alternative semantics are identical in Python ``re``
    and Java regex for this construct)."""
    aliases = [a for forms in ENTITY_ALIASES.values() for a in forms]
    aliases.sort(key=len, reverse=True)
    return "|".join(re.escape(a) for a in aliases)

ALIAS_ALTERNATION = _alias_alternation()

# Mention detection: any alias, word-bounded, case-insensitive.
MENTION_PATTERN = rf"(?i)\b(?:{ALIAS_ALTERNATION})\b"
MENTION_RE = re.compile(MENTION_PATTERN)

# Relation cue: "<alias> depends on <alias>" (SURVEY.md §7 rule set).
DEPENDS_PATTERN = rf"(?i)\b(?:{ALIAS_ALTERNATION}) depends on (?:{ALIAS_ALTERNATION})\b"
DEPENDS_RE = re.compile(DEPENDS_PATTERN)
DEPENDS_SPLIT = re.compile(r"(?i) depends on ")

# Wikilink-style mention span [[surface]]: arbitrary (possibly noisy /
# misspelled) surface forms that must be fuzzy-linked to the catalog by
# Stage B — this is the path that actually exercises blocking + Jaccard
# scoring (exact-alias mentions link trivially).
WIKILINK_PATTERN = r"\[\[([^\[\]|]{1,64})\]\]"
WIKILINK_RE = re.compile(WIKILINK_PATTERN)

# Template invocation {{name|k=v|k2=v2}} — the direct analog of
# lexicator/TemplateParser.py :: TemplateParser.parse_page [H name].
# Group-free, so engines whose findall returns one group only match the
# whole invocation and split it with ``parse_template``.
TEMPLATE_FULL_PATTERN = r"\{\{[a-z_]+(?:\|[a-z_]+=[^|{}]*)*\}\}"
PRED_TPL_PARAM = "tpl_param"


def parse_template(full: str) -> tuple[str, list[tuple[str, str]]]:
    """'{{name|k=v|k2=v2}}' → (name, [(k, v), ...]) — the param-map
    normalization of lexicator's TemplateParser [H name/[M] internals].
    Later duplicates of a key override earlier ones (wiki semantics)."""
    inner = full[2:-2]
    parts = inner.split("|")
    name = parts[0]
    params: dict[str, str] = {}
    for p in parts[1:]:
        k, _, v = p.partition("=")
        params[k] = v
    return name, sorted(params.items())

# Surface -> canonical map (normalized), for the oracle / golden side
# and for building the broadcast catalog DataFrame.
SURFACE_TO_CANONICAL: dict[str, str] = {
    normalize_surface(alias): qid
    for qid, forms in ENTITY_ALIASES.items()
    for alias in forms
}


def catalog_rows() -> list[tuple[str, str]]:
    """(canonical_id, normalized_alias) rows for the entity catalog —
    the Stage-B reconciliation target (lexicator's WDQS lookup [M],
    replaced by a deterministic broadcast table per SURVEY.md §2 #8)."""
    return sorted((qid, norm) for norm, qid in SURFACE_TO_CANONICAL.items())


def turn_uri(conv_id: str, turn_idx: int) -> str:
    """Stable subject URI for a turn."""
    return f"{conv_id}#{turn_idx}"


def mention_spans(text: str) -> dict[str, tuple[int, int]]:
    """(start, end) span [0-based, end-exclusive] for each normalized
    mention surface in ``text`` — SURVEY.md §1.2's candidate-struct
    span field.

    Definition (shared verbatim by the pandas UDF, the pure-Python
    oracle, and mirrored by the Catalyst implementation): the span of
    a surface is min((first-substring-position, raw-length)) over all
    raw variants that normalize to it.  Exact-alias hits locate the
    raw alias text directly; wikilink-only surfaces locate the text
    inside ``[[...]]`` via its brackets (so arbitrary surfaces never
    need regex escaping).  If a raw also occurs earlier as a substring
    of a longer word, the span points there — spans feed highlighting
    and overlap joins, not re-parsing."""
    return mention_spans_from_raws(
        text, MENTION_RE.findall(text), WIKILINK_RE.findall(text)
    )


def mention_spans_from_raws(
    text: str, exact_raws: list[str], wiki_raws: list[str]
) -> dict[str, tuple[int, int]]:
    """``mention_spans`` with the regex matches supplied by the caller
    — lets the extraction UDF reuse its own findall results instead of
    matching twice.  Raws are de-duplicated before the substring
    search: repeated aliases cost one ``find`` each."""
    exact: dict[str, tuple[int, int]] = {}
    for r in set(exact_raws):
        obj = normalize_surface(r)
        cand = (text.find(r), len(r))
        if obj not in exact or cand < exact[obj]:
            exact[obj] = cand
    wiki: dict[str, tuple[int, int]] = {}
    for r in set(wiki_raws):
        obj = normalize_surface(r)
        if obj in exact:
            continue
        cand = (text.find(f"[[{r}]]") + 2, len(r))
        if obj not in wiki or cand < wiki[obj]:
            wiki[obj] = cand
    return {o: (s, s + ln) for o, (s, ln) in {**exact, **wiki}.items()}


# Character-shingle size for the Jaccard link-scoring stage.
SHINGLE_K = 3
LINK_SCORE_THRESHOLD = 0.5


def char_shingles(s: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct character k-grams of a normalized surface string.
    Strings shorter than k yield the string itself (so exact short
    aliases can still match)."""
    if len(s) < k:
        return {s} if s else set()
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def block_key(norm_surface: str) -> str:
    """Blocking key: first character + length bucket (len // 4).
    Cheap, high-recall blocking so the candidate join never goes
    all-pairs (SURVEY.md §2 #8: 'blocking-key join')."""
    if not norm_surface:
        return "#0"
    return f"{norm_surface[0]}{len(norm_surface) // 4}"
