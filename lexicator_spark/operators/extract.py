"""Stage A — vectorized triple extraction over transcript turns.

The analog of lexicator's page→template parse stage
(``lexicator/TemplateParser.py :: TemplateParser.parse_page`` [H name]
plus the dispatch table in ``lexicator/TemplateProcessor.py`` [M];
SURVEY.md §2 ops #3/#4/#5/#11/#12).  Where lexicator walked wikitext
one page at a time in a Python loop, this stage is a single Spark plan:

- stable turn ordering via a window over ``(conv_id, turn_idx)`` —
  the north_rule's per-turn text-equality invariant: no rule ever
  depends on shuffle / insertion order;
- text rules run inside ONE Arrow-batched pandas UDF (Series →
  Series of array<struct>) — no per-row Python UDFs; an alternative
  pure-Catalyst implementation (JVM ``regexp_extract_all``) is kept
  for benchmarking and cross-checked for equality in tests;
- per-row error channel: rule failures become ``_error`` rows, never
  exceptions (SURVEY.md §2 #12).

Scale notes: the only shuffle in this stage is the window partition
on ``conv_id`` (needed for ``replies_to`` ordering); everything else
is a narrow map over the scan, so the stage parallelizes linearly in
input partitions.  Mention/relation regexes are compiled once per
executor (module import), not per batch.
"""

from __future__ import annotations

import re
import weakref
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexicator_spark import rules

# array<struct<pred,obj,conf,start,end>> emitted per turn by the
# text-rule UDF; start/end are the mention span (SURVEY.md §1.2),
# null for non-mention predicates
_RULE_HIT = T.ArrayType(
    T.StructType(
        [
            T.StructField("pred", T.StringType(), False),
            T.StructField("obj", T.StringType(), False),
            T.StructField("conf", T.DoubleType(), False),
            T.StructField("start", T.IntegerType(), True),
            T.StructField("end", T.IntegerType(), True),
        ]
    )
)

SPAN_TYPE = "struct<start:int,end:int>"

def null_span() -> F.Column:
    """Typed null span for triple emitters without character offsets
    (structural rules, linking, canonicalization)."""
    return F.lit(None).cast(SPAN_TYPE).alias("span")


def _text_rule_hits(texts: pd.Series) -> pd.Series:
    """Batched application of every text rule.  Pure function of the
    text column; shared rule content comes from lexicator_spark.rules
    so the pytest oracle can never drift."""
    out = []
    for text in texts:
        hits: list[tuple[str, str, float, int | None, int | None]] = []
        seen: set[tuple[str, str]] = set()

        def add(pred, obj, conf, start=None, end=None) -> None:
            if (pred, obj) not in seen:
                seen.add((pred, obj))
                hits.append((pred, obj, conf, start, end))

        try:
            if text:
                exact_raws = rules.MENTION_RE.findall(text)
                wiki_raws = rules.WIKILINK_RE.findall(text)
                spans = rules.mention_spans_from_raws(text, exact_raws, wiki_raws)
                for m in exact_raws:
                    o = rules.normalize_surface(m)
                    add(rules.PRED_MENTIONS, o, 1.0, *spans[o])
                for m in wiki_raws:
                    o = rules.normalize_surface(m)
                    add(rules.PRED_MENTIONS, o, 0.8, *spans[o])
                for m in rules.DEPENDS_RE.findall(text):
                    a, b = rules.DEPENDS_SPLIT.split(m, 1)
                    add(
                        rules.PRED_DEPENDS_ON + "\x00" + rules.normalize_surface(a),
                        rules.normalize_surface(b),
                        1.0,
                    )
                for full in re.findall(rules.TEMPLATE_FULL_PATTERN, text):
                    name, params = rules.parse_template(full)
                    add(rules.PRED_INVOKES, name, 1.0)
                    for k, v in params:
                        add(rules.PRED_TPL_PARAM, f"{name}|{k}={v}", 1.0)
        except Exception as exc:  # error channel, never throw in a UDF
            hits.append(("_error", f"{type(exc).__name__}: {exc}", 0.0, None, None))
        out.append(hits)
    return pd.Series(out)


_text_rule_udf = F.pandas_udf(_text_rule_hits, _RULE_HIT)


class _Columns(NamedTuple):
    """The input-independent Column expressions of ``extract_triples``
    for one ``impl``."""

    text_hits: Column  # per-turn text-rule hits array
    hits: Column  # text_hits with the structural uses_tool hit fused in
    explode: tuple[Column, ...]  # one row per hit
    unpack: tuple[Column, ...]  # hit struct -> triple columns
    prev_idx: Column  # lag over the (conv_id, turn_idx) window
    has_prev: Column
    replies: tuple[Column, ...]  # replies_to triple columns


# spark._jvm -> {impl -> _Columns}
_COLUMNS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _columns(spark: SparkSession, impl: str) -> _Columns:
    """The expression tree ``extract_triples`` applies, built once per
    gateway and ``impl``: every py4j call that builds a Column is a
    driver↔JVM round-trip (2,300–2,900 for the native tree), paid on
    every call before any job could start.  Reuse is safe: every
    column is referenced by name, and a Column carries no expression
    id until it is converted into a plan.  Keyed on ``spark._jvm``
    like ``fsutil._jclass``, so a relaunched gateway rebuilds."""
    if impl not in ("native", "pandas"):
        raise ValueError(f"unknown impl {impl!r}")
    by_impl = _COLUMNS.setdefault(spark._jvm, {})  # noqa: SLF001
    if impl not in by_impl:
        # two threads racing here both build; either tree is correct
        by_impl[impl] = _build_columns(impl)
    return by_impl[impl]


def _build_columns(impl: str) -> _Columns:
    uri = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))

    # replies_to via lag over the stable (conv_id, turn_idx) window —
    # enforces the ordering invariant instead of trusting arithmetic
    # on possibly-non-contiguous turn indexes.
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    replies = (
        uri.alias("subj"),
        F.lit(rules.PRED_REPLIES_TO).alias("pred"),
        F.concat_ws(
            "#", F.col("conv_id"), F.col("prev_idx").cast("string")
        ).alias("obj"),
        F.lit(1.0).alias("conf"),
        null_span(),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("ts").alias("extracted_at"),
    )

    # --- text rules ----------------------------------------------------
    text_hits = (
        _text_rule_udf(F.col("text")) if impl == "pandas" else _native_hits()
    )

    # --- structural uses_tool rule, FUSED into the hits array ---------
    # A separate uses_tool branch unioned with the text branch would
    # evaluate the whole input subtree (scan, or scan + delta
    # semi-join in the refresh path) a third time — union branches get
    # no common-subexpression sharing in Catalyst.  Concatenating the
    # one structural hit into the same per-row array keeps extraction
    # at TWO subtree evaluations (this one + the pruned replies
    # window), measured 2.67 s → ~1.8 s on the refresh delta-extract
    # shape.  Fused OUTSIDE the impl-specific hit computation so both
    # impls stay byte-equal; pred is disjoint from every text-rule
    # pred, so the per-array (pred, obj) dedup semantics are
    # untouched.  coalesce: a NULL text yields NULL text-hits, which
    # must not swallow the tool hit (concat propagates NULL).
    empty_hits = F.array().cast(_RULE_HIT)
    tool_hits = F.when(
        F.col("tool").isNotNull(),
        F.array(
            F.struct(
                F.lit(rules.PRED_USES_TOOL).alias("pred"),
                F.col("tool").alias("obj"),
                F.lit(1.0).alias("conf"),
                F.lit(None).cast("int").alias("start"),
                F.lit(None).cast("int").alias("end"),
            )
        ),
    ).otherwise(empty_hits)

    return _Columns(
        text_hits=text_hits,
        hits=F.concat(tool_hits, F.coalesce(F.col("hits"), empty_hits)),
        explode=(
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("ts").alias("extracted_at"),
            uri.alias("turn_uri"),
            F.explode("hits").alias("h"),
        ),
        unpack=(
            # depends_on packs its subject into pred after \x00 (the
            # relation's subject is an entity, not the turn)
            F.when(
                F.col("h.pred").startswith(rules.PRED_DEPENDS_ON + "\x00"),
                F.substring_index(F.col("h.pred"), "\x00", -1),
            )
            .otherwise(F.col("turn_uri"))
            .alias("subj"),
            F.substring_index(F.col("h.pred"), "\x00", 1).alias("pred"),
            F.col("h.obj").alias("obj"),
            F.col("h.conf").alias("conf"),
            F.when(
                F.col("h.start").isNotNull(),
                F.struct(
                    F.col("h.start").alias("start"), F.col("h.end").alias("end")
                ),
            ).alias("span"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("extracted_at"),
        ),
        prev_idx=F.lag("turn_idx").over(w),
        has_prev=F.col("prev_idx").isNotNull(),
        replies=replies,
    )


def extract_triples(
    turns: DataFrame, impl: str = "native", include_replies: bool = True
) -> DataFrame:
    """turns(conv_id, turn_idx, role, text, tool, ts) → triples
    (subj, pred, obj, conf, span, conv_id, turn_idx, extracted_at).

    ``include_replies=False`` drops the window-based ``replies_to``
    branch — required on streaming input (windows need bounded
    frames); the streaming twin derives replies with
    ``streaming.ingest.stateful_replies_stream`` instead.

    Two equal-output implementations (equality asserted in
    tests/test_extract.py):

    - ``'native'`` (default): pure Catalyst regexp functions — stays
      inside whole-stage codegen, zero JVM↔Python transfer.  Chosen
      as default after measurement: on a 10^6-turn corpus it is both
      faster and scales with cores, while the pandas path anti-scales
      under local-mode oversubscription (32 JVM task threads + 32
      Python workers on 32 cores); see BENCH/BASELINE.md.
    - ``'pandas'``: Arrow-batched pandas UDF (Series → Series of
      array<struct>).  The extensibility surface for rules that
      regexes can't express (per input_hint every Python path is
      vectorized/Arrow — no row-at-a-time ``F.udf`` anywhere).  On a
      real cluster give Python workers their own cores
      (``spark.task.cpus``) before defaulting to this path.

    The expressions themselves do not depend on the input, so they are
    built once per JVM gateway and ``impl`` (``_columns``): the first
    call pays ~0.4 s of py4j round-trips to build the tree, later calls
    only plan the DataFrame operations.
    """
    c = _columns(turns.sparkSession, impl)
    turns = turns.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    text_triples = (
        turns.withColumn("hits", c.text_hits)
        .withColumn("hits", c.hits)
        .select(*c.explode)
        .select(*c.unpack)
    )

    # Dedup (SURVEY.md §2 #10): duplicate facts can ONLY arise inside
    # one turn's hits array (the rule families are disjoint by pred;
    # uses_tool/replies_to emit one row per turn by construction), so
    # dedup is a per-row array filter — no global shuffle.  First
    # occurrence wins (exact-alias conf=1.0 precedes wikilink 0.8 in
    # the concat order), which keeps conf deterministic.
    if not include_replies:
        return text_triples
    replies = (
        turns.withColumn("prev_idx", c.prev_idx)
        .filter(c.has_prev)
        .select(*c.replies)
    )
    return text_triples.unionByName(replies)


def _native_hits() -> Column:
    """Pure-Catalyst text rules: JVM regexp_extract_all inside
    whole-stage codegen.  Produces the same ``hits`` array as the
    pandas UDF (verified equal in tests/test_extract.py).

    Mention spans mirror ``rules.mention_spans`` with ONE sort instead
    of a nested per-surface scan: every distinct raw (exact AND
    wikilink) becomes a (obj, prio, start, len) struct — prio 0 for
    exact-alias raws, 1 for wikilinks — and after ``array_sort`` the
    FIRST struct per obj is exactly the semantics: exact beats
    wikilink (prio orders before position), and within the winning
    tier the min (position, raw-length) tuple wins, which is Python's
    ``min()`` over find results.  This replaced an O(|surfaces| ×
    |raws|) interpreted filter+array_min per surface plus a second
    normalization pass and an ``array_except`` — measured ~2× faster
    on the extraction bench (spans roughly doubled native extraction
    when computed the nested way).

    Per-row dedup for the other rule families stays ``array_distinct``
    on binary-comparable values (no lambda interpretation)."""
    norm = lambda c: F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))
    text = F.col("text")

    def hit(pred_col, obj_col, conf, start=None, end=None):
        conf_col = conf if isinstance(conf, F.Column) else F.lit(conf)
        return F.struct(
            pred_col.alias("pred"),
            obj_col.alias("obj"),
            conf_col.alias("conf"),
            (F.lit(None).cast("int") if start is None else start.cast("int")).alias("start"),
            (F.lit(None).cast("int") if end is None else end.cast("int")).alias("end"),
        )

    def span_items(raws, prio: int, start_of):
        """(obj, prio, start, len) candidate structs, one per DISTINCT
        raw match (repeated aliases cost one position scan each) —
        field order IS the sort key."""
        return F.transform(
            F.array_distinct(raws),
            lambda r: F.struct(
                norm(r).alias("obj"),
                F.lit(prio).alias("prio"),
                start_of(r).cast("int").alias("start"),
                F.length(r).cast("int").alias("len"),
            ),
        )

    exact_raws = F.regexp_extract_all(text, F.lit(rules.MENTION_PATTERN), F.lit(0))
    wiki_raws = F.regexp_extract_all(text, F.lit(rules.WIKILINK_PATTERN), F.lit(1))
    all_items = F.array_sort(
        F.concat(
            span_items(exact_raws, 0, lambda r: F.position(r, text) - 1),
            # inner surface located via its brackets: 0-based start =
            # (1-based position of "[[") - 1 + 2
            span_items(
                wiki_raws,
                1,
                lambda r: F.position(F.concat(F.lit("[["), r, F.lit("]]")), text) + 1,
            ),
        )
    )
    # first struct per obj of the sorted array; the one-element-array
    # transform binds the sorted array to a lambda var so the sort
    # evaluates ONCE (Catalyst does not CSE inside lambda bodies)
    best = F.get(
        F.transform(
            F.array(all_items),
            lambda arr: F.filter(
                arr,
                lambda x, i: (i == F.lit(0))
                | (x["obj"] != F.get(arr, i - 1)["obj"]),
            ),
        ),
        F.lit(0),
    )
    mention = F.transform(
        best,
        lambda x: hit(
            F.lit(rules.PRED_MENTIONS),
            x["obj"],
            F.when(x["prio"] == 0, F.lit(1.0)).otherwise(F.lit(0.8)),
            x["start"],
            x["start"] + x["len"],
        ),
    )
    # outer distinct: raw variants can normalize to the same pair
    depends = F.array_distinct(F.transform(
        F.regexp_extract_all(F.col("text"), F.lit(rules.DEPENDS_PATTERN), F.lit(0)),
        lambda m: hit(
            F.concat(
                F.lit(rules.PRED_DEPENDS_ON + "\x00"),
                norm(F.regexp_extract(m, "(?i)^(.*?) depends on ", 1)),
            ),
            norm(F.regexp_extract(m, "(?i) depends on (.*)$", 1)),
            1.0,
        ),
    ))
    # template invocations + params from ONE regex scan: the full
    # {{...}} matches are bound to a lambda var (same one-element-array
    # trick) and both rule families derive from it — names via a cheap
    # per-match anchored regexp_extract, params via split.  Previously
    # invokes and tpl_param each ran their own near-identical
    # regexp_extract_all over the text.
    def tpl_params(full):
        parts = F.split(F.substring(full, 3, F.length(full) - 4), "\\|")
        name = F.element_at(parts, 1)
        pairs = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
        # later duplicates of a key override earlier (wiki semantics —
        # the keep-last filter runs on tiny per-template arrays only)
        keep_last = F.filter(
            pairs,
            lambda p, i: ~F.exists(
                F.slice(
                    pairs, i + 2, F.greatest(F.size(pairs) - i - 1, F.lit(0))
                ),
                lambda q: F.substring_index(q, "=", 1)
                == F.substring_index(p, "=", 1),
            ),
        )
        return F.transform(
            keep_last,
            lambda p: hit(
                F.lit(rules.PRED_TPL_PARAM), F.concat(name, F.lit("|"), p), 1.0
            ),
        )

    tpl_fulls = F.regexp_extract_all(
        F.col("text"), F.lit(rules.TEMPLATE_FULL_PATTERN), F.lit(0)
    )
    tpl_hits = F.get(
        F.transform(
            F.array(tpl_fulls),
            lambda fulls: F.concat(
                F.transform(
                    F.array_distinct(
                        F.transform(
                            fulls,
                            lambda f: F.regexp_extract(
                                f, "^\\{\\{([a-z_]+)", 1
                            ),
                        )
                    ),
                    lambda o: hit(F.lit(rules.PRED_INVOKES), o, 1.0),
                ),
                F.array_distinct(F.flatten(F.transform(fulls, tpl_params))),
            ),
        ),
        F.lit(0),
    )
    return F.concat(mention, depends, tpl_hits)


def split_rejects(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the error channel off the good triples (SURVEY.md §2 #12)."""
    good = triples.filter(F.col("pred") != "_error")
    rejects = triples.filter(F.col("pred") == "_error")
    return good, rejects


def claims_with_qualifiers(triples: DataFrame) -> DataFrame:
    """Claims view (SURVEY §1.1: lexeme claim qualifiers → qualifier
    column): one row per ``invokes`` triple, with its qualifiers
    re-assembled from the flat ``tpl_param`` rows (obj packs
    ``name|k=v``).  Qualifiers are a SORTED array<struct<key,value>>
    — not a MapType — so output is deterministic and value-hashable
    across engines.  When a turn invokes the same template more than
    once, the distinct (k, v) pairs across invocations merge (the
    keep-last override already ran per invocation at extract time).

    Output: (subj, template, qualifiers, n_qualifiers)."""
    invokes = triples.filter(F.col("pred") == rules.PRED_INVOKES).select(
        "subj", F.col("obj").alias("template")
    )
    name = F.substring_index(F.col("obj"), "|", 1)
    kv = F.substring(F.col("obj"), F.length(name) + 2, F.lit(1 << 30))
    key = F.substring_index(kv, "=", 1)
    value = F.substring(kv, F.length(key) + 2, F.lit(1 << 30))
    params = triples.filter(F.col("pred") == rules.PRED_TPL_PARAM).select(
        "subj",
        name.alias("template"),
        F.struct(key.alias("key"), value.alias("value")).alias("q"),
    )
    quals = params.groupBy("subj", "template").agg(
        F.array_sort(F.collect_list("q")).alias("qualifiers")
    )
    no_quals = F.array().cast("array<struct<key:string,value:string>>")
    return invokes.join(quals, ["subj", "template"], "left").select(
        "subj",
        "template",
        F.coalesce(F.col("qualifiers"), no_quals).alias("qualifiers"),
        F.coalesce(F.size("qualifiers"), F.lit(0)).alias("n_qualifiers"),
    )
