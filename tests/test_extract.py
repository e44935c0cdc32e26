"""Stage A unit + parity tests (SURVEY.md §5 items 1/2/4)."""

from __future__ import annotations

from lexicator_spark import rules, synth
from lexicator_spark.operators.extract import extract_triples
from tests import oracle


def _triple_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_extract_matches_oracle_pandas(spark):
    corpus = synth.make_corpus(n_convs=60, seed=7)
    df = synth.corpus_df(spark, corpus)
    got = _triple_set(extract_triples(df, impl="pandas"))
    expected = oracle.extract_oracle(corpus.rows)
    assert got == expected


def test_extract_native_equals_pandas(spark):
    corpus = synth.make_corpus(n_convs=40, seed=11)
    df = synth.corpus_df(spark, corpus)
    a = _triple_set(extract_triples(df, impl="pandas"))
    b = _triple_set(extract_triples(df, impl="native"))
    assert a == b


def test_extract_covers_generator_goldens(spark):
    """The generator's planted payloads are a subset of what the rules
    find (the rules may find more, e.g. alias hits inside filler)."""
    corpus = synth.make_corpus(n_convs=50, seed=3)
    df = synth.corpus_df(spark, corpus)
    got = _triple_set(extract_triples(df))
    golden_a = {
        t
        for t in corpus.golden
        if t[1]
        in (
            rules.PRED_USES_TOOL,
            rules.PRED_MENTIONS,
            rules.PRED_REPLIES_TO,
            rules.PRED_DEPENDS_ON,
            rules.PRED_INVOKES,
        )
    }
    missing = golden_a - got
    assert not missing, f"missing planted triples: {sorted(missing)[:10]}"


def test_mention_spans_match_oracle_both_impls(spark):
    """SURVEY.md §1.2 span field: both implementations emit identical
    (start, end) character spans for every mention, equal to the
    shared rules.mention_spans definition; non-mention triples carry
    null spans."""
    corpus = synth.make_corpus(n_convs=40, seed=13)
    df = synth.corpus_df(spark, corpus)
    expected = oracle.mention_spans_oracle(corpus.rows)
    for impl in ("pandas", "native"):
        out = extract_triples(df, impl=impl)
        got = {
            (r.subj, r.obj, r.span.start, r.span.end)
            for r in out.filter(f"pred = '{rules.PRED_MENTIONS}'")
            .select("subj", "obj", "span")
            .collect()
        }
        assert got == expected, impl
        others = out.filter(f"pred <> '{rules.PRED_MENTIONS}'")
        assert others.filter("span IS NOT NULL").count() == 0, impl


def test_mention_span_edge_cases(spark):
    """Casing variants, substring-earlier occurrences, and wikilink
    bracket location — deterministic expectations."""
    text = "pysparkish Spark talk, [[sparc db]] and PySpark vs pyspark"
    rows = [("c0", 0, "user", text, None, synth.EPOCH)]
    df = synth.corpus_df(spark, synth.Corpus(rows=rows))
    for impl in ("pandas", "native"):
        got = {
            (r.obj, r.span.start, r.span.end)
            for r in extract_triples(df, impl=impl)
            .filter(f"pred = '{rules.PRED_MENTIONS}'")
            .collect()
        }
        assert got == {
            # "Spark" raw first occurs at 11 (the word match)
            ("spark", text.find("Spark"), text.find("Spark") + 5),
            # pyspark: min over raws ("PySpark" at 40, "pyspark" at 0
            # inside "pysparkish" — substring-earlier is the defined
            # behavior, identical in every implementation)
            ("pyspark", 0, 7),
            # wikilink inner surface located via its brackets
            ("sparc db", text.find("[[sparc db]]") + 2, text.find("[[sparc db]]") + 10),
        }, impl


def test_template_param_parsing(spark):
    """TemplateParser analog: params map with later-key override, both
    impls, incl. the no-param and duplicate-key edge cases."""
    rows = [
        ("c0", 0, "user", "run {{search|q=abc|mode=fast|q=xyz}} and {{bash}}", None, synth.EPOCH),
    ]
    df = synth.corpus_df(spark, synth.Corpus(rows=rows))
    for impl in ("pandas", "native"):
        got = _triple_set(extract_triples(df, impl=impl))
        assert ("c0#0", rules.PRED_INVOKES, "search") in got, impl
        assert ("c0#0", rules.PRED_INVOKES, "bash") in got, impl
        assert ("c0#0", rules.PRED_TPL_PARAM, "search|q=xyz") in got, impl
        assert ("c0#0", rules.PRED_TPL_PARAM, "search|mode=fast") in got, impl
        assert ("c0#0", rules.PRED_TPL_PARAM, "search|q=abc") not in got, impl


def test_claims_with_qualifiers(spark):
    """Claim-qualifier view: invokes triples re-join their tpl_param
    rows as sorted (key, value) structs; no-param claims get an empty
    array; keep-last override and '=' inside values survive."""
    from lexicator_spark.operators.extract import claims_with_qualifiers

    rows = [
        ("c0", 0, "user",
         "run {{search|q=a=b|mode=fast|q=xyz}} and {{bash}} then {{search|lang=en}}",
         None, synth.EPOCH),
    ]
    df = synth.corpus_df(spark, synth.Corpus(rows=rows))
    for impl in ("pandas", "native"):
        claims = {
            (r.subj, r.template): [(q.key, q.value) for q in r.qualifiers]
            for r in claims_with_qualifiers(extract_triples(df, impl=impl)).collect()
        }
        assert claims[("c0#0", "bash")] == [], impl
        # keep-last dropped q=a=b inside the first invocation; the two
        # invocations' surviving distinct pairs merge, sorted
        assert claims[("c0#0", "search")] == [
            ("lang", "en"), ("mode", "fast"), ("q", "xyz"),
        ], impl


def test_order_invariance(spark):
    """Shuffled input rows / different partitioning → identical triple
    set (north_rule stable-ordering invariant)."""
    corpus = synth.make_corpus(n_convs=30, seed=5, shuffled=False)
    df1 = synth.corpus_df(spark, corpus)
    import random

    rows = list(corpus.rows)
    random.Random(99).shuffle(rows)
    corpus2 = synth.Corpus(rows=rows)
    df2 = synth.corpus_df(spark, corpus2).repartition(7)
    assert _triple_set(extract_triples(df1)) == _triple_set(extract_triples(df2))


def test_error_channel_never_throws(spark):
    """Pathological text lands in the _error channel, not an exception."""
    rows = [("c0", 0, "user", None, None, synth.EPOCH)]
    corpus = synth.Corpus(rows=rows)
    df = synth.corpus_df(spark, corpus)
    # None text is filtered by the rules; must simply produce no text triples
    out = extract_triples(df)
    preds = {r.pred for r in out.select("pred").distinct().collect()}
    assert rules.PRED_MENTIONS not in preds


def test_extract_builds_its_expressions_once(spark, monkeypatch):
    """After one warm-up call, ``extract_triples`` only plans: the
    expression tree is built once per gateway and impl, not the ~2,300
    driver↔JVM round-trips a fresh build costs before the first job.
    The reused tree gives the same triples on another frame."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    # py4j also sends a release for every Java handle Python collects,
    # from whichever call happens to trigger the garbage collector;
    # those free earlier objects and are not this call's work
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    corpus = synth.make_corpus(n_convs=20, seed=19)

    def rows_of(df):
        return sorted(
            (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
            key=repr,
        )

    for impl in ("native", "pandas"):
        first = rows_of(extract_triples(synth.corpus_df(spark, corpus), impl=impl))
        other = synth.corpus_df(spark, corpus).repartition(3)
        calls = []
        with monkeypatch.context() as m:
            def counting(self, command, *a, _orig=GatewayClient.send_command, **kw):
                if not command.startswith(release):
                    calls.append(command)
                return _orig(self, command, *a, **kw)

            m.setattr(GatewayClient, "send_command", counting)
            second = extract_triples(other, impl=impl)
        assert len(calls) < 300, (impl, len(calls))
        assert rows_of(second) == first, impl
