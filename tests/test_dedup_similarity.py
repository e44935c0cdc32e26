"""Quality gates for the approximate operators: MinHash-LSH recall vs
exact Jaccard ground truth, SimHash Hamming verification, LSH-ANN
recall vs brute-force cosine (SURVEY.md §5 item 2 analog for the
training-data ops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexicator_spark.operators import dedup as D
from lexicator_spark.operators import similarity as SIM

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, n=200):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < n)
    )


def test_minhash_lsh_recall_and_precision(spark):
    """Every LSH-surfaced pair is verified by exact Jaccard (precision
    1.0 by construction); recall vs all-pairs exact Jaccard ≥ 0.7 at
    threshold 0.7 (32 hashes / 8 bands ⇒ ~97% collision prob at j=0.7)."""
    docs = _docs(spark, 150)
    truth = {
        (r.a, r.b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.7, max_token_df=10**9).collect()
    }
    got = {(r.a, r.b) for r in D.minhash_lsh_pairs(docs, threshold=0.7).collect()}
    assert got <= truth or all(pair in truth for pair in got), "precision must be 1.0"
    if truth:
        recall = len(got & truth) / len(truth)
        assert recall >= 0.7, f"LSH recall {recall:.3f} < 0.7 ({len(truth)} true pairs)"


def test_simhash_pairs_verified_by_hamming(spark):
    docs = _docs(spark, 200)
    pairs = D.simhash_pairs(docs, max_hamming=3).collect()
    assert all(0 <= r.hamming <= 3 for r in pairs)
    # simhash of identical text is identical → hamming 0 for self-dup docs
    two = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    dup = D.simhash_pairs(two, max_hamming=0).collect()
    assert len(dup) == 1 and dup[0].hamming == 0


def test_ngram_jaccard_finds_high_multiplicity_dups(spark):
    """A duplicate cluster larger than max_token_df, made only of
    common tokens (every token df > max_token_df): the rarest-token
    fallback must still index each doc, so the pairs are found."""
    rows = [(i, "alpha beta gamma delta epsilon") for i in range(10)]
    rows += [(100 + i, f"filler{i} words alpha") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.a, r.b)
        for r in D.ngram_jaccard_pairs(docs, threshold=1.0, max_token_df=3).collect()
    }
    expected = {(a, b) for a in range(10) for b in range(10) if a < b}
    assert pairs == expected
    # with the fallback disabled the cluster is invisible — documents
    # made only of frequent tokens have nothing in the index
    none = D.ngram_jaccard_pairs(
        docs, threshold=1.0, max_token_df=3, keep_rarest=0
    ).collect()
    assert none == []


def test_minhash_signatures_deterministic_and_fixed_width(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "Alpha  beta gamma"), (3, "")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.sig for r in D.minhash_signatures(docs).collect()}
    # tokenization is case/whitespace-insensitive → identical signatures
    assert sigs[1] == sigs[2] and len(sigs[1]) == 32
    # token-less docs are excluded from near-dup signature space
    assert 3 not in sigs


def test_lsh_ann_recall_vs_bruteforce(spark):
    """Multiprobe (probe-side Hamming-1 bucket fan-out) lifts top-1
    recall from ~0.74 to 1.0 on this corpus; gate at 0.85."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in SIM.cosine_topk(emb, probes, k=1).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in SIM.lsh_ann_topk(emb, probes, k=1, dim=64).collect()
    }
    hits = len(exact & approx)
    assert hits / len(exact) >= 0.85, f"ANN top-1 recall {hits}/{len(exact)}"


def test_embedding_near_dup_blocked_vs_exact(spark):
    """LSH-blocked embedding near-dup: precision 1.0 by construction
    (exact rerank), recall vs exact all-pairs ≥ 0.75 at threshold 0.4
    (measured 0.81-0.88 on the test corpora)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.a, r.b, r.cos_micro)
        for r in SIM.embedding_near_dup_pairs(emb, 0.4, blocked=False).collect()
    }
    blocked = {
        (r.a, r.b, r.cos_micro)
        for r in SIM.embedding_near_dup_pairs(emb, 0.4, blocked=True, dim=64).collect()
    }
    assert blocked <= exact, "blocked pairs must be a subset (exact rerank)"
    assert exact and len(blocked) / len(exact) >= 0.75


def _py_union_find(pairs, all_ids):
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {i: find(i) for i in all_ids}


def test_near_dup_clusters_matches_union_find_on_exact_pairs(spark):
    """Cluster assignment over exact-Jaccard pairs == python union-find
    over the same pairs: identical (doc_id, cluster_id, keep) set,
    every doc present, exactly one keep per cluster."""
    docs = _docs(spark, 150)
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.6, max_token_df=10**9)
    truth_pairs = [(r.a, r.b) for r in pairs.collect()]
    expected_comp = _py_union_find(truth_pairs, ids)

    got = D.near_dup_clusters(docs, pairs=pairs).collect()
    assert {r.doc_id for r in got} == set(ids)
    assert {(r.doc_id, r.cluster_id) for r in got} == set(expected_comp.items())
    assert all(r.keep == (r.doc_id == r.cluster_id) for r in got)
    keeps_per_cluster = {}
    for r in got:
        keeps_per_cluster.setdefault(r.cluster_id, 0)
        keeps_per_cluster[r.cluster_id] += int(r.keep)
    assert all(n == 1 for n in keeps_per_cluster.values())


def test_near_dup_clusters_transitive_closure(spark):
    """A≈B and B≈C (but never A≈C as a pair) collapse to ONE cluster —
    the property pair output can't express."""
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "solo")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    got = {(r.doc_id, r.cluster_id, r.keep) for r in D.near_dup_clusters(docs, pairs=pairs).collect()}
    assert got == {(1, 1, True), (2, 1, False), (3, 1, False), (9, 9, True)}


def test_near_dup_clusters_rejects_negative_numeric_ids(spark):
    """A negative numeric id would lpad-encode to '000…0-5', whose
    string order diverges from numeric order — the encode must fail
    the job instead of silently mis-clustering."""
    import pytest

    docs = spark.createDataFrame(
        [(-5, "x"), (2, "x")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(-5, 2)], "a long, b long")
    with pytest.raises(Exception, match="non-negative"):
        D.near_dup_clusters(docs, pairs=pairs).collect()


def test_near_dup_clusters_string_ids_and_no_singletons(spark):
    docs = spark.createDataFrame(
        [("d1", "x"), ("d2", "x"), ("d3", "y")], "doc_id string, text string"
    )
    pairs = spark.createDataFrame([("d2", "d1")], "a string, b string")
    got = {
        (r.doc_id, r.cluster_id, r.keep)
        for r in D.near_dup_clusters(
            docs, pairs=pairs, include_singletons=False
        ).collect()
    }
    assert got == {("d1", "d1", True), ("d2", "d1", False)}


def test_near_dup_clusters_lsh_vs_exact_cluster_parity(spark):
    """The LSH-backed cluster assignment agrees with exact-Jaccard
    clusters on ≥ 90% of docs (candidate generation is approximate;
    transitive closure heals most pair-level misses — a doc lands in
    the right cluster if ANY path of surfaced pairs connects it)."""
    docs = _docs(spark, 150)
    exact_pairs = D.ngram_jaccard_pairs(docs, threshold=0.7, max_token_df=10**9)
    exact = {
        (r.doc_id, r.cluster_id)
        for r in D.near_dup_clusters(docs, pairs=exact_pairs).collect()
    }
    lsh = {
        (r.doc_id, r.cluster_id)
        for r in D.near_dup_clusters(docs, method="minhash", threshold=0.7).collect()
    }
    agree = len(exact & lsh) / len(exact)
    assert agree >= 0.9, f"cluster agreement {agree:.3f} < 0.9"


def test_star_edges_linear_and_cluster_parity_vs_pairs(spark):
    """The star-edge scale path: (1) every verified star edge is a
    true near-dup pair (precision 1 by construction), (2) the
    candidate edge count is ≤ docs × bands — linear even on a corpus
    where the pair variant's verified OUTPUT alone is quadratic, and
    (3) cluster assignments agree with the pair-verified clusters on
    ≥ 90% of docs."""
    docs = _docs(spark, 150)
    star = D.minhash_lsh_star_edges(docs, threshold=0.7)
    pair_rows = {(r.a, r.b) for r in D.minhash_lsh_pairs(docs, threshold=0.7).collect()}
    star_rows = {(r.a, r.b) for r in star.collect()}
    assert star_rows <= pair_rows  # every star edge is a verified true pair
    n_docs = docs.count()
    n_bands = D.pick_banding(0.7)
    assert len(star_rows) <= n_docs * n_bands

    pair_clusters = {
        (r.doc_id, r.cluster_id)
        for r in D.near_dup_clusters(docs, method="minhash", threshold=0.7).collect()
    }
    star_clusters = {
        (r.doc_id, r.cluster_id)
        for r in D.near_dup_clusters(
            docs, method="minhash_star", threshold=0.7
        ).collect()
    }
    agree = len(pair_clusters & star_clusters) / len(pair_clusters)
    assert agree >= 0.9, f"star-vs-pair cluster agreement {agree:.3f} < 0.9"


def test_bpe_token_count_basics(spark):
    from lexicator_spark.operators.textstats import with_bpe_token_count

    docs = spark.createDataFrame(
        [(1, "We can't stop; it's 2026!"), (2, ""), (3, "hello")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_bpe_tokens for r in with_bpe_token_count(docs).collect()}
    # we|' 'can|'t|' 'stop|;|' 'it|'s|' '2026|!  (lowercased; leading
    # spaces attach to the following word as in GPT-2 pre-tokenization)
    assert got[1] == 9
    assert got[2] == 0
    assert got[3] == 1


def test_rolling_fingerprint_is_order_sensitive(spark):
    from lexicator_spark.operators.textstats import (
        with_fingerprint,
        with_rolling_fingerprint,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta alpha"), (3, "alpha beta"), (4, "")],
        "doc_id long, text string",
    )
    roll = {r.doc_id: r.rolling_fp for r in with_rolling_fingerprint(docs).collect()}
    assert roll[1] == roll[3] and roll[1] != roll[2]  # order matters
    assert roll[4] == 0
    # identical text → identical fingerprint in both schemes
    md5fp = {r.doc_id: r.fingerprint for r in with_fingerprint(docs).collect()}
    assert md5fp[1] == md5fp[3]


def test_lsh_dim_explicit_or_metadata_never_sniffed(spark):
    """Omitted dim raises (no hidden driver-side job); column metadata
    {'dim': N} is the lazy alternative to passing it."""
    import pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(60)
    probes = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="dim"):
        SIM.lsh_ann_topk(emb, probes, k=1)
    with pytest.raises(ValueError, match="dim"):
        SIM.embedding_near_dup_pairs(emb, 0.4, blocked=True)
    tagged = emb.withMetadata("embedding", {"dim": 64})
    out = SIM.lsh_ann_topk(tagged, probes, k=1).collect()
    assert len(out) == 3


def test_cosine_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = SIM.cosine_topk(emb, emb.filter("vec_id = 1"), k=2).collect()
    by_rank = {r.rank: (r.neighbor_id, r.score) for r in out}
    assert by_rank[1] == (2, 1.0)
    assert by_rank[2] == (3, 0.0)


def test_repetition_score_matches_python_twin(spark):
    """with_repetition == the literal Gopher recipe: 1 - distinct/total
    positional 3-grams, floored to basis points; 0 below 3 tokens."""
    from lexicator_spark.operators import textstats as TS

    rows = [
        (1, "spam spam spam spam spam spam"),          # one distinct gram
        (2, "the quick brown fox jumps over the dog"),  # all distinct
        (3, "a b c a b c a b c a b c"),                 # period-3 loop
        (4, "one two"),                                  # < n tokens
        (5, None),
        (6, "x y z"),                                    # exactly one gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.dup_ngram_frac_bp
        for r in TS.with_repetition(docs, n=3).collect()
    }

    import math

    for doc_id, text in rows:
        toks = text.lower().split() if text else []
        grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        want = (
            math.floor(10000.0 * (len(grams) - len(set(grams))) / len(grams))
            if grams
            else 0
        )
        assert got[doc_id] == want, doc_id
    assert got[1] == 7500 and got[2] == 0 and got[4] == 0 and got[6] == 0


def test_curation_repetition_gate(spark):
    """max_dup_ngram_bp drops loopy docs as 'repetitive' (last in the
    first-failing order); default None leaves keep decisions alone."""
    from lexicator_spark.operators import curation as CU

    loopy = " ".join(["green meadow shines bright today"] * 12)
    docs = spark.createDataFrame(
        [(1, loopy),
         (2, "the quick brown fox jumps over a lazy dog in the warm sun")],
        "doc_id long, text string",
    )
    gated = {
        r.doc_id: r
        for r in CU.curate_corpus(
            docs, min_tokens=5, min_quality_bp=0, allowed_langs=("en", "und"),
            max_dup_ngram_bp=2000,
        ).collect()
    }
    assert not gated[1].keep and gated[1].drop_reason == "repetitive"
    assert gated[2].keep and gated[2].drop_reason is None

    ungated = {
        r.doc_id: r
        for r in CU.curate_corpus(
            docs, min_tokens=5, min_quality_bp=0, allowed_langs=("en", "und"),
        ).collect()
    }
    assert ungated[1].keep  # no gate -> the loopy doc survives


def test_scrub_pii_matches_python_twin(spark):
    """scrub_pii == sequential re.sub over the same patterns in the
    same order; NULL text stays NULL with zero counts; clean text
    passes through byte-identical."""
    import re

    from lexicator_spark.operators import textstats as TS

    rows = [
        (1, "contact bob.smith+spam@corp-mail.io or call +1 (415) 555-0199 now"),
        (2, "server at 10.0.42.7 responded; backup 192.168.1.254 did not"),
        (3, "totally clean prose with no identifiers at all"),
        (4, None),
        (5, "a@b.co then 12345678901 then 8.8.8.8 mixed together"),
        (6, "version 1.2.3.4 of the lib"),  # dotted quad scrubs as ipv4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TS.scrub_pii(docs).collect()}

    for doc_id, text in rows:
        cur = text or ""
        counts = {}
        for kind, pat in TS.PII_PATTERNS:
            counts[kind] = len(re.findall(pat, cur))
            cur = re.sub(pat, f"<{kind.upper()}>", cur)
        g = got[doc_id]
        if text is None:
            assert g.text_scrubbed is None and g.n_pii_total == 0
            continue
        assert g.text_scrubbed == cur, doc_id
        for kind in counts:
            assert g[f"n_pii_{kind}"] == counts[kind], (doc_id, kind)
        assert g.n_pii_total == sum(counts.values())

    assert got[3].text_scrubbed == rows[2][1] and got[3].n_pii_total == 0
    assert "<EMAIL>" in got[1].text_scrubbed and "<PHONE>" in got[1].text_scrubbed
    assert got[2].n_pii_ipv4 == 2 and "<IPV4>" in got[2].text_scrubbed
    assert got[5].n_pii_email == 1 and got[5].n_pii_phone == 1
    assert got[5].n_pii_ipv4 == 1


def test_scrub_pii_plan_stays_jvm(spark):
    from lexicator_spark.operators import textstats as TS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = TS.scrub_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # one projection, zero shuffles


def _para_twin(rows, sep=r"\n{2,}", joiner="\n\n", min_chars=1):
    """Pure-Python twin of dedup_paragraphs: global keeper of each
    trimmed-paragraph hash is the min (doc_id, idx); ineligible
    (short) paragraphs always survive; NULL text -> NULL / zeros."""
    import re

    segs = []
    for doc_id, text in rows:
        if text is None:
            continue
        for idx, p in enumerate(re.split(sep, text)):
            segs.append((doc_id, idx, p))
    keeper = {}
    for doc_id, idx, p in segs:
        t = p.strip(" ")  # F.trim strips ASCII space only — mirror it
        if len(t) < min_chars:
            continue
        if t not in keeper or (doc_id, idx) < keeper[t]:
            keeper[t] = (doc_id, idx)
    out = {}
    for doc_id, text in rows:
        if text is None:
            out[doc_id] = (None, 0, 0, 0)
            continue
        paras = re.split(sep, text)
        kept = []
        for idx, p in enumerate(paras):
            t = p.strip(" ")
            if len(t) < min_chars or keeper[t] == (doc_id, idx):
                kept.append(p)
        out[doc_id] = (joiner.join(kept), len(paras), len(kept), len(paras) - len(kept))
    return out


def test_dedup_paragraphs_matches_python_twin(spark):
    """Cross-doc + within-doc duplicate paragraphs removed (earliest
    (doc, position) wins, trim-insensitive hash but original text
    reassembled), short segments never candidates, NULL text stays
    NULL, all-duplicate doc comes back empty-but-present."""
    rows = [
        (1, "alpha beta\n\nCOMMON BOILERPLATE\n\ngamma"),
        (2, "COMMON BOILERPLATE\n\ndelta"),
        (3, "x7 q\n\nx7 q\n\nyy"),
        (4, "  COMMON BOILERPLATE  \n\nzeta"),
        (5, "a\n\n \n\nb"),
        (6, None),
        (7, "COMMON BOILERPLATE"),
        (8, "alpha beta\n\n\n\nCOMMON BOILERPLATE"),  # \n{2,} = one sep
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in D.dedup_paragraphs(docs).collect()}
    twin = _para_twin(rows)
    assert set(got) == set(twin)
    for doc_id, (text, n_paras, n_kept, n_dropped) in twin.items():
        g = got[doc_id]
        assert g.text_dedup == text, doc_id
        assert (g.n_paras, g.n_kept, g.n_dropped) == (n_paras, n_kept, n_dropped), doc_id
    # spot-check the semantics the twin encodes
    assert got[1].text_dedup == rows[0][1]          # first occurrence intact
    assert got[2].text_dedup == "delta"             # boilerplate stripped
    assert got[3].text_dedup == "x7 q\n\nyy"        # within-doc dup
    assert got[4].text_dedup == "zeta"              # trim-insensitive match
    assert got[5].text_dedup == rows[4][1]          # short segs kept verbatim
    assert got[6].text_dedup is None and got[6].n_paras == 0
    assert got[7].text_dedup == "" and got[7].n_dropped == 1  # all-dup doc


def test_dedup_paragraphs_min_chars_and_plan(spark):
    from pyspark.sql import functions as F2

    rows = [(1, "abc\n\nzz"), (2, "abc\n\nzz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # min_chars=3: 'zz' (len 2) ineligible everywhere; 'abc' dedups
    got = {r.doc_id: r for r in D.dedup_paragraphs(docs, min_chars=3).collect()}
    assert got[1].text_dedup == "abc\n\nzz"
    assert got[2].text_dedup == "zz" and got[2].n_dropped == 1

    real = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        D.dedup_paragraphs(real)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # idempotence on the (single-paragraph) real docs: nothing kept
    # twice, counts consistent
    chk = D.dedup_paragraphs(real).agg(
        F2.sum("n_kept").alias("k"),
        F2.sum("n_paras").alias("p"),
        F2.sum("n_dropped").alias("d"),
    ).collect()[0]
    assert chk.k + chk.d == chk.p


def test_dedup_turn_texts_matches_python_twin(spark):
    """is_first/n_copies over the synthetic transcript corpus ==
    a dict-based first-occurrence scan in (conv_id, turn_idx) order;
    keeping is_first rows keeps exactly one copy of every distinct
    trimmed text."""
    from lexicator_spark import synth

    corpus = synth.make_corpus(n_convs=40, seed=13)
    turns = synth.corpus_df(spark, corpus)
    got = D.dedup_turn_texts(turns).collect()

    rows = sorted(
        ((r.conv_id, r.turn_idx, r.text) for r in turns.collect()),
        key=lambda x: (x[0], x[1]),
    )
    first, copies = {}, {}
    for conv_id, turn_idx, text in rows:
        t = (text or "").strip(" ")
        if not t:
            continue
        copies[t] = copies.get(t, 0) + 1
        first.setdefault(t, (conv_id, turn_idx))
    for r in got:
        t = (r.text or "").strip(" ")
        if not t:
            assert r.is_first and r.n_copies == 1
            continue
        assert r.is_first == (first[t] == (r.conv_id, r.turn_idx)), (r.conv_id, r.turn_idx)
        assert r.n_copies == copies[t]
    kept = [(r.text or "").strip(" ") for r in got if r.is_first and (r.text or "").strip(" ")]
    assert len(kept) == len(set(kept)) == len(first)
    assert len(got) == len(rows)  # pass-through: no rows lost or added


def test_dedup_turn_texts_reapplicable(spark):
    """Running the operator on its own output must overwrite
    is_first/n_copies instead of raising AMBIGUOUS_REFERENCE — the
    docstring promises all input columns pass through, so a frame
    that already carries the flag columns is a natural input."""
    from lexicator_spark import synth

    corpus = synth.make_corpus(n_convs=10, seed=5)
    turns = synth.corpus_df(spark, corpus)
    once = D.dedup_turn_texts(turns)
    twice = D.dedup_turn_texts(once)
    a = {(r.conv_id, r.turn_idx): (r.is_first, r.n_copies) for r in once.collect()}
    b = {(r.conv_id, r.turn_idx): (r.is_first, r.n_copies) for r in twice.collect()}
    assert a == b  # idempotent on the flag columns
