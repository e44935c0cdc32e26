"""Document deduplication operators for large-scale training-data
pipelines: n-gram Jaccard, MinHash+LSH, SimHash, plus sub-document
segment dedup (paragraph / turn boilerplate removal).

Scale shapes (the point of each design):
- ngram-Jaccard: candidate pairs come from an inverted-index
  self-join over LOW-FREQUENCY tokens (df ≤ max_token_df) plus each
  doc's ``keep_rarest`` rarest tokens (so docs made only of frequent
  tokens still index something); exact Jaccard verifies by rejoining
  full token sets — the index join never carries token arrays.
- MinHash+LSH: fixed-size signature per doc computed ENTIRELY
  JVM-side (explode tokens → hash-aggregate of 32 ``min(xxhash64(
  seed, tok))`` — map-side combine collapses to one row per doc per
  partition, whole-stage codegen, zero Python); banded into LSH
  buckets; candidate generation joins (bucket, doc_id) ONLY, tokens
  are joined back by id for the exact-Jaccard verify.
- SimHash: 64-bit fingerprint, also JVM-side (explode → 64 signed
  bit-count sums in one hash aggregate); near-dup candidates share at
  least one of four 16-bit chunks (Hamming ≤ 3 guaranteed found by
  pigeonhole), verified by exact Hamming distance.

Docs with no tokens (empty/whitespace text) are excluded from the
near-dup operators — they are exact duplicates of each other, which
an md5 group (the CLI's ``--dedup exact``) finds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "\\s+"


def _tokens(col):
    return F.array_distinct(
        F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda t: t != F.lit(""))
    )


def _verify_jaccard(
    cand: DataFrame, base: DataFrame, threshold: float
) -> DataFrame:
    """Exact token-Jaccard verification of (a, b) candidate pairs:
    join the full distinct-token arrays back by doc id (candidates are
    few, so this is the cheap side) and filter on the true Jaccard."""
    ta = base.select(F.col("doc_id").alias("a"), F.col("toks").alias("ta"))
    tb = base.select(F.col("doc_id").alias("b"), F.col("toks").alias("tb"))
    return (
        cand.join(ta, "a")
        .join(tb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb")).cast("double")
            / F.size(F.array_union("ta", "tb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    max_token_df: int = 50,
    keep_rarest: int = 2,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with exact token-Jaccard ≥ threshold.

    Inverted-index blocking: a token enters the index when its document
    frequency ≤ max_token_df, OR when it is one of the doc's
    ``keep_rarest`` rarest tokens (ties broken by token).  The fallback
    guarantees every non-empty doc indexes at least one token, so
    identical-token-set duplicates are always found no matter how many
    copies exist (a doc's rarest token is shared by its duplicate).

    Recall bound: a pair is surfaced iff the two docs share at least
    one indexed token.  A pair whose every shared token is common
    (df > max_token_df) AND outside both docs' rarest-``keep_rarest``
    sets is missed — at threshold ≥ 0.6 such pairs require both docs
    to consist almost entirely of high-frequency tokens that are
    nonetheless rarer tokens' neighbors; raise ``keep_rarest`` to
    trade index size for recall.  The verify step always reports the
    exact Jaccard over the full token sets, never the indexed subset.
    """
    base = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    toks = base.select("doc_id", F.explode("toks").alias("tok"))
    dfs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    with_df = toks.join(dfs, "tok")
    if keep_rarest > 0:
        rnk = F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "tok")
        )
        idx = with_df.withColumn("rnk", rnk).filter(
            (F.col("df") <= max_token_df) | (F.col("rnk") <= keep_rarest)
        )
    else:
        idx = with_df.filter(F.col("df") <= max_token_df)
    idx = idx.select("tok", "doc_id")

    a = idx.select(F.col("tok"), F.col("doc_id").alias("a"))
    b = idx.select(F.col("tok"), F.col("doc_id").alias("b"))
    cand = (
        a.join(b, "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    return _verify_jaccard(cand, base, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
_N_HASHES = 32


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>) — 32 minhashes, entirely JVM-side:
    explode distinct tokens, then ONE hash aggregate computing
    ``min(xxhash64(seed_i, tok))`` for each of the 32 seeds.  Map-side
    partial aggregation collapses the explode to one 32-long row per
    doc per partition, so the shuffle carries ~256 bytes per doc no
    matter how long the text is.  Measured 5× faster than the previous
    Arrow/pandas per-token Python loop at sf0.1 (and the gap widens
    with cores — this path is whole-stage codegen).  Docs with no
    tokens are absent from the output."""
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("tok"))).alias(f"h{i}")
        for i in range(_N_HASHES)
    ]
    sig = F.array(*[F.col(f"h{i}") for i in range(_N_HASHES)])
    return toks.groupBy("doc_id").agg(*aggs).select("doc_id", sig.alias("sig"))


def pick_banding(threshold: float, n_hashes: int = _N_HASHES) -> int:
    """Number of LSH bands whose S-curve midpoint ``(1/b)^(1/r)`` sits
    at or below the requested Jaccard threshold — the most SELECTIVE
    banding that still gives pairs at the threshold a better-than-even
    candidate probability.  A fixed banding silently loses recall for
    thresholds below its midpoint (8×4's midpoint is ~0.595)."""
    candidates = [b for b in (2, 4, 8, 16, 32) if n_hashes % b == 0]
    viable = [
        b
        for b in candidates
        if (1.0 / b) ** (b / n_hashes) <= threshold  # midpoint = (1/b)^(1/r)
    ]
    return min(viable) if viable else max(candidates)


def _band_buckets(
    docs: DataFrame, threshold: float, n_bands: int | None
) -> DataFrame:
    """(bucket, doc_id) LSH band-bucket memberships — the shared
    candidate-generation stage of the pair and star variants.  The
    band explode carries (bucket, doc_id) ONLY; full token arrays are
    joined back by doc_id solely for verification."""
    if n_bands is None:
        n_bands = pick_banding(threshold)
    if _N_HASHES % n_bands:
        raise ValueError(f"n_bands must divide {_N_HASHES}, got {n_bands}")
    sigs = minhash_signatures(docs)
    rows_per_band = _N_HASHES // n_bands
    band_sigs = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
    )
    return (
        sigs.select("doc_id", F.posexplode(band_sigs).alias("band", "band_sig"))
        .select(
            F.xxhash64(
                F.col("band"),
                F.concat_ws(
                    ",", F.transform("band_sig", lambda x: x.cast("string"))
                ),
            ).alias("bucket"),
            "doc_id",
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.6, n_bands: int | None = None
) -> DataFrame:
    """Candidate pairs via banded MinHash-LSH, verified by exact token
    Jaccard.  The banding ADAPTS to the threshold by default
    (``pick_banding``: 0.6 → 8 bands × 4 rows, 0.3 → 16 × 2 …), so low
    thresholds don't silently lose recall to a fixed S-curve; pass
    ``n_bands`` to pin it.  The band explode and bucket self-join
    carry (bucket, doc_id) ONLY — full token arrays are joined back by
    doc_id solely for the verify step, so shuffle bytes scale with the
    signature (fixed) + candidate count, never with band-count × token
    payload.

    NOTE the output is inherently quadratic in near-dup cluster sizes
    (a cluster of n copies IS n·(n-1)/2 true pairs); when the consumer
    is cluster assignment, use ``minhash_lsh_star_edges`` — linear —
    instead of enumerating pairs."""
    base = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    bands = _band_buckets(docs, threshold, n_bands)
    l = bands.select("bucket", F.col("doc_id").alias("a"))
    r = bands.select("bucket", F.col("doc_id").alias("b"))
    cand = (
        l.join(r, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    return _verify_jaccard(cand, base, threshold)


def minhash_lsh_star_edges(
    docs: DataFrame, threshold: float = 0.6, n_bands: int | None = None
) -> DataFrame:
    """LINEAR-size verified edge set for near-dup CLUSTERING: per LSH
    band bucket, connect every member to the bucket's minimum doc id
    (a star) instead of enumerating all within-bucket pairs, then
    verify each star edge by exact token Jaccard.

    Candidate edges ≤ docs × bands regardless of how templated the
    corpus is — on the synthetic sf0.1 corpus the pair variant
    verifies 6.5M pairs (52% of ALL doc pairs are true near-dups)
    where this emits ≤ 40k edges, and connected components over either
    edge set reaches the same clusters whenever every bucket member is
    within threshold of its hub.  Precision of the resulting CLUSTERS
    is identical to the pair variant (every surviving edge is a true
    near-dup pair, and CC closes over true pairs either way); recall
    can only drop for a doc whose every shared bucket has a hub
    dissimilar to it — the multi-band OR gives each doc ``n_bands``
    independent hub draws (pytest gates cluster agreement vs the
    pair-verified ground truth).  This hub-sparsification is how
    web-scale MinHash dedups avoid materializing the quadratic pair
    set."""
    base = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    bands = _band_buckets(docs, threshold, n_bands)
    hubs = bands.groupBy("bucket").agg(F.min("doc_id").alias("a"))
    edges = (
        bands.join(hubs, "bucket")
        .filter(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return _verify_jaccard(edges, base, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, sh long) — 64-bit simhash, entirely JVM-side: explode
    distinct tokens, hash each once with xxhash64, then ONE hash
    aggregate of 64 signed bit-count sums (+1 when the bit is set,
    −1 otherwise); the fingerprint sets bit b iff sum_b > 0.  Bit 63
    contributes the sign bit via two's complement.  Docs with no
    tokens are absent from the output.

    The token hash is materialized as its own projected column: all
    64 aggregate expressions reference it, and aggregate codegen does
    not common-subexpression-eliminate across aggregates, so the
    inline form hashed every token 64 times (measured 1.9× slower at
    sf0.1)."""
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("_h"))
    h = F.col("_h")
    aggs = [
        F.sum(
            F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
        ).alias(f"b{b}")
        for b in range(64)
    ]
    acc = toks.groupBy("doc_id").agg(*aggs)
    sh = None
    for b in range(64):
        bit_value = 1 << b if b < 63 else -(1 << 63)
        term = (
            F.when(F.col(f"b{b}") > 0, F.lit(bit_value).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        sh = term if sh is None else sh + term
    return acc.select("doc_id", sh.alias("sh"))


# ---------------------------------------------------------------------------
# Cluster assignment — pairs → keep/drop decisions
# ---------------------------------------------------------------------------
_ID_PAD = 20  # max digits of a non-negative int64


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    method: str = "minhash",
    threshold: float = 0.6,
    include_singletons: bool = True,
    id_col: str = "doc_id",
    **method_kwargs,
) -> DataFrame:
    """Near-duplicate CLUSTER ASSIGNMENTS — what a 100-TB dedup
    actually consumes: ``(doc_id, cluster_id, keep)`` with exactly one
    ``keep=true`` row per cluster (the minimum doc id).

    Pair-emitting near-dup operators are quadratic in pathologically
    templated corpora (a cluster of n copies is n·(n-1)/2 pairs); the
    cluster form is linear in documents.  Candidate pairs come from
    ``method`` ('minhash' | 'jaccard' | 'simhash' — all emit verified
    pairs, never raw candidates) or from a caller-supplied ``pairs``
    frame with columns (a, b); connected components over the pair
    graph (``operators.canonicalize.connected_components`` — the same
    large-star/small-star fixpoint the KG canonicalization uses) give
    transitive closure, so A≈B≈C collapses to one cluster even when
    (A, C) itself was never emitted as a pair.

    Numeric ids are zero-padded to ``_ID_PAD`` digits for the CC node
    labels so string-min equals numeric-min, then decoded back; a
    negative numeric id fails the job (raise_error inline in the
    encode) rather than silently mis-ordering.  With ``include_singletons`` every document
    appears in the output (docs with no near-dup keep themselves) —
    the frame is then a total keep/drop decision for the corpus.
    """
    from lexicator_spark.operators.canonicalize import connected_components

    if pairs is None:
        methods = {
            "minhash": minhash_lsh_pairs,
            # linear candidate edges (bucket-hub stars) — the scale
            # path: cluster output is identical whenever every bucket
            # member is within threshold of its hub, and the verified
            # pair set never materializes the quadratic blowup
            "minhash_star": minhash_lsh_star_edges,
            "jaccard": ngram_jaccard_pairs,
            "simhash": simhash_pairs,
        }
        if method == "simhash":
            pairs = simhash_pairs(docs, **method_kwargs)
        elif method in methods:
            pairs = methods[method](docs, threshold=threshold, **method_kwargs)
        else:
            raise ValueError(f"unknown method {method!r}")

    dt = dict(docs.dtypes)[id_col]
    numeric = dt in ("tinyint", "smallint", "int", "bigint")
    if numeric:
        # enforced, not advisory: a negative id would lpad-encode to
        # e.g. '000…0-5', whose lexicographic order diverges from
        # numeric order and silently corrupts cluster_id/keep — fail
        # the job instead (checked row-inline, no extra pass)
        ok = lambda c: F.when(c >= 0, c).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "near_dup_clusters: numeric ids must be "
                        "non-negative, got "
                    ),
                    c.cast("string"),
                )
            )
        )
        enc = lambda c: F.lpad(ok(c).cast("string"), _ID_PAD, "0")
        dec = lambda c: c.cast(dt)
    else:
        enc = lambda c: c.cast("string")
        dec = lambda c: c

    edges = pairs.select(enc(F.col("a")).alias("u"), enc(F.col("b")).alias("v"))
    assignments = connected_components(edges)
    clusters = assignments.select(
        dec(F.col("node")).alias(id_col), dec(F.col("comp")).alias("cluster_id")
    )
    if include_singletons:
        singles = (
            docs.select(id_col)
            .join(clusters.select(id_col), id_col, "left_anti")
            .select(F.col(id_col), F.col(id_col).alias("cluster_id"))
        )
        clusters = clusters.unionByName(singles)
    return clusters.withColumn("keep", F.col(id_col) == F.col("cluster_id"))


def _keeper_flag(
    segs: DataFrame, hash_col: str, order_cols: list[str]
) -> DataFrame:
    """Flag each segment row ``is_first`` (the corpus-wide earliest
    occurrence of its hash in ``order_cols`` order) and count
    ``n_copies``.  Rows with a NULL hash are dedup-ineligible and
    flagged first unconditionally (null join keys never match).

    Scale shape: groupBy(hash) → min(struct(order)) is a partial
    (map-side-combinable) aggregation, so a boilerplate segment
    repeated a billion times collapses to one row per input partition
    BEFORE the shuffle — the skew-robust alternative to a
    row_number() window, whose hot-hash partition would serialize on
    a single task.  The join back carries one row per DISTINCT hash
    on the build side."""
    key = F.struct(*[F.col(c) for c in order_cols])
    # keeper-side outputs use reserved __names so the join never
    # collides with caller columns — dedup_turn_texts promises "all
    # input columns pass through", and re-applying the operator to
    # its own output (which already carries n_copies/is_first) must
    # overwrite, not raise AMBIGUOUS_REFERENCE
    keepers = (
        segs.filter(F.col(hash_col).isNotNull())
        .groupBy(hash_col)
        .agg(
            F.min(key).alias("__keeper"),
            F.count(F.lit(1)).alias("__n_copies"),
        )
    )
    return (
        segs.join(keepers, hash_col, "left")
        .withColumn(
            "is_first",
            F.col(hash_col).isNull() | (key == F.col("__keeper")),
        )
        .withColumn("n_copies", F.coalesce(F.col("__n_copies"), F.lit(1)))
        .drop("__keeper", "__n_copies")
    )


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\\n{2,}",
    joiner: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet /
    MassiveText line-dedup pass): every paragraph that is an exact
    duplicate (by md5 of its trimmed text) of an earlier one —
    earlier = smaller ``(id, paragraph position)`` — is REMOVED from
    its document; documents themselves all survive, with boilerplate
    stripped.  Returns one row per input doc:
    ``(id_col, text_dedup, n_paras, n_kept, n_dropped)``; NULL text
    stays NULL with zero counts.

    Paragraphs whose trimmed text is shorter than ``min_chars`` are
    never dedup candidates (they are kept verbatim) — otherwise every
    empty segment in the corpus would collapse into one.

    All shuffles ride narrow keys: hash-groupBy on the 16-byte
    paragraph digest (partial agg — see ``_keeper_flag`` for why this
    beats a window under boilerplate skew), the join back on the
    digest, the per-doc reassembly groupBy on ``id_col``, and a final
    ``(id, had_text boolean)`` re-join that restores NULL-text rows —
    one boolean per doc, never the text itself.  Paragraph text rides
    only explode → reassemble; nothing variable-width crosses the
    hash shuffle twice."""
    para = F.trim(F.col("__para"))
    segs = (
        docs.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
            ).alias("__idx", "__para"),
        )
        .withColumn(
            "__h",
            F.when(F.length(para) >= min_chars, F.md5(para)),
        )
    )
    flagged = _keeper_flag(segs, "__h", [id_col, "__idx"])
    assembled = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("is_first").cast("int")).alias("n_kept"),
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("is_first"),
                            F.struct(F.col("__idx"), F.col("__para")),
                        )
                    )
                ),
                lambda x: x["__para"],
            ),
        ).alias("text_dedup"),
    )
    # re-join the original frame so NULL-text docs (whose segments a
    # posexplode over NULL would drop — hence the coalesce above)
    # come back as NULL output rather than empty string; only a
    # boolean rides this join — shipping the text itself would add a
    # fourth full-corpus-text shuffle the docstring's shuffle budget
    # (and the scaling benchmark) doesn't pay for
    had_text = F.col("__had_text")
    return (
        docs.select(id_col, F.col(text_col).isNotNull().alias("__had_text"))
        .join(assembled, id_col, "left")
        .select(
            id_col,
            F.when(had_text, F.col("text_dedup")).alias("text_dedup"),
            F.when(had_text, F.col("n_paras"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("n_paras"),
            F.when(had_text, F.col("n_kept"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("n_kept"),
            F.when(had_text, F.col("n_paras") - F.col("n_kept"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("n_dropped"),
        )
    )


def dedup_turn_texts(turns: DataFrame, min_chars: int = 1) -> DataFrame:
    """Cross-conversation turn-boilerplate detection over the
    transcript table (input_hint schema): flag each turn whether its
    exact text (md5 of trimmed, case-preserved — canned strings
    repeat verbatim) first occurs HERE in ``(conv_id, turn_idx)``
    order, plus the corpus-wide copy count.  The 'assistant pastes
    the same canned disclaimer into a million conversations' filter:
    downstream KG extraction or training-data export keeps
    ``is_first`` rows and drops repeats without losing the turn slot.
    Adds ``is_first``/``n_copies``; all input columns pass through.
    Same skew-robust partial-agg shape as ``dedup_paragraphs``
    (see ``_keeper_flag``); turns below ``min_chars`` trimmed length
    are never candidates."""
    t = F.trim(F.col("text"))
    seg = turns.withColumn(
        "__h",
        F.when(t.isNotNull() & (F.length(t) >= min_chars), F.md5(t)),
    )
    return _keeper_flag(seg, "__h", ["conv_id", "turn_idx"]).drop("__h")


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ max_hamming.
    Pigeonhole blocking on ``max_hamming + 1`` disjoint bit chunks —
    any pair within the Hamming budget must agree exactly on at least
    one chunk, so recall is guaranteed for EVERY ``max_hamming`` (the
    chunk layout adapts; 3 → the classic four 16-bit chunks).
    Fingerprints ride the chunk join as two scalar longs — nothing
    variable-width ever shuffles."""
    n_chunks = max_hamming + 1
    if not 1 <= n_chunks <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    base, rem = divmod(64, n_chunks)
    widths = [base + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    sh = simhash_fingerprints(docs)
    chunks = sh.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    (
                        F.col("sh")  # single 64-bit chunk: no mask fits a long
                        if w == 64
                        else F.shiftrightunsigned(F.col("sh"), off).bitwiseAND(
                            F.lit((1 << w) - 1)
                        )
                    )
                    for off, w in zip(offsets, widths)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    l = chunks.select("chunk_idx", "chunk", F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    r = chunks.select("chunk_idx", "chunk", F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    cand = (
        l.join(r, ["chunk_idx", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sha", "shb")
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
