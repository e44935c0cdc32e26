"""Stage B — entity linking: surface mentions → canonical QID-style ids.

The analog of lexicator's reconciliation against Wikidata
(``lexicator/WikidataUploader.py`` + ``WikidataQueryService`` [M],
SURVEY.md §2 #8): where lexicator issued a SPARQL lookup per lexeme,
this stage is a blocking-key join against a broadcast entity catalog
followed by character-shingle Jaccard scoring and a window best-pick.

Scale shape:
- the catalog (entity vocabulary) is tiny → ``F.broadcast`` join, no
  shuffle on the big side beyond the ``distinct()`` on surfaces;
- scoring is pure Catalyst (``array_intersect`` / ``array_union`` on
  shingle arrays built with higher-order functions) → whole-stage
  codegen, no Python in the hot path;
- the best-pick window partitions by surface (bounded candidates per
  surface thanks to blocking), never by entity — hot entities like
  frequent tool names therefore never concentrate a partition.
  For a catalog too big to broadcast, the same plan degrades to a
  shuffled hash join on ``block_key`` — blocking keys are designed to
  distribute (first char × length bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lexicator_spark import rules
from lexicator_spark.operators.extract import null_span


def _shingles(col):
    """array_distinct over character K-grams; strings shorter than K
    yield themselves — mirrors rules.char_shingles exactly for
    non-empty input (empty surfaces are filtered before linking)."""
    k = rules.SHINGLE_K
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(col) - (k - 1))),
            lambda i: F.substring(col, i, k),
        )
    )


def _block_key(col):
    """first char + len//4 bucket — mirrors rules.block_key for
    non-empty input (empty surfaces are filtered before linking)."""
    return F.concat(
        F.substring(col, 1, 1), F.floor(F.length(col) / 4).cast("int").cast("string")
    )


def build_catalog(spark) -> DataFrame:
    """Entity catalog (canonical_id, alias_norm, block_key, shingles).
    In production this is an Iceberg dimension table; here it comes
    from the shared rule vocabulary."""
    rows = [
        (qid, alias, rules.block_key(alias), sorted(rules.char_shingles(alias)))
        for qid, alias in rules.catalog_rows()
    ]
    # single-slice parallelize: the default (one slice per core) costs
    # a Python worker per slice every time the catalog is evaluated
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "canonical_id string, alias_norm string, cat_block string, cat_shingles array<string>",
    )


def mention_surfaces(triples: DataFrame) -> DataFrame:
    """DISTINCT linkable mention surfaces of a triple table — the one
    definition of the linker's input universe (empty normalized
    surfaces are unlinkable and the one input where the Catalyst rule
    mirrors would diverge — dropped)."""
    return (
        triples.filter(F.col("pred") == rules.PRED_MENTIONS)
        .select(F.col("obj").alias("surface"))
        .filter(F.length(F.col("surface")) > 0)
        .distinct()
    )


def link_mentions(
    triples: DataFrame,
    catalog: DataFrame,
    broadcast_catalog: bool = True,
) -> DataFrame:
    """mention triples → ``same_as`` triples
    (subj=surface, pred=same_as, obj=canonical_id, conf=score).

    Candidate generation = equi-join on block key (broadcast);
    scoring = Jaccard over distinct char-3-gram shingles; best pick =
    row_number over (surface) ordered by (score desc, canonical_id,
    alias) — fully deterministic tie-breaking.
    """
    return link_surfaces(
        mention_surfaces(triples),
        catalog,
        broadcast_catalog=broadcast_catalog,
    )


def link_surfaces(
    surfaces: DataFrame,
    catalog: DataFrame,
    broadcast_catalog: bool = True,
) -> DataFrame:
    """Link a pre-computed surface universe — ``surfaces(surface)``,
    distinct and non-empty (``mention_surfaces``' contract).  Split
    from :func:`link_mentions` so the incremental refresh
    (``plans.refresh``) can link ONLY the delta's newly-seen surfaces
    instead of re-deriving the distinct set from the full triple
    stream; per-surface output is identical by construction (scoring
    depends on nothing but the surface and the catalog)."""
    surfaces = (
        surfaces
        .withColumn("block", _block_key(F.col("surface")))
        .withColumn("shingles", _shingles(F.col("surface")))
    )

    # broadcast for vocabulary-sized catalogs; for catalogs beyond the
    # broadcast threshold (~1 GB) the identical plan runs as a shuffled
    # join on the blocking key — first-char × length buckets distribute
    # (tested equal in tests/test_link_cc.py)
    cat = F.broadcast(catalog) if broadcast_catalog else catalog
    cand = surfaces.join(
        cat, surfaces.block == catalog.cat_block, "inner"
    ).withColumn(
        "score",
        F.size(F.array_intersect("shingles", "cat_shingles")).cast("double")
        / F.size(F.array_union("shingles", "cat_shingles")).cast("double"),
    )

    w = Window.partitionBy("surface").orderBy(
        F.col("score").desc(), F.col("canonical_id"), F.col("alias_norm")
    )
    best = cand.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("score") >= rules.LINK_SCORE_THRESHOLD)
    )

    return best.select(
        F.col("surface").alias("subj"),
        F.lit(rules.PRED_SAME_AS).alias("pred"),
        F.col("canonical_id").alias("obj"),
        F.col("score").alias("conf"),
        null_span(),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit(None).cast("timestamp").alias("extracted_at"),
    )
