"""lexicator_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
``nyurik/lexicator`` (see SURVEY.md), re-targeted at multi-turn
transcript tables per BASELINE.json's north_rule.

Pipeline: raw turns → extract (Stage A, vectorized pandas/Arrow UDF)
→ link (Stage B, blocking-key join + Jaccard scoring) → canonicalize
(Stage C, each linked surface → its catalog id) → materialize
(Stage D, bucketed parquet triple + entity tables with
per-partition lineage and checkpoint/resume).
"""

__version__ = "0.1.0"
