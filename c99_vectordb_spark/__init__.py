"""c99_vectordb_spark — a PySpark-native analytics/vector engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference engine at /root/reference (``memo`` v2: a FAISS-backed local
semantic memory CLI, see /root/repo/SURVEY.md). Everything is expressed
as DataFrame / Spark SQL plans so Catalyst + Tungsten (predicate
pushdown, column pruning, whole-stage codegen, AQE) drive the physical
execution; Python-side code is limited to plan construction, a couple of
Arrow-batched pandas UDFs, and exact output formatting.

Layout (SURVEY.md §7 build plan):

- ``model``      — schemas + constants (DIM, MAX_K, ...)
- ``session``    — SparkSession factory with scale-oriented defaults,
                   and ``spread``, the one rule for adding parallelism
- ``hashing``    — the stable cross-engine hash spec (driver-side ref impl)
- ``functions``  — reusable Column-level building blocks (embed, text)
- ``operators``  — filters (F1-F10), recall (V1-V5), analyze (P/A/O),
                   mutate (M1-M5), dedup / similarity / textstats /
                   multimodal extensions
- ``sources``    — parquet-native store (S3/S4/S6) + YAML adapter (S1/S2/S5)
- ``streaming``  — Structured Streaming ingest surface (extension)
- ``fmt``        — golden-output formatters (R1-R4)
- ``cli``        — argv-compatible shell (reference verbs)
"""

__version__ = "0.1.0"
