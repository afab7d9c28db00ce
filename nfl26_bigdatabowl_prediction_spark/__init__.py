"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference project (Goge052215/NFL26-bigdatabowl-prediction,
surveyed in SURVEY.md).

The reference is a single-node pandas/numpy dataflow; this package
re-expresses every operator it uses (SURVEY.md §2) as idiomatic Spark
DataFrame/SQL plans that Catalyst can optimize, plus the large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB deployment needs.

Layout:
    session.py    -- SparkSession builder tuned for local[32] tests / cluster prod
    sources/      -- readers/writers (SURVEY §2.1 S1-S6)
    functions/    -- scalar/portable expression helpers (§2.7 F1-F11)
    operators/    -- window, aggregate, join, dedup, similarity operators
    plans/        -- composed feature pipelines + the query registry
    streaming/    -- Structured Streaming variants of the window suite
    ml/           -- MLlib fold/baseline/GBT/ensemble layer (§2.10)
"""

__version__ = "0.1.0"
