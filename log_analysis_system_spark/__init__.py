"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference log-analysis system (sotowang/log-analysis-system).

Brand-new Spark-first design: DataFrame/SQL plans optimized by Catalyst + AQE,
Structured Streaming for the realtime surface, Arrow-vectorized pandas UDFs only
where built-ins genuinely cannot express the semantics (multimodal decode).

Subpackages
-----------
- ``session``    : SparkSession factory tuned for local[nproc] testing / cluster scale
- ``sources``    : catalog of batch sources (parquet, \\x01-text, JDBC, Kafka)
- ``operators``  : reusable DataFrame operators (sessionize, top-n, funnel, sampling,
                   dedup, similarity, text analysis, multimodal plumbing)
- ``queries``    : the reference's four analysis jobs as parameterized query functions
- ``streaming``  : Structured Streaming equivalents of the DStream job (ST1-ST6)
- ``sinks``      : JDBC upsert / delete-insert / parquet sinks (S8-S11)
"""

__version__ = "0.1.0"
