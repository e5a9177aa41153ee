"""PySpark-native analytics engine with the capabilities of pokearu/PythonMapReduce.

A brand-new engine: the reference (675 LoC Python MapReduce over GCloud VMs +
a memcached-protocol KV store; see /root/reference) defines WHAT to compute —
(key, value) map/reduce jobs, word count, inverted index — while this package
re-expresses that surface, plus the full relational/streaming/LLM-pipeline
surface mandated by SURVEY.md §2.3, as idiomatic Spark DataFrame/SQL plans
optimized by Catalyst.

Layout:
    session.py    SparkSession builder (AQE, Arrow, UTC, zstd shuffle codec,
                  tuned shuffle partitions)
    catalog.py    explicit-schema loaders for the test tables + temp views
    plans/        query registry: name -> (callable, oracle SQL) consumed by
                  __spark_entry__.py
    operators/    relational operators (joins, aggregates, windows, setops, sort)
    functions/    scalar function families + UDF surface
    sources/      text-corpus ingestion (reference-parity path), readers
    streaming/    event-time windows + Structured Streaming jobs
    pipeline/     LLM-data-pipeline operators (dedup, similarity, text analysis,
                  multimodal plumbing)
"""

__version__ = "0.1.0"
