"""nf2pq_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of poorting/nf2pq
(a Rust NetFlow/IPFIX → Parquet/ClickHouse streaming ETL collector; the
reference checkout is a moved-repo stub, see SURVEY.md §0)
as an idiomatic Spark engine:

- batch analytics over Parquet via the DataFrame/Catalyst path,
- Structured Streaming for the collector/rotation/sink pipeline,
- an LLM-data-pipeline operator library (dedup, similarity search,
  text analysis, multimodal columns) designed for 100 TB scale.

Packages:
    sources/    fixture + file-format loaders, IPFIX/NetFlow decoder
    functions/  scalar function batteries (net/flow, text, vectors)
    operators/  composite operators (as-of join, dedup, similarity, sessionize)
    plans/      the graded query registry (queries() + oracle_sql())
    streaming/  Structured Streaming jobs and sinks
"""

from ._zipcache import install as _install_zipcache

__version__ = "0.1.0"

# A Python worker imports this package when it unpickles its first engine
# UDF, so from then on a reused worker stops re-reading pyspark.zip on
# every task (see _zipcache). No conf, env var or worker module is
# involved: it holds for a driver-provided session too.
_install_zipcache()
