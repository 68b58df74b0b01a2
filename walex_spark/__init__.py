"""walex_spark — a PySpark-native CDC analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference CDC stream processor (cpursley/walex, Elixir), rebuilt
idiomatically on the Spark DataFrame / Catalyst / Structured Streaming
stack, plus the relational-analytics and LLM-data-pipeline operator
surface required to run at 100 TB scale.

Layout (mirrors SURVEY.md §7.1 build order):
  functions/   PG type casts, array-literal parsing, scalar helpers
  operators/   batch transforms: filters, diff, event projection,
               replay dedup, table-state materialization, relational
               layer
  sources/     change-envelope readers, pgoutput decode, incremental
               JDBC source
  streaming/   transaction assembly, dispatch engine, state sink,
               incremental twins
  extensions/  dedup, similarity search, text analysis, multimodal
  plans/       plan inspection / explain utilities
"""

__version__ = "0.1.0"

from walex_spark.session import get_spark  # noqa: F401
