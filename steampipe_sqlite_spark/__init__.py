"""steampipe_sqlite_spark — a PySpark-native analytics engine with the
capabilities of turbot/steampipe-sqlite, rebuilt Spark-first.

The reference (read-only at /root/reference) is a ~1.1 kLoC SQLite
virtual-table bridge: SQLite core supplies ALL relational processing and the
bridge supplies schema discovery, predicate/projection/limit pushdown, and a
live connector to plugin data (SURVEY.md §0).  This package re-expresses the
same two halves idiomatically on Spark:

- Half A (the bridge): ``sources/`` — a connector protocol plus a PySpark 4
  ``DataSource`` with filter/limit pushdown and Arrow-batch reads; ``engine``
  — discovery, (re)registration, TTL result cache, configure().
- Half B (the SQL surface): stock Catalyst.  ``plans/`` holds the query
  corpus proving operator-by-operator parity (SURVEY.md §2.3); ``functions/``
  holds SQLite-dialect compat functions and LLM-pipeline text/vector
  functions; ``operators/`` holds composed operators (dedup, similarity,
  top-k); ``streaming/`` holds Structured Streaming extensions.

Everything here derives from public knowledge only: the Apache Spark API and
the reference's observable behavior.
"""

from steampipe_sqlite_spark import zipcache

zipcache.install()  # before anything else: every Spark Python worker imports the package

from steampipe_sqlite_spark.session import get_spark, stop_spark
from steampipe_sqlite_spark.tables import load_table, register_views

__all__ = [
    "get_spark",
    "stop_spark",
    "load_table",
    "register_views",
]
__version__ = "0.1.0"
