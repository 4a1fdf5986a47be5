"""Engine façade (SURVEY.md §3 Entry C).

One object tying together session, catalog, SQL entry, and the query
registry — what a user of the reference lab would hold instead of a
psql/clickhouse-client connection.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from sql_engine_triangle_spark.catalog import DEFAULT_SF_DIR, load_table, register_views
from sql_engine_triangle_spark.queries import registry
from sql_engine_triangle_spark.session import get_spark


class Engine:
    """Facade over the PySpark-native engine.

    >>> eng = Engine(sf_dir="/root/testdata/sf0.01")
    >>> eng.sql("SELECT count(*) AS n FROM lineitem").show()
    >>> eng.query("q1_agg_by_type").show()
    """

    def __init__(self, spark: SparkSession | None = None, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self._sql_session: SparkSession | None = None
        self._sql_lock = threading.Lock()

    # -- Entry A: SQL ------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """spark.sql over this Engine's fixture tables, named as in
        ``catalog.TABLES``. The views live in a child session
        (``newSession``: the same SparkContext and cache, its own temp
        views and SQL conf) made on first use, so Engines over other
        ``sf_dir`` on the same session never read each other's tables."""
        with self._sql_lock:
            if self._sql_session is None:
                self._sql_session = self.spark.newSession()
                register_views(self._sql_session, self.sf_dir)
        return self._sql_session.sql(query)

    # -- Entry B: DataFrame -----------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    # -- Entry C: registered operator pipelines ---------------------
    def query(self, name: str) -> DataFrame:
        """Run a registered operator pipeline by name."""
        return registry.get(name).fn(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        return registry.names()

    def oracle(self, name: str) -> str | None:
        return registry.get(name).oracle
