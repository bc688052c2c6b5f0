"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (auto-codec encode of the
documents token table with lineage metrics).  ``queries()`` /``oracle_sql()``
expose every implemented operator with exact DuckDB oracles — see
``streamvbyte_spark/queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamvbyte_spark import queries as _q  # noqa: E402
from streamvbyte_spark.operators import encode_table  # noqa: E402
from streamvbyte_spark.sources import tokens_from_documents  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode the sf0.001 documents token table with the cost-model
    auto-selector; returns the encoded table with lineage columns."""
    tok = tokens_from_documents(spark, "/root/testdata/sf0.001")
    return encode_table(tok, codec="auto")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.build_queries()


def oracle_sql() -> dict[str, str]:
    return _q.build_oracles()
