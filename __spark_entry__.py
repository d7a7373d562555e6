"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the differential correctness gate. Implementations live in
:mod:`ballcone_spark.queries` (analytics + SQL surface) and
:mod:`ballcone_spark.operators` (dedup / similarity / text analysis).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ballcone_spark.queries import QUERIES, flagship  # noqa: E402

# importing the operator modules registers their queries
import ballcone_spark.operators.dedup  # noqa: E402,F401
import ballcone_spark.operators.corpus_diff  # noqa: E402,F401
import ballcone_spark.operators.corpus_report  # noqa: E402,F401
import ballcone_spark.operators.diagnostics  # noqa: E402,F401
import ballcone_spark.operators.embedding_dedup  # noqa: E402,F401
import ballcone_spark.operators.lm_quality  # noqa: E402,F401
import ballcone_spark.operators.packing  # noqa: E402,F401
import ballcone_spark.operators.quality_classifier  # noqa: E402,F401
import ballcone_spark.operators.quantization  # noqa: E402,F401
import ballcone_spark.operators.range_join  # noqa: E402,F401
import ballcone_spark.operators.repetition  # noqa: E402,F401
import ballcone_spark.operators.sampling  # noqa: E402,F401
import ballcone_spark.operators.semantic_dedup  # noqa: E402,F401
import ballcone_spark.operators.similarity  # noqa: E402,F401
import ballcone_spark.operators.span_dedup  # noqa: E402,F401
import ballcone_spark.operators.text_analysis  # noqa: E402,F401
import ballcone_spark.streaming.alias_stream  # noqa: E402,F401
import ballcone_spark.streaming.decon_stream  # noqa: E402,F401
import ballcone_spark.streaming.dedup_stream  # noqa: E402,F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }
