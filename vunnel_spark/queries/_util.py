"""Shared helpers for query modules.

Helpers used by more than one query module (graph_q and dedup share the
near-dup corpus construction) live here, outside every registering
module, so importing a helper never imports another query module as a
side effect.  Registry insertion order is therefore fixed by the module
walk in ``queries/__init__.py`` alone, and this module, whose name starts
with ``_``, registers nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vunnel_spark.session import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table (normalized for driver-data quirks)."""
    return load_table(spark, sf_dir, name)


#: offset for synthesized duplicate doc ids (dedup/graph query families)
DUP_BASE = 1_000_000

NEAR_DUPS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DUP_BASE} AS doc_id, text || ' spark' AS text
      FROM documents WHERE doc_id % 5 = 0
"""


def with_near_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ one-word-appended variants of every 5th doc."""
    near = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + DUP_BASE).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" spark")).alias("text"),
    )
    return docs.unionByName(near)
