"""Dependency-light SQL building blocks shared across the extension
suites.

This module imports nothing from the operator package (only the table
loader), so a suite that needs just a tokenizer expression or the decimal
dot-product idiom does not import ``suite.py`` to get it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

#: DuckDB-side whitespace tokenizer over the documents table (mirrors the
#: Spark-side split in operators/text.py).
_WORDS = "string_split_regex(trim(text), '\\s+')"

#: DuckDB-side distinct 3-word shingles of a tokenized document (mirrors
#: operators/dedup.py's shingling).
_SHINGLES = (
    "list_distinct(CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) "
    "ELSE [] END)"
)

#: Deterministic cross-engine dot product / norms: accumulate in wide
#: DECIMAL (exact, order-independent) and convert once — plain double
#: SUMs differ between Spark and DuckDB in the last ulps.
_DOT_DEC = "CAST(SUM(CAST(x * y AS DECIMAL(28,14))) AS DOUBLE)"
_NORM_X = "CAST(SUM(CAST(x * x AS DECIMAL(28,14))) AS DOUBLE)"
_NORM_Y = "CAST(SUM(CAST(y * y AS DECIMAL(28,14))) AS DOUBLE)"


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The canonical ANN query vector: embedding of vec_id 0."""
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.where(F.col("vec_id") == 0).first()["embedding"])
