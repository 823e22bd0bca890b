"""BM25 scoring as pure Column algebra (no UDF in the hot scoring path).

Formula (Robertson/Okapi, the one mandated by the build target):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d, q) = sum over unique t in q of
                  idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

with k1 = 1.2, b = 0.75. Query terms are de-duplicated (set semantics).
The idf has three forms that must stay in step: ``bm25_idf`` (Python
float, the driver-side form every index query path uses), ``idf_col``
(Spark Column) and ``idf_sql`` (SQL text for the oracles).
Total order for top-k: (score desc, doc_id asc) — the reference's
``ORDER BY similarity DESC`` (smse_backend/services/search.py:107) is not a
total order; rank-identity vs any oracle requires the doc_id tie-break.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from smse_backend_spark import B, K1


def bm25_idf(n_docs: float, df: float) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def idf_col(df_count: Column, n_docs: Column | float) -> Column:
    n = F.lit(float(n_docs)) if isinstance(n_docs, (int, float)) else n_docs
    return F.log(F.lit(1.0) + (n - df_count + F.lit(0.5)) / (df_count + F.lit(0.5)))


def bm25_term_score_col(tf: Column, idf: Column, doc_len: Column, avgdl: Column | float) -> Column:
    a = F.lit(float(avgdl)) if isinstance(avgdl, (int, float)) else avgdl
    tf_d = tf.cast("double")
    denom = tf_d + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * doc_len.cast("double") / a)
    return idf * tf_d * F.lit(K1 + 1.0) / denom


def idf_sql(df_expr: str, n_expr: str) -> str:
    """Same idf as ANSI/DuckDB SQL text (for oracle parity)."""
    return f"ln(1.0 + ({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))"


def bm25_term_score_sql(tf_expr: str, idf_expr: str, dl_expr: str, avgdl_expr: str) -> str:
    return (
        f"{idf_expr} * {tf_expr} * {K1 + 1.0} / "
        f"({tf_expr} + {K1} * ({1.0 - B} + {B} * {dl_expr} / {avgdl_expr}))"
    )
