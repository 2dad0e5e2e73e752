"""SQL surface: register the index tables as temp views so users can query
the engine with plain `spark.sql` alongside the Python API.

    register_index_views(spark, index)
    spark.sql("SELECT term, df FROM term_stats ORDER BY df DESC LIMIT 10")

The ``postings`` view is the long rows decoded from the packed table
(``Index.postings``; packed is the only stored form). Plus a convenience
BM25 SQL generator over it (the formula of scoring.py) for exploratory SQL
use; the Python executor, which serves from the packed index, remains the
production path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .build import Index
from .scoring import K1, B


def register_index_views(spark: SparkSession, index: Index, prefix: str = "") -> list[str]:
    """Registers doc_map / postings / term_stats / packed. Returns the view
    names."""
    names = []
    for name, df in (
        ("doc_map", index.doc_map),
        ("postings", index.postings),
        ("term_stats", index.term_stats),
        ("packed", index.packed),
    ):
        vname = f"{prefix}{name}"
        df.createOrReplaceTempView(vname)
        names.append(vname)
    return names


def bm25_sql(terms: list[str], index: Index, k: int = 10, prefix: str = "") -> str:
    """ANSI SQL for BM25 top-k over the registered views."""
    quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    st = index.stats
    return f"""
SELECT p.doc_id,
       sum(ln(({st.n_docs} - ts.df + 0.5) / (ts.df + 0.5) + 1.0)
           * p.tf / (p.tf + {K1} * ({1.0 - B} + {B} * d.doc_len / {st.avgdl}))) AS score
FROM {prefix}postings p
JOIN {prefix}term_stats ts ON ts.term = p.term
JOIN {prefix}doc_map d ON d.doc_id = p.doc_id
WHERE p.term IN ({quoted})
GROUP BY p.doc_id
ORDER BY score DESC, p.doc_id ASC
LIMIT {k}
"""
