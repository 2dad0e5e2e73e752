"""Relevance scoring constants and the JVM idf expression.

Primary scorer (north rule): BM25
    score(d) = sum_t idf(t) * tf / (tf + k1*(1 - b + b*dl/avgdl))
    idf(t)   = ln((N - df + 0.5)/(df + 0.5) + 1)     k1=1.2, b=0.75

Secondary scorer (reference fidelity): query-likelihood with Jelinek-Mercer
smoothing, lambda=0.2 (ref: src/querying/ranking/DocumentRanker.java:33,
138-167): score(d) = sum_t log((1-l)*tf/dl + l*cf/C).

Both are evaluated per doc_shard over the packed index (wand.py): idf (BM25,
``idf_col`` over df) or the global cf (QL) is a column of the packed rows
the kernel reads (``wand.term_rows``). When the executor has its
dictionary cached, ``idf_col`` runs in the JVM once per term as the
dictionary is collected and the shard step attaches the value by term;
otherwise it runs over broadcast-joined term_stats rows. It is the same
JVM expression over the same df either way, so scores are bit-identical. Top-k order is
(score DESC, doc_id ASC) — the reference's HashMap iteration order is
nondeterministic (ref: DocumentRanker.java:90-94), so the rebuild pins this
tie-break and the test oracle encodes it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
JM_LAMBDA = 0.2
PRF_WEIGHT = 0.25  # down-weight for PRF-added terms (ref: DocumentRanker.java:38)


def idf_col(df_col, n_docs: int):
    return F.log((F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)) + F.lit(1.0))
