"""Spelling correction: Damerau-Levenshtein over the term dictionary.

Reference semantics (ref: src/querying/spellingcorrection/SpellingCorrector
.java:38-48, MostSimilarTokenProcedure.java:10-15,49-70): candidates are all
indexed terms sharing the misspelled term's **first character**, with absolute
length difference <= 2; keep those with Damerau-Levenshtein distance <= 3
(unit costs, ref: AwesomeSearchEngine.java:190); pick minimum distance, ties
broken by higher collection frequency (the rebuild adds term ASC as a final
deterministic tie-break).

Two shapes, one rule. ``correct_dictionary`` ranks candidates on the
driver over the executor's cached {term: (idf, cf)} dictionary — no Spark
job, like the reference's in-process scan (ref: InvertedIndexReader.java:
73-99). ``correct_terms`` serves dictionaries too big for the driver: the
candidate filter is a codegen'd dictionary scan (first-char + length band);
the distance runs as an Arrow-batched pandas UDF because Spark's builtin
``levenshtein()`` lacks the transposition edit.
"""

from __future__ import annotations

from collections.abc import Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_DISTANCE = 3
MAX_LENGTH_DIFF = 2


def damerau_levenshtein_unrestricted(a: str, b: str) -> int:
    """TRUE (unrestricted) Damerau-Levenshtein, unit costs — allows edits on
    top of a transposition, unlike the OSA variant (classic divergence:
    dl('ca','abc') == 2 vs osa == 3). Published char-index-bookkeeping
    algorithm; the reference implements this variant
    (ref: src/querying/spellingcorrection/DamerauLevenshteinCalculator.java:
    126-152 tracks per-character last-match rows the same way)."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    inf = la + lb
    h = np.full((la + 2, lb + 2), inf, dtype=np.int64)
    for i in range(la + 1):
        h[i + 1][1] = i
    for j in range(lb + 1):
        h[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            i1 = da.get(b[j - 1], 0)
            j1 = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            h[i + 1][j + 1] = min(
                h[i][j] + cost,          # substitute / match
                h[i + 1][j] + 1,         # insert
                h[i][j + 1] + 1,         # delete
                h[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),  # transpose span
            )
        da[a[i - 1]] = i
    return int(h[la + 1][lb + 1])


def damerau_levenshtein(a: str, b: str) -> int:
    """Optimal-string-alignment Damerau-Levenshtein, unit costs. Rows are
    plain Python lists: per-cell numpy scalars cost twice as much."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ai = a[i - 1]
        cur = [i] * (lb + 1)
        for j in range(1, lb + 1):
            bj = b[j - 1]
            d = prev[j - 1] + (ai != bj)
            if prev[j] + 1 < d:
                d = prev[j] + 1
            if cur[j - 1] + 1 < d:
                d = cur[j - 1] + 1
            if i > 1 and j > 1 and ai == b[j - 2] and a[i - 2] == bj and prev2[j - 2] + 1 < d:
                d = prev2[j - 2] + 1
            cur[j] = d
        prev2, prev = prev, cur
    return prev[lb]


def _make_pair_distance_udf(variant: str):
    @F.pandas_udf(T.IntegerType())
    def dist(terms: pd.Series, targets: pd.Series) -> pd.Series:
        from awesome_spark_search import spell

        fn = (
            spell.damerau_levenshtein_unrestricted
            if variant == "dl"
            else spell.damerau_levenshtein
        )
        return pd.Series(
            [fn(t, g) for t, g in zip(terms, targets)], dtype="int32"
        )

    return dist


def correct_terms(
    terms: list[str], term_stats: DataFrame, variant: str = "osa"
) -> dict[str, str]:
    """Best corrections for MANY misspelled terms in ONE Spark job.

    The reference corrects every missing token within one query pass
    (ref: QueryProcessor.java:397-417); running ``correct_term`` per token
    costs one dictionary-scan job each. Batched shape: one dictionary scan
    whose candidate predicate is the OR of every target's (first-char,
    length band) — term_bucket pruning does NOT apply here: the bucket is a
    hash of the *correct* spelling, which is unknowable from the typo, so
    the scan is full-dictionary by necessity (pushed filters still skip most
    row groups via Parquet term min/max stats). Candidates are then crossed
    with the broadcast target list,
    one Arrow-batched pair-distance pass, then
    ``groupBy(target).min(struct(distance, -cf, term))`` — the struct min
    reproduces the (distance ASC, cf DESC, term ASC) tie-break exactly.

    ``variant``: 'osa' (default — matches the DuckDB oracle's
    damerau_levenshtein) or 'dl' (the reference's TRUE unrestricted variant,
    see damerau_levenshtein_unrestricted)."""
    targets = sorted({t for t in terms if t})
    if not targets:
        return {}
    spark = term_stats.sparkSession
    pred = None
    for t in targets:
        cond = (F.substring("term", 1, 1) == t[0]) & (
            F.abs(F.length("term") - len(t)) <= MAX_LENGTH_DIFF
        )
        pred = cond if pred is None else (pred | cond)
    cands = term_stats.filter(pred).select("term", "cf")
    tdf = spark.createDataFrame([(t,) for t in targets], "target string")
    pairs = cands.join(
        F.broadcast(tdf),
        (F.substring(F.col("term"), 1, 1) == F.substring(F.col("target"), 1, 1))
        & (F.abs(F.length("term") - F.length("target")) <= MAX_LENGTH_DIFF),
    )
    dist = _make_pair_distance_udf(variant)
    best = (
        pairs.withColumn("distance", dist(F.col("term"), F.col("target")))
        .filter(F.col("distance") <= MAX_DISTANCE)
        .groupBy("target")
        .agg(
            F.min(
                F.struct(
                    F.col("distance"),
                    (-F.col("cf")).alias("_ncf"),
                    F.col("term"),
                )
            ).alias("_b")
        )
        .select("target", F.col("_b.term").alias("corrected"))
        .collect()
    )
    return {r["target"]: r["corrected"] for r in best}


def correct_dictionary(
    terms: list[str], dictionary: Mapping[str, tuple[float, int]]
) -> dict[str, str]:
    """``correct_terms`` (OSA variant) over an in-memory {term: (idf, cf)}
    dictionary (only cf is read): one pass over it for every target, the same candidate band
    (first character, length within MAX_LENGTH_DIFF), MAX_DISTANCE and the
    (distance, -cf, term) minimum. No Spark job."""
    by_first: dict[str, list[str]] = {}
    for t in sorted({t for t in terms if t}):
        by_first.setdefault(t[0], []).append(t)
    best: dict[str, tuple] = {}
    for term, (_, cf) in dictionary.items():
        for t in by_first.get(term[:1], ()):
            if abs(len(term) - len(t)) <= MAX_LENGTH_DIFF:
                d = damerau_levenshtein(term, t)
                if d <= MAX_DISTANCE and (t not in best or (d, -cf, term) < best[t]):
                    best[t] = (d, -cf, term)
    return {t: b[2] for t, b in best.items()}


def correct_term(
    term: str, term_stats: DataFrame, variant: str = "osa"
) -> str | None:
    """Best correction for a term absent from the index, or None."""
    return correct_terms([term], term_stats, variant=variant).get(term)
