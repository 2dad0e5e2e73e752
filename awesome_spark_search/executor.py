"""Query executor: AST -> one packed-index plan -> top-k.

Spark-native rendition of the reference's QueryProcessor dispatch
(ref: src/querying/QueryProcessor.java:139-169, 194-331). Like the
reference, which answers every query type from its one compressed inverted
index (InvertedIndexReader.java:111-162), every plan here reads the packed
index (wand.py) — the long ``postings`` table is a build intermediate only:

* keyword      -> block-max WAND (``wand.wand_topk``)
* phrase       -> per-shard positional decode of the survivors' blocks
* Mixed        -> phrase survivors seed the keyword WAND pass
* prefix tok*  -> expanded from the cached vocabulary, else a term range
* AND/OR/NOT   -> per-shard numpy set algebra (``wand.boolean_docs``)
* LinkTo:ID    -> packed citation index (or raw edges), cogrouped by shard
                  into a Boolean
* spelling     -> Damerau-Levenshtein correction when a term has no postings
* PRF #N       -> two-pass search, +10 most frequent tokens of the generated
                  snippets of the top-N docs at weight 0.25
* scorer="ql"  -> the same shapes through ``wand.ql_topk``

Every query is ONE Spark action: term lookups prune partitions via
term_bucket, per-query term stats arrive by broadcast join.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import queries as Q
from . import wand
from .build import Index, DEFAULT_TERM_BUCKETS, _py_term_bucket
from .scoring import PRF_WEIGHT
from .spell import correct_terms
from .textproc import preprocess_query_terms, tokenize_text

PRF_MOST_FREQUENT_TOKENS = 10  # ref: QueryProcessor.java:44-46


class QueryExecutor:
    def __init__(
        self,
        spark: SparkSession,
        index: Index,
        *,
        citations: DataFrame | None = None,
        packed_citations: DataFrame | None = None,
        source_df: DataFrame | None = None,
        scorer: str = "bm25",
        n_term_buckets: int = DEFAULT_TERM_BUCKETS,
        use_packed: bool = True,
        fielded_index=None,
    ):
        # ``use_packed`` has one legal value: the packed index is the only
        # thing queries are served from
        if not use_packed or index.packed is None:
            raise ValueError(
                "QueryExecutor serves from the packed index only "
                "(use_packed=True, an index with packed postings)"
            )
        if scorer not in ("bm25", "ql"):
            raise ValueError(f"scorer must be 'bm25' or 'ql', not {scorer!r}")
        self.spark = spark
        self.index = index
        # a fields.FieldedPackedIndex built over the SAME corpus: ranked
        # queries then rank zone-weighted under bm25 (the reference's
        # QueryProcessor always applies ContentType weights, ref:
        # DocumentRanker.java:138-167); spelling/vocab/snippets/PRF keep
        # using ``index``
        self.fielded_index = fielded_index
        self.citations = citations
        self.packed_citations = packed_citations
        self.source_df = source_df
        self.scorer = scorer
        self.n_buckets = n_term_buckets
        self._corrections: dict[str, str] = {}
        self.last_corrections: dict[str, str] = {}  # surfaced to formatters
        # driver-side vocabulary for O(1) existence checks (None = too big)
        self._vocab: frozenset[str] | None = None
        self._vocab_checked = False
        self._n_terms: int | None = None
        # past VOCAB_CACHE_MAX: a Bloom filter (built once) replaces the
        # per-query existence semi-filter — see bloom.py for the semantics
        self._bloom = None
        self._bloom_checked = False

    # ---- term access -----------------------------------------------------

    def _tokenize_query(self, text: str) -> list[str]:
        return preprocess_query_terms(text, do_stem=self.index.do_stem)

    def resolve_terms(
        self, terms: list[str], dedupe: bool = True
    ) -> tuple[list[str], list[str], dict[str, str]]:
        """Split exact/prefix terms, applying the active correction map
        (ref: QueryProcessor.java:397-417 corrects tokens with no postings;
        ``search`` discovers corrections up front — cached-vocab O(1) or a
        per-query existence semi-filter). Returns
        (exact, prefixes, corrections_applied).
        ``dedupe=False`` preserves order+multiplicity (phrase semantics)."""
        exact, prefixes = [], []
        for t in terms:
            if t.endswith("*"):
                prefixes.append(t[:-1])
            else:
                exact.append(self._corrections.get(t, t))
        if dedupe:
            seen = set()
            exact = [t for t in exact if not (t in seen or seen.add(t))]
        return exact, prefixes, dict(self._corrections)

    VOCAB_CACHE_MAX = 1_000_000  # driver-side dictionary cutoff (~60MB)

    USE_VOCAB_BLOOM = True  # huge-vocab existence via a one-time Bloom build

    def _get_vocab(self) -> frozenset[str] | None:
        """Driver-cached term dictionary when it is small enough; the
        existence check then costs zero Spark actions per query. For huge
        vocabularies (10^8-term code corpora) this returns None and the
        existence check uses a Bloom filter built ONCE per index
        (``_get_bloom``) — still zero per-query actions; with the Bloom
        disabled it falls back to a per-query isin semi-filter."""
        if not self._vocab_checked:
            self._vocab_checked = True
            if self.index.stats.n_docs:
                self._n_terms = self.index.term_stats.count()
                if self._n_terms <= self.VOCAB_CACHE_MAX:
                    self._vocab = frozenset(
                        r["term"]
                        for r in self.index.term_stats.select("term").collect()
                    )
        return self._vocab

    def _get_bloom(self):
        """One-time md5 Bloom filter over the dictionary for vocabularies
        too big for the exact driver cache. No false negatives: typo'd
        tokens still always enter the correction job; a false positive
        (~2^-11) only suppresses one correction, never invents one
        (bloom.py has the full argument + the 100 TB build shape)."""
        if not self._bloom_checked:
            self._bloom_checked = True
            if self.USE_VOCAB_BLOOM and self._n_terms:
                from .bloom import build_term_bloom

                self._bloom = build_term_bloom(self.index.term_stats, self._n_terms)
        return self._bloom

    def _find_corrections(self, terms: list[str]) -> dict[str, str]:
        """For exact terms absent from the dictionary, find the best
        Damerau-Levenshtein correction (ref: SpellingCorrector.java:38-48)."""
        exact = sorted({t for t in terms if not t.endswith("*")})
        if not exact:
            return {}
        vocab = self._get_vocab()
        if vocab is not None:
            present = {t for t in exact if t in vocab}
        elif (bloom := self._get_bloom()) is not None:
            present = {t for t in exact if t in bloom}
        else:
            buckets = sorted({_py_term_bucket(t, self.n_buckets) for t in exact})
            present = {
                r["term"]
                for r in self.index.term_stats
                .filter(F.col("term_bucket").isin(buckets))
                .filter(F.col("term").isin(exact))
                .select("term").collect()
            }
        missing = [t for t in exact if t not in present]
        if not missing:
            return {}
        # ONE correction job regardless of typo count (batched dictionary
        # scan + pair-distance pass; ref corrects all tokens in one query
        # pass, QueryProcessor.java:397-417)
        return correct_terms(missing, self.index.term_stats)

    # ---- query specs ------------------------------------------------------

    PREFIX_EXPAND_MAX = 1000

    def _expand_prefixes(self, prefixes: list[str]) -> tuple[list[str], list[str]]:
        """Split prefix terms into (terms expanded from the cached
        dictionary, prefixes left as term ranges). A prefix stays a range
        when there is no cached vocab or it matches more than
        PREFIX_EXPAND_MAX terms; the packed plans then select every term in
        [p, p + U+FFFF) (``wand.term_rows``)."""
        vocab = self._get_vocab() if prefixes else None
        expanded: list[str] = []
        ranges: list[str] = []
        for p in prefixes:
            matching = None if vocab is None else sorted(t for t in vocab if t.startswith(p))
            if matching is None or len(matching) > self.PREFIX_EXPAND_MAX:
                ranges.append(p)
            else:
                expanded.extend(matching)
        return expanded, ranges

    def _keyword_terms(self, terms: list[str]) -> tuple[list[str], tuple[str, ...]]:
        """Keyword bag -> (exact terms, corrected + vocab-expanded; prefix
        ranges)."""
        exact, prefixes, _ = self.resolve_terms(terms)
        expanded, ranges = self._expand_prefixes(prefixes)
        return exact + expanded, tuple(ranges)

    def _ranked_spec(self, ast) -> wand.QuerySpec:
        """Keyword / Phrase / Mixed AST -> the kernels' QuerySpec. Phrase
        terms keep order and multiplicity; a prefix inside a phrase is
        dropped (the parser keeps it as a token, phrases match exact terms)."""
        if isinstance(ast, Q.Keyword):
            return wand.QuerySpec([], *self._keyword_terms(ast.terms))
        if isinstance(ast, Q.Phrase):
            return wand.QuerySpec(self.resolve_terms(ast.terms, dedupe=False)[0], [])
        ph_terms = self.resolve_terms(ast.phrase.terms, dedupe=False)[0]
        return wand.QuerySpec(ph_terms, *self._keyword_terms(ast.keyword.terms))

    def _bool_spec(self, ast, links: list):
        """Boolean AST -> nested spec for wand.boolean_docs. Keyword leaves
        become ("terms", exact[, prefix ranges]); LinkTo leaves become
        ("link", target) and append their (target, doc_id) rows to
        ``links``. The parser never puts a phrase inside a Boolean."""
        if isinstance(ast, Q.Boolean):
            return (
                ast.op.lower(),
                self._bool_spec(ast.left, links),
                self._bool_spec(ast.right, links),
            )
        if isinstance(ast, Q.LinkTo):
            links.append(
                self._linkto_docs(ast).select(
                    F.lit(ast.doc_id).cast("long").alias("target"), "doc_id"
                )
            )
            return ("link", ast.doc_id)
        terms, ranges = self._keyword_terms(ast.terms)
        return ("terms", terms, ranges) if ranges else ("terms", terms)

    def _linkto_docs(self, ast: Q.LinkTo) -> DataFrame:
        """LinkTo serves off the PACKED citation index when present
        (delta+VByte citing lists, ref: CitationIndexReader.java:61-112 — the
        reference's serving path IS the compressed index): the dst filter
        prunes to the target's few rows before any decode. Plain edge rows
        are the fallback."""
        if self.packed_citations is not None:
            from .pagerank import citations_of_packed

            return citations_of_packed(self.packed_citations, ast.doc_id)
        if self.citations is None:
            raise ValueError("LinkTo query requires a citations DataFrame")
        return self.citations.filter(F.col("dst") == ast.doc_id).select(
            F.col("src").alias("doc_id")
        )

    RESULT_SCHEMA = "doc_id long, score double"

    def _localize(self, rows) -> DataFrame:
        """k collected rows -> a local DataFrame via the Arrow/pandas path.

        createDataFrame(list) parallelizes into defaultParallelism (32)
        slices — a 32-task job costing ~0.5 s per query just to re-wrap 10
        rows; the Arrow conversion is one batch, ~15x faster (measured).
        score uses the NULLABLE Float64 pandas dtype so Boolean/LinkTo
        queries' NULL scores stay NULL (a float64 NaN would NOT equal the
        oracle's NULL). The trailing nan->NULL projection makes that hold
        under ANY caller session config: with
        spark.sql.execution.arrow.pyspark.enabled=false (the Spark default
        — the external driver's session is not ours to configure) the
        Float64 NA lands as NaN, which the when() folds back to NULL; real
        scores are finite BM25/QL sums, never NaN."""
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": pd.array([r["doc_id"] for r in rows], dtype="int64"),
                "score": pd.array([r["score"] for r in rows], dtype="Float64"),
            }
        )
        df = self.spark.createDataFrame(pdf, self.RESULT_SCHEMA)
        return df.select(
            "doc_id",
            F.when(F.isnan("score"), F.lit(None).cast("double"))
            .otherwise(F.col("score"))
            .alias("score"),
        )

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Full pipeline. Returns (doc_id, score) for ranked query types,
        (doc_id, score=NULL recency order) for Boolean/LinkTo
        (ref: QueryProcessor.java:110-127).

        Reference semantics at ANY vocabulary size: every token without
        postings is corrected, even when other tokens match
        (ref: QueryProcessor.java:397-417). With the cached dictionary the
        existence check is O(1) on the driver and the happy path stays ONE
        Spark action; past ``VOCAB_CACHE_MAX`` a Bloom filter built once
        per index keeps it at ONE action per query too (no false negatives
        on membership, so a wrong correction is never invented; a false
        positive (~2^-11/absent term) may rarely suppress one correction —
        see bloom.py; the cached-vocab and semi-filter paths are exact).
        Only with
        ``USE_VOCAB_BLOOM=False`` does it cost a per-query ``isin``
        semi-filter of the (tiny) query-term list against term_stats.
        Applied corrections are exposed as ``last_corrections``. The returned
        DataFrame is localized (k rows)."""
        pq = Q.parse(query, tokenize=self._tokenize_query)
        exact_q = [t for t in Q.collect_terms(pq.ast) if not t.endswith("*")]
        # _find_corrections checks existence against the cached vocab or the
        # once-built Bloom filter (zero per-query actions either way)
        self._corrections = self._find_corrections(exact_q) if exact_q else {}
        self.last_corrections = dict(self._corrections)
        return self._localize(self._run_once(pq, k))

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Batched serving: the whole workload in ONE Spark action.

        ``queries`` maps query_id -> query text; every ranked one-pass query
        type batches — keyword bags, exact phrases, and Mixed
        ('"phrase" extra words') queries, each running its single-query
        kernel per shard over ONE shared scan. Boolean/LinkTo (unranked) and
        PRF (inherently two-pass) go through ``search``. Spelling
        corrections for the ENTIRE batch resolve exactly like the
        single-query path and still cost zero extra actions on the happy
        path (existence via the cached vocab / once-built Bloom; one batched
        ``correct_terms`` job only when typos exist). Returns (query_id,
        rank, doc_id, score) — collecting it runs one job: a single
        bucket-pruned packed scan of the union of all terms, per-shard
        per-query kernels, one window for the global per-query top-k.
        Rank+score identical to calling ``search`` per query
        (tests/test_batch.py). Under ``scorer="ql"`` the batch serves
        keyword bags through ``wand.ql_topk_many``; QL phrase and Mixed
        queries go through ``search``."""
        batchable = (
            (Q.Keyword,) if self.scorer == "ql" else (Q.Keyword, Q.Phrase, Q.Mixed)
        )
        parsed: dict[str, Q.ParsedQuery] = {}
        all_terms: list[str] = []
        for qid, text in queries.items():
            pq = Q.parse(text, tokenize=self._tokenize_query)
            if pq.prf > 0 or not isinstance(pq.ast, batchable):
                raise ValueError(
                    f"search_many handles ranked one-pass queries only "
                    f"(keyword/phrase/mixed; keyword only under ql); "
                    f"{text!r} parsed to "
                    f"{'PRF' if pq.prf else type(pq.ast).__name__}"
                )
            parsed[qid] = pq
            all_terms.extend(Q.collect_terms(pq.ast))
        exact_q = [t for t in all_terms if not t.endswith("*")]
        self._corrections = self._find_corrections(exact_q) if exact_q else {}
        self.last_corrections = dict(self._corrections)

        specs: dict[str, tuple[list[str], list[str]]] = {}
        for qid, pq in parsed.items():
            spec = self._ranked_spec(pq.ast)
            if spec.prefixes:
                raise ValueError(
                    f"batch prefix term in {queries[qid]!r} is not "
                    "dictionary-expandable (no cached vocab or explosive "
                    "prefix) — run it through search()"
                )
            specs[qid] = (spec.phrase, spec.keywords)
        if self.scorer == "ql":
            return wand.ql_topk_many(
                self.spark, self.index,
                {qid: kw for qid, (_, kw) in specs.items()}, k=k,
                n_term_buckets=self.n_buckets,
            )
        if self.fielded_index is not None:
            # the fielded invariant holds for batches too: a fielded
            # executor never silently ranks unfielded — every query in the
            # batch scores zone-weighted off the packed fielded index
            from .fields import fielded_batch_topk

            return fielded_batch_topk(
                self.spark, self.fielded_index, specs, k=k,
                n_term_buckets=self.n_buckets,
            )
        return wand.batch_topk(
            self.spark, self.index, specs, k=k,
            n_term_buckets=self.n_buckets,
        )

    def _run_once(self, pq: Q.ParsedQuery, k: int) -> list:
        ast = pq.ast
        if isinstance(ast, Q.LinkTo):
            return (
                self._linkto_docs(ast)
                .withColumn("score", F.lit(None).cast("double"))
                .orderBy(F.col("doc_id").desc())
                .limit(k)
                .collect()
            )
        if isinstance(ast, Q.Boolean):
            links: list[DataFrame] = []
            spec = self._bool_spec(ast, links)
            return wand.boolean_docs(
                self.spark, self.index, spec, k=k, n_term_buckets=self.n_buckets,
                links=reduce(DataFrame.unionByName, links) if links else None,
            ).collect()
        spec = self._ranked_spec(ast)
        top = self._rank(spec, k)
        if pq.prf == 0:
            return top
        # two-pass pseudo-relevance feedback: pass 2 adds the expansion
        # terms as keywords at 0.25 (ref: DocumentRanker.java:175-185).
        # _prf_terms filters against the RAW query tokens, so an expansion
        # term can coincide with a corrected or prefix-matched base keyword;
        # it then scores at 1.0 + 0.25
        prf_terms = self._prf_terms(pq, top, pq.prf)
        if not prf_terms:
            return top
        pq.prf_terms = prf_terms
        weights = {
            t: (1.0 + PRF_WEIGHT) if spec.is_keyword(t) else PRF_WEIGHT
            for t in prf_terms
        }
        keywords = spec.keywords + [t for t in prf_terms if not spec.is_keyword(t)]
        return self._rank(spec._replace(keywords=keywords, weights=weights), k)

    def _rank(self, spec: wand.QuerySpec, k: int) -> list:
        """One ranked plan for ``spec``: QL/JM under scorer="ql"; under bm25
        zone-weighted on a fielded executor (EVERY ranked query type, like
        the reference's DocumentRanker.weightDocument, ref:
        DocumentRanker.java:138-167 — never a silent unfielded fallback),
        else plain block-max WAND, seeded by phrase survivors when the spec
        has a phrase."""
        args = (spec.phrase, spec.keywords) if spec.phrase else (spec.keywords,)
        if self.scorer == "ql":
            df = wand.ql_topk(
                self.spark, self.index, spec.keywords, k, self.n_buckets,
                phrase_terms=spec.phrase, prefixes=spec.prefixes,
                weights=spec.weights,
            )
        elif self.fielded_index is not None:
            from .fields import fielded_mixed_topk, fielded_wand_topk

            fn = fielded_mixed_topk if spec.phrase else fielded_wand_topk
            df = fn(
                self.spark, self.fielded_index, *args, k, self.n_buckets,
                spec.weights, spec.prefixes,
            )
        else:
            fn = wand.mixed_topk if spec.phrase else wand.wand_topk
            df = fn(
                self.spark, self.index, *args, k, self.n_buckets,
                spec.weights, spec.prefixes,
            )
        return df.collect()

    def _prf_terms(self, pq: Q.ParsedQuery, top_rows: list, depth: int) -> list[str]:
        """Pseudo-relevance feedback: most frequent new tokens of the
        GENERATED SNIPPETS of the top-N docs, concatenated in rank order
        (ref: QueryProcessor.java:427-438 — extendPrfQuery feeds each top
        document through snippetGenerator.generate and tokenizes the joined
        snippets, NOT the full contents). Driver-side: N docs, k snippets.

        Tie-break: (-count, term) — the reference's HashMap + comparator
        ordering is JVM-iteration-dependent, so the rebuild pins the
        deterministic choice (highest count first, then term ASC; the
        reference's MapValueComparator.natural() ascending sort appears to be
        a bug against its own 'most frequent' docstring).

        Second deliberate deviation (filter order): base query terms are
        removed BEFORE taking the top-10 expansion tokens, so the expansion
        is always 10 NEW terms when available. The reference
        (QueryProcessor.extendPrfQuery) limits first and filters after,
        expanding by fewer than 10 whenever query terms rank in the snippet
        top-10 (the common case). The DuckDB oracle (prf_search) encodes the
        filter-then-limit choice — keep both sides in sync if changing."""
        if self.source_df is None:
            return []
        top_ids = [r["doc_id"] for r in top_rows[:depth]]
        if not top_ids:
            return []
        from .snippets import generate_snippet

        contents = {
            r["doc_id"]: r["content"]
            for r in self.source_df.filter(F.col("doc_id").isin(top_ids))
            .select("doc_id", "content").collect()
        }
        base = set(Q.collect_terms(pq.ast))
        query_terms = sorted(
            {self._corrections.get(t, t) for t in base if not t.endswith("*")}
        )
        concatenated = " ".join(
            generate_snippet(
                contents.get(doc_id, ""), query_terms, do_stem=self.index.do_stem
            )
            for doc_id in top_ids
        )
        _, pairs = tokenize_text(concatenated, do_stem=self.index.do_stem)
        counter: Counter[str] = Counter(t for t, _ in pairs)
        ranked = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))
        return [t for t, _ in ranked if t not in base][:PRF_MOST_FREQUENT_TOKENS]
