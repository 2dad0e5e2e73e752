"""Query executor: AST -> one packed-index plan -> top-k.

Spark-native rendition of the reference's QueryProcessor dispatch
(ref: src/querying/QueryProcessor.java:139-169, 194-331). Like the
reference, which answers every query type from its one compressed inverted
index (InvertedIndexReader.java:111-162), every plan here reads the packed
index (wand.py), the only stored form of the postings; no plan reads
``Index.postings``, the long rows decoded from it.
A fielded index is the same ``Index`` with several fields: its ranked
queries rank zone-weighted under bm25 (the reference always applies
ContentType weights, ref: DocumentRanker.java:138-167), and Boolean/LinkTo,
spelling and PRF read the same index:

* keyword      -> block-max WAND
* phrase       -> per-shard positional decode of the survivors' blocks
* Mixed        -> phrase survivors seed the keyword WAND pass
* prefix tok*  -> expanded from the cached vocabulary, else a term range
* AND/OR/NOT   -> per-shard numpy set algebra (``wand.boolean_docs``)
* LinkTo:ID    -> packed citation rows joined by shard into a Boolean;
                  a bare LinkTo is the one-leaf Boolean
* spelling     -> Damerau-Levenshtein correction when a term has no postings
* PRF #N       -> two-pass search, +10 most frequent tokens of the generated
                  snippets of the top-N docs at weight 0.25
* scorer="ql"  -> the same shapes through ``wand.ql_topk``

Every query is at most ONE Spark action: term lookups prune partitions via
term_bucket. The driver's cached dictionary (``_get_vocab``, {term: (idf,
cf)}) answers every per-term question — existence, the kernels' idf/cf,
spelling candidates — so a ranked query runs no term_stats job, its plan
is a plain filter of the packed rows, and a typo runs no Spark job; past
``VOCAB_CACHE_MAX`` a Bloom filter answers
existence, term stats arrive by broadcast join and corrections cost one
``correct_terms`` job. ``search`` and ``search_many`` share one front end —
parse, ONE spelling-correction pass, ``wand.QuerySpec``s, one scorer
dispatch (``_plans``) — and every ranked plan comes out of
one builder (``wand._ranked_rows``); a single query ends in a
TakeOrderedAndProject, a batch in a per-query window. On an index with one
doc_shard (``wand._one_shard``) those plans, and Boolean/LinkTo ones, run
on the driver (``wand._run_shards``): the shard step runs in the calling
thread and the ``wand`` entry points return a local frame, which
``search`` returns as it is. Its rows are slices of the dictionary's
driver-side copy of the packed table (``wand.PackedCopy``, collected once
with the dictionary while the index holds at most
``PACKED_COPY_MAX_TOKENS`` tokens), so such a query runs NO Spark job (a
LinkTo leaf collects its citation rows, PRF reads its snippets' sources);
past that bound one Arrow collect of the rows is the query's ONE job.
Corrections travel as values, never as executor state, so concurrent
``search`` calls on one executor are safe — the kernel then runs in the
calling threads.
"""

from __future__ import annotations

import threading
from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import queries as Q
from . import wand
from .build import Index
from .scoring import PRF_WEIGHT, idf_col
from .spell import correct_dictionary, correct_terms
from .textproc import preprocess_query_terms, tokenize_text

PRF_MOST_FREQUENT_TOKENS = 10  # ref: QueryProcessor.java:44-46


def _check_k(k: int) -> None:
    if k < 0:
        raise ValueError(f"k must be >= 0, not {k}")


class QueryExecutor:
    def __init__(
        self,
        spark: SparkSession,
        index: Index,
        *,
        packed_citations: DataFrame | None = None,
        source_df: DataFrame | None = None,
        scorer: str = "bm25",
        use_packed: bool = True,
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
        self.packed_citations = packed_citations
        self.source_df = source_df
        self.scorer = scorer
        # the latest call's corrections, surfaced to formatters (last call
        # wins when calls overlap; each call's own map is a local value)
        self.last_corrections: dict[str, str] = {}
        # driver-side {term: (idf, cf)} dictionary (None = too big), and
        # the plan parts built with it (wand.TermDictionary)
        self._vocab: dict[str, tuple[float, int]] | None = None
        self._dictionary: wand.TermDictionary | None = None
        self._vocab_checked = False
        self._n_terms: int | None = None
        # past VOCAB_CACHE_MAX: a Bloom filter (built once) answers
        # existence — see bloom.py for the semantics
        self._bloom = None
        self._bloom_checked = False
        self._dictionary_lock = threading.Lock()  # one-time vocab/Bloom load

    # ---- term access -----------------------------------------------------

    def _tokenize_query(self, text: str) -> list[str]:
        return preprocess_query_terms(text, do_stem=self.index.do_stem)

    @staticmethod
    def resolve_terms(
        terms: list[str], corrections: dict[str, str], dedupe: bool = True
    ) -> tuple[list[str], list[str]]:
        """Split exact/prefix terms, applying ``corrections`` (ref:
        QueryProcessor.java:397-417 corrects tokens with no postings; the
        front end discovers corrections up front, ``_corrections_for``).
        Returns (exact, prefixes). ``dedupe=False`` preserves
        order+multiplicity (phrase semantics)."""
        exact = [corrections.get(t, t) for t in terms if not t.endswith("*")]
        prefixes = [t[:-1] for t in terms if t.endswith("*")]
        return (list(dict.fromkeys(exact)) if dedupe else exact), prefixes

    # driver-side dictionary cutoff: at 1M terms the {term: (idf, cf)} dict
    # and its tuples take ~87MB beyond the term strings, as (df, cf) did,
    # because equal dfs share one idf float (a float per term: ~111MB; a
    # frozenset: ~34MB; tracemalloc, 1M synthetic Zipf terms)
    VOCAB_CACHE_MAX = 1_000_000
    # driver-side copy cutoff (wand.PackedCopy, one-shard indexes only):
    # the copy holds every posting and position in its packed encoding,
    # 2.6 bytes per indexed token as an Arrow table (2.58 at 5k docs, 0.66M
    # tokens; 2.55 at 20k docs, 2.6M tokens; corpus.generate_pandas), so
    # 50M tokens take ~130MB, and the collect peaks at about twice that
    # while the table is sorted. total_tokens bounds it without a job.
    PACKED_COPY_MAX_TOKENS = 50_000_000

    def _get_vocab(self) -> dict[str, tuple[float, int]] | None:
        """Driver-cached {term: (idf, cf)} dictionary when it is small
        enough, collected once per executor. idf is ``scoring.idf_col``
        evaluated in the JVM over the term's df, in the same collect, so it
        equals the broadcast plan's idf bit for bit; equal dfs share one
        idf float. It answers existence, the ranked plans' idf/cf (with the
        pruned packed frame built here once, ``wand.TermDictionary``) and
        spelling candidates (by cf) with zero Spark actions per query. On a
        one-shard index (``wand._one_shard``) of at most
        ``PACKED_COPY_MAX_TOKENS`` tokens the same load collects the packed
        table into the dictionary's ``wand.PackedCopy`` (one more job, here
        only), from which every plan then takes its rows. For
        huge vocabularies (10^8-term code corpora) this returns None:
        existence uses a Bloom filter built ONCE per index (``_get_bloom``)
        — still zero per-query actions — stats the broadcast join,
        corrections ``correct_terms``."""
        with self._dictionary_lock:
            if not self._vocab_checked:
                n_docs = self.index.stats.n_docs
                if n_docs:
                    self._n_terms = self.index.term_stats.count()
                    if self._n_terms <= self.VOCAB_CACHE_MAX:
                        idf = idf_col(F.col("df"), n_docs).alias("idf")
                        rows = self.index.term_stats.select("term", "df", idf, "cf").collect()
                        idfs: dict[int, float] = {}
                        self._vocab = {
                            r["term"]: (idfs.setdefault(r["df"], r["idf"]), r["cf"])
                            for r in rows
                        }
                        self._dictionary = wand.dictionary(self.index, self._vocab, copy=(
                            wand._one_shard(self.index)
                            and self.index.stats.total_tokens <= self.PACKED_COPY_MAX_TOKENS
                        ))
                self._vocab_checked = True
        return self._vocab

    def _get_bloom(self):
        """One-time md5 Bloom filter over the dictionary for vocabularies
        too big for the exact driver cache. No false negatives: typo'd
        tokens still always enter the correction job; a false positive
        (~2^-11) only suppresses one correction, never invents one
        (bloom.py has the full argument + the 100 TB build shape)."""
        with self._dictionary_lock:
            if not self._bloom_checked:
                if self._n_terms:
                    from .bloom import build_term_bloom

                    self._bloom = build_term_bloom(self.index.term_stats, self._n_terms)
                self._bloom_checked = True
        return self._bloom

    def _find_corrections(self, terms: list[str]) -> dict[str, str]:
        """For exact terms absent from the dictionary, find the best
        Damerau-Levenshtein correction (ref: SpellingCorrector.java:38-48).
        With the cached dictionary both existence and the candidate ranking
        run on the driver (``spell.correct_dictionary``) — zero Spark jobs.
        Past the cache, existence is checked against the once-built Bloom
        filter and the typos cost ONE ``correct_terms`` job; an empty index
        has neither, and every term counts as absent."""
        exact = sorted({t for t in terms if not t.endswith("*")})
        if not exact:
            return {}
        vocab = self._get_vocab()
        known = vocab if vocab is not None else self._get_bloom() or frozenset()
        missing = [t for t in exact if t not in known]
        if not missing:
            return {}
        if vocab is not None:
            return correct_dictionary(missing, vocab)
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

    def _keyword_terms(
        self, terms: list[str], corrections: dict[str, str]
    ) -> tuple[list[str], tuple[str, ...]]:
        """Keyword bag -> (exact terms, corrected + vocab-expanded; prefix
        ranges)."""
        exact, prefixes = self.resolve_terms(terms, corrections)
        expanded, ranges = self._expand_prefixes(prefixes)
        return exact + expanded, tuple(ranges)

    def _ranked_spec(self, ast, corrections: dict[str, str]) -> wand.QuerySpec:
        """Keyword / Phrase / Mixed AST -> the kernels' QuerySpec. Phrase
        terms keep order and multiplicity; a prefix inside a phrase is
        dropped (the parser keeps it as a token, phrases match exact terms)."""
        if isinstance(ast, Q.Keyword):
            return wand.QuerySpec([], *self._keyword_terms(ast.terms, corrections))
        if isinstance(ast, Q.Phrase):
            return wand.QuerySpec(self.resolve_terms(ast.terms, corrections, dedupe=False)[0], [])
        ph_terms = self.resolve_terms(ast.phrase.terms, corrections, dedupe=False)[0]
        return wand.QuerySpec(ph_terms, *self._keyword_terms(ast.keyword.terms, corrections))

    def _bool_spec(self, ast, corrections: dict[str, str], links: list):
        """Boolean AST -> nested spec for wand.boolean_docs. Keyword leaves
        become ("terms", exact[, prefix ranges]); LinkTo leaves become
        ("link", target) and append their (target, doc_id) rows to
        ``links``. The parser never puts a phrase inside a Boolean."""
        if isinstance(ast, Q.Boolean):
            return (
                ast.op.lower(),
                self._bool_spec(ast.left, corrections, links),
                self._bool_spec(ast.right, corrections, links),
            )
        if isinstance(ast, Q.LinkTo):
            links.append(self._linkto_docs(ast))
            return ("link", ast.doc_id)
        terms, ranges = self._keyword_terms(ast.terms, corrections)
        return ("terms", terms, ranges) if ranges else ("terms", terms)

    def _linkto_docs(self, ast: Q.LinkTo) -> DataFrame:
        """A LinkTo leaf's (target, doc_id) rows off the PACKED citation
        index (delta+VByte citing lists, ref: CitationIndexReader.java:
        61-112 — the reference's serving path IS the compressed index): the
        dst filter prunes to the target's few rows before any decode. No
        order: the rows enter ``wand.boolean_docs``' union."""
        if self.packed_citations is None:
            raise ValueError("LinkTo query requires packed_citations")
        from .pagerank import unpack_citations

        return unpack_citations(
            self.packed_citations.filter(F.col("dst") == ast.doc_id)
        ).select(F.col("dst").alias("target"), F.col("src").alias("doc_id"))

    def _localize(self, df: DataFrame) -> DataFrame:
        """A query's k-row result as a local DataFrame, whose collect runs
        no Spark job. A frame that is already local (``isLocal()``: the
        pandas-built result of a driver-path plan) is returned as it is;
        any other is collected once and re-wrapped from pandas
        (``wand._localized``).

        createDataFrame(list) parallelizes into defaultParallelism (32)
        slices — a 32-task job costing ~0.5 s per query just to re-wrap 10
        rows; the Arrow conversion is one batch, ~15x faster (measured).
        score is an object column holding None for Boolean/LinkTo queries'
        NULL scores: it lands as NULL (never NaN, which would NOT equal the
        oracle's NULL) under ANY caller session config, also with
        spark.sql.execution.arrow.pyspark.enabled=false (the Spark default
        — the external driver's session is not ours to configure)."""
        if df.isLocal():
            return df
        import pandas as pd

        rows = df.collect()
        pdf = pd.DataFrame({
            "doc_id": pd.Series([r["doc_id"] for r in rows], dtype="int64"),
            "score": pd.Series([r["score"] for r in rows], dtype="object"),
        })
        return wand._localized(self.spark, pdf, wand.RESULT_SCHEMA)

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Full pipeline. Returns (doc_id, score) for ranked query types,
        (doc_id, score=NULL recency order) for Boolean/LinkTo
        (ref: QueryProcessor.java:110-127).

        Reference semantics at ANY vocabulary size: every token without
        postings is corrected, even when other tokens match
        (ref: QueryProcessor.java:397-417). With the cached dictionary the
        existence check, the term stats and the spelling correction are
        all answered on the driver: ONE Spark action per query, typo or
        not, with no term_stats job in it — and none at all on a one-shard
        index whose packed rows the dictionary holds (``_get_vocab``), LinkTo
        and PRF aside. Past ``VOCAB_CACHE_MAX`` a Bloom
        filter built once per index keeps the happy path at ONE action per
        query too (no false negatives on membership, so a wrong correction
        is never invented; a false positive (~2^-11/absent term) may rarely
        suppress one correction — see bloom.py; the cached-vocab path is
        exact); the action then carries the broadcast stats join, and a
        typo adds one ``correct_terms`` job. The returned DataFrame is
        localized (k rows).

        Thread-safe: concurrent calls on one executor each apply their own
        corrections (passed as values, never stored on the executor). The
        applied map is also exposed as ``last_corrections``, which is
        last-call-wins when calls overlap. ValueError for k < 0; k = 0
        returns no rows."""
        _check_k(k)
        pq = self._parse(query)
        corrections = self._corrections_for([pq])
        return self._localize(self._run_once(pq, corrections, k))

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Batched serving: the whole workload in ONE Spark action.

        ``queries`` maps query_id -> query text; every ranked one-pass query
        type batches — keyword bags, exact phrases, and Mixed
        ('"phrase" extra words') queries, under either scorer and on a
        fielded index — each running its single-query kernel per shard
        over ONE shared scan. Boolean/LinkTo (unranked) and PRF (inherently
        two-pass) go through ``search``. Spelling corrections for the
        ENTIRE batch resolve exactly like the single-query path and still
        cost zero extra actions on the happy path (existence via the cached
        dictionary / once-built Bloom; corrections on the driver with the
        dictionary, else one batched ``correct_terms`` job). Returns
        (query_id, rank, doc_id, score) — one job: a single bucket-pruned
        packed scan of the union of all terms, per-shard per-query
        kernels, one window for the global per-query top-k. It runs when
        the frame is collected, or, over one doc_shard, inside this call
        (the frame comes back localized; from the dictionary's copy of the
        packed rows, with no Spark job). Rank+score identical to calling
        ``search`` per query (tests/test_batch.py). ValueError for k < 0,
        like ``search``."""
        _check_k(k)
        parsed = {qid: self._parse(text) for qid, text in queries.items()}
        for qid, pq in parsed.items():
            if pq.prf > 0 or Q.is_unranked(pq.ast):
                raise ValueError(
                    f"search_many handles ranked one-pass queries only "
                    f"(keyword/phrase/mixed); {queries[qid]!r} parsed to "
                    f"{'PRF' if pq.prf else type(pq.ast).__name__}"
                )
        corrections = self._corrections_for(parsed.values())
        specs = {qid: self._ranked_spec(pq.ast, corrections) for qid, pq in parsed.items()}
        for qid, spec in specs.items():
            if spec.prefixes:
                raise ValueError(
                    f"batch prefix term in {queries[qid]!r} is not "
                    "dictionary-expandable (no cached vocab or explosive "
                    "prefix) — run it through search()"
                )
        _, many = self._plans()
        return many({qid: (s.phrase, s.keywords) for qid, s in specs.items()}, k)

    def _parse(self, text: str) -> Q.ParsedQuery:
        return Q.parse(text, tokenize=self._tokenize_query)

    def _corrections_for(self, parsed) -> dict[str, str]:
        """The front end's ONE spelling pass over every exact term of
        ``parsed`` (one query or a whole batch); also published as
        ``last_corrections``."""
        corrections = self._find_corrections(
            [t for pq in parsed for t in Q.collect_terms(pq.ast)]
        )
        self.last_corrections = dict(corrections)
        return corrections

    def _plans(self):
        """THE scorer dispatch of every ranked plan: this executor's (one
        query, batch) plan pair, both carrying the cached dictionary's
        ``wand.TermDictionary``.
        ``one(spec, k)`` ends in a TakeOrderedAndProject over (doc_id,
        score); ``many({qid: (phrase, keywords)}, k)`` in the per-query
        window — over one doc_shard both tails run in pandas and the
        returned frame is already localized, its rows taken from the
        dictionary's copy when it holds one (wand.py). QL/JM under
        scorer="ql" (one-field indexes only — ``wand._ql`` raises on
        several fields); else block-max WAND, seeded by phrase survivors
        when the spec has a phrase, zone-weighted on every ranked query type
        of a fielded index."""
        self._get_vocab()
        spark, index, stats = self.spark, self.index, self._dictionary
        if self.scorer == "ql":
            return (
                lambda s, k: wand.ql_topk(
                    spark, index, s.keywords, k,
                    phrase_terms=s.phrase, prefixes=s.prefixes, weights=s.weights,
                    stats=stats,
                ),
                lambda pairs, k: wand.ql_topk_many(spark, index, pairs, k, stats=stats),
            )
        return (
            lambda s, k: wand.mixed_topk(
                spark, index, s.phrase, s.keywords, k,
                weights=s.weights, prefixes=s.prefixes, stats=stats,
            ),
            lambda pairs, k: wand.batch_topk(spark, index, pairs, k, stats=stats),
        )

    def _run_once(self, pq: Q.ParsedQuery, corrections: dict[str, str], k: int) -> DataFrame:
        """One query's (doc_id, score) frame: Boolean and LinkTo (the
        one-leaf Boolean) through ``wand.boolean_docs``, ranked types
        through ``_plans``, PRF as two ranked passes."""
        ast = pq.ast
        if Q.is_unranked(ast):
            links: list[DataFrame] = []
            spec = self._bool_spec(ast, corrections, links)
            return wand.boolean_docs(
                self.spark, self.index, spec, k=k,
                links=reduce(DataFrame.unionByName, links) if links else None,
                stats=self._dictionary,
            )
        spec = self._ranked_spec(ast, corrections)
        one, _ = self._plans()
        if pq.prf == 0:
            return one(spec, k)
        first = self._localize(one(spec, k))  # its rows feed pass 2 and may be the answer
        top = first.collect()
        # two-pass pseudo-relevance feedback: pass 2 adds the expansion
        # terms as keywords at 0.25 (ref: DocumentRanker.java:175-185).
        # _prf_terms filters against the RAW query tokens, so an expansion
        # term can coincide with a corrected or prefix-matched base keyword;
        # it then scores at 1.0 + 0.25
        prf_terms = self._prf_terms(pq, corrections, top, pq.prf)
        if not prf_terms:
            return first
        weights = {
            t: (1.0 + PRF_WEIGHT) if spec.is_keyword(t) else PRF_WEIGHT
            for t in prf_terms
        }
        keywords = spec.keywords + [t for t in prf_terms if not spec.is_keyword(t)]
        return one(spec._replace(keywords=keywords, weights=weights), k)

    def _prf_terms(
        self, pq: Q.ParsedQuery, corrections: dict[str, str], top_rows: list, depth: int
    ) -> list[str]:
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
            {corrections.get(t, t) for t in base if not t.endswith("*")}
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
