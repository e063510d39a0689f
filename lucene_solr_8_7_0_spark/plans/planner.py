"""Physical planning: rewritten Query tree -> CompiledQuery with bound
BM25 scorers.

The analog of Weight creation (IndexSearcher.createWeight, TermQuery
TermWeight:60-75): collection + term statistics are bound ONCE on the
driver, so every segment kernel scores with identical weights — this
is what makes scores independent of partitioning/cluster size.
"""

from __future__ import annotations

import numpy as np

from ..functions.bm25 import BM25Scorer, avg_field_length, idf
from ..functions.wand import CompiledQuery, ScoringClause
from .queries import (
    BooleanQuery,
    DisjunctionMaxQuery,
    FieldTermQuery,
    LatLonDistanceQuery,
    LatLonPolygonQuery,
    FunctionRangeQuery,
    FieldExistsQuery,
    FieldRangeQuery,
    IntervalQuery,
    MultiPhraseQuery,
    MultiTermUnionQuery,
    SpanContainingQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanPositionRangeQuery,
    SpanWithinQuery,
    SynonymQuery,
    BoostQuery,
    ConstantScoreQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    Occur,
    PhraseQuery,
    MultiDimPointRangeQuery,
    PointRangeQuery,
    Query,
    TermQuery,
)


class CollectionStats:
    """Collection statistics + the bound Similarity.

    ``similarity`` selects the scoring model per search (the
    IndexSearcher.setSimilarity surface): "bm25" (BM25Similarity,
    parameterized by k1/b) or "classic" (ClassicSimilarity /
    TFIDFSimilarity).  Both are bound once on the driver, so weights
    are identical in every segment kernel."""

    def __init__(self, num_docs: int, doc_count: int, sum_ttf: int,
                 k1: float, b: float, similarity: str = "bm25"):
        if similarity.startswith("perfield:"):
            # PerFieldSimilarityWrapper.get(field) resolved ONCE at
            # weight-binding time — "content" is the single scored
            # postings field (PerFieldSimilarityWrapper.java:28-62)
            from ..functions.sweetspot import resolve_per_field

            similarity = resolve_per_field(similarity, "content")
        self.num_docs = num_docs
        self.doc_count = max(doc_count, 1)
        self.sum_ttf = sum_ttf
        self.k1 = k1
        self.b = b
        self.similarity = similarity
        self.avgdl = avg_field_length(sum_ttf, self.doc_count)
        if not self.avgdl > 0:  # empty index: avoid 0-division in the
            self.avgdl = np.float32(1.0)  # norm cache (nothing scores)

    def with_similarity(self, similarity: str | None) -> "CollectionStats":
        if similarity is None or similarity == self.similarity:
            return self
        return CollectionStats(
            self.num_docs, self.doc_count, self.sum_ttf,
            self.k1, self.b, similarity,
        )

    def leaf_idf(self, df: int) -> np.float32:
        """Per-term idf under the bound similarity (BM25Similarity.idf
        vs ClassicSimilarity.idf); phrase/multiphrase idfs SUM these
        per-term values in both idf-based models
        (idfExplain(termStats[]))."""
        if self.similarity == "classic" or self.similarity.startswith(
                "sweetspot"):
            # SweetSpot extends ClassicSimilarity, so it shares the
            # classic idf (SweetSpotSimilarity.java:39)
            from ..functions.tfidf import classic_idf

            return classic_idf(df, self.doc_count)
        return idf(df, self.doc_count)

    def scorer(self, boost: float, idf_value: np.float32):
        """Bound SimScorer from a precomputed idf (the idf-family
        models)."""
        if self.similarity == "classic":
            from ..functions.tfidf import TFIDFScorer

            return TFIDFScorer.create(boost, idf_value)
        if self.similarity.startswith("sweetspot"):
            from ..functions.sweetspot import make_sweetspot_scorer

            return make_sweetspot_scorer(self.similarity, boost, idf_value)
        return BM25Scorer.create(boost, self.k1, self.b, idf_value, self.avgdl)

    def term_scorer(self, boost: float, df: int, ttf: int):
        """Bound SimScorer for ONE term (similarity.scorer() in
        TermWeight): BM25/classic consume (df -> idf); LMDirichlet
        consumes the collection language model (ttf, sum_ttf);
        "boolean" scores the bare boost (BooleanSimilarity)."""
        if self.similarity == "boolean":
            from ..functions.bm25 import BooleanSimScorer

            return BooleanSimScorer.create(boost)
        if self.similarity in ("lmdirichlet", "lmjelinekmercer"):
            from ..functions.lm import make_lm_scorer

            return make_lm_scorer(self.similarity, boost, ttf, self.sum_ttf)
        from ..functions.dfr import is_similarity_base, make_sb_scorer

        if is_similarity_base(self.similarity):
            return make_sb_scorer(
                self.similarity, boost, df, ttf, self.doc_count, self.sum_ttf
            )
        return self.scorer(boost, self.leaf_idf(df))

    def phrase_scorer(self, boost: float, stats_list: list):
        """Bound SimScorer for a phrase/multi-term clause evaluated at
        the PHRASE frequency.  idf-family models sum per-term idfs into
        one scorer (BM25Similarity.idfExplain(termStats[]));
        SimilarityBase models sum per-term scorers (MultiSimScorer,
        SimilarityBase.java:209-232)."""
        if self.similarity == "boolean":
            from ..functions.bm25 import BooleanSimScorer

            return BooleanSimScorer.create(boost)
        if self.similarity in ("lmdirichlet", "lmjelinekmercer"):
            from ..functions.lm import SumScorer, make_lm_scorer

            return SumScorer(tuple(
                make_lm_scorer(self.similarity, boost, ttf, self.sum_ttf)
                for _, ttf in stats_list
            ))
        from ..functions.dfr import is_similarity_base

        if is_similarity_base(self.similarity):
            # SimilarityBase models sum per-term scorers at the phrase
            # frequency (MultiSimScorer, SimilarityBase.java:209-232)
            from ..functions.dfr import make_sb_scorer
            from ..functions.lm import SumScorer

            return SumScorer(tuple(
                make_sb_scorer(self.similarity, boost, df, ttf,
                               self.doc_count, self.sum_ttf)
                for df, ttf in stats_list
            ))
        total = 0.0
        for df, _ in stats_list:
            total += float(self.leaf_idf(df))
        return self.scorer(boost, np.float32(total))


def collect_terms(q: Query) -> set[str]:
    if isinstance(q, TermQuery):
        return {q.term}
    if isinstance(q, IntervalQuery):
        from ..functions.intervals import all_terms

        return all_terms(q.source)
    if isinstance(q, SpanNearQuery):
        return set(q.flat_terms())
    if isinstance(q, SpanPositionRangeQuery):
        return collect_terms(q.match) if isinstance(
            q.match, (SpanContainingQuery, SpanWithinQuery)
        ) else set(q.near().flat_terms())
    if isinstance(q, (SpanContainingQuery, SpanWithinQuery)):
        return set(
            q.near().flat_terms()
            + SpanNearQuery((q.little,), slop=0).flat_terms()
        )
    if isinstance(q, SpanOrQuery):
        return set(q.terms)
    if isinstance(q, SpanNotQuery):
        return {q.include, q.exclude}
    if isinstance(q, (PhraseQuery, SynonymQuery, MultiTermUnionQuery)):
        return set(q.terms)
    if isinstance(q, MultiPhraseQuery):
        return {t for p in q.positions for t in p}
    if isinstance(q, DisjunctionMaxQuery):
        out: set[str] = set()
        for sub in q.queries:
            out |= collect_terms(sub)
        return out
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return collect_terms(q.query)
    if isinstance(q, BooleanQuery):
        out: set[str] = set()
        for c in q.clauses:
            out |= collect_terms(c.query)
        return out
    return set()


def collect_interval_multi_terms(q: Query) -> list[Query]:
    """The multi-term queries of every IMultiTerm interval source, in
    deterministic order: the searcher reads the postings of their
    terms, and each segment's kernel expands them against the terms it
    was given (resolve_multiterm)."""
    if isinstance(q, IntervalQuery):
        from ..plans.queries import IMultiTerm

        out: list[Query] = []

        def walk_src(s):
            if isinstance(s, IMultiTerm):
                out.append(s.query)
                return
            if hasattr(s, "sources"):
                for x in s.sources:
                    walk_src(x)
                return
            # two-child filters name their children per role; walk all
            for attr in ("source", "reference", "minuend", "subtrahend",
                         "big", "small"):
                if hasattr(s, attr):
                    walk_src(getattr(s, attr))

        walk_src(q.source)
        return out
    if isinstance(q, DisjunctionMaxQuery):
        return [m for sub in q.queries
                for m in collect_interval_multi_terms(sub)]
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return collect_interval_multi_terms(q.query)
    if isinstance(q, BooleanQuery):
        return [m for c in q.clauses
                for m in collect_interval_multi_terms(c.query)]
    return []


def collect_point_queries(q: Query) -> set:
    """All doc-value filter leaves (PointRangeQuery + keyword
    FieldTermQuery) — each one's doc set is selected from the docmeta
    point index, encoded per segment and applied by the kernel as a
    doc-id mask under the clause's token (see
    IndexSearcher._point_masks)."""
    if isinstance(q, (PointRangeQuery, MultiDimPointRangeQuery,
                      LatLonDistanceQuery, LatLonPolygonQuery,
                      FunctionRangeQuery, FieldTermQuery,
                      FieldExistsQuery, FieldRangeQuery)):
        return {q}
    if isinstance(q, DisjunctionMaxQuery):
        out: set[PointRangeQuery] = set()
        for sub in q.queries:
            out |= collect_point_queries(sub)
        return out
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return collect_point_queries(q.query)
    if isinstance(q, BooleanQuery):
        out = set()
        for c in q.clauses:
            out |= collect_point_queries(c.query)
        return out
    return set()


def has_phrase(q: Query) -> bool:
    if isinstance(q, (PhraseQuery, MultiPhraseQuery, SpanNearQuery,
                      SpanOrQuery, SpanNotQuery, SpanPositionRangeQuery,
                      SpanContainingQuery, SpanWithinQuery,
                      IntervalQuery)):
        return True
    if isinstance(q, DisjunctionMaxQuery):
        return any(has_phrase(sub) for sub in q.queries)
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return has_phrase(q.query)
    if isinstance(q, BooleanQuery):
        return any(has_phrase(c.query) for c in q.clauses)
    return False


def _make_clause(
    q: Query,
    stats: CollectionStats,
    term_stats: dict[str, tuple[int, int]],
    boost: float = 1.0,
    constant: bool = False,
    scoring: bool = True,
) -> ScoringClause:
    if isinstance(q, BoostQuery):
        return _make_clause(q.query, stats, term_stats, boost * q.boost, constant, scoring)
    if isinstance(q, ConstantScoreQuery):
        return _make_clause(q.query, stats, term_stats, boost, True, scoring)
    if isinstance(q, IntervalQuery):
        # per-doc saturation-scored clause (IntervalQuery.java:74;
        # filter/constant modes keep the fixed-score contract)
        from ..functions.intervals import all_terms

        return ScoringClause(
            tuple(sorted(all_terms(q.source))), None,
            const_score=(
                (boost if scoring else 0.0) if (constant or not scoring)
                else None
            ),
            kind="intervals", interval_q=(q.source, q.pivot, boost),
        )
    if isinstance(q, (SpanOrQuery, SpanNotQuery)):
        # standalone or/not span == a 1-clause SpanNear (matches any
        # doc where the clause has at least one surviving occurrence)
        q = SpanNearQuery((q,), slop=0, in_order=True)
    span_range = None
    if isinstance(q, SpanPositionRangeQuery):
        span_range = (q.start, q.end)
        q = q.match if isinstance(
            q.match, (SpanContainingQuery, SpanWithinQuery)
        ) else q.near()
    if isinstance(q, (SpanContainingQuery, SpanWithinQuery)):
        # constant-score containment clause; the range (if any) filters
        # the EMITTED side — big spans for containing, little spans for
        # within (SpanContainingQuery/SpanWithinQuery createWeight wrap
        # ContainSpans around the corresponding source side)
        big = q.near()
        if not big.in_order:
            raise NotImplementedError(
                "span containment requires an ordered big span"
            )
        return ScoringClause(
            big.flat_terms()
            + SpanNearQuery((q.little,), slop=0).flat_terms(),
            None, const_score=(boost if scoring else 0.0),
            slop=big.slop, kind="span_contain", in_order=True,
            span_specs=tuple(big.terms), span_range=span_range,
            little_spec=q.little,
            contain_emit=(
                "big" if isinstance(q, SpanContainingQuery) else "little"
            ),
        )
    if isinstance(q, SpanNearQuery):
        # constant-score span clause (spans are filter-shaped here;
        # see SpanNearQuery docstring for the scoring scope note)
        return ScoringClause(
            q.flat_terms(), None, const_score=(boost if scoring else 0.0),
            slop=q.slop, kind="span_near", in_order=q.in_order,
            span_specs=tuple(q.terms), span_range=span_range,
        )
    if isinstance(q, (PointRangeQuery, MultiDimPointRangeQuery,
                      LatLonDistanceQuery, LatLonPolygonQuery,
                      FunctionRangeQuery, FieldTermQuery,
                      FieldExistsQuery, FieldRangeQuery)):
        # constant-score doc-value clause: PointRangeQuery's weight is
        # a ConstantScoreWeight (PointRangeQuery.java:107); keyword
        # (StringField) equality scores the same way
        return ScoringClause(
            (q.token_key(),), None, const_score=(boost if scoring else 0.0)
        )
    if isinstance(q, MultiTermUnionQuery):
        # constant-score union of the listed terms' postings
        # (MultiTermQueryConstantScoreWrapper — one bitset, scores
        # boost): the synonym union, no term statistics bound
        return ScoringClause(
            q.terms, None, const_score=(boost if scoring else 0.0),
            kind="multiterm",
        )
    if isinstance(q, TermQuery):
        if constant or not scoring:
            return ScoringClause(
                (q.term,), None, const_score=(boost if scoring else 0.0)
            )
        df, ttf = term_stats.get(q.term, (0, 0))
        scorer = stats.term_scorer(boost, df, ttf)
        return ScoringClause((q.term,), scorer)
    if isinstance(q, SynonymQuery):
        if constant or not scoring:
            return ScoringClause(
                tuple(q.terms), None,
                const_score=(boost if scoring else 0.0), kind="synonym",
            )
        # blended pseudo-term stats: df = max sub df (ttf summed but
        # unused by idf) — SynonymQuery.java:233-247
        # blended pseudo-term: df = max sub df, ttf = sum of sub ttfs
        # (SynonymQuery.java:233-247)
        df = max((term_stats.get(t, (0, 0))[0] for t in q.terms), default=0)
        ttf = sum(term_stats.get(t, (0, 0))[1] for t in q.terms)
        scorer = stats.term_scorer(boost, df, ttf)
        return ScoringClause(tuple(q.terms), scorer, kind="synonym")
    if isinstance(q, DisjunctionMaxQuery):
        sub = compile_query(q, stats, term_stats,
                            "filter" if (constant or not scoring) else "top_scores",
                            1.0 if (constant or not scoring) else boost)
        const = (boost if scoring else 0.0) if (constant or not scoring) else None
        if sub is None:
            return ScoringClause(("\x00matchnone",), None, const_score=0.0)
        return ScoringClause((), None, const_score=const, sub=sub)
    if isinstance(q, MultiPhraseQuery):
        # multi-term repeats (a term shared between slots with
        # alternatives) are fully supported: exact matching needs no
        # special casing, sloppy matching groups slots by connected
        # components over shared terms (functions/sloppy.py,
        # SloppyPhraseMatcher.java:405-446 hasMultiTermRpts)
        all_terms = tuple(t for p in q.positions for t in p)
        if constant or not scoring:
            return ScoringClause(
                all_terms, None, const_score=(boost if scoring else 0.0),
                slop=q.slop, kind="multiphrase", alts=q.positions,
                slot_positions=q.slot_positions,
            )
        # idf sums over ALL terms of every position
        # (MultiPhraseQuery.java createWeight getStats)
        scorer = stats.phrase_scorer(
            boost, [term_stats.get(t, (0, 0)) for t in all_terms]
        )
        return ScoringClause(
            all_terms, scorer, slop=q.slop, kind="multiphrase",
            alts=q.positions, slot_positions=q.slot_positions,
        )
    if isinstance(q, PhraseQuery):
        if constant or not scoring:
            return ScoringClause(
                tuple(q.terms), None, const_score=(boost if scoring else 0.0),
                slop=q.slop, slot_positions=q.slot_positions,
            )
        # phrase idf = float32 of the double sum of per-term float32 idfs
        # (BM25Similarity.idfExplain(CollectionStatistics, TermStatistics[]))
        scorer = stats.phrase_scorer(
            boost, [term_stats.get(t, (0, 0)) for t in q.terms]
        )
        return ScoringClause(tuple(q.terms), scorer, slop=q.slop,
                             slot_positions=q.slot_positions)
    if isinstance(q, (BooleanQuery, MatchAllDocsQuery)):
        # nested boolean clause: compiled recursively; evaluated as a
        # sub-scorer whose float32 result feeds the outer accumulator
        if constant or not scoring:
            sub = compile_query(q, stats, term_stats, "filter", 1.0)
            const = boost if scoring else 0.0
        else:
            sub = compile_query(q, stats, term_stats, "top_scores", boost)
            const = None
        if sub is None:  # nested MatchNoDocs: matches nothing
            return ScoringClause(("\x00matchnone",), None, const_score=0.0)
        return ScoringClause((), None, const_score=const, sub=sub)
    raise NotImplementedError(
        f"cannot compile {type(q).__name__} as a leaf clause (after rewrite)"
    )


def compile_query(
    q: Query,
    stats: CollectionStats,
    term_stats: dict[str, tuple[int, int]],
    score_mode: str = "top_scores",
    boost: float = 1.0,
) -> CompiledQuery | None:
    """Returns None for MatchNoDocs.  ``score_mode`` in
    {"top_scores", "complete"}; "filter" drops scoring entirely
    (BooleanQuery.rewrite scores-not-needed, :194-223).

    ``boost`` is threaded down into leaf weights, exactly as
    BooleanWeight passes the boost to its sub-weights."""
    scoring = score_mode != "filter"
    if isinstance(q, MatchNoDocsQuery):
        return None
    if isinstance(q, BoostQuery) and isinstance(q.query, (BooleanQuery, MatchAllDocsQuery)):
        return compile_query(q.query, stats, term_stats, score_mode, boost * q.boost)
    if isinstance(q, MatchAllDocsQuery):
        # MatchAll scores boost * 1.0 (MatchAllDocsQuery createWeight);
        # filter mode keeps the constant-score-1 contract of matches_df
        return CompiledQuery(
            [], [], [], [], 0, match_all=True,
            match_all_score=(boost if scoring else 1.0),
        )
    if isinstance(q, DisjunctionMaxQuery):
        return CompiledQuery(
            [],
            [_make_clause(sub, stats, term_stats, boost=boost, scoring=scoring)
             for sub in q.queries],
            [], [], 1, combine="dismax", tie=q.tie_breaker,
        )
    if isinstance(q, (TermQuery, PhraseQuery, MultiPhraseQuery, SynonymQuery,
                      SpanNearQuery, SpanOrQuery, SpanNotQuery,
                      SpanPositionRangeQuery, SpanContainingQuery,
                      SpanWithinQuery, IntervalQuery,
                      PointRangeQuery, MultiDimPointRangeQuery,
                      LatLonDistanceQuery, LatLonPolygonQuery,
                      FunctionRangeQuery, FieldTermQuery,
                      FieldExistsQuery, FieldRangeQuery,
                      BoostQuery, ConstantScoreQuery)):
        clause = _make_clause(q, stats, term_stats, boost=boost, scoring=scoring)
        return CompiledQuery([clause], [], [], [], 0)
    if isinstance(q, BooleanQuery):
        groups = q.grouped()
        if any(isinstance(x, MatchAllDocsQuery) for x in groups[Occur.MUST] + groups[Occur.FILTER]):
            # MatchAll required clause: candidates = everything
            rest = [x for x in groups[Occur.MUST] + groups[Occur.FILTER]
                    if not isinstance(x, MatchAllDocsQuery)]
            if not rest:
                # MatchAll contributes boost only when it occurs as a
                # scoring MUST clause; a FILTER MatchAll scores 0
                scoring_ma = scoring and any(
                    isinstance(x, MatchAllDocsQuery) for x in groups[Occur.MUST]
                )
                return CompiledQuery(
                    [],
                    [_make_clause(s, stats, term_stats, boost=boost, scoring=scoring) for s in groups[Occur.SHOULD]],
                    [],
                    [_make_clause(n, stats, term_stats, scoring=False) for n in groups[Occur.MUST_NOT]],
                    q.minimum_should_match,
                    match_all=True,
                    match_all_score=(boost if scoring_ma else 0.0),
                )
        return CompiledQuery(
            musts=[_make_clause(m, stats, term_stats, boost=boost, scoring=scoring) for m in groups[Occur.MUST]],
            shoulds=[_make_clause(s, stats, term_stats, boost=boost, scoring=scoring) for s in groups[Occur.SHOULD]],
            filters=[_make_clause(f, stats, term_stats, scoring=False) for f in groups[Occur.FILTER]],
            must_nots=[_make_clause(n, stats, term_stats, scoring=False) for n in groups[Occur.MUST_NOT]],
            msm=q.minimum_should_match,
        )
    raise NotImplementedError(f"cannot compile {type(q).__name__}")
