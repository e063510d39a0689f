"""Logical query rewrites — BooleanQuery.rewrite ported rule-for-rule.

Reference: lucene/core/src/java/org/apache/lucene/search/
BooleanQuery.java:235-460 plus the rewrite fixpoint in
IndexSearcher.java:674-683.  These rewrite OUR IR on the driver (plain
Python, above the segment kernels' postings read).

Multi-term queries (prefix/wildcard/regexp/fuzzy/range/set) rewrite
against the term dictionary (rewrite_multi_term): a constant-score
union of their listed terms, or a scored disjunction for fuzzy.
"""

from __future__ import annotations

import re
from re import _parser as re_parser

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

from ..config import MAX_CLAUSE_COUNT
from .queries import (
    BooleanClause,
    DisjunctionMaxQuery,
    IndexOrDocValuesQuery,
    MultiPhraseQuery,
    MultiTermUnionQuery,
    SynonymQuery,
    BooleanQuery,
    BoostQuery,
    Builder,
    ConstantScoreQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    Occur,
    PhraseQuery,
    MultiDimPointRangeQuery,
    PointRangeQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    TermAutomatonQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)

__all__ = ["rewrite", "rewrite_multi_term", "expand_terms", "term_predicate"]


def rewrite(query: Query, term_lookup=None) -> Query:
    """Fixpoint rewrite (IndexSearcher.java:674-683).

    ``term_lookup(q) -> list[str]`` lists a multi-term query's matching
    terms from the term dictionary; None leaves them un-rewritten.
    """
    for _ in range(16):  # fixpoint with a safety bound
        new = _rewrite_once(query, term_lookup)
        if new == query:
            return new
        query = new
    return query


def _rewrite_once(q: Query, term_lookup) -> Query:
    if isinstance(q, BoostQuery):
        inner = _rewrite_once(q.query, term_lookup)
        if isinstance(inner, BoostQuery):  # collapse nested boosts
            return BoostQuery(inner.query, q.boost * inner.boost)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        if q.boost == 1.0:
            return inner
        return BoostQuery(inner, q.boost)
    if isinstance(q, ConstantScoreQuery):
        inner = _rewrite_once(q.query, term_lookup)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        if isinstance(inner, ConstantScoreQuery):
            return inner
        return ConstantScoreQuery(inner)
    if isinstance(q, (PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery,
                      TermRangeQuery, TermInSetQuery)):
        return rewrite_multi_term(q, term_lookup)
    if isinstance(q, IndexOrDocValuesQuery):
        # unwrap to the point range, flagged dv-eligible: the searcher
        # picks the access path by cost at scorer-supplier time
        # (IndexOrDocValuesQuery.java:105-131)
        inner = _rewrite_once(q.index_query, term_lookup)
        if isinstance(inner, MatchNoDocsQuery):
            return inner
        from dataclasses import replace

        return replace(inner, dv=True)
    if isinstance(q, PointRangeQuery):
        if (
            q.lower is not None
            and q.upper is not None
            and (q.lower > q.upper
                 or (q.lower == q.upper
                     and not (q.include_lower and q.include_upper)))
        ):
            return MatchNoDocsQuery("empty point range")
        return q
    if isinstance(q, MultiDimPointRangeQuery):
        # any provably-empty dimension empties the whole box
        # (CELL_OUTSIDE_QUERY on that dim, PointRangeQuery.java:118)
        for _f, lo, hi, il, iu in q.dims:
            if (lo is not None and hi is not None
                    and (lo > hi or (lo == hi and not (il and iu)))):
                return MatchNoDocsQuery("empty point range dim")
        return q
    if isinstance(q, PhraseQuery):
        if len(q.terms) == 1:  # PhraseQuery.rewrite: single term unwraps
            return TermQuery(q.terms[0])
        return q
    if isinstance(q, TermAutomatonQuery):
        # TermAutomatonQuery.rewrite (TermAutomatonQuery.java:rewrite):
        # singleton -> TermQuery; each accepted label path becomes a
        # phrase with EXPLICIT slot positions (ANY labels skip a
        # position, exactly like the sausage rewrite's matchesAny);
        # several paths combine SHOULD
        path_qs = []
        for path in q.paths():
            terms = tuple(t for t in path if t is not None)
            if not terms:
                raise ValueError("all-ANY path is not supported")
            pos = tuple(i for i, t in enumerate(path) if t is not None)
            if len(terms) == 1 and len(path) == 1:
                path_qs.append(TermQuery(terms[0]))
            else:
                path_qs.append(PhraseQuery(terms, slot_positions=pos))
        if len(path_qs) == 1:
            return _rewrite_once(path_qs[0], term_lookup)
        b = Builder()
        for pq_ in path_qs:
            b.add(_rewrite_once(pq_, term_lookup), Occur.SHOULD)
        return b.build()
    if isinstance(q, MultiPhraseQuery):
        # MultiPhraseQuery.rewrite (:193-206): empty -> MatchNoDocs,
        # one position -> OR over its terms; otherwise unchanged
        if not q.positions:
            return MatchNoDocsQuery("empty MultiPhraseQuery")
        if len(q.positions) == 1:
            b = Builder()
            for t in q.positions[0]:
                b.add(TermQuery(t), Occur.SHOULD)
            return b.build()
        return q
    if isinstance(q, SynonymQuery):
        if len(q.terms) == 1:  # blended stats of one term == the term
            return TermQuery(q.terms[0])
        return q
    if isinstance(q, DisjunctionMaxQuery):
        subs = tuple(_rewrite_once(x, term_lookup) for x in q.queries)
        subs = tuple(x for x in subs if not isinstance(x, MatchNoDocsQuery))
        if not subs:
            return MatchNoDocsQuery("all DisMax disjuncts match nothing")
        if len(subs) == 1:  # DisjunctionMaxQuery.rewrite single unwrap
            return subs[0]
        return DisjunctionMaxQuery(subs, q.tie_breaker)
    if isinstance(q, BooleanQuery):
        return _rewrite_boolean(q, term_lookup)
    return q


def _rewrite_boolean(q: BooleanQuery, term_lookup) -> Query:
    # recurse into children first
    clauses = [
        BooleanClause(c.occur, _rewrite_once(c.query, term_lookup))
        for c in q.clauses
    ]
    msm = q.minimum_should_match

    # empty BQ -> MatchNoDocs (BooleanQuery.java:236-239)
    if not clauses:
        return MatchNoDocsQuery("empty BooleanQuery")

    # 1-clause MUST/FILTER/SHOULD unwrap (:241-261); FILTER keeps
    # constant-score semantics
    if len(clauses) == 1 and msm <= 1:
        c = clauses[0]
        if c.occur == Occur.MUST or (c.occur == Occur.SHOULD and msm <= 1):
            return c.query
        if c.occur == Occur.FILTER:
            return ConstantScoreQuery(c.query) if not isinstance(
                c.query, ConstantScoreQuery
            ) else c.query
        # single MUST_NOT matches nothing (no positive clause)
        if c.occur == Occur.MUST_NOT:
            return MatchNoDocsQuery("pure negation")

    groups = {o: [] for o in Occur}
    for c in clauses:
        groups[c.occur].append(c.query)

    # dedup FILTER & MUST_NOT clause sets (:285-304)
    groups[Occur.FILTER] = _dedup(groups[Occur.FILTER])
    groups[Occur.MUST_NOT] = _dedup(groups[Occur.MUST_NOT])

    # MUST ∩ MUST_NOT ≠ ∅ -> MatchNoDocs; MUST_NOT MatchAll -> MatchNoDocs (:306-316)
    pos = set(map(_key, groups[Occur.MUST] + groups[Occur.FILTER]))
    for n in groups[Occur.MUST_NOT]:
        if _key(n) in pos:
            return MatchNoDocsQuery("FILTER or MUST clause also in MUST_NOT")
        if isinstance(n, MatchAllDocsQuery):
            return MatchNoDocsQuery("MUST_NOT clause is MatchAllDocsQuery")

    # remove FILTER clauses already required by MUST; drop MatchAll FILTER
    # when other required clauses exist (:318-339)
    must_keys = set(map(_key, groups[Occur.MUST]))
    filters = [f for f in groups[Occur.FILTER] if _key(f) not in must_keys]
    if len(groups[Occur.MUST]) + len(filters) > 1 or groups[Occur.MUST]:
        filters = [f for f in filters if not isinstance(f, MatchAllDocsQuery)] or (
            filters if not groups[Occur.MUST] else []
        )
    groups = dict(groups)
    groups[Occur.FILTER] = filters

    # FILTER ∩ SHOULD -> MUST (scoring preserved) when msm == 0 (:341-367)
    if msm == 0 and groups[Occur.SHOULD] and groups[Occur.FILTER]:
        should_keys = set(map(_key, groups[Occur.SHOULD]))
        promoted = [f for f in groups[Occur.FILTER] if _key(f) in should_keys]
        if promoted:
            pk = set(map(_key, promoted))
            groups[Occur.FILTER] = [f for f in groups[Occur.FILTER] if _key(f) not in pk]
            groups[Occur.MUST] = groups[Occur.MUST] + [
                s for s in groups[Occur.SHOULD] if _key(s) in pk
            ]
            groups[Occur.SHOULD] = [
                s for s in groups[Occur.SHOULD] if _key(s) not in pk
            ]

    # dedup SHOULD / MUST summing boosts (:369-430).  SHOULD merging
    # only applies when minimumNumberShouldMatch <= 1: with msm >= 2 a
    # duplicated SHOULD clause counts twice toward msm, so merging
    # [a, a, b] to [a^2, b] would wrongly exclude docs matching only
    # 'a' (BooleanQuery.java:383-386 guards on the same condition).
    if msm <= 1:
        groups[Occur.SHOULD] = _dedup_sum_boosts(groups[Occur.SHOULD])
    groups[Occur.MUST] = _dedup_sum_boosts(groups[Occur.MUST])

    # drop MatchNoDocs SHOULD clauses; a required MatchNoDocs kills the query
    for o in (Occur.MUST, Occur.FILTER):
        if any(isinstance(x, MatchNoDocsQuery) for x in groups[o]):
            return MatchNoDocsQuery("required clause matches nothing")
    groups[Occur.SHOULD] = [
        s for s in groups[Occur.SHOULD] if not isinstance(s, MatchNoDocsQuery)
    ]
    groups[Occur.MUST_NOT] = [
        n for n in groups[Occur.MUST_NOT] if not isinstance(n, MatchNoDocsQuery)
    ]

    # SHOULD count below minimumShouldMatch -> nothing can match
    has_required = bool(groups[Occur.MUST] or groups[Occur.FILTER])
    effective_msm = max(msm, 0 if has_required else 1)
    if len(groups[Occur.SHOULD]) < effective_msm and (
        msm > 0 or not has_required
    ):
        if len(groups[Occur.SHOULD]) == 0 and has_required and msm == 0:
            pass
        elif len(groups[Occur.SHOULD]) < effective_msm:
            return MatchNoDocsQuery("fewer SHOULD clauses than minimumShouldMatch")

    b = Builder()
    for o in (Occur.MUST, Occur.FILTER, Occur.SHOULD, Occur.MUST_NOT):
        for sub in groups[o]:
            b.add(sub, o)
    b.set_minimum_number_should_match(msm)
    out = b.build()
    if not out.clauses:
        return MatchNoDocsQuery("no clauses left after rewrite")
    if len(out.clauses) == 1 and msm <= 1:
        c = out.clauses[0]
        if c.occur in (Occur.MUST, Occur.SHOULD):
            return c.query
        if c.occur == Occur.FILTER:
            return ConstantScoreQuery(c.query)
        return MatchNoDocsQuery("pure negation")
    return out


def _key(q: Query):
    return q  # frozen dataclasses hash/compare structurally


def _dedup(qs: list[Query]) -> list[Query]:
    seen, out = set(), []
    for q in qs:
        if _key(q) not in seen:
            seen.add(_key(q))
            out.append(q)
    return out


def _dedup_sum_boosts(qs: list[Query]) -> list[Query]:
    """Duplicate scoring clauses merge with summed boosts (:369-430)."""
    acc: dict = {}
    order: list = []
    for q in qs:
        base, boost = (q.query, q.boost) if isinstance(q, BoostQuery) else (q, 1.0)
        if base in acc:
            acc[base] += boost
        else:
            acc[base] = boost
            order.append(base)
    out = []
    for base in order:
        boost = acc[base]
        out.append(base if boost == 1.0 else BoostQuery(base, boost))
    return out


# ---------------- multi-term expansion ----------------


def _wildcard_regex(pattern: str) -> str:
    """A wildcard pattern (``*`` any run, ``?`` any one char) as regex."""
    return re.escape(pattern).replace(r"\*", ".*").replace(r"\?", ".")


def term_predicate(q: Query):
    """The multi-term query's match predicate as a picklable
    ``str -> bool`` callable: THE match semantics of every multi-term
    query (the compiled ByteRunAutomaton that MultiTermQuery hands each
    TermsEnum).  Term-dictionary reads apply it after their narrowing,
    expand_terms filters with it, and the interval kernels run it
    against each segment's terms.  Regexps are Python ``re``."""
    if isinstance(q, PrefixQuery):
        p = q.prefix
        return lambda t: t.startswith(p)
    if isinstance(q, (WildcardQuery, RegexpQuery)):
        pat = (_wildcard_regex(q.pattern) if isinstance(q, WildcardQuery)
               else q.pattern)
        rx = re.compile(pat)
        return lambda t: rx.fullmatch(t) is not None
    if isinstance(q, TermRangeQuery):
        lo, hi, il, iu = q.lower, q.upper, q.include_lower, q.include_upper

        def in_range(t: str) -> bool:
            if lo is not None and (t < lo or (t == lo and not il)):
                return False
            if hi is not None and (t > hi or (t == hi and not iu)):
                return False
            return True

        return in_range
    if isinstance(q, TermInSetQuery):
        s = frozenset(q.terms)
        return lambda t: t in s
    if isinstance(q, FuzzyQuery):
        base, k, plen = q.term, q.max_edits, q.prefix_length
        return lambda t: (
            t[:plen] == base[:plen] and _within_edits(base, t, k)
        )
    raise TypeError(type(q))


def _wildcard_prefix(pattern: str) -> str:
    """The literal prefix of a wildcard pattern (before any * or ?)."""
    return pattern.split("*")[0].split("?")[0]


def _regexp_prefix(pattern: str) -> str:
    """The literal run every full match of the Python regexp ``pattern``
    starts with: the leading LITERAL nodes of its parse, up to the first
    other node (a quantifier holds its literal, an alternation its
    branches) or surrogate code point.  Empty under IGNORECASE."""
    parsed = re_parser.parse(pattern)
    if parsed.state.flags & re.IGNORECASE:
        return ""
    out = []
    for op, av in parsed:
        if op != re_parser.LITERAL or 0xD800 <= av < 0xE000:
            break
        out.append(chr(av))
    return "".join(out)


def _prefix_successor(prefix: str) -> str | None:
    """The least string above every string that starts with the
    non-empty ``prefix`` (None when there is none)."""
    last = ord(prefix[-1])
    if last >= 0x10FFFF:
        return None
    nxt = 0xE000 if last + 1 == 0xD800 else last + 1  # skip surrogates
    return prefix[:-1] + chr(nxt)


def _prefix_expr(prefix: str):
    """``term`` starts with ``prefix``, as a pyarrow expression whose
    [prefix, successor) range prunes row groups by their min/max."""
    if not prefix:
        return pads.scalar(True)
    t = pads.field("term")
    cond = (t >= prefix) & pc.starts_with(t, pattern=prefix)
    nxt = _prefix_successor(prefix)
    if nxt is not None:
        cond = cond & (t < nxt)
    return cond


def _regex_expr(pattern: str):
    """``term`` fully matches ``pattern``, by RE2; True (no narrowing)
    when RE2 rejects the pattern."""
    rx = f"^(?:{pattern})$"
    try:
        pc.match_substring_regex(pa.array([""]), pattern=rx)
    except pa.ArrowInvalid:
        return pads.scalar(True)
    return pc.match_substring_regex(pads.field("term"), pattern=rx)


def term_read_filter(q: Query):
    """A NARROWING of the multi-term query as a pyarrow expression over
    ``term``, for reads of the termdict (prefixes and ranges prune
    parquet row groups on the sorted term column = the FST term-index
    analog): every term term_predicate(q) accepts passes it.
    Prefixes, ranges and sets pass exactly those terms; fuzzy keeps its
    prefix and length band; a wildcard its literal prefix and its RE2
    translation, which holds only escaped literals, ``.`` and ``.*``,
    read alike by RE2 and ``re``.  A regexp keeps only its literal
    prefix (_regexp_prefix): RE2 reads some patterns unlike ``re``
    (``\\w``, ``\\d``, ``{,n}``).  The reads apply term_predicate after
    it."""
    t = pads.field("term")
    if isinstance(q, PrefixQuery):
        return _prefix_expr(q.prefix)
    if isinstance(q, TermRangeQuery):
        cond = pads.scalar(True)
        if q.lower is not None:
            cond = cond & (t >= q.lower if q.include_lower else t > q.lower)
        if q.upper is not None:
            cond = cond & (t <= q.upper if q.include_upper else t < q.upper)
        return cond
    if isinstance(q, TermInSetQuery):
        return t.isin(pa.array(list(q.terms), pa.string()))
    if isinstance(q, WildcardQuery):
        pat = _wildcard_regex(q.pattern)
        return _prefix_expr(_wildcard_prefix(q.pattern)) & _regex_expr(pat)
    if isinstance(q, FuzzyQuery):
        n = pc.utf8_length(t)
        return (
            _prefix_expr(q.term[: q.prefix_length])
            & (n >= len(q.term) - q.max_edits)
            & (n <= len(q.term) + q.max_edits)
        )
    if isinstance(q, RegexpQuery):
        return _prefix_expr(_regexp_prefix(q.pattern))
    raise TypeError(type(q))


def term_key_range(q: Query) -> tuple:
    """``(lower, include_lower, upper, include_upper, exact)``: a term
    range that holds every term term_predicate(q) accepts (a None bound
    is open), for reads that narrow a term-sorted table by binary
    search; ``exact`` when every term in the range matches (prefixes
    and ranges), so the reads skip term_predicate."""
    if isinstance(q, TermRangeQuery):
        return q.lower, q.include_lower, q.upper, q.include_upper, True
    if isinstance(q, TermInSetQuery) and q.terms:
        return min(q.terms), True, max(q.terms), True, False
    prefix = ""
    if isinstance(q, PrefixQuery):
        prefix = q.prefix
    elif isinstance(q, WildcardQuery):
        prefix = _wildcard_prefix(q.pattern)
    elif isinstance(q, FuzzyQuery):
        prefix = q.term[: q.prefix_length]
    elif isinstance(q, RegexpQuery):
        prefix = _regexp_prefix(q.pattern)
    exact = isinstance(q, PrefixQuery)
    if not prefix:
        return None, True, None, True, exact
    nxt = _prefix_successor(prefix)
    return prefix, True, nxt, False, exact and nxt is not None


def expand_terms(q: Query, all_terms: list[str]) -> list[str]:
    """The terms of the sorted ``all_terms`` that term_predicate(q)
    accepts; a TermInSetQuery's present terms in ``q.terms`` order."""
    if isinstance(q, TermInSetQuery):
        s = set(all_terms)
        return [t for t in q.terms if t in s]
    return list(filter(term_predicate(q), all_terms))


def _within_edits(a: str, b: str, k: int) -> bool:
    """Levenshtein <= k (FuzzyQuery's LevenshteinAutomata analog)."""
    return abs(len(a) - len(b)) <= k and _edit_distance(a, b) <= k


def _edit_distance(a: str, b: str) -> int:
    """The Levenshtein distance of ``a`` and ``b``, by Myers'
    bit-parallel algorithm (Hyyro 2001): the DP column over ``a`` is
    two ints of +1/-1 vertical deltas, advanced once per char of ``b``."""
    if not a:
        return len(b)
    peq: dict = {}
    for i, c in enumerate(a):
        peq[c] = peq.get(c, 0) | 1 << i
    full, last = (1 << len(a)) - 1, 1 << (len(a) - 1)
    pv, mv, dist = full, 0, len(a)
    for c in b:
        eq = peq.get(c, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | ~(xh | pv)
        mh = pv & xh
        dist += bool(ph & last) - bool(mh & last)
        ph = ph << 1 | 1
        pv = (mh << 1 | ~(xv | ph)) & full
        mv = ph & xv
    return dist


def rewrite_multi_term(q: Query, term_lookup) -> Query:
    """MultiTermQuery rewrite (MultiTermQuery.java rewrite methods), the
    one place a multi-term query is expanded: ``term_lookup(q)`` lists
    the matching terms, in term order, from the term dictionary.

    * no term -> MatchNoDocs; one term -> TermQuery (the constant-score
      wrapper's tiny-expansion unwrap),
    * FuzzyQuery with at most maxClauseCount terms -> SHOULD-disjunction
      of TermQuerys with per-term BM25 (the reference uses
      TopTermsBlendedFreqScoringRewrite — scored term expansion; we
      score ALL matching terms rather than the top 50),
    * every other case -> CONSTANT_SCORE_REWRITE, the reference's
      DEFAULT for prefix/wildcard/regexp/range/set: a constant-score
      union over the listed terms' postings
      (MultiTermQueryConstantScoreWrapper builds one bitset, scores
      boost, and never throws TooManyClauses)."""
    if term_lookup is None:
        return q
    terms = term_lookup(q)
    if not terms:
        return MatchNoDocsQuery(f"no terms match {q}")
    if len(terms) == 1:
        return TermQuery(terms[0])
    if not isinstance(q, FuzzyQuery) or len(terms) > MAX_CLAUSE_COUNT:
        return ConstantScoreQuery(MultiTermUnionQuery(q, tuple(terms)))
    b = Builder()
    for t in terms:
        b.add(TermQuery(t), Occur.SHOULD)
    return b.build()
