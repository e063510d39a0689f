"""Query IR — the engine's analog of org.apache.lucene.search.Query.

Plain frozen dataclasses; rewrites (plans/rewrite.py) operate on this
tree on the driver, exactly as Lucene's Query.rewrite fixpoint runs
before Weight creation (IndexSearcher.java:674-683).  Catalyst never
sees this tree — it plans the *scan* (term pushdown into parquet);
boolean/scoring semantics live in the segment kernels.

Clause model per BooleanQuery.java:44-163: MUST / SHOULD / FILTER
(non-scoring MUST) / MUST_NOT + minimumNumberShouldMatch, max 1024
clauses.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from ..config import MAX_CLAUSE_COUNT


class Occur(str, Enum):
    MUST = "MUST"
    SHOULD = "SHOULD"
    FILTER = "FILTER"
    MUST_NOT = "MUST_NOT"


class Query:
    """Marker base class."""


@dataclass(frozen=True)
class TermQuery(Query):
    term: str

    def __str__(self) -> str:
        return self.term


@dataclass(frozen=True)
class PhraseQuery(Query):
    """``slot_positions``: EXPLICIT per-slot positions
    (PhraseQuery.Builder.add(Term, int position) — L/search/
    PhraseQuery.java:90-103): gaps between consecutive positions are
    unconstrained "any token" holes; None = consecutive."""

    terms: tuple[str, ...]
    slop: int = 0
    slot_positions: tuple | None = None

    def __post_init__(self):
        sp = self.slot_positions
        if sp is not None and (
            len(sp) != len(self.terms)
            or any(b <= a for a, b in zip(sp, sp[1:]))
        ):
            raise ValueError(
                "slot_positions must be strictly increasing, one per term"
            )

    def __str__(self) -> str:
        return '"' + " ".join(self.terms) + '"'


@dataclass(frozen=True)
class MultiPhraseQuery(Query):
    """Phrase with term alternatives per position (MultiPhraseQuery.java):
    each slot matches ANY of its terms (analyzer-produced synonyms at a
    position); scored like a phrase whose idf sums over ALL terms.
    ``slot_positions`` as on PhraseQuery (MultiPhraseQuery.Builder
    .add(Term[], int position))."""

    positions: tuple[tuple[str, ...], ...]
    slop: int = 0
    slot_positions: tuple | None = None

    def __str__(self) -> str:
        return '"' + " ".join(
            "(" + "|".join(p) + ")" if len(p) > 1 else p[0] for p in self.positions
        ) + '"'


@dataclass(frozen=True)
class SpanOrQuery(Query):
    """Union of term spans (L/search/spans/SpanOrQuery.java:45): the
    clause's spans are the union of every member term's occurrences.
    Usable standalone or as a clause inside SpanNearQuery."""

    terms: tuple[str, ...]

    def __str__(self) -> str:
        return f"spanOr([{' '.join(self.terms)}])"


@dataclass(frozen=True)
class SpanNotQuery(Query):
    """Include-spans with nearby exclude-spans removed
    (L/search/spans/SpanNotQuery.java:64-71, accept():176-188): an
    occurrence of ``include`` at position p is dropped when some
    occurrence of ``exclude`` lies within [p - pre, p + post] (the
    reference's overlap test specialised to width-1 term spans).
    Usable standalone or as a clause inside SpanNearQuery."""

    include: str
    exclude: str
    pre: int = 0
    post: int = 0

    def __str__(self) -> str:
        return f"spanNot({self.include}, {self.exclude}, {self.pre}, {self.post})"


@dataclass(frozen=True)
class SpanNearQuery(Query):
    """Proximity query over spans (lucene/core/search/spans/
    SpanNearQuery.java): the clauses must all occur within ``slop``
    total gap positions, in query order when ``in_order`` (SpanNear
    semantics: span width minus the term count <= slop).  Each clause
    is a term, a SpanOrQuery (union of terms), or a SpanNotQuery
    (term minus nearby exclusions) — the or/not composition the
    reference's span family provides.  Compiled as a CONSTANT-SCORE
    clause (span scoring via sloppyFreq is out of scope; the
    reference's span family is most used for filtering and the classic
    parser never emits it)."""

    terms: tuple  # of str | SpanOrQuery | SpanNotQuery
    slop: int = 0
    in_order: bool = True

    def flat_terms(self) -> tuple[str, ...]:
        """Every index term this query touches (stats/scan predicate)."""
        out: list[str] = []
        for c in self.terms:
            if isinstance(c, str):
                out.append(c)
            elif isinstance(c, SpanOrQuery):
                out.extend(c.terms)
            elif isinstance(c, SpanNotQuery):
                out.extend((c.include, c.exclude))
            else:
                raise TypeError(f"bad span clause {type(c).__name__}")
        return tuple(out)

    def __str__(self) -> str:
        order = "ordered" if self.in_order else "unordered"
        clauses = " ".join(str(c) for c in self.terms)
        return f"spanNear([{clauses}], {self.slop}, {order})"


@dataclass(frozen=True)
class SpanPositionRangeQuery(Query):
    """SpanPositionRangeQuery (L/search/spans/SpanPositionRangeQuery
    .java acceptPosition): keep spans of ``match`` whose startPosition
    >= start and whose EXCLUSIVE endPosition <= end — i.e. every
    covered position lies in [start, end).  ``span_first(match, n)``
    builds the SpanFirstQuery special case (range [0, n),
    SpanFirstQuery.java acceptPosition)."""

    match: object  # SpanNearQuery | str | SpanOrQuery | SpanNotQuery
    start: int
    end: int

    def near(self) -> "SpanNearQuery":
        m = self.match
        if isinstance(m, SpanNearQuery):
            return m
        return SpanNearQuery((m,), slop=0, in_order=True)

    def __str__(self) -> str:
        return f"spanPosRange({self.match}, {self.start}, {self.end})"


def span_first(match, end: int) -> SpanPositionRangeQuery:
    """SpanFirstQuery(match, end): spans lying within the first ``end``
    positions of the field."""
    return SpanPositionRangeQuery(match, 0, end)


@dataclass(frozen=True)
class TermAutomatonQuery(Query):
    """TermAutomatonQuery (lucene/sandbox/src/java/org/apache/lucene/
    search/TermAutomatonQuery.java): match token sequences accepted by
    an automaton over terms; ``None`` labels are ANY transitions
    (:addAnyTransition).  The engine supports ACYCLIC automatons and
    rewrites them exactly like the reference's rewrite(IndexReader)
    (:rewrite — singleton -> TermQuery, sausage -> MultiPhraseQuery
    with ANY transitions skipping a position), generalized: every
    accepted label path becomes a (multi)phrase with EXPLICIT slot
    positions (ANY slots are holes), combined SHOULD when the language
    has several paths.  Cyclic automatons raise (the reference's
    non-finite languages need the runtime scorer, out of scope).

    ``transitions``: tuple of (from_state, to_state, term | None).
    State 0 is the start state."""

    n_states: int
    transitions: tuple
    accepts: tuple

    def paths(self, max_paths: int = 64) -> list[tuple]:
        """All accepted label paths (DFS; raises on cycles/overflow)."""
        out_edges: dict[int, list] = {}
        for frm, to, lab in self.transitions:
            out_edges.setdefault(frm, []).append((to, lab))
        acc = set(self.accepts)
        paths: list[tuple] = []

        def dfs(state, labels, seen):
            if state in seen:
                raise ValueError("cyclic automaton is not supported")
            if state in acc and labels:
                paths.append(tuple(labels))
                if len(paths) > max_paths:
                    raise ValueError(
                        f"automaton accepts more than {max_paths} paths"
                    )
            for to, lab in out_edges.get(state, ()):
                dfs(to, labels + [lab], seen | {state})

        dfs(0, [], frozenset())
        if not paths:
            raise ValueError("automaton accepts no sequences")
        return sorted(set(paths), key=lambda p: (len(p), str(p)))

    def __str__(self) -> str:
        return f"termAutomaton({self.n_states} states, " \
               f"{len(self.transitions)} transitions)"


@dataclass(frozen=True)
class ComplexPhraseQuery(Query):
    """ComplexPhraseQueryParser's phrase IR (lucene/queryparser/src/
    java/org/apache/lucene/queryparser/complexPhrase/
    ComplexPhraseQueryParser.java:224-335 ComplexPhraseQuery.rewrite):
    a phrase whose slots may be multi-term sub-queries or alternative
    groups; the reader-dependent rewrite expands each slot against the
    term dictionary (under the shared expansion budget, like
    PhraseWildcardQuery) and compiles the result to
    SpanNearQuery(slots, slop, in_order) — each multi-slot becoming a
    SpanOrQuery (:335 "new SpanNearQuery(allSpanClauses, slopFactor,
    inOrder)"), an empty expansion becoming an unmatchable clause
    (:311-318 dummy term).  Negative (MUST_NOT) phrase elements are
    out of scope, documented.

    ``slots``: tuple of alternative-tuples; each alternative is a
    literal term (str) or a multi-term Query (Prefix/Wildcard/Regexp/
    Fuzzy/TermRange/TermInSet)."""

    slots: tuple
    slop: int = 0
    in_order: bool = True
    max_multi_term_expansions: int = 32

    def __post_init__(self):
        if not self.slots:
            raise ValueError("phrase needs at least one slot")
        for alts in self.slots:
            if not alts:
                raise ValueError("empty alternative group")
            for a in alts:
                if not isinstance(a, (str, PrefixQuery, WildcardQuery,
                                      RegexpQuery, TermRangeQuery,
                                      TermInSetQuery, FuzzyQuery)):
                    raise TypeError(
                        f"bad phrase slot member {a!r}: want str or "
                        "multi-term query"
                    )

    def __str__(self) -> str:
        return 'complexPhrase"' + " ".join(
            "(" + " ".join(str(a) for a in alts) + ")"
            if len(alts) > 1 else str(alts[0])
            for alts in self.slots
        ) + f'"~{self.slop}'


@dataclass(frozen=True)
class SpanContainingQuery(Query):
    """SpanContainingQuery (L/search/spans/SpanContainingQuery.java:30,
    ContainSpans.java twoPhaseCurrentDocMatches): emit the spans of
    ``big`` that CONTAIN at least one span of ``little`` — big
    [bs, be) contains little [ls, le) iff bs <= ls and le <= be.
    ``big`` is an ordered SpanNearQuery (or a single term clause);
    ``little`` is a term clause (str | SpanOrQuery | SpanNotQuery).
    A SpanPositionRangeQuery wrapper filters the EMITTED (big) spans,
    which is what distinguishes this from SpanWithinQuery at the
    document level."""

    big: object     # SpanNearQuery(in_order=True) | str | SpanOrQuery | SpanNotQuery
    little: object  # str | SpanOrQuery | SpanNotQuery

    def near(self) -> "SpanNearQuery":
        b = self.big
        if isinstance(b, SpanNearQuery):
            return b
        return SpanNearQuery((b,), slop=0, in_order=True)

    def __str__(self) -> str:
        return f"spanContaining({self.big}, {self.little})"


@dataclass(frozen=True)
class SpanWithinQuery(Query):
    """SpanWithinQuery (L/search/spans/SpanWithinQuery.java:31,
    ContainSpans with the little side as the source spans): emit the
    spans of ``little`` that lie WITHIN a span of ``big``.  Matches the
    same documents as SpanContainingQuery(big, little) when standalone;
    under a SpanPositionRangeQuery wrapper the range applies to the
    emitted (little) spans, so the two differ observably."""

    big: object
    little: object

    def near(self) -> "SpanNearQuery":
        b = self.big
        if isinstance(b, SpanNearQuery):
            return b
        return SpanNearQuery((b,), slop=0, in_order=True)

    def __str__(self) -> str:
        return f"spanWithin({self.big}, {self.little})"


# ---- minimal-interval family (lucene/queries/.../intervals) ----
# Sources form a tree; a plain ``str`` is shorthand for ITerm.  The
# engine evaluates MINIMAL intervals per document (an interval is
# dropped when it properly contains another match) — the semantics of
# Intervals.term/ordered/unordered/or/phrase/maxgaps/maxwidth
# (Intervals.java; iterator classes cited on functions/intervals.py).


@dataclass(frozen=True)
class ITerm:
    term: str


@dataclass(frozen=True)
class IOrdered:
    """Intervals.ordered (OrderedIntervalsSource.java:29): sub-spans in
    strict order, non-overlapping; consecutive duplicate sub-sources
    collapse to repeats (:53-71) like the reference's builder."""

    sources: tuple


@dataclass(frozen=True)
class IUnordered:
    """Intervals.unordered (UnorderedIntervalsSource.java:31): minimal
    windows holding every sub-span, any order; duplicate sub-sources
    require distinct occurrences (RepeatingIntervalsSource)."""

    sources: tuple


@dataclass(frozen=True)
class IOr:
    """Intervals.or (DisjunctionIntervalsSource): union of sub-spans,
    minimalized."""

    sources: tuple


@dataclass(frozen=True)
class IBlock:
    """Intervals.phrase (BlockIntervalsSource): sub-spans exactly
    consecutive."""

    sources: tuple


@dataclass(frozen=True)
class IContaining:
    """Intervals.containing (ContainingIntervalsSource): intervals of
    ``big`` that contain at least one interval of ``small``."""

    big: object
    small: object


@dataclass(frozen=True)
class IContainedBy:
    """Intervals.containedBy (ContainedByIntervalsSource): intervals of
    ``small`` lying inside some interval of ``big``."""

    small: object
    big: object


@dataclass(frozen=True)
class INotContaining:
    """Intervals.notContaining: intervals of ``big`` containing NO
    interval of ``small`` (NotContainingIntervalsSource)."""

    big: object
    small: object


@dataclass(frozen=True)
class INotContainedBy:
    """Intervals.notContainedBy: intervals of ``small`` inside NO
    interval of ``big`` (NotContainedByIntervalsSource)."""

    small: object
    big: object


@dataclass(frozen=True)
class IMultiTerm:
    """Intervals.prefix / Intervals.wildcard (MultiTermIntervalsSource
    .java:41-67): the automaton's matching terms expand to an interval
    disjunction, capped at ``max_expansions`` PER SEGMENT (the
    reference counts per leaf and throws IllegalStateException beyond
    the cap).  ``query`` is any multi-term Query (PrefixQuery,
    WildcardQuery, RegexpQuery, TermRangeQuery, ...) — its exact match
    predicate expands against segment-local terms at evaluation time,
    with the scan predicate pushed down like MultiTermUnionQuery."""

    query: object
    max_expansions: int = 128


@dataclass(frozen=True)
class IMaxGaps:
    """Intervals.maxgaps (FilteredIntervalsSource.maxGaps): keep inner
    intervals whose total internal gap count <= gaps."""

    gaps: int
    source: object


@dataclass(frozen=True)
class IMaxWidth:
    """Intervals.maxwidth: keep inner intervals with width <= width."""

    width: int
    source: object


@dataclass(frozen=True)
class IExtend:
    """Intervals.extend (ExtendedIntervalsSource / ExtendedIntervalIterator):
    every inner interval's bounds stretch ``before`` positions left
    (clamped at 0) and ``after`` right (saturated below the i32
    NO_MORE_INTERVALS sentinel).  The reference's wrapper does NOT
    re-minimalize and gaps() delegates to the inner iterator."""

    source: object
    before: int
    after: int


@dataclass(frozen=True)
class IOffset:
    """OffsetIntervalsSource: a width-1 marker interval per inner
    interval — at ``max(0, start-1)`` when ``preceding`` (PRECEDING),
    at ``end+1`` otherwise (FOLLOWING).  Duplicates are emitted as-is
    (OffsetIntervalIterator has no dedup); building block for
    Intervals.before/after."""

    source: object
    preceding: bool


@dataclass(frozen=True)
class IOverlapping:
    """Intervals.overlapping (OverlappingIntervalsSource): intervals of
    ``source`` that overlap at least one interval of ``reference``.
    A conjunction — docs where the reference is absent never match."""

    source: object
    reference: object


@dataclass(frozen=True)
class INonOverlapping:
    """Intervals.nonOverlapping (NonOverlappingIntervalsSource):
    intervals of ``minuend`` overlapping NO interval of ``subtrahend``
    (a difference — the subtrahend being absent keeps everything)."""

    minuend: object
    subtrahend: object


@dataclass(frozen=True)
class IAtLeast:
    """Intervals.atLeast (MinimumShouldMatchIntervalsSource): minimal
    windows spanning one interval from each of any ``min_should_match``
    of the sources (unordered, overlaps allowed, no distinct-occurrence
    rule — repeated equal sources may sit on the same position)."""

    min_should_match: int
    sources: tuple


_I32MAX = 2**31 - 1  # Integer.MAX_VALUE == IntervalIterator.NO_MORE_INTERVALS


def intervals_before(source, reference) -> IContainedBy:
    """Intervals.before (Intervals.java:451-455): intervals of
    ``source`` entirely before some interval of ``reference`` —
    containedBy(source, extend(PRECEDING(reference), MAX, 0))."""
    return IContainedBy(
        source, IExtend(IOffset(reference, True), _I32MAX, 0)
    )


def intervals_after(source, reference) -> IContainedBy:
    """Intervals.after (Intervals.java:459-463): intervals of
    ``source`` entirely after some interval of ``reference``."""
    return IContainedBy(
        source, IExtend(IOffset(reference, False), 0, _I32MAX)
    )


def intervals_within(source, positions: int, reference) -> IContainedBy:
    """Intervals.within (Intervals.java:387-389): intervals of
    ``source`` within ``positions`` of some ``reference`` interval."""
    return IContainedBy(source, IExtend(reference, positions, positions))


def intervals_not_within(minuend, positions: int, subtrahend) -> INonOverlapping:
    """Intervals.notWithin (Intervals.java:375-377): intervals of the
    minuend at least ``positions`` away from every subtrahend one."""
    return INonOverlapping(minuend, IExtend(subtrahend, positions, positions))


def intervals_unordered_no_overlaps(a, b) -> IOr:
    """Intervals.unorderedNoOverlaps (Intervals.java:328-330):
    or(ordered(a, b), ordered(b, a))."""
    return IOr((IOrdered((a, b)), IOrdered((b, a))))


@dataclass(frozen=True)
class IntervalQuery(Query):
    """IntervalQuery (lucene/queries/.../intervals/IntervalQuery.java:74):
    matches docs where ``source`` has at least one interval; scores
    with the saturation function over the sloppy interval frequency —
    ``freq = sum over minimal intervals of 1/max(width - minExtent + 1,
    1)`` (IntervalScorer.java:65-70), ``score = boost * (1 - pivot /
    (pivot + freq))`` (IntervalScoreFunction.java:70-75)."""

    source: object  # ITerm | IOrdered | ... | str
    pivot: float = 1.0

    def __str__(self) -> str:
        return f"IntervalQuery({self.source})"


@dataclass(frozen=True)
class SynonymQuery(Query):
    """Terms scored as one pseudo-term: blended stats (df = max sub df,
    ttf = sum), per-doc freq = sum of sub freqs (SynonymQuery.java:233-247,
    :564-575)."""

    terms: tuple[str, ...]

    def __str__(self) -> str:
        return "Synonym(" + " ".join(self.terms) + ")"


@dataclass(frozen=True)
class DisjunctionMaxQuery(Query):
    """score = max(sub) + tie_breaker * sum(other subs)
    (DisjunctionMaxScorer.java:63-75)."""

    queries: tuple[Query, ...]
    tie_breaker: float = 0.0

    def __str__(self) -> str:
        return "(" + " | ".join(str(q) for q in self.queries) + f")~{self.tie_breaker}"


@dataclass(frozen=True)
class BoostQuery(Query):
    query: Query
    boost: float

    def __str__(self) -> str:
        return f"({self.query})^{self.boost}"


@dataclass(frozen=True)
class ConstantScoreQuery(Query):
    query: Query

    def __str__(self) -> str:
        return f"ConstantScore({self.query})"


@dataclass(frozen=True)
class MatchAllDocsQuery(Query):
    def __str__(self) -> str:
        return "*:*"


@dataclass(frozen=True)
class MatchNoDocsQuery(Query):
    reason: str = ""

    def __str__(self) -> str:
        return "MatchNoDocs"


# ---- multi-term queries: rewritten to term disjunctions against the
# term dictionary (MultiTermQuery rewrite family, SURVEY.md §2.10) ----


@dataclass(frozen=True)
class PrefixQuery(Query):
    prefix: str


@dataclass(frozen=True)
class WildcardQuery(Query):
    pattern: str  # * = any run, ? = one char (WildcardQuery.java)


@dataclass(frozen=True)
class RegexpQuery(Query):
    pattern: str


@dataclass(frozen=True)
class FuzzyQuery(Query):
    term: str
    max_edits: int = 2
    prefix_length: int = 0


@dataclass(frozen=True)
class MultiTermUnionQuery(Query):
    """Rewrite target for a multi-term query whose expansion stays
    DISTRIBUTED (MultiTermQueryConstantScoreWrapper's bulk path,
    MultiTermQuery.java CONSTANT_SCORE_REWRITE): instead of collecting
    the matching terms to the driver and re-emitting them as a literal
    ``IN`` list, the term predicate itself ships both to the postings
    scan (JVM-side pushdown over the sorted term column — the
    automaton-intersection analog) and to the segment kernel, which
    unions the postings of every LOCAL term the predicate accepts.
    Scores are constant (the wrapper builds one bitset and scores
    boost), so no per-term statistics are needed — nothing about the
    expansion ever sits on the driver."""

    orig: Query  # the wrapped Prefix/Wildcard/Regexp/Fuzzy/Range/Set query

    def __str__(self) -> str:
        return f"MultiTermUnion({self.orig})"


@dataclass(frozen=True)
class PointRangeQuery(Query):
    """Numeric range over an indexed point field (PointRangeQuery.java,
    IntPoint.newRangeQuery).  Spark-first analog: the docmeta table's
    numeric columns are the point index — parquet row-group min/max
    stats play the BKD tree's role, and the matching docs surface as a
    constant-score per-segment posting list (IndexOrDocValuesQuery's
    index side).  Scores are constant (boost), as in the reference."""

    field: str
    lower: float | int | None
    upper: float | int | None
    include_lower: bool = True
    include_upper: bool = True
    # dv=True permits the per-candidate "doc values" access path (set
    # by the IndexOrDocValuesQuery rewrite); NEVER affects the result
    # set, only which plan materializes it, so it is excluded from
    # token_key.
    dv: bool = False

    def token_key(self) -> str:
        """Reserved pseudo-term carrying this filter's per-segment doc
        set through the postings plumbing ('\\x01' sorts below every
        real token but above the norms sentinel)."""
        return (
            f"\x01pts:{self.field}:{self.lower}:{self.upper}:"
            f"{int(self.include_lower)}{int(self.include_upper)}"
        )

    def __str__(self) -> str:
        lo = "[" if self.include_lower else "("
        hi = "]" if self.include_upper else ")"
        return f"{self.field}:{lo}{self.lower} TO {self.upper}{hi}"


@dataclass(frozen=True)
class MultiDimPointRangeQuery(Query):
    """N-dimensional point range (PointRangeQuery.java:64-80 with
    numDims > 1; IntPoint.newRangeQuery(String, int[], int[]) —
    IntPoint.java:42): a document matches when EVERY dimension's value
    falls in its [lower, upper] range (the per-dim loop in
    PointRangeQuery's visitor, PointRangeQuery.java:118).

    Spark-first analog: where the reference packs the dims into one BKD
    tree and visits it once, the dims here are docmeta numeric columns
    and the conjunction is ONE pushed-down docmeta scan with the ANDed
    per-dim predicate — a single row-group-pruned pass materializing
    only the intersection, never one doc set per dimension.  Scores are
    constant (ConstantScoreWeight), as in the reference.

    ``dims``: tuple of (field, lower, upper, include_lower,
    include_upper); lower/upper of None = open-ended on that side.
    """

    dims: tuple
    # dv=True permits the per-candidate access path, as PointRangeQuery
    dv: bool = False

    def token_key(self) -> str:
        body = ";".join(
            f"{f}:{lo}:{hi}:{int(il)}{int(iu)}"
            for f, lo, hi, il, iu in self.dims
        )
        return f"\x01ptsnd:{body}"

    def __str__(self) -> str:
        parts = []
        for f, lo, hi, il, iu in self.dims:
            parts.append(
                f"{f}:{'[' if il else '('}{lo} TO {hi}{']' if iu else ')'}"
            )
        return " AND ".join(parts)


#: GeoUtils.EARTH_MEAN_RADIUS_METERS (lucene/core/.../geo/GeoUtils.java)
EARTH_MEAN_RADIUS_METERS = 6371008.7714


@dataclass(frozen=True)
class LatLonDistanceQuery(Query):
    """LatLonPoint.newDistanceQuery analog (L/document/LatLonPoint.java:
    258, LatLonPointDistanceQuery.java): constant-score filter matching
    docs within ``radius_meters`` haversine distance of (lat, lon).

    Spark-first analog of the reference's two-phase plan (BKD
    bounding-box visit + per-hit haversin verify,
    LatLonPointDistanceQuery.java:77-135): the docmeta lat/lon numeric
    columns play the BKD role — a latitude-band range predicate pushes
    into the parquet scan (row-group pruning), ANDed with the exact
    haversine distance evaluated JVM-side in the same scan stage.  The
    matching docs reach the kernel as a per-segment doc-id mask like
    every other point clause."""

    lat_field: str
    lon_field: str
    lat: float
    lon: float
    radius_meters: float
    dv: bool = False  # per-candidate verify path permitted (IndexOrDocValues)

    def token_key(self) -> str:
        return (
            f"\x01geo:{self.lat_field}:{self.lon_field}:"
            f"{self.lat}:{self.lon}:{self.radius_meters}"
        )

    def __str__(self) -> str:
        return (
            f"geo({self.lat_field},{self.lon_field}) within "
            f"{self.radius_meters}m of ({self.lat},{self.lon})"
        )


@dataclass(frozen=True)
class LatLonPolygonQuery(Query):
    """LatLonPoint.newPolygonQuery analog (L/document/LatLonPoint.java:
    281, LatLonPointInPolygonQuery.java): constant-score filter matching
    docs whose (lat, lon) point lies inside a simple polygon.

    Spark-first analog of the reference's two-phase plan (BKD visit of
    the polygon's bounding box + per-hit ``Polygon2D.contains`` test,
    lucene/core/.../geo/Polygon2D.java): the bounding-box range
    predicates over the docmeta lat/lon columns push into the parquet
    scan (row-group pruning), ANDed with an unrolled crossing-number
    (ray-cast) test evaluated JVM-side in the same scan stage — the
    vertex count is fixed at query time, so the edge loop unrolls into
    one codegen'd boolean expression (no UDF).

    ``vertices`` is a tuple of (lat, lon) pairs forming a closed simple
    ring (the closing edge back to vertex 0 is implicit, as in
    Polygon.java's constructor contract).  Holes are out of scope (the
    reference supports them via nested rings; the rebuilt surface keeps
    the single-ring form every Solr ``IsWithin`` filter uses)."""

    lat_field: str
    lon_field: str
    vertices: tuple  # ((lat, lon), ...) — at least 3, implicit closure
    dv: bool = False  # per-candidate verify path permitted (IndexOrDocValues)

    def __post_init__(self):
        if len(self.vertices) < 3:
            raise ValueError("polygon needs at least 3 vertices")

    def bbox(self) -> tuple:
        """(min_lat, max_lat, min_lon, max_lon) — the pushed-down box."""
        lats = [v[0] for v in self.vertices]
        lons = [v[1] for v in self.vertices]
        return min(lats), max(lats), min(lons), max(lons)

    def token_key(self) -> str:
        body = ";".join(f"{la}:{lo}" for la, lo in self.vertices)
        return f"\x01geopoly:{self.lat_field}:{self.lon_field}:{body}"

    def __str__(self) -> str:
        return (
            f"geo({self.lat_field},{self.lon_field}) in polygon"
            f"[{len(self.vertices)} vertices]"
        )


@dataclass(frozen=True)
class FunctionRangeQuery(Query):
    """Solr ``{!frange l=.. u=..}func`` analog (solr/core/src/java/org/
    apache/solr/search/FunctionRangeQuery.java + FunctionQParser;
    lucene/queries/.../function/ValueSourceScorer.java:60
    ``matches(doc)``): constant-score filter matching docs where a
    function of docmeta fields evaluates into [lower, upper].

    Spark-first analog: the function string compiles through the
    ValueSource dialect parser (plans/funcparser.py) into ONE codegen'd
    Column over the docmeta scan — the range test runs per row in the
    same stage, exactly where the reference evaluates per-doc
    FunctionValues.  Reaches the kernel as a per-segment doc-id mask
    like every other doc-value clause."""

    func: str
    lower: float = None
    upper: float = None
    include_lower: bool = True
    include_upper: bool = True
    dv: bool = False  # per-candidate verify path permitted

    def __post_init__(self):
        # fail fast at construction, like FunctionQParser's parse
        from .funcparser import parse_func

        parse_func(self.func)

    def token_key(self) -> str:
        return (
            f"\x01frange:{self.func}:{self.lower}:{self.upper}:"
            f"{int(self.include_lower)}{int(self.include_upper)}"
        )

    def __str__(self) -> str:
        lo = "*" if self.lower is None else self.lower
        hi = "*" if self.upper is None else self.upper
        return f"frange({self.func}) in [{lo} TO {hi}]"


def multi_dim_range(*dims) -> MultiDimPointRangeQuery:
    """Convenience: dims as (field, lower, upper) triples (inclusive
    both sides, IntPoint.newRangeQuery's int[] form)."""
    return MultiDimPointRangeQuery(
        tuple((f, lo, hi, True, True) for f, lo, hi in dims)
    )


@dataclass(frozen=True)
class FieldTermQuery(Query):
    """Exact-match query on a keyword (StringField) metadata field —
    L/document/StringField.java:29: the whole value is ONE token,
    un-analyzed, scored constant.  Spark-first analog: the docmeta
    table's string columns are the keyword fields; the matching docs
    surface as a constant-score per-segment doc-id mask, the same
    plumbing as PointRangeQuery (parquet
    dictionary/min-max stats prune row groups on the equality)."""

    field: str
    value: str

    def token_key(self) -> str:
        return f"\x01fld:{self.field}:{self.value}"

    def __str__(self) -> str:
        return f"{self.field}:{self.value}"


@dataclass(frozen=True)
class IndexOrDocValuesQuery(Query):
    """Cost-based access-path choice (IndexOrDocValuesQuery.java:30-62):
    wraps a point range; at scorer-supplier time the searcher compares
    the surrounding conjunction's lead cost against the range's
    estimated match count (the build-time column histogram stands in
    for BKD ``estimatePointCount``).  A cheap lead verifies the range
    per candidate — the "doc values" side, a semi-join of the lead
    term's postings against docmeta — instead of materializing the full
    range doc set (the "index" side).  Results are identical either
    way; only the access path differs."""

    index_query: PointRangeQuery

    def __str__(self) -> str:
        return f"IndexOrDV({self.index_query})"


@dataclass(frozen=True)
class SortField:
    """Sort key for field-sorted collection (SortField.java); used by
    IndexSearcher.search_sorted, the TopFieldCollector analog."""

    field: str
    reverse: bool = False


@dataclass(frozen=True)
class TermRangeQuery(Query):
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True


@dataclass(frozen=True)
class TermInSetQuery(Query):
    terms: tuple[str, ...]


@dataclass(frozen=True)
class BooleanClause:
    occur: Occur
    query: Query


@dataclass(frozen=True)
class BooleanQuery(Query):
    clauses: tuple[BooleanClause, ...]
    minimum_should_match: int = 0

    def __post_init__(self):
        if len(self.clauses) > MAX_CLAUSE_COUNT:
            raise ValueError(
                f"maxClauseCount is set to {MAX_CLAUSE_COUNT}"
            )  # BooleanQuery.java:44 TooManyClauses

    def grouped(self) -> dict[Occur, list[Query]]:
        out: dict[Occur, list[Query]] = {o: [] for o in Occur}
        for c in self.clauses:
            out[c.occur].append(c.query)
        return out

    def __str__(self) -> str:
        sym = {Occur.MUST: "+", Occur.SHOULD: "", Occur.FILTER: "#", Occur.MUST_NOT: "-"}
        return " ".join(f"{sym[c.occur]}{c.query}" for c in self.clauses)


class Builder:
    """BooleanQuery.Builder equivalent."""

    def __init__(self) -> None:
        self._clauses: list[BooleanClause] = []
        self._msm = 0

    def add(self, query: Query, occur: Occur | str) -> "Builder":
        self._clauses.append(BooleanClause(Occur(occur), query))
        return self

    def set_minimum_number_should_match(self, n: int) -> "Builder":
        self._msm = n
        return self

    def build(self) -> BooleanQuery:
        return BooleanQuery(tuple(self._clauses), self._msm)


@dataclass(frozen=True)
class CommonTermsQuery(Query):
    """CommonTermsQuery.java:62-105 — terms are classified by their
    ACTUAL index docFreq at rewrite time: low-frequency terms form a
    required group, high-frequency ("common") terms an optional group,
    so stopword-like terms never drive iteration.  The rewrite is
    reader-dependent (rewrite(IndexReader), :121-135) and lives in
    IndexSearcher._rewrite, which binds the engine's termdict dfs.

    ``max_term_frequency``: in [0..1) a fraction of maxDoc, >= 1 an
    absolute docFreq (both thresholds OR-ed exactly as
    buildQuery:170-176 does).  MUST_NOT occurs are rejected as in the
    reference constructor (:93-101)."""

    terms: tuple[str, ...]
    max_term_frequency: float = 0.01
    low_freq_occur: Occur = Occur.MUST
    high_freq_occur: Occur = Occur.SHOULD
    low_freq_boost: float = 1.0
    high_freq_boost: float = 1.0
    low_freq_min_should_match: float = 0.0
    high_freq_min_should_match: float = 0.0

    def __post_init__(self):
        if Occur.MUST_NOT in (self.low_freq_occur, self.high_freq_occur):
            raise ValueError(
                "lowFreqOccur/highFreqOccur should be MUST or SHOULD "
                "but was MUST_NOT"
            )


@dataclass(frozen=True)
class PhraseWildcardQuery(Query):
    """lucene/sandbox/src/java/org/apache/lucene/search/
    PhraseWildcardQuery.java:66 — a phrase where some positions are
    multi-term (wildcard/prefix/...) sub-queries, each expanded against
    the term dictionary under a shared ``max_multi_term_expansions``
    budget, then matched as a multi-phrase.

    Spark-first analog: the expansion is a reader-dependent rewrite
    (IndexSearcher._reader_rewrite) — ONE pushed-down termdict probe
    per pattern slot (prefix ranges prune row groups on the sorted term
    column), truncated to the budget in term order exactly as the
    reference stops expanding when the budget is exhausted (:378-392,
    reduced recall, never an error) — followed by the existing
    MultiPhraseQuery kernel.  A slot with zero matching terms makes the
    whole phrase unmatchable (MatchNoDocs), as the reference's
    noMatch (:200-208).

    ``terms``: tuple of slots, each a literal term string or a
    multi-term Query (PrefixQuery/WildcardQuery/RegexpQuery/
    TermRangeQuery/TermInSetQuery/FuzzyQuery)."""

    terms: tuple
    max_multi_term_expansions: int = 32

    def __post_init__(self):
        if not self.terms:
            raise ValueError("phrase needs at least one slot")
        for slot in self.terms:
            if not isinstance(slot, (str, PrefixQuery, WildcardQuery,
                                     RegexpQuery, TermRangeQuery,
                                     TermInSetQuery, FuzzyQuery)):
                raise TypeError(
                    f"bad phrase slot {slot!r}: want str or multi-term query"
                )

    def __str__(self) -> str:
        return 'phraseWildcard"' + " ".join(str(t) for t in self.terms) + '"'


@dataclass(frozen=True)
class FieldExistsQuery(Query):
    """DocValuesFieldExistsQuery analog (L/search/
    DocValuesFieldExistsQuery.java:35: "A Query that matches documents
    that have a value for a given field"): constant-score filter on
    per-doc value presence.

    Spark-first: ``IS NOT NULL`` on the docmeta column — pushed into
    the parquet scan (null-count row-group stats prune for free); an
    ARRAY column (SORTED_SET analog) additionally requires a non-empty
    array, since a doc with zero values has no ordinal to iterate."""

    field: str
    dv: bool = False

    def token_key(self) -> str:
        return f"\x01exists:{self.field}"

    def __str__(self) -> str:
        return f"FieldExists({self.field})"


@dataclass(frozen=True)
class FieldRangeQuery(Query):
    """SortedSetDocValuesField.newSlowRangeQuery /
    SortedDocValuesField.newSlowRangeQuery analog
    (L/document/SortedSetDocValuesField.java:86,
    L/search/SortedSetDocValuesRangeQuery.java): constant-score BYTES
    (string) range over a keyword docvalues field; an ARRAY column
    matches when ANY value falls in the range (the reference walks
    ordinals between minOrd/maxOrd).

    Spark-first: plain string-comparison predicates on the docmeta
    column (parquet min/max stats prune row groups — the ordinal-range
    seek analog); arrays via an EXISTS lambda in the same scan."""

    field: str
    lower: str = None
    upper: str = None
    include_lower: bool = True
    include_upper: bool = True
    dv: bool = False

    def token_key(self) -> str:
        return (
            f"\x01fldrange:{self.field}:{self.lower}:{self.upper}:"
            f"{int(self.include_lower)}{int(self.include_upper)}"
        )

    def __str__(self) -> str:
        lo = "*" if self.lower is None else self.lower
        hi = "*" if self.upper is None else self.upper
        lb = "[" if self.include_lower else "{"
        rb = "]" if self.include_upper else "}"
        return f"{self.field}:{lb}{lo} TO {hi}{rb}"


def term_or(terms: list[str], min_should_match: int = 0) -> BooleanQuery:
    b = Builder()
    for t in terms:
        b.add(TermQuery(t), Occur.SHOULD)
    return b.set_minimum_number_should_match(min_should_match).build()


def term_and(terms: list[str]) -> BooleanQuery:
    b = Builder()
    for t in terms:
        b.add(TermQuery(t), Occur.MUST)
    return b.build()
