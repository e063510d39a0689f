"""Per-segment scoring kernels: the "joins" of the postings algebra.

Posting-list iteration is Lucene's join algebra — AND = n-way merge
join on docID, OR = union, NOT = anti-join (SURVEY.md §2.6).  Here
each per-segment evaluation is a numpy kernel over decoded posting
blocks:

* conjunction  -> sorted-array intersection via searchsorted
                  (ConjunctionDISI leapfrog, rarest-first cost order,
                  ConjunctionDISI.java:193-237)
* disjunction  -> scatter-add over the candidate union
                  (DisjunctionSumScorer / BooleanScorer)
* top-k OR     -> block-max WAND: sweep doc-aligned windows bounded by
                  per-block impact max scores; windows whose float32
                  upper bound cannot beat the current heap minimum are
                  skipped WITHOUT decoding (WANDScorer.java:435-447,
                  ImpactsDISI.java:95-127)
* collector    -> size-k min-heap with Lucene's exact tie-break
                  (score desc, doc asc — HitQueue.java:76-81) and the
                  totalHitsThreshold feedback
                  (TopScoreDocCollector.java:320-339): pruning starts
                  only once the heap is full and `hits >=
                  total_hits_threshold`; because docs are visited in
                  ascending order, an equal score can never displace
                  an earlier doc, so the bound check is
                  `window_bound <= heap_min` (the nextUp trick).

Bound safety: per-clause block maxes are exact float32 scores of the
impact frontier; the window bound sums them in float64 and rounds UP
to the next float32, so it can never under-estimate the true
(double-accumulated, float32-cast) document score — pruning is
lossless by construction.  This replaces Lucene's scaled-int bound
arithmetic (WANDScorer.java:53-105) with an equally-safe float bound.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np

from .bm25 import BM25Scorer
from .codec import BLOCK_SIZE, TermPostings, _decode_one_block, decode_term_postings
from .impacts import max_scores_per_block

__all__ = [
    "ScoringClause",
    "CompiledQuery",
    "score_segment",
    "SegmentTopK",
]


@dataclass
class ScoringClause:
    """One bound clause: a term, a phrase, or a nested boolean.

    A nested boolean clause (``sub`` set) evaluates recursively — the
    clause's score is the inner query's float32 score, summed into the
    outer double accumulator, exactly like a nested Scorer in a
    BooleanScorer tree."""

    terms: tuple[str, ...]
    scorer: BM25Scorer | None = None  # None for pure filter/must_not use
    const_score: float | None = None  # ConstantScoreQuery: fixed score
    slop: int = 0
    sub: "CompiledQuery | None" = None
    # "term" | "synonym" | "multiphrase" | "union_pred"
    # (multi-term = phrase otherwise)
    kind: str = "term"
    # MultiPhraseQuery: term alternatives per phrase slot
    alts: tuple[tuple[str, ...], ...] | None = None
    # union_pred (distributed multi-term union): str -> bool predicate
    # selecting this clause's terms among the segment's LOCAL terms;
    # the postings scan is pre-filtered by the equivalent JVM condition
    pred: object | None = None
    # span_near: require query order (SpanNearQuery.inOrder)
    in_order: bool = True
    # span_near: the original clause specs (str | SpanOrQuery |
    # SpanNotQuery per slot); ``terms`` holds the FLAT term list for
    # stats/scan purposes
    span_specs: tuple | None = None
    # span_near: (start, end) position window — every span position
    # must lie in [start, end) (SpanPositionRangeQuery/SpanFirstQuery
    # acceptPosition; None = unbounded)
    span_range: tuple | None = None
    # intervals: (source tree, pivot, boost) — per-doc saturation
    # scoring over minimal intervals (kind == "intervals")
    interval_q: tuple | None = None
    # span_contain: the little-side clause spec (str | SpanOrQuery |
    # SpanNotQuery) and which side's spans the query EMITS ("big" for
    # SpanContainingQuery, "little" for SpanWithinQuery) — span_range
    # filters that side
    little_spec: object | None = None
    contain_emit: str = "big"
    # phrase/multiphrase: EXPLICIT slot positions (PhraseQuery.Builder
    # .add(term, position) — gaps between consecutive slots are
    # unconstrained "any token" holes); None = consecutive 0..k-1
    slot_positions: tuple | None = None

    @property
    def is_phrase(self) -> bool:
        return (
            self.kind == "multiphrase"
            or (len(self.terms) > 1 and self.kind != "synonym")
        )


@dataclass
class CompiledQuery:
    musts: list[ScoringClause]
    shoulds: list[ScoringClause]
    filters: list[ScoringClause]
    must_nots: list[ScoringClause]
    msm: int = 0
    match_all: bool = False  # MatchAllDocsQuery component
    # MatchAll contributes boost * 1.0, not a hard-coded 1.0
    # (MatchAllDocsQuery.java: createWeight scores score() == boost)
    match_all_score: float = 1.0
    # disjunction combination: "sum" (BooleanQuery) or "dismax"
    # (DisjunctionMaxQuery: max + tie * sum-of-others)
    combine: str = "sum"
    tie: float = 0.0


@dataclass
class SegmentTopK:
    doc_ids: np.ndarray  # local doc ids, rank order
    scores: np.ndarray   # float32
    hits: int            # exact for exhaustive paths, lower bound when pruned
    hits_exact: bool


# ---------------- clause evaluation ----------------


def _term_docs_scores(
    tp: TermPostings | None, norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a term clause -> (sorted local docs, float32 scores)."""
    if tp is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    docs, freqs, _ = decode_term_postings(tp)
    if clause.const_score is not None:
        return docs, np.full(len(docs), np.float32(clause.const_score))
    if clause.scorer is None:  # pure filter/exclusion use: no scores needed
        return docs, np.zeros(len(docs), np.float32)
    return docs, clause.scorer.score(freqs, norms[docs])


_POS_SHIFT = np.int64(1) << 32  # positions < 2^31, so no key collisions


def _mask_in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a``'s elements in SORTED ``b`` via one
    searchsorted — O(|a| log |b|).  Every postings-derived array in
    this module is doc- (or (doc,pos)-key-) sorted, so this replaces
    ``np.isin(..., assume_unique=True)``, which re-sorts the
    concatenation of both arrays on every call (the measured hot spot
    of the phrase kernel: the q9 hot-hot phrase intersects two
    ~100k-key streams per segment)."""
    if len(b) == 0:
        return np.zeros(len(a), dtype=bool)
    idx = np.searchsorted(b, a)
    np.minimum(idx, len(b) - 1, out=idx)
    return b[idx] == a


def _phrase_docs_scores(
    tps: list[TermPostings | None], norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    """PhraseQuery: exact (slop=0) via vectorized key intersection
    (ExactPhraseMatcher) or sloppy via the greedy matcher
    (SloppyPhraseMatcher); phrase freq scored like a term with the
    summed-idf scorer (BM25Similarity.idfExplain(termStats[]))."""
    if any(tp is None for tp in tps):
        return np.empty(0, np.int64), np.empty(0, np.float32)
    decoded = [decode_term_postings(tp, with_positions=True) for tp in tps]
    if any(d[2] is None for d in decoded):
        raise ValueError("phrase query requires positions in the index")
    return _phrase_core(decoded, norms, clause, group_keys=list(clause.terms))


def _multiphrase_docs_scores(
    posting_map: dict, norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    """MultiPhraseQuery: each slot's alternatives merge into one union
    postings stream (UnionPostingsEnum semantics — distinct (doc, pos)
    pairs of any alternative), then exact/sloppy matching runs as for a
    plain phrase over the union streams."""
    decoded = []
    group_keys = []
    for alt in clause.alts:
        tps = [posting_map.get(t) for t in alt]
        tps = [tp for tp in tps if tp is not None]
        if not tps:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        keys_parts = []
        for tp in tps:
            d, f, p = decode_term_postings(tp, with_positions=True)
            if p is None:
                raise ValueError("multiphrase query requires positions")
            keys_parts.append(np.repeat(d, f) * _POS_SHIFT + p)
        uk = np.unique(np.concatenate(keys_parts))
        d = uk // _POS_SHIFT
        docs, freqs = np.unique(d, return_counts=True)
        decoded.append((docs, freqs, uk % _POS_SHIFT))
        group_keys.append(frozenset(alt))
    return _phrase_core(decoded, norms, clause, group_keys=group_keys)


def _phrase_core(
    decoded: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    norms: np.ndarray,
    clause: ScoringClause,
    group_keys: list,
) -> tuple[np.ndarray, np.ndarray]:
    nterms = len(decoded)
    offs = (
        list(clause.slot_positions)
        if clause.slot_positions is not None
        else list(range(nterms))
    )
    max_off = max(offs)
    if clause.slop == 0:
        # Vectorized exact matching: every (doc, position) packs into
        # one sortable int64 key with the slot offset subtracted, so a
        # phrase occurrence is a key present in EVERY slot's key set —
        # k-1 sorted intersections over flat arrays, no per-doc Python.
        keys = None
        for off, (docs, freqs, poss) in zip(offs, decoded):
            drep = np.repeat(docs, freqs)
            k_off = drep * _POS_SHIFT + (poss - off + max_off + 1)  # non-negative
            keys = k_off if keys is None else keys[
                _mask_in_sorted(keys, k_off)
            ]
            if len(keys) == 0:
                return np.empty(0, np.int64), np.empty(0, np.float32)
        docs, freqs = np.unique(keys // _POS_SHIFT, return_counts=True)
    else:
        # sloppy: candidates from the vectorized conjunction, then the
        # sequential greedy matcher per candidate (see functions/sloppy)
        from .sloppy import sloppy_phrase_freq

        cand = decoded[0][0]
        for docs, _, _ in decoded[1:]:
            cand = cand[_mask_in_sorted(cand, docs)]
        if len(cand) == 0:
            return cand, np.empty(0, np.float32)
        slices = []
        for docs, freqs, poss in decoded:
            bounds = np.concatenate(([0], np.cumsum(freqs)))
            idx = np.searchsorted(docs, cand)
            slices.append((bounds, idx, poss))
        offsets = offs
        out_docs, out_freqs = [], []
        for ci in range(len(cand)):
            pos_lists = [
                poss[bounds[idx[ci]] : bounds[idx[ci] + 1]]
                for bounds, idx, poss in slices
            ]
            f = sloppy_phrase_freq(pos_lists, offsets, clause.slop, group_keys)
            if f > 0:
                out_docs.append(int(cand[ci]))
                out_freqs.append(f)
        if not out_docs:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        docs = np.asarray(out_docs, dtype=np.int64)
        freqs = np.asarray(out_freqs, dtype=np.float32)
    if clause.const_score is not None:
        return docs, np.full(len(docs), np.float32(clause.const_score))
    return docs, clause.scorer.score(freqs, norms[docs])


def _synonym_docs_scores(
    tps: list, norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    """SynonymQuery: per-doc freq = sum of sub-term freqs, scored once
    with the blended pseudo-term scorer (SynonymQuery.java:564-575)."""
    tps = [tp for tp in tps if tp is not None]
    if not tps:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    parts = [decode_term_postings(tp)[:2] for tp in tps]
    all_docs = np.concatenate([p[0] for p in parts])
    all_freqs = np.concatenate([p[1] for p in parts])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    freq_sum = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(freq_sum, inv, all_freqs)
    if clause.const_score is not None:
        return uniq, np.full(len(uniq), np.float32(clause.const_score))
    if clause.scorer is None:
        return uniq, np.zeros(len(uniq), np.float32)
    return uniq, clause.scorer.score(freq_sum, norms[uniq])


def _ordered_span_exists(pls: list[np.ndarray], slop: int) -> bool:
    """SpanNearQuery(inOrder=true): an increasing chain p_0<p_1<..<p_k
    with total width p_k - p_0 - (k-1) <= slop.  For each start the
    greedy next-position chain minimizes the end, so scanning starts
    decides existence in O(total positions) searchsorted steps."""
    k = len(pls)
    for p0 in pls[0]:
        prev = int(p0)
        for i in range(1, k):
            j = np.searchsorted(pls[i], prev, side="right")
            if j >= len(pls[i]):
                # later starts only grow prev — no chain can complete
                return False
            prev = int(pls[i][j])
        if prev - int(p0) - (k - 1) <= slop:
            return True
    return False


def _unordered_span_exists(pls: list[np.ndarray], slop: int) -> bool:
    """SpanNearQuery(inOrder=false): some window holds one occurrence
    of EVERY term with width - k <= slop — the classic minimal covering
    window sweep over the merged tagged position stream."""
    k = len(pls)
    pos = np.concatenate(pls)
    lab = np.repeat(np.arange(k), [len(p) for p in pls])
    order = np.argsort(pos, kind="stable")
    pos, lab = pos[order], lab[order]
    counts = np.zeros(k, dtype=np.int64)
    have = 0
    lo = 0
    for hi in range(len(pos)):
        counts[lab[hi]] += 1
        if counts[lab[hi]] == 1:
            have += 1
        while have == k:
            if int(pos[hi]) - int(pos[lo]) - (k - 1) <= slop:
                return True
            counts[lab[lo]] -= 1
            if counts[lab[lo]] == 0:
                have -= 1
            lo += 1
    return False


def _decode_span_term(posting_map: dict, term: str):
    tp = posting_map.get(term)
    if tp is None:
        return None
    d, f, p = decode_term_postings(tp, with_positions=True)
    if p is None:
        raise ValueError("span query requires positions in the index")
    return d, f, p


def _span_clause_stream(posting_map: dict, spec):
    """One span clause -> its occurrence stream (docs, freqs, poss), or
    None when the clause cannot match in this segment.

    * str: the term's postings,
    * SpanOrQuery: distinct (doc, pos) union of the member terms
      (SpanOrQuery.java:45 — union of sub-spans),
    * SpanNotQuery: include occurrences with any occurrence of the
      exclude term within [p - pre, p + post] removed
      (SpanNotQuery.java accept():176-188 specialised to term spans).
    """
    from ..plans.queries import SpanNotQuery, SpanOrQuery

    if isinstance(spec, str):
        return _decode_span_term(posting_map, spec)
    if isinstance(spec, SpanOrQuery):
        keys_parts = []
        for t in spec.terms:
            dec = _decode_span_term(posting_map, t)
            if dec is None:
                continue
            d, f, p = dec
            keys_parts.append(np.repeat(d, f) * _POS_SHIFT + p)
        if not keys_parts:
            return None
        uk = np.unique(np.concatenate(keys_parts))
        docs, freqs = np.unique(uk // _POS_SHIFT, return_counts=True)
        return docs, freqs, uk % _POS_SHIFT
    if isinstance(spec, SpanNotQuery):
        dec = _decode_span_term(posting_map, spec.include)
        if dec is None:
            return None
        d, f, p = dec
        exc = _decode_span_term(posting_map, spec.exclude)
        if exc is None:
            return d, f, p
        ed, ef, ep = exc
        # flat vectorized window test: include occurrence (doc, pos)
        # survives iff no exclude key falls in the doc-scoped interval
        # [pos - pre, pos + post] (both streams are (doc, pos)-sorted)
        inc_doc = np.repeat(d, f)
        exc_keys = np.repeat(ed, ef) * _POS_SHIFT + ep
        lo = np.searchsorted(
            exc_keys, inc_doc * _POS_SHIFT + np.maximum(p - spec.pre, 0)
        )
        hi = np.searchsorted(
            exc_keys, inc_doc * _POS_SHIFT + (p + spec.post), side="right"
        )
        keep = lo == hi
        if not keep.any():
            return None
        kd, kp = inc_doc[keep], p[keep]
        docs, freqs = np.unique(kd, return_counts=True)
        return docs, freqs, kp
    raise TypeError(f"bad span clause {type(spec).__name__}")


def _span_near_docs_scores(
    posting_map: dict, norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    specs = clause.span_specs if clause.span_specs is not None else clause.terms
    decoded = [_span_clause_stream(posting_map, spec) for spec in specs]
    if any(d is None for d in decoded):
        return np.empty(0, np.int64), np.empty(0, np.float32)
    cand = decoded[0][0]
    for docs, _, _ in decoded[1:]:
        cand = cand[_mask_in_sorted(cand, docs)]
    if len(cand) == 0:
        return cand, np.empty(0, np.float32)
    slices = []
    for docs, freqs, poss in decoded:
        bounds = np.concatenate(([0], np.cumsum(freqs)))
        idx = np.searchsorted(docs, cand)
        slices.append((bounds, idx, poss))
    check = _ordered_span_exists if clause.in_order else _unordered_span_exists
    out = []
    for ci in range(len(cand)):
        pls = [
            poss[bounds[idx[ci]] : bounds[idx[ci] + 1]]
            for bounds, idx, poss in slices
        ]
        if clause.span_range is not None:
            # a span is inside [start, end) iff EVERY covered position
            # is (positions of a span are bracketed by its first/last),
            # so clipping the per-slot streams is exact
            lo, hi = clause.span_range
            pls = [pl[(pl >= lo) & (pl < hi)] for pl in pls]
            if any(len(pl) == 0 for pl in pls):
                continue
        if check(pls, clause.slop):
            out.append(int(cand[ci]))
    docs = np.asarray(out, dtype=np.int64)
    score = np.float32(clause.const_score or 0.0)
    return docs, np.full(len(docs), score)


def _big_span_coverage(pls: list[np.ndarray], slop: int) -> list[tuple[int, int]]:
    """All (start, max achievable end) coverage intervals of an ordered
    span-near over per-slot position lists — for each start position s
    the greedy chain minimises the end (e_min); every last-slot
    position in [e_min, s + slop + k - 1] extends some valid chain
    (intermediates are unchanged and stay below it), so the spans
    starting at s cover exactly [s, e] for e in that clipped set.
    Mirrors NearSpansOrdered's per-start enumeration
    (L/search/spans/NearSpansOrdered.java stretchToOrder/shrink)."""
    k = len(pls)
    out = []
    if k == 1:
        return [(int(p), int(p)) for p in pls[0]]
    last = pls[-1]
    for p0 in pls[0]:
        s = int(p0)
        prev = s
        ok = True
        for i in range(1, k):
            j = np.searchsorted(pls[i], prev, side="right")
            if j >= len(pls[i]):
                ok = False
                break
            prev = int(pls[i][j])
        if not ok:
            break  # later starts only grow prev — no chain can complete
        e_min = prev
        e_cap = s + slop + (k - 1)
        if e_min > e_cap:
            continue
        j = np.searchsorted(last, e_cap, side="right") - 1
        if j < 0 or int(last[j]) < e_min:
            continue
        out.append((s, int(last[j])))
    return out


def _span_contain_docs_scores(
    posting_map: dict, norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    """SpanContainingQuery / SpanWithinQuery
    (L/search/spans/SpanContainingQuery.java:30, SpanWithinQuery.java:31,
    ContainSpans.java twoPhaseCurrentDocMatches): a document matches
    when some big span [bs, be] covers a little occurrence q
    (bs <= q <= be).  ``span_range`` filters the EMITTED side before
    the containment test: big spans for "containing" (clip every big
    slot stream — a chain lies in [lo, hi) iff all its positions do),
    little occurrences for "within"."""
    specs = clause.span_specs if clause.span_specs is not None else clause.terms
    decoded = [_span_clause_stream(posting_map, spec) for spec in specs]
    lit = _span_clause_stream(posting_map, clause.little_spec)
    if lit is None or any(d is None for d in decoded):
        return np.empty(0, np.int64), np.empty(0, np.float32)
    cand = decoded[0][0]
    for docs, _, _ in decoded[1:]:
        cand = cand[_mask_in_sorted(cand, docs)]
    cand = cand[_mask_in_sorted(cand, lit[0])]
    if len(cand) == 0:
        return cand, np.empty(0, np.float32)
    slices = []
    for docs, freqs, poss in decoded + [lit]:
        bounds = np.concatenate(([0], np.cumsum(freqs)))
        idx = np.searchsorted(docs, cand)
        slices.append((bounds, idx, poss))
    rng = clause.span_range
    out = []
    for ci in range(len(cand)):
        pls = [
            poss[bounds[idx[ci]] : bounds[idx[ci] + 1]]
            for bounds, idx, poss in slices
        ]
        lps = pls.pop()
        if rng is not None:
            lo, hi = rng
            if clause.contain_emit == "big":
                pls = [pl[(pl >= lo) & (pl < hi)] for pl in pls]
                if any(len(pl) == 0 for pl in pls):
                    continue
            else:
                lps = lps[(lps >= lo) & (lps < hi)]
                if len(lps) == 0:
                    continue
        if any(
            ((lps >= s) & (lps <= e)).any()
            for s, e in _big_span_coverage(pls, clause.slop)
        ):
            out.append(int(cand[ci]))
    docs = np.asarray(out, dtype=np.int64)
    score = np.float32(clause.const_score or 0.0)
    return docs, np.full(len(docs), score)


def _intervals_docs_scores(
    posting_map: dict, norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    """IntervalQuery clause: per candidate doc, compute the minimal
    intervals of the source tree and score the saturation of the
    sloppy interval frequency (functions/intervals; IntervalScorer)."""
    from .intervals import (
        all_terms,
        interval_freq,
        min_extent,
        minimal_intervals,
        required_terms,
        resolve_multiterm,
        saturation_score,
    )

    src, pivot, boost = clause.interval_q
    # expand any multi-term sources against this segment's local terms
    # (MultiTermIntervalsSource per-leaf expansion; reserved tokens are
    # never candidates)
    src = resolve_multiterm(
        src,
        [t for t in posting_map if not t.startswith(("\x00", "\x01"))],
    )
    decoded = {}
    for t in sorted(all_terms(src)):
        tp = posting_map.get(t)
        if tp is None:
            continue
        d, f, p = decode_term_postings(tp, with_positions=True)
        if p is None:
            raise ValueError("interval query requires positions in the index")
        decoded[t] = (d, f, p, np.concatenate(([0], np.cumsum(f))))
    req = required_terms(src)
    if any(t not in decoded for t in req):
        return np.empty(0, np.int64), np.empty(0, np.float32)
    if req:
        cand = None
        for t in req:
            d = decoded[t][0]
            cand = d if cand is None else cand[_mask_in_sorted(cand, d)]
    else:
        if not decoded:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        cand = np.unique(np.concatenate([v[0] for v in decoded.values()]))
    if len(cand) == 0:
        return cand, np.empty(0, np.float32)
    m_ext = min_extent(src)
    out_docs, out_scores = [], []
    for doc in cand:
        pm = {}
        for t, (d, f, p, bounds) in decoded.items():
            j = np.searchsorted(d, doc)
            if j < len(d) and d[j] == doc:
                pm[t] = p[bounds[j] : bounds[j + 1]]
        ivs = minimal_intervals(src, pm)
        if not ivs:
            continue
        out_docs.append(int(doc))
        if clause.const_score is not None:
            out_scores.append(np.float32(clause.const_score))
        else:
            out_scores.append(
                saturation_score(interval_freq(ivs, m_ext), pivot, boost)
            )
    return (
        np.asarray(out_docs, dtype=np.int64),
        np.asarray(out_scores, dtype=np.float32),
    )


def _eval_clause(
    posting_map: dict[str, TermPostings], norms: np.ndarray, clause: ScoringClause
) -> tuple[np.ndarray, np.ndarray]:
    if clause.kind == "intervals":
        return _intervals_docs_scores(posting_map, norms, clause)
    if clause.kind == "synonym":
        return _synonym_docs_scores(
            [posting_map.get(t) for t in clause.terms], norms, clause
        )
    if clause.kind == "union_pred":
        # distributed multi-term union: select this segment's matching
        # terms by predicate (the Python check is the exact semantics;
        # the JVM scan filter was a superset) and union their postings.
        # Reserved tokens (\x00 sentinel/matchnone, \x01 point/delete
        # doc-id masks) are never expansion candidates.
        hits = [
            posting_map[t]
            for t in posting_map
            if not (t.startswith("\x00") or t.startswith("\x01"))
            and clause.pred(t)
        ]
        return _synonym_docs_scores(hits, norms, clause)
    if clause.kind == "multiphrase":
        return _multiphrase_docs_scores(posting_map, norms, clause)
    if clause.kind == "span_near":
        return _span_near_docs_scores(posting_map, norms, clause)
    if clause.kind == "span_contain":
        return _span_contain_docs_scores(posting_map, norms, clause)
    if clause.sub is not None:
        res = score_segment(posting_map, norms, clause.sub, None, prune=False)
        if clause.const_score is not None:
            return res.doc_ids, np.full(
                len(res.doc_ids), np.float32(clause.const_score)
            )
        return res.doc_ids, res.scores
    if clause.is_phrase:
        return _phrase_docs_scores(
            [posting_map.get(t) for t in clause.terms], norms, clause
        )
    return _term_docs_scores(posting_map.get(clause.terms[0]), norms, clause)


# ---------------- top-k selection ----------------


def _topk(
    docs: np.ndarray, scores: np.ndarray, k: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """(score desc, doc asc) top-k — HitQueue.lessThan order.
    k=None returns everything in doc order (bulk mode)."""
    if len(docs) == 0 or k is None:
        return docs, scores.astype(np.float32)
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[order], scores[order].astype(np.float32)


def _heap_insert(heap: list, k: int, docs: np.ndarray, scores: np.ndarray) -> None:
    """Bulk top-k insertion, docs ascending (TopScoreDocCollector's
    collect loop).  Tie-break is Lucene's: strict >, so an equal score
    on a later doc never displaces an earlier one.  A vectorized
    prefilter against the pre-insert heap minimum keeps the Python
    loop to candidates that can actually compete."""
    n = len(docs)
    if len(heap) < k:
        take = min(k - len(heap), n)
        for i in range(take):
            heapq.heappush(heap, (scores[i], -int(docs[i])))
        if take == n:
            return
        docs, scores = docs[take:], scores[take:]
    mask = scores > heap[0][0]
    if not mask.any():
        return
    for d, s in zip(docs[mask], scores[mask]):
        if s > heap[0][0]:
            heapq.heapreplace(heap, (s, -int(d)))


def _heap_topk(heap: list) -> tuple[np.ndarray, np.ndarray]:
    entries = sorted(heap, key=lambda e: (-float(e[0]), -e[1]))
    docs = np.asarray([-e[1] for e in entries], dtype=np.int64)
    scores = np.asarray([e[0] for e in entries], dtype=np.float32)
    return docs, scores


# ---------------- main kernel ----------------


def _after_mask(
    docs: np.ndarray, scores: np.ndarray, after: tuple | None
) -> np.ndarray | None:
    """Paging cursor (searchAfter): True for hits STRICTLY after
    (a_score desc, a_doc asc) — exact float32 comparison, so page
    boundaries are stable (TopScoreDocCollector paging collector)."""
    if after is None:
        return None
    a_s, a_d = np.float32(after[0]), int(after[1])
    return (scores < a_s) | ((scores == a_s) & (docs > a_d))


def score_segment(
    posting_map: dict[str, TermPostings],
    norms: np.ndarray,
    cq: CompiledQuery,
    k: int | None,
    total_hits_threshold: int = 1000,
    prune: bool = True,
    num_docs: int | None = None,
    min_competitive: float = 0.0,
    after: tuple | None = None,
) -> SegmentTopK:
    """Evaluate one compiled boolean query against one segment.

    ``k=None`` returns ALL matches in doc order (bulk-collector /
    filter mode — the BooleanScorer COMPLETE analog); pruning is then
    meaningless and disabled.

    ``min_competitive`` is a cross-segment score floor (the
    MaxScoreAccumulator analog, L/search/MaxScoreAccumulator.java used
    at TopScoreDocCollector.java:303-318): windows whose upper bound is
    STRICTLY below it are skipped immediately, before this segment's
    own heap fills.  Strict comparison keeps equal-score docs alive for
    the doc-id tie-break, so results stay exact."""
    if k is None:
        prune = False
    required = cq.musts + cq.filters
    if cq.match_all and not required:
        # MatchAllDocs (score boost * 1.0) minus exclusions.  SHOULD
        # clauses still contribute their scores over the match-all
        # candidates, and minimumShouldMatch still filters — Lucene
        # keeps the optional sub-scorers alive under a required
        # MatchAll (Boolean2ScorerSupplier.java: req + opt branch).
        n = num_docs if num_docs is not None else len(norms)
        cand = np.arange(n, dtype=np.int64)
        cand = _apply_must_nots(cand, posting_map, norms, cq.must_nots)
        acc = np.full(
            len(cand), np.float64(np.float32(cq.match_all_score)), dtype=np.float64
        )
        cand, acc = _add_shoulds(posting_map, norms, cq, cand, acc)
        final = acc.astype(np.float32)
        n_hits = len(cand)
        m = _after_mask(cand, final, after)
        if m is not None:
            cand, final = cand[m], final[m]
        d, s = _topk(cand, final, k)
        return SegmentTopK(d, s, n_hits, True)
    if required:
        simple_and = (
            prune
            and k is not None
            and not cq.shoulds
            and not cq.must_nots
            and all(
                (not c.is_phrase) and c.sub is None and c.kind == "term"
                for c in required
            )
        )
        if simple_and:
            return _bm_conjunction(
                posting_map, norms, cq, k, total_hits_threshold,
                min_competitive=min_competitive, after=after,
            )
        return _conjunctive(posting_map, norms, cq, k, after=after)
    # pure disjunction
    simple = all(
        (not c.is_phrase) and c.const_score is None and c.sub is None
        and c.kind == "term"
        for c in cq.shoulds
    )
    if (prune and simple and max(cq.msm, 1) == 1 and not cq.must_nots
            and cq.combine == "sum"):
        return _wand_or(posting_map, norms, cq.shoulds, k, total_hits_threshold,
                        min_competitive=min_competitive, after=after)
    return _exhaustive_or(posting_map, norms, cq, k, after=after)


def _apply_must_nots(cand, posting_map, norms, must_nots):
    for c in must_nots:
        nd, _ = _eval_clause(posting_map, norms, c)
        if len(nd):
            cand = cand[~_mask_in_sorted(cand, nd)]
    return cand


def _add_shoulds(posting_map, norms, cq: CompiledQuery, cand, acc):
    """Add optional (SHOULD) contributions onto the required-candidate
    accumulator and enforce minimumShouldMatch (ReqOptSumScorer +
    MinShouldMatch filtering over a required candidate set)."""
    if not cq.shoulds:
        if cq.msm > 0:  # msm > 0 with zero SHOULD clauses matches nothing
            return cand[:0], acc[:0]
        return cand, acc
    match_counts = np.zeros(len(cand), dtype=np.int64)
    for c in cq.shoulds:
        docs, scores = _eval_clause(posting_map, norms, c)
        if len(docs) == 0:
            continue
        idx = np.searchsorted(docs, cand)
        safe = np.minimum(idx, len(docs) - 1)
        present = docs[safe] == cand
        acc[present] += scores[safe[present]].astype(np.float64)
        match_counts += present
    if cq.msm > 0:
        keep = match_counts >= cq.msm
        cand, acc = cand[keep], acc[keep]
    return cand, acc


def _conjunctive(
    posting_map, norms, cq: CompiledQuery, k: int, after: tuple | None = None
) -> SegmentTopK:
    """AND path: leapfrog intersection, rarest clause first
    (ConjunctionDISI cost ordering), then ReqOptSum scoring."""
    evaluated = [
        (True, *_eval_clause(posting_map, norms, c)) for c in cq.musts
    ] + [
        (False, *_eval_clause(posting_map, norms, c)) for c in cq.filters
    ]
    evaluated.sort(key=lambda t: len(t[1]))  # rarest-first
    cand = evaluated[0][1]
    for _, docs, _ in evaluated[1:]:
        if len(cand) == 0:
            break
        cand = cand[_mask_in_sorted(cand, docs)]
    cand = _apply_must_nots(cand, posting_map, norms, cq.must_nots)
    if len(cand) == 0:
        return SegmentTopK(cand, np.empty(0, np.float32), 0, True)
    acc = np.zeros(len(cand), dtype=np.float64)
    for scoring, docs, scores in evaluated:
        if not scoring:
            continue  # FILTER: matches but contributes no score
        idx = np.searchsorted(docs, cand)
        acc += scores[idx].astype(np.float64)
    # optional (SHOULD) contributions + minimumShouldMatch filter
    cand, acc = _add_shoulds(posting_map, norms, cq, cand, acc)
    final = acc.astype(np.float32)
    n_hits = len(cand)
    m = _after_mask(cand, final, after)
    if m is not None:
        cand, final = cand[m], final[m]
    d, s = _topk(cand, final, k)
    return SegmentTopK(d, s, n_hits, True)


def _exhaustive_or(
    posting_map, norms, cq: CompiledQuery, k: int, after: tuple | None = None
) -> SegmentTopK:
    """COMPLETE-mode disjunction: scatter-add union (DisjunctionSumScorer)."""
    parts_docs, parts_scores = [], []
    for c in cq.shoulds:
        docs, scores = _eval_clause(posting_map, norms, c)
        parts_docs.append(docs)
        parts_scores.append(scores)
    if not parts_docs or all(len(d) == 0 for d in parts_docs):
        return SegmentTopK(np.empty(0, np.int64), np.empty(0, np.float32), 0, True)
    all_docs = np.concatenate(parts_docs)
    all_scores = np.concatenate(parts_scores)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, all_scores.astype(np.float64))
    if cq.combine == "dismax":
        # score = (float)(max + tie * (sum_f64 - max))
        # (DisjunctionMaxScorer.java:63-75); f64 sums of f32 values are
        # exact here, so sum-minus-max equals the reference's loop
        mx = np.full(len(uniq), -np.inf, dtype=np.float32)
        np.maximum.at(mx, inv, all_scores)
        acc = mx.astype(np.float64) + np.float64(cq.tie) * (
            acc - mx.astype(np.float64)
        )
    counts = np.bincount(inv, minlength=len(uniq))
    keep = counts >= max(cq.msm, 1)
    cand, acc = uniq[keep], acc[keep]
    cand = _apply_must_nots(cand, posting_map, norms, cq.must_nots)
    if len(cand) < len(acc):
        # re-align scores after exclusion
        idx = np.searchsorted(uniq[keep], cand)
        acc = acc[idx]
    final = acc.astype(np.float32)
    n_hits = len(cand)
    m = _after_mask(cand, final, after)
    if m is not None:
        cand, final = cand[m], final[m]
    d, s = _topk(cand, final, k)
    return SegmentTopK(d, s, n_hits, True)


# ---------------- block-max conjunction (pruned AND) ----------------


class _ConjTermState:
    """Per-clause block access for the pruned AND path: random-access
    block decode with per-block cache, plus range queries over the
    skip table (block_last_docs) and the impact score maxes — the
    ImpactsDISI.advanceShallow / MaxScoreCache.getMaxScore pair."""

    __slots__ = ("tp", "clause", "df", "block_last", "block_max", "nb", "cache")

    def __init__(self, tp: TermPostings, clause: ScoringClause):
        self.tp = tp
        self.clause = clause
        self.df = tp.df
        self.block_last = np.asarray(tp.block_last_docs, dtype=np.int64)
        self.nb = len(self.block_last)
        if clause.scorer is not None and clause.const_score is None:
            self.block_max = max_scores_per_block(
                tp.impacts_flat, tp.impacts_offsets, clause.scorer
            )
        elif clause.const_score is not None:
            self.block_max = np.full(self.nb, np.float32(clause.const_score))
        else:  # FILTER: matches but contributes no score
            self.block_max = np.zeros(self.nb, dtype=np.float32)
        self.cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def _block_range(self, ws: int, we: int) -> tuple[int, int]:
        """Blocks whose doc range intersects [ws, we] (block b covers
        (block_last[b-1], block_last[b]])."""
        lo = int(np.searchsorted(self.block_last, ws, side="left"))
        hi = int(np.searchsorted(self.block_last, we, side="left"))
        return lo, min(hi, self.nb - 1)

    def max_in_range(self, ws: int, we: int) -> float:
        lo, hi = self._block_range(ws, we)
        if lo > hi:
            return 0.0
        return float(self.block_max[lo : hi + 1].max())

    def decode_block(self, b: int, norms: np.ndarray):
        hit = self.cache.get(b)
        if hit is not None:
            return hit
        tp = self.tp
        if tp.singleton_doc >= 0:
            docs = np.asarray([tp.singleton_doc], dtype=np.int64)
            freqs = np.asarray([tp.singleton_freq], dtype=np.int64)
        else:
            start = b * BLOCK_SIZE
            n = min(BLOCK_SIZE, tp.df - start)
            deltas = _decode_one_block(
                bytes(tp.doc_blocks[tp.doc_block_offsets[b] : tp.doc_block_offsets[b + 1]]),
                n,
            ).astype(np.int64)
            base = int(self.block_last[b - 1]) if b > 0 else 0
            docs = base + np.cumsum(deltas)
            freqs = _decode_one_block(
                bytes(tp.freq_blocks[tp.freq_block_offsets[b] : tp.freq_block_offsets[b + 1]]),
                n,
            ).astype(np.int64)
        c = self.clause
        if c.const_score is not None:
            scores = np.full(len(docs), np.float32(c.const_score))
        elif c.scorer is None:
            scores = np.zeros(len(docs), dtype=np.float32)
        else:
            scores = c.scorer.score(freqs, norms[docs])
        self.cache[b] = (docs, scores)
        return docs, scores

    def docs_scores_in_range(self, ws: int, we: int, norms: np.ndarray):
        lo, hi = self._block_range(ws, we)
        if lo > hi:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        parts = [self.decode_block(b, norms) for b in range(lo, hi + 1)]
        docs = np.concatenate([p[0] for p in parts])
        scores = np.concatenate([p[1] for p in parts])
        s = np.searchsorted(docs, ws, side="left")
        e = np.searchsorted(docs, we, side="right")
        return docs[s:e], scores[s:e]


def _bm_conjunction(
    posting_map, norms, cq: CompiledQuery, k: int, threshold: int,
    min_competitive: float = 0.0, after: tuple | None = None,
) -> SegmentTopK:
    """Pruned AND: lead with the rarest clause's blocks; a window is
    decoded only when the float32-safe sum of per-clause block maxes
    can beat the current heap minimum
    (BlockMaxConjunctionScorer.java:101-140 advanceTarget +
    Boolean2ScorerSupplier.java:169-175 selection).  Results are
    bitwise-identical to the exhaustive path; only `hits` degrades to
    a lower bound once a window is skipped."""
    states = []
    for c in cq.musts + cq.filters:
        tp = posting_map.get(c.terms[0])
        if tp is None:  # a required term absent from the segment
            return SegmentTopK(np.empty(0, np.int64), np.empty(0, np.float32), 0, True)
        states.append(_ConjTermState(tp, c))
    states.sort(key=lambda s: s.df)
    lead, others = states[0], states[1:]
    heap: list[tuple[float, int]] = []
    hits = 0
    pruned_any = False
    inf32 = np.float32(np.inf)
    floor = np.float32(min_competitive)
    for b in range(lead.nb):
        ws = int(lead.block_last[b - 1]) + 1 if b > 0 else 0
        we = int(lead.block_last[b])
        local_on = len(heap) >= k and hits >= threshold
        if local_on or floor > 0:
            bound64 = float(lead.block_max[b])
            for s in others:
                bound64 += s.max_in_range(ws, we)
            bound = np.nextafter(np.float32(bound64), inf32)
            # local heap floor prunes at <= (later ties lose by doc id);
            # the cross-segment floor prunes STRICTLY below only
            if (local_on and bound <= heap[0][0]) or bound < floor:
                pruned_any = True
                continue  # skip the window WITHOUT decoding any clause
        cand, lead_scores = lead.decode_block(b, norms)
        acc = lead_scores.astype(np.float64)
        for s in others:
            od, oscores = s.docs_scores_in_range(ws, we, norms)
            if len(od) == 0:
                cand = cand[:0]
                break
            idx = np.searchsorted(od, cand)
            safe = np.minimum(idx, len(od) - 1)
            present = od[safe] == cand
            cand = cand[present]
            acc = acc[present] + oscores[safe[present]].astype(np.float64)
            if len(cand) == 0:
                break
        if len(cand) == 0:
            continue
        final = acc.astype(np.float32)
        hits += len(cand)
        m = _after_mask(cand, final, after)
        if m is not None:
            cand, final = cand[m], final[m]
        _heap_insert(heap, k, cand, final)
    docs, scores = _heap_topk(heap)
    return SegmentTopK(docs, scores, hits, hits_exact=not pruned_any)


# ---------------- block-max WAND ----------------


class _TermState:
    __slots__ = (
        "tp", "scorer", "block_last", "block_max", "nb", "cur",
        "dec_docs", "dec_scores", "ptr",
    )

    def __init__(self, tp: TermPostings, scorer: BM25Scorer):
        self.tp = tp
        self.scorer = scorer
        self.block_last = np.asarray(tp.block_last_docs, dtype=np.int64)
        self.block_max = max_scores_per_block(
            tp.impacts_flat, tp.impacts_offsets, scorer
        )
        self.nb = len(self.block_last)
        self.cur = 0
        self.dec_docs = None
        self.dec_scores = None
        self.ptr = 0

    def decode_current(self, norms: np.ndarray) -> None:
        if self.dec_docs is not None:
            return
        tp = self.tp
        if tp.singleton_doc >= 0:
            docs = np.asarray([tp.singleton_doc], dtype=np.int64)
            freqs = np.asarray([tp.singleton_freq], dtype=np.int64)
        else:
            b = self.cur
            start = b * BLOCK_SIZE
            n = min(BLOCK_SIZE, tp.df - start)
            deltas = _decode_one_block(
                bytes(tp.doc_blocks[tp.doc_block_offsets[b] : tp.doc_block_offsets[b + 1]]), n
            ).astype(np.int64)
            base = self.block_last[b - 1] if b > 0 else 0
            docs = base + np.cumsum(deltas)
            freqs = _decode_one_block(
                bytes(tp.freq_blocks[tp.freq_block_offsets[b] : tp.freq_block_offsets[b + 1]]), n
            ).astype(np.int64)
        self.dec_docs = docs
        self.dec_scores = self.scorer.score(freqs, norms[docs])
        self.ptr = 0

    def advance_block(self) -> None:
        self.cur += 1
        self.dec_docs = None
        self.dec_scores = None
        self.ptr = 0


def _wand_or(
    posting_map, norms, shoulds: list[ScoringClause], k: int, threshold: int,
    min_competitive: float = 0.0, after: tuple | None = None,
) -> SegmentTopK:
    states = [
        _TermState(posting_map[c.terms[0]], c.scorer)
        for c in shoulds
        if c.terms[0] in posting_map
    ]
    if not states:
        return SegmentTopK(np.empty(0, np.int64), np.empty(0, np.float32), 0, True)
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap
    hits = 0
    pruned_any = False
    inf32 = np.float32(np.inf)
    floor = np.float32(min_competitive)
    while True:
        active = [s for s in states if s.cur < s.nb]
        if not active:
            break
        window_end = min(int(s.block_last[s.cur]) for s in active)
        local_on = len(heap) >= k and hits >= threshold
        if local_on or floor > 0:
            bound64 = 0.0
            for s in active:
                # block can only contribute if it may contain docs <= window_end
                prev_last = int(s.block_last[s.cur - 1]) if s.cur > 0 else -1
                if prev_last < window_end:
                    bound64 += float(s.block_max[s.cur])
            bound = np.nextafter(np.float32(bound64), inf32)
            # cross-segment floor prunes STRICTLY below (tie-break safety)
            if (local_on and bound <= heap[0][0]) or bound < floor:
                pruned_any = True
                for s in active:
                    if s.cur < s.nb and int(s.block_last[s.cur]) == window_end:
                        s.advance_block()
                continue
        # decode + gather window candidates
        parts_docs, parts_scores = [], []
        for s in active:
            prev_last = int(s.block_last[s.cur - 1]) if s.cur > 0 else -1
            if prev_last >= window_end:
                continue
            s.decode_current(norms)
            hi = np.searchsorted(s.dec_docs, window_end, side="right")
            if hi > s.ptr:
                parts_docs.append(s.dec_docs[s.ptr : hi])
                parts_scores.append(s.dec_scores[s.ptr : hi])
                s.ptr = hi
        if parts_docs:
            all_docs = np.concatenate(parts_docs)
            all_scores = np.concatenate(parts_scores)
            uniq, inv = np.unique(all_docs, return_inverse=True)
            acc = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(acc, inv, all_scores.astype(np.float64))
            final = acc.astype(np.float32)
            hits += len(uniq)
            m = _after_mask(uniq, final, after)
            if m is not None:
                uniq, final = uniq[m], final[m]
            _heap_insert(heap, k, uniq, final)
        for s in active:
            if s.cur < s.nb and int(s.block_last[s.cur]) == window_end:
                s.advance_block()
    docs, scores = _heap_topk(heap)
    return SegmentTopK(docs, scores, hits, hits_exact=not pruned_any)
