"""Distributed IndexSearcher: per-segment kernels + driver top-k merge.

Execution model (mirrors IndexSearcher leaf slices,
IndexSearcher.java:571-668, re-expressed Spark-first):

1. driver: rewrite query (plans/rewrite), fetch global term stats from
   the termdict (a tiny pushed-down scan), bind BM25 weights
   (plans/planner) — the Weight-creation phase,
2. executors: scan the segments table with ``term IN (...)`` pushed
   into parquet (row-group pruning on the sorted term column = the FST
   term-index analog), cogroup with per-segment norms, run the numpy
   scoring kernel (functions/wand) per segment — the leaf-slice
   collection phase,
3. driver: heap-merge the per-segment top-k by (score desc, doc asc)
   — TopDocs.merge (TopDocs.java:188-246), trivially cheap because
   its input is ``num_segments × k`` rows.

Column pruning: queries without phrases never read ``pos_blocks`` —
the parquet column simply isn't scanned (the ".pos file" stays cold).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_TOTAL_HITS_THRESHOLD, MAX_CLAUSE_COUNT, EngineConfig  # noqa: F401
from ..functions.codec import TermPostings
from ..functions.wand import CompiledQuery, ScoringClause, score_segment
from .deletes import DELETES_TOKEN, load_live_docs, read_generation
from .segments import SENTINEL_TERM
from ..plans import planner, rewrite as rw
from ..plans.queries import (
    FuzzyQuery,
    PointRangeQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    TermInSetQuery,
    TermRangeQuery,
    WildcardQuery,
)

RESULT_SCHEMA = (
    "segment_id int, doc_id bigint, score float, hits bigint, hits_exact boolean"
)


@dataclass
class TopDocs:
    """TopDocs + ScoreDoc[] analog."""

    total_hits: int
    relation: str  # "EQ" exact | "GTE" lower bound (pruned)
    doc_ids: np.ndarray
    scores: np.ndarray

    def to_pandas(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(self.doc_ids) + 1),
                "doc_id": self.doc_ids,
                "score": self.scores,
            }
        )


@dataclass(frozen=True)
class PreparedQuery:
    """A query made ready for the segment kernels (the Weight-creation
    phase): rewritten, compiled against its term stats (``cq`` is None
    when it can match nothing), its point clauses and multi-term
    predicates collected and the IndexOrDocValues access plan chosen."""

    query: Query
    terms: set
    cq: CompiledQuery | None
    point_qs: set
    mt_qs: tuple
    lead: tuple | None
    dv_keys: frozenset


def rows_to_posting_map(pdf: pd.DataFrame) -> dict[str, TermPostings]:
    out: dict[str, TermPostings] = {}
    has_pos = "pos_blocks" in pdf.columns
    for r in pdf.itertuples(index=False):
        out[r.term] = TermPostings(
            df=int(r.df),
            ttf=int(r.ttf),
            singleton_doc=int(r.singleton_doc),
            singleton_freq=int(r.singleton_freq),
            doc_blocks=bytes(r.doc_blocks),
            doc_block_offsets=np.asarray(r.doc_block_offsets, dtype=np.int32),
            freq_blocks=bytes(r.freq_blocks),
            freq_block_offsets=np.asarray(r.freq_block_offsets, dtype=np.int32),
            pos_blocks=bytes(r.pos_blocks) if has_pos else b"",
            pos_block_offsets=(
                np.asarray(r.pos_block_offsets, dtype=np.int32)
                if has_pos
                else np.empty(0, np.int32)
            ),
            block_last_docs=np.asarray(r.block_last_docs, dtype=np.int32),
            impacts_flat=np.asarray(r.impacts_flat, dtype=np.int32),
            impacts_offsets=np.asarray(r.impacts_offsets, dtype=np.int32),
        )
    return out


class QueryCache:
    """LRUQueryCache analog (L/search/LRUQueryCache.java +
    UsageTrackingQueryCachingPolicy.java): caches the per-segment
    docsets of filter-usable clauses (point ranges) as BROADCASTS of
    their encoded ``{segment_id: TermPostings}`` (codec.encode_docsets)
    — the kernel applies them as masks, like the reference intersects
    its cached per-leaf DocIdSet inside the scorer.  The live-docs mask
    is not cached here: the searcher loads it per del generation.

    Admission mirrors the usage-tracking policy: a clause key is cached
    only once it has been seen ``min_uses`` times.  Eviction is LRU over
    distinct clause keys, bounded by BOTH ``max_queries`` (the
    reference's maxSize=1000) and ``max_bytes`` (the maxRamBytesUsed
    analog: an entry's size is its exact encoded byte count; entries
    larger than the whole budget are never admitted, like the
    reference's per-query size gate).  An evicted broadcast is left to
    Spark's context cleaner: lazy matches_df / score_all_df plans may
    still hold it.  Keys embed the index identity + generation (deletes
    epoch) + the Spark application id (searchers stamp it in), so ONE
    cache can safely be shared across searchers (the reference shares
    its cache across readers of a segment core), a reopened snapshot
    never serves stale docsets, and a restarted SparkSession never
    serves broadcasts bound to the stopped one.  All mutation happens
    under a lock (the reference's LRUQueryCache synchronizes on itself
    the same way)."""

    def __init__(self, max_queries: int = 32, min_uses: int = 2,
                 history_size: int = 256,
                 max_bytes: int = 256 * 1024 * 1024):
        import threading
        from collections import Counter, OrderedDict, deque

        self.max_queries = max_queries
        self.min_uses = min_uses
        self.max_bytes = max_bytes
        self._uses: Counter = Counter()
        # bounded usage history (the reference's policy keeps a 256-entry
        # ring buffer, UsageTrackingQueryCachingPolicy.java:59): evicting
        # the oldest observation decrements its count, so a long-lived
        # searcher with high filter diversity can't grow _uses unboundedly
        self._history = deque(maxlen=history_size)
        self._cache: OrderedDict = OrderedDict()
        self._sizes: dict = {}
        self.total_bytes = 0
        self.hits = 0
        self.misses = 0
        # guards every read-modify-write of the OrderedDict/Counter —
        # concurrent searchers share the process-wide default cache
        self._lock = threading.RLock()

    def _observe(self, key) -> None:
        if len(self._history) == self._history.maxlen:
            old = self._history[0]
            self._uses[old] -= 1
            if self._uses[old] <= 0:
                del self._uses[old]
        self._history.append(key)
        self._uses[key] += 1

    def _evict_lru(self) -> None:
        key, _ = self._cache.popitem(last=False)
        self.total_bytes -= self._sizes.pop(key, 0)

    def get_or_build(self, key, build_fn):
        """The cached value of ``key``; on a miss ``build_fn()`` ->
        (value, nbytes) builds it, admitted per the policy above."""
        with self._lock:
            if key in self._cache:
                self._cache.move_to_end(key)
                self.hits += 1
                return self._cache[key]
            self.misses += 1
            self._observe(key)
            admit = self._uses[key] >= self.min_uses
        value, size = build_fn()
        if not admit or size > self.max_bytes:
            # below the admission threshold, or a single oversized
            # docset that would evict everything else and still not fit
            return value
        with self._lock:
            if key in self._cache:  # another thread admitted it first
                self._cache.move_to_end(key)
                return self._cache[key]
            self._cache[key] = value
            self._sizes[key] = size
            self.total_bytes += size
            while len(self._cache) > 1 and (
                len(self._cache) > self.max_queries
                or self.total_bytes > self.max_bytes
            ):
                self._evict_lru()  # the newest entry itself fits
        return value

    def clear(self) -> None:
        with self._lock:
            self._cache.clear()
            self._uses.clear()
            self._history.clear()
            self._sizes.clear()
            self.total_bytes = 0


_SHARED_QUERY_CACHE: QueryCache | None = None

# process-wide state for the query-time scan-split guard (see
# IndexSearcher._scan_conf_guard): session conf is global, so nested /
# concurrent guarded actions must share one save/restore
import threading as _threading

_SCAN_CONF_LOCK = _threading.RLock()
_SCAN_CONF_STATE: dict = {"depth": 0}
_MPB = "spark.sql.files.maxPartitionBytes"
_MPN = "spark.sql.files.minPartitionNum"


def _release_scan_conf(conf) -> None:
    """Leave one _scan_conf_guard level; the outermost restores the saved
    split conf, unsetting a key whose original value could not be read."""
    with _SCAN_CONF_LOCK:
        _SCAN_CONF_STATE["depth"] -= 1
        if _SCAN_CONF_STATE["depth"] == 0:
            for key, val in _SCAN_CONF_STATE.pop("saved", {}).items():
                if val is None:
                    conf.unset(key)
                else:
                    conf.set(key, val)


def _default_query_cache() -> QueryCache:
    global _SHARED_QUERY_CACHE
    if _SHARED_QUERY_CACHE is None:
        _SHARED_QUERY_CACHE = QueryCache()
    return _SHARED_QUERY_CACHE


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: EngineConfig | None = None,
                 query_cache: QueryCache | None = None):
        import pyarrow.parquet as pq

        from .build import load_config
        from .stats import read_stats_row

        self.spark = spark
        self.index_dir = index_dir
        self.cfg = cfg or load_config(index_dir)
        # default: ONE process-wide cache shared by every searcher
        # (IndexSearcher.getDefaultQueryCache — the reference installs
        # a single shared LRUQueryCache); keys embed index identity +
        # generation so sharing is safe across indexes and snapshots
        self.query_cache = (
            _default_query_cache() if query_cache is None else query_cache
        )
        # cache-key prefix: index identity + Spark application id — a
        # restarted session gets fresh keys, so the shared cache never
        # serves DataFrames bound to a stopped SparkContext (stale
        # entries age out through normal LRU eviction)
        self._cache_token = (index_dir, spark.sparkContext.applicationId)
        # the one-row stats and few-row colstats tables are read on the
        # driver (no Spark job per reopen)
        row = read_stats_row(os.path.join(index_dir, "stats"))
        # an EMPTY index has NULL aggregate sums — normalize to zeros
        # so every query path degrades to empty results, not errors
        self.stats = planner.CollectionStats(
            int(row["num_docs"] or 0), int(row["doc_count"] or 0),
            int(row["sum_ttf"] or 0), self.cfg.k1, self.cfg.b,
            similarity=self.cfg.similarity,
        )
        self.segments = spark.read.parquet(os.path.join(index_dir, "segments"))
        # norms are a VIEW over the segment sentinels, never a separate
        # table on disk — one fewer build stage/write; the plan prunes
        # to the sentinel rows via the term predicate
        from .segments import norms_from_segments

        self.norms = norms_from_segments(self.segments, self.cfg)
        self.termdict = spark.read.parquet(os.path.join(index_dir, "termdict"))
        self.docmeta_path = os.path.join(index_dir, "docmeta")
        self._live_docs_cache = None  # (del generation, mask broadcast)
        self._seg_align_cache = None  # (segments files snapshot, alignment)
        # optimizer statistics (column histograms) for point-query cost
        # estimation; tolerate their absence (older indexes, or merges
        # of an input without them)
        cs = os.path.join(index_dir, "colstats")
        self._colstats = (
            pq.read_table(cs).to_pandas()
            if os.path.exists(os.path.join(cs, "_SUCCESS"))
            else None
        )

    # ---- segment/file alignment (bucketed-layout shuffle elision) ----

    @staticmethod
    def _bytes_conf(val: str) -> int:
        """Parse a Spark byte-size conf string ("4m", "128k", "1g",
        plain digits = bytes)."""
        s = str(val).strip().lower()
        mult = 1
        for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                       ("t", 1 << 40)):
            if s.endswith(suf + "b"):
                s, mult = s[: -len(suf) - 1], m
                break
            if s.endswith(suf):
                s, mult = s[:-1], m
                break
        else:
            if s.endswith("b"):
                s = s[:-1]
        return int(float(s) * mult)

    def _segments_alignment(self) -> tuple[bool, int, int, int]:
        """(aligned, max_file_bytes, total_bytes, n_files) of the
        segments table.  ``aligned`` is True when NO segment's rows
        straddle two parquet files — guaranteed by the build's
        shuffle-on-segment_id write (every segment lands wholly in one
        reducer's file, the bucketed-table invariant of guide §2.4) and
        VERIFIED here from the files' own segment_id columns, so a
        foreign/merged layout degrades to the shuffle path instead of
        silently splitting a segment across kernels.  Cached on the
        (file, size, mtime) snapshot of the table's files and recomputed
        when it changes (metadata-scale driver work: one dictionary-
        encoded int32 column per file)."""
        import glob

        import pyarrow.parquet as pq

        files = sorted(
            glob.glob(os.path.join(self.index_dir, "segments", "*.parquet"))
        )
        stats = [os.stat(f) for f in files]
        snapshot = [(f, st.st_size, st.st_mtime_ns) for f, st in zip(files, stats)]
        if self._seg_align_cache is not None and self._seg_align_cache[0] == snapshot:
            return self._seg_align_cache[1]
        sizes = [st.st_size for st in stats]
        aligned = True
        seen: set = set()
        try:
            for f in files:
                col = pq.ParquetFile(f).read(columns=["segment_id"])
                ids = set(col.column("segment_id").to_pylist())
                if ids & seen:
                    aligned = False
                    break
                seen |= ids
        except Exception:
            aligned = False
        result = (aligned, max(sizes, default=0), sum(sizes), len(files))
        self._seg_align_cache = (snapshot, result)
        return result

    def _scan_conf_guard(self):
        """Context manager: size the segments scan's splits for QUERY
        work while one of this searcher's own collect actions runs.

        The session default (files.maxPartitionBytes=4m) is tuned for
        the BUILD's tokenize stage, where small splits keep every core
        busy; at query time the same setting makes the pushed-down
        postings scan launch one tiny Python task per file, and local-
        mode task dispatch (~8-10 ms each, serialized on the driver
        event loop) dominates the sub-second wall (measured: trivial
        kernel over 41 tasks 0.585 s vs 11 tasks 0.321 s).  Here the
        split size is derived from the table's ACTUAL size so the task
        count lands near min(parallelism, max(16, bytes/16MB)) — scale-adaptive,
        not a local[32] constant: a 100x bigger segments table gets
        proportionally more tasks, capped by cluster parallelism.

        Only RAISES the split size (never below the live value), holds
        a process-wide reentrant guard so concurrent searches see a
        stable conf, and restores on exit.  Raising can never break the
        whole-file-task invariant (_whole_file_tasks: a larger split
        still never splits a file it previously kept whole)."""
        import contextlib

        @contextlib.contextmanager
        def guard():
            aligned, max_file, total, n_files = self._segments_alignment()
            conf = self.spark.conf
            if n_files == 0:
                yield
                return
            with _SCAN_CONF_LOCK:
                _SCAN_CONF_STATE["depth"] += 1
                try:
                    if _SCAN_CONF_STATE["depth"] == 1:
                        saved = {}
                        for key in (_MPB, _MPN):
                            try:
                                saved[key] = conf.get(key)
                            except Exception:
                                saved[key] = None  # unreadable: unset on exit
                        _SCAN_CONF_STATE["saved"] = saved
                        self._set_query_splits(conf, saved[_MPB], total, n_files)
                except BaseException:
                    _release_scan_conf(conf)
                    raise
            try:
                yield
            finally:
                _release_scan_conf(conf)

        return guard()

    def _set_query_splits(self, conf, old_mpb, total: int, n_files: int) -> None:
        """Raise the scan split size so the task count lands near
        min(parallelism, max(16, bytes/16MB)) (see _scan_conf_guard)."""
        P = max(self.spark.sparkContext.defaultParallelism, 1)
        try:
            ocb = self._bytes_conf(conf.get("spark.sql.files.openCostInBytes"))
            live_mpb = self._bytes_conf(old_mpb) if old_mpb else 0
        except Exception:
            ocb, live_mpb = 4 << 20, 0
        total_eff = total + ocb * n_files
        # floor 16 tasks (dispatch cost ~9 ms/task versus kernel
        # parallelism), ramp with table size from ~16 MB/task, cap at
        # cluster parallelism
        n_tasks = min(max(16, total_eff // (16 << 20)), P)
        target = max(live_mpb, -(-total_eff // max(n_tasks, 1)))
        conf.set(_MPB, str(int(target)))
        conf.set(_MPN, "1")

    def _whole_file_tasks(self) -> bool:
        """True iff Spark's split-size formula guarantees that no
        segments-table parquet file is split across scan tasks under
        the CURRENT session conf (FilePartition.maxSplitBytes:
        min(maxPartitionBytes, max(openCostInBytes, totalBytes /
        minPartitionNum)) with totalBytes counting openCost per file).
        Re-checked per query so a conf change can only ever force the
        safe fallback."""
        aligned, max_file, total, n_files = self._segments_alignment()
        if not aligned or n_files == 0:
            return False
        conf = self.spark.conf
        try:
            mpb = self._bytes_conf(conf.get("spark.sql.files.maxPartitionBytes"))
            ocb = self._bytes_conf(conf.get("spark.sql.files.openCostInBytes"))
        except Exception:
            return False
        try:
            min_pn = int(conf.get("spark.sql.files.minPartitionNum"))
        except Exception:
            try:
                min_pn = int(conf.get("spark.sql.leafNodeDefaultParallelism"))
            except Exception:
                min_pn = self.spark.sparkContext.defaultParallelism
        min_pn = max(min_pn, 1)
        bytes_per_core = (total + ocb * n_files) // min_pn
        max_split = min(mpb, max(ocb, bytes_per_core))
        return max_file <= max_split

    # ---- term dictionary services (FST/automaton analog) ----

    @staticmethod
    def _mt_cond(q: Query):
        """The multi-term query's match condition as a JVM Column over
        ``term`` — pushed into the parquet scan (row-group pruning on
        the sorted term column = the FST term-index analog).  For
        regexp this is a SUPERSET of the Python semantics (Java regex
        dialect); the kernel's predicate re-check is the authority, so
        a superset here is always safe, a subset never is."""
        c = F.col("term")
        if isinstance(q, PrefixQuery):
            return c.startswith(q.prefix)
        if isinstance(q, TermRangeQuery):
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                cond = cond & (c <= q.upper if q.include_upper else c < q.upper)
            return cond
        if isinstance(q, TermInSetQuery):
            return c.isin(list(q.terms))
        if isinstance(q, WildcardQuery):
            import re as _re

            # only escaped literals + .*/. survive the translation,
            # where Java and Python regex semantics coincide; a literal
            # prefix narrows the scan range for min/max pruning
            prefix = q.pattern.split("*")[0].split("?")[0]
            pat = _re.escape(q.pattern).replace(r"\*", ".*").replace(r"\?", ".")
            cond = c.rlike(f"^(?:{pat})$")
            return (c.startswith(prefix) & cond) if prefix else cond
        if isinstance(q, FuzzyQuery):
            # exact same predicate as expand_terms: shared prefix +
            # length band + plain Levenshtein <= max_edits
            prefix = q.term[: q.prefix_length]
            cond = (
                (F.length("term") >= F.lit(len(q.term) - q.max_edits))
                & (F.length("term") <= F.lit(len(q.term) + q.max_edits))
                & (F.levenshtein(c, F.lit(q.term)) <= q.max_edits)
            )
            return (c.startswith(prefix) & cond) if prefix else cond
        if isinstance(q, RegexpQuery):
            return c.rlike(f"^(?:{q.pattern})$")
        raise TypeError(type(q))

    def _rewrite(self, query: Query) -> Query:
        """Full driver-side rewrite: reader-DEPENDENT rewrites first
        (CommonTermsQuery classifies its terms by actual docFreq —
        CommonTermsQuery.java:121-135 rewrite(IndexReader)), then the
        reader-independent fixpoint (plans/rewrite)."""
        return rw.rewrite(self._reader_rewrite(query), self._term_lookup)

    def _reader_rewrite(self, q: Query) -> Query:
        """Resolve CommonTermsQuery nodes anywhere in the tree using
        the termdict's global dfs (collectTermStates analog — one tiny
        pushed-down termdict scan, never a postings walk)."""
        from ..plans import queries as Qs

        if isinstance(q, Qs.CommonTermsQuery):
            return self._build_common_terms(q)
        if isinstance(q, Qs.PhraseWildcardQuery):
            return self._build_phrase_wildcard(q)
        if isinstance(q, Qs.ComplexPhraseQuery):
            return self._build_complex_phrase(q)
        if isinstance(q, Qs.BooleanQuery):
            cl = tuple(
                Qs.BooleanClause(c.occur, self._reader_rewrite(c.query))
                for c in q.clauses
            )
            return Qs.BooleanQuery(cl, q.minimum_should_match) if any(
                a.query is not b.query for a, b in zip(cl, q.clauses)
            ) else q
        for wrap in (Qs.BoostQuery, Qs.ConstantScoreQuery):
            if isinstance(q, wrap):
                inner = self._reader_rewrite(q.query)
                if inner is not q.query:
                    return (
                        Qs.BoostQuery(inner, q.boost)
                        if wrap is Qs.BoostQuery
                        else Qs.ConstantScoreQuery(inner)
                    )
        return q

    def _build_common_terms(self, q) -> Query:
        """CommonTermsQuery.buildQuery(maxDoc, contexts, terms)
        (CommonTermsQuery.java:160-225), faithfully:

        - absent terms join the LOW group (they can never match but
          keep the required semantics, :166-168),
        - high iff (mtf >= 1 and df > mtf) OR df > ceil(mtf * maxDoc)
          (:170-176 — the OR of both thresholds, as written),
        - fractional minShouldMatch rounds against the group size and
          applies only to SHOULD groups (:146-157, 183-189),
        - an all-high query becomes a conjunction unless an explicit
          high msm was set (:190-198),
        - groups are boost-wrapped and combined as MUST(low) +
          SHOULD(high) (:200-223)."""
        import math

        from ..plans import queries as Qs

        if not q.terms:
            return Qs.MatchNoDocsQuery()
        if len(q.terms) == 1:
            return Qs.TermQuery(q.terms[0])
        ts = self._term_stats(set(q.terms))
        max_doc = self.stats.num_docs
        mtf = q.max_term_frequency
        low, high = [], []
        for t in q.terms:
            df = ts.get(t, (0, 0))[0]
            if df == 0:
                low.append(t)
            elif (mtf >= 1.0 and df > mtf) or df > int(
                math.ceil(mtf * float(max_doc))
            ):
                high.append(t)
            else:
                low.append(t)

        def msm(frac: float, n_opt: int) -> int:
            if frac >= 1.0 or frac == 0.0:
                return int(frac)
            # Java Math.round = floor(x + 0.5) (half-UP), not
            # Python's banker's rounding
            return int(math.floor(frac * n_opt + 0.5))

        low_occur, high_occur = q.low_freq_occur, q.high_freq_occur
        low_msm = msm(q.low_freq_min_should_match, len(low)) if (
            low_occur == Qs.Occur.SHOULD and low
        ) else 0
        high_msm = msm(q.high_freq_min_should_match, len(high)) if (
            high_occur == Qs.Occur.SHOULD and high
        ) else 0
        if not low and high_msm == 0 and high_occur != Qs.Occur.MUST:
            high_occur = Qs.Occur.MUST  # all-common -> conjunction
        b = Qs.Builder()
        if low:
            g = Qs.Builder()
            for t in low:
                g.add(Qs.TermQuery(t), low_occur)
            g.set_minimum_number_should_match(low_msm)
            b.add(Qs.BoostQuery(g.build(), q.low_freq_boost), Qs.Occur.MUST)
        if high:
            g = Qs.Builder()
            for t in high:
                g.add(Qs.TermQuery(t), high_occur)
            g.set_minimum_number_should_match(high_msm)
            b.add(Qs.BoostQuery(g.build(), q.high_freq_boost), Qs.Occur.SHOULD)
        return b.build()

    def _build_phrase_wildcard(self, q) -> Query:
        """PhraseWildcardQuery expansion (PhraseWildcardQuery.java:
        170-240 createWeight: each multi-term slot's terms are
        collected from the term dictionary under the shared expansion
        budget, then the phrase matches like a MultiPhraseQuery).

        Each pattern slot costs ONE pushed-down termdict probe (the
        sorted term column's min/max stats prune row groups — the FST
        seek analog); the budget bounds what reaches the driver, so an
        adversarial ``*`` slot collects at most
        max_multi_term_expansions + 1 rows, never the dictionary."""
        from ..plans import queries as Qs

        budget = q.max_multi_term_expansions
        slots = []
        for slot in q.terms:
            if isinstance(slot, str):
                slots.append((slot,))
                continue
            rows = (
                self.termdict.filter(self._mt_cond(slot))
                .select("term").sort("term").limit(budget + 1).collect()
            )
            # exact Python-semantics re-check (regexp dialect, fuzzy
            # edit distance) — _mt_cond may be a superset
            terms = rw.expand_terms(slot, sorted(r["term"] for r in rows))
            if not terms:
                # an unmatchable slot kills the phrase (noMatch :200)
                return Qs.MatchNoDocsQuery()
            # budget exhausted -> truncate in term order (the reference
            # stops expanding, trading recall, never raising :378-392)
            slots.append(tuple(terms[:budget]))
        return Qs.MultiPhraseQuery(tuple(slots))

    def _build_complex_phrase(self, q) -> Query:
        """ComplexPhraseQuery.rewrite (ComplexPhraseQueryParser.java:
        263-335): expand each slot's multi-term members against the
        term dictionary (one pushed-down termdict probe per pattern,
        same budget discipline as PhraseWildcardQuery) and compile to
        SpanNearQuery(slop, in_order); a multi-term slot becomes a
        SpanOrQuery over the union of its members' expansions, an
        empty expansion an unmatchable phrase (:311-318)."""
        from ..plans import queries as Qs

        budget = q.max_multi_term_expansions
        clauses = []
        for alts in q.slots:
            terms: list[str] = []
            for a in alts:
                if isinstance(a, str):
                    if a not in terms:
                        terms.append(a)
                    continue
                rows = (
                    self.termdict.filter(self._mt_cond(a))
                    .select("term").sort("term").limit(budget + 1).collect()
                )
                for t in rw.expand_terms(a, sorted(r["term"] for r in rows)):
                    if t not in terms:
                        terms.append(t)
                terms = terms[:budget]
            if not terms:
                return Qs.MatchNoDocsQuery()
            clauses.append(
                terms[0] if len(terms) == 1 else Qs.SpanOrQuery(tuple(terms))
            )
        if len(clauses) == 1 and isinstance(clauses[0], str):
            return Qs.TermQuery(clauses[0])
        return Qs.SpanNearQuery(
            tuple(clauses), slop=q.slop, in_order=q.in_order
        )

    def _term_lookup(self, q: Query) -> list[str] | None:
        """Driver-side probe of the term dictionary for a multi-term
        query.  Returns the full matching term list only when it is
        small enough to enumerate (0/1 matches -> MatchNoDocs/TermQuery
        unwrap; fuzzy's scored expansion up to maxClauseCount); returns
        None for "many", telling the rewrite to take the DISTRIBUTED
        constant-score union — the predicate then ships to the scan and
        kernels and no term list ever reaches the driver (this replaces
        the old 65k-term collect + literal IN list)."""
        probe = (
            MAX_CLAUSE_COUNT if isinstance(q, FuzzyQuery)
            # regexp: Java rlike may accept a superset of Python's
            # semantics, so seeing N rows proves nothing about the
            # Python match count — probe enough to make the 0/1-match
            # unwrap almost always decidable, else go distributed
            else 64
        )
        rows = (
            self.termdict.filter(self._mt_cond(q))
            .select("term").limit(probe + 1).collect()
        )
        terms = sorted(r["term"] for r in rows)
        if len(terms) > probe:
            return None  # many -> distributed union
        # exact Python-semantics re-check (regexp dialect, fuzzy edits)
        terms = rw.expand_terms(q, terms)
        if len(terms) >= 2 and not isinstance(q, FuzzyQuery):
            return None  # constant-score union handles 2+ terms
        return terms

    def _term_stats(self, terms: set[str]) -> dict[str, tuple[int, int]]:
        """Global TermStatistics for a query's terms.  Read driver-side
        with pyarrow (row-group pruning on the term-sorted termdict
        files — the FST seek analog): the values are identical to the
        old pushed-down Spark collect, but a whole Spark job (~50 ms of
        scheduling for a handful of rows) leaves the per-query critical
        path.  The reference likewise resolves term stats in-process at
        Weight creation.  Falls back to the Spark scan for non-local
        layouts pyarrow cannot reach."""
        if not terms:
            return {}
        try:
            import glob

            import pyarrow.dataset as pads

            files = sorted(
                glob.glob(
                    os.path.join(self.index_dir, "termdict", "*.parquet")
                )
            )
            if not files:
                raise FileNotFoundError(self.index_dir)
            tbl = pads.dataset(files, format="parquet").to_table(
                columns=["term", "df", "ttf"],
                filter=pads.field("term").isin(list(terms)),
            )
            return {
                t: (int(d), int(f))
                for t, d, f in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                    tbl.column("ttf").to_pylist(),
                )
            }
        except Exception:
            rows = self.termdict.filter(
                F.col("term").isin(list(terms))
            ).collect()
            return {r["term"]: (r["df"], r["ttf"]) for r in rows}

    def _dv_plan(self, cq: CompiledQuery, term_stats) -> tuple:
        """(lead, dv_keys) for the IndexOrDocValuesQuery access-path
        choice: ``lead`` is the cheapest top-level required term
        iterator (term, df); ``dv_keys`` the point tokens occurring
        ONLY as top-level required clauses — the shapes where a
        candidate-restricted doc set provably leaves the result
        unchanged (the clause intersects with the lead anyway)."""
        lead = None
        for c in cq.musts + cq.filters:
            if (
                c.sub is None and c.kind == "term" and len(c.terms) == 1
                and not c.terms[0].startswith(("\x00", "\x01"))
            ):
                df = term_stats.get(c.terms[0], (0, 0))[0]
                if lead is None or df < lead[1]:
                    lead = (c.terms[0], df)
        req = {
            c.terms[0]
            for c in cq.musts + cq.filters
            if c.sub is None and c.terms and c.terms[0].startswith("\x01pts:")
        }
        other: set = set()

        def walk(clauses):
            for c in clauses:
                for t in c.terms:
                    if t.startswith("\x01pts:"):
                        other.add(t)
                if c.sub is not None:
                    walk(
                        c.sub.musts + c.sub.shoulds
                        + c.sub.filters + c.sub.must_nots
                    )

        walk(cq.shoulds + cq.must_nots)
        for c in cq.musts + cq.filters:
            if c.sub is not None:
                walk([c])
        return lead, frozenset(req - other)

    # ---- search ----

    def _prepare(self, query: Query, score_mode: str = "top_scores",
                 similarity: str | None = None) -> PreparedQuery:
        """rewrite -> term stats -> compile -> point / multi-term clauses
        -> access plan: the driver work every search runs before its
        kernels (``similarity`` as in search())."""
        q = self._rewrite(query)
        terms = planner.collect_terms(q)
        ts = self._term_stats(terms)
        cq = planner.compile_query(
            q, self.stats.with_similarity(similarity), ts, score_mode
        )
        lead, dv_keys = self._dv_plan(cq, ts) if cq is not None else (None, frozenset())
        return PreparedQuery(
            q, terms, cq, planner.collect_point_queries(q),
            tuple(planner.collect_multi_term_preds(q)), lead, dv_keys,
        )

    def _run_prepared(self, p: PreparedQuery, k: int | None, score_mode: str,
                      threshold: int, **kw) -> DataFrame:
        """_run_segments over a prepared query (``kw``: min_competitive,
        only_segment, after, max_segment)."""
        return self._run_segments(
            p.cq, p.terms, planner.has_phrase(p.query), k, score_mode,
            threshold, p.point_qs, lead=p.lead, dv_keys=p.dv_keys,
            mt_qs=p.mt_qs, **kw,
        )

    def search(
        self,
        query: Query,
        k: int = 10,
        score_mode: str = "top_scores",
        total_hits_threshold: int = DEFAULT_TOTAL_HITS_THRESHOLD,
        two_pass_threshold: bool = False,
        similarity: str | None = None,
    ) -> TopDocs:
        """``similarity`` overrides the scoring model for this search
        (IndexSearcher.setSimilarity): None -> the index config's
        default (BM25 k1/b), "classic" -> ClassicSimilarity TF-IDF.

        ``two_pass_threshold=True`` adds the MaxScoreAccumulator
        analog: a first pass over one segment establishes a global
        min-competitive score that every segment's kernel then prunes
        against from its first window (cross-slice threshold sharing,
        TopScoreDocCollector.java:303-318).  Results are identical —
        the shared floor prunes strictly-below only — at the cost of
        one extra (tiny) Spark job; it pays off when segments are many
        and k is small."""
        p = self._prepare(query, score_mode, similarity)
        if p.cq is None:
            return self._merge(pd.DataFrame(), k)
        min_comp = 0.0
        with self._scan_conf_guard():
            if two_pass_threshold and score_mode == "top_scores":
                seed = self._run_prepared(
                    p, k, score_mode, total_hits_threshold, only_segment=0
                ).toPandas()
                seed = seed[seed["doc_id"] >= 0]
                if len(seed) >= k:
                    min_comp = float(
                        np.sort(seed["score"].to_numpy(dtype=np.float32))[-k]
                    )
            pdf = self._run_prepared(
                p, k, score_mode, total_hits_threshold, min_competitive=min_comp
            ).toPandas()
        return self._merge(pdf, k)

    def search_after(
        self,
        query: Query,
        after: tuple[float, int] | None,
        k: int = 10,
        total_hits_threshold: int = DEFAULT_TOTAL_HITS_THRESHOLD,
    ) -> TopDocs:
        """Relevance-ranked paging — IndexSearcher.searchAfter(ScoreDoc)
        (IndexSearcher.java:523-560, TopScoreDocCollector's paging
        collector): each segment kernel SKIPS hits at-or-before the
        cursor in (score desc, doc asc) order during collection, so the
        page's heap fills only with post-cursor hits and pruning keys
        off the page's own heap minimum, exactly like the reference.
        ``after`` is the previous page's last (score, doc_id); the
        cursor compares exact float32 scores, so pages concatenate to
        the unpaged ranking.  total_hits still counts every match."""
        if after is None:
            return self.search(query, k, total_hits_threshold=total_hits_threshold)
        p = self._prepare(query)
        if p.cq is None:
            return self._merge(pd.DataFrame(), k)
        with self._scan_conf_guard():
            pdf = self._run_prepared(
                p, k, "top_scores", total_hits_threshold,
                after=(float(after[0]), int(after[1])),
            ).toPandas()
        return self._merge(pdf, k)

    def matches_df(self, query: Query) -> DataFrame:
        """ALL matching doc ids as a distributed DataFrame (filter /
        bulk-collection mode — scores not computed).  This is the
        operator to use when the hit set feeds another pipeline stage;
        nothing is collected to the driver."""
        return self._bulk_df(query, score_mode="filter").select("doc_id")

    def score_all_df(self, query: Query, similarity: str | None = None) -> DataFrame:
        """(doc_id, score float32) for every matching doc, distributed
        (COMPLETE score mode, exhaustive — no pruning)."""
        return self._bulk_df(query, score_mode="complete",
                             similarity=similarity).select("doc_id", "score")

    def _bulk_df(self, query: Query, score_mode: str,
                 similarity: str | None = None,
                 max_segment: int | None = None) -> DataFrame:
        p = self._prepare(query, score_mode, similarity)
        if p.cq is None:
            return self.spark.createDataFrame([], schema=RESULT_SCHEMA)
        out = self._run_prepared(p, None, score_mode, 0, max_segment=max_segment)
        return out.filter(F.col("doc_id") >= 0)

    def search_df(self, query: Query, k: int = 10, with_meta: bool = True, **kw) -> DataFrame:
        """DataFrame-returning variant for pipelines / the driver contract."""
        td = self.search(query, k, **kw)
        pdf = td.to_pandas()
        if len(pdf) == 0:
            df = self.spark.createDataFrame(
                [], schema="rank int, doc_id bigint, score float"
            )
        else:
            pdf["rank"] = pdf["rank"].astype(np.int32)
            pdf["score"] = pdf["score"].astype(np.float32)
            df = self.spark.createDataFrame(pdf)
        if with_meta:
            meta = self._docmeta().select(
                "doc_id", "repo", "path"
            )
            # k rows joined against docmeta: broadcast the tiny side
            df = F.broadcast(df).join(meta, "doc_id", "left").orderBy("rank")
        return df

    def count(self, query: Query) -> int:
        """TotalHitCountCollector analog: exact hit count."""
        td = self.search(query, k=1, score_mode="complete")
        return td.total_hits

    def search_sorted(
        self,
        query: Query,
        sort: list,
        k: int = 10,
        after: tuple | None = None,
    ) -> DataFrame:
        """Field-sorted top-k — the TopFieldCollector analog
        (TopFieldCollector.java, SortField.java, FieldComparator).

        ``sort`` is a list of SortField (docmeta columns); ties always
        break by doc_id asc, like the implicit FIELD_DOC tie-break.
        Spark-first plan: the distributed hit set joins docmeta and
        ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject —
        per-partition partial top-k + a driver merge of
        ``num_partitions × k`` rows, exactly the per-leaf comparator +
        TopDocs.merge structure of the reference, with no global sort.

        ``after`` is the searchAfter(FieldDoc) paging cursor: the last
        page's sort values plus its doc_id; only strictly-later rows in
        the sort order are returned (TopFieldCollector.PagingFieldCollector).
        Returns (rank, doc_id, <sort fields...>).
        """
        from ..plans.queries import SortField  # noqa: F401 (API type)

        from pyspark.sql import Window

        # TopFieldCollector.canEarlyTerminate (TopFieldCollector.java:72-74):
        # when the requested sort is a prefix of the index-time sort
        # (IndexWriterConfig.setIndexSort), ascending doc id refines the
        # requested order exactly (ties included — doc ids were assigned
        # by (index_sort..., repo, path)), so the first k hits in doc
        # order ARE the sorted top-k and only a leading segment prefix
        # needs scanning.
        want = tuple((s.field, bool(s.reverse)) for s in sort)
        isort = tuple((f_, bool(r)) for f_, r in self.cfg.index_sort)
        if after is None and want and want == isort[: len(want)]:
            # doc-values updates can move a doc's sort value AFTER the
            # index sort assigned doc ids, so early termination is only
            # sound while no requested sort field has pending updates
            from .dvupdates import dv_updates_path, read_dv_generation

            updated: set[str] = set()
            if read_dv_generation(self.index_dir) > 0:
                upd = self.spark.read.parquet(
                    dv_updates_path(self.index_dir)
                )
                updated = {
                    r["field"] for r in upd.select("field").distinct().collect()
                }
            if not updated.intersection(f_ for f_, _ in want):
                return self._search_sorted_indexed(query, sort, k)

        meta = self._docmeta()
        hit_meta = self.matches_df(query).join(meta, "doc_id")
        exprs = [
            (F.col(s.field).desc() if s.reverse else F.col(s.field).asc())
            for s in sort
        ] + [F.col("doc_id").asc()]
        if after is not None:
            # lexicographic "strictly after" predicate over the sort
            # tuple, honouring each field's direction
            fields = [(s.field, s.reverse) for s in sort] + [("doc_id", False)]
            pred = F.lit(False)
            eq = F.lit(True)
            for (fname, rev), aval in zip(fields, after):
                c = F.col(fname)
                strict = (c < F.lit(aval)) if rev else (c > F.lit(aval))
                pred = pred | (eq & strict)
                eq = eq & (c == F.lit(aval))
            hit_meta = hit_meta.filter(pred)
        topk = hit_meta.select(
            "doc_id", *[s.field for s in sort]
        ).orderBy(*exprs).limit(k)
        w = Window.orderBy(*exprs)
        return (
            topk.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", *[s.field for s in sort])
            .orderBy("rank")
        )

    def _search_sorted_indexed(self, query: Query, sort: list, k: int) -> DataFrame:
        """Early-terminated sorted top-k over an index-sorted index.

        The reference terminates each leaf collector after k collected
        hits once the segment order matches the search sort
        (TopFieldCollector.java:72-74 canEarlyTerminate throwing
        CollectionTerminatedException).  The Spark-first analog prunes
        at the SCAN: doc ids are contiguous per segment, so the first k
        hits in doc order live entirely inside a leading segment-id
        prefix — probe a small prefix, geometrically widen until k hits
        are found (total scan cost <= ~2x the final window), and let
        the ``segment_id < w`` predicate reach parquet row-group
        pruning so untouched segments are never read.  At a fixed hit
        density the scanned fraction is O(k / num_docs), independent of
        corpus size.  Results are bitwise those of the exhaustive
        ``search_sorted`` path on the same index (prefix rule == tie
        refinement, see caller).  ``self.last_sorted_probe`` records
        (segments_scanned, total_segments) for plan audits/benchmarks.
        """
        import math as _math

        seg_size = self.cfg.segment_size
        n_segs = max(1, _math.ceil(self.stats.num_docs / seg_size))
        fields = [s.field for s in sort]
        window = min(n_segs, max(1, _math.ceil(4 * k / seg_size)))
        with self._scan_conf_guard():
            while True:
                pdf = (
                    self._bulk_df(query, "filter", max_segment=window)
                    .select("doc_id").orderBy("doc_id").limit(k).toPandas()
                )
                if len(pdf) >= k or window >= n_segs:
                    break
                window = min(n_segs, window * 8)
        self.last_sorted_probe = {
            "segments_scanned": int(window),
            "total_segments": int(n_segs),
            "hits_found": int(len(pdf)),
        }
        if len(pdf) == 0:
            schema = "rank int, doc_id bigint"
            return self.spark.createDataFrame([], schema=schema).join(
                self._docmeta().select(
                    "doc_id", *fields
                ),
                "doc_id",
            ).select("rank", "doc_id", *fields)
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pdf["rank"] = np.arange(1, len(pdf) + 1, dtype=np.int32)
        hits = self.spark.createDataFrame(
            pdf[["rank", "doc_id"]], schema="rank int, doc_id bigint"
        )
        meta = self._docmeta().select(
            "doc_id", *fields
        )
        # k rows against docmeta: broadcast the tiny side
        return (
            F.broadcast(hits).join(meta, "doc_id")
            .select("rank", "doc_id", *fields).orderBy("rank")
        )

    def explain(self, query: Query, doc_id: int,
                similarity: str | None = None) -> dict:
        """IndexSearcher.explain analog: per-clause score breakdown for
        one document.  Pulls only the doc's segment (pushdown on
        segment_id + term) and recomputes each leaf contribution with
        the same float32 kernels.  ``similarity`` overrides the scoring
        model exactly like search(similarity=...)."""
        import numpy as np

        from ..functions.codec import decode_term_postings, encode_docsets

        p = self._prepare(query, similarity=similarity)
        q, cq = p.query, p.cq
        if cq is None:
            return {"doc_id": doc_id, "matches": False, "description": str(q)}
        seg_id = doc_id // self.cfg.segment_size
        local = doc_id - seg_id * self.cfg.segment_size
        term_cond = F.col("term").isin(list(p.terms))
        for mq in p.mt_qs:
            term_cond = term_cond | self._mt_cond(mq.orig)
        seg_rows = self.segments.filter(
            (F.col("segment_id") == seg_id) & term_cond
        ).toPandas()
        norm_row = self.norms.filter(F.col("segment_id") == seg_id).collect()
        if not norm_row:
            return {"doc_id": doc_id, "matches": False, "description": str(q)}
        norms = np.frombuffer(norm_row[0]["norms"], dtype=np.uint8).astype(np.int64)
        pmap = rows_to_posting_map(seg_rows)
        # point clauses: materialize this segment's matching doc set
        for pq in p.point_qs:
            meta_df = self._docmeta()
            sel = meta_df.filter(
                (F.col("segment_id") == seg_id)
                & self._dv_cond(pq, meta_df.schema)
            )
            ids = sel.select("doc_id").toArrow().column("doc_id").to_numpy()
            docset = encode_docsets(ids, self.cfg.segment_size)
            if seg_id in docset:
                pmap[pq.token_key()] = docset[seg_id]
        details, total = [], 0.0
        if cq.match_all and not (cq.musts or cq.filters):
            total += float(np.float32(cq.match_all_score))
        should_scores: list[float] = []
        matches_all_required = True
        for kind, clauses in (
            ("MUST", cq.musts), ("SHOULD", cq.shoulds),
            ("FILTER", cq.filters), ("MUST_NOT", cq.must_nots),
        ):
            for c in clauses:
                from ..functions.wand import _eval_clause

                docs, scores = _eval_clause(pmap, norms, c)
                idx = np.searchsorted(docs, local)
                hit = idx < len(docs) and docs[idx] == local
                freq = None
                if hit and not c.is_phrase and c.sub is None and c.terms:
                    tp = pmap.get(c.terms[0])
                    if tp is not None:
                        d, f, _ = decode_term_postings(tp)
                        freq = int(f[np.searchsorted(d, local)])
                entry = {
                    "clause": (
                        " ".join(c.terms) if c.terms
                        else "(multi-term)" if c.kind == "union_pred"
                        else "(nested)"
                    ),
                    "occur": kind,
                    "matches": bool(hit),
                    "score": float(scores[idx]) if hit else 0.0,
                    "freq": freq,
                    "norm": int(norms[local]) if local < len(norms) else None,
                }
                details.append(entry)
                if kind == "MUST" and hit:
                    total += float(scores[idx])
                if kind == "SHOULD" and hit:
                    should_scores.append(float(scores[idx]))
                if kind == "MUST" and not hit:
                    matches_all_required = False
                if kind == "FILTER" and not hit:
                    matches_all_required = False
                if kind == "MUST_NOT" and hit:
                    matches_all_required = False
        # combine optional contributions the way search() scores them:
        # sum for BooleanQuery, max + tie * sum(others) for DisMax
        # (DisjunctionMaxScorer.java:63-75) — keeps explain() in
        # agreement with the returned score
        if should_scores:
            if cq.combine == "dismax":
                mx = max(should_scores)
                total += mx + float(cq.tie) * (sum(should_scores) - mx)
            else:
                total += sum(should_scores)
        matched_shoulds = sum(
            1 for e in details if e["occur"] == "SHOULD" and e["matches"]
        )
        if cq.shoulds and not cq.musts and not cq.filters and not cq.match_all:
            if matched_shoulds < max(cq.msm, 1):
                matches_all_required = False
        elif cq.msm > 0 and matched_shoulds < cq.msm:
            matches_all_required = False
        return {
            "doc_id": doc_id,
            "matches": matches_all_required,
            "score": np.float32(total).item() if matches_all_required else 0.0,
            "description": str(q),
            "details": details,
        }

    # ---- internals ----

    def _has_deletes(self) -> bool:
        """Live-docs check (cheap, per query — deletes may land after
        this searcher was opened, like reopening a del generation)."""
        return os.path.exists(os.path.join(self.index_dir, "deletes", "_SUCCESS"))

    def _live_docs(self):
        """Broadcast {segment_id: encoded deleted local ids}
        of the current del generation, or None without deletes
        (operators/deletes).  Loaded once per generation; the generation
        is re-read per query, so a delete committed after this searcher
        opened is seen.  The (generation, broadcast) pair is swapped as
        one tuple, so concurrent searches never pair one generation with
        another's mask.  A replaced broadcast is left to Spark's context
        cleaner, which frees it once no plan built on it remains —
        destroying it here would break DataFrames already returned by
        matches_df / score_all_df."""
        if not self._has_deletes():
            return None
        gen = read_generation(self.index_dir)  # before the table: never older
        cached = self._live_docs_cache
        if cached is None or cached[0] != gen:
            mask = load_live_docs(self.index_dir, self.cfg.segment_size)
            cached = (gen, self.spark.sparkContext.broadcast(mask))
            self._live_docs_cache = cached
        return cached[1]

    def _estimate_point_cost(self, q) -> int:
        """Estimated match count of a point range from the build-time
        column histogram (colstats) — the BKD ``estimatePointCount``
        analog (PointValues.java:249).  Partial bucket overlap prorates
        linearly; missing statistics degrade to num_docs (pessimistic,
        which biases toward the dv path exactly when the index side's
        cost is unknown)."""
        from ..plans.queries import (
            EARTH_MEAN_RADIUS_METERS,
            FunctionRangeQuery,
            LatLonDistanceQuery,
            LatLonPolygonQuery,
            MultiDimPointRangeQuery,
            PointRangeQuery,
        )

        from ..plans.queries import FieldExistsQuery, FieldRangeQuery

        if isinstance(q, (FunctionRangeQuery, FieldExistsQuery,
                          FieldRangeQuery)):
            # no histogram exists for functions / existence / string
            # ranges (colstats is numeric) — pessimistic num_docs,
            # which biases toward the dv (per-candidate verify) path
            # exactly when the index side's cost is unknown
            return self.stats.num_docs
        if isinstance(q, LatLonPolygonQuery):
            # estimate via the bounding box (the BKD region the
            # reference visits, LatLonPointInPolygonQuery's
            # estimatePointCount); the ray cast only shrinks it
            min_la, max_la, min_lo, max_lo = q.bbox()
            return min(
                self._estimate_point_cost(
                    PointRangeQuery(q.lat_field, min_la, max_la)
                ),
                self._estimate_point_cost(
                    PointRangeQuery(q.lon_field, min_lo, max_lo)
                ),
            )
        if isinstance(q, LatLonDistanceQuery):
            # estimate via the latitude band (the BKD box the reference
            # visits); the haversine verify only shrinks it
            import math as _m

            dlat = _m.degrees(q.radius_meters / EARTH_MEAN_RADIUS_METERS)
            return self._estimate_point_cost(
                PointRangeQuery(q.lat_field, q.lat - dlat, q.lat + dlat)
            )
        if isinstance(q, MultiDimPointRangeQuery):
            # intersection cardinality <= every dim's own estimate
            # (estimatePointCount visits one tree; min over dims is the
            # tightest per-dim bound available from 1-d histograms)
            return min(
                self._estimate_point_cost(
                    PointRangeQuery(fld, lo, hi, il, iu)
                )
                for fld, lo, hi, il, iu in q.dims
            )
        cs = self._colstats
        if cs is None:
            return self.stats.num_docs
        h = cs[cs["field"] == q.field]
        if len(h) == 0:
            return self.stats.num_docs
        lo = -np.inf if q.lower is None else float(q.lower)
        hi = np.inf if q.upper is None else float(q.upper)
        blo = h["lo"].to_numpy()
        bhi = h["hi"].to_numpy()
        cnt = h["count"].to_numpy(dtype=np.float64)
        overlap = np.clip(
            (np.minimum(bhi, hi + 1) - np.maximum(blo, lo)) / (bhi - blo), 0.0, 1.0
        )
        return int(np.ceil((cnt * overlap).sum()))

    def _term_docs_df(self, term: str) -> DataFrame:
        """(segment_id, doc_id) of one term's postings, decoded
        distributed — the lead iterator the dv path verifies against."""
        seg_size = self.cfg.segment_size
        rows = self.segments.filter(F.col("term") == term).select(
            "segment_id", "df", "singleton_doc", "singleton_freq",
            "doc_blocks", "doc_block_offsets", "freq_blocks",
            "freq_block_offsets", "block_last_docs",
            "impacts_flat", "impacts_offsets",
        )

        def decode(batches):
            from ..functions.codec import decode_term_postings

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    tp = TermPostings(
                        df=int(r.df), ttf=0,
                        singleton_doc=int(r.singleton_doc),
                        singleton_freq=int(r.singleton_freq),
                        doc_blocks=bytes(r.doc_blocks),
                        doc_block_offsets=np.asarray(r.doc_block_offsets, np.int32),
                        freq_blocks=bytes(r.freq_blocks),
                        freq_block_offsets=np.asarray(r.freq_block_offsets, np.int32),
                        pos_blocks=b"",
                        pos_block_offsets=np.empty(0, np.int32),
                        block_last_docs=np.asarray(r.block_last_docs, np.int32),
                        impacts_flat=np.asarray(r.impacts_flat, np.int32),
                        impacts_offsets=np.asarray(r.impacts_offsets, np.int32),
                    )
                    docs, _, _ = decode_term_postings(tp)
                    yield pd.DataFrame(
                        {
                            "segment_id": np.int32(r.segment_id),
                            "doc_id": docs + int(r.segment_id) * seg_size,
                        }
                    )

        return rows.mapInPandas(decode, schema="segment_id int, doc_id bigint")

    def _point_masks(self, point_qs, lead=None, dv_keys=frozenset()) -> list[tuple]:
        """(token, broadcast {segment_id: TermPostings}) per point
        clause: its doc set, selected by a Spark job, encoded on the
        driver (codec.encode_docsets) and applied by the kernel as a
        per-segment mask.  Access-path choice per clause
        (IndexOrDocValuesQuery.java:105-131):

        * index side (default): one pushed-down docmeta scan per clause
          (parquet min/max stats prune row groups — the BKD analog),
          cached in the query cache,
        * doc-values side: when the clause is dv-eligible, required,
          and the conjunction's lead term is >8x cheaper than the
          histogram-estimated range cardinality, verify the range per
          lead candidate instead — a semi-join of the lead term's
          postings against docmeta, materializing only
          |lead ∩ range| rows instead of |range|.

        Either path yields the same doc set for required clauses, so
        results are identical; only the materialized volume differs.
        """
        masks = []
        self._last_access_paths = {}  # token_key -> "index" | "dv" (debug/tests)
        for q in sorted(point_qs, key=lambda x: x.token_key()):
            use_dv = (
                getattr(q, "dv", False)
                and lead is not None
                and q.token_key() in dv_keys
                and lead[1] * 8 < self._estimate_point_cost(q)
            )
            self._last_access_paths[q.token_key()] = "dv" if use_dv else "index"
            if use_dv:
                # dv docsets depend on the lead term, so they bypass the
                # query cache (Lucene likewise only caches the index side)
                bc, _ = self._broadcast_docset(self._point_sel(q, lead))
            else:
                key = (self._cache_token, "pts", self._generation(), q.token_key())
                bc = self.query_cache.get_or_build(
                    key, lambda q=q: self._broadcast_docset(self._point_sel(q, None))
                )
            masks.append((q.token_key(), bc))
        return masks

    def _broadcast_docset(self, sel: DataFrame) -> tuple:
        """(broadcast of the encoded docset, its exact byte count) of a
        ``doc_id`` selection."""
        from ..functions.codec import docsets_nbytes, encode_docsets

        ids = sel.toArrow().column("doc_id").to_numpy()
        docset = encode_docsets(ids, self.cfg.segment_size)
        return self.spark.sparkContext.broadcast(docset), docsets_nbytes(docset)

    @staticmethod
    def _dv_cond(q, schema=None):
        """Docmeta filter Column of one doc-value clause: a numeric
        point range, a keyword (StringField) equality, or — when the
        docmeta column is ARRAY-typed (the SORTED_SET docvalues
        analog, L/index/SortedSetDocValues.java:33) — multi-valued
        membership: the doc matches when ANY of its values equals the
        query value."""
        from pyspark.sql.types import ArrayType

        from ..plans.queries import (
            EARTH_MEAN_RADIUS_METERS,
            FieldExistsQuery,
            FieldRangeQuery,
            FieldTermQuery,
            FunctionRangeQuery,
            LatLonDistanceQuery,
            LatLonPolygonQuery,
            MultiDimPointRangeQuery,
        )

        if isinstance(q, FieldExistsQuery):
            # DocValuesFieldExistsQuery: value presence — IS NOT NULL
            # pushes to the scan (null-count row-group stats); an array
            # column needs >= 1 value (no ordinal -> no match)
            c = F.col(q.field)
            cond = c.isNotNull()
            if schema is not None and isinstance(
                schema[q.field].dataType, ArrayType
            ):
                cond = cond & (F.size(c) > 0)
            return cond

        if isinstance(q, FieldRangeQuery):
            # SortedSetDocValuesRangeQuery: bytes range over the
            # keyword column; ANY value of an array column may match
            def in_range(c):
                cond = F.lit(True)
                if q.lower is not None:
                    cond = cond & (
                        c >= q.lower if q.include_lower else c > q.lower
                    )
                if q.upper is not None:
                    cond = cond & (
                        c <= q.upper if q.include_upper else c < q.upper
                    )
                return cond

            if schema is not None and isinstance(
                schema[q.field].dataType, ArrayType
            ):
                return F.exists(F.col(q.field), in_range)
            return in_range(F.col(q.field))

        if isinstance(q, FunctionRangeQuery):
            # {!frange}: the compiled ValueSource Column range-tested
            # per row in the docmeta scan (ValueSourceScorer.matches)
            from ..plans.funcparser import parse_func

            x, _ = parse_func(q.func)
            cond = F.lit(True)
            if q.lower is not None:
                lo = F.lit(float(q.lower))
                cond = cond & (x >= lo if q.include_lower else x > lo)
            if q.upper is not None:
                hi = F.lit(float(q.upper))
                cond = cond & (x <= hi if q.include_upper else x < hi)
            return cond

        if isinstance(q, LatLonPolygonQuery):
            # two-phase polygon filter (LatLonPointInPolygonQuery.java +
            # geo/Polygon2D.java): the polygon's bounding box pushes
            # into the parquet scan as plain range predicates, ANDed
            # with the crossing-number ray cast — the vertex list is a
            # query-time constant, so the edge loop unrolls into one
            # codegen'd expression (an XOR chain of per-edge crossing
            # tests); no UDF, whole plan stays in one scan stage
            min_la, max_la, min_lo, max_lo = q.bbox()
            lat, lon = F.col(q.lat_field), F.col(q.lon_field)
            box = (
                (lat >= min_la) & (lat <= max_la)
                & (lon >= min_lo) & (lon <= max_lo)
            )
            verts = list(q.vertices)
            inside = F.lit(False)
            n = len(verts)
            for i in range(n):
                yi, xi = (float(c) for c in verts[i])
                yj, xj = (float(c) for c in verts[(i + 1) % n])
                if yi == yj:
                    continue  # horizontal edge never crosses the ray
                straddles = (F.lit(yi) > lat) != (F.lit(yj) > lat)
                # lon of the edge at the point's latitude — the exact
                # float64 form DuckDB's oracle replays term-for-term
                x_at = (
                    F.lit(xj - xi) * (lat - F.lit(yi)) / F.lit(yj - yi)
                    + F.lit(xi)
                )
                crossing = straddles & (lon < x_at)
                inside = inside != crossing  # XOR: odd crossings = inside
            return box & inside

        if isinstance(q, LatLonDistanceQuery):
            # two-phase distance filter (LatLonPointDistanceQuery.java:
            # 77-135): a latitude-band range that pushes into the
            # parquet scan (no doc outside |Δlat| <= r/R can be within
            # r), then the exact haversine verify — all JVM-side in the
            # same scan stage
            import math as _m

            r_earth = EARTH_MEAN_RADIUS_METERS
            dlat = _m.degrees(q.radius_meters / r_earth)
            lat_c, lon_c = F.lit(float(q.lat)), F.lit(float(q.lon))
            lat, lon = F.col(q.lat_field), F.col(q.lon_field)
            band = (lat >= q.lat - dlat) & (lat <= q.lat + dlat)
            sin_dlat = F.sin(F.radians(lat - lat_c) / 2)
            sin_dlon = F.sin(F.radians(lon - lon_c) / 2)
            h = (
                sin_dlat * sin_dlat
                + F.cos(F.radians(lat_c)) * F.cos(F.radians(lat))
                * sin_dlon * sin_dlon
            )
            dist = F.lit(2.0 * r_earth) * F.asin(F.sqrt(h))
            return band & (dist <= F.lit(float(q.radius_meters)))

        if isinstance(q, MultiDimPointRangeQuery):
            # the per-dim conjunction of an n-dim box, ANDed into ONE
            # pushed-down predicate (the single BKD visit's per-dim
            # loop, PointRangeQuery.java:118)
            cond = F.lit(True)
            for fld, lo, hi, il, iu in q.dims:
                c = F.col(fld)
                if lo is not None:
                    cond = cond & (c >= lo if il else c > lo)
                if hi is not None:
                    cond = cond & (c <= hi if iu else c < hi)
            return cond
        c = F.col(q.field)
        if isinstance(q, FieldTermQuery):
            if schema is not None and isinstance(
                schema[q.field].dataType, ArrayType
            ):
                return F.array_contains(c, q.value)
            return c == q.value
        cond = F.lit(True)
        if q.lower is not None:
            cond = cond & (c >= q.lower if q.include_lower else c > q.lower)
        if q.upper is not None:
            cond = cond & (c <= q.upper if q.include_upper else c < q.upper)
        return cond

    def _point_sel(self, q, lead) -> DataFrame:
        """``doc_id`` selection of one point clause, either path
        (lead=None -> index side; lead -> dv verify-per-candidate)."""
        sel = self._docmeta()
        if lead is not None:
            sel = sel.join(self._term_docs_df(lead[0]).select("doc_id"), "doc_id")
        return sel.filter(self._dv_cond(q, sel.schema)).select("doc_id")

    def _generation(self) -> tuple[int, int]:
        """Snapshot generation: the (deletes epoch, doc-values-updates
        epoch) pair (cache invalidation — the reference keys its cache
        on the segment core + delGen + docValuesGen).  Explicit
        monotonic counters committed by delete_documents /
        update_numeric_docvalue, so two commits within one
        filesystem-timestamp tick still invalidate (mtime granularity
        is not trusted)."""
        from .dvupdates import read_dv_generation

        return (read_generation(self.index_dir),
                read_dv_generation(self.index_dir))

    def _docmeta(self) -> "DataFrame":
        """The docmeta table with the numeric doc-values-updates
        overlay applied (operators/dvupdates.overlay_docmeta) — every
        point-filter / sort / facet / function-score read sees updated
        values, exactly like the reference's updatable NumericDocValues
        reader."""
        from .dvupdates import overlay_docmeta

        return overlay_docmeta(
            self.spark,
            self.spark.read.parquet(self.docmeta_path),
            self.index_dir,
        )

    def _run_segments(
        self, cq: CompiledQuery, terms: set[str], need_pos: bool, k: int | None,
        score_mode: str, threshold: int, point_qs: set | frozenset = frozenset(),
        min_competitive: float = 0.0, only_segment: int | None = None,
        lead: tuple | None = None, dv_keys: frozenset = frozenset(),
        after: tuple | None = None, mt_qs: tuple = (),
        max_segment: int | None = None,
    ) -> DataFrame:
        seg_size = self.cfg.segment_size
        prune = score_mode == "top_scores"
        cols = [
            "segment_id", "term", "df", "ttf", "singleton_doc", "singleton_freq",
            "doc_blocks", "doc_block_offsets", "freq_blocks", "freq_block_offsets",
            "block_last_docs", "impacts_flat", "impacts_offsets",
        ]
        if need_pos:
            cols += ["pos_blocks", "pos_block_offsets"]
        # ONE pushed-down scan fetches the query terms' postings AND the
        # per-segment sentinel norms row — a segment is self-contained,
        # so a query is: scan -> kernel per segment -> merge.  Multi-term
        # union predicates OR their JVM conditions into the same scan
        # (distributed expansion — no driver-side term list).
        if cq.match_all or terms or point_qs or mt_qs:
            cond = F.col("term").isin(list(terms) + [SENTINEL_TERM])
            for mq in mt_qs:
                cond = cond | self._mt_cond(mq.orig)
        else:
            cond = F.lit(False)
        seg_rows = self.segments.filter(cond).select(*cols)
        # per-segment doc-id masks, one broadcast each, put into the
        # kernel's postings map under their reserved token: point-filter
        # docsets, and live docs as an implicit MUST_NOT (postings and
        # stats untouched — Lucene semantics)
        masks = self._point_masks(point_qs, lead, dv_keys)
        live = self._live_docs()
        if live is not None:
            masks.append((DELETES_TOKEN, live))
            cq = replace(cq, must_nots=cq.must_nots + [
                ScoringClause((DELETES_TOKEN,), None, const_score=0.0)
            ])
        if only_segment is not None:
            seg_rows = seg_rows.filter(F.col("segment_id") == only_segment)
        if max_segment is not None:
            # early-terminated sorted search: restrict the scan to the
            # leading segment-id prefix.  The predicate reaches the
            # parquet scan (segments are written sorted by segment_id),
            # so row groups past the window are PRUNED, not read — the
            # distributed analog of CollectionTerminatedException.
            seg_rows = seg_rows.filter(F.col("segment_id") < max_segment)

        def kernel(key, seg_pdf: pd.DataFrame) -> pd.DataFrame:
            seg_id = int(key[0])
            sent = seg_pdf[seg_pdf["term"] == SENTINEL_TERM]
            if len(sent) == 0:
                # the scan always fetches the sentinel with the postings,
                # so a group without it is a segment split across groups
                raise ValueError(
                    f"segment {seg_id}: {len(seg_pdf)} postings rows but "
                    "no sentinel row (segment split across kernel groups?)"
                )
            pmap = rows_to_posting_map(seg_pdf[seg_pdf["term"] != SENTINEL_TERM])
            for token, bc in masks:
                if seg_id in bc.value:
                    pmap[token] = bc.value[seg_id]
            if pmap.keys() <= {DELETES_TOKEN} and not cq.match_all:
                # nothing here can match: no postings, no filter docset
                return pd.DataFrame(
                    columns=["segment_id", "doc_id", "score", "hits", "hits_exact"]
                )
            norms = np.frombuffer(
                sent["doc_blocks"].iloc[0], dtype=np.uint8
            ).astype(np.int64)
            num_docs = int(sent["df"].iloc[0])
            base = seg_id * seg_size
            # the paging cursor's doc id is global; segment-local
            # arithmetic keeps the (score, doc) comparison exact for
            # every segment (earlier segments: local <= cursor; later:
            # cursor negative, all locals after it)
            after_local = (after[0], after[1] - base) if after is not None else None
            res = score_segment(
                pmap, norms, cq, k, total_hits_threshold=threshold,
                prune=prune, num_docs=num_docs, min_competitive=min_competitive,
                after=after_local,
            )
            return pd.DataFrame(
                {
                    "segment_id": seg_id,
                    "doc_id": res.doc_ids + base,
                    "score": res.scores,
                    "hits": int(res.hits),
                    "hits_exact": bool(res.hits_exact),
                }
            ) if len(res.doc_ids) else pd.DataFrame(
                {
                    "segment_id": [seg_id],
                    "doc_id": [-1],
                    "score": [np.float32(0)],
                    "hits": [int(res.hits)],
                    "hits_exact": [bool(res.hits_exact)],
                }
            )

        if self._whole_file_tasks():
            # ---- one-stage kernel (shuffle elision, guide §2.4) ----
            # The segments table is bucketed by segment_id at write
            # time (the encode shuffle keys on segment_id, so each
            # segment's rows land wholly inside ONE reducer's parquet
            # file) and _whole_file_tasks() proves the scan cannot
            # split a file across tasks under the live conf — so every
            # scan task already holds complete segments and the
            # groupBy exchange + AQE stage barrier + second task wave
            # are pure overhead.  Each task groups its own rows and
            # runs the per-segment kernels in place: scan -> kernel ->
            # collect, one stage, zero shuffle.  Every mask (point
            # filters, live docs) rides a broadcast into the kernel, so
            # only the file layout decides the path: a foreign layout,
            # or a lazy plan run under a conf that splits files, takes
            # the shuffle path below with the same kernel.
            empty = pd.DataFrame(
                {
                    "segment_id": pd.Series(dtype=np.int32),
                    "doc_id": pd.Series(dtype=np.int64),
                    "score": pd.Series(dtype=np.float32),
                    "hits": pd.Series(dtype=np.int64),
                    "hits_exact": pd.Series(dtype=bool),
                }
            )

            def kernel_partition(batches):
                parts = [pdf for pdf in batches if len(pdf)]
                if not parts:
                    yield empty
                    return
                allp = (
                    pd.concat(parts, ignore_index=True)
                    if len(parts) > 1
                    else parts[0]
                )
                outs = [
                    kernel((seg_id,), g)
                    for seg_id, g in allp.groupby("segment_id", sort=False)
                ]
                outs = [o for o in outs if len(o)]
                yield (
                    pd.concat(outs, ignore_index=True) if outs else empty
                )

            return seg_rows.mapInPandas(
                kernel_partition, schema=RESULT_SCHEMA
            )
        # ---- shuffle path (file layout not provably whole-file) ----
        # Explicit repartition with a stated partition count: AQE's
        # partition coalescing would otherwise collapse the tiny
        # query-time shuffle to ONE task and serialize every segment
        # kernel on a single core (measured: q4_and_mid 1.31s -> 0.81s
        # from this alone).  The groupBy reuses this hash partitioning,
        # so there is still exactly one exchange.
        n_kernel = max(2 * self.spark.sparkContext.defaultParallelism, 1)
        return (
            seg_rows.repartition(n_kernel, "segment_id")
            .groupby("segment_id")
            .applyInPandas(kernel, schema=RESULT_SCHEMA)
        )

    def _merge(self, pdf: pd.DataFrame, k: int) -> TopDocs:
        """TopDocs.merge: (score desc, doc asc) across segments."""
        if len(pdf) == 0:
            return TopDocs(0, "EQ", np.empty(0, np.int64), np.empty(0, np.float32))
        hits_df = pdf.drop_duplicates("segment_id")
        total = int(hits_df["hits"].sum())
        relation = "EQ" if bool(hits_df["hits_exact"].all()) else "GTE"
        pdf = pdf[pdf["doc_id"] >= 0]
        order = np.lexsort(
            (pdf["doc_id"].to_numpy(), -pdf["score"].to_numpy(dtype=np.float64))
        )[:k]
        top = pdf.iloc[order]
        return TopDocs(
            total,
            relation,
            top["doc_id"].to_numpy(dtype=np.int64),
            top["score"].to_numpy(dtype=np.float32),
        )
