"""IndexSearcher: one per-segment kernel, placed on the driver or in
Spark, + driver top-k merge.

Execution model (mirrors IndexSearcher leaf slices,
IndexSearcher.java:571-668):

1. driver: rewrite query (plans/rewrite), fetch global term stats from
   the termdict, bind BM25 weights (plans/planner) — the
   Weight-creation phase,
2. ``score_files`` — the one kernel entry point: the rows of
   ``term IN (terms, sentinel)`` (a multi-term query's terms were
   listed once, by the rewrite) from one of the snapshot's two row
   sources (operators/snapshot):
   the driver's resident term-sorted tables, read by hash lookup of
   each term (the resident FST term-index analog), or a
   ``pyarrow.dataset`` read of the segments files with the predicate
   pushed into parquet.  The rows stay an Arrow table: one stable
   sort groups them by segment, one column-wise pass over the Arrow
   buffers builds every
   ``TermPostings`` (posting_rows), each segment's sentinel row
   carries its norms, and the numpy kernel (functions/wand) scores it
   under the per-segment masks (live docs, point filters) — the
   leaf-slice collection phase.  The result is one Arrow table
   (``_RESULT_ARROW``); no pandas on the way.  It runs in one of two
   placements:

   * driver: in-process — no Spark job, no Python worker.  Top-k
     searches take it unless their postings volume pays for a Spark
     stage (``IndexSearcher._choose_placement``).  It reads the
     resident tables when the snapshot's segments bytes are at most
     ``config.DRIVER_MAX_SEGMENTS_BYTES`` (the rule the driver commit
     shares), else the files, as the Spark tasks do,
   * spark: a small DataFrame of segment-id windows (one task wave)
     feeds ``mapInArrow``; each task calls ``score_files`` on its
     window of every segments file.  The lazy DataFrame APIs
     (matches_df, score_all_df) always take it,

3. driver: merge the per-segment top-k by (score desc, doc asc) with
   one numpy lexsort over the Arrow result — TopDocs.merge
   (TopDocs.java:188-246), trivially cheap because its input is
   ``num_segments × k`` rows.  The Spark placement collects its rows
   with ``toArrow``, so the merge has one input type.

Column pruning: queries without phrases never read ``pos_blocks`` —
the parquet column simply isn't read, nor taken from the resident
table (the ".pos file" stays cold).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, replace
from functools import cached_property
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import (  # noqa: F401
    DEFAULT_TOTAL_HITS_THRESHOLD,
    DRIVER_MAX_SEGMENTS_BYTES,
    MAX_CLAUSE_COUNT,
    EngineConfig,
)
from ..functions.codec import _EMPTY_I32, TermPostings
from ..functions.wand import CompiledQuery, ScoringClause, score_segment
from .deletes import DELETES_TOKEN, load_live_docs, read_generation
from .segments import SENTINEL_TERM
from .snapshot import (
    FileSnapshot, ParquetTables, ResidentTables, check_footers, take_handoff,
)
from ..plans import planner, rewrite as rw
from ..plans.queries import Query

_RESULT_ARROW = pa.schema([
    ("segment_id", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float32()),
    ("hits", pa.int64()), ("hits_exact", pa.bool_()),
])
RESULT_SCHEMA = from_arrow_schema(_RESULT_ARROW)
_POSTINGS_COLS = [
    "segment_id", "term", "df", "ttf", "singleton_doc", "singleton_freq",
    "doc_blocks", "doc_block_offsets", "freq_blocks", "freq_block_offsets",
    "block_last_docs", "impacts_flat", "impacts_offsets",
]
_POS_COLS = ["pos_blocks", "pos_block_offsets"]

# Placement rule (IndexSearcher._choose_placement).  A query's kernel
# work, in postings: the df sum of its terms (num_docs for match-all)
# plus, when it reads positions, _POS_WORK per position (the ttf sum).
# A Spark stage splits that work over min(parallelism, segments) tasks
# but costs ~400-500 ms to place; the driver runs it serially.  So the
# Spark placement is taken when the work it saves,
# work * (1 - 1/min(parallelism, segments)), exceeds _SPARK_MIN_SAVED.
# Calibrated with the same kernel in both placements, bitwise-equal
# results, warm, Spark local[2] on a 4-core host, 16 segments in 4
# files, corpus_df seed 42, median of 5 (ms, driver -> spark; work in
# thousands; phrase_i = the phrase of the i-th and (i+1)-th terms by df):
#      docs  term_hot   or_3       msm        prefix     phrase       phrase_mid
#    20,000  46 -> 414  86 -> 487  65 -> 439  186 -> 525 378 -> 601   47 -> 459
#   200,000  98 -> 535  789 -> 921 276 -> 583 465 -> 673 2422 -> 2324 174 -> 706
#     work@200k  200    589        578        570        3,291        20
#   200,000 phrase_10 509 -> 895 (work 589), phrase_6 753 -> 1026 (787),
#           phrase_4 965 -> 1227 (984), phrase_2 1319 -> 1370 (1,411)
# The driver wins up to ~1.4M work and loses at 3.3M: the crossover is
# near 2M work, so ~1M saved at two tasks.
_POS_WORK = 0.27
_SPARK_MIN_SAVED = 1_000_000


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
    when it can match nothing), its point clauses collected and the
    IndexOrDocValues access plan chosen.  ``terms`` are every term whose
    postings the kernels read."""

    query: Query
    terms: set
    cq: CompiledQuery | None
    point_qs: set
    lead: tuple | None
    dv_keys: frozenset
    term_stats: dict


@dataclass(frozen=True)
class KernelSpec:
    """One search as the segment kernels see it: the compiled query (live
    docs already an implicit MUST_NOT), what to read and how to collect.
    Picklable: the Spark placement ships it to its tasks."""

    cq: CompiledQuery
    terms: tuple
    need_pos: bool
    k: int | None
    score_mode: str
    threshold: int
    segment_size: int
    min_competitive: float = 0.0
    after: tuple | None = None


def _ints(col: pa.ChunkedArray) -> list[int]:
    if col.null_count:
        raise ValueError(f"{col.null_count} null values in a postings int column")
    return col.to_numpy().tolist()


def _binaries(col: pa.ChunkedArray) -> list[bytes]:
    """One ``bytes`` per row, sliced from each chunk's value buffer
    through its offsets (a null row is ``b""``)."""
    out: list[bytes] = []
    if col.null_count:
        col = pc.fill_null(col, b"")
    for arr in col.cast(pa.binary()).chunks:
        if not len(arr):
            continue
        _, offs, data = arr.buffers()
        o = np.frombuffer(offs, np.int32, len(arr) + 1, arr.offset * 4).tolist()
        mv = memoryview(data if data is not None else b"")
        out.extend([mv[a:b].tobytes() for a, b in zip(o, o[1:])])
    return out


def _int32_lists(col: pa.ChunkedArray) -> list[np.ndarray]:
    """One int32 numpy view of the list values per row, sliced through
    each chunk's offsets (a null row is empty)."""
    out: list[np.ndarray] = []
    for arr in col.cast(pa.list_(pa.int32())).chunks:
        if not len(arr):
            continue
        vals = arr.values.to_numpy()
        o = arr.offsets.to_numpy().tolist()
        views = [vals[a:b] for a, b in zip(o, o[1:])]
        if arr.null_count:
            valid = arr.is_valid().to_numpy(zero_copy_only=False)
            views = [v if ok else _EMPTY_I32 for v, ok in zip(views, valid)]
        out.extend(views)
    return out


def posting_rows(tbl: pa.Table) -> list[TermPostings]:
    """Every row of a segments-table read as a ``TermPostings``, in row
    order.  Each column converts once, column-wise over its Arrow
    buffers (any chunking or slice offset); the position columns are
    empty when the read left them out."""
    n = tbl.num_rows
    has_pos = "pos_blocks" in tbl.column_names
    col = tbl.column
    return list(map(TermPostings._make, zip(
        _ints(col("df")), _ints(col("ttf")),
        _ints(col("singleton_doc")), _ints(col("singleton_freq")),
        _binaries(col("doc_blocks")), _int32_lists(col("doc_block_offsets")),
        _binaries(col("freq_blocks")), _int32_lists(col("freq_block_offsets")),
        _binaries(col("pos_blocks")) if has_pos else [b""] * n,
        _int32_lists(col("pos_block_offsets")) if has_pos else [_EMPTY_I32] * n,
        _int32_lists(col("block_last_docs")),
        _int32_lists(col("impacts_flat")), _int32_lists(col("impacts_offsets")),
    )))


def rows_to_posting_map(tbl: pa.Table) -> dict[str, TermPostings]:
    """``{term: TermPostings}`` of a segments-table read holding one
    row per term (one segment's rows, say)."""
    return dict(zip(tbl.column("term").to_pylist(), posting_rows(tbl)))


def postings_read(spec: KernelSpec) -> tuple[list, list]:
    """(terms, columns) of the kernel's read: the query terms' postings
    plus every segment's sentinel (norms) row, and the position columns
    only for phrase queries."""
    return (list(spec.terms) + [SENTINEL_TERM],
            _POSTINGS_COLS + (_POS_COLS if spec.need_pos else []))


def kernel_rows(spec: KernelSpec, source, segments: tuple | None = None
                ) -> pa.Table:
    """The kernel's read (postings_read) from ``source`` (ResidentTables
    or ParquetTables) within the ``segments`` window ``(lo, hi)``
    (``lo <= segment_id < hi``, None = open)."""
    return source.segment_rows(*postings_read(spec), window=segments)


def _segment_postings(tbl: pa.Table, masks: list) -> list[tuple]:
    """``(segment_id, postings map with the masks put in, norms,
    num_docs)`` of every segment in ``tbl`` (rows of the kernel's read,
    in any order): one stable sort groups the rows by segment, one
    mask finds the sentinels, one column-wise pass builds every
    ``TermPostings``."""
    if tbl.num_rows == 0:
        return []
    seg = tbl.column("segment_id").to_numpy()
    sent = pc.equal(tbl.column("term"), SENTINEL_TERM).to_numpy()
    terms = tbl.column("term").to_pylist()
    tps = posting_rows(tbl)
    order = np.argsort(seg, kind="stable")
    out = []
    for rows in np.split(order, np.flatnonzero(np.diff(seg[order])) + 1):
        seg_id, is_sent = int(seg[rows[0]]), sent[rows]
        if not is_sent.any():
            # the read always fetches the sentinel with the postings: a
            # segment without it has rows outside the files read, or is corrupt
            raise ValueError(
                f"segment {seg_id}: {len(rows)} postings rows but "
                "no sentinel row (segment split across files?)"
            )
        pmap = {terms[i]: tps[i] for i in rows[~is_sent].tolist()}
        for token, docsets in masks:
            if seg_id in docsets:
                pmap[token] = docsets[seg_id]
        st = tps[rows[is_sent][0]]
        norms = np.frombuffer(st.doc_blocks, dtype=np.uint8).astype(np.int64)
        out.append((seg_id, pmap, norms, st.df))
    return out


def _score_segment_rows(spec: KernelSpec, seg_id: int, pmap: dict,
                        norms: np.ndarray, num_docs: int) -> tuple | None:
    """One segment's kernel (score_segment): its result columns in
    ``_RESULT_ARROW`` order, or None when nothing can match.  A segment
    without hits still reports its hit count in a ``doc_id = -1`` row."""
    cq = spec.cq
    if pmap.keys() <= {DELETES_TOKEN} and not cq.match_all:
        return None  # no postings, no filter docset: no match
    base = seg_id * spec.segment_size
    # the paging cursor's doc id is global; segment-local arithmetic
    # keeps the (score, doc) comparison exact for every segment
    # (earlier segments: local <= cursor; later: cursor negative, all
    # locals after it)
    after = None if spec.after is None else (spec.after[0], spec.after[1] - base)
    res = score_segment(
        pmap, norms, cq, spec.k, total_hits_threshold=spec.threshold,
        prune=spec.score_mode == "top_scores", num_docs=num_docs,
        min_competitive=spec.min_competitive, after=after,
    )
    docs = res.doc_ids.astype(np.int64) + base
    scores = np.asarray(res.scores, np.float32)
    if not len(docs):
        docs, scores = np.full(1, -1, np.int64), np.zeros(1, np.float32)
    n = len(docs)
    return (np.full(n, seg_id, np.int32), docs, scores,
            np.full(n, res.hits, np.int64), np.full(n, res.hits_exact, np.bool_))


def score_files(spec: KernelSpec, masks: list, source,
                segments: tuple | None = None,
                timings: dict | None = None) -> pa.Table:
    """THE segment kernel entry point, for both placements: take the
    query's postings and sentinel rows within the ``segments`` window
    from ``source`` (kernel_rows) as one Arrow table, group them by
    segment (_segment_postings) and score each (_score_segment_rows)
    under ``masks`` — ``[(token, {segment_id: TermPostings})]``.
    ``source`` is where the rows come from: the driver's resident
    tables (ResidentTables), or the snapshot's files (ParquetTables:
    the Spark tasks' read, and the driver's above
    DRIVER_MAX_SEGMENTS_BYTES).  Returns one ``_RESULT_ARROW`` table; no
    pandas anywhere.  ``timings`` (optional) accumulates the seconds of the
    ``read``, the ``postings`` (grouping + posting maps) and the
    ``kernel`` (score_segment)."""
    cq = spec.cq
    if not (
        cq.match_all or spec.terms
        or any(token != DELETES_TOKEN for token, _ in masks)
    ):
        return _RESULT_ARROW.empty_table()
    t0 = time.perf_counter()
    tbl = kernel_rows(spec, source, segments)
    t1 = time.perf_counter()
    segs = _segment_postings(tbl, masks)
    t2 = time.perf_counter()
    parts = [p for p in (_score_segment_rows(spec, *s) for s in segs)
             if p is not None]
    if timings is not None:
        for name, dt in (("read", t1 - t0), ("postings", t2 - t1),
                         ("kernel", time.perf_counter() - t2)):
            timings[name] = timings.get(name, 0.0) + dt
    if not parts:
        return _RESULT_ARROW.empty_table()
    return pa.Table.from_arrays(
        [pa.array(np.concatenate(c)) for c in zip(*parts)], schema=_RESULT_ARROW
    )


class QueryCache:
    """LRUQueryCache analog (L/search/LRUQueryCache.java +
    UsageTrackingQueryCachingPolicy.java): caches the per-segment
    docsets of filter-usable clauses (point ranges), encoded as
    ``{segment_id: TermPostings}`` (codec.encode_docsets) — the kernel
    applies them as masks, like the reference intersects its cached
    per-leaf DocIdSet inside the scorer.  The live-docs mask is not
    cached here: the searcher loads it per del generation.

    Admission mirrors the usage-tracking policy: a clause key is cached
    only once it has been seen ``min_uses`` times.  Eviction is LRU over
    distinct clause keys, bounded by BOTH ``max_queries`` (the
    reference's maxSize=1000) and ``max_bytes`` (the maxRamBytesUsed
    analog: an entry's size is its exact encoded byte count; entries
    larger than the whole budget are never admitted, like the
    reference's per-query size gate).  Keys embed the index identity +
    generation (deletes epoch), so ONE cache can safely be shared
    across searchers (the reference shares its cache across readers of
    a segment core) and a reopened snapshot never serves stale
    docsets.  All mutation happens under a lock (the reference's
    LRUQueryCache synchronizes on itself the same way)."""

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


def _default_query_cache() -> QueryCache:
    global _SHARED_QUERY_CACHE
    if _SHARED_QUERY_CACHE is None:
        _SHARED_QUERY_CACHE = QueryCache()
    return _SHARED_QUERY_CACHE


def _local_index_dir(index_dir: str) -> str:
    """The local path of an index location: a plain path as is, a
    ``file://`` URI as its path.  The searcher's driver-side reads
    (config, stats, pyarrow postings and termdict reads) need a local
    or mounted filesystem, so any other scheme is rejected up front."""
    u = urlparse(index_dir)
    if len(u.scheme) <= 1:  # no scheme (a one-letter one is a drive)
        return index_dir
    if u.scheme != "file" or u.netloc not in ("", "localhost"):
        raise ValueError(
            f"unsupported index location {index_dir!r} (scheme {u.scheme!r}): "
            "IndexSearcher reads local paths and file:// URIs of this host only"
        )
    return unquote(u.path)


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: EngineConfig | None = None,
                 query_cache: QueryCache | None = None):
        import pyarrow.parquet as pq

        from .build import load_config, sorted_docs
        from .stats import read_stats_row

        index_dir = _local_index_dir(index_dir)
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
        # cache-key prefix: index identity + Spark application id (an
        # index rebuilt in place between sessions gets fresh keys)
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
        # leading doc ids that follow the index sort (a commit appends
        # docs after them); None: all of them
        self._sorted_docs = sorted_docs(index_dir)
        # path, size and mtime_ns of every segments and termdict file:
        # every read of them checks it (operators/snapshot)
        self._snapshot = FileSnapshot.record(index_dir)
        self._resident = None  # ResidentTables, loaded by the first _tables()
        # the tables of the commit that wrote this snapshot, when it ran
        # on the driver just before this open (operators/snapshot)
        self._handoff = take_handoff(index_dir, self._snapshot)
        self._resident_lock = threading.Lock()
        self.docmeta_path = os.path.join(index_dir, "docmeta")
        # a search may answer without reading docmeta: a truncated file
        # fails the open instead of a later sort or filter
        check_footers(self.docmeta_path)
        self._live_docs_cache = None  # (del generation, mask dict)
        # (placement, reason) of the last kernel run: "driver" | "spark"
        self._last_placement = None
        # optimizer statistics (column histograms) for point-query cost
        # estimation; tolerate their absence (older indexes, or merges
        # of an input without them)
        cs = os.path.join(index_dir, "colstats")
        self._colstats = (
            pq.read_table(cs).to_pandas()
            if os.path.exists(os.path.join(cs, "_SUCCESS"))
            else None
        )

    @cached_property
    def segments(self) -> DataFrame:
        """The segments table as a Spark DataFrame, created on first use
        (no py4j call at open)."""
        from .build import read_table

        return read_table(self.spark, self.index_dir, "segments")

    @cached_property
    def termdict(self) -> DataFrame:
        """The termdict table as a Spark DataFrame, created on first use."""
        from .build import read_table

        return read_table(self.spark, self.index_dir, "termdict")

    @cached_property
    def _parallelism(self) -> int:
        """The Spark placement's task wave, read once per searcher."""
        return self.spark.sparkContext.defaultParallelism

    def _tables(self):
        """The driver's source of segments and termdict rows: the
        resident tables (ResidentTables, built on the first call from
        the committing writer's tables when it handed them off, else
        loaded from the files) when the snapshot's segments bytes on
        disk are at most DRIVER_MAX_SEGMENTS_BYTES — the rule under
        which a driver commit holds a base in memory too — else the
        snapshot's files, read as the Spark tasks read them
        (ParquetTables)."""
        if self._snapshot.nbytes("segments") > DRIVER_MAX_SEGMENTS_BYTES:
            self._handoff = None
            return ParquetTables(self._snapshot)
        if self._resident is None:
            with self._resident_lock:
                if self._resident is None:
                    handoff, self._handoff = self._handoff, None
                    if handoff is None:
                        self._resident = ResidentTables.load(self._snapshot)
                    else:
                        self._snapshot.check()
                        self._resident = ResidentTables.from_tables(*handoff)
        return self._resident

    # ---- term dictionary services (FST/automaton analog) ----

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

        Each pattern slot costs one exact driver-side termdict read
        (_tables), capped at the budget: an adversarial ``*`` slot
        yields at most max_multi_term_expansions terms, never the
        dictionary."""
        from ..plans import queries as Qs

        budget = q.max_multi_term_expansions
        slots = []
        for slot in q.terms:
            if isinstance(slot, str):
                slots.append((slot,))
                continue
            rows = self._tables().termdict_rows(slot, ["term"], limit=budget)
            if not rows.num_rows:
                # an unmatchable slot kills the phrase (noMatch :200)
                return Qs.MatchNoDocsQuery()
            # budget exhausted -> truncate in term order (the reference
            # stops expanding, trading recall, never raising :378-392)
            slots.append(tuple(rows["term"].to_pylist()))
        return Qs.MultiPhraseQuery(tuple(slots))

    def _build_complex_phrase(self, q) -> Query:
        """ComplexPhraseQuery.rewrite (ComplexPhraseQueryParser.java:
        263-335): expand each slot's multi-term members against the
        term dictionary (one exact driver-side termdict read per
        pattern, same budget discipline as PhraseWildcardQuery) and
        compile to SpanNearQuery(slop, in_order); a multi-term slot
        becomes a SpanOrQuery over the union of its members'
        expansions, an empty expansion an unmatchable phrase
        (:311-318)."""
        from ..plans import queries as Qs

        budget = q.max_multi_term_expansions
        clauses = []
        for alts in q.slots:
            terms: list[str] = []
            for a in alts:
                if isinstance(a, str):
                    terms = list(dict.fromkeys(terms + [a]))
                    continue
                rows = self._tables().termdict_rows(a, ["term"], limit=budget)
                terms = list(dict.fromkeys(
                    terms + rows["term"].to_pylist()))[:budget]
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

    def _term_lookup(self, q: Query) -> list[str]:
        """The terms of the term dictionary that the multi-term query
        ``q`` matches, in term order: the rewrite's one expansion of it
        (rw.rewrite_multi_term), every later read takes the list.  One
        exact driver-side read of the termdict (_tables), never a Spark
        job."""
        terms = self._tables().termdict_rows(q, ["term"])["term"]
        return terms.to_numpy(zero_copy_only=False).tolist()

    def _term_stats(self, terms: set[str]) -> dict[str, tuple[int, int]]:
        """Global TermStatistics for a query's terms, read driver-side
        (_tables: lookups in the resident termdict — the FST seek
        analog), without a Spark job on the per-query critical
        path.  The reference likewise resolves term stats in-process at
        Weight creation."""
        if not terms:
            return {}
        return self._tables().term_stats(terms)

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
        """rewrite -> term stats -> compile -> point clauses -> access
        plan: the driver work every search runs before its kernels
        (``similarity`` as in search()).  An interval multi-term source
        adds its terms to the read (_term_lookup); each segment's kernel
        expands it from them."""
        q = self._rewrite(query)
        terms = planner.collect_terms(q)
        for mq in planner.collect_interval_multi_terms(q):
            terms.update(self._term_lookup(mq))
        ts = self._term_stats(terms)
        cq = planner.compile_query(
            q, self.stats.with_similarity(similarity), ts, score_mode
        )
        lead, dv_keys = self._dv_plan(cq, ts) if cq is not None else (None, frozenset())
        return PreparedQuery(
            q, terms, cq, planner.collect_point_queries(q), lead, dv_keys, ts,
        )

    def _kernel_inputs(self, p: PreparedQuery, k: int | None, score_mode: str,
                       threshold: int, after: tuple | None = None,
                       ) -> tuple[KernelSpec, list]:
        """(KernelSpec, masks) of a prepared query.  Masks are
        ``(token, {segment_id: TermPostings})`` pairs put into each
        segment's postings map under their reserved token: point-filter
        docsets, and live docs as an implicit MUST_NOT (postings and
        stats untouched — Lucene semantics)."""
        cq = p.cq
        masks = self._point_masks(p.point_qs, p.lead, p.dv_keys)
        live = self._live_docs()
        if live is not None:
            masks.append((DELETES_TOKEN, live))
            cq = replace(cq, must_nots=cq.must_nots + [
                ScoringClause((DELETES_TOKEN,), None, const_score=0.0)
            ])
        spec = KernelSpec(
            cq, tuple(sorted(p.terms)), planner.has_phrase(p.query), k,
            score_mode, threshold, self.cfg.segment_size, after=after,
        )
        return spec, masks

    def _choose_placement(self, p: PreparedQuery) -> tuple[str, str]:
        """(placement, reason) of a top-k search: "spark" when the
        kernel work a Spark stage parallelizes away pays for placing it
        (see _SPARK_MIN_SAVED), else "driver"."""
        stats = p.term_stats.values()  # the present terms of p.terms
        df = sum(d for d, _ in stats)
        ttf = sum(f for _, f in stats)
        if p.cq.match_all:
            df += self.stats.num_docs
        if not planner.has_phrase(p.query):
            ttf = 0  # positions are not read
        work = df + _POS_WORK * ttf
        par = len(self._spark_tasks())
        saved = work * (1.0 - 1.0 / par)
        return ("spark" if saved > _SPARK_MIN_SAVED else "driver",
                f"work={work:.0f} (df={df}, ttf={ttf}) over {par} tasks "
                f"saves {saved:.0f} vs {_SPARK_MIN_SAVED}")

    def _top_docs(self, query: Query, k: int, score_mode: str,
                  threshold: int, similarity: str | None = None,
                  after: tuple | None = None,
                  two_pass: bool = False) -> TopDocs:
        """A top-k search, run in the chosen placement (search())."""
        p = self._prepare(query, score_mode, similarity)
        if p.cq is None:
            return self._merge(_RESULT_ARROW.empty_table(), k)
        spec, masks = self._kernel_inputs(p, k, score_mode, threshold, after)
        if two_pass and score_mode == "top_scores":
            # the seed segment's k-th score becomes the shared floor only
            # once its own hits reach the threshold, as Lucene shares it
            # only after the HitsThresholdChecker trips: below that, the
            # floor would stop the kernels counting hits
            seed = self._score_driver(spec, masks, segments=(0, 1))
            scores = seed["score"].to_numpy()[seed["doc_id"].to_numpy() >= 0]
            hits = int(seed["hits"].to_numpy()[:1].sum())
            if len(scores) >= k and hits >= threshold:
                spec = replace(spec, min_competitive=float(np.sort(scores)[-k]))
        self._last_placement = self._choose_placement(p)
        if self._last_placement[0] == "driver":
            return self._merge(self._score_driver(spec, masks), k)
        return self._merge(self._spark_rows(spec, masks).toArrow(), k)

    def _score_driver(self, spec: KernelSpec, masks: list,
                      segments: tuple | None = None,
                      timings: dict | None = None) -> pa.Table:
        """The driver placement: score_files in-process over the
        driver's row source (_tables)."""
        return score_files(spec, masks, self._tables(), segments, timings)

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
        one extra segment read on the driver; it pays off when
        segments are many and k is small."""
        return self._top_docs(query, k, score_mode, total_hits_threshold,
                              similarity, two_pass=two_pass_threshold)

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
        if after is not None:
            after = (float(after[0]), int(after[1]))
        return self._top_docs(query, k, "top_scores", total_hits_threshold,
                              after=after)

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
        spec, masks = self._kernel_inputs(p, None, score_mode, 0)
        self._last_placement = ("spark", "lazy DataFrame API")
        out = self._spark_rows(spec, masks, max_segment=max_segment)
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
        # needs scanning.  Only while the index sort covers every doc:
        # docs a commit appended are numbered after the sorted range.
        want = tuple((s.field, bool(s.reverse)) for s in sort)
        isort = tuple((f_, bool(r)) for f_, r in self.cfg.index_sort)
        covered = (self._sorted_docs is None
                   or self._sorted_docs >= self.stats.num_docs)
        if after is None and want and want == isort[: len(want)] and covered:
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
        one document.  Reads only the doc's segment (the kernel's
        postings read, narrowed to its segment_id) and recomputes each
        leaf contribution with the same float32 kernels.
        ``similarity`` overrides the scoring model exactly like
        search(similarity=...)."""
        from ..functions.codec import decode_term_postings
        from ..functions.wand import _eval_clause

        p = self._prepare(query, similarity=similarity)
        q, cq = p.query, p.cq
        if cq is None:
            return {"doc_id": doc_id, "matches": False, "description": str(q)}
        seg_id = doc_id // self.cfg.segment_size
        local = doc_id - seg_id * self.cfg.segment_size
        spec = KernelSpec(
            cq, tuple(p.terms), planner.has_phrase(q), None, "complete", 0,
            self.cfg.segment_size,
        )
        rows = kernel_rows(spec, self._tables(), (seg_id, seg_id + 1))
        if not rows.num_rows:  # no such segment
            return {"doc_id": doc_id, "matches": False, "description": str(q)}
        # point clauses: the segment's docset, as the kernel's mask
        [(_, pmap, norms, _)] = _segment_postings(
            rows, self._point_masks(p.point_qs)
        )
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
                docs, scores = _eval_clause(pmap, norms, c)
                idx = np.searchsorted(docs, local)
                hit = idx < len(docs) and docs[idx] == local
                freq = None
                if (hit and c.sub is None and c.kind in ("term", "synonym")
                        and not c.is_phrase):
                    # a synonym's freq sums its terms' (SynonymQuery
                    # freq); a constant-score union reports none
                    freq = 0
                    for t in c.terms:
                        tp = pmap.get(t)
                        if tp is not None:
                            d, f, _ = decode_term_postings(tp)
                            i = np.searchsorted(d, local)
                            if i < len(d) and d[i] == local:
                                freq += int(f[i])
                entry = {
                    "clause": (
                        "(multi-term)" if c.kind == "multiterm"
                        else " ".join(c.terms) if c.terms else "(nested)"
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

    def _live_docs(self) -> dict | None:
        """{segment_id: encoded deleted local ids} of the current del
        generation, or None without deletes (operators/deletes).  Loaded
        once per generation; the generation is re-read per query, so a
        delete committed after this searcher opened is seen.  The
        (generation, mask) pair is swapped as one tuple, so concurrent
        searches never pair one generation with another's mask."""
        if not os.path.exists(os.path.join(self.index_dir, "deletes", "_SUCCESS")):
            return None
        gen = read_generation(self.index_dir)  # before the table: never older
        cached = self._live_docs_cache
        if cached is None or cached[0] != gen:
            cached = (gen, load_live_docs(self.index_dir, self.cfg.segment_size))
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
        """``doc_id`` of one term's postings — the lead iterator the dv
        path verifies against; read and decoded on the driver (the lead
        is the cheap side by construction)."""
        from ..functions.codec import decode_term_postings

        rows = self._tables().segment_rows([term], columns=_POSTINGS_COLS)
        seg_size = self.cfg.segment_size
        ids = [np.empty(0, np.int64)] + [
            decode_term_postings(tp)[0].astype(np.int64) + seg * seg_size
            for seg, tp in zip(rows["segment_id"].to_pylist(), posting_rows(rows))
        ]
        return self.spark.createDataFrame(
            pa.table({"doc_id": np.sort(np.concatenate(ids))}), schema="doc_id bigint"
        )

    def _point_masks(self, point_qs, lead=None, dv_keys=frozenset()) -> list[tuple]:
        """(token, {segment_id: TermPostings}) per point clause: its doc
        set, selected by a Spark job, encoded on the driver
        (codec.encode_docsets) and applied by the kernel as a
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
                docset, _ = self._docset(self._point_sel(q, lead))
            else:
                key = (self._cache_token, "pts", self._generation(), q.token_key())
                docset = self.query_cache.get_or_build(
                    key, lambda q=q: self._docset(self._point_sel(q, None))
                )
            masks.append((q.token_key(), docset))
        return masks

    def _docset(self, sel: DataFrame) -> tuple:
        """(encoded docset, its exact byte count) of a ``doc_id``
        selection."""
        from ..functions.codec import docsets_nbytes, encode_docsets

        ids = sel.toArrow().column("doc_id").to_numpy()
        docset = encode_docsets(ids, self.cfg.segment_size)
        return docset, docsets_nbytes(docset)

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

    def _spark_tasks(self, max_segment: int | None = None) -> list[tuple]:
        """The Spark placement's tasks: the segment ids cut into at most
        one task wave (defaultParallelism) of ``(lo, hi)`` windows, the
        first and last open-ended so every id has exactly one owner.
        Each task reads its window from every segments file (parquet
        footer statistics prune the row groups outside it), so a
        segment is scored whole by one task whatever the file layout:
        the build hash-partitions segments over files, and a foreign
        layout may split one segment across files."""
        n_segs = max(1, -(-self.stats.num_docs // self.cfg.segment_size))
        if max_segment is not None:
            n_segs = min(n_segs, max_segment)
        n = max(1, min(n_segs, self._parallelism))
        cuts = [None] + [n_segs * i // n for i in range(1, n)] + [max_segment]
        return list(zip(cuts, cuts[1:]))

    def _spark_rows(self, spec: KernelSpec, masks: list,
                    max_segment: int | None = None) -> DataFrame:
        """The Spark placement: one ``mapInArrow`` task per segment
        window (_spark_tasks), each calling score_files on every
        segments file within its window; the masks travel as one
        broadcast.  Lazy — RESULT_SCHEMA rows."""
        tasks = self._spark_tasks(max_segment)
        self._snapshot.check("segments")
        # each task checks the files against the snapshot again, when
        # it reads them (the DataFrame is lazy)
        files = ParquetTables(self._snapshot)
        bc = self.spark.sparkContext.broadcast(masks) if masks else None

        def run(batches):
            task_masks = bc.value if bc is not None else []
            for batch in batches:
                for i in batch.column(0).to_pylist():
                    yield from score_files(
                        spec, task_masks, files, tasks[i]
                    ).to_batches()

        n = len(tasks)
        return self.spark.range(0, n, 1, n).mapInArrow(run, RESULT_SCHEMA)

    def _merge(self, res: pa.Table, k: int) -> TopDocs:
        """TopDocs.merge over score_files' ``_RESULT_ARROW`` rows: the
        hit counts of each segment (one per segment, on each of its
        rows) summed, the hits ranked by (score desc, doc asc)."""
        seg = res["segment_id"].to_numpy()
        first = np.unique(seg, return_index=True)[1]
        exact = res["hits_exact"].to_numpy()[first]
        docs, scores = res["doc_id"].to_numpy(), res["score"].to_numpy()
        hit = docs >= 0
        docs, scores = docs[hit], scores[hit]
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return TopDocs(
            int(res["hits"].to_numpy()[first].sum()),
            "EQ" if exact.all() else "GTE",
            docs[order].astype(np.int64),
            scores[order].astype(np.float32),
        )
