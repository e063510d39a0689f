"""A searcher's snapshot of the segments and termdict tables, and the
sources of their rows.

``FileSnapshot`` records the path, size and ``mtime_ns`` of every
segments and termdict file when a searcher opens.  Every parquet read
and the resident load check it: a file removed, rewritten or added
under a live searcher raises a ``ValueError`` that names it, instead of
answering from a mix of two snapshots.

Rows come from one of two sources with one interface (``segment_rows``,
``term_stats``, ``termdict_rows``):

* ``ResidentTables``: both tables loaded once into driver memory, the
  segments sorted by (term, segment_id) and the termdict by term, and
  one key index over the terms of both.  A term list's read is a hash
  lookup of each term in it and a ``take`` of their row runs; a
  multi-term termdict read narrows its prefix or range to a run of the
  sorted keys by binary search (``np.searchsorted``).  The analog of
  Lucene's terms index (.tip, BlockTreeTermsWriter.java:188-205), which
  stays resident and seeks straight to a term's postings.
* ``ParquetTables``: a ``pyarrow.dataset`` read of the files on every
  call, a multi-term query's narrowing (rw.term_read_filter) pushed
  into the termdict's parquet row groups.

A multi-term query reaches a source once per search: the rewrite lists
its terms with ``termdict_rows`` (rw.rewrite_multi_term), and every
later read, ``term_stats`` and ``segment_rows``, takes that list.  Both
sources answer it exactly: after the narrowing, one step (``_exact``)
applies rw.term_predicate, the engine's one match semantics, to the
distinct terms left, unless the narrowing is already exact (prefixes
and ranges).

A searcher holds ``ResidentTables`` on the driver when its snapshot's
segments bytes on disk are at most ``config.DRIVER_MAX_SEGMENTS_BYTES``;
the Spark tasks, and the driver above that cap, read ``ParquetTables``.
For one read both return the same rows, possibly in another order (the
kernel groups them by segment and keys them by term).

The resident tables have a third source besides the files
(``ResidentTables.load``): the commit that wrote them.  A driver-placed
commit (operators/merge) leaves its segments and termdict tables in one
process-wide slot (``hand_off``), and the next searcher opened in the
process takes them (``take_handoff``) when its directory and file
snapshot are the commit's — the reference's near-real-time reopen
(DirectoryReader.open(IndexWriter)), which reads the segments the writer
holds instead of their files.  The slot holds at most one commit's
tables, until the next searcher opens or the next commit starts.
"""

from __future__ import annotations

import glob
import os
import sys
import threading
from dataclasses import dataclass
from itertools import repeat

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

from ..plans import rewrite as rw
from .segments import segment_arrow_schema

TABLES = ("segments", "termdict")
_TERMDICT_COLS = ["term", "df", "ttf"]


def _schema(table: str) -> pa.Schema:
    """The table's schema, for a table without files (an empty index)."""
    if table == "segments":
        return segment_arrow_schema()
    return pa.schema([("term", pa.string()), ("df", pa.int64()),
                      ("ttf", pa.int64())])


def _read_schema(table: str) -> pa.Schema:
    """The schema a parquet read of the table yields (list values are
    named ``element``): the one set of types the resident tables hold,
    whether loaded or handed off."""
    def read_type(t):
        if pa.types.is_list(t):
            return pa.list_(pa.field("element", t.value_type))
        return t

    return pa.schema([(f.name, read_type(f.type)) for f in _schema(table)])


def _listing(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "*.parquet")))


def _stat(paths) -> tuple:
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


@dataclass(frozen=True)
class FileSnapshot:
    """``files``: ``{table: ((path, size, mtime_ns), ...)}`` of the
    segments and termdict files as recorded; ``dirs``: the table
    directories those lists are the listings of."""

    files: dict
    dirs: dict

    @classmethod
    def record(cls, index_dir: str) -> "FileSnapshot":
        dirs = {t: os.path.join(index_dir, t) for t in TABLES}
        return cls({t: _stat(_listing(d)) for t, d in dirs.items()}, dirs)

    def paths(self, table: str) -> list[str]:
        return [p for p, _, _ in self.files[table]]

    def nbytes(self, table: str) -> int:
        return sum(size for _, size, _ in self.files[table])

    def check(self, *tables: str) -> None:
        """Raise ``ValueError`` naming the first file of ``tables``
        (default: all) that is gone, changed or new since the record."""
        for t in tables or TABLES:
            for path, size, mtime in self.files[t]:
                try:
                    st = os.stat(path)
                except FileNotFoundError:
                    raise ValueError(
                        f"{t} file {path} was removed after the searcher "
                        "opened this snapshot; reopen the searcher") from None
                if (st.st_size, st.st_mtime_ns) != (size, mtime):
                    raise ValueError(
                        f"{t} file {path} changed after the searcher opened "
                        f"this snapshot (size {size} -> {st.st_size}, "
                        f"mtime_ns {mtime} -> {st.st_mtime_ns}); reopen the "
                        "searcher")
            if t in self.dirs:
                new = sorted(set(_listing(self.dirs[t])) - set(self.paths(t)))
                if new:
                    raise ValueError(
                        f"{t} file {new[0]} was added after the searcher "
                        "opened this snapshot; reopen the searcher")


def check_footers(table_dir: str) -> None:
    """Raise ``ValueError`` naming the first parquet file of
    ``table_dir`` that does not end in a parquet footer (its last 8
    bytes: the footer length, then ``PAR1``): a truncated or partly
    written file."""
    table = os.path.basename(table_dir)
    for path in _listing(table_dir):
        with open(path, "rb") as f:
            size = f.seek(0, os.SEEK_END)
            f.seek(max(size - 8, 0))
            tail = f.read(8)
        if (size < 12 or tail[4:] != b"PAR1"
                or int.from_bytes(tail[:4], "little") > size - 12):
            raise ValueError(f"{table} file {path} ends in no parquet footer "
                             f"({size} bytes): truncated or partly written")


def rows_filter(terms, window: tuple | None = None):
    """The pyarrow filter of a segments read: ``term`` in ``terms``,
    within the window ``(lo, hi)`` (``lo <= segment_id < hi``, None =
    open; row groups outside it are pruned by their footer
    statistics)."""
    cond = pads.field("term").isin(pa.array(list(terms), pa.string()))
    lo, hi = window or (None, None)
    if lo is not None:
        cond = cond & (pads.field("segment_id") >= lo)
    if hi is not None:
        cond = cond & (pads.field("segment_id") < hi)
    return cond


def _exact(tbl: pa.Table, q) -> pa.Table:
    """The rows of ``tbl`` (a read narrowed to ``q``) whose term
    rw.term_predicate(q) accepts.  The predicate runs once per distinct
    term, and not at all when the narrowing is exact
    (rw.term_key_range)."""
    if rw.term_key_range(q)[-1]:
        return tbl
    pred, terms = rw.term_predicate(q), tbl["term"]
    keep = [t for t in pc.unique(terms).to_pylist() if pred(t)]
    return tbl.filter(pc.is_in(terms, value_set=pa.array(keep, pa.string())))


def _stats_dict(terms: list, df: list, ttf: list) -> dict[str, tuple[int, int]]:
    return dict(zip(terms, zip(df, ttf)))


class ParquetTables:
    """The snapshot's rows read from its files with ``pyarrow.dataset``
    on every call, after checking the files against the snapshot."""

    def __init__(self, snapshot: FileSnapshot):
        self.snapshot = snapshot

    def _dataset(self, table: str):
        self.snapshot.check(table)
        paths = self.snapshot.paths(table)
        if not paths:
            return pads.dataset(_schema(table).empty_table())
        return pads.dataset(paths, format="parquet")

    def segment_rows(self, terms, columns=None,
                     window: tuple | None = None) -> pa.Table:
        """The segments rows of ``terms`` within ``window``
        (rows_filter), ``columns`` only."""
        return self._dataset("segments").to_table(
            columns=columns, filter=rows_filter(terms, window))

    def term_stats(self, terms) -> dict[str, tuple[int, int]]:
        """``{term: (df, ttf)}`` of the present ``terms``."""
        tbl = self._dataset("termdict").to_table(
            columns=_TERMDICT_COLS,
            filter=pads.field("term").isin(pa.array(list(terms), pa.string())))
        return _stats_dict(tbl["term"].to_pylist(), tbl["df"].to_pylist(),
                           tbl["ttf"].to_pylist())

    def termdict_rows(self, q, columns, limit: int | None = None) -> pa.Table:
        """The termdict rows of the terms ``q`` matches, in term order,
        the first ``limit`` of them."""
        tbl = self._dataset("termdict").to_table(
            columns=list(dict.fromkeys(["term", *columns])),
            filter=rw.term_read_filter(q))
        return _exact(tbl, q).sort_by("term").select(columns)[:limit]


def _matching(keys: np.ndarray, key_col, q) -> np.ndarray:
    """The indices of the sorted ``keys`` (``key_col``: the same terms
    as Arrow) that ``q`` matches: the binary-searched run of q's prefix
    or range (rw.term_key_range), then, unless the run is exact, its
    read filter and _exact."""
    lo, lo_inc, hi, hi_inc, exact = rw.term_key_range(q)
    a = 0 if lo is None else int(
        np.searchsorted(keys, lo, "left" if lo_inc else "right"))
    b = len(keys) if hi is None else int(
        np.searchsorted(keys, hi, "right" if hi_inc else "left"))
    b = max(a, b)
    if exact:
        return np.arange(a, b)
    run = pa.table({"term": key_col.slice(a, b - a), "i": np.arange(a, b)})
    return _exact(run.filter(rw.term_read_filter(q)), q)["i"].to_numpy()


class ResidentTables:
    """The snapshot's segments (every column) sorted by (term,
    segment_id) and termdict (term, df, ttf) sorted by term, held in
    memory.  One key index serves both: the sorted terms of either
    table, each with its run of segments rows and its termdict row.  A
    term list is looked up in it by hash (``_find``), a multi-term
    query's run by binary search (``_matching``); a read then ``take``s
    the rows."""

    def __init__(self, segments: pa.Table, termdict: pa.Table):
        self.segments, self.termdict = segments, termdict
        terms, td_terms = segments["term"], termdict["term"]
        n = len(terms)
        starts = np.empty(0, np.int64)
        if n:
            change = pc.not_equal(terms[1:], terms[:-1]).to_numpy(
                zero_copy_only=False)
            starts = np.concatenate([[0], np.flatnonzero(change) + 1])
        seg_keys = terms.take(starts)
        keys = pc.unique(pa.chunked_array(
            seg_keys.chunks + td_terms.chunks, pa.string()))
        self._key_col = keys.take(pc.array_sort_indices(keys))
        self._keys = self._key_col.to_numpy(zero_copy_only=False)
        self._pos = dict(zip(self._keys.tolist(), range(len(self._keys))))

        def index_in(values) -> np.ndarray:
            return pc.fill_null(pc.index_in(self._key_col, value_set=values),
                                -1).to_numpy().astype(np.int64)

        # key i's segments rows are lo[i]:hi[i] (empty when it has none),
        # its termdict row td[i] (-1: none); one trailing slot, index
        # -1, answers a term of neither table
        run = index_in(seg_keys)
        ends = np.append(starts, n).astype(np.int64)
        self._lo = np.append(np.where(run >= 0, ends[run], 0), 0)
        self._hi = np.append(np.where(run >= 0, ends[run + 1], 0), 0)
        self._td = np.append(index_in(td_terms), -1)
        self._seg_ids = segments["segment_id"].to_numpy()
        self._df = termdict["df"].to_numpy()
        self._ttf = termdict["ttf"].to_numpy()

    @classmethod
    def from_tables(cls, segments: pa.Table,
                    termdict: pa.Table) -> "ResidentTables":
        """The resident tables of a snapshot's whole segments and
        termdict tables, in any order and chunking: sorted, combined and
        cast to the types a file read yields (_read_schema)."""
        def resident(tbl, table, keys):
            schema = _read_schema(table)
            return tbl.select(schema.names).sort_by(keys).combine_chunks(
            ).cast(schema)

        return cls(
            resident(segments, "segments",
                     [("term", "ascending"), ("segment_id", "ascending")]),
            resident(termdict, "termdict", "term"),
        )

    @classmethod
    def load(cls, snapshot: FileSnapshot) -> "ResidentTables":
        """Read both tables of ``snapshot`` whole, checking the files
        before and after the read."""
        files = ParquetTables(snapshot)
        segs = files._dataset("segments").to_table()
        td = files._dataset("termdict").to_table(columns=_TERMDICT_COLS)
        snapshot.check()
        return cls.from_tables(segs, td)

    @property
    def nbytes(self) -> int:
        """Bytes held: the Arrow tables, the key index (its arrays, its
        hash table and the Python strings both compare)."""
        arrays = (self._key_col, self._keys, self._lo, self._hi, self._td,
                  self._seg_ids, self._df, self._ttf)
        return (self.segments.nbytes + self.termdict.nbytes
                + sum(map(sys.getsizeof, self._keys))
                + sys.getsizeof(self._pos) + sum(a.nbytes for a in arrays))

    def _find(self, terms: list) -> np.ndarray:
        """The key index of each of ``terms`` (-1, the trailing slot:
        absent)."""
        return np.fromiter(map(self._pos.get, terms, repeat(-1)), np.int64,
                           len(terms))

    def segment_rows(self, terms, columns=None,
                     window: tuple | None = None) -> pa.Table:
        """As ParquetTables.segment_rows, in (term, segment_id) order."""
        j = np.unique(self._find(list(terms)))
        lo, n = self._lo[j], self._hi[j] - self._lo[j]
        idx = np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())
        if window is not None:
            (a, b), seg = window, self._seg_ids[idx]
            keep = np.ones(len(idx), bool)
            if a is not None:
                keep &= seg >= a
            if b is not None:
                keep &= seg < b
            idx = idx[keep]
        tbl = self.segments if columns is None else self.segments.select(columns)
        return tbl.take(idx)

    def term_stats(self, terms) -> dict[str, tuple[int, int]]:
        terms = list(terms)
        row = self._td[self._find(terms)]
        hit = row >= 0
        return _stats_dict([t for t, h in zip(terms, hit) if h],
                           self._df[row[hit]].tolist(),
                           self._ttf[row[hit]].tolist())

    def termdict_rows(self, q, columns, limit: int | None = None) -> pa.Table:
        row = self._td[_matching(self._keys, self._key_col, q)]
        return self.termdict.select(columns).take(row[row >= 0][:limit])


# The last driver commit's tables, for the next searcher open:
# (index_dir, FileSnapshot.files, segments, termdict) or None.
_handoff = None
_handoff_lock = threading.Lock()


def hand_off(index_dir: str, segments: pa.Table, termdict: pa.Table) -> None:
    """Leave the whole segments and termdict tables a commit just wrote
    to ``index_dir`` for the next searcher open, with the file snapshot
    they were written as."""
    global _handoff
    files = FileSnapshot.record(index_dir).files
    with _handoff_lock:
        _handoff = (index_dir, files, segments, termdict)


def take_handoff(index_dir: str | None = None,
                 snapshot: FileSnapshot | None = None):
    """Empty the slot; return its (segments, termdict) when they were
    written to ``index_dir`` as the files ``snapshot`` records, else
    None (a searcher on another directory, or files rewritten since the
    commit, read the files).  Without a snapshot it only empties."""
    global _handoff
    with _handoff_lock:
        slot, _handoff = _handoff, None
    if slot is None or snapshot is None:
        return None
    d, files, segments, termdict = slot
    if d != index_dir or files != snapshot.files:
        return None
    return segments, termdict
