"""Deletes / live docs — the Lucene50LiveDocsFormat analog.

Reference semantics (L/codecs/lucene50/Lucene50LiveDocsFormat.java,
L/index/PendingDeletes.java): a deletion does NOT rewrite postings —
deleted docs are masked out of every query by a per-segment live-docs
bitset, while collection/term statistics still count them until a
merge expunges them.  This mirrors that exactly:

* ``delete_documents`` appends doc ids to an ``index_dir/deletes``
  parquet table (the commit of a new del generation): one Spark action
  collects the ids as Arrow, and the driver writes them as one parquet
  file, marks the table with ``_SUCCESS`` and bumps the generation,
* ``IndexSearcher`` (when the table exists) loads the mask once per
  del generation with ``load_live_docs`` — each segment's deleted
  local ids encoded by ``codec.encode_docsets``, the one docset
  encoder point-filter docsets share — and ships it to the kernels as
  one broadcast.  The per-segment kernel puts its segment's mask into
  the postings map under ``DELETES_TOKEN``, and every
  compiled query gets an implicit MUST_NOT clause on that token, so
  top-k, counts, matches and facets all exclude deleted docs BEFORE
  ranking, without adding rows to the postings scan,
* stats/termdict are intentionally untouched (Lucene's docFreq also
  counts deleted docs until merge),
* ``update_documents`` is the IndexWriter.updateDocument analog: one
  ``merge.add_documents`` commit that writes the new snapshot, carries
  the base's deletes table (doc ids are stable across merges) and
  commits the replaced docs as its next del generation; the old
  snapshot is left untouched.

Scale shape: deletes are a tiny table keyed by doc_id, read on the
driver with pyarrow and grouped by ``doc_id // segment_size``; the
searcher re-reads it only when the generation counter moves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

DELETES_TOKEN = "\x01deleted"


def deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def _gen_path(index_dir: str) -> str:
    # leading "_" => ignored by parquet directory listings
    return os.path.join(deletes_path(index_dir), "_GENERATION")


def read_generation(index_dir: str) -> int:
    """Current del generation: an explicit monotonic counter written at
    each delete commit (SegmentInfos.delGen analog).  Unlike an mtime,
    two delete batches landing within one filesystem-timestamp tick
    still get distinct generations, so caches keyed on it can never
    serve a stale live-docs mask."""
    try:
        with open(_gen_path(index_dir)) as f:
            return int(f.read().strip() or 0)
    except OSError:
        return 0


def _bump_generation(index_dir: str) -> int:
    gen = read_generation(index_dir) + 1
    with open(_gen_path(index_dir), "w") as f:
        f.write(str(gen))
    return gen


def load_live_docs(index_dir: str, segment_size: int) -> dict:
    """{segment_id: TermPostings of the segment's deleted LOCAL doc
    ids} from the deletes table — the per-segment live-docs bitset the
    kernel applies (``codec.encode_docsets``)."""
    import pyarrow.parquet as pq

    from ..functions.codec import encode_docsets

    ids = pq.read_table(deletes_path(index_dir), columns=["doc_id"])
    return encode_docsets(ids.column("doc_id").to_numpy(), segment_size)


def write_deletes(index_dir: str, ids) -> int:
    """Commit a new del generation from an Arrow table of global
    ``doc_id``s, driver-side: one parquet file, the ``_SUCCESS`` marker
    the searcher keys "this snapshot has deletes" on, and the bumped
    generation.  Returns the number of ids written."""
    import uuid

    import pyarrow.parquet as pq

    if ids.num_rows:
        d = deletes_path(index_dir)
        os.makedirs(d, exist_ok=True)
        pq.write_table(ids, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))
        open(os.path.join(d, "_SUCCESS"), "w").close()
        _bump_generation(index_dir)
    return ids.num_rows


def delete_documents(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame
) -> int:
    """Mark docs deleted (by global doc_id).  Appends a new del
    generation; idempotent at read time (ids are de-duplicated when
    the mask is built).  Returns the number of ids written."""
    return write_deletes(
        index_dir, doc_ids.select(F.col("doc_id").cast("long")).toArrow()
    )


def delete_by_query(spark: SparkSession, index_dir: str, searcher, query) -> int:
    """IndexWriter.deleteDocuments(Query): resolve the hit set with the
    searcher (deletes already applied), mark those ids deleted."""
    hits = searcher.matches_df(query).select("doc_id")
    return delete_documents(spark, index_dir, hits)


def update_documents(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    out_dir: str,
    key_cols: list[str] | None = None,
):
    """IndexWriter.updateDocument analog: one ``add_documents`` commit
    of the replacements into a new snapshot ``out_dir`` that also marks
    deleted, in ``out_dir`` only, the old docs with the same key
    columns (default (repo, path)).  ``index_dir`` is never written, so
    it stays the commit point it was: a reader on it keeps seeing the
    replaced docs.  Returns the commit's ``merge.CommitInfo``."""
    from .merge import add_documents

    return add_documents(spark, index_dir, new_docs, out_dir,
                         delete_keys=key_cols or ["repo", "path"])
