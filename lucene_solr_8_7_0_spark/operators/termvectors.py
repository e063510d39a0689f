"""Term vectors — the IndexReader.getTermVector surface.

Reference: lucene/core/src/java/org/apache/lucene/index/
TermVectors / Lucene50TermVectorsFormat (.tvd/.tvx): a per-document
mini inverted index (term -> freq + positions [+ offsets]) stored at
index time for highlighting and MoreLikeThis.

Spark-first, two tiers:

* positions-only vectors have NO separate stored structure — the
  postings already contain every (term, doc, freq, positions) tuple,
  so ``term_vector`` is a read-time projection of the doc's segment
  postings (one pushed-down scan + a narrow map).  At 100 TB the
  reference's .tvd files roughly double the index; here the postings
  ARE the vectors.
* CHARACTER OFFSETS are extra information the postings don't carry;
  with ``EngineConfig.index_offsets=True`` the build materializes a
  doc-major ``termvectors`` table (doc_id, term, freq, positions,
  starts, ends) — the engine's ``.pay``/offset store
  (Lucene84PostingsFormat.java:312 DOCS_AND_FREQS_AND_POSITIONS_AND_
  OFFSETS; UnifiedHighlighter OffsetSource.TERM_VECTORS).  Doc-major
  (not interleaved into the postings blocks) is the deliberate
  100-TB layout: offsets are dead weight for SCORING — every query
  scans postings, only the top-k highlight path reads offsets — so
  they live in a separate doc-sorted table where parquet row-group
  pruning on doc_id reads exactly the k hit docs, the same access
  pattern the reference optimizes with its .tvx per-doc index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

__all__ = ["term_vector", "build_term_vectors", "TERMVECTOR_SCHEMA"]

TERMVECTOR_SCHEMA = (
    "doc_id bigint, term string, freq int, positions array<int>, "
    "starts array<int>, ends array<int>, offsets_valid boolean"
)


def build_term_vectors(
    docs: DataFrame, cfg, content_col: str = "content"
) -> DataFrame:
    """(doc_id, term, freq, positions, starts, ends, offsets_valid)
    for every (doc, term) — the index-time offset store.  One narrow
    map over (doc_id, content); no shuffle (rows stay doc-clustered
    because the input is doc-partitioned)."""
    from ..functions.analysis import analyze_batch_with_offsets

    analyzer = cfg.analyzer
    max_len = cfg.max_token_length
    stops = tuple(cfg.stopwords)

    def run(batches):
        for pdf in batches:
            ob = analyze_batch_with_offsets(
                pdf[content_col], analyzer, max_len, stops
            )
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            if len(ob.doc_idx) == 0:
                yield pd.DataFrame(
                    columns=[
                        "doc_id", "term", "freq", "positions", "starts",
                        "ends", "offsets_valid",
                    ]
                )
                continue
            tdf = pd.DataFrame(
                {
                    "doc_id": ids[ob.doc_idx],
                    "valid": ob.offsets_valid[ob.doc_idx],
                    "term": ob.terms.to_numpy(),
                    "p": ob.positions,
                    "s": ob.starts,
                    "e": ob.ends,
                }
            )
            grouped = tdf.groupby(["doc_id", "term"], sort=True).agg(
                freq=("p", "size"),
                positions=("p", list),
                starts=("s", list),
                ends=("e", list),
                offsets_valid=("valid", "first"),
            ).reset_index()
            grouped["freq"] = grouped["freq"].astype("int32")
            yield grouped

    return docs.select("doc_id", content_col).mapInPandas(
        run, schema=TERMVECTOR_SCHEMA
    )


def term_vector(searcher, doc_id: int) -> DataFrame:
    """(term, freq, positions array<int>) of one document, from the
    index itself (no re-analysis).  Requires a positions index."""
    from ..functions.codec import decode_term_postings
    from .search import rows_to_posting_map
    from .segments import SENTINEL_TERM

    seg_id = doc_id // searcher.cfg.segment_size
    local = doc_id - seg_id * searcher.cfg.segment_size
    seg = searcher.segments.filter(
        (F.col("segment_id") == seg_id) & (F.col("term") != SENTINEL_TERM)
    )

    def run(batches):
        for batch in batches:
            terms, freqs, poss = [], [], []
            # one column-wise pass builds every TermPostings; the
            # per-term work is then only the decode itself
            for term, tp in rows_to_posting_map(pa.Table.from_batches([batch])).items():
                docs, fr, pos = decode_term_postings(tp, with_positions=True)
                j = np.searchsorted(docs, local)
                if j < len(docs) and docs[j] == local:
                    terms.append(term)
                    freqs.append(int(fr[j]))
                    if pos is not None:
                        starts = np.concatenate(([0], np.cumsum(fr)))
                        poss.append(
                            pos[starts[j] : starts[j + 1]].astype(np.int32).tolist()
                        )
                    else:
                        poss.append([])
            yield pa.RecordBatch.from_pydict({
                "term": pa.array(terms, pa.string()),
                "freq": pa.array(freqs, pa.int32()),
                "positions": pa.array(poss, pa.list_(pa.int32())),
            })

    return seg.mapInArrow(
        run, schema="term string, freq int, positions array<int>"
    )
