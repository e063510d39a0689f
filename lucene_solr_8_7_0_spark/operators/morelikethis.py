"""MoreLikeThis — the queries-module "find similar documents" surface.

Reference: lucene/queries/src/java/org/apache/lucene/queries/mlt/
MoreLikeThis.java: extract the source doc's "interesting" terms —
tf * idf with the classic idf ``log(numDocs / (docFreq + 1)) + 1``
(MoreLikeThis.java#createQueue, TFIDFSimilarity.idf) — after noise
gates minTermFreq (default 2), minDocFreq (default 5), maxQueryTerms
(default 25), then search an OR query over them.

Spark-first shape: the source doc's term freqs come from ONE pushed-
down postings scan of its segment (the index already holds the
inverted doc — no re-analysis); stats join against the termdict; the
selection is a TakeOrderedAndProject.  Everything is deterministic:
ties break (term asc), so the selected set is SQL-replayable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

__all__ = ["interesting_terms", "more_like_this"]


def interesting_terms(
    searcher,
    doc_id: int,
    min_tf: int = 2,
    min_df: int = 5,
    max_terms: int = 25,
) -> DataFrame:
    """(rank, term, tf, df, score float64) of the doc's MLT terms,
    score = tf * (ln(numDocs / (df + 1)) + 1), ranked (score desc,
    term asc)."""
    from pyspark.sql import Window

    from ..functions.codec import decode_term_postings
    from .search import rows_to_posting_map
    from .segments import SENTINEL_TERM

    seg_id = doc_id // searcher.cfg.segment_size
    local = doc_id - seg_id * searcher.cfg.segment_size

    # tf of every term of THIS doc: one segment's postings, decoded in
    # a narrow map (no shuffle; term freqs live in the index).  Column
    # projection drops pos_blocks — the scan never reads positions —
    # and the whole batch converts through rows_to_posting_map ONCE
    # (column-wise over the Arrow batch), not a row-slice per term.
    seg = searcher.segments.filter(
        (F.col("segment_id") == seg_id) & (F.col("term") != SENTINEL_TERM)
    ).select(
        "term", "df", "ttf", "singleton_doc", "singleton_freq",
        "doc_blocks", "doc_block_offsets", "freq_blocks",
        "freq_block_offsets", "block_last_docs",
        "impacts_flat", "impacts_offsets",
    )

    def tf_of_doc(batches):
        for batch in batches:
            terms, tfs = [], []
            for term, tp in rows_to_posting_map(pa.Table.from_batches([batch])).items():
                docs, freqs, _ = decode_term_postings(tp)
                j = np.searchsorted(docs, local)
                if j < len(docs) and docs[j] == local:
                    terms.append(term)
                    tfs.append(int(freqs[j]))
            yield pa.RecordBatch.from_pydict({
                "term": pa.array(terms, pa.string()),
                "tf": pa.array(tfs, pa.int32()),
            })

    doc_tf = seg.mapInArrow(tf_of_doc, schema="term string, tf int")
    n_docs = searcher.stats.num_docs
    joined = (
        doc_tf.filter(F.col("tf") >= min_tf)
        .join(searcher.termdict.select("term", "df"), "term")
        .filter(F.col("df") >= min_df)
        .withColumn(
            "score",
            F.col("tf")
            * (F.log(F.lit(float(n_docs)) / (F.col("df") + 1)) + 1.0),
        )
    )
    order = [F.round("score", 9).desc(), F.col("term").asc()]
    top = joined.orderBy(*order).limit(max_terms)
    from pyspark.sql import Window

    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "term", "tf", "df", F.round("score", 6).alias("score"))
        .orderBy("rank")
    )


def more_like_this(
    searcher,
    doc_id: int,
    k: int = 10,
    min_tf: int = 2,
    min_df: int = 5,
    max_terms: int = 25,
):
    """Top-k similar docs: OR query over the interesting terms, BM25-
    ranked by the engine (MoreLikeThis.like -> IndexSearcher.search).
    The source doc itself naturally ranks first, like the reference."""
    from ..plans import queries as Q

    terms = [r["term"] for r in interesting_terms(
        searcher, doc_id, min_tf, min_df, max_terms
    ).collect()]
    if not terms:
        return None, searcher.spark.createDataFrame(
            [], "rank int, doc_id bigint, score float"
        )
    q = Q.term_or(terms, 1)
    return q, searcher.search_df(q, k=k, with_meta=False)
