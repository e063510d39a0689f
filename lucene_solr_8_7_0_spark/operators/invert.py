"""Inversion front-ends: documents -> ONE ROW PER DOCUMENT of analyzed
tokens, the wire the segment encoder (operators/segments.py) consumes.

The Spark analog of the reference's in-memory inversion chain
(DefaultIndexingChain.processField/invert -> TermsHashPerField.add,
SURVEY.md §2.3).  Two front-ends produce it, and the build picks one
with ``use_jvm_tokenizer``:

* ``invert_doc_arrays`` — the whole analysis chain as a JVM Column
  expression: ``(doc_id, terms[], holes[])``, where ``holes`` lists
  the positions the max-length / stop filters dropped,
* ``invert`` — the Python chain (``analyze_batch``) in an Arrow UDF,
  for chains with Python-only filters (stemming, folding, synonyms,
  token limits): ``(doc_id, terms[], positions[], length)`` — explicit
  positions because synonyms share one, an explicit length because
  synonyms do not count toward the norm.

Every document keeps its row (empty arrays when nothing survives), so
the encoder sees every doc for norms and MatchAllDocs.  The (doc, term)
aggregation happens in the encoder, inside the group the segment
shuffle already built.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..config import EngineConfig
from ..functions.analysis import JVM_ANALYZERS, analyze_batch, analyzer_base

INVERTED_SCHEMA = (
    "doc_id bigint, terms array<string>, positions array<int>, length int"
)


def use_jvm_tokenizer(cfg: EngineConfig) -> bool:
    """True when the whole analysis chain of ``cfg`` runs as a JVM
    expression (``invert_doc_arrays``); chains with Python-only filters
    take ``invert``.  Both produce token-identical segments."""
    return (analyzer_base(cfg.analyzer) in JVM_ANALYZERS
            and not cfg.ascii_folding
            and not cfg.index_synonyms
            and not cfg.max_doc_tokens)


def analyze_docs(doc_ids, texts, cfg: EngineConfig):
    """The Python chain over one batch of documents: ``doc_ids`` (an
    Arrow int64 array) and their ``texts`` (a pandas Series) ->
    RecordBatch(doc_id, terms[], positions[], length), one row per
    document.  Shared by ``invert`` and the driver-placed commit
    (operators/merge.py)."""
    import pyarrow as pa

    tb = analyze_batch(texts, cfg.analyzer, cfg.max_token_length,
                       tuple(cfg.stopwords), cfg.ascii_folding,
                       cfg.html_strip, tuple(cfg.index_synonyms),
                       cfg.max_doc_tokens)
    # synonyms are appended after the primary tokens, out of doc
    # order: a stable sort regroups each doc's tokens
    order = np.argsort(tb.doc_idx, kind="stable")
    offsets = pa.array(np.concatenate(([0], np.cumsum(
        np.bincount(tb.doc_idx, minlength=len(texts))
    ))).astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [
            doc_ids,
            pa.ListArray.from_arrays(offsets, pa.array(
                tb.terms.to_numpy()[order], type=pa.string()
            )),
            pa.ListArray.from_arrays(offsets, pa.array(
                tb.positions[order], type=pa.int32()
            )),
            pa.array(tb.doc_lengths, type=pa.int32()),
        ],
        names=["doc_id", "terms", "positions", "length"],
    )


def invert(
    docs: DataFrame, cfg: EngineConfig, content_col: str = "content"
) -> DataFrame:
    """docs(doc_id, content, ...) -> (doc_id, terms[], positions[],
    length) through the Python analysis chain, one row per document."""

    def run(batches):
        for rb in batches:
            yield analyze_docs(rb.column(0), rb.column(1).to_pandas(), cfg)

    return docs.select("doc_id", content_col).mapInArrow(
        run, schema=INVERTED_SCHEMA
    )


def invert_doc_arrays(
    docs: DataFrame, cfg: EngineConfig, content_col: str = "content"
) -> DataFrame:
    """docs(doc_id, content, ...) -> (doc_id, terms[], holes[]) through
    the JVM chain, one row per document (``doc_array_columns``)."""
    terms, holes = doc_array_columns(cfg, content_col)
    return docs.select("doc_id", terms.alias("terms"), holes.alias("holes"))


def doc_array_columns(cfg: EngineConfig, content_col: str = "content"):
    """The JVM-side inversion as two Column expressions over
    ``content_col``: (terms array<string>, holes array<int>).

    One row per document rather than per token: ~20 bytes of row
    overhead per TOKEN cheaper — at 10^8+ tokens per-token rows
    dominated shuffle volume and spilled.  Positions are the pre-filter
    token indices (holes where the max-length/stop filters dropped a
    token), chain order identical to analyze_batch: tokenize ->
    length-filter (raw token) -> lowercase -> stop-filter.

    Position compression: with an empty stop set the kept positions are
    exactly ``arange(len(terms))`` except at (rare) dropped tokens, so
    shuffling one int per token is pure waste — ~40% of the shuffle
    volume at code-corpus token sizes.  Instead only the DROPPED raw
    positions (``holes``, usually empty) cross the wire and the encode
    kernel reconstructs kept positions as
    ``delete(arange(len(terms) + len(holes)), holes)``.  Every doc
    keeps its row (empty arrays), so segments see every doc without
    marker rows.

    The pair is built once per JVM and key (``_analysis_columns``): an
    unresolved Catalyst expression belongs to no session, and building
    it costs about 400 py4j commands, most of a small commit's collect."""
    from pyspark import SparkContext

    return _analysis_columns(
        SparkContext._jvm, cfg.analyzer, cfg.max_token_length,
        tuple(cfg.stopwords), cfg.html_strip, content_col,
    )


@lru_cache(maxsize=16)
def _analysis_columns(jvm, analyzer: str, max_token_length: int,
                      stopwords: tuple, html_strip: bool, content_col: str):
    """``doc_array_columns`` for one key: the fields of the config the
    expression reads, and the py4j JVM view it was built through (a
    ``JVMView`` compares by identity, so a Column of a gateway that was
    shut down and relaunched is never reused)."""
    from ..functions.analysis import jvm_token_array

    toks = F.coalesce(
        jvm_token_array(content_col, analyzer, html_strip=html_strip),
        F.array(),
    )

    def drop_pred(x):
        # length filter sees the RAW token; the stop filter sees the
        # LOWERCASED one (StandardAnalyzer chain order)
        d = F.length(x) > max_token_length
        if stopwords:
            tt = F.lower(x) if analyzer == "standard" else x
            d = d | tt.isin(*[str(w) for w in stopwords])
        return d

    term_of = (
        (lambda x: F.lower(x))
        if analyzer == "standard"
        else (lambda x: x)
    )
    # Fast common case: the per-token (t, p) struct zip + double filter
    # of the original formulation cost more interpreted higher-order-
    # function work than the tokenization itself (measured: 3.1s vs
    # 1.9s for this form on the sf1.0 corpus).  One `exists` pass
    # decides per document: no dropped token -> transform only (holes
    # empty by construction), else filter/positions the slow way.
    # CASE WHEN evaluates just the taken branch.
    has_drop = F.exists(toks, drop_pred)
    terms = F.when(
        has_drop,
        F.transform(F.filter(toks, lambda x: ~drop_pred(x)), term_of),
    ).otherwise(F.transform(toks, term_of))
    holes = F.when(
        has_drop,
        F.filter(
            F.transform(
                toks, lambda x, i: F.when(drop_pred(x), i)
            ),
            lambda v: v.isNotNull(),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return terms, holes
