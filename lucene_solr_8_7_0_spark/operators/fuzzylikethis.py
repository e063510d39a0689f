"""FuzzyLikeThisQuery — fuzzy "more like this" over a free-text input.

Reference: lucene/sandbox/src/java/org/apache/lucene/sandbox/queries/
FuzzyLikeThisQuery.java (:188-245 addTerms, :277-331 rewrite):

* analyze the input text; for each DISTINCT term enumerate fuzzy
  variants (FuzzyTermsEnum) with similarity boost
  ``1 - ed / min(len(variant), len(term))`` (FuzzyTermsEnum.java:
  225-233; exact match = 1.0), keeping the top
  MAX_VARIANTS_PER_TERM=50 per term (:76,204),
* the idf df is the SOURCE term's docFreq; when the source term is
  absent, the INTEGER average of the variants' dfs stands in
  (:238-242 ``avgDf = totalVariantDocFreqs / numVariants``),
* each variant's final score = boost^2 * ClassicSimilarity.idf
  (:240), and the global top ``maxNumTerms`` variants survive,
* the rewrite groups survivors by source term into SHOULD clauses of
  BoostQuery(TermQuery(variant), score) (:293-330) — a per-variant
  boosted disjunction, no coord.

Variant enumeration is ONE exact driver-side termdict read per input
term (the searcher's ``_tables``: the engine's FuzzyQuery, no Spark
job); everything after (boosts, the two ranked selections, query
assembly) is driver-side arithmetic over <= terms x 50 rows, with the
edit distance FuzzyQuery matches by (rewrite._edit_distance).
Selection arithmetic runs in float64 (the reference uses float32; the
1e-7-relative divergence sits far below the engine's round(6)
SQL-replay rank policy).
"""

from __future__ import annotations

import math

from ..plans import queries as Q
from ..plans.rewrite import _edit_distance

__all__ = ["fuzzy_like_this", "fuzzy_like_this_terms"]

MAX_VARIANTS_PER_TERM = 50  # FuzzyLikeThisQuery.java:76


def _classic_idf(df: int, num_docs: int) -> float:
    # ClassicSimilarity.idf (TFIDFSimilarity.java):
    # log((docCount + 1) / (df + 1)) + 1
    return math.log((num_docs + 1) / (df + 1)) + 1.0


def fuzzy_like_this_terms(
    searcher,
    text: str,
    max_num_terms: int = 25,
    max_edits: int = 2,
    prefix_length: int = 0,
):
    """The scored variant selection (addTerms + the global queue):
    returns [(source_term, variant, df, score)] ordered by
    (score desc, variant asc), truncated to ``max_num_terms``."""
    from ..functions.analysis import tokenize_text

    tokens = list(dict.fromkeys(
        tokenize_text(text, searcher.cfg.analyzer)
    ))
    num_docs = searcher.stats.num_docs
    selected = []
    for term in tokens:
        rows = searcher._tables().termdict_rows(
            Q.FuzzyQuery(term, max_edits=max_edits,
                         prefix_length=prefix_length), ["term", "df"])
        variants = []
        for v, df in zip(rows["term"].to_pylist(), rows["df"].to_pylist()):
            if v == term:
                boost = 1.0
            else:
                ed = _edit_distance(v, term)
                boost = 1.0 - ed / min(len(v), len(term))
            variants.append((v, df, boost))
        if not variants:
            continue
        variants.sort(key=lambda x: (-x[2], x[0]))
        variants = variants[:MAX_VARIANTS_PER_TERM]
        df_src = next((d for v, d, _ in variants if v == term), 0)
        if df_src == 0:
            # integer average, exactly like the reference (:238)
            df_src = sum(d for _, d, _ in variants) // len(variants)
        idf = _classic_idf(df_src, num_docs)
        for v, d, boost in variants:
            selected.append((term, v, d, round(boost * boost * idf, 6)))
    selected.sort(key=lambda x: (-x[3], x[1]))
    return selected[:max_num_terms]


def fuzzy_like_this(
    searcher,
    text: str,
    max_num_terms: int = 25,
    max_edits: int = 2,
    prefix_length: int = 0,
) -> Q.Query:
    """The rewrite (:277-331): survivors grouped by source term, each
    group a SHOULD of BoostQuery(TermQuery(variant), score), groups
    combined SHOULD."""
    selected = fuzzy_like_this_terms(
        searcher, text, max_num_terms, max_edits, prefix_length
    )
    if not selected:
        return Q.MatchNoDocsQuery("no fuzzy-like-this variants")
    groups: dict = {}
    for src, v, _df, score in selected:
        groups.setdefault(src, []).append((v, score))
    b = Q.Builder()
    for src in sorted(groups):
        variants = groups[src]
        if len(variants) == 1:
            v, score = variants[0]
            b.add(Q.BoostQuery(Q.TermQuery(v), score), Q.Occur.SHOULD)
            continue
        inner = Q.Builder()
        for v, score in sorted(variants):
            inner.add(Q.BoostQuery(Q.TermQuery(v), score), Q.Occur.SHOULD)
        b.add(inner.build(), Q.Occur.SHOULD)
    return b.build()
