"""FuzzyLikeThisQuery analog: variant selection arithmetic replayed
in pure Python over the term dictionary, rewrite shape, and search
integration."""

import math

import pytest

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.fuzzylikethis import (
    fuzzy_like_this,
    fuzzy_like_this_terms,
)
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def flt_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("flt_idx"))
    build_index(spark, corpus_df(spark, 200, seed=9), d,
                EngineConfig(segment_size=64))
    return IndexSearcher(spark, d)


def _edit_distance(a: str, b: str) -> int:
    """Plain Levenshtein dynamic programme, the replay's own."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute_selection(searcher, text, max_num_terms):
    td = {r["term"]: int(r["df"]) for r in searcher.termdict.collect()}
    from lucene_solr_8_7_0_spark.functions.analysis import tokenize_text

    tokens = list(dict.fromkeys(tokenize_text(text, searcher.cfg.analyzer)))
    n = searcher.stats.num_docs
    out = []
    for term in tokens:
        variants = []
        for v, df in td.items():
            if abs(len(v) - len(term)) > 2:
                continue
            ed = _edit_distance(v, term)
            if ed > 2:
                continue
            boost = 1.0 if v == term else 1.0 - ed / min(len(v), len(term))
            variants.append((v, df, boost))
        if not variants:
            continue
        variants.sort(key=lambda x: (-x[2], x[0]))
        variants = variants[:50]
        df_src = next((d for v, d, _ in variants if v == term), 0)
        if df_src == 0:
            df_src = sum(d for _, d, _ in variants) // len(variants)
        idf = math.log((n + 1) / (df_src + 1)) + 1.0
        for v, d, boost in variants:
            out.append((term, v, d, round(boost * boost * idf, 6)))
    out.sort(key=lambda x: (-x[3], x[1]))
    return out[:max_num_terms]


def test_fuzzy_like_this_selection(flt_idx):
    got = fuzzy_like_this_terms(flt_idx, "publc statik", max_num_terms=15)
    assert got == _brute_selection(flt_idx, "publc statik", 15)
    assert got, "selection should not be empty on this corpus"
    # exact-match variant dominates its own group (boost 1.0)
    got2 = fuzzy_like_this_terms(flt_idx, "public", max_num_terms=5)
    assert got2[0][1] == "public" and got2[0][2] > 0


def test_fuzzy_like_this_query(flt_idx):
    q = fuzzy_like_this(flt_idx, "publc return", max_num_terms=10)
    assert isinstance(q, Q.BooleanQuery)
    td = flt_idx.search(q, k=5)
    assert len(td.doc_ids) > 0
    # every hit contains at least one selected variant
    sel = {v for _, v, _, _ in
           fuzzy_like_this_terms(flt_idx, "publc return", 10)}
    union = set()
    for v in sel:
        union |= {r["doc_id"] for r in
                  flt_idx.matches_df(Q.TermQuery(v)).collect()}
    assert set(td.doc_ids.tolist()) <= union
    # nonsense input -> MatchNoDocs
    q2 = fuzzy_like_this(flt_idx, "zzqqxxyy")
    assert isinstance(q2, Q.MatchNoDocsQuery)
