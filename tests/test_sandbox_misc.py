"""CoveringQuery (sandbox), DiversifiedTopDocsCollector (misc), and
DrillSideways (facet) analogs, verified against independent replays
over the raw corpus / the float32 oracle index."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_8_7_0_spark.functions.oracle import (
    _eval,
    build_oracle_index,
    oracle_matches,
)
from lucene_solr_8_7_0_spark.operators.covering import (
    covering_score_all,
    covering_topk,
)
from lucene_solr_8_7_0_spark.operators.facets import drill_sideways
from lucene_solr_8_7_0_spark.operators.grouping import diversified_topk
from lucene_solr_8_7_0_spark.plans import queries as Q

CLAUSES = ["public", "return", "data", "hash"]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.operators.build import build_index
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
    from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

    d = str(tmp_path_factory.mktemp("idx_cov"))
    cfg = EngineConfig(segment_size=64)
    docs = corpus_df(spark, 220, seed=11).withColumn(
        "mm", (F.length("content") % 3).cast("long")
    ).withColumn(
        "taxo",
        F.array(
            F.concat("lang", F.lit("/t"),
                     (F.length("content") % 2).cast("string")),
            F.concat(F.lit("topic/k"),
                     (F.length("content") % 4).cast("string")),
        ),
    )
    build_index(spark, docs, d, cfg)
    searcher = IndexSearcher(spark, d)
    corpus = (
        docs.join(
            spark.read.parquet(f"{d}/docs").select("repo", "path", "doc_id"),
            ["repo", "path"],
        )
        .select("doc_id", "lang", "mm", "taxo", "content")
        .toPandas()
        .sort_values("doc_id")
    )
    oi = build_oracle_index(corpus[["doc_id", "content"]], cfg)
    return searcher, corpus, oi


def _clause_scores(oi):
    """per-clause (doc -> float32 score) maps from the oracle."""
    out = {}
    for t in CLAUSES:
        docs, scores = _eval(oi, Q.TermQuery(t), 1.0, True)
        out[t] = dict(zip(docs.tolist(), scores.tolist()))
    return out


def _covering_expect(oi, corpus, min_match):
    per = _clause_scores(oi)
    mm = corpus.set_index("doc_id")["mm"].to_dict()
    rows = {}
    for t, m in per.items():
        for d, s in m.items():
            cnt, tot = rows.get(d, (0, 0.0))
            rows[d] = (cnt + 1, tot + s)
    out = {}
    for d, (cnt, tot) in rows.items():
        need = max(1, min_match if isinstance(min_match, int) else mm[d])
        if cnt >= need:
            out[d] = (cnt, round(tot, 4))
    return out


def test_covering_per_doc_column(engine):
    searcher, corpus, oi = engine
    got = covering_score_all(
        searcher, [Q.TermQuery(t) for t in CLAUSES], "mm"
    ).toPandas().set_index("doc_id")
    exp = _covering_expect(oi, corpus, "mm")
    assert set(got.index) == set(exp)
    for d, (cnt, tot) in exp.items():
        assert int(got.loc[d, "freq"]) == cnt
        assert abs(float(got.loc[d, "score"]) - tot) < 2e-4


def test_covering_clamps_to_one(engine):
    """minMatch values < 1 are treated as 1 (CoveringScorer.java:129)."""
    searcher, corpus, oi = engine
    got = covering_score_all(
        searcher, [Q.TermQuery(t) for t in CLAUSES], 0
    ).toPandas()
    exp = _covering_expect(oi, corpus, 0)
    assert set(got.doc_id) == set(exp)
    # with clamp-to-1 this is exactly the OR hit set
    union = set()
    for t in CLAUSES:
        union |= set(oracle_matches(oi, Q.TermQuery(t)).tolist())
    assert set(got.doc_id) == union


def test_covering_topk_order(engine):
    searcher, corpus, oi = engine
    got = covering_topk(
        searcher, [Q.TermQuery(t) for t in CLAUSES], 2, k=5
    ).toPandas()
    exp = sorted(
        _covering_expect(oi, corpus, 2).items(),
        key=lambda kv: (-kv[1][1], kv[0]),
    )[:5]
    assert [int(d) for d in got.doc_id] == [d for d, _ in exp]


def test_diversified_topk(engine):
    searcher, corpus, oi = engine
    q = Q.term_or(["public", "return"], 1)
    got = diversified_topk(searcher, q, "lang", k=6, max_per_key=2).toPandas()
    # oracle: per-key cap then global top-k on (round4 desc, doc asc)
    docs, scores = _eval(oi, q, 1.0, True)
    lang = corpus.set_index("doc_id")["lang"].to_dict()
    rows = sorted(
        ((round(float(s), 4), int(d), lang[int(d)])
         for d, s in zip(docs, scores)),
        key=lambda r: (-r[0], r[1]),
    )
    seen, eligible = {}, []
    for r, d, lg in rows:
        seen[lg] = seen.get(lg, 0) + 1
        if seen[lg] <= 2:
            eligible.append((r, d, lg))
    exp = eligible[:6]
    assert [int(d) for d in got.doc_id] == [d for _, d, _ in exp]
    assert got.groupby("lang").size().max() <= 2


def _vocab(searcher):
    return sorted(
        r["term"] for r in searcher.termdict.select("term").collect()
    )


def test_phrase_wildcard_matches_expanded_multiphrase(engine):
    """PhraseWildcardQuery == MultiPhraseQuery over the full expansion
    of each pattern slot (PhraseWildcardQuery.java:170-240), hits and
    scores, via the float32 oracle."""
    from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms

    searcher, corpus, oi = engine
    vocab = _vocab(searcher)
    cases = [
        (Q.PrefixQuery("pu"), "static"),
        ("if", Q.PrefixQuery("pu")),
        (Q.WildcardQuery("re?urn"), Q.PrefixQuery("pub")),
    ]
    for slots in cases:
        pw = Q.PhraseWildcardQuery(tuple(slots),
                                   max_multi_term_expansions=256)
        got = sorted(
            searcher.matches_df(pw).toPandas()["doc_id"].tolist()
        )
        expanded = tuple(
            (s,) if isinstance(s, str)
            else tuple(expand_terms(s, vocab)[:256])
            for s in slots
        )
        exp = sorted(
            oracle_matches(oi, Q.MultiPhraseQuery(expanded)).tolist()
        )
        assert got == exp, slots
        assert len(got) > 0, slots


def test_phrase_wildcard_budget_truncates_in_term_order(engine):
    """Budget exhaustion keeps the FIRST max_multi_term_expansions
    matching terms in term order and trades recall, never raising
    (:378-392); the budget counts exact matches, not the rows of the
    read's narrowing (fuzzy's length band, a regexp's whole dictionary)."""
    from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms

    searcher, corpus, oi = engine
    vocab = _vocab(searcher)
    budget = 2
    for slot in (Q.PrefixQuery("s"), Q.FuzzyQuery("set"),
                 Q.RegexpQuery("s[a-z]*t")):
        full = expand_terms(slot, vocab)
        assert len(full) > budget, slot  # many expansions in this corpus
        want = Q.MultiPhraseQuery((("public",), tuple(full[:budget])))
        pw = Q.PhraseWildcardQuery(("public", slot),
                                   max_multi_term_expansions=budget)
        assert searcher._reader_rewrite(pw) == want, slot
        got = sorted(searcher.matches_df(pw).toPandas()["doc_id"].tolist())
        assert got == sorted(oracle_matches(oi, want).tolist()), slot


def test_phrase_wildcard_unmatchable_slot(engine):
    searcher, _, _ = engine
    pw = Q.PhraseWildcardQuery(("word", Q.PrefixQuery("zzzzqq")))
    assert searcher.matches_df(pw).count() == 0


def test_phrase_wildcard_rejects_bad_slot():
    with pytest.raises(TypeError):
        Q.PhraseWildcardQuery(("ok", 3.5))
    with pytest.raises(ValueError):
        Q.PhraseWildcardQuery(())


def test_drill_sideways(engine):
    searcher, corpus, oi = engine
    base = Q.TermQuery("public")
    dd = {"lang": ("java", "t1"), "topic": ("topic", "k2")}
    got = drill_sideways(searcher, base, "taxo", dd).toPandas()
    hits = set(oracle_matches(oi, base).tolist())
    paths = corpus.set_index("doc_id")["taxo"].to_dict()

    def under(d, path):
        return any(
            tuple(p.split("/")[: len(path)]) == path for p in paths[d]
        )

    # sideways counts for dim X: docs in base AND all OTHER dims,
    # counted by the child label under X's drilled parent
    for dim, other in (("lang", "topic"), ("topic", "lang")):
        near = [d for d in hits if under(d, dd[other])]
        parent = dd[dim][:-1]
        exp = {}
        for d in near:
            kids = {
                p.split("/")[len(parent)]
                for p in paths[d]
                if tuple(p.split("/")[: len(parent)]) == parent
                and len(p.split("/")) > len(parent)
            }
            for c in kids:
                exp[c] = exp.get(c, 0) + 1
        sub = got[got.dim == dim].set_index("label")["count"].to_dict()
        assert sub == exp, dim
    total = int(got[got.dim == "$hits"]["count"].iloc[0])
    assert total == sum(
        1 for d in hits if under(d, dd["lang"]) and under(d, dd["topic"])
    )
