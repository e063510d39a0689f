"""End-to-end distributed search vs the exhaustive oracle (CheckHits).

Rank identity: for every query shape, the engine's top-k doc ids AND
bitwise float32 scores must equal the oracle's, with pruning enabled
and with score ties broken by doc id asc — the BASELINE.json gate.
"""

import numpy as np
import pytest

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.functions.oracle import build_oracle_index, oracle_search
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.plans.rewrite import rewrite
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df, generate_query_set

N_FILES = 400


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    cfg = EngineConfig(segment_size=64)  # several segments
    docs = corpus_df(spark, N_FILES, seed=42)
    build_index(spark, docs, d, cfg)
    searcher = IndexSearcher(spark, d)
    corpus_pdf = (
        docs.join(
            spark.read.parquet(f"{d}/docs").select("repo", "path", "doc_id"),
            ["repo", "path"],
        )
        .select("doc_id", "content")
        .toPandas()
    )
    oi = build_oracle_index(corpus_pdf, cfg)
    return searcher, oi


def assert_identical(searcher, oi, query, k=10, threshold=1):
    td = searcher.search(query, k=k, total_hits_threshold=threshold)
    # oracle needs the same rewritten tree for multi-term queries
    exp = oracle_search(oi, rewrite(query, searcher._term_lookup), k=k)
    assert td.doc_ids.tolist() == exp.doc_ids.tolist(), str(query)
    np.testing.assert_array_equal(td.scores, exp.scores, err_msg=str(query))
    return td, exp


def test_query_set_rank_identity(spark, engine):
    """The FIXTURES.md §2 reference query set, pruning forced on
    (threshold=1): 100% rank identity + bitwise score equality."""
    searcher, oi = engine
    td_pdf = searcher.termdict.toPandas()
    qs = generate_query_set(td_pdf, seed=7, n_queries=40)
    for _, row in qs.iterrows():
        terms = list(row["terms"])
        if row["qtype"] == "term":
            q = Q.TermQuery(terms[0])
        elif row["qtype"] == "and":
            q = Q.term_and(terms)
        elif row["qtype"] == "or":
            q = Q.term_or(terms, row["min_should_match"])
        else:  # and_or: MUST hot + SHOULD mids
            b = Q.Builder()
            b.add(Q.TermQuery(terms[0]), Q.Occur.MUST)
            for t in terms[1:]:
                b.add(Q.TermQuery(t), Q.Occur.SHOULD)
            q = b.build()
        assert_identical(searcher, oi, q, k=row["k"], threshold=1)


def test_complete_mode_exact_hits(engine):
    searcher, oi = engine
    q = Q.term_or(["public", "return"], 1)
    td = searcher.search(q, k=5, score_mode="complete")
    exp = oracle_search(oi, q, k=5)
    assert td.total_hits == exp.total_hits
    assert td.relation == "EQ"
    assert searcher.count(q) == exp.total_hits


def test_boolean_shapes(engine):
    searcher, oi = engine
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(Q.TermQuery("return"), Q.Occur.MUST_NOT)
    assert_identical(searcher, oi, b.build())

    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.FILTER)
    b.add(Q.TermQuery("return"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())

    b = Q.Builder()
    b.add(Q.BoostQuery(Q.TermQuery("public"), 2.5), Q.Occur.SHOULD)
    b.add(Q.TermQuery("return"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())

    b = Q.Builder()
    b.add(Q.ConstantScoreQuery(Q.TermQuery("public")), Q.Occur.SHOULD)
    b.add(Q.TermQuery("import"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())


def test_missing_term_and_empty_results(engine):
    searcher, oi = engine
    td = searcher.search(Q.TermQuery("zzz_not_in_corpus_zzz"))
    assert td.total_hits == 0 and len(td.doc_ids) == 0
    assert_identical(
        searcher, oi, Q.term_or(["zzz_not_in_corpus_zzz", "public"], 1)
    )
    td = searcher.search(Q.MatchNoDocsQuery())
    assert td.total_hits == 0


def test_match_all(engine):
    searcher, oi = engine
    td = searcher.search(Q.MatchAllDocsQuery(), k=5)
    assert td.total_hits == oi.num_docs
    assert td.doc_ids.tolist() == [0, 1, 2, 3, 4]  # score ties -> doc asc
    assert (td.scores == np.float32(1.0)).all()


def test_match_all_boost_and_shoulds(engine):
    """MatchAll carries its boost, and SHOULD clauses still score /
    msm still filters over the match-all candidates (ADVICE round 1)."""
    searcher, oi = engine
    # BoostQuery(MatchAll) scores boost * 1.0, not 1.0
    td = searcher.search(Q.BoostQuery(Q.MatchAllDocsQuery(), 2.0), k=5)
    assert (td.scores == np.float32(2.0)).all()
    # MUST MatchAll + SHOULDs: optional scores added onto the base
    b = Q.Builder()
    b.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b.add(Q.TermQuery("public"), Q.Occur.SHOULD)
    b.add(Q.TermQuery("return"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())
    # same shape with minimumShouldMatch = 2: docs matching fewer
    # than 2 optionals are excluded even though MatchAll matches them
    b = Q.Builder()
    b.add(Q.MatchAllDocsQuery(), Q.Occur.MUST)
    b.add(Q.TermQuery("public"), Q.Occur.SHOULD)
    b.add(Q.TermQuery("return"), Q.Occur.SHOULD)
    b.set_minimum_number_should_match(2)
    td, exp = assert_identical(searcher, oi, b.build())
    assert td.total_hits < oi.num_docs  # msm actually filtered
    # FILTER MatchAll + SHOULD: base contributes no score
    b = Q.Builder()
    b.add(Q.MatchAllDocsQuery(), Q.Occur.FILTER)
    b.add(Q.TermQuery("public"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())


def test_should_duplicates_with_msm2(engine):
    """[a, a, b] with msm=2: a doc containing only 'a' counts twice
    toward msm — duplicate SHOULDs must NOT merge when msm >= 2."""
    searcher, oi = engine
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.SHOULD)
    b.add(Q.TermQuery("public"), Q.Occur.SHOULD)
    b.add(Q.TermQuery("zzz_not_in_corpus_zzz"), Q.Occur.SHOULD)
    b.set_minimum_number_should_match(2)
    td, _ = assert_identical(searcher, oi, b.build())
    only_a = searcher.count(Q.TermQuery("public"))
    assert td.total_hits == only_a  # every 'public' doc matches via the dup


def test_phrase_query(engine):
    searcher, oi = engine
    q = Q.PhraseQuery(("public", "return"))
    td = searcher.search(q, k=10)
    exp = oracle_search(oi, q, k=10)
    assert td.doc_ids.tolist() == exp.doc_ids.tolist()
    np.testing.assert_array_equal(td.scores, exp.scores)


def test_multi_term_rewrites(engine):
    searcher, oi = engine
    assert_identical(searcher, oi, Q.PrefixQuery("get"))
    assert_identical(searcher, oi, Q.WildcardQuery("re*rn"))
    assert_identical(searcher, oi, Q.FuzzyQuery("retorn", max_edits=1))
    assert_identical(searcher, oi, Q.TermRangeQuery("public", "publid"))
    assert_identical(
        searcher, oi, Q.TermInSetQuery(("public", "return", "zzz_missing"))
    )


def test_search_df_contract(engine):
    searcher, _ = engine
    df = searcher.search_df(Q.term_or(["public", "import"], 1), k=10)
    pdf = df.toPandas()
    assert list(pdf.columns) == ["doc_id", "rank", "score", "repo", "path"]
    assert len(pdf) == 10
    assert pdf["rank"].tolist() == list(range(1, 11))
    assert pdf["repo"].notna().all()


def test_nested_boolean(engine):
    searcher, oi = engine
    inner = Q.term_and(["public", "return"])
    b = Q.Builder()
    b.add(inner, Q.Occur.SHOULD)
    b.add(Q.TermQuery("import"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())
    # nested OR under MUST
    b = Q.Builder()
    b.add(Q.term_or(["public", "import"], 1), Q.Occur.MUST)
    b.add(Q.TermQuery("return"), Q.Occur.MUST_NOT)
    assert_identical(searcher, oi, b.build())
    # the CLI-parser shape: phrase + boosted term + NOT + prefix
    b = Q.Builder()
    b.add(Q.PhraseQuery(("public", "return")), Q.Occur.SHOULD)
    b.add(Q.BoostQuery(Q.TermQuery("import"), 2.0), Q.Occur.SHOULD)
    b.add(Q.TermQuery("class"), Q.Occur.MUST_NOT)
    b.add(Q.PrefixQuery("get"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())


def test_explain(engine):
    searcher, _ = engine
    q = Q.term_or(["public", "return"], 1)
    td = searcher.search(q, k=3)
    ex = searcher.explain(q, int(td.doc_ids[0]))
    assert ex["matches"]
    assert np.float32(ex["score"]) == td.scores[0]
    assert any(d["matches"] and d["freq"] for d in ex["details"])
    miss = searcher.explain(Q.term_and(["public", "zzzz_missing"]), int(td.doc_ids[0]))
    assert not miss["matches"]
    # the similarity override explains the same score search() gives
    for sim in ["classic", "lmdirichlet", "dfr", "ax:f2exp"]:
        td_s = searcher.search(q, k=1, similarity=sim)
        ex_s = searcher.explain(q, int(td_s.doc_ids[0]), similarity=sim)
        assert np.float32(ex_s["score"]) == td_s.scores[0], sim


def test_explain_multi_term_and_synonym(engine):
    """explain labels a multi-term query's constant-score union
    "(multi-term)" with no freq on every hit, also on hits without the
    expansion's first term; a SynonymQuery's freq is the sum of its
    terms' freqs in the doc (SynonymQuery freq)."""
    searcher, _ = engine

    def hits(q):
        td = searcher.search(q, k=N_FILES, score_mode="complete")
        return dict(zip(td.doc_ids.tolist(), td.scores.tolist()))

    q = Q.PrefixQuery("st")
    terms = searcher._rewrite(q).query.terms
    first = hits(Q.TermQuery(terms[0]))
    found = hits(q)
    assert len(terms) > 2 and set(found) - set(first)
    for doc, score in found.items():
        ex = searcher.explain(q, doc)
        assert ex["matches"] and np.float32(ex["score"]) == np.float32(score)
        assert [(d["clause"], d["freq"]) for d in ex["details"]] == [
            ("(multi-term)", None)], doc
    a, b = terms[0], terms[1]
    only_b = sorted(set(hits(Q.TermQuery(b))) - set(first))
    both = sorted(set(hits(Q.TermQuery(b))) & set(first))
    assert only_b and both

    def freq(q, doc):
        [d] = searcher.explain(q, doc)["details"]
        return d["freq"]

    syn = Q.SynonymQuery((a, b))
    for doc in only_b[:3] + both[:3]:
        assert freq(syn, doc) == (
            (freq(Q.TermQuery(a), doc) or 0) + freq(Q.TermQuery(b), doc))


def test_synonym_and_dismax(engine):
    searcher, oi = engine
    # synonym: blended stats, summed freqs
    assert_identical(searcher, oi, Q.SynonymQuery(("public", "return")))
    # synonym inside a boolean
    b = Q.Builder()
    b.add(Q.SynonymQuery(("public", "static")), Q.Occur.SHOULD)
    b.add(Q.TermQuery("import"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())
    # dismax: max + tie * others
    dm = Q.DisjunctionMaxQuery(
        (Q.TermQuery("public"), Q.TermQuery("return"), Q.TermQuery("import")),
        tie_breaker=0.3,
    )
    assert_identical(searcher, oi, dm)
    # dismax with tie 0 (pure max) nested under MUST
    b = Q.Builder()
    b.add(Q.DisjunctionMaxQuery((Q.TermQuery("public"), Q.TermQuery("if")), 0.0),
          Q.Occur.MUST)
    b.add(Q.TermQuery("return"), Q.Occur.SHOULD)
    assert_identical(searcher, oi, b.build())


def test_point_range_query(engine):
    """PointRangeQuery over the docmeta length column: constant-score
    doc sets composed with term clauses inside the kernel."""
    searcher, oi = engine
    med = int(np.median(oi.lengths))
    # standalone numeric range (constant score 1.0)
    pq = Q.PointRangeQuery("length", med, None)
    td, exp = assert_identical(searcher, oi, pq, k=5)
    assert (td.scores == np.float32(1.0)).all()
    # default threshold (1000 > corpus) -> exact hit count
    assert searcher.search(pq, k=5).total_hits == int((oi.lengths >= med).sum())
    # term MUST + numeric FILTER (the classic filtered search)
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(Q.PointRangeQuery("length", None, med, include_upper=False), Q.Occur.FILTER)
    assert_identical(searcher, oi, b.build())
    # exclusive bounds + boolean NOT
    b = Q.Builder()
    b.add(Q.PointRangeQuery("length", 0, med), Q.Occur.MUST)
    b.add(Q.TermQuery("public"), Q.Occur.MUST_NOT)
    assert_identical(searcher, oi, b.build())
    # empty range rewrites to MatchNoDocs
    td = searcher.search(Q.PointRangeQuery("length", 10, 5), k=3)
    assert td.total_hits == 0
    # matches_df agrees with a direct docmeta count
    n = searcher.matches_df(Q.PointRangeQuery("length", med, None)).count()
    assert n == int((oi.lengths >= med).sum())


def test_multi_dim_point_range(engine):
    """MultiDimPointRangeQuery (PointRangeQuery numDims>1,
    IntPoint.newRangeQuery(String, int[], int[])): the per-dim
    conjunction in ONE pushed-down docmeta scan — engine == oracle, and
    equivalent to the same box expressed as a 1-dim range."""
    searcher, oi = engine
    lo, hi = int(np.quantile(oi.lengths, 0.25)), int(np.quantile(oi.lengths, 0.75))
    # same-field 2-dim box == the 1-dim interval
    md = Q.MultiDimPointRangeQuery(
        (("length", lo, None, True, True), ("length", None, hi, True, True))
    )
    td, _ = assert_identical(searcher, oi, md, k=5)
    assert (td.scores == np.float32(1.0)).all()
    one = searcher.search(Q.PointRangeQuery("length", lo, hi), k=5)
    assert td.total_hits == one.total_hits
    assert td.doc_ids.tolist() == one.doc_ids.tolist()
    # composed with a scored term MUST
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(md, Q.Occur.FILTER)
    assert_identical(searcher, oi, b.build())
    # an empty dim empties the box (rewrite -> MatchNoDocs)
    empty = Q.MultiDimPointRangeQuery(
        (("length", lo, None, True, True), ("length", 10, 5, True, True))
    )
    assert searcher.search(empty, k=3).total_hits == 0


@pytest.fixture(scope="module")
def engine_2d(spark, tmp_path_factory):
    """Index whose docmeta carries a SECOND numeric point column
    (n_chars) alongside length — the 2-field multi-dim surface."""
    import pyspark.sql.functions as F

    from lucene_solr_8_7_0_spark.operators.build import build_index
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
    from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

    d = str(tmp_path_factory.mktemp("idx2d"))
    cfg = EngineConfig(segment_size=64)
    docs = corpus_df(spark, 200, seed=7).withColumn(
        "n_chars", F.length("content").cast("long")
    )
    build_index(spark, docs, d, cfg)
    searcher = IndexSearcher(spark, d)
    corpus_pdf = (
        docs.join(
            spark.read.parquet(f"{d}/docs").select("repo", "path", "doc_id"),
            ["repo", "path"],
        )
        .select("doc_id", "content")
        .toPandas()
    )
    oi = build_oracle_index(corpus_pdf, cfg)
    return searcher, oi


def test_multi_dim_two_columns(engine_2d):
    """2-field box (length x n_chars): engine == oracle; identical doc
    set to the conjunction of two 1-dim FILTER clauses; dv access path
    (IndexOrDocValuesQuery) gives the same results."""
    searcher, oi = engine_2d
    llo, lhi = int(np.quantile(oi.lengths, 0.2)), int(np.quantile(oi.lengths, 0.9))
    nc = oi.meta["n_chars"]
    clo, chi = int(np.quantile(nc, 0.1)), int(np.quantile(nc, 0.8))
    md = Q.multi_dim_range(("length", llo, lhi), ("n_chars", clo, chi))
    td, _ = assert_identical(searcher, oi, md, k=10)
    exp_n = int(((oi.lengths >= llo) & (oi.lengths <= lhi)
                 & (nc >= clo) & (nc <= chi)).sum())
    assert searcher.search(md, k=5).total_hits == exp_n
    # == two 1-dim FILTERs (the reference would need two BKD visits;
    # here both forms reach one ANDed docmeta predicate or two docsets)
    b = Q.Builder()
    b.add(Q.PointRangeQuery("length", llo, lhi), Q.Occur.FILTER)
    b.add(Q.PointRangeQuery("n_chars", clo, chi), Q.Occur.FILTER)
    two = searcher.matches_df(b.build()).count()
    assert two == exp_n
    # composed with a scored term + dv-eligible path
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(Q.IndexOrDocValuesQuery(md), Q.Occur.FILTER)
    assert_identical(searcher, oi, b.build())


def test_field_term_query(spark, engine):
    """Keyword-field (StringField) equality clauses — StringField.java:29:
    exact un-analyzed match on a docmeta column, constant score,
    composable with term clauses in the kernel."""
    searcher, oi = engine
    meta = spark.read.parquet(searcher.docmeta_path).select(
        "doc_id", "lang"
    ).toPandas()
    lang = sorted(meta["lang"].unique())[0]
    exp_lang = set(meta[meta["lang"] == lang]["doc_id"])
    exp_term = set(oi.tf[oi.tf["term"] == "public"]["doc_id"])
    # pure keyword filter
    got = {r.doc_id for r in searcher.matches_df(
        Q.FieldTermQuery("lang", lang)).collect()}
    assert got == exp_lang
    # composed: lang:X AND public
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(Q.FieldTermQuery("lang", lang), Q.Occur.FILTER)
    got2 = {r.doc_id for r in searcher.matches_df(b.build()).collect()}
    assert got2 == exp_lang & exp_term
    # constant score (boost) as a scoring clause
    td = searcher.search(Q.FieldTermQuery("lang", lang), k=5)
    assert set(td.scores.tolist()) == {1.0}
    assert td.total_hits == len(exp_lang)
    # no such value -> empty
    assert searcher.matches_df(Q.FieldTermQuery("lang", "nope")).count() == 0


def test_multi_term_no_truncation(spark, tmp_path_factory):
    """Wildcard/regexp/fuzzy expansion over a term dict far larger than
    MAX_CLAUSE_COUNT: matches are found exactly (no arbitrary limit
    before the pattern filter) and TooManyClauses fires only on the
    true match count (round-1 VERDICT 'What's wrong' #1)."""
    import pandas as pd
    from lucene_solr_8_7_0_spark.config import MAX_CLAUSE_COUNT

    d = str(tmp_path_factory.mktemp("bigdict"))
    # 3000 unique terms spread over a few docs; only 20 match t19*
    vocab = [f"t{i:04d}" for i in range(3000)]
    rows = [
        ("r", f"{i:04d}", "c", "java", " ".join(vocab[i * 300 : (i + 1) * 300]))
        for i in range(10)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    build_index(spark, docs, d, EngineConfig(segment_size=64))
    s = IndexSearcher(spark, d)
    # wildcard: t19?? -> exactly terms t1900..t1999 (100 terms), all in
    # doc 6, listed in term order by the one term-dictionary read
    assert s._term_lookup(Q.WildcardQuery("t19??")) == vocab[1900:2000]
    td = s.search(Q.WildcardQuery("t19??"), k=5)
    assert td.total_hits == 1  # doc 6 holds t1800..t2099
    # leading wildcard (no prefix pushdown) still exact
    assert s._term_lookup(Q.WildcardQuery("*999")) == ["t0999", "t1999", "t2999"]
    assert set(
        r.doc_id for r in
        s.matches_df(Q.WildcardQuery("*999")).collect()
    ) == {3, 6, 9}  # docs holding t0999 / t1999 / t2999
    # 1-match regexp unwraps to a TermQuery driver-side
    assert s._term_lookup(Q.RegexpQuery("t0[1]00")) == ["t0100"]
    assert s._term_lookup(Q.RegexpQuery("t0[01]00")) == ["t0000", "t0100"]
    # fuzzy keeps the SCORED expansion: distance <= 1 from t1500
    got = s._term_lookup(Q.FuzzyQuery("t1500", max_edits=1))
    assert "t1500" in got and "t1501" in got and "t2500" in got
    from lucene_solr_8_7_0_spark.plans.rewrite import _within_edits
    assert got == sorted(t for t in vocab if _within_edits("t1500", t, 1))
    # true match count > MAX_CLAUSE_COUNT -> the rewrite is the
    # constant-score union (CONSTANT_SCORE_REWRITE, Lucene's default
    # for multi-term queries — never TooManyClauses) over the whole
    # 3000-term expansion: every doc matches with score == 1.0
    assert len(vocab) > MAX_CLAUSE_COUNT
    from lucene_solr_8_7_0_spark.plans.queries import (
        ConstantScoreQuery,
        MultiTermUnionQuery,
    )
    from lucene_solr_8_7_0_spark.plans.rewrite import rewrite

    rw_q = rewrite(Q.WildcardQuery("t*"), s._term_lookup)
    assert isinstance(rw_q, ConstantScoreQuery)
    assert isinstance(rw_q.query, MultiTermUnionQuery)
    assert rw_q.query.terms == tuple(vocab)
    td = s.search(Q.WildcardQuery("t*"), k=20)
    assert td.total_hits == 10
    assert set(td.scores.tolist()) == {1.0}
    # the term-dictionary expansion (Python-dialect term_predicate) is
    # the exact authority: a construct matching a superset elsewhere
    # must not leak non-matching terms into the union
    n = s.matches_df(Q.RegexpQuery("t14[0-9]0")).count()
    assert n == 1  # t1400..t1490 all live in doc 4


def test_multi_term_expanded_once_per_search(engine, monkeypatch):
    """A driver search expands each multi-term leaf once, in one
    term-dictionary read (snapshot._matching): the rewrite lists a
    prefix's or wildcard's terms and no later step runs the match
    predicate again; an interval multi-term source is read once too
    (its per-segment expansion runs in the kernel)."""
    from lucene_solr_8_7_0_spark.operators import snapshot as snap
    from lucene_solr_8_7_0_spark.plans import rewrite as rw
    from lucene_solr_8_7_0_spark.plans.queries import (
        IMultiTerm, IOrdered, ITerm)

    searcher, oi = engine
    calls = {"matching": 0, "pred_after_rewrite": 0}
    rewritten = [False]
    matching, pred, rewrite_ = snap._matching, rw.term_predicate, searcher._rewrite

    def counted_matching(*a):
        calls["matching"] += 1
        return matching(*a)

    def counted_pred(q):
        calls["pred_after_rewrite"] += rewritten[0]
        return pred(q)

    def marked_rewrite(q):
        out = rewrite_(q)
        rewritten[0] = True
        return out

    monkeypatch.setattr(snap, "_matching", counted_matching)
    monkeypatch.setattr(rw, "term_predicate", counted_pred)
    monkeypatch.setattr(searcher, "_rewrite", marked_rewrite)
    interval = Q.IntervalQuery(
        IOrdered((ITerm("public"), IMultiTerm(Q.PrefixQuery("st")))))
    for q, leaves, pred_free in [
        (Q.PrefixQuery("st"), 1, True),
        (Q.WildcardQuery("*ic"), 1, True),
        (interval, 1, False),
    ]:
        calls.update(matching=0, pred_after_rewrite=0)
        rewritten[0] = False
        td = searcher.search(q, k=10)
        assert searcher._last_placement[0] == "driver", str(q)
        assert td.total_hits > 0, str(q)
        assert calls["matching"] == leaves, (str(q), calls)
        if pred_free:
            assert calls["pred_after_rewrite"] == 0, (str(q), calls)


def test_facets(engine):
    from lucene_solr_8_7_0_spark.operators.facets import facet_counts, facet_ranges

    searcher, oi = engine
    fc = facet_counts(searcher, Q.TermQuery("public"), "lang").toPandas()
    hits = searcher.matches_df(Q.TermQuery("public")).toPandas()
    assert fc["count"].sum() == len(hits)
    assert (fc["count"] > 0).all()
    fr = facet_ranges(
        searcher, Q.TermQuery("public"), "length",
        [("short", 0, 100), ("long", 100, 10**9)],
    ).toPandas()
    assert fr["count"].sum() == len(hits)


def test_search_after_score_paging(engine):
    """searchAfter(ScoreDoc): pages concatenate to the unpaged ranking,
    including across float32 score ties (doc-id tie-break)."""
    searcher, oi = engine
    for q in [
        Q.term_or(["public", "return", "static"], 1),
        Q.term_and(["public", "return"]),
        Q.TermQuery("public"),
    ]:
        full = searcher.search(q, k=20, total_hits_threshold=1)
        pages, after = [], None
        while len(pages) < 4:
            td = searcher.search_after(q, after, k=5, total_hits_threshold=1)
            if len(td.doc_ids) == 0:
                break
            pages.append(td)
            after = (float(td.scores[-1]), int(td.doc_ids[-1]))
        got_docs = [d for td in pages for d in td.doc_ids.tolist()]
        got_scores = [s for td in pages for s in td.scores.tolist()]
        assert got_docs == full.doc_ids[: len(got_docs)].tolist(), str(q)
        assert got_scores == full.scores[: len(got_scores)].tolist(), str(q)
        # total hits reported per page counts ALL matches
        if pages:
            assert pages[-1].total_hits == full.total_hits


def test_span_near_in_boolean(engine):
    """SpanNearQuery leaves composed inside BooleanQuery: identical to
    the brute-force oracle (const-score spans + scored terms)."""
    searcher, oi = engine
    for span in [
        Q.SpanNearQuery(("public", "return"), slop=4),
        Q.SpanNearQuery(("public", "return"), slop=4, in_order=False),
        Q.SpanNearQuery(("public", "static", "return"), slop=8),
    ]:
        assert_identical(searcher, oi, span)
        b = Q.Builder()
        b.add(span, Q.Occur.MUST)
        b.add(Q.TermQuery("class"), Q.Occur.MUST_NOT)
        assert_identical(searcher, oi, b.build())
        b = Q.Builder()
        b.add(Q.TermQuery("import"), Q.Occur.SHOULD)
        b.add(span, Q.Occur.SHOULD)
        assert_identical(searcher, oi, b.build())


def test_span_first_and_position_range(engine):
    """SpanFirstQuery / SpanPositionRangeQuery: spans accepted only
    when every covered position lies in [start, end); engine ==
    brute-force oracle, and the windows strictly narrow the hit set."""
    searcher, oi = engine
    inner = Q.SpanNearQuery(("public", "return"), slop=6)
    unbounded = searcher.count(inner)
    for q in [
        Q.span_first("import", 5),
        Q.span_first(inner, 30),
        Q.SpanPositionRangeQuery(inner, 10, 60),
        Q.SpanPositionRangeQuery("public", 3, 12),
        Q.span_first(Q.SpanOrQuery(("public", "static")), 8),
    ]:
        assert_identical(searcher, oi, q)
        b = Q.Builder()
        b.add(q, Q.Occur.MUST)
        b.add(Q.TermQuery("class"), Q.Occur.MUST_NOT)
        assert_identical(searcher, oi, b.build())
    # windowing can only shrink the span's hit set, never grow it
    n30 = searcher.count(Q.span_first(inner, 30))
    n300 = searcher.count(Q.span_first(inner, 300))
    assert n30 <= n300 <= unbounded and n300 > 0
    # hand-check: first-1 accepts exactly the docs whose position 0
    # holds the term
    some_term = sorted(oi.positions)[0]
    docs_at_0 = [d for d, pp in oi.positions[some_term].items() if pp[0] == 0]
    got = searcher.search(
        Q.span_first(some_term, 1), k=len(oi.doc_ids), score_mode="complete"
    )
    assert sorted(got.doc_ids.tolist()) == sorted(docs_at_0)


def test_span_containing_and_within(engine):
    """SpanContainingQuery / SpanWithinQuery: engine == brute-force
    oracle across operand shapes, standalone and inside booleans, and
    with a SpanPositionRangeQuery wrapper on either emitted side."""
    searcher, oi = engine
    big = Q.SpanNearQuery(("public", "return"), slop=6)
    queries = [
        Q.SpanContainingQuery(big, "static"),
        Q.SpanWithinQuery(big, "static"),
        Q.SpanContainingQuery(big, Q.SpanOrQuery(("static", "import"))),
        Q.SpanWithinQuery(big, Q.SpanOrQuery(("static", "import"))),
        Q.SpanContainingQuery(
            Q.SpanNearQuery(("public", "static", "return"), slop=10), "int"
        ),
        Q.SpanContainingQuery("public", "public"),
        Q.SpanWithinQuery(big, Q.SpanNotQuery("static", "void", pre=1, post=1)),
        Q.SpanPositionRangeQuery(Q.SpanContainingQuery(big, "static"), 0, 40),
        Q.SpanPositionRangeQuery(Q.SpanWithinQuery(big, "static"), 0, 40),
    ]
    for q in queries:
        assert_identical(searcher, oi, q)
        b = Q.Builder()
        b.add(q, Q.Occur.MUST)
        b.add(Q.TermQuery("class"), Q.Occur.MUST_NOT)
        assert_identical(searcher, oi, b.build())
    # standalone (unranged) containing and within match the SAME docs —
    # only the emitted spans differ (ContainSpans both sides match doc)
    n_c = searcher.count(Q.SpanContainingQuery(big, "static"))
    n_w = searcher.count(Q.SpanWithinQuery(big, "static"))
    assert n_c == n_w
    # containment is a subset of the plain near hit set
    assert n_c <= searcher.count(big)


def test_span_containment_range_distinguishes(spark, tmpdir_path):
    """Under a position range the two containment queries differ: the
    range filters BIG spans for containing but LITTLE spans for within
    (ContainSpans wraps the emitted side).  Micro corpus: 'alpha gamma
    beta' has the big span [0,2] covering gamma@1, so range [0,2)
    rejects the big span (containing: no hit) but accepts the little
    one (within: hit)."""
    docs = spark.createDataFrame(
        [
            ("r", "a.txt", "c1", "txt", "alpha gamma beta"),
            ("r", "b.txt", "c1", "txt", "gamma alpha beta"),
            ("r", "c.txt", "c1", "txt", "alpha beta gamma"),
        ],
        schema="repo string, path string, commit string, lang string, "
               "content string",
    )
    build_index(spark, docs, tmpdir_path, EngineConfig(segment_size=64),
                resume=False)
    s = IndexSearcher(spark, tmpdir_path)
    big = Q.SpanNearQuery(("alpha", "beta"), slop=3)
    base_c = Q.SpanContainingQuery(big, "gamma")
    base_w = Q.SpanWithinQuery(big, "gamma")
    # only doc a has gamma inside an alpha..beta span
    assert s.count(base_c) == 1 and s.count(base_w) == 1
    assert s.count(Q.SpanPositionRangeQuery(base_c, 0, 2)) == 0
    assert s.count(Q.SpanPositionRangeQuery(base_w, 0, 2)) == 1
    assert s.count(Q.SpanPositionRangeQuery(base_c, 0, 3)) == 1


def test_complex_phrase_parser(engine):
    """ComplexPhraseQueryParser: wildcard/fuzzy/group slots inside a
    quoted phrase compile (via the reader-dependent termdict
    expansion) to the span IR, matching the brute-force oracle on the
    rewritten tree; plain syntax still parses classic."""
    from lucene_solr_8_7_0_spark.plans.queryparser import (
        ComplexPhraseQueryParser,
    )

    searcher, oi = engine
    p = ComplexPhraseQueryParser(analyzer="simple")
    # IR shape: group + prefix + slop
    q = p.parse('"(public private) ret*"~2')
    assert isinstance(q, Q.ComplexPhraseQuery)
    assert q.slop == 2 and q.in_order
    assert q.slots[0] == ("public", "private")
    assert isinstance(q.slots[1][0], Q.PrefixQuery)
    # engine == oracle across phrase shapes (incl. inside a boolean)
    for s in [
        '"pub* return"',
        '"(public private) return"~2',
        '"public ret?rn"~1',
        '"public return"~3',
        '"stat~1 public"~4',
        '+import +"(public private) return"~2',
    ]:
        q = p.parse(s)
        rq = rewrite(searcher._reader_rewrite(q), searcher._term_lookup)
        td = searcher.search(q, k=10, total_hits_threshold=1)
        exp = oracle_search(oi, rq, k=10)
        assert td.doc_ids.tolist() == exp.doc_ids.tolist(), s
        np.testing.assert_array_equal(td.scores, exp.scores, err_msg=s)
    # unordered mode (setInOrder(false)) can only widen the hit set
    pu = ComplexPhraseQueryParser(analyzer="simple", in_order=False)
    s = '"return pub*"~3'
    n_ord = searcher.count(p.parse(s))
    n_uno = searcher.count(pu.parse(s))
    assert n_uno >= n_ord
    # unmatchable slot kills the phrase (dummy-term rule)
    assert searcher.count(p.parse('"public zzzzqq*"')) == 0
    # classic fallbacks unchanged
    assert isinstance(p.parse("lang:de"), Q.FieldTermQuery)
    assert isinstance(p.parse('"public"'), Q.TermQuery)


def test_gapped_phrase_and_term_automaton(engine):
    """Explicit slot positions (PhraseQuery.Builder.add(term, pos))
    and TermAutomatonQuery's path rewrite: engine == oracle, ANY
    transitions become positional holes, branching automatons become
    SHOULD unions of path phrases."""
    searcher, oi = engine
    gp = Q.PhraseQuery(("public", "return"), slot_positions=(0, 2))
    gp_td, _ = assert_identical(searcher, oi, gp)
    assert_identical(
        searcher, oi,
        Q.PhraseQuery(("public", "return"), slop=2, slot_positions=(0, 2)),
    )
    assert_identical(
        searcher, oi,
        Q.MultiPhraseQuery(
            (("public", "private"), ("return",)), slot_positions=(0, 2)
        ),
    )
    # a gapped phrase is a superset of the adjacent phrase only via
    # slop: exact (0,2) and exact (0,1) are disjoint constraints, but
    # both are subsets of the slop-2 plain phrase hit set
    n_gap = searcher.count(gp)
    n_slop = searcher.count(Q.PhraseQuery(("public", "return"), slop=2))
    assert 0 < n_gap <= n_slop

    # automaton: public ANY return (sausage with a hole) == the gapped
    # phrase, exactly (the reference's matchesAny position skip)
    taq = Q.TermAutomatonQuery(
        4, ((0, 1, "public"), (1, 2, None), (2, 3, "return")), (3,)
    )
    td = searcher.search(taq, k=10, total_hits_threshold=1)
    assert td.doc_ids.tolist() == gp_td.doc_ids.tolist()
    np.testing.assert_array_equal(td.scores, gp_td.scores)
    assert searcher.count(taq) == n_gap

    # branching automaton: "public (static | return)" = union of the
    # two path phrases
    taq2 = Q.TermAutomatonQuery(
        3, ((0, 1, "public"), (1, 2, "static"), (1, 2, "return")), (2,)
    )
    assert_identical(searcher, oi, taq2)
    a = {r["doc_id"] for r in searcher.matches_df(
        Q.PhraseQuery(("public", "static"))).collect()}
    b = {r["doc_id"] for r in searcher.matches_df(
        Q.PhraseQuery(("public", "return"))).collect()}
    got = {r["doc_id"] for r in searcher.matches_df(taq2).collect()}
    assert got == a | b

    # paths of different lengths (optional middle token)
    taq3 = Q.TermAutomatonQuery(
        3, ((0, 1, "public"), (1, 2, "return"), (0, 2, "import")), (2,)
    )
    assert_identical(searcher, oi, taq3)

    # degenerate / invalid automatons fail loudly
    with pytest.raises(ValueError, match="cyclic"):
        Q.TermAutomatonQuery(2, ((0, 0, "a"), (0, 1, "b")), (1,)).paths()
    with pytest.raises(ValueError, match="no sequences"):
        Q.TermAutomatonQuery(2, ((0, 1, "a"),), ()).paths()
    with pytest.raises(ValueError):
        Q.PhraseQuery(("a", "b"), slot_positions=(2, 1))


def test_classic_similarity_rank_identity(engine):
    """ClassicSimilarity (TF-IDF, sqrt-tf * idf^cls / sqrt(len)):
    pruned engine == brute-force oracle, bitwise float32, across the
    boolean shapes — the per-query setSimilarity surface."""
    import dataclasses

    searcher, oi = engine
    oi_c = dataclasses.replace(
        oi, cfg=dataclasses.replace(oi.cfg, similarity="classic")
    )
    queries = [
        Q.TermQuery("public"),
        Q.term_or(["public", "return", "import"], 1),
        Q.term_and(["public", "return"]),
        Q.PhraseQuery(("public", "return")),
        Q.SynonymQuery(("public", "return")),
        Q.DisjunctionMaxQuery(
            (Q.TermQuery("public"), Q.TermQuery("return")), tie_breaker=0.1
        ),
        Q.BoostQuery(Q.TermQuery("public"), 2.5),
    ]
    for q in queries:
        td = searcher.search(
            q, k=10, total_hits_threshold=1, similarity="classic"
        )
        exp = oracle_search(oi_c, rewrite(q, searcher._term_lookup), k=10)
        assert td.doc_ids.tolist() == exp.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, exp.scores, err_msg=str(q))
        # pruned == exhaustive, bitwise
        full = searcher.search(
            q, k=10, score_mode="complete", similarity="classic"
        )
        assert td.doc_ids.tolist() == full.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, full.scores, err_msg=str(q))
        # sanity: classic actually differs from BM25 on this corpus
    bm = searcher.search(Q.TermQuery("public"), k=10, total_hits_threshold=1)
    cl = searcher.search(
        Q.TermQuery("public"), k=10, total_hits_threshold=1,
        similarity="classic",
    )
    assert bm.scores.tolist() != cl.scores.tolist()


def test_bm25_nondefault_k1_b_parity(spark, tmp_path_factory):
    """Parameterized BM25 (EngineConfig k1/b): the 256-entry norm cache
    rebinds for non-default parameters and the engine stays bitwise
    equal to the oracle."""
    d = str(tmp_path_factory.mktemp("k1b"))
    cfg = EngineConfig(segment_size=64, k1=0.9, b=0.4)
    docs = corpus_df(spark, 150, seed=11)
    build_index(spark, docs, d, cfg)
    searcher = IndexSearcher(spark, d)
    assert searcher.cfg.k1 == 0.9 and searcher.cfg.b == 0.4
    corpus_pdf = (
        docs.join(
            spark.read.parquet(f"{d}/docs").select("repo", "path", "doc_id"),
            ["repo", "path"],
        )
        .select("doc_id", "content")
        .toPandas()
    )
    oi = build_oracle_index(corpus_pdf, cfg)
    for q in [
        Q.TermQuery("public"),
        Q.term_or(["public", "return", "import"], 1),
        Q.term_and(["public", "return"]),
        Q.PhraseQuery(("public", "return")),
    ]:
        td = searcher.search(q, k=10, total_hits_threshold=1)
        exp = oracle_search(oi, rewrite(q, searcher._term_lookup), k=10)
        assert td.doc_ids.tolist() == exp.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, exp.scores, err_msg=str(q))


def test_function_score_topk(engine, spark):
    """FunctionScoreQuery (boost-by-field): blended top-k equals a full
    pandas recomputation (BM25 x weight*log1p(length)), and the
    distributed TakeOrdered head equals the exhaustive global sort."""
    import pandas as pd

    from lucene_solr_8_7_0_spark.operators.functionscore import (
        function_score_topk,
    )

    searcher, oi = engine
    q = Q.term_or(["public", "return"], 1)
    out = function_score_topk(
        searcher, q, "length", k=10, combine="multiply", weight=0.5
    ).toPandas()
    # recompute: exhaustive scores + docmeta lengths, global sort
    scored = searcher.score_all_df(q).toPandas()
    meta = spark.read.parquet(searcher.docmeta_path).select(
        "doc_id", "length"
    ).toPandas()
    j = scored.merge(meta, on="doc_id")
    j["fscore"] = (
        j["score"].astype("float64") * (0.5 * np.log1p(j["length"]))
    ).round(4)
    j = j.sort_values(["fscore", "doc_id"], ascending=[False, True]).head(10)
    assert out["doc_id"].tolist() == j["doc_id"].tolist()
    np.testing.assert_allclose(
        out["fscore"].to_numpy(), j["fscore"].to_numpy(), atol=1e-9
    )
    # additive blend too
    out2 = function_score_topk(
        searcher, q, "length", k=5, combine="sum", weight=0.1
    ).toPandas()
    j2 = scored.merge(meta, on="doc_id")
    j2["fscore"] = (
        j2["score"].astype("float64") + 0.1 * np.log1p(j2["length"])
    ).round(4)
    j2 = j2.sort_values(["fscore", "doc_id"], ascending=[False, True]).head(5)
    assert out2["doc_id"].tolist() == j2["doc_id"].tolist()


def test_span_or_not_composition(engine):
    """SpanOr / SpanNot clauses inside SpanNearQuery (and standalone):
    engine hit sets equal the brute-force oracle's set algebra."""
    searcher, oi = engine
    queries = [
        Q.SpanNearQuery(
            (Q.SpanOrQuery(("public", "static")), "return"), slop=2
        ),
        Q.SpanNearQuery(
            (Q.SpanNotQuery("public", "static", pre=2, post=2), "return"),
            slop=3,
        ),
        Q.SpanNearQuery(
            (
                Q.SpanOrQuery(("public", "static")),
                Q.SpanNotQuery("return", "import", pre=1, post=1),
            ),
            slop=5, in_order=False,
        ),
        Q.SpanOrQuery(("public", "zzz_not_a_term")),
        Q.SpanNotQuery("public", "static", pre=1, post=1),
    ]
    from lucene_solr_8_7_0_spark.functions.oracle import _eval

    for q in queries:
        got = sorted(searcher.matches_df(q).toPandas()["doc_id"].tolist())
        exp_docs, _ = _eval(oi, q, 1.0, False)
        assert got == sorted(exp_docs.tolist()), str(q)
        # and composed under a boolean with a scored term
        b = Q.Builder()
        b.add(Q.TermQuery("import"), Q.Occur.MUST)
        b.add(q, Q.Occur.FILTER)
        assert_identical(searcher, oi, b.build())


def test_multivalued_field_membership_and_facets(spark, tmp_path_factory):
    """Multi-valued metadata fields (SORTED_SET docvalues analog):
    array-typed source columns ride into docmeta, FieldTermQuery means
    membership (any value equals), and facets count per value."""
    from lucene_solr_8_7_0_spark.operators.facets import facet_counts
    from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

    d = str(tmp_path_factory.mktemp("mvidx"))
    docs = corpus_df(spark, 120, seed=5)
    from pyspark.sql import functions as F

    tagged = docs.withColumn(
        "tags",
        F.array(
            F.concat(F.lit("t"), (F.crc32(F.col("path")) % 3).cast("string")),
            F.concat(F.lit("u"), (F.crc32(F.col("path")) % 5).cast("string")),
        ),
    )
    build_index(spark, tagged, d, EngineConfig(segment_size=64))
    searcher = IndexSearcher(spark, d)
    meta = spark.read.parquet(searcher.docmeta_path).select(
        "doc_id", "tags"
    ).toPandas()
    assert "tags" in meta.columns
    # membership: tags CONTAINS 't1' AND term query
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(Q.FieldTermQuery("tags", "t1"), Q.Occur.FILTER)
    got = sorted(searcher.matches_df(b.build()).toPandas()["doc_id"])
    term_hits = set(
        searcher.matches_df(Q.TermQuery("public")).toPandas()["doc_id"]
    )
    exp = sorted(
        int(r["doc_id"]) for _, r in meta.iterrows()
        if "t1" in list(r["tags"]) and int(r["doc_id"]) in term_hits
    )
    assert got == exp and len(got) > 0
    # per-value facet counts over the hit set
    fc = facet_counts(searcher, Q.TermQuery("public"), "tags").toPandas()
    from collections import Counter

    exp_counts = Counter(
        t for _, r in meta.iterrows() if int(r["doc_id"]) in term_hits
        for t in r["tags"]
    )
    got_counts = dict(zip(fc["tags"], fc["count"]))
    assert got_counts == dict(exp_counts)


@pytest.mark.parametrize("sim", [
    "lmdirichlet", "lmjelinekmercer",
    "dfr", "dfr:in:l:h1", "ib", "ib:ll:ttf:h1", "dfi", "ax", "ax:f3log",
])
def test_lm_similarity_rank_identity(engine, sim):
    """LM (Dirichlet/JelinekMercer), DFR, IB, and DFI similarities:
    pruned engine == brute-force oracle across term/OR/AND/phrase/
    synonym shapes (MultiSimScorer phrase summing), bitwise float32."""
    import dataclasses

    searcher, oi = engine
    oi_lm = dataclasses.replace(
        oi, cfg=dataclasses.replace(oi.cfg, similarity=sim)
    )
    queries = [
        Q.TermQuery("public"),
        Q.term_or(["public", "return", "import"], 1),
        Q.term_and(["public", "return"]),
        Q.PhraseQuery(("public", "return")),
        Q.SynonymQuery(("public", "return")),
        Q.BoostQuery(Q.TermQuery("public"), 2.0),
    ]
    for q in queries:
        td = searcher.search(q, k=10, total_hits_threshold=1, similarity=sim)
        exp = oracle_search(oi_lm, rewrite(q, searcher._term_lookup), k=10)
        assert td.doc_ids.tolist() == exp.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, exp.scores, err_msg=str(q))
        full = searcher.search(q, k=10, score_mode="complete", similarity=sim)
        assert td.doc_ids.tolist() == full.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, full.scores, err_msg=str(q))


def test_interval_query_engine_vs_oracle(engine):
    """IntervalQuery end-to-end: saturation-scored minimal intervals
    through the distributed kernels == the exhaustive-combination
    oracle, bitwise float32; composes inside BooleanQuery."""
    from lucene_solr_8_7_0_spark.plans.queries import (
        IAtLeast,
        IMaxGaps,
        INonOverlapping,
        IOr,
        IOrdered,
        IOverlapping,
        IUnordered,
        intervals_after,
        intervals_before,
        intervals_within,
    )

    searcher, oi = engine
    queries = [
        Q.IntervalQuery(IOrdered(("public", "return"))),
        Q.IntervalQuery(IUnordered(("public", "static", "return"))),
        Q.IntervalQuery(IMaxGaps(3, IOrdered(("public", "return")))),
        Q.IntervalQuery(IOrdered((IOr(("public", "static")), "return"))),
        Q.IntervalQuery("import", pivot=2.0),
        Q.IntervalQuery(IAtLeast(2, ("public", "static", "return"))),
        Q.IntervalQuery(intervals_before("public", "return")),
        Q.IntervalQuery(intervals_after("return", "public")),
        Q.IntervalQuery(intervals_within("public", 5, "return")),
        Q.IntervalQuery(IOverlapping(
            IUnordered(("public", "return")), IUnordered(("static", "import"))
        )),
        Q.IntervalQuery(INonOverlapping(
            IUnordered(("public", "return")), "static"
        )),
    ]
    for q in queries:
        assert_identical(searcher, oi, q)
        full = searcher.search(q, k=10, score_mode="complete")
        td = searcher.search(q, k=10, total_hits_threshold=1)
        assert td.doc_ids.tolist() == full.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, full.scores, err_msg=str(q))
        # inside a boolean with a scored term + an exclusion
        b = Q.Builder()
        b.add(q, Q.Occur.SHOULD)
        b.add(Q.TermQuery("import"), Q.Occur.SHOULD)
        b.add(Q.TermQuery("zzz_nope"), Q.Occur.MUST_NOT)
        assert_identical(searcher, oi, b.set_minimum_number_should_match(1).build())


def test_boolean_similarity(engine):
    """BooleanSimilarity: every match scores the bare boost; ties break
    by doc id; engine == oracle bitwise incl. a boosted clause sum."""
    import dataclasses

    searcher, oi = engine
    oi_b = dataclasses.replace(
        oi, cfg=dataclasses.replace(oi.cfg, similarity="boolean")
    )
    for q in [
        Q.TermQuery("public"),
        Q.BoostQuery(Q.TermQuery("public"), 2.5),
        Q.term_or(["public", "return"], 1),
        Q.PhraseQuery(("public", "return")),
    ]:
        td = searcher.search(
            q, k=10, total_hits_threshold=1, similarity="boolean"
        )
        exp = oracle_search(oi_b, rewrite(q, searcher._term_lookup), k=10)
        assert td.doc_ids.tolist() == exp.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, exp.scores, err_msg=str(q))
    one = searcher.search(
        Q.TermQuery("public"), k=5, similarity="boolean"
    )
    assert set(one.scores.tolist()) == {1.0}
    assert one.doc_ids.tolist() == sorted(one.doc_ids.tolist())


def test_interval_multiterm_engine(engine):
    """Intervals.prefix/wildcard inside IntervalQuery: segment-local
    automaton expansion rides the multi-term scan pushdown; engine ==
    exhaustive oracle bitwise."""
    from lucene_solr_8_7_0_spark.plans.queries import (
        IMultiTerm,
        IOrdered,
    )

    searcher, oi = engine
    queries = [
        Q.IntervalQuery(IOrdered((IMultiTerm(Q.PrefixQuery("pub")), "return"))),
        Q.IntervalQuery(IMultiTerm(Q.WildcardQuery("*lic"))),
    ]
    for q in queries:
        assert_identical(searcher, oi, q)
        full = searcher.search(q, k=10, score_mode="complete")
        td = searcher.search(q, k=10, total_hits_threshold=1)
        assert td.doc_ids.tolist() == full.doc_ids.tolist(), str(q)
        np.testing.assert_array_equal(td.scores, full.scores, err_msg=str(q))


def test_query_facets(engine):
    """facet.query: named overlapping slices, each count equal to the
    intersected hit sets."""
    from lucene_solr_8_7_0_spark.operators.facets import query_facets

    searcher, oi = engine
    base = Q.TermQuery("public")
    named = {
        "with_return": Q.TermQuery("return"),
        "phrase": Q.PhraseQuery(("public", "static")),
        "none": Q.TermQuery("zzqqxx"),
    }
    got = query_facets(searcher, base, named).collect()
    assert [r["name"] for r in got] == list(named)
    base_ids = {r["doc_id"] for r in searcher.matches_df(base).collect()}
    for r in got:
        fq_ids = {
            x["doc_id"]
            for x in searcher.matches_df(named[r["name"]]).collect()
        }
        assert r["count"] == len(base_ids & fq_ids), r["name"]
    assert query_facets(searcher, base, {}).count() == 0
