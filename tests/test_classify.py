"""lucene/classification analogs: SimpleNaiveBayesClassifier +
KNearestNeighborClassifier (operators/classify.py).

Oracle strategy: an independent pure-Python transcription of the
reference's own loops (SimpleNaiveBayesClassifier.java:205-305,
KNearestNeighborClassifier.java:189-235, MoreLikeThis.java:622-632)
over the raw corpus, compared against the batched Spark plans."""

import math
from collections import Counter

import pytest

from lucene_solr_8_7_0_spark.functions.analysis import tokenize_text
from lucene_solr_8_7_0_spark.operators.classify import (
    knn_classify,
    mlt_query_terms,
    naive_bayes_classify,
    postings_df,
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from lucene_solr_8_7_0_spark.config import EngineConfig
    from lucene_solr_8_7_0_spark.operators.build import build_index
    from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
    from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

    d = str(tmp_path_factory.mktemp("idx_cls"))
    cfg = EngineConfig(segment_size=64)
    docs = corpus_df(spark, 250, seed=7)
    build_index(spark, docs, d, cfg)
    searcher = IndexSearcher(spark, d)
    corpus = (
        docs.join(
            spark.read.parquet(f"{d}/docs").select("repo", "path", "doc_id"),
            ["repo", "path"],
        )
        .select("doc_id", "lang", "content")
        .toPandas()
        .sort_values("doc_id")
    )
    return searcher, corpus


def _inputs_df(spark, corpus, ids):
    rows = [
        (int(r.doc_id), r.content)
        for r in corpus.itertuples()
        if int(r.doc_id) in ids
    ]
    return spark.createDataFrame(rows, "input_id bigint, text string")


def _nb_oracle(corpus, cfg, text):
    """SimpleNaiveBayesClassifier.assignClassNormalizedList, literally."""
    tok = lambda s: tokenize_text(s, cfg.analyzer, cfg.max_token_length,
                                  tuple(cfg.stopwords))
    doc_tokens = {int(r.doc_id): set(tok(r.content)) for r in corpus.itertuples()}
    doc_cls = {int(r.doc_id): r.lang for r in corpus.itertuples()}
    docs_with_class = len(doc_cls)
    # sumDocFreq / docCount of the content field: docCount counts docs
    # with at least one term (the build's doc_count semantics)
    sum_doc_freq = sum(len(s) for s in doc_tokens.values())
    doc_count = sum(1 for s in doc_tokens.values() if s)
    avg_unique = sum_doc_freq / doc_count
    classes = sorted(set(doc_cls.values()))
    words = tok(text)
    raw = {}
    for c in classes:
        df_c = sum(1 for v in doc_cls.values() if v == c)
        score = math.log(df_c) - math.log(docs_with_class)
        den = avg_unique * df_c + docs_with_class
        for w in words:
            hits = sum(
                1 for d, s in doc_tokens.items() if w in s and doc_cls[d] == c
            )
            score += math.log((hits + 1) / den)
        raw[c] = score
    smax = max(raw.values())
    loga = smax + math.log(sum(math.exp(v - smax) for v in raw.values()))
    norm = {c: math.exp(v - loga) for c, v in raw.items()}
    best = min(norm, key=lambda c: (-norm[c], c))
    return best, norm[best]


def test_postings_df_matches_termdict(engine, spark):
    searcher, corpus = engine
    pdf = postings_df(searcher, ["public", "return"]).toPandas()
    td = searcher.termdict.filter(
        searcher.termdict.term.isin(["public", "return"])
    ).toPandas().set_index("term")
    for t in ["public", "return"]:
        sub = pdf[pdf.term == t]
        assert len(sub) == int(td.loc[t, "df"])
        assert sub.doc_id.is_unique
        assert int(sub.freq.sum()) == int(td.loc[t, "ttf"])


def test_naive_bayes_matches_reference_loops(engine, spark):
    searcher, corpus = engine
    ids = {int(corpus.doc_id.iloc[i]) for i in (3, 17, 42, 99, 180)}
    out = naive_bayes_classify(
        searcher, _inputs_df(spark, corpus, ids), "lang"
    ).toPandas().set_index("input_id")
    assert set(out.index) == ids
    for i in sorted(ids):
        text = corpus[corpus.doc_id == i].content.iloc[0]
        label, score = _nb_oracle(corpus, searcher.cfg, text)
        assert out.loc[i, "label"] == label, f"doc {i}"
        assert abs(out.loc[i, "score"] - round(score, 6)) < 1e-5, f"doc {i}"


def test_naive_bayes_semi_join_vocab_path(engine, spark):
    """Past the pushdown limit the vocabulary must NOT be collected to
    the driver: postings are semi-joined against the distributed
    distinct-term set, and the results are identical to the literal-IN
    path (bulk corpus labeling at 100 TB hinges on this)."""
    searcher, corpus = engine
    ids = {int(corpus.doc_id.iloc[i]) for i in (3, 17, 42)}
    small = naive_bayes_classify(
        searcher, _inputs_df(spark, corpus, ids), "lang"
    ).toPandas().sort_values("input_id").reset_index(drop=True)
    # limit=1 forces every real batch onto the distributed path
    big = naive_bayes_classify(
        searcher, _inputs_df(spark, corpus, ids), "lang",
        vocab_pushdown_limit=1,
    ).toPandas().sort_values("input_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(small, big)
    # plan-shape assertion: the DataFrame vocab compiles to a semi join
    # of the postings scan, not an IN-list filter
    vocab_df = spark.createDataFrame(
        [("data",), ("join",)], "term string"
    )
    plan = postings_df(searcher, vocab_df)._jdf.queryExecution().toString()
    assert "LeftSemi" in plan


def test_nb_broadcasts_hit_counts_only_for_literal_vocab(engine, spark):
    """The class-conditional hit counts are broadcast only when the
    vocabulary resolved to a literal list; on the semi-join path they
    scale with the corpus and join without a hint (the class table
    keeps its broadcast either way)."""
    searcher, corpus = engine
    ids = {int(corpus.doc_id.iloc[i]) for i in (3, 17)}

    def hints(limit):
        df = naive_bayes_classify(
            searcher, _inputs_df(spark, corpus, ids), "lang",
            vocab_pushdown_limit=limit,
        )
        return df._jdf.queryExecution().logical().toString().count(
            "strategy=broadcast"
        )

    assert hints(4096) == 2  # literal vocab: classes + hit counts
    assert hints(0) == 1  # semi-join vocab: classes only


def test_nb_scores_are_normalized(engine, spark):
    searcher, corpus = engine
    ids = {int(corpus.doc_id.iloc[0])}
    out = naive_bayes_classify(
        searcher, _inputs_df(spark, corpus, ids), "lang"
    ).toPandas()
    assert 0.0 <= float(out.score.iloc[0]) <= 1.0
    assert int(out.n_classes.iloc[0]) == corpus.lang.nunique()


def test_mlt_terms_boosts(engine, spark):
    """Boost = score/min(selected) >= 1, max_terms bound holds, and the
    selected set equals an independent replay of createQueue."""
    searcher, corpus = engine
    i = int(corpus.doc_id.iloc[42])
    text = corpus[corpus.doc_id == i].content.iloc[0]
    sel = mlt_query_terms(
        searcher, _inputs_df(spark, corpus, {i}), max_terms=10
    ).toPandas()
    assert len(sel) <= 10
    assert (sel.boost >= 1.0 - 1e-12).all()
    # independent replay of term selection
    tf = Counter(tokenize_text(text, searcher.cfg.analyzer,
                               searcher.cfg.max_token_length))
    df = {
        r["term"]: int(r["df"])
        for r in searcher.termdict.filter(
            searcher.termdict.term.isin(list(tf))
        ).collect()
    }
    n = searcher.stats.num_docs
    cand = [
        (t, c * (math.log(n / (df[t] + 1)) + 1))
        for t, c in tf.items()
        if c >= 2 and t in df and df[t] >= 5
    ]
    cand.sort(key=lambda x: (-round(x[1], 9), x[0]))
    expect = {t for t, _ in cand[:10]}
    assert set(sel.term) == expect


def test_knn_classify_engine_parity(engine, spark):
    """The batch sparse-join path's top-k doc set equals the engine's
    own boosted-OR search for the same MLT terms, and the vote winner
    equals the reference's buildListFromTopDocs arithmetic."""
    from lucene_solr_8_7_0_spark.plans import queries as Q

    searcher, corpus = engine
    i = int(corpus.doc_id.iloc[42])
    k = 8
    out = knn_classify(
        searcher, _inputs_df(spark, corpus, {i}), "lang", k=k
    ).toPandas()
    assert len(out) == 1
    sel = mlt_query_terms(
        searcher, _inputs_df(spark, corpus, {i})
    ).toPandas()
    b = Q.Builder()
    for r in sel.itertuples():
        b.add(Q.BoostQuery(Q.TermQuery(r.term), float(r.boost)), Q.Occur.SHOULD)
    td = searcher.search(b.build(), k=k)
    engine_docs = set(int(d) for d in td.doc_ids)
    # recompute batch top-k doc set
    from lucene_solr_8_7_0_spark.operators.classify import (
        quantized_len_col,  # noqa: F401  (import sanity)
    )
    batch = knn_topk_docs(searcher, spark, corpus, i, k)
    assert batch == engine_docs
    # vote replay over the engine's own TopDocs
    meta = spark.read.parquet(searcher.docmeta_path).select(
        "doc_id", "lang"
    ).toPandas().set_index("doc_id")
    max_s = float(td.scores[0])
    boosts, counts = Counter(), Counter()
    for d, s in zip(td.doc_ids, td.scores):
        c = meta.loc[int(d), "lang"]
        boosts[c] += float(s) / max_s
        counts[c] += 1
    sumdoc = sum(counts.values())
    votes = {c: boosts[c] / sumdoc for c in boosts}
    winner = min(votes, key=lambda c: (-round(votes[c], 9), c))
    assert out.label.iloc[0] == winner


def knn_topk_docs(searcher, spark, corpus, i, k):
    """Batch path's per-input top-k doc ids, extracted for the parity
    assertion."""
    from pyspark.sql import Window, functions as F

    from lucene_solr_8_7_0_spark.operators.classify import (
        mlt_query_terms as sel_terms,
        postings_df as pdf_fn,
        quantized_len_col,
    )

    inputs = spark.createDataFrame(
        [(i, corpus[corpus.doc_id == i].content.iloc[0])],
        "input_id bigint, text string",
    )
    sel = sel_terms(searcher, inputs)
    vocab = [r["term"] for r in sel.select("term").distinct().collect()]
    n = float(searcher.stats.doc_count)
    avgdl = searcher.stats.sum_ttf / n
    k1, b = searcher.cfg.k1, searcher.cfg.b
    meta = spark.read.parquet(searcher.docmeta_path).select(
        "doc_id", quantized_len_col("length").alias("dlen")
    )
    tfdoc = (
        pdf_fn(searcher, vocab)
        .join(searcher.termdict.select("term", "df"), "term")
        .join(meta, "doc_id")
    )
    idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm_inv = F.lit(1.0) / (
        F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dlen") / F.lit(avgdl))
    )
    per_term = idf * (F.lit(1.0) - F.lit(1.0) / (F.lit(1.0) + F.col("freq") * norm_inv))
    scored = (
        sel.join(tfdoc, "term")
        .groupBy("input_id", "doc_id")
        .agg(F.round(F.sum(F.col("boost") * per_term), 4).alias("score"))
    )
    w = Window.partitionBy("input_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    ).toPandas()
    return set(int(d) for d in top.doc_id)
