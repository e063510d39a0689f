"""Live docs as a per-segment kernel mask (operators/deletes): searches
on a snapshot with deletes run scan -> kernel -> collect in one stage,
answer bitwise like the shuffle path, and see every del generation."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import deletes as dl
from lucene_solr_8_7_0_spark.operators import search as srch
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher, QueryCache
from lucene_solr_8_7_0_spark.plans import planner, queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

N = 300
CFG = EngineConfig(segment_size=64)  # 300 docs -> 5 segments


@pytest.fixture(scope="module")
def base_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("livebase"))
    build_index(spark, corpus_df(spark, N, seed=11), d, CFG)
    return d


@pytest.fixture(scope="module")
def del_dir(spark, base_dir, tmp_path_factory):
    """A copy of the base index with deletes in every segment, committed
    in two generations, one of them emptying most of segment 2."""
    d = str(tmp_path_factory.mktemp("livedel"))
    shutil.copytree(base_dir, d, dirs_exist_ok=True)
    ids = spark.read.parquet(f"{d}/docmeta").select("doc_id")
    dl.delete_documents(spark, d, ids.filter(F.col("doc_id") % 7 == 3))
    dl.delete_documents(
        spark, d, ids.filter(F.col("doc_id").between(130, 180))
    )
    return d


def _queries():
    b = Q.Builder()
    b.add(Q.term_or(["public", "import"], 1), Q.Occur.MUST)
    b.add(Q.TermQuery("return"), Q.Occur.MUST_NOT)
    return {
        "term": Q.TermQuery("public"),
        "and": Q.term_and(["public", "return"]),
        "or_msm": Q.term_or(["public", "return", "import", "static"], 2),
        "phrase": Q.PhraseQuery(("public", "return")),
        "prefix": Q.PrefixQuery("get"),
        "must_not": b.build(),
        "match_all": Q.MatchAllDocsQuery(),
    }


def _bits(td):
    return (td.doc_ids.tolist(), td.scores.astype(np.float32).view(np.uint32).tolist(),
            td.total_hits, td.relation)


def _answers(s):
    out = {}
    for name, q in _queries().items():
        first = s.search(q, k=10)
        out[name, "search"] = _bits(first)
        out[name, "complete"] = _bits(s.search(q, k=10, score_mode="complete"))
        if len(first.doc_ids):
            cur = (float(first.scores[-1]), int(first.doc_ids[-1]))
            out[name, "after"] = _bits(s.search_after(q, cur, k=10))
        out[name, "count"] = s.count(q)
        out[name, "matches"] = sorted(s.matches_df(q).toPandas()["doc_id"])
    return out


def test_one_stage_matches_shuffle_path_bitwise(spark, del_dir, monkeypatch):
    s = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    with s._scan_conf_guard():
        assert s._whole_file_tasks()  # the default run takes one stage
    one_stage = _answers(s)
    monkeypatch.setattr(s, "_whole_file_tasks", lambda: False)
    shuffled = _answers(s)
    assert one_stage == shuffled
    assert any(one_stage[n, "count"] for n in _queries())


def test_deleted_docs_excluded(spark, base_dir, del_dir):
    live = IndexSearcher(spark, base_dir, query_cache=QueryCache())
    masked = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    gone = set(
        spark.read.parquet(f"{del_dir}/deletes").toPandas()["doc_id"]
    )
    assert {d // CFG.segment_size for d in gone} == set(range(5))
    for q in _queries().values():
        before = set(live.matches_df(q).toPandas()["doc_id"])
        after = set(masked.matches_df(q).toPandas()["doc_id"])
        assert after == before - gone


def test_update_snapshot_plan_is_one_stage(spark, base_dir, tmp_path_factory):
    import pandas as pd

    base = str(tmp_path_factory.mktemp("liveupd"))
    shutil.copytree(base_dir, base, dirs_exist_ok=True)
    meta = spark.read.parquet(f"{base}/docmeta").orderBy("doc_id").limit(3).toPandas()
    new_docs = spark.createDataFrame(pd.DataFrame(
        [(r["repo"], r["path"], "c2", "java", "public zzqqx replacement")
         for _, r in meta.iterrows()],
        columns=["repo", "path", "commit", "lang", "content"],
    ))
    out = str(tmp_path_factory.mktemp("liveupdout"))
    dl.update_documents(spark, base, new_docs, out)
    assert dl.read_generation(out) == dl.read_generation(base) == 1
    s = IndexSearcher(spark, out, query_cache=QueryCache())
    q = s._rewrite(Q.TermQuery("public"))
    terms = planner.collect_terms(q)
    cq = planner.compile_query(q, s.stats, s._term_stats(terms), "top_scores")
    with s._scan_conf_guard():
        df = s._run_segments(cq, terms, False, 10, "top_scores", 1000)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = df.toPandas()
    assert "MapInPandas" in plan and "Exchange" not in plan
    assert not set(meta["doc_id"]) & set(hits["doc_id"])
    assert s.count(Q.TermQuery("zzqqx")) == 3


def test_searcher_sees_later_generation(spark, base_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("livegen"))
    shutil.copytree(base_dir, d, dirs_exist_ok=True)
    s = IndexSearcher(spark, d, query_cache=QueryCache())
    q = Q.MatchAllDocsQuery()
    assert s.count(q) == N and s._live_docs() is None
    ids = spark.read.parquet(f"{d}/docmeta").select("doc_id")
    dl.delete_documents(spark, d, ids.filter(F.col("doc_id") < 10))
    assert s.count(q) == N - 10
    first = s._live_docs_cache
    assert first[0] == 1 and s._live_docs() is first[1]  # loaded once
    dl.delete_documents(spark, d, ids.filter(F.col("doc_id") >= N - 5))
    assert s.count(q) == N - 15
    assert s._live_docs_cache[0] == 2 and s._live_docs_cache[1] is not first[1]
    assert sorted(s._live_docs().value) == [0, N // CFG.segment_size]


def test_live_docs_cache_under_threads(spark, base_dir, tmp_path_factory):
    """Concurrent mask lookups racing generation bumps always get a mask
    at least as new as the generation they observed."""
    import sys
    import threading

    d = str(tmp_path_factory.mktemp("livethreads"))
    shutil.copytree(base_dir, d, dirs_exist_ok=True)
    ids = spark.read.parquet(f"{d}/docmeta").select("doc_id")
    dl.delete_documents(spark, d, ids.filter(F.col("doc_id") == 0))
    s = IndexSearcher(spark, d, query_cache=QueryCache())
    errors = []

    def reader():
        for _ in range(20):
            gen = dl.read_generation(d)
            mask = s._live_docs().value
            n = sum(tp.df for tp in mask.values())
            if n < gen:  # generation g deletes exactly ids 0..g-1
                errors.append((gen, n))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for g in range(1, 4):
            dl.delete_documents(spark, d, ids.filter(F.col("doc_id") == g))
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors


def test_kernel_rejects_segment_without_sentinel(spark, base_dir):
    s = IndexSearcher(spark, base_dir, query_cache=QueryCache())
    q = s._rewrite(Q.TermQuery("public"))
    terms = planner.collect_terms(q)
    cq = planner.compile_query(q, s.stats, s._term_stats(terms), "top_scores")
    # simulate a split segment: the group that lost its sentinel row
    s.segments = s.segments.filter(
        ~((F.col("segment_id") == 1) & (F.col("term") == srch.SENTINEL_TERM))
    )
    with pytest.raises(Exception, match="segment 1: .* no sentinel row"):
        with s._scan_conf_guard():
            s._run_segments(cq, terms, False, 10, "top_scores", 1000).toPandas()


def test_alignment_cache_follows_files(spark, base_dir, tmp_path_factory):
    import glob
    import os

    d = str(tmp_path_factory.mktemp("livealign"))
    shutil.copytree(base_dir, d, dirs_exist_ok=True)
    s = IndexSearcher(spark, d, query_cache=QueryCache())
    first = s._segments_alignment()
    aligned, _, total, n_files = first
    assert aligned and s._segments_alignment() == first
    biggest = max(glob.glob(os.path.join(d, "segments", "*.parquet")),
                  key=os.path.getsize)
    # a foreign layout: the same file twice -> its segments straddle
    shutil.copy(biggest, os.path.join(d, "segments", "part-99999-copy.parquet"))
    aligned2, _, total2, n_files2 = s._segments_alignment()
    assert (aligned2, n_files2) == (False, n_files + 1) and total2 > total


def test_scan_conf_guard_exception_safe(spark, base_dir, monkeypatch):
    mpb = srch._MPB
    conf = spark.conf
    saved = conf.get(mpb)
    s = IndexSearcher(spark, base_dir, query_cache=QueryCache())

    def boom(*a):
        raise RuntimeError("conf write failed")

    monkeypatch.setattr(s, "_set_query_splits", boom)
    with pytest.raises(RuntimeError, match="conf write failed"):
        with s._scan_conf_guard():
            pass
    monkeypatch.undo()
    assert srch._SCAN_CONF_STATE == {"depth": 0} and conf.get(mpb) == saved

    # an original value that cannot be read is unset on exit, not left
    # at the query-time split size
    conf.unset(mpb)
    default = conf.get(mpb)
    conf.set(mpb, "3m")
    real_get = conf.get

    def get(key, *a):
        if key == mpb:
            raise RuntimeError("unreadable")
        return real_get(key, *a)

    try:
        monkeypatch.setattr(conf, "get", get)
        with s._scan_conf_guard():
            assert real_get(mpb) not in ("3m", default)
        monkeypatch.undo()
        assert conf.get(mpb) == default
        assert srch._SCAN_CONF_STATE == {"depth": 0}
    finally:
        monkeypatch.undo()
        conf.set(mpb, saved)
