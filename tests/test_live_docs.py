"""Per-segment kernel masks — live docs (operators/deletes) and point-
filter docsets: searches on a snapshot with deletes and filters run
scan -> kernel -> collect in one stage, answer bitwise like the shuffle
path, and see every del generation."""

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
    # lat/lon point fields derived from the path, for the geo filter
    h = F.crc32("path")
    docs = (
        corpus_df(spark, N, seed=11)
        .withColumn("lat", (h % 1800) / 10.0 - 90.0)
        .withColumn("lon", (F.floor(h / 1800) % 3600) / 10.0 - 180.0)
    )
    build_index(spark, docs, d, CFG)
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
    def boolean(*clauses):
        b = Q.Builder()
        for q, occur in clauses:
            b.add(q, occur)
        return b.build()

    must, should = Q.Occur.MUST, Q.Occur.SHOULD
    flt, must_not = Q.Occur.FILTER, Q.Occur.MUST_NOT
    public = Q.TermQuery("public")
    return {
        "term": public,
        "and": Q.term_and(["public", "return"]),
        "or_msm": Q.term_or(["public", "return", "import", "static"], 2),
        "phrase": Q.PhraseQuery(("public", "return")),
        "prefix": Q.PrefixQuery("get"),
        "must_not": boolean((Q.term_or(["public", "import"], 1), must),
                            (Q.TermQuery("return"), must_not)),
        "match_all": Q.MatchAllDocsQuery(),
        "range_filter": boolean((public, must),
                                (Q.PointRangeQuery("length", 20, 150), flt)),
        "keyword_must": boolean((Q.FieldTermQuery("lang", "java"), must),
                                (Q.TermQuery("import"), should)),
        "geo_filter": boolean(
            (public, must),
            (Q.LatLonDistanceQuery("lat", "lon", 10.0, 20.0, 5e6), flt)),
        "range_should": boolean((public, should),
                                (Q.PointRangeQuery("length", 120, None), should)),
        "range_must_not": boolean((public, must),
                                  (Q.PointRangeQuery("length", None, 60), must_not)),
        "all_range": boolean((Q.MatchAllDocsQuery(), must),
                             (Q.PointRangeQuery("length", 40, 160), flt)),
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
        [(r["repo"], r["path"], "c2", "java", "public zzqqx replacement",
          r["lat"], r["lon"])
         for _, r in meta.iterrows()],
        columns=["repo", "path", "commit", "lang", "content", "lat", "lon"],
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


@pytest.mark.parametrize("path", ["index", "dv"])
def test_filtered_search_plan_is_one_stage(spark, del_dir, path):
    """A range-filtered search on a snapshot with deletes: the docset is
    a kernel mask, so scan -> kernel -> collect is one stage, whichever
    access path selected it (a rare lead term forces the dv side)."""
    s = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    td = s.termdict.toPandas().sort_values(["df", "term"])
    lead = td[td["df"] >= 2].iloc[0]["term"]
    rng = Q.PointRangeQuery("length", 10, 10_000)
    b = Q.Builder()
    b.add(Q.TermQuery(lead), Q.Occur.MUST)
    b.add(Q.IndexOrDocValuesQuery(rng) if path == "dv" else rng, Q.Occur.FILTER)
    with s._scan_conf_guard():
        df = s._run_prepared(s._prepare(b.build()), 10, "top_scores", 1000)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = df.toPandas()
    assert set(s._last_access_paths.values()) == {path}
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "FlatMapGroupsInPandas" not in plan
    assert (hits["doc_id"] >= 0).any()


def test_term_stats_pyarrow_matches_spark(spark, base_dir, monkeypatch):
    """The driver-side pyarrow term-stats read returns exactly what the
    Spark termdict scan returns, for present, absent and mixed terms."""
    import pyarrow.dataset as pads

    s = IndexSearcher(spark, base_dir, query_cache=QueryCache())
    td = s.termdict.toPandas().sort_values(["df", "term"])["term"].tolist()
    rare, mid, hot = td[0], td[len(td) // 2], td[-1]
    sets = [
        {rare, mid, hot, "public"},
        {"zzqqx_absent", "qqzz_absent"},
        {"public", rare, "zzqqx_absent"},
    ]
    termdict, s.termdict = s.termdict, None  # a Spark fallback would raise
    arrow = [s._term_stats(t) for t in sets]
    s.termdict = termdict

    def no_pyarrow(*a, **kw):
        raise OSError("pyarrow read unavailable")

    monkeypatch.setattr(pads, "dataset", no_pyarrow)
    assert [s._term_stats(t) for t in sets] == arrow
    present, absent, mixed = arrow
    assert set(present) == sets[0] and absent == {}
    assert set(mixed) == {"public", rare} and mixed["public"] == present["public"]
    assert all(df >= 1 and ttf >= df for df, ttf in present.values())
