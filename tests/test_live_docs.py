"""Per-segment kernel masks — live docs (operators/deletes) and point-
filter docsets — and the kernel's two placements: searches on a
snapshot with deletes and filters answer bitwise the same on the driver
(from the resident tables, or from the files above the driver-bytes
cap) and in Spark (one MapInArrow stage, no exchange), and see every
del generation."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import deletes as dl
from lucene_solr_8_7_0_spark.operators import search as srch
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher, QueryCache
from lucene_solr_8_7_0_spark.operators.snapshot import FileSnapshot, ParquetTables
from lucene_solr_8_7_0_spark.plans import queries as Q
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
        "or": Q.term_or(["return", "static"], 1),
        "and_or": boolean((public, must), (Q.TermQuery("return"), should),
                          (Q.TermQuery("static"), should)),
        "prefix": Q.PrefixQuery("get"),
        "wildcard": Q.WildcardQuery("re*n"),
        "fuzzy": Q.FuzzyQuery("publik"),
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
        out[name, "two_pass"] = _bits(s.search(q, k=3, two_pass_threshold=True))
        out[name, "count"] = s.count(q)
        for doc in first.doc_ids[:1].tolist() + [N - 1]:
            out[name, "explain", doc] = s.explain(q, doc)
        out[name, "all"] = sorted(
            s.search(q, k=N, score_mode="complete").doc_ids.tolist()
        )
        out[name, "matches"] = sorted(s.matches_df(q).toPandas()["doc_id"])
    return out


def test_driver_matches_spark_placement_bitwise(spark, del_dir, monkeypatch):
    """The one kernel, placed on the driver and in Spark, answers
    bitwise the same (ids, float32 score bits, total_hits, relation)
    with deletes and point-filter masks, for search, search_after,
    two_pass_threshold, count and explain; matches_df (always Spark)
    returns the driver's exhaustive hit set.  On the driver, the
    resident tables and the parquet reads above the driver-bytes cap
    (forced to 0 here) answer bitwise the same too."""
    s = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    choose, placed = s._choose_placement, []
    monkeypatch.setattr(
        s, "_choose_placement", lambda p: placed.append(choose(p)) or placed[-1]
    )
    driver = _answers(s)
    assert {pl for pl, _ in placed} == {"driver"}
    assert isinstance(s._tables(), srch.ResidentTables)
    monkeypatch.setattr(srch, "DRIVER_MAX_SEGMENTS_BYTES", 0)
    assert isinstance(s._tables(), srch.ParquetTables)
    assert _answers(s) == driver
    monkeypatch.setattr(s, "_choose_placement", lambda p: ("spark", "forced"))
    in_spark = _answers(s)
    assert driver == in_spark
    assert any(driver[n, "count"] for n in _queries())
    for n in _queries():
        assert driver[n, "all"] == driver[n, "matches"], n


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
    # the victims commit a generation in the new snapshot only
    assert dl.read_generation(base) == 0 and dl.read_generation(out) == 1
    s = IndexSearcher(spark, out, query_cache=QueryCache())
    p = s._prepare(Q.TermQuery("public"))
    df = s._spark_rows(*s._kernel_inputs(p, 10, "top_scores", 1000))
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = df.toPandas()
    assert "MapInArrow" in plan and "Exchange" not in plan
    assert not set(meta["doc_id"]) & set(hits["doc_id"])
    assert s.count(Q.TermQuery("zzqqx")) == 3


def test_update_leaves_old_snapshot_untouched(spark, del_dir, tmp_path_factory):
    """A commit never writes the previous commit point: a searcher
    pinned to the old snapshot answers bitwise the same (ids, float32
    score bits, total_hits) before and after ``update_documents``
    replaces some of its top hits."""
    import pandas as pd

    old = str(tmp_path_factory.mktemp("liveold"))
    shutil.copytree(del_dir, old, dirs_exist_ok=True)
    gen = dl.read_generation(old)
    s = IndexSearcher(spark, old, query_cache=QueryCache())
    qs = [Q.TermQuery("public"), Q.MatchAllDocsQuery(),
          Q.term_or(["public", "return", "import"], 1)]

    def answers():
        return [_bits(s.search(q, k=10)) for q in qs] + [s.count(q) for q in qs]

    before = answers()
    top = before[0][0][:3]
    meta = spark.read.parquet(f"{old}/docmeta").toPandas()
    meta = meta[meta.doc_id.isin(top)]
    new_docs = spark.createDataFrame(pd.DataFrame(
        [(r["repo"], r["path"], "c2", "java", "zzqqx replacement",
          r["lat"], r["lon"])
         for _, r in meta.iterrows()],
        columns=["repo", "path", "commit", "lang", "content", "lat", "lon"],
    ))
    out = str(tmp_path_factory.mktemp("liveoldout"))
    dl.update_documents(spark, old, new_docs, out)
    assert answers() == before
    assert dl.read_generation(old) == gen and dl.read_generation(out) == gen + 1
    fresh = IndexSearcher(spark, out, query_cache=QueryCache())
    assert not set(top) & set(fresh.search(qs[0], k=10).doc_ids.tolist())


def test_searcher_open_reads_no_schema(spark, base_dir):
    """Opening a searcher launches no Spark job: segments and termdict
    have fixed schemas, so their reads skip parquet schema inference."""
    sc = spark.sparkContext
    sc.setJobGroup("searcher_open", "open")
    try:
        IndexSearcher(spark, base_dir, query_cache=QueryCache())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("searcher_open")) == []


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
    assert sorted(s._live_docs()) == [0, N // CFG.segment_size]


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
            mask = s._live_docs()
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


def test_kernel_rejects_segment_without_sentinel(spark, base_dir, tmp_path):
    """score_files raises on a segment whose postings it reads without
    the segment's sentinel (norms) row."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    s = IndexSearcher(spark, base_dir, query_cache=QueryCache())
    spec, masks = s._kernel_inputs(
        s._prepare(Q.TermQuery("public")), 10, "top_scores", 1000
    )
    rows = pads.dataset(s._snapshot.paths("segments"), format="parquet").to_table()
    # simulate a split segment: the file that lost its sentinel row
    sent1 = pc.and_(pc.equal(rows["segment_id"], 1),
                    pc.equal(rows["term"], srch.SENTINEL_TERM))
    os.makedirs(tmp_path / "segments")
    pq.write_table(rows.filter(pc.invert(sent1)),
                   tmp_path / "segments" / "part-00000.parquet")
    source = ParquetTables(FileSnapshot.record(str(tmp_path)))
    with pytest.raises(ValueError, match="segment 1: .* no sentinel row"):
        srch.score_files(spec, masks, source)


def _foreign_layout(src: str, dst: str) -> None:
    """Copy ``src`` to ``dst`` and rewrite its segments table as three
    files where segment 2's rows straddle two of them: A holds segments
    0-1 and part of segment 2's postings, B the rest of segment 2 with
    its sentinel, C segments 3-4."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    shutil.copytree(src, dst, dirs_exist_ok=True)
    old = sorted(glob.glob(os.path.join(dst, "segments", "*.parquet")))
    rows = pads.dataset(old, format="parquet").to_table().sort_by(
        [("segment_id", "ascending"), ("term", "ascending")]
    )
    for f in old:
        os.remove(f)
    seg = rows["segment_id"]
    two = rows.filter(pc.equal(seg, 2))
    half = two.num_rows // 2  # the sentinel ("\x00...") sorts first: B
    assert two["term"][0].as_py() == srch.SENTINEL_TERM
    parts = {
        "A": pa.concat_tables([rows.filter(pc.less(seg, 2)), two.slice(half)]),
        "B": two.slice(0, half),
        "C": rows.filter(pc.greater(seg, 2)),
    }
    for name, tbl in parts.items():
        pq.write_table(tbl, os.path.join(dst, "segments", f"part-{name}.parquet"))


def test_foreign_layout_keeps_placements_bitwise(spark, del_dir,
                                                 tmp_path_factory, monkeypatch):
    """One segment's rows split across two files: every Spark task
    reads its segment window from all files, so the segment is still
    scored whole, and both placements — the driver's from the files
    (driver-bytes cap forced to 0) and from the resident tables —
    answer bitwise like the original layout."""
    d = str(tmp_path_factory.mktemp("liveforeign"))
    _foreign_layout(del_dir, d)
    s = IndexSearcher(spark, d, query_cache=QueryCache())
    tasks = s._spark_tasks()
    assert len(tasks) > 1 and tasks[0][0] is None and tasks[-1][1] is None
    assert all(x[1] == y[0] for x, y in zip(tasks, tasks[1:]))
    want = _answers(IndexSearcher(spark, del_dir, query_cache=QueryCache()))
    with monkeypatch.context() as m:
        m.setattr(srch, "DRIVER_MAX_SEGMENTS_BYTES", 0)
        assert _answers(s) == want
    assert s._resident is None  # nothing was loaded above the cap
    assert _answers(s) == want
    assert isinstance(s._resident, srch.ResidentTables)
    monkeypatch.setattr(s, "_choose_placement", lambda p: ("spark", "forced"))
    assert _answers(s) == want


def test_search_leaves_split_conf_untouched(spark, del_dir, monkeypatch):
    """No placement writes the session's scan-split conf."""
    conf = spark.conf
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.minPartitionNum")
    before = [conf.get(k, None) for k in keys]
    writes = []
    monkeypatch.setattr(conf, "set", lambda *a: writes.append(a))
    monkeypatch.setattr(conf, "unset", lambda *a: writes.append(a))
    s = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    q = _queries()["range_filter"]
    s.search(q, k=10)
    s.matches_df(q).count()
    monkeypatch.setattr(s, "_choose_placement", lambda p: ("spark", "forced"))
    s.search(q, k=10)
    monkeypatch.undo()
    assert writes == [] and [conf.get(k, None) for k in keys] == before


def test_driver_placement_launches_no_jobs(spark, del_dir):
    """Top-k searches on the snapshot with deletes run in-process on
    the driver: no Spark job, from the first search on."""
    s = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    qs = _queries()
    sc = spark.sparkContext
    sc.setJobGroup("driver_placement", "searches")
    try:
        for name in ("term", "and", "or_msm", "phrase", "must_not", "prefix"):
            td = s.search(qs[name], k=10)
            assert s._last_placement[0] == "driver", (name, s._last_placement)
            cur = (float(td.scores[-1]), int(td.doc_ids[-1]))
            s.search_after(qs[name], cur, k=10)
            s.search(qs[name], k=5, two_pass_threshold=True)
            assert s.count(qs[name]) >= td.total_hits > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("driver_placement")) == []


def test_file_uri_index_runs_both_placements(spark, del_dir, monkeypatch):
    s = IndexSearcher(spark, "file://" + del_dir, query_cache=QueryCache())
    assert s.index_dir == del_dir
    q = _queries()["range_filter"]
    want = _bits(IndexSearcher(spark, del_dir, query_cache=QueryCache()).search(q))
    assert _bits(s.search(q)) == want and s._last_placement[0] == "driver"
    monkeypatch.setattr(s, "_choose_placement", lambda p: ("spark", "forced"))
    assert _bits(s.search(q)) == want


def test_unsupported_index_scheme_rejected(spark):
    for uri, scheme in (("hdfs://namenode/idx", "hdfs"), ("s3a://bucket/idx", "s3a"),
                        ("file://otherhost/idx", "file")):
        with pytest.raises(ValueError, match=f"unsupported .*scheme '{scheme}'"):
            IndexSearcher(spark, uri, query_cache=QueryCache())


@pytest.mark.parametrize("path", ["index", "dv"])
def test_filtered_search_plan_is_one_stage(spark, del_dir, path):
    """A range-filtered search on a snapshot with deletes in the Spark
    placement: the docset is a kernel mask, so segment windows -> kernel ->
    collect is one MapInArrow stage without an exchange, whichever
    access path selected it (a rare lead term forces the dv side)."""
    s = IndexSearcher(spark, del_dir, query_cache=QueryCache())
    td = s.termdict.toPandas().sort_values(["df", "term"])
    lead = td[td["df"] >= 2].iloc[0]["term"]
    rng = Q.PointRangeQuery("length", 10, 10_000)
    b = Q.Builder()
    b.add(Q.TermQuery(lead), Q.Occur.MUST)
    b.add(Q.IndexOrDocValuesQuery(rng) if path == "dv" else rng, Q.Occur.FILTER)
    df = s._spark_rows(*s._kernel_inputs(s._prepare(b.build()), 10,
                                         "top_scores", 1000))
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = df.toPandas()
    assert set(s._last_access_paths.values()) == {path}
    assert "MapInArrow" in plan and "Exchange" not in plan
    assert (hits["doc_id"] >= 0).any()


def test_term_stats_pyarrow_matches_spark(spark, base_dir):
    """The driver-side pyarrow term-stats read returns exactly what a
    Spark termdict scan returns, for present, absent and mixed terms."""
    s = IndexSearcher(spark, base_dir, query_cache=QueryCache())
    td = s.termdict.toPandas().sort_values(["df", "term"])["term"].tolist()
    rare, mid, hot = td[0], td[len(td) // 2], td[-1]
    sets = [
        {rare, mid, hot, "public"},
        {"zzqqx_absent", "qqzz_absent"},
        {"public", rare, "zzqqx_absent"},
    ]
    termdict, s.termdict = s.termdict, None  # no Spark read may happen
    arrow = [s._term_stats(t) for t in sets]
    s.termdict = termdict
    scans = [
        {r["term"]: (r["df"], r["ttf"])
         for r in termdict.filter(F.col("term").isin(list(t))).collect()}
        for t in sets
    ]
    assert arrow == scans
    present, absent, mixed = arrow
    assert set(present) == sets[0] and absent == {}
    assert set(mixed) == {"public", rare} and mixed["public"] == present["public"]
    assert all(df >= 1 and ttf >= df for df, ttf in present.values())
