"""Index-time sorting (IndexWriterConfig.setIndexSort analog,
IndexWriterConfig.java:484) + early-terminated sorted top-k
(TopFieldCollector.java:72-74 canEarlyTerminate).

Doc ids are assigned by RANK over (index_sort..., repo, path), so
ascending doc id IS the index sort order; the sorted search then scans
only a leading segment prefix and must return bitwise the exhaustive
path's output.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

N_FILES = 250


def _docs(spark):
    # a deterministic numeric source column = the sort field (a numeric
    # docvalues field in reference terms)
    return corpus_df(spark, N_FILES, seed=7).withColumn(
        "nch", F.length("content")
    )


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sortedidx"))
    cfg = EngineConfig(segment_size=64, index_sort=(("nch", True),))
    build_index(spark, _docs(spark), d, cfg)
    return IndexSearcher(spark, d)


def test_config_roundtrip(engine):
    assert engine.cfg.index_sort == (("nch", True),)


def test_doc_ids_follow_index_sort(spark, engine):
    meta = (
        spark.read.parquet(engine.docmeta_path)
        .select("doc_id", "nch")
        .orderBy("doc_id")
        .toPandas()
    )
    v = meta["nch"].to_numpy()
    assert (v[:-1] >= v[1:]).all()
    # dense ids 0..N-1
    assert meta["doc_id"].tolist() == list(range(N_FILES))


def _brute(engine, query, sort, k):
    """Force the exhaustive TakeOrdered path (same index)."""
    saved = engine.cfg.index_sort
    engine.cfg.index_sort = ()
    try:
        return engine.search_sorted(query, sort, k=k).toPandas()
    finally:
        engine.cfg.index_sort = saved


@pytest.mark.parametrize(
    "query",
    [
        Q.TermQuery("public"),
        Q.term_and(["public", "return"]),
        Q.term_or(["data", "index", "merge"], 1),
    ],
    ids=["term", "and", "or"],
)
def test_early_terminated_equals_exhaustive(engine, query):
    sort = [Q.SortField("nch", reverse=True)]
    fast = engine.search_sorted(query, sort, k=10).toPandas()
    brute = _brute(engine, query, sort, k=10)
    assert fast["rank"].tolist() == brute["rank"].tolist()
    assert fast["doc_id"].tolist() == brute["doc_id"].tolist()
    assert fast["nch"].tolist() == brute["nch"].tolist()


def test_probe_actually_prunes(engine):
    """A hot term fills k from the first probe window — segments past
    it are never scanned (the CollectionTerminatedException analog)."""
    engine.search_sorted(
        Q.TermQuery("public"), [Q.SortField("nch", reverse=True)], k=5
    ).toPandas()
    p = engine.last_sorted_probe
    assert p["segments_scanned"] < p["total_segments"]
    assert p["hits_found"] == 5


def test_rare_term_widens_to_full(engine):
    """Fewer than k hits: the probe widens to every segment and the
    result is the complete (short) hit list in sort order."""
    q = Q.term_and(["public", "return", "static", "void", "byte"])
    sort = [Q.SortField("nch", reverse=True)]
    fast = engine.search_sorted(q, sort, k=10_000).toPandas()
    brute = _brute(engine, q, sort, k=10_000)
    assert fast["doc_id"].tolist() == brute["doc_id"].tolist()
    assert engine.last_sorted_probe["segments_scanned"] == (
        engine.last_sorted_probe["total_segments"]
    )


def test_non_prefix_sort_uses_exhaustive_path(engine):
    """Sorting by a non-index-sort field must NOT early-terminate
    (canEarlyTerminate prefix rule) — and must still be correct."""
    engine.last_sorted_probe = None
    out = engine.search_sorted(
        Q.TermQuery("public"), [Q.SortField("length", reverse=True)], k=10
    ).toPandas()
    assert engine.last_sorted_probe is None
    # oracle: python sort of the full hit set
    hits = set(engine.matches_df(Q.TermQuery("public")).toPandas()["doc_id"])
    meta = (
        engine.spark.read.parquet(engine.docmeta_path)
        .select("doc_id", "length")
        .toPandas()
    )
    meta = meta[meta["doc_id"].isin(hits)]
    exp = meta.sort_values(
        ["length", "doc_id"], ascending=[False, True]
    ).head(10)
    assert out["doc_id"].tolist() == exp["doc_id"].tolist()


def test_empty_result(engine):
    out = engine.search_sorted(
        Q.TermQuery("zzznotaterm"), [Q.SortField("nch", reverse=True)], k=10
    ).toPandas()
    assert len(out) == 0
    assert list(out.columns) == ["rank", "doc_id", "nch"]


def test_matchall_scans_one_window(engine):
    out = engine.search_sorted(
        Q.MatchAllDocsQuery(), [Q.SortField("nch", reverse=True)], k=10
    ).toPandas()
    assert len(out) == 10
    assert engine.last_sorted_probe["segments_scanned"] == 1
    v = out["nch"].to_numpy()
    assert (v[:-1] >= v[1:]).all()


def test_committed_snapshot_equals_exhaustive(spark, engine, tmp_path):
    """A commit numbers its docs after the base, outside the index
    sort: on the committed snapshot the sorted search must still equal
    the exhaustive path (here the new doc has the largest ``nch``)."""
    from lucene_solr_8_7_0_spark.operators.merge import add_documents

    new = _docs(spark).limit(1).select(
        F.lit("newrepo").alias("repo"), F.lit("new/file.java").alias("path"),
        "commit", "lang", F.lit("public " * 400).alias("content"),
        F.lit(1 << 30).alias("nch"),
    )
    out = str(tmp_path / "committed")
    add_documents(spark, engine.index_dir, new, out)
    s = IndexSearcher(spark, out)
    sort = [Q.SortField("nch", reverse=True)]
    for q in (Q.TermQuery("public"), Q.MatchAllDocsQuery()):
        got = s.search_sorted(q, sort, k=3).toPandas()
        want = _brute(s, q, sort, k=3)
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        assert got["doc_id"].tolist()[0] == N_FILES
