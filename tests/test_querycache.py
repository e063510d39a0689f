"""LRUQueryCache analog: admission after min_uses, LRU eviction,
identical results cached vs uncached, deletes-generation invalidation."""

import pandas as pd
import pytest

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher, QueryCache
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qcidx"))
    build_index(spark, corpus_df(spark, 200, seed=5), d,
                EngineConfig(segment_size=64))
    return d


def _range_query(lo, hi):
    b = Q.Builder()
    b.add(Q.TermQuery("public"), Q.Occur.MUST)
    b.add(Q.PointRangeQuery("length", lo, hi), Q.Occur.FILTER)
    return b.build()


def test_admission_and_hits(spark, index_dir):
    s = IndexSearcher(spark, index_dir, query_cache=QueryCache(min_uses=2))
    q = _range_query(20, 150)
    r1 = s.matches_df(q).toPandas()["doc_id"].sort_values().tolist()
    assert (s.query_cache.hits, len(s.query_cache._cache)) == (0, 0)
    r2 = s.matches_df(q).toPandas()["doc_id"].sort_values().tolist()
    # second sighting reaches min_uses -> cached
    assert len(s.query_cache._cache) == 1 and s.query_cache.hits == 0
    r3 = s.matches_df(q).toPandas()["doc_id"].sort_values().tolist()
    assert s.query_cache.hits == 1
    assert r1 == r2 == r3 and len(r1) > 0
    s.query_cache.clear()


def test_lru_eviction(spark, index_dir):
    s = IndexSearcher(
        spark, index_dir, query_cache=QueryCache(max_queries=1, min_uses=1)
    )
    qa, qb = _range_query(0, 100), _range_query(50, 200)
    ra1 = s.matches_df(qa).toPandas()["doc_id"].sort_values().tolist()
    assert len(s.query_cache._cache) == 1
    s.matches_df(qb).toPandas()
    assert len(s.query_cache._cache) == 1  # qa evicted (LRU bound)
    ra2 = s.matches_df(qa).toPandas()["doc_id"].sort_values().tolist()
    assert ra1 == ra2
    s.query_cache.clear()


def test_byte_aware_eviction(spark, index_dir):
    """maxRamBytesUsed analog: admitted entries are sized by their exact
    encoded docset bytes and the LRU is trimmed by total bytes, not
    count."""
    s = IndexSearcher(
        spark, index_dir,
        query_cache=QueryCache(max_queries=100, min_uses=1, max_bytes=1),
    )
    qa, qb = _range_query(0, 100), _range_query(50, 200)
    ra1 = s.matches_df(qa).toPandas()["doc_id"].sort_values().tolist()
    # a real docset is far over 1 byte -> refused admission entirely
    assert len(s.query_cache._cache) == 0 and s.query_cache.total_bytes == 0
    # roomy budget admits and tracks sizes
    s2 = IndexSearcher(
        spark, index_dir,
        query_cache=QueryCache(max_queries=100, min_uses=1,
                               max_bytes=64 * 1024 * 1024),
    )
    s2.matches_df(qa).toPandas()
    s2.matches_df(qb).toPandas()
    assert len(s2.query_cache._cache) == 2
    assert s2.query_cache.total_bytes > 0
    assert s2.query_cache.total_bytes == sum(s2.query_cache._sizes.values())
    # shrink the budget below one entry's size -> next admission evicts
    # the older entries by bytes
    one = max(s2.query_cache._sizes.values())
    s2.query_cache.max_bytes = one
    qc = _range_query(10, 60)
    s2.matches_df(qc).toPandas()
    assert len(s2.query_cache._cache) == 1  # only the newest fits
    ra2 = s2.matches_df(qa).toPandas()["doc_id"].sort_values().tolist()
    assert ra1 == ra2
    s.query_cache.clear()
    s2.query_cache.clear()


def test_cross_searcher_sharing(spark, index_dir, tmp_path_factory):
    """One shared cache serves two searchers over the SAME snapshot
    (second searcher hits the first's docset), while a searcher over a
    DIFFERENT index never sees it (keys embed the index identity)."""
    import shutil

    shared = QueryCache(min_uses=1)
    s1 = IndexSearcher(spark, index_dir, query_cache=shared)
    s2 = IndexSearcher(spark, index_dir, query_cache=shared)
    q = _range_query(20, 150)
    r1 = s1.matches_df(q).toPandas()["doc_id"].sort_values().tolist()
    assert shared.hits == 0 and len(shared._cache) == 1
    r2 = s2.matches_df(q).toPandas()["doc_id"].sort_values().tolist()
    assert shared.hits == 1  # s2 reused s1's cached docset
    assert r1 == r2
    # different index, same shared cache: no cross-index serving
    d2 = str(tmp_path_factory.mktemp("qcidx2"))
    shutil.copytree(index_dir, d2, dirs_exist_ok=True)
    s3 = IndexSearcher(spark, d2, query_cache=shared)
    hits_before = shared.hits
    r3 = s3.matches_df(q).toPandas()["doc_id"].sort_values().tolist()
    assert shared.hits == hits_before  # miss: distinct index key
    assert len(shared._cache) == 2
    assert r3 == r1  # same corpus copy -> same result, different entry
    shared.clear()


def test_default_cache_is_shared(spark, index_dir):
    from lucene_solr_8_7_0_spark.operators import search as srch

    s1 = IndexSearcher(spark, index_dir)
    s2 = IndexSearcher(spark, index_dir)
    assert s1.query_cache is s2.query_cache
    assert s1.query_cache is srch._default_query_cache()


def test_deletes_invalidate_generation(spark, index_dir, tmp_path_factory):
    """A new del generation reloads the searcher's live-docs mask (not a
    query-cache entry: the cache holds point-filter docsets only)."""
    import shutil

    from pyspark.sql import functions as F

    from lucene_solr_8_7_0_spark.operators import deletes as dl

    d = str(tmp_path_factory.mktemp("qcdel"))
    shutil.copytree(index_dir, d, dirs_exist_ok=True)
    s = IndexSearcher(spark, d, query_cache=QueryCache(min_uses=1))
    q = Q.TermQuery("public")
    before = set(s.matches_df(q).toPandas()["doc_id"])
    victims = (
        spark.read.parquet(f"{d}/docmeta")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )
    dl.delete_documents(spark, d, victims)
    after1 = set(s.matches_df(q).toPandas()["doc_id"])
    mask1 = s._live_docs_cache
    after2 = set(s.matches_df(q).toPandas()["doc_id"])
    assert after1 == after2 == {x for x in before if x % 3 != 0}
    assert mask1[0] == dl.read_generation(d) == 1
    assert s._live_docs_cache is mask1  # same generation: mask reused
    dl.delete_documents(
        spark, d,
        spark.createDataFrame([(min(after2),)], "doc_id long"),
    )
    after3 = set(s.matches_df(q).toPandas()["doc_id"])
    assert after3 == after2 - {min(after2)}
    assert s._live_docs_cache[0] == 2
    assert not s.query_cache._cache and s.query_cache.misses == 0
    s.query_cache.clear()
