"""Microbench: early-terminated sorted top-k over an index-sorted index
(IndexWriterConfig.setIndexSort analog + TopFieldCollector.canEarlyTerminate,
TopFieldCollector.java:72-74) vs the exhaustive TakeOrdered path on the
SAME index.  Reports segments scanned / total (scan pruning made visible)
and the two walls, as one JSON line.

Usage: python tools/bench_sorted.py [n_files] [k] [term]
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators.build import build_index
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.session import get_spark
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df


def main():
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    # default probe: a HOT_TERMS member (corpus vocab is identifier-like,
    # FIXTURES.md), so the first segment window already holds >= k hits
    term = sys.argv[3] if len(sys.argv) > 3 else "public"
    spark = get_spark(cores=8, shuffle_partitions=16, app_name="bench_sorted")
    docs = corpus_df(spark, n_files, seed=7).withColumn(
        "nch", F.length("content")
    )
    with tempfile.TemporaryDirectory() as d:
        cfg = EngineConfig(segment_size=256, index_sort=(("nch", True),))
        build_index(spark, docs, d, cfg)
        s = IndexSearcher(spark, d)
        sort = [Q.SortField("nch", reverse=True)]
        q = Q.TermQuery(term)

        # warm both paths once (JVM/scan warmup), then time
        s.search_sorted(q, sort, k=k).collect()
        saved = s.cfg.index_sort
        s.cfg.index_sort = ()
        s.search_sorted(q, sort, k=k).collect()
        s.cfg.index_sort = saved

        t0 = time.time()
        fast = s.search_sorted(q, sort, k=k).collect()
        t_fast = time.time() - t0
        probe = dict(s.last_sorted_probe)

        s.cfg.index_sort = ()
        t0 = time.time()
        slow = s.search_sorted(q, sort, k=k).collect()
        t_slow = time.time() - t0
        s.cfg.index_sort = saved

        assert [r.asDict() for r in fast] == [r.asDict() for r in slow], (
            "early-terminated path must be bitwise the exhaustive path"
        )
        print(json.dumps({
            "n_files": n_files, "k": k, "term": term,
            "segments_scanned": probe["segments_scanned"],
            "total_segments": probe["total_segments"],
            "hits_found": probe["hits_found"],
            "early_terminated_s": round(t_fast, 3),
            "exhaustive_s": round(t_slow, 3),
            "results_identical": True,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
